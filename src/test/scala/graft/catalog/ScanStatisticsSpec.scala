package graft.catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.table.{GraftTable, PartitionField}

/** Reported scan statistics: real file sizes + logged row counts instead
  * of `spark.sql.defaultSizeInBytes` (= never broadcast). At cluster
  * scale this is what lets the planner broadcast a small graft dim into
  * a join against a 100 TB fact instead of shuffling both sides. */
class ScanStatisticsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var prior: Option[SparkSession] = None
  lazy val spark: SparkSession = {
    prior = SparkSession.getDefaultSession
    prior.foreach(_ => {
      SparkSession.clearDefaultSession(); SparkSession.clearActiveSession()
    })
    val s = SparkSession.builder()
      .master("local[4]")
      .withExtensions(new GraftSparkSessionExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  import spark.implicits._

  override def afterAll(): Unit = prior.foreach { p =>
    SparkSession.setDefaultSession(p); SparkSession.setActiveSession(p)
  }

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_stats_$tag").toString + "/t"

  test("bucketed scan reports logged row count and real byte size") {
    val t = GraftTable.create(spark, tmp("spj"),
      StructType(Seq(StructField("k", LongType), StructField("v", StringType))),
      spec = Seq(PartitionField("k", "bucket", 4)))
    t.append((1L to 100L).map(i => (i, s"v$i")).toDF("k", "v"))
    val scan = new GraftBucketedScan(t, t.snapshot, t.schema, Array.empty)
    val st = scan.estimateStatistics()
    assert(st.numRows().getAsLong == 100L)
    assert(st.sizeInBytes().getAsLong == t.dataSizeBytes(t.snapshot))
    assert(st.sizeInBytes().getAsLong > 0)
  }

  test("flat scan reports stats; pending deletes withhold the row count") {
    val t = GraftTable.create(spark, tmp("flat"),
      StructType(Seq(StructField("k", LongType), StructField("v", StringType))),
      key = Seq("k"), formatVersion = 2)
    t.append((1L to 50L).map(i => (i, s"v$i")).toDF("k", "v"))
    val clean = new GraftFlatBatchScan(t, t.snapshot, t.schema, Array.empty)
    val st0 = clean.estimateStatistics()
    assert(st0.numRows().getAsLong == 50L)
    assert(st0.sizeInBytes().getAsLong > 0)
    // a pending equality delete makes the logged count an upper bound
    t.rowDelta(Seq(1L).toDF("k"), Seq.empty[(Long, String)].toDF("k", "v"), Seq("k"))
    val mor = new GraftFlatBatchScan(t, t.snapshot, t.schema, Array.empty)
    assert(!mor.estimateStatistics().numRows().isPresent)
    assert(mor.estimateStatistics().sizeInBytes().getAsLong > 0)
  }

  test("plain-SQL SET TBLPROPERTIES declares skipping metadata via the catalog") {
    val wh = java.nio.file.Files.createTempDirectory("graft_props_wh").toString
    val cat = s"gprops${java.util.UUID.randomUUID().toString.take(6)}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE TABLE $cat.ns.p (id BIGINT, v STRING) USING graft")
    spark.sql(s"ALTER TABLE $cat.ns.p SET TBLPROPERTIES(" +
      "'graft.stats-keys'='id', 'graft.bloom-keys'='v')")
    val t = GraftTable.load(spark, s"$wh/ns/p")
    assert(t.snapshot.statsKeys == Seq("id"))
    assert(t.snapshot.bloomKeys == Seq("v"))
    // visible in DESCRIBE EXTENDED / properties()
    val props = spark.sql(s"DESCRIBE TABLE EXTENDED $cat.ns.p").collect()
      .map(_.mkString("|")).mkString("\n")
    assert(props.contains("graft.stats-keys"))
    // non-graft keys land as free-form snapshot-log properties (round 14)
    spark.sql(s"ALTER TABLE $cat.ns.p SET TBLPROPERTIES('team.owner'='ingest')")
    assert(GraftTable.load(spark, s"$wh/ns/p").properties("team.owner") == "ingest")
    val shown = spark.sql(s"SHOW TBLPROPERTIES $cat.ns.p").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown.get("team.owner").contains("ingest"))
    spark.sql(s"ALTER TABLE $cat.ns.p UNSET TBLPROPERTIES('team.owner')")
    assert(!GraftTable.load(spark, s"$wh/ns/p").properties.contains("team.owner"))
  }

  test("catalog-read join against a small graft dim plans a broadcast") {
    val wh = java.nio.file.Files.createTempDirectory("graft_stats_wh").toString
    val cat = s"gstats${java.util.UUID.randomUUID().toString.take(6)}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE TABLE $cat.ns.dim (k BIGINT, name STRING) USING graft")
    spark.sql(s"INSERT INTO $cat.ns.dim SELECT id, concat('n', id) FROM range(100)")
    val fact = spark.range(10000).selectExpr("id % 100 as k", "id as payload")
    val joined = fact.join(spark.table(s"$cat.ns.dim"), "k")
    val phys = joined.queryExecution.executedPlan.toString
    assert(phys.contains("BroadcastHashJoin"),
      s"expected a broadcast join against the small dim, got:\n$phys")
    assert(joined.count() == 10000L)
  }

  test("V1 fallback size comes from the snapshot build() pinned, not a later one") {
    import org.apache.spark.sql.connector.read.{Scan, V1Scan}
    import org.apache.spark.sql.sources.{BaseRelation, TableScan}
    def sizeOf(scan: Scan): Long = scan.asInstanceOf[V1Scan]
      .toV1TableScan[BaseRelation with TableScan](spark.sqlContext).sizeInBytes
    val t = GraftTable.create(spark, tmp("v1size"),
      StructType(Seq(StructField("k", LongType), StructField("v", StringType))))
    t.append((1L to 50L).map(i => (i, s"v$i")).toDF("k", "v"))             // v1
    val atBuild = t.dataSizeBytes(t.snapshot)
    val built = new GraftScanBuilder(t, t.snapshot).build()
    t.append((51L to 100L).map(i => (i, s"v$i")).toDF("k", "v"))           // v2
    assert(t.dataSizeBytes(t.snapshot) > atBuild)
    assert(sizeOf(built) == atBuild, "size read a snapshot newer than the routed one")
    // a versionAsOf read made after the later append sizes its own version
    assert(sizeOf(new GraftScanBuilder(t, t.snapshotAt(1), pinned = true).build()) == atBuild)
    assert(sizeOf(new GraftScanBuilder(t, t.snapshot).build()) == t.dataSizeBytes(t.snapshot))
  }
}
