package graft.catalog

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.table.{GraftTable, PartitionField}

/** A dir committed before a column's add-version reads NULL for that
  * column through every DSv2 read path, even when its files carry a
  * column of that name: the flat scan behind `_file`/`_pos` and row-level
  * DML, the bucketed (storage-partitioned join) scan, the micro-batch
  * stream and the changelog stream. SQL UPDATE and MERGE therefore never
  * write the stale value into a post-add dir, on format v1 and v2. */
class SinceGateReadPathSpec extends AnyFunSuite with BeforeAndAfterAll
    with AdaptiveSparkPlanHelper {

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
    graft.Bench.quietBenignProbeLogs()
    s
  }
  import spark.implicits._

  override def afterAll(): Unit = prior.foreach { p =>
    SparkSession.setDefaultSession(p); SparkSession.setActiveSession(p)
  }

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** `id, v, extra` of a read that also outputs a metadata column: the
    * column stays in the executed plan, so the flat DSv2 scan serves it. */
  private def withMeta(sql: String): Seq[String] =
    spark.sql(sql).collect().map(r => s"[${r.get(0)},${r.get(1)},${r.get(2)}]").sorted.toSeq

  private val want = Seq("[1,a,null]", "[2,b,null]", "[3,c,X]")

  /** `addFiles` of a foreign dir whose files carry `extra = 'FOREIGN'`,
    * then `addColumn("extra")`: id 2's dir predates the column. `nested`
    * puts the foreign files under `in/k=1/data/`, so the table holds them
    * at `data/<uuid>/k=1/data/`. */
  private def fixture(wh: String, name: String, formatVersion: Int = 2,
                      nested: Boolean = false): GraftTable = {
    val t = GraftTable.create(spark, s"$wh/ns/$name", StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))),
      key = Seq("id"), formatVersion = formatVersion)
    t.append(Seq((1L, "a")).toDF("id", "v"))
    val src = s"${tmp("graft_since_src")}/in"
    Seq((2L, "b", "FOREIGN")).toDF("id", "v", "extra")
      .write.parquet(if (nested) s"$src/k=1/data" else src)
    t.addFiles(src)
    t.addColumn("extra", StringType)
    t.append(Seq((3L, "c", "X")).toDF("id", "v", "extra"))
  }

  /** Rows of a micro-batch (or changelog) stream drained to completion. */
  private def drain(dir: String, opts: Map[String, String] = Map.empty): DataFrame = {
    val name = s"since_${java.util.UUID.randomUUID().toString.take(8)}"
    val q = spark.readStream.format("graft").options(opts).load(dir)
      .writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally if (q.isActive) q.stop()
    val out = spark.table(name).localCheckpoint(true)
    spark.catalog.dropTempView(name)
    out
  }

  test("a pre-add dir reads NULL through _file, _pos, the micro-batch and changelog streams") {
    val wh = tmp("graft_since_reads")
    GraftCatalog.register(spark, wh, "gsreads")
    val t = fixture(wh, "t")
    assert(withMeta("SELECT id, v, extra, _file FROM gsreads.ns.t") == want,
      "the flat scan behind _file leaked a pre-add value")
    assert(withMeta("SELECT id, v, extra, _pos FROM gsreads.ns.t") == want,
      "the flat scan behind _pos leaked a pre-add value")
    assert(sorted(drain(t.dir).select("id", "v", "extra")) == want,
      "the micro-batch stream leaked a pre-add value")
    val cur = t.currentVersion
    val cdc = drain(t.dir, Map("changesFrom" -> "0"))
    assert(sorted(cdc.filter($"_change_type" === "insert").select("id", "v", "extra")) == want,
      "the changelog stream's inserts leaked a pre-add value")
    // one insert reader per batch still stamps each row's own commit
    val cols = Seq("id", "v", "extra", "_change_type", "_commit_version")
    assert(sorted(cdc.select(cols.map(col): _*)) ==
      sorted(t.changesBetween(0, cur).select(cols.map(col): _*)))
    // a pending equality delete: the reader-side guard and the gate read
    // the same per-file version
    t.rowDelta(Seq(1L).toDF("id"), Seq((1L, "a2", "Y")).toDF("id", "v", "extra"), Seq("id"))
    assert(withMeta("SELECT id, v, extra, _file FROM gsreads.ns.t") ==
      Seq("[1,a2,Y]", "[2,b,null]", "[3,c,X]"), "the delete-aware flat scan leaked a pre-add value")
  }

  test("a foreign dir with a nested data/ subfolder keeps its commit version") {
    // the table root also sits under a `data` dir: the version key is cut
    // from the root, never from the path's first or last `/data/`
    val wh = s"${tmp("graft_since_nested")}/data"
    GraftCatalog.register(spark, wh, "gsnested")
    val t = fixture(wh, "t", nested = true)
    val addDir = t.snapshot.dataDirs.find(_.version == 2).get.path
    assert(Files.isDirectory(Paths.get(t.dir, addDir, "k=1", "data")),
      "fixture lost its nested layout")
    assert(sorted(t.toDF) == want, "toDF")
    assert(withMeta("SELECT id, v, extra, _file FROM gsnested.ns.t") == want, "_file")
    val cur = t.currentVersion
    assert(sorted(t.changesBetween(0, cur).filter($"_change_type" === "insert")
      .select("id", "v", "extra")) == want, "changesBetween inserts")
    assert(t.changesBetween(0, cur).filter($"id" === 2L)
      .select("_commit_version").as[Int].collect().toSeq == Seq(2))
    t.rewriteSmallDirs()
    assert(sorted(t.toDF) == want, "rewriteSmallDirs")
    // a pending delete reads the same lookup on the delete side
    t.rowDelta(Seq(1L).toDF("id"), Seq((1L, "a2", "Y")).toDF("id", "v", "extra"), Seq("id"))
    val afterDelete = Seq("[1,a2,Y]", "[2,b,null]", "[3,c,X]")
    assert(sorted(t.toDF) == afterDelete, "toDF under a pending delete")
    t.compact()
    assert(sorted(t.toDF) == afterDelete, "compact")
  }

  test("a pre-add dir reads NULL through the bucketed (storage-partitioned) scan") {
    val wh = tmp("graft_since_spj")
    GraftCatalog.register(spark, wh, "gsspj")
    val t = GraftTable.create(spark, s"$wh/ns/b", StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))),
      spec = Seq(PartitionField("id", "bucket", 4)))
    t.append(Seq((1L, "a")).toDF("id", "v"))
    t.append(Seq((2L, "b")).toDF("id", "v"))
    // add_files refuses a partitioned table, so give id 2's committed
    // files a foreign `extra` column in place, keeping the bucket layout
    val preAdd = t.snapshot.dataDirs.filter(_.version == t.currentVersion).map(_.path)
    preAdd.flatMap(d => Files.walk(Paths.get(t.dir, d)).iterator().asScala)
      .filter(_.getFileName.toString.endsWith(".parquet")).foreach { local =>
        val out = s"${tmp("graft_since_rw")}/o"
        spark.read.parquet(local.toString).withColumn("extra", lit("FOREIGN"))
          .coalesce(1).write.parquet(out)
        val part = new java.io.File(out).listFiles().filter(_.getName.endsWith(".parquet")).head
        Files.move(part.toPath, local, StandardCopyOption.REPLACE_EXISTING)
        Files.deleteIfExists(local.resolveSibling(s".${local.getFileName}.crc"))
      }
    t.addColumn("extra", StringType)
    t.append(Seq((3L, "c", "X")).toDF("id", "v", "extra"))
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val q = spark.sql("SELECT id, v, extra FROM gsspj.ns.b")
      assert(sorted(q) == want, "the bucketed scan leaked a pre-add value")
      val scans = collectWithSubqueries(q.queryExecution.executedPlan) {
        case s: BatchScanExec => s.scan
      }
      assert(scans.exists(_.isInstanceOf[GraftBucketedScan]),
        s"expected the bucketed scan, got: $scans")
      // a filter on the gated column must judge the NULL, not the file's
      // stale value (no row-group skipping on a gated column)
      assert(sorted(spark.sql("SELECT id, v, extra FROM gsspj.ns.b WHERE extra IS NULL")) ==
        want.take(2), "a pushed filter judged the pre-add value")
    } finally spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
  }

  for (fv <- Seq(1, 2))
    test(s"SQL UPDATE and MERGE write no pre-add value back (format v$fv)") {
      val wh = tmp(s"graft_since_dml$fv")
      val cat = s"gsdml$fv"
      GraftCatalog.register(spark, wh, cat)
      val u = fixture(wh, "u", fv)
      spark.sql(s"UPDATE $cat.ns.u SET v = 'b2' WHERE id = 2")
      val wantU = Seq("[1,a,null]", "[2,b2,null]", "[3,c,X]")
      assert(sorted(u.toDF) == wantU, "UPDATE wrote a pre-add value back")
      u.compact()
      assert(sorted(u.toDF) == wantU, "compact kept a pre-add value")

      val m = fixture(wh, "m", fv)
      Seq((2L, "b3")).toDF("id", "v").createOrReplaceTempView(s"since_src$fv")
      spark.sql(s"""MERGE INTO $cat.ns.m t USING since_src$fv s ON t.id = s.id
                    WHEN MATCHED THEN UPDATE SET v = s.v""")
      val wantM = Seq("[1,a,null]", "[2,b3,null]", "[3,c,X]")
      assert(sorted(m.toDF) == wantM, "MERGE wrote a pre-add value back")
      m.compact()
      assert(sorted(m.toDF) == wantM, "compact kept a pre-add value")
    }
}
