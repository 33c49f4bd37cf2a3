package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.{GraftCatalog, GraftSparkSessionExtensions}
import graft.table.{GraftTable, PartitionField}

/** The catalog read path: plain spark.sql against graft.<ns>.<table>
  * through the session-extensions resolution rule (+ TableCatalog
  * listing metadata), on a session built with the graft extensions. */
class GraftCatalogSpec extends AnyFunSuite with BeforeAndAfterAll {

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
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  import spark.implicits._

  override def afterAll(): Unit = prior.foreach { p =>
    SparkSession.setDefaultSession(p); SparkSession.setActiveSession(p)
  }

  lazy val warehouse: String = {
    val wh = java.nio.file.Files.createTempDirectory("graft_wh").toString
    GraftCatalog.register(spark, wh)
    wh
  }

  def mkTable(ns: String, name: String, schema: StructType): GraftTable =
    GraftTable.create(spark, s"$warehouse/$ns/$name", schema)

  test("SELECT through the catalog: basic table") {
    val t = mkTable("db", "people", StructType(Seq(
      StructField("id", LongType), StructField("name", StringType))))
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name"))
    val got = spark.sql("SELECT name FROM graft.db.people WHERE id >= 2 ORDER BY id")
      .as[String].collect().toSeq
    assert(got == Seq("b", "c"))
  }

  test("catalog view reflects evolution: old dirs project NULL for new columns") {
    val t = mkTable("db", "evolving", StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))))
    t.append(Seq((1L, "x")).toDF("id", "v"))
    t.addColumn("extra", StringType)
    t.append(Seq((2L, "y", "e2")).toDF("id", "v", "extra"))
    val got = spark.sql("SELECT id, extra FROM graft.db.evolving ORDER BY id").collect()
    assert(got(0).isNullAt(1) && got(1).getString(1) == "e2")
  }

  test("catalog view applies version-guarded equality deletes") {
    val t = mkTable("db", "upserted", StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))))
    t.append(Seq((1L, "v1"), (2L, "v1")).toDF("id", "v"))
    t.upgradeFormat(2)
    t.rowDelta(Seq(1L).toDF("id"), Seq((1L, "v2")).toDF("id", "v"), Seq("id"))
    val got = spark.sql("SELECT id, v FROM graft.db.upserted ORDER BY id")
      .as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "v2"), (2L, "v1")))
  }

  test("catalog sees fresh state after DML (no caching)") {
    val t = mkTable("db", "live", StructType(Seq(StructField("id", LongType))))
    t.append(Seq(1L, 2L).toDF("id"))
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.live").as[Long].head() == 2)
    t.append(Seq(3L).toDF("id"))
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.live").as[Long].head() == 3)
    t.delete(col("id") === 1L)
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.live").as[Long].head() == 2)
  }

  test("partitioned tables read through the catalog") {
    val t = GraftTable.create(spark, s"$warehouse/db/parts", StructType(Seq(
      StructField("id", LongType), StructField("d", DateType))),
      spec = Seq(PartitionField("d", "month")))
    t.append(Seq((1L, "2020-01-15"), (2L, "2020-02-15")).toDF("id", "ds")
      .select(col("id"), to_date(col("ds")).as("d")))
    val got = spark.sql(
      "SELECT id FROM graft.db.parts WHERE d = DATE'2020-02-15'").as[Long].collect().toSeq
    assert(got == Seq(2L))
  }

  test("listTables metadata and joins across catalog tables") {
    mkTable("db2", "t1", StructType(Seq(StructField("id", LongType))))
      .append(Seq(1L, 2L).toDF("id"))
    mkTable("db2", "t2", StructType(Seq(StructField("id", LongType))))
      .append(Seq(2L, 3L).toDF("id"))
    // the catalog metadata API is the surface
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    val tables = cat.listTables(Array("db2")).map(_.name()).toSet
    assert(tables == Set("t1", "t2"))
    val joined = spark.sql(
      "SELECT a.id FROM graft.db2.t1 a JOIN graft.db2.t2 b ON a.id = b.id")
      .as[Long].collect().toSeq
    assert(joined == Seq(2L))
  }

  test("GraftSql DML against catalog names with no register() step") {
    val t = mkTable("db3", "accounts", StructType(Seq(
      StructField("id", LongType), StructField("balance", DoubleType))))
    t.append(Seq((1L, 100.0), (2L, 200.0)).toDF("id", "balance"))
    val g = graft.sql.GraftSql(spark)
    g.sql("UPDATE graft.db3.accounts SET balance = balance + 50 WHERE id = 1")
    g.sql(
      """MERGE INTO graft.db3.accounts t
        |USING (SELECT 3 AS id, 300.0 AS balance) s
        |ON s.id = t.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = spark.sql("SELECT id, balance FROM graft.db3.accounts ORDER BY id")
      .as[(Long, Double)].collect().toSeq
    assert(got == Seq((1L, 150.0), (2L, 200.0), (3L, 300.0)))
  }

  test("DSv2 write path: df.writeTo(graft.ns.t).append() commits through the log") {
    val t = mkTable("db4", "appended", StructType(Seq(
      StructField("id", LongType), StructField("name", StringType))))
    Seq((1L, "a"), (2L, "b")).toDF("id", "name").writeTo("graft.db4.appended").append()
    Seq((3L, "c")).toDF("id", "name").writeTo("graft.db4.appended").append()
    val got = spark.sql("SELECT id, name FROM graft.db4.appended ORDER BY id")
      .as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // both appends are real snapshot commits
    assert(t.currentVersion == 2)
  }

  test("plain SQL INSERT INTO / INSERT OVERWRITE through the catalog") {
    mkTable("db4", "ins", StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))))
    spark.sql("INSERT INTO graft.db4.ins VALUES (1, 'x'), (2, 'y')")
    spark.sql("INSERT INTO graft.db4.ins SELECT 3, 'z'")
    assert(spark.sql("SELECT count(*) AS n FROM graft.db4.ins").as[Long].head() == 3)
    spark.sql("INSERT OVERWRITE graft.db4.ins VALUES (9, 'only')")
    val got = spark.sql("SELECT id, v FROM graft.db4.ins").as[(Long, String)].collect().toSeq
    assert(got == Seq((9L, "only")))
  }

  test("plain SQL CREATE TABLE with comments and transforms; ALTER; DROP") {
    warehouse
    spark.sql(
      """CREATE TABLE graft.db5.cust (
        |  customer_id bigint COMMENT 'unique id',
        |  name string,
        |  d date
        |) PARTITIONED BY (months(d))""".stripMargin)
    val t = GraftTable.load(spark, s"$warehouse/db5/cust")
    assert(t.schema("customer_id").getComment().contains("unique id"))
    assert(t.spec == Seq(PartitionField("d", "month")))
    spark.sql("INSERT INTO graft.db5.cust VALUES (1, 'a', DATE'2020-01-15')")
    spark.sql("ALTER TABLE graft.db5.cust ADD COLUMN email string")
    spark.sql("INSERT INTO graft.db5.cust VALUES (2, 'b', DATE'2020-02-15', 'b@x.com')")
    val got = spark.sql(
      "SELECT customer_id, email FROM graft.db5.cust ORDER BY customer_id").collect()
    assert(got(0).isNullAt(1) && got(1).getString(1) == "b@x.com")
    // DESCRIBE surfaces the column comment from the log round-trip
    val desc = spark.sql("DESCRIBE TABLE graft.db5.cust").collect()
      .map(r => (r.getString(0), r.getString(2))).toMap
    assert(desc("customer_id") == "unique id")
    spark.sql("ALTER TABLE graft.db5.cust DROP COLUMN name")
    assert(!GraftTable.load(spark, s"$warehouse/db5/cust").schema.fieldNames.contains("name"))
    spark.sql("ALTER TABLE graft.db5.cust RENAME COLUMN email TO contact")
    assert(spark.sql("SELECT contact FROM graft.db5.cust WHERE customer_id = 2")
      .as[String].head() == "b@x.com")
    spark.sql("DROP TABLE graft.db5.cust")
    assert(!GraftTable.exists(spark, s"$warehouse/db5/cust"))
  }

  test("SQL CREATE TABLE PARTITIONED BY ibucket: spec-exact dirs and point lookup") {
    warehouse
    spark.sql(
      """CREATE TABLE graft.db5.ib (
        |  k bigint,
        |  v string
        |) PARTITIONED BY (ibucket(5, k))""".stripMargin)
    val t = GraftTable.load(spark, s"$warehouse/db5/ib")
    assert(t.spec == Seq(PartitionField("k", "ibucket", 5)))
    (0 until 10).foreach(i =>
      spark.sql(s"INSERT INTO graft.db5.ib VALUES ($i, 'v$i')"))
    // on-disk dirs carry the Iceberg-spec-exact bucket for each key
    val parts = GraftTable.load(spark, s"$warehouse/db5/ib").partitions
      .select("partition").as[String].collect().toSet
    assert(parts == (0L until 10L).map(k =>
      s"k_ibucket=${graft.functions.IcebergMurmur3.bucketLong(k, 5)}").toSet, parts)
    assert(spark.sql("SELECT v FROM graft.db5.ib WHERE k = 7")
      .as[String].head() == "v7")
    spark.sql("DROP TABLE graft.db5.ib")
  }

  test("plain SQL CTAS through the catalog") {
    warehouse
    spark.sql("CREATE TABLE graft.db5.squares AS SELECT id, id * id AS sq FROM range(5)")
    val got = spark.sql("SELECT sq FROM graft.db5.squares ORDER BY id").as[Long].collect().toSeq
    assert(got == Seq(0L, 1L, 4L, 9L, 16L))
  }

  test("V1Scan fallback (sessions without the extensions): pruning + filter") {
    import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead, TableCatalog}
    import org.apache.spark.sql.connector.read.{SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
    import org.apache.spark.sql.sources
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val t = mkTable("db6", "plainread", StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))))
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val tbl = spark.sessionState.catalogManager.catalog("graft").asInstanceOf[TableCatalog]
      .loadTable(Identifier.of(Array("db6"), "plainread")).asInstanceOf[SupportsRead]
    val sb = tbl.newScanBuilder(CaseInsensitiveStringMap.empty())
    sb.asInstanceOf[SupportsPushDownRequiredColumns]
      .pruneColumns(StructType(Seq(StructField("v", StringType))))
    // all filters stay residual (Spark re-applies); pushed set is informational
    val residual = sb.asInstanceOf[SupportsPushDownFilters]
      .pushFilters(Array(sources.EqualTo("id", 2L)))
    assert(residual.length == 1)
    val rel = sb.build().asInstanceOf[V1Scan]
      .toV1TableScan[org.apache.spark.sql.sources.BaseRelation with org.apache.spark.sql.sources.TableScan](
        spark.sqlContext)
    assert(rel.schema.fieldNames.toSeq == Seq("v"))
    assert(rel.buildScan().collect().map(_.getString(0)).toSeq == Seq("b"))
  }

  test("storage-partitioned join: co-bucketed tables join with no Exchange") {
    warehouse
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType)))
    val a = GraftTable.create(spark, s"$warehouse/db7/ba", schema,
      spec = Seq(PartitionField("k", "bucket", 4)))
    val b = GraftTable.create(spark, s"$warehouse/db7/bb", schema,
      spec = Seq(PartitionField("k", "bucket", 4)))
    val rows = (1L to 200L).map(i => (i, s"v$i"))
    a.append(rows.toDF("k", "v"))
    b.append(rows.filter(_._1 % 2 == 0).toDF("k", "v"))
    val q = "SELECT a.k, a.v, b.v AS bv FROM graft.db7.ba a JOIN graft.db7.bb b ON a.k = b.k"
    def run() = spark.sql(q)
    // without SPJ: plain correct join (through the view path)
    val expected = run().collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(expected.size == 100)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    // the scans report real (tiny) sizes, so the planner would rightly
    // broadcast here; disable auto-broadcast to exercise the SPJ path the
    // test is about (at scale both sides are far past broadcast size)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = run()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("GraftBucketedScan"), s"expected the SPJ batch scan in:\n$plan")
      assert(!plan.contains("Exchange"), s"expected a shuffle-free plan, got:\n$plan")
      val got = df.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(got == expected)
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("SPJ scan stays correct standalone: pushdown, evolution, fresh state") {
    warehouse
    val t = GraftTable.create(spark, s"$warehouse/db7/bsolo", StructType(Seq(
      StructField("k", LongType), StructField("v", StringType))),
      spec = Seq(PartitionField("k", "bucket", 4)))
    t.append((1L to 50L).map(i => (i, s"v$i")).toDF("k", "v"))
    t.addColumn("extra", StringType)
    t.append(Seq((51L, "v51", "e")).toDF("k", "v", "extra"))
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val df = spark.sql("SELECT k, extra FROM graft.db7.bsolo WHERE k >= 50 ORDER BY k")
      assert(df.queryExecution.executedPlan.toString.contains("GraftBucketedScan"))
      val got = df.collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSeq
      assert(got == Seq((50L, None), (51L, Some("e"))))
    } finally spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
  }

  test("metadata tables: graft.ns.t.snapshots SQL route + #suffix loads") {
    val t = mkTable("db8", "meta", StructType(Seq(StructField("id", LongType))))
    t.append(Seq(1L, 2L).toDF("id"))
    t.append(Seq(3L).toDF("id"))
    // catalog route (Iceberg-style dotted metadata name)
    val snaps = spark.sql(
      "SELECT version, operation FROM graft.db8.meta.snapshots ORDER BY version")
      .as[(Int, String)].collect().toSeq
    assert(snaps == Seq((0, "create"), (1, "append"), (2, "append")))
    // #suffix route through format("graft")
    val hist = spark.read.format("graft").load(s"$warehouse/db8/meta#history")
      .orderBy("version")
      .select("version", "parent_version", "operation", "is_current")
      .as[(Int, Int, String, Boolean)].collect().toSeq
    assert(hist == Seq((0, -1, "create", false), (1, 0, "append", false),
      (2, 1, "append", true)))
    val manifests = spark.read.format("graft").load(s"$warehouse/db8/meta#manifests")
    assert(manifests.count() == 2)
    assert(manifests.select("content").distinct().as[String].collect().toSeq == Seq("data"))
    assert(spark.read.format("graft").load(s"$warehouse/db8/meta#files").count() > 0)
  }

  test("SPJ scan prunes bucket partitions statically on point predicates") {
    warehouse
    val t = GraftTable.create(spark, s"$warehouse/db7/bprune", StructType(Seq(
      StructField("k", LongType), StructField("v", StringType))),
      spec = Seq(PartitionField("k", "bucket", 8)))
    t.append((1L to 400L).map(i => (i, s"v$i")).toDF("k", "v"))
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      // rdd partition count == surviving bucket InputPartitions (no
      // exchange in these plans; inputFiles is blind to DSv2 batch scans)
      val all = spark.sql("SELECT * FROM graft.db7.bprune").rdd.getNumPartitions
      assert(all == 8, s"expected 8 bucket partitions, got $all")
      val one = spark.sql("SELECT v FROM graft.db7.bprune WHERE k = 42")
      assert(one.queryExecution.executedPlan.toString.contains("GraftBucketedScan"))
      assert(one.rdd.getNumPartitions == 1,
        s"expected 1 surviving bucket, got ${one.rdd.getNumPartitions}")
      assert(one.as[String].collect().toSeq == Seq("v42"))
      // IN across two values reads at most two buckets; results exact
      val in2 = spark.sql("SELECT v FROM graft.db7.bprune WHERE k IN (1, 2)")
      assert(in2.rdd.getNumPartitions <= 2)
      assert(in2.as[String].collect().toSet == Set("v1", "v2"))
    } finally spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
  }

  test("SQL time travel: VERSION AS OF and TIMESTAMP AS OF") {
    val t = mkTable("db9", "tt", StructType(Seq(StructField("id", LongType))))
    t.append(Seq(1L, 2L).toDF("id"))        // v1
    Thread.sleep(5)
    val between = System.currentTimeMillis()
    Thread.sleep(5)
    t.append(Seq(3L).toDF("id"))            // v2
    assert(spark.sql("SELECT count(*) AS n FROM graft.db9.tt").as[Long].head() == 3)
    assert(spark.sql("SELECT count(*) AS n FROM graft.db9.tt VERSION AS OF 1")
      .as[Long].head() == 2)
    assert(spark.sql("SELECT id FROM graft.db9.tt VERSION AS OF 0").count() == 0)
    // timestamp between v1 and v2 resolves to v1
    val ts = new java.sql.Timestamp(between)
    assert(spark.sql(s"SELECT count(*) AS n FROM graft.db9.tt TIMESTAMP AS OF '$ts'")
      .as[Long].head() == 2)
    // writes to a pinned relation are rejected
    val e = intercept[Exception] {
      spark.sql("INSERT INTO graft.db9.tt VERSION AS OF 1 VALUES (9)")
    }
    assert(e.getMessage.toLowerCase.matches("(?s).*(as of|time travel|syntax|version).*"))
  }

  test("plain spark.sql DELETE FROM / TRUNCATE via SupportsDelete") {
    val t = mkTable("db10", "deltest", StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))))
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "v"))
    spark.sql("DELETE FROM graft.db10.deltest WHERE id > 2")
    assert(spark.sql("SELECT id FROM graft.db10.deltest ORDER BY id")
      .as[Long].collect().toSeq == Seq(1L, 2L))
    spark.sql("DELETE FROM graft.db10.deltest WHERE v = 'a' OR v = 'zzz'")
    assert(spark.sql("SELECT id FROM graft.db10.deltest").as[Long].collect().toSeq == Seq(2L))
    spark.sql("TRUNCATE TABLE graft.db10.deltest")
    assert(spark.sql("SELECT count(*) AS n FROM graft.db10.deltest").as[Long].head() == 0)
    // each DELETE/TRUNCATE is a real copy-on-write snapshot commit
    assert(GraftTable.load(spark, s"$warehouse/db10/deltest").currentVersion == 4)
  }

  test("writeTo CTAS surface: create / append / replace through the catalog") {
    warehouse
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").writeTo("graft.db11.ctas").create()
    assert(spark.sql("SELECT count(*) AS n FROM graft.db11.ctas").as[Long].head() == 2)
    Seq((3L, "c")).toDF("id", "v").writeTo("graft.db11.ctas").append()
    assert(spark.sql("SELECT count(*) AS n FROM graft.db11.ctas").as[Long].head() == 3)
    Seq((9L, "z")).toDF("id", "v").writeTo("graft.db11.ctas").replace()
    assert(spark.sql("SELECT id, v FROM graft.db11.ctas").as[(Long, String)]
      .collect().toSeq == Seq((9L, "z")))
  }

  test("plain spark.sql UPDATE / MERGE via row-level operations") {
    val t = mkTable("db12", "rlo", StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))))
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    spark.sql("UPDATE graft.db12.rlo SET v = concat(v, '-upd') WHERE id >= 2")
    assert(spark.sql("SELECT id, v FROM graft.db12.rlo ORDER BY id")
      .as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b-upd"), (3L, "c-upd")))
    spark.sql(
      """MERGE INTO graft.db12.rlo t
        |USING (SELECT 3 AS id, 'c2' AS v UNION ALL SELECT 9 AS id, 'i' AS v) s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET t.v = s.v
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.sql("SELECT id, v FROM graft.db12.rlo ORDER BY id")
      .as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b-upd"), (3L, "c2"), (9L, "i")))
    // MERGE with a DELETE clause exercises the DELETE-marked-row skip
    spark.sql(
      """MERGE INTO graft.db12.rlo t
        |USING (SELECT 2 AS id UNION ALL SELECT 9 AS id) s
        |ON t.id = s.id
        |WHEN MATCHED AND t.id = 9 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET t.v = 'kept'""".stripMargin)
    assert(spark.sql("SELECT id, v FROM graft.db12.rlo ORDER BY id")
      .as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "kept"), (3L, "c2")))
    // non-filter-translatable DELETE routes through the row-level path too
    spark.sql("DELETE FROM graft.db12.rlo WHERE length(v) = 4")
    assert(spark.sql("SELECT id FROM graft.db12.rlo ORDER BY id")
      .as[Long].collect().toSeq == Seq(1L, 3L))
    // every statement was a real snapshot commit
    assert(t.currentVersion == 5)
  }

  test("MERGE WITH SCHEMA EVOLUTION adds the source's extra columns") {
    val t = mkTable("db12", "mse", StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))))
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    Seq((2L, "B", "x@y"), (3L, "C", "z@w")).toDF("id", "v", "email")
      .createOrReplaceTempView("mse_src")
    spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO graft.db12.mse t USING mse_src s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.table("graft.db12.mse").schema.fieldNames.toSeq ==
      Seq("id", "v", "email"))
    val got = spark.sql("SELECT id, v, email FROM graft.db12.mse ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getString(2))).toSeq
    assert(got == Seq((1L, "a", null), (2L, "B", "x@y"), (3L, "C", "z@w")))
  }

  test("row-level SQL keeps rows in files the condition never touches") {
    // regression: pushed filters must not skip files in the ReplaceData
    // scan — a skipped file's rows would vanish from the table
    val t = mkTable("db12", "rlofiles", StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))))
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))  // file 1
    t.append(Seq((10L, "x"), (11L, "y")).toDF("id", "v")) // file 2
    spark.sql("UPDATE graft.db12.rlofiles SET v = 'upd' WHERE id = 10")
    assert(spark.sql("SELECT id, v FROM graft.db12.rlofiles ORDER BY id")
      .as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b"), (10L, "upd"), (11L, "y")))
  }

  test("row-level SQL on a partitioned, key-sorted table keeps the layout") {
    val dir = s"$warehouse/db12/rlopart"
    val t = GraftTable.create(spark, dir, StructType(Seq(
      StructField("id", LongType), StructField("d", DateType))),
      spec = Seq(PartitionField("d", "month", 0)), key = Seq("id"))
    t.append(Seq((1L, "2024-01-05"), (2L, "2024-02-06"), (3L, "2024-02-07"))
      .toDF("id", "ds").select($"id", to_date($"ds").as("d")))
    spark.sql("UPDATE graft.db12.rlopart SET d = DATE'2024-03-01' WHERE id = 2")
    assert(spark.sql("SELECT id, CAST(d AS STRING) FROM graft.db12.rlopart ORDER BY id")
      .as[(Long, String)].collect().toSeq ==
      Seq((1L, "2024-01-05"), (2L, "2024-03-01"), (3L, "2024-02-07")))
    // replacement went through the clustering write: month k=v dirs exist
    // for the NEW layout and transform pruning still works
    val reloaded = GraftTable.load(spark, dir)
    assert(reloaded.scan($"d" === java.sql.Date.valueOf("2024-03-01")).count() == 1)
    val dataDirs = new java.io.File(s"$dir/data").listFiles()
    val leaf = dataDirs.flatMap(_.listFiles()).map(_.getName).toSet
    assert(leaf.exists(_.contains("2024-03")), s"expected month k=v dirs, got $leaf")
  }

  test("keyed v2 table: SQL UPDATE/MERGE commit merge-on-read deltas") {
    val dir = s"$warehouse/db12/mor"
    val t = GraftTable.create(spark, dir, StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))),
      key = Seq("id"), formatVersion = 2)
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    val dataV1 = t.snapshot.dataDirs.map(_.path).toSet
    spark.sql("UPDATE graft.db12.mor SET v = 'B' WHERE id = 2")
    val s2 = GraftTable.load(spark, dir).snapshot
    // MoR: one rowdelta commit — original data dirs untouched, one new
    // dir with just the changed row, one delete-key file
    assert(s2.op == "rowdelta", s"expected rowdelta, got ${s2.op}")
    assert(dataV1.subsetOf(s2.dataDirs.map(_.path).toSet))
    assert(s2.dataDirs.size == dataV1.size + 1 && s2.deletes.size == 1)
    assert(s2.dataDirs.map(_.rowCount).sum == 4 && s2.deletes.head.rowCount == 1)
    assert(spark.sql("SELECT id, v FROM graft.db12.mor ORDER BY id")
      .as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "B"), (3L, "c")))
    // MoR DML CHAINS: the row-level scan applies pending deletes
    // reader-side, so no compact() is needed between statements
    spark.sql(
      """MERGE INTO graft.db12.mor t
        |USING (SELECT 2 AS id, 'B2' AS v UNION ALL SELECT 9 AS id, 'i' AS v) s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET t.v = s.v
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val sM = GraftTable.load(spark, dir).snapshot
    assert(sM.op == "rowdelta" && sM.deletes.size == 2)
    // non-translatable condition → delta DELETE (translatable ones route
    // through SupportsDelete's copy-on-write, by design)
    spark.sql("DELETE FROM graft.db12.mor WHERE length(v) = 1 AND v = 'a'")
    val s3 = GraftTable.load(spark, dir).snapshot
    assert(s3.op == "rowdelta" && s3.deletes.size == 3)
    assert(spark.sql("SELECT id, v FROM graft.db12.mor ORDER BY id")
      .as[(Long, String)].collect().toSeq ==
      Seq((2L, "B2"), (3L, "c"), (9L, "i")))
  }

  test("delta UPDATE with reader pushdown keeps rows in unmatched files") {
    val dir = s"$warehouse/db12/morpush"
    val t = GraftTable.create(spark, dir, StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))),
      key = Seq("id"), formatVersion = 2)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))   // file 1
    t.append(Seq((10L, "x"), (11L, "y")).toDF("id", "v")) // file 2
    spark.sql("UPDATE graft.db12.morpush SET v = 'upd' WHERE id = 10")
    // delta semantics: file 1 is skipped by footer stats AND its rows
    // survive (they are never part of the replaced delta)
    assert(spark.sql("SELECT id, v FROM graft.db12.morpush ORDER BY id")
      .as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b"), (10L, "upd"), (11L, "y")))
    // one delete key, one changed row — not a whole-table rewrite
    val s = GraftTable.load(spark, dir).snapshot
    assert(s.op == "rowdelta" && s.deletes.head.rowCount == 1)
  }

  test("MoR DML chains on a string-keyed table (UTF8String delete keys)") {
    val dir = s"$warehouse/db12/morstr"
    val t = GraftTable.create(spark, dir, StructType(Seq(
      StructField("name", StringType), StructField("n", LongType))),
      key = Seq("name"), formatVersion = 2)
    t.append(Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("name", "n"))
    spark.sql("UPDATE graft.db12.morstr SET n = 20 WHERE name = 'b'")
    // chained statement forces the delete-aware scan to ship string keys
    spark.sql("UPDATE graft.db12.morstr SET n = 30 WHERE name = 'c'")
    assert(spark.sql("SELECT name, n FROM graft.db12.morstr ORDER BY name")
      .as[(String, Long)].collect().toSeq ==
      Seq(("a", 1L), ("b", 20L), ("c", 30L)))
  }

  test("insert-only MERGE on a bucketed keyed v2 table keeps the bucket layout") {
    val dir = s"$warehouse/db12/morbkt"
    val t = GraftTable.create(spark, dir, StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))),
      spec = Seq(PartitionField("id", "bucket", 4)),
      key = Seq("id"), formatVersion = 2)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    // matches nothing -> pure-insert delta; its data files MUST land in
    // the k=v bucket layout or the bucketed scan silently misses them
    spark.sql(
      """MERGE INTO graft.db12.morbkt t
        |USING (SELECT 9 AS id, 'i' AS v) s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET t.v = s.v
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.sql("SELECT id, v FROM graft.db12.morbkt ORDER BY id")
      .as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b"), (9L, "i")))
    // and under SPJ (the bucketed Batch scan path) the row is still there
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try assert(spark.sql("SELECT count(*) FROM graft.db12.morbkt").head.getLong(0) == 3)
    finally spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
  }

  test("row-level DELETE matching every row leaves a readable empty table") {
    val t = mkTable("db12", "rloempty", StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))))
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    spark.sql("DELETE FROM graft.db12.rloempty WHERE length(v) = 1") // all rows
    assert(spark.sql("SELECT * FROM graft.db12.rloempty").count() == 0)
    assert(GraftTable.load(spark, s"$warehouse/db12/rloempty").toDF.count() == 0)
  }

  test("stale commitReplace aborts instead of clobbering a concurrent commit") {
    val dir = s"$warehouse/db12/rlorace"
    val t = GraftTable.create(spark, dir, StructType(Seq(StructField("id", LongType))))
    t.append(Seq(1L).toDF("id"))
    val staleVersion = t.currentVersion
    t.append(Seq(2L).toDF("id")) // the "concurrent" writer wins
    val e = intercept[IllegalArgumentException] {
      t.commitReplace("data/whatever", 1L, staleVersion)
    }
    assert(e.getMessage.contains("concurrent write"))
    assert(t.toDF.count() == 2) // nothing lost
  }

  test("in-progress task files are invisible to reads") {
    val dir = s"$warehouse/db12/inprog"
    val t = GraftTable.create(spark, dir, StructType(Seq(StructField("id", LongType))))
    t.append(Seq(1L, 2L).toDF("id"))
    // simulate an executor that died mid-write: garbage with no footer
    val dd = t.snapshot.dataDirs.head.path
    val stray = new java.io.File(s"$dir/$dd/.part-9-9.parquet.inprogress")
    java.nio.file.Files.write(stray.toPath, Array[Byte](1, 2, 3))
    assert(spark.sql("SELECT count(*) FROM graft.db12.inprog").head.getLong(0) == 2)
    assert(t.toDF.count() == 2)
    // and the row-level batch scan skips it too
    spark.sql("UPDATE graft.db12.inprog SET id = id + 10 WHERE length(string(id)) = 1")
    assert(t.toDF.orderBy("id").as[Long].collect().toSeq == Seq(11L, 12L))
  }

  test("readStream on a MoR table streams live rows and halts on retraction") {
    val dir = s"$warehouse/db14/mortail"
    val t = GraftTable.create(spark, dir, StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))),
      key = Seq("id"), formatVersion = 2)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    t.rowDelta(Seq(2L).toDF("id"), Seq((2L, "b2")).toDF("id", "v"), Seq("id"))
    val q = spark.readStream.table("graft.db14.mortail")
      .writeStream.format("memory").queryName("mortail").outputMode("append").start()
    try {
      q.processAllAvailable()
      // initial batch = LIVE rows: (2,'b') is deleted, not delivered
      assert(spark.table("mortail").orderBy("id").as[(Long, String)].collect().toSeq ==
        Seq((1L, "a"), (2L, "b2")))
      // mid-stream retraction (rowdelta WITH a delete file) must halt
      t.rowDelta(Seq(1L).toDF("id"), Seq((1L, "a2")).toDF("id", "v"), Seq("id"))
      val e = intercept[Exception] { q.processAllAvailable() }
      def msgs(x: Throwable): Seq[String] =
        if (x == null) Seq.empty else Option(x.getMessage).toSeq ++ msgs(x.getCause)
      assert(msgs(e).exists(_.contains("retracts")))
    } finally q.stop()
  }

  test("group-based SQL DML applies pending rowDelta deletes from the API") {
    val dir = s"$warehouse/db12/morless"
    val t = GraftTable.create(spark, dir, StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))),
      formatVersion = 2) // NO key: SQL DML takes the group-based path
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    t.rowDelta(Seq(2L).toDF("id"), Seq((2L, "b2")).toDF("id", "v"), Seq("id"))
    // UPDATE must see the upserted state (b2, not b) and fold it in
    spark.sql("UPDATE graft.db12.morless SET v = upper(v) WHERE id >= 1")
    assert(spark.sql("SELECT id, v FROM graft.db12.morless ORDER BY id")
      .as[(Long, String)].collect().toSeq == Seq((1L, "A"), (2L, "B2")))
    assert(GraftTable.load(spark, dir).snapshot.deletes.isEmpty) // folded away
  }

  test("row-level SQL after schema evolution fills old rows correctly") {
    val t = mkTable("db12", "rloevo", StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))))
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    t.addColumn("extra", StringType)
    spark.sql("UPDATE graft.db12.rloevo SET extra = 'filled' WHERE id = 1")
    val got = spark.sql("SELECT id, extra FROM graft.db12.rloevo ORDER BY id").collect()
    assert(got(0).getString(1) == "filled" && got(1).isNullAt(1))
  }

  test("overwritePartitions replaces exactly the incoming partitions") {
    val dir = s"$warehouse/db15/dyn"
    val t = GraftTable.create(spark, dir, StructType(Seq(
      StructField("id", LongType), StructField("d", DateType))),
      spec = Seq(PartitionField("d", "month", 0)))
    def rows(pairs: (Long, String)*) = pairs.toSeq.toDF("id", "ds")
      .select($"id", to_date($"ds").as("d"))
    t.append(rows(1L -> "2024-01-10", 2L -> "2024-02-10")) // dir A: Jan+Feb
    t.append(rows(3L -> "2024-03-10"))                     // dir B: Mar only
    val dirB = t.snapshot.dataDirs.last.path
    // replace January with fresh rows: Feb survives (same dir as Jan!),
    // March's dir carries over verbatim
    rows(10L -> "2024-01-20", 11L -> "2024-01-21")
      .writeTo("graft.db15.dyn").overwritePartitions()
    val s = GraftTable.load(spark, dir).snapshot
    assert(s.dataDirs.map(_.path).contains(dirB), "untouched dir was rewritten")
    assert(spark.sql("SELECT id FROM graft.db15.dyn ORDER BY id")
      .as[Long].collect().toSeq == Seq(2L, 3L, 10L, 11L))
    // replacing a partition nothing else touches keeps everything else
    rows(20L -> "2024-03-01").writeTo("graft.db15.dyn").overwritePartitions()
    assert(spark.sql("SELECT id FROM graft.db15.dyn ORDER BY id")
      .as[Long].collect().toSeq == Seq(2L, 10L, 11L, 20L))
  }

  test("writeStream.toTable streams into a catalog table") {
    implicit val sqlCtx = spark.sqlContext
    val t = mkTable("db13", "sink", StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))))
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = mem.toDS().toDF("id", "v")
      .writeStream
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("sink-cp").toString)
      .outputMode("append")
      .toTable("graft.db13.sink")
    try {
      mem.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      assert(spark.sql("SELECT id, v FROM graft.db13.sink ORDER BY id")
        .as[(Long, String)].collect().toSeq == Seq((1L, "a"), (2L, "b")))
      assert(t.currentVersion == 1)
    } finally q.stop()
  }

  test("readStream.table delivers commit-aligned micro-batches") {
    val t = mkTable("db14", "tail", StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))))
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val q = spark.readStream.table("graft.db14.tail")
      .writeStream.format("memory").queryName("dsv2tail").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("dsv2tail").count() == 2)
      t.append(Seq((3L, "c")).toDF("id", "v"))
      q.processAllAvailable()
      assert(spark.table("dsv2tail").orderBy("id").as[(Long, String)].collect().toSeq ==
        Seq((1L, "a"), (2L, "b"), (3L, "c")))
    } finally q.stop()
  }

  test("streaming read: maxVersionsPerBatch bounds catch-up; AvailableNow drains and stops") {
    val t = mkTable("db14", "ratelim", StructType(Seq(StructField("id", LongType))))
    (1 to 4).foreach(i => t.append(Seq(i.toLong).toDF("id"))) // 4 commits
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream
      .option("maxVersionsPerBatch", "1")
      .table("graft.db14.ratelim")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        seen.synchronized { seen += batch.count() }; ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination(60000)
      // one micro-batch per commit (4 batches of 1 row), then the
      // AvailableNow query terminated on its own
      assert(seen.toSeq == Seq(1L, 1L, 1L, 1L), s"got $seen")
      assert(!q.isActive)
    } finally q.stop()
  }

  test("streaming read starts from the live snapshot even after overwrites") {
    val t = mkTable("db14", "tail2", StructType(Seq(StructField("id", LongType))))
    t.append(Seq(1L, 2L).toDF("id"))
    t.overwrite(Seq(10L).toDF("id")) // history has a replace BEFORE stream start
    val q = spark.readStream.table("graft.db14.tail2")
      .writeStream.format("memory").queryName("dsv2tail2").outputMode("append").start()
    try {
      q.processAllAvailable()
      // initial batch = live rows only, not the replaced history
      assert(spark.table("dsv2tail2").as[Long].collect().toSeq == Seq(10L))
      // crossing an overwrite MID-stream is not representable as appends
      t.overwrite(Seq(20L).toDF("id"))
      val e = intercept[Exception] { q.processAllAvailable() }
      assert(e.getMessage.contains("overwrite") ||
        e.getCause != null && e.getCause.getMessage.contains("overwrite"))
    } finally q.stop()
  }

  test("subquery DELETE and NOT MATCHED BY SOURCE through plain SQL") {
    val t = mkTable("db17", "subq", StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))))
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "v"))
    Seq(2L, 4L).toDF("bad_id").createOrReplaceTempView("bad_ids")
    // IN-subquery condition is not filter-translatable → row-level path
    spark.sql("DELETE FROM graft.db17.subq WHERE id IN (SELECT bad_id FROM bad_ids)")
    assert(spark.sql("SELECT id FROM graft.db17.subq ORDER BY id")
      .as[Long].collect().toSeq == Seq(1L, 3L))
    // NOT MATCHED BY SOURCE: rows absent from the source get deleted
    spark.sql(
      """MERGE INTO graft.db17.subq t
        |USING (SELECT 3 AS id, 'c2' AS v) s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET t.v = s.v
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    assert(spark.sql("SELECT id, v FROM graft.db17.subq ORDER BY id")
      .as[(Long, String)].collect().toSeq == Seq((3L, "c2")))
  }

  test("MoR table: subquery DELETE and NOT MATCHED BY SOURCE via deltas") {
    val dir = s"$warehouse/db17/subqmor"
    val t = GraftTable.create(spark, dir, StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))),
      key = Seq("id"), formatVersion = 2)
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    Seq(2L).toDF("bad_id").createOrReplaceTempView("bad_ids_mor")
    spark.sql("DELETE FROM graft.db17.subqmor WHERE id IN (SELECT bad_id FROM bad_ids_mor)")
    assert(GraftTable.load(spark, dir).snapshot.op == "rowdelta")
    spark.sql(
      """MERGE INTO graft.db17.subqmor t
        |USING (SELECT 1 AS id, 'a2' AS v) s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET t.v = s.v
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    assert(spark.sql("SELECT id, v FROM graft.db17.subqmor ORDER BY id")
      .as[(Long, String)].collect().toSeq == Seq((1L, "a2")))
  }

  test("CALL graft.system.* maintenance procedures") {
    val dir = s"$warehouse/db16/maint"
    val t = GraftTable.create(spark, dir, StructType(Seq(StructField("id", LongType))))
    (1 to 3).foreach(i => t.append(Seq(i.toLong).toDF("id")))
    assert(t.snapshot.dataDirs.size == 3)
    spark.sql("CALL graft.system.compact('db16.maint')")
    val s = GraftTable.load(spark, dir).snapshot
    assert(s.dataDirs.size == 1 && s.op == "overwrite")
    assert(spark.sql("SELECT count(*) FROM graft.db16.maint").head.getLong(0) == 3)
    // vacuum removes a planted orphan through SQL
    val orphan = new java.io.File(s"$dir/data/zombie"); orphan.mkdirs()
    orphan.setLastModified(System.currentTimeMillis() - 10L * 24 * 3600 * 1000)
    spark.sql("CALL graft.system.vacuum('db16.maint', 1000)")
    assert(!orphan.exists())
    spark.sql("CALL graft.system.expire_snapshots('db16.maint', 1)")
    assert(GraftTable.load(spark, dir).snapshotAt(0).op == "expired")
    // catalog-qualified spelling resolves too
    spark.sql("CALL graft.system.compact('graft.db16.maint')")
    assert(spark.sql("SELECT count(*) FROM graft.db16.maint").head.getLong(0) == 3)
    val e = intercept[Exception] { spark.sql("CALL graft.system.nope('x')") }
    assert(e.getMessage.contains("unknown procedure") ||
      Option(e.getCause).exists(_.getMessage.contains("unknown procedure")))
  }

  test("CALL graft.system.evolve_spec parses parenthesized transforms") {
    val dir = s"$warehouse/db16/evsp"
    val t = GraftTable.create(spark, dir, StructType(Seq(
      StructField("id", LongType), StructField("d", DateType),
      StructField("k", StringType))))
    t.append(Seq((1L, java.sql.Date.valueOf("2020-01-05"), "x"))
      .toDF("id", "d", "k"))
    // 'bucket(8, k)' contains a comma INSIDE parens — must parse as one
    // field, not split into 'bucket(8' / 'k)'
    spark.sql("CALL graft.system.evolve_spec('db16.evsp', 'month(d), bucket(8, k)')")
    val s1 = GraftTable.load(spark, dir).snapshot
    assert(s1.spec == Seq(
      graft.table.PartitionField("d", "month"),
      graft.table.PartitionField("k", "bucket", 8)))
    spark.sql("CALL graft.system.evolve_spec('db16.evsp', 'truncate(4, k)')")
    val s2 = GraftTable.load(spark, dir).snapshot
    assert(s2.spec == Seq(graft.table.PartitionField("k", "truncate", 4)))
    // writes after the evolution land and read back under the new layout
    GraftTable.load(spark, dir).append(
      Seq((2L, java.sql.Date.valueOf("2020-02-05"), "yyyyy")).toDF("id", "d", "k"))
    assert(spark.sql("SELECT count(*) FROM graft.db16.evsp").head.getLong(0) == 2)
  }

  test("VERSION AS OF a tag name and ref/WAP procedures through SQL") {
    val dir = s"$warehouse/db17/reftbl"
    val t = GraftTable.create(spark, dir, StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))))
    t.append(Seq((1L, "a")).toDF("id", "v"))   // v1
    spark.sql("CALL graft.system.create_tag('db17.reftbl', 'audited', 1)")
    t.append(Seq((2L, "junk")).toDF("id", "v")) // v2
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.db17.reftbl VERSION AS OF 'audited'")
      .head.getLong(0) == 1)
    // bad audit -> roll the table back to the tag
    spark.sql("CALL graft.system.rollback_to_snapshot('db17.reftbl', 1)")
    assert(spark.sql("SELECT id FROM graft.db17.reftbl ORDER BY id")
      .as[Long].collect().toSeq == Seq(1L))
    // re-apply the junk append after all (cherry-pick), then undo again
    spark.sql("CALL graft.system.cherrypick_snapshot('db17.reftbl', 2)")
    assert(spark.sql("SELECT count(*) FROM graft.db17.reftbl").head.getLong(0) == 2)
    // WAP: stage, audit via API, publish via SQL
    val id = GraftTable.load(spark, dir).stageAppend(Seq((3L, "c")).toDF("id", "v"))
    assert(spark.sql("SELECT count(*) FROM graft.db17.reftbl").head.getLong(0) == 2)
    spark.sql(s"CALL graft.system.publish_staged('db17.reftbl', '$id')")
    assert(spark.sql("SELECT id FROM graft.db17.reftbl ORDER BY id")
      .as[Long].collect().toSeq == Seq(1L, 2L, 3L))
    // refs metadata table through the catalog
    assert(spark.sql("SELECT name, type, version FROM graft.db17.reftbl.refs")
      .as[(String, String, Int)].collect().toSeq == Seq(("audited", "tag", 1)))
    spark.sql("CALL graft.system.create_branch('db17.reftbl', 'main2')")
    spark.sql("CALL graft.system.fast_forward('db17.reftbl', 'main2')")
    spark.sql("CALL graft.system.drop_ref('db17.reftbl', 'main2')")
    assert(GraftTable.load(spark, dir).refs.map(_.name) == Seq("audited"))
  }

  test("missing table raises a clear error") {
    warehouse // force catalog registration
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft.db.nope").collect()
    }
    assert(e.getMessage.toLowerCase.contains("nope") ||
      e.getMessage.toLowerCase.contains("cannot be found"))
  }
}
