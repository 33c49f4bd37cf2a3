package graft.catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.table.GraftTable

/** Metadata-only COUNT(*): a bare unfiltered count over a graft relation
  * folds at analysis to the snapshot log's recorded dir row counts — no
  * scan, no job over row data (Iceberg's manifest-stats role). Anything
  * the counts can't answer (filters, pending deletes, legacy dirs
  * without counts) falls back to a normal scan. */
class CountFoldSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  lazy val warehouse: String = {
    val wh = java.nio.file.Files.createTempDirectory("graft_cf_wh").toString
    GraftCatalog.register(spark, wh)
    wh
  }

  private val idv = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  private def isFolded(sql: String): Boolean =
    spark.sql(sql).queryExecution.analyzed.isInstanceOf[LocalRelation]

  test("bare count(*) folds to the log's counts — no scan in the plan") {
    val t = GraftTable.create(spark, s"$warehouse/db/c1", idv)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    t.append(Seq((3L, "c")).toDF("id", "v"))
    assert(isFolded("SELECT count(*) AS n FROM graft.db.c1"))
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.c1").as[Long].head() == 3L)
    assert(spark.sql("SELECT count(1) FROM graft.db.c1").as[Long].head() == 3L)
  }

  test("counts stay exact across DML that rewrites dirs") {
    val t = GraftTable.create(spark, s"$warehouse/db/c2", idv)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    t.append(Seq((3L, "c")).toDF("id", "v"))
    spark.sql("UPDATE graft.db.c2 SET v = 'z' WHERE id = 3")
    assert(isFolded("SELECT count(*) FROM graft.db.c2"))
    assert(spark.sql("SELECT count(*) FROM graft.db.c2").as[Long].head() == 3L)
    spark.sql("DELETE FROM graft.db.c2 WHERE id = 1")
    assert(spark.sql("SELECT count(*) FROM graft.db.c2").as[Long].head() == 2L)
  }

  test("filters, grouped counts, other aggregates, and MoR tables scan normally") {
    val t = GraftTable.create(spark, s"$warehouse/db/c3", idv)
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "v"))
    assert(!isFolded("SELECT count(*) FROM graft.db.c3 WHERE id >= 2"))
    assert(spark.sql("SELECT count(*) FROM graft.db.c3 WHERE id >= 2").as[Long].head() == 2L)
    assert(!isFolded("SELECT v, count(*) FROM graft.db.c3 GROUP BY v"))
    assert(!isFolded("SELECT count(*), max(id) FROM graft.db.c3"))
    assert(!isFolded("SELECT count(DISTINCT v) FROM graft.db.c3"))
    // MoR table with pending deletes: recorded counts don't reflect the
    // anti-join, so the count must scan
    val m = GraftTable.create(spark, s"$warehouse/db/c4", idv,
      key = Seq("id"), formatVersion = 2)
    m.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    m.rowDelta(Seq(2L).toDF("id"), Seq((2L, "b2")).toDF("id", "v"), Seq("id"))
    assert(!isFolded("SELECT count(*) FROM graft.db.c4"))
    assert(spark.sql("SELECT count(*) FROM graft.db.c4").as[Long].head() == 2L)
  }

  test("add_files registers foreign parquet in place — no rewrite, counts fold") {
    val t = GraftTable.create(spark, s"$warehouse/db/mig", idv)
    t.append(Seq((1L, "a")).toDF("id", "v"))
    // a foreign parquet dir written outside the table
    val ext = java.nio.file.Files.createTempDirectory("graft_ext").toString + "/batch"
    Seq((2L, "b"), (3L, "c")).toDF("id", "v").repartition(2).write.parquet(ext)
    spark.sql(s"CALL graft.system.add_files('db.mig', '$ext')")
    assert(spark.sql("SELECT id, v FROM graft.db.mig ORDER BY id")
      .as[(Long, String)].collect().toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // the registered dir carries its observed count: counts still fold
    assert(isFolded("SELECT count(*) FROM graft.db.mig"))
    assert(spark.sql("SELECT count(*) FROM graft.db.mig").as[Long].head() == 3L)
    // source dir was MOVED, not copied
    assert(!new java.io.File(ext).exists())
    // schema mismatch is refused
    val bad = java.nio.file.Files.createTempDirectory("graft_bad").toString + "/b"
    Seq((1, "x")).toDF("id", "v").write.parquet(bad) // id is INT, table wants BIGINT
    val e = intercept[Exception] {
      GraftTable.load(spark, s"$warehouse/db/mig").addFiles(bad)
    }
    assert(e.getMessage.contains("schema mismatch"))
  }

  test("add_files logs the row count reads return, listing subfolders like reads do") {
    // 2 rows at the top of the source and 2 in a plain (non k=v) subfolder
    val ext = java.nio.file.Files.createTempDirectory("graft_ext_sub").toString + "/batch"
    Seq((2L, "b"), (3L, "c")).toDF("id", "v").write.parquet(ext)
    Seq((4L, "d"), (5L, "e")).toDF("id", "v").write.parquet(s"$ext/data")
    val t = GraftTable.create(spark, s"$warehouse/db/mig_sub", idv)
    t.addFiles(ext)
    assert(t.snapshot.dataDirs.last.rowCount == t.toDF.count())
    assert(t.toDF.count() == 4L)
    assert(spark.sql("SELECT count(*) FROM graft.db.mig_sub").as[Long].head() == 4L)
    // a source whose files all sit in such a subfolder is accepted
    val nested = java.nio.file.Files.createTempDirectory("graft_ext_nested").toString + "/batch"
    Seq((6L, "f"), (7L, "g")).toDF("id", "v").write.parquet(s"$nested/data")
    t.addFiles(nested)
    assert(t.snapshot.dataDirs.last.rowCount == 2L)
    assert(t.toDF.count() == 6L)
  }

  test("capture_stats over an add_files dir with a subfolder folds the rows reads return") {
    val ext = java.nio.file.Files.createTempDirectory("graft_ext_stats").toString + "/batch"
    Seq((2L, "b"), (3L, "c")).toDF("id", "v").write.parquet(ext)
    Seq((4L, "d"), (5L, "e")).toDF("id", "v").write.parquet(s"$ext/data")
    val t = GraftTable.create(spark, s"$warehouse/db/mig_stats", idv, statsKeys = Seq("id"))
    t.addFiles(ext)
    assert(t.captureStats().exists(_.startsWith("stats/")))
    val q = "SELECT count(id), min(id), max(id), sum(id) FROM graft.db.mig_stats"
    assert(isFolded(q))
    assert(spark.sql(q).as[(Long, Long, Long, Long)].head() == ((4L, 2L, 5L, 14L)))
  }

  test("min/max on a stats column fold from the bounds sidecars") {
    val t = GraftTable.create(spark, s"$warehouse/db/mm", idv,
      statsKeys = Seq("id"))
    t.append(Seq((5L, "a"), (2L, "b")).toDF("id", "v"))
    t.append(Seq((9L, "c"), (7L, "d")).toDF("id", "v"))
    assert(isFolded("SELECT min(id) AS lo, max(id) AS hi, count(*) AS n FROM graft.db.mm"))
    val r = spark.sql("SELECT min(id) AS lo, max(id) AS hi, count(*) AS n FROM graft.db.mm")
      .as[(Long, Long, Long)].head()
    assert(r == ((2L, 9L, 4L)))
    // a non-stats column keeps the fold off (no sidecar for it)
    assert(!isFolded("SELECT min(v) FROM graft.db.mm"))
    assert(spark.sql("SELECT min(v) AS m FROM graft.db.mm").as[String].head() == "a")
    // a pre-stats dir (no sidecar) disables the fold but not correctness
    val u = GraftTable.create(spark, s"$warehouse/db/mm2", idv)
    u.append(Seq((1L, "a")).toDF("id", "v"))
    u.setStatsKeys(Seq("id"))
    u.append(Seq((8L, "b")).toDF("id", "v"))
    assert(!isFolded("SELECT min(id) FROM graft.db.mm2"))
    assert(spark.sql("SELECT min(id) AS m FROM graft.db.mm2").as[Long].head() == 1L)
  }

  test("count(col) folds from the nn sidecar; all-NULL dirs stop blocking min/max") {
    val t = GraftTable.create(spark, s"$warehouse/db/nn1", idv,
      statsKeys = Seq("v"))
    t.append(Seq((1L, Some("a")), (2L, None), (3L, Some("c")))
      .toDF("id", "v"))
    t.append(Seq((4L, None: Option[String]), (5L, None)).toDF("id", "v"))
    assert(isFolded("SELECT count(v) AS c FROM graft.db.nn1"))
    assert(spark.sql("SELECT count(v) AS c FROM graft.db.nn1").as[Long].head() == 2L)
    // the all-NULL commit records nn=0 (no bounds) — min/max skip it
    // soundly instead of bailing to a scan
    assert(isFolded("SELECT min(v) AS lo, max(v) AS hi FROM graft.db.nn1"))
    assert(spark.sql("SELECT min(v) AS lo, max(v) AS hi FROM graft.db.nn1")
      .as[(String, String)].head() == (("a", "c")))
    // a non-stats column has no nn record: scan, same answer
    assert(!isFolded("SELECT count(id) FROM graft.db.nn1"))
    assert(spark.sql("SELECT count(id) AS c FROM graft.db.nn1").as[Long].head() == 5L)
    assert(!isFolded("SELECT count(DISTINCT v) FROM graft.db.nn1"))
  }

  test("sum(col) on an integral stats column folds; non-integral shapes scan") {
    val t = GraftTable.create(spark, s"$warehouse/db/sm1", idv,
      statsKeys = Seq("id"))
    t.append(Seq((5L, "a"), (2L, "b")).toDF("id", "v"))
    t.append(Seq((9L, "c")).toDF("id", "v"))
    assert(isFolded("SELECT sum(id) AS s, count(*) AS n FROM graft.db.sm1"))
    assert(spark.sql("SELECT sum(id) AS s FROM graft.db.sm1").as[Long].head() == 16L)
    // sum over an expression (implicit cast included) is not a bare
    // column and scans; answer unchanged
    assert(!isFolded("SELECT sum(id + 1) FROM graft.db.sm1"))
    assert(spark.sql("SELECT sum(id + 1) AS s FROM graft.db.sm1").as[Long].head() == 19L)
    // an all-NULL dir records no sum but nn=0 proves it empty — skip
    val u = GraftTable.create(spark, s"$warehouse/db/sm2",
      StructType(Seq(StructField("id", LongType), StructField("w", LongType))),
      statsKeys = Seq("w"))
    u.append(Seq((1L, Some(4L)), (2L, None)).toDF("id", "w"))
    u.append(Seq((3L, None: Option[Long])).toDF("id", "w"))
    assert(isFolded("SELECT sum(w) AS s FROM graft.db.sm2"))
    assert(spark.sql("SELECT sum(w) AS s FROM graft.db.sm2").as[Long].head() == 4L)
  }

  test("count/min/max on a column added mid-history: pre-add dirs contribute NULLs") {
    val t = GraftTable.create(spark, s"$warehouse/db/nn2", idv)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v")) // before column c
    t.addColumn("c", LongType)
    t.setStatsKeys(Seq("c"))
    t.append(Seq((3L, "x", Some(7L)), (4L, "y", None)).toDF("id", "v", "c"))
    assert(isFolded("SELECT count(c) AS n FROM graft.db.nn2"))
    assert(spark.sql("SELECT count(c) AS n FROM graft.db.nn2").as[Long].head() == 1L)
    // pre-add dirs project NULL for c: min/max skip them by field age
    assert(isFolded("SELECT min(c) AS lo, max(c) AS hi FROM graft.db.nn2"))
    assert(spark.sql("SELECT min(c) AS lo, max(c) AS hi FROM graft.db.nn2")
      .as[(Long, Long)].head() == ((7L, 7L)))
  }

  test("VERSION AS OF counts fold against the pinned snapshot") {
    val t = GraftTable.create(spark, s"$warehouse/db/c5", idv)
    t.append(Seq((1L, "a")).toDF("id", "v"))     // v1
    t.append(Seq((2L, "b")).toDF("id", "v"))     // v2
    assert(spark.sql("SELECT count(*) FROM graft.db.c5 VERSION AS OF 1")
      .as[Long].head() == 1L)
    assert(spark.sql("SELECT count(*) FROM graft.db.c5").as[Long].head() == 2L)
  }
}
