package graft.catalog

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.table.{GraftTable, PartitionField}

/** Catalog SQL reads plan from [[GraftTable.dfAt]]'s typed plan:
  *
  *  - analysis starts no Spark job (explicit read schema — no parquet
  *    schema inference, no partition discovery) and the executed plan
  *    holds at most one data and one delete file scan, bucketed layout
  *    included;
  *  - table roots with Hadoop glob metacharacters read literally through
  *    both `toDF` and `spark.sql`;
  *  - a dir committed before a column's add-version reads NULL for it
  *    through both paths, even when its files carry a column of that name.
  */
class SqlReadPlanSpec extends AnyFunSuite with BeforeAndAfterAll
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

  /** Spark jobs started while `body` runs. Listener delivery is
    * asynchronous but ordered, so a marker job run after `body` bounds
    * the count: every job seen before the marker belongs to `body`. */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val tag = s"graft-plan-marker-${System.nanoTime()}"
    val seen = new AtomicInteger
    val marker = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p => tag == p.getProperty("spark.job.description")))
          marker.countDown()
        else if (marker.getCount > 0) seen.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      val out = body
      sc.setJobDescription(tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(marker.await(60, TimeUnit.SECONDS), "marker job never reached the listener")
      (out, seen.get)
    } finally sc.removeSparkListener(l)
  }

  private def fileScans(p: SparkPlan): Int = collectWithSubqueries(p) {
    case s: FileSourceScanExec => s
    case s: BatchScanExec => s
  }.size

  test("catalog SQL reads start no job during analysis and scan one data + one delete relation") {
    val wh = tmp("graft_sqlplan")
    GraftCatalog.register(spark, wh, "graftplan")
    val t = GraftTable.create(spark, s"$wh/db/t", StructType(Seq(
      StructField("id", LongType), StructField("g", IntegerType),
      StructField("v", StringType))),
      spec = Seq(PartitionField("id", "bucket", 4)), key = Seq("id"),
      formatVersion = 2)
    t.append(spark.range(200).selectExpr("id", "CAST(id % 5 AS INT) AS g",
      "concat('v', id) AS v"))
    (1 to 4).foreach { r =>
      val ids = (r * 10L until r * 10L + 6L).toSeq
      t.rowDelta(ids.toDF("id"),
        ids.map(i => (i, (i % 5).toInt, s"r${r}_$i")).toDF("id", "g", "v"), Seq("id"))
    }
    val snap = t.snapshot
    assert(snap.dataDirs.size == 5 && snap.deletes.size == 4,
      s"fixture shape drifted: ${snap.dataDirs.size} dirs / ${snap.deletes.size} deletes")
    val asOf = 2
    val reads: Seq[(String, String, DataFrame)] = Seq(
      ("lookup", "SELECT id, g, v FROM graftplan.db.t WHERE id = 41",
        t.toDF.filter($"id" === 41L)),
      ("aggregate", "SELECT g, count(*), max(v) FROM graftplan.db.t GROUP BY g",
        t.toDF.groupBy("g").agg(count(lit(1)), max("v"))),
      ("as-of", s"SELECT id, g, v FROM graftplan.db.t VERSION AS OF $asOf WHERE id < 30",
        t.dfAt(t.snapshotAt(asOf)).filter($"id" < 30L)))
    reads.foreach { case (name, sql, expected) =>
      val (df, jobs) = jobsDuring {
        val d = spark.sql(sql)
        d.queryExecution.analyzed
        d
      }
      assert(jobs == 0, s"$name: $jobs Spark job(s) started during analysis")
      val got = sorted(df)
      assert(got.nonEmpty && got == sorted(expected), s"$name: SQL answer differs from dfAt")
      val scans = fileScans(df.queryExecution.executedPlan)
      assert(scans >= 1 && scans <= 2,
        s"$name: expected at most 2 file scans, got $scans in\n${df.queryExecution.executedPlan}")
    }
    // the upserted value wins over the base row and over older upserts
    assert(spark.sql("SELECT v FROM graftplan.db.t WHERE id = 41")
      .collect().map(_.getString(0)).toSeq == Seq("r4_41"))
  }

  test("toDF and catalog SQL read literally from a glob-metacharacter warehouse root") {
    // an UNescaped `wh{x}[1]` pattern would match the sibling decoy
    // `whx1` (or nothing); every read must take the root literally
    val base = tmp("graft_sqlglob")
    val wh = s"$base/wh{x}[1]"
    GraftCatalog.register(spark, wh, "graftglob")
    val df = (1 to 40).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val t = GraftTable.create(spark, s"$wh/ns/t", df.schema, key = Seq("id"),
      formatVersion = 2)
    t.append(df.filter($"id" <= 20))
    t.append(df.filter($"id" > 20))
    GraftTable.create(spark, s"$base/whx1/ns/t", df.schema).append(df.limit(3))
    assert(t.toDF.count() == 40L, "toDF misread a glob-metachar root")
    assert(spark.sql("SELECT * FROM graftglob.ns.t").count() == 40L,
      "catalog SQL misread a glob-metachar root")
    t.rowDelta(Seq(3L).toDF("id"), Seq((3L, "upd3")).toDF("id", "v"), Seq("id"))
    assert(sorted(spark.sql("SELECT id, v FROM graftglob.ns.t")) == sorted(t.toDF))
    assert(spark.sql("SELECT v FROM graftglob.ns.t WHERE id = 3")
      .collect().map(_.getString(0)).toSeq == Seq("upd3"),
      "MoR guard lost under a glob-escaped root")
  }

  test("a dir committed before a column's add-version reads NULL for it via toDF and SQL") {
    val wh = tmp("graft_sqlsince")
    GraftCatalog.register(spark, wh, "graftsince")
    val t = GraftTable.create(spark, s"$wh/ns/t", StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))),
      key = Seq("id"), formatVersion = 2)
    t.append(Seq((1L, "a")).toDF("id", "v"))
    // a foreign dir wider than the table: its `extra` predates the column
    val src = s"${tmp("graft_sqlsince_src")}/in"
    Seq((2L, "b", "FOREIGN")).toDF("id", "v", "extra").write.parquet(src)
    t.addFiles(src)
    t.addColumn("extra", StringType)
    t.append(Seq((3L, "c", "X")).toDF("id", "v", "extra"))
    val want = Seq("[1,a,null]", "[2,b,null]", "[3,c,X]")
    val sql = "SELECT id, v, extra FROM graftsince.ns.t"
    assert(sorted(t.toDF) == want, "toDF leaked a pre-add value")
    assert(sorted(spark.sql(sql)) == want, "catalog SQL leaked a pre-add value")
    // the same gate on the merge-on-read branch
    t.rowDelta(Seq(1L).toDF("id"), Seq((1L, "a2", "Y")).toDF("id", "v", "extra"), Seq("id"))
    val want2 = Seq("[1,a2,Y]", "[2,b,null]", "[3,c,X]")
    assert(sorted(t.toDF) == want2, "toDF leaked a pre-add value under deletes")
    assert(sorted(spark.sql(sql)) == want2, "catalog SQL leaked a pre-add value under deletes")
  }
}
