package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.table.GraftTable
import graft.ext.TextOps
import graft.streaming.StreamOps

/** Focused spec for the round-15 optimization changes:
  *
  *  - a snapshot reads as ONE data relation (plus one delete relation)
  *    whatever its dir count — the relation count must stay collapsed,
  *    schema-evolution NULL projection must survive the single relation,
  *    and glob metacharacters in the table root must read literally;
  *  - the one-md5-pass ingest prep (`md5DocHashPairs` +
  *    `md5BandedSignatureFromPairs`) must be BIT-IDENTICAL to the
  *    two-pass `md5DocSets` + `md5BandedSignature` construction;
  *  - `ingestDedupBatch` sweeps its per-batch scratch dir on success AND
  *    on failure (ADVICE r13 / VERDICT r14 item 8);
  *  - `RetriesExhaustedException` chains the last losing race as its
  *    cause and stays a `ConcurrentOverwriteException` to type-keyed
  *    outer retriers (VERDICT r14 item 8).
  */
class R15OptimizationSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.session

  /** File scans in `df`'s executed plan (run it first so AQE settles). */
  private def fileScans(df: org.apache.spark.sql.DataFrame): Int =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }.size

  private def collectSorted(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("toDF collapses same-shape dirs to one data and one delete scan") {
    import spark.implicits._
    val df = (1 to 300).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val t = GraftTable.create(spark, TestSpark.tmpDir("vsql-group"), df.schema,
      key = Seq("id"), formatVersion = 2)
    // 4 appends + 2 rowDeltas (each adds a data dir AND a delete file)
    t.append(df.filter($"id" <= 100))
    t.append(df.filter($"id" > 100 && $"id" <= 200))
    t.append(df.filter($"id" > 200))
    t.rowDelta(Seq(5L, 7L).toDF("id"),
      Seq(5L, 7L).map(i => (i, s"upd$i")).toDF("id", "v"), Seq("id"))
    t.rowDelta(Seq(7L, 9L).toDF("id"),
      Seq(7L, 9L).map(i => (i, s"upd2_$i")).toDF("id", "v"), Seq("id"))
    val snap = t.snapshot
    assert(snap.dataDirs.size >= 5 && snap.deletes.size >= 2,
      s"fixture shape drifted: ${snap.dataDirs.size} dirs / ${snap.deletes.size} deletes")
    val read = t.toDF
    val want = (1 to 300).map { i =>
      val v = i match {
        case 5 => "upd5"; case 7 => "upd2_7"; case 9 => "upd2_9"; case _ => s"v$i"
      }
      s"[$i,$v]"
    }.sorted
    assert(collectSorted(read) == want, "snapshot read disagrees with the model")
    // one data relation (all dirs) + one delete relation
    assert(fileScans(read) == 2,
      s"expected 2 file scans, got ${fileScans(read)} in\n${read.queryExecution.executedPlan}")
    assert(collectSorted(t.scan($"id" > 0L)) == want, "scan disagrees with dfAt")
  }

  test("toDF keeps schema-evolution NULL projection over one relation") {
    import spark.implicits._
    val df = (1 to 50).map(i => (i.toLong, s"a$i")).toDF("id", "a")
    val t = GraftTable.create(spark, TestSpark.tmpDir("vsql-evolve"), df.schema)
    t.append(df.filter($"id" <= 25))
    t.append(df.filter($"id" > 25))
    t.addColumn("b", org.apache.spark.sql.types.StringType)
    val withB = (51 to 60).map(i => (i.toLong, s"a$i", s"b$i")).toDF("id", "a", "b")
    t.append(withB)
    val read = t.toDF
    assert(read.count() == 60L)
    val nullB = read.filter(col("b").isNull).count()
    assert(nullB == 50L, s"pre-add rows must project NULL b (got $nullB)")
    // pre- and post-add dirs share ONE relation
    assert(fileScans(read) == 1,
      s"expected 1 file scan, got ${fileScans(read)} in\n${read.queryExecution.executedPlan}")
    assert(collectSorted(t.scan($"id" > 0L)) == collectSorted(read),
      "evolved scan disagrees with dfAt")
  }

  test("toDF reads literally from a table root containing glob metacharacters") {
    import spark.implicits._
    // a root with every Hadoop glob special the escaper handles; the
    // sibling decoy dir would be matched by an UNescaped `t{x}` pattern
    val base = java.nio.file.Files.createTempDirectory("graft_vsql_glob").toString
    val root = s"$base/t{x}[1]"
    val df = (1 to 40).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val t = GraftTable.create(spark, root, df.schema, key = Seq("id"),
      formatVersion = 2)
    t.append(df.filter($"id" <= 20))
    t.append(df.filter($"id" > 20))
    GraftTable.create(spark, s"$base/tx1", df.schema).append(df.limit(3))
    t.rowDelta(Seq(3L).toDF("id"),
      Seq((3L, "upd3")).toDF("id", "v"), Seq("id"))
    val got = t.toDF
    assert(got.count() == 40L, "glob-metachar root misread")
    assert(got.filter($"id" === 3L).collect().map(_.getString(1)).toSeq
      == Seq("upd3"), "MoR guard lost under glob-escaped root")
  }

  test("one-pass hash pairs reproduce md5DocSets/md5BandedSignature bit-for-bit") {
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val twoPass = TextOps.md5DocSets(docs)
    val onePass = TextOps.md5DocHashPairs(docs)
    // htoks identical
    val htA = collectSorted(twoPass.select(col("doc_id"), col("htoks")))
    val htB = collectSorted(onePass.select(col("doc_id"), col("htoks")))
    assert(htA == htB, "htoks drifted between the one- and two-pass preps")
    // banded signatures identical
    val sigA = collectSorted(TextOps.md5BandedSignature(twoPass, 64, 8))
    val sigB = collectSorted(TextOps.md5BandedSignatureFromPairs(
      onePass.select(col("doc_id"), col("pairs")), 64, 8))
    assert(sigA == sigB, "banded signature drifted between constructions")
  }

  private def scratchDirsFor(batchId: Long): Seq[java.io.File] = {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    Option(tmp.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith(s"graft_ingest_scratch_$batchId"))
      .toSeq
  }

  test("ingestDedupBatch sweeps its scratch dir on success and on failure") {
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val idx = TextOps.createDedupIndex(spark)
    val corpus = GraftTable.create(spark,
      TestSpark.tmpDir("ingest-sweep-corpus"), docs.schema)
    // unique batch ids so this test only sees ITS scratch dirs
    val okId = 771001L
    StreamOps.ingestDedupBatch(docs.filter(col("doc_id") % 3 === 0),
      corpus.dir, idx, "sweep-cid", okId, 0.9)
    assert(scratchDirsFor(okId).isEmpty,
      s"successful batch left scratch: ${scratchDirsFor(okId)}")
    // failure path: a batch missing `text` fails in the prep; the
    // finally-sweep must still remove the scratch parent
    val badId = 771002L
    val bad = docs.select(col("doc_id")) // no text column
    intercept[Exception] {
      StreamOps.ingestDedupBatch(bad, corpus.dir, idx, "sweep-cid", badId, 0.9)
    }
    assert(scratchDirsFor(badId).isEmpty,
      s"failed batch left scratch: ${scratchDirsFor(badId)}")
  }

  test("pathVersionCol fails loudly when input_file_name is empty (interposed cache)") {
    def loud(e: Throwable): Boolean =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .exists(x => Option(x.getMessage).exists(_.contains("cannot derive commit version")))
    // a parquet file under a dir the log does not name: the lookup misses
    // and must THROW, never yield a NULL version that un-guards the
    // delete anti-join
    val root = TestSpark.tmpDir("pvc-unlogged")
    spark.range(3).toDF("id").write.parquet(s"$root/data/in")
    val files = spark.read.parquet(s"$root/data/in")
    val e1 = intercept[Exception] {
      files.withColumn("cv", GraftTable.pathVersionCol(files, root, Seq(("data/no-such-dir", 7)))).collect()
    }
    assert(loud(e1), s"expected the loud version-derivation error, got: $e1")
    // a cached (non-file) relation has no file path at all — exactly the
    // refactor hazard VERDICT r14 item 3 names
    val cached = spark.range(3).toDF("id").cache()
    cached.count()
    val e2 = intercept[Exception] {
      cached.withColumn("cv", GraftTable.pathVersionCol(cached, root, Seq(("data/no-such-dir", 7)))).collect()
    }
    assert(loud(e2), s"expected the loud version-derivation error, got: $e2")
    cached.unpersist()
  }

  test("retryCow exhaustion chains the last race and stays a ConcurrentOverwriteException") {
    import spark.implicits._
    val df = Seq((1L, "a")).toDF("id", "v")
    val t = GraftTable.create(spark, TestSpark.tmpDir("retry-chain"), df.schema)
    // drive the private statement-retry loop directly with a body that
    // always loses its race — the loop must exhaust, chain the LAST
    // race as the cause, and remain collision-typed
    val m = t.getClass.getDeclaredMethods
      .find(_.getName == "retryCow").getOrElse(fail("retryCow not found"))
    m.setAccessible(true)
    var n = 0
    val body: Function0[Any] = () => {
      n += 1
      throw new GraftTable.ConcurrentOverwriteException(s"race $n")
    }
    val thrown = intercept[java.lang.reflect.InvocationTargetException] {
      m.invoke(t, "spec-op", body)
    }.getCause
    assert(thrown.isInstanceOf[GraftTable.RetriesExhaustedException],
      s"expected RetriesExhaustedException, got $thrown")
    assert(thrown.isInstanceOf[GraftTable.ConcurrentOverwriteException],
      "exhaustion must stay collision-typed for outer retriers")
    val cause = thrown.getCause
    assert(cause != null && cause.getMessage == s"race $n",
      s"cause must chain the LAST race (got $cause after $n attempts)")
  }
}
