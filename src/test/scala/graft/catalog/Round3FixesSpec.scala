package graft.catalog

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.table.{GraftTable, PartitionField}

/** Regressions for the round-2 ADVICE findings: deterministic streaming
  * micro-batches under concurrent rowDeltas, rename-safe scan predicates,
  * no table auto-create on the read path, delete-aware scans of non-key
  * projections / unknown delete counts, and commit-time (not mtime)
  * TIMESTAMP AS OF resolution. */
class Round3FixesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  import spark.implicits._

  private def morTable(dir: String): GraftTable = {
    val t = GraftTable.create(spark, dir, StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))),
      key = Seq("id"), formatVersion = 2)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))                        // v1
    t.rowDelta(Seq(2L).toDF("id"), Seq((2L, "b2")).toDF("id", "v"), Seq("id")) // v2
    t
  }

  private def readAll(rf: org.apache.spark.sql.connector.read.PartitionReaderFactory,
      parts: Seq[org.apache.spark.sql.connector.read.InputPartition])
      : Seq[org.apache.spark.sql.catalyst.InternalRow] =
    parts.flatMap { p =>
      val r = rf.createReader(p)
      val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.catalyst.InternalRow]
      try { while (r.next()) buf += r.get().copy() } finally r.close()
      buf.toSeq
    }

  test("micro-batch content is a function of its end offset, not current table state") {
    val dir = TestSpark.tmpDir("r3-mbdet")
    val t = morTable(dir)
    val stream = new GraftMicroBatchStream(t, t.schema, Array.empty, false)
    val parts = stream.planInputPartitions(GraftOffset(0), GraftOffset(2))
    // a rowDelta committed AFTER planning (or current state during a
    // checkpoint replay) must not leak into the planned batch's deletes
    t.rowDelta(Seq(1L).toDF("id"), Seq((1L, "a2")).toDF("id", "v"), Seq("id")) // v3
    val rows = readAll(stream.createReaderFactory(), parts.toSeq)
      .map(r => (r.getLong(0), r.getUTF8String(1).toString)).sortBy(_._1)
    // live rows AS OF v2: key 1 still "a" (its delete is v3), key 2 upserted
    assert(rows == Seq((1L, "a"), (2L, "b2")))
  }

  test("delete-aware scan of non-key columns widens internally and projects away") {
    val dir = TestSpark.tmpDir("r3-widen")
    val t = morTable(dir)
    val snap = t.snapshot
    val required = StructType(Seq(StructField("v", StringType)))
    val rf = GraftBucketedScan.deleteAware(dir, snap, required, Array.empty)
    val parts = t.liveFiles(snap.dataDirs).map(f => GraftFilePartition(f))
    val rows = readAll(rf, parts)
    assert(rows.forall(_.numFields == 1), "widened key column must not leak out")
    assert(rows.map(_.getUTF8String(0).toString).sorted == Seq("a", "b2"))
  }

  test("delete-aware scan counts legacy (-1) delete files instead of erroring") {
    val dir = TestSpark.tmpDir("r3-legacy")
    val t = morTable(dir)
    val snap = t.snapshot
    val legacy = snap.copy(deletes = snap.deletes.map(_.copy(rowCount = -1L)))
    val required = StructType(Seq(StructField("id", LongType), StructField("v", StringType)))
    val rf = GraftBucketedScan.deleteAware(dir, legacy, required, Array.empty)
    val rows = readAll(rf, t.liveFiles(legacy.dataDirs).map(f => GraftFilePartition(f)))
      .map(r => (r.getLong(0), r.getUTF8String(1).toString)).sortBy(_._1)
    assert(rows == Seq((1L, "a"), (2L, "b2")))
    // over-threshold delete sets no longer hard-fail ("compact() first"):
    // they take the distributed scratch-merge path and the scan still
    // answers correctly (LargeDeleteScanSpec drives it at >1M real keys;
    // maxRows=0 forces the path even for this tiny set)
    spark.conf.set("graft.delete.broadcastMaxRows", "0")
    try {
      val rf2 = GraftBucketedScan.deleteAware(dir, legacy, required, Array.empty)
      val rows2 = readAll(rf2, t.liveFiles(legacy.dataDirs).map(f => GraftFilePartition(f)))
        .map(r => (r.getLong(0), r.getUTF8String(1).toString)).sortBy(_._1)
      assert(rows2 == Seq((1L, "a"), (2L, "b2")))
      assert(new java.io.File(s"$dir/_graft_log/scratch").isDirectory,
        "expected the forced over-threshold scan to use the scratch-merge path")
    } finally spark.conf.unset("graft.delete.broadcastMaxRows")
  }

  test("read of a missing path errors and never side-effects a table onto disk") {
    val dir = TestSpark.tmpDir("r3-noauto")
    val schema = StructType(Seq(StructField("id", LongType)))
    // user-supplied schema bypasses inferSchema — the scan must still fail
    intercept[Exception] {
      spark.read.format("graft").schema(schema).load(dir).collect()
    }
    assert(!GraftTable.exists(spark, dir), "read auto-created a table")
    // a WRITE to the fresh path still creates it
    Seq((1L, "x")).toDF("id", "v").write.format("graft").mode("append").save(dir)
    assert(GraftTable.exists(spark, dir))
    assert(spark.read.format("graft").load(dir).count() == 1)
  }

  test("scan predicates bind to logical names after rename / re-add") {
    val dir = TestSpark.tmpDir("r3-rename")
    val t = GraftTable.create(spark, dir, StructType(Seq(
      StructField("id", LongType), StructField("d", DateType),
      StructField("amt", LongType))),
      spec = Seq(PartitionField("d", "month")))
    t.append(Seq(
      (1L, "2024-01-10", 5L), (2L, "2024-02-10", 20L), (3L, "2024-02-20", 30L))
      .toDF("id", "ds", "amt").select($"id", to_date($"ds").as("d"), $"amt"))
    t.renameColumn("amt", "amount")
    // predicate on the RENAMED column through the partition-pruned branch
    val got = t.scan($"amount" > 10L && $"d" >= lit("2024-02-01").cast(DateType))
      .select("id").as[Long].collect().sorted
    assert(got.toSeq == Seq(2L, 3L))
    // re-add the old name: a predicate on it must bind to the NEW (all
    // null) column, never to the old column's physical data
    t.addColumn("amt", LongType)
    assert(t.scan($"amt" > 0L && $"d" >= lit("2024-01-01").cast(DateType)).count() == 0)
    assert(t.scan($"amt".isNull && $"d" >= lit("2024-02-01").cast(DateType)).count() == 2)
  }

  test("TIMESTAMP AS OF resolves from stamped commit times, surviving expiry") {
    val dir = TestSpark.tmpDir("r3-ts")
    val t = GraftTable.create(spark, dir, StructType(Seq(StructField("id", LongType)))) // v0
    Thread.sleep(20)
    t.append(Seq(1L).toDF("id")) // v1
    Thread.sleep(20)
    t.append(Seq(2L).toDF("id")) // v2
    val t0 = t.snapshotAt(0).commitTimeMs
    val t1 = t.snapshotAt(1).commitTimeMs
    assert(t0 > 0 && t1 > t0)
    val mid = (t0 + t1) / 2
    assert(t.versionAsOfTimestamp(mid) == 0)
    assert(t.versionAsOfTimestamp(System.currentTimeMillis()) == 2)
    // expiry rewrites v0's log entry in place (bumping its file mtime);
    // the stamped time inside the marker keeps resolution stable
    t.expireSnapshots(keepLast = 2)
    assert(t.snapshotAt(0).op == "expired")
    assert(t.versionAsOfTimestamp(mid) == 0)
    assert(t.versionAsOfTimestamp(System.currentTimeMillis()) == 2)
  }
}
