package graft.catalog

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import graft.table.GraftTable

/** Snapshot-version offset of the streaming read (serialized into the
  * query checkpoint). */
final case class GraftOffset(version: Int) extends Offset {
  override def json(): String = s"""{"version":$version}"""
}

/** Micro-batch streaming read over a graft table — what
  * `spark.readStream.table("graft.ns.t")` / `.format("graft").load(dir)`
  * plan (Iceberg's incremental streaming read; the exact-offset upgrade
  * of [[graft.table.GraftTable.toStreamDF]]'s file tail).
  *
  * Offsets are SNAPSHOT VERSIONS: each micro-batch delivers precisely
  * the data dirs committed in `(start, end]`, so batch boundaries align
  * with table commits and a checkpoint restart resumes at an exact
  * snapshot — no file-listing races. The initial batch (start = 0) is
  * the live table as of the first offset (dirs of THAT snapshot only),
  * which stays correct even when history contains overwrites. After
  * that, append-only semantics: crossing an overwrite/rewrite commit
  * raises (its diff is not representable as appends) unless
  * `option("skipReplaceCommits", true)`, which surfaces the commit's
  * new dirs as appends (replaced rows are not retracted; rewritten rows
  * re-surface — pair with a downstream dedup/CDC consumer).
  *
  * Scale shape: planning is O(new dirs) against the O(snapshots) log;
  * one InputPartition per parquet file; the shared pushdown reader
  * applies row-group skipping (reads re-apply residual predicates, so
  * skipping is safe here, unlike the ReplaceData scan). */
final class GraftMicroBatchStream(table: GraftTable, required: StructType,
                                  pushed: Array[Filter], skipReplaceCommits: Boolean,
                                  maxVersionsPerBatch: Option[Int] = None)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  // 0/negative admission would make latestOffset return <= start forever:
  // the stream silently stalls delivering nothing — fail at construction
  require(maxVersionsPerBatch.forall(_ > 0),
    s"maxVersionsPerBatch must be positive (got ${maxVersionsPerBatch.get})")

  // Trigger.AvailableNow: pin the end of the run at prepare time — the
  // query drains (in rate-limited steps) to exactly this version, then
  // stops, ignoring later commits
  @volatile private var availableNowCap: Option[Int] = None

  override def initialOffset(): Offset = GraftOffset(0)
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("latestOffset(start, limit) is used")

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(table.currentVersion)

  /** Admission control: at most `maxVersionsPerBatch` table commits per
    * micro-batch (a bounded catch-up after downtime instead of one giant
    * batch over the backlog). */
  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    val from = start.asInstanceOf[GraftOffset].version
    val cur = availableNowCap.getOrElse(table.currentVersion)
    GraftOffset(maxVersionsPerBatch.fold(cur)(m => math.min(cur, from + m)))
  }

  override def reportLatestOffset(): Offset = GraftOffset(table.currentVersion)

  override def deserializeOffset(json: String): Offset = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    GraftOffset(m.get("version").asInt())
  }
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  // end-offset snapshot of the most recently planned batch: the reader
  // factory must see the table AS OF the batch's end offset, not "now" —
  // a rowDelta committed after planning (or current state during a
  // checkpoint replay of an old batch) must not leak into this batch's
  // delete map, or the batch's content stops being a deterministic
  // function of its (start, end] range (the replayability contract
  // exactly-once sinks rely on)
  @volatile private var plannedEndSnap: Option[graft.table.Snapshot] = None

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[GraftOffset].version
    val to = end.asInstanceOf[GraftOffset].version
    if (to <= from) return Array.empty
    val endSnap = table.snapshotAt(to)
    plannedEndSnap = Some(endSnap)
    // the initial catch-up (from = 0) reads the LIVE dirs of the end
    // snapshot, so replaced history needs no append representation
    if (from > 0 && !skipReplaceCommits)
      (from + 1 to to).foreach { v =>
        val sv = table.snapshotAt(v)
        // a rowdelta that ADDED a delete file retracts rows already
        // delivered — as un-representable as an overwrite; pure-insert
        // rowdeltas (no delete file stamped at v) are plain appends
        val replaces = !graft.table.GraftTable.AppendSafeOps.contains(sv.op) ||
          sv.deletes.exists(_.version == v)
        require(!replaces,
          s"streaming read crosses a ${sv.op} commit at v$v that replaces " +
            "or retracts rows (not representable as appends); restart the " +
            "stream or set skipReplaceCommits=true")
      }
    table.liveFiles(endSnap.dataDirs.filter(d => d.version > from && d.version <= to))
      .map(f => GraftFilePartition(f)).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // pending equality deletes apply reader-side (version-guarded per
    // dir), so the initial catch-up of a MoR table streams its LIVE
    // rows, not the raw pre-delete file contents; the snapshot is the
    // planned batch's END OFFSET, never the current table state
    val snap = plannedEndSnap.getOrElse(table.snapshot)
    GraftBucketedScan.deleteAware(table.dir, snap, required, pushed)
  }
}
