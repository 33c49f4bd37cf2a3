package graft.catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.table.{GraftTable, Snapshot}

/** Streaming CDC tail over a graft table — `spark.readStream
  * .format("graft").option("changesFrom", v).load(dir)` (Iceberg's
  * changelog streaming read / Delta's CDF stream): each micro-batch
  * delivers exactly [[GraftTable.changesBetween]]'s rows for the batch's
  * `(start, end]` snapshot range — inserts tagged `_change_type =
  * 'insert'`, delete PRE-IMAGES tagged `'delete'`, both stamped with
  * `_commit_version` — so an incremental-MV consumer applies +row/−row
  * deltas continuously instead of re-running the batch diff.
  *
  * Offsets are snapshot versions (the [[GraftMicroBatchStream]]
  * contract): batch boundaries align with table commits, checkpoint
  * restarts resume at an exact snapshot, and a batch's content is a
  * deterministic function of its range (replayability). Unlike the
  * append stream, a rowdelta's delete files are not a crossing error —
  * they ARE the stream: each delete file at version v plans a scan of
  * the PARENT snapshot's live rows filtered to the delete's key set (an
  * inverted reader-side key filter over the shared delete-map loader),
  * so pre-image recovery scales with the parent scan and the size-gated
  * key map, never a quadratic diff. Overwrite/rewrite commits remain
  * un-expressible as row changes and raise, mirroring `changesBetween`.
  *
  * The output schema is pinned at stream start (`pinned`): columns added
  * by later commits project as typed NULLs for pre-images and are absent
  * from the stream's rows entirely — the consumer restarts the stream to
  * pick up DDL, the standard CDC-consumer contract. */
final class GraftChangelogMicroBatchStream(table: GraftTable, pinned: Snapshot,
    fromV: Int, capV: Option[Int], maxVersionsPerBatch: Option[Int] = None,
    skipRewriteCommits: Boolean = false)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  // 0/negative admission would make latestOffset return <= start forever:
  // the stream silently stalls delivering nothing — fail at construction
  require(maxVersionsPerBatch.forall(_ > 0),
    s"maxVersionsPerBatch must be positive (got ${maxVersionsPerBatch.get})")

  private def spark: SparkSession = SparkSession.active

  @volatile private var availableNowCap: Option[Int] = None

  override def initialOffset(): Offset = GraftOffset(fromV)
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("latestOffset(start, limit) is used")

  override def prepareForTriggerAvailableNow(): Unit =
    // clamp like the non-AvailableNow path below: a `changesTo` past the
    // table's current version must cap at what exists, or latestOffset
    // admits uncommitted versions and planInputPartitions crashes on
    // snapshotAt of a version that was never written
    availableNowCap = Some(
      math.min(capV.getOrElse(table.currentVersion), table.currentVersion))

  /** Admission control: at most `maxVersionsPerBatch` commits per
    * micro-batch (bounded catch-up instead of one giant backlog batch);
    * an explicit `changesTo` option caps the whole stream. */
  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    val from = start.asInstanceOf[GraftOffset].version
    val cur = availableNowCap.getOrElse(
      capV.fold(table.currentVersion)(c => math.min(c, table.currentVersion)))
    GraftOffset(maxVersionsPerBatch.fold(cur)(m => math.min(cur, from + m)))
  }

  override def reportLatestOffset(): Offset =
    GraftOffset(capV.fold(table.currentVersion)(c => math.min(c, table.currentVersion)))

  override def deserializeOffset(json: String): Offset = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    GraftOffset(m.get("version").asInt())
  }
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  // per-planned-batch reader factories, one per commit-kind group; the
  // dispatch factory routes each partition to its group by id (the same
  // plan-then-serve volatile handoff as GraftMicroBatchStream)
  @volatile private var plannedFactories: Array[PartitionReaderFactory] = Array.empty

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[GraftOffset].version
    val to = end.asInstanceOf[GraftOffset].version
    if (to <= from) { plannedFactories = Array.empty; return Array.empty }
    // expressibility: default-closed, ONE implementation shared with the
    // batch changesBetween so the two CDC paths cannot drift. With
    // skipRewriteCommits, `rewrite` commits are additionally admitted and
    // contribute NOTHING: a rewrite is row-preserving BY CONSTRUCTION
    // (zorder/small-file maintenance refuses pending deletes and
    // re-clusters exactly the live rows), so a long-running tail survives
    // continuous layout maintenance instead of restarting at every
    // rewrite. compact() on a MoR backlog commits an `overwrite` — NOT
    // distinguishable from a destructive replace — and still raises.
    if (skipRewriteCommits)
      (from + 1 to to).foreach { v =>
        val op = table.snapshotAt(v).op
        require(op == "rewrite" || GraftTable.AppendSafeOps.contains(op),
          s"changelog read crosses a non-changelog-expressible '$op' commit " +
            s"at v$v; start from v$v instead")
      }
    else table.requireChangelogExpressible(from, to)
    val dataSchema = pinned.schema
    val factories = scala.collection.mutable.ArrayBuffer.empty[PartitionReaderFactory]
    val parts = scala.collection.mutable.ArrayBuffer.empty[InputPartition]
    // commit-addressed planning: version v's changes come from
    // snapshotAt(v) — for append-safe histories this equals filtering the
    // end snapshot (nothing removes dirs/deletes), and under
    // skipRewriteCommits it keeps serving dirs a later rewrite replaced
    // (their rows were genuinely inserted at v; the rewrite re-stamped
    // the same rows into new dirs, which are skipped)
    val byVersion: Seq[(Seq[graft.table.DataDir], Seq[graft.table.DeleteFile])] =
      (from + 1 to to).map { v =>
        val sv = table.snapshotAt(v)
        if (skipRewriteCommits && sv.op == "rewrite") (Nil, Nil)
        else (sv.dataDirs.filter(_.version == v), sv.deletes.filter(_.version == v))
      }

    // INSERTS: every data dir committed in range, read RAW (rows deleted
    // by a later commit still insert first — the CDC ordering) by ONE
    // reader, each row stamped with its file's commit version
    val insFiles = table.liveFiles(byVersion.flatMap(_._1))
    if (insFiles.nonEmpty) {
      val inner = GraftBucketedScan.readerFactory(pinned, dataSchema,
        Array.empty[org.apache.spark.sql.sources.Filter])
      val fid = factories.length
      factories += new GraftChangeStampFactory(inner,
        srcIdx = dataSchema.indices.toArray,
        srcTypes = dataSchema.fields.map(_.dataType),
        insert = true, version = None)
      insFiles.foreach(f => parts += GraftChangelogPartition(GraftFilePartition(f), fid))
    }

    // DELETES: each delete file committed in range plans the PARENT
    // snapshot's live rows (the shared delete-aware reader) filtered to
    // the delete's key set — the pre-image, stamped 'delete'
    byVersion.flatMap(_._2).foreach { d =>
      val parent = table.snapshotAt(d.version - 1)
      require(parent.op != "expired",
        s"cannot recover delete pre-images for v${d.version}: parent " +
          s"snapshot v${d.version - 1} has been expired")
      val positional = d.keys == GraftTable.PosDeleteKeys
      // pinned columns aligned to the parent by PHYSICAL identity
      // (renames are metadata-only); columns added after the parent have
      // no parent field and stamp as typed NULLs (srcIdx -1)
      val aligned: Array[Option[String]] = dataSchema.fields.map { f =>
        val phys = pinned.physicalOf(f.name)
        parent.fields.find(_.physical == phys).map(_.logical)
      }
      def keyField(k: String): StructField =
        if (!positional) {
          val phys = pinned.physicalOf(k)
          val pf = parent.fields.find(_.physical == phys).getOrElse(
            throw new IllegalStateException(
              s"delete key '$k' of v${d.version} has no column in parent " +
                s"snapshot v${parent.version}"))
          StructField(pf.logical, parent.schema(pf.logical).dataType)
        } else if (k == GraftMetaCols.FILE) StructField(k, StringType)
        else StructField(k, LongType)
      // the scanned schema: parent-named pinned columns plus any key
      // columns not already among them (metadata keys are stamped by the
      // reader; data keys read like any column)
      val baseFields = aligned.zip(dataSchema.fields).collect {
        case (Some(pName), f) => StructField(pName, f.dataType)
      }
      val keyFields = d.keys.map(keyField)
        .filterNot(kf => baseFields.exists(_.name.equalsIgnoreCase(kf.name)))
      val scanned = StructType(baseFields ++ keyFields)
      // live rows as of the parent: the shared delete-aware chain applies
      // every delete pending AT the parent, version-guarded per dir
      val live = GraftBucketedScan.deleteAware(table.dir, parent, scanned,
        Array.empty[org.apache.spark.sql.sources.Filter])
      // keep ONLY rows named by THIS delete file's keys
      val keyIdx = d.keys.map(k => scanned.fieldNames.indexWhere(_.equalsIgnoreCase(
        if (positional) k else keyField(k).name))).toArray
      val keyTypes = keyIdx.map(i => scanned.fields(i).dataType)
      val physKeys = d.keys.map(k =>
        if (positional) k else pinned.physicalOf(k))
      val keysF = GraftBucketedScan.deleteKeyMap(table.dir, Seq(d), physKeys, keyTypes)
      val kept = new GraftKeepKeysReaderFactory(live, keyIdx, keyTypes, keysF)
      // project back to the pinned column order (added-later → NULL)
      val srcIdx = aligned.map {
        case Some(pName) => scanned.fieldNames.indexWhere(_.equalsIgnoreCase(pName))
        case None => -1
      }
      val fid = factories.length
      factories += new GraftChangeStampFactory(kept, srcIdx,
        srcTypes = dataSchema.fields.map(_.dataType),
        insert = false, version = Some(d.version))
      preImagePartitions(parent, d, keyField(d.keys.head).name)
        .foreach(p => parts += GraftChangelogPartition(p, fid))
    }
    plannedFactories = factories.toArray
    parts.toArray
  }

  /** The parent's file partitions that can possibly hold this delete's
    * pre-images — the planning-side prune that keeps a 100 TB CDC tail's
    * upsert cost proportional to the TOUCHED data, not the table:
    *
    *  - POSITION deletes name their victim files outright: only parquet
    *    files whose path appears in the delete's `_file` column plan
    *    (exact, no sidecars needed; gated by the logged row count).
    *  - EQUALITY deletes prune whole parent dirs through the table's
    *    bloom + bounds sidecars ([[GraftTable.dirsPossiblyMatching]]) on
    *    the FIRST key column: small key sets probe as an IN-list (bloom
    *    + range), larger ones as a [min, max] band (range only) computed
    *    by one tiny agg over the delete parquet.
    *
    * Pruning is an optimization, NEVER a correctness dependency: any
    * failure (no sidecars, null keys, unliteralizable types, IO) falls
    * back to planning every parent dir.
    *
    * Cost note: the delete parquet is read here AND by the keep-filter's
    * key-map load — two tiny driver-blocking jobs over one small file,
    * once per delete commit over the stream's lifetime (version ranges
    * partition batches), gated off entirely when no sidecar can prune. */
  private def preImagePartitions(parent: Snapshot, d: graft.table.DeleteFile,
                                 parentKeyName: String): Seq[InputPartition] = {
    import org.apache.spark.sql.functions.{col, lit, max => fmax, min => fmin}
    def partitions(dirs: Seq[graft.table.DataDir]): Seq[InputPartition] =
      table.liveFiles(dirs).map(f => GraftFilePartition(f))
    def all: Seq[InputPartition] = partitions(parent.dataDirs)
    val deletePath = GraftTable.globEscape(s"${table.dir}/${d.path}")
    try {
      if (d.keys == GraftTable.PosDeleteKeys) {
        if (d.rowCount < 0 || d.rowCount > GraftTable.deleteBroadcastMaxRows(spark)) return all
        val victims: Set[String] = spark.read.parquet(deletePath)
          .select(col(GraftMetaCols.FILE)).distinct()
          .collect().map(_.getString(0)).toSet
        if (victims.contains(null)) return all
        table.liveFiles(parent.dataDirs).filter(f => victims.contains(f.path))
          .map(f => GraftFilePartition(f))
      } else {
        // only pay the key-stats job when a sidecar can actually prune
        val prunable = parent.statsKeys.exists(_.equalsIgnoreCase(parentKeyName)) ||
          parent.bloomKeys.exists(_.equalsIgnoreCase(parentKeyName))
        if (!prunable) return all
        val phys = pinned.physicalOf(d.keys.head)
        val pred =
          if (d.rowCount >= 0 && d.rowCount <= 1000) {
            val values = spark.read.parquet(deletePath)
              .select(col(phys)).distinct().collect().map(_.get(0))
            if (values.isEmpty || values.contains(null)) return all
            col(parentKeyName).isin(values.toIndexedSeq: _*)
          } else {
            val r = spark.read.parquet(deletePath)
              .agg(fmin(col(phys)), fmax(col(phys))).collect().head
            if (r.isNullAt(0) || r.isNullAt(1)) return all
            col(parentKeyName) >= lit(r.get(0)) && col(parentKeyName) <= lit(r.get(1))
          }
        partitions(table.dirsPossiblyMatching(parent, pred))
      }
    } catch { case scala.util.control.NonFatal(_) => all }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftChangeDispatchFactory(plannedFactories)
}

/** A changelog batch partition: the wrapped file partition plus the id
  * of the commit-group factory that knows how to read and stamp it. */
final case class GraftChangelogPartition(inner: InputPartition, factoryId: Int)
    extends InputPartition

/** Routes each changelog partition to its commit group's reader chain —
  * UNWRAPPING first, so the inner readers see the `GraftFilePartition`
  * whose [[graft.table.LiveFile]] version their `since` gate, delete
  * guards and insert stamp key on. */
private[catalog] final class GraftChangeDispatchFactory(
    factories: Array[PartitionReaderFactory]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case GraftChangelogPartition(inner, id) => factories(id).createReader(inner)
      case other => throw new IllegalStateException(
        s"unexpected partition ${other.getClass.getName} in changelog scan")
    }
}

/** Keeps ONLY rows whose key tuple appears in the delete-key map — the
  * inverse of [[GraftDeleteFilteringReaderFactory]], selecting a delete
  * file's pre-images out of the parent snapshot's live rows. */
private[catalog] final class GraftKeepKeysReaderFactory(
    inner: PartitionReaderFactory, keyIdx: Array[Int],
    keyTypes: Array[DataType],
    keysF: () => Map[Seq[Any], Int]) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val keys = keysF()
    val r = inner.createReader(partition)
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean = {
        while (r.next()) {
          val row = r.get()
          val k: Seq[Any] = (0 until keyIdx.length).map(i => row.get(keyIdx(i), keyTypes(i)))
          if (keys.contains(k)) { cur = row; return true }
        }
        false
      }
      override def get(): InternalRow = cur
      override def close(): Unit = r.close()
    }
  }
}

/** Projects inner rows to the pinned column order (srcIdx, −1 → NULL)
  * and appends the two changelog metadata columns: `_change_type`
  * ('insert' | 'delete') and `_commit_version` — `version`, or when None
  * the commit version of the partition's file. */
private[catalog] final class GraftChangeStampFactory(
    inner: PartitionReaderFactory, srcIdx: Array[Int],
    srcTypes: Array[DataType], insert: Boolean, version: Option[Int])
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val r = inner.createReader(partition)
    val v = version.getOrElse(partition.asInstanceOf[GraftFilePartition].file.version)
    val tag = UTF8String.fromString(if (insert) "insert" else "delete")
    new PartitionReader[InternalRow] {
      private val out = new GenericInternalRow(srcIdx.length + 2)
      override def next(): Boolean = r.next()
      override def get(): InternalRow = {
        val row = r.get()
        var i = 0
        while (i < srcIdx.length) {
          val s = srcIdx(i)
          out.update(i,
            if (s < 0 || row.isNullAt(s)) null else row.get(s, srcTypes(i)))
          i += 1
        }
        out.update(srcIdx.length, tag)
        out.update(srcIdx.length + 1, v)
        out
      }
      override def close(): Unit = r.close()
    }
  }
}
