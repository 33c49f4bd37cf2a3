package graft.catalog

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{GraftShim, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import graft.table.{GraftTable, LiveFile}

/** DSv2 Batch scan for a bucket-partitioned graft table that REPORTS its
  * layout ([[SupportsReportPartitioning]] → [[KeyGroupedPartitioning]]),
  * enabling storage-partitioned joins: two graft tables bucketed with the
  * same count on their join keys join with NO Exchange on either side —
  * at 100 TB the difference between a full-table shuffle and a purely
  * local merge of pre-clustered files. This is Spark's own SPJ machinery
  * (`spark.sql.sources.v2.bucketing.enabled`); the scan only has to tell
  * the truth about the file layout:
  *
  *  - one [[InputPartition]] per bucket VALUE (files grouped across all
  *    data dirs), carrying the value as [[HasPartitionKey]];
  *  - `outputPartitioning` reports `bucket(n, src)`, which Spark resolves
  *    against [[GraftCatalog]]'s FunctionCatalog ([[GraftBucketFunction]])
  *    so both sides bind to the same canonical function;
  *  - rows are read by Spark's own parquet reader function
  *    ([[GraftShim.parquetFileReader]]): footer filter pushdown, column
  *    pruning, and schema evolution — missing physical columns and
  *    columns a file's commit predates (`FieldInfo.since`) read NULL —
  *    behave exactly like [[GraftTable.dfAt]]'s read.
  *
  * Eligibility (checked by the caller): single bucket partition field, no
  * equality deletes, at least one data dir.
  */
final class GraftBucketedScan(table: GraftTable,
                              // the snapshot SPJ eligibility was checked on
                              // — re-reading the log here could observe a
                              // concurrent commit (equality deletes, spec
                              // change) this scan does not know how to
                              // honor, silently returning retracted rows
                              snap: graft.table.Snapshot,
                              required: StructType,
                              pushed: Array[Filter],
                              skipReplaceCommits: Boolean = false,
                              maxVersionsPerBatch: Option[Int] = None)
    extends Scan with Batch
    with SupportsReportPartitioning with SupportsRuntimeV2Filtering
    with SupportsReportStatistics {

  private val pf = snap.spec.head

  override def readSchema(): StructType = required

  override def toBatch: Batch = this

  // ---- runtime bucket pruning (the DPP analogue for bucket layouts):
  // a join against a filtered dim hands this scan the IN-set of join-key
  // values at runtime; hashing them yields the buckets that can match.
  // Partitions outside the set keep their partition KEY but drop their
  // files (SPJ requires the partition-value set to survive runtime
  // filtering) — the I/O disappears, the partitioning contract stays.
  @volatile private var runtimeBuckets: Option[Set[Int]] = None

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // only when the source column is in the read schema — Spark resolves
    // these against the relation output and throws otherwise
    if (required.fieldNames.exists(_.equalsIgnoreCase(pf.source)))
      Array(Expressions.column(pf.source))
    else Array.empty

  override def filter(predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    val dt = snap.schema(pf.source).dataType
    val sets = predicates.flatMap { p =>
      GraftMetaCols.inValues(p, pf.source).flatMap { vs =>
        val hashed = vs.map(v => GraftBucketedScan.bucketOf(
          org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToScala(v, dt),
          dt, pf.param))
        // prune only when every member hashed (partial = unsound)
        if (hashed.forall(_.isDefined)) Some(hashed.flatten.toSet) else None
      }
    }
    if (sets.nonEmpty) runtimeBuckets = Some(sets.reduce(_ intersect _))
  }

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftMicroBatchStream(table, required, pushed, skipReplaceCommits,
      maxVersionsPerBatch)

  override def description(): String =
    s"GraftBucketedScan(${table.dir}, bucket(${pf.param}, ${pf.source}))"

  override def outputPartitioning(): Partitioning =
    new KeyGroupedPartitioning(
      Array(Expressions.bucket(pf.param, pf.source)), partitions.length)

  /** Bucket values that can satisfy the pushed point predicates on the
    * bucket SOURCE column (None = no point predicate ⇒ keep all). Static
    * bucket pruning: `WHERE k = 42` reads exactly one bucket partition. */
  private lazy val wantedBuckets: Option[Set[Int]] = {
    val points = pushed.toSeq.collect {
      case sources.EqualTo(a, v) if a.equalsIgnoreCase(pf.source) => Seq(v)
      case sources.In(a, vs) if a.equalsIgnoreCase(pf.source) => vs.toSeq
    }
    if (points.isEmpty) None
    else {
      // bucket of each literal AT THE COLUMN TYPE (hash differs by type);
      // an un-hashable literal keeps all buckets (sound)
      val dt = snap.schema(pf.source).dataType
      val sets = points.map { vs =>
        val hashed = vs.map(v => GraftBucketedScan.bucketOf(v, dt, pf.param))
        if (hashed.exists(_.isEmpty)) None else Some(hashed.flatten.toSet)
      }
      if (sets.exists(_.isEmpty)) None
      else Some(sets.flatten.reduce(_ intersect _))
    }
  }

  /** Live files grouped by bucket value across every data dir; a file's
    * bucket is its `__dir_<name>=v` parent dir. Built once on the driver
    * from [[GraftTable.liveFiles]] — O(files) filesystem metadata. */
  private lazy val partitions: Array[GraftBucketPartition] = {
    val prefix = s"__dir_${pf.name}="
    table.liveFiles(snap.dataDirs).groupBy { f =>
      val n = new Path(f.path).getParent.getName
      require(n.startsWith(prefix), s"unexpected layout under ${table.dir}: ${f.path}")
      n.substring(prefix.length).toInt
    }.toArray.sortBy(_._1)
      .filter { case (v, _) => wantedBuckets.forall(_.contains(v)) }
      .map { case (v, files) => GraftBucketPartition(v, files.toArray) }
  }

  override def planInputPartitions(): Array[InputPartition] =
    runtimeBuckets match {
      case None => partitions.toArray[InputPartition]
      case Some(w) => partitions.map(p =>
        if (w.contains(p.bucket)) p
        else p.copy(files = Array.empty)).toArray[InputPartition]
    }

  /** Real sizes instead of `spark.sql.defaultSizeInBytes`: the planner
    * can auto-broadcast a small graft table. Reflects static bucket
    * pruning (sizes come from the pruned partition list); row count is
    * reported only for unpruned scans (the log counts whole dirs). */
  override def estimateStatistics(): Statistics = {
    val bytes = partitions.iterator.flatMap(_.files.iterator.map(_.bytes)).sum
    val rows: java.util.OptionalLong =
      if (wantedBuckets.isEmpty && snap.dataDirs.forall(_.rowCount >= 0))
        java.util.OptionalLong.of(snap.dataDirs.map(_.rowCount).sum)
      else java.util.OptionalLong.empty()
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong = rows
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    // physical projection in the same order as the logical read schema —
    // InternalRow consumption is positional, names only matter at the file
    GraftBucketedScan.readerFactory(snap, required, pushed,
      extraPhysCols = Seq(StructField(pf.name, IntegerType, nullable = true)))
}

/** An input partition backed by a set of parquet files, each carrying
  * its dir's commit version. */
sealed trait GraftFilesPartition extends InputPartition {
  def files: Array[LiveFile]
}

/** All files of one bucket value; the key makes Spark group and co-locate
  * matching buckets across the two join sides. */
final case class GraftBucketPartition(bucket: Int, files: Array[LiveFile])
    extends GraftFilesPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucket))
}

/** One file, read on its own (the flat, micro-batch and changelog scans). */
final case class GraftFilePartition(file: LiveFile) extends GraftFilesPartition {
  override def files: Array[LiveFile] = Array(file)
}

/** Flat (non-partition-reporting) DSv2 Batch scan over a table's data
  * files — the read side of the row-level ReplaceData/WriteDelta paths,
  * which plan the operation's scan as a real Batch (no V1 fallback).
  * One InputPartition per file; same pushdown/evolution behavior as the
  * bucketed scan (shared reader function).
  *
  * Pending equality deletes are applied READER-SIDE: the driver folds
  * the delete files into a (key → newest delete version) map — gated by
  * `graft.delete.broadcastMaxRows`, the same bound [[GraftTable.dfAt]]
  * uses for its broadcast anti-join — and each reader drops rows whose key
  * has a delete strictly newer than the row's dir version. This is what
  * lets MoR DML chain: UPDATE → UPDATE works without a compact between
  * statements.
  *
  * Runtime group filtering ([[SupportsRuntimeV2Filtering]] on `_file`):
  * Spark's RowLevelOperationRuntimeGroupFiltering pushes the DISTINCT
  * `_file` set of condition-matching rows into this scan at runtime;
  * [[filter]] keeps exactly the data DIRS containing a matched file (dir
  * = replace group: keeping whole dirs is sound because every kept row
  * flows through the replacement query unchanged) and reports the kept
  * set through `groupFilter` so the ReplaceData commit swaps only those
  * dirs — a copy-on-write UPDATE/MERGE rewrites the touched dirs, not
  * the table. */
final class GraftFlatBatchScan(table: GraftTable,
                               // the relation's snapshot: the builder routed
                               // on it, and the row-level commit guards on it
                               snap: graft.table.Snapshot,
                               required: StructType,
                               pushed: Array[Filter],
                               groupFilter: Option[java.util.concurrent.atomic.AtomicReference[Option[Set[String]]]] = None)
    extends Scan with Batch with SupportsRuntimeV2Filtering
    with SupportsReportStatistics {

  // live files grouped by the data dir they belong to (the groups
  // runtime filtering keeps or drops); built once on the driver
  private lazy val byDir: Seq[(graft.table.DataDir, Seq[LiveFile])] =
    snap.dataDirs.map(d => d -> table.liveFiles(Seq(d)))

  @volatile private var keptDirs: Option[Set[String]] = None

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // only when the scan actually outputs the METADATA `_file` (the
    // group-based row-level read): advertising it on other scans (e.g.
    // delta ops) makes Spark's PartitionPruning try to resolve a column
    // the relation doesn't have, and a shadowing DATA column named
    // `_file` would key the group filter on data values (wrong pruning)
    if (required.fieldNames.contains(GraftMetaCols.FILE) &&
        !snap.schema.fieldNames.contains(GraftMetaCols.FILE))
      Array(Expressions.column(GraftMetaCols.FILE))
    else Array.empty

  override def filter(predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    val fileSets = predicates.flatMap(GraftMetaCols.inFileSet)
    if (fileSets.nonEmpty) {
      val files = fileSets.reduce(_ intersect _)
      val matched = byDir.filter { case (_, fs) =>
        fs.exists(f => files.contains(GraftMetaCols.norm(f.path)))
      }.map(_._1.path).toSet
      keptDirs = Some(matched)
      groupFilter.foreach(_.set(Some(matched)))
    }
  }

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = s"GraftFlatBatchScan(${table.dir})"

  private def kept = byDir.filter { case (d, _) => keptDirs.forall(_.contains(d.path)) }

  override def planInputPartitions(): Array[InputPartition] =
    kept.flatMap(_._2).map(f => GraftFilePartition(f): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    GraftBucketedScan.deleteAware(table.dir, snap, required, pushed)

  /** File-metadata sizes over the kept dirs (post runtime group filter);
    * row count from the log when every kept dir has one — pending
    * equality deletes make it an upper bound, so it is withheld then. */
  override def estimateStatistics(): Statistics = {
    val bytes = kept.iterator.flatMap(_._2).map(_.bytes).sum
    val rows: java.util.OptionalLong =
      if (snap.deletes.isEmpty && kept.forall(_._1.rowCount >= 0))
        java.util.OptionalLong.of(kept.map(_._1.rowCount).sum)
      else java.util.OptionalLong.empty()
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong = rows
    }
  }
}

/** Wraps the file reader with the (key → newest delete version) filter:
  * a row is dropped iff its key has a delete strictly newer than its
  * file's commit version (rows reinserted in the same commit survive —
  * sequence-number semantics). The map is either inlined (small delete
  * sets, driver-collected as before) or loaded lazily on the executor
  * from a scratch parquet of merged delete keys (large sets — no driver
  * materialization; see [[GraftScratchDeletes]]). */
private final class GraftDeleteFilteringReaderFactory(
    inner: PartitionReaderFactory, keyIdx: Array[Int],
    keyTypes: Array[org.apache.spark.sql.types.DataType],
    delsF: () => Map[Seq[Any], Int]) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val fileV = partition.asInstanceOf[GraftFilePartition].file.version
    val dels = delsF()
    val r = inner.createReader(partition)
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean = {
        while (r.next()) {
          val row = r.get()
          val k: Seq[Any] = (0 until keyIdx.length).map(i => row.get(keyIdx(i), keyTypes(i)))
          if (!dels.get(k).exists(_ > fileV)) { cur = row; return true }
        }
        false
      }
      override def get(): InternalRow = cur
      override def close(): Unit = r.close()
    }
  }
}

/** Executor-side loader for large merged equality-delete sets. The driver
  * writes the merged (key, newest-version) frame to a scratch parquet
  * (a DISTRIBUTED write — nothing is ever collected) and ships only the
  * file list plus a serializable parquet read function; each executor JVM
  * materializes the map once and shares it across its scan tasks — the
  * memory profile of a broadcast without the driver ever holding the
  * keys. The per-JVM cache is tiny-bounded: concurrent scans of a few
  * tables coexist, a scan of a new table evicts stale entries. */
private[catalog] object GraftScratchDeletes {
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Map[Seq[Any], Int]]()

  def load(tag: String, files: Seq[(String, Long)],
           readFunc: (String, Long) => Iterator[InternalRow],
           keyTypes: Array[org.apache.spark.sql.types.DataType]): Map[Seq[Any], Int] = {
    // evict BEFORE the compute: ConcurrentHashMap forbids the mapping
    // function from mutating the map (a reentrant clear() corrupts the
    // in-flight bin). Worst case under racing threads is a redundant
    // rebuild, never corruption.
    if (cache.size > 3 && !cache.containsKey(tag)) cache.clear()
    cache.computeIfAbsent(tag, _ => {
      val b = Map.newBuilder[Seq[Any], Int]
      files.foreach { case (p, len) =>
        readFunc(p, len).foreach { r =>
          // copy: parquet readers reuse row buffers across next() calls
          val k: Seq[Any] = keyTypes.indices.map(i =>
            if (r.isNullAt(i)) null else InternalRow.copyValue(r.get(i, keyTypes(i))))
          b += (k -> r.getInt(keyTypes.length))
        }
      }
      b.result()
    })
  }
}

object GraftBucketedScan {
  import org.apache.spark.sql.types._
  import org.apache.spark.unsafe.hash.Murmur3_x86_32
  import org.apache.spark.unsafe.types.UTF8String

  /** Bucket of a pushed-filter literal at the column type — mirrors the
    * write-side `pmod(hash(col), n)` / [[GraftBucketFunction]]. None when
    * the literal's type cannot be hashed confidently (caller keeps all
    * buckets — pruning stays sound). */
  def bucketOf(v: Any, dt: DataType, n: Int): Option[Int] = {
    val h: Option[Int] = (dt, v) match {
      case (LongType, x: Number) => Some(Murmur3_x86_32.hashLong(x.longValue(), 42))
      case (IntegerType, x: Number) => Some(Murmur3_x86_32.hashInt(x.intValue(), 42))
      case (ShortType, x: Number) => Some(Murmur3_x86_32.hashInt(x.intValue(), 42))
      case (ByteType, x: Number) => Some(Murmur3_x86_32.hashInt(x.intValue(), 42))
      case (DateType, d: java.sql.Date) =>
        Some(Murmur3_x86_32.hashInt(d.toLocalDate.toEpochDay.toInt, 42))
      case (DateType, d: java.time.LocalDate) =>
        Some(Murmur3_x86_32.hashInt(d.toEpochDay.toInt, 42))
      case (StringType, s: String) =>
        val u = UTF8String.fromString(s)
        Some(Murmur3_x86_32.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42))
      case _ => None
    }
    h.map(x => ((x % n) + n) % n)
  }

  /** Shared evolution-aware parquet reader factory over physical names —
    * one implementation for the bucketed, flat, and streaming scans.
    * Requested `_file`/`_pos` metadata columns are not read from the
    * file: the reader stamps each row with the path it is reading and
    * its ordinal within the file (appended last, then projected into
    * place when not trailing). A column whose `FieldInfo.since` is above
    * a file's commit version reads NULL from that file, whatever the file
    * holds (the same gate [[GraftTable.dfAt]] applies). */
  private[catalog] def readerFactory(snap: graft.table.Snapshot,
      required: StructType, pushed: Array[Filter],
      extraPhysCols: Seq[StructField] = Nil): GraftBucketReaderFactory = {
    val spark = SparkSession.active
    // stamp only METADATA columns — a data column of the same name
    // shadows it and must be read from the file like any other column
    def metaIdx(n: String): Int =
      if (snap.schema.fieldNames.contains(n)) -1 else required.fieldNames.indexOf(n)
    val stamped: Seq[(String, Int)] =
      Seq(GraftMetaCols.FILE, GraftMetaCols.POS)
        .map(n => n -> metaIdx(n)).filter(_._2 >= 0)
    val metaNames = stamped.map(_._1).toSet
    val innerRequired =
      if (stamped.isEmpty) required
      else StructType(required.fields.filterNot(f => metaNames.contains(f.name)))
    val physRequired = StructType(innerRequired.fields.map(f =>
      StructField(snap.physicalOf(f.name), f.dataType, nullable = true)))
    val physData = StructType(snap.schema.fields.map(f =>
      StructField(snap.physicalOf(f.name), f.dataType, nullable = true)) ++ extraPhysCols)
    // add-version of each output column (0 = never gated); a pushed filter
    // on a column some live dir predates is dropped, or row-group skipping
    // would judge the file's stale values instead of the NULLs it reads
    val since = required.fields.map(f => snap.fields.find(_.logical == f.name).fold(0)(_.since))
    val gated = snap.fields.filter(fi => snap.dataDirs.exists(_.version < fi.since))
      .map(_.logical).toSet
    // `_pos` is stamped by COUNTING rows as they come off the file reader,
    // so the reader must emit every row in file order: with filters pushed
    // into parquet, row-group/page skipping drops rows BEFORE the counter
    // and the stamped ordinals shift. Since every pushed filter is residual
    // (Spark re-applies the full predicate — GraftSparkTable.pushFilters),
    // dropping the in-file pushdown is correctness-neutral; it only costs
    // the row-group skip, and only on scans that ask for `_pos`.
    val stampsPos = stamped.exists(_._1 == GraftMetaCols.POS)
    val physFilters =
      if (stampsPos) Nil
      else pushed.flatMap(f => renamePushedFilter(f, n =>
        snap.fields.find(fi => fi.logical == n && !gated(n)).map(_.physical))).toSeq
    new GraftBucketReaderFactory(
      GraftShim.parquetFileReader(spark, physData, physRequired, physFilters.toSeq),
      stamped = stamped,
      outTypes = required.fields.map(_.dataType),
      since = since)
  }

  /** Builds a reader factory with reader-side equality-delete filtering
    * when the snapshot has pending deletes: the delete files fold into a
    * (key → newest delete version) map and readers drop rows whose key
    * has a delete strictly newer than the row's dir version.
    *
    * Two size regimes (`graft.delete.broadcastMaxRows`, default 1M):
    * small sets are driver-collected and shipped inline in the factory
    * (fast, zero extra I/O); larger sets are merged by a DISTRIBUTED
    * write to a scratch parquet under the table's log dir and loaded
    * lazily once per executor JVM ([[GraftScratchDeletes]]) — the driver
    * never materializes the keys, so there is no driver-memory cliff.
    * The executor-side map is still per-JVM memory; truly huge delete
    * backlogs should be compact()ed, like any MoR table.
    *
    * Delete-key columns the caller did NOT select are widened into the
    * physical read internally and projected away after filtering, so a
    * non-key projection of a MoR table still returns live rows only. A
    * delete file with no logged rowCount (legacy -1) is counted from its
    * parquet footers instead of erroring.
    *
    * Delete files are applied PER KEY GROUP: the snapshot's equality
    * deletes share one key set (enforced at commit) and POSITION deletes
    * (key set `(_file, _pos)`, [[graft.table.GraftTable.PosDeleteKeys]])
    * coexist with them; each group gets its own map and filter wrapper,
    * chained over one shared widened read. Position keys bind to the
    * reader's stamped metadata columns — a stamped `_pos` disables
    * parquet filter pushdown (see [[readerFactory]]) so ordinals stay
    * true file positions. */
  private[catalog] def deleteAware(tableDir: String, snap: graft.table.Snapshot,
      required: StructType, pushed: Array[Filter]): PartitionReaderFactory = {
    if (snap.deletes.isEmpty) return readerFactory(snap, required, pushed)
    val spark = SparkSession.active
    import org.apache.spark.sql.functions.{col, lit, max => fmax}
    val posKeys = graft.table.GraftTable.PosDeleteKeys
    val groups: Seq[(Seq[String], Seq[graft.table.DeleteFile])] =
      snap.deletes.groupBy(_.keys).toSeq.sortBy(_._1.mkString(","))
    // a delete key is a METADATA column when the schema doesn't shadow it
    def isMetaKey(k: String): Boolean =
      posKeys.contains(k) && !snap.schema.fieldNames.contains(k)
    def fieldFor(k: String): StructField =
      if (!isMetaKey(k)) snap.schema(k)
      else if (k == GraftMetaCols.FILE) StructField(k, StringType, nullable = false)
      else StructField(k, LongType, nullable = false)
    def physFor(k: String): String = if (isMetaKey(k)) k else snap.physicalOf(k)
    // widen the read schema with unselected delete-key columns (data OR
    // metadata); the filtered rows are projected back below
    val allKeys = groups.flatMap(_._1).distinct
    val missing = allKeys.filterNot(k =>
      required.fieldNames.exists(_.equalsIgnoreCase(k)))
    val widened = StructType(required.fields ++ missing.map(fieldFor))
    val inner = readerFactory(snap, widened, pushed)
    val chained = groups.foldLeft(inner: PartitionReaderFactory) {
      case (wrapped, (delKeys, delFiles)) =>
        val physKeys = delKeys.map(physFor)
        // key positions by LOGICAL name (the widened schema may carry
        // non-physical metadata columns like `_file`)
        val keyIdx = delKeys.map(k =>
          widened.fieldNames.indexWhere(_.equalsIgnoreCase(k))).toArray
        val keyTypes = keyIdx.map(i => widened.fields(i).dataType)
        val delsF = deleteKeyMap(tableDir, delFiles, physKeys, keyTypes)
        new GraftDeleteFilteringReaderFactory(wrapped, keyIdx, keyTypes, delsF)
    }
    if (missing.isEmpty) chained
    else new GraftProjectingReaderFactory(chained, required)
  }

  /** Folds one key group's delete files into a lazy
    * `(key → newest delete version)` map — the loader shared by the
    * drop-filter (MoR scans) and keep-filter (changelog pre-image)
    * wrappers. Two size regimes (see [[deleteAware]]): small sets are
    * driver-collected and shipped inline; larger sets are merged by a
    * DISTRIBUTED write to a content-addressed scratch parquet and loaded
    * once per executor JVM ([[GraftScratchDeletes]]). */
  private[catalog] def deleteKeyMap(tableDir: String,
      delFiles: Seq[graft.table.DeleteFile], physKeys: Seq[String],
      keyTypes: Array[DataType]): () => Map[Seq[Any], Int] = {
    val spark = SparkSession.active
    import org.apache.spark.sql.functions.{col, max => fmax}
    import graft.table.GraftTable.{deleteBroadcastMaxRows, globEscape, pathVersionCol}
    // legacy delete files (rowCount -1) fall back to a footer-metadata
    // count — unknown size is a fallback, never an error
    val counts = delFiles.map(d =>
      if (d.rowCount >= 0) d.rowCount
      else spark.read.parquet(globEscape(s"$tableDir/${d.path}")).count())
    // ONE relation over every delete file with the commit version looked
    // up from the row's dir under the table root (pathVersionCol):
    // the plan stays O(1) in pending-delete count instead of one parquet
    // relation per file (same single-relation shape as GraftTable.dfAt)
    val delSchema = StructType(physKeys.indices.map(i =>
      StructField(physKeys(i), keyTypes(i), nullable = true)))
    // the shared lookup fails loudly on an unmatched path: a NULL __v
    // would NPE at the r.getInt below (or silently skew the max on the
    // scratch path)
    val raw = spark.read.schema(delSchema)
      .parquet(delFiles.map(d => globEscape(s"$tableDir/${d.path}")): _*)
    val merged = raw
      .withColumn("__v", pathVersionCol(raw, tableDir, delFiles.map(d => (d.path, d.version))))
      .groupBy(physKeys.map(col): _*).agg(fmax(col("__v")).as("__v"))
    if (counts.sum <= deleteBroadcastMaxRows(spark)) {
      val conv = keyTypes.map(
        org.apache.spark.sql.catalyst.CatalystTypeConverters.createToCatalystConverter)
      val dels: Map[Seq[Any], Int] = merged.collect().map { r =>
        val k: Seq[Any] = conv.indices.map(i => conv(i)(r.get(i)))
        k -> r.getInt(conv.length)
      }.toMap
      () => dels
    } else {
      // distributed merge: keys never touch the driver. The scratch
      // dir is content-addressed by the group's delete-file set, so
      // repeated scans of the same snapshot reuse both the file and
      // the executor cache (vacuum sweeps the scratch dir with the
      // other log sidecars).
      val tag = java.util.UUID.nameUUIDFromBytes(
        delFiles.map(d => s"${d.path}@${d.version}").mkString("|")
          .getBytes("UTF-8")).toString
      val scratch = s"$tableDir/_graft_log/scratch/del_$tag"
      val fs = new Path(scratch).getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(new Path(scratch, "_SUCCESS"))) {
        // write-then-rename: two sessions racing on the same snapshot
        // must never overwrite a scratch dir a concurrent reader is
        // consuming. Both write identical content (the tag is the
        // delete-file set), so the rename loser just deletes its copy.
        val attempt = s"${scratch}_w${java.util.UUID.randomUUID().toString.take(8)}"
        merged.write.mode("overwrite").parquet(attempt)
        if (!fs.rename(new Path(attempt), new Path(scratch)))
          fs.delete(new Path(attempt), true)
        else {
          // Hadoop rename into an EXISTING dir relocates the source
          // inside it and still returns true — if a racing winner got
          // there first, our copy is now nested junk; remove it (the
          // top-level listing below filters isFile, so reads were
          // never at risk, but the duplicate keys are real bytes)
          val nested = new Path(scratch, new Path(attempt).getName)
          if (fs.exists(nested)) fs.delete(nested, true)
        }
      }
      // loud, retryable failure if a pathological rename race left no
      // committed copy — an empty listing here would silently DROP the
      // pending deletes from the scan
      require(fs.exists(new Path(scratch, "_SUCCESS")),
        s"scratch delete-merge not committed at $scratch; rerun the scan")
      val files = fs.listStatus(new Path(scratch))
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .map(f => (f.getPath.toString, f.getLen)).toSeq
      val scratchSchema = StructType(
        keyTypes.zip(physKeys).map { case (dt, n) => StructField(n, dt, nullable = true) } :+
          StructField("__v", IntegerType, nullable = false))
      val readFunc = GraftShim.parquetFileReader(spark, scratchSchema, scratchSchema, Nil)
      val kt = keyTypes
      () => GraftScratchDeletes.load(scratch, files, readFunc, kt)
    }
  }

  /** Pushed filters re-addressed to in-file (physical) column names; a
    * filter on an unknown/renamed-away column is dropped (filters here
    * only skip row groups — Spark re-applies the full predicate). */
  def renamePushedFilter(f: Filter, phys: String => Option[String]): Option[Filter] = f match {
    case sources.EqualTo(a, v) => phys(a).map(sources.EqualTo(_, v))
    case sources.GreaterThan(a, v) => phys(a).map(sources.GreaterThan(_, v))
    case sources.GreaterThanOrEqual(a, v) => phys(a).map(sources.GreaterThanOrEqual(_, v))
    case sources.LessThan(a, v) => phys(a).map(sources.LessThan(_, v))
    case sources.LessThanOrEqual(a, v) => phys(a).map(sources.LessThanOrEqual(_, v))
    case sources.In(a, vs) => phys(a).map(sources.In(_, vs))
    case sources.IsNull(a) => phys(a).map(sources.IsNull(_))
    case sources.IsNotNull(a) => phys(a).map(sources.IsNotNull(_))
    case sources.And(l, r) =>
      for (lc <- renamePushedFilter(l, phys); rc <- renamePushedFilter(r, phys))
        yield sources.And(lc, rc)
    // Or is as safe as And here (purely-optional row-group skipping; Spark
    // re-applies the full predicate) — dropping it would decode every row
    // group on common disjunctions like `k = 1 OR k = 2`
    case sources.Or(l, r) =>
      for (lc <- renamePushedFilter(l, phys); rc <- renamePushedFilter(r, phys))
        yield sources.Or(lc, rc)
    case sources.StringStartsWith(a, v) =>
      phys(a).map(sources.StringStartsWith(_, v))
    case _ => None
  }
}

/** Projects rows back to the caller's schema after internal widening
  * (the widened delete-key columns sit at the tail, so the projection is
  * the leading prefix). */
private[catalog] final class GraftProjectingReaderFactory(
    inner: PartitionReaderFactory, out: StructType) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val r = inner.createReader(partition)
    new PartitionReader[InternalRow] {
      private val proj = org.apache.spark.sql.catalyst.ProjectingInternalRow(
        out, (0 until out.length).toIndexedSeq)
      override def next(): Boolean = r.next()
      override def get(): InternalRow = { proj.project(r.get()); proj }
      override def close(): Unit = r.close()
    }
  }
}

private[catalog] final class GraftBucketReaderFactory(
    readFunc: (String, Long) => Iterator[InternalRow],
    // metadata stamping: (name, output ordinal) for requested `_file` /
    // `_pos` columns. Rows are read without them; the values are appended
    // (in `stamped` order) and projected into place when not trailing.
    stamped: Seq[(String, Int)] = Nil,
    outTypes: Array[org.apache.spark.sql.types.DataType] = Array.empty,
    // add-version per output ordinal: a file committed before it reads
    // NULL there (0 = never gated)
    since: Array[Int])
    extends PartitionReaderFactory {

  // stamping layout is fixed at factory construction — computed once here
  // (and serialized with the factory), not once per file in the hot path
  private val fileRank = stamped.indexWhere(_._1 == GraftMetaCols.FILE)
  private val posRank = stamped.indexWhere(_._1 == GraftMetaCols.POS)
  private val nData = outTypes.length - stamped.length
  // identity when the meta columns ARE the trailing outputs in
  // stamped order; otherwise project appended-last into place
  private val identity = stamped.zipWithIndex.forall { case ((_, at), rank) =>
    at == nData + rank
  }
  private val ordinals: Array[Int] =
    (0 until outTypes.length).map { i =>
      val rank = stamped.indexWhere(_._2 == i)
      if (rank >= 0) nData + rank
      else i - stamped.count(_._2 < i)
    }.toArray

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftFilesPartition]
    new PartitionReader[InternalRow] {
      // OPTION_RETURNING_BATCH=false in the reader build guarantees plain
      // row iterators (never ColumnarBatch disguised as InternalRow)
      private val it: Iterator[InternalRow] = p.files.iterator
        .flatMap { f =>
          val base =
            if (stamped.isEmpty) readFunc(f.path, f.bytes)
            else {
              val metaRow = new GenericInternalRow(stamped.length)
              if (fileRank >= 0) metaRow.update(fileRank,
                org.apache.spark.unsafe.types.UTF8String.fromString(f.path))
              val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
              var pos = 0L
              readFunc(f.path, f.bytes).map { r =>
                if (posRank >= 0) { metaRow.update(posRank, pos); pos += 1 }
                joined(r, metaRow)
              }
            }
          // -1: an ordinal this file's commit predates reads NULL
          val map = ordinals.indices.map(i =>
            if (since(i) > f.version) -1 else ordinals(i)).toArray
          if (identity && !map.contains(-1)) base
          else base.map(new GraftReorderRow(map, outTypes, _))
        }
      private var cur: InternalRow = _
      override def next(): Boolean = { val has = it.hasNext; if (has) cur = it.next(); has }
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }
}

/** Ordinal-remapping InternalRow view (out ordinal i reads inner ordinal
  * `map(i)`; -1 reads NULL) — no per-row copying. */
private[catalog] final class GraftReorderRow(
    map: Array[Int], types: Array[org.apache.spark.sql.types.DataType],
    inner: InternalRow) extends InternalRow {
  import org.apache.spark.sql.types.{DataType, Decimal}
  import org.apache.spark.unsafe.types.{CalendarInterval, UTF8String, VariantVal}
  override def numFields: Int = map.length
  override def isNullAt(i: Int): Boolean = map(i) < 0 || inner.isNullAt(map(i))
  override def getBoolean(i: Int): Boolean = inner.getBoolean(map(i))
  override def getByte(i: Int): Byte = inner.getByte(map(i))
  override def getShort(i: Int): Short = inner.getShort(map(i))
  override def getInt(i: Int): Int = inner.getInt(map(i))
  override def getLong(i: Int): Long = inner.getLong(map(i))
  override def getFloat(i: Int): Float = inner.getFloat(map(i))
  override def getDouble(i: Int): Double = inner.getDouble(map(i))
  override def getDecimal(i: Int, p: Int, s: Int): Decimal = inner.getDecimal(map(i), p, s)
  override def getUTF8String(i: Int): UTF8String = inner.getUTF8String(map(i))
  override def getBinary(i: Int): Array[Byte] = inner.getBinary(map(i))
  override def getInterval(i: Int): CalendarInterval = inner.getInterval(map(i))
  override def getVariant(i: Int): VariantVal = inner.getVariant(map(i))
  override def getGeography(i: Int): org.apache.spark.unsafe.types.GeographyVal =
    inner.getGeography(map(i))
  override def getGeometry(i: Int): org.apache.spark.unsafe.types.GeometryVal =
    inner.getGeometry(map(i))
  override def getStruct(i: Int, n: Int): InternalRow = inner.getStruct(map(i), n)
  override def getArray(i: Int): org.apache.spark.sql.catalyst.util.ArrayData = inner.getArray(map(i))
  override def getMap(i: Int): org.apache.spark.sql.catalyst.util.MapData = inner.getMap(map(i))
  override def get(i: Int, dt: DataType): AnyRef = if (map(i) < 0) null else inner.get(map(i), dt)
  override def setNullAt(i: Int): Unit = throw new UnsupportedOperationException
  override def update(i: Int, v: Any): Unit = throw new UnsupportedOperationException
  override def copy(): InternalRow = {
    val vals = new Array[Any](map.length)
    var i = 0
    while (i < map.length) {
      vals(i) =
        if (isNullAt(i)) null
        else InternalRow.copyValue(inner.get(map(i), types(i)))
      i += 1
    }
    new GenericInternalRow(vals)
  }
}
