package graft.catalog

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession, Column => SCol}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.expressions.filter.{AlwaysTrue, Predicate}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsOverwriteV2, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, Filter, InsertableRelation, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.table.{GraftTable, PartitionField, Snapshot}

import java.util
import scala.jdk.CollectionConverters._

/** The DSv2 `Table` served by [[GraftCatalog.loadTable]] — the surface
  * behind `df.writeTo("graft.ns.t").append()` / `.overwritePartitions()`,
  * plain-SQL `INSERT INTO graft.ns.t`, and programmatic
  * `catalog.createTable(...).loadTable(...)` (the reference's primary
  * write API: `/root/reference/src/main/java/IcebergJavaApiAppend.java:55-69`).
  *
  * Writes use Spark's V1 write fallback ([[V1Write]] →
  * [[InsertableRelation]]): the aligned query DataFrame is handed to
  * [[GraftTable.append]]/[[GraftTable.overwrite]], so the DSv2 path
  * commits through exactly the same snapshot-log machinery as the Scala
  * API — AQE-rebalanced/range-clustered file layout, observed row-count
  * stats, OCC commit. No second write implementation to keep consistent.
  *
  * Reads: sessions built with [[GraftSparkSessionExtensions]] never scan
  * through this class — the resolution rule swaps read-position
  * relations for the analyzed plan of the snapshot's
  * [[GraftTable.dfAt]] (full vectorized-scan pushdown). The [[V1Scan]]
  * fallback here keeps catalog reads *correct* on sessions without the
  * extensions (column pruning pushed, filters forwarded to the
  * snapshot's pruned scan for transform/footer skipping, then re-applied
  * by Spark).
  *
  * One table is one snapshot: [[snapshot]] is resolved once, at first use
  * after any pending create, and every callback and analyzer rule reads
  * it — a statement plans against one version, and only a commit's
  * concurrency check reads the head again. A DataFrame that keeps this
  * table keeps that version.
  */
final class GraftSparkTable(val dir: String, tableName: String,
                            val at: GraftSparkTable.ReadAt = GraftSparkTable.AtHead,
                            // path write to a location with no table yet:
                            // the table is created ON FIRST WRITE with this
                            // schema/spec — a read of the missing path must
                            // error, never side-effect a table onto disk
                            pendingCreate: Option[(StructType, Seq[PartitionField])] = None,
                            // .option("keepScan", true): never swap this
                            // relation for its snapshot plan — required when a
                            // LATER DataFrame transformation will reference
                            // metadata columns (the bare load() analyzes
                            // before any projection exists, so the rewrite
                            // rule cannot see the upcoming meta reference)
                            val keepScan: Boolean = false)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  private def spark: SparkSession = SparkSession.active
  private def existsOnDisk: Boolean = GraftTable.exists(spark, dir)
  private def isPending: Boolean = pendingCreate.isDefined && !existsOnDisk
  lazy val graftTable: GraftTable = GraftTable.load(spark, dir)
  /** The snapshot this relation reads, resolved once (see the class doc). */
  lazy val snapshot: Snapshot = GraftSparkTable.resolve(graftTable, at)
  /** Pinned to a version, ref or commit time: read-only, never streamed. */
  def pinned: Boolean = at != GraftSparkTable.AtHead

  /** Creates the pending table (write path only); no-op when it exists —
    * a concurrent creator winning the race is fine, the write appends to
    * whichever creation landed. */
  private def ensureCreated(): Unit = pendingCreate.foreach { case (s, spec) =>
    if (!existsOnDisk)
      try GraftTable.create(spark, dir, s, spec = spec)
      catch { case _: IllegalArgumentException if existsOnDisk => }
  }

  override def name(): String =
    tableName + (if (pinned && !isPending) s"@v${snapshot.version}" else "")
  /** Upsert-key columns surface as non-nullable — semantically true (a
    * NULL key can never be upsert-matched) and required by Spark's
    * delta-based row-level rewrites (rowId attributes must be non-null;
    * ANSI store assignment guards writes with runtime null checks). */
  override def schema(): StructType = {
    if (isPending) return pendingCreate.get._1
    val s = snapshot
    StructType(s.schema.fields.map(f =>
      if (s.key.contains(f.name)) f.copy(nullable = false) else f))
  }
  override def columns(): Array[Column] = schema().fields.map { f =>
    Column.create(f.name, f.dataType, f.nullable, f.getComment().orNull, null)
  }

  /** `_file` (the data file each row was read from) — queryable row
    * provenance AND the group identity runtime group filtering keys on
    * (see [[GraftMetaCols]]). A user DATA column named `_file` shadows
    * the metadata column entirely (no advertisement, no reader stamping
    * — the data values win, matching Spark's shadowing contract). */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] = {
    val names = schema().fieldNames
    // a user DATA column shadows its metadata column independently
    Array[org.apache.spark.sql.connector.catalog.MetadataColumn](
      GraftMetaCols.FileColumn, GraftMetaCols.PosColumn)
      .filterNot(m => names.contains(m.name))
  }

  override def partitioning(): Array[Transform] =
    (if (isPending) pendingCreate.get._2 else snapshot.spec).map {
      case PartitionField(src, "identity", _) => Expressions.identity(src)
      case PartitionField(src, "bucket", n)   => Expressions.bucket(n, src)
      // Iceberg-exact bucket rides through DSv2 as a named transform;
      // deliberately NOT Expressions.bucket — storage-partitioned-join
      // eligibility (below) keys on the engine-hash "bucket" whose V2
      // bound function matches the write path, and ibucket has no such
      // registered function (SPJ stays off for it, which is sound)
      case PartitionField(src, "ibucket", n)  =>
        Expressions.apply("ibucket", Expressions.literal(n), Expressions.column(src))
      case PartitionField(src, "month", _)    => Expressions.months(src)
      case PartitionField(src, "truncate", w) =>
        Expressions.apply("truncate", Expressions.literal(w), Expressions.column(src))
      case pf => throw new IllegalStateException(s"unknown transform in spec: $pf")
    }.toArray

  override def properties(): util.Map[String, String] = {
    if (isPending) {
      val m = new util.HashMap[String, String]()
      m.put("provider", "graft")
      return m
    }
    val s = snapshot
    val m = new util.HashMap[String, String]()
    m.put("format-version", s.formatVersion.toString)
    m.put("provider", "graft")
    if (s.key.nonEmpty) m.put("key", s.key.mkString(","))
    if (s.bloomKeys.nonEmpty) m.put("graft.bloom-keys", s.bloomKeys.mkString(","))
    if (s.statsKeys.nonEmpty) m.put("graft.stats-keys", s.statsKeys.mkString(","))
    // free-form snapshot-log properties (SET TBLPROPERTIES) — shown by
    // SHOW TBLPROPERTIES like any DSv2 table's
    s.properties.foreach { case (k, v) => m.put(k, v) }
    m
  }

  override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
    TableCapability.BATCH_READ,
    TableCapability.MICRO_BATCH_READ,
    // BATCH_WRITE advertises writability to DataFrameWriter.save()'s
    // capability gate; the build() below still yields a V1Write, which the
    // planner's V1 fallback routes into the snapshot-log commit machinery
    TableCapability.BATCH_WRITE,
    TableCapability.V1_BATCH_WRITE,
    TableCapability.STREAMING_WRITE,
    TableCapability.TRUNCATE,
    TableCapability.OVERWRITE_BY_FILTER,
    TableCapability.OVERWRITE_DYNAMIC,
    // arms `MERGE WITH SCHEMA EVOLUTION`: extra source columns become
    // catalog alterTable(AddColumn) calls before clause resolution
    // (without the capability Spark silently ignores the extras)
    TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // a user-supplied read schema bypasses inferSchema — reads of a
    // missing path must fail HERE, not auto-create an empty table
    if (isPending) throw new IllegalArgumentException(
      s"no graft table at $dir (reads do not create tables)")
    new GraftScanBuilder(graftTable, snapshot, pinned,
      skipReplaceCommits = options.getBoolean("skipReplaceCommits", false),
      maxVersionsPerBatch = Option(options.get("maxVersionsPerBatch")).map(_.toInt))
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(!pinned, "cannot write to a VERSION/TIMESTAMP AS OF relation")
    ensureCreated() // a write (and only a write) creates a fresh-path table
    new GraftWriteBuilder(dir, info)
  }

  // Plain `spark.sql` UPDATE / MERGE (and non-filter-translatable
  // DELETE): Spark rewrites the statement into ReplaceData over this
  // group-based operation — see GraftRowLevelOperation.
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(!pinned, "cannot modify a VERSION/TIMESTAMP AS OF relation")
    // pending equality deletes are applied reader-side by the row-level
    // scan (size-gated), so MoR DML chains without compacting between
    // statements
    // keyed v2 tables get merge-on-read deltas (a sparse UPDATE writes
    // one key file + one row file); everything else rewrites the group
    if (snapshot.key.nonEmpty && snapshot.formatVersion >= 2)
      () => new GraftDeltaOperation(graftTable, snapshot, info.command)
    else
      () => new GraftRowLevelOperation(graftTable, snapshot, info.command)
  }

  // Plain `spark.sql("DELETE FROM graft.ns.t WHERE …")` — Spark routes a
  // fully filter-translatable condition here (copy-on-write through the
  // same snapshot machinery as GraftTable.delete / GraftSql).
  override def canDeleteWhere(filters: Array[sources.Filter]): Boolean =
    !pinned && filters.forall(f => GraftSparkTable.filterToColumn(f).isDefined)

  override def deleteWhere(filters: Array[sources.Filter]): Unit = {
    val pred = filters.flatMap(GraftSparkTable.filterToColumn)
      .reduceOption(_ && _).getOrElse(lit(true))
    graftTable.delete(pred)
  }
}

object GraftSparkTable {
  /** Which snapshot a relation reads: the head, or one pinned by
    * `VERSION AS OF` (a number or a ref name) or `TIMESTAMP AS OF`. */
  sealed trait ReadAt
  case object AtHead extends ReadAt
  final case class AtVersion(version: Int) extends ReadAt
  final case class AtRef(name: String) extends ReadAt
  final case class AtTime(millis: Long) extends ReadAt

  /** `VERSION AS OF` text: a number is a version, anything else a ref. */
  def atVersionOrRef(v: String): ReadAt =
    v.trim.toIntOption.map(AtVersion(_)).getOrElse(AtRef(v.trim))

  /** The one resolver of a relation's snapshot; a pinned version that
    * expiry has marked fails here, before anything is planned. */
  def resolve(t: GraftTable, at: ReadAt): Snapshot = {
    val v = at match {
      case AtHead => return t.snapshot
      case AtVersion(n) => n
      case AtRef(name) => t.refOf(name).version
      case AtTime(ms) => t.versionAsOfTimestamp(ms)
    }
    val s = t.snapshotAt(v)
    require(s.op != "expired",
      s"snapshot v$v has been expired (expireSnapshots); cannot time travel to it")
    s
  }

  /** A table reads through [[GraftBucketedScan]] (partition-reporting
    * Batch) when its layout is exactly one bucket field with no pending
    * equality deletes — the storage-partitioned-join shape. */
  def spjEligible(s: Snapshot): Boolean =
    s.spec.length == 1 && s.spec.head.transform == "bucket" &&
      s.deletes.isEmpty && s.dataDirs.nonEmpty &&
      // spec evolution: a dir written under an older spec has a different
      // bucket layout — grouping it by the current bucket function would
      // co-locate the wrong rows
      s.uniformSpec

  /** Column form of a DSv2 source Filter (None = not convertible). */
  def filterToColumn(f: sources.Filter): Option[SCol] = {
    def c(n: String) = col(s"`$n`")
    f match {
      case sources.EqualTo(a, v)            => Some(c(a) === lit(v))
      case sources.EqualNullSafe(a, v)      => Some(c(a) <=> lit(v))
      case sources.GreaterThan(a, v)        => Some(c(a) > lit(v))
      case sources.GreaterThanOrEqual(a, v) => Some(c(a) >= lit(v))
      case sources.LessThan(a, v)           => Some(c(a) < lit(v))
      case sources.LessThanOrEqual(a, v)    => Some(c(a) <= lit(v))
      case sources.In(a, vs)                => Some(c(a).isin(vs.toIndexedSeq: _*))
      case sources.IsNull(a)                => Some(c(a).isNull)
      case sources.IsNotNull(a)             => Some(c(a).isNotNull)
      case sources.StringStartsWith(a, v)   => Some(c(a).startsWith(v))
      case sources.StringEndsWith(a, v)     => Some(c(a).endsWith(v))
      case sources.StringContains(a, v)     => Some(c(a).contains(v))
      case _: sources.AlwaysTrue            => Some(lit(true))
      case _: sources.AlwaysFalse           => Some(lit(false))
      case sources.Not(x)                   => filterToColumn(x).map(!_)
      case sources.Or(l, r) =>
        for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc || rc
      case sources.And(l, r) =>
        for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc && rc
      case _ => None
    }
  }
}

/** Append / truncate-overwrite / dynamic-partition-overwrite write
  * builder; batch `build()` yields the V1 fallback that routes the query
  * DataFrame into the snapshot log; `toStreaming` serves
  * `writeStream.format("graft")` / `.toTable` (the streaming planner
  * calls truncate() first under OutputMode.Complete). */
private final class GraftWriteBuilder(dir: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsOverwriteV2
    with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite
    // update-mode streams deliver changed rows as appends (the Kafka/
    // console contract); with option("upsertKeys", ...) the sink applies
    // them as keyed MoR upserts, without it they append (documented)
    with org.apache.spark.sql.internal.connector.SupportsStreamingUpdateAsAppend {
  private var replace = false
  private var dynamic = false

  override def truncate(): WriteBuilder = { replace = true; this }

  override def overwriteDynamicPartitions(): WriteBuilder = { dynamic = true; this }

  override def overwrite(predicates: Array[Predicate]): WriteBuilder = {
    // INSERT OVERWRITE / writeTo().overwrite(lit(true)) arrive as a single
    // AlwaysTrue; predicate-scoped overwrite is GraftSql's DELETE+INSERT
    require(predicates.forall(_.isInstanceOf[AlwaysTrue]),
      s"graft supports overwrite by truncation only; for conditional " +
        s"rewrites use DELETE/MERGE (got: ${predicates.map(_.describe()).mkString(", ")})")
    replace = true
    this
  }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation = new InsertableRelation {
      override def insert(data: DataFrame, overwrite: Boolean): Unit = {
        val t = GraftTable.load(data.sparkSession, dir)
        if (replace || overwrite) t.overwrite(data) else t.append(data)
      }
    }
    // dynamic partition overwrite has NO V1 fallback in Spark
    // (OverwritePartitionsDynamicExec calls toBatch directly): stage the
    // rows as raw parquet, then commit through overwriteDynamic
    override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
      if (dynamic) new GraftDynamicBatchWrite(dir, info.schema())
      else super.toBatch
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      val upsertKeys = Option(info.options.get("upsertKeys"))
        .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Seq.empty)
      new GraftStreamingWrite(dir, info.schema(), info.queryId(), replace,
        upsertKeys, Option(info.options.get("upsertOrderBy")).map(_.trim))
    }
  }
}

/** Fallback read: prunes columns at the source, forwards convertible
  * filters to the snapshot's pruned scan (transform pruning + parquet
  * footer skipping), and reports everything as residual so Spark
  * re-applies the full predicate — pushdown is an optimization here,
  * never a contract. Every routing decision (SPJ eligibility,
  * metadata-column shadowing, position-delete routing), the size
  * estimate and the rows read come from `snap`, the relation's one
  * snapshot; `pinned` relations (time travel) take neither the bucketed
  * scan nor a stream. */
private[catalog] final class GraftScanBuilder(table: GraftTable, snap: Snapshot,
    pinned: Boolean = false, batchOnly: Boolean = false,
    skipReplaceCommits: Boolean = false, pushIntoReader: Boolean = true,
    maxVersionsPerBatch: Option[Int] = None,
    groupFilter: Option[java.util.concurrent.atomic.AtomicReference[Option[Set[String]]]] = None)
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters {

  private var required: StructType = snap.schema
  private var accepted: Array[Filter] = Array.empty
  private var pred: Option[SCol] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // group-based ReplaceData: the scan's output IS the replacement data —
    // skipping a file whose rows don't match the condition would DROP
    // those rows from the table, so nothing may be pushed into the reader.
    // (Delta scans DO push: an unmatched row just produces no delta.)
    if (!pushIntoReader) return filters
    accepted = filters.filter(f => GraftSparkTable.filterToColumn(f).isDefined)
    pred = accepted.flatMap(GraftSparkTable.filterToColumn).reduceOption(_ && _)
    filters // all residual: Spark re-evaluates, we only use them to skip files
  }
  override def pushedFilters(): Array[Filter] = accepted

  override def build(): Scan = {
    // row-level operations plan their scan as a real Batch (no V1 path)
    if (batchOnly) return new GraftFlatBatchScan(table, snap, required, accepted, groupFilter)
    // single-bucket-spec tables with no deletes get the partition-reporting
    // Batch scan, unlocking storage-partitioned (shuffle-free) joins
    // (current-snapshot reads only; version-pinned reads take the V1 path)
    if (!pinned && GraftSparkTable.spjEligible(snap))
      return new GraftBucketedScan(table, snap, required, accepted,
        skipReplaceCommits, maxVersionsPerBatch)
    // a METADATA `_file`/`_pos` request needs the DSv2 reader (it stamps
    // real file paths / row positions and applies deletes reader-side;
    // the view path's input_file_name is illegal past multi-source plans
    // and has no position at all). A DATA column of the same name
    // shadows its metadata column and reads normally. Pending POSITION
    // deletes force the same route: only the stamping reader can apply a
    // delete keyed on (_file, _pos).
    val wantsMeta = Seq(GraftMetaCols.FILE, GraftMetaCols.POS).exists(m =>
      required.fieldNames.contains(m) && !snap.schema.fieldNames.contains(m))
    val hasPosDeletes =
      snap.deletes.exists(_.keys == graft.table.GraftTable.PosDeleteKeys)
    if (wantsMeta || hasPosDeletes)
      return new GraftFlatBatchScan(table, snap, required, accepted)
    val schema = required
    new V1Scan {
      override def readSchema(): StructType = schema
      override def toMicroBatchStream(checkpointLocation: String)
          : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
        require(!pinned, "cannot stream a VERSION/TIMESTAMP AS OF relation")
        new GraftMicroBatchStream(table, schema, accepted, skipReplaceCommits,
          maxVersionsPerBatch)
      }
      override def toV1TableScan[T <: BaseRelation with TableScan](context: SQLContext): T =
        new BaseRelation with TableScan {
          override def sqlContext: SQLContext = context
          override def schema: StructType = readSchema()
          // real file sizes (metadata-only listing) of the snapshot the
          // rows come from, instead of the never-broadcast default —
          // small graft dims broadcast in joins
          override def sizeInBytes: Long = table.dataSizeBytes(snap) max 1L
          override def buildScan(): RDD[Row] =
            // (a metadata `_file` request never reaches this V1 path —
            // build() routes it to the flat Batch scan above)
            pred.fold(table.dfAt(snap))(table.scanAt(snap, _))
              .select(readSchema().fieldNames.toIndexedSeq.map(n => col(s"`$n`")): _*).rdd
        }.asInstanceOf[T]
    }
  }
}

/** Distributed staging write for dynamic partition overwrite: executors
  * write raw parquet into a scratch dir, the driver reads it back and
  * commits through [[GraftTable.overwriteDynamic]] (which scopes the
  * replace to exactly the partitions present), then the scratch dir is
  * removed. */
private final class GraftDynamicBatchWrite(dir: String, querySchema: StructType)
    extends org.apache.spark.sql.connector.write.BatchWrite {

  import org.apache.spark.sql.connector.write._
  private def spark: SparkSession = SparkSession.active
  private val sub = s"staging/${java.util.UUID.randomUUID()}"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val snap = GraftTable.load(spark, dir).snapshot
    val physSchema = GraftStagedFiles.physSchemaOf(snap, querySchema)
    val (factory, conf) = org.apache.spark.sql.GraftShim.parquetWriterFactory(spark, physSchema)
    new GraftParquetWriterFactory(s"$dir/$sub", physSchema, factory, conf)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val rows = messages.collect { case m: GraftFileCommit => m.rows }.sum
    try {
      if (rows > 0L) {
        val t = GraftTable.load(spark, dir)
        t.overwriteDynamic(
          GraftStagedFiles.readLogical(spark, dir, sub, t.snapshot, querySchema))
      }
    } finally abort(messages)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftStagedFiles.deleteDir(spark, dir, sub)
}
