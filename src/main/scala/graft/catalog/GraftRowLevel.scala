package graft.catalog

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{GraftShim, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration
import graft.table.{GraftTable, Snapshot}

import java.util.UUID

/** Group-based DSv2 row-level operation: what makes plain
  * `spark.sql("UPDATE graft.ns.t SET … WHERE …")` and
  * `spark.sql("MERGE INTO graft.ns.t …")` work with NO GraftSql front —
  * Spark's RewriteUpdateTable/RewriteMergeIntoTable rewrite the statement
  * into ReplaceData over this operation's scan, and the replacement rows
  * arrive at [[GraftReplaceBatchWrite]], a real distributed batch write:
  *
  *  - executors write the rows through Spark's own parquet
  *    OutputWriterFactory ([[GraftShim.parquetWriterFactory]]) into a
  *    fresh data dir, with the table's PHYSICAL column names (order is
  *    positional, so renaming is just the dataSchema passed to the
  *    writer);
  *  - the driver's commit() stamps ONE overwrite snapshot via the normal
  *    OCC log machinery — deletes fold away exactly like
  *    [[GraftTable.overwrite]].
  *
  * The group is the whole table (the scan reports no finer granularity),
  * so this is copy-on-write at table scope — the same cost shape as the
  * engine's other DML paths. Partitioned/sorted tables re-route the
  * replacement rows through [[GraftTable.overwrite]]'s clustering write
  * at commit (one extra write, layout contract kept).
  */
final class GraftRowLevelOperation(table: GraftTable,
                                   // the relation's snapshot, which this
                                   // statement operates on: scan and commit
                                   // both bind to it, so a concurrent commit
                                   // mid-statement aborts instead of being
                                   // silently overwritten by replacement rows
                                   // computed from stale state
                                   snap: Snapshot,
                                   cmd: RowLevelOperation.Command)
    extends RowLevelOperation {

  // runtime group filter result: the scan records which data dirs
  // actually contain condition-matched rows (None = filter never fired
  // → whole-table replace); the commit swaps exactly those dirs
  private val groupFilter =
    new java.util.concurrent.atomic.AtomicReference[Option[Set[String]]](None)

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String = s"GraftRowLevelOperation($cmd, ${table.dir})"

  // asking for `_file` is what arms Spark's
  // RowLevelOperationRuntimeGroupFiltering: it computes the DISTINCT
  // `_file` of matching rows and pushes the set into the scan at runtime.
  // A user DATA column named `_file` shadows the metadata column — the
  // group filter would then key on data values, prune wrongly, and
  // silently no-op the statement, so such tables take the plain
  // whole-table replace
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (snap.schema.fieldNames.contains(GraftMetaCols.FILE))
      Array.empty
    else
      Array(org.apache.spark.sql.connector.expressions.Expressions.column(GraftMetaCols.FILE))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(table, snap, batchOnly = true,
      pushIntoReader = false, groupFilter = Some(groupFilter))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new GraftReplaceBatchWrite(table, snap, info.schema(), groupFilter)
      }
    }
}

/** Distributed replacement write: parquet files per task + one OCC
  * commit on the driver — a whole-table replace, or, when runtime group
  * filtering fired, a swap of exactly the dirs the scan kept. */
private final class GraftReplaceBatchWrite(t: GraftTable, snap: Snapshot,
    querySchema: StructType,
    groupFilter: java.util.concurrent.atomic.AtomicReference[Option[Set[String]]])
    extends BatchWrite {

  private def spark: SparkSession = SparkSession.active
  private val dir = t.dir
  private val baseVersion = snap.version
  private val sub = s"data/${UUID.randomUUID()}"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    // physical file schema in the QUERY's column order (rows are
    // positional; names come from this schema)
    val physSchema = GraftStagedFiles.physSchemaOf(snap, querySchema)
    val (factory, conf) = GraftShim.parquetWriterFactory(spark, physSchema)
    new GraftParquetWriterFactory(s"$dir/$sub", physSchema, factory, conf)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val rows = messages.collect { case m: GraftFileCommit => m.rows }.sum
    groupFilter.get() match {
      case Some(replacedDirs) =>
        // runtime group filtering fired: the scan read ONLY these dirs,
        // so the replacement rows cover exactly them — swap them, keep
        // every untouched dir verbatim (a 100 TB UPDATE touches the
        // dirs with matched rows, not the table)
        if (snap.spec.isEmpty && snap.key.isEmpty) {
          t.commitReplaceDirs(sub, rows, replacedDirs, baseVersion)
        } else {
          val df =
            if (rows == 0L) t.dfAt(snap).limit(0)
            else GraftStagedFiles.readLogical(spark, dir, sub, snap, querySchema)
          val (csub, crows) = t.writeClustered(df, snap)
          t.commitReplaceDirs(csub, crows, replacedDirs, baseVersion)
          abort(messages) // raw executor dir was scratch
        }
      case None if snap.spec.isEmpty && snap.key.isEmpty =>
        t.commitReplace(sub, rows, baseVersion) // executor files ARE the layout
      case None =>
        // partitioned/sorted layout: run the replacement rows back through
        // the table's clustering write (partition dirs, key-sorted files) —
        // one extra write, same whole-table-replace semantics
        val df =
          if (rows == 0L) t.dfAt(snap).limit(0)
          else GraftStagedFiles.readLogical(spark, dir, sub, snap, querySchema)
        t.overwriteExpecting(df, baseVersion)
        abort(messages) // raw epoch dir was scratch
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftStagedFiles.deleteDir(spark, dir, sub)
}

private[catalog] final case class GraftFileCommit(path: String, rows: Long)
    extends WriterCommitMessage

/** Executor-side parquet task writer (shared by the row-level ReplaceData
  * write and the streaming sink): one file per non-empty task, physical
  * column names, DELETE-marked rows skipped when the operation column is
  * present. */
private[catalog] final class GraftParquetWriterFactory(
    targetDir: String, physSchema: StructType,
    factory: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    conf: SerializableConfiguration) extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      // task-attempt lifecycle: rows stream into a HIDDEN in-progress
      // file (leading dot — invisible to *.parquet listings and to
      // spark.read), which task COMMIT renames to its final name and
      // task ABORT deletes. Commits reference the directory, so only
      // files of committed attempts may ever carry the .parquet suffix
      // there (failed/speculative-loser attempts leave nothing behind;
      // Spark's commit coordinator guarantees one committed attempt per
      // partition).
      private val finalPath = s"$targetDir/part-$partitionId-$taskId.parquet"
      private val tmpPath = s"$targetDir/.part-$partitionId-$taskId.parquet.inprogress"
      private var rows = 0L
      // opened on first row: empty tasks leave no file behind
      private var writer: org.apache.spark.sql.execution.datasources.OutputWriter = _
      // ReplaceData queries prepend RowDeltaUtils.OPERATION_COLUMN; when
      // the runtime row is one field wider than the data schema, field 0
      // is that marker: skip DELETE-marked rows, strip it from the rest
      private val proj = org.apache.spark.sql.catalyst.ProjectingInternalRow(
        physSchema, (1 to physSchema.length).toIndexedSeq)

      override def write(record: InternalRow): Unit = {
        val out =
          if (record.numFields == physSchema.length + 1) {
            val op = record.getInt(0)
            if (op == org.apache.spark.sql.catalyst.util.RowDeltaUtils.DELETE_OPERATION) return
            proj.project(record)
            proj
          } else record
        if (writer == null)
          writer = GraftShim.newParquetOutputWriter(
            factory, conf, tmpPath, physSchema, partitionId, taskId)
        writer.write(out)
        rows += 1
      }
      override def commit(): WriterCommitMessage = {
        if (writer != null) {
          writer.close()
          val fs = new Path(targetDir).getFileSystem(conf.value)
          if (!fs.rename(new Path(tmpPath), new Path(finalPath)))
            throw new java.io.IOException(s"task commit rename failed: $tmpPath -> $finalPath")
        }
        GraftFileCommit(finalPath, rows)
      }
      override def abort(): Unit = {
        if (writer != null) { try writer.close() catch { case _: Exception => } }
        try {
          val fs = new Path(targetDir).getFileSystem(conf.value)
          fs.delete(new Path(tmpPath), false)
        } catch { case _: Exception => }
      }
      override def close(): Unit = ()
    }
}

/** Delta-based (merge-on-read) DSv2 row-level operation — chosen over
  * the group-based rewrite when the table has an upsert key and format
  * v2 (the layouts where MoR is defined). Instead of rewriting the
  * whole table, Spark's WriteDelta plan delivers only the CHANGED rows:
  * deletes/update-olds as rowId projections, inserts/update-news as
  * full rows (`representUpdateAsDeleteAndInsert`). Executors split them
  * into an equality-delete key file and a data file; the driver commits
  * both as one `rowdelta` snapshot — at 100 TB a one-row SQL UPDATE
  * costs one key file + one row file, not a table rewrite (the
  * copy-on-write vs merge-on-read trade, Iceberg's
  * `write.update.mode`). Sequence-number semantics make it sound: the
  * delete file applies to strictly-older commits only, so reinserted
  * rows survive their own key's delete. */
final class GraftDeltaOperation(table: GraftTable,
                                // the snapshot this statement's deltas are
                                // computed against (see GraftRowLevelOperation)
                                snap: Snapshot,
                                cmd: RowLevelOperation.Command)
    extends RowLevelOperation with SupportsDelta {

  private val keys = snap.key

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"GraftDeltaOperation($cmd, ${table.dir})"

  // delta scans keep reader pushdown: a row skipped by footer stats just
  // produces no delta (its file is never replaced) — at scale a point
  // UPDATE touches one file, not the table
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(table, snap, batchOnly = true)

  override def rowId(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    keys.map(org.apache.spark.sql.connector.expressions.Expressions.column).toArray

  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new DeltaWrite {
        override def toBatch: DeltaBatchWrite =
          new GraftDeltaBatchWrite(table, snap, info.schema(),
            info.rowIdSchema().orElse(null))
      }
    }
}

/** Distributed MoR write: per task, one data file + one delete-key file
  * (each created lazily on first row), then one rowDelta commit. */
private final class GraftDeltaBatchWrite(t: GraftTable, snap: Snapshot,
                                         rowSchema: StructType, idSchema: StructType)
    extends DeltaBatchWrite {

  private def spark: SparkSession = SparkSession.active
  private val dir = t.dir
  private val keys = snap.key
  private val dataSub = s"data/${UUID.randomUUID()}"
  private val delSub = s"deletes/${UUID.randomUUID()}"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory = {
    def phys(s: StructType) = GraftStagedFiles.physSchemaOf(snap, s)
    val physRow = phys(rowSchema)
    val physId = phys(Option(idSchema).getOrElse(
      StructType(keys.map(k => snap.schema(k)))))
    val (rowF, rowC) = GraftShim.parquetWriterFactory(spark, physRow)
    val (idF, idC) = GraftShim.parquetWriterFactory(spark, physId)
    new GraftDeltaWriterFactory(
      new GraftParquetWriterFactory(s"$dir/$dataSub", physRow, rowF, rowC),
      new GraftParquetWriterFactory(s"$dir/$delSub", physId, idF, idC))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val ms = messages.collect { case m: GraftDeltaCommit => m }
    val dataRows = ms.map(_.dataRows).sum
    val delRows = ms.map(_.delRows).sum
    // partitioned layouts REQUIRE the k=v dirs + in-file derived columns
    // (a bucketed scan lists bucket subdirs; a pruned scan filters the
    // derived column): re-route the delta's data files through the
    // clustering write. Delete-key files carry no layout contract.
    // Key-only (unpartitioned) tables keep raw files — the sort is a
    // read optimization, not a correctness contract.
    val finalDataSub =
      if (snap.spec.isEmpty || dataRows == 0L) dataSub
      else {
        val df = GraftStagedFiles.readLogical(spark, dir, dataSub, snap, rowSchema)
        val (sub, _) = t.writeClustered(df, snap)
        GraftStagedFiles.deleteDir(spark, dir, dataSub)
        sub
      }
    t.commitDelta(finalDataSub, dataRows, delSub, delRows, keys, snap.version)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    GraftStagedFiles.deleteDir(spark, dir, dataSub)
    GraftStagedFiles.deleteDir(spark, dir, delSub)
  }
}

private final case class GraftDeltaCommit(dataRows: Long, delRows: Long)
    extends WriterCommitMessage

private final class GraftDeltaWriterFactory(
    dataF: GraftParquetWriterFactory, delF: GraftParquetWriterFactory)
    extends DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new DeltaWriter[InternalRow] {
      private val dataW = dataF.createWriter(partitionId, taskId)
      private val delW = delF.createWriter(partitionId, taskId)

      override def insert(row: InternalRow): Unit = dataW.write(row)
      override def reinsert(meta: InternalRow, row: InternalRow): Unit = dataW.write(row)
      override def delete(meta: InternalRow, id: InternalRow): Unit = delW.write(id)
      override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit = {
        delW.write(id); dataW.write(row)
      }

      override def commit(): WriterCommitMessage = {
        val d = dataW.commit().asInstanceOf[GraftFileCommit]
        val k = delW.commit().asInstanceOf[GraftFileCommit]
        GraftDeltaCommit(d.rows, k.rows)
      }
      override def abort(): Unit = { dataW.abort(); delW.abort() }
      override def close(): Unit = { dataW.close(); delW.close() }
    }
}

/** Shared staged-parquet plumbing for the DSv2 writes that stage raw
  * executor output and re-route it through the table's own write paths
  * (replace, delta, streaming sink, dynamic overwrite). */
private[catalog] object GraftStagedFiles {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions.col

  /** Physical file schema in the query's column order. */
  def physSchemaOf(snap: graft.table.Snapshot, querySchema: StructType): StructType =
    StructType(querySchema.fields.map(f =>
      StructField(snap.physicalOf(f.name), f.dataType, nullable = true)))

  /** Read a staged raw-parquet dir back under LOGICAL column names. */
  def readLogical(spark: SparkSession, tableDir: String, sub: String,
                  snap: graft.table.Snapshot, querySchema: StructType): DataFrame =
    spark.read.schema(physSchemaOf(snap, querySchema))
      .parquet(graft.table.GraftTable.globEscape(s"$tableDir/$sub"))
      .select(querySchema.fields.map(f =>
        col(s"`${snap.physicalOf(f.name)}`").as(f.name)).toIndexedSeq: _*)

  def deleteDir(spark: SparkSession, tableDir: String, sub: String): Unit = {
    val p = new Path(s"$tableDir/$sub")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }
}
