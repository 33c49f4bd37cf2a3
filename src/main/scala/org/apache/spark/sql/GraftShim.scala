package org.apache.spark.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.paths.SparkPath

/** Minimal accessor into `private[sql]` Spark API: builds a DataFrame
  * from a LogicalPlan (used by graft.sql.GraftSql to execute the query
  * part of parsed INSERT/MERGE statements). Standard extension-library
  * technique — `private[sql]` members are public in bytecode and this
  * object lives in the sql package to access them directly. */
object GraftShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Column ↔ catalyst Expression bridges (Spark 4 removed Column.expr). */
  def expression(c: Column): catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)
  def column(e: catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** `c`, declared non-nullable to the optimizer (Catalyst's
    * `KnownNotNull`); the caller guarantees it never yields NULL. */
  def knownNotNull(c: Column): Column =
    column(catalyst.expressions.KnownNotNull(expression(c)))

  /** Free the block-store blocks behind an eager `localCheckpoint`ed
    * Dataset NOW. `Dataset.unpersist` goes through the cacheManager and
    * is a NO-OP for checkpoint RDDs — without this the blocks sit in the
    * block store until GC + ContextCleaner get to them, and a long-lived
    * session (Bench's 114-query JVM) accumulates them into real
    * execution-memory pressure.
    *
    * ROOT-ONLY on purpose: the frame's plan may chain through cached
    * (recomputable) frames to OTHER checkpoint LogicalRDDs that are
    * still live lineage for them — unpersisting every LogicalRDD in the
    * tree would free blocks a later cache-miss recompute still needs.
    * Only the checkpoint this frame IS (its root) is known to be done
    * with. Only call once the frame is fully consumed: a
    * localCheckpoint's lineage is truncated, so its blocks ARE the data
    * and the frame is unreadable afterwards. */
  def dropCheckpointBlocks(df: Dataset[_]): Unit =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed match {
      case lr: execution.LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ =>
    }

  /** Neutral view of a Column's (private[sql]) ColumnNode tree, for
    * predicate analysis outside the sql package (transform pruning). */
  sealed trait Node
  final case class FnNode(name: String, args: Seq[Node]) extends Node
  final case class AttrNode(name: String) extends Node
  final case class LitNode(value: Any) extends Node
  case object OtherNode extends Node

  /** Serializable per-file parquet row reader built from Spark's own
    * ParquetFileFormat (vectorized machinery, footer filter pushdown,
    * missing-column-as-null schema evolution) — lets a custom DSv2 Batch
    * scan read files without a second parquet implementation. The
    * returned closure is driver-built (it broadcasts the hadoop conf
    * internally) and is shipped to executors inside a reader factory. */
  def parquetFileReader(spark: SparkSession, dataSchema: StructType,
                        requiredSchema: StructType,
                        filters: Seq[sources.Filter]): (String, Long) => Iterator[InternalRow] = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    val readFunc = new ParquetFileFormat().buildReaderWithPartitionValues(
      cs, dataSchema, StructType(Nil), requiredSchema, filters,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      cs.sessionState.newHadoopConf())
    (path: String, len: Long) =>
      readFunc(PartitionedFile(InternalRow.empty, SparkPath.fromPathString(path), 0L, len))
  }

  /** Driver-side half of a distributed parquet write through Spark's own
    * ParquetFileFormat: prepares the write support on a Hadoop job and
    * returns the (serializable) OutputWriterFactory plus the configured
    * conf wrapped for shipping to executors. */
  def parquetWriterFactory(spark: SparkSession, dataSchema: StructType)
      : (org.apache.spark.sql.execution.datasources.OutputWriterFactory,
         org.apache.spark.util.SerializableConfiguration) = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    val job = org.apache.hadoop.mapreduce.Job.getInstance(cs.sessionState.newHadoopConf())
    val factory = new ParquetFileFormat().prepareWrite(cs, job, Map.empty, dataSchema)
    (factory, new org.apache.spark.util.SerializableConfiguration(job.getConfiguration))
  }

  /** Executor-side half: instantiate an OutputWriter for one task. */
  def newParquetOutputWriter(
      factory: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
      conf: org.apache.spark.util.SerializableConfiguration,
      path: String, dataSchema: StructType,
      partitionId: Int, taskId: Long)
      : org.apache.spark.sql.execution.datasources.OutputWriter = {
    import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
    import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
    val attempt = new TaskAttemptID(
      new TaskID(new JobID("graft", 0), TaskType.MAP, partitionId), taskId.toInt)
    val ctx = new TaskAttemptContextImpl(conf.value, attempt)
    factory.newInstance(path, dataSchema, ctx)
  }

  /** Bloom-filter aggregate over xxhash64(c) as an observable metric —
    * the same (internal) aggregate Spark's runtime bloom join filters use;
    * evaluates to the serialized `org.apache.spark.util.sketch.BloomFilter`
    * bytes. Riding an Observation, it captures a per-commit key bloom with
    * NO extra pass over the data. */
  def bloomAgg(c: Column, expectedItems: Long): Column = {
    val child = new catalyst.expressions.XxHash64(Seq(expression(c)))
    column(new catalyst.expressions.aggregate.BloomFilterAggregate(child, expectedItems)
      .toAggregateExpression())
  }

  /** Blocks until the listener bus has delivered every queued event —
    * lets a test that attributes task metrics (shuffle bytes) to the
    * query that just ran read EXACT totals instead of racing the async
    * bus. `private[spark]` API, hence shim-homed. */
  def drainListenerBus(spark: SparkSession): Unit =
    try spark.sparkContext.listenerBus.waitUntilEmpty()
    catch { case _: Exception => }

  /** Driver-side xxhash64 of a literal AS the given column type — must
    * match the write-side `XxHash64(cast(col))` hashing for bloom probes
    * (hashing Int 42 and Long 42L differ). `tz` is the SESSION time zone:
    * Spark evaluates the query's own filter casts under it, so a
    * string→timestamp probe cast under the JVM default zone would hash
    * micros offset by the zone difference and the bloom would silently
    * prune dirs that hold matching rows. */
  def xxh64Of(v: Any, dt: types.DataType, tz: String): Option[Long] =
    try {
      val lit = catalyst.expressions.Literal.create(v)
      val e = if (lit.dataType == dt) lit
        else catalyst.expressions.Cast(lit, dt, Some(tz))
      Option(new catalyst.expressions.XxHash64(Seq(e)).eval(null)).map(_.asInstanceOf[Long])
    } catch { case _: Exception => None }

  /** Distributed parquet-footer statistics: for each (tag, dir) the
    * recursive (file count, footer record count, byte size) — one Spark
    * job over the dir list, never driver-serial footer I/O (at 100 TB a
    * partitioned table has far too many leaves for the driver to open
    * one by one; this is why Iceberg reads manifests in parallel). */
  def footerStats(spark: SparkSession, dirs: Seq[(String, String)])
      : Seq[(String, Long, Long, Long)] = {
    if (dirs.isEmpty) return Seq.empty
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val bc = spark.sparkContext.broadcast(conf)
    val slices = math.min(dirs.size, 64)
    try spark.sparkContext.parallelize(dirs, slices).map { case (tag, d) =>
      val c = bc.value.value
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(c)
      var files = 0L; var rows = 0L; var bytes = 0L
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val st = it.next()
        if (st.getPath.getName.endsWith(".parquet")) {
          files += 1; bytes += st.getLen
          val pf = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, c))
          try rows += pf.getRecordCount finally pf.close()
        }
      }
      (tag, files, rows, bytes)
    }.collect().toSeq
    // explicit broadcasts are NOT reclaimed by the between-query block
    // sweep (it only unpersists RDDs); destroy eagerly or every commit's
    // stats refresh leaks one broadcast into the long-lived JVM
    finally bc.destroy()
  }

  def toNode(c: Column): Node = conv(c.node)
  private def conv(n: internal.ColumnNode): Node = n match {
    case f: internal.UnresolvedFunction => FnNode(f.functionName, f.arguments.map(conv))
    case a: internal.UnresolvedAttribute => AttrNode(a.nameParts.last)
    case l: internal.Literal => LitNode(l.value)
    case _ => OtherNode
  }
}
