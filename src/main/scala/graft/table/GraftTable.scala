package graft.table

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.util.UUID
import scala.jdk.CollectionConverters._

/** One partition-spec field: a source column + a transform.
  *
  * Mirrors the capability surface of the reference's partition specs
  * (`/root/reference/src/main/java/IcebergHadoopTables.java:27` —
  * `identity("name").bucket("age", 5)`; month/truncate derivation at
  * `IcebergPartitionedTable.java:50-65`). Transforms:
  *  - identity: value itself
  *  - bucket(n): `pmod(hash(col), n)` — Spark's `hash` is Murmur3-32, the
  *    same hash family Iceberg buckets with (this default does not
  *    reproduce Iceberg's exact byte-layout hashing; internal
  *    consistency is what matters)
  *  - ibucket(n): the Iceberg-spec-EXACT bucket — murmur3_x86_32 seed 0
  *    over the spec's byte layout, `(h & Int.MaxValue) % n`, pinned by
  *    the spec's published Appendix B vectors
  *    ([[graft.functions.IcebergBucket]]) — opt in when partitioning
  *    must agree byte-for-byte with an external Iceberg writer
  *  - month: `date_format(col, "yyyy-MM")`
  *  - truncate(w): strings → first w chars, integrals → value - (value mod w)
  */
final case class PartitionField(source: String, transform: String, param: Int = 0) {
  /** Derived column name, Iceberg-style (`name_trunc`, `age_bucket`, `d_month`). */
  def name: String = transform match {
    case "identity" => source
    case "bucket"   => s"${source}_bucket"
    case "ibucket"  => s"${source}_ibucket"
    case "month"    => s"${source}_month"
    case "truncate" => s"${source}_trunc"
  }
  def expr(c: Column): Column = exprFor(c, StringType)

  /** Type-aware derived-column expression (truncate floors integrals,
    * prefixes strings). */
  def exprFor(c: Column, srcType: DataType): Column = (transform, srcType) match {
    case ("identity", _) => c
    case ("bucket", _)   => pmod(hash(c), lit(param))
    case ("ibucket", _)  => org.apache.spark.sql.GraftShim.column(
      graft.functions.IcebergBucket(
        org.apache.spark.sql.GraftShim.expression(c), param))
    case ("month", _)    => date_format(c, "yyyy-MM")
    case ("truncate", LongType | IntegerType | ShortType | ByteType) =>
      c - pmod(c, lit(param))
    case ("truncate", _) => substring(c, 1, param)
  }
}

object PartitionField {
  /** Iceberg-style partition transform from a DSv2 [[Transform]] (CREATE
    * TABLE ... PARTITIONED BY (c, bucket(5, c), months(c), truncate(4, c))
    * — both the SQL route and `TableCatalog.createTable`). */
  def fromTransform(t: org.apache.spark.sql.connector.expressions.Transform): PartitionField = {
    def ref = t.references().head.fieldNames().last
    def intArg = t.arguments().collectFirst {
      case l: org.apache.spark.sql.connector.expressions.Literal[_]
          if l.value().isInstanceOf[Number] => l.value().asInstanceOf[Number].intValue()
    }.getOrElse(throw new IllegalArgumentException(s"missing numeric arg in ${t.describe()}"))
    t.name() match {
      case "identity"         => PartitionField(ref, "identity")
      case "bucket"           => PartitionField(ref, "bucket", intArg)
      case "ibucket"          => PartitionField(ref, "ibucket", intArg)
      case "months" | "month" => PartitionField(ref, "month")
      case "truncate"         => PartitionField(ref, "truncate", intArg)
      case other => throw new IllegalArgumentException(s"unsupported partition transform: $other")
    }
  }

  /** Parses one `transform(source)` spec field from its SQL spelling:
    * `identity(c)` / bare `c`, `month(c)` / `months(c)`, `bucket(n, c)`,
    * `truncate(w, c)` — the spelling Iceberg's ADD PARTITION FIELD and
    * the `evolve_spec` procedure use. */
  def parse(s: String): PartitionField = {
    val m = "^([A-Za-z_]+)\\s*\\((.*)\\)$".r
    def bare(n: String) = n.trim.stripPrefix("`").stripSuffix("`")
    s.trim match {
      case m(t, args) =>
        val a = args.split(',').map(bare)
        t.toLowerCase match {
          case "identity" => PartitionField(a(0), "identity")
          case "month" | "months" => PartitionField(a(0), "month")
          case "bucket" =>
            require(a.length == 2, s"bucket needs (n, col): $s")
            PartitionField(a(1), "bucket", a(0).toInt)
          case "ibucket" =>
            require(a.length == 2, s"ibucket needs (n, col): $s")
            PartitionField(a(1), "ibucket", a(0).toInt)
          case "truncate" =>
            require(a.length == 2, s"truncate needs (width, col): $s")
            PartitionField(a(1), "truncate", a(0).toInt)
          case other => throw new IllegalArgumentException(s"unknown transform: $other")
        }
      case b => PartitionField(bare(b), "identity")
    }
  }
}

/** An equality-delete file: parquet of key tuples that delete matching rows
  * from data committed in snapshots strictly before `version`. `rowCount`
  * is captured by df.observe() during the write (-1 for pre-stats log
  * entries) — it gates the broadcast decision when deletes are applied. */
final case class DeleteFile(path: String, keys: Seq[String], version: Int,
                            rowCount: Long = -1L)

/** One committed data directory (a Spark parquet write) + the snapshot
  * version that committed it + its row count (captured by df.observe()
  * during the write job — no extra pass; -1 for pre-stats log entries). */
final case class DataDir(path: String, version: Int, rowCount: Long = -1L)

/** One parquet file of a live data dir: its absolute path, its size and
  * the commit version of the dir that holds it — what every DSv2 reader
  * needs to plan the file, report sizes, gate `FieldInfo.since` columns
  * and guard equality deletes. */
final case class LiveFile(path: String, bytes: Long, version: Int)

/** Column identity: logical name → physical (in-file) name + the
  * snapshot version the column was added at (data dirs committed before
  * `since` project NULL for it). Physical names are never reused after a
  * drop, so re-adding a dropped column name cannot resurrect old values
  * (the field-id problem Iceberg solves with ids — SURVEY.md D5). */
final case class FieldInfo(logical: String, physical: String, since: Int = 0)

/** A named ref over the snapshot log: a `tag` is an immutable named
  * version, a `branch` a movable one (Iceberg's branch/tag surface). */
final case class RefInfo(name: String, refType: String, version: Int)

/** A committed table snapshot. */
final case class Snapshot(
    version: Int,
    formatVersion: Int,
    op: String,
    schema: StructType,            // logical schema (current)
    fields: Seq[FieldInfo],
    spec: Seq[PartitionField],
    key: Seq[String],              // upsert/sort key (K8)
    dataDirs: Seq[DataDir],
    deletes: Seq[DeleteFile],
    retiredPhysical: Seq[String],  // tombstoned physical names
    bloomKeys: Seq[String] = Seq.empty, // columns with per-commit bloom sidecars
    // columns with per-dir [min,max] sidecars captured at write: range
    // predicates skip whole data dirs whose interval cannot match (the
    // role Iceberg's manifest column bounds play). Sidecars are keyed by
    // PHYSICAL name, so renames never invalidate them.
    statsKeys: Seq[String] = Seq.empty,
    // streaming-sink exactly-once ledger: per writing query, the last
    // committed epoch; a post-failure epoch retry sees its id here and
    // skips (bounded by the number of distinct streaming writers)
    streamEpochs: Map[String, Long] = Map.empty,
    // free-form table properties (Iceberg's table metadata properties):
    // versioned WITH the snapshot, carried forward by every commit,
    // settable in one metadata-only commit. The index-manifest pointer
    // swap lives here — a publish is a log write, never a Spark job
    properties: Map[String, String] = Map.empty,
    // wall-clock commit time stamped INSIDE the entry at commit (-1 for
    // pre-stamp log entries): TIMESTAMP AS OF resolves from this, never
    // from file mtimes — expireSnapshots rewrites old entries (bumping
    // their mtime) and copied/restored tables drift mtimes arbitrarily
    commitTimeMs: Long = -1L,
    // partition-spec evolution history: (sinceVersion, spec) ascending.
    // A data dir committed at version v was laid out under specAt(v) —
    // dirs are never rewritten when the spec changes (Iceberg semantics:
    // old data keeps its layout; scans interpret each dir by ITS spec).
    // Empty = the spec never changed (treated as [(0, spec)]).
    specLog: Seq[(Int, Seq[PartitionField])] = Seq.empty
) {
  def physicalOf(logical: String): String = fieldOf(logical).physical
  def fieldOf(logical: String): FieldInfo =
    fields.find(_.logical == logical).getOrElse(
      throw new IllegalArgumentException(s"no such column: $logical"))

  /** The partition spec that governed writes committed at `version`. */
  def specAt(version: Int): Seq[PartitionField] = {
    val log = if (specLog.isEmpty) Seq((0, spec)) else specLog
    log.filter(_._1 <= version).lastOption.map(_._2).getOrElse(spec)
  }

  /** True when every data dir is laid out under the CURRENT spec (ops
    * that interpret the k=v layout globally require this). */
  def uniformSpec: Boolean = dataDirs.forall(d => specAt(d.version) == spec)
}

/** GraftTable — a versioned relational table on plain Parquet + a
  * write-once JSON snapshot log. Spark-native re-expression of the
  * Iceberg-semantics surface the reference exercises: atomic snapshot
  * append (`IcebergJavaApiAppend.java:92-94`), copy-on-write DELETE
  * (`IcebergSQLDelete.java:32`), merge-on-read equality-delete upsert
  * (`IcebergJavaApiUpsert.java:99-118`), schema evolution
  * (`IcebergSQLMerge.java:69`, `IcebergSQLDelete.java:35`), partition
  * specs (`IcebergHadoopTables.java:27`), format-version gating
  * (`IcebergJavaApiUpsert.java:126-133`), and metadata tables
  * (`IcebergHadoopTables.java:44-47`).
  *
  * Layout:
  * {{{
  *   <dir>/_graft_log/v00000.json ...   snapshots, each published once ([[LogStore]])
  *   <dir>/data/<uuid>/[k=v/]part-*.parquet   data commits
  *   <dir>/deletes/<uuid>/part-*.parquet      equality-delete key files
  * }}}
  *
  * Scale notes (100 TB discipline): the log is O(snapshots) JSON, never
  * touches row data; reads are multi-path vectorized parquet scans with
  * filter/column pushdown intact; equality deletes apply as ONE left_anti
  * join with a version guard (deletes only hit strictly-older commits),
  * not one join per delete file; partition-derived columns are ALSO
  * stored in-file so per-file min/max footer stats give file-level
  * skipping equivalent to partition pruning under multi-commit layouts.
  */
final class GraftTable private (val spark: SparkSession, val dir: String) {
  import GraftTable._

  private def fs: FileSystem = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The table's `_graft_log`: every log read, probe and write. */
  private val log = LogStore(spark, dir)

  /** Latest committed version (see [[LogStore.latest]]). */
  def currentVersion: Int = log.latest

  def snapshot: Snapshot = snapshotAt(currentVersion)

  def snapshotAt(v: Int): Snapshot = log.entry(v)

  def allSnapshots: Seq[Snapshot] = (0 to currentVersion).map(snapshotAt)

  /** Optimistic-concurrency commit: publish `v{N}.json`; when the slot is
    * taken (a concurrent writer won it) the delta is RE-APPLIED against
    * the freshly-read current snapshot — re-stamping the stale pre-read
    * base would silently drop the other writer's committed changes (lost
    * update). Structural conflicts (e.g. both writers adding the same
    * column) surface as the delta's own validation errors against the
    * new base. Atomicity = [[LogStore.publish]]. */
  private def commit(startAt: Int)(mk: (Snapshot, Int) => Snapshot): Snapshot = {
    var base: Snapshot = null // first attempt uses the caller's pre-read state
    var v = startAt
    var done = false
    var out: Snapshot = null
    while (!done) {
      // stamp the wall-clock commit time inside the entry (TIMESTAMP AS OF
      // resolves from it); re-stamped on every OCC retry so the recorded
      // time is the time the slot was actually won
      out = mk(if (base == null) null else base, v).copy(
        commitTimeMs = System.currentTimeMillis())
      if (log.publishEntry(v, out)) {
        log.writeHead(v)
        done = true
      } else {
        // next slot comes from the log's FILE numbering — a snapshot
        // whose content carries a different version field (e.g. a
        // hand-copied or corrupted entry) must never re-target an
        // occupied slot (that would loop forever)
        val cur = currentVersion
        base = snapshotAt(cur) // re-read the winner's state
        v = cur + 1
      }
    }
    out
  }

  // ---- schema / spec accessors ----------------------------------------
  def schema: StructType = snapshot.schema
  def spec: Seq[PartitionField] = snapshot.spec
  def sortKey: Seq[String] = snapshot.key
  def formatVersion: Int = snapshot.formatVersion

  // ---- write paths -----------------------------------------------------

  /** Physical write of `df` (logical column names) into a fresh data dir,
    * returning (relative dir, row count). Renames logical→physical,
    * derives partition columns (stored in-file AND as k=v dirs), sorts
    * within partitions by the table key if set. The row count comes from
    * an Observation riding the write job — stats without a second pass. */
  private def writeData(df: DataFrame, snap: Snapshot,
                        layoutOverride: Option[DataFrame => DataFrame] = None): (String, Long) = {
    val sub = s"data/${UUID.randomUUID()}"
    val alignedRaw = alignToSchema(df, snap.schema)
    // a NULL upsert key can never be matched (delete anti-joins and
    // merges all compare by equality) and the catalog truthfully reports
    // key columns non-nullable — enforce it physically at write time
    val aligned0 = snap.key.foldLeft(alignedRaw) { (d, k) =>
      d.withColumn(k, org.apache.spark.sql.GraftShim.column(
        org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull(
          org.apache.spark.sql.GraftShim.expression(d(k)),
          Seq(s"upsert key column $k must not be NULL"))))
    }
    // logical -> physical rename
    val renamed = snap.fields.foldLeft(aligned0) { (d, fi) =>
      if (fi.logical == fi.physical) d else d.withColumnRenamed(fi.logical, fi.physical)
    }
    val partCols = snap.spec.map(_.name)
    val withParts = snap.spec.foldLeft(renamed) { (d, pf) =>
      d.withColumn(pf.name,
        pf.exprFor(col(snap.physicalOf(pf.source)), snap.schema(pf.source).dataType))
    }
    // Layout strategy:
    //  - explicit override (e.g. rewriteZOrder) → caller-provided
    //    clustering over the physical frame.
    //  - sort key set → range-repartition + sort by it: files carry
    //    DISJOINT key ranges, so footer min/max stats skip all but the
    //    matching files on key predicates (clustered writes). AQE still
    //    coalesces the range shuffle for small commits.
    //  - partition spec → hash-distribute by the derived partition
    //    columns (Iceberg's default write.distribution-mode=hash): every
    //    partition value lands in exactly one task, so tasks write their
    //    partitions' files IN PARALLEL instead of AQE coalescing the
    //    small commit into one task that opens every partition's writer
    //    serially (measured 2.4s vs 1.0s on an 80-partition commit).
    //    File sizing within a task comes from maxRecordsPerFile on the
    //    writer (the rolling-writer cap), not from the exchange.
    //  - otherwise → AQE rebalance sizes output files by bytes (Iceberg's
    //    rolling-writer goal) with no hardcoded partition count.
    // SMALL-COMMIT fast path (r14): when the optimizer's size estimate
    // says the commit fits comfortably in one output file, a
    // coalesce(1) + in-partition sort produces an EQUAL-OR-BETTER layout
    // (one globally sorted file) with ONE Spark job, where the range
    // exchange costs three (RangePartitioner sample + shuffle + write —
    // measured 0.33s vs 0.18s per tiny commit at local[32], and the
    // per-epoch streaming folds pay it on every micro-batch). The gate is
    // a PLANNER BYTE ESTIMATE, not a row count: estimates from
    // scans/limits are honest, and shapes whose estimate is unknown or
    // inflated (joins, RDD-backed frames) conservatively keep the
    // scale-out range layout — at 100 TB every real commit takes that
    // branch. Estimation failure = not small (never breaks a write).
    // KNOWN LIMIT (ADVICE r14): under CBO, selective-filter estimates can
    // UNDERestimate a large commit into the coalesce(1) branch — a perf
    // cliff (one task writes one oversized file), never a wrong answer.
    // The 4 MiB default keeps even a 10× estimation error inside one
    // HDFS-block-sized file; deployments running CBO over filtered
    // commit inputs should lower graft.write.smallCommitBytes or set it
    // to 0 to disable the fast path outright.
    def estBytes(d: DataFrame): BigInt =
      try d.queryExecution.optimizedPlan.stats.sizeInBytes
      catch { case _: Throwable => BigInt(Long.MaxValue) }
    val smallCommitBytes: Long =
      spark.conf.getOption("graft.write.smallCommitBytes")
        .map(_.toLong).getOrElse(4L * 1024 * 1024)
    val sorted = layoutOverride match {
      case Some(fn) => fn(withParts)
      case None =>
        if (snap.key.nonEmpty) {
          val keyCols = snap.key.map(k => col(snap.physicalOf(k)))
          if (estBytes(withParts) <= smallCommitBytes)
            withParts.coalesce(1).sortWithinPartitions(keyCols: _*)
          else
            withParts.repartitionByRange(keyCols: _*).sortWithinPartitions(keyCols: _*)
        } else if (partCols.nonEmpty) {
          // EXPLICIT task count: repartition(cols) alone lets AQE
          // coalesce the exchange by bytes (a few MB → 2 tasks), which
          // re-serializes the per-dir parquet writer opens the hash
          // distribution exists to parallelize (measured 1.6s → 0.8s on
          // an 80-dir sf0.1 commit at local[32]). Pinning N to the
          // cluster's parallelism keeps one task per hash BUCKET while
          // each partition value still lands in exactly one task — file
          // count is unchanged at any N.
          withParts.repartition(spark.sparkContext.defaultParallelism,
            partCols.map(col): _*)
        } else {
          // same small-commit gate: a rebalance of a provably-tiny frame
          // is a shuffle whose only effect is merging to one partition —
          // coalesce(1) gets there without the exchange
          if (estBytes(withParts) <= smallCommitBytes) withParts.coalesce(1)
          else withParts.hint("rebalance")
        }
    }
    // An Observation only when stats are configured: obs.get blocks on the
    // async listener bus AFTER the write job finishes, and that wait rides
    // EVERY commit — measurable per-commit latency for tables that asked
    // for nothing. Without stats the row count comes from the written
    // files' parquet footers instead (driver-side metadata read of one
    // commit's files — the same information, no listener round-trip).
    val needObs = snap.bloomKeys.nonEmpty || snap.statsKeys.nonEmpty
    val obs = org.apache.spark.sql.Observation()
    // total rows as summed by the pstats sidecar sweep (partitioned
    // writes) — reused below so the no-Observation path never pays a
    // second, driver-serial footer pass over the same files
    var pstatsRows: Option[Long] = None
    // per-commit key blooms and column bounds ride the SAME write job as
    // extra observed metrics — stats with zero additional passes
    val bloomMetrics = snap.bloomKeys.map { k =>
      org.apache.spark.sql.GraftShim.bloomAgg(
        col(snap.physicalOf(k)), bloomExpectedItems).as(s"__bloom_$k")
    }
    val boundMetrics = snap.statsKeys.flatMap { k =>
      val p = snap.physicalOf(k)
      // nn (non-null count) is what COUNT(col) folds from; integral
      // columns also record their (wrapping) per-dir sum — Long addition
      // is associative mod 2^64, so folding per-dir partials reproduces
      // Spark's own sum(col) result bit-for-bit, overflow included
      val base = Seq(min(col(p)).as(s"__mn_$p"), max(col(p)).as(s"__mx_$p"),
        count(col(p)).as(s"__cn_$p"))
      if (GraftTable.integralType(snap.schema(k).dataType))
        base :+ sum(col(p)).as(s"__sm_$p")
      else base
    }
    val observed =
      if (needObs) sorted.observe(obs, count(lit(1)).as("rows"),
        bloomMetrics ++ boundMetrics: _*)
      else sorted
    if (partCols.nonEmpty) {
      // duplicate each derived column into the directory layout; the
      // in-file copy keeps footer min/max stats for file skipping on
      // multi-commit reads (where dirs from many commits coexist)
      val dup = partCols.foldLeft(observed)((d, c) => d.withColumn(s"__dir_$c", col(c)))
      // rolling-writer file-size cap: hash distribution gives one task
      // per partition value, so a skewed partition (one giant month at
      // 100 TB) would otherwise become one giant file
      dup.write.mode("errorifexists")
        .option("maxRecordsPerFile", maxRecordsPerFile)
        .partitionBy(partCols.map(c => s"__dir_$c"): _*).parquet(s"$dir/$sub")
      // per-leaf [files, rows, bytes] sidecar, captured ONCE from the
      // just-written (page-hot) footers in one distributed job: the
      // #partitions metadata table then answers with ZERO data-file I/O
      // (the role Iceberg's per-manifest partition summaries play) —
      // O(files) footer reads belong at write time, amortized over every
      // later metadata query, not repeated per query. Best-effort like
      // the bloom/bounds sidecars: a missing file only means the
      // metadata query falls back to its footer walk for this dir.
      try pstatsRows = publishPstats(sub, partCols.size)
      catch { case _: Exception => } // sidecars are best-effort
      // per-leaf per-column stats sidecar (pcolstats/<uuid>.json),
      // captured by ONE aggregation job over the just-written (page-hot)
      // files reading ONLY the partition + stats columns. Partition-scoped
      // stats folds (`SELECT day, min(ts), count(v) … GROUP BY day`)
      // then answer from O(leaves) metadata, the role Iceberg's
      // per-file manifest column bounds play at 100 TB. Write-time
      // cost, amortized over every later fold; best-effort like every
      // sidecar — absence only means those queries scan.
      if (snap.statsKeys.nonEmpty)
        try publishPcolstats(sub, rawDir(sub), partCols,
          snap.statsKeys.map(snap.physicalOf).distinct)
        catch { case _: Exception => } // sidecars are best-effort
    } else {
      observed.write.mode("errorifexists").parquet(s"$dir/$sub")
    }
    val rowsRaw =
      if (needObs) try obs.get("rows").asInstanceOf[Long] catch { case _: Throwable =>
        pstatsRows.getOrElse(footerRowCount(s"$dir/$sub")) } // listener hiccup: footers still know
      else pstatsRows.getOrElse(footerRowCount(s"$dir/$sub"))
    // -1 means "count unknown", which commit gates must NOT conflate with
    // "zero rows": dropping a dir that has real files because a transient
    // FS error broke the count would be silent data loss. Distinguish by
    // file presence — a truly empty write (partitionBy of nothing) has no
    // files and is a genuine 0; unknown-with-files commits as -1 (which
    // only disables the count fold and delete-broadcast gating).
    val rows =
      if (rowsRaw >= 0) rowsRaw
      else {
        val hasFiles = try {
          val it = fs.listFiles(new Path(s"$dir/$sub"), true)
          var found = false
          while (!found && it.hasNext)
            found = it.next().getPath.getName.endsWith(".parquet")
          found
        } catch { case _: Exception => true } // cannot even list: assume data
        if (hasFiles) -1L else 0L
      }
    // bloom and bounds sidecars, from the metrics that rode the write
    if (snap.bloomKeys.nonEmpty || snap.statsKeys.nonEmpty) {
      val metrics: scala.collection.Map[String, Any] =
        try obs.get catch { case _: Throwable => Map.empty[String, Any] }
      val uuid = sub.substring(sub.lastIndexOf('/') + 1)
      snap.bloomKeys.foreach { k =>
        metrics.get(s"__bloom_$k") match {
          case Some(bytes: Array[Byte]) => log.publishBloom(uuid, k, bytes)
          case _ => // metric missing: no sidecar, scans simply cannot skip
        }
      }
      try publishStats(uuid, snap.statsKeys.map(snap.physicalOf).distinct, metrics)
      catch { case _: Exception => } // sidecars are best-effort
    }
    (sub, rows)
  }

  /** Publishes the pstats sidecar of data dir `rel` (`depth` partition
    * levels): per-leaf [files, rows, bytes] read from the leaves' footers
    * in one distributed job. The dir's total rows when it was published. */
  private def publishPstats(rel: String, depth: Int): Option[Long] = {
    val stats = org.apache.spark.sql.GraftShim.footerStats(spark,
      partitionLeaves(fs.makeQualified(new Path(s"$dir/$rel")), depth))
    val o = mapper.createObjectNode()
    stats.foreach { case (disp, nf, nr, nb) =>
      val c = o.putObject(disp); c.put("f", nf); c.put("r", nr); c.put("b", nb)
    }
    if (log.publishSidecar("pstats", rel.substring(rel.lastIndexOf('/') + 1),
      mapper.writeValueAsBytes(o))) Some(stats.map(_._3).sum) else None
  }

  /** Data dir `rel`'s rows as its files hold them, listed like every
    * table read lists a dir — what the stats sidecars are computed from. */
  private def rawDir(rel: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(readPaths(Seq(rel)): _*)

  /** Per `by` tuple: the row count `__r` and, per column `p` of `phys`,
    * min `__mn_p`, max `__mx_p`, non-null count `__cn_p` and, for integral
    * columns, the wrapping sum `__sm_p` — what the stats sidecars record,
    * in one aggregation job over `back`. */
  private def statRows(back: DataFrame, by: Seq[String],
                       phys: Seq[String]): Array[org.apache.spark.sql.Row] = {
    val aggs = count(lit(1)).as("__r") +: phys.flatMap { p =>
      Seq(min(col(p)).as(s"__mn_$p"), max(col(p)).as(s"__mx_$p"), count(col(p)).as(s"__cn_$p")) ++
        (if (GraftTable.integralType(back.schema(p).dataType)) Seq(sum(col(p)).as(s"__sm_$p"))
         else Nil)
    }
    back.groupBy(by.map(col): _*).agg(aggs.head, aggs.tail: _*).collect()
  }

  private def named(r: org.apache.spark.sql.Row): scala.collection.Map[String, Any] =
    r.getValuesMap[Any](r.schema.fieldNames.toSeq)

  /** Adds column `p`'s entry to a stats sidecar object from the aggregates
    * named as in [[statRows]]: min/max only when both encode (absent for
    * an all-NULL or unencodable column, which is then never skipped on),
    * `nn` — what COUNT(col) folds from — whenever counted, `sum` when
    * summed. False, adding nothing, when neither was recorded. */
  private def putColStats(o: ObjectNode, p: String,
                          m: scala.collection.Map[String, Any]): Boolean = {
    def get(n: String) = m.get(n).flatMap(Option(_))
    val nn = get(s"__cn_$p").collect { case l: Long => l }
    val bounds = for (mn <- get(s"__mn_$p").flatMap(encodeStat);
                      mx <- get(s"__mx_$p").flatMap(encodeStat)) yield (mn, mx)
    if (nn.isEmpty && bounds.isEmpty) return false
    val c = o.putObject(p)
    bounds.foreach { case (mn, mx) => c.put("min", mn); c.put("max", mx) }
    nn.foreach(v => c.put("nn", v))
    get(s"__sm_$p").foreach { case l: Long => c.put("sum", l); case _ => }
    true
  }

  /** Publishes data dir `uuid`'s bounds sidecar, `stats/<uuid>.json` =
    * {"<physical>": {"min", "max", "nn", "sum"}}, when any column has an
    * entry. */
  private def publishStats(uuid: String, phys: Seq[String],
                           m: scala.collection.Map[String, Any]): Boolean = {
    val o = mapper.createObjectNode()
    phys.map(putColStats(o, _, m)).contains(true) &&
      log.publishSidecar("stats", uuid, mapper.writeValueAsBytes(o))
  }

  /** Publishes data dir `rel`'s pcolstats sidecar from [[statRows]] of
    * `back` grouped by its partition columns `by`: {"by": [names],
    * "leaves": [{"v": [values], "r": rows, "c": {"<physical>": {…}}}]}.
    * Nothing when there is no leaf or a partition value cannot be
    * encoded. */
  private def publishPcolstats(rel: String, back: DataFrame, by: Seq[String],
                               phys: Seq[String]): Boolean = {
    val rows = statRows(back, by, phys)
    val o = mapper.createObjectNode()
    val b = o.putArray("by"); by.foreach(b.add)
    val leaves = o.putArray("leaves")
    rows.foreach { r =>
      val e = leaves.addObject()
      val vs = e.putArray("v")
      by.indices.foreach { i =>
        if (r.isNullAt(i)) vs.addNull()
        else vs.add(encodeStat(r.get(i)).getOrElse(return false))
      }
      e.put("r", r.getAs[Long]("__r"))
      val cs = e.putObject("c")
      phys.foreach(putColStats(cs, _, named(r)))
    }
    rows.nonEmpty && log.publishSidecar("pcolstats", rel.substring(rel.lastIndexOf('/') + 1),
      mapper.writeValueAsBytes(o))
  }

  /** Row count of one freshly-written commit dir from its parquet footers
    * (the listing Iceberg does to build a manifest); -1 on any failure,
    * never an error. Few files → driver-serial reads (cheaper than a job);
    * a wide commit (one file per partition across many partitions)
    * distributes via [[org.apache.spark.sql.GraftShim.footerStats]] so
    * driver footer I/O never scales with partition count. */
  private def footerRowCount(path: String): Long =
    try {
      val f = fs
      val files = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.FileStatus]
      val it = f.listFiles(new Path(path), true)
      while (it.hasNext) {
        val st = it.next()
        if (st.getPath.getName.endsWith(".parquet")) files += st
      }
      if (files.length > 32)
        // one entry PER FILE: footerStats parallelizes across entries
        // (listFiles on a file path yields just that file)
        org.apache.spark.sql.GraftShim.footerStats(spark,
          files.map(st => ("c", st.getPath.toString)).toSeq).map(_._3).sum
      else {
        var rows = 0L
        files.foreach { st =>
          val pf = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(
              st, spark.sparkContext.hadoopConfiguration))
          try rows += pf.getRecordCount finally pf.close()
        }
        rows
      }
    } catch { case _: Exception => -1L }

  /** The Spark session time zone — the zone `date_format` renders
    * instants in on the WRITE side, so every literal-side temporal
    * derivation (transform pruning) must read instants through it too. */
  private def sessionZone: java.time.ZoneId = java.time.ZoneId.of(
    spark.conf.get("spark.sql.session.timeZone", java.util.TimeZone.getDefault.getID))

  /** Sizing for per-commit key blooms (~0.9 MB at the 1M default, 3% fpp). */
  private def bloomExpectedItems: Long =
    spark.conf.getOption("graft.bloom.expectedItems").map(_.toLong).getOrElse(1000000L)

  /** Rolling-writer cap for partitioned writes: hash distribution gives
    * one task per partition value, so file size within the task is
    * bounded here instead of by the exchange (Iceberg's
    * write.target-file-size role). ~5M rows ≈ 128-512 MB files for
    * typical row widths. */
  private def maxRecordsPerFile: Long =
    spark.conf.getOption("graft.write.maxRecordsPerFile").map(_.toLong).getOrElse(5000000L)

  /** Guard for OCC rebases of commits that carry a dir freshly written
    * under `s.spec`: rebasing across a concurrent set-spec would stamp
    * the dir with a version the specLog maps to the NEW spec — silently
    * mislabeling its physical layout. Version-guarded commits (row-level
    * ops, dynamic overwrite) are covered by their own checks. */
  private def requireSpecStable(b: Snapshot, s: Snapshot): Unit =
    // ConcurrentOverwriteException, not a bare require: this is a
    // RETRYABLE race (the caller's statement-level retry contract), not
    // a programming error — the r8 schema/spec hammer caught append
    // aborting un-retryably when it lost to a concurrent set-spec
    if (b.spec != s.spec)
      throw new GraftTable.ConcurrentOverwriteException(
        "partition spec changed concurrently with this write; retry")

  def append(df: DataFrame): GraftTable = {
    val s = snapshot
    val (sub, rows) = writeData(df, s)
    commit(s.version + 1)((rebase, v) => {
      val b = Option(rebase).getOrElse(s)
      requireSpecStable(b, s)
      // zero-row appends commit no dir (a partitioned zero-row write
      // creates no files; on object stores the empty path doesn't exist)
      b.copy(version = v, op = "append", dataDirs =
        if (rows != 0) b.dataDirs :+ DataDir(sub, v, rows) else b.dataDirs)
    })
    this
  }

  /** Copy-on-write replace of the full table contents (commit path of
    * DELETE / MERGE — SURVEY.md M1-M5).
    *
    * Concurrency: the replacement was computed against the snapshot read
    * HERE, so an OCC rebase past a row-CHANGING concurrent commit would
    * silently drop that commit's rows (its appended dirs / delete files
    * never made it into the replacement) — a lost update. Such races
    * throw [[GraftTable.ConcurrentOverwriteException]] ("retry the
    * statement"); the in-repo COW statements (delete/update/merge/
    * compact) catch it and recompute against the fresh snapshot
    * (statement-level retry = serializable). Row-PRESERVING rewrites
    * fold through safely: the replacement carries the complete logical
    * content either way. */
  def overwrite(df: DataFrame): GraftTable = { replaceFrom(snapshot, df); this }

  /** The one whole-table copy-on-write commit: writes `df`, which the
    * caller derived from `s` (or which does not depend on the table),
    * and commits it as the table's only data dir, guarded on that same
    * `s`. A caller that builds `df` from [[dfAt]]`(s)` reads the head
    * once per attempt; one that read the table again for its guard could
    * pass a commit landing in between — say, during a MERGE's
    * cardinality job — and silently drop it (the lost update
    * `CompactionChurnHammerSpec` and `MergeLostUpdateSpec` pin). */
  private def replaceFrom(s: Snapshot, df: DataFrame): Unit = {
    val (sub, rows) = writeData(df, s)
    dropDirOnRace(sub) {
      commit(s.version + 1)((rebase, v) => {
        val b = Option(rebase).getOrElse(s)
        requireSpecStable(b, s)
        if (b.version != s.version) {
          val ops = (s.version + 1 to b.version).map(snapshotAt(_).op)
          if (!ops.forall(_ == "rewrite"))
            throw new GraftTable.ConcurrentOverwriteException(
              s"concurrent ${ops.distinct.mkString("/")} commit during " +
                s"copy-on-write replace (table advanced v${s.version} -> " +
                s"v${b.version}); retry the statement")
        }
        b.copy(version = v, op = "overwrite",
          // a zero-row write on a partitioned table creates no files —
          // commit the empty table, not a file-less dir
          dataDirs = if (rows != 0) Seq(DataDir(sub, v, rows)) else Seq.empty,
          deletes = Seq.empty)
      })
    }
  }

  /** Runs a commit whose data dir `sub` is already on disk; if the commit
    * loses an OCC race (ConcurrentOverwriteException), the never-committed
    * dir is best-effort deleted before rethrowing — without this, every
    * lost retryCow attempt would strand a fully-written orphan dir until
    * [[vacuumOrphans]]. */
  private def dropDirOnRace[A](sub: String)(attempt: => A): A =
    try attempt
    catch {
      case e: GraftTable.ConcurrentOverwriteException =>
        try fs.delete(new Path(dir, sub), true) catch { case _: Exception => () }
        throw e
    }

  /** Statement-level retry for copy-on-write operations: on an OCC race
    * (ConcurrentOverwriteException from [[overwrite]] / the partial COW
    * commit), recompute the WHOLE statement against the fresh snapshot —
    * the result is as if the statement ran after the concurrent commit,
    * i.e. serializable. The body must re-read table state itself (all
    * in-repo callers resolve one `snapshot` per attempt). */
  private def retryCow[A](what: String)(body: => A): A = {
    val maxAttempts = 5
    var n = 0
    while (true) {
      try return body
      catch {
        case e: GraftTable.ConcurrentOverwriteException =>
          n += 1
          // terminal throw stays a ConcurrentOverwriteException subtype:
          // to a statement-level retrier, "lost 5 straight races" is
          // still a collision to retry, not a new failure class (an
          // IllegalStateException here made callers' retry loops give up
          // under deliberate hammering — and the pre-r13 compact only
          // ever "won" those races by silently losing updates). The
          // RetriesExhaustedException subtype lets an outer loop bound
          // its own attempts, and chains the last race as the cause.
          if (n >= maxAttempts) throw new GraftTable.RetriesExhaustedException(
            s"$what lost $maxAttempts consecutive commit races; giving up " +
              s"(last: ${e.getMessage})", e)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Dynamic partition overwrite (Iceberg's `overwritePartitions()` /
    * `INSERT OVERWRITE` under dynamic mode): atomically replace exactly
    * the partitions PRESENT in `df`, keep every other partition's rows.
    * Partition-scoped like [[cowRewrite]]: dirs whose k=v leaves all
    * fall outside the replaced partition set carry over verbatim; the
    * touched dirs are rewritten minus the replaced partitions; the new
    * rows land clustered — one commit, three dir groups. The distinct
    * partition-tuple set is collected to the driver (bounded by the
    * partition count of the incoming batch, the same cardinality any
    * dynamic-overwrite implementation materializes). */
  def overwriteDynamic(df: DataFrame): GraftTable = {
    val s = snapshot
    require(s.spec.nonEmpty, "dynamic partition overwrite requires a partition spec")
    require(s.deletes.isEmpty, "dynamic overwrite with pending equality deletes; compact() first")
    // the replaced-partition membership is expressed over the CURRENT
    // spec's k=v layout; a dir written under an older spec cannot be
    // partition-matched (and pruning it by the new spec would be wrong)
    require(s.uniformSpec,
      "dynamic overwrite over dirs written under an older partition spec; compact() first")
    val aligned = alignToSchema(df, s.schema)
    val transformed: Seq[Column] = s.spec.map(pf =>
      pf.exprFor(col(pf.source), s.schema(pf.source).dataType).as(pf.name))
    // the distinct partition-tuple set is driver-side state (it becomes
    // the membership predicate below), so its cardinality must stay
    // metadata-scale: date/month/bucket specs yield thousands of tuples
    // at most, but an identity spec over a high-cardinality key would
    // drag the driver — fail loudly with the fix instead
    val tupleCap = spark.conf.getOption("graft.overwrite.maxPartitionTuples")
      .map(_.toLong).getOrElse(100000L).min(Int.MaxValue - 1L)
    val tuplesCapped = aligned.select(transformed: _*).distinct()
      .limit(tupleCap.toInt + 1).collect()
    require(tuplesCapped.length <= tupleCap,
      s"dynamic overwrite input spans more than $tupleCap distinct " +
        "partition tuples — the replaced-partition predicate would not be " +
        "metadata-scale. Use a coarser partition spec, overwrite() the " +
        "whole table, or raise graft.overwrite.maxPartitionTuples")
    val tuples = tuplesCapped
    if (tuples.isEmpty) return this // empty input replaces nothing
    // membership predicates: over the derived k=v dir columns (for dir
    // pruning) and over the source-column transforms (for row filtering).
    // The OR over tuples is reduced as a BALANCED tree: a left-deep fold
    // of tens of thousands of disjuncts recurses that deep in every
    // Catalyst traversal (stack overflow territory near the tuple cap);
    // balanced depth is log2(n).
    def orBalanced(cs: Seq[Column]): Column = {
      var cur = cs
      while (cur.length > 1)
        cur = cur.grouped(2).map(g => if (g.length == 2) g(0) || g(1) else g(0)).toSeq
      cur.head
    }
    def member(colOf: PartitionField => Column): Column = orBalanced(tuples.map { r =>
      s.spec.zipWithIndex.map { case (pf, i) =>
        colOf(pf) <=> lit(r.get(i))
      }.reduce(_ && _)
    })
    val dirPred = member(pf => col(pf.name))
    val rowPred = member(pf => pf.exprFor(col(pf.source), s.schema(pf.source).dataType))
    val touched = prunedLeafDirs(s.dataDirs.map(d => s"$dir/${d.path}"), s.spec, s.schema, dirPred) match {
      case None => s.dataDirs // unexpected layout: rewrite everything
      case Some(leaves) =>
        s.dataDirs.filter(d => leaves.exists(_.contains(s"/${d.path}/")))
    }
    val untouched = s.dataDirs.filterNot(touched.toSet)
    // a zero-row write on a partitioned table creates NO files
    // (partitionBy of nothing) — such dirs must not enter the snapshot
    val keptSub =
      if (touched.isEmpty) None
      else Some(writeData(readDirs(s, touched).filter(!rowPred), s))
        .filter(_._2 != 0)
    val (newSub, newRows) = writeData(aligned, s)
    commit(s.version + 1)((rebase, v) => {
      val b = Option(rebase).getOrElse(s)
      // the dir split was computed against s: folding over a concurrent
      // commit would silently drop its dirs (and carrying its deletes
      // while stamping our rewrite NEWER would resurrect deleted rows) —
      // abort like every other row-level commit
      require(b.version == s.version,
        s"concurrent write during dynamic overwrite (table advanced " +
          s"v${s.version} -> v${b.version}); retry")
      b.copy(version = v, op = "overwrite",
        dataDirs = untouched ++ keptSub.map { case (p, r) => DataDir(p, v, r) } ++
          (if (newRows != 0) Seq(DataDir(newSub, v, newRows)) else Seq.empty))
    })
    this
  }

  /** Merge-on-read upsert: one atomic commit of (equality-delete keys,
    * new rows). Deletes apply to strictly-older commits only, so the new
    * rows survive even when their keys match the delete keys — Iceberg
    * sequence-number semantics (`IcebergJavaApiUpsert.java:99-118`). */
  def rowDelta(deleteKeys: DataFrame, rows: DataFrame, keys: Seq[String]): GraftTable = {
    val s = snapshot
    require(s.formatVersion >= 2,
      s"rowDelta requires format version >= 2 (current ${s.formatVersion}); call upgradeFormat(2)")
    require(GraftTable.equalityDeleteKeys(s).forall(_ == keys),
      s"rowDelta key set $keys differs from existing delete files' key set " +
        s"${GraftTable.equalityDeleteKeys(s)}; mixed equality-delete keys are not supported")
    val dsub = s"deletes/${UUID.randomUUID()}"
    val physKeys = keys.map(s.physicalOf)
    deleteKeys.select(keys.map(col): _*)
      .toDF(physKeys: _*)
      .write.mode("errorifexists").parquet(s"$dir/$dsub")
    // footer count instead of an Observation: obs.get waits on the async
    // listener bus after every commit (see writeData)
    val dRows = footerRowCount(s"$dir/$dsub")
    val (rsub, nrows) = writeData(rows, s)
    commit(s.version + 1)((rebase, v) => {
      val b = Option(rebase).getOrElse(s)
      // re-check on rebase: a racing rowDelta with a different key set
      // must not slip past the pre-read validation
      require(GraftTable.equalityDeleteKeys(b).forall(_ == keys),
        s"concurrent rowDelta with different key set ${GraftTable.equalityDeleteKeys(b)} vs $keys")
      b.copy(version = v, op = "rowdelta",
        dataDirs =
          if (nrows != 0) b.dataDirs :+ DataDir(rsub, v, nrows) else b.dataDirs,
        deletes =
          if (dRows != 0) b.deletes :+ DeleteFile(dsub, keys, v, dRows) else b.deletes)
    })
    this
  }

  /** POSITION deletes — merge-on-read DELETE addressed by physical row
    * identity instead of a key column: each delete row names a data file
    * and a row ordinal within it, exactly Iceberg's format-v2 position
    * delete files (the delete form Spark+Iceberg MoR `DELETE` writes for
    * tables with no equality spec). The commit reuses the equality-delete
    * structure with the reserved key set `(_file, _pos)`; readers apply
    * them through the same version-guarded reader-side filter, keyed on
    * the scan's stamped metadata columns. A file rewritten later lives
    * under a new data dir, so stale position deletes can never re-fire.
    *
    * `pos` must carry `_file` (string) and `_pos` (long) columns — the
    * values a graft scan's metadata columns produce. Paths are
    * canonicalized to the reader's stamped form (filesystem-qualified),
    * so `file:/x`, `file:///x` and bare `/x` spellings all match.
    *
    * The commit ABORTS if the table advanced since this call started:
    * positions computed against an older snapshot may name files a
    * concurrent rewrite removed, and folding them forward would silently
    * drop the delete (the same strictness as [[commitReplace]]). */
  def positionDelete(pos: DataFrame): GraftTable = {
    val s = snapshot
    require(s.formatVersion >= 2,
      s"positionDelete requires format version >= 2 (current ${s.formatVersion}); call upgradeFormat(2)")
    require(!s.schema.fieldNames.exists(n => GraftTable.PosDeleteKeys.contains(n)),
      "positionDelete keys on the _file/_pos METADATA columns; this table has " +
        "data columns shadowing them")
    val uriStr = fs.getUri.toString
    val qualify = udf { (p: String) =>
      if (p == null) null
      else new Path(new Path(p).toUri.getPath)
        .makeQualified(java.net.URI.create(uriStr), new Path("/")).toString
    }
    val dsub = s"deletes/${UUID.randomUUID()}"
    pos.select(qualify(col(GraftTable.PosDeleteKeys.head)).as(GraftTable.PosDeleteKeys.head),
        col(GraftTable.PosDeleteKeys(1)).cast(LongType).as(GraftTable.PosDeleteKeys(1)))
      .write.mode("errorifexists").parquet(s"$dir/$dsub")
    val dRows = footerRowCount(s"$dir/$dsub")
    commit(s.version + 1)((rebase, v) => {
      val b = Option(rebase).getOrElse(s)
      require(b.version == s.version,
        s"concurrent write during position delete (table advanced " +
          s"v${s.version} -> v${b.version}); recompute positions and retry")
      b.copy(version = v, op = "rowdelta",
        deletes =
          if (dRows != 0) b.deletes :+ DeleteFile(dsub, GraftTable.PosDeleteKeys, v, dRows)
          else b.deletes)
    })
    this
  }

  /** Positional MoR DELETE WHERE: scans the table's matching rows for
    * their `(_file, _pos)` identities (one filtered metadata-column scan,
    * filters pushed down) and commits them as a position-delete file —
    * no data rewrite at any scale, the Iceberg merge-on-read `DELETE`
    * for tables without an equality key. */
  def deleteWherePositional(cond: Column): GraftTable = {
    // keepScan: the metadata columns are referenced AFTER load() analyzes,
    // so the DSv2 relation must not be view-swapped in the meantime
    val pos = spark.read.format("graft").option("keepScan", "true")
      .load(dir).where(cond)
      .select(GraftTable.PosDeleteKeys.map(col): _*)
    positionDelete(pos)
  }

  // ---- schema evolution (D4-D7) ---------------------------------------

  def addColumn(name: String, dt: DataType): GraftTable = {
    val s = snapshot
    require(!s.schema.fieldNames.contains(name), s"column exists: $name")
    // never reuse a retired physical name: fresh names get a version suffix
    val phys =
      if (s.retiredPhysical.contains(name) || s.fields.exists(_.physical == name)) s"${name}__r${s.version + 1}"
      else name
    commit(s.version + 1)((rebase, v) => {
      val b = Option(rebase).getOrElse(s)
      require(!b.schema.fieldNames.contains(name), s"column exists: $name")
      b.copy(version = v, op = "add-column",
        schema = StructType(b.schema.fields :+ StructField(name, dt, nullable = true)),
        fields = b.fields :+ FieldInfo(name, phys, v))
    })
    this
  }

  def dropColumn(name: String): GraftTable = {
    val s = snapshot
    val phys = s.physicalOf(name)
    require(!s.spec.exists(_.source == name), s"cannot drop partition source column $name")
    require(!s.key.contains(name),
      s"cannot drop sort-key column $name; replaceSortKey first")
    commit(s.version + 1)((rebase, v) => {
      val b = Option(rebase).getOrElse(s)
      b.copy(version = v, op = "drop-column",
        schema = StructType(b.schema.fields.filterNot(_.name == name)),
        fields = b.fields.filterNot(_.logical == name),
        // a bloom key on the dropped column would break every future
        // write (physicalOf throws); existing sidecars just go unused
        bloomKeys = b.bloomKeys.filterNot(_ == name),
        statsKeys = b.statsKeys.filterNot(_ == name),
        retiredPhysical = b.retiredPhysical :+ phys)
    })
    this
  }

  /** Metadata-only rename: the PHYSICAL (in-file) name never changes, so
    * no data rewrite at any scale — the logical→physical field mapping is
    * the whole mechanism (Iceberg renames are likewise field-id metadata
    * ops). Sort-key and bloom-key references follow the rename (old bloom
    * sidecars go unused — skipping degrades, soundly); partition sources
    * refuse because the k=v directory layout embeds the derived name. */
  def renameColumn(name: String, newName: String): GraftTable = {
    val s = snapshot
    s.physicalOf(name) // validate exists
    require(!s.schema.fieldNames.contains(newName), s"column exists: $newName")
    require(!s.spec.exists(_.source == name),
      s"cannot rename partition source column $name (directory layout embeds it)")
    commit(s.version + 1)((rebase, v) => {
      val b = Option(rebase).getOrElse(s)
      require(b.schema.fieldNames.contains(name) && !b.schema.fieldNames.contains(newName),
        s"concurrent schema change conflicts with rename $name -> $newName")
      def r(k: String) = if (k == name) newName else k
      b.copy(version = v, op = "rename-column",
        schema = StructType(b.schema.fields.map(f =>
          if (f.name == name) f.copy(name = newName) else f)),
        fields = b.fields.map(fi =>
          if (fi.logical == name) fi.copy(logical = newName) else fi),
        key = b.key.map(r),
        bloomKeys = b.bloomKeys.map(r),
        // min/max sidecars are keyed by physical name — they stay live
        statsKeys = b.statsKeys.map(r),
        deletes = b.deletes.map(d => d.copy(keys = d.keys.map(r))))
    })
    this
  }

  def upgradeFormat(v: Int): GraftTable = {
    val s = snapshot
    require(v >= s.formatVersion, "format version cannot be downgraded")
    commit(s.version + 1)((rebase, nv) => Option(rebase).getOrElse(s)
      .copy(version = nv, op = "upgrade-format", formatVersion = v))
    this
  }

  def replaceSortKey(keys: Seq[String]): GraftTable = {
    val s = snapshot
    keys.foreach(s.physicalOf) // validate existence
    GraftTable.requireKeyTypes(s.schema, keys)
    commit(s.version + 1)((rebase, v) => Option(rebase).getOrElse(s)
      .copy(version = v, op = "replace-key", key = keys))
    this
  }

  /** Declares columns whose point-lookups should skip whole data dirs via
    * per-commit bloom sidecars (captured on FUTURE writes; existing dirs
    * have no sidecar and are never skipped — pruning stays sound). */
  def setBloomKeys(keys: Seq[String]): GraftTable = {
    val s = snapshot
    keys.foreach(s.physicalOf) // validate
    commit(s.version + 1)((rebase, v) => Option(rebase).getOrElse(s)
      .copy(version = v, op = "set-bloom-keys", bloomKeys = keys))
    this
  }

  /** Partition-spec evolution (Iceberg's `ALTER TABLE … ADD/REPLACE
    * PARTITION FIELD`): future writes lay out under `newSpec`; existing
    * data dirs keep their layout and are interpreted by the spec in
    * force when they were committed (`Snapshot.specAt`) — a metadata-only
    * commit, no data rewritten at any scale. Scans prune each dir group
    * by ITS OWN spec; ops that need a globally-uniform layout (dynamic
    * overwrite, storage-partitioned joins) require `uniformSpec` and
    * suggest a compacting rewrite. */
  def updateSpec(newSpec: Seq[PartitionField]): GraftTable = {
    val s = snapshot
    newSpec.foreach { pf =>
      s.physicalOf(pf.source) // validate source exists
      require(Set("identity", "bucket", "ibucket", "month", "truncate").contains(pf.transform),
        s"unknown transform: ${pf.transform}")
    }
    commit(s.version + 1)((rebase, v) => {
      val b = Option(rebase).getOrElse(s)
      val log = if (b.specLog.isEmpty) Seq((0, b.spec)) else b.specLog
      b.copy(version = v, op = "set-spec", spec = newSpec,
        specLog = log :+ (v, newSpec))
    })
    this
  }

  /** Declares columns whose RANGE predicates should skip whole data dirs
    * via per-dir [min, max] sidecars (captured on FUTURE writes, riding
    * the write job's Observation — zero extra passes; existing dirs have
    * no sidecar and are never skipped). The dir-level complement of the
    * bloom sidecars: blooms answer point lookups on high-cardinality
    * keys, bounds answer range scans (`ts >= X`, `price < Y`) — the role
    * Iceberg's per-column manifest bounds play at 100 TB, where skipping
    * a dir means never listing its files at all. */
  def setStatsKeys(keys: Seq[String]): GraftTable = {
    val s = snapshot
    keys.foreach(s.physicalOf) // validate
    commit(s.version + 1)((rebase, v) => Option(rebase).getOrElse(s)
      .copy(version = v, op = "set-stats-keys", statsKeys = keys))
    this
  }

  /** Sets (merges) free-form table properties — Iceberg's `ALTER TABLE …
    * SET TBLPROPERTIES` stored in the snapshot log itself: ONE
    * metadata-only commit, versioned with the table, carried forward by
    * every subsequent commit, readable at any version with zero Spark
    * jobs (`snapshotAt(v).properties`). A value of null removes the key.
    * The index-manifest pointer swap rides this: an atomic publish is a
    * log write, and resolving the published state is a file read. */
  def setProperties(props: Map[String, String]): GraftTable = {
    val s = snapshot
    commit(s.version + 1)((rebase, v) => {
      val b = Option(rebase).getOrElse(s)
      val (removed, set) = props.partition(_._2 == null)
      b.copy(version = v, op = "set-properties",
        properties = b.properties -- removed.keys ++ set)
    })
    this
  }

  /** [[setProperties]] gated by the exactly-once streaming-epoch ledger —
    * the manifest-publish step of a crash-safe multi-table micro-batch
    * commit. Returns false (no commit) if `(queryId, epochId)` already
    * landed. */
  private[graft] def setPropertiesEpoch(props: Map[String, String],
                                        queryId: String, epochId: Long): Boolean = {
    val s = snapshot
    if (s.streamEpochs.getOrElse(queryId, -1L) >= epochId) return false
    commit(s.version + 1)((rebase, v) => {
      val b = Option(rebase).getOrElse(s)
      val (removed, set) = props.partition(_._2 == null)
      b.copy(version = v, op = "set-properties",
        properties = b.properties -- removed.keys ++ set,
        streamEpochs = b.streamEpochs + (queryId -> epochId))
    })
    true
  }

  /** Current table properties. */
  def properties: Map[String, String] = snapshot.properties

  /** Registers a maintained aggregate MV on THIS (base) table so the
    * analyzer's transparent-rewrite rule ([[graft.catalog]] extensions)
    * can serve matching `GROUP BY groupCol` aggregates from the MV table
    * instead of scanning the base — the serving half of the incremental-MV
    * loop ([[graft.streaming.StreamOps.applyMvDeltas]] is the maintenance
    * half). The registration is ordinary table properties (versioned,
    * metadata-only); the MV's freshness stamp (`graft.mv.base-version` on
    * the MV table) is what gates each individual rewrite, so registering
    * is always safe. */
  def registerMv(name: String, mvDir: String, groupCol: String,
                 valueCol: String): GraftTable =
    registerMv(name, mvDir, Seq(groupCol), valueCol)

  /** Multi-column grouping form: the registration records the full
    * `GROUP BY` tuple (comma-separated in the property value). */
  def registerMv(name: String, mvDir: String, groupCols: Seq[String],
                 valueCol: String): GraftTable = {
    require(name.nonEmpty && !name.contains("="), s"bad MV name: $name")
    require(groupCols.nonEmpty && groupCols.forall(c => !c.contains(",") && !c.contains(";")),
      s"bad MV group columns: $groupCols")
    setProperties(Map(s"${GraftTable.MvRegistrationPrefix}$name" ->
      s"dir=$mvDir;group=${groupCols.mkString(",")};value=$valueCol"))
  }

  // ---- read path -------------------------------------------------------

  /** Current-snapshot DataFrame: newest logical schema over live files,
    * equality deletes applied as a single version-guarded left_anti. */
  def toDF: DataFrame = dfAt(snapshot)

  /** Table-relative paths as literal (glob-escaped) read paths. */
  private def readPaths(rels: Seq[String]): Seq[String] =
    rels.map(r => globEscape(s"$dir/$r"))

  /** The one data-dir-to-logical-rows builder: every read of `s`'s data
    * dirs goes through here (snapshot reads, scans, incremental and
    * changelog reads, rewrites). Reads `dirs` — or, for a pruned scan,
    * their `leaves` (absolute k=v leaf dirs under them) — as ONE
    * relation with an explicit physical read schema plus the `extra`
    * in-file fields (no schema-inference job, no partition discovery),
    * and aliases physical names to logical ones. Schema evolution: a dir
    * committed before a column's add-version reads NULL for it even when
    * its files physically carry a column of that name (add_files of a
    * wider foreign dir), gated on the commit version derived from the
    * path. The version column `__cv` exists only when that gate needs it
    * or `withVersion` asks for it (delete guard, changelog stamp); output
    * is the logical columns, then `extra`, then `__cv` if asked. */
  private def readDirs(s: Snapshot, dirs: Seq[DataDir], withVersion: Boolean = false,
                       extra: Seq[StructField] = Nil, leaves: Seq[String] = Nil): DataFrame = {
    val physSchema = StructType(s.schema.fields.map(f =>
      StructField(s.physicalOf(f.name), f.dataType, nullable = true)) ++ extra)
    val raw = spark.read.schema(physSchema)
      .option("recursiveFileLookup", "true")
      .parquet((if (leaves.isEmpty) readPaths(dirs.map(_.path)) else leaves.map(globEscape)): _*)
    val sinceGated = s.fields.filter(fi => dirs.exists(_.version < fi.since))
      .map(_.logical).toSet
    val data =
      if (sinceGated.isEmpty && !withVersion) raw
      else raw.withColumn("__cv", pathVersionCol(raw, dir, dirs.map(d => (d.path, d.version))))
    data.select(s.schema.fields.map { f =>
      val c = col(s.physicalOf(f.name))
      (if (sinceGated(f.name)) when(col("__cv") >= s.fieldOf(f.name).since, c) else c)
        .as(f.name)
    } ++ extra.map(x => col(x.name)) ++ (if (withVersion) Seq(col("__cv")) else Nil): _*)
  }

  def dfAt(s: Snapshot): DataFrame = {
    if (s.dataDirs.isEmpty) return emptyDF(s)
    // pending POSITION deletes need each row's (_file, _pos) identity —
    // only the DSv2 reader stamps it, so route through the graft source
    // (its delete-aware scan applies every pending delete group)
    if (s.deletes.exists(_.keys == GraftTable.PosDeleteKeys))
      return spark.read.format("graft")
        .option("versionAsOf", s.version).load(dir)
    if (s.deletes.isEmpty) return readDirs(s, s.dataDirs)
    // ONE relation over all data dirs with the commit version looked up
    // from each row's dir under the table root (pathVersionCol), and
    // ONE over all delete files likewise. The previous shape — one
    // parquet relation per dir/delete unioned together — made the plan
    // (and every task's serialized binary) grow linearly with commit
    // count: a 10-commit MoR read cost ~1.0s vs ~0.25s compacted, with
    // per-task deserialize time the dominant term (r14 profile).
    val dataByVersion = readDirs(s, s.dataDirs, withVersion = true)
    val keys = s.deletes.head.keys
    val delSchema = StructType(keys.map(k =>
      StructField(s.physicalOf(k), s.schema(k).dataType, nullable = true)))
    val delRaw = spark.read.schema(delSchema).parquet(readPaths(s.deletes.map(_.path)): _*)
    val delDf = delRaw
      .withColumn("__dv", pathVersionCol(delRaw, dir, s.deletes.map(d => (d.path, d.version))))
    // Broadcast delete keys ONLY when their total row count (tracked in
    // the log at write time) is known and small. A CDC-heavy table can
    // accumulate delete keys far past broadcast size — forcing the hint
    // there means executor OOM with no graceful degradation; above the
    // threshold (or when any count is unknown) Spark's planner picks a
    // shuffle anti-join instead.
    val cond = keys.map(k => dataByVersion(k) <=> delDf(s.physicalOf(k))).reduce(_ && _) &&
      dataByVersion("__cv") < delDf("__dv")
    val counts = s.deletes.map(_.rowCount)
    val broadcastable = counts.forall(_ >= 0) && counts.sum <= deleteBroadcastMaxRows(spark)
    val delSide = if (broadcastable) broadcast(delDf) else delDf
    dataByVersion.join(delSide, cond, "left_anti").drop("__cv")
  }

  /** Filtered scan with Iceberg-style transform pruning, two levels deep:
    *
    *  1. DIRECTORY pruning — predicates on a transform's SOURCE column
    *     derive implied predicates on the DERIVED partition column
    *     ([[TransformPruning]]); those are evaluated against the parsed
    *     `k=v` directory layout so non-matching partitions are never even
    *     LISTED. At 100 TB this is the difference between opening every
    *     file's footer and touching only the matching partitions — the
    *     same role Iceberg's manifest filtering plays. The evaluation is
    *     a driver-side job over O(partition dirs) rows (metadata scale,
    *     never row data).
    *  2. File/row-group skipping — the derived columns are ALSO stored
    *     in-file, so the same predicates push to the Parquet scan and
    *     footer min/max stats skip row groups inside the surviving dirs.
    *
    *  3. Bloom dir skipping — point predicates on declared `bloomKeys`
    *     probe the per-commit bloom sidecars and drop whole data dirs
    *     whose keys definitely don't contain the value — file skipping on
    *     NON-layout columns, the role Iceberg's per-file bloom metrics
    *     play. Sound: a missing/unreadable sidecar keeps the dir.
    *
    *  4. Bounds dir skipping — comparison predicates on declared
    *     `statsKeys` check each dir's logged [min, max] sidecar and drop
    *     dirs whose interval cannot match — the role Iceberg's manifest
    *     column bounds play (range scans on non-layout columns). Same
    *     soundness rule: missing sidecar keeps the dir.
    *
    * Falls back to a plain filtered read when nothing is derivable. */
  def scan(pred: Column): DataFrame = scanAt(snapshot, pred)

  /** [[scan]] against a PINNED version — the reader-protocol shape for
    * manifest-published indexes (ann_index_refresh): resolve the
    * published version once, then prune and read that exact snapshot.
    * Branching on `currentVersion` and then calling [[scan]] is racy — a
    * commit landing between the check and the scan serves a different
    * version than the one checked. */
  def scanAsOf(version: Int, pred: Column): DataFrame = {
    val s = snapshotAt(version)
    require(s.op != "expired",
      s"snapshot v$version has been expired (expireSnapshots); cannot scan it")
    scanAt(s, pred)
  }

  private[graft] def scanAt(s: Snapshot, pred: Column): DataFrame = {
    if (s.deletes.nonEmpty || s.dataDirs.isEmpty) return dfAt(s).filter(pred)
    val live = rangeLiveDirs(s, bloomLiveDirs(s, pred), pred)
    if (live.isEmpty) return emptyDF(s)
    // spec evolution: each dir group is pruned and read under the spec
    // that governed its write (its derived columns and k=v layout differ
    // per spec — applying the CURRENT spec's derived predicate to an
    // old-layout dir would filter on columns the files don't have)
    live.groupBy(d => s.specAt(d.version)).toSeq
      .map { case (spec, dirs) => scanGroup(s, spec, dirs, pred) }
      .reduce(_ unionByName _)
  }

  /** One spec-uniform dir group of [[scan]]. */
  private def scanGroup(s: Snapshot, spec: Seq[PartitionField],
                        live: Seq[DataDir], pred: Column): DataFrame = {
    val derived = TransformPruning.derive(spec, s.schema, pred, includeIdentity = true, sessionZone)
    if (spec.isEmpty || derived.isEmpty)
      return readDirs(s, live).filter(pred)
    // read schema includes the derived partition columns (they are stored
    // in-file precisely so this filter can reach the footer stats)
    val derivedFields = spec.filterNot(_.transform == "identity").map { pf =>
      StructField(pf.name, dirColType(pf, s.schema), nullable = true)
    }
    val roots = live.map(d => s"$dir/${d.path}")
    val paths = prunedLeafDirs(roots, spec, s.schema, derived.get).getOrElse(roots)
    if (paths.isEmpty) return emptyDF(s)
    // the user predicate binds to the LOGICAL names (a predicate on a
    // renamed column must bind to the renamed data, not to whatever file
    // column happens to carry its old name); the derived partition
    // columns ride along so the combined filter still reaches the parquet
    // footers (Catalyst pushes filters through aliases)
    readDirs(s, live, extra = derivedFields, leaves = paths)
      .filter(pred && derived.get)
      .select(s.schema.fields.map(f => col(f.name)): _*)
  }

  private def emptyDF(s: Snapshot): DataFrame = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s.schema)

  /** Data dirs whose logged [min, max] bounds can satisfy `pred`'s
    * comparison conjuncts; a dir is dropped only when some conjunct
    * cannot hold anywhere in the dir's interval for that column. Missing
    * sidecar / missing column entry / uncomparable literal ⇒ keep (the
    * skip is an optimization, never a correctness dependency). O(dirs)
    * driver metadata work. */
  /** Data dirs of `s` that can possibly hold rows matching `pred`, per
    * the bloom + bounds sidecars — always a SOUND superset (missing or
    * unreadable sidecars, struct schemas, or underivable predicates keep
    * every dir). The dir-skipping core of [[scan]] exposed for other
    * planners (the changelog stream prunes delete pre-image scans with
    * it); O(dirs) driver metadata reads, never row data. */
  private[graft] def dirsPossiblyMatching(s: Snapshot, pred: Column): Seq[DataDir] =
    rangeLiveDirs(s, bloomLiveDirs(s, pred), pred)

  private def rangeLiveDirs(s: Snapshot, dirs: Seq[DataDir], pred: Column): Seq[DataDir] = {
    if (s.statsKeys.isEmpty || dirs.isEmpty) return dirs
    // struct-field predicates (s.x) are indistinguishable from qualified
    // top-level references at this level — never prune on such schemas
    if (s.schema.fields.exists(_.dataType.isInstanceOf[StructType])) return dirs
    val conjuncts = TransformPruning.rangeConjuncts(pred).filter { case (c, _, _) =>
      s.statsKeys.exists(_.equalsIgnoreCase(c)) && s.schema.fieldNames.contains(c)
    }
    if (conjuncts.isEmpty || !log.hasSidecars("stats")) return dirs
    // a LocalDateTime literal against a TIMESTAMP column means the
    // instant Spark resolves it to — the SESSION time zone's reading,
    // not UTC's (stored bounds are absolute instants)
    val zone = java.time.ZoneId.of(
      spark.conf.get("spark.sql.session.timeZone", java.util.TimeZone.getDefault.getID))
    def norm(dt: DataType, v: Any): Any = (dt, v) match {
      case (TimestampType, t: java.time.LocalDateTime) => t.atZone(zone).toInstant
      case _ => v
    }
    dirs.filter { d =>
      val uuid = d.path.substring(d.path.lastIndexOf('/') + 1)
      log.sidecar("stats", uuid) match {
        case None => true
        case Some(node) => conjuncts.forall { case (c, op, rawValues) =>
          val dt = s.schema(c).dataType
          val values = rawValues.map(norm(dt, _))
          val entry = Option(node.get(s.physicalOf(c)))
          entry match {
            case None => true
            case Some(e) =>
              // an entry may carry only `nn` (all-NULL column): no bounds
              val bounds = for {
                mnN <- Option(e.get("min")); mxN <- Option(e.get("max"))
                mn <- decodeStat(dt, mnN.asText())
                mx <- decodeStat(dt, mxN.asText())
              } yield (mn, mx)
              bounds.forall { case (mn, mx) =>
                def ge(a: Any, b: Any) = cmpStat(dt, a, b).forall(_ >= 0)
                def gt(a: Any, b: Any) = cmpStat(dt, a, b).forall(_ > 0)
                op match {
                  case "=" | "in" => values.exists(v => ge(v, mn) && ge(mx, v))
                  case ">"  => values.exists(v => gt(mx, v))
                  case ">=" => values.exists(v => ge(mx, v))
                  case "<"  => values.exists(v => gt(v, mn))
                  case "<=" => values.exists(v => ge(v, mn))
                  case _ => true
                }
              }
          }
        }
      }
    }
  }

  /** Catalyst-internal value of the table-wide MIN/MAX of a stats
    * column, folded from the per-dir bounds sidecars (min of mins / max
    * of maxes) — `SELECT min(ts) FROM t` without touching a data file,
    * the role Iceberg's manifest stats play at 100 TB. Some(null) for an
    * empty table; None when the column has no declared stats, any dir
    * lacks a recorded bound, or the type cannot fold (query must scan).
    * O(dirs) driver metadata reads. */
  private[graft] def globalBound(s: Snapshot, logical: String, isMin: Boolean): Option[Any] = {
    val fld = s.schema.fields.find(_.name.equalsIgnoreCase(logical))
      .getOrElse(return None)
    if (!s.statsKeys.exists(_.equalsIgnoreCase(fld.name))) return None
    if (s.dataDirs.isEmpty) return Some(null)
    val dt = fld.dataType
    val info = s.fieldOf(fld.name)
    val found = scala.collection.mutable.ArrayBuffer.empty[Any]
    s.dataDirs.foreach { d =>
      // a dir from before the column existed projects NULL for it: no
      // extreme to contribute, soundly skippable
      if (d.version >= info.since) {
        val uuid = d.path.substring(d.path.lastIndexOf('/') + 1)
        val entry = log.sidecar("stats", uuid) match {
          case None => return None // unreadable sidecar: bail
          case Some(node) => Option(node.get(info.physical))
        }
        entry match {
          case None => return None // no record: may hide the true extreme
          case Some(e) =>
            Option(e.get(if (isMin) "min" else "max"))
              .flatMap(n => decodeStat(dt, n.asText())) match {
              case Some(v) => found += v
              case None =>
                // bound absent: skippable ONLY when the dir proves it
                // holds no values (recorded non-null count of 0)
                if (!Option(e.get("nn")).exists(_.asLong == 0L)) return None
            }
        }
      }
    }
    if (found.isEmpty) return Some(null) // every live value is NULL
    val best = found.reduceLeft { (a, b) =>
      cmpStat(dt, a, b) match {
        case Some(c) => if ((c <= 0) == isMin) a else b
        case None => return None
      }
    }
    toCatalystStat(dt, best)
  }

  /** Table-wide COUNT(col) of a stats column, folded from the per-dir
    * `nn` (non-null count) sidecar entries — `SELECT count(c) FROM t`
    * without touching a data file. Dirs committed before the column
    * existed project NULL for it and contribute 0; a dropped-and-re-added
    * column starts over (tombstone semantics). None when any dir that
    * could hold values lacks a recorded count — the query must scan. */
  private[graft] def globalNonNullCount(s: Snapshot, logical: String): Option[Long] = {
    val fld = s.schema.fields.find(_.name.equalsIgnoreCase(logical))
      .getOrElse(return None)
    if (!s.statsKeys.exists(_.equalsIgnoreCase(fld.name))) return None
    val info = s.fieldOf(fld.name)
    var total = 0L
    s.dataDirs.foreach { d =>
      if (d.version >= info.since) {
        val uuid = d.path.substring(d.path.lastIndexOf('/') + 1)
        val nn =
          log.sidecar("stats", uuid)
            .flatMap(node => Option(node.get(info.physical)))
            .flatMap(e => Option(e.get("nn"))).map(_.asLong)
        nn match {
          case Some(v) => total += v
          case None => return None
        }
      }
    }
    Some(total)
  }

  /** Live-row count per distinct tuple of `cols` partition values,
    * folded entirely from the per-leaf pstats sidecars — `SELECT g,
    * count(*) GROUP BY g` (and partition-equality filtered counts)
    * without touching a data file, the role Iceberg's per-manifest
    * partition summaries play at 100 TB. Values are Catalyst-internal.
    * None (the query must scan) unless: every requested column is an
    * IDENTITY partition source in EVERY live dir's spec, every dir has a
    * complete sidecar whose per-leaf rows reconcile with the dir's own
    * recorded rowCount, no equality deletes are pending, and every value
    * round-trips the k=v path encoding (string / integral / boolean /
    * date only — never float or timestamp, whose path formatting is
    * ambiguous). O(dirs) driver metadata reads, O(leaves) local fold. */
  private[graft] def partitionRowCounts(
      s: Snapshot, cols: Seq[String]): Option[Seq[(Seq[Any], Long)]] = {
    if (cols.isEmpty || s.deletes.nonEmpty) return None
    val flds = cols.map(c =>
      s.schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(return None))
    val safe = flds.forall(_.dataType match {
      case StringType | IntegerType | LongType | ShortType | ByteType |
           BooleanType | DateType => true
      case _ => false
    })
    if (!safe) return None
    val acc = scala.collection.mutable.LinkedHashMap.empty[Seq[Any], Long]
    // a recorded-empty dir holds no rows and needs no sidecar
    s.dataDirs.filterNot(_.rowCount == 0L).foreach { d =>
      val spec = s.specAt(d.version)
      // every requested column must be an identity partition source of
      // THIS dir (so the leaf value IS the row value, exactly)
      val keys: Seq[String] = flds.map { f =>
        spec.find(pf => pf.transform == "identity" &&
          pf.source.equalsIgnoreCase(f.name)) match {
          case Some(pf) => pf.name
          case None => return None
        }
      }
      val leaves = pstatsOf(d).getOrElse(return None)
      if (leaves.exists(_._3 < 0L)) return None
      // reconcile with the commit-recorded dir total: any divergence
      // (layout deviation, partial sidecar) disables the fold
      if (d.rowCount >= 0L && leaves.map(_._3).sum != d.rowCount) return None
      leaves.foreach { case (disp, _, rows, _) =>
        if (rows > 0L) { // a rowless leaf must not invent a group
          val kv: Seq[(String, String)] = disp.split('/').toSeq.flatMap { seg =>
            val i = seg.indexOf('=')
            if (i <= 0) None else Some(seg.substring(0, i) -> seg.substring(i + 1))
          }
          val tuple: Seq[Any] = keys.zip(flds).map { case (k, f) =>
            val raw = kv.collectFirst {
              case (n, v) if n.equalsIgnoreCase(k) => v }.getOrElse(return None)
            val un = unescapePathName(raw)
            if (un == "__HIVE_DEFAULT_PARTITION__") null
            else decodePartValue(f.dataType, un).getOrElse(return None)
          }
          acc(tuple) = acc.getOrElse(tuple, 0L) + rows
        }
      }
    }
    Some(acc.toSeq)
  }

  /** Table-wide sum(col) of an INTEGRAL stats column, folded from the
    * per-dir `sum` sidecar entries with wrapping Long addition (see
    * [[GraftTable.integralType]] for why that reproduces Spark's own
    * result exactly). Some(null) when every live value is NULL — SQL's
    * sum over no rows. Dirs predating the column contribute nothing;
    * an all-NULL dir (nn == 0) records no sum and is skipped; any other
    * gap declines. */
  private[graft] def globalSum(s: Snapshot, logical: String): Option[Any] = {
    val fld = s.schema.fields.find(_.name.equalsIgnoreCase(logical))
      .getOrElse(return None)
    if (!GraftTable.integralType(fld.dataType)) return None
    if (!s.statsKeys.exists(_.equalsIgnoreCase(fld.name))) return None
    val info = s.fieldOf(fld.name)
    var total = 0L
    var any = false
    s.dataDirs.foreach { d =>
      if (d.version >= info.since) {
        val node = log.sidecar("stats", d.path.substring(d.path.lastIndexOf('/') + 1))
          .getOrElse(return None)
        val entry = Option(node.get(info.physical)).getOrElse(return None)
        Option(entry.get("sum")) match {
          case Some(n) => total += n.asLong; any = true
          case None =>
            // no sum recorded: fine only for a provably all-NULL dir
            if (!Option(entry.get("nn")).exists(_.asLong == 0L)) return None
        }
      }
    }
    if (any) Some(total) else Some(null)
  }

  /** Per-leaf partition-scoped column stats from the pcolstats sidecars:
    * one entry per leaf of every live dir — (Catalyst-internal tuple of
    * `cols` values, rows, and per `statCols` column a (min, max, nn)
    * triple). min/max are DECODED-JVM values (reduce with
    * [[GraftTable.foldBound]]); both absent with nn == 0 means an
    * all-NULL leaf; nn alone always present. Dirs committed before a
    * stat column existed contribute (None, None, 0) — they project NULL.
    * None (the query must scan) under the same guards as
    * [[partitionRowCounts]], plus: every stat column is a declared
    * statsKey and every live dir has a complete sidecar. O(dirs) driver
    * metadata reads, O(leaves) local fold. */
  private[graft] def partitionLeafStats(s: Snapshot, cols: Seq[String],
      statCols: Seq[String])
      : Option[Seq[(Seq[Any], Long, Seq[(Option[Any], Option[Any], Long, Option[Long])])]] = {
    if (cols.isEmpty || s.deletes.nonEmpty) return None
    val flds = cols.map(c =>
      s.schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(return None))
    val safe = flds.forall(_.dataType match {
      case StringType | IntegerType | LongType | ShortType | ByteType |
           BooleanType | DateType => true
      case _ => false
    })
    if (!safe) return None
    val sInfos = statCols.map { c =>
      val fld = s.schema.fields.find(_.name.equalsIgnoreCase(c))
        .getOrElse(return None)
      if (!s.statsKeys.exists(_.equalsIgnoreCase(fld.name))) return None
      (fld, s.fieldOf(fld.name))
    }
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Seq[Any], Long, Seq[(Option[Any], Option[Any], Long, Option[Long])])]
    // a recorded-empty dir holds no rows and needs no sidecar
    s.dataDirs.filterNot(_.rowCount == 0L).foreach { d =>
      val spec = s.specAt(d.version)
      val keys: Seq[String] = flds.map { fl =>
        spec.find(pf => pf.transform == "identity" &&
          pf.source.equalsIgnoreCase(fl.name)) match {
          case Some(pf) => pf.name
          case None => return None
        }
      }
      val uuid = d.path.substring(d.path.lastIndexOf('/') + 1)
      val node = log.sidecar("pcolstats", uuid).getOrElse(return None)
      val by = Option(node.get("by")).getOrElse(return None)
      val idxs: Seq[Int] = keys.map { k =>
        (0 until by.size).find(i => by.get(i).asText().equalsIgnoreCase(k))
          .getOrElse(return None)
      }
      val leaves = Option(node.get("leaves")).getOrElse(return None)
      var dirRows = 0L
      (0 until leaves.size).foreach { li =>
        val e = leaves.get(li)
        val rows = Option(e.get("r")).map(_.asLong).getOrElse(return None)
        dirRows += rows
        val vArr = Option(e.get("v")).getOrElse(return None)
        val tuple: Seq[Any] = idxs.zip(flds).map { case (bi, fl) =>
          val vn = vArr.get(bi)
          if (vn == null) return None
          else if (vn.isNull) null
          else GraftTable.decodeStat(fl.dataType, vn.asText())
            .flatMap(GraftTable.toCatalystStat(fl.dataType, _))
            .getOrElse(return None)
        }
        val stats: Seq[(Option[Any], Option[Any], Long, Option[Long])] =
          sInfos.map { case (fld, info) =>
            if (d.version < info.since) (None, None, 0L, None)
            else {
              val cn = Option(e.get("c"))
                .flatMap(c => Option(c.get(info.physical)))
                .getOrElse(return None)
              val nn = Option(cn.get("nn")).map(_.asLong).getOrElse(return None)
              val mn = Option(cn.get("min"))
                .flatMap(n => GraftTable.decodeStat(fld.dataType, n.asText()))
              val mx = Option(cn.get("max"))
                .flatMap(n => GraftTable.decodeStat(fld.dataType, n.asText()))
              val sm = Option(cn.get("sum")).map(_.asLong)
              (mn, mx, nn, sm)
            }
          }
        if (rows > 0L) out += ((tuple, rows, stats))
      }
      // reconcile with the commit-recorded dir total, like pstats
      if (d.rowCount >= 0L && dirRows != d.rowCount) return None
    }
    Some(out.toSeq)
  }

  /** Catalyst-internal value of one k=v path component under `dt` —
    * Spark's own string cast (LEGACY mode: null, never throw), so the
    * decoding can never drift from what `partitionBy` wrote. */
  private def decodePartValue(dt: DataType, raw: String): Option[Any] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal}
    try Option(Cast(Literal.create(raw, StringType), dt, None, EvalMode.LEGACY).eval(null))
    catch { case _: Exception => None }
  }

  /** Data dirs that can match `pred`'s point predicates per the bloom
    * sidecars; a dir is dropped only when some conjunct's EVERY candidate
    * value is definitely absent. O(dirs) driver metadata work. */
  private def bloomLiveDirs(s: Snapshot, pred: Column): Seq[DataDir] = {
    if (s.bloomKeys.isEmpty) return s.dataDirs
    // same struct-ambiguity guard as rangeLiveDirs / TransformPruning
    if (s.schema.fields.exists(_.dataType.isInstanceOf[StructType])) return s.dataDirs
    val conjuncts = TransformPruning.pointConjuncts(pred)
      .filter { case (c, _) => s.bloomKeys.contains(c) }
    if (conjuncts.isEmpty) return s.dataDirs
    val bloomOf = log.blooms.getOrElse(return s.dataDirs)
    s.dataDirs.filter { d =>
      val uuid = d.path.substring(d.path.lastIndexOf('/') + 1)
      conjuncts.forall { case (c, values) =>
        bloomOf(uuid, c).forall { bloom =>
          val dt = s.schema(c).dataType
          values.exists(v =>
            org.apache.spark.sql.GraftShim.xxh64Of(v, dt,
              spark.conf.get("spark.sql.session.timeZone",
                java.util.TimeZone.getDefault.getID)).forall(bloom.mightContainLong))
        }
      }
    }
  }

  /** Leaf partition directories across `roots` that can match `derived`,
    * or None when the layout is not the expected uniform `__dir_k=v`
    * nesting (caller then reads the roots unpruned — pruning is an
    * optimization, never a correctness dependency). */
  private def prunedLeafDirs(roots: Seq[String], spec: Seq[PartitionField],
                             schema: StructType, derived: Column): Option[Seq[String]] = {
    val f = fs
    val depth = spec.length
    // walk the k=v nesting level by level, accumulating parsed values
    var frontier: Seq[(Path, Seq[String])] = roots.map(r => (new Path(r), Seq.empty[String]))
    var level = 0
    while (level < depth) {
      val expect = s"__dir_${spec(level).name}="
      val next = frontier.flatMap { case (p, vals) =>
        f.listStatus(p).toSeq.filter(_.isDirectory).map { st =>
          val n = st.getPath.getName
          if (!n.startsWith(expect)) return None // unexpected layout: read unpruned
          (st.getPath, vals :+ unescapePathName(n.substring(expect.length)))
        }
      }
      frontier = next
      level += 1
    }
    if (frontier.isEmpty) return Some(Seq.empty)
    // typed evaluation of the derived predicate over the dir tuples — a
    // tiny local DataFrame job over O(partition dirs) rows
    val strSchema = StructType(StructField("__path", StringType) +:
      spec.map(pf => StructField(pf.name, StringType)))
    val rows = frontier.map { case (p, vals) =>
      org.apache.spark.sql.Row.fromSeq(p.toString +: vals.map(v =>
        if (v == "__HIVE_DEFAULT_PARTITION__") null else v))
    }
    val df0 = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), strSchema)
    val typed = spec.foldLeft(df0)((d, pf) =>
      d.withColumn(pf.name, col(pf.name).cast(dirColType(pf, schema))))
    Some(typed.filter(derived).select("__path").collect().map(_.getString(0)).toSeq)
  }

  /** Type of a partition-derived column as written to dirs/files. */
  private def dirColType(pf: PartitionField, schema: StructType): DataType = pf.transform match {
    case "month"            => StringType
    case "bucket" | "ibucket" => IntegerType
    case _        => schema(pf.source).dataType // identity, truncate
  }

  /** Inverse of Hive/Spark partition-path escaping — Spark's own decoder,
    * so it can never drift from what `partitionBy` writes. */
  private def unescapePathName(v: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(v)

  /** Streaming read: an unbounded DataFrame tailing this table's APPENDS
    * (Iceberg's streaming read is likewise append-tailing). Routed
    * through the DSv2 snapshot-version-offset source
    * ([[graft.catalog.GraftMicroBatchStream]]): micro-batches are the
    * data dirs of COMMITTED snapshots only — staged write-audit-publish
    * dirs and orphans from aborted writers are invisible, exactly as the
    * WAP contract promises (the previous file-stream tail of the raw
    * data/ root surfaced them). Mid-stream overwrite/rewrite commits
    * raise rather than silently surfacing replaced rows; deletes are not
    * retracted (pair with a downstream dedup or CDC consumer for upsert
    * semantics). */
  def toStreamDF: DataFrame = spark.readStream.format("graft").load(dir)

  /** Time travel: the table as of snapshot `version` (Iceberg's
    * `VERSION AS OF` — every snapshot file is immutable, so historical
    * reads are just `dfAt` of an older log entry). */
  def asOf(version: Int): DataFrame = {
    val s = snapshotAt(version)
    require(s.op != "expired",
      s"snapshot v$version has been expired (expireSnapshots); cannot time travel to it")
    dfAt(s)
  }

  /** Latest version committed at or before `tsMillis` — `TIMESTAMP AS OF`
    * resolution. Times come from the `commitTimeMs` stamped INSIDE each
    * snapshot at commit: file mtimes are unusable (expireSnapshots
    * rewrites old entries in place, and copies/restores drift mtimes);
    * the mtime is only a fallback for pre-stamp legacy entries. Scans
    * newest → oldest and stops at the first satisfying version, so the
    * common recent-timestamp lookup touches O(1) log entries. */
  def versionAsOfTimestamp(tsMillis: Long): Int = {
    var v = currentVersion
    while (v >= 0) {
      if (commitTimeOf(v) <= tsMillis) return v
      v -= 1
    }
    throw new IllegalArgumentException(
      s"no snapshot committed at or before timestamp $tsMillis")
  }

  /** Commit time of version `v`: the stamp inside its entry, or the
    * entry's mtime for a pre-stamp legacy entry. */
  private def commitTimeOf(v: Int): Long = {
    val stamped = snapshotAt(v).commitTimeMs
    if (stamped >= 0) stamped else log.entryMtime(v)
  }

  /** Incremental (changelog) read: rows APPENDED between `fromVersion`
    * (exclusive) and `toVersion` (inclusive) — the CDC-consumer pattern.
    * Reads only the data dirs committed in that range, never the whole
    * table; overwrite commits break the append chain and raise (their
    * row-level diff is not representable as appends). */
  def appendsBetween(fromVersion: Int, toVersion: Int): DataFrame = {
    val s = snapshotAt(toVersion)
    (fromVersion + 1 to toVersion).foreach { v =>
      val op = snapshotAt(v).op
      // whitelist, default-closed: overwrite replaces rows; rewrite
      // re-stamps OLD rows with a new commit version; rollback restores
      // dirs whose versions predate the window (silently empty reads);
      // 'expired' erased what the original op was — crossing any of
      // them (or an unknown future op) would corrupt the append stream
      require(GraftTable.AppendSafeOps.contains(op),
        s"incremental read crosses a non-append '$op' commit at v$v; " +
          s"start from v$v instead")
    }
    val newDirs = s.dataDirs.filter(d => d.version > fromVersion && d.version <= toVersion)
    if (newDirs.isEmpty) emptyDF(s) else readDirs(s, newDirs)
  }

  /** In-place migration (Iceberg's `add_files` role): registers an
    * existing parquet directory as a committed data dir WITHOUT copying
    * or rewriting row data. The directory is RENAMED under the table's
    * data root (an O(1) metadata move on the same filesystem — cross-fs
    * moves are refused rather than silently degrading to a copy), its
    * schema is validated against the table's physical columns, and one
    * append snapshot commits it. At 100 TB this is how an existing
    * parquet lake becomes a governed table in seconds.
    *
    * Constraints: unpartitioned tables only (a spec'd table's `k=v`
    * layout cannot be guaranteed by foreign files), every file must be
    * `.parquet`, and every table column's physical name must appear in
    * the files with the exact type (extra file columns are ignored by
    * the by-name reads). */
  def addFiles(sourceDir: String): GraftTable = {
    val s = snapshot
    require(s.spec.isEmpty,
      "add_files requires an unpartitioned table (foreign files cannot " +
        "satisfy a partition-transform layout); write through append() instead")
    val src = new Path(sourceDir)
    val f = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(f.exists(src) && f.getFileStatus(src).isDirectory,
      s"add_files source is not a directory: $sourceDir")
    val files = {
      val it = f.listFiles(src, true)
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile && !st.getPath.getName.startsWith(".") &&
            !st.getPath.getName.startsWith("_"))
          buf += st.getPath.getName
      }
      buf.toSeq
    }
    require(files.nonEmpty, s"add_files source has no data files: $sourceDir")
    require(files.forall(_.endsWith(".parquet")),
      s"add_files accepts .parquet files only; found: " +
        files.filterNot(_.endsWith(".parquet")).take(3).mkString(", "))
    // one relation, listed the way every table read lists a dir: the
    // schema check and the logged row count see exactly the rows reads do
    val source = spark.read.option("recursiveFileLookup", "true").parquet(globEscape(sourceDir))
    s.schema.fields.foreach { fld =>
      val phys = s.physicalOf(fld.name)
      val in = source.schema.fields.find(_.name == phys)
      require(in.exists(_.dataType == fld.dataType),
        s"add_files schema mismatch for column '${fld.name}' (physical " +
          s"'$phys'): table ${fld.dataType.sql}, files " +
          s"${in.map(_.dataType.sql).getOrElse("<missing>")}")
    }
    val rows = source.count()
    val sub = s"data/${java.util.UUID.randomUUID()}"
    val dest = new Path(dir, sub)
    dest.getParent.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(dest.getParent)
    require(f.rename(src, dest),
      s"add_files could not move $sourceDir under the table " +
        s"(cross-filesystem moves are not supported — copy first)")
    // start the OCC attempt at the version read BEFORE validation (which
    // includes a full count job): starting at a re-read currentVersion+1
    // could land first-try in a free slot with b = the stale pre-read s,
    // silently dropping a commit that arrived during validation — the
    // collision-then-rebase path below folds it in correctly instead
    commit(s.version + 1)((rebase, v) => {
      val b = Option(rebase).getOrElse(s)
      requireSpecStable(b, s)
      b.copy(version = v, op = "append", dataDirs = b.dataDirs :+ DataDir(sub, v, rows))
    })
    this
  }

  /** Row-level CDC changelog between versions (Iceberg's changelog-view
    * role): every commit in `(fromVersion, toVersion]` contributes its
    * changes tagged with `_change_type` ('insert' | 'delete') and
    * `_commit_version`:
    *
    *  - append / rowdelta DATA dirs committed in range → 'insert' rows
    *    (read directly, never via table diff);
    *  - rowdelta DELETE files committed in range → 'delete' rows carrying
    *    the full PRE-IMAGE: the state as of the delete's parent version
    *    semi-joined on the delete keys — a keyed (size-gated broadcast)
    *    join, so recovering pre-images scales with the table scan, not
    *    with a quadratic diff. An upsert therefore reads as
    *    delete(old) + insert(new), the standard CDC shape.
    *
    * Overwrite/rewrite commits are not expressible as row changes and
    * raise, mirroring [[appendsBetween]]. */
  def changesBetween(fromVersion: Int, toVersion: Int): DataFrame = {
    val s = snapshotAt(toVersion)
    requireChangelogExpressible(fromVersion, toVersion)
    val empty = emptyDF(s)
      .withColumn("_change_type", lit("insert"))
      .withColumn("_commit_version", lit(0))
      .limit(0)
    // ONE relation over every in-range dir, versions derived from file
    // paths (see pathVersionCol) — the plan stays O(1) in commit count
    val insDirs = s.dataDirs
      .filter(d => d.version > fromVersion && d.version <= toVersion)
    val inserts =
      if (insDirs.isEmpty) Nil
      else Seq(readDirs(s, insDirs, withVersion = true)
        .withColumn("_change_type", lit("insert"))
        .withColumnRenamed("__cv", "_commit_version"))
    val deletes = s.deletes
      .filter(d => d.version > fromVersion && d.version <= toVersion)
      .map { d =>
        val parent = snapshotAt(d.version - 1)
        // an expired parent has no data dirs — its pre-images are GONE,
        // and returning an empty frame would silently drop the deletes
        require(parent.op != "expired",
          s"cannot recover delete pre-images for v${d.version}: parent " +
            s"snapshot v${d.version - 1} has been expired")
        // align the parent's LOGICAL names to toVersion's via physical
        // identity (renames between the delete and toVersion are
        // metadata-only; physical names are stable); columns added after
        // the parent project typed NULLs
        val aligned = s.schema.fields.map { f =>
          val phys = s.physicalOf(f.name)
          parent.fields.find(_.physical == phys) match {
            case Some(pf) => col(pf.logical).as(f.name)
            case None => lit(null).cast(f.dataType).as(f.name)
          }
        }
        val positional = d.keys == GraftTable.PosDeleteKeys
        // position deletes name rows by the READER-stamped (_file, _pos)
        // identity: pre-images come from the DSv2 scan of the parent
        // snapshot with its metadata columns selected alongside the data
        val pre =
          if (positional)
            spark.read.format("graft").option("versionAsOf", parent.version)
              .option("keepScan", "true").load(dir)
              .select((aligned.toIndexedSeq ++ d.keys.map(col)): _*)
          else dfAt(parent).select(aligned.toIndexedSeq: _*)
        val keyDf = spark.read.parquet(readPaths(Seq(d.path)): _*)
          .select(d.keys.map(k =>
            col(if (positional) k else s.physicalOf(k)).as(k)): _*)
        val keySide =
          if (d.rowCount >= 0 && d.rowCount <= deleteBroadcastMaxRows(spark))
            broadcast(keyDf)
          else keyDf
        // NULL-SAFE key match: the reader-side delete filter and dfAt's
        // anti-join both treat NULL keys as equal (<=>, the
        // Iceberg equality-delete contract), so the pre-image join must
        // too — a plain equi-join would silently drop the pre-image of a
        // NULL-keyed row the delete really kills (keyed tables assert
        // keys non-null at write, but rowDelta key sets on nullable
        // non-key columns are legal)
        val keyCond = d.keys.map(k => pre(k) <=> keyDf(k)).reduce(_ && _)
        pre.join(keySide, keyCond, "left_semi")
          .drop((if (positional) d.keys else Nil): _*)
          .withColumn("_change_type", lit("delete"))
          .withColumn("_commit_version", lit(d.version))
      }
    (inserts ++ deletes).foldLeft(empty)(_ unionByName _)
  }

  /** Raises unless every commit in `(fromVersion, toVersion]` is
    * expressible as insert/delete changelog rows. Ops whose row-level
    * effect a changelog CAN carry: appends/rowdeltas (dirs + delete
    * files), plus commits that touch no rows at all (cherry-picked
    * appends included). Everything else — overwrite/rewrite/rollback/
    * expiry — removes or re-stamps rows in ways an insert/delete stream
    * cannot express; crossing one silently diverges a CDC consumer, so
    * it raises instead (the shared AppendSafeOps whitelist: unknown
    * future ops fail safe). ONE implementation shared by the batch
    * [[changesBetween]] and the streaming CDC tail
    * ([[graft.catalog.GraftChangelogMicroBatchStream]]) so the two
    * paths cannot drift. */
  private[graft] def requireChangelogExpressible(fromVersion: Int, toVersion: Int): Unit =
    (fromVersion + 1 to toVersion).foreach { v =>
      val op = snapshotAt(v).op
      require(GraftTable.AppendSafeOps.contains(op),
        s"changelog read crosses a non-changelog-expressible '$op' commit " +
          s"at v$v; start from v$v instead")
    }

  // ---- maintenance -----------------------------------------------------

  /** Compaction: rewrite live rows into one data dir, dropping delete
    * files (the maintenance action a 100 TB deployment runs continuously).
    * One snapshot per attempt feeds both the content and the conflict
    * guard ([[replaceFrom]]). */
  def compact(): GraftTable = {
    retryCow("compact") {
      val s = snapshot
      replaceFrom(s, dfAt(s))
    }
    this
  }

  /** Commit of an externally-written data dir as a full replace — the
    * DSv2 row-level ReplaceData path lands here after its executors wrote
    * the replacement parquet (same semantics as [[overwrite]]).
    * `expectedVersion` is the snapshot the operation's scan read: a
    * concurrent commit since then means the replacement was computed
    * from stale rows, so the commit ABORTS instead of silently
    * discarding the concurrent writer's rows (Iceberg's conflict
    * validation for copy-on-write row-level ops). */
  private[graft] def commitReplace(sub: String, rows: Long, expectedVersion: Int): Unit = {
    commit(expectedVersion + 1)((rebase, v) => {
      val b = Option(rebase).getOrElse(snapshotAt(expectedVersion))
      require(b.version == expectedVersion,
        s"concurrent write during row-level operation (table advanced " +
          s"v$expectedVersion -> v${b.version}); retry the statement")
      b.copy(version = v, op = "overwrite",
        // 0 replacement rows (e.g. DELETE matching everything): no dir
        // was ever created — commit the empty table, not a ghost path
        dataDirs = if (rows != 0) Seq(DataDir(sub, v, rows)) else Seq.empty,
        deletes = Seq.empty)
    })
  }

  /** Commit of an externally-written data dir as a PARTIAL replace: the
    * dirs in `replacedDirs` (the groups the row-level operation's scan
    * actually read, after runtime group filtering) are swapped for the
    * replacement dir; every other data dir is kept verbatim. This is what
    * makes a plain-SQL UPDATE/MERGE on a copy-on-write table touch only
    * the dirs containing matched rows instead of rewriting 100 TB — the
    * group-filter analogue of Iceberg's copy-on-write file scoping.
    *
    * Pending equality deletes survive only while some kept dir is older
    * than them (they were already applied reader-side to the replaced
    * rows, whose new dir version is newer than every delete; a delete no
    * kept dir predates can never fire again and folds away — on a
    * full-coverage replace that leaves none, matching [[commitReplace]]).
    * Same stale-base abort as [[commitReplace]]. */
  private[graft] def commitReplaceDirs(sub: String, rows: Long,
                                       replacedDirs: Set[String],
                                       expectedVersion: Int): Unit = {
    commit(expectedVersion + 1)((rebase, v) => {
      val b = Option(rebase).getOrElse(snapshotAt(expectedVersion))
      require(b.version == expectedVersion,
        s"concurrent write during row-level operation (table advanced " +
          s"v$expectedVersion -> v${b.version}); retry the statement")
      val kept = b.dataDirs.filterNot(d => replacedDirs.contains(d.path))
      b.copy(version = v, op = "overwrite",
        dataDirs = kept ++ (if (rows != 0) Seq(DataDir(sub, v, rows)) else Seq.empty),
        deletes = b.deletes.filter(del => kept.exists(_.version < del.version)))
    })
  }

  /** Clustering write of `df` into a fresh data dir WITHOUT a commit —
    * for DSv2 paths that re-route raw executor output through the
    * partition/sort layout and then stamp their own commit shape. */
  private[graft] def writeClustered(df: DataFrame, s: Snapshot): (String, Long) =
    writeData(df, s)

  /** [[overwrite]] guarded on the snapshot the caller derived `df` from —
    * the layout-maintaining half of the row-level replace path. */
  private[graft] def overwriteExpecting(df: DataFrame, expectedVersion: Int): Unit = {
    val s = snapshot
    require(s.version == expectedVersion,
      s"concurrent write during row-level operation (table advanced " +
        s"v$expectedVersion -> v${s.version}); retry the statement")
    val (sub, rows) = writeData(df, s)
    commit(s.version + 1)((rebase, v) => {
      val b = Option(rebase).getOrElse(s)
      require(b.version == expectedVersion,
        s"concurrent write during row-level operation (table advanced " +
          s"v$expectedVersion -> v${b.version}); retry the statement")
      b.copy(version = v, op = "overwrite",
        dataDirs = if (rows != 0) Seq(DataDir(sub, v, rows)) else Seq.empty,
        deletes = Seq.empty)
    })
  }

  /** Streaming-sink epoch commit of an externally-written raw data dir
    * (unpartitioned/unsorted tables — executor files ARE the layout).
    * Exactly-once: if `epochId` is already in the [[Snapshot.streamEpochs]]
    * ledger for `queryId` (a post-failure Spark retry of a committed
    * micro-batch), nothing commits and this returns false. Epochs of one
    * query are driver-serial, so the pre-check cannot race itself; OCC
    * rebase only ever merges commits from OTHER writers. */
  private[graft] def commitStreamEpoch(queryId: String, epochId: Long,
                                       sub: String, rows: Long,
                                       replace: Boolean): Boolean = {
    val s = snapshot
    if (s.streamEpochs.getOrElse(queryId, -1L) >= epochId) return false
    commit(s.version + 1)((rebase, v) => {
      val b = Option(rebase).getOrElse(s)
      requireSpecStable(b, s)
      val d = DataDir(sub, v, rows)
      b.copy(version = v,
        op = if (replace) "overwrite" else "append",
        dataDirs = if (replace) Seq(d) else b.dataDirs :+ d,
        deletes = if (replace) Seq.empty else b.deletes,
        streamEpochs = b.streamEpochs + (queryId -> epochId))
    })
    true
  }

  /** Streaming-sink epoch commit through the FULL write path (partition
    * derivation, k=v dirs, key clustering) — the layout-maintaining form
    * for partitioned/sorted tables. Same exactly-once ledger as
    * [[commitStreamEpoch]]. */
  private[graft] def streamEpochWrite(df: DataFrame, queryId: String,
                                      epochId: Long, replace: Boolean): Boolean = {
    val s = snapshot
    if (s.streamEpochs.getOrElse(queryId, -1L) >= epochId) return false
    val (sub, rows) = writeData(df, s)
    commit(s.version + 1)((rebase, v) => {
      val b = Option(rebase).getOrElse(s)
      requireSpecStable(b, s)
      val d = if (rows != 0) Seq(DataDir(sub, v, rows)) else Seq.empty
      b.copy(version = v,
        op = if (replace) "overwrite" else "append",
        dataDirs = if (replace) d else b.dataDirs ++ d,
        deletes = if (replace) Seq.empty else b.deletes,
        streamEpochs = b.streamEpochs + (queryId -> epochId))
    })
    true
  }

  /** Commit of an externally-written (delete-keys dir, data dir) pair as
    * one merge-on-read rowDelta — the DSv2 delta write (plain-SQL MoR
    * UPDATE/MERGE/DELETE) lands here after its executors wrote the files.
    * Same sequence-number semantics as [[rowDelta]]: the delete file only
    * hits strictly-older commits, so the new rows survive. */
  private[graft] def commitDelta(dataSub: String, dataRows: Long,
                                 delSub: String, delRows: Long,
                                 keys: Seq[String], expectedVersion: Int): Unit = {
    val s = snapshot
    require(s.formatVersion >= 2,
      s"delta write requires format version >= 2 (current ${s.formatVersion}); call upgradeFormat(2)")
    require(GraftTable.equalityDeleteKeys(s).forall(_ == keys),
      s"delta key set $keys differs from existing delete files' key set")
    commit(s.version + 1)((rebase, v) => {
      val b = Option(rebase).getOrElse(s)
      // the delta (delete keys + rows) was computed against
      // expectedVersion: applying it over a concurrent commit would
      // delete rows the operation never examined (write skew) — abort
      require(b.version == expectedVersion,
        s"concurrent write during row-level operation (table advanced " +
          s"v$expectedVersion -> v${b.version}); retry the statement")
      require(GraftTable.equalityDeleteKeys(b).forall(_ == keys),
        s"concurrent rowDelta with different key set ${GraftTable.equalityDeleteKeys(b)} vs $keys")
      b.copy(version = v, op = "rowdelta",
        dataDirs = if (dataRows > 0) b.dataDirs :+ DataDir(dataSub, v, dataRows) else b.dataDirs,
        deletes = if (delRows > 0) b.deletes :+ DeleteFile(delSub, keys, v, delRows) else b.deletes)
    })
  }

  /** Streaming-sink epoch commit as a merge-on-read UPSERT: the epoch's
    * rows (deduped per key) become one rowDelta — equality deletes for
    * the keys plus the new rows — with the same exactly-once
    * [[Snapshot.streamEpochs]] ledger as the append sink. The
    * update-mode streaming-CDC sink shape: each changed aggregate /
    * change row lands as a keyed upsert, no foreachBatch needed. */
  private[graft] def streamEpochUpsert(df: DataFrame, keys: Seq[String],
                                       queryId: String, epochId: Long,
                                       orderBy: Option[String] = None,
                                       tombstoneWhen: Option[Column] = None,
                                       // properties to set ATOMICALLY with the
                                       // epoch's rowDelta (e.g. the MV freshness
                                       // stamp: content and stamp land in one
                                       // commit, so no crash window can publish
                                       // a stamp the content doesn't back).
                                       // BY-NAME, evaluated only at commit
                                       // build — after the epoch's write jobs
                                       // have run — so a caller can derive the
                                       // props from an Observation riding the
                                       // epoch's own write (applyMvDeltas'
                                       // freshness stamp: one batch scan less
                                       // per fold, r15). Never evaluated on
                                       // the ledger-no-op path.
                                       extraProps: => Map[String, String] = Map.empty,
                                       // caller GUARANTEES one row per key (e.g.
                                       // the MV fold's groupBy output): skips the
                                       // defensive dropDuplicates — one shuffle
                                       // less per epoch, identical rows
                                       rowsUniqueByKey: Boolean = false): Boolean = {
    var s = snapshot
    require(s.formatVersion >= 2,
      s"upsert sink requires format version >= 2 (current ${s.formatVersion}); call upgradeFormat(2)")
    require(GraftTable.equalityDeleteKeys(s).forall(_ == keys),
      s"upsert key set $keys differs from existing delete files' key set")
    if (s.streamEpochs.getOrElse(queryId, -1L) >= epochId) return false
    // a per-epoch delta stream grows one (data dir, delete file) pair per
    // commit; past the threshold the read-side union/anti-join plan grows
    // with it — fold inline so a long-running stream never needs a manual
    // compact (one amortized rewrite every N epochs)
    val maxPending = spark.conf.getOption("graft.stream.maxPendingDeletes")
      .map(_.toInt).getOrElse(64)
    if (s.deletes.size >= maxPending) { compact(); s = snapshot }
    // one row per key within the epoch: with an orderBy column the
    // greatest value wins (multi-emission sources — CDC unions, chained
    // stateful ops); without it keep an arbitrary row, which is exact
    // for the common one-emission-per-key aggregation shape
    val rows = (orderBy match {
      case Some(oc) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keys.map(col): _*).orderBy(col(oc).desc)
        df.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
      case None => if (rowsUniqueByKey) df else df.dropDuplicates(keys)
    }).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dsub = s"deletes/${UUID.randomUUID()}"
    val physKeys = keys.map(s.physicalOf)
    // tombstones: every row's key joins the delete file above (retiring
    // the stored row), but rows matching `tombstoneWhen` are EXCLUDED
    // from the data write — the key ends the epoch with no stored row at
    // all (a group drained to zero leaves the MV, not a zero husk).
    // NULL predicate means NOT tombstoned: `!c` alone would drop a
    // NULL-evaluating row from the data write while its key still lands
    // in the delete file — a silent tombstone under three-valued logic
    val live = tombstoneWhen
      .map(c => rows.filter(!coalesce(c, lit(false)))).getOrElse(rows)
    // SEQUENTIAL writes, deliberately: the delete-key write materializes
    // the persisted `rows` and the data write then reads the cache.
    // Overlapping them (tried r15) DUPLICATES the whole upstream lineage
    // instead — under AQE each racing job plans its own exchanges, so
    // DAGScheduler shares no stages and the block-store lock only
    // serializes the waste (measured: tasks 291→569 over the MV fold,
    // jobs +3). Guide §2.6 overlap pays only for jobs with independent
    // inputs.
    rows.select(keys.map(col): _*).toDF(physKeys: _*)
      .write.mode("errorifexists").parquet(s"$dir/$dsub")
    // footer count instead of an Observation: obs.get waits on the async
    // listener bus after every commit (see writeData)
    val dRows = footerRowCount(s"$dir/$dsub")
    val (rsub, nrows) = writeData(live, s)
    rows.unpersist()
    // evaluate the by-name props exactly once, after the write jobs (an
    // Observation-backed caller's obs.get is available by now) and
    // outside the rebase closure (which may run more than once)
    val propsToSet = extraProps
    commit(s.version + 1)((rebase, v) => {
      val b = Option(rebase).getOrElse(s)
      requireSpecStable(b, s)
      // EQUALITY-delete keys only: a pending positional delete file
      // ((_file,_pos) — deleteWherePositional) coexists with any
      // equality key set and must not fail the sink's upsert (found by
      // TableModelFuzzSpec: epoch upsert after a positional DELETE)
      require(GraftTable.equalityDeleteKeys(b).forall(_ == keys),
        s"concurrent rowDelta with different key set " +
          s"${GraftTable.equalityDeleteKeys(b)} vs $keys")
      b.copy(version = v, op = "rowdelta",
        dataDirs =
          if (nrows != 0) b.dataDirs :+ DataDir(rsub, v, nrows) else b.dataDirs,
        deletes =
          if (dRows != 0) b.deletes :+ DeleteFile(dsub, keys, v, dRows) else b.deletes,
        properties = b.properties ++ propsToSet,
        streamEpochs = b.streamEpochs + (queryId -> epochId))
    })
    true
  }

  /** Z-order layout rewrite (Delta/Iceberg `OPTIMIZE ZORDER BY (a, b)`):
    * rewrites the live rows clustered by the Morton interleave of two
    * columns, so ONE sorted layout serves range predicates on EITHER
    * dimension — every file carries tight min/max footer bounds on both
    * columns and point/box scans skip most files. Integral/date columns
    * map monotonically (offset into unsigned 32-bit space); other types
    * hash (groups equal values, no range locality). Commits as a
    * `rewrite` (excluded from incremental reads like overwrite). */
  /** Monotone map of a z-order column into [0, 2^32): order-preserving
    * for the full int range (clamp BEFORE the offset — adding first
    * overflows Long.MaxValue-band values, an ANSI-mode crash); other
    * types hash. Shared by the 2- and N-column rewrites. */
  private def zNormalize(s: Snapshot, name: String, c: Column): Column =
    s.schema(name).dataType match {
      case LongType | IntegerType | ShortType | ByteType =>
        greatest(least(c.cast(LongType), lit(2147483647L)),
          lit(-2147483648L)) + lit(2147483648L)
      case DateType => unix_date(c).cast(LongType) + lit(2147483648L)
      case _ => pmod(xxhash64(c), lit(4294967296L))
    }

  /** One rewrite commit: `s`'s dirs replaced by the rewritten dir; any
    * concurrently-appended dirs carry over (the rewrite read dfAt(s), so
    * they are NOT in the rewritten data — no duplication). */
  private def commitRewrite(s: Snapshot, sub: String, rows: Long): Unit =
    commit(s.version + 1)((rebase, v) => {
      val b0 = Option(rebase).getOrElse(s)
      requireSpecStable(b0, s)
      require(b0.deletes.isEmpty,
        "rewrite lost a race with a rowDelta commit; re-run after compact()")
      require(s.dataDirs.map(_.path).toSet.subsetOf(b0.dataDirs.map(_.path).toSet),
        "rewrite lost a race with an overwrite commit; re-run")
      val replaced = s.dataDirs.map(_.path).toSet
      b0.copy(version = v, op = "rewrite",
        dataDirs = b0.dataDirs.filterNot(d => replaced.contains(d.path)) :+ DataDir(sub, v, rows))
    })

  def rewriteZOrder(a: String, b: String): GraftTable = {
    val s = snapshot
    require(s.deletes.isEmpty, "apply pending deletes first (compact())")
    graft.functions.ZOrderLong.register(spark)
    def zlong(name: String): Column = zNormalize(s, name, col(s.physicalOf(name)))
    val layout: DataFrame => DataFrame = df => {
      val z = graft.functions.ZOrderLong.z_order(zlong(a), zlong(b))
      df.withColumn("__z", z)
        .repartitionByRange(col("__z"))
        .sortWithinPartitions(col("__z"))
        .drop("__z")
    }
    // rewrite exactly snapshot s (dfAt, not toDF): a concurrent append
    // must not be double-counted (kept by the rebase AND rewritten)
    val (sub, rows) = writeData(dfAt(s), s, Some(layout))
    commitRewrite(s, sub, rows)
    this
  }

  /** N-column z-order rewrite (`OPTIMIZE ZORDER BY (a, b, c, …)`):
    * round-robin bit interleave of the normalized columns, built from
    * Spark's own bit expressions — fully codegen'd, no custom
    * Expression needed. Each column contributes its normalized value's
    * top `63/n` bits; bit j of column i lands at position `j*n + i`, so
    * every dimension's high bits shape the curve equally. Two columns
    * delegate to the 64-bit [[graft.functions.ZOrderLong]] interleave
    * (denser: 32 bits per column). */
  def rewriteZOrder(cols: Seq[String]): GraftTable = {
    require(cols.size >= 2, "z-order needs at least two columns")
    require(cols.size <= 16,
      s"z-order over ${cols.size} columns gives <4 bits per dimension; cap is 16")
    if (cols.size == 2) return rewriteZOrder(cols.head, cols(1))
    val s = snapshot
    require(s.deletes.isEmpty, "apply pending deletes first (compact())")
    if (s.dataDirs.isEmpty) return this
    val n = cols.size
    val bits = 63 / n
    // min/max-scale each column into its bit budget: the data's ACTUAL
    // range fills the bits, so narrow-range columns still shape the
    // curve (taking raw top bits would collapse them to one value).
    // One cheap agg pass over snapshot s — the same frozen snapshot the
    // rewrite reads and the commit replaces.
    val base = dfAt(s)
    val stats = base.select(cols.flatMap(name =>
      Seq(min(zNormalize(s, name, col(name))),
        max(zNormalize(s, name, col(name))))): _*).head()
    val z = cols.zipWithIndex.map { case (name, i) =>
      // an all-NULL column has null stats: treat as constant (lo=0,
      // span=1) — its rows carry null z bits and sort together
      val lo = if (stats.isNullAt(2 * i)) 0L else stats.getLong(2 * i)
      val hi = if (stats.isNullAt(2 * i + 1)) lo else stats.getLong(2 * i + 1)
      val span = math.max(1L, hi - lo)
      val scaled = ((zNormalize(s, name, col(s.physicalOf(name))) - lit(lo)) *
        lit((1L << bits) - 1) / lit(span)).cast(LongType)
      (0 until bits).map { j =>
        shiftleft(shiftright(scaled, j).bitwiseAND(lit(1L)), j * n + i)
      }.reduce(_ bitwiseOR _)
    }.reduce(_ bitwiseOR _)
    val layout: DataFrame => DataFrame = df =>
      df.withColumn("__z", z)
        .repartitionByRange(col("__z"))
        .sortWithinPartitions(col("__z"))
        .drop("__z")
    val (sub, rows) = writeData(base, s, Some(layout))
    commitRewrite(s, sub, rows)
    this
  }

  /** Bin-packing compaction (Iceberg's `rewrite_data_files` shape): only
    * dirs whose total bytes fall under `smallDirBytes` are rewritten into
    * one consolidated dir; large dirs keep their files untouched — at
    * 100 TB rewriting everything (compact()) is not an option, the
    * steady-state maintenance loop folds the small-commit long tail.
    * No-ops (and never commits) unless at least two small dirs exist.
    * Requires no pending deletes (apply them first via compact()). */
  def rewriteSmallDirs(smallDirBytes: Long = 64L * 1024 * 1024): GraftTable = {
    val s = snapshot
    require(s.deletes.isEmpty, "rewriteSmallDirs requires no pending deletes; compact() first")
    val f = fs
    def sizeOf(d: DataDir): Long =
      f.getContentSummary(new Path(dir, d.path)).getLength
    val (small, big) = s.dataDirs.partition(d => sizeOf(d) < smallDirBytes)
    if (small.length < 2) return this
    val (sub, rows) = writeData(readDirs(s, small), s)
    commit(s.version + 1)((rebase, v) => {
      val b = Option(rebase).getOrElse(s)
      requireSpecStable(b, s)
      // a concurrent rowDelta would make the rewritten rows (now stamped
      // with a NEWER commit version) escape its version-guarded deletes —
      // abort instead of silently resurrecting deleted rows
      require(b.deletes.isEmpty,
        "rewriteSmallDirs lost a race with a rowDelta commit; re-run after compact()")
      // a concurrent overwrite/delete/merge REPLACED the dirs we rewrote:
      // committing their old rows on top would resurrect deleted data —
      // every rewritten dir must still be referenced by the rebased state
      require(small.map(_.path).toSet.subsetOf(b.dataDirs.map(_.path).toSet),
        "rewriteSmallDirs lost a race with an overwrite commit; re-run")
      // keep dirs the rebased snapshot still references that we did NOT
      // rewrite; a concurrent commit adding dirs keeps its additions
      val rewritten = small.map(_.path).toSet
      b.copy(version = v, op = "rewrite",
        dataDirs = b.dataDirs.filterNot(d => rewritten.contains(d.path)) :+ DataDir(sub, v, rows))
    })
    this
  }

  /** Snapshot expiry (Iceberg's `expire_snapshots`): physically deletes
    * data/delete dirs referenced ONLY by snapshots older than
    * `keepLast` versions, then tombstones those log entries (replaced by
    * a marker so version numbering stays dense and time travel to expired
    * versions fails cleanly). Bounds storage growth from copy-on-write
    * churn — O(expired dirs) filesystem work, no row data read. */
  def expireSnapshots(keepLast: Int): GraftTable = {
    require(keepLast >= 1, "must keep at least the current snapshot")
    val cur = currentVersion
    val cutoff = cur - keepLast + 1
    if (cutoff <= 0) return this
    // ref-pinned versions (tags/branches) survive expiry along with the
    // dirs they reference — dropping a ref makes its snapshot expirable
    val pinned = refs.map(_.version).toSet
    val kept = pinned.filter(_ < cutoff).toSeq.sorted
    val keepSnaps = ((cutoff to cur) ++ kept).map(snapshotAt)
    val live: Set[String] =
      keepSnaps.flatMap(s => s.dataDirs.map(_.path) ++ s.deletes.map(_.path)).toSet
    val f = fs
    // only entries no earlier expiry marked: the log's watermark makes
    // this O(newly expired), not O(table age)
    log.unexpired(cutoff, pinned).foreach { case (v, s) =>
      val toDelete = (s.dataDirs.map(_.path) ++ s.deletes.map(_.path))
        .filterNot(live.contains)
      // MARKER FIRST, data delete second (an atomic replace — readers
      // only ever see valid JSON). A crash between the two leaves
      // unreferenced dirs that vacuumOrphans sweeps and readers that
      // see the clean "expired" error; the old delete-first order left
      // a readable snapshot referencing deleted files — time travel
      // failed with file-not-found instead of "expired".
      log.expireEntry(v, s.copy(op = "expired", dataDirs = Seq.empty, deletes = Seq.empty), kept)
      toDelete.foreach(rel => f.delete(new Path(dir, rel), true))
    }
    this
  }

  /** Age-based snapshot expiry (Iceberg's `expire_snapshots(older_than)`,
    * expressed as a grace period like [[vacuumOrphans]]): expires every
    * snapshot committed more than `olderThanMs` ago, always keeping the
    * newest `keepLast` and every ref-pinned version. Resolves the age
    * cutoff to a keep-count from the commit times stamped in the log
    * (mtime fallback only for pre-stamp legacy entries) and delegates to
    * the count-based [[expireSnapshots]] sweep — one retention
    * implementation, two policies. */
  def expireSnapshotsOlderThan(olderThanMs: Long, keepLast: Int = 1): GraftTable = {
    require(olderThanMs >= 0, "grace must be non-negative")
    val cutoff = System.currentTimeMillis() - olderThanMs
    val cur = currentVersion
    // oldest version still young enough to keep; commit times are
    // monotone (single log), so everything at or after it survives
    var keepFrom = cur
    while (keepFrom > 0 && commitTimeOf(keepFrom - 1) > cutoff) keepFrom -= 1
    expireSnapshots(math.max(keepLast, cur - keepFrom + 1))
  }

  // ---- named refs: tags, branches, rollback, cherry-pick ---------------

  private def validRefName(name: String): Unit =
    require(name.matches("[A-Za-z0-9][A-Za-z0-9._-]*"), s"invalid ref name: $name")

  /** Creates an immutable TAG pointing at snapshot `version` (Iceberg's
    * `create_tag`). Refs are O(1) JSON pointers under the log — no data
    * copied at any scale; [[expireSnapshots]] keeps ref-pinned versions
    * (and their data dirs) alive. */
  def createTag(name: String, version: Int): GraftTable = createRef(name, "tag", version)

  /** Creates a movable BRANCH pointer (default: at the current head). */
  def createBranch(name: String, version: Int = -1): GraftTable =
    createRef(name, "branch", if (version < 0) currentVersion else version)

  private def createRef(name: String, tpe: String, version: Int): GraftTable = {
    validRefName(name)
    require(version >= 0 && version <= currentVersion, s"no snapshot v$version")
    require(snapshotAt(version).op != "expired",
      s"cannot create a ref at expired snapshot v$version")
    require(log.publishRef(RefInfo(name, tpe, version)), s"ref already exists: $name")
    this
  }

  /** Moves a BRANCH pointer (tags are immutable). Forward or back — the
    * underlying snapshots are immutable either way. */
  def setBranch(name: String, version: Int): GraftTable = {
    val r = refOf(name)
    require(r.refType == "branch", s"ref $name is a tag; tags are immutable")
    require(version >= 0 && version <= currentVersion, s"no snapshot v$version")
    require(snapshotAt(version).op != "expired",
      s"cannot point a ref at expired snapshot v$version")
    log.replaceRef(RefInfo(name, "branch", version)) // never observably missing
    this
  }

  /** Publishes everything committed since the branch was cut: moves the
    * branch pointer to the current head (Iceberg's `fast_forward`). */
  def fastForward(name: String): GraftTable = setBranch(name, currentVersion)

  def dropRef(name: String): GraftTable = {
    require(log.hasRef(name), s"no such ref: $name")
    log.dropRef(name)
    this
  }

  def refs: Seq[RefInfo] = log.refs

  def refOf(name: String): RefInfo = refs.find(_.name == name)
    .getOrElse(throw new IllegalArgumentException(s"no such ref: $name"))

  /** O(1) ref existence probe — one file stat, no listing. A publish
    * that tag-pins every batch (the streaming ingest loop) must not pay
    * an O(refs) directory listing per commit: at 100 TB ingest rates
    * that listing grows with stream age and turns publishes O(n²). */
  def hasRef(name: String): Boolean = {
    validRefName(name)
    log.hasRef(name)
  }

  /** The table as of a named ref — `VERSION AS OF '<ref>'`. */
  def asOfRef(name: String): DataFrame = asOf(refOf(name).version)

  /** Named-refs metadata table (`graft.ns.t.refs`). */
  def refsMeta: DataFrame = {
    import spark.implicits._
    refs.map(r => (r.name, r.refType, r.version)).toDF("name", "type", "version")
  }

  /** Rolls the table back to snapshot `version` as a NEW commit — history
    * is preserved (Iceberg's `rollback_to_snapshot`). Restores the FULL
    * state as of that version: data, deletes, schema, spec, sort key.
    * Metadata-only (the old snapshot's dirs are shared, never copied).
    * The streaming-epoch ledger is carried FORWARD from the current
    * state: epochs never rewind, or a restarted streaming writer would
    * re-apply its last epoch and break exactly-once. */
  def rollbackTo(version: Int): GraftTable = {
    val cur = snapshot
    require(version <= cur.version, s"no snapshot v$version")
    val target = snapshotAt(version)
    require(target.op != "expired",
      s"snapshot v$version has been expired; cannot roll back to it")
    commit(cur.version + 1)((rebase, v) => {
      val b = Option(rebase).getOrElse(cur)
      target.copy(version = v, op = "rollback", streamEpochs = b.streamEpochs)
    })
    this
  }

  /** Rolls back to a named ref (tag or branch). */
  def rollbackTo(refName: String): GraftTable = rollbackTo(refOf(refName).version)

  /** Re-applies an append commit's data onto the CURRENT state as a new
    * commit (Iceberg's `cherrypick_snapshot`) — the undo of a rollback
    * that skipped it. Metadata-only: files are shared and stamped with
    * the NEW commit version, so existing equality deletes (all strictly
    * older) do not re-apply to them — sequence-number semantics. */
  def cherryPick(version: Int): GraftTable = {
    val src = snapshotAt(version)
    require(src.op == "append",
      s"only append commits can be cherry-picked; v$version is '${src.op}'")
    val picked = src.dataDirs.filter(_.version == version)
    if (picked.isEmpty) return this // zero-row append
    val cur = snapshot
    commit(cur.version + 1)((rebase, v) => {
      val b = Option(rebase).getOrElse(cur)
      require(!picked.exists(d => b.dataDirs.exists(_.path == d.path)),
        s"commit v$version is already present in the current state")
      // the picked dirs are re-stamped with the NEW version, which claims
      // the CURRENT spec's layout for them (specAt) — require it matches
      // the spec they were actually written under
      require(src.specAt(version) == b.spec,
        s"cherry-picked commit v$version was written under a different " +
          "partition spec than the current one")
      b.copy(version = v, op = "cherrypick",
        dataDirs = b.dataDirs ++ picked.map(_.copy(version = v)))
    })
    this
  }

  // ---- write-audit-publish (staged appends) -----------------------------

  /** WAP step 1 — WRITE: materializes `df` through the normal write
    * discipline (aligned, clustered/rebalanced, k=v layout) into an
    * UNCOMMITTED data dir and records a staged marker under the log.
    * Readers cannot see it; [[vacuumOrphans]] spares marked dirs.
    * Returns the staged id (Iceberg's WAP `wap.id` flow). */
  def stageAppend(df: DataFrame): String = {
    val s = snapshot
    val (sub, rows) = writeData(df, s)
    val id = sub.stripPrefix("data/")
    require(log.publishStaged(id, sub, rows, s.version), s"staged id collision: $id")
    id
  }

  /** WAP step 2 — AUDIT: the staged rows, aliased to the logical schema
    * (columns added since staging read as NULL). */
  def stagedDF(id: String): DataFrame = {
    val (sub, rows, _) = log.staged(id)
    // rows == -1 means staged with an unknown count — still real data;
    // publishStaged commits it, so the AUDIT step must surface it too.
    if (rows == 0) emptyDF(snapshot)
    else readDirs(snapshot, Seq(DataDir(sub, Int.MaxValue, rows)))
  }

  /** WAP step 3 — PUBLISH: metadata-only commit of the staged dir (no
    * row data moves); the marker is consumed. */
  def publishStaged(id: String): GraftTable = {
    val (sub, rows, stagedAt) = log.staged(id)
    if (rows != 0) { // -1 = staged with unknown count: still real data
      val cur = snapshot
      commit(cur.version + 1)((rebase, v) => {
        val b = Option(rebase).getOrElse(cur)
        require(!b.dataDirs.exists(_.path == sub), s"staged $id already published")
        // the staged dir was laid out under the spec in force at staging;
        // publishing stamps it with the NEW version (= current spec) —
        // refuse if the spec evolved in between (re-stage instead)
        require(snapshotAt(stagedAt).spec == b.spec,
          s"staged $id was written under a different partition spec; " +
            "abortStaged and re-stage")
        b.copy(version = v, op = "append", dataDirs = b.dataDirs :+ DataDir(sub, v, rows))
      })
    }
    log.dropStaged(id)
    this
  }

  /** Discards a staged append (audit failed): files + marker removed. */
  def abortStaged(id: String): Unit = {
    val (sub, _, _) = log.staged(id)
    // crashed-publish window: publishStaged commits FIRST, then consumes
    // the marker — a crash between the two leaves a marker pointing at a
    // dir the table now references. Aborting that marker must consume it
    // WITHOUT touching the data: deleting the dir would corrupt every
    // snapshot (current or time-travelable) that references it.
    val referenced = allSnapshots.exists(s =>
      s.op != "expired" && s.dataDirs.exists(_.path == sub))
    if (!referenced) fs.delete(new Path(dir, sub), true)
    log.dropStaged(id)
  }

  /** Ids of pending staged appends. */
  def stagedIds: Seq[String] = log.stagedIds

  /** ANALYZE-style stats backfill (the role Iceberg's `ANALYZE TABLE` /
    * manifest-metrics rewrite plays): builds any MISSING fold sidecars
    * for live data dirs — per-dir bounds+nn (`stats/`), per-leaf rows
    * (`pstats/`), per-leaf column stats (`pcolstats/`) — and refreshes
    * unknown (-1) dir row counts with one content-preserving commit.
    * New writes capture all of these at commit time; this backfills
    * history written before stats were configured (or registered via
    * [[addFiles]]) so the metadata-only aggregate folds fire on old
    * data too. Each dir's backfill is an independent best-effort
    * distributed job reading ONLY the needed columns; a failure skips
    * that dir (its queries simply keep scanning). Existing sidecars are
    * never overwritten. Returns the artifacts written. */
  def captureStats(): Seq[String] = {
    val s = snapshot
    val done = scala.collection.mutable.ArrayBuffer.empty[String]
    val physKeys = s.statsKeys.map(s.physicalOf).distinct
    s.dataDirs.foreach { d =>
      try {
        val uuid = d.path.substring(d.path.lastIndexOf('/') + 1)
        val spec = s.specAt(d.version)
        val needStats = physKeys.nonEmpty && !log.hasSidecar("stats", uuid)
        val needPcol = physKeys.nonEmpty && spec.nonEmpty && !log.hasSidecar("pcolstats", uuid)
        if (needStats || needPcol) {
          val back = rawDir(d.path)
          // columns physically present in THIS dir's files: a dir from
          // before a column existed simply records no entry for it (the
          // fold readers skip such dirs by FieldInfo.since)
          val present = physKeys.filter(back.columns.contains)
          if (needStats && present.nonEmpty &&
              publishStats(uuid, present, named(statRows(back, Nil, present).head)))
            done += s"stats/$uuid"
          val derived = spec.map(_.name)
          if (needPcol && present.nonEmpty && derived.forall(back.columns.contains) &&
              publishPcolstats(d.path, back, derived, present))
            done += s"pcolstats/$uuid"
        }
        if (spec.nonEmpty && !log.hasSidecar("pstats", uuid) &&
            publishPstats(d.path, spec.size).isDefined)
          done += s"pstats/$uuid"
      } catch { case _: Exception => } // per-dir best-effort
    }
    // refresh unknown (-1) dir row counts: ONE content-preserving commit
    val counts: Map[String, Long] = s.dataDirs.collect {
      case d if d.rowCount < 0L =>
        d.path -> footerRowCount(s"$dir/${d.path}")
    }.filter(_._2 >= 0L).toMap
    if (counts.nonEmpty) {
      commit(s.version + 1)((rebase, v) => {
        val base = Option(rebase).getOrElse(s)
        base.copy(version = v, op = "capture-stats",
          dataDirs = base.dataDirs.map(d =>
            if (d.rowCount < 0L) counts.get(d.path)
              .map(n => d.copy(rowCount = n)).getOrElse(d)
            else d))
      })
      counts.foreach { case (p, n) => done += s"rowcount/$p=$n" }
    }
    done.toSeq
  }

  /** Orphan-file sweep (Iceberg's `remove_orphan_files`): deletes
    * `data/` / `deletes/` subdirs referenced by NO snapshot in the log —
    * the residue of crashed writers (a streaming epoch that died between
    * file write and commit, an aborted DSv2 job, a lost OCC race whose
    * abort never ran). Only dirs last modified before `olderThanMs` are
    * touched: an in-flight writer's dir is younger than any sane grace
    * period, so the sweep can run concurrently with live traffic — the
    * maintenance action a 100 TB deployment schedules alongside
    * [[expireSnapshots]] and [[rewriteSmallDirs]]. The default grace of
    * 3 days (Iceberg's remove_orphan_files default) must exceed the
    * longest plausible write job: a k=v-partitioned write only bumps the
    * top dir's mtime at subdir creation. The same window sweeps the log's
    * garbage ([[LogStore.sweep]]). Returns removed paths, relative to
    * the table dir. */
  def vacuumOrphans(olderThanMs: Long = 3L * 24 * 3600 * 1000): Seq[String] = {
    val cur = currentVersion
    val referenced: Set[String] = ((0 to cur).flatMap { v =>
      val s = snapshotAt(v)
      s.dataDirs.map(_.path) ++ s.deletes.map(_.path)
    } ++ stagedIds.map(id => s"data/$id")).toSet // staged-but-unpublished WAP dirs
    val f = fs
    val cutoff = System.currentTimeMillis() - olderThanMs
    // staging/ holds dynamic-overwrite scratch; never referenced by any
    // snapshot, so age alone decides
    val removed = Seq("data", "deletes", "staging").flatMap { root =>
      val rp = new Path(dir, root)
      if (!f.exists(rp)) Seq.empty
      else f.listStatus(rp).toSeq
        .filter(st => st.isDirectory && st.getModificationTime < cutoff &&
          !referenced.contains(s"$root/${st.getPath.getName}"))
        .map { st => f.delete(st.getPath, true); s"$root/${st.getPath.getName}" }
    }
    // log GC: sidecars are keyed by dir uuid — once no snapshot
    // references the dir (expired or just vacuumed) they are dead
    // metadata that would otherwise accumulate one small file per dead
    // dir forever; merged-delete scratch is re-created on demand; a temp
    // is what a writer that died before publishing left
    removed ++ log.sweep(cutoff, referenced.map(p => p.substring(p.lastIndexOf('/') + 1)))
  }

  // ---- DML (delegates to the planner; commits copy-on-write) ----------

  def delete(pred: Column): GraftTable =
    retryCow("delete") {
      cowRewrite(pred, df => graft.dml.MergePlanner.delete(df, pred))
    }

  def update(set: Map[String, Column], pred: Column): GraftTable =
    retryCow("update") {
      cowRewrite(pred, df => graft.dml.MergePlanner.update(df, set, pred))
    }

  /** Partition-scoped copy-on-write: data dirs that provably cannot
    * contain rows matching `pred` (every k=v leaf fails the derived
    * transform predicate, or a bloom sidecar excludes every point value)
    * are kept VERBATIM — only the possibly-matching dirs are rewritten.
    * On a time-ordered 100 TB table, `DELETE WHERE month = X` rewrites
    * the dirs holding month X, not the table (Iceberg's COW writes the
    * same way: untouched files carry over into the new snapshot). Falls
    * back to the whole-table rewrite when nothing is provably
    * untouchable; a predicate that can match NO dir is a no-op (no empty
    * snapshot committed). */
  private def cowRewrite(pred: Column, f: DataFrame => DataFrame): GraftTable = {
    val s = snapshot
    def full(): GraftTable = { replaceFrom(s, f(dfAt(s))); this }
    if (s.deletes.nonEmpty || s.dataDirs.size <= 1) return full()
    val bloomLive = bloomLiveDirs(s, pred)
    // spec evolution: each dir group prunes under ITS OWN spec (a dir
    // written before a spec change has the old layout and old derived
    // columns — the new spec's derived predicate says nothing about it)
    val touched: Seq[DataDir] = bloomLive.groupBy(d => s.specAt(d.version)).toSeq
      .flatMap { case (spec, group) =>
        if (spec.isEmpty) group
        else TransformPruning.derive(spec, s.schema, pred, includeIdentity = true, sessionZone) match {
          case None => group
          case Some(derived) =>
            prunedLeafDirs(group.map(d => s"$dir/${d.path}"), spec, s.schema, derived) match {
              case None => group // unexpected layout: treat all as touched
              case Some(leaves) =>
                // leaves come back fully qualified (file:/... on local FS);
                // match on the dir-relative path (UUID-unique) instead
                group.filter(d => leaves.exists(_.contains(s"/${d.path}/")))
            }
        }
      }
    if (touched.size == s.dataDirs.size) return full()
    if (touched.isEmpty) return this // predicate can match nothing
    val untouched = s.dataDirs.filterNot(touched.toSet)
    val (sub, rows) = writeData(f(readDirs(s, touched)), s)
    dropDirOnRace(sub) {
      commit(s.version + 1)((rebase, v) => {
        val b = Option(rebase).getOrElse(s)
        requireSpecStable(b, s)
        // the untouched-dir list was computed against s — folding it over
        // ANY concurrent commit (even a row-preserving rewrite, which may
        // have consolidated those very dirs) would corrupt the dir set;
        // throw and let the caller-level retryCow recompute the statement
        // against the fresh snapshot (serializable)
        if (b.version != s.version)
          throw new GraftTable.ConcurrentOverwriteException(
            s"concurrent commit during partition-scoped copy-on-write " +
              s"(table advanced v${s.version} -> v${b.version}); retry the statement")
        b.copy(version = v, op = "overwrite",
          // rows == 0 (everything in the touched dirs was deleted): a
          // partitioned zero-row write creates no files — commit no dir
          dataDirs = untouched ++
            (if (rows != 0) Seq(DataDir(sub, v, rows)) else Seq.empty),
          deletes = Seq.empty)
      })
    }
    this
  }

  def merge(source: DataFrame, keys: Seq[String],
            matched: Seq[graft.dml.MergeClause],
            notMatched: Seq[graft.dml.MergeClause],
            notMatchedBySource: Seq[graft.dml.MergeClause] = Seq.empty,
            validateCardinality: Boolean = true): GraftTable =
    mergeOn(source, keys.map(k => (k, k)), matched, notMatched,
      notMatchedBySource, validateCardinality)

  /** MERGE with (target, source) key pairs — `ON t.customer_id = s.id`. */
  def mergeOn(source: DataFrame, keyPairs: Seq[(String, String)],
              matched: Seq[graft.dml.MergeClause],
              notMatched: Seq[graft.dml.MergeClause],
              notMatchedBySource: Seq[graft.dml.MergeClause] = Seq.empty,
              validateCardinality: Boolean = true): GraftTable =
    retryCow("merge") {
      // one snapshot per attempt for the target rows and the guard
      val s = snapshot
      replaceFrom(s, graft.dml.MergePlanner.mergeOn(dfAt(s), source, keyPairs, matched,
        notMatched, notMatchedBySource, validateCardinality))
      this
    }

  // ---- metadata tables (S4/S6/D8) -------------------------------------

  def snapshots: DataFrame = {
    import spark.implicits._
    allSnapshots.map(s => (s.version, s.op, s.formatVersion, s.dataDirs.size, s.deletes.size,
        if (s.dataDirs.forall(_.rowCount >= 0)) s.dataDirs.map(_.rowCount).sum else -1L))
      .toDF("version", "operation", "format_version", "num_data_dirs", "num_delete_files",
        "total_data_rows")
  }

  /** Lineage view (Iceberg's `#history` metadata table,
    * `IcebergHadoopTables.java:44`): one row per commit with its parent
    * and whether it is an ancestor of the current snapshot (always true
    * here — the log is linear; expired snapshots remain as markers). */
  def history: DataFrame = {
    import spark.implicits._
    val cur = currentVersion
    allSnapshots.map(s => (s.version, if (s.version == 0) -1 else s.version - 1,
        s.op, s.version == cur, s.op != "expired"))
      .toDF("version", "parent_version", "operation", "is_current", "is_readable")
  }

  /** Physical-layout view (Iceberg's `#manifests`): one row per tracked
    * data dir / delete file of the CURRENT snapshot with commit version,
    * content kind, and logged row count. */
  def manifests: DataFrame = {
    import spark.implicits._
    val s = snapshot
    (s.dataDirs.map(d => (d.path, "data", d.version, d.rowCount)) ++
      s.deletes.map(d => (d.path, "deletes", d.version, d.rowCount)))
      .toDF("path", "content", "committed_version", "row_count")
  }

  /** Per-partition layout view (Iceberg's `#partitions` metadata table):
    * one row per live partition value with file/row/byte counts. All
    * metadata — `k=v` leaf walk for the layout, parquet FOOTERS for row
    * counts (the numbers Iceberg caches in manifests); no row data is
    * read at any scale. Spec evolution: each dir reports under the spec
    * it was written with (the partition string carries the field names,
    * so mixed specs stay distinguishable). */
  /** (display, qualified-path) of each partition leaf dir under one data
    * dir: the k=v walk, `depth` levels deep, stripping the `__dir_`
    * storage prefix from each component. Driver-side O(leaf dirs)
    * listings only. */
  private def partitionLeaves(root: Path, depth: Int): Seq[(String, String)] = {
    val f = fs
    if (depth == 0) Seq(("", root.toString))
    else {
      var frontier: Seq[(Path, String)] = Seq((root, ""))
      (1 to depth).foreach { _ =>
        frontier = frontier.flatMap { case (p, disp) =>
          f.listStatus(p).toSeq.filter(_.isDirectory).map { st =>
            val n = st.getPath.getName.stripPrefix("__dir_")
            (st.getPath, if (disp.isEmpty) n else s"$disp/$n")
          }
        }
      }
      frontier.map { case (leaf, disp) => (disp, leaf.toString) }
    }
  }

  /** Per-leaf [files, rows, bytes] recorded at COMMIT time by writeData
    * (`_graft_log/pstats/<uuid>.json`) — None for dirs committed before
    * the sidecar existed (or whose sidecar write failed), which fall
    * back to the footer walk. */
  private def pstatsOf(d: DataDir): Option[Seq[(String, Long, Long, Long)]] = {
    val uuid = d.path.substring(d.path.lastIndexOf('/') + 1)
    try {
      val node = log.sidecar("pstats", uuid).getOrElse(return None)
      val it = node.fields()
      val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long, Long)]
      while (it.hasNext) {
        val e = it.next(); val v = e.getValue
        buf += ((e.getKey, v.get("f").asLong, v.get("r").asLong, v.get("b").asLong))
      }
      Some(buf.toSeq)
    } catch { case _: Exception => None }
  }

  def partitions: DataFrame = {
    import spark.implicits._
    val s = snapshot
    val f = fs
    // Dirs whose commit recorded a pstats sidecar serve METADATA-ONLY
    // (the role Iceberg's per-manifest partition summaries play — at
    // 100 TB re-reading data-file footers per metadata query is absurd);
    // pre-sidecar dirs fall back to the footer walk: the k=v leaf WALK
    // stays driver-side (O(partition dirs) listings), the per-leaf
    // footer reads run as ONE distributed Spark job.
    val sidecars = s.dataDirs.map(d => d -> pstatsOf(d))
    val fromSidecars = sidecars.flatMap(_._2.getOrElse(Seq.empty))
    val legacy = sidecars.collect { case (d, None) => d }
    val leaves: Seq[(String, String)] = legacy.flatMap { d =>
      val spec = s.specAt(d.version)
      // qualified like every executor-bound path: a relative table dir
      // would resolve against the task working directory in footerStats
      val root = f.makeQualified(new Path(s"$dir/${d.path}"))
      partitionLeaves(root, spec.size)
    }
    val walked =
      if (leaves.isEmpty) Seq.empty
      else org.apache.spark.sql.GraftShim.footerStats(spark, leaves)
    (fromSidecars ++ walked)
      .groupBy(_._1).map { case (part, rs) =>
        (part, rs.map(_._2).sum, rs.map(_._3).sum, rs.map(_._4).sum)
      }.toSeq.sortBy(_._1)
      .toDF("partition", "n_files", "n_rows", "size_bytes")
  }

  /** Recursive file listing with sizes (the reference's MinIO object
    * listing, `Minio.java:79-114`), as a DataFrame. */
  def files: DataFrame = {
    import spark.implicits._
    val f = fs
    // qualify through the SAME FileSystem the listing uses: a RELATIVE
    // table dir would otherwise never prefix-match the absolute listed
    // paths and every file would misclassify as 'log'
    val base = f.makeQualified(new Path(dir)).toUri.getPath
    val it = f.listFiles(new Path(dir), true)
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Path, Long)]
    while (it.hasNext) {
      val st = it.next(); buf += ((st.getPath, st.getLen))
    }
    // classification + per-file parquet footer row counts (the numbers an
    // object-store listing gives, plus what Iceberg's manifests record);
    // footer reads are ONE distributed job — driver does metadata only.
    // The listed Path yields both forms: display-relative for the output,
    // FULLY-QUALIFIED for the executor-side footer job (a table opened by
    // relative dir would otherwise resolve against the task working dir)
    val entries = buf.toSeq.map { case (p, len) =>
      val rel = p.toUri.getPath.stripPrefix(base).stripPrefix("/")
      val kind =
        if (rel.startsWith("data/")) "data"
        else if (rel.startsWith("deletes/")) "deletes"
        else "log"
      (rel, kind, len, p.toString)
    }
    val parquet = entries.filter(e => e._2 != "log" && e._1.endsWith(".parquet"))
    val rowsByRel = org.apache.spark.sql.GraftShim
      .footerStats(spark, parquet.map(e => (e._1, e._4)))
      .map(r => (r._1, r._3)).toMap
    entries.map { case (rel, kind, len, _) =>
      val partition = rel.split('/').filter(_.startsWith("__dir_"))
        .map(_.stripPrefix("__dir_")).mkString("/")
      (rel, kind, len, rowsByRel.get(rel),
        if (partition.isEmpty) None else Some(partition))
    }.toDF("file", "kind", "size", "n_rows", "partition")
  }

  /** The parquet files of `dirs` (typically a snapshot's live dirs), one
    * recursive listing per dir, each stamped with its dir's commit
    * version. The one file list behind the DSv2 scans, their statistics
    * and [[dataSizeBytes]]. */
  private[graft] def liveFiles(dirs: Seq[DataDir]): Seq[LiveFile] = {
    val f = fs
    dirs.flatMap { d =>
      val it = f.listFiles(new Path(s"$dir/${d.path}"), true)
      val buf = scala.collection.mutable.ArrayBuffer.empty[LiveFile]
      while (it.hasNext) {
        val st = it.next()
        if (st.getPath.getName.endsWith(".parquet"))
          buf += LiveFile(st.getPath.toString, st.getLen, d.version)
      }
      buf
    }
  }

  /** Total bytes of a snapshot's data files (filesystem metadata only —
    * no row data touched). Feeds the DSv2 scans' reported statistics so
    * Spark's join planner sees real sizes: a small graft dim joins as a
    * broadcast instead of defaulting to `spark.sql.defaultSizeInBytes`
    * (= LongMax = never broadcast) and shuffling both sides. */
  def dataSizeBytes(s: Snapshot): Long = liveFiles(s.dataDirs).map(_.bytes).sum

  /** Hive-style partition path for a row under this table's spec (D9),
    * e.g. `effective_date_month=2020-03/name_trunc=customer_c`. */
  def partitionPathExpr: Column = {
    val s = snapshot
    require(s.spec.nonEmpty, "table is not partitioned")
    concat_ws("/", s.spec.map { pf =>
      val e = pf.exprFor(col(pf.source), s.schema(pf.source).dataType)
      concat(lit(pf.name + "="), e.cast(StringType))
    }: _*)
  }
}

object GraftTable {
  private val mapper = new ObjectMapper()

  /** Backslash-escapes Hadoop glob metacharacters. Spark glob-expands
    * every file-source path, so a table root like `t{1}` read unescaped
    * silently matches nothing (or a sibling). Every parquet read of a
    * table path goes through this, in `graft.catalog` too. */
  private[graft] def globEscape(p: String): String =
    p.replaceAll("([\\\\\\[\\]{}*?,])", "\\\\$1")

  /** Max total delete-key rows that may be broadcast (or inlined into a
    * DSv2 reader) when applying equality deletes; above this (or when
    * counts are unknown) the anti-join falls back to the planner's
    * shuffle strategy and the readers to the scratch-merge path. */
  private[graft] def deleteBroadcastMaxRows(spark: SparkSession): Long =
    spark.conf.getOption("graft.delete.broadcastMaxRows").map(_.toLong).getOrElse(1000000L)

  /** Commit version of each row of the parquet relation `rel` over the
    * table at `root`: one map lookup from the row's dir (the `data/<uuid>`
    * or `deletes/<uuid>` right under the root, cut from
    * `_metadata.file_path`) to the version `entries` logs for it.
    * Shared by every multi-commit read, table-side and reader-side, so
    * the plan holds ONE parquet relation instead of one per dir/delete
    * file (r14: plan size — and with it per-task deserialize time — grew
    * linearly with commit count). The lookup is deterministic, so
    * filters above it still push into the parquet scan. `_metadata` is
    * taken through `metadataColumn`, so a data column of that name
    * cannot shadow it. */
  private[graft] def pathVersionCol(rel: DataFrame, root: String,
                                    entries: Seq[(String, Int)]): Column = {
    // a non-file relation (cache, checkpoint, local rows) has no file
    // path: a NULL version would null out the delete anti-join condition
    // (or the reader-side delete map's max) and silently resurrect
    // deleted rows — fail loudly instead (VERDICT r14 item 3)
    val path =
      try rel.metadataColumn("_metadata").getField("file_path")
      catch { case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(
          "graft: cannot derive commit version — the relation has no file " +
            "metadata (was the read re-materialized through a cache/checkpoint?)", e)
      }
    // the key is the two segments after the root's URL-encoded path, the
    // form file_path carries (its scheme prefix may differ: `file:/` vs
    // `file:///`). It is cut from the root, never found by a `/data/`
    // search: add_files moves a foreign dir in as-is, so
    // `data/<uuid>/k=1/data/x.parquet` is a legal layout. No regex.
    val rootPath = {
      val p = new Path(root)
      p.getFileSystem(rel.sparkSession.sparkContext.hadoopConfiguration)
        .makeQualified(p).toUri.getRawPath.stripSuffix("/") + "/"
    }
    val underRoot = substring(path, instr(path, rootPath) + rootPath.length, lit(Int.MaxValue))
    val byDir = typedLit(entries.toMap)
    // never NULL (a version or an error): saying so keeps the optimizer
    // from inferring an `isnotnull` filter on it, which would evaluate the
    // lookup a second time per row below the projection
    org.apache.spark.sql.GraftShim.knownNotNull(
      coalesce(byDir(substring_index(underRoot, "/", 2)),
        raise_error(concat(
          lit("graft: cannot derive commit version — file '"), path,
          lit("' is in no logged dir of this relation")))))
  }

  /** A copy-on-write replace lost its OCC race against a row-changing
    * concurrent commit: the replacement was computed from a stale
    * snapshot and committing it would drop the concurrent commit's rows.
    * Retry the statement (the in-repo delete/update/merge/compact do so
    * automatically via their statement-level retry loop). */
  class ConcurrentOverwriteException(msg: String, cause: Throwable = null)
    extends IllegalStateException(msg, cause)

  /** The statement-level retry loop itself gave up after its attempt
    * budget — still a [[ConcurrentOverwriteException]] (to a type-keyed
    * retrier "lost N straight races" is a collision like any other), but
    * distinguishable so an OUTER retry loop can bound its total attempts
    * instead of re-driving an already-exhausted inner loop forever under
    * sustained contention. Carries the last losing race as its cause, so
    * the root collision's stack trace survives to the caller. */
  final class RetriesExhaustedException(msg: String, cause: Throwable)
    extends ConcurrentOverwriteException(msg, cause)

  /** Commit ops that touch NO row data — every incremental / changelog /
    * streaming reader may cross them. */
  val MetadataOnlyOps: Set[String] = Set("add-column", "drop-column",
    "rename-column", "replace-key", "upgrade-format",
    "set-bloom-keys", "set-stats-keys", "set-spec", "set-properties")

  /** Commit ops that only ADD rows (or touch none): the whitelist of
    * commits an append-shaped incremental/streaming reader may cross.
    * DEFAULT-CLOSED — overwrite/rewrite/rollback/expired and any future
    * op fail the read instead of silently diverging the consumer
    * (rollback restores dirs whose versions predate the read window;
    * `expired` hides what the original op was). */
  val AppendSafeOps: Set[String] =
    MetadataOnlyOps ++ Set("create", "append", "rowdelta", "cherrypick")

  /** The reserved delete-key set marking a POSITION delete file: keys on
    * the scan-stamped `_file`/`_pos` metadata columns instead of data
    * columns (Iceberg's format-v2 position deletes). */
  val PosDeleteKeys: Seq[String] = Seq("_file", "_pos")

  /** Base-table property prefix under which aggregate-MV registrations
    * live (`graft.mv.<name>` -> `dir=…;group=…;value=…`). */
  val MvRegistrationPrefix: String = "graft.mv."
  /** MV-table property holding the base-table version whose CONTENT the
    * MV reflects — stamped atomically with each maintenance fold
    * ([[graft.streaming.StreamOps.applyMvDeltas]]); the rewrite rule
    * serves the MV only when no content-changing base commit postdates
    * it. */
  val MvBaseVersionProp: String = "graft.mv.base-version"
  /** Self-describing MV-table properties written by the SQL front's
    * CREATE MATERIALIZED VIEW so REFRESH can find its base and fold
    * definition without re-parsing the original statement. */
  val MvBaseDirProp: String = "graft.mv.base-dir"
  val MvGroupColsProp: String = "graft.mv.group-cols"
  val MvValueColProp: String = "graft.mv.value-col"
  /** Commit ops that cannot change a table's LOGICAL content (rows as a
    * multiset under the current schema): metadata-only property/layout
    * declarations and content-preserving file reorganizations. Schema
    * ops (add/drop/rename-column) are deliberately absent — they change
    * what a `SELECT` resolves to — as are append/overwrite/rowdelta/
    * rollback/cherrypick (row changes) and compaction (op "overwrite",
    * indistinguishable from a real overwrite in the log). */
  val ContentPreservingOps: Set[String] = Set(
    "set-properties", "set-stats-keys", "set-bloom-keys", "set-spec",
    "replace-key", "upgrade-format", "rewrite", "capture-stats")

  /** The uniform key set of a snapshot's EQUALITY delete files (position
    * files are keyed on row identity and coexist with any equality set);
    * None when only position deletes (or none) are pending. */
  private[graft] def equalityDeleteKeys(s: Snapshot): Option[Seq[String]] =
    s.deletes.find(_.keys != PosDeleteKeys).map(_.keys)

  /** Column alignment for writes: missing nullable columns become NULL,
    * extra columns error, types cast (ANSI store-assignment — X2). */
  private def alignToSchema(df: DataFrame, schema: StructType): DataFrame = {
    val extra = df.columns.filterNot(schema.fieldNames.contains)
    require(extra.isEmpty, s"columns not in table schema: ${extra.mkString(",")}")
    df.select(schema.fields.map { f =>
      if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
  }

  def create(spark: SparkSession, dir: String, schema: StructType,
             spec: Seq[PartitionField] = Seq.empty,
             key: Seq[String] = Seq.empty,
             formatVersion: Int = 1,
             bloomKeys: Seq[String] = Seq.empty,
             statsKeys: Seq[String] = Seq.empty): GraftTable = {
    val t = new GraftTable(spark, dir)
    key.foreach(k => require(schema.fieldNames.contains(k),
      s"key column $k not in schema"))
    requireKeyTypes(schema, key)
    require(!t.log.exists, s"table already exists at $dir")
    val snap = Snapshot(0, formatVersion, "create", schema,
      schema.fieldNames.toSeq.map(n => FieldInfo(n, n, 0)), spec, key, Seq.empty, Seq.empty,
      Seq.empty, bloomKeys, statsKeys, commitTimeMs = System.currentTimeMillis())
    require(t.log.publishEntry(0, snap), s"table already exists at $dir")
    t
  }

  /** A handle on the table at `dir`; fails when there is none. It
    * reads no snapshot: each operation resolves its own. */
  def load(spark: SparkSession, dir: String): GraftTable = {
    val t = new GraftTable(spark, dir)
    if (!t.log.exists) throw new java.io.FileNotFoundException(s"no graft table at $dir")
    t
  }

  def exists(spark: SparkSession, dir: String): Boolean = LogStore(spark, dir).exists

  /** Upsert/sort keys participate in equality-delete matching through JVM
    * map lookups, where boxed equality must agree with SQL equality.
    * Binary (Array[Byte] equals is reference identity — every delete would
    * silently miss) and float/double (-0.0 vs 0.0, NaN) keys therefore
    * fail LOUDLY at declaration instead of corrupting MoR reads later. */
  private[table] def requireKeyTypes(schema: StructType, keys: Seq[String]): Unit =
    keys.foreach { k =>
      schema.fields.find(_.name == k).map(_.dataType).foreach {
        case BinaryType | FloatType | DoubleType =>
          throw new IllegalArgumentException(
            s"key column $k has a type unsupported for equality-matched " +
              "keys (binary/float/double); use a string, integral, date, " +
              "or decimal key")
        case _ =>
      }
    }

  // ---- bounds-sidecar value encoding ----------------------------------

  /** Canonical sidecar string for an observed min/max value (None =
    * unencodable type or NULL — the column's bounds simply aren't
    * recorded and scans cannot skip on it). */
  private[table] def encodeStat(v: Any): Option[String] = v match {
    case null => None
    case d: java.sql.Date => Some(d.toLocalDate.toString)
    case d: java.time.LocalDate => Some(d.toString)
    case t: java.sql.Timestamp => Some(t.toInstant.toString)
    case t: java.time.Instant => Some(t.toString)
    case t: java.time.LocalDateTime => Some(t.toString)
    case d: java.math.BigDecimal => Some(d.toPlainString)
    case d: BigDecimal => Some(d.bigDecimal.toPlainString)
    case n: java.lang.Number => Some(n.toString)
    case b: java.lang.Boolean => Some(b.toString)
    case s: String => Some(s)
    case _ => None
  }

  private[table] def decodeStat(dt: DataType, s: String): Option[Any] = {
    import scala.util.Try
    dt match {
      case StringType => Some(s)
      case BooleanType => Try(s.toBoolean).toOption
      case ByteType | ShortType | IntegerType | LongType => Try(s.toLong).toOption
      case FloatType | DoubleType => Try(s.toDouble).toOption
      case _: DecimalType => Try(BigDecimal(s)).toOption
      case DateType => Try(java.time.LocalDate.parse(s)).toOption
      case TimestampType => Try(java.time.Instant.parse(s)).toOption
      case TimestampNTZType => Try(java.time.LocalDateTime.parse(s)).toOption
      case _ => None
    }
  }

  /** Catalyst-internal form of a decoded stat value (None = type not
    * foldable — caller scans instead). */
  private[table] def toCatalystStat(dt: DataType, v: Any): Option[Any] = (dt, v) match {
    case (ByteType, n: java.lang.Long)     => Some(n.toByte)
    case (ShortType, n: java.lang.Long)    => Some(n.toShort)
    case (IntegerType, n: java.lang.Long)  => Some(n.toInt)
    case (LongType, n: java.lang.Long)     => Some(n.longValue)
    case (FloatType, d: java.lang.Double)  => Some(d.toFloat)
    case (DoubleType, d: java.lang.Double) => Some(d.doubleValue)
    case (StringType, s: String) =>
      Some(org.apache.spark.unsafe.types.UTF8String.fromString(s))
    case (BooleanType, b: java.lang.Boolean) => Some(b.booleanValue)
    case (DateType, d: java.time.LocalDate) => Some(d.toEpochDay.toInt)
    case (TimestampType, t: java.time.Instant) =>
      Some(t.getEpochSecond * 1000000L + t.getNano / 1000)
    case (TimestampNTZType, t: java.time.LocalDateTime) =>
      val i = t.toInstant(java.time.ZoneOffset.UTC)
      Some(i.getEpochSecond * 1000000L + i.getNano / 1000)
    case _ => None
  }

  /** Types whose sum(col) folds exactly from per-dir partials: Spark
    * widens integral sums to LongType and wraps on overflow, and Long
    * addition is associative mod 2^64 — floating point is
    * order-dependent and decimal overflow nulls, so neither folds. */
  private[graft] def integralType(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** MIN/MAX of decoded stat values in the column type's ordering, as a
    * Catalyst-internal value — Some(null) for an empty set (SQL's MIN of
    * no rows), None when any pair is incomparable or the type cannot
    * convert (caller must scan instead). */
  private[graft] def foldBound(dt: DataType, vals: Seq[Any], isMin: Boolean): Option[Any] = {
    if (vals.isEmpty) return Some(null)
    val best = vals.reduceLeft { (a, b) =>
      cmpStat(dt, a, b) match {
        case Some(c) => if ((c <= 0) == isMin) a else b
        case None => return None
      }
    }
    toCatalystStat(dt, best)
  }

  /** Sign of `a - b` in the column type's ordering (None = values not
    * comparable in type `dt`, caller must not skip). The accepted value
    * shapes are SCOPED PER TYPE — a timestamp literal against a DATE
    * column (epoch-micros vs epoch-days) must return None, never a
    * mixed-scale comparison that could wrongly skip a dir. Strings
    * compare as UTF-8 byte sequences — Spark's own string ordering, NOT
    * Java's UTF-16 compareTo (they differ beyond the BMP). */
  private[table] def cmpStat(dt: DataType, a: Any, b: Any): Option[Int] = {
    def int(v: Any): Option[BigDecimal] = v match {
      case n: java.lang.Byte => Some(BigDecimal(n.longValue))
      case n: java.lang.Short => Some(BigDecimal(n.longValue))
      case n: java.lang.Integer => Some(BigDecimal(n.longValue))
      case n: java.lang.Long => Some(BigDecimal(n.longValue))
      case _ => frac(v) // a fractional literal against an integral column
    }
    def frac(v: Any): Option[BigDecimal] = v match {
      // non-finite values have no BigDecimal form (the constructor
      // throws) and no usable ordering vs an interval — never skip
      case n: java.lang.Float =>
        if (java.lang.Float.isFinite(n)) Some(BigDecimal(n.doubleValue)) else None
      case n: java.lang.Double =>
        if (java.lang.Double.isFinite(n)) Some(BigDecimal(n.doubleValue)) else None
      case d: java.math.BigDecimal => Some(BigDecimal(d))
      case d: BigDecimal => Some(d)
      case n: java.lang.Byte => Some(BigDecimal(n.longValue))
      case n: java.lang.Short => Some(BigDecimal(n.longValue))
      case n: java.lang.Integer => Some(BigDecimal(n.longValue))
      case n: java.lang.Long => Some(BigDecimal(n.longValue))
      case _ => None
    }
    def day(v: Any): Option[BigDecimal] = v match {
      case d: java.sql.Date => Some(BigDecimal(d.toLocalDate.toEpochDay))
      case d: java.time.LocalDate => Some(BigDecimal(d.toEpochDay))
      case _ => None
    }
    def micros(v: Any): Option[BigDecimal] = v match {
      case t: java.sql.Timestamp =>
        Some(BigDecimal(t.toInstant.getEpochSecond) * 1000000 + t.toInstant.getNano / 1000)
      case t: java.time.Instant =>
        Some(BigDecimal(t.getEpochSecond) * 1000000 + t.getNano / 1000)
      // NTZ values order as their UTC reading (consistent on both sides;
      // session-zoned literals are normalized BEFORE reaching here)
      case t: java.time.LocalDateTime =>
        val i = t.toInstant(java.time.ZoneOffset.UTC)
        Some(BigDecimal(i.getEpochSecond) * 1000000 + i.getNano / 1000)
      case _ => None
    }
    val key: Any => Option[BigDecimal] = dt match {
      case ByteType | ShortType | IntegerType | LongType => int
      case FloatType | DoubleType | _: DecimalType => frac
      case DateType => day
      case TimestampType | TimestampNTZType => micros
      case StringType => return (a, b) match {
        case (x: String, y: String) =>
          Some(org.apache.spark.unsafe.types.UTF8String.fromString(x)
            .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y)))
        case _ => None
      }
      case _ => return None
    }
    for (x <- key(a); y <- key(b)) yield x.compare(y)
  }

  // ---- snapshot JSON ser/de (jackson-databind, shipped with Spark) ----

  private[table] def writeSnapshot(s: Snapshot): String = {
    val root = mapper.createObjectNode()
    root.put("version", s.version)
    root.put("formatVersion", s.formatVersion)
    root.put("op", s.op)
    root.put("schema", s.schema.json)
    val fl = root.putArray("fields")
    s.fields.foreach { fi =>
      val o = fl.addObject()
      o.put("logical", fi.logical); o.put("physical", fi.physical); o.put("since", fi.since)
    }
    val sp = root.putArray("spec")
    s.spec.foreach { pf =>
      val o = sp.addObject()
      o.put("source", pf.source); o.put("transform", pf.transform); o.put("param", pf.param)
    }
    val ky = root.putArray("key"); s.key.foreach(ky.add)
    val dd = root.putArray("dataDirs")
    s.dataDirs.foreach { d =>
      val o = dd.addObject(); o.put("path", d.path); o.put("version", d.version)
      o.put("rowCount", d.rowCount)
    }
    val de = root.putArray("deletes")
    s.deletes.foreach { d =>
      val o = de.addObject(); o.put("path", d.path); o.put("version", d.version)
      o.put("rowCount", d.rowCount)
      val k = o.putArray("keys"); d.keys.foreach(k.add)
    }
    val rp = root.putArray("retiredPhysical"); s.retiredPhysical.foreach(rp.add)
    val bk = root.putArray("bloomKeys"); s.bloomKeys.foreach(bk.add)
    if (s.statsKeys.nonEmpty) {
      val sk = root.putArray("statsKeys"); s.statsKeys.foreach(sk.add)
    }
    if (s.streamEpochs.nonEmpty) {
      val se = root.putObject("streamEpochs")
      s.streamEpochs.foreach { case (q, e) => se.put(q, e) }
    }
    if (s.properties.nonEmpty) {
      val pr = root.putObject("properties")
      s.properties.foreach { case (k, v) => pr.put(k, v) }
    }
    if (s.commitTimeMs >= 0) root.put("commitTimeMs", s.commitTimeMs)
    if (s.specLog.nonEmpty) {
      val sl = root.putArray("specLog")
      s.specLog.foreach { case (since, spec) =>
        val e = sl.addObject()
        e.put("since", since)
        val fa = e.putArray("fields")
        spec.foreach { pf =>
          val o = fa.addObject()
          o.put("source", pf.source); o.put("transform", pf.transform); o.put("param", pf.param)
        }
      }
    }
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }

  private[table] def readSnapshot(n: JsonNode): Snapshot = {
    def arr(f: String): Seq[JsonNode] = n.get(f).asInstanceOf[ArrayNode].asScala.toSeq
    Snapshot(
      version = n.get("version").asInt(),
      formatVersion = n.get("formatVersion").asInt(),
      op = n.get("op").asText(),
      schema = DataType.fromJson(n.get("schema").asText()).asInstanceOf[StructType],
      fields = arr("fields").map(o => FieldInfo(o.get("logical").asText(),
        o.get("physical").asText(), if (o.has("since")) o.get("since").asInt() else 0)),
      spec = arr("spec").map(o => PartitionField(o.get("source").asText(),
        o.get("transform").asText(), o.get("param").asInt())),
      key = arr("key").map(_.asText()),
      dataDirs = arr("dataDirs").map(o => DataDir(o.get("path").asText(), o.get("version").asInt(),
        if (o.has("rowCount")) o.get("rowCount").asLong() else -1L)),
      deletes = arr("deletes").map(o => DeleteFile(o.get("path").asText(),
        o.get("keys").asInstanceOf[ArrayNode].asScala.toSeq.map(_.asText()), o.get("version").asInt(),
        if (o.has("rowCount")) o.get("rowCount").asLong() else -1L)),
      retiredPhysical = arr("retiredPhysical").map(_.asText()),
      bloomKeys = if (n.has("bloomKeys")) arr("bloomKeys").map(_.asText()) else Seq.empty,
      statsKeys = if (n.has("statsKeys")) arr("statsKeys").map(_.asText()) else Seq.empty,
      streamEpochs =
        if (!n.has("streamEpochs")) Map.empty
        else {
          val o = n.get("streamEpochs")
          o.fieldNames().asScala.map(k => k -> o.get(k).asLong()).toMap
        },
      properties =
        if (!n.has("properties")) Map.empty
        else {
          val o = n.get("properties")
          o.fieldNames().asScala.map(k => k -> o.get(k).asText()).toMap
        },
      commitTimeMs = if (n.has("commitTimeMs")) n.get("commitTimeMs").asLong() else -1L,
      specLog =
        if (!n.has("specLog")) Seq.empty
        else arr("specLog").map { e =>
          (e.get("since").asInt(),
            e.get("fields").asInstanceOf[ArrayNode].asScala.toSeq.map(o =>
              PartitionField(o.get("source").asText(), o.get("transform").asText(),
                o.get("param").asInt())))
        }
    )
  }
}
