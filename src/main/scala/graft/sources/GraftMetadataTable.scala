package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, V1Scan}
import org.apache.spark.sql.sources.{BaseRelation, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.table.GraftTable

import java.util

/** Read-only table for a `path#<meta>` metadata read: one of the
  * snapshot-log-derived DataFrames ([[GraftTable.history]] /
  * `snapshots` / `manifests` / `files` / `refs` / `partitions`), all
  * O(snapshots + tracked dirs) metadata, never row data. Like a
  * [[graft.catalog.GraftSparkTable]], the table is one read of the log:
  * the frame is built once, at first use, and its schema and every scan
  * serve it. */
final class GraftMetadataTable(dir: String, meta: String)
    extends Table with SupportsRead {

  private lazy val frame: DataFrame =
    GraftMetadataTable.frameOf(GraftTable.load(SparkSession.active, dir), meta)

  override def name(): String = s"graft.`$dir#$meta`"
  override def schema(): StructType = frame.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new V1Scan {
        override def readSchema(): StructType = frame.schema
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T =
          new BaseRelation with TableScan {
            override def sqlContext: SQLContext = context
            override def schema: StructType = frame.schema
            override def buildScan(): RDD[Row] = frame.rdd
          }.asInstanceOf[T]
      }
    }
}

/** Read-only table serving the CDC changelog of `(from, to]` —
  * `spark.read.format("graft").option("changesFrom", 1)
  * [.option("changesTo", 3)].load(path)` (Iceberg's
  * spark_changelog / table_changes role). Delegates to
  * [[GraftTable.changesBetween]]: inserts from the range's data dirs,
  * delete pre-images via keyed semi-join, non-expressible commits raise. */
final class GraftChangelogTable(dir: String, from: Int, to: Option[Int],
                                skipRewriteCommits: Boolean = false)
    extends Table with SupportsRead {

  // the open end pins ONCE at table construction: re-resolving
  // currentVersion per schema()/scan call would let a concurrent commit
  // land between analysis and execution, returning change rows the
  // analyzed range never asked for (and rebuilt the changesBetween plan
  // on every schema() call). changesTo is a CAP, not an exact demand:
  // a value past the current version clamps to what exists — without
  // the clamp, schema pinning reads a snapshot that was never written
  // and analysis crashes (the stream's own latestOffset keeps honoring
  // the raw cap, so a continuous tail still follows future commits up
  // to it). The FROM side is symmetric by construction: changesFrom at
  // or past the current version makes the (from, clamped-to] range
  // empty, so both the batch read and an AvailableNow drain deliver
  // zero rows — never a crash or a wrong range (pinned by CdcStreamSpec)
  private val toV: Int = {
    val cur = GraftTable.load(SparkSession.active, dir).currentVersion
    to.fold(cur)(w => math.min(w, cur))
  }

  private def frame: DataFrame =
    GraftTable.load(SparkSession.active, dir).changesBetween(from, toV)

  override def name(): String = s"graft.`$dir#changes($from,$toV]`"
  // with skipRewriteCommits (a STREAM-only option) the schema must
  // resolve without changesBetween's expressibility walk — the range is
  // allowed to cross rewrites there, and the schema is structural anyway
  override def schema(): StructType =
    if (!skipRewriteCommits) frame.schema
    else StructType(
      GraftTable.load(SparkSession.active, dir).snapshotAt(toV).schema.fields ++
        Seq(org.apache.spark.sql.types.StructField("_change_type",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("_commit_version",
            org.apache.spark.sql.types.IntegerType, nullable = false)))
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new V1Scan {
        // LAZY: a pure streaming query must never build the batch frame —
        // under skipRewriteCommits the range may legally cross a rewrite,
        // which changesBetween (the batch path) refuses
        private lazy val df = frame
        override def readSchema(): StructType = GraftChangelogTable.this.schema()
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T =
          new BaseRelation with TableScan {
            override def sqlContext: SQLContext = context
            override def schema: StructType = df.schema
            override def buildScan(): RDD[Row] = df.rdd
          }.asInstanceOf[T]
        // `spark.readStream.format("graft").option("changesFrom", v)` —
        // the CDC TAIL: the same changelog rows as micro-batches whose
        // offsets are snapshot versions. An explicit changesTo caps the
        // stream; without it the tail follows new commits. The schema is
        // pinned at stream start (the stream class documents the DDL
        // contract).
        override def toMicroBatchStream(checkpointLocation: String)
            : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
          val t = GraftTable.load(SparkSession.active, dir)
          // pin the STAMPED schema to the analysis-pinned toV, never a
          // re-resolved currentVersion: a DDL commit landing between
          // analysis and start() would otherwise widen the stream's rows
          // past the schema Spark analyzed (the class invariant above)
          new graft.catalog.GraftChangelogMicroBatchStream(t,
            t.snapshotAt(toV), from, to,
            Option(options.get("maxVersionsPerBatch")).map(_.trim.toInt),
            skipRewriteCommits = skipRewriteCommits)
        }
      }
    }
}

object GraftMetadataTable {
  val names: Set[String] = Set("history", "snapshots", "manifests", "files", "refs",
    "partitions")

  def frameOf(t: GraftTable, meta: String): DataFrame = meta match {
    case "history"    => t.history
    case "snapshots"  => t.snapshots
    case "manifests"  => t.manifests
    case "files"      => t.files
    case "refs"       => t.refsMeta
    case "partitions" => t.partitions
    case other => throw new IllegalArgumentException(
      s"unknown metadata table '$other' (expected one of ${names.mkString(", ")})")
  }
}
