package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.table.{GraftTable, PartitionField}

import java.util

/** Path-addressed DataSource registration: the
  * `df.write.format("graft").mode("append").save(path)` /
  * `spark.read.format("graft").load(path)` surface (the reference's
  * format("iceberg") v1 writer path,
  * `/root/reference/src/main/java/SparkTestWrite.java:48-50`,
  * `IcebergHadoopTables.java:38-39`), plus the `path#<meta>` suffix reads
  * the reference demonstrates over `#history/#snapshots/#manifests/#files`
  * (`IcebergHadoopTables.java:44-47`).
  *
  * Serves the same [[graft.catalog.GraftSparkTable]] as the catalog, so
  * writes commit through the snapshot log and reads get the parquet-view
  * swap (sessions with the extensions) or the V1Scan fallback. A write to
  * a path with no table yet CREATES one with the frame's schema and the
  * writer's `partitionBy` columns as identity transforms — matching
  * `save`-to-new-location semantics.
  *
  * Note Spark's DSv2 save() contract: only Append / Overwrite save modes
  * are supported for TableProvider sources (ErrorIfExists/Ignore raise in
  * Spark itself).
  */
class GraftDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  private def spark: SparkSession = SparkSession.active
  private def pathOf(m: java.util.Map[String, String]): String = {
    val p = m.get("path")
    require(p != null && p.nonEmpty, "format(\"graft\") requires .load(path)/.save(path) or option(\"path\", ...)")
    p
  }
  /** Splits `dir#meta` (metadata read) from a plain table dir. Only a
    * suffix naming a REAL metadata table routes to the metadata branch —
    * '#' is a legal POSIX path character, so `/data/run#3/events` must
    * stay a plain table path instead of failing as an unknown metadata
    * table with no escape syntax. */
  private def metaOf(path: String): (String, Option[String]) = path.lastIndexOf('#') match {
    case -1 => (path, None)
    case i =>
      val suffix = path.substring(i + 1).toLowerCase
      if (GraftMetadataTable.names.contains(suffix)) (path.substring(0, i), Some(suffix))
      else (path, None)
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val (dir, meta) = metaOf(pathOf(options))
    require(GraftTable.exists(spark, dir), s"no graft table at $dir")
    val t = GraftTable.load(spark, dir)
    if (meta.isEmpty && options.containsKey("changesFrom"))
      return changelogOf(options, dir).schema()
    meta.map(GraftMetadataTable.frameOf(t, _).schema).getOrElse(t.schema)
  }

  /** `.option("changesFrom", v)[.option("changesTo", w)]` → the CDC
    * changelog table over `(v, w]` (w defaults to the current version). */
  private def changelogOf(opts: CaseInsensitiveStringMap, dir: String): GraftChangelogTable =
    new GraftChangelogTable(dir, opts.get("changesFrom").trim.toInt,
      Option(opts.get("changesTo")).map(_.trim.toInt),
      skipRewriteCommits = opts.getBoolean("skipRewriteCommits", false))

  override def inferPartitioning(options: CaseInsensitiveStringMap): Array[Transform] = {
    val (dir, meta) = metaOf(pathOf(options))
    // a write to a fresh path (batch save or stream start) has no table
    // yet — getTable() below creates it from the query's schema
    if (meta.isDefined || !GraftTable.exists(spark, dir)) return Array.empty
    new graft.catalog.GraftSparkTable(dir, s"graft.`$dir`").partitioning()
  }

  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val (dir, meta) = metaOf(pathOf(properties))
    meta match {
      case Some(m) => new GraftMetadataTable(dir, m)
      case None if properties.containsKey("changesFrom") ||
          new CaseInsensitiveStringMap(properties).containsKey("changesFrom") =>
        changelogOf(new CaseInsensitiveStringMap(properties), dir)
      case None =>
        // a missing table is NOT created here: reads with a user-supplied
        // schema reach this point too (supportsExternalMetadata), and a
        // read must never side-effect an empty table onto disk — creation
        // is deferred to the first WRITE (GraftSparkTable.newWriteBuilder)
        val pending =
          if (GraftTable.exists(spark, dir)) None
          else Some((schema, partitioning.toSeq.map(PartitionField.fromTransform)))
        // option-based time travel (Iceberg's snapshot-id / as-of-timestamp
        // read options): .option("versionAsOf", n) pins a snapshot;
        // .option("timestampAsOf", "<epoch-millis | yyyy-mm-dd hh:mm:ss>")
        // resolves through the log's commit times. getTable receives the
        // ORIGINAL-case map — DSv2 options are case-insensitive, so look
        // up through CaseInsensitiveStringMap
        val opts = new CaseInsensitiveStringMap(properties)
        import graft.catalog.GraftSparkTable.{AtHead, AtRef, AtTime, atVersionOrRef}
        val at = Option(opts.get("versionAsOf")).map(atVersionOrRef) // number or ref
          .orElse(Option(opts.get("branch")).orElse(Option(opts.get("tag")))
            .map(r => AtRef(r.trim)))
          .orElse(Option(opts.get("timestampAsOf")).map { ts =>
            AtTime(
              try ts.trim.toLong
              catch { case _: NumberFormatException =>
                // wall-clock strings resolve in the SESSION time zone
                // (like Spark's own TIMESTAMP AS OF) — Timestamp.valueOf
                // would read them in the JVM default zone and silently
                // pin a snapshot offset by the zone difference
                java.time.LocalDateTime.parse(ts.trim.replace(' ', 'T'))
                  .atZone(java.time.ZoneId.of(spark.conf.get(
                    "spark.sql.session.timeZone",
                    java.util.TimeZone.getDefault.getID)))
                  .toInstant.toEpochMilli })
          })
          .getOrElse(AtHead)
        new graft.catalog.GraftSparkTable(dir, s"graft.`$dir`", at, pending,
          keepScan = Option(opts.get("keepScan")).exists(_.trim.equalsIgnoreCase("true")))
    }
  }
}
