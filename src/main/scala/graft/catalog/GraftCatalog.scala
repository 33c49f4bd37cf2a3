package graft.catalog

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, NoSuchViewException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.table.{GraftTable, PartitionField}

import java.util

/** DSv2 catalog plugin for graft tables — entry point for plain
  * `spark.sql` over `graft.<ns>.<table>` names with no registration step:
  * SELECT, INSERT INTO / INSERT OVERWRITE, CREATE TABLE (incl. CTAS and
  * `PARTITIONED BY` transforms), ALTER TABLE ADD/DROP COLUMN, DROP TABLE,
  * plus `df.writeTo("graft.ns.t").append()` and the programmatic
  * `createTable`/`loadTable` pair the reference's Java-API examples use
  * (`/root/reference/src/main/java/IcebergJavaApiAppend.java:55-69`).
  *
  * `loadTable` serves a [[GraftSparkTable]] (SupportsRead + SupportsWrite);
  * writes commit through the snapshot log via the V1 write fallback. For
  * reads, sessions built with [[GraftSparkSessionExtensions]] swap
  * read-position relations for the analyzed plan of the snapshot's
  * DataFrame ([[GraftTable.dfAt]], the plan `toDF` builds) — full
  * filter/column pushdown into vectorized parquet scans; other sessions
  * fall back to the table's V1Scan. Snapshot isolation comes free: each
  * query plans against the snapshot current at resolution time.
  * [[loadView]] still serves the snapshot as view SQL text
  * ([[GraftTable.viewSql]]) for callers of the `ViewCatalog` API.
  *
  * Configuration:
  * {{{
  *   spark.sql.catalog.graft = graft.catalog.GraftCatalog
  *   spark.sql.catalog.graft.warehouse = /path/to/warehouse
  * }}}
  * with tables at `<warehouse>/<namespace>/<table>`.
  */
class GraftCatalog extends TableCatalog with ViewCatalog with SupportsNamespaces
    with FunctionCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name requires spark.sql.catalog.$name.warehouse"))
  }
  override def name(): String = catalogName

  private def spark: SparkSession = SparkSession.active
  private def dirOf(ident: Identifier): String =
    (ident.namespace() :+ ident.name()).mkString(s"$warehouse/", "/", "")

  override def tableExists(ident: Identifier): Boolean =
    GraftTable.exists(spark, dirOf(ident))

  // ---- ViewCatalog (the read path) ------------------------------------

  override def loadView(ident: Identifier): View = {
    if (!tableExists(ident)) throw new NoSuchViewException(ident)
    val t = GraftTable.load(spark, dirOf(ident))
    // pending position deletes are inexpressible as view SQL — report
    // "no view" so resolution falls through to loadTable's DSv2 scan
    if (t.snapshot.deletes.exists(_.keys == GraftTable.PosDeleteKeys))
      throw new NoSuchViewException(ident)
    val viewSchema = t.schema
    val sql = t.viewSql
    new View {
      override def name(): String = (catalogName +: ident.namespace() :+ ident.name()).mkString(".")
      override def query(): String = sql
      // parquet.`path` relations resolve through the session catalog
      override def currentCatalog(): String = "spark_catalog"
      override def currentNamespace(): Array[String] = Array.empty
      override def schema(): StructType = viewSchema
      override def queryColumnNames(): Array[String] = viewSchema.fieldNames
      override def columnAliases(): Array[String] = Array.empty
      override def columnComments(): Array[String] = Array.empty
      override def properties(): util.Map[String, String] = util.Collections.emptyMap()
    }
  }

  override def viewExists(ident: Identifier): Boolean = tableExists(ident)

  override def listViews(namespace: String*): Array[Identifier] = {
    val ns = new Path((warehouse +: namespace).mkString("/"))
    val fs = ns.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(ns)) throw new NoSuchNamespaceException(namespace.toArray)
    fs.listStatus(ns).filter(_.isDirectory).map(_.getPath.getName)
      .filter(n => GraftTable.exists(spark, (warehouse +: namespace :+ n).mkString("/")))
      .map(n => Identifier.of(namespace.toArray, n))
  }

  override def createView(info: ViewInfo): View =
    throw new UnsupportedOperationException("graft views are backed by tables; use GraftTable.create")
  override def alterView(ident: Identifier, changes: ViewChange*): View =
    throw new UnsupportedOperationException("read-only catalog")
  override def dropView(ident: Identifier): Boolean =
    throw new UnsupportedOperationException("read-only catalog")
  override def renameView(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("read-only catalog")

  // ---- TableCatalog (the write path + programmatic DDL) ---------------

  override def loadTable(ident: Identifier): Table = {
    if (!tableExists(ident)) {
      // Iceberg-style metadata table names: graft.<ns>.<table>.snapshots
      // (also #-suffix via format("graft"): IcebergHadoopTables.java:44-47)
      val meta = ident.name().toLowerCase
      if (ident.namespace().nonEmpty && graft.sources.GraftMetadataTable.names.contains(meta)) {
        val parentDir = ident.namespace().mkString(s"$warehouse/", "/", "")
        if (GraftTable.exists(spark, parentDir))
          return new graft.sources.GraftMetadataTable(parentDir, meta)
      }
      throw new NoSuchTableException(ident)
    }
    new GraftSparkTable(dirOf(ident),
      (catalogName +: ident.namespace() :+ ident.name()).mkString("."))
  }

  /** `VERSION AS OF <v>` — a read-only relation pinned to snapshot v. A
    * non-numeric version is resolved as a named ref (tag or branch):
    * `VERSION AS OF 'audited'`. */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val v =
      try version.toInt
      catch { case _: NumberFormatException =>
        GraftTable.load(spark, dirOf(ident)).refOf(version).version }
    new GraftSparkTable(dirOf(ident),
      (catalogName +: ident.namespace() :+ ident.name()).mkString("."),
      Some(v))
  }

  /** `TIMESTAMP AS OF <ts>` — resolved to the latest snapshot whose log
    * entry was committed at or before the timestamp (micros, per DSv2). */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val t = GraftTable.load(spark, dirOf(ident))
    new GraftSparkTable(dirOf(ident),
      (catalogName +: ident.namespace() :+ ident.name()).mkString("."),
      Some(t.versionAsOfTimestamp(timestamp / 1000L)))
  }

  override def listTables(namespace: Array[String]): Array[Identifier] =
    listViews(namespace.toIndexedSeq: _*)

  /** Column[]-based variant so DDL column comments survive into the log
    * (they ride StructField metadata through StructType.json). */
  override def createTable(ident: Identifier, columns: Array[Column],
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    val schema = StructType(columns.map { c =>
      val f = StructField(c.name(), c.dataType(), c.nullable())
      Option(c.comment()).map(f.withComment).getOrElse(f)
    })
    createTable(ident, schema, partitions, properties)
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val key = Option(properties.get("key")).map(_.split(',').toSeq.map(_.trim))
      .getOrElse(Seq.empty)
    GraftTable.create(spark, dirOf(ident), schema,
      spec = partitions.toSeq.map(PartitionField.fromTransform), key = key)
    loadTable(ident)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val t = GraftTable.load(spark, dirOf(ident))
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1, "nested columns are not supported")
        t.addColumn(add.fieldNames.head, add.dataType)
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames.length == 1, "nested columns are not supported")
        t.dropColumn(del.fieldNames.head)
      case ren: TableChange.RenameColumn =>
        require(ren.fieldNames.length == 1, "nested columns are not supported")
        t.renameColumn(ren.fieldNames.head, ren.newName)
      // plain-SQL `ALTER TABLE graft.ns.t SET TBLPROPERTIES(...)` for the
      // declarative skipping metadata (same keys GraftSql accepts)
      case set: TableChange.SetProperty =>
        def cols(v: String) = v.split(',').map(_.trim).filter(_.nonEmpty).toSeq
        set.property match {
          case "graft.bloom-keys" => t.setBloomKeys(cols(set.value))
          case "graft.stats-keys" => t.setStatsKeys(cols(set.value))
          // everything else is a free-form property in the snapshot log
          // (Iceberg table-properties semantics): one metadata commit
          case k => t.setProperties(Map(k -> set.value))
        }
      case rm: TableChange.RemoveProperty =>
        GraftTable.load(spark, dirOf(ident))
          .setProperties(Map(rm.property -> null))
      case other => throw new UnsupportedOperationException(
        s"unsupported table change: $other (use the GraftTable evolution API)")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    if (!tableExists(ident)) return false
    val p = new Path(dirOf(ident))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("rename is not supported")

  // ---- ProcedureCatalog (SQL CALL maintenance surface) ----------------
  // `CALL graft.system.compact('ns.t')` etc — the maintenance actions a
  // deployment schedules (Iceberg exposes the same set as procedures).

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    require(ident.namespace().sameElements(Array("system")),
      s"procedures live in the system namespace: CALL ${name()}.system.<proc>(...)")
    def tbl(r: org.apache.spark.sql.catalyst.InternalRow): GraftTable = {
      require(!r.isNullAt(0), "table argument must not be NULL")
      val parts = r.getUTF8String(0).toString.split('.').toSeq
      require(parts.nonEmpty && parts.forall(_.nonEmpty),
        s"bad table name '${r.getUTF8String(0)}': use 'namespace.table'")
      def identOf(ps: Seq[String]) = Identifier.of(ps.init.toArray, ps.last)
      // accept the catalog-qualified spelling too ('graft.ns.t') as long
      // as it is unambiguous
      val ident =
        if (tableExists(identOf(parts))) identOf(parts)
        else if (parts.length > 1 && parts.head == name() &&
          tableExists(identOf(parts.tail))) identOf(parts.tail)
        else throw new NoSuchTableException(identOf(parts))
      GraftTable.load(spark, dirOf(ident))
    }
    ident.name().toLowerCase match {
      case "compact" =>
        GraftCatalog.procedure("compact", Seq("table" -> StringType)) { r =>
          tbl(r).compact(); ()
        }
      case "expire_snapshots" =>
        GraftCatalog.procedure("expire_snapshots",
          Seq("table" -> StringType, "keep_last" -> IntegerType)) { r =>
          tbl(r).expireSnapshots(r.getInt(1)); ()
        }
      case "expire_snapshots_older_than" =>
        GraftCatalog.procedure("expire_snapshots_older_than",
          Seq("table" -> StringType, "older_than_ms" -> LongType)) { r =>
          tbl(r).expireSnapshotsOlderThan(r.getLong(1)); ()
        }
      case "apply_retention" =>
        // the generic maintenance sweep: each table DECLARES its policy in
        // snapshot-log properties (`retention.keep-last` and/or
        // `retention.older-than-ms`, set via SET TBLPROPERTIES) and one
        // scheduled CALL applies it — at 100 TB retention is fleet
        // configuration, not per-table scripts. No policy = no-op.
        GraftCatalog.procedure("apply_retention",
          Seq("table" -> StringType)) { r =>
          val t = tbl(r)
          val p = t.properties
          def natOf(key: String): Option[Long] = p.get(key).map { v =>
            val n = try v.toLong catch {
              case _: NumberFormatException => throw new IllegalArgumentException(
                s"table property $key must be a non-negative integer, got '$v'")
            }
            require(n >= 0, s"table property $key must be non-negative, got $n")
            n
          }
          val keepLast = natOf("retention.keep-last").map(_.toInt)
          val olderThan = natOf("retention.older-than-ms")
          (keepLast, olderThan) match {
            case (Some(k), None) => t.expireSnapshots(k)
            case (None, Some(ms)) => t.expireSnapshotsOlderThan(ms)
            case (Some(k), Some(ms)) => t.expireSnapshotsOlderThan(ms, keepLast = k)
            case (None, None) => () // no declared policy: nothing to apply
          }
          ()
        }
      case "vacuum" =>
        GraftCatalog.procedure("vacuum",
          Seq("table" -> StringType, "older_than_ms" -> LongType)) { r =>
          tbl(r).vacuumOrphans(r.getLong(1)); ()
        }
      case "capture_stats" =>
        // ANALYZE-style backfill: builds missing fold sidecars for dirs
        // written before stats were configured (or registered by
        // add_files), refreshes unknown row counts
        GraftCatalog.procedure("capture_stats", Seq("table" -> StringType)) { r =>
          tbl(r).captureStats(); ()
        }
      case "refresh_mv" =>
        // the scheduler-facing twin of GraftSql's REFRESH MATERIALIZED
        // VIEW: fold the base changelog since the MV's stamp, exactly-once
        GraftCatalog.procedure("refresh_mv", Seq("table" -> StringType)) { r =>
          graft.streaming.StreamOps.refreshMv(spark, tbl(r)); ()
        }
      case "rewrite_small_dirs" =>
        GraftCatalog.procedure("rewrite_small_dirs", Seq("table" -> StringType)) { r =>
          tbl(r).rewriteSmallDirs(); ()
        }
      case "rewrite_zorder" =>
        GraftCatalog.procedure("rewrite_zorder",
          Seq("table" -> StringType, "a" -> StringType, "b" -> StringType)) { r =>
          tbl(r).rewriteZOrder(r.getUTF8String(1).toString, r.getUTF8String(2).toString); ()
        }
      case "rollback_to_snapshot" =>
        GraftCatalog.procedure("rollback_to_snapshot",
          Seq("table" -> StringType, "version" -> IntegerType)) { r =>
          tbl(r).rollbackTo(r.getInt(1)); ()
        }
      case "cherrypick_snapshot" =>
        GraftCatalog.procedure("cherrypick_snapshot",
          Seq("table" -> StringType, "version" -> IntegerType)) { r =>
          tbl(r).cherryPick(r.getInt(1)); ()
        }
      case "create_tag" =>
        GraftCatalog.procedure("create_tag",
          Seq("table" -> StringType, "tag" -> StringType, "version" -> IntegerType)) { r =>
          tbl(r).createTag(r.getUTF8String(1).toString, r.getInt(2)); ()
        }
      case "create_branch" =>
        GraftCatalog.procedure("create_branch",
          Seq("table" -> StringType, "branch" -> StringType)) { r =>
          tbl(r).createBranch(r.getUTF8String(1).toString); ()
        }
      case "fast_forward" =>
        GraftCatalog.procedure("fast_forward",
          Seq("table" -> StringType, "branch" -> StringType)) { r =>
          tbl(r).fastForward(r.getUTF8String(1).toString); ()
        }
      case "drop_ref" =>
        GraftCatalog.procedure("drop_ref",
          Seq("table" -> StringType, "ref" -> StringType)) { r =>
          tbl(r).dropRef(r.getUTF8String(1).toString); ()
        }
      case "publish_staged" =>
        GraftCatalog.procedure("publish_staged",
          Seq("table" -> StringType, "id" -> StringType)) { r =>
          tbl(r).publishStaged(r.getUTF8String(1).toString); ()
        }
      case "add_files" =>
        GraftCatalog.procedure("add_files",
          Seq("table" -> StringType, "source_dir" -> StringType)) { r =>
          tbl(r).addFiles(r.getUTF8String(1).toString); ()
        }
      case "evolve_spec" =>
        // spec as 'transform(source)[, ...]' — e.g. 'month(d), bucket(8, k)'
        GraftCatalog.procedure("evolve_spec",
          Seq("table" -> StringType, "spec" -> StringType)) { r =>
          // split on commas OUTSIDE parentheses only — 'bucket(8, k)' is
          // one field, not ['bucket(8', 'k)']
          val spec = r.getUTF8String(1).toString.split(",(?![^(]*\\))").map(_.trim)
            .filter(_.nonEmpty).toSeq.map(GraftCatalog.parseSpecField)
          tbl(r).updateSpec(spec); ()
        }
      case other => throw new IllegalArgumentException(
        s"unknown procedure $other; available: ${GraftCatalog.procedureNames.mkString(", ")}")
    }
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      GraftCatalog.procedureNames.map(Identifier.of(Array("system"), _))
    else Array.empty

  // ---- FunctionCatalog (storage-partitioned joins) --------------------
  // Spark resolves a scan-reported `bucket(n, col)` partition transform by
  // loading `bucket` from the table's catalog; serving it here is what
  // lets two graft scans be recognized as co-partitioned (SPJ).

  override def loadFunction(ident: Identifier): functions.UnboundFunction =
    if (ident.namespace().isEmpty && ident.name().equalsIgnoreCase("bucket"))
      GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty) Array(Identifier.of(Array.empty, "bucket")) else Array.empty

  // ---- SupportsNamespaces ---------------------------------------------

  override def listNamespaces(): Array[Array[String]] = {
    val root = new Path(warehouse)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Array.empty
    else fs.listStatus(root).filter(_.isDirectory).map(s => Array(s.getPath.getName))
  }
  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces() else Array.empty
  override def namespaceExists(namespace: Array[String]): Boolean = {
    val p = new Path((warehouse +: namespace).mkString("/"))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    if (namespaceExists(namespace)) util.Collections.emptyMap()
    else throw new NoSuchNamespaceException(namespace)
  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit = {
    val p = new Path((warehouse +: namespace).mkString("/"))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(p)
    ()
  }
  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("read-only catalog")
  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = false
}

object GraftCatalog {
  /** Registers the catalog on a session at runtime. */
  def register(spark: SparkSession, warehouse: String, name: String = "graft"): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", warehouse)
  }

  import org.apache.spark.sql.connector.catalog.procedures._
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.types.DataType

  private[catalog] val procedureNames: Array[String] = Array(
    "compact", "expire_snapshots", "expire_snapshots_older_than",
    "apply_retention", "vacuum", "rewrite_small_dirs",
    "rewrite_zorder", "rollback_to_snapshot", "cherrypick_snapshot",
    "create_tag", "create_branch", "fast_forward", "drop_ref", "publish_staged",
    "add_files", "evolve_spec", "refresh_mv", "capture_stats")

  /** Parses one `transform(source)` spec field — delegates to
    * [[graft.table.PartitionField.parse]] (shared with GraftSql's
    * ALTER TABLE … PARTITION FIELD syntax). */
  private[catalog] def parseSpecField(s: String): graft.table.PartitionField =
    graft.table.PartitionField.parse(s)

  /** A void maintenance procedure with IN parameters. */
  private[catalog] def procedure(procName: String, params: Seq[(String, DataType)])
                                (run: InternalRow => Unit): UnboundProcedure =
    new UnboundProcedure {
      override def name(): String = procName
      override def description(): String = s"graft maintenance procedure $procName"
      override def bind(inputType: org.apache.spark.sql.types.StructType): BoundProcedure =
        new BoundProcedure {
          override def name(): String = procName
          override def description(): String = s"graft maintenance procedure $procName"
          override def parameters(): Array[ProcedureParameter] =
            params.map { case (n, dt) => ProcedureParameter.in(n, dt).build() }.toArray
          override def isDeterministic: Boolean = false
          override def call(input: InternalRow)
              : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
            run(input)
            java.util.Collections.emptyIterator()
          }
        }
    }
}
