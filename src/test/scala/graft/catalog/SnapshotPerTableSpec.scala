package graft.catalog

import java.util.Optional

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead, SupportsRowLevelOperations, Table, TableCatalog}
import org.apache.spark.sql.connector.read.V1Scan
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RowLevelOperation, RowLevelOperationInfo}
import org.apache.spark.sql.sources.{BaseRelation, TableScan}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.table.GraftTable

/** A DSv2 table served by [[GraftCatalog.loadTable]] is one snapshot: once
  * it has resolved its version, commits landing later — a column add, an
  * append, a property change — show up in none of its callbacks, and a
  * row-level operation it builds scans that version and commits against
  * it. Time travel to an expired version fails with the same message as
  * before. Runs on a session WITHOUT the extensions, where catalog reads
  * go through the table's own V1 fallback scan. */
class SnapshotPerTableSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var prior: Option[SparkSession] = None
  lazy val spark: SparkSession = {
    prior = SparkSession.getDefaultSession
    prior.foreach(_ => {
      SparkSession.clearDefaultSession(); SparkSession.clearActiveSession()
    })
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  import spark.implicits._

  override def afterAll(): Unit = prior.foreach { p =>
    SparkSession.setDefaultSession(p); SparkSession.setActiveSession(p)
  }

  private lazy val (catalog, warehouse) = {
    val wh = java.nio.file.Files.createTempDirectory("graft_one_snap").toString
    val name = s"onesnap${java.util.UUID.randomUUID().toString.take(6)}"
    GraftCatalog.register(spark, wh, name)
    (name, wh)
  }
  private def catalogPlugin: TableCatalog =
    spark.sessionState.catalogManager.catalog(catalog).asInstanceOf[TableCatalog]

  private val schema = StructType(Seq(StructField("id", LongType), StructField("v", StringType)))

  private def rowLevelInfo: RowLevelOperationInfo = new RowLevelOperationInfo {
    override def options(): CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty()
    override def command(): RowLevelOperation.Command = RowLevelOperation.Command.UPDATE
  }
  private def writeInfo(s: StructType): LogicalWriteInfo = new LogicalWriteInfo {
    override def options(): CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty()
    override def queryId(): String = "one-snapshot-spec"
    override def schema(): StructType = s
    override def rowIdSchema(): Optional[StructType] = Optional.empty()
    override def metadataSchema(): Optional[StructType] = Optional.empty()
  }

  test("every callback of a loaded table reads the version it resolved") {
    val dir = s"$warehouse/ns/t"
    val t = GraftTable.create(spark, dir, schema)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    t.setProperties(Map("owner" -> "a"))
    val loadedV = t.currentVersion
    val loaded = t.snapshotAt(loadedV)

    val tbl: Table = catalogPlugin.loadTable(Identifier.of(Array("ns"), "t"))
    assert(tbl.schema() == schema) // first use: the table resolves its version here

    // later commits: a DATA column that shadows the `_file` metadata
    // column, more rows and a property change
    t.addColumn("_file", StringType)
    t.append(Seq((3L, "c", "x")).toDF("id", "v", "_file"))
    t.setProperties(Map("owner" -> "b"))
    assert(t.currentVersion > loadedV)

    assert(tbl.schema() == schema)
    assert(tbl.columns().map(_.name()).toSeq == Seq("id", "v"))
    val meta = tbl.asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsMetadataColumns]
      .metadataColumns().map(_.name()).toSeq
    assert(meta == Seq(GraftMetaCols.FILE, GraftMetaCols.POS),
      s"metadata columns follow a later schema: $meta")
    assert(tbl.properties().get("owner") == "a")

    // the V1 fallback scan: rows and size of the loaded version
    val rel = tbl.asInstanceOf[SupportsRead].newScanBuilder(CaseInsensitiveStringMap.empty())
      .build().asInstanceOf[V1Scan].toV1TableScan[BaseRelation with TableScan](spark.sqlContext)
    assert(rel.schema == schema)
    assert(rel.buildScan().collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq ==
      Seq((1L, "a"), (2L, "b")))
    assert(rel.sizeInBytes == t.dataSizeBytes(loaded))
    assert(rel.sizeInBytes < t.dataSizeBytes(t.snapshot))

    // a row-level operation: its scan and its commit base are the loaded version
    val op = tbl.asInstanceOf[SupportsRowLevelOperations]
      .newRowLevelOperationBuilder(rowLevelInfo).build()
    assert(op.requiredMetadataAttributes().map(_.fieldNames().last).toSeq == Seq(GraftMetaCols.FILE),
      "the row-level group filter must key on the metadata `_file` of the loaded schema")
    val scan = op.newScanBuilder(CaseInsensitiveStringMap.empty()).build()
    assert(scan.readSchema() == schema)
    assert(scan.toBatch.planInputPartitions().length ==
      t.liveFiles(loaded.dataDirs).size)
    val commit = intercept[IllegalArgumentException] {
      op.newWriteBuilder(writeInfo(schema)).build().toBatch.commit(Array.empty)
    }
    assert(commit.getMessage.contains(s"table advanced v$loadedV ->"), commit.getMessage)
    assert(GraftTable.load(spark, dir).toDF.count() == 3L, "the stale replace committed")
  }

  test("time travel to an expired version keeps its error message") {
    val dir = s"$warehouse/ns/expired"
    val t = GraftTable.create(spark, dir, schema)
    (1 to 3).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("id", "v")))
    t.expireSnapshots(1)
    val want = "snapshot v1 has been expired (expireSnapshots); cannot time travel to it"
    def messages(e: Throwable): Seq[String] =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).toSeq
    val viaSql = intercept[Exception] {
      spark.sql(s"SELECT * FROM $catalog.ns.expired VERSION AS OF 1").collect()
    }
    assert(messages(viaSql).exists(m => m != null && m.contains(want)), messages(viaSql))
    val viaPath = intercept[Exception] {
      spark.read.format("graft").option("versionAsOf", 1).load(dir).collect()
    }
    assert(messages(viaPath).exists(m => m != null && m.contains(want)), messages(viaPath))
    // a live pinned version still reads
    assert(spark.sql(s"SELECT * FROM $catalog.ns.expired VERSION AS OF 3").count() == 3L)
  }
}
