package graft

import java.io.File
import java.net.URI
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.table.{GraftTable, PartitionField}

/** A Hadoop FileSystem with an OBJECT-STORE-SHAPED scheme (`mock3a://
  * bucket/...`), backed by a local directory: no AbstractFileSystem
  * binding (so `FileContext` resolution fails exactly as it does for
  * stores without one) and a non-`file` scheme (so every scheme-gated
  * branch takes its object-store path). Bytes land locally, but ALL
  * table-layer IO flows through the Hadoop `FileSystem` API against a
  * foreign scheme — which is the SURVEY §2 S5 substitution claim
  * ("engine code stays path-agnostic via Hadoop FileSystem; the
  * fs.s3a.* conf keys are drop-in"): this spec makes that claim
  * lifecycle-PROVEN instead of asserted. */
class MockObjectStoreFS extends RawLocalFileSystem {
  // identity path mapping under a FOREIGN scheme (the pattern Spark's own
  // FakeFileSystem test doubles use): reverse-mapping FileStatus paths is
  // where hand-rolled bucket mappings go wrong, and the point here is the
  // SCHEME — every scheme-gated branch and the FileContext resolution
  // must take their object-store path, not where the bytes land
  override def getScheme: String = "mock3a"
  override def getUri: URI = URI.create("mock3a:///")
}
object MockObjectStoreFS {
  val root: String =
    java.nio.file.Files.createTempDirectory("mock3a_store").toString
}

class ObjectStoreSchemeSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.session
    s.sparkContext.hadoopConfiguration
      .set("fs.mock3a.impl", classOf[MockObjectStoreFS].getName)
    s
  }
  import spark.implicits._

  test("full table lifecycle on a non-file object-store scheme (S5): " +
    "create/append/MoR/compact/tags/expire/vacuum/time-travel") {
    val dir = s"mock3a://${MockObjectStoreFS.root}/testbucket/my-iceberg-warehouse/cust"
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("seg", StringType),
      StructField("bal", DoubleType)))
    GraftTable.create(spark, dir, schema,
      spec = Seq(PartitionField("seg", "identity")))
    val rows = (0L until 300L).map(i => (i, s"s${i % 4}", i * 1.5))
      .toDF("id", "seg", "bal")
    GraftTable.load(spark, dir).append(rows.filter(col("id") % 2 === 0))
    GraftTable.load(spark, dir).append(rows.filter(col("id") % 2 === 1))
    // partition-pruned scan through the foreign scheme
    assert(GraftTable.load(spark, dir).scan(col("seg") === "s1").count() == 75)
    // MoR upsert + erasure (write path: delete parquet + data + commit)
    GraftTable.load(spark, dir).upgradeFormat(2)
    GraftTable.load(spark, dir).rowDelta(
      Seq(4L, 8L).toDF("id"),
      Seq((4L, "s0", -1.0), (8L, "s0", -2.0)).toDF("id", "seg", "bal"),
      Seq("id"))
    GraftTable.load(spark, dir).rowDelta(
      Seq(13L).toDF("id"), rows.limit(0), Seq("id"))
    val expectAfter = rows.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .filterNot(_._1 == 13L)
      .map { case (i, s, b) => if (i == 4L) (i, "s0", -1.0) else if (i == 8L) (i, "s0", -2.0) else (i, s, b) }
      .sortBy(_._1)
    def current() = GraftTable.load(spark, dir).toDF
      .select(col("id"), col("seg"), col("bal")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sortBy(_._1).toSeq
    assert(current() == expectAfter.toSeq, "MoR state wrong on the foreign scheme")
    // tags through the NON-file publish (exists check, then rename), and
    // the duplicate-tag conflict must still be detected without a local
    // hard link
    val pinV = GraftTable.load(spark, dir).currentVersion
    GraftTable.load(spark, dir).createTag("keep", pinV)
    val dup = intercept[IllegalArgumentException] {
      GraftTable.load(spark, dir).createTag("keep", pinV)
    }
    assert(dup.getMessage.contains("already exists"))
    // compact + expire + vacuum: replaceAtomic has NO AbstractFileSystem
    // binding for mock3a, so the expire marker write exercises the
    // delete+rename fallback documented for such stores
    GraftTable.load(spark, dir).compact()
    GraftTable.load(spark, dir).expireSnapshots(1)
    GraftTable.load(spark, dir).vacuumOrphans(0)
    assert(current() == expectAfter.toSeq, "content drifted through maintenance")
    // ref-pinned version survived expiry; unpinned history reads expired
    assert(GraftTable.load(spark, dir).asOfRef("keep").count() == expectAfter.length)
    val e = intercept[Exception] {
      GraftTable.load(spark, dir).asOf(1).collect()
    }
    assert(e.getMessage.contains("expired"))
    // snapshot-log properties ride the same foreign-scheme log
    GraftTable.load(spark, dir).setProperties(Map("store" -> "mock3a"))
    assert(GraftTable.load(spark, dir).properties("store") == "mock3a")
    // nothing escaped the store root: the table dir exists ONLY under it
    assert(new File(MockObjectStoreFS.root,
      "testbucket/my-iceberg-warehouse/cust/_graft_log").isDirectory,
      "table log did not land under the object-store root")
    // every publish and replace consumed its temp
    val temps = new File(MockObjectStoreFS.root,
      "testbucket/my-iceberg-warehouse/cust/_graft_log/_tmp").list()
    assert(temps == null || temps.isEmpty, s"temps left behind: ${temps.mkString(", ")}")
    // and the path the engine saw was the foreign scheme throughout
    assert(new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getScheme == "mock3a")
  }
}
