package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.BasicFileAttributes
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.GraftLocalFileSystem
import graft.table.{GraftTable, RefInfo}

/** Repeated `expireSnapshots`, then tags and branch moves, under both
  * local filesystem pairings:
  *
  *  - Hadoop's default (checksummed `FileSystem` and checksummed
  *    `FileContext`);
  *  - [[GraftLocalFileSystem.sessionConfs]] (checksummed `FileSystem`,
  *    raw `FileContext`), where a raw rename of an expiry marker used to
  *    leave `v00000.json`'s `.crc` describing the old bytes, so the second
  *    call threw `ChecksumException`.
  *
  * The graft pairing is applied to the shared test context's Hadoop conf
  * for the body of one test only, with the `file://` FileSystem cache
  * bypassed so the rebinding takes effect, and restored afterwards.
  *
  * Also asserts that expiry leaves already-expired entries untouched (no
  * marker rewrite per call — the log I/O would grow with every call).
  */
class ExpireSnapshotsFsPairingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session
  import spark.implicits._

  /** Identity of the file behind a log entry: a rewrite through
    * tmp + rename gives the entry a new inode. */
  private def fileKey(dir: String, v: Int): AnyRef =
    Files.readAttributes(Paths.get(dir, "_graft_log", f"v$v%05d.json"),
      classOf[BasicFileAttributes]).fileKey()

  private def expireTwice(dir: String): Unit = {
    val t = GraftTable.create(spark, dir, Seq((0L, "a")).toDF("id", "v").schema)
    (1 to 6).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("id", "v")))
    t.expireSnapshots(2)
    val expired = (0 to 4).map(v => v -> fileKey(dir, v)).toMap
    assert((0 to 4).forall(v => t.snapshotAt(v).op == "expired"))
    t.expireSnapshots(2)
    t.append(Seq((7L, "v7")).toDF("id", "v"))
    t.expireSnapshots(2)
    expired.foreach { case (v, k) =>
      assert(fileKey(dir, v) == k, s"already-expired v$v was rewritten")
    }
    assert(t.snapshotAt(5).op == "expired")
    assert(t.allSnapshots.map(_.op).count(_ == "expired") == 6)
    assert(t.toDF.count() == 7L)
    assert(t.toDF.select("id").as[Long].collect().sorted.toSeq == (1L to 7L))
    // refs ride the same pairing: a published tag, and a branch replaced
    // twice (the second replace overwrites a renamed-in file)
    t.createTag("keep", 6)
    t.createBranch("dev", 6)
    t.setBranch("dev", 7)
    t.setBranch("dev", 6)
    assert(intercept[IllegalArgumentException](t.createTag("keep", 7))
      .getMessage.contains("already exists"))
    val again = GraftTable.load(spark, dir)
    assert(again.refs == Seq(RefInfo("dev", "branch", 6), RefInfo("keep", "tag", 6)))
    again.append(Seq((8L, "v8")).toDF("id", "v"))
    again.expireSnapshots(1)
    assert(again.asOfRef("dev").count() == 6L && again.snapshotAt(7).op == "expired")
  }

  test("expireSnapshots repeats cleanly under Hadoop's default FS pairing") {
    expireTwice(TestSpark.tmpDir("expire-default"))
  }

  test("expireSnapshots repeats cleanly under GraftLocalFileSystem.sessionConfs") {
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = GraftLocalFileSystem.sessionConfs.map { case (k, v) =>
      k.stripPrefix("spark.hadoop.") -> v
    } :+ ("fs.file.impl.disable.cache" -> "true")
    val saved = keys.map { case (k, _) => k -> Option(conf.get(k)) }
    keys.foreach { case (k, v) => conf.set(k, v) }
    try {
      val dir = TestSpark.tmpDir("expire-graftfs")
      assert(new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
        .isInstanceOf[GraftLocalFileSystem], "graft FS pairing not in effect")
      expireTwice(dir)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
