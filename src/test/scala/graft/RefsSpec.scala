package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.table._

/** Named refs (tags/branches), rollback, cherry-pick, and the
  * write-audit-publish staged-append flow. */
class RefsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  import spark.implicits._

  val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  private def ids(t: GraftTable) = t.toDF.orderBy("id").as[(Long, String)].collect().toSeq

  test("tags are immutable pointers; branches move; refs list round-trips") {
    val t = GraftTable.create(spark, TestSpark.tmpDir("refs-basic"), schema)
    t.append(Seq((1L, "a")).toDF("id", "v")) // v1
    t.createTag("audited", 1)
    t.createBranch("wip") // at current head (v1)
    t.append(Seq((2L, "b")).toDF("id", "v")) // v2
    assert(t.refs == Seq(RefInfo("audited", "tag", 1), RefInfo("wip", "branch", 1)))
    assert(t.asOfRef("audited").count() == 1)
    t.fastForward("wip")
    assert(t.refOf("wip").version == 2)
    intercept[IllegalArgumentException] { t.setBranch("audited", 2) } // tag: immutable
    intercept[IllegalArgumentException] { t.createTag("audited", 2) } // exists
    intercept[IllegalArgumentException] { t.createTag("bad name!", 1) }
    t.dropRef("wip")
    assert(t.refs.map(_.name) == Seq("audited"))
    // metadata table surface
    assert(t.refsMeta.orderBy("name").as[(String, String, Int)].collect().toSeq ==
      Seq(("audited", "tag", 1)))
  }

  test("rollback restores full state as a new commit; cherry-pick re-applies") {
    val t = GraftTable.create(spark, TestSpark.tmpDir("refs-rb"), schema)
    t.append(Seq((1L, "a")).toDF("id", "v"))  // v1
    t.createTag("good", 1)
    t.append(Seq((2L, "b")).toDF("id", "v"))  // v2
    t.addColumn("extra", StringType)          // v3
    assert(t.schema.fieldNames.length == 3)
    t.rollbackTo("good")                      // v4 = state of v1
    assert(ids(t) == Seq((1L, "a")))
    assert(t.schema.fieldNames.toSeq == Seq("id", "v"), "rollback restores schema")
    assert(t.currentVersion == 4, "rollback is a new commit, not history rewrite")
    assert(t.snapshot.op == "rollback")
    t.cherryPick(2)                           // re-apply the skipped append
    assert(ids(t) == Seq((1L, "a"), (2L, "b")))
    intercept[IllegalArgumentException] { t.cherryPick(2) } // already present
    intercept[IllegalArgumentException] { t.cherryPick(3) } // not an append
  }

  test("write-audit-publish: staged appends are invisible until published") {
    val t = GraftTable.create(spark, TestSpark.tmpDir("refs-wap"), schema)
    t.append(Seq((1L, "a")).toDF("id", "v"))
    val id = t.stageAppend(Seq((2L, "staged")).toDF("id", "v"))
    assert(ids(t) == Seq((1L, "a")), "staged rows must be invisible")
    assert(t.stagedIds == Seq(id))
    // audit: the staged rows are readable in isolation
    assert(t.stagedDF(id).orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((2L, "staged")))
    // the orphan sweep must spare a staged-but-unpublished dir
    assert(t.vacuumOrphans(olderThanMs = 0).isEmpty)
    t.publishStaged(id)
    assert(ids(t) == Seq((1L, "a"), (2L, "staged")))
    assert(t.stagedIds.isEmpty, "publish consumes the marker")
    intercept[IllegalArgumentException] { t.publishStaged(id) } // gone
    // abort path: files + marker removed
    val id2 = t.stageAppend(Seq((9L, "bad")).toDF("id", "v"))
    t.abortStaged(id2)
    assert(t.stagedIds.isEmpty && ids(t).map(_._1) == Seq(1L, 2L))
    assert(t.vacuumOrphans(olderThanMs = 0).isEmpty, "abort already cleaned up")
  }

  test("WAP: unknown-count staged append (rows = -1) audits and publishes real rows") {
    val dir = TestSpark.tmpDir("refs-wap-unk")
    val t = GraftTable.create(spark, dir, schema)
    t.append(Seq((1L, "a")).toDF("id", "v"))
    val id = t.stageAppend(Seq((2L, "staged")).toDF("id", "v"))
    // simulate a writer whose row-count observation fell back to unknown:
    // rewrite the marker with rows = -1 (publishStaged treats -1 as real
    // data; the AUDIT step must surface the same rows, not an empty frame)
    val marker = new java.io.File(s"$dir/_graft_log/staged/$id.json")
    val txt = scala.io.Source.fromFile(marker).mkString
    val unk = txt.replaceAll(""""rows":\d+""", """"rows":-1""")
    assert(unk != txt, "marker rewrite did not change the rows field")
    java.nio.file.Files.write(marker.toPath, unk.getBytes("UTF-8"))
    assert(t.stagedDF(id).orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((2L, "staged")), "rows = -1 staged append must audit as its real rows")
    t.publishStaged(id)
    assert(ids(t) == Seq((1L, "a"), (2L, "staged")))
  }

  test("expiry keeps ref-pinned snapshots and their data alive") {
    val t = GraftTable.create(spark, TestSpark.tmpDir("refs-exp"), schema)
    t.append(Seq((1L, "a")).toDF("id", "v"))  // v1
    t.overwrite(Seq((2L, "b")).toDF("id", "v")) // v2 (v1's dir now only in history)
    t.createTag("keep1", 1)
    t.overwrite(Seq((3L, "c")).toDF("id", "v")) // v3
    t.expireSnapshots(keepLast = 1)
    // v1 is pinned: still readable with its data; v2 is expired
    assert(t.asOfRef("keep1").as[(Long, String)].collect().toSeq == Seq((1L, "a")))
    assert(t.snapshotAt(2).op == "expired")
    intercept[Exception] { t.asOf(2).collect() }
    // dropping the ref makes it expirable
    t.dropRef("keep1")
    t.expireSnapshots(keepLast = 1)
    assert(t.snapshotAt(1).op == "expired")
  }

  test("expiry reads only newly expired entries, and still expires a dropped ref's version") {
    val dir = TestSpark.tmpDir("refs-exp-watermark")
    val t = GraftTable.create(spark, dir, schema)
    (1 to 4).foreach(i => t.overwrite(Seq((i.toLong, s"v$i")).toDF("id", "v"))) // v1..v4
    t.createTag("keep2", 2)
    t.expireSnapshots(keepLast = 1)
    assert((0 to 3).map(t.snapshotAt(_).op) == Seq("expired", "expired", "overwrite", "expired"))
    // an entry an earlier expiry marked is never read again: make v0
    // unreadable, and later expiries must not touch it
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "_graft_log", "v00000.json"),
      "{}".getBytes("UTF-8"))
    t.overwrite(Seq((5L, "v5")).toDF("id", "v")) // v5
    t.expireSnapshots(keepLast = 1)
    assert(t.snapshotAt(4).op == "expired")
    assert(t.snapshotAt(2).op == "overwrite", "a tagged version must survive expiry")
    // dropping the tag makes v2 expirable, though it lies below every
    // cutoff an expiry already passed
    t.dropRef("keep2")
    t.expireSnapshots(keepLast = 1)
    assert(t.snapshotAt(2).op == "expired")
    assert(!new java.io.File(dir, t.snapshotAt(5).dataDirs.head.path).list().isEmpty)
    assert(t.toDF.as[(Long, String)].collect().toSeq == Seq((5L, "v5")))
  }

  test("VERSION AS OF a ref name and read options resolve through refs") {
    val dir = TestSpark.tmpDir("refs-sql")
    val t = GraftTable.create(spark, dir, schema)
    t.append(Seq((1L, "a")).toDF("id", "v"))
    t.createTag("rel1", 1)
    t.append(Seq((2L, "b")).toDF("id", "v"))
    assert(spark.read.format("graft").option("tag", "rel1").load(dir).count() == 1)
    assert(spark.read.format("graft").option("versionAsOf", "rel1").load(dir).count() == 1)
    assert(spark.read.format("graft").load(dir + "#refs")
      .as[(String, String, Int)].collect().toSeq == Seq(("rel1", "tag", 1)))
  }
}
