package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.table._

/** Crash-window behavior of the commit protocol. Every log write is
  * content-complete: its bytes go to a temp under `_graft_log/_tmp/`
  * and are then published in one step, so readers never retry. These
  * specs pin the outcomes: a temp a dead writer left is invisible and
  * vacuumable, and an empty entry (which no graft writer produces any
  * more) fails loudly instead of hanging or silently skipping the
  * version. */
class CrashRecoverySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  test("an abandoned claim (writer died post-claim) fails loudly, not silently") {
    val dir = TestSpark.tmpDir("crash-abandon")
    val t = GraftTable.create(spark, dir, schema)
    t.append(Seq((1L, "a")).toDF("id", "v"))
    // an empty v2 — what the old create-then-stream claim left when its
    // writer died; publishing never does, so an empty entry is a fault
    val v2 = new java.io.File(new java.io.File(dir, "_graft_log"), "v00002.json")
    assert(v2.createNewFile())
    val e = intercept[IllegalStateException] {
      GraftTable.load(spark, dir).snapshot
    }
    assert(e.getMessage.contains("unreadable snapshot entry"),
      s"unexpected failure mode: ${e.getMessage}")
    // recovery: removing the dead claim restores the table untouched
    assert(v2.delete())
    assert(GraftTable.load(spark, dir).toDF.count() == 1)
  }

  test("a temp left by a writer that died before publishing is invisible and vacuumable") {
    val dir = TestSpark.tmpDir("crash-temp")
    val t = GraftTable.create(spark, dir, schema, key = Seq("id"))
    t.append(Seq((1L, "a")).toDF("id", "v"))
    t.createTag("keep", 1)
    val id = t.stageAppend(Seq((2L, "b")).toDF("id", "v"))
    val log = java.nio.file.Paths.get(dir, "_graft_log")
    val tmp = log.resolve("_tmp")
    java.nio.file.Files.createDirectories(tmp)
    // the full bodies a dying writer had written, never published: a
    // next slot, a ref and a staged marker
    val dead = Seq(
      "v00002.json" -> log.resolve("v00001.json"),
      "other.json" -> log.resolve("refs/keep.json"),
      "dead.json" -> log.resolve(s"staged/$id.json")).map { case (name, from) =>
      val p = tmp.resolve(s"$name.${java.util.UUID.randomUUID()}.tmp")
      java.nio.file.Files.copy(from, p)
      p
    }
    val live = GraftTable.load(spark, dir)
    assert(live.currentVersion == 1)
    assert(live.refs.map(_.name) == Seq("keep"))
    assert(live.stagedIds == Seq(id))
    // a young temp may belong to a writer still in flight
    assert(live.vacuumOrphans().isEmpty)
    assert(dead.forall(java.nio.file.Files.exists(_)))
    val swept = live.vacuumOrphans(olderThanMs = -1000)
    assert(dead.forall(p => swept.contains(s"_graft_log/_tmp/${p.getFileName}")), swept)
    assert(dead.forall(p => !java.nio.file.Files.exists(p)))
    assert(live.currentVersion == 1 && live.toDF.count() == 1)
    assert(live.stagedIds == Seq(id), "the staged marker itself must survive")
  }

  test("a crashed writer's data dir (no commit) is invisible and vacuumable") {
    val dir = TestSpark.tmpDir("crash-orphan")
    val t = GraftTable.create(spark, dir, schema)
    t.append(Seq((1L, "a")).toDF("id", "v"))
    // simulate a writer that died after writing data but before commit
    val orphan = new java.io.File(dir, "data/dead-writer-uuid")
    orphan.mkdirs()
    Seq((99L, "ghost")).toDF("id", "v").write.mode("overwrite")
      .parquet(orphan.getAbsolutePath + "/files")
    assert(t.toDF.count() == 1, "uncommitted data leaked into reads")
    assert(t.toDF.filter($"id" === 99L).count() == 0)
    val removed = t.vacuumOrphans(olderThanMs = -1000)
    assert(removed.exists(_.contains("dead-writer-uuid")))
    assert(t.toDF.count() == 1)
  }

  test("crashed-publish window: abortStaged on an already-published marker " +
    "consumes the marker without deleting referenced data") {
    val dir = TestSpark.tmpDir("crash-wap")
    val t = GraftTable.create(spark, dir, schema, key = Seq("id"))
    t.append(Seq((1L, "seed")).toDF("id", "v"))
    val id = t.stageAppend(Seq((2L, "staged")).toDF("id", "v"))
    val marker = java.nio.file.Paths.get(dir, "_graft_log", "staged", s"$id.json")
    val markerBytes = java.nio.file.Files.readAllBytes(marker)
    t.publishStaged(id)
    val before = GraftTable.load(spark, dir).toDF
      .as[(Long, String)].collect().toMap
    assert(before == Map(1L -> "seed", 2L -> "staged"))
    // the crash window: publish committed, the marker delete never ran
    java.nio.file.Files.write(marker, markerBytes)
    // an operator (or a sweeper) aborting the apparently-pending stage
    // must consume the marker but MUST NOT touch the published data
    GraftTable.load(spark, dir).abortStaged(id)
    val after = GraftTable.load(spark, dir)
    assert(after.toDF.as[(Long, String)].collect().toMap == before,
      "abort after a crashed publish deleted referenced data")
    assert(after.stagedIds.isEmpty, "the stale marker must still be consumed")
    // a genuinely-unpublished stage still aborts WITH its data removed
    val id2 = t.stageAppend(Seq((3L, "never")).toDF("id", "v"))
    GraftTable.load(spark, dir).abortStaged(id2)
    assert(GraftTable.load(spark, dir).toDF.as[(Long, String)]
      .collect().toMap == before)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "data", id2)),
      "an unpublished abort must remove its data dir")
  }

  test("crashed-expiry window: marker lands before the data delete, so the " +
    "residue is a vacuumable orphan, never a broken time-travel read") {
    val dir = TestSpark.tmpDir("crash-expire")
    val t = GraftTable.create(spark, dir, schema, key = Seq("id"))
    t.append(Seq((1L, "v1")).toDF("id", "v"))
    // CoW delete rewrites the dir: v1's original dir is now referenced
    // ONLY by v1 — the dir expiry will actually reclaim
    t.delete(col("id") === 1L)
    t.append(Seq((3L, "v3")).toDF("id", "v"))
    val pre = GraftTable.load(spark, dir)
    assert(pre.asOf(1).count() == 1)
    val kept = Seq(2, 3).flatMap(v => pre.snapshotAt(v).dataDirs.map(_.path)).toSet
    val v1Dirs = pre.snapshotAt(1).dataDirs.map(_.path).filterNot(kept)
    assert(v1Dirs.nonEmpty, "fixture must give v1 a uniquely-referenced dir")
    // stash the dirs expiry will delete, then expire
    val stash = java.nio.file.Files.createTempDirectory("stash")
    def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
      java.nio.file.Files.walk(from).forEach { src =>
        val dst = to.resolve(from.relativize(src))
        if (java.nio.file.Files.isDirectory(src)) java.nio.file.Files.createDirectories(dst)
        else java.nio.file.Files.copy(src, dst,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
    v1Dirs.foreach { rel =>
      copyTree(java.nio.file.Paths.get(dir, rel), stash.resolve(rel.replace('/', '_')))
    }
    t.expireSnapshots(keepLast = 2)
    // reconstruct the crash-after-marker state: marker written, dirs intact
    v1Dirs.foreach { rel =>
      copyTree(stash.resolve(rel.replace('/', '_')), java.nio.file.Paths.get(dir, rel))
    }
    val live = GraftTable.load(spark, dir)
    // reader outcome in the window: the CLEAN expired error, not ENOENT
    assertThrows[Exception](live.asOf(1).count())
    // the residue is an unreferenced dir: vacuum sweeps exactly it and
    // query results never change
    val before = live.toDF.as[(Long, String)].collect().toMap
    val swept = live.vacuumOrphans(olderThanMs = -1000)
    assert(v1Dirs.forall(d => swept.contains(d)),
      s"vacuum missed crash residue: swept=$swept expected=$v1Dirs")
    assert(GraftTable.load(spark, dir).toDF.as[(Long, String)]
      .collect().toMap == before)
  }
}
