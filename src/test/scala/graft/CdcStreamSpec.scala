package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.table.GraftTable

/** Streaming CDC tail ([[graft.catalog.GraftChangelogMicroBatchStream]]):
  * `readStream.format("graft").option("changesFrom", v)` must deliver
  * exactly [[GraftTable.changesBetween]]'s rows, split on commit-aligned
  * micro-batch boundaries — the batch-parity law, plus the stream-only
  * contracts (checkpoint resume, admission control, fail-loud on
  * inexpressible commits). */
class CdcStreamSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.session
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString + "/t"

  /** Drains the CDC tail with Trigger.AvailableNow into a memory sink and
    * returns the collected rows (detached via localCheckpoint). */
  private def drain(dir: String, from: Int, extra: Map[String, String] = Map.empty,
                    checkpoint: Option[String] = None): DataFrame = {
    val name = s"cdc_${java.util.UUID.randomUUID().toString.take(8)}"
    var r = spark.readStream.format("graft").option("changesFrom", from)
    extra.foreach { case (k, v) => r = r.option(k, v) }
    var w = r.load(dir).writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow())
    checkpoint.foreach(c => w = w.option("checkpointLocation", c))
    val q = w.start()
    try q.awaitTermination() finally if (q.isActive) q.stop()
    val out = spark.table(name).localCheckpoint(true)
    spark.catalog.dropTempView(name)
    out
  }

  private def canon(df: DataFrame): Seq[(Long, String, String, Int)] =
    df.select($"id", $"v", $"_change_type", $"_commit_version")
      .orderBy("_commit_version", "_change_type", "id", "v")
      .as[(Long, String, String, Int)].collect().toSeq

  test("batch parity: the drained tail equals changesBetween, including upsert pre-images") {
    val t = GraftTable.create(spark, tmp("cdc_tail"), schema, key = Seq("id"), formatVersion = 2)
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))             // v1
    t.append(Seq((4L, "d")).toDF("id", "v"))                                    // v2
    t.rowDelta(Seq(2L).toDF("id"), Seq((2L, "b2")).toDF("id", "v"), Seq("id")) // v3
    t.rowDelta(Seq(2L, 4L).toDF("id"),
      Seq((2L, "b3"), (5L, "e")).toDF("id", "v"), Seq("id"))                    // v4
    val streamed = drain(t.dir, 0)
    assert(canon(streamed) == canon(t.changesBetween(0, 4)))
    // the v4 pre-image of id=2 must be b2 (the v3 value, not the v1 one):
    // live-at-parent means earlier deletes apply before pre-image capture
    assert(canon(streamed).contains((2L, "b2", "delete", 4)))
    assert(canon(streamed).contains((2L, "b", "delete", 3)))
  }

  test("maxVersionsPerBatch=1: commit-aligned batches, each exactly that version's changes") {
    val t = GraftTable.create(spark, tmp("cdc_adm"), schema, key = Seq("id"), formatVersion = 2)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))                         // v1
    t.rowDelta(Seq(1L).toDF("id"), Seq((1L, "a2")).toDF("id", "v"), Seq("id")) // v2
    t.append(Seq((3L, "c")).toDF("id", "v"))                                    // v3
    val streamed = drain(t.dir, 0, Map("maxVersionsPerBatch" -> "1"))
    assert(canon(streamed) == canon(t.changesBetween(0, 3)))
    // every commit version appears — no batch boundary dropped rows
    assert(streamed.select("_commit_version").distinct().count() == 3)
  }

  test("changesTo past the current version clamps instead of planning nonexistent snapshots") {
    val t = GraftTable.create(spark, tmp("cdc_clamp"), schema, key = Seq("id"), formatVersion = 2)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))                         // v1
    t.rowDelta(Seq(1L).toDF("id"), Seq((1L, "a2")).toDF("id", "v"), Seq("id")) // v2
    // AvailableNow + a cap far past currentVersion: before the clamp this
    // crashed at analysis (schema pin read v99's snapshot file) and, had
    // it analyzed, latestOffset would have admitted uncommitted versions
    val streamed = drain(t.dir, 0,
      Map("changesTo" -> "99", "maxVersionsPerBatch" -> "1"))
    assert(canon(streamed) == canon(t.changesBetween(0, 2)))
    // the batch read clamps the same way
    assert(canon(spark.read.format("graft").option("changesFrom", 0)
      .option("changesTo", 99).load(t.dir)) == canon(t.changesBetween(0, 2)))
  }

  test("changesFrom past the current version degrades to EMPTY, not a crash or wrong range") {
    // the clamp's symmetry check (VERDICT r11 item 7): a FROM bound in
    // the future is semantically "changes after v" where nothing after v
    // exists yet — both paths must deliver zero rows. A continuous tail
    // started there would legitimately wait for v+1; AvailableNow drains
    // immediately with nothing, and the batch read's (from, clamped-to]
    // range is empty by construction.
    val t = GraftTable.create(spark, tmp("cdc_fromfut"), schema, key = Seq("id"), formatVersion = 2)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))                         // v1
    t.rowDelta(Seq(1L).toDF("id"), Seq((1L, "a2")).toDF("id", "v"), Seq("id")) // v2
    val streamed = drain(t.dir, 99)
    assert(streamed.count() == 0,
      s"future changesFrom must stream nothing, got ${canon(streamed)}")
    assert(spark.read.format("graft").option("changesFrom", 99)
      .load(t.dir).count() == 0, "future changesFrom must batch-read empty")
    // and exactly AT the current version: also empty (nothing after v2)
    assert(drain(t.dir, 2).count() == 0)
    assert(spark.read.format("graft").option("changesFrom", 2)
      .load(t.dir).count() == 0)
  }

  test("changesFrom resumes mid-history; checkpoint restart delivers only new commits") {
    val t = GraftTable.create(spark, tmp("cdc_resume"), schema, key = Seq("id"), formatVersion = 2)
    t.append(Seq((1L, "a")).toDF("id", "v"))                                    // v1
    t.rowDelta(Seq(1L).toDF("id"), Seq((1L, "a2")).toDF("id", "v"), Seq("id")) // v2
    assert(canon(drain(t.dir, 1)) == canon(t.changesBetween(1, 2)))
    // checkpointed run into a durable (parquet) sink, then new commits,
    // then restart from the SAME checkpoint: the second drain must
    // deliver exactly the new range (the memory sink cannot recover a
    // checkpoint, so the durable-sink shape is also what this pins)
    val cp = tmp("cdc_cp")
    val out = tmp("cdc_sink")
    def run(): Unit = {
      val q = spark.readStream.format("graft").option("changesFrom", 0).load(t.dir)
        .writeStream.format("parquet").option("path", out)
        .outputMode("append").option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally if (q.isActive) q.stop()
    }
    run()
    assert(spark.read.parquet(out).count() == t.changesBetween(0, 2).count())
    t.append(Seq((9L, "z")).toDF("id", "v"))                                    // v3
    run()
    val afterRestart = spark.read.parquet(out)
    // the sink accumulates: total = first drain + only v3's single insert
    assert(afterRestart.count() == t.changesBetween(0, 2).count() + 1)
    assert(canon(afterRestart.filter($"_commit_version" === 3)) ==
      Seq((9L, "z", "insert", 3)))
  }

  test("position-delete pre-images stream with full row content") {
    val t = GraftTable.create(spark, tmp("cdc_pos"), schema, formatVersion = 2)
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")) // v1
    t.deleteWherePositional(col("id") % 2 === 1)                   // v2: kills 1, 3
    val streamed = drain(t.dir, 0)
    assert(canon(streamed) == canon(t.changesBetween(0, 2)))
    assert(canon(streamed).filter(_._3 == "delete") ==
      Seq((1L, "a", "delete", 2), (3L, "c", "delete", 2)))
  }

  test("schema evolution: a column added after the parent stamps NULL pre-images") {
    val t = GraftTable.create(spark, tmp("cdc_ddl"), schema, key = Seq("id"), formatVersion = 2)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))                          // v1
    t.addColumn("w", StringType)                                                 // v2
    t.rowDelta(Seq(1L).toDF("id"),
      Seq((1L, "a2", "w1")).toDF("id", "v", "w"), Seq("id"))                     // v3
    val streamed = drain(t.dir, 0)
    assert(canon(streamed) == canon(t.changesBetween(0, 3)))
    val del = streamed.filter($"_change_type" === "delete")
      .select($"id", $"v", $"w").as[(Long, String, Option[String])].collect().toSeq
    assert(del == Seq((1L, "a", None)), "pre-image of a pre-DDL row must NULL the added column")
  }

  test("crossing an overwrite commit fails loudly (at plan or run time)") {
    val t = GraftTable.create(spark, tmp("cdc_ovr"), schema)
    t.append(Seq((1L, "a")).toDF("id", "v"))     // v1
    t.overwrite(Seq((9L, "z")).toDF("id", "v"))  // v2
    // the failure may surface at schema resolution (the changelog table
    // builds its batch frame, whose range already crosses the overwrite)
    // or — for an overwrite committed mid-stream — from the micro-batch
    // planner; both paths carry the same message
    val e = intercept[Exception] { drain(t.dir, 0) }
    def msgs(x: Throwable): Seq[String] =
      if (x == null) Nil else Option(x.getMessage).toSeq ++ msgs(x.getCause)
    assert(msgs(e).exists(_.contains("overwrite")), s"unexpected: $e")
  }

  test("an overwrite committed MID-STREAM fails the running query, not just planning") {
    val t = GraftTable.create(spark, tmp("cdc_ovr2"), schema)
    t.append(Seq((1L, "a")).toDF("id", "v"))     // v1
    // stream starts legal (range (0,1]), then the table overwrites; the
    // stream object itself must refuse to cross v2 on its next batch
    val stream = new graft.catalog.GraftChangelogMicroBatchStream(
      t, t.snapshot, 0, None)
    val p1 = stream.planInputPartitions(
      graft.catalog.GraftOffset(0), graft.catalog.GraftOffset(1))
    assert(p1.nonEmpty)
    t.overwrite(Seq((9L, "z")).toDF("id", "v"))  // v2
    val e = intercept[IllegalArgumentException] {
      stream.planInputPartitions(
        graft.catalog.GraftOffset(1), graft.catalog.GraftOffset(2))
    }
    assert(e.getMessage.contains("overwrite"))
  }

  test("incremental MV law: the maintained aggregate is invariant under the batch split") {
    import org.apache.spark.sql.types.DecimalType
    // same base evolution folded two ways — one commit per micro-batch
    // vs one catch-up batch — must land the MV on identical rows, and
    // both must equal the full recompute of the final base state
    def run(split: Boolean): (Seq[(String, Long, BigDecimal)], GraftTable, String) = {
      val dec = DecimalType(28, 2)
      val s = StructType(Seq(StructField("id", LongType),
        StructField("seg", StringType),
        StructField("bal", DecimalType(18, 2))))
      val base = GraftTable.create(spark, tmp("mvl_base"), s, key = Seq("id"), formatVersion = 2)
      val rows = Seq((1L, "A", BigDecimal("10.00")), (2L, "B", BigDecimal("20.00")),
        (3L, "A", BigDecimal("30.00")), (4L, "B", BigDecimal("40.00")),
        (5L, "C", BigDecimal("50.00")), (6L, "C", BigDecimal("60.00")))
        .toDF("id", "seg", "bal").select($"id", $"seg", $"bal".cast(DecimalType(18, 2)).as("bal"))
      base.append(rows.filter($"id" <= 2 || $"id" === 5))                       // v1
      val mvDir = tmp("mvl_mv")
      val mv0 = base.toDF.groupBy($"seg")
        .agg(count(lit(1)).as("n"), sum($"bal").cast(dec).as("total"))
      GraftTable.create(spark, mvDir, mv0.schema, key = Seq("seg"), formatVersion = 2)
        .append(mv0)
      // v2's group-A slice is ONE all-NULL-balance row: its delta sums to
      // NULL, which must fold as 0 (count it, add nothing — the
      // recompute's SUM semantics) instead of nulling group A's
      // accumulated total for every later batch to reset — regression
      // cover for the NULL-delta fold bug
      base.append(rows.filter($"id" === 4).unionByName(
        Seq((9L, "A")).toDF("id", "seg")
          .withColumn("bal", lit(null).cast(DecimalType(18, 2)))))               // v2
      base.rowDelta(Seq(1L).toDF("id"),
        Seq((1L, "A", BigDecimal("110.00"))).toDF("id", "seg", "bal")
          .select($"id", $"seg", $"bal".cast(DecimalType(18, 2)).as("bal")),
        Seq("id"))                                                               // v3
      // v4 drains groups B and C to ZERO — the tombstone path: under BOTH
      // splits the fold must retire the keys entirely (absent, not n=0)
      base.rowDelta(Seq(2L, 4L, 5L).toDF("id"), rows.limit(0), Seq("id"))        // v4
      // v5 REVIVES C — insert after tombstone must re-enter from zero via
      // the left_outer fold (split mode: a fresh key; catch-up mode: C's
      // net delta never drains — both must land n=1/total=60.00)
      base.append(rows.filter($"id" === 6))                                      // v5
      var r = spark.readStream.format("graft").option("changesFrom", 1)
      if (split) r = r.option("maxVersionsPerBatch", 1)
      val q = r.load(base.dir).writeStream
        .foreachBatch { (b: DataFrame, batchId: Long) =>
          graft.streaming.StreamOps.applyMvDeltas(b, mvDir, "seg", "bal", "mv-law", batchId)
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally if (q.isActive) q.stop()
      val got = GraftTable.load(spark, mvDir).toDF.orderBy("seg")
        .as[(String, Long, BigDecimal)].collect().toSeq
      (got, base, mvDir)
    }
    val (split, base, mvDir) = run(split = true)
    val (whole, _, _) = run(split = false)
    assert(split == whole, "MV diverged under a different batch split")
    val recompute = base.toDF.groupBy($"seg")
      .agg(count(lit(1)).as("n"), sum($"bal").cast(DecimalType(28, 2)).as("total"))
      .orderBy("seg").as[(String, Long, BigDecimal)].collect().toSeq
    assert(split == recompute, "maintained MV diverged from the full recompute")
    // the drained group is PHYSICALLY absent from the maintained MV —
    // same as the recompute's GROUP BY, which never sees a B row
    assert(!split.exists(_._1 == "B"), s"drained group B left a husk: $split")
    assert(split.exists(_._1 == "A"), "group A must survive the drain")
    // revive-after-tombstone: C drained at v4, re-entered at v5
    assert(split.find(_._1 == "C").exists(c =>
      c._2 == 1L && c._3 == BigDecimal("60.00")), s"revived group C wrong: $split")
    // EXACTLY-ONCE: a post-crash replay of an already-committed batch
    // (same consumerId + batchId, recomputed stale fold) must no-op via
    // the MV table's epoch ledger — deltas can never double-apply
    val applied = graft.streaming.StreamOps.applyMvDeltas(
      base.changesBetween(1, 2), mvDir, "seg", "bal", "mv-law", 0L)
    assert(!applied, "replayed batch must be rejected by the epoch ledger")
    val after = GraftTable.load(spark, mvDir).toDF.orderBy("seg")
      .as[(String, Long, BigDecimal)].collect().toSeq
    assert(after == split, "replay mutated the MV — exactly-once broken")
  }

  test("pre-image planning prunes untouched parent dirs (stats sidecar) and names exact files (positional)") {
    import graft.catalog.{GraftChangelogPartition, GraftOffset}
    // equality deletes: two disjoint-range dirs, stats sidecar on id;
    // an upsert touching only dir B's range must not plan dir A's files
    val t = GraftTable.create(spark, tmp("cdc_prune"), schema, key = Seq("id"), formatVersion = 2)
    t.setStatsKeys(Seq("id"))                                              // v1
    t.append((1L to 10L).map(i => (i, s"a$i")).toDF("id", "v"))            // v2: dir A
    t.append((100L to 110L).map(i => (i, s"b$i")).toDF("id", "v"))         // v3: dir B
    t.rowDelta(Seq(105L).toDF("id"),
      Seq((105L, "b105x")).toDF("id", "v"), Seq("id"))                     // v4: upsert in B
    val dirA = t.snapshotAt(2).dataDirs.head.path
    val dirB = t.snapshotAt(3).dataDirs.filter(_.version == 3).head.path
    val stream = new graft.catalog.GraftChangelogMicroBatchStream(t, t.snapshot, 0, None)
    val parts = stream.planInputPartitions(GraftOffset(3), GraftOffset(4))
      .collect { case GraftChangelogPartition(p: graft.catalog.GraftFilePartition, fid) =>
        (fid, p.files.map(_.path).toSeq) }
    // factory 0 = v4's insert dir; factory 1 = the delete's pre-image scan
    val preFiles = parts.filter(_._1 == 1).flatMap(_._2)
    assert(preFiles.nonEmpty, "the delete must plan pre-image partitions")
    assert(!preFiles.exists(_.contains(dirA)),
      s"pre-image scan planned untouched dir A ($dirA) despite the stats sidecar")
    assert(preFiles.forall(_.contains(dirB)), "pre-images must come from dir B")
    // and the pruned plan still delivers the exact changelog
    assert(canon(drain(t.dir, 0)) == canon(t.changesBetween(0, 4)))

    // position deletes: the delete names its victim files outright
    val p = GraftTable.create(spark, tmp("cdc_prune_pos"), schema, formatVersion = 2)
    p.append((1L to 10L).map(i => (i, s"a$i")).toDF("id", "v"))            // v1: dir A
    p.append((100L to 110L).map(i => (i, s"b$i")).toDF("id", "v"))         // v2: dir B
    p.deleteWherePositional(col("id") === 105L)                             // v3
    val pDirA = p.snapshotAt(1).dataDirs.head.path
    val pStream = new graft.catalog.GraftChangelogMicroBatchStream(p, p.snapshot, 0, None)
    val pParts = pStream.planInputPartitions(GraftOffset(2), GraftOffset(3))
      .collect { case GraftChangelogPartition(fp: graft.catalog.GraftFilePartition, fid) =>
        (fid, fp.files.map(_.path).toSeq) }
    val pPre = pParts.filter(_._1 == 0).flatMap(_._2) // v3 commits no data dir: factory 0 is the delete
    assert(pPre.nonEmpty && !pPre.exists(_.contains(pDirA)),
      "positional pre-image scan must plan only the victim files")
    assert(canon(drain(p.dir, 0)) == canon(p.changesBetween(0, 3)))
  }

  test("fuzz: random commit histories — the drained tail equals changesBetween under any batch split") {
    // seeded randomized law check over mixed histories: appends, keyed
    // MoR upserts, position deletes, and metadata DDL (add/rename/drop)
    // interleave; the streamed changelog must equal the batch diff under
    // whatever admission split the trial draws. This is the CDC twin of
    // the table-model fuzz — it exercises parent alignment by physical
    // identity (renames), NULL stamping (adds), pinned-schema projection
    // (drops), and multi-delete batches the handwritten cases don't.
    val rnd = new scala.util.Random(20260815L)
    for (trial <- 1 to 5) {
      val t = GraftTable.create(spark, tmp(s"cdc_fuzz$trial"),
        StructType(Seq(StructField("id", LongType), StructField("v", StringType),
          StructField("w", StringType))),
        key = Seq("id"), formatVersion = 2)
      var maxId = 0L
      var cols = Vector("v", "w") // mutable view of the non-key columns
      def someRows(n: Int): DataFrame = {
        val rows = (1 to n).map { _ => maxId += 1; maxId }
        val base = rows.toDF("id")
        cols.foldLeft(base)((d, c) => d.withColumn(c,
          concat(lit(s"$c-"), col("id"))))
      }
      t.append(someRows(8)) // v1: never-empty base
      val nOps = 4 + rnd.nextInt(4)
      (1 to nOps).foreach { _ =>
        rnd.nextInt(6) match {
          case 0 | 1 => t.append(someRows(1 + rnd.nextInt(5)))
          case 2 => // keyed upsert of a random live slice
            val m = 2 + rnd.nextInt(3)
            val hit = (1L to maxId).filter(_ % m == 0)
            if (hit.nonEmpty) {
              val upd = cols.foldLeft(hit.toDF("id"))((d, c) =>
                d.withColumn(c, concat(lit(s"$c+"), col("id"))))
              t.rowDelta(hit.toDF("id"), upd, Seq("id"))
            }
          case 3 => // position delete of a random residue class
            val m = 3 + rnd.nextInt(3)
            t.deleteWherePositional(col("id") % m === (m - 1))
          case 4 => // rename a non-key column (physical identity must hold)
            val i = rnd.nextInt(cols.length)
            val nn = s"${cols(i)}r${rnd.nextInt(100)}"
            t.renameColumn(cols(i), nn)
            cols = cols.updated(i, nn)
          case 5 =>
            if (cols.length > 1 && rnd.nextBoolean()) { // drop one
              val i = rnd.nextInt(cols.length)
              t.dropColumn(cols(i)); cols = cols.patch(i, Nil, 1)
            } else { // add one (typed NULLs for pre-DDL rows)
              val nn = s"x${rnd.nextInt(100)}"
              if (!cols.contains(nn)) { t.addColumn(nn, StringType); cols = cols :+ nn }
            }
        }
      }
      val split = rnd.nextInt(3) match {
        case 0 => Map("maxVersionsPerBatch" -> "1")
        case 1 => Map("maxVersionsPerBatch" -> "2")
        case _ => Map.empty[String, String]
      }
      val streamed = drain(t.dir, 0, split)
      val batch = t.changesBetween(0, t.currentVersion)
      val key = ("id" +: cols.sorted :+ "_change_type" :+ "_commit_version").map(col)
      val s = streamed.select(key: _*).orderBy(key: _*).collect().toSeq
      val b = batch.select(key: _*).orderBy(key: _*).collect().toSeq
      assert(s == b, s"trial $trial (split=$split, ${t.currentVersion} commits): " +
        s"streamed ${s.length} rows vs batch ${b.length}")
    }
  }

  test("NULL delete keys: pre-images match the reader's null-safe semantics in BOTH paths") {
    // rowDelta key sets on nullable non-key columns are legal; the
    // reader-side delete filter and the view path treat NULL keys as
    // EQUAL (<=>, the Iceberg equality-delete contract) — the changelog
    // pre-image join and the stream keep-filter must agree, or a CDC
    // consumer silently misses the NULL-keyed row's deletion
    val t = GraftTable.create(spark, tmp("cdc_nullkey"),
      StructType(Seq(StructField("id", LongType), StructField("tag", StringType))),
      formatVersion = 2)
    t.append(Seq((1L, "a"), (2L, null.asInstanceOf[String]), (3L, "c"))
      .toDF("id", "tag"))                                                     // v1
    t.rowDelta(
      Seq(null.asInstanceOf[String], "c").toDF("tag"),
      Seq((9L, "z")).toDF("id", "tag"), Seq("tag"))                           // v2
    // live state agrees with the reader: rows 2 (NULL tag) and 3 died
    assert(t.toDF.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 9L))
    val batch = t.changesBetween(0, 2)
    val deletes = batch.filter($"_change_type" === "delete")
      .select($"id").as[Long].collect().sorted.toSeq
    assert(deletes == Seq(2L, 3L),
      "the NULL-keyed pre-image must appear in the batch changelog")
    val streamed = drain(t.dir, 0)
    assert(canon2(streamed) == canon2(batch), "stream/batch parity with NULL keys")
  }

  private def canon2(df: DataFrame): Seq[(Long, Option[String], String, Int)] =
    df.select($"id", $"tag", $"_change_type", $"_commit_version")
      .orderBy("_commit_version", "_change_type", "id")
      .as[(Long, Option[String], String, Int)].collect().toSeq

  test("maxVersionsPerBatch <= 0 fails loudly instead of silently stalling") {
    val t = GraftTable.create(spark, tmp("cdc_zero"), schema)
    t.append(Seq((1L, "a")).toDF("id", "v"))
    val e = intercept[Exception] {
      drain(t.dir, 0, Map("maxVersionsPerBatch" -> "0"))
    }
    def msgs(x: Throwable): Seq[String] =
      if (x == null) Nil else Option(x.getMessage).toSeq ++ msgs(x.getCause)
    assert(msgs(e).exists(_.contains("maxVersionsPerBatch")), s"unexpected: $e")
  }

  test("skipRewriteCommits: the tail survives layout maintenance and skips its no-op commit") {
    // a long-running CDC tail must not restart at every small-file
    // compaction: `rewrite` commits are row-preserving by construction,
    // so with the option they are admitted and contribute nothing
    val t = GraftTable.create(spark, tmp("cdc_rw"), schema, key = Seq("id"), formatVersion = 2)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))                         // v1
    t.append(Seq((3L, "c")).toDF("id", "v"))                                     // v2
    t.rewriteSmallDirs()                                                         // v3: rewrite
    assert(t.snapshotAt(3).op == "rewrite", "fixture must really commit a rewrite")
    t.append(Seq((4L, "d")).toDF("id", "v"))                                     // v4
    t.rowDelta(Seq(1L).toDF("id"), Seq((1L, "a2")).toDF("id", "v"), Seq("id"))  // v5
    // without the option: loud failure at the rewrite
    val e = intercept[Exception] { drain(t.dir, 0) }
    def msgs(x: Throwable): Seq[String] =
      if (x == null) Nil else Option(x.getMessage).toSeq ++ msgs(x.getCause)
    assert(msgs(e).exists(_.contains("rewrite")), s"unexpected: $e")
    // with it: the full logical changelog, the rewrite contributing no rows
    val streamed = drain(t.dir, 0, Map("skipRewriteCommits" -> "true"))
    val expected = canon(t.changesBetween(0, 2)) ++ canon(t.changesBetween(3, 5))
    assert(canon(streamed) == expected.sortBy(r => (r._4, r._3, r._1)))
    assert(!canon(streamed).exists(_._4 == 3), "the rewrite commit must contribute nothing")
    // pre-images taken against a post-rewrite parent still carry the
    // correct row content (the rewrite preserved rows)
    assert(canon(streamed).contains((1L, "a", "delete", 5)))
  }

  test("stream_ingest_dedup: stage-0 docs all admit; later stages reject against the grown index") {
    val dir = "/root/testdata/sf0.001"
    val admitted = graft.streaming.StreamOps.streamIngestDedupQuery(spark, dir)
      .select($"doc_id", $"arrived_at").as[(Long, Int)].collect().toSeq
    val total = graft.ops.Tables.documents(spark, dir).count()
    assert(admitted.nonEmpty && admitted.length < total,
      "the staged ingestion must reject SOME near-dups on the dup-saturated fixture")
    assert(admitted.map(_._1).distinct.length == admitted.length)
    // the first batch probes an EMPTY index: every stage-0 doc admits
    val stage0Total = graft.ops.Tables.documents(spark, dir)
      .filter($"doc_id" % 3 === 0).count()
    assert(admitted.count(_._2 == 0) == stage0Total,
      "stage-0 docs must all admit (the index is empty when they arrive)")
    // later stages really lost docs to the index
    assert(admitted.count(_._2 != 0) <
      total - stage0Total, "stages 1-2 must reject at least one near-dup")
  }

  test("changesTo caps the stream: later commits are not delivered") {
    val t = GraftTable.create(spark, tmp("cdc_cap"), schema)
    t.append(Seq((1L, "a")).toDF("id", "v"))  // v1
    t.append(Seq((2L, "b")).toDF("id", "v"))  // v2
    t.append(Seq((3L, "c")).toDF("id", "v"))  // v3
    val streamed = drain(t.dir, 0, Map("changesTo" -> "2"))
    assert(canon(streamed) == canon(t.changesBetween(0, 2)))
  }
}
