package graftbench

import java.nio.file.{Files, Path => JPath, Paths}
import java.util.{ArrayList => JList}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ext.TextOps
import graft.table.{GraftTable, PartitionField}

/** One row of the keyed `orders` table the two SQL workloads use. */
final case class Rec(id: Long, ts: Long, status: String, price: Long) {
  def row: Row = Row(id, ts, status, price)
}

/** The keyed format-v2 (merge-on-read) table `cdc_merge` and `sql_read`
  * share, and the untimed probes of its on-disk state. */
object Orders {
  val schema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("ts", LongType),
    StructField("status", StringType), StructField("price", LongType)))
  val statuses: Array[String] = Array("new", "paid", "shipped", "closed", "returned")
  val buckets = 8
  val cols = "id, ts, status, price"

  def create(ctx: Ctx, name: String): GraftTable =
    GraftTable.create(ctx.spark, ctx.tableDir(name), schema,
      spec = Seq(PartitionField("id", "bucket", buckets)), key = Seq("id"), formatVersion = 2)

  def rec(g: Gen, id: Long, ts: Long): Rec =
    Rec(id, ts, statuses(g.int(statuses.length)), g.long(100L, 100000L))

  def rows(recs: Iterable[Rec]): JList[Row] = new JList[Row](recs.map(_.row).asJavaCollection)

  def df(ctx: Ctx, rows: JList[Row]): DataFrame = ctx.spark.createDataFrame(rows, schema)

  def asRec(r: Row): Rec = Rec(r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))

  private def logFiles(dir: String): Seq[JPath] = {
    val s = Files.list(Paths.get(dir, "_graft_log"))
    try s.iterator().asScala.filter(_.getFileName.toString.matches("v\\d+\\.json")).toList
    finally s.close()
  }

  /** Newest log version, read from the log's file names. */
  def logVersion(dir: String): Long =
    logFiles(dir).map(_.getFileName.toString.drop(1).dropRight(5).toLong).max

  /** Log entries that expiry has not replaced with an `expired` marker. */
  def retainedEntries(dir: String): Long =
    logFiles(dir).count(p => !expired.findFirstIn(new String(Files.readAllBytes(p), "UTF-8"))
      .isDefined).toLong
  private val expired = "\"op\"\\s*:\\s*\"expired\"".r

  def parquetFiles(dir: String): Long = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet")).toLong
    finally s.close()
  }

  def liveDataFiles(t: GraftTable): Long =
    t.snapshot.dataDirs.map(d => parquetFiles(s"${t.dir}/${d.path}")).sum

  def treeBytes(dir: String): Long = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  /** Bytes of `rows` written once as one plain Parquet file. */
  def plainParquetBytes(ctx: Ctx, rows: JList[Row], name: String): Long = {
    val out = s"${ctx.root}/plain/$name"
    ctx.spark.createDataFrame(rows, schema).coalesce(1).write.parquet(out)
    val s = Files.walk(Paths.get(out))
    try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
      .map(Files.size).sum
    finally s.close()
  }
}

/** CDC write path on one keyed MoR table with spec bucket(id). Live keys
  * are always one contiguous range of `baseRows` ids: each cycle appends
  * and merge-inserts new ids at the top and deletes as many at the bottom,
  * then compacts and expires, so every cycle ends in the same shape. */
final class CdcMerge(ctx: Ctx, seed: Long) extends Workload {
  import CdcMerge.In
  import Orders._
  val baseRows = 50000
  val appendRows = 1000
  val mergeUpdates = 1000 // half of them carry late (older) timestamps
  val mergeInserts = 500
  val rangeWidth = 2000
  val keepLast = 3

  val kinds: Seq[String] = Seq("append", "merge", "delete", "read", "maintain")
  val warmCycles = 2
  val nominalCycleS = 3.0

  val gen = new Gen(seed)
  private var base: JList[Row] = _
  private var ins: IndexedSeq[In] = IndexedSeq.empty
  private var model: Map[Long, Rec] = Map.empty
  private var name: String = _
  protected var table: GraftTable = _

  def generate(cycles: Int): Unit = {
    val m = mutable.HashMap[Long, Rec]()
    (0L until baseRows).foreach(id => m(id) = rec(gen, id, 0L))
    base = rows((0L until baseRows).map(m))
    var lo = 0L
    var hi = baseRows.toLong
    ins = (0 until cycles).map { c =>
      val ts = (c + 1) * 10L
      val appended = (hi until hi + appendRows).map(id => rec(gen, id, ts))
      appended.foreach(r => m(r.id) = r)
      // updates avoid the range this cycle deletes, so each is observable
      val picked = mutable.LinkedHashSet[Long]()
      while (picked.size < mergeUpdates)
        picked += gen.long(lo + appendRows + mergeInserts, hi)
      val updates = picked.toSeq.zipWithIndex.map { case (id, i) =>
        rec(gen, id, if (i % 2 == 0) ts + 5 else -1L) }
      val inserted = (hi + appendRows until hi + appendRows + mergeInserts)
        .map(id => rec(gen, id, ts + 5))
      // WHEN MATCHED AND s.ts > t.ts: late rows leave the target as it is
      updates.foreach(u => if (u.ts > m(u.id).ts) m(u.id) = u)
      inserted.foreach(r => m(r.id) = r)
      val delLo = lo
      val delHi = lo + appendRows + mergeInserts
      (delLo until delHi).foreach(m.remove)
      lo = delHi
      hi += appendRows + mergeInserts
      val point = gen.long(lo, hi)
      val rangeLo = gen.long(lo, hi - rangeWidth)
      val range = (rangeLo until rangeLo + rangeWidth).map(m)
      In(rows(appended), rows(updates ++ inserted), delLo, delHi, point, m(point),
        rangeLo, rangeLo + rangeWidth - 1,
        (range.size.toLong, range.map(_.price).sum, range.map(_.ts).max))
    }
    model = m.toMap
    base.asScala.foreach(gen.note)
    ins.foreach { i =>
      i.append.asScala.foreach(gen.note); i.merge.asScala.foreach(gen.note)
      gen.note((i.delLo, i.delHi, i.point, i.pointWant, i.rangeLo, i.rangeHi, i.rangeWant))
    }
  }

  def setup(rep: Int): Unit = {
    name = s"cdc_r$rep"
    table = create(ctx, name)
    table.append(df(ctx, base))
  }

  override def prepare(): Unit =
    ins.indices.foreach(c => df(ctx, ins(c).merge).createOrReplaceTempView(s"cdc_src_$c"))

  def op(kind: String, c: Int): Check.Thunk = {
    val in = ins(c)
    val t = ctx.sqlName(name)
    kind match {
      case "append" =>
        Trace.call("table", "GraftTable.append")(table.append(df(ctx, in.append)))
        Check.ok
      case "merge" =>
        Trace.sqlExec(ctx.spark,
          s"""MERGE INTO $t t USING cdc_src_$c s ON t.id = s.id
             |WHEN MATCHED AND s.ts > t.ts THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        Check.ok
      case "delete" =>
        Trace.sqlExec(ctx.spark, s"DELETE FROM $t WHERE id >= ${in.delLo} AND id < ${in.delHi}")
        Check.ok
      case "read" =>
        val point = Trace.sqlRows(ctx.spark, s"SELECT $cols FROM $t WHERE id = ${in.point}")
        val range = Trace.sqlRows(ctx.spark,
          s"SELECT count(*), sum(price), max(ts) FROM $t " +
            s"WHERE id BETWEEN ${in.rangeLo} AND ${in.rangeHi}")
        () => Check.expect("point read", point.map(asRec).toSeq, Seq(in.pointWant))
          .orElse(Check.expect("range read",
            range.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq, Seq(in.rangeWant)))
      case "maintain" =>
        Trace.call("table", "GraftTable.compact")(table.compact())
        Trace.call("table", "GraftTable.expireSnapshots")(table.expireSnapshots(keepLast))
        Check.ok
    }
  }

  def shape(cycle: Int): Map[String, Long] = {
    val s = table.snapshot
    Map("rows" -> s.dataDirs.map(_.rowCount).sum, "data_dirs" -> s.dataDirs.size.toLong,
      "delete_files" -> s.deletes.size.toLong,
      "retained_log_entries" -> retainedEntries(table.dir))
  }

  def finalChecks(): Seq[(String, Boolean, String)] = {
    val got = ctx.spark.sql(s"SELECT $cols FROM ${ctx.sqlName(name)}").collect().map(asRec)
    val gotMap = got.map(r => r.id -> r).toMap
    val same = got.length == model.size && gotMap == model
    Seq(("final table equals replayed model", same,
      s"${got.length} rows read, ${model.size} in the model"))
  }

  def extras(measured: Seq[Int], tableBytesWritten: Long): Seq[(String, Double, String)] = {
    val submitted = new JList[Row]()
    measured.foreach { c => submitted.addAll(ins(c).append); submitted.addAll(ins(c).merge) }
    val submittedBytes = plainParquetBytes(ctx, submitted, "submitted")
    val liveBytes = plainParquetBytes(ctx, rows(model.values.toSeq.sortBy(_.id)), "live")
    Seq(("write_amp", tableBytesWritten.toDouble / submittedBytes, "ratio"),
      ("space_amp", treeBytes(table.dir).toDouble / liveBytes, "ratio"))
  }
}

object CdcMerge {
  /** One cycle's inputs and expected answers. */
  final case class In(append: JList[Row], merge: JList[Row], delLo: Long, delHi: Long,
                      point: Long, pointWant: Rec,
                      rangeLo: Long, rangeHi: Long, rangeWant: (Long, Long, Long))
}

/** Read-only SQL over a MoR table with a fixed history of uncompacted
  * merge-on-read upserts (built through `GraftTable.rowDelta`). */
final class SqlRead(ctx: Ctx, seed: Long) extends Workload {
  import Orders._
  import SqlRead._
  val baseRows = 20000
  val commits = 8
  val updatesPerCommit = 200
  val deletesPerCommit = 50
  val insertsPerCommit = 50
  val rangeWidth = 2000
  /** The version `asof` reads: the base load, outside the recent tail. */
  val asofVersion = 1

  val kinds: Seq[String] = Seq("lookup", "scan", "asof")
  val warmCycles = 1
  val nominalCycleS = 3.5

  val gen = new Gen(seed)
  private var base: JList[Row] = _
  private var deltas: IndexedSeq[Delta] = IndexedSeq.empty
  private var ins: IndexedSeq[In] = IndexedSeq.empty
  private var scanWant: Map[String, (Long, Long)] = Map.empty
  private var model: Map[Long, Rec] = Map.empty
  private var name: String = _
  protected var table: GraftTable = _
  private val keySchema = StructType(Seq(StructField("id", LongType)))

  def generate(cycles: Int): Unit = {
    val baseRecs = (0L until baseRows).map(id => rec(gen, id, 0L))
    base = rows(baseRecs)
    val m = mutable.HashMap[Long, Rec]()
    baseRecs.foreach(r => m(r.id) = r)
    val live = mutable.ArrayBuffer[Long]() ++= (0L until baseRows)
    val deleted = mutable.ArrayBuffer[Long]()
    var next = baseRows.toLong
    deltas = (0 until commits).map { h =>
      val ts = h + 1L
      val touched = (0 until updatesPerCommit + deletesPerCommit).map { _ =>
        val i = gen.int(live.size)
        val id = live(i)
        live(i) = live.last
        live.remove(live.size - 1)
        id
      }
      val (upd, del) = touched.splitAt(updatesPerCommit)
      val updated = upd.map(id => rec(gen, id, ts))
      val inserted = (next until next + insertsPerCommit).map(id => rec(gen, id, ts))
      next += insertsPerCommit
      del.foreach(m.remove)
      deleted ++= del
      (updated ++ inserted).foreach(r => m(r.id) = r)
      live ++= upd
      live ++= inserted.map(_.id)
      Delta(new JList[Row](touched.map(id => Row(id)).asJavaCollection), rows(updated ++ inserted))
    }
    model = m.toMap
    scanWant = model.values.groupBy(_.status).map { case (s, rs) =>
      s -> (rs.map(_.price).sum, rs.size.toLong) }
    val basePrice = baseRecs.map(_.price).toArray
    ins = (0 until cycles).map { c =>
      // every fourth lookup asks for a deleted key: the answer is no row
      val key = if (c % 4 == 3) deleted(gen.int(deleted.size)) else live(gen.int(live.size))
      val lo = gen.long(0L, baseRows - rangeWidth)
      In(key, model.get(key).toSeq, lo,
        (rangeWidth.toLong, basePrice.slice(lo.toInt, lo.toInt + rangeWidth).sum))
    }
    base.asScala.foreach(gen.note)
    deltas.foreach { d => d.deleteKeys.asScala.foreach(gen.note); d.rows.asScala.foreach(gen.note) }
    ins.foreach(gen.note)
    gen.note(scanWant.toSeq.sorted)
  }

  def setup(rep: Int): Unit = {
    name = s"read_r$rep"
    table = create(ctx, name)
    table.append(df(ctx, base))
    deltas.foreach(d => table.rowDelta(
      ctx.spark.createDataFrame(d.deleteKeys, keySchema), df(ctx, d.rows), Seq("id")))
  }

  def op(kind: String, c: Int): Check.Thunk = {
    val in = ins(c)
    val t = ctx.sqlName(name)
    kind match {
      case "lookup" =>
        val got = Trace.sqlRows(ctx.spark, s"SELECT $cols FROM $t WHERE id = ${in.lookup}")
        () => Check.expect("lookup", got.map(asRec).toSeq, in.lookupWant)
      case "scan" =>
        val got = Trace.sqlRows(ctx.spark,
          s"SELECT status, sum(price), count(*) FROM $t GROUP BY status")
        () => Check.expect("scan",
          got.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap, scanWant)
      case "asof" =>
        val got = Trace.sqlRows(ctx.spark,
          s"SELECT count(*), sum(price) FROM $t VERSION AS OF $asofVersion " +
            s"WHERE id BETWEEN ${in.asofLo} AND ${in.asofLo + rangeWidth - 1}")
        () => Check.expect("asof", got.map(r => (r.getLong(0), r.getLong(1))).toSeq,
          Seq(in.asofWant))
    }
  }

  def shape(cycle: Int): Map[String, Long] = {
    val s = table.snapshot
    Map("version" -> s.version.toLong, "data_dirs" -> s.dataDirs.size.toLong,
      "delete_files" -> s.deletes.size.toLong,
      "retained_log_entries" -> retainedEntries(table.dir))
  }

  def finalChecks(): Seq[(String, Boolean, String)] = {
    val got = ctx.spark.sql(s"SELECT $cols FROM ${ctx.sqlName(name)}").collect().map(asRec)
    val same = got.length == model.size && got.map(r => r.id -> r).toMap == model
    Seq(("table equals model", same, s"${got.length} rows read, ${model.size} in the model"))
  }

  def extras(measured: Seq[Int], tableBytesWritten: Long): Seq[(String, Double, String)] =
    Seq.empty
}

object SqlRead {
  /** One history commit: the keys it deletes and the rows it adds. */
  final case class Delta(deleteKeys: JList[Row], rows: JList[Row])
  /** One cycle's inputs and expected answers. */
  final case class In(lookup: Long, lookupWant: Seq[Rec], asofLo: Long, asofWant: (Long, Long))
}

/** Batch near-duplicate removal: each op is one pass over a fresh batch of
  * documents with planted near-duplicates (~8%) and exact duplicates
  * (~2%), appending the survivors to a graft table. */
final class DedupBatch(ctx: Ctx, seed: Long) extends Workload {
  val docsPerBatch = 8000
  val vocab = 20000
  val minTokens = 30
  val maxTokens = 60
  val nearDups: Int = docsPerBatch * 8 / 100
  val exactDups: Int = docsPerBatch * 2 / 100
  val originals: Int = docsPerBatch - nearDups - exactDups
  val recallFloor = 0.9

  val kinds: Seq[String] = Seq("pass")
  val warmCycles = 1
  val nominalCycleS = 4.0

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  val gen = new Gen(seed)
  private var batches: IndexedSeq[JList[Row]] = IndexedSeq.empty
  private var corpus: String = _
  protected var table: GraftTable = _
  private val notes = mutable.LinkedHashMap[String, Double]()
  private var found = 0L
  private var planted = 0L

  private def idOf(batch: Int, local: Int): Long = batch * 1000000L + local
  // local ids: originals, then one near copy of each of the first
  // `nearDups` originals, then one exact copy of each of the next `exactDups`
  private def nearOf(j: Int): Int = originals + j
  private def exactOf(j: Int): Int = originals + nearDups + j

  private def doc(): Array[Int] = {
    val n = minTokens + gen.int(maxTokens - minTokens + 1)
    val s = mutable.LinkedHashSet[Int]()
    while (s.size < n) s += gen.int(vocab)
    s.toArray
  }

  /** 1 or 2 tokens replaced by tokens not in the doc: Jaccard >= 28/32. */
  private def near(d: Array[Int]): Array[Int] = {
    val out = d.clone()
    val present = mutable.HashSet[Int]() ++= d
    (0 until 1 + gen.int(2)).foreach { _ =>
      var t = gen.int(vocab)
      while (present(t)) t = gen.int(vocab)
      present += t
      out(gen.int(out.length)) = t
    }
    out
  }

  def generate(cycles: Int): Unit = {
    batches = (0 until cycles).map { b =>
      val origs = Array.fill(originals)(doc())
      val all = origs ++ (0 until nearDups).map(j => near(origs(j))) ++
        (0 until exactDups).map(j => origs(nearDups + j))
      val rows = new JList[Row](docsPerBatch)
      all.zipWithIndex.foreach { case (toks, i) =>
        val r = Row(idOf(b, i), toks.map(t => s"w$t").mkString(" "))
        gen.note(r)
        rows.add(r)
      }
      rows
    }
  }

  private def batchDir(b: Int): String = s"$corpus/b$b"

  def setup(rep: Int): Unit = {
    corpus = s"${ctx.root}/corpus_r$rep"
    batches.indices.foreach(b => ctx.spark.createDataFrame(batches(b), docSchema)
      .write.parquet(s"${batchDir(b)}/documents.parquet"))
    table = GraftTable.create(ctx.spark, ctx.tableDir(s"dedup_r$rep"), docSchema)
  }

  def op(kind: String, b: Int): Check.Thunk = {
    val spark = ctx.spark
    val dir = batchDir(b)
    val pairs = Trace.call("ext", "TextOps.dedupMinhashLsh")(TextOps.dedupMinhashLsh(spark, dir))
    val comps = Trace.call("ext", "TextOps.connectedComponents")(
      TextOps.connectedComponents(pairs, "a_id", "b_id"))
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // one document per exact text, then one per near-duplicate cluster
    val firstOfText = docs.groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
    val clustered = comps.filter(col("node") =!= col("cluster")).select(col("node").as("doc_id"))
    val survivors = docs.join(firstOfText.select("doc_id"), Seq("doc_id"), "left_semi")
      .join(clustered, Seq("doc_id"), "left_anti")
    Trace.call("table", "GraftTable.append")(table.append(survivors))
    () => check(b, pairs, comps)
  }

  private def check(b: Int, pairs: DataFrame, comps: DataFrame): Option[String] = {
    val got = pairs.select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plantedPairs = (0 until nearDups).map(j => (idOf(b, j), idOf(b, nearOf(j)))).toSet
    val hit = (got intersect plantedPairs).size
    found += hit
    planted += plantedPairs.size
    notes("ext.candidate_pairs") = got.size.toDouble
    notes("ext.precision") = if (got.isEmpty) 1.0 else hit.toDouble / got.size
    val recall = hit.toDouble / plantedPairs.size
    val nonRoots = comps.filter(col("node") =!= col("cluster")).select("node").collect()
      .map(_.getLong(0)).toSet
    val exact = (0 until exactDups).map(j => idOf(b, exactOf(j))).toSet
    val want = (0 until docsPerBatch).map(idOf(b, _)).toSet -- exact -- nonRoots
    val path = table.snapshot.dataDirs.last.path
    val kept = ctx.spark.read.parquet(s"${table.dir}/$path").select("doc_id").collect()
      .map(_.getLong(0))
    if (recall < recallFloor) Some(f"recall $recall%.4f below the floor $recallFloor")
    else if (kept.exists(exact)) Some("a planted exact duplicate survived")
    else Check.expect("survivors", kept.toSet, want)
      .orElse(Check.expect("survivor count", kept.length, want.size))
  }

  override def takeNotes(): Map[String, Double] = { val n = notes.toMap; notes.clear(); n }

  def shape(cycle: Int): Map[String, Long] = {
    val s = table.snapshot
    // one data dir per pass so far
    Map("dirs_beyond_passes" -> (s.dataDirs.size - (cycle + 1)).toLong,
      "delete_files" -> s.deletes.size.toLong)
  }

  def finalChecks(): Seq[(String, Boolean, String)] = {
    val recall = found.toDouble / planted
    Seq((f"recall >= $recallFloor", recall >= recallFloor, f"$found of $planted planted pairs"))
  }

  def extras(measured: Seq[Int], tableBytesWritten: Long): Seq[(String, Double, String)] =
    Seq(("recall", found.toDouble / planted, "ratio"))
}
