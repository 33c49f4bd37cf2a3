package graftbench

import java.security.MessageDigest
import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession

import graft.table.GraftTable

/** Where a run keeps its data: every table lives under `warehouse`, which
  * the catalog is registered on; anything else (the dedup corpus, the
  * plain-Parquet baselines) lives elsewhere under `root`. */
final case class Ctx(spark: SparkSession, root: String) {
  val warehouse: String = s"$root/wh"
  val namespace = "bench"
  def tableDir(name: String): String = s"$warehouse/$namespace/$name"
  def sqlName(name: String): String = s"graft.$namespace.$name"
}

/** A check run after an op's timed region: None when the op's output was
  * right, otherwise what was wrong. */
object Check {
  type Thunk = () => Option[String]
  val ok: Thunk = () => None
  def expect(what: String, got: Any, want: Any): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")
}

/** One benchmark workload. The run calls, in order:
  *  1. [[generate]] with the total number of cycles — every input and every
  *     expected answer is made here, from the seed, before anything is timed;
  *  2. [[setup]] several times, each into a fresh directory (the last one is
  *     the one the cycles run on);
  *  3. [[prepare]] once, untimed;
  *  4. per cycle, [[op]] for each kind in [[kinds]] in order, then [[shape]].
  */
trait Workload {
  def kinds: Seq[String]
  /** Cycles run before the measured window (fixed, so every run of a seed
    * does the same work). */
  def warmCycles: Int
  /** Approximate seconds of one warm cycle on a 4-core machine; the
    * measured window runs ceil(seconds / nominalCycleS) whole cycles. */
  def nominalCycleS: Double

  /** The workload's only source of inputs. */
  def gen: Gen
  def generate(cycles: Int): Unit
  def digest: String = gen.digest
  def setup(rep: Int): Unit
  def prepare(): Unit = ()
  /** Runs one op and returns its check. */
  def op(kind: String, cycle: Int): Check.Thunk
  /** The table's shape after a cycle; must be the same after every cycle. */
  def shape(cycle: Int): Map[String, Long]
  /** The table the cycles run on (set up by [[setup]]). */
  protected def table: GraftTable
  /** Data files live in the table right now (the denominator of the
    * pruning yield); untimed. */
  def liveDataFiles(): Long = Orders.liveDataFiles(table)
  /** Log version of the table right now; untimed. */
  def logVersion(): Long = Orders.logVersion(table.dir)
  /** Per-op figures the last check produced (name -> value). */
  def takeNotes(): Map[String, Double] = Map.empty
  /** End-of-run checks: (name, passed, detail). */
  def finalChecks(): Seq[(String, Boolean, String)]
  /** Workload-specific figures for the report: (name, value, unit).
    * `tableBytesWritten` is what the measured ops wrote under the table root. */
  def extras(measured: Seq[Int], tableBytesWritten: Long): Seq[(String, Double, String)]
}

/** Seeded input generator. Inputs come only from here; once [[seal]] is
  * called (when the first op starts) any further draw throws, so no input
  * can be made inside a timed region. Every value drawn or emitted is fed
  * to a SHA-256 digest of the workload's inputs. */
final class Gen(seed: Long) {
  private val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 0x632BE59BD9B4E019L)
  private val md = MessageDigest.getInstance("SHA-256")
  private var sealed_ = false

  private def live(): Unit =
    if (sealed_) throw new IllegalStateException("input generated inside the timed region")
  def seal(): Unit = sealed_ = true

  def int(bound: Int): Int = { live(); rnd.nextInt(bound) }
  def long(lo: Long, hi: Long): Long = { live(); rnd.nextLong(lo, hi) }
  /** Records a generated input or expected answer in the digest. */
  def note(v: Any): Unit = { live(); md.update((v.toString + "\n").getBytes("UTF-8")) }
  def digest: String = md.clone().asInstanceOf[MessageDigest].digest().map("%02x".format(_)).mkString
}

object Workload {
  def apply(name: String, ctx: Ctx, seed: Long): Workload = name match {
    case "cdc_merge" => new CdcMerge(ctx, seed)
    case "sql_read" => new SqlRead(ctx, seed)
    case "dedup_batch" => new DedupBatch(ctx, seed)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
  val names: Seq[String] = Seq("cdc_merge", "sql_read", "dedup_batch")
}
