package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins Bench.committedRecord's PARSER INVARIANT against the REAL
  * committed artifact: the adaptive-rep reference requires the
  * bench_full.json "queries" object to stay FLAT (name:number pairs) —
  * a shape change (nesting rep lists or io columns inside it) silently
  * disables adaptive reps and outlier attribution rather than failing.
  * This spec parses `git show HEAD:bench_full.json` through the exact
  * production code path and fails loudly if the extraction collapses. */
class BenchRecordSpec extends AnyFunSuite {

  /** The committed record's (sf, threads) key. */
  private def committed: (String, String) = {
    val txt =
      try scala.sys.process.Process(
        Seq("git", "show", "HEAD:bench_full.json"), new java.io.File(".")).!!
      catch { case _: Throwable => "" }
    assume(txt.nonEmpty, "no committed bench_full.json / git unavailable")
    def field(name: String) =
      s"\"$name\":\"([^\"]+)\"".r.findFirstMatchIn(txt).map(_.group(1))
    val sf = field("sf")
    assume(sf.isDefined, "committed record carries no sf field")
    val threads = field("threads")
    assume(threads.isDefined, "committed record carries no env.threads field")
    (sf.get, threads.get)
  }

  test("committedRecord parses the committed bench_full.json (flat-queries invariant)") {
    val (sf, threads) = committed
    val rec = Bench.committedRecord(sf, threads)
    assert(rec.size >= 150,
      s"parser extracted only ${rec.size} per-query records — the flat " +
        "\"queries\" shape (Bench.scala committedRecord) is broken and " +
        "adaptive reps are silently disabled")
    assert(rec.values.forall(v => v > 0 && v < 10000),
      "nonsensical per-query seconds — parser matched the wrong segment")
    // the sf gate: a record minted at another SF must yield NO reference
    // (local small-SF iteration must never chase sf0.1 numbers)
    assert(Bench.committedRecord("/nonexistent/sf9.9", threads).isEmpty)
  }

  test("a record minted at another thread count is no reference") {
    val (sf, threads) = committed
    val other = (threads.toInt + 1).toString
    assert(Bench.committedRecord(sf, other).isEmpty,
      s"a $threads-thread record must not be the reference of a $other-thread run")
  }
}
