package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.dml.{InsertAllClause, UpdateAllClause}
import graft.table.GraftTable

/** Holds the first evaluation of a MERGE source until the test thread
  * has committed; later evaluations pass straight through. */
object MergeSourceGate {
  @volatile var started = new CountDownLatch(1)
  @volatile var release = new CountDownLatch(1)
  private val first = new AtomicBoolean(false)

  def arm(): Unit = {
    started = new CountDownLatch(1); release = new CountDownLatch(1); first.set(false)
  }
  def pass(id: Long): Long = {
    if (first.compareAndSet(false, true)) {
      started.countDown()
      release.await(120, TimeUnit.SECONDS)
    }
    id
  }
}

/** A copy-on-write MERGE, DELETE or UPDATE builds its replacement from one
  * snapshot and guards its commit on that same snapshot, so an append
  * that commits while the statement's Spark jobs run (here: during the
  * MERGE's cardinality check) is kept — the statement retries against the
  * new version instead of replacing the table with rows that predate it. */
class MergeLostUpdateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session
  import spark.implicits._

  private val schema = StructType(Seq(StructField("id", LongType), StructField("v", StringType)))

  test("an append committed during a merge's source evaluation survives the merge") {
    val dir = TestSpark.tmpDir("merge-lost-update")
    val t = GraftTable.create(spark, dir, schema)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    MergeSourceGate.arm()
    val gate = udf((id: Long) => MergeSourceGate.pass(id)).asNondeterministic()
    val source = Seq((2L, "B"), (3L, "C")).toDF("id", "v").select(gate(col("id")).as("id"), col("v"))
    val merge = Future {
      GraftTable.load(spark, dir).merge(source, Seq("id"),
        matched = Seq(UpdateAllClause()), notMatched = Seq(InsertAllClause()))
    }
    assert(MergeSourceGate.started.await(120, TimeUnit.SECONDS), "merge never evaluated its source")
    // the concurrent writer: new keys the merge never saw
    GraftTable.load(spark, dir).append(Seq((10L, "x"), (11L, "y")).toDF("id", "v"))
    MergeSourceGate.release.countDown()
    Await.result(merge, 300.seconds)
    val got = GraftTable.load(spark, dir).toDF.as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, "a"), (2L, "B"), (3L, "C"), (10L, "x"), (11L, "y")),
      s"the concurrent append was lost: $got")
  }
}
