package graft.table

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.CyclicBarrier
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** [[LogStore.publish]] on `file:`: a no-overwrite hard link of a fully
  * written temp, so racing publishers of one slot get exactly one winner
  * and the slot never holds a mix or a loser's bytes. */
class LogStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session

  test("two threads publishing one slot: exactly one wins, with its own bytes, and no temp remains") {
    (1 to 20).foreach { round =>
      val dir = TestSpark.tmpDir(s"logstore-race-$round")
      val log = LogStore(spark, dir)
      val bodies = Seq("a", "b").map(w => s"""{"writer":"$w","pad":"${w * 4096}"}""")
      val barrier = new CyclicBarrier(2)
      val won = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
      val threads = bodies.map { body =>
        new Thread(() => {
          barrier.await()
          won.put(body, log.publish("v00001.json", body.getBytes(UTF_8)))
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      val winners = bodies.filter(b => won.get(b))
      assert(winners.size == 1, s"round $round: winners=${winners.map(_.take(14))}")
      val logDir = Paths.get(dir, "_graft_log")
      assert(new String(Files.readAllBytes(logDir.resolve("v00001.json")), UTF_8) == winners.head)
      val temps = logDir.resolve("_tmp").toFile.list()
      assert(temps == null || temps.isEmpty, s"round $round: temps left: ${temps.mkString(", ")}")
    }
  }
}
