package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.catalog.{GraftCatalog, GraftSparkSessionExtensions}

/** Runs one workload and writes its raw record (setup times, one record per
  * op, cycle shapes, checks, environment, spans) as JSON to `--out`.
  * `graftbench/run.py` builds this program, runs it and turns the record
  * into metrics.
  *
  * {{{
  *   Main --workload cdc_merge --seed 1 --seconds 10 --trace 0 --root DIR --out FILE
  *   Main --workload cdc_merge --seed 1 --seconds 10 --digest      (inputs only, no Spark)
  * }}}
  */
object Main {
  val setupReps = 3

  private final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                                root: String, out: String, digestOnly: Boolean)

  private def parse(args: Array[String]): Args = {
    val kv = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    val digestOnly = args.contains("--digest")
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      kv.get("--trace").contains("1"),
      if (digestOnly) "" else need("--root"), if (digestOnly) "" else need("--out"), digestOnly)
  }

  /** Measured cycles for a run of `seconds`: fixed by the arguments alone,
    * so two runs of one seed do exactly the same work. */
  def measuredCycles(w: Workload, seconds: Double): Int =
    math.max(2, math.ceil(seconds / w.nominalCycleS).toInt)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    if (a.digestOnly) {
      val w = Workload(a.workload, Ctx(null, ""), a.seed)
      w.generate(w.warmCycles + measuredCycles(w, a.seconds))
      w.gen.seal()
      val refused = try { w.gen.int(2); false } catch { case _: IllegalStateException => true }
      println(Json.write(Map("workload" -> a.workload, "seed" -> a.seed, "digest" -> w.digest,
        "draw_after_seal_refused" -> refused)))
    } else run(a)
  }

  private def session(root: String, threads: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("graftbench")
      .withExtensions(new GraftSparkSessionExtensions)
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/spark-warehouse")
      // keep Spark's status store small, so heap_mb measures the engine
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "10")
      // the counting filesystem, installed at build time like the engine's own
      .config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[CountingAfs].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def processCpuMs(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6

  /** The aggregate `cpu` line of /proc/stat (clock ticks), if readable. */
  private def procStat(): Seq[Long] =
    try {
      val line = scala.io.Source.fromFile("/proc/stat").getLines().next()
      line.trim.split("\\s+").drop(1).map(_.toLong).toSeq
    } catch { case _: Exception => Seq.empty }

  private def run(a: Args): Unit = {
    val threads = math.min(4, Runtime.getRuntime.availableProcessors)
    Files.createDirectories(Paths.get(a.root))
    Io.tableRoot = Paths.get(a.root, "wh").toAbsolutePath.toString
    val spark = session(a.root, threads)
    val ctx = Ctx(spark, Paths.get(a.root).toAbsolutePath.toString)
    GraftCatalog.register(spark, ctx.warehouse)
    if (a.trace) Trace.install(spark)
    val w = Workload(a.workload, ctx, a.seed)
    val measured = measuredCycles(w, a.seconds)
    val cycles = w.warmCycles + measured

    // every input and expected answer exists before the first timed region
    w.generate(cycles)
    w.gen.seal()

    val setupS = (0 until setupReps).map { rep =>
      val t0 = System.nanoTime()
      w.setup(rep)
      (System.nanoTime() - t0) / 1e9
    }
    w.prepare()

    val ops = mutable.ArrayBuffer[Map[String, Any]]()
    val shapes = mutable.ArrayBuffer[Map[String, Any]]()
    var startShape = w.shape(-1).toSeq.sorted.mkString(",")
    var statStart = Seq.empty[Long]
    var opId = 0
    for (c <- 0 until cycles) {
      val warm = c < w.warmCycles
      if (c == w.warmCycles) statStart = procStat()
      // traced runs trace every other measured cycle; the untraced ones
      // between them give the tracing overhead
      val traced = a.trace && !warm && (c - w.warmCycles) % 2 == 1
      w.kinds.zipWithIndex.foreach { case (kind, pos) =>
        ops += runOp(spark, w, opId, c, pos, kind, warm, traced, startShape)
        opId += 1
      }
      val shape = w.shape(c)
      shapes += Map("cycle" -> c, "shape" -> shape)
      startShape = shape.toSeq.sorted.mkString(",")
    }
    val statEnd = procStat()

    // heap after the run's garbage is gone: deliver pending listener events
    // (the status store trims itself on them), then collect twice
    Trace.drain(spark.sparkContext)
    System.gc(); Thread.sleep(200); System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val measuredIdx = (w.warmCycles until cycles)
    val tableWritten = ops.filter(o => o("warm") == false)
      .map(_("io").asInstanceOf[Map[String, Long]]("table.bytes_written")).sum
    val checks = w.finalChecks()
    val extras = w.extras(measuredIdx, tableWritten)
    val spans = mutable.ArrayBuffer[Map[String, Any]]()
    Trace.spans.forEach(s => spans += Map("op" -> s.op, "layer" -> s.layer, "name" -> s.name,
      "start" -> s.start, "end" -> s.end))

    val rec = Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "digest" -> w.digest, "kinds" -> w.kinds,
      "warm_cycles" -> w.warmCycles, "measured_cycles" -> measured,
      "setup_s" -> setupS, "heap_mb" -> heapMb,
      "ops" -> ops, "shapes" -> shapes,
      "checks" -> checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "extras" -> extras.map { case (n, v, u) => Map("name" -> n, "value" -> v, "unit" -> u) },
      "proc_stat" -> Map("start" -> statStart, "end" -> statEnd),
      "env" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "spark_master" -> spark.sparkContext.master,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "java" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
        "spark" -> spark.version,
        "scala" -> scala.util.Properties.versionNumberString),
      "spans" -> spans)
    Files.write(Paths.get(a.out), Json.write(rec).getBytes("UTF-8"))
    spark.stop()
  }

  private def runOp(spark: SparkSession, w: Workload, id: Int, cycle: Int, pos: Int,
                    kind: String, warm: Boolean, traced: Boolean,
                    startShape: String): Map[String, Any] = {
    val sc = spark.sparkContext
    var liveFiles = 0L
    var version0 = 0L
    if (traced) {
      liveFiles = w.liveDataFiles()
      version0 = w.logVersion()
      Trace.drain(sc)
      Trace.calls.clear()
      Trace.op = id
    }
    val io0 = Io.snapshot()
    val tr0 = Trace.snapshot()
    val cpu0 = processCpuMs()
    val t0 = Clock.nowMs
    val result: Either[Throwable, Check.Thunk] =
      try Right(w.op(kind, cycle)) catch { case e: Throwable => Left(e) }
    val t1 = Clock.nowMs
    val cpu1 = processCpuMs()
    val io1 = Io.snapshot()
    var extra = Map.empty[String, Any]
    if (traced) {
      Trace.drain(sc)
      Trace.op = -1
      Trace.span(id, "op", kind, t0, t1)
      val tr1 = Trace.snapshot()
      extra = Map(
        "trace" -> Trace.names.indices.map(i => Trace.names(i) -> (tr1(i) - tr0(i))).toMap,
        "calls" -> Trace.calls.toMap,
        "commits" -> (w.logVersion() - version0),
        "live_data_files" -> liveFiles)
    }
    val error: Option[String] = result match {
      case Left(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
      case Right(check) =>
        try check() catch { case e: Throwable => Some(s"check failed: $e".take(500)) }
    }
    Map("id" -> id, "cycle" -> cycle, "pos" -> pos, "kind" -> kind, "warm" -> warm,
      "traced" -> traced, "start_shape" -> startShape,
      "start" -> t0, "wall_ms" -> (t1 - t0), "cpu_ms" -> (cpu1 - cpu0),
      "ok" -> error.isEmpty, "error" -> error.orNull,
      "io" -> Io.names.indices.map(i => Io.names(i) -> (io1(i) - io0(i))).toMap,
      "notes" -> w.takeNotes()) ++ extra
  }
}

/** Minimal JSON encoder for the run record. */
object Json {
  def write(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb += '"'
      s.foreach {
        case '"' => sb ++= "\\\""
        case '\\' => sb ++= "\\\\"
        case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
        case c => sb += c
      }
      sb += '"'
    }
    def go(v: Any): Unit = v match {
      case null => sb ++= "null"
      case s: String => str(s)
      case b: Boolean => sb ++= b.toString
      case d: Double => sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
      case n: Int => sb ++= n.toString
      case n: Long => sb ++= n.toString
      case m: scala.collection.Map[_, _] =>
        sb += '{'
        m.zipWithIndex.foreach { case ((k, x), i) =>
          if (i > 0) sb += ','
          str(k.toString); sb += ':'; go(x)
        }
        sb += '}'
      case xs: Iterable[_] =>
        sb += '['
        xs.zipWithIndex.foreach { case (x, i) => if (i > 0) sb += ','; go(x) }
        sb += ']'
      case other => str(other.toString)
    }
    go(v)
    sb.toString
  }
}
