package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.topology.{Toml, Topology}

/** The benchmark harness. Runs one workload's TOML topology in-process
  * through the calls `graft.Main` makes (`Toml.parse`,
  * `Topology.configFromToml`, `Topology.compile`, `Compiled.run()`,
  * `Streaming.start`) on a session built the way `graft.Main` builds it,
  * checks every run's output, and writes one JSON result.
  *
  *   perfbench.Harness --workload W --seed N --seconds S --trace 0|1
  *       --data DIR --work DIR --result FILE
  *   perfbench.Harness --gen-only --workload W --seed N --data DIR
  *   perfbench.Harness --selftest --workload W --seed N --data DIR --work DIR
  */
object Harness {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, work: String, result: Option[String], genOnly: Boolean,
      selftest: Boolean) {
    def traceFile: String = s"$work/trace-$workload-$seed.json"
  }

  def parseArgs(a: List[String], acc: Map[String, String] = Map.empty): Map[String, String] =
    a match {
      case Nil => acc
      case ("--gen-only" | "--selftest") :: rest => parseArgs(rest, acc + (a.head -> "1"))
      case k :: v :: rest if k.startsWith("--") => parseArgs(rest, acc + (k -> v))
      case other => throw new IllegalArgumentException(s"bad arguments: $other")
    }

  val nproc: Int = Runtime.getRuntime.availableProcessors()

  /** The session exactly as `graft.Main` builds it (master local[nproc]). */
  def newSession(): SparkSession = {
    val s = graft.core.Graft.configure(
      SparkSession.builder().appName("graft perfbench").master(s"local[$nproc]"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    new graft.metrics.StatsDumper().attach(s)
    s
  }

  def main(argv: Array[String]): Unit = {
    val m = parseArgs(argv.toList)
    val args = Args(m("--workload"), m.getOrElse("--seed", "1").toLong,
      m.getOrElse("--seconds", "10").toDouble, m.getOrElse("--trace", "0") == "1",
      m("--data"), m.getOrElse("--work", m("--data") + "/../work"), m.get("--result"),
      m.contains("--gen-only"), m.contains("--selftest"))
    val code =
      try run(args)
      catch {
        case t: Throwable =>
          t.printStackTrace()
          2
      }
    System.out.flush()
    // Spark's non-daemon threads must not keep a finished run alive
    Runtime.getRuntime.halt(code)
  }

  def run(a: Args): Int = {
    val dataDir = s"${a.data}/${a.workload}-${a.seed}"
    val t0 = System.nanoTime()
    ensureData(a.workload, dataDir, a.seed)
    val genS = Util.seconds(t0, System.nanoTime())
    if (a.genOnly) {
      println(s"generated $dataDir in ${"%.2f".format(genS)} s: sha256 ${Util.treeSha256(dataDir)}")
      return 0
    }
    val ctx0 = MachineContext.sample()
    val out = if (a.selftest) selftest(a, dataDir) else measure(a, dataDir)
    val ctx1 = MachineContext.sample()
    val record = out ++ Map("context" -> Map(
      "nproc" -> nproc, "load_before" -> ctx0.load, "load_after" -> ctx1.load,
      "calib_before_s" -> ctx0.calibS, "calib_after_s" -> ctx1.calibS,
      "data_gen_s" -> genS, "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace))
    val line = Util.json(record)
    a.result.foreach(Util.writeString(_, line + "\n"))
    println(line)
    if (out.get("correct").contains(true)) 0 else 1
  }

  /** Generate a workload's inputs once per seed. `_complete` holds the
    * generator's signature: an interrupted generation, or one made by a
    * generator with other parameters, is redone.
    */
  def ensureData(workload: String, dir: String, seed: Long): Unit = {
    val done = new java.io.File(dir, "_complete")
    val sig = workload match {
      case StreamIngest.name => StreamIngest.signature
      case w => batchWorkload(w).signature
    }
    if (done.isFile && Util.readString(done.getPath).trim == sig) return
    Util.freshDir(dir)
    workload match {
      case StreamIngest.name => StreamIngest.generate(dir, seed)
      case w => batchWorkload(w).generate(dir, seed)
    }
    Util.writeString(done.getPath, sig + "\n")
  }

  def batchWorkload(name: String): BatchWorkload =
    Workloads.batch.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"unknown workload '$name' (known: " +
        (Workloads.batch.map(_.name) :+ StreamIngest.name).mkString(", ") + ")"))

  /** Session set-ups: the JVM's first (cold, class loading included) and
    * then [[WarmSetups]] more, each after stopping the previous session.
    * Returns the last session (left open), the median of the warm set-ups,
    * and every set-up time with the cold one first.
    */
  def setupSessions(): (SparkSession, Double, Seq[Double]) = {
    val times = mutable.ArrayBuffer.empty[Double]
    var s: SparkSession = null
    for (_ <- 0 to WarmSetups) {
      if (s != null) s.stop()
      val (ns, dt) = Util.time(newSession())
      s = ns
      times += dt
    }
    (s, Util.median(times.tail.toSeq), times.toSeq)
  }

  val WarmSetups = 6

  def measure(a: Args, dataDir: String): Map[String, Any] = {
    val (spark, setupS, setups) = setupSessions()
    try {
      if (a.workload == StreamIngest.name)
        StreamIngest.measure(spark, a, dataDir, setupS)
      else {
        val w = batchWorkload(a.workload)
        if (a.trace) BatchTrace.measure(spark, w, a, dataDir)
        else batchMeasure(spark, w, a, dataDir, setupS, setups)
      }
    } finally spark.stop()
  }

  final case class RunOutcome(wallS: Double, check: Option[Check], error: Option[String]) {
    def ok: Boolean = error.isEmpty && check.exists(_.ok)
  }

  /** parse → compile → run the full TOML once, inside `tracer`'s spans
    * when tracing; the check is not timed.
    */
  def runOnce(spark: SparkSession, w: BatchWorkload, dataDir: String, out: String,
      tracer: Option[Tracer] = None): RunOutcome = {
    def span[A](name: String)(body: => A): A = Tracer.span(tracer, name)(body)
    Util.freshDir(out)
    val t0 = System.nanoTime()
    try {
      span("iteration") {
        val cfg = span("topology.parse")(Topology.configFromToml(Toml.parse(w.toml(dataDir, out))))
        val compiled = span("topology.compile") {
          Topology.compile(spark, cfg, graft.streaming.Streaming.componentsWithStreaming)
        }
        span("topology.run")(compiled.run())
      }
      val wall = Util.seconds(t0, System.nanoTime())
      val c = try w.check(dataDir, out) catch {
        case e: Exception => Check(ok = false, s"check threw $e", 0)
      }
      RunOutcome(wall, Some(c), None)
    } catch {
      case e: Exception =>
        RunOutcome(Util.seconds(t0, System.nanoTime()), None, Some(e.toString))
    }
  }

  def batchMeasure(spark: SparkSession, w: BatchWorkload, a: Args, dataDir: String,
      setupS: Double, setups: Seq[Double]): Map[String, Any] = {
    val out = s"${a.work}/out"
    val first = runOnce(spark, w, dataDir, out)
    val runs = mutable.ArrayBuffer(first)
    runs ++= warmUp(spark, w, dataDir, out, a.seconds)
    val steady = mutable.ArrayBuffer.empty[RunOutcome]
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    while ((steady.size < 3 || System.nanoTime() < deadline) && steady.size < 500) {
      val r = runOnce(spark, w, dataDir, out)
      runs += r
      steady += r
    }
    batchResult(w, runs.toSeq, first, steady.toSeq, setupS, setups)
  }

  /** Untimed runs after the first, for [[WarmUpShare]] of the window (at
    * least three): the JIT and the engine's caches settle before the
    * steady runs start. They are checked and count as attempted.
    */
  def warmUp(spark: SparkSession, w: BatchWorkload, dataDir: String, out: String,
      seconds: Double): Seq[RunOutcome] = {
    val runs = mutable.ArrayBuffer.empty[RunOutcome]
    val deadline = System.nanoTime() + (seconds * WarmUpShare * 1e9).toLong
    while (runs.size < 3 || System.nanoTime() < deadline) runs += runOnce(spark, w, dataDir, out)
    runs.toSeq
  }

  val WarmUpShare = 1.0

  def batchResult(w: BatchWorkload, runs: Seq[RunOutcome], first: RunOutcome,
      steady: Seq[RunOutcome], setupS: Double, setups: Seq[Double]): Map[String, Any] = {
    val good = steady.filter(_.ok).map(_.wallS)
    val failed = runs.count(!_.ok)
    val metrics = Map(
      "setup_s" -> metric(setupS, "s"),
      "first_run_s" -> metric(if (first.ok) first.wallS else Double.NaN, "s"),
      "records_per_s" -> metric(w.records / Util.median(good), "1/s"),
      "latency_p50_s" -> metric(Util.quantile(good, 0.5), "s"),
      "latency_p90_s" -> metric(Util.quantile(good, 0.9), "s"),
      "sustained_rps" -> metric(if (good.isEmpty) Double.NaN
        else good.size * w.records / steady.filter(_.ok).map(_.wallS).sum, "1/s"))
    Map("correct" -> (failed == 0), "attempted" -> runs.size, "failed" -> failed,
      "metrics" -> metrics,
      "detail" -> Map("setups_s" -> setups, "warm_up_runs" -> (runs.size - steady.size - 1),
        "first_run_s" -> first.wallS,
        "steady_s" -> steady.map(_.wallS),
        "checks" -> runs.map(r => r.error.getOrElse(r.check.map(_.detail).getOrElse(""))).distinct))
  }

  /** Peak use of every heap pool since JVM start, in MB. */
  def heapPeakMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1e6
  }

  def metric(v: Double, unit: String): Map[String, Any] = Map("value" -> v, "unit" -> unit)

  /** Run once, check, corrupt one output record, check again: the second
    * check must fail or the self-test fails.
    */
  def selftest(a: Args, dataDir: String): Map[String, Any] = {
    val spark = newSession()
    try {
      val out = s"${a.work}/selftest"
      val (clean, damaged) =
        if (a.workload == StreamIngest.name) StreamIngest.selftest(spark, a, dataDir, out)
        else {
          val w = batchWorkload(a.workload)
          val r = runOnce(spark, w, dataDir, out)
          val before = r.check.getOrElse(Check(ok = false, r.error.getOrElse("?"), 0))
          if (before.ok) w.corrupt(out)
          (before, if (before.ok) w.check(dataDir, out) else before)
        }
      val pass = clean.ok && !damaged.ok
      Map("correct" -> pass, "attempted" -> 2, "failed" -> (if (pass) 0 else 1),
        "metrics" -> Map.empty[String, Any],
        "detail" -> Map("clean" -> clean.detail, "corrupted" -> damaged.detail))
    } finally spark.stop()
  }
}

/** Machine context recorded next to every run's metrics. */
final case class MachineContext(load: Double, calibS: Double)
object MachineContext {
  /** Load average, and the wall time of a fixed single-thread loop. */
  def sample(): MachineContext = {
    val load = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    val dt = Util.seconds(t0, System.nanoTime())
    if (x == 42L) println("")
    MachineContext(load, dt)
  }
}
