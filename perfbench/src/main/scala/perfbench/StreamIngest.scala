package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.topology.{Toml, Topology}
import Harness.metric

/** A file-watch daemon (`SQS` input through `Streaming.start`) →
  * ClauseFilter + Hash → FileWriter, fed by a single-thread open-loop
  * generator that writes small CSV files on a fixed schedule.
  *
  * A run has a warm phase (files already queued when the daemon starts:
  * `first_run_s`), then one phase per offered rate in [[ratesFilesPerS]]:
  * a low warm-up rate, the nominal rate, and a rate far above capacity.
  * `latency_p50_s`/`latency_p90_s` are taken over the nominal phase's
  * files. A phase's committed rate is the records committed between its
  * first and last micro-batch commits over that time, so the overloaded
  * phase measures the daemon's drain rate: `records_per_s` is the highest
  * committed rate. `sustained_rps` is the rate the generator actually
  * offered (records over the span of its write times) in the highest
  * phase whose backlog did not grow and whose p90 latency stayed under
  * [[latencyLimitS]].
  */
object StreamIngest {
  val name = "stream_ingest"
  val recordsPerFile = 50
  val warmFiles = 16
  /** Offered rates, files per second: warm-up, nominal, overload. */
  val ratesFilesPerS: Seq[Double] = Seq(5.0, 10.0, 80.0)
  val nominalPhase = 1
  /** Share of `--seconds` each phase offers files for; each phase then
    * waits until its files are committed.
    */
  val phaseShare: Seq[Double] = Seq(1.0, 0.6, 0.3)
  val latencyLimitS = 5.0
  val triggerMs = 100L
  val maxFilesPerTrigger = 16
  val fields = Seq("id", "ts", "kind", "user", "value", "user_hash")
  val kinds = Seq("view", "click", "bid", "win", "drop")
  def signature: String = s"$name recordsPerFile=$recordsPerFile files=${plannedFiles(60)} v1"

  /** Files the run can need: the warm set plus every phase at its rate. */
  def plannedFiles(seconds: Double): Int =
    warmFiles + ratesFilesPerS.zip(phaseShare).map { case (r, s) =>
      math.ceil(r * s * seconds).toInt }.sum

  /** Generated inputs: enough numbered CSV files for a 60 s run. */
  def generate(dir: String, seed: Long): Unit = {
    val d = Paths.get(dir, "files")
    Files.createDirectories(d)
    val n = plannedFiles(60)
    Workloads.parallel(n, Harness.nproc) { f =>
      val r = Workloads.rng(seed, f, 4L)
      val body = (0 until recordsPerFile).map { i =>
        Seq(s"$f-$i", (1704067200L + r.nextInt(86400)).toString, kinds(r.nextInt(kinds.size)),
          s"u${r.nextInt(1000000)}", r.nextInt(10000).toString, "").mkString(",")
      }.mkString("", "\n", "\n")
      Files.write(d.resolve(f"$f%06d.csv"), body.getBytes(UTF_8))
    }
  }

  def toml(queue: String, out: String): String =
    s"""[fields]
       |names = [${fields.map(f => s""""$f"""").mkString(", ")}]
       |
       |[input]
       |name = "SQS"
       |  [input.config]
       |  QueuePath = "$queue"
       |  FilePattern = "*.csv"
       |  MaxFilesPerTrigger = $maxFilesPerTrigger
       |""".stripMargin +
      Workloads.filterBlock("ClauseFilter", "  Clause = \"(not (kind drop))\"\n") +
      Workloads.filterBlock("Hash", "  SrcField = \"user\"\n  DstField = \"user_hash\"\n" +
        "  Function = \"md5\"\n  Encoding = \"hex\"\n") +
      s"""
         |[output]
         |name = "FileWriter"
         |  [output.config]
         |  PathString = "$out/batch-{{.Rotation}}/part-{{.Index}}.log"
         |""".stripMargin

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  /** Expected output lines of input files [0, n): the chain restated. */
  def expected(dataDir: String, n: Int): Util.Digest =
    (0 until n).foldLeft(Util.Digest.empty) { (d, f) =>
      Util.readLines(new File(f"$dataDir/files/$f%06d.csv")).foldLeft(d) { (d2, l) =>
        val c = l.split(",", -1)
        if (c(2) == "drop") d2 else d2.add((c.take(5) :+ md5Hex(c(3))).mkString(","))
      }
    }

  def check(dataDir: String, out: String, placed: Int): Check = {
    val files = Workloads.outputFiles(out, ".log")
    val got = Util.digestFiles(files, 4)
    val want = expected(dataDir, placed)
    Check(got == want, s"lines ${got.count} (want ${want.count}), hash " +
      (if (got.sum == want.sum) "equal" else "differs"), got.count)
  }

  /** Commit time (nanoTime) of every input file: when the progress event
    * of micro-batch b arrives, b's output directory is read and each input
    * file whose records it holds is marked committed at that instant.
    */
  final class Progress(out: String) extends StreamingQueryListener {
    private val commitTime = mutable.Map.empty[Int, Long]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val now = System.nanoTime()
      val files = Workloads.outputFiles(s"$out/batch-${e.progress.batchId}", ".log")
        .flatMap(f => Util.readLines(f).map(l => l.substring(0, l.indexOf('-')).toInt)).toSet
      synchronized(files.foreach(f => commitTime.getOrElseUpdate(f, now)))
    }
    def committedFiles: Int = synchronized(commitTime.size)
    def committed: Map[Int, Long] = synchronized(commitTime.toMap)
  }

  final case class Placed(file: Int, phase: Int, scheduled: Long, written: Long)

  /** One daemon session: warm phase, then the rate phases (or none). */
  final class Session(spark: SparkSession, dataDir: String, work: String,
      tracer: Option[Tracer]) {
    val queue: String = Util.freshDir(s"$work/queue")
    val out: String = Util.freshDir(s"$work/out")
    val ckpt: String = Util.freshDir(s"$work/ckpt")
    val progress = new Progress(out)
    val placed = mutable.ArrayBuffer.empty[Placed]
    var daemon: graft.streaming.Streaming.Daemon = _
    var parseS, compileS = 0.0
    var startSpan: Span = _

    private def place(f: Int, phase: Int, scheduled: Long): Unit = {
      val bytes = Files.readAllBytes(Paths.get(dataDir, "files", f"$f%06d.csv"))
      Util.writeAtomically(Paths.get(queue, f"$f%06d.csv"), bytes)
      placed += Placed(f, phase, scheduled, System.nanoTime())
    }

    /** Queue the warm files, compile and start; seconds to first commit. */
    def start(): Double = {
      spark.streams.addListener(progress)
      val t = System.nanoTime()
      for (f <- 0 until warmFiles) place(f, -1, t)
      val t0 = System.nanoTime()
      val cfg = Tracer.span(tracer, "topology.parse") {
        Topology.configFromToml(Toml.parse(toml(queue, out)))
      }
      val t1 = System.nanoTime()
      val compiled = Tracer.span(tracer, "topology.compile") {
        Topology.compile(spark, cfg, graft.streaming.Streaming.componentsWithStreaming)
      }
      val t2 = System.nanoTime()
      parseS = Util.seconds(t0, t1)
      compileS = Util.seconds(t1, t2)
      daemon = Tracer.span(tracer, "streaming.daemon") {
        startSpan = tracer.map(_.all.filter(_.kind == "harness").last).orNull
        graft.streaming.Streaming.start(compiled, ckpt, triggerMs)
      }
      if (!awaitCommitted(warmFiles, 60.0))
        throw new IllegalStateException("warm files never committed")
      Util.seconds(t0, System.nanoTime())
    }

    def awaitCommitted(files: Int, timeoutS: Double): Boolean = {
      val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
      while (progress.committedFiles < files && System.nanoTime() < deadline) {
        daemon.query.exception.foreach(e => throw e)
        Thread.sleep(5)
      }
      progress.committedFiles >= files
    }

    /** Offer `rate` files/s for `seconds` and wait for their commit:
      * (backlog in files at mid-phase, at the last file, phase seconds).
      */
    def phase(ix: Int, rate: Double, seconds: Double): (Int, Int, Double) = {
      val n = math.max(2, math.ceil(rate * seconds).toInt)
      val first = placed.size
      val t0 = System.nanoTime()
      var backlogMid = 0
      for (i <- 0 until n) {
        val due = t0 + (i / rate * 1e9).toLong
        val wait = due - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        place(first + i, ix, due)
        if (i == n / 2) backlogMid = placed.size - progress.committedFiles
      }
      val end = t0 + (n / rate * 1e9).toLong
      val wait = end - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
      val backlogEnd = placed.size - progress.committedFiles
      if (!awaitCommitted(placed.size, 60.0))
        throw new IllegalStateException(s"phase $ix: files never committed")
      (backlogMid, backlogEnd, Util.seconds(t0, System.nanoTime()))
    }

    def stop(): Unit = {
      try if (daemon != null) {
        daemon.processAllAvailable()
        daemon.stop()
      } finally spark.streams.removeListener(progress)
    }

    /** Latency (s) of every committed file: scheduled time → end of the
      * micro-batch that committed it.
      */
    def latencies(): Map[Int, Double] = {
      val done = progress.committed
      placed.flatMap(p => done.get(p.file).map(e => p.file -> (e - p.scheduled) / 1e9)).toMap
    }
  }

  def measure(spark: SparkSession, a: Harness.Args, dataDir: String, setupS: Double)
      : Map[String, Any] = {
    require(plannedFiles(a.seconds) <= plannedFiles(60), "--seconds above 60")
    val tracer = if (a.trace) Some(new Tracer(spark).attach()) else None
    val s = new Session(spark, dataDir, a.work, tracer)
    var error: Option[String] = None
    val phases = mutable.ArrayBuffer.empty[(Int, Int, Double)]
    var firstS = Double.NaN
    try {
      firstS = s.start()
      for (((rate, share), ix) <- ratesFilesPerS.zip(phaseShare).zipWithIndex) {
        phases += s.phase(ix, rate, share * a.seconds)
      }
    } catch { case e: Exception => error = Some(e.toString) }
    finally {
      try s.stop() catch { case e: Exception => if (error.isEmpty) error = Some(e.toString) }
    }
    val check = if (error.isEmpty) Some(check0(dataDir, s)) else None
    val ok = error.isEmpty && check.exists(_.ok)
    val lat = s.latencies()
    def phaseLat(ix: Int): Seq[Double] =
      s.placed.filter(_.phase == ix).flatMap(p => lat.get(p.file)).toSeq
    // records committed per second between the phase's first and last
    // micro-batch commits (the first batch's own files excluded), so the
    // overloaded phase reads the daemon's drain rate
    val committed = s.progress.committed
    val committedRate = phases.indices.map { ix =>
      val ts = s.placed.filter(_.phase == ix).flatMap(p => committed.get(p.file))
      if (ts.isEmpty || ts.max == ts.min) Double.NaN
      else ts.count(_ > ts.min).toDouble * recordsPerFile / Util.seconds(ts.min, ts.max)
    }
    // the rate the open-loop generator actually offered: its files' records
    // over the span of their write times
    val offeredRate = phases.indices.map { ix =>
      val ws = s.placed.filter(_.phase == ix).map(_.written)
      if (ws.size < 2) Double.NaN
      else (ws.size - 1) * recordsPerFile / Util.seconds(ws.min, ws.max)
    }
    val passing = phases.indices.filter { ix =>
      val (mid, end, _) = phases(ix)
      end <= mid + maxFilesPerTrigger && Util.quantile(phaseLat(ix), 0.9) < latencyLimitS
    }
    val nominal = phaseLat(nominalPhase)
    val lateness = s.placed.filter(_.phase >= 0).map(p => (p.written - p.scheduled) / 1e9)
    val attempted = 1
    val failed = if (ok) 0 else 1
    val metrics: Map[String, Any] =
      if (a.trace) traceMetrics(spark, tracer.get, s, phases.toSeq,
        check.fold(0L)(_.records), failed, attempted)
      else Map(
        "setup_s" -> metric(setupS, "s"),
        "first_run_s" -> metric(if (ok) firstS else Double.NaN, "s"),
        "records_per_s" -> metric(if (ok && committedRate.nonEmpty) committedRate.max
          else Double.NaN, "1/s"),
        "latency_p50_s" -> metric(if (ok) Util.quantile(nominal, 0.5) else Double.NaN, "s"),
        "latency_p90_s" -> metric(if (ok) Util.quantile(nominal, 0.9) else Double.NaN, "s"),
        "sustained_rps" -> metric(if (ok && passing.nonEmpty) offeredRate(passing.max)
          else Double.NaN, "1/s"))
    tracer.foreach { t => t.detach(); Util.writeString(a.traceFile, t.toJson) }
    Map("correct" -> ok, "attempted" -> attempted, "failed" -> failed, "metrics" -> metrics,
      "detail" -> Map("error" -> error.getOrElse(""), "check" -> check.map(_.detail).getOrElse(""),
        "first_run_s" -> firstS,
        "phases" -> phases.indices.map { ix =>
          val (mid, end, dur) = phases(ix)
          Map("rate_files_per_s" -> ratesFilesPerS(ix), "backlog_mid" -> mid,
            "backlog_end" -> end, "seconds" -> dur, "committed_rps" -> committedRate(ix),
            "offered_rps" -> offeredRate(ix),
            "latency_p50_s" -> Util.quantile(phaseLat(ix), 0.5),
            "latency_p90_s" -> Util.quantile(phaseLat(ix), 0.9),
            "passing" -> passing.contains(ix))
        },
        "generator_late_p50_s" -> Util.quantile(lateness.toSeq, 0.5),
        "generator_late_max_s" -> (if (lateness.isEmpty) 0.0 else lateness.max)))
  }

  private def check0(dataDir: String, s: Session): Check = {
    val placedFiles = s.placed.map(_.file)
    require(placedFiles == placedFiles.indices, "files placed out of order")
    check(dataDir, s.out, placedFiles.size)
  }

  def traceMetrics(spark: SparkSession, t: Tracer, s: Session,
      phases: Seq[(Int, Int, Double)], outRecords: Long, failed: Int,
      attempted: Int): Map[String, Any] = {
    Tracer.drainListenerBus(spark)
    val batches = t.synchronized(t.batches.toList).filter(_("rows") > 0)
    def p50(k: String): Double = Util.median(batches.map(_(k)))
    val c = if (s.startSpan != null) t.counters(s.startSpan) else Map.empty[String, Double]
    val nb = math.max(1, batches.size).toDouble
    def per(k: String): Double = c.getOrElse(k, 0.0) / nb
    val batchWall = batches.map(_("batch_s")).sum
    val zeroBatch = Seq("topology.run_s", "topology.driver_idle_s", "topology.output.write_s",
      "topology.compile_jobs", "topology.output.files", "topology.output.mb",
      "topology.output.bytes_per_record", "sources.scan_s", "sources.input_mb",
      "sources.records_in", "operators.chain_s", "operators.kept_ratio", "llm.dedup_s",
      "llm.tokenize_pack_s", "llm.dedup_kept_ratio", "llm.tokens_out", "trace.overhead_ratio")
    val (outFiles, outBytes) = BatchTrace.outputStats(s.out)
    val inRecords = s.placed.size.toLong * recordsPerFile
    val values: Map[String, Double] = Map(
      "topology.parse_s" -> s.parseS,
      "topology.compile_s" -> s.compileS,
      "streaming.batches" -> batches.size.toDouble,
      "streaming.batch_s_p50" -> p50("batch_s"),
      "streaming.plan_s_p50" -> p50("plan_s"),
      "streaming.add_batch_s_p50" -> p50("add_batch_s"),
      "streaming.list_s_p50" -> p50("list_s"),
      "streaming.commit_s_p50" -> p50("commit_s"),
      "streaming.backlog_files_end" -> phases.lift(nominalPhase).fold(0.0)(_._2.toDouble),
      "spark.jobs" -> per("jobs"),
      "spark.stages" -> per("stages"),
      "spark.tasks" -> per("tasks"),
      "spark.task_wait_s" -> per("task_wait_s"),
      "spark.task_cpu_s" -> per("task_cpu_s"),
      "spark.task_run_s" -> per("task_run_s"),
      "spark.gc_s" -> per("gc_s"),
      "spark.core_util" -> (if (batchWall > 0) c.getOrElse("task_run_s", 0.0) /
        (batchWall * Harness.nproc) else 0.0),
      "spark.shuffle_write_mb" -> per("shuffle_write_mb"),
      "spark.shuffle_read_mb" -> per("shuffle_read_mb"),
      "spark.spill_mb" -> per("spill_mb"),
      "jvm.heap_peak_mb" -> Harness.heapPeakMb(),
      "fail_ratio" -> (failed.toDouble / attempted),
    ) ++ zeroBatch.map(_ -> 0.0) ++ Map(
      "topology.output.files" -> outFiles.toDouble,
      "topology.output.mb" -> (outBytes / 1e6),
      "topology.output.bytes_per_record" ->
        (if (outRecords > 0) outBytes.toDouble / outRecords else 0.0),
      "sources.records_in" -> inRecords.toDouble,
      "operators.kept_ratio" -> (outRecords.toDouble / math.max(1L, inRecords)))
    BatchTrace.withUnits(values)
  }

  /** Warm phase only, check, corrupt one output line, check again. */
  def selftest(spark: SparkSession, a: Harness.Args, dataDir: String, work: String)
      : (Check, Check) = {
    val s = new Session(spark, dataDir, work, None)
    try s.start() finally s.stop()
    val clean = check0(dataDir, s)
    if (clean.ok) Workloads.corruptFirstLine(Workloads.outputFiles(s.out, ".log"))
    (clean, if (clean.ok) check0(dataDir, s) else clean)
  }
}
