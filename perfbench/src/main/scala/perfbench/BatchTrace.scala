package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.topology.{Toml, Topology}
import Harness.{metric, RunOutcome}

/** The traced run of a batch workload. After an untraced warm-up it runs
  * untraced and traced iterations (their records/s difference is the
  * tracing overhead), then the prefix pipelines: input only, then input
  * plus each filter in turn, each parsed, compiled and written to Spark's
  * `noop` sink. Prefix time differences attribute time to `sources`,
  * `operators` and `llm`; the traced parse+compile+run time minus the
  * full-chain prefix is the output's.
  */
object BatchTrace {

  /** The layer a filter's marginal prefix time is charged to. */
  def layerOf(filter: String): String = filter match {
    case "NearDupDedup" => "llm.dedup_s"
    case "TokenizeIds" | "PackRows" => "llm.tokenize_pack_s"
    case _ => "operators.chain_s"
  }

  val streamingKeys: Seq[String] = Seq("streaming.batches", "streaming.batch_s_p50",
    "streaming.plan_s_p50", "streaming.add_batch_s_p50", "streaming.list_s_p50",
    "streaming.commit_s_p50", "streaming.backlog_files_end")

  def measure(spark: SparkSession, w: BatchWorkload, a: Harness.Args, dataDir: String)
      : Map[String, Any] = {
    val out = s"${a.work}/out"
    val components = graft.streaming.Streaming.componentsWithStreaming
    val runs = mutable.ArrayBuffer(Harness.runOnce(spark, w, dataDir, out))
    runs ++= Harness.warmUp(spark, w, dataDir, out, a.seconds)

    // untraced and traced iterations alternate, so drift cancels out of
    // the overhead estimate
    val tracer = new Tracer(spark)
    val untraced = mutable.ArrayBuffer.empty[RunOutcome]
    val iters = mutable.ArrayBuffer.empty[(Span, Span, Span, Span, RunOutcome)]
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    while (((iters.size < 2 || untraced.size < 2) && runs.size < 50) ||
        System.nanoTime() < deadline) {
      untraced += Harness.runOnce(spark, w, dataDir, out)
      runs += untraced.last
      tracer.attach()
      val outcome = Harness.runOnce(spark, w, dataDir, out, Some(tracer))
      tracer.detach()
      runs += outcome
      if (outcome.ok) {
        val hs = tracer.all.filter(_.kind == "harness")
        val it = hs.filter(_.name == "iteration").last
        def child(n: String): Span = hs.find(s => s.parent == it.id && s.name == n).get
        iters += ((it, child("topology.parse"), child("topology.compile"),
          child("topology.run"), outcome))
      }
    }
    if (iters.isEmpty) {
      return Map("correct" -> false, "attempted" -> runs.size, "failed" -> runs.count(!_.ok),
        "metrics" -> Map.empty[String, Any], "detail" -> Map("checks" ->
          runs.map(r => r.error.getOrElse(r.check.map(_.detail).getOrElse(""))).distinct))
    }
    val outStats = outputStats(out)
    val lastCheck = iters.last._5.check

    // prefix pipelines: compile the first k filters, write to `noop`
    val nf = w.filters(dataDir).size
    tracer.attach()
    val prefix = (0 to nf).map { k =>
      val obs = new Observation(s"perfbench_prefix_$k")
      val (_, dt) = Util.time(tracer.span(s"prefix.$k") {
        val cfg = Topology.configFromToml(Toml.parse(w.prefixToml(dataDir, out, k)))
        val compiled = Topology.compile(spark, cfg, components)
        // a raw output (FileWriter) consumes only the serialized record
        val consumed =
          if (compiled.projected.columns.contains("_record")) compiled.projected.select("_record")
          else compiled.projected
        try {
          consumed.observe(obs, count(lit(1)).as("rows"))
            .write.format("noop").mode("overwrite").save()
        } finally compiled.ctx.runCleanupHooks()
      })
      (dt, obs.get("rows").asInstanceOf[Long])
    }
    tracer.detach()
    Util.writeString(a.traceFile, tracer.toJson)

    val good = iters
    def med(f: ((Span, Span, Span, Span, RunOutcome)) => Double): Double =
      Util.median(good.map(f).toSeq)
    val counters = good.map(i => tracer.counters(i._1))
    def cmed(k: String): Double = Util.median(counters.map(_(k)).toSeq)
    val runS = med(_._4.durS)
    val iterS = med(_._1.durS)
    val tracedRps = w.records / Util.median(good.map(_._5.wallS).toSeq)
    val untracedRps = w.records / Util.median(untraced.filter(_.ok).map(_.wallS).toSeq)

    val filterNames = w.filters(dataDir).map(_._1)
    val layerS = mutable.Map("operators.chain_s" -> 0.0, "llm.dedup_s" -> 0.0,
      "llm.tokenize_pack_s" -> 0.0)
    for (k <- 0 until nf) {
      val key = layerOf(filterNames(k))
      layerS(key) += math.max(0.0, prefix(k + 1)._1 - prefix(k)._1)
    }
    val dedupKept = filterNames.indexOf("NearDupDedup") match {
      case -1 => 0.0
      case i => prefix(i + 1)._2.toDouble / prefix(i)._2
    }
    val outRecords = lastCheck.map(_.records).getOrElse(0L)
    val failed = runs.count(!_.ok)
    val values: Map[String, Double] = Map(
      "topology.parse_s" -> med(_._2.durS),
      "topology.compile_s" -> med(_._3.durS),
      "topology.compile_jobs" -> Util.median(good.map(i => tracer.counters(i._3)("jobs")).toSeq),
      "topology.run_s" -> runS,
      "topology.driver_idle_s" -> Util.median(good.map(i => tracer.idleS(i._4)).toSeq),
      "topology.output.write_s" -> math.max(0.0, iterS - prefix(nf)._1),
      "topology.output.files" -> outStats._1.toDouble,
      "topology.output.mb" -> outStats._2 / 1e6,
      "topology.output.bytes_per_record" ->
        (if (outRecords > 0) outStats._2.toDouble / outRecords else 0.0),
      "sources.scan_s" -> prefix(0)._1,
      "sources.input_mb" -> inputBytes(dataDir) / 1e6,
      "sources.records_in" -> w.records.toDouble,
      "operators.chain_s" -> layerS("operators.chain_s"),
      "operators.kept_ratio" -> outRecords.toDouble / w.records,
      "llm.dedup_s" -> layerS("llm.dedup_s"),
      "llm.tokenize_pack_s" -> layerS("llm.tokenize_pack_s"),
      "llm.dedup_kept_ratio" -> dedupKept,
      "llm.tokens_out" -> lastCheck.map(_.tokens).getOrElse(0L).toDouble,
      "spark.jobs" -> cmed("jobs"),
      "spark.stages" -> cmed("stages"),
      "spark.tasks" -> cmed("tasks"),
      "spark.task_wait_s" -> cmed("task_wait_s"),
      "spark.task_cpu_s" -> cmed("task_cpu_s"),
      "spark.task_run_s" -> cmed("task_run_s"),
      "spark.gc_s" -> cmed("gc_s"),
      "spark.core_util" -> cmed("task_run_s") / (iterS * Harness.nproc),
      "spark.shuffle_write_mb" -> cmed("shuffle_write_mb"),
      "spark.shuffle_read_mb" -> cmed("shuffle_read_mb"),
      "spark.spill_mb" -> cmed("spill_mb"),
      "jvm.heap_peak_mb" -> Harness.heapPeakMb(),
      "fail_ratio" -> (failed.toDouble / runs.size),
      "trace.overhead_ratio" -> (1.0 - tracedRps / untracedRps),
    ) ++ streamingKeys.map(_ -> 0.0)
    Map("correct" -> (failed == 0), "attempted" -> runs.size, "failed" -> failed,
      "metrics" -> withUnits(values),
      "detail" -> Map("prefix_s" -> prefix.map(_._1), "prefix_rows" -> prefix.map(_._2),
        "traced_records_per_s" -> tracedRps, "untraced_records_per_s" -> untracedRps,
        "trace_file" -> a.traceFile,
        "checks" -> runs.map(r => r.error.getOrElse(r.check.map(_.detail).getOrElse(""))).distinct))
  }

  /** Unit of a per-layer metric, from its name. */
  def unitOf(k: String): String =
    if (k.endsWith("_s") || k.endsWith("_p50")) "s"
    else if (k.endsWith("_mb") || k.endsWith(".mb")) "MB"
    else if (k.endsWith("ratio") || k.endsWith("core_util")) "ratio"
    else if (k.endsWith("bytes_per_record")) "B"
    else "count"

  def withUnits(values: Map[String, Double]): Map[String, Any] =
    values.map { case (k, v) => k -> metric(v, unitOf(k)) }

  /** (files, bytes) of a run's output, staging and hidden files excluded. */
  def outputStats(out: String): (Int, Long) = {
    val fs = Util.listFiles(out, n => !n.startsWith(".") && !n.startsWith("_"))
    (fs.size, fs.map(_.length).sum)
  }

  def inputBytes(dataDir: String): Long =
    Util.listFiles(dataDir, n => n.endsWith(".zst") || n.endsWith(".jsonl") ||
      n.endsWith(".csv")).map(_.length).sum
}
