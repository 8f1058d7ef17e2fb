package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One node of the trace tree. Times are System.nanoTime()-based; Spark
  * listener times (epoch millis) are mapped onto that clock. `attrs`
  * holds the task counters summed into a stage span.
  */
final class Span(val id: Long, val parent: Long, val kind: String, val name: String,
    val start: Long) {
  @volatile var end: Long = -1L
  val attrs: mutable.Map[String, Double] = mutable.Map.empty
  def durS: Double = if (end < 0) 0.0 else (end - start) / 1e9
}

/** In-memory tracer. Harness spans wrap each public call into a layer and
  * publish their id through a Spark local property, so the SparkListener
  * can parent every job to the enclosing harness span and every stage to
  * its job. A QueryExecutionListener and a StreamingQueryListener add SQL
  * action and micro-batch records. Nothing is written until [[toJson]].
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stageSpan = mutable.Map.empty[Int, Span]
  private val jobSpan = mutable.Map.empty[Int, Span]
  private val stageOfJob = mutable.Map.empty[Int, Span]
  private val current = new ThreadLocal[Span]
  /** nanoTime - epochMillis*1e6, so listener epoch times land on our clock */
  private val clockOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def fromEpochMs(ms: Long): Long = ms * 1000000L + clockOffset

  val batches = mutable.ArrayBuffer.empty[Map[String, Double]]

  private def add(parent: Long, kind: String, name: String, start: Long): Span = synchronized {
    val s = new Span(nextId.getAndIncrement(), parent, kind, name, start)
    spans += s
    s
  }

  /** Run `body` inside a harness span parented to the caller's span. */
  def span[A](name: String)(body: => A): A = {
    val parent = Option(current.get)
    val s = add(parent.fold(0L)(_.id), "harness", name, System.nanoTime())
    val sc = spark.sparkContext
    val prevProp = sc.getLocalProperty(SpanProperty)
    current.set(s)
    sc.setLocalProperty(SpanProperty, s.id.toString)
    try body
    finally {
      s.end = System.nanoTime()
      current.set(parent.orNull)
      sc.setLocalProperty(SpanProperty, prevProp)
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
        .map(_.toLong).getOrElse(0L)
      val j = add(parent, "job", s"job ${e.jobId}", fromEpochMs(e.time))
      Tracer.this.synchronized {
        jobSpan(e.jobId) = j
        e.stageIds.foreach(sid => if (!stageOfJob.contains(sid)) stageOfJob(sid) = j)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobSpan.get(e.jobId).foreach(_.end = fromEpochMs(e.time))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val info = e.stageInfo
      val parent = Tracer.this.synchronized(stageOfJob.get(info.stageId)).fold(0L)(_.id)
      val start = info.submissionTime.map(fromEpochMs).getOrElse(System.nanoTime())
      val s = add(parent, "stage", s"stage ${info.stageId}.${info.attemptNumber()} ${info.name}",
        start)
      Tracer.this.synchronized(stageSpan(info.stageId) = s)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        stageSpan.get(e.stageInfo.stageId).foreach { s =>
          s.end = e.stageInfo.completionTime.map(fromEpochMs).getOrElse(System.nanoTime())
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (s <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
        def inc(k: String, v: Double): Unit = s.attrs(k) = s.attrs.getOrElse(k, 0.0) + v
        inc("tasks", 1)
        inc("task_cpu_s", m.executorCpuTime / 1e9)
        inc("task_run_s", m.executorRunTime / 1e3)
        inc("gc_s", m.jvmGCTime / 1e3)
        inc("shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
        inc("shuffle_read_mb", (m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead) / 1e6)
        inc("spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
        inc("task_wait_s", math.max(0L, fromEpochMs(e.taskInfo.launchTime) - s.start) / 1e9)
      }
    }
  }

  private val sqlListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val end = System.nanoTime()
      add(0L, "sql", s"sql $funcName", end - durationNs).end = end
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Double = Option(d.get(k)).map(_.toLong / 1e3).getOrElse(0.0)
      Tracer.this.synchronized {
        batches += Map(
          "batch_id" -> p.batchId.toDouble,
          "rows" -> p.numInputRows.toDouble,
          "batch_s" -> ms("triggerExecution"),
          "plan_s" -> ms("queryPlanning"),
          "add_batch_s" -> ms("addBatch"),
          "list_s" -> (ms("latestOffset") + ms("getBatch")),
          "commit_s" -> (ms("walCommit") + ms("commitOffsets")))
      }
    }
  }

  def attach(): this.type = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(sqlListener)
    spark.streams.addListener(streamListener)
    this
  }

  /** Detach, after the listener bus has delivered everything queued. */
  def detach(): Unit = {
    drainListenerBus(spark)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(sqlListener)
    spark.streams.removeListener(streamListener)
  }

  def all: Seq[Span] = synchronized(spans.toList)

  /** `root` and every span below it. */
  def subtree(root: Span): Seq[Span] = {
    val byParent = all.groupBy(_.parent)
    def walk(s: Span): Seq[Span] = s +: byParent.getOrElse(s.id, Nil).flatMap(walk)
    walk(root)
  }

  /** Spark counters summed over the jobs and stages under `root`. */
  def counters(root: Span): Map[String, Double] = {
    val under = subtree(root)
    val stages = under.filter(_.kind == "stage")
    val sums = CounterKeys.map(k => k -> stages.map(_.attrs.getOrElse(k, 0.0)).sum).toMap
    sums ++ Map(
      "jobs" -> under.count(_.kind == "job").toDouble,
      "stages" -> stages.size.toDouble)
  }

  /** Wall time of `root` not covered by any job span under it. */
  def idleS(root: Span): Double = {
    val jobs = subtree(root).filter(s => s.kind == "job" && s.end > 0)
      .map(j => (math.max(j.start, root.start), math.min(j.end, root.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    for ((a, b) <- jobs) {
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0.0, root.durS - covered / 1e9)
  }

  /** The trace as JSON: every span with its parent, wall and self time. */
  def toJson: String = {
    val ss = all
    val childWall = ss.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durS).sum }
    val t0 = if (ss.isEmpty) 0L else ss.map(_.start).min
    Util.json(ss.map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_s" -> (s.start - t0) / 1e9, "wall_s" -> s.durS,
        "self_s" -> math.max(0.0, s.durS - childWall.getOrElse(s.id, 0.0)),
        "attrs" -> s.attrs.toMap)
    })
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"

  /** `body` inside a span of `t` when tracing, else just `body`. */
  def span[A](t: Option[Tracer], name: String)(body: => A): A = t.fold(body)(_.span(name)(body))
  val CounterKeys: Seq[String] = Seq("tasks", "task_cpu_s", "task_run_s", "gc_s",
    "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "task_wait_s")

  /** Block until the async listener bus has delivered every queued event. */
  def drainListenerBus(spark: SparkSession): Unit =
    try {
      val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case _: Exception => Thread.sleep(200) }
}
