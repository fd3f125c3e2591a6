package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed interval of the benchmark: the workload, a phase, a store
  * build or op, or the action inside an op. Times are epoch nanoseconds
  * on one clock, so listener events (epoch milliseconds) line up. */
final class Span(val id: Int, val parent: Int, val kind: String,
    val name: String, val start: Long) {
  var end: Long = -1L
  val counters: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  /** Call sites of the Spark jobs attributed to this span. */
  val jobSites = mutable.ArrayBuffer.empty[String]
  def seconds: Double = (end - start) / 1e9
  def add(k: String, v: Double): Unit =
    counters(k) = counters.getOrElse(k, 0.0) + v
  def toJson: String = Json.obj(Seq("id" -> id.toString,
    "parent" -> parent.toString, "kind" -> Json.str(kind),
    "name" -> Json.str(name), "start_ns" -> start.toString,
    "end_ns" -> end.toString,
    "jobs" -> Json.arr(jobSites.map(Json.str)),
    "counters" -> Json.obj(counters.map { case (k, v) => k -> Json.num(v) })))
}

/** The span recorder, and (when tracing) the listeners that attach Spark's
  * job, stage, planning and streaming counters to the spans they ran in.
  *
  * Spans are always recorded; they are a handful per op. Listeners are
  * registered only when tracing, so untraced runs measure the engine with
  * no listener on its bus. Counters are attributed after the run: a job
  * belongs to the leaf span whose job group it carries, or failing that
  * (streaming micro-batches run under their own group) the leaf span open
  * when it was submitted.
  */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  private val wall0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  def now(): Long = wall0 + (System.nanoTime() - nano0)

  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]

  def begin(kind: String, name: String): Span = synchronized {
    val s = new Span(spans.size, open.headOption.map(_.id).getOrElse(-1),
      kind, name, now())
    spans += s
    open = s :: open
    s
  }

  def finish(s: Span): Span = synchronized {
    s.end = now()
    open = open.filterNot(_ eq s)
    s
  }

  def span[T](kind: String, name: String)(f: Span => T): T = {
    val s = begin(kind, name)
    if (kind == "op" || kind == "store") {
      spark.sparkContext.setJobGroup(s"perfbench-${s.id}", name)
      // keep Spark's own call site as the description (null removes it)
      spark.sparkContext.setLocalProperty("spark.job.description", null)
    }
    try f(s)
    finally {
      finish(s)
      if (kind == "op" || kind == "store")
        spark.sparkContext.clearJobGroup()
    }
  }

  // ---- listener records (tracing only) ----
  import Trace.{Job, covered}
  private val jobs = mutable.ArrayBuffer.empty[Job]
  // call site of each SQL execution, taken on the thread that ran the
  // action: the jobs themselves are submitted from AQE's stage threads
  private val sqlSites = mutable.Map.empty[Long, String]
  private val stageTasks = mutable.Map.empty[Int, Int]
  private val taskSums = mutable.Map.empty[Int, mutable.Map[String, Double]]
  private val plans = mutable.ArrayBuffer.empty[(Long, Double)]
  private val progress = mutable.ArrayBuffer.empty[(Long, Map[String, Long])]

  private object Listener extends SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => Trace.this.synchronized {
        sqlSites(x.executionId) = x.description + "\n" + x.details
      }
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      def prop(k: String) =
        Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val own = e.stageInfos.maxByOption(_.stageId)
        .map(i => i.name + "\n" + i.details).getOrElse("")
      val site = prop("spark.sql.execution.id")
        .flatMap(id => sqlSites.get(id.toLong)).getOrElse(own)
      jobs += Job(e.jobId, e.time, -1L, prop("spark.jobGroup.id")
        .getOrElse(""), site, e.stageIds)
      e.stageInfos.foreach(i => stageTasks(i.stageId) = i.numTasks)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val acc = taskSums.getOrElseUpdate(e.stageId, mutable.Map.empty)
        def add(k: String, v: Double): Unit =
          acc(k) = acc.getOrElse(k, 0.0) + v
        add("stages.task_cpu_s", m.executorCpuTime / 1e9)
        add("stages.gc_s", m.jvmGCTime / 1e3)
        add("stages.shuffle_read_mb",
          m.shuffleReadMetrics.totalBytesRead / 1048576.0)
        add("stages.shuffle_write_mb",
          m.shuffleWriteMetrics.bytesWritten / 1048576.0)
        add("stages.shuffle_records", m.shuffleWriteMetrics.recordsWritten)
        add("stages.spill_mb",
          (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
        add("stages.output_mb", m.outputMetrics.bytesWritten / 1048576.0)
        acc("stages.peak_exec_mem_mb") = math.max(
          acc.getOrElse("stages.peak_exec_mem_mb", 0.0),
          m.peakExecutionMemory / 1048576.0)
      }
    }
  }

  private object PlanListener extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) Trace.this.synchronized {
        plans += ((phases.map(_.startTimeMs).min,
          phases.map(_.durationMs).sum / 1e3))
      }
    }
    def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  private object StreamListener extends StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val at = java.time.Instant.parse(p.timestamp).toEpochMilli
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      Trace.this.synchronized { progress += ((at, d.toMap)) }
    }
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(Listener)
    spark.listenerManager.register(PlanListener)
    spark.streams.addListener(StreamListener)
  }

  /** Blocks until every posted listener event has been delivered. */
  def drain(): Unit = if (enabled) {
    org.apache.spark.BenchAccess.drainListeners(spark.sparkContext)
    spark.streams.removeListener(StreamListener)
    spark.listenerManager.unregister(PlanListener)
    spark.sparkContext.removeSparkListener(Listener)
  }

  private def leaves: Seq[Span] =
    spans.toSeq.filter(s => s.kind == "op" || s.kind == "store")

  private def spanAtMs(ms: Long): Option[Span] = {
    val ns = ms * 1000000L
    leaves.find(s => s.start <= ns && ns <= s.end)
  }

  /** The call-site module a job's stack names first, innermost frame
    * first: MLlib's ALS and AlsEngine count as one layer. */
  private def module(site: String): String = site.split("\n").iterator
    .flatMap { l =>
      if (l.contains("ALS.scala") || l.contains("AlsEngine.scala"))
        Some("AlsEngine")
      else if (l.contains("Antidote.scala")) Some("Antidote")
      else if (l.contains("Baseline.scala")) Some("Baseline")
      else None
    }.nextOption().getOrElse("")

  private val DriverActions = Seq("head at", "collect at", "first at",
    "take at", "collectAsList at", "toLocalIterator at")

  /** Attaches the listener records to the leaf spans as counters. */
  def attribute(): Unit = if (enabled) synchronized {
    val byId = leaves.map(s => s"perfbench-${s.id}" -> s).toMap
    val jobSpan = jobs.toSeq
      .flatMap(j => byId.get(j.group).orElse(spanAtMs(j.startMs)).map(j -> _))
    val stageSpan = mutable.Map.empty[Int, Span]
    for ((j, s) <- jobSpan) {
      s.jobSites += j.site.linesIterator.take(3).mkString(" | ")
      j.stages.foreach(st => stageSpan.getOrElseUpdate(st, s))
      s.add("operators.jobs", 1)
      s.add("operators.stages", j.stages.size)
      s.add("operators.tasks", j.stages.map(stageTasks.getOrElse(_, 0)).sum)
      val dur = math.max(0L, j.endMs - j.startMs) / 1e3
      module(j.site) match {
        case "AlsEngine" => s.add("AlsEngine.fit_s", dur)
          // ALS.train runs one input-emptiness check per fit
          if (j.site.startsWith("isEmpty at ALS.scala"))
            s.add("AlsEngine.fits", 1)
        case "Antidote" => s.add("Antidote.s", dur)
          if (DriverActions.exists(j.site.startsWith))
            s.add("Antidote.driver_jobs", 1)
        case "Baseline" => s.add("Baseline.s", dur)
        case _ =>
      }
    }
    // time inside each leaf span with no job running
    for (s <- leaves) {
      val iv = jobSpan.collect { case (j, js) if (js eq s) && j.endMs >= 0 =>
        (j.startMs * 1000000L, j.endMs * 1000000L) }
      s.add("operators.driver_gap_s", (s.end - s.start - covered(s, iv)) / 1e9)
    }
    for ((stage, sums) <- taskSums; s <- stageSpan.get(stage);
         (k, v) <- sums) {
      if (k == "stages.peak_exec_mem_mb")
        s.counters(k) = math.max(s.counters.getOrElse(k, 0.0), v)
      else s.add(k, v)
    }
    for ((at, secs) <- plans; s <- spanAtMs(at)) s.add("operators.plan_s", secs)
    for ((at, d) <- progress; s <- spanAtMs(at)) {
      s.add("StreamOps.triggers", 1)
      s.add("StreamOps.add_batch_s", d.getOrElse("addBatch", 0L) / 1e3)
      s.add("StreamOps.wal_commit_s", d.getOrElse("walCommit", 0L) / 1e3)
      s.add("StreamOps.commit_offsets_s",
        d.getOrElse("commitOffsets", 0L) / 1e3)
      s.add("StreamOps.latest_offset_s",
        d.getOrElse("latestOffset", 0L) / 1e3)
      s.add("StreamOps.query_planning_s",
        d.getOrElse("queryPlanning", 0L) / 1e3)
    }
  }

  /** Every trigger's execution time, for the trigger-latency median. */
  def triggerSeconds: Seq[Double] = synchronized {
    progress.toSeq.map(_._2.getOrElse("triggerExecution", 0L) / 1e3)
  }

  /** Self time per span kind: each span's duration minus the part of it
    * that its child spans cover. */
  def selfSeconds: Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.toSeq.groupBy(_.kind).map { case (kind, ss) =>
      kind -> ss.map(s => (s.end - s.start - covered(s,
        kids.getOrElse(s.id, Nil).toSeq.map(c => (c.start, c.end)))) / 1e9).sum
    }
  }

  def toJson: String = Json.arr(spans.map(_.toJson))
}

object Trace {
  private final case class Job(id: Int, startMs: Long, var endMs: Long,
      group: String, site: String, stages: Seq[Int])

  /** Nanoseconds of `s` covered by the union of the intervals. */
  private def covered(s: Span, iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var reach = s.start
    for ((a, b) <- iv.map { case (a, b) => (math.max(a, s.start),
        math.min(b, s.end)) }.sortBy(_._1) if b > reach) {
      total += b - math.max(a, reach)
      reach = b
    }
    total
  }
}
