package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch microseconds; `parent` is 0 for the
  * run span. Every span of one run carries the run's id in the trace file.
  */
final case class Span(id: Long, parent: Long, name: String, startUs: Long, endUs: Long,
    attrs: Map[String, Double] = Map.empty) {
  def durUs: Long = endUs - startUs
}

/** In-memory span recorder: spans are kept until the run ends and then
  * written out at once.
  *
  * Client-side spans (run, query, construct, action, ...) are opened around
  * calls into the engine. Job spans are parented by the span id the client
  * thread put in the `perfbench.span` local property when the job was
  * submitted (streaming threads inherit it); stages hang under their job;
  * Catalyst phases are parented by time, because a QueryExecution does not
  * carry local properties and the single client never overlaps two spans.
  */
final class Tracer(val runId: String) {
  private val ids = new AtomicLong(0)
  private val nanoBase = System.nanoTime()
  private val usBase = System.currentTimeMillis() * 1000L
  private val spans = mutable.ArrayBuffer.empty[Span]

  def nowUs: Long = usBase + (System.nanoTime() - nanoBase) / 1000L
  def newId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = synchronized { spans += s }
  def all: Seq[Span] = synchronized { spans.toVector }

  /** Run `body` inside a span named `name` under `parent`; jobs it submits
    * from this thread (or threads it starts) are parented to the span.
    */
  def span[T](spark: SparkSession, parent: Long, name: String)(body: Long => T): T = {
    val id = newId()
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Tracer.SpanProp)
    sc.setLocalProperty(Tracer.SpanProp, id.toString)
    val t0 = nowUs
    try body(id)
    finally {
      add(Span(id, parent, name, t0, nowUs))
      sc.setLocalProperty(Tracer.SpanProp, prev)
    }
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
}

/** Per-stage task aggregates, summed as tasks end. */
final class StageAgg {
  var tasks, failed, speculative, useful = 0L
  var runMs, cpuNs, schedDelayMs = 0L
  var inBytes, inRecords = 0L
  var shWriteBytes, shWriteRecords, shWriteNs = 0L
  var shReadBytes, fetchWaitMs = 0L
  var spillMem, spillDisk = 0L
  val durations = mutable.ArrayBuffer.empty[Long]
}

/** Collects jobs, stages, tasks, block updates, Catalyst phases and
  * streaming progress for one run. All state is guarded by `this`.
  */
final class Collector extends SparkListener with QueryExecutionListener {
  import Collector._

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.ArrayBuffer.empty[Stage]
  val stageAgg = mutable.HashMap.empty[Int, StageAgg]
  val phases = mutable.ArrayBuffer.empty[Phase]
  var graftRuleNs, graftRuleEffective = 0L
  val blocks = mutable.HashMap.empty[String, Long]
  val streamDurMs = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  var batches = 0L
  private var fenceSeen = false

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toLong).getOrElse(0L)
    jobs(e.jobId) = Job(e.jobId, parent, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages += Stage(i.stageId, i.attemptNumber(), i.submissionTime.getOrElse(0L),
      i.completionTime.getOrElse(0L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stageAgg.getOrElseUpdate(e.stageId, new StageAgg)
    val info = e.taskInfo
    a.tasks += 1
    if (info.failed) a.failed += 1
    if (info.speculative) a.speculative += 1
    if (info.successful && !info.killed) a.useful += 1
    a.durations += info.duration
    Option(e.taskMetrics).foreach { m =>
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
      a.inBytes += m.inputMetrics.bytesRead
      a.inRecords += m.inputMetrics.recordsRead
      a.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.shWriteRecords += m.shuffleWriteMetrics.recordsWritten
      a.shWriteNs += m.shuffleWriteMetrics.writeTime
      a.shReadBytes += m.shuffleReadMetrics.totalBytesRead
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spillMem += m.memoryBytesSpilled
      a.spillDisk += m.diskBytesSpilled
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val bytes = b.memSize + b.diskSize
      if (bytes > 0) blocks(b.blockId.name) = bytes else blocks.remove(b.blockId.name)
    }
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    blocks.keys.filter(_.startsWith(s"rdd_${e.rddId}_")).toList.foreach(blocks.remove)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = synchronized {
    val t = qe.tracker
    t.phases.foreach { case (name, p) => phases += Phase(name, p.startTimeMs, p.endTimeMs) }
    t.rules.foreach { case (rule, s) =>
      if (rule.startsWith("graft.")) {
        graftRuleNs += s.totalTimeNs
        graftRuleEffective += s.numEffectiveInvocations
      }
    }
    if (qe.logical.toString.contains(Collector.FenceMarker)) { fenceSeen = true; notifyAll() }
  }

  /** Block until every event posted before this call has been delivered: a
    * marker action's QueryExecution callback comes after all earlier events
    * on the same listener queue.
    */
  def drain(spark: SparkSession): Unit = {
    synchronized { fenceSeen = false }
    spark.range(1).selectExpr(s"'${Collector.FenceMarker}' AS m")
      .write.mode("overwrite").format("noop").save()
    val deadline = System.currentTimeMillis() + 30000L
    synchronized {
      while (!fenceSeen && System.currentTimeMillis() < deadline) wait(100L)
    }
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Collector.this.synchronized {
        batches += 1
        e.progress.durationMs.asScala.foreach { case (k, v) => streamDurMs(k) += v.longValue }
      }
  }
}

object Collector {
  val FenceMarker = "perfbench_listener_fence"

  final case class Job(id: Int, parent: Long, startMs: Long, stageIds: Seq[Int]) {
    var endMs = 0L
  }
  final case class Stage(id: Int, attempt: Int, startMs: Long, endMs: Long)
  final case class Phase(name: String, startMs: Long, endMs: Long)

  def register(spark: SparkSession, c: Collector): Unit = {
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    spark.streams.addListener(c.streaming)
  }

  def unregister(spark: SparkSession, c: Collector): Unit = {
    spark.sparkContext.removeSparkListener(c)
    spark.listenerManager.unregister(c)
    spark.streams.removeListener(c.streaming)
  }
}

/** Turns a run's client spans and collected events into the span tree and
  * the per-layer metrics.
  */
object Layers {
  private def ms2us(ms: Long): Long = ms * 1000L

  /** Client spans that run Spark actions: a gate query's noop write, and a
    * whole word-count job (`MapReduceJob.run` plans and runs its own write).
    */
  val ActionNames = Set("action", "job-run")

  /** Job and stage spans under the client spans, and Catalyst phase spans
    * under whichever client span contains them in time.
    */
  def engineSpans(t: Tracer, c: Collector, client: Seq[Span]): Seq[Span] = c.synchronized {
    val jobSpans = c.jobs.values.toSeq.map { j =>
      Span(t.newId(), j.parent, s"job ${j.id}", ms2us(j.startMs), ms2us(math.max(j.endMs, j.startMs)))
    }
    val jobOfStage = c.jobs.values.flatMap(j => j.stageIds.map(_ -> j.id)).toMap
    val jobSpanId = c.jobs.keys.zip(jobSpans.map(_.id)).toMap
    val stageSpans = c.stages.toSeq.flatMap { s =>
      jobOfStage.get(s.id).map { j =>
        val a = c.stageAgg.getOrElse(s.id, new StageAgg)
        Span(t.newId(), jobSpanId(j), s"stage ${s.id}.${s.attempt}", ms2us(s.startMs),
          ms2us(math.max(s.endMs, s.startMs)),
          Map("tasks" -> a.tasks.toDouble, "shuffle_write_bytes" -> a.shWriteBytes.toDouble,
            "shuffle_read_bytes" -> a.shReadBytes.toDouble))
      }
    }
    val leaves = client.filter(s => Layers.ActionNames(s.name) || s.name == "construct")
    val phaseSpans = c.phases.toSeq.flatMap { p =>
      leaves.find(s => s.startUs <= ms2us(p.startMs) && ms2us(p.startMs) <= s.endUs).map { s =>
        Span(t.newId(), s.id, s"plan ${p.name}", ms2us(p.startMs), ms2us(p.endMs))
      }
    }
    jobSpans ++ stageSpans ++ phaseSpans
  }

  /** Duration of `s` not covered by any of its children. */
  def selfUs(s: Span, children: Seq[Span]): Long = {
    val iv = children.map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered, curA, curB = 0L
    var open = false
    iv.foreach { case (a, b) =>
      if (open && a <= curB) curB = math.max(curB, b)
      else {
        if (open) covered += curB - curA
        curA = a; curB = b; open = true
      }
    }
    if (open) covered += curB - curA
    s.durUs - covered
  }

  /** Per-layer metrics over every span of the timed part of a run (the
    * descendants of `timedRoot`).
    */
  def metrics(c: Collector, spans: Seq[Span], timedRoot: Long, gcS: Double): Map[String, Double] =
    c.synchronized {
      val byParent = spans.groupBy(_.parent)
      def below(id: Long): Seq[Span] =
        byParent.getOrElse(id, Nil).flatMap(s => s +: below(s.id))
      val timed = below(timedRoot)
      val timedIds = timed.map(_.id).toSet
      def named(n: String) = timed.filter(_.name == n)
      val jobsIn = c.jobs.values.filter(j => timedIds.contains(j.parent)).toSeq
      val stageIds = jobsIn.flatMap(_.stageIds).toSet
      val aggs = c.stageAgg.collect { case (id, a) if stageIds(id) => a }.toSeq
      def sum(f: StageAgg => Long): Double = aggs.map(f).sum.toDouble
      val constructIds = named("construct").map(_.id).toSet
      val constructS = named("construct").map(_.durUs).sum / 1e6
      val queryS = timed.filter(_.name.startsWith("query ")).map(_.durUs).sum / 1e6
      val stagesRun = c.stages.count(s => stageIds(s.id))
      val tasks = sum(_.tasks)
      def phase(n: String) = timed.filter(_.name == s"plan $n").map(_.durUs).sum / 1e6
      val mb = 1024.0 * 1024.0
      Map(
        "sources.scan_mb" -> sum(_.inBytes) / mb,
        "sources.scan_rows" -> sum(_.inRecords),
        "operators.construct_s" -> constructS,
        "operators.construct_jobs" -> jobsIn.count(j => constructIds(j.parent)).toDouble,
        "operators.construct_share" -> (if (queryS > 0) constructS / queryS else 0.0),
        "operators.checkpoint_mb" -> c.blocks.values.sum / mb,
        "plans.analysis_s" -> phase("analysis"),
        "plans.optimize_s" -> phase("optimization"),
        "plans.physical_s" -> phase("planning"),
        "plans.graft_rules_s" -> c.graftRuleNs / 1e9,
        "plans.graft_rules_effective" -> c.graftRuleEffective.toDouble,
        "exec.jobs" -> jobsIn.size.toDouble,
        "exec.stages" -> stagesRun.toDouble,
        "exec.tasks" -> tasks,
        "exec.tasks_per_stage" -> (if (stagesRun > 0) tasks / stagesRun else 0.0),
        "exec.driver_gap_s" -> timed.filter(s => ActionNames(s.name)).map(s =>
          selfUs(s, byParent.getOrElse(s.id, Nil))).sum / 1e6,
        "exec.sched_delay_s" -> sum(_.schedDelayMs) / 1e3,
        "exec.task_run_s" -> sum(_.runMs) / 1e3,
        "exec.task_cpu_s" -> sum(_.cpuNs) / 1e9,
        "exec.gc_s" -> gcS,
        "exec.tasks_failed" -> sum(_.failed),
        "exec.tasks_speculative" -> sum(_.speculative),
        "exec.useful_task_ratio" -> (if (tasks > 0) sum(_.useful) / tasks else 1.0),
        "shuffle.write_mb" -> sum(_.shWriteBytes) / mb,
        "shuffle.read_mb" -> sum(_.shReadBytes) / mb,
        "shuffle.records" -> sum(_.shWriteRecords),
        "shuffle.write_s" -> sum(_.shWriteNs) / 1e9,
        "shuffle.fetch_wait_s" -> sum(_.fetchWaitMs) / 1e3,
        "spill.mem_mb" -> sum(_.spillMem) / mb,
        "spill.disk_mb" -> sum(_.spillDisk) / mb,
        "streaming.batches" -> c.batches.toDouble,
        "streaming.trigger_s" -> c.streamDurMs("triggerExecution") / 1e3,
        "streaming.add_batch_s" -> c.streamDurMs("addBatch") / 1e3,
        "streaming.wal_commit_s" -> c.streamDurMs("walCommit") / 1e3)
    }

  /** The MapReduce job's layer: map and reduce stage wall, commit (last job
    * end to `run` return), pairs emitted, shuffle bytes per input byte and
    * the slowest reduce task over the median one.
    */
  def core(c: Collector, run: Span, inputBytes: Long): Map[String, Double] = c.synchronized {
    val jobsIn = c.jobs.values.filter(j => j.startMs * 1000L >= run.startUs &&
      j.startMs * 1000L <= run.endUs).toSeq
    val stageIds = jobsIn.flatMap(_.stageIds).toSet
    val done = c.stages.filter(s => stageIds(s.id))
    def agg(id: Int) = c.stageAgg.getOrElse(id, new StageAgg)
    val (map, reduce) = done.partition(s => agg(s.id).shWriteBytes > 0)
    def wall(ss: Seq[Collector.Stage]) = ss.map(s => s.endMs - s.startMs).sum / 1e3
    val reduceTasks = reduce.flatMap(s => agg(s.id).durations).sorted
    val median = if (reduceTasks.isEmpty) 0L else reduceTasks(reduceTasks.size / 2)
    val lastJobEndUs = jobsIn.map(_.endMs * 1000L).foldLeft(run.startUs)(math.max)
    val shuffleBytes = map.map(s => agg(s.id).shWriteBytes).sum
    Map(
      "core.map_stage_s" -> wall(map.toSeq),
      "core.reduce_stage_s" -> wall(reduce.toSeq),
      "core.commit_s" -> (run.endUs - lastJobEndUs) / 1e6,
      "core.pairs_emitted" -> map.map(s => agg(s.id).shWriteRecords).sum.toDouble,
      "core.shuffle_bytes_per_input_byte" ->
        (if (inputBytes > 0) shuffleBytes.toDouble / inputBytes else 0.0),
      "core.reduce_skew" ->
        (if (median > 0) reduceTasks.last.toDouble / median else 0.0))
  }

  val coreNames: Seq[String] = Seq("core.map_stage_s", "core.reduce_stage_s", "core.commit_s",
    "core.pairs_emitted", "core.shuffle_bytes_per_input_byte", "core.reduce_skew")
}
