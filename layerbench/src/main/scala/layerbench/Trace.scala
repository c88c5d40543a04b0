package layerbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch milliseconds with sub-millisecond resolution, on the same scale
  * as Spark's event timestamps. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One traced interval. `kind` is pass, call, sql, job or stage; every span
  * of a pass shares its `pass` id. */
final case class Span(id: Long, parent: Long, pass: Int, name: String,
                      kind: String, startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

object Span {
  /** Length of the union of `ivs`, clipped to [lo, hi]. */
  def unionMs(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var cur: (Double, Double) = null
    clipped.foreach { iv =>
      if (cur == null) cur = iv
      else if (iv._1 <= cur._2) cur = (cur._1, math.max(cur._2, iv._2))
      else { total += cur._2 - cur._1; cur = iv }
    }
    if (cur != null) total += cur._2 - cur._1
    total
  }

  /** Self time of each span: its duration minus the part of it that its
    * child spans cover. */
  def selfMs(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> (s.durMs - unionMs(kids.getOrElse(s.id, Nil)
        .map(k => (k.startMs, k.endMs)), s.startMs, s.endMs))
    }.toMap
  }
}

/** Streaming progress events of the current pass. Registered in every
  * log_tail run: batch durations are an end-to-end metric there. */
final class ProgressListener extends StreamingQueryListener {
  private val buf = mutable.ArrayBuffer[StreamingQueryProgress]()
  def take(): Seq[StreamingQueryProgress] = synchronized {
    val out = buf.toSeq; buf.clear(); out
  }
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { buf += e.progress }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/**
 * Per-layer tracing: call spans opened by the harness around public calls,
 * plus one SparkListener and one QueryExecutionListener that collect the
 * SQL executions, jobs, stages and tasks of each pass. Events are only
 * kept in memory; the harness drains the listener bus at pass boundaries,
 * so every event seen between two drains belongs to that pass.
 */
final class Tracer(cores: Int) {
  import Tracer._

  private var nextId = 0L
  private def newId(): Long = { nextId += 1; nextId }

  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer[Span]()
  private var stack: List[Long] = Nil
  private var pass = -1
  @volatile private var ev = new Events

  /** Open a call span around `body` (a no-op wrapper when untraced). */
  def span[A](spark: SparkSession, name: String, kind: String = "call")(body: => A): A = {
    val id = newId()
    val parent = stack.headOption.getOrElse(0L)
    val sc = spark.sparkContext
    val prevProp = sc.getLocalProperty(SpanProp)
    stack = id :: stack
    sc.setLocalProperty(SpanProp, id.toString)
    val t0 = Clock.nowMs
    try body
    finally {
      spans += Span(id, parent, pass, name, kind, t0, Clock.nowMs)
      stack = stack.tail
      sc.setLocalProperty(SpanProp, prevProp)
    }
  }

  def beginPass(i: Int): Unit = { pass = i; ev = new Events }

  /** The events of the finished pass; call after draining the bus. */
  def endPass(): Events = ev

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val j = JobRec(e.jobId, e.time.toDouble,
        p.flatMap(x => Option(x.getProperty(SpanProp))).map(_.toLong).getOrElse(0L),
        p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))).map(_.toLong))
      ev.synchronized {
        ev.jobs(e.jobId) = j
        e.stageIds.foreach(s => ev.stageJob(s) = e.jobId)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = ev.synchronized {
      ev.jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (e.stageInfo.attemptNumber() > 0) ev.synchronized { ev.stagesRetried += 1 }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      ev.synchronized {
        ev.stages += StageRec(si.stageId, si.numTasks,
          si.submissionTime.getOrElse(0L).toDouble,
          si.completionTime.getOrElse(0L).toDouble,
          ev.stageJob.getOrElse(si.stageId, -1))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val t = new TaskRec
      t.durMs = e.taskInfo.duration.toDouble
      t.failed = !e.taskInfo.successful
      if (m != null) {
        t.runMs = m.executorRunTime; t.cpuNs = m.executorCpuTime
        t.gcMs = m.jvmGCTime; t.deserMs = m.executorDeserializeTime
        t.shWrite = m.shuffleWriteMetrics.bytesWritten
        t.shWriteRec = m.shuffleWriteMetrics.recordsWritten
        t.shRead = m.shuffleReadMetrics.totalBytesRead
        t.shReadRec = m.shuffleReadMetrics.recordsRead
        t.fetchWaitMs = m.shuffleReadMetrics.fetchWaitTime
        t.spillDisk = m.diskBytesSpilled; t.spillMem = m.memoryBytesSpilled
        t.inBytes = m.inputMetrics.bytesRead; t.inRec = m.inputMetrics.recordsRead
        t.outBytes = m.outputMetrics.bytesWritten
        t.outRec = m.outputMetrics.recordsWritten
      }
      ev.synchronized { ev.tasks += t }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid)
        ev.synchronized { ev.cachedBytes += b.memSize + b.diskSize }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        ev.synchronized { ev.sql(s.executionId) = Array(s.time.toDouble, s.time.toDouble) }
      case s: SparkListenerSQLExecutionEnd =>
        ev.synchronized { ev.sql.get(s.executionId).foreach(_(1) = s.time.toDouble) }
      case _ =>
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String): Double = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      ev.synchronized {
        ev.queries += 1
        ev.analysisMs += ms("analysis"); ev.optimizerMs += ms("optimization")
        ev.planningMs += ms("planning")
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }

  /** Turn the finished pass's events into sql/job/stage spans under the
    * pass span, and return the pass's per-layer metrics. */
  def passMetrics(passSpan: Span, e: Events, codegenMs: Double, codegenClasses: Double,
                  extra: Map[String, Double],
                  progress: Seq[StreamingQueryProgress]): Map[String, Double] = {
    val (lo, hi) = (passSpan.startMs, passSpan.endMs)
    val wall = passSpan.durMs
    val calls = spans.filter(s => s.pass == pass && s.kind == "call").map(_.id).toSet
    def callOrPass(id: Long): Long = if (calls(id)) id else passSpan.id
    val jobs = e.jobs.values.toSeq.sortBy(_.id)
    val sqlSpan = e.sql.keys.toSeq.sorted.map { x =>
      val parent = jobs.find(_.execId.contains(x)).map(j => callOrPass(j.span))
        .getOrElse(passSpan.id)
      x -> Span(newId(), parent, pass, s"sql-$x", "sql", e.sql(x)(0), e.sql(x)(1))
    }.toMap
    val jobSpan = jobs.map { j =>
      val parent = j.execId.flatMap(sqlSpan.get).map(_.id).getOrElse(callOrPass(j.span))
      j.id -> Span(newId(), parent, pass, s"job-${j.id}", "job", j.startMs,
        if (j.endMs > 0) j.endMs else hi)
    }.toMap
    val stageSpans = e.stages.toSeq.map { s =>
      Span(newId(), jobSpan.get(s.job).map(_.id).getOrElse(passSpan.id), pass,
        s"stage-${s.id}", "stage", s.submitMs, s.doneMs)
    }
    spans ++= sqlSpan.values.toSeq.sortBy(_.id) ++ jobSpan.values.toSeq.sortBy(_.id) ++ stageSpans

    val jobIvs = jobSpan.values.map(s => (s.startMs, s.endMs)).toSeq
    val tasks = e.tasks.toSeq
    val durs = tasks.map(_.durMs).sorted
    val nStages = e.stages.size.toDouble
    def sum(f: TaskRec => Double): Double = tasks.map(f).sum
    val runMs = sum(_.runMs.toDouble)
    val empty = tasks.count(t => t.inRec == 0 && t.shReadRec == 0 &&
      t.outRec == 0 && t.shWriteRec == 0)

    // calls and their descendants: pipeline.<stage>_jobs counts every job
    // a stage's call caused, through any nesting
    val parentOf = spans.filter(_.pass == pass).map(s => s.id -> s.parent).toMap
    def under(id: Long, anc: Long): Boolean =
      id == anc || (id != 0 && parentOf.get(id).exists(p => p != id && under(p, anc)))
    val callSpans = spans.filter(s => s.pass == pass && s.kind == "call")
    def callMs(name: String): Double = callSpans.filter(_.name == name).map(_.durMs).sum
    val pipeline = PipelineStages.flatMap { st =>
      val ids = callSpans.filter(_.name == st).map(_.id)
      Seq(s"pipeline.${st}_ms" -> callMs(st),
        s"pipeline.${st}_jobs" -> jobSpan.values.count(js => ids.exists(under(js.id, _))).toDouble)
    }

    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val last = progress.lastOption
    val ops = progress.flatMap(_.stateOperators)
    val stream = Seq(
      "stream.batches" -> progress.size.toDouble,
      "stream.rows_per_batch" -> Stats.median(progress.map(_.numInputRows.toDouble)),
      "stream.latest_offset_ms" -> progress.map(dur(_, "latestOffset")).sum,
      "stream.get_batch_ms" -> progress.map(dur(_, "getBatch")).sum,
      "stream.planning_ms" -> progress.map(dur(_, "queryPlanning")).sum,
      "stream.add_batch_ms" -> progress.map(dur(_, "addBatch")).sum,
      "stream.wal_commit_ms" -> progress.map(p => dur(p, "walCommit") + dur(p, "commitOffsets")).sum,
      "state.rows" -> last.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0),
      "state.mem_mb" -> last.map(_.stateOperators.map(_.memoryUsedBytes).sum / MB).getOrElse(0.0),
      "state.commit_ms" -> ops.map(_.commitTimeMs.toDouble).sum,
      "state.update_ms" -> ops.map(_.allUpdatesTimeMs.toDouble).sum)

    (Seq(
      "flow.parse_ms" -> callMs("parse"),
      "flow.assemble_ms" -> callMs("assemble"),
      "el.compile_ms" -> callMs("el_compile"),
      "driver.queries" -> e.queries.toDouble,
      "driver.analysis_ms" -> e.analysisMs,
      "driver.optimizer_ms" -> e.optimizerMs,
      "driver.planning_ms" -> e.planningMs,
      "driver.codegen_ms" -> codegenMs,
      "driver.codegen_classes" -> codegenClasses,
      "driver.gap_ms" -> (wall - Span.unionMs(jobIvs, lo, hi)),
      "sched.jobs" -> jobs.size.toDouble,
      "sched.stages" -> nStages,
      "sched.tasks" -> tasks.size.toDouble,
      "sched.jobs_wall_ms" -> jobSpan.values.map(_.durMs).sum,
      "sched.one_task_stage_share" ->
        (if (nStages == 0) 0.0 else e.stages.count(_.numTasks == 1) / nStages),
      "sched.tasks_failed" -> tasks.count(_.failed).toDouble,
      "sched.stages_retried" -> e.stagesRetried.toDouble,
      "exec.run_ms" -> runMs,
      "exec.cpu_ms" -> sum(_.cpuNs / 1e6),
      "exec.gc_ms" -> sum(_.gcMs.toDouble),
      "exec.deser_ms" -> sum(_.deserMs.toDouble),
      "exec.busy_share" -> runMs / (wall * cores),
      "exec.task_p50_ms" -> Stats.median(durs),
      "exec.task_max_ms" -> durs.lastOption.getOrElse(0.0),
      "exec.empty_task_share" -> (if (tasks.isEmpty) 0.0 else empty.toDouble / tasks.size),
      "shuffle.write_mb" -> sum(_.shWrite / MB),
      "shuffle.read_mb" -> sum(_.shRead / MB),
      "shuffle.records" -> sum(_.shWriteRec.toDouble),
      "shuffle.fetch_wait_ms" -> sum(_.fetchWaitMs.toDouble),
      "storage.spill_disk_mb" -> sum(_.spillDisk / MB),
      "storage.spill_mem_mb" -> sum(_.spillMem / MB),
      "storage.cached_mb" -> e.cachedBytes / MB,
      "io.input_mb" -> sum(_.inBytes / MB),
      "io.output_mb" -> sum(_.outBytes / MB),
      "io.output_records" -> sum(_.outRec.toDouble)) ++
      pipeline ++ stream).toMap ++ extra
  }
}

object Tracer {
  val SpanProp = "layerbench.span"
  val MB: Double = 1024.0 * 1024.0
  val PipelineStages: Seq[String] = Seq("filter", "exact_dedup", "near_dedup",
    "score", "split_pack", "tokenizer", "write")

  final case class JobRec(id: Int, startMs: Double, span: Long, execId: Option[Long]) {
    var endMs: Double = 0.0
  }
  final case class StageRec(id: Int, numTasks: Int, submitMs: Double, doneMs: Double, job: Int)
  final class TaskRec {
    var durMs, runMs, cpuNs, gcMs, deserMs = 0.0
    var shWrite, shWriteRec, shRead, shReadRec, fetchWaitMs = 0.0
    var spillDisk, spillMem, inBytes, inRec, outBytes, outRec = 0.0
    var failed = false
  }
  final class Events {
    val jobs: mutable.Map[Int, JobRec] = mutable.Map()
    val stageJob: mutable.Map[Int, Int] = mutable.Map()
    val stages: mutable.ArrayBuffer[StageRec] = mutable.ArrayBuffer()
    val tasks: mutable.ArrayBuffer[TaskRec] = mutable.ArrayBuffer()
    val sql: mutable.Map[Long, Array[Double]] = mutable.Map()
    var stagesRetried = 0
    var cachedBytes = 0.0
    var queries = 0
    var analysisMs, optimizerMs, planningMs = 0.0
  }

  /** Cumulative whole-JVM codegen counters: (compile ms, classes compiled). */
  def codegenCounters(): (Double, Double) =
    (org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e6,
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of `xs` (0 for an empty sample). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
