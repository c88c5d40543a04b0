package layerbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.LayerbenchBridge
import org.apache.spark.sql.SparkSession

/**
 * The benchmark harness. One JVM at local[N] (N = available cores):
 * generate the seeded inputs, set up twice (session start plus a
 * warm-up pass at a smaller size), then run measured passes for
 * `--seconds`, each checked against the planted facts. Prints readable
 * metric lines and, last, one JSON result line.
 *
 * {{{
 * layerbench.Main --workload flow_sweep --seed 1 --seconds 10 --trace 0
 *   [--work DIR] [--results DIR] [--commit ID]
 * }}}
 */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: Path, results: Path, commit: String,
                        injectFail: Option[Int])

  /** Session confs, the same ones graft.Verify sets. */
  def confs(cores: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false")

  /** Set-ups per run: the cold one (JVM start, first session, first
    * pass) and one in a warm JVM; setup_s is their median. */
  val Setups = 2

  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "wall_s" -> "s",
    "lines_per_s" -> "1/s", "batch_p50_ms" -> "ms", "batch_p90_ms" -> "ms",
    "live_heap_peak_mb" -> "MB")

  /** Every per-layer metric with its unit, in report order. */
  val PerLayer: Seq[(String, String)] = Seq(
    "flow.parse_ms" -> "ms", "flow.assemble_ms" -> "ms", "flow.processors" -> "count",
    "flow.persisted" -> "count", "el.compile_ms" -> "ms", "el.expressions" -> "count",
    "driver.queries" -> "count", "driver.analysis_ms" -> "ms", "driver.optimizer_ms" -> "ms",
    "driver.planning_ms" -> "ms", "driver.codegen_ms" -> "ms",
    "driver.codegen_classes" -> "count", "driver.gap_ms" -> "ms",
    "sched.jobs" -> "count", "sched.stages" -> "count", "sched.tasks" -> "count",
    "sched.jobs_wall_ms" -> "ms", "sched.one_task_stage_share" -> "share",
    "sched.tasks_failed" -> "count", "sched.stages_retried" -> "count",
    "exec.run_ms" -> "ms", "exec.cpu_ms" -> "ms", "exec.gc_ms" -> "ms",
    "exec.deser_ms" -> "ms", "exec.busy_share" -> "share", "exec.task_p50_ms" -> "ms",
    "exec.task_max_ms" -> "ms", "exec.empty_task_share" -> "share",
    "shuffle.write_mb" -> "MB", "shuffle.read_mb" -> "MB", "shuffle.records" -> "count",
    "shuffle.fetch_wait_ms" -> "ms",
    "storage.spill_disk_mb" -> "MB", "storage.spill_mem_mb" -> "MB",
    "storage.cached_mb" -> "MB", "io.input_mb" -> "MB", "io.output_mb" -> "MB",
    "io.output_records" -> "count") ++
    Tracer.PipelineStages.flatMap(s =>
      Seq(s"pipeline.${s}_ms" -> "ms", s"pipeline.${s}_jobs" -> "count")) ++ Seq(
    "pipeline.lsh_yield" -> "share", "pipeline.near_dup_recall" -> "share",
    "stream.batches" -> "count", "stream.rows_per_batch" -> "rows",
    "stream.latest_offset_ms" -> "ms", "stream.get_batch_ms" -> "ms",
    "stream.planning_ms" -> "ms", "stream.add_batch_ms" -> "ms",
    "stream.wal_commit_ms" -> "ms", "state.rows" -> "rows", "state.mem_mb" -> "MB",
    "state.commit_ms" -> "ms", "state.update_ms" -> "ms", "sink.files" -> "count",
    "trace.overhead_share" -> "share")

  final case class Outcome(pass: Int, traced: Boolean, wallMs: Double,
                           out: Option[PassOut], error: Option[String],
                           heapMb: Double, layer: Map[String, Double]) {
    def ok: Boolean = out.isDefined && error.isEmpty
  }

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1",
      Path.of(m.getOrElse("work", "layerbench/work")).toAbsolutePath,
      Path.of(m.getOrElse("results", "layerbench/results")).toAbsolutePath,
      m.getOrElse("commit", "unknown"), injectFail = None)
  }

  def main(args: Array[String]): Unit = {
    val code =
      try { val r = run(parse(args)); println(r); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  def log(s: String): Unit = println(s"[layerbench] $s")

  def newSession(cores: Int, work: Path): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]").appName("layerbench")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    confs(cores).foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }.getOrCreate()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    finally s.close()
  }

  /** Runs the benchmark and returns the JSON result line. */
  def run(o: Opts): String = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val w = Workloads.byName(o.workload)
    val cores = Runtime.getRuntime.availableProcessors()
    val root = o.work.resolve(s"${w.name}-s${o.seed}")
    deleteTree(root)

    val g0 = Clock.nowMs
    val main = w.generate(root.resolve("main"), o.seed, warm = false)
    val warm = w.generate(root.resolve("warm"), o.seed, warm = true)
    val genMs = Clock.nowMs - g0
    val inputDigest = Gen.digest(root.resolve("main"))
    log(f"generated inputs in ${genMs / 1000}%.2f s (excluded from setup_s); digest $inputDigest")

    val tracer = new Tracer(cores)
    val progress = new ProgressListener
    var spark: SparkSession = null
    var firstDigest: Option[String] = None

    def runPass(in: w.In, i: Int, traced: Boolean, measured: Boolean): Outcome = {
      val out = root.resolve("pass")
      deleteTree(out)
      Files.createDirectories(out)
      val sc = spark.sparkContext
      LayerbenchBridge.drainListeners(sc)
      progress.take()
      if (traced) { tracer.attach(spark); tracer.beginPass(i) }
      val ctx = new PassCtx(spark, if (traced) Some(tracer) else None,
        () => { LayerbenchBridge.drainListeners(sc); progress.take() })
      val (cg0, cls0) = Tracer.codegenCounters()
      val t0 = Clock.nowMs
      val res: Either[Throwable, PassOut] =
        try {
          if (measured && o.injectFail.contains(i))
            throw new CheckFailed(s"failure injected into pass $i")
          Right(if (traced) tracer.span(spark, s"pass-$i", "pass")(w.pass(in, out, ctx, t0))
            else w.pass(in, out, ctx, t0))
        } catch { case e: Throwable => Left(e) }
      val wallMs = Clock.nowMs - t0
      LayerbenchBridge.drainListeners(sc)
      val (cg1, cls1) = Tracer.codegenCounters()
      val error = res match {
        case Left(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
        case Right(po) if measured && firstDigest.exists(_ != po.digest) =>
          Some(s"output digest ${po.digest} differs from the first pass's")
        case Right(po) =>
          if (measured && firstDigest.isEmpty) firstDigest = Some(po.digest)
          None
      }
      val layer =
        if (!traced) Map.empty[String, Double]
        else {
          val ev = tracer.endPass()
          tracer.detach(spark)
          tracer.spans.find(s => s.pass == i && s.name == s"pass-$i") match {
            case Some(ps) => tracer.passMetrics(ps, ev, cg1 - cg0, cls1 - cls0,
              ctx.attrs.toMap, ctx.progress)
            case None => Map.empty[String, Double]
          }
        }
      // live heap after the pass: collect, let the ContextCleaner drop the
      // blocks of unreachable frames, collect again
      System.gc(); Thread.sleep(200); System.gc()
      val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / Tracer.MB
      error.foreach(e => log(s"pass $i FAILED: $e"))
      Outcome(i, traced, wallMs, res.toOption, error, heapMb, layer)
    }

    // set-up: session start plus one checked warm-up pass, [[Setups]]
    // times; the first is timed from JVM start, less input generation
    val setups = (0 until Setups).map { k =>
      val t0 = if (k == 0) jvmStartMs + genMs else Clock.nowMs
      if (spark != null) spark.stop()
      spark = newSession(cores, o.work)
      spark.sparkContext.setLogLevel("WARN")
      spark.streams.addListener(progress)
      val warmOut = runPass(warm, -1 - k, traced = false, measured = false)
      warmOut.error.foreach(e => throw new IllegalStateException(s"warm-up pass failed: $e"))
      (Clock.nowMs - t0) / 1000
    }

    val deadline = Clock.nowMs + o.seconds * 1000.0
    val minPasses = if (o.trace) 2 else 1
    val outcomes = mutable.ArrayBuffer[Outcome]()
    while (outcomes.size < minPasses || Clock.nowMs < deadline) {
      val i = outcomes.size
      outcomes += runPass(main, i, traced = o.trace && i % 2 == 0, measured = true)
    }
    val sparkVersion = spark.version
    spark.stop()

    val ok = outcomes.filter(_.ok).toSeq
    val failed = outcomes.size - ok.size
    def walls(xs: Seq[Outcome]) = xs.map(_.wallMs / 1000)
    val batches = ok.flatMap(_.out.get.batchMs)
    val e2e: Map[String, Double] = Map(
      "setup_s" -> Stats.median(setups),
      "wall_s" -> Stats.median(walls(ok)),
      "lines_per_s" -> Stats.median(ok.map(x => x.out.get.inputLines / (x.out.get.drainMs / 1000))),
      "batch_p50_ms" -> Stats.quantile(batches, 0.5),
      "batch_p90_ms" -> Stats.quantile(batches, 0.9),
      "live_heap_peak_mb" -> outcomes.map(_.heapMb).max)
    val samples: Map[String, Int] = Map("setup_s" -> setups.size, "wall_s" -> ok.size,
      "lines_per_s" -> ok.size, "batch_p50_ms" -> batches.size,
      "batch_p90_ms" -> batches.size, "live_heap_peak_mb" -> outcomes.size)
    val tracedOk = ok.filter(_.traced)
    val layer: Map[String, Double] =
      if (!o.trace) Map.empty
      else PerLayer.map(_._1).map { k =>
        k -> Stats.median(tracedOk.map(_.layer.getOrElse(k, 0.0)))
      }.toMap + ("trace.overhead_share" -> {
        val plain = Stats.median(walls(ok.filterNot(_.traced)))
        if (plain == 0) 0.0 else Stats.median(walls(tracedOk)) / plain - 1
      })

    val jdk = System.getProperty("java.version")
    log(s"workload=${w.name} seed=${o.seed} cores=$cores commit=${o.commit} " +
      s"jdk=$jdk spark=$sparkVersion trace=${if (o.trace) 1 else 0}")
    EndToEnd.foreach { case (k, u) => log(f"$k = ${e2e(k)}%.4f $u (n=${samples(k)})") }
    log(s"fail_ratio = ${failed.toDouble / outcomes.size} " +
      s"($failed of ${outcomes.size} passes)")
    if (o.trace) PerLayer.foreach { case (k, u) =>
      log(f"$k = ${layer(k)}%.4f $u (n=${tracedOk.size})") }

    val reported = if (o.trace) PerLayer else EndToEnd
    val values = if (o.trace) layer else e2e
    val result = Json.obj(
      "correct" -> (failed == 0 && ok.nonEmpty),
      "attempted" -> outcomes.size,
      "failed" -> failed,
      "metrics" -> Json.obj(reported.map { case (k, u) =>
        k -> Json.obj("value" -> values(k), "unit" -> u) }: _*))

    val key = Seq(w.name, if (o.trace) "traced" else "plain", o.commit.take(12),
      s"c$cores", s"s${o.seed}", s"jdk$jdk", s"spark$sparkVersion").mkString("_")
    Files.createDirectories(o.results)
    val record = Json.obj(
      "workload" -> w.name, "seed" -> o.seed, "trace" -> o.trace, "commit" -> o.commit,
      "cores" -> cores, "jdk" -> jdk, "spark" -> sparkVersion,
      "confs" -> Json.obj(confs(cores).map { case (k, v) => k -> v }: _*),
      "seconds" -> o.seconds, "input_digest" -> inputDigest, "generate_s" -> genMs / 1000,
      "setup_samples_s" -> setups,
      "passes" -> outcomes.map(x => Json.obj("pass" -> x.pass, "traced" -> x.traced,
        "wall_s" -> (if (x.ok) x.wallMs / 1000 else null), "ok" -> x.ok,
        "error" -> x.error.orNull, "heap_mb" -> x.heapMb,
        "digest" -> x.out.map(_.digest).orNull)),
      "fail_ratio" -> failed.toDouble / outcomes.size,
      "end_to_end" -> Json.obj(EndToEnd.map { case (k, u) =>
        k -> Json.obj("value" -> e2e(k), "unit" -> u, "samples" -> samples(k)) }: _*),
      "per_layer" -> Json.obj(PerLayer.filter(_ => o.trace).map { case (k, u) =>
        k -> Json.obj("value" -> layer(k), "unit" -> u, "samples" -> tracedOk.size) }: _*),
      "result" -> result)
    Files.write(o.results.resolve(key + ".json"), (record.toString + "\n").getBytes(UTF_8))
    if (o.trace) {
      val self = Span.selfMs(tracer.spans.toSeq)
      val lines = tracer.spans.map(s => Json.obj("id" -> s.id, "parent" -> s.parent,
        "pass" -> s.pass, "name" -> s.name, "kind" -> s.kind, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "dur_ms" -> s.durMs, "self_ms" -> self(s.id)).toString)
      Files.write(o.results.resolve(key + ".spans.jsonl"),
        lines.mkString("", "\n", "\n").getBytes(UTF_8))
    }
    log(s"record written to ${o.results.resolve(key + ".json")}")
    result.toString
  }
}

/** Minimal JSON rendering for the result line and records. */
final case class Json(rendered: String) {
  override def toString: String = rendered
}

object Json {
  def obj(kvs: (String, Any)*): Json =
    Json(kvs.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}"))

  private def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\""); case '\\' => sb.append("\\\\")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case j: Json => j.rendered
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case Some(x) => value(x)
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
