package layerbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.el.ElCompiler
import graft.flow.{FlowConfig, FlowDef, FlowRunner, FlowStreaming}
import graft.pipeline._
import graft.pipeline.Staging._

/** A pass's output disagrees with the facts its generator planted. */
final class CheckFailed(msg: String) extends Exception(msg)

/** What a workload's pass sees of the harness: call spans, per-pass
  * counters, and the streaming progress of the pass. */
final class PassCtx(val spark: SparkSession, tracer: Option[Tracer],
                    progressSource: () => Seq[StreamingQueryProgress]) {
  val attrs: collection.mutable.Map[String, Double] = collection.mutable.Map()
  var progress: Seq[StreamingQueryProgress] = Nil

  def span[A](name: String)(body: => A): A =
    tracer.fold(body)(_.span(spark, name)(body))

  def attr(k: String, v: Double): Unit = attrs(k) = v

  /** Wait for the pass's streaming progress events and keep them. */
  def takeProgress(): Seq[StreamingQueryProgress] = {
    progress = progressSource(); progress
  }

  def expect(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new CheckFailed(msg)
}

/** One pass's checked result. `digest` must repeat on every pass;
  * `drainMs` is the time the input took to go through (the whole pass for
  * batch workloads); `batchMs` the pass's commit-unit latencies. */
final case class PassOut(digest: String, inputLines: Long, drainMs: Double,
                         batchMs: Seq[Double])

trait Workload {
  def name: String
  type In
  /** Write the inputs under `dir`; `warm` asks for the smaller warm-up set. */
  def generate(dir: Path, seed: Long, warm: Boolean): In
  /** One pass from input to checked output under the fresh directory `out`. */
  def pass(in: In, out: Path, ctx: PassCtx, wallStartMs: Double): PassOut
}

object Workloads {
  val all: Seq[Workload] = Seq(FlowSweep, LogTail, Curate)
  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$n' (known: ${all.map(_.name).mkString(", ")})"))

  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(UTF_8)).map(b => f"$b%02x").mkString

  def read(p: Path): String = new String(Files.readAllBytes(p), UTF_8)

  /** Compile every EL-bearing property of the flow directly, as the flow
    * build does; returns how many were compiled. */
  def compileEl(flow: FlowDef, vars: Map[String, String]): Int =
    ElCompiler.withVariables(vars) {
      flow.processors.flatMap(_.properties.values).filter(_.contains("${"))
        .map(ElCompiler.template(_)).size
    }

  def countFiles(dir: Path, suffix: String = ""): Long =
    if (!Files.isDirectory(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(suffix) &&
        !p.getFileName.toString.startsWith(".")).count()
      finally s.close()
    }

  /** A 31-bit hash, so sums of many stay far from overflow. */
  def hash31(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(xxhash64(c), lit(Int.MaxValue.toLong))

  /** Order-independent fingerprint of a content column. */
  def hashSum(content: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    coalesce(sum(hash31(content)), lit(0L))
}

import Workloads._

/** Batch sweeps of a generated MiNiFi flow over a generated log directory. */
object FlowSweep extends Workload {
  val name = "flow_sweep"
  final case class In(dir: Path, facts: Gen.SweepFacts)
  val FileCount = 8
  val LinesPerFile = 600
  val WarmLinesPerFile = 500

  def generate(dir: Path, seed: Long, warm: Boolean): In = {
    val facts = Gen.flowSweep(dir.resolve("in"), seed, FileCount,
      if (warm) WarmLinesPerFile else LinesPerFile)
    Files.write(dir.resolve("flow.yml"),
      Gen.sweepFlowYaml(dir.resolve("in").toAbsolutePath).getBytes(UTF_8))
    In(dir, facts)
  }

  def pass(in: In, out: Path, ctx: PassCtx, wallStartMs: Double): PassOut = {
    val spark = ctx.spark
    val vars = Map("bench.out" -> out.toAbsolutePath.toString)
    val flow = ctx.span("parse")(FlowConfig.parse(read(in.dir.resolve("flow.yml"))))
    ctx.attr("el.expressions", ctx.span("el_compile")(compileEl(flow, vars)))
    val result = ctx.span("assemble")(FlowRunner.run(spark, flow, variables = vars))
    ctx.attr("flow.processors", flow.processors.size)
    ctx.attr("flow.persisted", result.persisted.size)
    val edges = out.resolve("edges").toString
    try {
      // terminal edges: every relationship of the processors nothing
      // consumes, written once, partitioned by processor and relationship
      val sinks = flow.processors.filterNot(p => flow.connections.exists(_.sourceId == p.id))
      ctx.span("write_edges") {
        sinks.map(p => result.output(p.id).select(lit(p.name).as("processor"),
            col("relationship"), col("content").cast("string").as("content")))
          .reduce(_ unionByName _)
          .write.partitionBy("processor", "relationship").parquet(edges)
      }
      ctx.span("check") {
        val got = spark.read.parquet(edges)
          .select(col("processor"), col("relationship"), length(col("content")).as("len"),
            aggregate(transform(split(col("content"), "\n"), l => hash31(l)),
              lit(0L), (a, b) => a + b).as("h"))
          .groupBy("processor", "relationship")
          .agg(count(lit(1)), sum(col("len")), sum(col("h")))
          .collect().map(r => (r.getString(0), r.getString(1)) ->
            (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
        val f = in.facts
        val w = Gen.LineWidth.toLong
        val bins = f.nonErrorsPerService.values.map(n => (n + Gen.BinEntries - 1) / Gen.BinEntries).sum
        val mergedBytes = f.nonErrorsPerService.values.map { n =>
          n * w + n - (n + Gen.BinEntries - 1) / Gen.BinEntries }.sum
        val want = Map(("put_errors", "success") -> (f.errors, f.errors * w),
          ("put_merged", "success") -> (bins, mergedBytes))
        ctx.expect(got.view.mapValues(v => (v._1, v._2)).toMap == want,
          s"terminal edges (count, bytes) $got, planted $want")
        ctx.expect(countFiles(out.resolve("errors")) == f.errors &&
          countFiles(out.resolve("merged")) == bins,
          "PutFile wrote the wrong number of files")
        val passMs = Clock.nowMs - wallStartMs
        PassOut(sha256(got.toSeq.sortBy(_._1).mkString(";")), f.lines, passMs, Seq(passMs))
      }
    } finally result.release()
  }
}

/** The streaming flow from config: TailFile over generated multi-line logs,
  * drained under admission control in many micro-batches. */
object LogTail extends Workload {
  val name = "log_tail"
  final case class In(dir: Path, facts: Gen.TailFacts)
  val FileCount = 4
  val MessagesPerFile = 320
  val WarmMessagesPerFile = 60
  /** Lines admitted per micro-batch ("max work queue size"). */
  val MaxQueue = 200

  def generate(dir: Path, seed: Long, warm: Boolean): In = {
    val facts = Gen.logTail(dir.resolve("in"), seed, FileCount,
      if (warm) WarmMessagesPerFile else MessagesPerFile)
    Files.write(dir.resolve("flow.yml"),
      Gen.tailFlowYaml(dir.resolve("in").toAbsolutePath, MaxQueue).getBytes(UTF_8))
    In(dir, facts)
  }

  def pass(in: In, out: Path, ctx: PassCtx, wallStartMs: Double): PassOut = {
    val spark = ctx.spark
    val sink = out.resolve("sink").toString
    val flow = ctx.span("parse")(FlowConfig.parse(read(in.dir.resolve("flow.yml"))))
    ctx.attr("el.expressions", ctx.span("el_compile")(compileEl(flow, Map.empty)))
    ctx.attr("flow.processors", flow.processors.size)
    val t0 = Clock.nowMs
    val q = ctx.span("drain")(FlowStreaming.run(spark, flow, sink,
      out.resolve("checkpoint").toString))
    val drainMs = Clock.nowMs - t0
    q.stop()
    ctx.span("check") {
      val progress = ctx.takeProgress()
      val consumed = progress.map(_.numInputRows).sum
      ctx.expect(consumed == in.facts.lines,
        s"consumed $consumed lines, generated ${in.facts.lines}")
      val got = spark.read.parquet(sink).groupBy("relationship")
        .agg(count(lit(1)).as("n"), hashSum(col("content")).as("h"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val want = in.facts.emittedPerLevel.map { case (lvl, n) =>
        (lvl match { case "ERROR" => "errors"; case "WARN" => "warnings"; case _ => "unmatched" }) -> n }
      ctx.expect(got.view.mapValues(_._1).toMap == want,
        s"reassembled messages per relationship $got, planted $want")
      ctx.attr("sink.files", countFiles(Path.of(sink), ".parquet").toDouble)
      PassOut(sha256(got.toSeq.sorted.mkString(";")), in.facts.lines, drainMs,
        progress.filter(_.numInputRows > 0).map(_.batchDuration.toDouble))
    }
  }
}

/** The curation pipeline over a generated corpus with planted duplicates,
  * near-duplicates, boilerplate and a labelled reference source. */
object Curate extends Workload {
  val name = "curate"
  final case class In(dir: Path, facts: Gen.CurateFacts)
  val Docs = 3000
  val WarmDocs = 2500
  val PackBudget = 512L
  val PackSeed = "layerbench-pack"
  val Merges = 512
  /** Share of the planted near-duplicate pairs MinHash-LSH must verify. */
  val MinNearDupRecall = 0.9
  /** Hashed feature buckets of the perplexity and classifier models. */
  val ScoreBuckets = 256

  def generate(dir: Path, seed: Long, warm: Boolean): In =
    In(dir, Gen.curate(dir.resolve("in"), seed, if (warm) WarmDocs else Docs))

  def pass(in: In, out: Path, ctx: PassCtx, wallStartMs: Double): PassOut = {
    val spark = ctx.spark
    import spark.implicits._
    val f = in.facts
    val docs = spark.read.schema("doc_id LONG, source STRING, text STRING")
      .json(in.dir.resolve("in").toString)
    val text = col("text")
    val id = col("doc_id")

    val filtered = ctx.span("filter") {
      val keep = TextAnalysis.gopherRules(text).toMap.apply("keep")
      docs.filter(keep).staged
    }
    val nFiltered = filtered.count()
    ctx.expect(nFiltered == f.docs - f.boilerplate,
      s"quality filter kept $nFiltered of ${f.docs}, planted ${f.boilerplate} boilerplate")

    val deduped = ctx.span("exact_dedup") {
      val keep = Dedup.exact(filtered, id, text).select(col("keepId"))
      filtered.join(keep, id === col("keepId"), "left_semi").staged
    }
    val groupIds = f.exactGroups.flatten
    val kept = deduped.filter(id.isin(groupIds: _*)).select(id).as[Long].collect().toSet
    ctx.expect(f.exactGroups.forall(g => g.count(kept) == 1 && kept(g.min)),
      "an exact-duplicate group did not leave exactly its first document")

    val (pairs, nCands, unique) = ctx.span("near_dedup") {
      val sigs = Dedup.minHashSignatures(deduped, id, text, 5, 8)
      val cands = Dedup.minHashLshPairs(sigs, 8, 2).staged
      val verified = Dedup.verifyCandidates(deduped, cands, id, text, 5, 30)
        .select(col("idA"), col("idB")).as[(Long, Long)].collect().toSet
      val drop = verified.map(_._2).toSeq
      (verified, cands.count(), deduped.filter(!id.isin(drop: _*)).staged)
    }
    // LSH recall is probabilistic, so the check is a floor; the share
    // found is reported as pipeline.near_dup_recall
    val found = f.nearPairs.count(pairs)
    ctx.expect(found >= math.ceil(MinNearDupRecall * f.nearPairs.size),
      s"verified $found of ${f.nearPairs.size} planted near-duplicate pairs; missing " +
        f.nearPairs.filterNot(pairs).take(5).mkString(", "))
    ctx.attr("pipeline.near_dup_recall", found.toDouble / f.nearPairs.size)
    ctx.attr("pipeline.lsh_yield", if (nCands == 0) 0.0 else pairs.size.toDouble / nCands)

    val scored = ctx.span("score") {
      val isRef = col("source") === "ref"
      val ppl = Perplexity.perplexityBucketsKN(unique, id, text, isRef, buckets = ScoreBuckets)
        .select(col("docId").as("doc_id"), col("ppl_bucket"))
      val cls = Classifier.logisticScores(unique, id, text, isRef,
        buckets = ScoreBuckets, steps = 1)
        .select(col("docId").as("doc_id"), col("probMicro").as("prob_micro"))
      unique.join(ppl, "doc_id").join(cls, "doc_id").staged
    }

    val (splitDf, packed) = ctx.span("split_pack") {
      val s = Sampling.trainValTestSplit(scored, id, "layerbench", 0.8, 0.1).staged
      val p = Sampling.packSequences(s.filter(col("split") === "train"), id,
        size(split(text, " ")).cast("long"), PackBudget, PackSeed).staged
      (s, p)
    }
    val packRows = packed.select(col("docId"), col("n_tokens"), col("bin"))
      .as[(Long, Long, Long)].collect()
    checkPacking(packRows, ctx)

    val merges = ctx.span("tokenizer") {
      Bpe.train(splitDf.filter(col("split") === "train"), text, Merges,
        maxBatch = 512, maxRounds = 24).collect()
    }
    ctx.expect(merges.length == Merges, s"BPE learned ${merges.length} merges, want $Merges")

    ctx.span("write") {
      splitDf.join(packed.select(col("docId").as("doc_id"), col("bin")), Seq("doc_id"), "left")
        .select(id, col("source"), col("split"), col("ppl_bucket"), col("prob_micro"),
          col("bin"), text)
        .write.partitionBy("split").parquet(out.resolve("curated").toString)
    }
    val perSplit = spark.read.parquet(out.resolve("curated").toString)
      .groupBy("split").agg(count(lit(1)),
        count(when(col("ppl_bucket") === "head", 1)),
        sum(col("prob_micro").cast("long")), coalesce(sum("bin"), lit(0L)))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sorted
    val nUnique = unique.count()
    ctx.expect(perSplit.map(_._2).sum == nUnique,
      s"curated output holds ${perSplit.map(_._2).sum} documents, want $nUnique")
    val digest = sha256(Seq(pairs.toSeq.sorted.mkString(";"), perSplit.mkString(";"),
      packRows.sorted.mkString(";"), merges.map(_.toSeq.mkString(",")).mkString(";"))
      .mkString("|"))
    val passMs = Clock.nowMs - wallStartMs
    PassOut(digest, f.docs, passMs, Seq(passMs))
  }

  /** Replays the packing on the driver: documents in md5(seed|id) order,
    * bin = exclusive token prefix sum div budget. Every bin's documents
    * thus start inside one budget-sized window. */
  private def checkPacking(rows: Seq[(Long, Long, Long)], ctx: PassCtx): Unit = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def key(id: Long): String =
      md.digest(s"$PackSeed|$id".getBytes(UTF_8)).map(b => f"$b%02x").mkString
    var start = 0L
    val bad = rows.sortBy(r => key(r._1)).filter { case (_, n, bin) =>
      val wrong = bin != start / PackBudget
      start += n; wrong
    }
    ctx.expect(rows.nonEmpty && bad.isEmpty,
      s"${bad.size} of ${rows.size} documents packed outside their $PackBudget-token bin")
  }
}
