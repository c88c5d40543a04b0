package graft

import org.apache.spark.sql.functions._
import graft.pipeline.{Bm25, Classifier, Perplexity, Similarity, Staging}

/**
 * The pluggable staging barrier (Staging.stage): all three modes —
 * localCheckpoint (default), reliable checkpoint (fault-tolerant at
 * cluster scale), none (pure lineage) — must compute the SAME frame.
 * The mode moves only where the bytes live between the producing scan
 * and its consumers, never what they contain.
 */
class StagingSpec extends SparkSpec {

  private def withMode[T](mode: String)(body: => T): T = {
    val prev = spark.conf.getOption(Staging.ConfKey)
    spark.conf.set(Staging.ConfKey, mode)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(Staging.ConfKey, v)
      case None    => spark.conf.unset(Staging.ConfKey)
    }
  }

  private lazy val docs = spark.createDataFrame(Seq(
    (1L, "spark shuffles data between stages"),
    (2L, "spark stages read shuffled data"),
    (3L, "ducks prefer calm shallow water"),
    (4L, "calm water helps ducks sleep"),
    (5L, "spark data pipelines dedup documents")))
    .toDF("doc_id", "text")

  private lazy val queries = spark.createDataFrame(Seq(
    (101L, "spark data"), (102L, "calm ducks")))
    .toDF("qid", "qtext")

  private lazy val emb = spark.createDataFrame(
    (0L until 12L).map(i => (i, Array(1.0f + 0.01f * i, 0.5f, -0.2f, 0.0f))) ++
      Seq((50L, Array(0.0f, 1.0f, 0.3f, 0.0f)),
        (51L, Array(0.0f, 0.0f, -1.0f, 0.4f))))
    .toDF("vec_id", "embedding")

  private def bm25Rows(): Seq[String] =
    Bm25.topK(docs, queries, k = 2)
      .collect().map(_.toString).sorted.toSeq

  private def semRows(): Seq[String] =
    Similarity.semDedup(emb, threshold = 0.9, nCentroids = 2,
      lloydIters = 2, saltBlockSize = 4)
      .collect().map(_.toString).sorted.toSeq

  test("staging modes compute identical results (BM25 sliver + SemDeDup " +
       "Lloyd rounds); reliable survives with a checkpoint dir set") {
    val ckptDir = java.nio.file.Files
      .createTempDirectory("graft-staging-ckpt").toString
    spark.sparkContext.setCheckpointDir(ckptDir)
    val local = withMode("local") { (bm25Rows(), semRows()) }
    val reliable = withMode("reliable") { (bm25Rows(), semRows()) }
    val none = withMode("none") { (bm25Rows(), semRows()) }
    assert(reliable === local)
    assert(none === local)
    // reliable mode actually wrote durable checkpoint data
    val wrote = new java.io.File(ckptDir).listFiles()
    assert(wrote != null && wrote.nonEmpty)
  }

  test("the plan dump writes a segment only when the barrier executed") {
    def dumps(mode: String): Int = {
      val dir = java.nio.file.Files.createTempDirectory("graft-dump").toFile
      spark.conf.set(Staging.DumpDirKey, dir.toString)
      try withMode(mode) { Staging.stage(docs).collect() }
      finally spark.conf.unset(Staging.DumpDirKey)
      Option(dir.listFiles()).fold(0)(_.length)
    }
    assert(dumps("none") === 0)
    assert(dumps("local") === 1)
  }

  test("an unknown staging mode fails loudly, not silently") {
    withMode("banana") {
      val ex = intercept[IllegalArgumentException] { bm25Rows() }
      assert(ex.getMessage.contains("banana"))
    }
  }

  test("each fused scorer runs once per row: the optimized plan holds " +
       "one kernel call, not one per projected field") {
    def calls(kernel: String, df: org.apache.spark.sql.DataFrame): Int =
      kernel.r.findAllIn(df.queryExecution.optimizedPlan.toString).size
    // a range-built corpus: over a local relation the optimizer would fold
    // the whole plan into a LocalRelation and hide the kernel calls
    val texts = docs.collect().map(_.getString(1)).toSeq
    val labeled = spark.range(texts.size).select(col("id").as("doc_id"),
      element_at(typedLit(texts), col("id").cast("int") + 1).as("text"),
      (col("id") < 2L).as("ref"))
    withMode("none") {
      assert(calls("graft_kn_score", Perplexity.perplexityBucketsKN(
        labeled, col("doc_id"), col("text"), col("ref"), buckets = 64)) === 1)
      assert(calls("graft_token_score", Classifier.logisticScores(
        labeled, col("doc_id"), col("text"), col("ref"), buckets = 64,
        steps = 1)) === 1)
    }
  }
}
