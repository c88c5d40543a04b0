package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}

/**
 * Flow-graph runtime glue — SURVEY §2.10/§3.1.
 *
 * The reference's scheduling/connection plane maps onto Structured
 * Streaming: a processor chain is a DataFrame transform composition, a
 * Connection hand-off is a micro-batch boundary, and per-relationship
 * fan-out (ProcessSession::routeFlowFile, ProcessSession.cpp:804) becomes a
 * relationship-partitioned sink — one `foreachBatch` write, partitioned by
 * the relationship column, so each edge lands in its own directory without
 * N separate filtered queries.
 */
object FlowRuntime {

  /** ProcessorMetrics' transfer ledger (ProcessSession.cpp:858-866:
    * FlowFile count + content bytes per relationship recorded at each
    * session commit) — the micro-batch IS the session commit here, so
    * observed metrics on the routed frame surface the same ledger per
    * batch through QueryProgressEvent.observedMetrics (and through
    * QueryExecutionListener for a batch sweep). Executor-side accumulator
    * arithmetic only — no extra action, no shuffle. */
  def observeTransfers(routed: DataFrame, relationships: Seq[String],
                       name: String = "transfers"): DataFrame = {
    import graft.core.FlowFrame
    def bytes(filter: Column): Column = coalesce(
      sum(when(filter, length(col(FlowFrame.Content).cast("binary")))),
      lit(0L))
    val aggs: Seq[Column] =
      Seq(count(lit(1)).as("rows"), bytes(lit(true)).as("bytes")) ++
        relationships.flatMap(r => Seq(
          count(when(col(FlowFrame.Relationship) === r, 1)).as(s"rows_$r"),
          bytes(col(FlowFrame.Relationship) === r).as(s"bytes_$r")))
    routed.observe(name, aggs.head, aggs.tail: _*)
  }

  /** Relationship-partitioned sink: every micro-batch writes each output
    * edge under <root>/relationship=<name>/ (parquet). The micro-batch is
    * the reference's per-trigger session commit (ProcessSession.cpp:855). */
  def relationshipSink(routed: DataFrame, root: String): DataStreamWriter[Row] =
    routed.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      batch.write.mode("append")
        .partitionBy("relationship")
        .parquet(root)
    }

  /** Start + drain helper for batch-like runs (tests, cron ticks). */
  def runAvailable(writer: DataStreamWriter[Row], checkpoint: String): StreamingQuery = {
    val q = writer.option("checkpointLocation", checkpoint).start()
    q.processAllAvailable()
    q
  }
}
