package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: Verify, EntrySmoke, Bench, Probe and the test
  * suite all build their local session here, so every entry point runs
  * under the same confs. */
object Sessions {

  /** Core count for the mains: `SPARK_GRAFT_CPUS`, else every available
    * processor. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cpus]` session with one shuffle partition per core, UTC
    * session time, TIMESTAMP(NANOS) parquet read as epoch longs (the
    * events fixture ships that encoding; `SparkEntry.events` adapts), no
    * UI, and WARN logging. */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
