package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/**
 * Dev probe over the bench rows and the registered queries, on
 * SPARK_GRAFT_SF_DIR with SPARK_GRAFT_CPUS cores:
 *
 *  - `Probe time <row-or-query>...` runs each named Bench row through
 *    Bench's own loop and stager (warm pass, then the row's reps); any
 *    other registered query runs on the sf dir with 3 reps. Prints the
 *    per-rep seconds and their min, or `error`.
 *  - `Probe plan <outDir> <query>...` executes each registered query, then
 *    writes its AQE-final formatted plan, followed by the plan of every
 *    eager staging barrier it passed (Staging.DumpDirKey), to
 *    `<outDir>/<query>.txt`, and prints the exchange and codegen-operator
 *    counts.
 *
 * Not a published number: Bench is the per-row record, layerbench the
 * end-to-end one.
 */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(Sessions.cpus)
    try args.toList match {
      case "time" :: names => time(spark, names)
      case "plan" :: outDir :: names => plan(spark, outDir, names)
      case _ => System.err.println(
        "usage: Probe time <row-or-query>... | Probe plan <outDir> <query>...")
    } finally spark.stop()
  }

  private def time(spark: SparkSession, names: Seq[String]): Unit = {
    val rows = Bench.rows
    val probed = names.map(n => rows.find(_.name == n).getOrElse(Bench.query(n)))
    Bench.measure(spark, Bench.sfDir, probed).foreach {
      case Bench.Result(name, Some(ts)) =>
        println(f"[probe] $name min=${ts.min}%.3f reps=${ts.map(t => f"$t%.3f").mkString(",")}")
      case Bench.Result(name, None) => println(s"[probe] $name error")
    }
  }

  private def plan(spark: SparkSession, outDir: String, names: Seq[String]): Unit = {
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val stagedDir = Files.createTempDirectory(s"probe-$name-").toString
      spark.conf.set(graft.pipeline.Staging.DumpDirKey, stagedDir)
      try {
        val df = SparkEntry.queries(name)(spark, Bench.sfDir)
        // execute THIS frame (not a count() over it) so its plan is AQE-final
        df.queryExecution.toRdd.foreach(_ => ())
        val segs = Option(new java.io.File(stagedDir).listFiles())
          .getOrElse(Array.empty).sortBy(_.getName)
          .map(f => new String(Files.readAllBytes(f.toPath), "UTF-8"))
        val text = df.queryExecution.explainString(ExplainMode.fromString("formatted")) +
          segs.mkString("\n", "\n", "")
        val path = s"$outDir/$name.txt"
        Files.write(Paths.get(path),
          (s"== $name @ ${Bench.sfDir} ==\n" + text).getBytes("UTF-8"))
        val lines = text.linesIterator.toSeq
        // formatted mode tags each codegen'd operator with [codegen id : n]
        val codegenOps = lines.count(_.contains("codegen id"))
        val exchanges = lines.count(l =>
          l.contains(") Exchange") || l.contains("Exchange ("))
        println(s"[probe] $name exchanges=$exchanges codegen-operators=$codegenOps " +
          s"(incl. ${segs.length} staged segments) -> $path")
      } catch { case e: Throwable => println(s"[probe] $name error: $e") }
      finally spark.conf.unset(graft.pipeline.Staging.DumpDirKey)
    }
  }
}
