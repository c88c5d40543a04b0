package graft

import Bench.{Result, Row, Sf}

/** Bench's one timing loop and its report: a failing row reads "error",
  * counts toward `errors`, and stays out of every sum; a throwing warm
  * pass fails only its own row. */
class BenchSpec extends SparkSpec {

  private def ok(spark: org.apache.spark.sql.SparkSession, dir: String): Unit =
    spark.range(100).selectExpr("id * 2 AS x")
      .write.format("noop").mode("overwrite").save()

  private def boom(spark: org.apache.spark.sql.SparkSession, dir: String): Unit =
    throw new IllegalStateException("row failed")

  private def number(json: String, key: String): Double =
    ("\"" + key + "\":([0-9.]+)").r.findFirstMatchIn(json).get.group(1).toDouble

  test("a failing row publishes error, counts in errors, and joins no sum") {
    val results = Bench.measure(spark, "unused",
      Seq(Row("good", Sf, 3, ok), Row("bad", Sf, 3, boom)))
    assert(results.map(_.name) === Seq("good", "bad"))
    val good = results.head.times.get
    assert(good.size === 3 && good.forall(_ > 0))
    assert(results(1).times === None)

    val (json, summary) = Bench.report(results, headline = Seq("good", "bad"),
      throughput = Seq("good_per_sec" -> Some(10.0), "bad_per_sec" -> None),
      sfDir = "unused", full = "record.json")
    assert(json.contains("\"bad\":\"error\""))
    assert(summary.contains("\"errors\":1"))
    assert(summary.contains("\"rows\":2"))
    assert(summary.contains("\"bad_per_sec\":\"error\""))
    val min = "%.3f".formatLocal(java.util.Locale.ROOT, good.min).toDouble
    for (line <- Seq(json, summary)) {
      assert(number(line, "value") === min)
      assert(number(line, "sum_all_rows") === min)
    }
    assert(number(json, "good") === min)
    assert(number(json, "reps") === 3)
  }

  test("the loop finishes when a warm pass throws; only that row errors") {
    var calls = 0
    val failsOnWarm = Row("warm_fails", Sf, 2, { (s, d) =>
      calls += 1
      if (calls == 1) throw new IllegalStateException("warm failed")
      ok(s, d)
    })
    val results = Bench.measure(spark, "unused",
      Seq(failsOnWarm, Row("after", Sf, 2, ok)))
    assert(results === Seq(Result("warm_fails", None), results(1)))
    assert(calls === 1)
    assert(results(1).times.map(_.size) === Some(2))
  }

  test("a corpus whose staging throws fails its rows, not the loop") {
    val broken = Bench.Corpus("broken", (_, _) => sys.error("staging failed"))
    val results = Bench.measure(spark, "unused",
      Seq(Row("staged", broken, 2, ok), Row("uniform", Sf, 2, ok)))
    assert(results.map(r => r.name -> r.times.isDefined) ===
      Seq("staged" -> false, "uniform" -> true))
  }

  test("the bench row table keeps unique names and each row's rep count") {
    val rows = Bench.rows
    assert(rows.map(_.name).distinct.size === rows.size)
    assert(rows.size === 117)
    val reps = rows.map(r => r.name -> r.reps).toMap
    assert(reps("execute_sql") === 3)
    assert(reps("x10_dedup_minhash_lsh") === 5)
    assert(reps("x10_longdoc_dedup_substrings") === 5)
    assert(reps("massdup_dedup_substrings") === 2)
    assert(reps("skew_dedup_semantic_unblocked") === 1)
    assert(reps("streaming_tail_e2e") === 5)
    assert(rows.filterNot(_.warm).map(_.name).toSet ===
      Set("massdup_dedup_substrings", "skew_dedup_semantic_unblocked"))
  }
}
