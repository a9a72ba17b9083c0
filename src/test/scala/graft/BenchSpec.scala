package graft

import org.apache.spark.sql.functions._

/** The bench must be failure-honest: a query that throws may not
  * contribute a timing (a regression must never make the artifact look
  * faster) and must poison the exit code; healthy queries still report. */
class BenchSpec extends SparkTestBase {

  /** The artifact line and exit code [[Measure.emit]] would produce. */
  private def rendered(artifact: org.json4s.JValue): (String, Int) =
    (Measure.render(artifact), Measure.exitCode(artifact))

  test("a deliberately-broken query fails the run and is excluded from totals") {
    val good = Map("q_ok" -> ((s: org.apache.spark.sql.SparkSession, d: String) =>
      s.range(10).select(col("id"))))
    // fails at scan time — count() cannot prune it away like a
    // projection-only failure (count drops unreferenced columns)
    val bad = Map("q_boom" -> ((s: org.apache.spark.sql.SparkSession, d: String) =>
      s.read.parquet(s"$d/no_such_table.parquet")))
    val (json, exit) = rendered(Bench.run(spark, sf, good ++ bad, Map.empty, runs = 1))
    assert(exit === 1)
    assert(json.contains("\"q_ok\":"))
    assert(!json.contains("\"q_boom\":0"), json) // no fake timing
    assert(json.contains("\"n_failed\":1"), json)
    assert(json.contains("\"errors\":{\"q_boom\":"), json)
  }

  test("a clean run exits zero with every query timed and loadavg recorded") {
    val qs = Map(
      "q_a" -> ((s: org.apache.spark.sql.SparkSession, d: String) => s.range(5).toDF()),
      "q_b" -> ((s: org.apache.spark.sql.SparkSession, d: String) => s.range(7).toDF()))
    val (json, exit) = rendered(Bench.run(spark, sf, qs, Map.empty, runs = 1))
    assert(exit === 0)
    assert(json.contains("\"q_a\":") && json.contains("\"q_b\":"))
    assert(json.contains("\"loadavg_pre\":"), json)
    assert(json.contains("\"n_failed\":0"), json)
    // self-certification: the artifact always carries the contention
    // verdict and the threshold it was judged against
    assert(json.contains("\"contended\":true") ||
           json.contains("\"contended\":false"), json)
    assert(json.contains("\"max_loadavg\":"), json)
  }

  test("stage warm-up and server bench report as artifact fields") {
    val qs = Map(
      "q_a" -> ((s: org.apache.spark.sql.SparkSession, d: String) => s.range(5).toDF()))
    var warmedBeforeTiming = false
    val (json, exit) = rendered(Bench.run(spark, sf, qs, Map.empty, runs = 1,
      stageWarm = Some((_, _) => { warmedBeforeTiming = true
        Map("fake_stage" -> 1.25) }),
      serverBench = Some(() => 99.5)))
    assert(exit === 0)
    assert(warmedBeforeTiming)
    assert(json.contains("\"stage_build\":{\"fake_stage\":1.25}"), json)
    assert(json.contains("\"server_rps\":99.5"), json)
  }
}
