package graft

/** Micro-bench for the optimization loop: time the named registered
  * queries with EXACTLY Bench.timeQuery's methodology (same session
  * posture, same reap, median of 3) without paying for the full board —
  * the measure/fix/re-measure inner loop of guide §1.
  *
  * Usage: TimeQueries <name> [name...]  (env: SPARK_GRAFT_SF_DIR,
  * SPARK_GRAFT_CPUS, SPARK_GRAFT_RUNS, SPARK_GRAFT_BARE). Prints one
  * `<name> <seconds> s [error]` line per query.
  */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    // SPARK_GRAFT_BARE=1 skips the session posture (extensions + rule
    // confs) — the A/B lever for isolating posture cost from query cost
    val spark = Measure.session(tuned = !sys.env.get("SPARK_GRAFT_BARE").contains("1"))
    try {
      Measure.warm(spark, sfDir)
      args.foreach { n =>
        SparkEntry.queries.get(n) match {
          case None => println(s"$n NO-SUCH-QUERY")
          case Some(fn) =>
            val r = Bench.timeQuery(spark, sfDir, n, fn, runs)
            println(f"$n ${r.sec}%.3f s ${r.err.getOrElse("")}")
        }
      }
    } finally spark.stop()
  }
}
