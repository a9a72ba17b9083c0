package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec


/** The runtime skew defense (SURVEY.md §6: "salting for skew, AQE for
  * runtime re-plan"): AQE must DETECT a planted hot join key from
  * shuffle statistics and split the skewed partition into parallel
  * subtasks (OptimizeSkewedJoin), without any query rewrite. A hot
  * GROUP-BY key needs no such help — map-side partial aggregation
  * folds it to one row per map task (the chess store's
  * `ChessIngest.positionsAgg`) — but a hot JOIN key ships every row,
  * so at 100 TB this is what catches the skew nobody salted for, and
  * it must demonstrably fire, not just be enabled.
  */
class SkewJoinSpec extends SparkTestBase {

  test("AQE splits a planted hot-key shuffle join partition and keeps the answer") {
    val confs = Map(
      // force the shuffle join (the dim side would broadcast otherwise)
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      // local-scale thresholds so a ~200k-row hot partition registers
      // as skewed against its tiny siblings
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0")
    val saved = confs.keys.map(k =>
      k -> spark.conf.getOption(k)).toMap

    // 90% of fact rows share key 7; dim has 1000 distinct keys
    val fact = spark.range(200000).select(
      when(col("id") % 10 =!= 0, lit(7L))
        .otherwise(col("id") % 1000).as("k"),
      col("id").as("lv"))
    val dim = spark.range(1000).select(col("id").as("k"), (col("id") * 2).as("rv"))

    def agg = fact.join(dim, "k")
      .agg(count(lit(1)).as("n"), sum(col("lv") + col("rv")).as("s"))

    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val df = agg
      val skewed = df.collect().toSeq
      // materialized query stages are LEAF nodes in the final adaptive
      // plan, so a tree collect can't reach the join — assert on the
      // rendered plan, where the skew split prints unambiguously
      val finalPlan = (df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }).toString
      assert(finalPlan.contains("SortMergeJoin(skew=true)"),
        s"AQE did not mark the hot-key join as a skew join:\n$finalPlan")
      assert(finalPlan.contains("AQEShuffleRead coalesced and skewed"),
        s"the hot partition was not actually split into subreads:\n$finalPlan")

      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val plain = agg.collect().toSeq
      assert(skewed == plain,
        "the skew-split plan must return exactly the unsplit plan's answer")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }
  }
}
