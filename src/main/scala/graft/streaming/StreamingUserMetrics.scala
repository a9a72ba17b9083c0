package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming per-(event_type, user_id) metric store — the EXPERIMENT
  * unit of the mergeable-store family (the vocabulary store's sibling
  * on the randomization-unit axis): per-user event counts and value
  * cents, exactly the sufficient inputs the delta-method ratio
  * readout consumes. One read tail so far:
  *
  *  - ST30 / q245: [[graft.operators.RelationalQueries.deltaRatioView]]
  *    (ratio-metric A/B — all six per-variant sufficient statistics
  *    are pure functions of the merged per-user sums).
  *
  * Each micro-batch lands its PARTIAL (ne, sc) sums under a batch_id
  * partition (dynamic overwrite → replay-idempotent), the store
  * LSM-folds under the shared every-2-batches trigger, and the answer
  * is the SAME view code the one-shot batch runs over the
  * merge-on-read SUM. Both metrics are addition-mergeable, so
  * stream == batch BY ALGEBRA however the event drops were sliced —
  * the q167-store argument on the (type, user) axis. The key space
  * grows with the user base (the LSM-fold regime, like the
  * vocabulary store): per-batch partials stay batch-sized and no
  * driver state ever holds the user population. Cents go through the
  * same DECIMAL(12,2)·100 route as the batch twin, so the landed
  * partials are exact integers from the first write.
  */
object StreamingUserMetrics {

  /** This batch's partial: per-(type, user) (count, value cents). */
  def partial(batch: DataFrame): DataFrame =
    batch
      .select(col("event_type"), col("user_id"),
        (col("value").cast("decimal(12,2)") * 100).cast("long").as("cents"))
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("ne"), sum(col("cents")).as("sc"))

  /** Merge-on-read per-(event_type, user_id) metrics: sum of the live
    * partial partitions — the (ne, sc) columns deltaRatioView
    * consumes. */
  def metrics(spark: SparkSession, storeDir: String): DataFrame =
    BatchStore.liveRows(spark, storeDir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(sum(col("ne")).as("ne"), sum(col("sc")).as("sc"))
}
