package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming first-seen store (ST22 — q210's cumulative-distinct curve
  * as a stream): each micro-batch lands its PARTIAL per-(type, user)
  * (min day, max day) under a batch_id partition (dynamic overwrite →
  * replay-idempotent), the store LSM-folds mid-run under the shared
  * every-2-batches trigger, and the answer is the SAME
  * [[graft.operators.RelationalQueries.cumulativeDistinctView]] the
  * one-shot batch runs, over the merge-on-read (MIN, MAX). Both
  * statistics are mergeable — "first seen" is a min, the span's right
  * edge a max — so stream == batch BY ALGEBRA whatever the drop
  * slicing: a user seen in three drops folds to the same single
  * first-seen day the batch computes. The oracle IS q210's batch SQL
  * (itself the brute quadratic distinct count).
  */
object StreamingFirstSeen {

  /** This batch's partial: per-(type, user) first/last day. */
  def partial(batch: DataFrame): DataFrame =
    batch
      .select(col("event_type"), col("user_id"),
        expr("unix_micros(ts) DIV 86400000000").as("day"))
      .groupBy(col("event_type"), col("user_id"))
      .agg(min(col("day")).as("fday"), max(col("day")).as("lday"))

  /** Merge-on-read per-(type, user) rollup: (MIN, MAX) over the live
    * partial partitions — cumulativeDistinctView's exact input. */
  def perUser(spark: SparkSession, storeDir: String): DataFrame =
    BatchStore.liveRows(spark, storeDir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(min(col("fday")).as("fday"), max(col("lday")).as("lday"))
}
