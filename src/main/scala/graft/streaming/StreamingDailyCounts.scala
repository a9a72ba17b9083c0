package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming per-(type, day) event-count store — the mergeable daily
  * unit TWO read tails share:
  *
  *  - ST16 / q167: [[graft.operators.RelationalQueries.cusumView]]
  *    (CUSUM drift monitoring, q162's batch chain);
  *  - ST19 / q198:
  *    [[graft.operators.RelationalQueries.decayedPopularityView]]
  *    (half-life popularity, q177's batch chain).
  *
  * Each micro-batch lands its PARTIAL counts under a batch_id
  * partition (dynamic overwrite → replay-idempotent), the store
  * LSM-folds mid-run under the shared every-2-batches trigger, and
  * each answer is the SAME view code the one-shot batch runs, over the
  * merge-on-read SUM. Counts are addition-mergeable, so stream ==
  * batch BY ALGEBRA no matter how the drops were micro-batched or when
  * folds ran — the q153 argument, applied to the monitoring ops
  * themselves. One ingest store, many tails: this is the production
  * shape (land counts once, derive every daily metric from the store),
  * not a per-metric re-ingest.
  */
object StreamingDailyCounts {

  /** This batch's partial: per-(type, day) counts. */
  def partial(batch: DataFrame): DataFrame =
    batch
      .select(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("cnt"))

  /** Merge-on-read daily counts: sum of the live partial partitions.
    * Column `x` matches cusumView's input; q198 renames it to `n` for
    * the popularity tail. */
  def daily(spark: SparkSession, storeDir: String): DataFrame =
    BatchStore.liveRows(spark, storeDir)
      .groupBy(col("event_type"), col("day")).agg(sum(col("cnt")).as("x"))
}
