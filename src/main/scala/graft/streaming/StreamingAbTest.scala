package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming A/B monitor (ST17 — q166 as a stream): the
  * continuously-watched experiment dashboard. Each micro-batch lands
  * its PARTIAL per-(user, type) event counts under a batch_id
  * partition (dynamic overwrite → replay-idempotent), the store
  * LSM-folds mid-run, and the answer is the SAME
  * [[graft.operators.RelationalQueries.abTestView]] the one-shot batch
  * runs, over the merge-on-read SUM. The conversion gate (k ≥ AbConvK)
  * is applied AT READ over the merged totals — a per-batch gate would
  * be wrong (a user can cross the bar across batches); counts add, so
  * stream == batch BY ALGEBRA and the oracle IS q166's batch SQL.
  */
object StreamingAbTest {

  /** This batch's partial: per-(user, type) counts. */
  def partial(batch: DataFrame): DataFrame =
    batch
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))

  /** Merge-on-read per-user counts: sum of the live partials. */
  def userCounts(spark: SparkSession, storeDir: String): DataFrame =
    BatchStore.liveRows(spark, storeDir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(sum(col("cnt")).as("k"))
}
