package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming heavy hitters — q135's Count-Min top-k as an INCREMENTAL
  * pipeline over an arriving document stream (the q72/q92/q107 store
  * idiom): each micro-batch writes its own PARTIAL token counts under
  * its `batch_id` partition (replay-idempotent dynamic overwrite), the
  * final counts are the merge-on-read SUM across live partitions, and
  * the CMS tail is the exact q135 expression over those counts — so the
  * stream answer is oracle-checked against the one-shot batch SQL.
  *
  * Counts are ADDITIVE, so the store needs no per-key streaming state
  * at all: the vocabulary-sized state lives in the partitioned parquet
  * store (LSM-folded by [[BatchStore]] under the fold trigger — a
  * fold concatenates strictly-earlier rows, which a sum view cannot
  * observe), not in the engine's state store. That is the 100 TB
  * posture: executor state stays bounded per batch, and the merge is a
  * plain partial-aggregate shuffle Spark already does map-side.
  */
object StreamingHeavyHitters {

  /** This batch's partial: per-token counts. */
  def partial(batch: DataFrame): DataFrame =
    batch
      .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))

  /** Merge-on-read total counts: sum of the live partial partitions. */
  def totals(spark: SparkSession, storeDir: String): DataFrame =
    BatchStore.liveRows(spark, storeDir)
      .groupBy(col("tok")).agg(sum(col("cnt")).as("exact_cnt"))
}
