package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming RFM segmentation (ST18 — q181 as a stream): each
  * micro-batch lands its PARTIAL per-user (max day, event count,
  * DECIMAL(38,6) value sum) under a batch_id partition (dynamic
  * overwrite → replay-idempotent), the store LSM-folds mid-run under
  * the shared every-2-batches trigger, and the answer is the SAME
  * [[graft.operators.RelationalQueries.rfmView]] quartile tail the
  * one-shot batch runs, over the merge-on-read (MAX, SUM, SUM). All
  * three per-user statistics are mergeable — max is idempotent-
  * commutative, counts and exact decimal sums add — so stream == batch
  * BY ALGEBRA whatever the drop slicing, and the single decimal→double
  * cast happens once, AFTER the merge, exactly where the batch casts.
  * The oracle IS q181's batch SQL.
  */
object StreamingRfm {

  /** This batch's partial: per-user (max day, count, decimal sum). */
  def partial(batch: DataFrame): DataFrame =
    batch
      .select(col("user_id"),
        expr("unix_micros(ts) DIV 86400000000").as("day"), col("value"))
      .groupBy(col("user_id"))
      .agg(max(col("day")).as("last_day"), count(lit(1)).as("f"),
        sum(col("value").cast("decimal(38,6)")).as("m"))

  /** Merge-on-read per-user rollup: (MAX, SUM, SUM) over the live
    * partial partitions, the decimal cast applied once after the
    * merge — rfmView's exact input contract. */
  def perUser(spark: SparkSession, storeDir: String): DataFrame =
    BatchStore.liveRows(spark, storeDir)
      .groupBy(col("user_id"))
      .agg(max(col("last_day")).as("last_day"), sum(col("f")).as("f"),
        sum(col("m")).cast("double").as("m"))
}
