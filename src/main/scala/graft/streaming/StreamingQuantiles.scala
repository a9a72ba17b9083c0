package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming mergeable quantiles — base-2 log-bin histograms over an
  * arriving document stream (the q140/q146 store idiom): each
  * micro-batch writes its own PARTIAL (lang, b, cnt) histogram under
  * its `batch_id` partition (replay-idempotent dynamic overwrite), and
  * the merged histogram is the merge-on-read SUM across live
  * partitions, fed into the SAME quantile tail as the batch side
  * ([[graft.operators.SketchQueries.logHistQuantiles]]).
  *
  * The grid is ABSOLUTE (b = ⌊log2 n_chars⌋), which is exactly what
  * makes the sketch streaming-legitimate: q147's corpus-min/max grid
  * needs a global barrier no stream can wait for, while log bins are
  * known before the first row arrives, so batch histograms merge by
  * plain count addition with no re-binning — and the stream answer
  * equals the one-shot batch answer BY ALGEBRA, which is what the
  * oracle checks. State per batch is geometry-bounded (≤ 64 × langs
  * rows); the LSM fold concatenates strictly-earlier rows, which a
  * sum view cannot observe. That is the 100 TB posture for
  * percentile monitoring: no per-key engine state, mergeable across
  * shards and time by construction.
  */
object StreamingQuantiles {

  /** This batch's partial: per-(lang, bin) log-histogram counts. */
  def partial(batch: DataFrame): DataFrame =
    batch
      .select(col("lang"), (length(bin(col("n_chars"))) - 1).as("b"))
      .groupBy(col("lang"), col("b")).agg(count(lit(1)).as("cnt"))

  /** Merge-on-read histogram: sum of the live partial partitions. */
  def histogram(spark: SparkSession, storeDir: String): DataFrame =
    BatchStore.liveRows(spark, storeDir)
      .groupBy(col("lang"), col("b")).agg(sum(col("cnt")).as("cnt"))
}
