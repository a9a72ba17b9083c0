package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming per-(source, token) count store — the VOCABULARY unit of
  * the mergeable-store family (the daily-count store's sibling on a
  * data-sized key space: tokens, not calendar days). Two read tails:
  *
  *  - ST26 / q229: [[graft.operators.QualityQueries.chao1View]]
  *    (unseen-vocabulary estimate — V/F₁/F₂/N are pure functions of
  *    the merged counts);
  *  - ST27 / q230: [[graft.operators.TextQueries.zipfFitView]]
  *    (Zipf law fit over the source-summed counts).
  *
  * Each micro-batch lands its PARTIAL counts under a batch_id
  * partition (dynamic overwrite → replay-idempotent), the store
  * LSM-folds mid-run under the shared every-2-batches trigger, and
  * each answer is the SAME view code the one-shot batch runs over the
  * merge-on-read SUM. Counts are addition-mergeable, so stream ==
  * batch BY ALGEBRA however the document drops were sliced — the
  * q167-store argument on the token axis. Unlike the daily store the
  * key space here grows with the corpus; that is exactly the regime
  * the LSM fold exists for (per-batch partials stay batch-sized, the
  * fold bounds read amplification, and no driver state ever holds the
  * vocabulary).
  */
object StreamingVocab {

  /** This batch's partial: per-(source, token) counts. */
  def partial(batch: DataFrame): DataFrame =
    batch
      .select(col("source"),
        explode(split(trim(col("text")), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("cnt"))

  /** Merge-on-read per-(source, token) counts: sum of the live
    * partial partitions — the `c` column chao1View consumes. */
  def counts(spark: SparkSession, storeDir: String): DataFrame =
    BatchStore.liveRows(spark, storeDir)
      .groupBy(col("source"), col("tok")).agg(sum(col("cnt")).as("c"))
}
