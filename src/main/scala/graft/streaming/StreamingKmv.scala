package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming KMV sketch store (ST23 — q154's cross-source overlap as a
  * stream): each micro-batch of documents lands its PARTIAL per-source
  * k-minimum-values sketch (≤ k 48-bit trigram hashes per source)
  * under a batch_id partition (dynamic overwrite → replay-idempotent),
  * the store LSM-folds mid-run, and the answer is the SAME
  * [[graft.operators.SketchQueries.kmvOverlapView]] the one-shot batch
  * runs, over the merge-on-read union. The merge rule is ORDER
  * STATISTICS, not addition: every one of a source's global k smallest
  * hashes is among the k smallest of whichever batch carried it, so
  * the union of per-batch sketches always contains the global k-min
  * set and the view's re-cut recovers it exactly — Beyer et al.'s KMV
  * union, applied across micro-batches. Store volume is ≤ k × sources
  * × live-batches rows whatever the corpus size: the sketch, not the
  * grams, rides the stream — the q134-vs-q63 argument, made
  * incremental. Oracle IS q154's batch SQL.
  */
object StreamingKmv {

  /** This batch's partial: per-source k smallest trigram hashes. */
  def partial(batch: DataFrame): DataFrame =
    graft.operators.GroupedTopK.topK(
      graft.operators.SketchQueries.kmvHashes(batch),
      Seq("source"), Seq(col("h").asc),
      graft.operators.SketchQueries.KmvK)
      .select(col("source"), col("h"))

  /** Merge-on-read sketch union: the live partial sketches, deduped by
    * the view's own distinct — kmvOverlapView's exact input. */
  def sketchUnion(spark: SparkSession, storeDir: String): DataFrame =
    BatchStore.liveRows(spark, storeDir).select(col("source"), col("h"))
}
