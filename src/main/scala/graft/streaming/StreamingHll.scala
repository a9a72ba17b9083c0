package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming HyperLogLog — q145's distinct-token estimator as an
  * INCREMENTAL pipeline over an arriving document stream (the
  * q140/StreamingHeavyHitters store idiom): each micro-batch writes its
  * own PARTIAL (lang, register, max-ρ) table under its `batch_id`
  * partition (replay-idempotent dynamic overwrite), and the final
  * registers are the merge-on-read MAX across live partitions.
  *
  * Registers are maxes — idempotent AND commutative, so this store is
  * even more forgiving than q140's additive counts: a replayed batch
  * re-CONTRIBUTING its rows (rather than re-overwriting them) would
  * still merge to the same registers. The LSM fold concatenates
  * strictly-earlier rows, which a max view cannot observe. State per
  * batch is geometry-bounded (≤ m × langs rows — bytes, not corpus),
  * the 100 TB posture for distinct counting: no per-key engine state,
  * no vocabulary-sized shuffle, mergeable across shards by
  * construction (Flajolet et al. 2007 §4).
  */
object StreamingHll {

  /** This batch's partial: per-language HLL registers. */
  def partial(batch: DataFrame): DataFrame =
    graft.operators.SketchQueries.hllRegisters(batch)

  /** Merge-on-read registers: max over the live partial partitions —
    * feed straight into [[graft.operators.SketchQueries.hllSummary]]. */
  def registers(spark: SparkSession, storeDir: String): DataFrame =
    BatchStore.liveRows(spark, storeDir)
      .groupBy(col("lang"), col("b")).agg(max(col("m")).as("m"))
}
