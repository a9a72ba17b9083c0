package graft.chess

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** M8 skew hardening (SURVEY.md §7.3.4): the start position (and every
  * popular opening) occurs in EVERY game, so at 100 TB a handful of
  * keys carry billions of rows. Spark's partial (map-side) aggregation
  * already absorbs most of that, but when the per-key partial results
  * themselves skew the final-agg partitions (e.g. agg over a pre-split
  * store where partials can't combine further upstream), the classic
  * fix is two-level salted aggregation: spray each key over `salts`
  * sub-keys, aggregate, then merge the sub-aggregates.
  *
  * All measures are reassociative (sum/sum/min/max), so salted and
  * direct aggregation are exactly equal — asserted by SaltedAggSpec.
  */
object SaltedAgg {

  import ChessIngest.EntryKeys

  /** Occurrences → entries: one occurrence is one game. */
  private def entriesOf(occ: DataFrame, keys: Seq[String]): DataFrame =
    occ.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("games"), sum("eloDiff").as("eloDiffSum"),
           min("gameId").as("firstGameId"), max("gameId").as("lastGameId"))

  /** Direct (baseline) aggregation of a PosOcc frame. */
  def direct(occ: DataFrame): DataFrame = entriesOf(occ, EntryKeys)

  /** Two-level salted aggregation: level 1 groups by (key, salt) —
    * spreading a hot key over `salts` reducers — level 2 merges the
    * sub-aggregates (tiny: `salts` rows per distinct key) with the
    * entry-merge rule. The salt is derived from gameId (stable,
    * uniform), not rand(), so the plan stays deterministic and
    * retry-safe. */
  def salted(occ: DataFrame, salts: Int = 32): DataFrame =
    ChessIngest.mergeEntries(
      entriesOf(occ.withColumn("__salt", pmod(xxhash64(col("gameId")), lit(salts))),
        EntryKeys :+ "__salt"),
      EntryKeys)
}
