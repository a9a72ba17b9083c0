package graft.chess

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** PGN → Spark ingestion (SURVEY.md §3.1, M2/M3).
  *
  * The reference's import pipeline (parser threads → entry buffers →
  * external sort → sorted runs → k-way merge) collapses into:
  * `mapPartitions(parse)` → `flatMap(replay)` → partial+final hash agg
  * → bucketed/sorted Parquet. Spark's shuffle/spill machinery replaces
  * the whole custom external-memory subsystem.
  *
  * Scale posture: PGN text is splittable on `^[Event ` boundaries, so a
  * 100 TB corpus parallelizes per-file-split; parsing is per-partition
  * with no driver involvement; gameIds are made unique per partition via
  * (partitionId << 40) | localIndex — no global counter, no shuffle.
  */
object ChessIngest {

  case class GameRow(
      gameId: Long, event: String, site: String, date: String,
      year: Int, month: Int, day: Int,
      white: String, black: String, whiteElo: Int, blackElo: Int,
      result: Byte, eco: String, level: Byte, plyCount: Int,
      moves: Array[Int],
      startFen: String = "")          // "" = standard start position

  /** One row per position occurrence (SURVEY.md §1.2): 128-bit signature
    * as two longs, the move that LED here (0 at game start), and the
    * game's classification measures. */
  case class PosOcc(
      posHi: Long, posLo: Long, reverseMove: Int,
      level: Byte, result: Byte, gameId: Long, eloDiff: Int, ply: Int)

  /** Parse raw PGN text chunks (one string per file or file-split) into
    * verified games. Malformed games are skipped, as the reference does. */
  def parseGames(spark: SparkSession, pgnTexts: Dataset[String],
                 level: Byte): Dataset[GameRow] = {
    import spark.implicits._
    pgnTexts.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId().toLong
      var local = 0L
      it.flatMap { text =>
        Pgn.parseAll(text)._1.map { g =>
          val id = (pid << 40) | local
          local += 1
          val (y, mo, dd) = Pgn.parseDate(g.date)
          GameRow(id, g.event, g.site, g.date, y, mo, dd, g.white, g.black,
            g.whiteElo, g.blackElo, g.result, g.eco, level,
            g.moves.length, g.moves, g.startFen)
        }
      }
    }
  }

  /** Replay each game and emit its position-occurrence stream: ply 0 is
    * the start position (reverseMove 0), then one row per move made. */
  def positionStream(spark: SparkSession, games: Dataset[GameRow]): Dataset[PosOcc] = {
    import spark.implicits._
    games.flatMap { g =>
      val eloDiff =
        if (g.whiteElo >= 0 && g.blackElo >= 0) g.whiteElo - g.blackElo else 0
      val out = new scala.collection.mutable.ArrayBuffer[PosOcc](g.moves.length + 1)
      // games verified against a custom FEN start tag replay from it
      var pos = if (g.startFen.isEmpty) Position.initial
                else Position.fromFen(g.startFen)
      var (h, l) = Zobrist.signature(pos)
      out += PosOcc(h, l, Core.NoMove, g.level, g.result, g.gameId, eloDiff, 0)
      var i = 0
      while (i < g.moves.length) {
        val next = pos.make(g.moves(i))
        // incremental update — O(changed squares), not a board rescan
        val hl = Zobrist.applyMove(pos, g.moves(i), next, h, l)
        h = hl._1; l = hl._2
        pos = next
        out += PosOcc(h, l, g.moves(i), g.level, g.result, g.gameId, eloDiff, i + 1)
        i += 1
      }
      out
    }
  }

  /** The entry store (delta-format role): pre-aggregated by the full
    * key (signature, reverseMove, level, result). Partial+final hash
    * agg ≈ the reference's buffer-sort + k-way merge combine. The start
    * position occurs in every game, but map-side partial aggregation
    * already folds a hot key to one row per map task before the one
    * shuffle, so the plan needs no salting. */
  def positionsAgg(occ: Dataset[PosOcc]): DataFrame = entriesOf(occ.toDF(), EntryKeys)

  /** The entry key: position signature, the move that led there, and
    * the game class. */
  val EntryKeys: Seq[String] = Seq("posHi", "posLo", "reverseMove", "level", "result")

  /** Occurrences → entries: one occurrence is one game. */
  private def entriesOf(occ: DataFrame, keys: Seq[String]): DataFrame =
    occ.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("games"), sum("eloDiff").as("eloDiffSum"),
           min("gameId").as("firstGameId"), max("gameId").as("lastGameId"))

  /** The one entry-merge rule: entries equal on `keys` combine as
    * Σ games, Σ eloDiffSum, min firstGameId, max lastGameId — the
    * reference's k-way run-merge combine. Every measure is
    * reassociative, so the rule serves each level that merges partial
    * entries: store epochs and probe rollups. */
  def mergeEntries(entries: DataFrame, keys: Seq[String]): DataFrame =
    entries.groupBy(keys.map(col): _*)
      .agg(sum(col("games")).as("games"),
           sum(col("eloDiffSum")).as("eloDiffSum"),
           min(col("firstGameId")).as("firstGameId"),
           max(col("lastGameId")).as("lastGameId"))

  /** Write the agg table the way the 100 TB layout wants it: bucketed by
    * posHi so probe joins prune to 1/N of the data, sorted within
    * buckets so row-group min/max stats do the binary-search work
    * (SURVEY.md §4.2).
    *
    * NOTE for point-probe (filter, not join) readers: set
    * `spark.sql.sources.bucketing.autoBucketedScan.enabled=false` —
    * otherwise the planner drops bucketed handling for a bare filter
    * scan and with it the SelectedBucketsCount pruning
    * (EntryStoreSpec demonstrates both sides).
    *
    * NOTE for cluster-scale probe JOINS on (posHi, posLo)
    * (QueryEngine.exploreBatch): set
    * `spark.sql.requireAllClusterKeysForCoPartition=false` so the
    * posHi bucketing counts as co-partitioning for the two-column join
    * — then only the probe side shuffles (aligned to the bucket count)
    * and the store never re-shuffles (PlanAuditSpec "large batch
    * probe"). Subset clustering cannot skew here: posHi is a Zobrist
    * half, uniform by construction. */
  def writeAggTable(agg: DataFrame, table: String, buckets: Int = 256): Unit =
    agg.write.mode("overwrite")
      .bucketBy(buckets, "posHi")
      .sortBy("posHi", "posLo")
      .format("parquet")
      .saveAsTable(table)
}
