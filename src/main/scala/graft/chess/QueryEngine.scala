package graft.chess

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Core._

/** The reference's core query shape (SURVEY.md §3.2, M4/M5): probe the
  * position-aggregate store with a batch of FENs, fetch per-child-move
  * stats split into continuations (reached via that move) vs
  * transpositions (same position reached otherwise).
  *
  * Execution: legal-move generation runs DRIVER-side on the tiny probe
  * set (1 root + ~35 children per probe — never cluster-scale), the
  * probe set broadcasts into a hash join against the bucketed agg table
  * (bucket + row-group pruning ≈ the reference's sorted-run binary
  * search), and the per-(select,level,result) rollup happens on the
  * joined (small) result. Batch amortization is the Spark-native win:
  * 10⁶ probes is ONE job, not 10⁶ seeks.
  */
object QueryEngine {

  case class ProbeKey(
      probeIdx: Int,      // position's index in the request batch — a
                          // batch may repeat a FEN with different 'move'
                          // values; idx keeps those probes distinct
      probeFen: String,   // the queried position
      childUci: String,   // "" = the root itself, else the move to a child
      posHi: Long, posLo: Long,
      contMove: Int)      // reverseMove that counts as "continuation"

  /** Expand probe FENs (optionally pre-applying `move`) into root +
    * children keys, driver-side. */
  def probeKeys(probes: Seq[(String, Option[String])]): Seq[ProbeKey] =
    probes.zipWithIndex.flatMap { case ((fen, moveOpt), idx) =>
      val base0 = Position.fromFen(fen)
      val (base, incoming) = moveOpt match {
        case Some(uci) =>
          val m = San.parseUci(base0, uci)
            .getOrElse(throw new IllegalArgumentException(s"illegal move $uci in $fen"))
          (base0.make(m), m)
        case None => (base0, NoMove)
      }
      val (h, l) = Zobrist.signature(base)
      val root = ProbeKey(idx, fen, "", h, l, incoming)
      val children = base.legalMoves().toSeq.map { m =>
        val child = base.make(m)
        val (ch, cl) = Zobrist.signature(child)
        ProbeKey(idx, fen, moveToUci(m), ch, cl, m)
      }
      root +: children
    }

  /** Probe join: returns one row per (probe, child, select, level,
    * result) with the aggregated measures. `select` ∈
    * continuations | transpositions (all = their sum, or filter). */
  def explore(spark: SparkSession, positionsAgg: DataFrame,
              probes: Seq[(String, Option[String])]): DataFrame = {
    import spark.implicits._
    rollup(positionsAgg, broadcast(probeKeys(probes).toDF()), Seq("probeIdx"))
  }

  /** Distributed batch probe (SURVEY.md §3.2 "10⁶ probes in one job"):
    * when the probe set is itself large, driver-side movegen and a
    * broadcast join both stop scaling. Here probe FENs arrive as a
    * Dataset, children expand in a flatMap ON EXECUTORS (the F5
    * movegen as a distributed generator), and the store join is a
    * plain equi-join — against a posHi-bucketed store only the
    * (smaller) key side shuffles. Semantics identical to explore();
    * asserted equal in BatchProbeSpec.
    */
  def exploreBatch(spark: SparkSession, positionsAgg: DataFrame,
                   probeFens: org.apache.spark.sql.Dataset[String]): DataFrame = {
    import spark.implicits._
    // In the batch path a probe's identity IS its fen (no per-probe
    // 'move' shapes here), so probeIdx is constant-0 and dropped.
    val keys = probeFens.flatMap(fen => probeKeys(Seq(fen -> None)))
    rollup(positionsAgg, keys.drop("probeIdx"), Nil)
  }

  /** The probe rollup both explore paths share: join the probe keys to
    * the store, classify each entry as a continuation (reached by the
    * probed move) or a transposition, and merge the entries per
    * (`probeId` ++ probe, child, select, level, result). */
  private def rollup(positionsAgg: DataFrame, keys: DataFrame,
                     probeId: Seq[String]): DataFrame =
    ChessIngest.mergeEntries(
      positionsAgg
        .join(keys, Seq("posHi", "posLo"))
        .withColumn("select",
          when(col("reverseMove") === col("contMove") && col("contMove") =!= NoMove,
            "continuations").otherwise("transpositions")),
      probeId ++ Seq("probeFen", "childUci", "select", "level", "result"))

  /** J2 header join: resolve first/last gameIds of explore() output to
    * game headers. Two broadcast stages, neither of which shuffles the
    * (arbitrarily large) games table: (1) the tiny distinct id set from
    * the aggregated probe result broadcasts into a semi-join that
    * filters games down to just the fetched headers; (2) that small
    * header table broadcasts into left joins from the explored rows.
    *
    * NOTE a right outer join with `broadcast(explored)` does NOT work
    * here: Spark cannot build the preserved side of an outer join, so
    * the hint is silently dropped (HintErrorLogger) and the games table
    * full-shuffles into a sort-merge join — asserted against in
    * PlanAuditSpec ("J2 header join"). */
  def withHeaders(explored: DataFrame,
                  games: org.apache.spark.sql.Dataset[ChessIngest.GameRow]): DataFrame = {
    val ids = explored.select(col("firstGameId").as("gameId"))
      .union(explored.select(col("lastGameId").as("gameId")))
      .distinct()
    val headers = games.toDF()
      .join(broadcast(ids), Seq("gameId"), "left_semi")
      .select(col("gameId"),
        struct(col("event"), col("date"), col("white"), col("black"),
               col("whiteElo"), col("blackElo"), col("result"), col("eco"))
          .as("__hdr"))
    // one header table serves both joins — identical broadcast subtrees,
    // so ReuseExchange ships it once
    val withFirst = explored
      .join(broadcast(headers), col("gameId") === col("firstGameId"), "left")
      .withColumnRenamed("__hdr", "firstGame").drop("gameId")
    withFirst
      .join(broadcast(headers), col("gameId") === col("lastGameId"), "left")
      .withColumnRenamed("__hdr", "lastGame").drop("gameId")
  }

  /** Retractions (reference F6 role, SURVEY.md §2.8): which moves LED
    * to this position, with what stats. The entry store is keyed by
    * (signature, reverseMove), so this is a keyed probe + group-by —
    * no retro-move generation needed (the store only ever contains
    * reverse moves that actually occurred). reverseMove 0 = the
    * position occurred as a game start. */
  /** Core.moveToUci as codegen'd built-ins (move encoding:
    * from | to<<6 | promoKind<<12) — keeps the retraction plan UDF-free
    * inside whole-stage codegen. */
  private def uciCol(m: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    def sqName(sq: org.apache.spark.sql.Column) =
      concat(lit("abcdefgh").substr(sq.bitwiseAND(lit(7)) + 1, lit(1)),
             (shiftright(sq, 3).bitwiseAND(lit(7)) + 1).cast("string"))
    val promo = shiftright(m, 12).bitwiseAND(lit(15))
    concat(sqName(m.bitwiseAND(lit(63))),
           sqName(shiftright(m, 6).bitwiseAND(lit(63))),
           when(promo =!= 0, lit("pnbrqk").substr(promo, lit(1)))
             .otherwise(lit("")))
  }

  def retractions(spark: SparkSession, positionsAgg: DataFrame, fen: String): DataFrame = {
    val (h, l) = Zobrist.signature(Position.fromFen(fen))
    positionsAgg
      .filter(col("posHi") === h && col("posLo") === l)
      .groupBy(col("reverseMove"))
      .agg(sum(col("games")).as("games"),
           sum(when(col("result") === Result.WhiteWin, col("games")).otherwise(0L)).as("white_wins"),
           sum(when(col("result") === Result.Draw, col("games")).otherwise(0L)).as("draws"),
           sum(when(col("result") === Result.BlackWin, col("games")).otherwise(0L)).as("black_wins"))
      .withColumn("uci", when(col("reverseMove") === NoMove, lit("start"))
        .otherwise(uciCol(col("reverseMove"))))
      .select("uci", "games", "white_wins", "draws", "black_wins")
      .orderBy(col("games").desc, col("uci").asc)
  }

  /** True retraction SYNTHESIS (reference ERAN role, SURVEY.md §7.3.6):
    * unlike `retractions` (which can only report reverse moves that
    * were actually PLAYED into the position — they're store keys), this
    * enumerates every legally possible (predecessor, unmove) via
    * `Retract.candidates` and joins the candidate predecessor
    * signatures against the store. That surfaces predecessors that
    * OCCURRED in games even when the transition into this position was
    * never played — the transposition-analysis question.
    *
    * Scale posture: retro-candidate generation is driver-side pure
    * compute on ONE position (≲ a few hundred candidates — same
    * posture as probeKeys), the candidate set broadcasts into the
    * (arbitrarily large) bucketed store, and only the few matching
    * entry rows aggregate. Output per retro-move: how often the
    * predecessor position occurred (`pred_games`) vs how often the
    * move was actually played into this position (`played_games`). */
  def retractSynth(spark: SparkSession, positionsAgg: DataFrame, fen: String): DataFrame = {
    import spark.implicits._
    val pos = Position.fromFen(fen)
    val (h, l) = Zobrist.signature(pos)
    val cands = Retract.candidates(pos).toDF()
    val predOcc = positionsAgg
      .join(broadcast(cands),
        col("posHi") === col("predHi") && col("posLo") === col("predLo"))
      .groupBy(col("uci"))
      .agg(sum(col("games")).as("pred_games"))
    val played = positionsAgg
      .filter(col("posHi") === h && col("posLo") === l && col("reverseMove") =!= NoMove)
      .groupBy(col("reverseMove"))
      .agg(sum(col("games")).as("played_games"))
      .select(uciCol(col("reverseMove")).as("uci"), col("played_games"))
    predOcc.join(broadcast(played), Seq("uci"), "left")
      .select(col("uci"), col("pred_games"),
        coalesce(col("played_games"), lit(0L)).as("played_games"))
      .orderBy(col("pred_games").desc, col("uci").asc)
  }

  /** Opening-explorer view: per child move of one FEN, W/D/L counts
    * over all levels (the GUI's main table, W1 ranking included). */
  def explorer(spark: SparkSession, positionsAgg: DataFrame, fen: String): DataFrame =
    explore(spark, positionsAgg, Seq(fen -> None))
      .filter(col("childUci") =!= "")
      .groupBy(col("childUci"))
      .agg(sum(col("games")).as("games"),
           sum(when(col("result") === Result.WhiteWin, col("games"))
             .otherwise(0L)).as("white_wins"),
           sum(when(col("result") === Result.Draw, col("games"))
             .otherwise(0L)).as("draws"),
           sum(when(col("result") === Result.BlackWin, col("games"))
             .otherwise(0L)).as("black_wins"))
      .orderBy(col("games").desc, col("childUci").asc)
}
