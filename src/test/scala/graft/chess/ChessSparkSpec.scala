package graft.chess

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import graft.chess.ChessIngest._

/** Golden-count gate for the chess Spark pipeline over SampleGames:
  * hand-verifiable counts on a 10-game corpus (9 legal + 1 broken).
  */
class ChessSparkSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val games =
    ChessIngest.parseGames(spark, spark.createDataset(Seq(SampleGames.pgn)),
      Core.Level.Human).cache()
  private lazy val occ = ChessIngest.positionStream(spark, games).cache()
  private lazy val agg = ChessIngest.positionsAgg(occ).cache()

  test("ingest: 9 good games parse, 1 illegal game is skipped") {
    assert(games.count() == 9)
  }

  test("ingest: per-result counts match hand count") {
    val byResult = games.groupBy("result").count()
      .as[(Byte, Long)].collect().toMap
    assert(byResult(Core.Result.WhiteWin) == 3) // Scholar, Opera, Promotion
    assert(byResult(Core.Result.BlackWin) == 3) // Fool, TranspB, KP Duel
    assert(byResult(Core.Result.Draw) == 3)     // TranspA, EP, Ruy
  }

  test("position stream: one occurrence per ply plus the start position") {
    val expected = games.select(sum(col("plyCount") + 1)).as[Long].head()
    assert(occ.count() == expected)
  }

  test("start position appears in every game, reverseMove 0") {
    val (h, l) = Zobrist.signature(Position.initial)
    val startRows = occ.filter(col("posHi") === h && col("posLo") === l)
    assert(startRows.count() == 9)
    assert(startRows.filter(col("reverseMove") =!= Core.NoMove).count() == 0)
  }

  test("explorer on startpos: e2e4 is most popular with correct W/D/L") {
    val rows = QueryEngine.explorer(spark, agg, Position.StartFen)
      .as[(String, Long, Long, Long, Long)].collect()
    val top = rows.head
    // e4 openers: Scholar(W), Opera(W), EP(D), Ruy(D), KPDuel(B) = 5 games
    assert(top._1 == "e2e4" && top._2 == 5)
    assert(top._3 == 2 && top._4 == 2 && top._5 == 1) // W/D/B
    val byUci = rows.map(r => r._1 -> r._2).toMap
    assert(byUci("d2d4") == 1 && byUci("c2c4") == 1 &&
           byUci("f2f3") == 1 && byUci("g2g4") == 1)
  }

  test("continuation/transposition split after 1.d4 d5 2.c4 + e7e6") {
    // Position after 1.d4 d5 2.c4 e6 occurs in TranspA (via e6 ->
    // continuation) and TranspB (via 2...d5 -> transposition).
    val out = graft.operators.ChessQueries.queries("q43_cont_trans")(spark, "")
      .as[(String, Long)].collect().toMap
    assert(out == Map("continuations" -> 1L, "transpositions" -> 1L))
  }

  test("retractions after 1.d4 d5 2.c4 e6: exactly e7e6 and d7d5 led here") {
    val out = graft.operators.ChessQueries.queries("q47_retractions")(spark, "")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r._2).toMap
    assert(out == Map("e7e6" -> 1L, "d7d5" -> 1L))
  }

  test("S3 role: games table round-trips through parquet with moves intact") {
    val dir = java.nio.file.Files.createTempDirectory("games-pq").toString
    games.write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir).as[GameRow]
    assert(back.count() == 9)
    val orig = games.collect().map(g => g.gameId -> g.moves.toSeq).toMap
    back.collect().foreach(g => assert(orig(g.gameId) == g.moves.toSeq))
    // replaying from the re-read table gives the identical agg store
    val agg2 = ChessIngest.positionsAgg(ChessIngest.positionStream(spark, back))
    assert(agg2.exceptAll(agg).isEmpty && agg.exceptAll(agg2).isEmpty)
  }

  test("eloDiff sums: scholar's mate start entry carries 200 per game") {
    // Scholar's 1200-1000 => +200; Fool 900-1500 => -600; games without
    // both elos contribute 0. Start position entry per (level,result):
    val (h, l) = Zobrist.signature(Position.initial)
    val white = agg.filter(col("posHi") === h && col("posLo") === l &&
        col("result") === Core.Result.WhiteWin)
      .select(sum("eloDiffSum")).as[Long].head()
    assert(white == 200L + 50L) // Scholar +200, Opera 0 (no elos), Promotion +50
  }

  test("FEN start-tag games replay from the tagged position, not startpos") {
    // verify() accepts a game whose moves are legal from its FEN tag;
    // replay must start THERE — replaying from the standard start would
    // write garbage signatures into the entry store.
    val customFen = "4k3/8/8/8/8/8/4P3/4K3 w - - 0 1"
    val pgn =
      s"""[Event "fen-start"]
         |[Site "?"]
         |[Date "2024.01.01"]
         |[Round "1"]
         |[White "A"]
         |[Black "B"]
         |[Result "1-0"]
         |[FEN "$customFen"]
         |
         |1. e4 Kd7 1-0
         |""".stripMargin
    val g = ChessIngest.parseGames(spark, spark.createDataset(Seq(pgn)),
      Core.Level.Human)
    assert(g.count() == 1, "FEN-tagged game with legal moves must parse")
    val stream = ChessIngest.positionStream(spark, g).collect()
    val (h0, l0) = Zobrist.signature(Position.fromFen(customFen))
    val ply0 = stream.find(_.ply == 0).get
    assert((ply0.posHi, ply0.posLo) == (h0, l0),
      "ply-0 signature must be the FEN position")
    val (hs, ls) = Zobrist.signature(Position.initial)
    assert(!stream.exists(o => o.posHi == hs && o.posLo == ls),
      "the standard start position must not appear in the stream")
    // EpdDump's replay takes the same path
    val epd0 = EpdDump.positionStreamWithFen(spark, g).collect()
      .find(o => o.posHi == h0 && o.posLo == l0)
    assert(epd0.isDefined && epd0.get.fen == customFen)
  }
}
