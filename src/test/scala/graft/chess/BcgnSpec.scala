package graft.chess

import graft.SparkTestBase

class BcgnSpec extends SparkTestBase {
  import spark.implicits._

  private def read(path: String) =
    spark.read.format("bcgn").load(path).as[ChessIngest.GameRow]

  private def roundTrip(games: org.apache.spark.sql.Dataset[ChessIngest.GameRow]): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("bcgn").toString
    games.write.format("bcgn").mode("overwrite").save(dir)
    val a = games.collect().sortBy(_.gameId)
    val b = read(dir).collect().sortBy(_.gameId)
    assert(a.length == b.length, s"lost games: ${a.length} -> ${b.length}")
    a.zip(b).foreach { case (x, y) =>
      // Array fields compare by reference in case classes — compare
      // moves explicitly (flags restored by replay must match too)
      assert(x.moves.sameElements(y.moves), s"moves drifted for game ${x.gameId}")
      assert(x.copy(moves = null) == y.copy(moves = null),
        s"header drifted for game ${x.gameId}")
    }
  }

  test("sample corpus (incl. FEN-start game) round-trips exactly") {
    roundTrip(ChessIngest.parseGames(spark,
      spark.createDataset(Seq(SampleGames.pgn)), Core.Level.Human))
  }

  test("random 200-game corpus round-trips exactly (flags via replay)") {
    roundTrip(RandomGames.generate(spark, 200, maxPlies = 60))
  }

  test("a single-file path reads exactly that file, never its siblings") {
    val dir = java.nio.file.Files.createTempDirectory("bcgn_sib").toString
    val games = RandomGames.generate(spark, 20, maxPlies = 40).collect()
    def writeOne(name: String, gs: Array[ChessIngest.GameRow]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, name),
        Bcgn.encodeFile(gs.iterator))
    writeOne("a.bcgn", games.take(5))
    writeOne("b.bcgn", games.drop(5)) // sibling corpus that must NOT load
    val one = read(s"$dir/a.bcgn").collect().map(_.gameId).toSet
    assert(one == games.take(5).map(_.gameId).toSet,
      s"file read pulled in siblings: $one")
    val all = read(dir).count()
    assert(all == 20, s"dir read should still see both files, got $all")
  }

  test("a record with a malformed start FEN is skipped, not fatal to its file") {
    val games = RandomGames.generate(spark, 3, maxPlies = 20).collect()
    val bad = games(1).copy(startFen = "not a fen")
    val bytes = Bcgn.encodeFile(Iterator(games(0), bad, games(2)))
    val kept = Seq(games(0).gameId, games(2).gameId)
    assert(Bcgn.decodeFile(bytes).map(_.gameId).toSeq == kept)
    val dir = java.nio.file.Files.createTempDirectory("bcgn_badfen").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "a.bcgn"), bytes)
    assert(read(dir).collect().map(_.gameId).sorted.toSeq == kept)
  }

  test("bcgn is the compact fast-re-read format: smaller than the PGN text") {
    val games = ChessIngest.parseGames(spark,
      spark.createDataset(Seq(SampleGames.pgn)), Core.Level.Human)
    val bytes = Bcgn.encodeFile(games.collect().iterator)
    assert(bytes.length < SampleGames.pgn.getBytes("UTF-8").length,
      s"binary (${bytes.length}B) should undercut PGN " +
        s"(${SampleGames.pgn.getBytes("UTF-8").length}B)")
  }
}
