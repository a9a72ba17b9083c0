package graft.chess

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.SparkTestBase

/** The chess CLI end to end through `App.run` on the shared session:
  * create from PGN, convert to BCGN, append from BCGN, merge, the
  * header flags of the served store and the unknown-command exit. */
class AppSpec extends SparkTestBase {
  import spark.implicits._
  implicit private val fmts: Formats = DefaultFormats

  private def tmp(tag: String) = Files.createTempDirectory(tag).toString

  private def run(args: String*): String = {
    val out = new java.io.ByteArrayOutputStream()
    val code = Console.withOut(out)(App.run(spark, args.toArray))
    assert(code == 0, s"App ${args.mkString(" ")} exited $code")
    out.toString("UTF-8")
  }

  private lazy val pgnPath = {
    val p = Paths.get(tmp("app_pgn"), "sample.pgn")
    Files.writeString(p, SampleGames.pgn)
    p.toString
  }

  private def sorted(df: DataFrame) =
    df.select(ChessIngest.EntryKeys.map(col) ++
        Seq("games", "eloDiffSum", "firstGameId", "lastGameId").map(col): _*)
      .orderBy(ChessIngest.EntryKeys.map(col): _*).collect().toSeq

  test("create from PGN, tobcgn, append from BCGN; a re-run epoch write is a no-op; merge == readStore") {
    val store = tmp("app_store"); val bcgn = tmp("app_bcgn")
    val merged = tmp("app_merged"); val rand = tmp("app_rand")
    run("create", pgnPath, store)
    run("tobcgn", pgnPath, bcgn)

    // the BCGN copy holds the same games, ids and movelists included
    val fromPgn = PgnSource.readGames(spark, pgnPath).collect().sortBy(_.gameId)
    val fromBcgn = App.readGames(spark, bcgn).collect().sortBy(_.gameId)
    assert(fromBcgn.map(_.copy(moves = null)).toSeq == fromPgn.map(_.copy(moves = null)).toSeq)
    assert(fromBcgn.map(_.moves.toSeq).toSeq == fromPgn.map(_.moves.toSeq).toSeq)

    run("append", bcgn, store)
    RandomGames.generate(spark, 40, maxPlies = 30)
      .map(g => g.copy(gameId = (1L << 50) + g.gameId))
      .write.format("bcgn").mode("overwrite").save(rand)
    run("append", rand, store)

    val occ = fromPgn.map(_.plyCount + 1L).sum
    val randOcc = RandomGames.generate(spark, 40, maxPlies = 30).collect()
      .map(_.plyCount + 1L).sum
    val perEpoch = spark.read.parquet(store).groupBy("epoch").agg(sum("games"))
      .collect().map(r => r.getAs[Number](0).longValue -> r.getLong(1)).toMap
    assert(perEpoch == Map(0L -> occ, 1L -> occ, 2L -> randOcc), s"epochs: $perEpoch")

    // a retried epoch write rewrites its partition instead of doubling it
    val before = sorted(StreamingImport.readStore(spark, store))
    StreamingImport.writeEpoch(spark, App.readGames(spark, bcgn), store, 1L)
    assert(sorted(StreamingImport.readStore(spark, store)) == before,
      "re-running epoch 1's write must leave the store unchanged")

    run("merge", store, merged)
    assert(StreamingImport.epochCount(merged) == 1)
    assert(sorted(spark.read.parquet(merged)) == before,
      "merge must equal readStore of the epochs")
  }

  test("an unknown command exits 1 with a usage line that lists no bench") {
    val err = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
    val codes = try Seq("bench", "nope").map(c => App.run(spark, Array(c)))
                finally System.setErr(saved)
    assert(codes == Seq(1, 1), s"exit codes: $codes")
    val usage = err.toString("UTF-8").split("\n").filter(_.startsWith("usage:")).toSeq
    assert(usage.size == 2 && usage.forall(!_.contains("bench")), usage.mkString("\n"))
  }

  private val headerRequest =
    s"""{"token":"h","query":{"positions":[{"fen":"${Position.StartFen}"}],
       |"results":["w"],"fetchChildren":false,"fetchFirstGame":true}}""".stripMargin
      .replace("\n", "")

  private def firstWhite(resp: String): String = {
    val w = (JsonMethods.parse(resp) \ "results")(0) \ "stats" \ "transpositions" \ "human" \ "w"
    (w \ "firstGame" \ "white").extractOpt[String].getOrElse(
      fail(s"no firstGame header in $resp"))
  }

  test("the served games and store answer fetchFirstGame with a firstGame header") {
    val (agg, games) = App.served(spark, App.readGames(spark, pgnPath))
    // the first white win of the sample corpus is Scholar's Mate
    assert(firstWhite(ChessServer.execute(spark, agg,
      ChessServer.parseRequest(headerRequest), Some(games))) == "Alpha")
    agg.unpersist(); games.unpersist()
  }

  test("query line mode answers each request line, headers included") {
    val reqs = Paths.get(tmp("app_req"), "requests.jsonl")
    Files.writeString(reqs, headerRequest + "\n\n" + """{"token":"bad"}""" + "\n")
    val lines = run("query", reqs.toString, pgnPath).split("\n").filter(_.startsWith("{"))
    assert(lines.length == 2, lines.mkString("\n"))
    assert(firstWhite(lines(0)) == "Alpha")
    assert(lines(1).startsWith("""{"error":"""), lines(1))
  }
}
