package graft

import org.apache.spark.sql.SparkSession

/** Standalone server-throughput probe — the Bench server leg in
  * isolation, on a fresh session, so an rps drift in the committed
  * artifact can be bisected into "the server got slower" vs "the
  * bench board's accumulated session state got heavier" without
  * re-running the whole board.
  *
  * Usage: `sbt "runMain graft.ServerProbe [cpus] [rounds]"` — runs
  * [[rounds]] under the [[Measure.session]] posture and logs one line
  * per round.
  */
object ServerProbe {

  /** The server leg Bench and this main share: one cached sample store
    * (the bundled sample games), then `n` rounds of 8 clients × 12
    * mixed explore/retraction requests against it, each round after a
    * GC. Returns each round's requests per second. */
  def rounds(spark: SparkSession, n: Int): Seq[Double] = {
    import spark.implicits._
    import graft.chess._
    val games = ChessIngest.parseGames(spark,
      spark.createDataset(Seq(SampleGames.pgn)), Core.Level.Human)
    val agg = ChessIngest.positionsAgg(
      ChessIngest.positionStream(spark, games)).cache()
    agg.count()
    val e2e4 = "rnbqkbnr/pppppppp/8/8/4P3/8/PPPP1PPP/RNBQKBNR b KQkq - 0 1"
    val lines = Seq(
      s"""{"token":"b1","query":{"positions":[{"fen":"${Position.StartFen}"}],"fetchChildren":true}}""",
      s"""{"token":"b2","query":{"positions":[{"fen":"${Position.StartFen}","move":"e2e4"}],"fetchChildren":true}}""",
      s"""{"token":"b3","retractions":{"fen":"$e2e4","synthesize":true}}""")
    try (1 to n).map { r =>
      System.gc()
      val (rps, reqs) = ChessServer.throughput(spark, agg, lines,
        clients = 8, perClient = 12, games = Some(games))
      System.err.println(
        f"[server-probe] round $r: $rps%.2f req/s over ${reqs.map(_.size).sum} requests")
      rps
    } finally agg.unpersist(blocking = false)
  }

  def main(args: Array[String]): Unit = {
    val cpus = args.headOption.map(_.toInt).getOrElse(Measure.Cpus)
    val n = args.lift(1).map(_.toInt).getOrElse(3)
    val spark = Measure.session(cpus)
    try rounds(spark, n) finally spark.stop()
  }
}
