package perfbench

import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.file.Files
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.chess._
import Main.Report

/** The read path's layers, measured by the traced `import` run: a store
  * imported from a seeded corpus, served by `ChessServer.serveOn` over TCP
  * to a closed loop of clients that each wait for their reply, like GUI
  * users. There is no probe workload: its latency moved by a quarter
  * between runs of the same code (see README.md). */
object Probe {
  val Games = 2000
  val Clients = 2
  val Requests = 600
  val Decomposed = 20
  val WarmS = 10.0
  val WindowS = 8.0
  // the traced load reconnects, and a new connection is slow for a few seconds
  val RewarmS = 3.0

  /** `expected` is the generator's own occurrence count of the request's
    * root position; `scans` is how many store scans the request runs. */
  final case class Req(line: String, expected: Long, scans: Int, retraction: Boolean)

  /** Request mix: 60% explorer with children, 20% explorer after a
    * `move`, 20% synthesized retractions. Positions are corpus game
    * prefixes, skewed toward low ply, plus ~5% positions of fresh random
    * games that are mostly absent from the store. */
  def requests(c: Corpus, seed: Long): IndexedSeq[Req] = {
    val rnd = new SplittableRandom(seed ^ 0x5deece66dL)
    def count(p: Position): Long = c.counts.getOrDefault(Corpus.key(p), 0).toLong
    (0 until Requests).map { i =>
      val pos =
        if (rnd.nextDouble() < 0.05) {
          var p = Position.initial
          for (_ <- 0 until 30) { val ms = p.legalMoves(); if (ms.nonEmpty) p = p.make(ms(rnd.nextInt(ms.length))) }
          p
        } else {
          val g = c.games(rnd.nextInt(c.games.size))
          val ply = math.min(g.moves.length,
            (math.exp(rnd.nextDouble() * math.log(g.moves.length + 1.0)) - 1).toInt)
          Corpus.replay(g.moves, ply)
        }
      val fen = pos.toFen
      val legal = pos.legalMoves()
      // the mix is interleaved, not drawn, so every window holds the same shares
      if (i % 5 == 0)
        Req(s"""{"token":"r$i","retractions":{"fen":"$fen","synthesize":true}}""", count(pos), 3, true)
      else if (i % 5 == 1 && legal.nonEmpty) {
        val m = legal(rnd.nextInt(legal.length))
        Req(s"""{"token":"r$i","query":{"positions":[{"fen":"$fen","move":"${Core.moveToUci(m)}"}],"fetchChildren":false}}""",
          count(pos.make(m)), 1, false)
      } else
        Req(s"""{"token":"r$i","query":{"positions":[{"fen":"$fen"}],"fetchChildren":true}}""", count(pos), 1, false)
    }
  }

  /** The occurrence count a response reports for its root position. */
  def rootCount(resp: String): Option[Long] = {
    val j = JsonMethods.parse(resp)
    def counts(v: JValue): List[Long] = for {
      JObject(fs) <- List(v); (k, x) <- fs
      n <- if (k == "count") x match { case JInt(n) => List(n.toLong); case _ => Nil } else counts(x)
    } yield n
    if ((j \ "error") != JNothing) None
    else if ((j \ "retractions") != JNothing)
      Some((j \ "retractions").children.map(r => (r \ "count") match { case JInt(n) => n.toLong; case _ => 0L }).sum)
    else (j \ "results").children.headOption.map(r => counts(r \ "stats").sum)
  }

  final case class Sample(idx: Int, startNs: Long, endNs: Long, resp: String) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  /** Closed loop: each client sends its next request when the previous
    * reply arrives. Each client keeps one connection through a warm-up of
    * `warmS` seconds and then a window of `seconds`, since the first seconds
    * on a new connection are slower than the rest. Returns the requests
    * that started after the warm-up, and the window's wall time. */
  def load(port: Int, reqs: IndexedSeq[Req], clients: Int, warmS: Double, seconds: Double,
           first: Int, tr: Tracer): (Seq[Sample], Double) = {
    val out = Array.fill(clients)(mutable.ArrayBuffer.empty[Sample])
    val windowStart = System.nanoTime() + (warmS * 1e9).toLong
    val deadline = windowStart + (seconds * 1e9).toLong
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        val sock = new Socket(InetAddress.getLoopbackAddress, port)
        try {
          val w = new java.io.PrintWriter(new java.io.OutputStreamWriter(sock.getOutputStream, "UTF-8"), true)
          val rd = new java.io.BufferedReader(new java.io.InputStreamReader(sock.getInputStream, "UTF-8"))
          var i = first + c
          while (System.nanoTime() < deadline) {
            val idx = i % reqs.size
            val s = System.nanoTime()
            val resp =
              if (s < windowStart) { w.println(reqs(idx).line); rd.readLine() }
              else tr.span("client.request", i.toLong) { w.println(reqs(idx).line); rd.readLine() }
            out(c) += Sample(idx, s, System.nanoTime(), resp)
            i += clients
          }
        } finally sock.close()
      })
      t.start(); t
    }
    threads.foreach(_.join())
    val window = out.flatten.toSeq.filter(_.startNs >= windowStart)
    (window, (window.map(_.endNs).max - windowStart) / 1e9)
  }

  def storeOf(spark: SparkSession, pgnDir: String): DataFrame = {
    val agg = ChessIngest.positionsAgg(ChessIngest.positionStream(spark,
      PgnSource.readGames(spark, pgnDir))).cache()
    agg.count()
    agg
  }

  /** Replays requests in-process, one layer call at a time, so each layer
    * gets its own span; spans of one request share its id. The lookup runs
    * before and after `execute`, which repeats it internally, so warming
    * between the calls does not bias `execute - lookup`. */
  private def decompose(spark: SparkSession, agg: DataFrame, reqs: Seq[(Req, Int)], tr: Tracer,
                        r: Report): Unit = {
    var keys = 0L; var rows = 0L; var scans = 0L
    reqs.foreach { case (q, id) =>
      val rid = 1000000L + id
      tr.span("probe.request", rid) {
        if (q.retraction) {
          val j = tr.span("chess.ChessServer.parse", rid)(JsonMethods.parse(q.line))
          val fen = (j \ "retractions" \ "fen") match { case JString(s) => s; case _ => "" }
          keys += tr.span("chess.QueryEngine.probekeys", rid) {
            val p = Position.fromFen(fen); Zobrist.signature(p); 1 + Retract.candidates(p).size
          }
          def lookup(): Int = tr.span("chess.QueryEngine.lookup", rid) {
            QueryEngine.retractions(spark, agg, fen).collect().length +
              QueryEngine.retractSynth(spark, agg, fen).collect().length
          }
          rows += lookup()
          tr.span("chess.ChessServer.execute", rid)(ChessServer.executeRetractions(spark, agg, j))
          lookup()
        } else {
          val req = tr.span("chess.ChessServer.parse", rid)(ChessServer.parseRequest(q.line))
          val probes = req.positions.map(p => p.fen -> p.move)
          keys += tr.span("chess.QueryEngine.probekeys", rid)(QueryEngine.probeKeys(probes).size)
          def lookup(): Int =
            tr.span("chess.QueryEngine.lookup", rid)(QueryEngine.explore(spark, agg, probes).collect().length)
          rows += lookup()
          tr.span("chess.ChessServer.execute", rid)(ChessServer.execute(spark, agg, req))
          lookup()
        }
      }
      scans += q.scans
    }
    r.raw("decomposed") = Map("requests" -> reqs.size, "keys" -> keys, "rows" -> rows,
      "scans" -> scans, "store_rows" -> agg.count())
  }

  /** Serves a store of `Games` games to `Clients` closed-loop clients,
    * untraced and then traced, checks every response's root count, and
    * replays `Decomposed` requests layer by layer. Adds `probe_ms`,
    * `probe_traced_ms`, `probe_spark` and `decomposed` to the raw figures. */
  def traced(spark: SparkSession, a: Main.Args, tr: Tracer, r: Report): Unit = {
    val corpus = Corpus.generate(a.seed, Games, withCounts = true)
    val pgnDir = Files.createDirectories(a.work.resolve("probe").resolve("pgn"))
    corpus.games.grouped(Games / 4).zipWithIndex.foreach { case (gs, i) =>
      Files.write(pgnDir.resolve(f"part-$i%02d.pgn"), gs.map(Corpus.pgn).mkString.getBytes("UTF-8"))
    }
    val reqs = requests(corpus, a.seed)
    val agg = storeOf(spark, pgnDir.toString)
    val server = new ServerSocket(0, 50, InetAddress.getLoopbackAddress)
    val serving = new Thread(() => ChessServer.serveOn(spark, agg, server))
    serving.start()
    try {
      val (base, _) = load(server.getLocalPort, reqs, Clients, WarmS, WindowS, 0, new Tracer(false))
      val listener = new TaskListener
      spark.sparkContext.addSparkListener(listener)
      val before = listener.snapshot()
      val (traced, wall) = load(server.getLocalPort, reqs, Clients, RewarmS, WindowS, Requests / 2, tr)
      r.raw("probe_spark") = listener.snapshot().minus(before).raw(wall)
      (base ++ traced).foreach { s =>
        val got = rootCount(s.resp)
        r.check(s"request ${s.idx}: expected root count ${reqs(s.idx).expected}, got $got",
          got.contains(reqs(s.idx).expected))
      }
      r.raw("probe_ms") = base.map(_.ms)
      r.raw("probe_traced_ms") = traced.map(_.ms)
      decompose(spark, agg, reqs.zipWithIndex.take(Decomposed), tr, r)
    } finally {
      server.close()
      serving.join(90000)
      agg.unpersist(blocking = true)
    }
  }
}
