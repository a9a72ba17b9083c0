package graft.chess

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** JSON query protocol (SURVEY.md §2.1 S8, §3.2; role of the reference's
  * TCP server + `Query.h` Request/Response used by the companion GUI).
  *
  * Transports: line-delimited JSON over TCP ([[serveTcp]]) or from a
  * file/stdin, one response line per request line — `App server` and
  * `App query`. Request:
  * {{{
  * {"token":"t1","query":{
  *   "positions":[{"fen":"...","move":"e2e4"?}, ...],
  *   "levels":["human","engine","server"]?,
  *   "results":["w","l","d"]?,
  *   "fetchChildren":true?}}
  * }}}
  * Response: per position -> per select -> per level -> per result
  * counts (+eloDiffSum, first/last gameId), and per child move the same,
  * mirroring the reference's nested response the GUI consumes.
  *
  * Execution: ONE Spark job for the whole request batch — all probe
  * keys (roots + children) go into a single broadcast join against the
  * agg store (J1), then the driver nests the few returned rows.
  */
object ChessServer {
  implicit private val fmts: Formats = DefaultFormats

  case class ReqPosition(fen: String, move: Option[String])

  /** Fetch flags for ONE select class (the reference GUI sends these
    * per-select under `query.fetchingOptions.<select>`); the
    * ForEachChild pair controls headers on child-move stats
    * independently of the root's. */
  case class FetchOpts(fetchChildren: Boolean,
                       fetchFirstGame: Boolean, fetchLastGame: Boolean,
                       fetchFirstGameForEachChild: Boolean,
                       fetchLastGameForEachChild: Boolean)

  case class Request(token: String, positions: Seq[ReqPosition],
                     levels: Seq[String], results: Seq[String],
                     perSelect: Map[String, FetchOpts]) {
    // aggregate views: the flat protocol's flags, and "does ANY select
    // class want X" for execution planning
    def fetchChildren: Boolean = perSelect.values.exists(_.fetchChildren)
    def fetchFirstGame: Boolean = perSelect.values.exists(_.fetchFirstGame)
    def fetchLastGame: Boolean = perSelect.values.exists(_.fetchLastGame)
    def wantsHeaders: Boolean = perSelect.values.exists(o =>
      o.fetchFirstGame || o.fetchLastGame ||
      o.fetchFirstGameForEachChild || o.fetchLastGameForEachChild)
  }

  /** The reference protocol's select classes: the two real partitions
    * of the probe rows plus "all", their merge — synthesized at
    * response-nesting time when a request names it. */
  val SelectNames: Seq[String] = Seq("continuations", "transpositions", "all")
  /** Flat-protocol requests (no fetchingOptions) return the two real
    * classes, as the reference CLI does. */
  val DefaultSelects: Seq[String] = Seq("continuations", "transpositions")

  private val levelNames = Map("human" -> Core.Level.Human,
    "engine" -> Core.Level.Engine, "server" -> Core.Level.Server)
  private val levelBack = levelNames.map(_.swap)
  private val resultNames = Map("w" -> Core.Result.WhiteWin,
    "l" -> Core.Result.BlackWin, "d" -> Core.Result.Draw)
  private val resultBack = resultNames.map(_.swap)

  def parseRequest(json: String): Request = parseRequest(JsonMethods.parse(json))

  def parseRequest(j: org.json4s.JValue): Request = {
    val q = j \ "query"
    // a structurally-wrong request must error, not yield an empty
    // response — json4s maps missing keys to empty collections.
    if (q == JNothing)
      throw new IllegalArgumentException("request has no 'query' object")
    if ((q \ "positions") == JNothing)
      throw new IllegalArgumentException("query has no 'positions' array")
    // json4s extracts a MISSING key as Seq() for Seq[String], so
    // extractOrElse never falls back — test JNothing explicitly.
    def seqOr(v: JValue, default: Seq[String]): Seq[String] = v match {
      case JNothing => default
      case other => other.extract[Seq[String]]
    }
    Request(
      token = (j \ "token").extractOrElse[String](""),
      positions = (q \ "positions").extract[Seq[JValue]].map { p =>
        ReqPosition((p \ "fen").extract[String], (p \ "move").extractOpt[String])
      },
      levels = seqOr(q \ "levels", levelNames.keys.toSeq),
      results = seqOr(q \ "results", resultNames.keys.toSeq),
      perSelect = parseFetchOpts(q))
  }

  private def flagDefault(name: String): Boolean = name == "fetchChildren"

  /** A flat flag (`query.fetchChildren`), falling back to the protocol
    * default. */
  private def flatFlag(q: JValue, name: String): Boolean =
    (q \ name) match {
      case JBool(b) => b
      case _ => flagDefault(name)
    }

  /** Flags are accepted flat (`query.fetchChildren` — applies to both
    * select classes) or in the reference GUI's nested per-select shape
    * (`query.fetchingOptions.<select>.fetchChildren`). When
    * fetchingOptions is present, ONLY the selects it names appear in
    * the response, each with its own flags; a flag no select mentions
    * falls back to the flat/default value, while one some OTHER select
    * mentions stays off here (an explicit options object opts out of
    * defaults for the flags it competes on). */
  private def parseFetchOpts(q: JValue): Map[String, FetchOpts] =
    (q \ "fetchingOptions") match {
      case JObject(fields) if fields.nonEmpty =>
        def mentioned(name: String): Boolean =
          fields.exists { case (_, v) => (v \ name) != JNothing }
        fields.collect { case (sel, v) if SelectNames.contains(sel) =>
          def fl(name: String): Boolean = (v \ name) match {
            case JBool(b) => b
            case _ => if (!mentioned(name)) flatFlag(q, name) else false
          }
          sel -> FetchOpts(fl("fetchChildren"),
            fl("fetchFirstGame"), fl("fetchLastGame"),
            fl("fetchFirstGameForEachChild"), fl("fetchLastGameForEachChild"))
        }.toMap
      case _ =>
        val o = FetchOpts(flatFlag(q, "fetchChildren"),
          flatFlag(q, "fetchFirstGame"), flatFlag(q, "fetchLastGame"),
          flatFlag(q, "fetchFirstGameForEachChild"),
          flatFlag(q, "fetchLastGameForEachChild"))
        DefaultSelects.map(_ -> o).toMap
    }

  /** Execute a request against the agg store; returns the response as a
    * JSON string. Pass `games` to honor fetchFirstGame/fetchLastGame
    * (J2 header join). */
  def execute(spark: SparkSession, positionsAgg: DataFrame, req: Request,
              games: Option[org.apache.spark.sql.Dataset[ChessIngest.GameRow]] = None): String = {
    import org.apache.spark.sql.functions._
    val levelSet = req.levels.flatMap(levelNames.get)
    val resultSet = req.results.flatMap(resultNames.get)
    val probes = req.positions.map(p => p.fen -> p.move)

    val explored = QueryEngine.explore(spark, positionsAgg, probes)
      .filter(col("level").isin(levelSet.map(_.toInt): _*) &&
              col("result").isin(resultSet.map(_.toInt): _*))
    val wantHeaders = req.wantsHeaders && games.isDefined
    // withHeaders references the explored subtree twice (once under the
    // id semi-join's broadcast, once as the probe side) — persist so the
    // agg-store probe runs once per request, not twice
    if (wantHeaders) explored.persist()
    val rows =
      try (if (wantHeaders) QueryEngine.withHeaders(explored, games.get)
           else explored).collect()
      finally if (wantHeaders) { explored.unpersist(blocking = false); () }

    def hdrJson(r: org.apache.spark.sql.Row, field: String): List[(String, JValue)] =
      if (!wantHeaders || r.schema.fieldNames.contains(field) == false) Nil
      else Option(r.getAs[org.apache.spark.sql.Row](field)).toList.map { h =>
        field -> JObject(List(
          "event" -> JString(h.getAs[String]("event")),
          "date" -> JString(h.getAs[String]("date")),
          "white" -> JString(h.getAs[String]("white")),
          "black" -> JString(h.getAs[String]("black")),
          "whiteElo" -> JInt(h.getAs[Int]("whiteElo")),
          "blackElo" -> JInt(h.getAs[Int]("blackElo")),
          "result" -> JString(resultBack(h.getAs[Byte]("result"))),
          "eco" -> JString(h.getAs[String]("eco"))))
      }

    // driver-side nesting of the (small) aggregated result; only the
    // select classes the request asked for appear, each honoring its
    // own fetch flags (child stats use the ForEachChild pair)
    def statsJson(rs: Seq[org.apache.spark.sql.Row], isChild: Boolean): JValue = {
      // "all" is the merge of both real classes, synthesized on demand
      val classes = rs.groupBy(_.getAs[String]("select")).toList ++
        (if (req.perSelect.contains("all") && rs.nonEmpty) List("all" -> rs)
         else Nil)
      JObject(classes.sortBy(_._1).flatMap {
        case (sel, perSel) => req.perSelect.get(sel) match {
          case None => Nil
          case Some(o) if isChild && !o.fetchChildren => Nil
          case Some(o) =>
            val wantFirst = if (isChild) o.fetchFirstGameForEachChild else o.fetchFirstGame
            val wantLast = if (isChild) o.fetchLastGameForEachChild else o.fetchLastGame
            List(sel -> JObject(perSel.groupBy(_.getAs[Byte]("level")).toList
              .sortBy(_._1).map { case (lv, perLv) =>
                levelBack(lv) -> JObject(perLv.groupBy(_.getAs[Byte]("result"))
                  .toList.sortBy(_._1).map { case (rz, perR) =>
                    val firstRow = perR.minBy(_.getAs[Long]("firstGameId"))
                    val lastRow = perR.maxBy(_.getAs[Long]("lastGameId"))
                    resultBack(rz) -> JObject(List(
                      "count" -> JLong(perR.map(_.getAs[Long]("games")).sum),
                      "eloDiffSum" -> JLong(perR.map(_.getAs[Long]("eloDiffSum")).sum),
                      "firstGameId" -> JLong(firstRow.getAs[Long]("firstGameId")),
                      "lastGameId" -> JLong(lastRow.getAs[Long]("lastGameId"))) ++
                      (if (wantFirst) hdrJson(firstRow, "firstGame") else Nil) ++
                      (if (wantLast) hdrJson(lastRow, "lastGame") else Nil))
                  })
              }))
        }
      })
    }

    // each request entry resolves by its batch index, not its FEN — a
    // batch may repeat one FEN with different 'move' values and those
    // must not merge
    val results = req.positions.zipWithIndex.map { case (p, idx) =>
      val mine = rows.filter(_.getAs[Int]("probeIdx") == idx)
      val root = mine.filter(_.getAs[String]("childUci") == "")
      val children =
        if (!req.fetchChildren) JNothing
        else JObject(mine.filter(_.getAs[String]("childUci") != "")
          .groupBy(_.getAs[String]("childUci")).toList.sortBy(_._1)
          .map { case (uci, rs) => uci -> statsJson(rs.toSeq, isChild = true) })
      JObject(List(
        "fen" -> JString(p.fen)) ++
        p.move.map(m => "move" -> JString(m)).toList ++ List(
        "stats" -> statsJson(root.toSeq, isChild = false),
        "children" -> children))
    }
    JsonMethods.compact(JsonMethods.render(
      JObject(List("token" -> JString(req.token), "results" -> JArray(results.toList)))))
  }

  /** The retractions query kind (reference F6/ERAN surface): request
    * `{"token":t,"retractions":{"fen":f,"synthesize":bool?}}`. The
    * response's `retractions` array reports the STORED reverse moves
    * ("which moves were actually played into f, with what W/D/L");
    * with `synthesize:true` it adds `synthesized` — every legally
    * possible unmove whose predecessor position occurred in the corpus
    * (Retract.candidates joined against the store), including
    * predecessors reached only by transposition. */
  def executeRetractions(spark: SparkSession, positionsAgg: DataFrame,
                         j: JValue): String = {
    val fen = (j \ "retractions" \ "fen").extract[String]
    val synth = (j \ "retractions" \ "synthesize").extractOrElse[Boolean](false)
    val stored = QueryEngine.retractions(spark, positionsAgg, fen).collect()
      .map { r => JObject(List(
        "uci" -> JString(r.getAs[String]("uci")),
        "count" -> JLong(r.getAs[Long]("games")),
        "whiteWins" -> JLong(r.getAs[Long]("white_wins")),
        "draws" -> JLong(r.getAs[Long]("draws")),
        "blackWins" -> JLong(r.getAs[Long]("black_wins"))))
      }
    val synthesized =
      if (!synth) Nil
      else List("synthesized" -> JArray(
        QueryEngine.retractSynth(spark, positionsAgg, fen).collect().map { r =>
          JObject(List(
            "uci" -> JString(r.getAs[String]("uci")),
            "predGames" -> JLong(r.getAs[Long]("pred_games")),
            "playedGames" -> JLong(r.getAs[Long]("played_games"))))
        }.toList))
    JsonMethods.compact(JsonMethods.render(JObject(List(
      "token" -> JString((j \ "token").extractOrElse[String]("")),
      "fen" -> JString(fen),
      "retractions" -> JArray(stored.toList)) ++ synthesized)))
  }

  /** Protocol dispatch: a line is either the explorer Request shape or
    * the retractions query kind. */
  def handle(spark: SparkSession, positionsAgg: DataFrame, line: String,
             games: Option[org.apache.spark.sql.Dataset[ChessIngest.GameRow]] = None): String = {
    val j = JsonMethods.parse(line)
    if ((j \ "retractions") != JNothing) executeRetractions(spark, positionsAgg, j)
    else execute(spark, positionsAgg, parseRequest(j), games)
  }

  /** [[handle]] for a transport: a failed request answers with an
    * `{"error":…}` line instead of throwing. */
  def respond(spark: SparkSession, positionsAgg: DataFrame, line: String,
              games: Option[org.apache.spark.sql.Dataset[ChessIngest.GameRow]]): String =
    try handle(spark, positionsAgg, line, games) catch {
      case e: Exception =>
        s"""{"error":${JsonMethods.compact(JsonMethods.render(JString(e.getMessage)))}}"""
    }

  /** Serve line-delimited JSON over TCP (the reference's GUI transport):
    * one response line per request line, CONCURRENT connections — each
    * client gets its own handler thread, all sharing the one cached
    * store and SparkSession (Spark schedules concurrent collect jobs
    * safely; `execute` holds no session-level mutable state, so
    * responses are isolated per connection by construction — gated by
    * TcpServerSpec's mixed-workload hammer). `maxRequests` bounds the
    * TOTAL responses across all connections; reaching it closes the
    * listener and drains in-flight handlers. */
  def serveTcp(spark: SparkSession, positionsAgg: DataFrame, port: Int,
               maxRequests: Long = Long.MaxValue,
               games: Option[org.apache.spark.sql.Dataset[ChessIngest.GameRow]] = None): Unit =
    serveOn(spark, positionsAgg, new java.net.ServerSocket(port), maxRequests, games)

  /** Serve on an ALREADY-BOUND listener (lets callers bind port 0 once
    * and read the real port with no close-and-rebind race). The
    * `maxRequests` bound is exact: a handler must CAS-reserve a response
    * slot before handling, so concurrent handlers can never overshoot,
    * and shutdown closes every open client socket so a handler parked in
    * readLine on an idle keep-alive connection unblocks immediately. */
  def serveOn(spark: SparkSession, positionsAgg: DataFrame,
              server: java.net.ServerSocket, maxRequests: Long = Long.MaxValue,
              games: Option[org.apache.spark.sql.Dataset[ChessIngest.GameRow]] = None): Unit = {
    val served = new java.util.concurrent.atomic.AtomicLong(0L)
    val written = new java.util.concurrent.atomic.AtomicLong(0L)
    val clients =
      java.util.concurrent.ConcurrentHashMap.newKeySet[java.net.Socket]()
    val pool = java.util.concurrent.Executors.newCachedThreadPool()
    // Reserve one response slot, or report the budget exhausted. Each
    // emitted response holds exactly one reserved slot (handle() catches
    // its own exceptions into an error response), so total responses
    // across all connections == min(requests, maxRequests).
    def reserve(): Boolean = {
      var cur = served.get()
      while (cur < maxRequests) {
        if (served.compareAndSet(cur, cur + 1)) return true
        cur = served.get()
      }
      false
    }
    try {
      while (served.get() < maxRequests) {
        val sock =
          try server.accept()
          catch { case _: java.net.SocketException => return } // closed by a handler
        clients.add(sock)
        pool.execute { () =>
          try {
            val in = new java.io.BufferedReader(
              new java.io.InputStreamReader(sock.getInputStream, "UTF-8"))
            val out = new java.io.PrintWriter(
              new java.io.OutputStreamWriter(sock.getOutputStream, "UTF-8"), true)
            var open = true
            var line = in.readLine()
            while (open && line != null) {
              if (line.trim.nonEmpty) {
                if (reserve()) {
                  out.println(respond(spark, positionsAgg, line, games))
                  written.incrementAndGet()
                  // last slot reserved: unblock the acceptor so the
                  // server can terminate instead of sitting in accept()
                  if (served.get() >= maxRequests) server.close()
                } else open = false
              }
              line = if (open) in.readLine() else null
            }
          } catch {
            case _: java.io.IOException => () // client hung up / shutdown close
          } finally { clients.remove(sock); sock.close() }
        }
      }
    } finally {
      try server.close() catch { case _: java.io.IOException => () }
      pool.shutdown()
      // drain: every RESERVED slot must flush its response before any
      // socket is yanked — a handler mid-handle() still owns its slot
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (written.get() < served.get() && System.nanoTime() < deadline)
        Thread.sleep(20)
      // then unblock handlers parked in readLine on idle keep-alive
      // clients — otherwise shutdown stalls until awaitTermination expires
      clients.forEach(s => try s.close() catch { case _: java.io.IOException => () })
      pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
      ()
    }
  }

  /** Concurrent-client throughput probe (the interactive-GUI regime):
    * `clients` sockets each fire `perClient` requests drawn round-robin
    * from `requestLines`, all against one server/store. Returns
    * (requests/sec, responses) — every response line is returned so
    * callers can assert isolation, not just speed. */
  def throughput(spark: SparkSession, positionsAgg: DataFrame,
                 requestLines: Seq[String], clients: Int, perClient: Int,
                 games: Option[org.apache.spark.sql.Dataset[ChessIngest.GameRow]] = None)
      : (Double, Seq[Seq[String]]) = {
    // bind port 0 HERE and hand the bound socket to the server thread —
    // no close-and-rebind TOCTOU, and clients can connect immediately
    // (the kernel backlog queues them until accept runs)
    val server = new java.net.ServerSocket(0)
    val port = server.getLocalPort
    val total = clients.toLong * perClient
    val serverThread = new Thread(() =>
      serveOn(spark, positionsAgg, server, maxRequests = total, games = games))
    serverThread.setDaemon(true)
    serverThread.start()
    val results = Array.fill(clients)(Seq.empty[String])
    val t0 = System.nanoTime()
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        val sock = new java.net.Socket("127.0.0.1", port)
        try {
          val out = new java.io.PrintWriter(
            new java.io.OutputStreamWriter(sock.getOutputStream, "UTF-8"), true)
          val in = new java.io.BufferedReader(
            new java.io.InputStreamReader(sock.getInputStream, "UTF-8"))
          results(c) = (0 until perClient).map { i =>
            out.println(requestLines((c + i * clients) % requestLines.size))
            in.readLine()
          }
        } finally sock.close()
      })
      t.start(); t
    }
    threads.foreach(_.join(120000))
    val secs = (System.nanoTime() - t0) / 1e9
    serverThread.join(10000)
    // a dead handler (Error, not Exception) or wedged client would
    // otherwise yield a plausible-looking rps over unanswered requests
    require(!threads.exists(_.isAlive), "throughput client thread(s) wedged")
    require(results.forall(rs => rs.size == perClient && !rs.contains(null)),
      "lost responses — rps would overcount")
    (total / secs, results.toSeq)
  }
}
