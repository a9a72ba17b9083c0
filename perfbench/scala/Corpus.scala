package perfbench

import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import graft.chess.{ChessIngest, Core, Position, San}
import graft.chess.Core._

/** A seeded game corpus shaped like a real database: each game opens with
  * a line drawn Zipf-skewed from a small pool, then continues with random
  * legal play, so hot opening positions are shared across many games while
  * the tails are mostly unique.
  *
  * `counts` is the benchmark's own tally of position occurrences, keyed by
  * FEN fields (board, side, castling, en-passant only when a pawn could
  * take) — the identity the store's signature encodes. Checks compare the
  * program's answers against it. */
final case class Corpus(games: Vector[ChessIngest.GameRow],
                        counts: java.util.Map[String, Integer]) {
  def occurrences: Long = games.map(_.moves.length + 1L).sum
}

object Corpus {
  val PoolSize = 200

  def key(p: Position): String = {
    val f = p.toFen.split(' ')
    val ep = if (p.epSquare >= 0 && epCapturable(p)) f(3) else "-"
    s"${f(0)} ${f(1)} ${f(2)} $ep"
  }

  private def epCapturable(p: Position): Boolean = {
    val ep = p.epSquare
    val r = if (p.sideToMove == White) rank(ep) - 1 else rank(ep) + 1
    val pawn = makePiece(p.sideToMove, 1)
    (file(ep) > 0 && p.pieceAt(square(file(ep) - 1, r)) == pawn) ||
      (file(ep) < 7 && p.pieceAt(square(file(ep) + 1, r)) == pawn)
  }

  private def extend(start: Position, moves: Array[Int], target: Int,
                     rnd: SplittableRandom): (Array[Int], Position) = {
    val out = Array.newBuilder[Int]
    out ++= moves
    var pos = start
    var n = moves.length
    var legal = pos.legalMoves()
    while (n < target && legal.nonEmpty) {
      val m = legal(rnd.nextInt(legal.length))
      out += m
      pos = pos.make(m)
      legal = pos.legalMoves()
      n += 1
    }
    (out.result(), pos)
  }

  def replay(moves: Array[Int], plies: Int): Position = {
    var pos = Position.initial
    var i = 0
    while (i < plies) { pos = pos.make(moves(i)); i += 1 }
    pos
  }

  /** `nGames` games of 40–120 plies; the same seed gives the same corpus.
    * Games are generated in parallel, each from its own seeded stream. */
  def generate(seed: Long, nGames: Int, withCounts: Boolean): Corpus = {
    val root = new SplittableRandom(seed)
    val pool = Array.fill(PoolSize) {
      extend(Position.initial, Array.empty, 4 + root.nextInt(9), root)
    }
    val cdf = (1 to PoolSize).map(i => 1.0 / math.pow(i, 1.1)).scanLeft(0.0)(_ + _).tail.toArray
    val total = cdf.last
    val seeds = Array.fill(nGames)(root.nextLong())
    val games = java.util.stream.IntStream.range(0, nGames).parallel().mapToObj[ChessIngest.GameRow] { i =>
      val rnd = new SplittableRandom(seeds(i))
      val u = rnd.nextDouble() * total
      val (prefix, prefixEnd) = pool(math.min(PoolSize - 1, cdf.indexWhere(_ >= u)))
      val (moves, last) = extend(prefixEnd, prefix, 40 + rnd.nextInt(81), rnd)
      val result: Byte =
        if (last.legalMoves().isEmpty && last.inCheck)
          (if (last.sideToMove == Black) Result.WhiteWin else Result.BlackWin)
        else Array(Result.WhiteWin, Result.Draw, Result.BlackWin)(rnd.nextInt(3))
      ChessIngest.GameRow(i.toLong, "perfbench", "seeded", "2024.01.01", 2024, 1, 1,
        s"white$i", s"black$i", 1200 + rnd.nextInt(1400), 1200 + rnd.nextInt(1400),
        result, "", Level.Human, moves.length, moves)
    }.toArray(n => new Array[ChessIngest.GameRow](n)).toVector
    val counts = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    if (withCounts) games.asJava.parallelStream().forEach { g =>
      var pos = Position.initial
      counts.merge(key(pos), 1, (a, b) => a + b)
      g.moves.foreach { m => pos = pos.make(m); counts.merge(key(pos), 1, (a, b) => a + b) }
    }
    Corpus(games, counts)
  }

  private def resultToken(r: Byte): String =
    if (r == Result.WhiteWin) "1-0" else if (r == Result.BlackWin) "0-1" else "1/2-1/2"

  /** One game as PGN text (seven-tag roster plus Elo tags, SAN movetext). */
  def pgn(g: ChessIngest.GameRow): String = {
    val sb = new StringBuilder
    def tag(k: String, v: String): Unit = sb.append('[').append(k).append(" \"").append(v).append("\"]\n")
    tag("Event", g.event); tag("Site", g.site); tag("Date", g.date); tag("Round", "1")
    tag("White", g.white); tag("Black", g.black); tag("Result", resultToken(g.result))
    tag("WhiteElo", g.whiteElo.toString); tag("BlackElo", g.blackElo.toString)
    sb.append('\n')
    var pos = Position.initial
    var i = 0
    while (i < g.moves.length) {
      if (i % 2 == 0) sb.append(i / 2 + 1).append(". ")
      sb.append(San.emit(pos, g.moves(i))).append(' ')
      pos = pos.make(g.moves(i))
      if (i % 16 == 15) sb.append('\n')
      i += 1
    }
    sb.append(resultToken(g.result)).append("\n\n").toString
  }
}
