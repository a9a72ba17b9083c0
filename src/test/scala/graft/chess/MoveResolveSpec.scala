package graft.chess

import graft.SparkTestBase
import Core._

/** Parity of the candidate-only move resolution (`San.parse`,
  * `San.parseUci`, `Position.resolve` as BCGN decoding uses it) with the
  * full-legal-list resolution it replaced, over positions along sample
  * and random games and around the perft positions (castling, en
  * passant, pins, promotions). The references below are the earlier
  * bodies, kept verbatim: regex per call, `legalMoves()` filtered.
  */
class MoveResolveSpec extends SparkTestBase {

  private def refParse(pos: Position, sanRaw: String): Option[Int] = {
    val san = sanRaw.replaceAll("[+#!?]+$", "")
    if (san == "O-O" || san == "0-0")
      return pos.legalMoves().find(m => (moveFlags(m) & FlagCastle) != 0 && file(moveTo(m)) == 6)
    if (san == "O-O-O" || san == "0-0-0")
      return pos.legalMoves().find(m => (moveFlags(m) & FlagCastle) != 0 && file(moveTo(m)) == 2)

    // [Piece][fromFile][fromRank][x][target][=Promo]
    val re = "^([NBRQK]?)([a-h]?)([1-8]?)(x?)([a-h][1-8])(=([NBRQ]))?$".r
    san match {
      case re(pc, ff, fr, _, tgt, _, promo) =>
        val kind = if (pc.isEmpty) 1 else " NBRQK".indexOf(pc) + 1
        val to = parseSquare(tgt)
        val promoKind = if (promo == null || promo.isEmpty) 0 else " NBRQ".indexOf(promo) + 1
        val cands = pos.legalMoves().filter { m =>
          moveTo(m) == to &&
            kindOf(pos.pieceAt(moveFrom(m))) == kind &&
            movePromo(m) == promoKind &&
            (ff.isEmpty || file(moveFrom(m)) == ff.charAt(0) - 'a') &&
            (fr.isEmpty || rank(moveFrom(m)) == fr.charAt(0) - '1') &&
            (moveFlags(m) & FlagCastle) == 0
        }
        if (cands.length == 1) Some(cands(0)) else None
      case _ => None
    }
  }

  private def refParseUci(pos: Position, uci: String): Option[Int] = {
    if (uci.length < 4) return None
    val from = parseSquare(uci.substring(0, 2))
    val to = parseSquare(uci.substring(2, 4))
    val promo = if (uci.length > 4) " nbrq".indexOf(uci.charAt(4).toLower) + 1 else 0
    pos.legalMoves().find(m =>
      moveFrom(m) == from && moveTo(m) == to && movePromo(m) == promo)
  }

  private def refBcgn(pos: Position, packed: Int): Option[Int] =
    pos.legalMoves().find(m => (m & 0xFFFF) == packed)

  private val perftFens = Seq(
    Position.StartFen,
    "r3k2r/p1ppqpb1/bn2pnp1/3PN3/1p2P3/2N2Q1p/PPPBBPPP/R3K2R w KQkq - 0 1",
    "8/2p5/3p4/KP5r/1R3p1k/8/4P1P1/8 w - - 0 1",
    "r3k2r/Pppp1ppp/1b3nbN/nP6/BBP1P3/q4N2/Pp1P2PP/R2Q1RK1 w kq - 0 1",
    "rnbq1k1r/pp1Pbppp/2p5/8/2B5/8/PPP1NnPP/RNBQK2R w KQ - 1 8")

  private def along(startFen: String, moves: Array[Int]): Seq[Position] =
    moves.scanLeft(if (startFen.isEmpty) Position.initial else Position.fromFen(startFen))(
      (p, m) => p.make(m)).toSeq

  /** Every perft position and every position up to two plies from it. */
  private def perftTree: Seq[Position] = perftFens.flatMap { fen =>
    val root = Position.fromFen(fen)
    val kids = root.legalMoves().toSeq.map(root.make)
    root +: (kids ++ kids.flatMap(k => k.legalMoves().toSeq.map(k.make)))
  }

  private lazy val positions: Seq[Position] = {
    val sample = Pgn.parseAll(SampleGames.pgn)._1.flatMap(g => along(g.startFen, g.moves))
    val random = RandomGames.generate(spark, 60, maxPlies = 120).collect()
      .flatMap(g => along(g.startFen, g.moves))
    sample ++ random ++ perftTree
  }

  private val Alphabet = "NBRQKabcdefgh12345678x=+#!?O-0P"
  private val UciChars = "abcdefgh12345678nbrqkz0"

  /** Seeded junk: uniform strings over the SAN alphabet, and strings
    * assembled from grammar fragments (mostly well-formed, often naming
    * no legal move or several). */
  private def randomTokens(rnd: scala.util.Random, n: Int): Seq[String] =
    Seq.fill(n) {
      if (rnd.nextBoolean())
        Seq.fill(1 + rnd.nextInt(7))(Alphabet.charAt(rnd.nextInt(Alphabet.length))).mkString
      else {
        def pick(xs: String*): String = xs(rnd.nextInt(xs.length))
        def sq: String = s"${('a' + rnd.nextInt(8)).toChar}${1 + rnd.nextInt(8)}"
        pick("", "", "N", "B", "R", "Q", "K", "P") +
          pick("", "", "", s"${('a' + rnd.nextInt(8)).toChar}") +
          pick("", "", "", s"${1 + rnd.nextInt(8)}") + pick("", "x") + sq +
          pick("", "", "", "=Q", "=N", "=K") + pick("", "", "+", "#", "!?")
      }
    }

  private def overDisambiguated(pos: Position, m: Int): String = {
    val kind = kindOf(pos.pieceAt(moveFrom(m)))
    val pc = if (kind == 1) "" else "?PNBRQK".charAt(kind).toString
    val cap = if ((moveFlags(m) & FlagCapture) != 0) "x" else ""
    val pr = if (movePromo(m) != 0) "=" + "?PNBRQK".charAt(movePromo(m)) else ""
    pc + squareName(moveFrom(m)) + cap + squareName(moveTo(m)) + pr
  }

  test("San.parse and San.parseUci agree with the full-legal-list references") {
    val rnd = new scala.util.Random(20261019L)
    var tokens = 0L; var mismatches = 0L; var resolved = 0L
    val firstBad = Vector.newBuilder[String]
    def check(what: String, pos: Position, tok: String, got: Option[Int], want: Option[Int]): Unit = {
      tokens += 1
      if (want.isDefined) resolved += 1
      if (got != want) {
        mismatches += 1
        if (mismatches <= 5) firstBad += s"$what '$tok' in ${pos.toFen}: $got != $want"
      }
    }
    positions.foreach { pos =>
      val legal = pos.legalMoves()
      val sans = legal.toSeq.flatMap(m =>
        Seq(San.emit(pos, m), moveToUci(m), overDisambiguated(pos, m))) ++
        Seq("O-O", "0-0", "O-O-O", "0-0-0+") ++ randomTokens(rnd, 24)
      sans.foreach(t => check("san", pos, t, San.parse(pos, t), refParse(pos, t)))
      val ucis = legal.toSeq.flatMap(m => Seq(moveToUci(m), moveToUci(m) + "q")) ++
        Seq.fill(8)(Seq.fill(3 + rnd.nextInt(3))(UciChars.charAt(rnd.nextInt(UciChars.length))).mkString)
      ucis.foreach(t => check("uci", pos, t, San.parseUci(pos, t), refParseUci(pos, t)))
    }
    info(s"${positions.length} positions, $tokens tokens ($resolved resolve to a move), " +
      s"$mismatches mismatches")
    assert(resolved > positions.length, "the tokens should mostly name real moves")
    assert(mismatches == 0, firstBad.result().mkString("\n"))
  }

  test("BCGN resolution of a packed move agrees with legalMoves().find") {
    val rnd = new scala.util.Random(7L)
    var mismatches = 0
    positions.foreach { pos =>
      // the packed forms of every pseudo-move (legal or not) plus junk
      val packed = pos.pseudoMoves().map(_ & 0xFFFF) ++ Array.fill(8)(rnd.nextInt(0x10000))
      packed.foreach { p =>
        if (pos.resolve(p) != refBcgn(pos, p)) mismatches += 1
      }
    }
    assert(mismatches == 0)
  }

  test("pseudoMovesFrom over 0..63, concatenated, is pseudoMoves() in order") {
    positions.foreach { pos =>
      val out = new MoveList(4)
      (0 until 64).foreach(sq => pos.pseudoMovesFrom(sq, out))
      assert(out.toArray.sameElements(pos.pseudoMoves()), pos.toFen)
      assert(pos.legalMoves().sameElements(pos.pseudoMoves().filter(pos.isLegal)), pos.toFen)
    }
  }

  test("resolution sees castling, en passant and promotion flags") {
    val kiwi = Position.fromFen(perftFens(1))
    assert(San.parse(kiwi, "O-O").exists(m => (moveFlags(m) & FlagCastle) != 0))
    assert(San.parse(kiwi, "O-O-O+").map(moveTo).contains(2))
    val ep = Position.fromFen("4k3/8/8/3pP3/8/8/8/4K3 w - d6 0 2")
    assert(San.parse(ep, "exd6").exists(m => (moveFlags(m) & FlagEp) != 0))
    assert(ep.resolve(mkMove(parseSquare("e5"), parseSquare("d6"))).exists(m =>
      (moveFlags(m) & FlagEp) != 0))
    val promo = Position.fromFen("4k3/1P6/8/8/8/8/8/4K3 w - - 0 1")
    assert(San.parseUci(promo, "b7b8n").exists(m => movePromo(m) == 2))
    assert(San.parse(promo, "b8=Q+").exists(m => movePromo(m) == 5))
    // a rook on the king's home square is not a castling move
    val rookHome = Position.fromFen("4k3/8/8/8/8/8/8/K3R3 w - - 0 1")
    assert(San.parse(rookHome, "O-O").isEmpty && San.parse(rookHome, "Rg1").isDefined)
  }
}
