package graft.chess

import Core._

/** SAN codec (role of the reference's `src/chess/San.h`): parse a SAN
  * token against a position's candidate moves (disambiguation, captures,
  * promotions, castling; check/mate suffixes tolerated), and emit SAN
  * with minimal disambiguation for golden tests.
  */
object San {

  // [Piece][fromFile][fromRank][x][target][=Promo]
  private val SanRe = "^([NBRQK]?)([a-h]?)([1-8]?)(x?)([a-h][1-8])(=([NBRQ]))?$".r
  private val Suffix = "[+#!?]+$".r

  /** Parse `san` in `pos`; None if it matches zero or >1 legal moves.
    * Only the pseudo-moves of squares holding our piece of the named
    * kind (and matching the file/rank hints) are built, and only those
    * landing on the target are checked for legality. */
  def parse(pos: Position, sanRaw: String): Option[Int] = {
    val san = Suffix.replaceAllIn(sanRaw, "")
    if (san == "O-O" || san == "0-0") return castle(pos, 6)
    if (san == "O-O-O" || san == "0-0-0") return castle(pos, 2)

    san match {
      case SanRe(pc, ff, fr, _, tgt, _, promo) =>
        val piece = makePiece(pos.sideToMove, if (pc.isEmpty) 1 else " NBRQK".indexOf(pc) + 1)
        val to = parseSquare(tgt)
        val promoKind = if (promo == null || promo.isEmpty) 0 else " NBRQ".indexOf(promo) + 1
        val cands = new MoveList(32)
        var sq = 0
        while (sq < 64) {
          if (pos.pieceAt(sq) == piece &&
              (ff.isEmpty || file(sq) == ff.charAt(0) - 'a') &&
              (fr.isEmpty || rank(sq) == fr.charAt(0) - '1'))
            pos.pseudoMovesFrom(sq, cands)
          sq += 1
        }
        var found = NoMove; var n = 0; var i = 0
        while (i < cands.size) {
          val m = cands(i)
          if (moveTo(m) == to && movePromo(m) == promoKind &&
              (moveFlags(m) & FlagCastle) == 0 && pos.isLegal(m)) { found = m; n += 1 }
          i += 1
        }
        if (n == 1) Some(found) else None
      case _ => None
    }
  }

  /** Castling to the king's `toFile`, resolved from its home square. */
  private def castle(pos: Position, toFile: Int): Option[Int] = {
    val home = if (pos.sideToMove == White) 4 else 60
    pos.resolve(mkMove(home, square(toFile, rank(home))))
      .filter(m => (moveFlags(m) & FlagCastle) != 0)
  }

  /** Emit SAN (with +/# suffix) for a legal move in `pos`. */
  def emit(pos: Position, m: Int): String = {
    val from = moveFrom(m); val to = moveTo(m)
    val kind = kindOf(pos.pieceAt(from))
    val isCapture = (moveFlags(m) & FlagCapture) != 0
    val base =
      if ((moveFlags(m) & FlagCastle) != 0) {
        if (file(to) == 6) "O-O" else "O-O-O"
      } else if (kind == 1) {
        val cap = if (isCapture) s"${('a' + file(from)).toChar}x" else ""
        val pr = if (movePromo(m) != 0) "=" + "?PNBRQK".charAt(movePromo(m)) else ""
        cap + squareName(to) + pr
      } else {
        val pc = "?PNBRQK".charAt(kind).toString
        // minimal disambiguation among same-kind moves to the same square
        val others = pos.legalMoves().filter(o =>
          o != m && moveTo(o) == to && kindOf(pos.pieceAt(moveFrom(o))) == kind)
        val dis =
          if (others.isEmpty) ""
          else if (!others.exists(o => file(moveFrom(o)) == file(from)))
            ('a' + file(from)).toChar.toString
          else if (!others.exists(o => rank(moveFrom(o)) == rank(from)))
            ('1' + rank(from)).toChar.toString
          else squareName(from)
        pc + dis + (if (isCapture) "x" else "") + squareName(to)
      }
    val next = pos.make(m)
    val suffix =
      if (next.inCheck) { if (next.legalMoves().isEmpty) "#" else "+" } else ""
    base + suffix
  }

  /** UCI token (e2e4, e7e8q) → legal move in `pos`. */
  def parseUci(pos: Position, uci: String): Option[Int] = {
    if (uci.length < 4) return None
    val from = parseSquare(uci.substring(0, 2))
    val to = parseSquare(uci.substring(2, 4))
    val promo = if (uci.length > 4) " nbrq".indexOf(uci.charAt(4).toLower) + 1 else 0
    if (from < 0 || from > 63 || to < 0 || to > 63) None
    else pos.resolve(mkMove(from, to, promo))
  }
}
