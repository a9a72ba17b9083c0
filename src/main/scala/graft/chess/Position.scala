package graft.chess

import Core._

/** Full board state + legal move generation + FEN codec (SURVEY.md M1;
  * behavioral role of the reference's `src/chess/{Position,MoveGenerator}`).
  *
  * Copy-make design: `make` returns a NEW Position (the 64-byte board
  * array is copied). Legality = pseudo-legal generation + own-king-safe
  * filter (`isLegal`); castling checks emptiness and attacked transit
  * squares; en passant and promotions are fully modeled. A move named by
  * a record (SAN, UCI, BCGN) is resolved from `pseudoMovesFrom` of its
  * candidate squares, never from the full legal list. Validated by perft
  * against published node counts (PerftSpec).
  */
final class Position(
    val board: Array[Int],     // 64 piece codes
    val sideToMove: Int,       // White | Black
    val castling: Int,         // CastleWK|WQ|BK|BQ bits
    val epSquare: Int,         // target square of a possible ep capture, -1 none
    val halfmove: Int,
    val fullmove: Int) {

  def pieceAt(sq: Int): Int = board(sq)

  def kingSquare(color: Int): Int = {
    val k = makePiece(color, 6)
    var i = 0
    while (i < 64) { if (board(i) == k) return i; i += 1 }
    -1
  }

  /** Is `sq` attacked by any piece of `by`? */
  def isAttacked(sq: Int, by: Int): Boolean = {
    val f = file(sq); val r = rank(sq)
    // pawns
    val pr = if (by == White) r - 1 else r + 1
    if (pr >= 0 && pr < 8) {
      val pp = makePiece(by, 1)
      if (f > 0 && board(square(f - 1, pr)) == pp) return true
      if (f < 7 && board(square(f + 1, pr)) == pp) return true
    }
    // knights
    val nn = makePiece(by, 2)
    var i = 0
    while (i < 8) {
      val df = Position.knightDf(i); val dr = Position.knightDr(i)
      val nf = f + df; val nr = r + dr
      if (nf >= 0 && nf < 8 && nr >= 0 && nr < 8 && board(square(nf, nr)) == nn)
        return true
      i += 1
    }
    // king adjacency
    val kk = makePiece(by, 6)
    var d = 0
    while (d < 8) {
      val nf = f + Position.kingDf(d); val nr = r + Position.kingDr(d)
      if (nf >= 0 && nf < 8 && nr >= 0 && nr < 8 && board(square(nf, nr)) == kk)
        return true
      d += 1
    }
    // sliders: rook/queen on orthogonals, bishop/queen on diagonals
    val rq1 = makePiece(by, 4); val q = makePiece(by, 5); val bq1 = makePiece(by, 3)
    d = 0
    while (d < 4) {
      var nf = f + Position.orthoDf(d); var nr = r + Position.orthoDr(d)
      var stop = false
      while (!stop && nf >= 0 && nf < 8 && nr >= 0 && nr < 8) {
        val p = board(square(nf, nr))
        if (p != Empty) { if (p == rq1 || p == q) return true; stop = true }
        else { nf += Position.orthoDf(d); nr += Position.orthoDr(d) }
      }
      nf = f + Position.diagDf(d); nr = r + Position.diagDr(d)
      stop = false
      while (!stop && nf >= 0 && nf < 8 && nr >= 0 && nr < 8) {
        val p = board(square(nf, nr))
        if (p != Empty) { if (p == bq1 || p == q) return true; stop = true }
        else { nf += Position.diagDf(d); nr += Position.diagDr(d) }
      }
      d += 1
    }
    false
  }

  def inCheck: Boolean = isAttacked(kingSquare(sideToMove), 1 - sideToMove)

  /** Pseudo-legal move list (castling pre-checks transit safety, so the
    * only remaining illegality is leaving one's own king in check). */
  def pseudoMoves(): Array[Int] = {
    val out = new MoveList(64)
    var sq = 0
    while (sq < 64) { pseudoMovesFrom(sq, out); sq += 1 }
    out.toArray
  }

  /** Appends to `out` the pseudo-legal moves of the side to move's piece
    * on `sq` (nothing if `sq` is empty or holds an enemy piece), in the
    * order `pseudoMoves()` lists them. */
  def pseudoMovesFrom(sq: Int, out: MoveList): Unit = {
    val p = board(sq)
    val us = sideToMove
    if (p != Empty && colorOf(p) == us) {
      val them = 1 - us
      val fwd = if (us == White) 1 else -1
      val startRank = if (us == White) 1 else 6
      val promoRank = if (us == White) 7 else 0
      val f = file(sq); val r = rank(sq)
      kindOf(p) match {
        case 1 => // pawn
          val r1 = r + fwd
          if (r1 >= 0 && r1 < 8) {
            val oneUp = square(f, r1)
            if (board(oneUp) == Empty) {
              if (r1 == promoRank) { var pk = 2; while (pk <= 5) { out.add(mkMove(sq, oneUp, pk)); pk += 1 } }
              else out.add(mkMove(sq, oneUp))
              if (r == startRank) {
                val twoUp = square(f, r + 2 * fwd)
                if (board(twoUp) == Empty) out.add(mkMove(sq, twoUp, 0, FlagDouble))
              }
            }
            var df = -1
            while (df <= 1) {
              if (df != 0) {
                val nf = f + df
                if (nf >= 0 && nf < 8) {
                  val cap = square(nf, r1)
                  val cp = board(cap)
                  if (cp != Empty && colorOf(cp) == them) {
                    if (r1 == promoRank) { var pk = 2; while (pk <= 5) { out.add(mkMove(sq, cap, pk, FlagCapture)); pk += 1 } }
                    else out.add(mkMove(sq, cap, 0, FlagCapture))
                  } else if (cap == epSquare) out.add(mkMove(sq, cap, 0, FlagEp | FlagCapture))
                }
              }
              df += 2
            }
          }
        case 2 => // knight
          var i = 0
          while (i < 8) {
            val nf = f + Position.knightDf(i); val nr = r + Position.knightDr(i)
            if (nf >= 0 && nf < 8 && nr >= 0 && nr < 8) {
              val t = square(nf, nr); val tp = board(t)
              if (tp == Empty) out.add(mkMove(sq, t))
              else if (colorOf(tp) == them) out.add(mkMove(sq, t, 0, FlagCapture))
            }
            i += 1
          }
        case 6 => // king
          var i = 0
          while (i < 8) {
            val nf = f + Position.kingDf(i); val nr = r + Position.kingDr(i)
            if (nf >= 0 && nf < 8 && nr >= 0 && nr < 8) {
              val t = square(nf, nr); val tp = board(t)
              if (tp == Empty) out.add(mkMove(sq, t))
              else if (colorOf(tp) == them) out.add(mkMove(sq, t, 0, FlagCapture))
            }
            i += 1
          }
          // castling (king on its home square with rights intact)
          if (us == White && sq == 4) {
            if ((castling & CastleWK) != 0 && board(5) == Empty && board(6) == Empty &&
                board(7) == WR &&
                !isAttacked(4, them) && !isAttacked(5, them) && !isAttacked(6, them))
              out.add(mkMove(4, 6, 0, FlagCastle))
            if ((castling & CastleWQ) != 0 && board(3) == Empty && board(2) == Empty &&
                board(1) == Empty && board(0) == WR &&
                !isAttacked(4, them) && !isAttacked(3, them) && !isAttacked(2, them))
              out.add(mkMove(4, 2, 0, FlagCastle))
          } else if (us == Black && sq == 60) {
            if ((castling & CastleBK) != 0 && board(61) == Empty && board(62) == Empty &&
                board(63) == BR &&
                !isAttacked(60, them) && !isAttacked(61, them) && !isAttacked(62, them))
              out.add(mkMove(60, 62, 0, FlagCastle))
            if ((castling & CastleBQ) != 0 && board(59) == Empty && board(58) == Empty &&
                board(57) == Empty && board(56) == BR &&
                !isAttacked(60, them) && !isAttacked(59, them) && !isAttacked(58, them))
              out.add(mkMove(60, 58, 0, FlagCastle))
          }
        case k => // sliders: bishop 3, rook 4, queen 5
          var d = 0
          while (d < 4) {
            if (k == 4 || k == 5) slide(out, sq, Position.orthoDf(d), Position.orthoDr(d), them)
            if (k == 3 || k == 5) slide(out, sq, Position.diagDf(d), Position.diagDr(d), them)
            d += 1
          }
      }
    }
  }

  private def slide(out: MoveList, sq: Int, df: Int, dr: Int, them: Int): Unit = {
    var nf = file(sq) + df; var nr = rank(sq) + dr
    var stop = false
    while (!stop && nf >= 0 && nf < 8 && nr >= 0 && nr < 8) {
      val t = square(nf, nr); val tp = board(t)
      if (tp == Empty) { out.add(mkMove(sq, t)); nf += df; nr += dr }
      else { if (colorOf(tp) == them) out.add(mkMove(sq, t, 0, FlagCapture)); stop = true }
    }
  }

  /** Apply a move; returns the successor position (copy-make). */
  def make(m: Int): Position = {
    val b = java.util.Arrays.copyOf(board, 64)
    val from = moveFrom(m); val to = moveTo(m)
    val p = b(from); val us = sideToMove
    val flags = moveFlags(m)
    var newEp = -1
    var newCastling = castling
    val isPawn = kindOf(p) == 1
    val captured = b(to) != Empty || (flags & FlagEp) != 0

    b(from) = Empty
    b(to) = if (movePromo(m) != 0) makePiece(us, movePromo(m)) else p

    if ((flags & FlagEp) != 0) {
      // captured pawn sits behind the ep target square
      val capSq = if (us == White) to - 8 else to + 8
      b(capSq) = Empty
    }
    if ((flags & FlagDouble) != 0)
      newEp = if (us == White) from + 8 else from - 8
    if ((flags & FlagCastle) != 0) {
      to match {
        case 6  => b(7) = Empty; b(5) = WR
        case 2  => b(0) = Empty; b(3) = WR
        case 62 => b(63) = Empty; b(61) = BR
        case 58 => b(56) = Empty; b(59) = BR
        case _ =>
      }
    }
    // castling-rights bookkeeping: king/rook moves or rook captured
    if (p == WK) newCastling &= ~(CastleWK | CastleWQ)
    if (p == BK) newCastling &= ~(CastleBK | CastleBQ)
    if (from == 0 || to == 0) newCastling &= ~CastleWQ
    if (from == 7 || to == 7) newCastling &= ~CastleWK
    if (from == 56 || to == 56) newCastling &= ~CastleBQ
    if (from == 63 || to == 63) newCastling &= ~CastleBK

    new Position(b, 1 - us, newCastling, newEp,
      if (isPawn || captured) 0 else halfmove + 1,
      if (us == Black) fullmove + 1 else fullmove)
  }

  /** Does pseudo-move `m` leave the mover's own king safe? */
  def isLegal(m: Int): Boolean = {
    val next = make(m)
    !next.isAttacked(next.kingSquare(sideToMove), next.sideToMove)
  }

  /** Fully legal moves. */
  def legalMoves(): Array[Int] = pseudoMoves().filter(isLegal)

  /** The legal move whose low 16 bits (from | to<<6 | promo<<12) equal
    * `packed`, found among the pseudo-moves of its from-square only —
    * one record names one move, so the rest of the list is never built. */
  def resolve(packed: Int): Option[Int] = {
    val cands = new MoveList(32)
    pseudoMovesFrom(packed & 63, cands)
    var i = 0
    while (i < cands.size) {
      val m = cands(i)
      if ((m & 0xFFFF) == packed && isLegal(m)) return Some(m)
      i += 1
    }
    None
  }

  def perft(depth: Int): Long =
    if (depth == 0) 1L
    else {
      val ms = legalMoves()
      if (depth == 1) ms.length.toLong
      else {
        var n = 0L; var i = 0
        while (i < ms.length) { n += make(ms(i)).perft(depth - 1); i += 1 }
        n
      }
    }

  def toFen: String = {
    val sb = new StringBuilder
    var r = 7
    while (r >= 0) {
      var f = 0; var run = 0
      while (f < 8) {
        val p = board(square(f, r))
        if (p == Empty) run += 1
        else {
          if (run > 0) { sb.append(run); run = 0 }
          sb.append("?PNBRQKpnbrqk".charAt(p))
        }
        f += 1
      }
      if (run > 0) sb.append(run)
      if (r > 0) sb.append('/')
      r -= 1
    }
    sb.append(if (sideToMove == White) " w " else " b ")
    if (castling == 0) sb.append('-')
    else {
      if ((castling & CastleWK) != 0) sb.append('K')
      if ((castling & CastleWQ) != 0) sb.append('Q')
      if ((castling & CastleBK) != 0) sb.append('k')
      if ((castling & CastleBQ) != 0) sb.append('q')
    }
    sb.append(' ')
    sb.append(if (epSquare < 0) "-" else squareName(epSquare))
    sb.append(s" $halfmove $fullmove")
    sb.toString
  }

  override def equals(o: Any): Boolean = o match {
    case p: Position =>
      java.util.Arrays.equals(board, p.board) && sideToMove == p.sideToMove &&
        castling == p.castling && epSquare == p.epSquare
    case _ => false
  }
  override def hashCode: Int =
    java.util.Arrays.hashCode(board) * 31 + sideToMove * 7 + castling * 3 + epSquare
}

/** Growable unboxed move buffer the generator appends to. */
final class MoveList(initialCapacity: Int) {
  private var moves = new Array[Int](initialCapacity)
  private var n = 0
  def size: Int = n
  def apply(i: Int): Int = moves(i)
  def add(m: Int): Unit = {
    if (n == moves.length) moves = java.util.Arrays.copyOf(moves, math.max(8, n * 2))
    moves(n) = m; n += 1
  }
  def toArray: Array[Int] = java.util.Arrays.copyOf(moves, n)
}

object Position {
  val knightDf = Array(1, 2, 2, 1, -1, -2, -2, -1)
  val knightDr = Array(2, 1, -1, -2, -2, -1, 1, 2)
  val kingDf   = Array(-1, -1, -1, 0, 0, 1, 1, 1)
  val kingDr   = Array(-1, 0, 1, -1, 1, -1, 0, 1)
  val orthoDf  = Array(1, -1, 0, 0)
  val orthoDr  = Array(0, 0, 1, -1)
  val diagDf   = Array(1, 1, -1, -1)
  val diagDr   = Array(1, -1, 1, -1)

  val StartFen = "rnbqkbnr/pppppppp/8/8/8/8/PPPPPPPP/RNBQKBNR w KQkq - 0 1"

  def initial: Position = fromFen(StartFen)

  def fromFen(fen: String): Position = {
    val parts = fen.trim.split("\\s+")
    val b = new Array[Int](64)
    var r = 7; var f = 0
    parts(0).foreach {
      case '/' => r -= 1; f = 0
      case c if c.isDigit => f += c - '0'
      case c =>
        val idx = "?PNBRQKpnbrqk".indexOf(c)
        require(idx > 0, s"bad FEN piece '$c' in $fen")
        b(Core.square(f, r)) = idx; f += 1
    }
    val side = if (parts.length > 1 && parts(1) == "b") Black else White
    var cast = 0
    if (parts.length > 2) parts(2).foreach {
      case 'K' => cast |= CastleWK; case 'Q' => cast |= CastleWQ
      case 'k' => cast |= CastleBK; case 'q' => cast |= CastleBQ
      case _ =>
    }
    val ep = if (parts.length > 3 && parts(3) != "-") parseSquare(parts(3)) else -1
    val hm = if (parts.length > 4) parts(4).toInt else 0
    val fm = if (parts.length > 5) parts(5).toInt else 1
    new Position(b, side, cast, ep, hm, fm)
  }
}
