package graft.chess

import Core._

/** True retraction synthesis (reference F6/ERAN role, SURVEY.md §2.8,
  * §7.3.6): given a position P, generate every (predecessor P', move m)
  * with make(P', m) == P — WITHOUT consulting the store. Where
  * `QueryEngine.retractions` answers from reverse moves that actually
  * occurred, this enumerates all retro-moves (unmoves), so the store
  * join can also surface predecessors whose transition into P was never
  * played (the transposition-analysis question).
  *
  * Construction: generate a SUPERSET of candidates from reverse piece
  * movement — normal unmoves with each possible uncapture, pawn
  * push/double/capture unmoves, un-promotions, un-castles, un-en-passant
  * — then VALIDATE each by replay: m must be a legal move of P' and
  * P'.make(m) must equal P (board, side, castling, ep). Correctness thus
  * rests on the perft-gated forward engine, not on retro-logic; the
  * generator only has to not MISS candidates (completeness is
  * property-tested in RetractSpec: every move played along ~2000 random
  * game plies must be recovered as a retraction of its successor, plus
  * crafted un-castle/un-promotion/un-en-passant/dead-ep cases).
  *
  * Ambiguity is modeled, not guessed: a predecessor's castling rights
  * and en-passant state are not fully determined by P, so all
  * board-consistent rights supersets and all signature-relevant
  * (capturable) ep variants are emitted as distinct candidates — the
  * store join keeps whichever actually occurred.
  */
object Retract {

  /** One validated retraction: predecessor signature + the move. */
  case class RetroCand(uci: String, predHi: Long, predLo: Long, m: Int)

  /** All (P', m) with make(P', m) == P, deduplicated on (signature,
    * move). Driver-side pure function, same posture as
    * QueryEngine.probeKeys: a retraction query touches ONE position, so
    * candidate generation is never cluster-scale. */
  def candidates(pos: Position): Seq[RetroCand] =
    retractions(pos).map { case (pred, m) =>
      val (h, l) = Zobrist.signature(pred)
      RetroCand(moveToUci(m), h, l, m)
    }.distinct

  /** Validated (predecessor, move) pairs (one per rights/ep variant —
    * variants with identical signatures are deduped in `candidates`). */
  def retractions(pos: Position): Seq[(Position, Int)] = {
    val mover = 1 - pos.sideToMove
    val out = Seq.newBuilder[(Position, Int)]
    val fwd = if (mover == White) 8 else -8
    val lastRank = if (mover == White) 7 else 0
    val b = pos.board

    // opponent pieces that could have been captured on square t
    def uncaps(t: Int): Seq[Int] = {
      val r = rank(t)
      val kinds = if (r == 0 || r == 7) 2 to 5 else 1 to 5 // no pawn on 1st/8th
      Empty +: kinds.map(k => makePiece(1 - mover, k))
    }

    def emit(predBoard: Array[Int], from: Int, to: Int, promo: Int,
             needEp: Int): Unit =
      validate(pos, predBoard, mover, from, to, promo, needEp, out)

    var t = 0
    while (t < 64) {
      val p = b(t)
      if (p != Empty && colorOf(p) == mover) {
        val k = kindOf(p)
        if (k != 1) {
          // normal unmove of N/B/R/Q/K, with every possible uncapture
          for (s <- pieceSources(pos, t, k); x <- uncaps(t)) {
            val nb = b.clone()
            nb(s) = p; nb(t) = x
            emit(nb, s, t, 0, -1)
          }
          // un-promotion: the piece was a pawn one rank back
          if (k >= 2 && k <= 5 && rank(t) == lastRank) {
            val pawn = makePiece(mover, 1)
            val sPush = t - fwd
            if (b(sPush) == Empty) {
              val nb = b.clone(); nb(sPush) = pawn; nb(t) = Empty
              emit(nb, sPush, t, k, -1)
            }
            for (df <- Seq(-1, 1); sCap = t - fwd + df
                 if file(sCap) == file(t) + df && sCap >= 0 && sCap < 64 &&
                   b(sCap) == Empty;
                 x <- uncaps(t) if x != Empty) {
              val nb = b.clone(); nb(sCap) = pawn; nb(t) = x
              emit(nb, sCap, t, k, -1)
            }
          }
        } else {
          // pawn unmoves (t can never be on rank 0/7 here)
          val sPush = t - fwd
          if (rank(sPush) >= 1 && rank(sPush) <= 6 && b(sPush) == Empty) {
            val nb = b.clone(); nb(sPush) = p; nb(t) = Empty
            emit(nb, sPush, t, 0, -1)
            // double push: one more rank back from its start rank
            val sDouble = t - 2 * fwd
            if (rank(t) == (if (mover == White) 3 else 4) && b(sDouble) == Empty) {
              val nb2 = b.clone(); nb2(sDouble) = p; nb2(t) = Empty
              emit(nb2, sDouble, t, 0, -1)
            }
          }
          for (df <- Seq(-1, 1); sCap = t - fwd + df
               if file(sCap) == file(t) + df && sCap >= 0 && sCap < 64 &&
                 rank(sCap) >= 1 && rank(sCap) <= 6 && b(sCap) == Empty;
               x <- uncaps(t) if x != Empty) {
            val nb = b.clone(); nb(sCap) = p; nb(t) = x
            emit(nb, sCap, t, 0, -1)
          }
          // un-en-passant: pawn on the ep-arrival rank, capture came
          // from beside the (now removed) double-pushed enemy pawn
          if (rank(t) == (if (mover == White) 5 else 2)) {
            val capSq = t - fwd // the enemy pawn sat behind the target
            for (df <- Seq(-1, 1); s = t - fwd + df
                 if file(s) == file(t) + df && s >= 0 && s < 64 &&
                   b(s) == Empty && b(capSq) == Empty) {
              val nb = b.clone()
              nb(s) = p; nb(t) = Empty; nb(capSq) = makePiece(1 - mover, 1)
              emit(nb, s, t, 0, t) // pred MUST have ep square = t
            }
          }
        }
      }
      t += 1
    }

    // un-castle: (kingTo, rookTo, kingFrom, rookFrom) per flavor
    val kp = makePiece(mover, 6); val rp = makePiece(mover, 4)
    val flavors =
      if (mover == White) Seq((6, 5, 4, 7), (2, 3, 4, 0))
      else Seq((62, 61, 60, 63), (58, 59, 60, 56))
    for ((kTo, rTo, kFrom, rFrom) <- flavors
         if b(kTo) == kp && b(rTo) == rp &&
           b(kFrom) == Empty && b(rFrom) == Empty) {
      val nb = b.clone()
      nb(kTo) = Empty; nb(rTo) = Empty; nb(kFrom) = kp; nb(rFrom) = rp
      emit(nb, kFrom, kTo, 0, -1)
    }

    out.result()
  }

  /** Empty squares a piece of `kind` could have moved to `t` from
    * (reverse movement == forward movement for every non-pawn; slider
    * paths must be empty in P, which equals P' off the touched squares). */
  private def pieceSources(pos: Position, t: Int, kind: Int): Seq[Int] = {
    val b = pos.board
    val f = file(t); val r = rank(t)
    val out = Seq.newBuilder[Int]
    def offsets(dfs: Array[Int], drs: Array[Int]): Unit = {
      var i = 0
      while (i < dfs.length) {
        val nf = f + dfs(i); val nr = r + drs(i)
        if (nf >= 0 && nf < 8 && nr >= 0 && nr < 8 &&
          b(square(nf, nr)) == Empty) out += square(nf, nr)
        i += 1
      }
    }
    def rays(dfs: Array[Int], drs: Array[Int]): Unit = {
      var i = 0
      while (i < dfs.length) {
        var nf = f + dfs(i); var nr = r + drs(i)
        var open = true
        while (open && nf >= 0 && nf < 8 && nr >= 0 && nr < 8) {
          if (b(square(nf, nr)) == Empty) {
            out += square(nf, nr); nf += dfs(i); nr += drs(i)
          } else open = false
        }
        i += 1
      }
    }
    kind match {
      case 2 => offsets(Position.knightDf, Position.knightDr)
      case 3 => rays(Position.diagDf, Position.diagDr)
      case 4 => rays(Position.orthoDf, Position.orthoDr)
      case 5 => rays(Position.diagDf, Position.diagDr)
                rays(Position.orthoDf, Position.orthoDr)
      case 6 => offsets(Position.kingDf, Position.kingDr)
      case _ =>
    }
    out.result()
  }

  /** Enumerate rights/ep variants of a candidate board and keep those
    * the forward engine confirms: m legal in P' and make(P', m) ≡ P.
    *
    * Equivalence is STORE-KEY equality (board, side, castling, and the
    * Zobrist-128 signature, which hashes ep only when capturable) — not
    * strict `Position.equals`: a double push records its ep square even
    * when no enemy pawn can take it, while an externally-supplied FEN
    * may normalize that dead ep to "-", and the two alias to the same
    * entry-store key. Comparing signatures makes retraction agree with
    * what the store join can actually distinguish. */
  private def validate(pos: Position, predBoard: Array[Int], mover: Int,
                       from: Int, to: Int, promo: Int, needEp: Int,
                       out: scala.collection.mutable.Builder[(Position, Int), Seq[(Position, Int)]]): Unit = {
    val them = 1 - mover
    val posSig = Zobrist.signature(pos)
    def sameKey(succ: Position): Boolean =
      java.util.Arrays.equals(succ.board, pos.board) &&
        succ.sideToMove == pos.sideToMove && succ.castling == pos.castling &&
        Zobrist.signature(succ) == posSig
    for (rights <- rightsChoices(pos.castling, predBoard);
         ep <- if (needEp >= 0) Seq(needEp)
               else -1 +: capturableEps(predBoard, mover)) {
      val pred = new Position(predBoard, mover, rights, ep, 0,
        if (mover == Black) pos.fullmove - 1 else pos.fullmove)
      // a side never stays in check through the opponent's move: P' is
      // only a legal state if the side that is NOT to move is safe
      if (!pred.isAttacked(pred.kingSquare(them), mover)) {
        pred.resolve(mkMove(from, to, promo)) match {
          case Some(m) if sameKey(pred.make(m)) => out += ((pred, m)); ()
          case _ =>
        }
      }
    }
  }

  /** Rights supersets of P's rights that the candidate board supports
    * (a standing right requires king and rook on their home squares —
    * true of every position reachable in a real game). */
  private def rightsChoices(posRights: Int, b: Array[Int]): Seq[Int] = {
    def ok(r: Int): Boolean =
      ((r & CastleWK) == 0 || (b(4) == WK && b(7) == WR)) &&
      ((r & CastleWQ) == 0 || (b(4) == WK && b(0) == WR)) &&
      ((r & CastleBK) == 0 || (b(60) == BK && b(63) == BR)) &&
      ((r & CastleBQ) == 0 || (b(60) == BK && b(56) == BR))
    (0 until 16).filter(r => (r & posRights) == posRights && ok(r))
  }

  /** Signature-relevant ep squares P' could carry: the opponent's pawn
    * stands where a double push lands, the pushed-over squares are
    * empty, and one of OUR pawns is beside it (Zobrist hashes ep only
    * when pseudo-capturable, so dead ep states alias ep = -1). */
  private def capturableEps(b: Array[Int], mover: Int): Seq[Int] = {
    val them = 1 - mover
    val themPawn = makePiece(them, 1); val ourPawn = makePiece(mover, 1)
    val pawnRank = if (mover == White) 4 else 3   // their double-push lands
    val epRank = if (mover == White) 5 else 2     // the square jumped over
    val originRank = if (mover == White) 6 else 1
    (0 until 8).flatMap { f =>
      val hasPattern = b(square(f, pawnRank)) == themPawn &&
        b(square(f, epRank)) == Empty && b(square(f, originRank)) == Empty
      val capturable = (f > 0 && b(square(f - 1, pawnRank)) == ourPawn) ||
        (f < 7 && b(square(f + 1, pawnRank)) == ourPawn)
      if (hasPattern && capturable) Some(square(f, epRank)) else None
    }
  }
}
