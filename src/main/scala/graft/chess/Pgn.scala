package graft.chess

import Core._

/** PGN parsing (role of the reference's `src/chess/Pgn.h` LazyPgnFileReader):
  * split raw PGN text into games, parse tag pairs + movetext (comments,
  * nested variations, NAGs and move numbers skipped), replay SAN against
  * the position to yield verified move ints. Malformed games are dropped
  * with a counted ImportStats, matching the reference's skip-and-track
  * behavior — one bad game must never fail a 100 TB import job.
  */
object Pgn {

  /** Parsed game: PGN seven-tag-roster subset + verified moves. */
  case class RawGame(tags: Map[String, String], sanMoves: Vector[String])

  case class ParsedGame(
      event: String, site: String, date: String, round: String,
      white: String, black: String,
      whiteElo: Int, blackElo: Int,   // -1 when absent
      result: Byte,                   // Core.Result
      eco: String,
      moves: Array[Int],              // verified legal move encodings
      startFen: String)               // "" = standard start position

  case class ImportStats(games: Long, skipped: Long, positions: Long)

  /** Split a PGN file's text into per-game chunks. Games start at a tag
    * block; `\n[Event ` is the canonical boundary (same splittability
    * property the reference exploits, and what a custom FileFormat would
    * split on at scale). */
  def splitGames(text: String): Vector[String] = {
    val starts = "(?m)^\\[Event ".r.findAllMatchIn(text).map(_.start).toVector
    if (starts.isEmpty) Vector.empty
    else starts.zipWithIndex.map { case (s, i) =>
      val end = if (i + 1 < starts.length) starts(i + 1) else text.length
      text.substring(s, end)
    }
  }

  private val TagRe = "\\[(\\w+)\\s+\"([^\"]*)\"\\]".r
  private val MoveNumber = "\\d+\\.+".r
  private val LeadingMoveNumber = "^\\d+\\.+".r

  /** Tokenize one game chunk: tags + SAN tokens (variations dropped).
    * The PGN escape mechanism — '%' in column 0 comments out the whole
    * line — is honored before any tag or movetext scan. */
  def parseRaw(gameText: String): RawGame = {
    val kept = gameText.linesIterator.filterNot(_.startsWith("%")).mkString("\n")
    val tags = TagRe.findAllMatchIn(kept)
      .map(m => m.group(1) -> m.group(2)).toMap
    val movetextStart = {
      val lines = kept.linesIterator.toVector
      val idx = lines.indexWhere(l => !l.trim.startsWith("[") && l.trim.nonEmpty)
      // join on newline, NOT space: a ';' comment runs to end-of-LINE,
      // so collapsing line boundaries would let one ';' eat the rest of
      // the game's movetext
      if (idx < 0) "" else lines.drop(idx).mkString("\n")
    }
    val sans = Vector.newBuilder[String]
    var i = 0; var varDepth = 0; var inComment = false
    val tok = new StringBuilder
    def flush(): Unit = {
      val t = tok.result(); tok.clear()
      if (t.nonEmpty && varDepth == 0 &&
          !t.startsWith("$") && t != "1-0" && t != "0-1" && t != "1/2-1/2" &&
          t != "*" && !MoveNumber.matches(t))
        // strip leading move numbers glued to the SAN ("1.e4", "3...Nf6")
        sans += LeadingMoveNumber.replaceFirstIn(t, "")
    }
    while (i < movetextStart.length) {
      val c = movetextStart.charAt(i)
      if (inComment) { if (c == '}') inComment = false }
      else c match {
        case '{' => flush(); inComment = true
        case '(' => flush(); varDepth += 1
        case ')' => flush(); varDepth = math.max(0, varDepth - 1)
        case ';' => flush(); while (i < movetextStart.length && movetextStart.charAt(i) != '\n') i += 1
        case ch if ch.isWhitespace => flush()
        case ch => if (varDepth == 0) tok.append(ch)
      }
      i += 1
    }
    flush()
    RawGame(tags, sans.result().filter(_.nonEmpty))
  }

  /** Replay SAN against the rules; None if any token is illegal. */
  def verify(raw: RawGame): Option[ParsedGame] = {
    Result.parse(raw.tags.getOrElse("Result", "*")).flatMap { res =>
      // Carry the custom start FEN through so replay (positionStream,
      // EpdDump) starts from it too — verifying against the FEN here but
      // replaying from the standard start would silently write garbage
      // signatures into the entry store.
      val startFen = raw.tags.getOrElse("FEN", "")
      var pos =
        if (startFen.isEmpty) Position.initial
        else try Position.fromFen(startFen) catch { case _: Exception => return None }
      val moves = new Array[Int](raw.sanMoves.length)
      var i = 0
      while (i < raw.sanMoves.length) {
        San.parse(pos, raw.sanMoves(i)) match {
          case Some(m) => moves(i) = m; pos = pos.make(m)
          case None => return None
        }
        i += 1
      }
      def elo(k: String): Int =
        raw.tags.get(k).flatMap(s => s.toIntOption).getOrElse(-1)
      Some(ParsedGame(
        raw.tags.getOrElse("Event", "?"), raw.tags.getOrElse("Site", "?"),
        raw.tags.getOrElse("Date", "????.??.??"), raw.tags.getOrElse("Round", "?"),
        raw.tags.getOrElse("White", "?"), raw.tags.getOrElse("Black", "?"),
        elo("WhiteElo"), elo("BlackElo"), res,
        raw.tags.getOrElse("ECO", ""), moves, startFen))
    }
  }

  def parseAll(text: String): (Vector[ParsedGame], ImportStats) = {
    val chunks = splitGames(text)
    val parsed = chunks.map(c => verify(parseRaw(c)))
    val good = parsed.flatten
    (good, ImportStats(good.length, chunks.length - good.length,
      good.map(_.moves.length.toLong + 1).sum))
  }

  /** PGN partial dates `1992.??.??` (reference `src/chess/Date.h` role):
    * (year, month, day) with -1 for unknown components. */
  def parseDate(s: String): (Int, Int, Int) = {
    val p = s.split("[./-]")
    def num(i: Int): Int =
      if (i < p.length && p(i).forall(_.isDigit) && p(i).nonEmpty) p(i).toInt else -1
    (num(0), num(1), num(2))
  }
}
