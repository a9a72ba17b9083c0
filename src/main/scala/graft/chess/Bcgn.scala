package graft.chess

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}

/** Binary game format (SURVEY.md §2.1 S3 role — the reference's .bcgn
  * compact binary interchange: a self-contained header + movelist
  * encoding that re-reads far faster than PGN re-parsing).
  *
  * This is an independent format design, not the reference's byte
  * layout: a file is MAGIC ++ version ++ length-prefixed game records;
  * each record is the header fields (DataOutput UTF strings + fixed-
  * width ints) followed by plyCount 16-bit moves packed as
  * from | to<<6 | promoKind<<12 — the same move encoding Core uses,
  * minus the derivable flag bits. Decoding replays the game, resolving
  * each recorded move among its from-square's moves to restore flags
  * (ep/castle/double/capture), so every decoded game is
  * legality-verified, exactly like the PGN ingest path.
  *
  * This object is the codec only. Spark reads and writes .bcgn through
  * the DataSource V2 connector (graft.sources.BcgnDataSource,
  * `format("bcgn")`): one file per partition on write, one input
  * partition per file on read; `decodeFile` over a file's raw bytes is
  * the reference the connector is checked against.
  */
object Bcgn {

  private val Magic = 0x47425447 // "GBTG"
  private val Version = 1

  def encodeGame(g: ChessIngest.GameRow, out: DataOutputStream): Unit = {
    out.writeLong(g.gameId)
    out.writeUTF(g.event); out.writeUTF(g.site); out.writeUTF(g.date)
    out.writeUTF(g.white); out.writeUTF(g.black)
    out.writeInt(g.whiteElo); out.writeInt(g.blackElo)
    out.writeByte(g.result); out.writeUTF(g.eco); out.writeByte(g.level)
    out.writeUTF(g.startFen)
    out.writeShort(g.moves.length)
    g.moves.foreach(m => out.writeShort(m & 0xFFFF)) // from|to<<6|promo<<12
  }

  /** Decode one record; flags are restored by resolving the packed
    * (from, to, promo) against the pseudo-moves of its from-square in the
    * replayed position, legality-checked (`Position.resolve`) — None if
    * the start FEN is malformed or any move is illegal (corrupt record). */
  def decodeGame(in: DataInputStream): Option[ChessIngest.GameRow] = {
    val gameId = in.readLong()
    val event = in.readUTF(); val site = in.readUTF(); val date = in.readUTF()
    val white = in.readUTF(); val black = in.readUTF()
    val whiteElo = in.readInt(); val blackElo = in.readInt()
    val result = in.readByte(); val eco = in.readUTF(); val level = in.readByte()
    val startFen = in.readUTF()
    val nMoves = in.readUnsignedShort()
    val moves = new Array[Int](nMoves)
    var pos =
      if (startFen.isEmpty) Position.initial
      else try Position.fromFen(startFen) catch { case _: Exception => return None }
    var i = 0
    while (i < nMoves) {
      val packed = in.readUnsignedShort()
      pos.resolve(packed) match {
        case Some(m) => moves(i) = m; pos = pos.make(m)
        case None => return None
      }
      i += 1
    }
    val (y, mo, d) = Pgn.parseDate(date)
    Some(ChessIngest.GameRow(gameId, event, site, date, y, mo, d, white, black,
      whiteElo, blackElo, result, eco, level, nMoves, moves, startFen))
  }

  /** Decode only the header fields of one record — the column-pruned
    * scan path (graft.sources.BcgnDataSource): movelist bytes are never
    * read and no replay happens, so a header-only scan is IO+UTF decode
    * only. `moves` comes back empty; plyCount is still exact (it is
    * stored before the movelist). Legality verification only happens
    * when movelists are materialized, like any columnar source that
    * doesn't validate unprojected columns. */
  def decodeGameHeader(in: DataInputStream): ChessIngest.GameRow = {
    val gameId = in.readLong()
    val event = in.readUTF(); val site = in.readUTF(); val date = in.readUTF()
    val white = in.readUTF(); val black = in.readUTF()
    val whiteElo = in.readInt(); val blackElo = in.readInt()
    val result = in.readByte(); val eco = in.readUTF(); val level = in.readByte()
    val startFen = in.readUTF()
    val nMoves = in.readUnsignedShort()
    val (y, mo, d) = Pgn.parseDate(date)
    ChessIngest.GameRow(gameId, event, site, date, y, mo, d, white, black,
      whiteElo, blackElo, result, eco, level, nMoves, Array.emptyIntArray,
      startFen)
  }

  /** Iterate a file's records, decoding each with `one` — shared by the
    * full and header-only scan paths. Corrupt records are skipped (as
    * the PGN parser skips malformed games). */
  def decodeRecords(bytes: Array[Byte],
                    one: DataInputStream => Option[ChessIngest.GameRow])
      : Iterator[ChessIngest.GameRow] = {
    val in = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
    require(in.readInt() == Magic, "not a graft bcgn file")
    require(in.readByte() == Version, "unsupported bcgn version")
    val out = scala.collection.mutable.ArrayBuffer.empty[ChessIngest.GameRow]
    while (in.available() >= 4) {
      val len = in.readInt()
      val rec = new Array[Byte](len)
      in.readFully(rec)
      one(new DataInputStream(new java.io.ByteArrayInputStream(rec)))
        .foreach(out += _)
    }
    out.iterator
  }

  /** Headers of every record in a file; movelists untouched. */
  def decodeFileHeaders(bytes: Array[Byte]): Iterator[ChessIngest.GameRow] =
    decodeRecords(bytes, in => Some(decodeGameHeader(in)))

  def encodeFile(games: Iterator[ChessIngest.GameRow]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(Magic); out.writeByte(Version)
    games.foreach { g =>
      val rec = new ByteArrayOutputStream()
      encodeGame(g, new DataOutputStream(rec))
      out.writeInt(rec.size())
      rec.writeTo(out)
    }
    out.flush()
    bos.toByteArray
  }

  /** Decode a whole file, movelists included (replay-verified). */
  def decodeFile(bytes: Array[Byte]): Iterator[ChessIngest.GameRow] =
    decodeRecords(bytes, decodeGame _)
}
