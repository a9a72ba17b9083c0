package graft.sources

import java.util.{Map => JMap}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.chess.{Bcgn, ChessIngest}

/** DataSource V2 connector for the .bcgn binary game format
  * (SURVEY.md §2.1 S3 as a FIRST-CLASS Spark source/sink):
  *
  * {{{
  * spark.read.format("bcgn").load(dirOrFile)      // Dataset[GameRow] schema
  * games.write.format("bcgn").mode(...).save(dir) // one file per partition
  * }}}
  *
  * Why a connector instead of binaryFile+flatMap: Catalyst column
  * pruning reaches the DECODER. A record is
  * header fields followed by the packed movelist, and restoring move
  * flags requires replaying the game through the legal-move generator —
  * by far the dominant decode cost. When `moves` is not in the required
  * schema (header analytics, id probes, count(*)), the pruned scan
  * decodes headers only and never touches movelist bytes, turning a
  * compute-bound scan into an IO-bound one. At 100 TB that is the
  * difference between "re-replay every game" and "read the header
  * stripe".
  *
  * Scale posture: one InputPartition per .bcgn file (corpora are
  * exchanged as many files — parallelism matches the exchange format);
  * `estimateStatistics` reports the listed byte size so the optimizer
  * can pick broadcast sides without scanning; writes go through the
  * standard commit protocol (temp file per task attempt, rename on
  * commit, delete on abort) so speculative/retried tasks never leave
  * partial files — semantics a bare foreachPartition writer cannot
  * give.
  */
class BcgnDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "bcgn"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    BcgnTable.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    val path = Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "bcgn source needs exactly one path: .load(<dir-or-file>)"))
    new BcgnTable(path)
  }
}

object BcgnTable {
  /** Field order mirrors `ChessIngest.GameRow` so `.as[GameRow]` works
    * directly on the loaded frame. */
  val Schema: StructType = StructType(Seq(
    StructField("gameId", LongType, nullable = false),
    StructField("event", StringType), StructField("site", StringType),
    StructField("date", StringType),
    StructField("year", IntegerType, nullable = false),
    StructField("month", IntegerType, nullable = false),
    StructField("day", IntegerType, nullable = false),
    StructField("white", StringType), StructField("black", StringType),
    StructField("whiteElo", IntegerType, nullable = false),
    StructField("blackElo", IntegerType, nullable = false),
    StructField("result", ByteType, nullable = false),
    StructField("eco", StringType),
    StructField("level", ByteType, nullable = false),
    StructField("plyCount", IntegerType, nullable = false),
    StructField("moves", ArrayType(IntegerType, containsNull = false)),
    StructField("startFen", StringType)))

  /** Catalyst-value getter per column, applied in required-schema order
    * by the readers. */
  val Getters: Map[String, ChessIngest.GameRow => Any] = Map(
    "gameId" -> (g => g.gameId),
    "event" -> (g => UTF8String.fromString(g.event)),
    "site" -> (g => UTF8String.fromString(g.site)),
    "date" -> (g => UTF8String.fromString(g.date)),
    "year" -> (g => g.year), "month" -> (g => g.month), "day" -> (g => g.day),
    "white" -> (g => UTF8String.fromString(g.white)),
    "black" -> (g => UTF8String.fromString(g.black)),
    "whiteElo" -> (g => g.whiteElo), "blackElo" -> (g => g.blackElo),
    "result" -> (g => g.result), "eco" -> (g => UTF8String.fromString(g.eco)),
    "level" -> (g => g.level), "plyCount" -> (g => g.plyCount),
    "moves" -> (g => ArrayData.toArrayData(g.moves)),
    "startFen" -> (g => UTF8String.fromString(g.startFen)))

  /** Expand a dir to its *.bcgn children; a file path is exactly that
    * file (never siblings — see App.readGames). */
  def listFiles(path: String, conf: Configuration): Seq[(String, Long)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val st = fs.getFileStatus(p)
    if (st.isDirectory)
      fs.listStatus(p).toSeq
        .filter(s => s.isFile && s.getPath.getName.endsWith(".bcgn"))
        .map(s => (s.getPath.toString, s.getLen))
    else Seq((st.getPath.toString, st.getLen))
  }
}

class BcgnTable(path: String) extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"bcgn:$path"
  override def schema(): StructType = BcgnTable.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new BcgnScanBuilder(path)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new BcgnWriteBuilder(path, info.schema())
}

class BcgnScanBuilder(path: String)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = BcgnTable.Schema

  override def pruneColumns(requiredSchema: StructType): Unit =
    // keep the source's field order; requiredSchema may be a subset
    required = StructType(
      BcgnTable.Schema.fields.filter(f => requiredSchema.fieldNames.contains(f.name)))

  override def build(): Scan = new BcgnScan(path, required)
}

class BcgnScan(path: String, required: StructType)
    extends Scan with Batch with SupportsReportStatistics {
  private val hadoopConf =
    SparkSession.active.sessionState.newHadoopConf()
  private lazy val files = BcgnTable.listFiles(path, hadoopConf)

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"bcgn $path [${required.fieldNames.mkString(",")}]"

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(files.map(_._2).sum)
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.empty()
  }

  override def planInputPartitions(): Array[InputPartition] =
    files.map { case (f, _) => BcgnInputPartition(f) }.toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new BcgnReaderFactory(required,
      new SerializableConfiguration(hadoopConf))
}

case class BcgnInputPartition(file: String) extends InputPartition

class BcgnReaderFactory(required: StructType, conf: SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new BcgnPartitionReader(
      partition.asInstanceOf[BcgnInputPartition].file, required, conf.value)
}

class BcgnPartitionReader(file: String, required: StructType, conf: Configuration)
    extends PartitionReader[InternalRow] {
  // the replay-verified decode only runs when the movelist is projected
  private val needMoves = required.fieldNames.contains("moves")
  private val getters = required.fields.map(f => BcgnTable.Getters(f.name))

  private lazy val games: Iterator[ChessIngest.GameRow] = {
    val p = new Path(file)
    val fs = p.getFileSystem(conf)
    val rawLen = fs.getFileStatus(p).getLen
    require(rawLen <= Int.MaxValue,
      s"$file is $rawLen bytes; single-file .bcgn reads are capped at 2 GiB — " +
        "split the corpus across part files (the writer emits one per partition)")
    val len = rawLen.toInt
    val bytes = new Array[Byte](len)
    val in = fs.open(p)
    try in.readFully(0, bytes) finally in.close()
    if (needMoves) Bcgn.decodeFile(bytes) else Bcgn.decodeFileHeaders(bytes)
  }

  private var current: ChessIngest.GameRow = _
  override def next(): Boolean =
    if (games.hasNext) { current = games.next(); true } else false
  override def get(): InternalRow =
    InternalRow.fromSeq(getters.map(_(current)).toIndexedSeq)
  override def close(): Unit = ()
}

// ---------------------------------------------------------------- write

class BcgnWriteBuilder(path: String, schema: StructType)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }

  override def build(): Write = {
    val missing = BcgnTable.Schema.fieldNames.filterNot(schema.fieldNames.contains)
    require(missing.isEmpty,
      s"bcgn sink needs the full GameRow schema; missing: ${missing.mkString(",")}")
    new BcgnWrite(path, schema, doTruncate)
  }
}

class BcgnWrite(path: String, schema: StructType, truncate: Boolean) extends Write {
  override def toBatch: BatchWrite = new BcgnBatchWrite(path, schema, truncate,
    new SerializableConfiguration(
      SparkSession.active.sessionState.newHadoopConf()))
}

/** Commit protocol: each task writes `.part-<task>.bcgn.inprogress` and
  * reports it; the driver renames all of them on job commit (after
  * deleting pre-existing files if truncating) and deletes them on
  * abort. A retried/speculative task overwrites its own temp file, so
  * at most one copy of each partition ever becomes visible. */
class BcgnBatchWrite(path: String, schema: StructType, truncate: Boolean,
                     conf: SerializableConfiguration) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new BcgnWriterFactory(path, schema, conf)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(path).getFileSystem(conf.value)
    fs.mkdirs(new Path(path))
    if (truncate)
      fs.listStatus(new Path(path)).toSeq
        .filter(s => s.isFile && s.getPath.getName.endsWith(".bcgn"))
        .foreach(s => fs.delete(s.getPath, false))
    messages.foreach { case BcgnCommitMessage(tmp) =>
      val t = new Path(tmp)
      val dst = new Path(path, t.getName.stripSuffix(".inprogress"))
      // Hadoop rename reports failure by RETURNING FALSE, not throwing;
      // ignoring it would declare success with a partition missing
      if (!fs.rename(t, dst))
        throw new java.io.IOException(s"bcgn commit: rename $t -> $dst failed")
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(path).getFileSystem(conf.value)
    messages.filter(_ != null).foreach { case BcgnCommitMessage(tmp) =>
      fs.delete(new Path(tmp), false); ()
    }
  }
}

case class BcgnCommitMessage(tmpFile: String) extends WriterCommitMessage

class BcgnWriterFactory(path: String, schema: StructType,
                        conf: SerializableConfiguration) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new BcgnDataWriter(path, schema, partitionId, conf.value)
}

class BcgnDataWriter(path: String, schema: StructType, partitionId: Int,
                     conf: Configuration) extends DataWriter[InternalRow] {
  private val idx = schema.fieldNames.zipWithIndex.toMap
  private val buf = scala.collection.mutable.ArrayBuffer.empty[ChessIngest.GameRow]

  private def str(row: InternalRow, f: String): String = {
    val i = idx(f)
    if (row.isNullAt(i)) "" else row.getUTF8String(i).toString
  }

  override def write(row: InternalRow): Unit = {
    buf += ChessIngest.GameRow(
      row.getLong(idx("gameId")), str(row, "event"), str(row, "site"),
      str(row, "date"), row.getInt(idx("year")), row.getInt(idx("month")),
      row.getInt(idx("day")), str(row, "white"), str(row, "black"),
      row.getInt(idx("whiteElo")), row.getInt(idx("blackElo")),
      row.getByte(idx("result")), str(row, "eco"), row.getByte(idx("level")),
      row.getInt(idx("plyCount")),
      row.getArray(idx("moves")).toIntArray(), str(row, "startFen"))
    ()
  }

  override def commit(): WriterCommitMessage = {
    // uuid keeps names unique across jobs, so append-mode renames never
    // collide with files from an earlier write
    val uuid = java.util.UUID.randomUUID().toString.take(8)
    val tmp = new Path(path, f"part-$partitionId%05d-$uuid.bcgn.inprogress")
    val fs = tmp.getFileSystem(conf)
    val out = fs.create(tmp, true)
    try out.write(Bcgn.encodeFile(buf.iterator)) finally out.close()
    BcgnCommitMessage(tmp.toString)
  }

  override def abort(): Unit = ()
  override def close(): Unit = ()
}
