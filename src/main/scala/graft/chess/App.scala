package graft.chess

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Measure

/** Console entrypoint mirroring the reference's command surface
  * (create / merge / query-server / dump — SURVEY.md §3).
  * `<games>` is a PGN path or a .bcgn dir/file (see [[readGames]]):
  *
  * {{{
  * runMain graft.chess.App create <games> <storeDir> [alpha|beta|delta|epsilon]
  *                                                         splittable import -> epoch 0 (delta) or a format-generation store
  * runMain graft.chess.App append <games> <storeDir>      add the next epoch (incremental)
  * runMain graft.chess.App merge  <storeDir> <outDir>     compact epochs to one
  * runMain graft.chess.App dump   <games> <outTsv> [min]  EPD dump (book building)
  * runMain graft.chess.App server <games> <port>          TCP query server
  * runMain graft.chess.App query  [requests|-] [games]    line mode: JSON requests from a file
  *                                                         or stdin, responses on stdout;
  *                                                         default games: SampleGames
  * runMain graft.chess.App tobcgn <pgnPath> <bcgnDir>     PGN -> S3 binary interchange
  * }}}
  */
object App {

  /** Games from either interchange format: a .bcgn dir/file (S3 binary
    * codec, via the DataSource V2 connector — a single-file path loads
    * exactly that file, not its parent directory's sibling corpora) or
    * PGN text (S1). */
  def readGames(spark: SparkSession, path: String): Dataset[ChessIngest.GameRow] = {
    import spark.implicits._
    val f = new java.io.File(path)
    val isBcgn = path.endsWith(".bcgn") ||
      (f.isDirectory && Option(f.list()).exists(_.exists(_.endsWith(".bcgn"))))
    if (isBcgn) spark.read.format("bcgn").load(path).as[ChessIngest.GameRow]
    else PgnSource.readGames(spark, path)
  }

  /** What `server` and `query` serve: the games and their entry store,
    * both cached, so header flags (fetchFirstGame/fetchLastGame) resolve
    * against the same gameIds the store holds. */
  def served(spark: SparkSession, games: Dataset[ChessIngest.GameRow])
      : (DataFrame, Dataset[ChessIngest.GameRow]) = {
    val cached = games.cache()
    val agg = ChessIngest.positionsAgg(ChessIngest.positionStream(spark, cached)).cache()
    agg.count()
    (agg, cached)
  }

  def main(args: Array[String]): Unit = {
    val spark = Measure.session()
    val code = try run(spark, args) finally spark.stop()
    if (code != 0) sys.exit(code)
  }

  /** Run one command on `spark`, leaving the session open; returns the
    * exit code. */
  def run(spark: SparkSession, args: Array[String]): Int = {
    args.toList match {
      case "tobcgn" :: pgn :: out :: Nil =>
        PgnSource.readGames(spark, pgn).write.format("bcgn").mode("overwrite").save(out)
        println(s"[tobcgn] wrote $out")

      case "create" :: path :: store :: rest =>
        val agg = ChessIngest.positionsAgg(ChessIngest.positionStream(spark,
          readGames(spark, path)))
        rest.headOption match {
          // reference: create <format> ... — non-delta generations write
          // their measure-set/layout profile (EntryFormats), no epochs
          case Some(fmtName) if fmtName != "delta" =>
            EntryFormats.write(agg, EntryFormats.byName(fmtName), store)
            println(s"[store] $store: format=$fmtName, " +
              s"${spark.read.parquet(store).count()} entries")
          case _ =>
            // static overwrite: create wipes whatever store was there
            agg.withColumn("epoch", lit(0L))
              .write.mode("overwrite").partitionBy("epoch").parquet(store)
            report(spark, store)
        }

      case "append" :: path :: store :: Nil =>
        // partition-dir inference yields int for epoch=N — cast first
        val nextEpoch = spark.read.parquet(store)
          .agg(max(col("epoch").cast("long"))).head().getLong(0) + 1L
        StreamingImport.writeEpoch(spark, readGames(spark, path), store, nextEpoch)
        report(spark, store)

      case "merge" :: store :: out :: Nil =>
        StreamingImport.compact(spark, store, out)
        report(spark, out)

      case "dump" :: path :: out :: rest =>
        val minCount = rest.headOption.map(_.toLong).getOrElse(2L)
        EpdDump.dump(spark, readGames(spark, path), minCount)
          .withColumn("line", concat_ws("\t", col("epd"), col("games"),
            col("white_wins"), col("draws"), col("black_wins")))
          .select("line")
          .write.mode("overwrite").text(out)
        println(s"[dump] wrote $out (minCount=$minCount)")

      case "server" :: path :: port :: Nil =>
        val (agg, games) = served(spark, readGames(spark, path))
        println(s"[server] listening on $port")
        ChessServer.serveTcp(spark, agg, port.toInt, games = Some(games))

      case "query" :: rest if rest.size <= 2 =>
        import spark.implicits._
        val games = rest.lift(1).map(readGames(spark, _)).getOrElse(
          ChessIngest.parseGames(spark, spark.createDataset(Seq(SampleGames.pgn)),
            Core.Level.Human))
        val (agg, cached) = served(spark, games)
        val src = rest.headOption.filter(_ != "-")
          .fold(scala.io.Source.stdin)(scala.io.Source.fromFile(_))
        try src.getLines().filter(_.trim.nonEmpty)
          .foreach(line => println(ChessServer.respond(spark, agg, line, Some(cached))))
        finally src.close()

      case other =>
        System.err.println(s"unknown command: ${other.mkString(" ")}")
        System.err.println(
          "usage: create|append|merge|dump|server|query|tobcgn (see scaladoc)")
        return 1
    }
    0
  }

  private def report(spark: SparkSession, store: String): Unit = {
    val df = spark.read.parquet(store)
    val epochs = df.select("epoch").distinct().count()
    println(s"[store] $store: ${df.count()} entries across $epochs epoch(s)")
  }
}
