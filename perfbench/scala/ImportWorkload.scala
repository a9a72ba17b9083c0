package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.chess.{Bcgn, ChessIngest, PgnSource, StreamingImport}
import Main.{Report, timed}

/** Write path: `create` an entry store from PGN, `append` a second epoch
  * from BCGN, then `compact` the two epochs into one — the reference's
  * create / merge lifecycle, repeated over a fixed seeded corpus. A traced
  * run also measures the read path's layers (`Probe.traced`). */
object ImportWorkload {
  val Games = 3000
  val InputFiles = 4
  val SetupReps = 3
  val WarmGames = Seq(100, 750)
  // a window of 3 cycles puts p75 halfway to the slowest one, of 4 a
  // quarter of the way: a fixed floor keeps p75 comparable between runs
  val MinCycles = 4

  private val Keys = Seq("posHi", "posLo", "reverseMove", "level", "result")

  /** Half the corpus as PGN text, half as BCGN, each split over a few files
    * so both readers run in parallel. BCGN game ids are offset so they never
    * collide with the ids the PGN reader assigns. */
  def writeInputs(c: Corpus, dir: Path): (Path, Path) = {
    Main.deleteTree(dir)
    val pgnDir = Files.createDirectories(dir.resolve("pgn"))
    val bcgnDir = Files.createDirectories(dir.resolve("bcgn"))
    val (pgnHalf, bcgnHalf) = c.games.splitAt(c.games.size / 2)
    pgnHalf.grouped((pgnHalf.size + InputFiles - 1) / InputFiles).zipWithIndex.foreach {
      case (gs, i) =>
        Files.write(pgnDir.resolve(f"part-$i%02d.pgn"), gs.map(Corpus.pgn).mkString.getBytes("UTF-8"))
    }
    bcgnHalf.grouped((bcgnHalf.size + InputFiles - 1) / InputFiles).zipWithIndex.foreach {
      case (gs, i) =>
        Files.write(bcgnDir.resolve(f"part-$i%02d.bcgn"),
          Bcgn.encodeFile(gs.iterator.map(g => g.copy(gameId = (1L << 50) + g.gameId))))
    }
    (pgnDir, bcgnDir)
  }

  final case class Counts(var games: Long = 0, var positions: Long = 0)

  /** One epoch: reader → replay → aggregate → epoch partition write. When
    * traced, each layer is also timed as a cumulative `count()` over the
    * same plan, so self times come from differences of successive spans. */
  private def epoch(spark: SparkSession, games: Dataset[ChessIngest.GameRow], readLayer: String,
                    store: String, id: Long, tr: Tracer, counts: Counts): Unit = {
    val occ = ChessIngest.positionStream(spark, games)
    val agg = ChessIngest.positionsAgg(occ)
    if (tr.enabled) {
      counts.games += tr.span("cum:" + readLayer)(games.count())
      counts.positions += tr.span("cum:chess.ChessIngest.replay")(occ.count())
      tr.span("cum:chess.ChessIngest.agg")(agg.count())
    }
    tr.span("cum:chess.store.write") {
      agg.withColumn("epoch", lit(id)).write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic").partitionBy("epoch").parquet(store)
    }
  }

  final case class Cycle(createS: Double, appendS: Double, mergeS: Double) {
    def totalS: Double = createS + appendS + mergeS
  }

  def cycle(spark: SparkSession, pgnDir: Path, bcgnDir: Path, out: Path,
            tr: Tracer, counts: Counts): Cycle = {
    import spark.implicits._
    Main.deleteTree(out)
    val store = out.resolve("store").toString
    tr.span("import.cycle") {
      val (_, c) = timed(tr.span("import.create") {
        epoch(spark, PgnSource.readGames(spark, pgnDir.toString), "chess.PgnSource.parse",
          store, 0L, tr, counts)
      })
      val (_, a) = timed(tr.span("import.append") {
        epoch(spark, spark.read.format("bcgn").load(bcgnDir.toString).as[ChessIngest.GameRow],
          "sources.Bcgn.decode", store, 1L, tr, counts)
      })
      val (_, m) = timed(tr.span("chess.StreamingImport.merge") {
        StreamingImport.compact(spark, store, out.resolve("compacted").toString)
      })
      Cycle(c, a, m)
    }
  }

  /** Outputs checked against the generator: every occurrence lands in the
    * store, each epoch holds its half, and the compacted store equals the
    * re-aggregated union of the epochs. */
  def checks(spark: SparkSession, c: Corpus, out: Path, r: Report): Unit = {
    val store = spark.read.parquet(out.resolve("store").toString)
    val compacted = spark.read.parquet(out.resolve("compacted").toString).drop("epoch")
    val (pgnHalf, bcgnHalf) = c.games.splitAt(c.games.size / 2)
    def occ(gs: Seq[ChessIngest.GameRow]): Long = gs.map(_.moves.length + 1L).sum
    val perEpoch = store.groupBy("epoch").agg(sum("games")).collect()
      .map(row => row.getAs[Number](0).longValue -> row.getLong(1)).toMap
    r.check(s"epoch 0 holds ${occ(pgnHalf)} occurrences, found ${perEpoch.get(0L)}",
      perEpoch.get(0L).contains(occ(pgnHalf)))
    r.check(s"epoch 1 holds ${occ(bcgnHalf)} occurrences, found ${perEpoch.get(1L)}",
      perEpoch.get(1L).contains(occ(bcgnHalf)))
    val total = compacted.agg(sum("games")).collect()(0).getLong(0)
    r.check(s"compacted store holds ${c.occurrences} occurrences, found $total", total == c.occurrences)
    val union = store.groupBy(Keys.map(col): _*)
      .agg(sum("games").as("games"), sum("eloDiffSum").as("eloDiffSum"),
        min("firstGameId").as("firstGameId"), max("lastGameId").as("lastGameId"))
      .select(compacted.columns.map(col): _*)
    // equal sizes and an empty one-way multiset difference make them equal
    val (nUnion, nCompacted) = (union.count(), compacted.count())
    val diff = union.exceptAll(compacted).count()
    r.check(s"compacted store differs from the union of its epochs: $nCompacted rows, " +
      s"$nUnion in the union, $diff union rows missing", diff == 0 && nUnion == nCompacted)
  }

  /** Loads the classes runs need, for the build's class-data-sharing
    * archive: one cycle over a few games, and one explorer lookup. */
  def train(spark: SparkSession, a: Main.Args): Report = {
    val dir = a.work.resolve("train")
    val (pgnDir, bcgnDir) = writeInputs(Corpus.generate(a.seed, WarmGames.head, withCounts = false),
      dir.resolve("input"))
    cycle(spark, pgnDir, bcgnDir, dir.resolve("out"), new Tracer(false), Counts())
    val store = Probe.storeOf(spark, pgnDir.toString)
    graft.chess.QueryEngine.explore(spark, store, Seq(graft.chess.Position.StartFen -> None)).collect()
    new Report
  }

  def run(spark: SparkSession, a: Main.Args, tr: Tracer): Report = {
    val r = new Report
    val dir = a.work.resolve("import")
    var corpus: Corpus = null
    var inputs: (Path, Path) = null
    for (_ <- 1 to SetupReps) r.setupS += timed {
      corpus = Corpus.generate(a.seed, Games, withCounts = false)
      inputs = writeInputs(corpus, dir.resolve("input"))
    }._2
    r.mark("setup")
    val out = dir.resolve("out")
    val off = new Tracer(false)
    r.info("games") = corpus.games.size
    r.info("occurrences") = corpus.occurrences
    // cycles over two slices of the corpus warm Spark's code paths and the
    // JIT before anything is timed
    r.info("warmup_cycle_s") = WarmGames.map { n =>
      val warm = writeInputs(corpus.copy(games = corpus.games.take(n)), dir.resolve("warm"))
      cycle(spark, warm._1, warm._2, out, off, Counts()).totalS
    }
    r.mark("warmup")

    def window(t: Tracer, counts: Counts): Seq[Cycle] = {
      val t0 = System.nanoTime()
      val done = Seq.newBuilder[Cycle]
      var n = 0
      do { done += cycle(spark, inputs._1, inputs._2, out, t, counts); n += 1 }
      while (n < MinCycles || (System.nanoTime() - t0) / 1e9 < a.seconds)
      done.result()
    }

    val cycles = window(off, Counts())
    r.mark("window")
    r.sampleLiveMem()
    r.opsMs ++= cycles.map(_.totalS * 1000)
    r.units = corpus.occurrences.toDouble * cycles.size
    r.unitsS = cycles.map(c => c.createS + c.appendS).sum
    r.info("merge_s") = cycles.map(_.mergeS)
    checks(spark, corpus, out, r)
    r.attempted += cycles.size
    r.mark("checks")

    if (tr.enabled) {
      val listener = new TaskListener
      spark.sparkContext.addSparkListener(listener)
      val before = listener.snapshot()
      val counts = Counts()
      val t0 = System.nanoTime()
      val traced = window(tr, counts)
      val wall = (System.nanoTime() - t0) / 1e9
      r.tracedOpsMs ++= traced.map(_.totalS * 1000)
      r.raw("spark") = listener.snapshot().minus(before).raw(wall)
      val (files, bytes) = Main.treeSize(out.resolve("compacted"), ".parquet")
      r.raw("store") = Map("files" -> files, "bytes" -> bytes,
        "entries" -> spark.read.parquet(out.resolve("compacted").toString).count())
      r.raw("corpus") = Map("games" -> corpus.games.size, "occurrences" -> corpus.occurrences)
      r.raw("per_cycle") = Map("games_parsed" -> counts.games.toDouble / traced.size,
        "positions" -> counts.positions.toDouble / traced.size)
      Probe.traced(spark, a, tr, r)
    }
    r
  }
}
