package graft.chess

import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import graft.SparkTestBase

/** The bcgn DataSource V2 connector (graft.sources.BcgnDataSource):
  * spark.read/write.format("bcgn") with column pruning that reaches the
  * decoder — header-only scans never decode movelists. */
class BcgnSourceV2Spec extends SparkTestBase {
  import spark.implicits._

  private def sample() =
    ChessIngest.parseGames(spark,
      spark.createDataset(Seq(SampleGames.pgn)), Core.Level.Human)

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString

  test("write + read round-trips exactly (moves replay-verified)") {
    val dir = tmp("bcgnv2_rt")
    val games = sample()
    games.write.format("bcgn").mode("append").save(dir)
    val back = spark.read.format("bcgn").load(dir)
      .as[ChessIngest.GameRow].collect().sortBy(_.gameId)
    val orig = games.collect().sortBy(_.gameId)
    assert(back.length == orig.length)
    orig.zip(back).foreach { case (x, y) =>
      assert(x.moves.sameElements(y.moves), s"moves drifted: game ${x.gameId}")
      assert(x.copy(moves = null) == y.copy(moves = null),
        s"header drifted: game ${x.gameId}")
    }
  }

  test("catalyst prunes the read schema down to the projected columns") {
    val dir = tmp("bcgnv2_prune")
    sample().write.format("bcgn").mode("append").save(dir)
    val df = spark.read.format("bcgn").load(dir)
      .select("white", "plyCount")
      .filter(org.apache.spark.sql.functions.col("plyCount") > 0)
    val readSchemas = df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan.readSchema()
    }
    assert(readSchemas.nonEmpty, "expected a v2 scan in the plan")
    val names = readSchemas.head.fieldNames.toSet
    assert(!names.contains("moves"),
      s"moves should be pruned from the scan, got $names")
    assert(names == Set("white", "plyCount"), s"got $names")
  }

  test("pruning reaches the decoder: header-only scans skip movelist decode") {
    // one legal game + one record whose movelist is garbage. The full
    // scan must replay-verify and drop the corrupt record; a header-only
    // scan never touches movelist bytes, so it sees BOTH rows — direct
    // proof the pruned path does no replay.
    val dir = tmp("bcgnv2_hdr")
    val good = sample().collect().head
    val corrupt = good.copy(gameId = 999L, plyCount = 1,
      moves = Array(63 | (63 << 6))) // a1->h8 with no piece: illegal
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "mixed.bcgn"),
      Bcgn.encodeFile(Iterator(good, corrupt)))
    val full = spark.read.format("bcgn").load(dir)
      .select("gameId", "moves").collect()
    assert(full.map(_.getLong(0)).toSet == Set(good.gameId),
      "full scan must drop the record with an illegal movelist")
    val headerOnly = spark.read.format("bcgn").load(dir)
      .select("gameId", "white", "plyCount").collect()
    assert(headerOnly.map(_.getLong(0)).toSet == Set(good.gameId, 999L),
      "header-only scan must not decode (and so not reject) movelists")
  }

  test("append adds files; overwrite truncates previous ones") {
    val dir = tmp("bcgnv2_modes")
    val games = sample()
    games.write.format("bcgn").mode("append").save(dir)
    games.write.format("bcgn").mode("append").save(dir)
    assert(spark.read.format("bcgn").load(dir).count() == 2 * games.count())
    games.write.format("bcgn").mode("overwrite").save(dir)
    assert(spark.read.format("bcgn").load(dir).count() == games.count())
  }

  test("a file path loads exactly that file; stats report listed bytes") {
    val dir = tmp("bcgnv2_file")
    val games = sample().collect()
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "a.bcgn"),
      Bcgn.encodeFile(games.take(2).iterator))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "b.bcgn"),
      Bcgn.encodeFile(games.drop(2).iterator))
    assert(spark.read.format("bcgn").load(s"$dir/a.bcgn").count() == 2)
    val scan = new graft.sources.BcgnScan(dir, graft.sources.BcgnTable.Schema)
    val expected = new java.io.File(dir).listFiles().map(_.length()).sum
    assert(scan.estimateStatistics().sizeInBytes().getAsLong == expected)
  }

  test("connector read == Bcgn.decodeFile on the same directory") {
    val dir = tmp("bcgnv2_eq")
    sample().write.format("bcgn").mode("append").save(dir)
    val a = spark.read.format("bcgn").load(dir)
      .as[ChessIngest.GameRow].collect().sortBy(_.gameId).map(_.copy(moves = null))
    val b = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".bcgn"))
      .flatMap(f => Bcgn.decodeFile(java.nio.file.Files.readAllBytes(f.toPath)))
      .sortBy(_.gameId).map(_.copy(moves = null))
    assert(a.toSeq == b.toSeq)
  }
}
