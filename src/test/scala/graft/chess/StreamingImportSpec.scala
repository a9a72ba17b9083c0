package graft.chess

import graft.SparkTestBase
import java.nio.file.Files
import org.apache.spark.sql.functions._

class StreamingImportSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(p: String): String = Files.createTempDirectory(p).toString

  test("ST1: PGN drops stream into epoch-partitioned store; compaction equals batch import") {
    val landing = tmp("pgn-landing"); val dest = tmp("pos-store")
    val ck = tmp("pgn-ck"); val compacted = tmp("pos-compacted")

    // split the sample corpus into two "dropped files"
    val chunks = Pgn.splitGames(SampleGames.pgn)
    Files.writeString(java.nio.file.Paths.get(s"$landing/a.pgn"),
      chunks.take(5).mkString)
    Files.writeString(java.nio.file.Paths.get(s"$landing/b.pgn"),
      chunks.drop(5).mkString)

    val q = StreamingImport.start(spark, landing, dest, ck)
    q.awaitTermination(120000)

    val store = StreamingImport.readStore(spark, dest)
    val batch = ChessIngest.positionsAgg(ChessIngest.positionStream(spark,
      ChessIngest.parseGames(spark, spark.createDataset(Seq(SampleGames.pgn)),
        Core.Level.Human)))

    // gameIds differ between ingest runs (partition-relative), so
    // compare the id-free measures per key
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("posHi", "posLo", "reverseMove", "level", "result", "games", "eloDiffSum")
    assert(norm(store).exceptAll(norm(batch)).isEmpty &&
           norm(batch).exceptAll(norm(store)).isEmpty,
      "streamed store must equal single-shot import")

    // late drop: another file arrives; a catch-up run picks it up only once
    Files.writeString(java.nio.file.Paths.get(s"$landing/c.pgn"), chunks.head)
    val q2 = StreamingImport.start(spark, landing, dest, ck)
    q2.awaitTermination(120000)
    val total = StreamingImport.readStore(spark, dest)
      .agg(sum("games")).as[Long].head()
    val batchTotal = batch.agg(sum("games")).as[Long].head()
    val headPlies = ChessIngest.parseGames(spark,
      spark.createDataset(Seq(chunks.head)), Core.Level.Human)
      .select(col("plyCount") + 1).as[Int].head()
    assert(total == batchTotal + headPlies, "exactly-once per file + the new drop")

    // compaction preserves the store exactly
    StreamingImport.compact(spark, dest, compacted)
    val cStore = StreamingImport.readStore(spark, compacted)
    assert(norm(cStore).exceptAll(norm(StreamingImport.readStore(spark, dest))).isEmpty)
    assert(StreamingImport.epochCount(compacted) == 1,
      "compaction must collapse to a single epoch")

    // foreachBatch is at-least-once: a kill between the epoch write and
    // the checkpoint commit REPLAYS the batch with the same epochId.
    // Dynamic partition overwrite must make that replay a no-op rewrite
    // of its own epoch — a blind append would double every row in it.
    val beforeReplay = StreamingImport.readStore(spark, dest)
      .orderBy("posHi", "posLo", "reverseMove", "level", "result")
      .collect().toSeq
    // c.pgn was the latest batch — replay exactly its epoch id
    val replayEpoch = new java.io.File(dest).list()
      .filter(_.startsWith("epoch=")).map(_.stripPrefix("epoch=").toLong).max
    StreamingImport.writeEpoch(spark,
      spark.createDataset(Seq(chunks.head)), dest, replayEpoch)
    val afterReplay = StreamingImport.readStore(spark, dest)
      .orderBy("posHi", "posLo", "reverseMove", "level", "result")
      .collect().toSeq
    assert(afterReplay == beforeReplay,
      "an epoch replay must rewrite its partition, not double it")

    // trigger policy: fires at the threshold, not below it
    val epochs = StreamingImport.epochCount(dest)
    assert(epochs >= 2, "the two-drop + catch-up ingest must leave multiple epochs")
    val c2 = tmp("pos-compacted2")
    assert(!StreamingImport.maybeCompact(spark, dest, c2, compactEvery = epochs + 1),
      "below the threshold the policy must not compact")
    assert(StreamingImport.maybeCompact(spark, dest, c2, compactEvery = epochs),
      "at the threshold the policy must compact")
    assert(StreamingImport.epochCount(c2) == 1)
    assert(norm(StreamingImport.readStore(spark, c2))
      .exceptAll(norm(StreamingImport.readStore(spark, dest))).isEmpty)
  }
}
