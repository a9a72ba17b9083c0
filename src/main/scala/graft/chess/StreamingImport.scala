package graft.chess

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** ST1 (SURVEY.md §2.9): incremental PGN ingest as a real stream.
  *
  * The reference's `create` + later `merge` becomes: a file-source
  * stream watches a landing directory for PGN drops; each micro-batch
  * parses + replays its games and APPENDS a pre-aggregated epoch to the
  * entry store directory (partitioned by epoch id). Readers union all
  * epochs and re-aggregate (cheap: epochs are already partial
  * aggregates); `compact` collapses them to one epoch — exactly the
  * reference's LSM run/merge lifecycle with Spark doing the heavy
  * lifting (SURVEY.md §3.1).
  *
  * Scale posture: each batch shuffles only ITS new games; compaction is
  * an idempotent batch job over epoch partitions; watermark-free (game
  * ingest has no event-time semantics — files are whole units).
  */
object StreamingImport {

  /** Start the incremental import: `landingDir` PGN drops → destDir/epoch=N.
    * Trigger.AvailableNow processes the backlog then stops (the
    * catch-up "merge" mode). */
  def start(spark: SparkSession, landingDir: String, destDir: String,
            checkpointDir: String): StreamingQuery = {
    import spark.implicits._
    spark.readStream
      .option("wholetext", "true")       // one PGN file = one parse unit
      .option("maxFilesPerTrigger", 64)
      .text(landingDir)
      .as[String].writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[String], epochId: Long) =>
        writeEpoch(spark, ChessIngest.parseGames(spark, batch, Core.Level.Human),
          destDir, epochId)
      }
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** One epoch's write (the stream's micro-batches and `App append`) —
    * IDEMPOTENT: writing the same epochId again (a micro-batch re-run
    * after a mid-write kill under foreachBatch's at-least-once
    * contract) rewrites exactly `epoch=<id>` through dynamic partition
    * overwrite instead of appending a second copy of every row into it
    * (the silent double-count a blind append mode has on restart — the
    * same fix IncrementalDedup's batch-id partitions apply). */
  def writeEpoch(spark: SparkSession, games: Dataset[ChessIngest.GameRow],
                 destDir: String, epochId: Long): Unit =
    ChessIngest.positionsAgg(ChessIngest.positionStream(spark, games))
      .withColumn("epoch", lit(epochId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("epoch").parquet(destDir)

  /** Read the current entry store: union of all epochs, re-combined.
    * Equal keys across epochs merge exactly like the reference's k-way
    * run merge (the measures are all reassociative). */
  def readStore(spark: SparkSession, destDir: String): DataFrame =
    ChessIngest.mergeEntries(spark.read.parquet(destDir), ChessIngest.EntryKeys)

  /** Compaction: collapse all epochs into epoch=0 (idempotent job). */
  def compact(spark: SparkSession, destDir: String, compactedDir: String): Unit =
    readStore(spark, destDir)
      .withColumn("epoch", lit(0L))
      .write.mode("overwrite").partitionBy("epoch").parquet(compactedDir)

  /** Epoch partitions currently in the store — one FileSystem listing
    * (works on HDFS/S3 paths, not just local disk), no Spark job. */
  def epochCount(destDir: String): Int =
    graft.Fs.childNames(destDir).count(_.startsWith("epoch="))
}
