package graft.chess

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.JsonDSL._

import graft.Measure

/** Read-amplification measurement behind the compaction trigger policy
  * (`StreamingImport.maybeCompact`): the SAME corpus is written as
  * a 1-, 4- and 16-epoch store, a fixed batch-probe workload is timed
  * against each (median of 3), then the 16-epoch store is compacted and
  * re-timed. Every probe over an epoched store unions every epoch's
  * files and re-merges equal keys, so latency grows with epoch count —
  * this artifact (COMPACTION_BENCH.json) quantifies by how much, and
  * the policy default is chosen so probes stay near the compacted floor
  * while the rewrite cost amortizes over many appends.
  *
  * A second section measures the STREAMING dedup stores the same way
  * (`stream_*` fields): the per-batch band-store probe that
  * IncrementalDedup pays on every micro-batch, against 1/4/16
  * batch_id-partitioned layouts, then after a `BatchStore.compact`
  * fold — the read-amp row behind `BatchStore.DefaultCompactBatches`.
  *
  * Usage: `sbt "runMain graft.chess.CompactionBench [nGames]"`.
  */
object CompactionBench {

  // layouts register with the JVM-exit reaper at creation, so a run
  // that dies mid-measurement leaks nothing
  private def tmp(p: String): String = graft.TempDirs.register(
    java.nio.file.Files.createTempDirectory(p).toString)

  /** Time the batch-probe workload (probe keys broadcast into the
    * store read, J1 shape) against one store layout. */
  private def probeSec(spark: SparkSession, dir: String,
                       probes: DataFrame): Double = {
    val t0 = System.nanoTime()
    StreamingImport.readStore(spark, dir)
      .join(broadcast(probes), Seq("posHi", "posLo")).count()
    (System.nanoTime() - t0) / 1e9
  }

  private def parquetFiles(dir: String): Int = {
    def walk(f: java.io.File): Int =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0)
      else if (f.getName.endsWith(".parquet")) 1 else 0
    walk(new java.io.File(dir))
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(20000)
    val spark = Measure.session()
    // layouts are TempDirs-registered; the exit reaper deletes them
    sys.exit(Measure.emit(spark, Some("COMPACTION_BENCH.json"))(measure(spark, n)))
  }

  private def measure(spark: SparkSession, n: Int): JObject = {
    val regime = Measure.regime()

    val occ = ChessIngest.positionStream(spark,
      RandomGames.generate(spark, n)).toDF().cache()
    occ.count()

    // one corpus, three layouts: the epoch column slices game ids into
    // e equal ranges, exactly what e successive ingest batches produce
    val layouts = Seq(1, 4, 16).map { e =>
      val dir = tmp(s"graft-compbench-e$e")
      val w = (n.toLong + e - 1) / e
      (0 until e).foreach { i =>
        val slice = occ.filter(col("gameId") >= i * w && col("gameId") < (i + 1) * w)
        SaltedAgg.direct(slice)
          .withColumn("epoch", lit(i.toLong))
          .write.mode("append").partitionBy("epoch").parquet(dir)
      }
      e -> dir
    }.toMap

    // fixed probe workload: 1000 deterministic keys
    val probes = occ.select("posHi", "posLo").distinct()
      .orderBy(col("posHi"), col("posLo")).limit(1000).cache()
    probes.count()

    def m3(dir: String): Double =
      Measure.median((1 to 3).map(_ => probeSec(spark, dir, probes)))

    val perLayout = layouts.toSeq.sortBy(_._1).map { case (e, dir) =>
      e -> (m3(dir), parquetFiles(dir), spark.read.parquet(dir).count()) }

    val compacted = tmp("graft-compbench-compacted")
    val t0 = System.nanoTime()
    StreamingImport.compact(spark, layouts(16), compacted)
    val compactSec = (System.nanoTime() - t0) / 1e9
    val compactedProbe = m3(compacted)
    val compactedFiles = parquetFiles(compacted)

    // --- streaming dedup store (BatchStore fold) read-amplification ---
    // The hottest streaming read path: every micro-batch joins its new
    // band keys against the ACCUMULATED store. Same corpus laid out as
    // 1, 4 and 16 batch_id partitions (what 1/4/16 micro-batches
    // produce with compaction off), probed with a fixed new-batch band
    // set; then the 16-partition store is folded (BatchStore.compact)
    // and re-probed — quantifying what the fold trigger buys.
    import graft.operators.MinHashLSH
    import graft.streaming.BatchStore
    val nDocs = n // scale the doc corpus with the games arg
    val docs = spark.range(nDocs)
      .select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 30).map(j =>
          concat(lit("tok"), pmod(col("id") * 31 + j * 7, lit(500)))): _*).as("text"))
      .cache()
    docs.count()
    val probeBatch = MinHashLSH.bandsOf(
      docs.filter(col("doc_id") % 16 === 15)).cache()
    probeBatch.count()
    val streamLayouts = Seq(1, 4, 16).map { e =>
      val dir = tmp(s"graft-compbench-bands-e$e")
      (0 until e).foreach { i =>
        // slice the store docs (doc_id%16 < 15) into e non-empty batches
        MinHashLSH.bandsOf(docs.filter(col("doc_id") % 16 < 15 &&
            shiftright(col("doc_id"), 4) % e === i))
          .withColumn("batch_id", lit(i.toLong))
          .write.mode("append").partitionBy("batch_id").parquet(dir)
      }
      e -> dir
    }.toMap
    def streamProbeSec(dir: String): Double = {
      val t = System.nanoTime()
      BatchStore.earlier(spark, dir, Long.MaxValue).as("o")
        .join(probeBatch.as("n"),
          col("o.band_idx") === col("n.band_idx") &&
          col("o.band_hash") === col("n.band_hash"))
        .select(col("o.doc_id"), col("n.doc_id")).distinct().count()
      (System.nanoTime() - t) / 1e9
    }
    def sm3(dir: String): Double =
      Measure.median((1 to 3).map(_ => streamProbeSec(dir)))
    val streamPerLayout = streamLayouts.toSeq.sortBy(_._1)
      .map { case (e, dir) => e -> (sm3(dir), parquetFiles(dir)) }
    val st0 = System.nanoTime()
    BatchStore.compact(spark, streamLayouts(16), 16L)
    val streamCompactSec = (System.nanoTime() - st0) / 1e9
    val streamCompactedProbe = sm3(streamLayouts(16))
    val streamCompactedFiles = parquetFiles(streamLayouts(16))
    def byLayout[T](prefix: String, rows: Seq[(Int, T)], compacted: JValue)(
        v: T => JValue): JObject =
      JObject(rows.map { case (e, r) => JField(s"$prefix$e", v(r)) }.toList :+
        JField("compacted", compacted))
    // stored rows per layout: equal keys stay UNMERGED across epochs
    // (the start position is a row in every epoch), so row count is the
    // layout's true amplification driver — what every probe re-merges
    ("metric" -> "compaction_bench") ~ ("games" -> n) ~
      ("probe_s" -> byLayout("epochs_", perLayout, JDouble(compactedProbe))(r => JDouble(r._1))) ~
      ("files" -> byLayout("epochs_", perLayout, JInt(compactedFiles))(r => JInt(r._2))) ~
      ("rows" -> byLayout("epochs_", perLayout,
        JLong(spark.read.parquet(compacted).count()))(r => JLong(r._3))) ~
      ("compact_s" -> compactSec) ~
      ("policy_epochs" -> StreamingImport.DefaultCompactEpochs) ~
      ("stream_probe_s" -> byLayout("batches_", streamPerLayout,
        JDouble(streamCompactedProbe))(r => JDouble(r._1))) ~
      ("stream_files" -> byLayout("batches_", streamPerLayout,
        JInt(streamCompactedFiles))(r => JInt(r._2))) ~
      ("stream_compact_s" -> streamCompactSec) ~
      ("policy_batches" -> graft.streaming.BatchStore.DefaultCompactBatches) ~
      regime.close()
  }
}
