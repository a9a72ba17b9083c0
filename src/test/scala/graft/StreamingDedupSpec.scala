package graft

import org.apache.spark.sql.functions._
import graft.operators.MinHashLSH
import graft.streaming.{BatchStore, IncrementalDedup}

/** Incremental (streaming) near-dedup == one-shot batch near-dedup over
  * the same corpus — the ST1×L2 correctness contract. */
class StreamingDedupSpec extends SparkTestBase {
  import spark.implicits._

  /** Synthetic corpus with planted near-dups: doc 1000+i rewrites doc i
    * with one token changed (high Jaccard), both within and across the
    * two batches. */
  private def corpus(): (Seq[(Long, String)], Seq[(Long, String)]) = {
    val rnd = new scala.util.Random(91)
    def text(): String = Seq.fill(30)("tok" + rnd.nextInt(500)).mkString(" ")
    val originals = (0L until 20L).map(i => i -> text())
    def mutate(t: String): String = {
      val ts = t.split(" "); ts(7) = "CHANGED"; ts.mkString(" ")
    }
    // dups 1000..1003 of docs 0..3 land in batch 1 (within-batch pairs);
    // dups 1010..1015 of docs 10..15 land in batch 2 while their
    // originals are in batch 1 (cross-batch pairs)
    val batch1 = originals.take(10) ++
      (0 until 4).map(i => (1000L + i) -> mutate(originals(i)._2))
    val batch2 = originals.drop(10) ++
      (10 until 16).map(i => (1000L + i) -> mutate(originals(i)._2))
    (batch1, batch2)
  }

  test("two incremental batches find exactly the one-shot batch pairs") {
    val (b1, b2) = corpus()
    val store = java.nio.file.Files.createTempDirectory("dedup_store").toString
    val pairs = java.nio.file.Files.createTempDirectory("dedup_pairs").toString
    val step = IncrementalDedup.processBatch(store, pairs, 0.5,
      BatchStore.DefaultCompactBatches) _
    step(b1.toDF("doc_id", "text"), 0L)
    step(b2.toDF("doc_id", "text"), 1L)
    val streamed = spark.read.parquet(pairs)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val oneShot = MinHashLSH.verifiedPairs((b1 ++ b2).toDF("doc_id", "text"), 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(streamed == oneShot,
      s"missing=${oneShot -- streamed} extra=${streamed -- oneShot}")
    // sanity: the construction planted both kinds of pair
    assert(oneShot.exists(p => p._1 < 4 && p._2 >= 1000L), "within-batch dup")
    assert(oneShot.exists(p => p._1 >= 10 && p._1 < 16 && p._2 >= 1010L),
      "cross-batch dup")
  }

  test("a replayed batch (at-least-once foreachBatch) is idempotent") {
    val (b1, b2) = corpus()
    val store = java.nio.file.Files.createTempDirectory("dedup_replay").toString
    val pairs = java.nio.file.Files.createTempDirectory("dedup_rpairs").toString
    val step = IncrementalDedup.processBatch(store, pairs, 0.5,
      BatchStore.DefaultCompactBatches) _
    step(b1.toDF("doc_id", "text"), 0L)
    step(b2.toDF("doc_id", "text"), 1L)
    def snapshot() = (
      spark.read.parquet(pairs).select("doc_a", "doc_b", "jaccard")
        .as[(Long, Long, Double)].collect().sorted.toSeq,
      spark.read.parquet(s"$store/bands").count(),
      spark.read.parquet(s"$store/shingles").count())
    val before = snapshot()
    // restart scenario: batch 1 re-fires with the same batchId after its
    // state writes already landed — must not self-pair or double-append
    step(b2.toDF("doc_id", "text"), 1L)
    val after = snapshot()
    assert(after == before,
      s"replay changed state: pairs ${before._1.size}->${after._1.size}, " +
        s"bands ${before._2}->${after._2}, shingles ${before._3}->${after._3}")
    assert(!after._1.exists(p => p._1 == p._2), "self-pairs emitted")
  }

  test("the real stream (AvailableNow, 1 file per micro-batch) matches too") {
    val (b1, b2) = corpus()
    val base = java.nio.file.Files.createTempDirectory("dedup_stream").toString
    val landing = s"$base/landing"
    // two drops -> two micro-batches (maxFilesPerTrigger=1)
    b1.toDF("doc_id", "text").coalesce(1).write.parquet(s"$landing/d1")
    b2.toDF("doc_id", "text").coalesce(1).write.parquet(s"$landing/d2")
    // file source wants a flat dir of files
    val flat = new java.io.File(landing)
    flat.listFiles().filter(_.isDirectory).zipWithIndex.foreach { case (d, i) =>
      d.listFiles().filter(_.getName.endsWith(".parquet")).zipWithIndex.foreach {
        case (f, j) =>
          java.nio.file.Files.move(f.toPath,
            java.nio.file.Paths.get(landing, s"drop_${i}_$j.parquet"))
      }
      d.listFiles().foreach(_.delete()); d.delete()
    }
    BatchStore.stream(spark, landing, b1.toDF("doc_id", "text"), s"$base/ckpt")(
      IncrementalDedup.processBatch(s"$base/store", s"$base/pairs", 0.5,
        BatchStore.DefaultCompactBatches)).awaitTermination()
    val streamed = spark.read.parquet(s"$base/pairs")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val oneShot = MinHashLSH.verifiedPairs((b1 ++ b2).toDF("doc_id", "text"), 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(streamed == oneShot,
      s"missing=${oneShot -- streamed} extra=${streamed -- oneShot}")
  }
}
