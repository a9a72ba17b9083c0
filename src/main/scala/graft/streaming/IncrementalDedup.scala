package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.MinHashLSH

/** Incremental MinHash-LSH near-dedup over a DOCUMENT STREAM (SURVEY.md
  * §2.9 ST1 × §2.11 L2 — the shape a production pretraining pipeline
  * needs: corpora land continuously, and each new batch must be deduped
  * against everything already ingested WITHOUT re-scanning it).
  *
  * State is two append-only parquet tables, not driver memory: the
  * accumulated band keys (doc_id, band_idx, band_hash) and shingle
  * hashes (doc_id, sh). Per micro-batch: (1) within-batch pairs via the
  * batch operator; (2) cross pairs by joining the NEW batch's band keys
  * against the accumulated store — bucket population stays
  * O(dup-cluster), so each batch costs O(batch), not O(corpus); (3) the
  * exact-Jaccard rescore runs RELATIONALLY over shingle-hash sets
  * (|A∩B| / (|A|+|B|-|A∩B|)) — the store never keeps document text.
  * Then the batch's keys append to the store. At 100 TB the store is
  * just another bucketed table; the band join prunes to matching
  * buckets, and [[BatchStore]]'s LSM fold keeps the per-batch partition
  * count a small constant over unbounded appends.
  */
object IncrementalDedup {

  /** Exact set-Jaccard of candidate pairs from shingle-hash tables,
    * filtered at `minJaccard` — same rounding as the batch operator so
    * stream results union cleanly with within-batch pairs. */
  def jaccardPairs(cands: DataFrame, shinglesA: DataFrame,
                   shinglesB: DataFrame, minJaccard: Double): DataFrame = {
    val sa = shinglesA.select(col("doc_id").as("doc_a"), col("sh"))
    val sb = shinglesB.select(col("doc_id").as("doc_b"), col("sh"))
    val na = sa.groupBy("doc_a").agg(count(lit(1)).as("na"))
    val nb = sb.groupBy("doc_b").agg(count(lit(1)).as("nb"))
    cands.join(sa, "doc_a").join(sb, Seq("doc_b", "sh"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("ci"))
      .join(na, "doc_a").join(nb, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(col("ci").cast("double") /
          (col("na") + col("nb") - col("ci")).cast("double"), 4).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** One ingest step ([[BatchStore.stream]] body, also callable in
    * batch mode): emits verified near-dup pairs (within-batch +
    * batch-vs-store, doc_a < doc_b) to `pairsDir` and appends the
    * batch's keys to the store.
    *
    * A micro-batch body runs at-least-once, so a restarted batch may
    * re-run with the same batchId after a partial write. Every output
    * is therefore partitioned by batch_id and written with dynamic
    * partition overwrite: a replay rewrites exactly its own partitions
    * and nothing else. Cross-batch candidates read only STRICTLY EARLIER batch_ids
    * from the store, so a replay never joins against its own
    * partially-written keys (which would emit jaccard-1.0 self-pairs and
    * double-count shingles). */
  def processBatch(storeDir: String, pairsDir: String, minJaccard: Double,
                   compactEvery: Int)(batch: DataFrame, batchId: Long): Unit = {
    val bandsDir = s"$storeDir/bands"; val shDir = s"$storeDir/shingles"
    batch.persist()
    try {
      val newBands = MinHashLSH.bandsOf(batch)
      val newShingles = MinHashLSH.shingleHashes(batch)
      val within = MinHashLSH.verifiedPairs(batch, minJaccard)
      val hasStore = graft.Fs.exists(bandsDir)
      def earlier(dir: String) =
        BatchStore.earlier(batch.sparkSession, dir, batchId).drop("batch_id")
      val pairs = if (!hasStore) within else {
        val cands = earlier(bandsDir).as("o")
          .join(newBands.as("n"),
            col("o.band_idx") === col("n.band_idx") &&
            col("o.band_hash") === col("n.band_hash"))
          .select(col("o.doc_id").as("doc_a"), col("n.doc_id").as("doc_b"))
          .filter(col("doc_a") =!= col("doc_b")) // same id re-dropped later
          .distinct()
        val cross = jaccardPairs(cands, earlier(shDir), newShingles, minJaccard)
        // canonical orientation so stream output unions with batch output
        within.unionByName(cross.select(
          least(col("doc_a"), col("doc_b")).as("doc_a"),
          greatest(col("doc_a"), col("doc_b")).as("doc_b"),
          col("jaccard")))
      }
      // pairsDir is an OUTPUT (append-only, never re-read here), so its
      // batch_id provenance is left intact for consumers: no fold
      BatchStore.append(pairs, pairsDir, batchId, Int.MaxValue)
      // LSM fold (BatchStore doctrine): the band/shingle stores are
      // re-read every batch, so their partition count must stay a small
      // constant over unbounded appends. Folds only strictly-earlier
      // (checkpoint-committed) batches — replay idempotence unchanged.
      BatchStore.append(newBands, bandsDir, batchId, compactEvery)
      BatchStore.append(newShingles, shDir, batchId, compactEvery)
    } finally { batch.unpersist(blocking = false); () }
  }
}
