package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.KMeans

/** Incremental SemDeDup over an EMBEDDING STREAM (SURVEY.md §2.9 ST1 ×
  * L2e — the arriving-corpus shape of q89): documents land continuously
  * and each batch must be semantically deduped against everything
  * already ingested WITHOUT re-scanning it.
  *
  * The clustering model is TRAINED OFFLINE and frozen (Lloyd rounds
  * over a reference corpus — [[KMeans.lloydModel]]); the stream only
  * ASSIGNS against the broadcast centroid matrix, so batch boundaries
  * cannot move a document's cluster. State is one append-only parquet
  * table of (cid, vec_id, emb) arrivals. Per micro-batch: (1)
  * within-batch eps-pairs via the same cid-keyed equi-join as q89;
  * (2) cross pairs by joining the NEW batch against ONLY the matching
  * clusters of the store — each batch costs O(batch × |cluster|), never
  * O(corpus²). Every pair contributes the removal `greatest(ia, ib)` —
  * exactly q89's keep-first (lowest-id) rule, and because the rule is
  * id-based the final removal set is ARRIVAL-ORDER INDEPENDENT: a
  * later batch may log a removal for an earlier-arrived doc, which is
  * an append here, never a retraction.
  *
  * A micro-batch body runs at-least-once, so both outputs land
  * partitioned by batch_id with dynamic partition overwrite, and cross
  * pairs read only STRICTLY EARLIER batches — the IncrementalDedup
  * idempotence argument verbatim.
  */
object IncrementalSemDedup {

  /** One ingest step ([[BatchStore.stream]] body): appends the batch's
    * assignments to `storeDir` and its pair-derived removals to
    * `removedDir`. */
  def processBatch(storeDir: String, removedDir: String,
                   model: (Array[Int], Array[Array[Double]]), eps: Double,
                   compactEvery: Int)(batch: DataFrame, batchId: Long): Unit = {
    val assigned = KMeans.assignModel(batch, model)
      .select(col("cid"), col("vec_id"), col("emb"))
      .persist()
    try {
      val a = assigned.select(col("cid"), col("vec_id").as("ia"), col("emb").as("ea"))
      val b = assigned.select(col("cid"), col("vec_id").as("ib"), col("emb").as("eb"))
      val within = a.join(b, "cid")
        .filter(col("ia") < col("ib") &&
          graft.functions.VectorFunctions.cosine(col("ea"), col("eb")) >= eps)
        .select(col("ib").as("vec_id"))
      val hasStore = graft.Fs.exists(storeDir)
      val removed = if (!hasStore) within else {
        val earlier = BatchStore.earlier(batch.sparkSession, storeDir, batchId)
          .select(col("cid"), col("vec_id").as("ia"), col("emb").as("ea"))
        val cross = earlier.join(b, "cid")
          .filter(col("ia") =!= col("ib") &&
            graft.functions.VectorFunctions.cosine(col("ea"), col("eb")) >= eps)
          .select(greatest(col("ia"), col("ib")).as("vec_id"))
        within.unionByName(cross)
      }
      // LSM fold (BatchStore doctrine): the arrival store is re-read
      // every batch (and `removed` on every summary), so both stay a
      // small constant number of partitions over unbounded appends.
      // Folds only strictly-earlier batches — replay-idempotent.
      BatchStore.append(removed.distinct(), removedDir, batchId, compactEvery)
      BatchStore.append(assigned, storeDir, batchId, compactEvery)
    } finally { assigned.unpersist(blocking = false); () }
  }

  /** The q89 summary off the accumulated state: per cluster, arrivals
    * and distinct removed ids — hash-equal to the batch operator when
    * the stream has drained the same corpus. */
  def summary(spark: SparkSession, storeDir: String, removedDir: String): DataFrame = {
    val store = BatchStore.liveRows(spark, storeDir)
    val removed = BatchStore.liveRows(spark, removedDir)
      .select(col("vec_id")).distinct().withColumn("rm", lit(1L))
    store.join(removed, Seq("vec_id"), "left")
      .groupBy(col("cid").cast("long").as("cluster_id"))
      .agg(count(lit(1)).as("n_docs"),
           coalesce(sum(col("rm")), lit(0L)).as("n_removed"))
  }
}
