package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** CDC-style latest-per-key materialization under streaming ingest —
  * the lakehouse upsert view (Hudi/Delta's merge-on-read shape): each
  * micro-batch pre-merges to ONE row per touched key (argmax by the
  * total order (ts, event_id)) and appends that as its own `batch_id`
  * partition with dynamic overwrite — the replay-idempotence scheme —
  * so the store grows by keys-touched-per-batch, not by raw events.
  * The queryable VIEW is merge-on-read: the same argmax over the
  * store's live rows. Because argmax under a TOTAL order is
  * hierarchical (latest of per-batch latests = global latest), neither
  * batch boundaries nor [[BatchStore]] fold timing can change the
  * view — which is exactly what the DuckDB oracle (a plain
  * row_number()=1 over the raw events) re-proves on every round.
  *
  * Scale shape: per batch one window over the batch keyed by user_id
  * (corpus-cardinality groups — no single-reducer funnel) and one
  * partition write; the view reads |keys| × live-partition rows, with
  * the partition count pinned by the LSM fold. At 100 TB the
  * view cost is the store scan, never the raw history.
  */
object UpsertStore {

  /** This batch's partial: the latest row per touched key (argmax by
    * (ts, event_id)) — also the view's merge rule, and callable in batch
    * mode for a backfill. */
  def partial(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** The merge-on-read view: latest row per key across live partitions. */
  def view(spark: SparkSession, storeDir: String): DataFrame =
    partial(BatchStore.liveRows(spark, storeDir).drop("batch_id"))
}
