package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.streaming.{BatchStore, StreamingQueries, UpsertStore}

/** q107 — the oracle proves stream == batch on the final view; this
  * spec pins the STORE semantics: incremental catch-up equals the
  * one-shot run, replays are idempotent, and the store holds per-batch
  * latests (not raw history).
  */
class UpsertStoreSpec extends SparkTestBase {

  private def ev: DataFrame =
    Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value")

  private def expectedView(df: DataFrame): Set[String] = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .drop("rn").collect().map(_.toString).toSet
  }

  test("incremental catch-up equals one-shot; replay idempotent; store is merged") {
    val events = ev
    val r = events.agg(min(unix_micros(col("ts"))),
      max(unix_micros(col("ts")))).head()
    val (mn, mx) = (r.getLong(0), r.getLong(1))
    val w = (mx - mn) / 3 + 1
    def chunk(i: Int): DataFrame = events.filter(
      unix_micros(col("ts")) >= mn + i * w &&
      unix_micros(col("ts")) < mn + (i + 1) * w)

    val landing = StreamingQueries.tmp("graft-upsert-spec-landing")
    val store = TempDirs.register(StreamingQueries.tmp("graft-upsert-spec-store"))
    val ckpt = StreamingQueries.tmp("graft-upsert-spec-ckpt")
    def append(batch: DataFrame, batchId: Long): Unit =
      BatchStore.append(UpsertStore.partial(batch), store, batchId,
        BatchStore.DefaultCompactBatches)
    def catchUp(): Unit =
      BatchStore.stream(spark, landing, events, ckpt)(append).awaitTermination()
    try {
      // stage 1: two drops, run to completion
      StreamingQueries.drop(chunk(0), landing, 0)
      StreamingQueries.drop(chunk(1), landing, 1)
      catchUp()
      val mid = UpsertStore.view(spark, store).collect().map(_.toString).toSet
      assert(mid == expectedView(chunk(0).unionAll(chunk(1))),
        "mid-stream view must equal the batch argmax over arrived data")

      // stage 2: a later drop arrives; SAME checkpoint resumes
      StreamingQueries.drop(chunk(2), landing, 2)
      catchUp()
      val full = UpsertStore.view(spark, store).collect().map(_.toString).toSet
      assert(full == expectedView(events),
        "caught-up view must equal the batch argmax over everything")

      // the store holds per-batch latests, strictly fewer rows than raw
      // history when keys repeat within a slice
      val stored = BatchStore.liveRows(spark, store).count()
      val raw = events.count()
      val perBatchKeys = (0 until 3)
        .map(i => chunk(i).select("user_id").distinct().count()).sum
      assert(stored == perBatchKeys,
        s"store rows $stored != per-batch touched keys $perBatchKeys")
      assert(stored < raw, "pre-merge should compress repeated keys")

      // at-least-once replay: re-running the LAST batch body with the
      // same batchId rewrites only its own partition — view unchanged
      append(chunk(2), 2L)
      val replayed = UpsertStore.view(spark, store).collect()
        .map(_.toString).toSet
      assert(replayed == full, "replay must be idempotent")
    } finally {
      StreamingQueries.rmTree(landing); StreamingQueries.rmTree(ckpt)
    }
  }

  test("the upsert store survives a process kill mid-run (q75-grade recovery)") {
    import graft.streaming.RestartHarness
    val events = ev
    val r = events.agg(min(unix_micros(col("ts"))),
      max(unix_micros(col("ts")))).head()
    val (mn, mx) = (r.getLong(0), r.getLong(1))
    val w = (mx - mn) / 4 + 1
    val landing = StreamingQueries.tmp("graft-upsert-kill-landing")
    val store = TempDirs.register(StreamingQueries.tmp("graft-upsert-kill-store"))
    val ckpt = StreamingQueries.tmp("graft-upsert-kill-ckpt")
    try {
      (0 until 4).foreach { i =>
        StreamingQueries.drop(events.filter(
          unix_micros(col("ts")) >= mn + i * w &&
          unix_micros(col("ts")) < mn + (i + 1) * w), landing, i)
      }
      // child JVM halts after 2 committed batches — no shutdown hooks,
      // the in-flight batch abandoned wherever it was
      val code = RestartHarness.launchKilled("upsert", landing, ckpt, store,
        sf, killAfter = 2)
      assert(code == RestartHarness.KilledExit || code == 0,
        s"child failed with unexpected exit $code")
      // resume in THIS process from the same checkpoint
      RestartHarness.start(spark, "upsert", landing, ckpt, store, events)
        .awaitTermination()
      val got = graft.streaming.UpsertStore.view(spark, store)
        .collect().map(_.toString).toSet
      assert(got == expectedView(events),
        "view after kill+resume must equal the uninterrupted batch argmax")
    } finally {
      StreamingQueries.rmTree(landing); StreamingQueries.rmTree(ckpt)
    }
  }
}
