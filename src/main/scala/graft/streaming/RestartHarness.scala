package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

/** Checkpoint recovery across a PROCESS KILL — the failure mode a
  * 100 TB streaming deployment actually has (SURVEY.md §2.9 ST1/ST3
  * durability). Exactly-once within one bounded run is proven by
  * q75/q76; this harness proves the stronger property: a stream whose
  * JVM is halted mid-run (`Runtime.halt` — no shutdown hooks, no sink
  * finalization, in-flight batches abandoned) resumes in a DIFFERENT
  * process from the same checkpoint and still produces the exact
  * uninterrupted answer.
  *
  * What that exercises for real: the offset WAL (written BEFORE a batch
  * runs) being replayed for the batch that died mid-flight, the
  * FileStreamSink manifest log masking the killed attempt's orphan
  * part-files, and — for the stateful `sessions` kind — the state store
  * reloading keyed session state from the checkpoint delta files in a
  * JVM that never saw the original maps.
  *
  * `build` constructs the SAME logical stream in both processes (child
  * and resumer) — checkpoint recovery requires plan-compatible
  * restarts, exactly as in production.
  */
object RestartHarness {

  /** Child exit code for "halted mid-run as intended". */
  val KilledExit = 42

  /** The streams under test, by kind — one per distinct recovery
    * surface: `ingest` = the q75 file-sink pipeline (offset WAL + sink
    * manifest), `sessions` = the q71 flatMapGroupsWithState pipeline
    * (custom keyed state), `windows` = the q74 watermarked tumbling
    * aggregation (built-in window-agg state + watermark recovery),
    * `join` = the q80 stream–stream interval join (BOTH sides' buffered
    * join state + both watermarks must reload; a resume that lost
    * either buffer would drop the cross-batch matches), `dedup` = the
    * q76 dropDuplicatesWithinWatermark pipeline (seen-key state: a
    * resume that lost it re-emits every row the dead process already
    * sank). */
  def build(s: SparkSession, kind: String, landing: String,
            schemaFrom: DataFrame): DataFrame = {
    def src = s.readStream.schema(schemaFrom.schema)
      .option("maxFilesPerTrigger", 1).parquet(landing)
    kind match {
      case "ingest"   => src
      case "sessions" => StatefulSessions.sessionStats(s, src).toDF()
      case "windows"  => EventStreams.windowedCounts(src)
      // corpus-spanning watermark: every cross-batch duplicate sits
      // inside the horizon, so its suppression can ONLY come from
      // seen-key state — never from lateness dropping the row
      case "dedup"    => EventStreams.dedupedStream(src, watermark = "30 days")
      case "join" =>
        // q80's exact shape: even-id events join odd-id events of the
        // same user within ±5 minutes, each side its own source
        def side(parity: Int, suffix: String) =
          src.filter(col("event_id") % 2 === parity)
            .select(col("event_id").as(s"id_$suffix"),
              col("ts").as(s"ts_$suffix"), col("user_id").as(s"user_$suffix"))
            .withWatermark(s"ts_$suffix", "1 hour")
        side(0, "a").join(side(1, "b"),
          col("user_a") === col("user_b") &&
          col("ts_b") >= col("ts_a") - expr("INTERVAL 5 MINUTES") &&
          col("ts_b") <= col("ts_a") + expr("INTERVAL 5 MINUTES"))
          .select(col("id_a"), col("id_b"), col("user_a").as("user_id"))
      case other      => sys.error(s"unknown restart kind: $other")
    }
  }

  /** The store kinds, by partial — each streams through
    * [[BatchStore.stream]] into a `batch_id`-partitioned store at
    * `outDir`, folded at the default cadence. A kill can land between a
    * batch_id partition write and its commit-log entry; the resume must
    * replay the batch into ITS OWN partition (dynamic overwrite) so the
    * merge-on-read view never double-counts:
    *  - `upsert` = the q107 CDC store (latest-per-key view);
    *  - `vocab` = the q229/q230 per-(source, token) count store — the
    *    mergeable unit whose KEY SPACE grows with the corpus;
    *  - `usermetrics` / `firstseen` = the q245 per-(type, user) metric
    *    store and the q211 first-seen store (r12 verdict ask #5). For
    *    first-seen the subtlety is that min/max are replay-IDEMPOTENT
    *    even if doubled, so the discriminating check is the SUM-shaped
    *    (ne, sc) store, but both earn the actual-replay proof. */
  private val storePartials: Map[String, DataFrame => DataFrame] = Map(
    "upsert" -> UpsertStore.partial,
    "vocab" -> StreamingVocab.partial,
    "usermetrics" -> StreamingUserMetrics.partial,
    "firstseen" -> StreamingFirstSeen.partial)

  /** Start the kind's stream (AvailableNow) against an existing or
    * fresh checkpoint + sink dir. `ivfappend` and the [[storePartials]]
    * kinds are micro-batch sinks run by [[BatchStore.stream]]:
    * `ivfappend` is q90's epoch-partitioned index write into `outDir`,
    * so a kill here lands BETWEEN the sink write and the commit-log
    * write and the resume must replay the batch id into the same
    * (cell, epoch) leaves without doubling them. Every other kind is a
    * parquet append. */
  def start(s: SparkSession, kind: String, landing: String, ckpt: String,
            outDir: String, schemaFrom: DataFrame): StreamingQuery =
    if (kind == "ivfappend")
      BatchStore.stream(s, landing, schemaFrom, ckpt)(
        graft.operators.IvfIndex.appendEpoch(_, outDir, _))
    else storePartials.get(kind) match {
      case Some(partial) =>
        BatchStore.stream(s, landing, schemaFrom, ckpt)((b, id) =>
          BatchStore.append(partial(b), outDir, id,
            BatchStore.DefaultCompactBatches))
      case None =>
        build(s, kind, landing, schemaFrom).writeStream.format("parquet")
          .option("path", outDir)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .outputMode("append")
          .start()
    }

  // The JDK-17 module opens Spark needs outside spark-submit — the same
  // list build.sbt forks test/run JVMs with; a bare ProcessBuilder child
  // needs them passed explicitly.
  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  /** Launch a CHILD JVM (same classpath as this one) that runs the
    * stream and HALTS after `killAfter` batch commits. Returns the
    * child's exit code: `KilledExit` = halted mid-run (the interesting
    * case, overwhelmingly likely); 0 = the stream outran the listener
    * and finished first (resume is then a no-op — equality still must
    * hold). Any other code is a real child failure. */
  def launchKilled(kind: String, landing: String, ckpt: String,
                   outDir: String, sfDir: String, killAfter: Int): Int = {
    val javaBin = new java.io.File(
      new java.io.File(sys.props("java.home"), "bin"), "java").getAbsolutePath
    // halt() skips Spark's own shutdown hooks, so the child's scratch
    // dirs (/tmp/spark-*, blockmgr-*) would leak every run — pin them
    // under a parent-registered dir the JVM-exit reaper deletes
    val scratch = graft.TempDirs.register(
      java.nio.file.Files.createTempDirectory("graft-restart-scratch").toString)
    val cmd = Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx2g",
      "-Dspark.ui.enabled=false",
      "-Dspark.sql.session.timeZone=UTC",
      s"-Dspark.local.dir=$scratch",
      s"-Djava.io.tmpdir=$scratch",
      "-cp", sys.props("java.class.path"),
      "graft.streaming.RestartHarness",
      kind, landing, ckpt, outDir, sfDir, killAfter.toString)
    new ProcessBuilder(cmd: _*).inheritIO().start().waitFor()
  }

  /** Child entrypoint: run the kind's stream and `Runtime.halt` (no
    * shutdown hooks — the closest an in-test harness gets to kill -9)
    * once `killAfter` micro-batches have committed. */
  def main(args: Array[String]): Unit = {
    val Array(kind, landing, ckpt, outDir, sfDir, killAfterStr) = args
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val killAfter = killAfterStr.toInt
    spark.streams.addListener(new StreamingQueryListener {
      private var commits = 0
      override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
        commits += 1
        if (commits >= killAfter) Runtime.getRuntime.halt(KilledExit)
      }
      override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    val schemaFrom =
      if (kind == "ivfappend") graft.operators.VectorQueries.emb(spark, sfDir)
      else if (kind == "vocab") graft.Tables.documents(spark, sfDir)
        .select("doc_id", "source", "text")
      else graft.Tables.events(spark, sfDir)
        .select("event_id", "ts", "user_id", "event_type", "value")
    start(spark, kind, landing, ckpt, outDir, schemaFrom).awaitTermination()
    spark.stop()
    sys.exit(0) // finished every batch before the kill threshold fired
  }
}
