package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The mergeable streaming store: every micro-batch [[append]]s its
  * partial as a `batch_id` partition, readers merge the live partitions
  * on read, and an LSM-style fold keeps the partition count bounded —
  * the lifecycle of the single-table stores (`StreamingVocab`,
  * `UpsertStore`, …) and of the incremental dedup pipelines' tables
  * ([[IncrementalDedup]]'s band/shingle tables, [[IncrementalSemDedup]]'s
  * store/removed tables), all driven by the one runner [[stream]]. The
  * fold follows the same trigger policy as the chess
  * entry store (`StreamingImport`) and the IVF layout
  * (`IvfIndex.compactEpochs`), applied to the one place it matters most:
  * these stores are RE-READ on every micro-batch, so one partition per
  * batch forever is unbounded file-count growth (listing RPCs, footer
  * reads, scheduler tasks) on the hottest read path of a long-running
  * deployment.
  *
  * Layout contract: real batches land under `batch_id=N` (N ≥ 0) via
  * dynamic partition overwrite — the replay-idempotence scheme.
  * Compaction folds every live row with `batch_id < frontier` into the
  * single partition `batch_id = -frontier` (negative ids can never
  * collide with a real batch), then PUBLISHES the fold by creating the
  * marker file `_compacted_<frontier>` — file creation is atomic on
  * local FS, HDFS and object stores, so there is no rename-a-directory
  * dance — and finally sweeps the folded partitions. Readers resolve
  * liveness from the highest marker m:
  * `live = (batch_id = -m) ∪ {batch_id ≥ m}`. A crash between any two
  * steps leaves either the old view (marker unpublished: the half-built
  * `-frontier` partition is invisible because readers only ever look at
  * `-m`) or the new view (marker published: stale folded partitions are
  * filtered out until the next sweep deletes them) — never duplicates,
  * never loss.
  *
  * Replay idempotence is PRESERVED: [[append]]'s fold runs inside
  * batch B with `frontier = B`, and every `batch_id < B` is
  * already checkpoint-committed (Structured Streaming only advances to
  * B after B-1 commits), so the fold contains exactly the
  * strictly-earlier batches; a replayed B still reads exactly
  * `batches < B` (now as the `-B` partition) and still rewrites only its
  * own `batch_id=B` partition.
  *
  * Concurrency note: within one stream, reads/compaction/sweeps are
  * serialized by foreachBatch. An EXTERNAL concurrent reader must use
  * [[snapshotRead]]: plain [[liveRows]] is marker-filtered (published
  * sweeps are invisible to it) but can race a sweep's physical deletes
  * between its file listing and its scan; snapshotRead closes that race
  * by retrying the whole resolve-and-scan when the scan trips over a
  * swept file.
  */
object BatchStore {

  private val MarkerPrefix = "_compacted_"
  private val StagingPrefix = "_staging_"

  /** Default fold cadence (the `compactEvery` of [[append]]): compact
    * once a store accumulates this many live leaf partitions — the
    * chess store's default (`StreamingImport.DefaultCompactEpochs`), for
    * the same reason: probe latency is flat in partition count on one
    * node, but file count (paid in listing RPCs and tasks by EVERY
    * batch's re-read) grows without bound; folding every ~8 batches
    * keeps it a small constant while amortizing the rewrite. */
  val DefaultCompactBatches = 8

  /** Shuffle width for the jobs INSIDE a store micro-batch (partial
    * aggregation + fold rewrite) — the foreachBatch sibling of
    * `StreamingQueries.runAppend`'s statePartitions knob. Every store's
    * per-batch partial is tiny BY CONSTRUCTION (a (type, day) grid, a
    * per-user rollup, a k-min sketch), yet the inner jobs would inherit
    * the caller's full shuffle width, and AQE does not coalesce them
    * (streaming plans disable it), so each micro-batch would pay a
    * session-wide fan-out of near-empty tasks plus that many part files
    * into the store partition (re-read by every later batch and fold).
    * Counts / mins / maxes / k-min cuts are width-independent (the
    * PartitioningInvarianceSpec property), and every store oracle row
    * re-proves output equality. A/B at sf0.1 (6 pipelines, same session
    * order): 35.3 → 27.7 s (0.78×), all six faster. [[stream]] applies
    * it to the stream's own session only. */
  val BatchShufflePartitions = 8

  /** Highest published compaction frontier (0 = never compacted). One
    * FileSystem listing, no Spark job. */
  def frontier(dir: String): Long =
    graft.Fs.childNames(dir)
      .collect { case n if n.startsWith(MarkerPrefix) =>
        n.stripPrefix(MarkerPrefix).toLong }
      .maxOption.getOrElse(0L)

  private def liveCond(m: Long, upper: Option[Long]): Column = {
    val real = upper match {
      case Some(b) => col("batch_id") >= m && col("batch_id") < b
      case None    => col("batch_id") >= m
    }
    if (m > 0) real || col("batch_id") === -m else real
  }

  /** Rows visible to batch `batchId`: exactly the strictly-earlier
    * batches, however they are physically laid out (folded or not).
    * batch_id is the partition column, so the condition prunes
    * partition DIRECTORIES — a fold really does shrink the scan. */
  def earlier(spark: SparkSession, dir: String, batchId: Long): DataFrame =
    spark.read.parquet(dir).filter(liveCond(frontier(dir), Some(batchId)))

  /** All live rows — for batch-less readers (final summaries). */
  def liveRows(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir).filter(liveCond(frontier(dir), None))

  /** Consistent snapshot read for an EXTERNAL reader — one not
    * serialized by the stream's own foreachBatch. Optimistic
    * resolve-scan-validate: pin the marker, run `f` over the live rows
    * under it, then re-read the marker — the attempt only counts if no
    * compaction PUBLISHED meanwhile. Both halves of the race are
    * covered: (a) a sweep deleting listed files mid-scan surfaces as a
    * missing-file failure → retry (`ignoreMissingFiles` would instead
    * silently DROP swept partitions whose rows now live only in the new
    * fold — data loss, not a snapshot); (b) the subtler torn-but-
    * successful read, where a scan under a STALE marker silently
    * excludes a newer fold its filter doesn't select — no error, wrong
    * answer — is caught by the marker validation. An unchanged marker
    * across the scan proves the listing, the filter and the files all
    * belonged to the same published frontier. Each retry requires
    * another compaction to have published mid-scan, so `maxAttempts`
    * only bounds pathological churn. */
  def snapshotRead[T](spark: SparkSession, dir: String,
      maxAttempts: Int = 5)(f: DataFrame => T): T = {
    var left = maxAttempts
    var out: Option[T] = None
    var torn = 0
    var swept = 0
    while (out.isEmpty) {
      require(left > 0,
        s"snapshot of $dir did not stabilize within $maxAttempts attempts " +
          s"($torn torn-frontier reads — marker advanced mid-scan — and " +
          s"$swept sweep-race scan failures; a compaction published " +
          s"during every read; raise maxAttempts or pause " +
          "compaction for external readers)")
      left -= 1
      val m0 = frontier(dir)
      try {
        val v = f(spark.read.parquet(dir).filter(liveCond(m0, None)))
        if (frontier(dir) == m0) out = Some(v) else torn += 1
      } catch {
        case e: Throwable if left > 0 && causedByMissingFile(e) => swept += 1
      }
    }
    out.get
  }

  /** A scan failure rooted in a file deleted after listing — the sweep
    * race signature. Spark wraps the executor-side failure in
    * SparkException layers (sometimes only in message text after
    * serialization), and the wrapper's error class depends on WHERE in
    * the read the delete landed: a miss at open is
    * `FAILED_READ_FILE.FILE_NOT_EXIST` with a FileNotFoundException
    * cause, but a delete mid-read (footer fetched, column chunks gone)
    * surfaces as `FAILED_READ_FILE.NO_HINT` over an IOException. The
    * match is deliberately NARROW: only those two error-class suffixes
    * (NO_HINT additionally requiring an IOException somewhere in the
    * cause chain) or a FileNotFoundException itself count as the race —
    * a genuinely corrupt footer (`FAILED_READ_FILE.CANNOT_READ_FILE`,
    * parquet magic-byte errors, …) must fail on the FIRST attempt, not
    * burn the retry budget masquerading as the sweep. */
  private def causedByMissingFile(e: Throwable): Boolean = {
    def chain(t: Throwable): Iterator[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(16)
    def msg(t: Throwable) = Option(t.getMessage).getOrElse("")
    chain(e).exists { c =>
      c.isInstanceOf[java.io.FileNotFoundException] ||
      msg(c).contains("FileNotFoundException") ||
      msg(c).contains("FAILED_READ_FILE.FILE_NOT_EXIST") ||
      (msg(c).contains("FAILED_READ_FILE.NO_HINT") &&
        chain(e).exists(_.isInstanceOf[java.io.IOException]))
    }
  }

  /** Live leaf-partition count — the read-amplification figure (parquet
    * directories every per-batch re-read must list). */
  def livePartitionCount(dir: String): Int = {
    val m = frontier(dir)
    val ids = graft.Fs.childNames(dir).filter(_.startsWith("batch_id="))
      .map(_.stripPrefix("batch_id=").toLong)
    ids.count(_ >= m) + (if (m > 0 && ids.contains(-m)) 1 else 0)
  }

  /** Fold all live rows with `batch_id < frontierNew` into the single
    * partition `batch_id = -frontierNew`, publish, sweep. Crash-safe per
    * the object doc; idempotent — a re-run with the same frontier
    * rebuilds the same fold. No-op if nothing is below the frontier. */
  def compact(spark: SparkSession, dir: String, frontierNew: Long): Unit = {
    val m = frontier(dir)
    require(frontierNew > m,
      s"compaction frontier must advance (published $m, asked $frontierNew)")
    // stage the fold under an underscore dir (invisible to partition
    // discovery), so no reader — including this fold's own scan — can
    // ever see a half-written or torn file
    val staging = s"$dir/$StagingPrefix$frontierNew"
    spark.read.parquet(dir)
      .filter(liveCond(m, Some(frontierNew)))
      .drop("batch_id")
      .write.mode("overwrite").parquet(staging)
    // install: clear any partial target from a crashed attempt (part
    // file names are per-job UUIDs — a blind re-move would duplicate),
    // move the staged part files in, then publish via marker creation
    val target = s"$dir/batch_id=-$frontierNew"
    graft.Fs.delete(target)
    graft.Fs.mkdirs(target)
    graft.Fs.childNames(staging).filter(_.startsWith("part-"))
      .foreach(f => graft.Fs.rename(s"$staging/$f", s"$target/$f"))
    graft.Fs.delete(staging)
    graft.Fs.touch(s"$dir/$MarkerPrefix$frontierNew")
    sweep(dir)
  }

  /** Delete everything the current marker makes invisible: folded real
    * partitions below the frontier, superseded folds, old markers.
    * Safe to re-run any time (the next compaction re-sweeps after a
    * crashed one). */
  def sweep(dir: String): Unit = {
    val m = frontier(dir)
    if (m > 0) graft.Fs.childNames(dir).foreach { n =>
      if (n.startsWith("batch_id=")) {
        val id = n.stripPrefix("batch_id=").toLong
        if ((id >= 0 && id < m) || (id < 0 && id != -m))
          graft.Fs.delete(s"$dir/$n")
      } else if (n.startsWith(MarkerPrefix) &&
                 n.stripPrefix(MarkerPrefix).toLong < m)
        graft.Fs.delete(s"$dir/$n")
    }
  }

  /** Land one micro-batch's `partial` as the store partition
    * `batch_id = batchId` — dynamic partition overwrite, so an
    * at-least-once replay rewrites exactly its own partition — then,
    * AFTER the batch's own write, fold iff the live partition count
    * reached `compactEvery`. The fold runs on the partial's session,
    * i.e. the stream's own inside [[stream]]. */
  def append(partial: DataFrame, dir: String, batchId: Long,
             compactEvery: Int): Unit = {
    partial.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(dir)
    if (batchId > frontier(dir) && livePartitionCount(dir) >= compactEvery)
      compact(partial.sparkSession, dir, batchId)
  }

  /** The one runner for the stores' streams: one parquet landing file
    * per micro-batch → `body(batch, batchId)` → AvailableNow (a bounded
    * catch-up run). Returns the started query — the restart harness
    * halts it mid-run. `body` sees the stream's own session
    * (`batch.sparkSession`, a per-stream clone) at
    * [[BatchShufflePartitions]]; the caller's session conf is never
    * written. */
  def stream(spark: SparkSession, landing: String, schemaFrom: DataFrame,
             checkpoint: String)(body: (DataFrame, Long) => Unit): StreamingQuery =
    spark.readStream.schema(schemaFrom.schema)
      .option("maxFilesPerTrigger", 1).parquet(landing)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.sparkSession.conf.set("spark.sql.shuffle.partitions",
          BatchShufflePartitions.toLong)
        body(batch, batchId)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
}
