package graft

import org.apache.spark.sql.functions._
import graft.operators.{KMeans, MinHashLSH}
import graft.streaming.{BatchStore, IncrementalDedup, IncrementalSemDedup,
  StreamingQueries}

/** The LSM fold for batch_id-partitioned streaming stores: results are
  * UNCHANGED across mid-run compaction (the round-6 verdict's done
  * criterion), partition counts stay bounded, crash states between any
  * two publication steps never produce duplicates or loss, and a
  * replayed batch after a fold is still idempotent. */
class BatchStoreSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  /** A tiny batch_id-partitioned store with batches 0..n-1, one row
    * (id=b, v="v<b>") per batch. */
  private def mkStore(dir: String, n: Int): Unit =
    (0 until n).foreach { b =>
      Seq((b.toLong, s"v$b")).toDF("id", "v")
        .withColumn("batch_id", lit(b.toLong))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(dir)
    }

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("id").as[Long].collect().toSet

  test("fold preserves earlier()/liveRows() exactly and bounds partitions") {
    val dir = tmp("bs_fold")
    mkStore(dir, 6)
    val before = (0 to 7).map(b => ids(BatchStore.earlier(spark, dir, b)))
    assert(BatchStore.livePartitionCount(dir) == 6)

    BatchStore.compact(spark, dir, 4) // fold batches 0..3
    assert(BatchStore.frontier(dir) == 4)
    assert(BatchStore.livePartitionCount(dir) == 3) // fold + batches 4,5
    // folded batches' REAL partition dirs are physically gone
    val names = Fs.childNames(dir).filter(_.startsWith("batch_id="))
    assert(names.toSet == Set("batch_id=-4", "batch_id=4", "batch_id=5"), names)

    // visibility for any batch at-or-past the frontier is unchanged;
    // liveRows sees everything
    (4 to 7).foreach { b =>
      assert(ids(BatchStore.earlier(spark, dir, b)) == before(b), s"batch $b")
    }
    assert(ids(BatchStore.liveRows(spark, dir)) == (0L to 5L).toSet)

    // a second fold folds the FOLD too (LSM re-compaction)
    mkStore2More(dir)
    BatchStore.compact(spark, dir, 7)
    assert(BatchStore.frontier(dir) == 7)
    assert(BatchStore.livePartitionCount(dir) == 2) // fold + batch 7
    assert(ids(BatchStore.liveRows(spark, dir)) == (0L to 7L).toSet)
    assert(ids(BatchStore.earlier(spark, dir, 7)) == (0L to 6L).toSet)
  }

  private def mkStore2More(dir: String): Unit =
    (6 until 8).foreach { b =>
      Seq((b.toLong, s"v$b")).toDF("id", "v")
        .withColumn("batch_id", lit(b.toLong))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(dir)
    }

  test("crash states are invisible: unpublished fold, unswept stale partitions") {
    val dir = tmp("bs_crash")
    mkStore(dir, 4)

    // crash BEFORE marker publication: a fully-written -3 partition
    // with no _compacted_3 marker must be invisible (else rows 0..2
    // would double)
    spark.read.parquet(dir).filter(col("batch_id") < 3).drop("batch_id")
      .write.mode("overwrite").parquet(s"$dir/batch_id=-3")
    Fs.delete(s"$dir/batch_id=-3/_SUCCESS")
    assert(BatchStore.frontier(dir) == 0)
    assert(ids(BatchStore.earlier(spark, dir, 4)) == Set(0L, 1L, 2L, 3L),
      "unpublished fold leaked")
    assert(BatchStore.liveRows(spark, dir).count() == 4)

    // crash AFTER marker publication but BEFORE the sweep: stale real
    // partitions 0..2 must be filtered out (else rows double the other
    // way); a later sweep then deletes them physically
    Fs.touch(s"$dir/_compacted_3")
    assert(BatchStore.frontier(dir) == 3)
    assert(ids(BatchStore.earlier(spark, dir, 4)) == Set(0L, 1L, 2L, 3L))
    assert(BatchStore.liveRows(spark, dir).count() == 4, "stale partitions leaked")
    BatchStore.sweep(dir)
    val left = Fs.childNames(dir).filter(_.startsWith("batch_id=")).toSet
    assert(left == Set("batch_id=-3", "batch_id=3"), left)
    assert(ids(BatchStore.liveRows(spark, dir)) == Set(0L, 1L, 2L, 3L))

    // a crashed-then-retried fold: re-running compact at a HIGHER
    // frontier folds the published fold and the remaining real batch
    BatchStore.compact(spark, dir, 4)
    assert(ids(BatchStore.liveRows(spark, dir)) == Set(0L, 1L, 2L, 3L))
    assert(Fs.childNames(dir).filter(_.startsWith(s"batch_id=")).toSet ==
      Set("batch_id=-4"))
  }

  /** StreamingDedupSpec's planted-near-dup corpus, split into 5 batches
    * so a threshold-2 trigger compacts several times mid-run. */
  private def corpus5(): Seq[Seq[(Long, String)]] = {
    val rnd = new scala.util.Random(91)
    def text(): String = Seq.fill(30)("tok" + rnd.nextInt(500)).mkString(" ")
    val originals = (0L until 20L).map(i => i -> text())
    def mutate(t: String): String = {
      val ts = t.split(" "); ts(7) = "CHANGED"; ts.mkString(" ")
    }
    // dups of docs 0..15 spread over all five batches, so cross-batch
    // pairs span compacted AND uncompacted store regions
    val dups = (0 until 16).map(i => (1000L + i) -> mutate(originals(i)._2))
    Seq(
      originals.take(8) ++ dups.take(2),
      originals.slice(8, 14) ++ dups.slice(2, 5),
      originals.drop(14) ++ dups.slice(5, 8),
      dups.slice(8, 12),
      dups.drop(12))
  }

  test("incremental MinHash dedup: mid-run compaction leaves the pairs unchanged") {
    val batches = corpus5()
    val all = batches.flatten
    def runWith(thr: Int): Set[(Long, Long)] = {
      val store = tmp("bs_mh_store"); val pairs = tmp("bs_mh_pairs")
      val step = IncrementalDedup.processBatch(store, pairs, 0.5, thr) _
      batches.zipWithIndex.foreach { case (b, i) =>
        step(b.toDF("doc_id", "text"), i.toLong) }
      if (thr <= batches.size) {
        assert(BatchStore.frontier(s"$store/bands") > 0, "compaction never fired")
        assert(BatchStore.livePartitionCount(s"$store/bands") <= thr)
        assert(BatchStore.livePartitionCount(s"$store/shingles") <= thr)
      }
      spark.read.parquet(pairs).select("doc_a", "doc_b")
        .as[(Long, Long)].collect().toSet
    }
    val compacted = runWith(2)
    val untouched = runWith(100)
    val oneShot = MinHashLSH.verifiedPairs(all.toDF("doc_id", "text"), 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(compacted == oneShot,
      s"missing=${oneShot -- compacted} extra=${compacted -- oneShot}")
    assert(untouched == oneShot)
  }

  test("replay after a fold is still idempotent") {
    val batches = corpus5()
    val store = tmp("bs_rp_store"); val pairs = tmp("bs_rp_pairs")
    val step = IncrementalDedup.processBatch(store, pairs, 0.5, 2) _
    batches.zipWithIndex.foreach { case (b, i) =>
      step(b.toDF("doc_id", "text"), i.toLong) }
    assert(BatchStore.frontier(s"$store/bands") > 0)
    def snapshot() = (
      spark.read.parquet(pairs).select("doc_a", "doc_b", "jaccard")
        .as[(Long, Long, Double)].collect().sorted.toSeq,
      BatchStore.liveRows(spark, s"$store/bands").count(),
      BatchStore.liveRows(spark, s"$store/shingles").count())
    val before = snapshot()
    // the LAST batch re-fires with the same id after a fold already
    // folded every earlier batch — the strictly-earlier read must hit
    // exactly the fold, never its own landed partition
    step(batches.last.toDF("doc_id", "text"), (batches.size - 1).toLong)
    assert(snapshot() == before, "replay after fold changed state")
    assert(!before._1.exists(p => p._1 == p._2), "self-pairs emitted")
  }

  test("incremental SemDeDup: mid-run compaction leaves the summary unchanged") {
    // synthetic embeddings with planted near-dups: 4 well-separated
    // direction groups (cosine within a group ≈ 1, across ≈ 0), ids
    // 0..3 densely seed the model's k-floor? no — k comes from the
    // model arg below; seeds need dense ids 0..k-1
    val dim = 8
    val rnd = new scala.util.Random(7)
    def vec(group: Int): Array[Double] = {
      val v = Array.tabulate(dim)(j =>
        (if (j == group * 2) 1.0 else 0.0) + rnd.nextGaussian() * 0.01)
      v
    }
    val n = 60
    val rows = (0L until n.toLong).map(i => (i, vec((i % 4).toInt).toSeq))
    val e = rows.toDF("vec_id", "emb")
    val model = KMeans.lloydModel(e, 4, iters = 2)
    val batches = rows.grouped(12).toSeq // 5 batches
    def runWith(thr: Int): Seq[(Long, Long, Long)] = {
      val root = tmp("bs_sem")
      val (store, removed) = (s"$root/store", s"$root/removed")
      val step = IncrementalSemDedup.processBatch(
        store, removed, model, 0.95, thr) _
      batches.zipWithIndex.foreach { case (b, i) =>
        step(b.toDF("vec_id", "emb"), i.toLong) }
      if (thr <= batches.size) {
        assert(BatchStore.frontier(store) > 0, "compaction never fired")
        assert(BatchStore.livePartitionCount(store) <= thr)
      }
      IncrementalSemDedup.summary(spark, store, removed)
        .as[(Long, Long, Long)].collect().sorted.toSeq
    }
    val compacted = runWith(2)
    val untouched = runWith(100)
    assert(compacted == untouched, s"$compacted vs $untouched")
    // the construction plants removals: every group has 15 near-identical
    // members, so all but the first of each group is removed
    assert(compacted.map(_._3).sum == n - 4, compacted)
  }

  test("stream runner: batch width on the stream's own session only; compactEvery folds") {
    val base = tmp("bs_runner")
    val (landing, store) = (s"$base/landing", s"$base/store")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(landing))
    (0 until 3).foreach { b =>
      StreamingQueries.drop(Seq((b.toLong, s"v$b")).toDF("id", "v"), landing, b)
    }
    val width = "spark.sql.shuffle.partitions"
    val callerWidth = spark.conf.get(width)
    assert(callerWidth != BatchStore.BatchShufflePartitions.toString,
      "the caller must start at a different width for the check to bite")
    // (caller's width, batch session's width) as seen inside each body
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    BatchStore.stream(spark, landing, Seq((0L, "")).toDF("id", "v"),
        s"$base/ckpt") { (batch, batchId) =>
      seen.add((spark.conf.get(width), batch.sparkSession.conf.get(width)))
      BatchStore.append(batch, store, batchId, compactEvery = 2)
    }.awaitTermination()
    assert(seen.size == 3, s"one body call per drop: $seen")
    seen.forEach(w => assert(w == ((callerWidth,
      BatchStore.BatchShufflePartitions.toString)), s"widths seen: $w"))
    assert(spark.conf.get(width) == callerWidth, "caller conf was written")
    // 3 drops at compactEvery = 2: the fold published mid-run
    assert(Fs.childNames(store).exists(_.startsWith("_compacted_")),
      Fs.childNames(store).mkString(","))
    assert(ids(BatchStore.liveRows(spark, store)) == Set(0L, 1L, 2L))
  }

  test("snapshotRead survives a compact+sweep racing the scan; plain liveRows does not") {
    val dir = tmp("bs_snap")
    mkStore(dir, 6)

    // the race, deterministically: resolve a liveRows view (its file
    // listing happens HERE), then let a compaction publish and sweep
    // before the scan consumes it — the stale listing trips over the
    // deleted partition files
    val stale = BatchStore.liveRows(spark, dir)
    BatchStore.compact(spark, dir, 4)
    val torn = intercept[Throwable] { stale.count() }
    assert(Option(torn.toString).exists(t =>
        t.contains("FileNotFound") || t.contains("FAILED_READ_FILE")) ||
      Iterator.iterate(torn)(_.getCause).takeWhile(_ != null).take(8)
        .exists(_.isInstanceOf[java.io.FileNotFoundException]),
      s"expected the sweep race to surface a read-file failure, got $torn")

    // snapshotRead under the SAME injected race: the first attempt's
    // listing resolves, then a further compaction sweeps mid-read; the
    // retry re-resolves under the advanced marker and answers correctly
    mkStore2More(dir)
    var raced = false
    val n = BatchStore.snapshotRead(spark, dir) { df =>
      if (!raced) { raced = true; BatchStore.compact(spark, dir, 7) }
      df.count()
    }
    assert(raced, "the race injection never ran")
    assert(n == 8, s"snapshot must see all 8 rows, got $n")

    // and with no race it reads straight through
    assert(BatchStore.snapshotRead(spark, dir)(_.count()) == 8)
  }

  test("snapshotRead exhaustion: maxAttempts bounds retries; torn-frontier named") {
    val dir = tmp("bs_snap_exh")
    mkStore(dir, 6)
    // a body that publishes a fresh compaction on EVERY attempt but
    // never touches the files (no sweep-race error): each attempt
    // RETURNS, then fails marker validation — the pure torn path
    var attempts = 0
    var next = 2L
    def alwaysTorn(df: org.apache.spark.sql.DataFrame): Long = {
      attempts += 1
      BatchStore.compact(spark, dir, next); next += 1
      0L
    }
    val ex = intercept[IllegalArgumentException] {
      BatchStore.snapshotRead(spark, dir, maxAttempts = 3)(alwaysTorn)
    }
    // the budget (3) bounds the attempts, and the message carries the
    // torn-frontier diagnosis plus the knob to turn
    assert(attempts == 3, s"budget not honored: $attempts attempts")
    assert(ex.getMessage.contains("3 attempts"), ex.getMessage)
    assert(ex.getMessage.contains("torn-frontier"), ex.getMessage)
    assert(ex.getMessage.contains("maxAttempts"), ex.getMessage)
    // the default budget is 5
    attempts = 0
    intercept[IllegalArgumentException] {
      BatchStore.snapshotRead(spark, dir)(alwaysTorn)
    }
    assert(attempts == 5, s"default budget not honored: $attempts")
    // the store itself is fine once the churn stops
    assert(BatchStore.snapshotRead(spark, dir)(_.count()) == 6)
  }

  test("snapshotRead fails FAST on non-sweep corruption (no retry masking)") {
    val dir = tmp("bs_snap_corrupt")
    mkStore(dir, 3)
    // corrupt one live parquet footer in place: same path set, so the
    // failure is CANNOT_READ_FILE-shaped, not the sweep race's
    // FILE_NOT_EXIST/NO_HINT-over-missing-file
    val part = java.nio.file.Files.list(
        java.nio.file.Paths.get(dir, "batch_id=1")).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .find(_.getFileName.toString.startsWith("part-")).get
    java.nio.file.Files.write(part, Array.fill[Byte](8)(0x7f))
    // attempts ≤ 1: schema inference may trip on the corrupt footer
    // before the body runs at all; either way there must be NO retry
    var attempts = 0
    intercept[Throwable] {
      BatchStore.snapshotRead(spark, dir, maxAttempts = 5) { df =>
        attempts += 1; df.count()
      }
    }
    assert(attempts <= 1,
      s"corruption must fail on the FIRST attempt, not burn $attempts retries")
  }

  test("snapshotRead stays consistent under a live concurrent compactor") {
    val dir = tmp("bs_snap_live")
    mkStore(dir, 8)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val writerErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    // appender+compactor: a new batch then an immediate fold, as fast
    // as the FS allows — every fold sweeps everything below it
    val writer = new Thread(() => {
      try {
        var b = 8L
        while (!stop.get() && b < 20L) {
          Seq((b, s"v$b")).toDF("id", "v")
            .withColumn("batch_id", lit(b))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id").parquet(dir)
          BatchStore.compact(spark, dir, b + 1)
          b += 1
        }
      } catch { case t: Throwable => writerErr.set(t) }
    }, "bs-snap-compactor")
    writer.start()
    try {
      // every snapshot must be a consistent prefix: ids exactly 0..k-1
      // for some k in [8, 20] — a torn read would lose a folded batch
      // while including a later one
      (0 until 30).foreach { _ =>
        val got = BatchStore.snapshotRead(spark, dir, maxAttempts = 20)(
          d => ids(d))
        assert(got == (0L until got.size.toLong).toSet &&
          got.size >= 8 && got.size <= 20,
          s"torn snapshot: $got")
      }
    } finally { stop.set(true); writer.join() }
    assert(writerErr.get() == null, s"writer failed: ${writerErr.get()}")
  }
}
