package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.{IvfIndex, VectorQueries}

/** The IVF write path: `writeIndexed` partitions the corpus by cell, and
  * `topKIndexed` must (a) answer identically to the in-memory `topK`
  * and (b) read ONLY the probed cell directories — the partition filter
  * must appear in the scan and the layout must actually prune. */
class IvfIndexSpec extends SparkTestBase {

  private val nlist = 16
  private val nprobe = 2
  private val k = 5

  test("indexed probe equals in-memory topK and prunes unprobed cells") {
    val e = VectorQueries.emb(spark, sf)
    val dir = Files.createTempDirectory("graft-ivf-idx").toString
    IvfIndex.writeIndexed(e, dir, nlist)

    val probes = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("emb").as("pemb"))
    val got = IvfIndex.topKIndexed(probes, dir, nprobe, k)
    val want = IvfIndex.topK(e, probes, nlist, nprobe, k)
    val cols = Seq("probe_id", "vec_id", "sim", "rn")
    assert(got.select(cols.head, cols.tail: _*).exceptAll(
      want.select(cols.head, cols.tail: _*)).isEmpty)
    assert(want.select(cols.head, cols.tail: _*).exceptAll(
      got.select(cols.head, cols.tail: _*)).isEmpty)
    assert(got.count() > 0)

    // the scan must carry the cell filter INSIDE the PartitionFilters
    // bracket (the node always prints an empty "PartitionFilters: []",
    // and "cell" appears in the schema — a substring check on each
    // alone passes even with pruning broken)
    val p = got.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell#".r.findFirstIn(p).isDefined,
      s"cell must appear inside a partition filter:\n$p")
    // ...and the listing must MATERIALLY prune: the scan's selected
    // partition directories == the distinct probed cells, not the
    // whole layout
    val probedCells = IvfIndex.probeCells(e, probes, nlist, nprobe)
      .select("cell").distinct().count()
    assert(probedCells < nlist,
      "test geometry must leave unprobed cells or pruning is vacuous")
    val plan = got.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case other => other
    }
    val cellScans = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.relation.partitionSchema.fieldNames.contains("cell") => s
    }
    assert(cellScans.nonEmpty, s"no partitioned index scan found:\n$plan")
    val selected = cellScans.map(_.selectedPartitions.partitionCount).max
    assert(selected == probedCells,
      s"scan reads $selected cell directories but probes cover $probedCells — " +
        "the isin filter is no longer pruning the layout")
  }

  test("appendable index: streamed epochs + replay answer identically to a one-shot append") {
    val e = VectorQueries.emb(spark, sf)
    val w = e.count() / 3 + 1
    val boot = e.filter(col("vec_id") < w)

    val inc = Files.createTempDirectory("graft-ivf-inc").toString
    IvfIndex.bootstrapAppendable(boot, inc, nlist)
    (0 until 3).foreach { i =>
      IvfIndex.appendEpoch(
        e.filter(col("vec_id") >= i * w && col("vec_id") < (i + 1) * w), inc, i)
    }
    // at-least-once replay: epoch 1 re-lands with the same batchId (a
    // foreachBatch recovery) — dynamic overwrite must rewrite exactly
    // its own leaves, leaving the index unduplicated
    IvfIndex.appendEpoch(
      e.filter(col("vec_id") >= w && col("vec_id") < 2 * w), inc, 1)
    assert(spark.read.parquet(s"$inc/index").count() === e.count(),
      "a replayed epoch must not double its rows")

    // reference: same frozen centroids, whole corpus in ONE epoch —
    // batch boundaries must not matter
    val ref = Files.createTempDirectory("graft-ivf-ref").toString
    IvfIndex.bootstrapAppendable(boot, ref, nlist)
    IvfIndex.appendEpoch(e, ref, 0)

    val probes = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("emb").as("pemb"))
    val cols = Seq("probe_id", "vec_id", "sim", "rn")
    val got = IvfIndex.topKIndexed(probes, inc, nprobe, k)
      .select(cols.head, cols.tail: _*)
    val want = IvfIndex.topKIndexed(probes, ref, nprobe, k)
      .select(cols.head, cols.tail: _*)
    assert(got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "epoch-sliced and one-shot layouts must answer identically")

    // static cell pruning survives the extra epoch partition level
    val p = got.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell#".r.findFirstIn(p).isDefined,
      s"cell must stay inside a partition filter with the epoch level present:\n$p")

    // epoch compaction (the unbounded cost of appends is FILE count,
    // not probe latency): the rewrite collapses every cell to one epoch
    // leaf, and probes answer identically off the compacted layout
    // (epochCount guards the precondition so the check isn't vacuous)
    val comp = Files.createTempDirectory("graft-ivf-comp").toString
    assert(IvfIndex.epochCount(inc) === 3)
    IvfIndex.compactEpochs(spark, inc, comp)
    assert(IvfIndex.epochCount(comp) === 1,
      "compaction must leave exactly one epoch leaf per cell")
    val gotC = IvfIndex.topKIndexed(probes, comp, nprobe, k)
      .select(cols.head, cols.tail: _*)
    assert(gotC.exceptAll(want).isEmpty && want.exceptAll(gotC).isEmpty,
      "the compacted layout must answer identically")
  }

  test("streamed index build killed mid-run resumes to the uninterrupted layout") {
    import streaming.{RestartHarness, StreamingQueries => SQ}
    val e = VectorQueries.emb(spark, sf)
    val w = e.count() / 3 + 1
    val landing = SQ.tmp("graft-ivfr-landing")
    (0 until 3).foreach { i =>
      SQ.drop(e.filter(col("vec_id") >= i * w && col("vec_id") < (i + 1) * w),
        landing, i)
    }
    val inc = SQ.tmp("graft-ivfr-idx")
    IvfIndex.bootstrapAppendable(e.filter(col("vec_id") < w), inc, nlist)
    val ckpt = SQ.tmp("graft-ivfr-ckpt")
    // the one foreachBatch sink under a REAL process kill: the child
    // halts after a single commit — its epoch may exist on disk with
    // no commit-log record, so the resume replays that batch id into
    // the same (cell, epoch) leaves; dynamic overwrite must absorb it
    val code = RestartHarness.launchKilled("ivfappend", landing, ckpt, inc,
      sf, killAfter = 1)
    assert(code == RestartHarness.KilledExit || code == 0,
      s"restart child JVM failed with exit code $code")
    RestartHarness.start(spark, "ivfappend", landing, ckpt, inc, e)
      .awaitTermination()
    assert(spark.read.parquet(s"$inc/index").count() === e.count(),
      "kill-replay must neither double nor drop an epoch")

    val ref = Files.createTempDirectory("graft-ivfr-ref").toString
    IvfIndex.bootstrapAppendable(e.filter(col("vec_id") < w), ref, nlist)
    IvfIndex.appendEpoch(e, ref, 0)
    val probes = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("emb").as("pemb"))
    val cols = Seq("probe_id", "vec_id", "sim", "rn")
    val got = IvfIndex.topKIndexed(probes, inc, nprobe, k)
      .select(cols.head, cols.tail: _*)
    val want = IvfIndex.topKIndexed(probes, ref, nprobe, k)
      .select(cols.head, cols.tail: _*)
    assert(got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "the kill-resumed index must answer exactly like a one-shot build")
    Seq(landing, ckpt).foreach(SQ.rmTree)
  }
}
