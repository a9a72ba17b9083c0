package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark process: runs one workload against the program's public
  * API and writes `result.json` (raw timings, checks, layer figures) and,
  * when traced, `spans.jsonl` into the work directory. `perfbench/run.py`
  * builds, launches and summarises it.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <workDir> <tablesDir>
  * The workload `train` only loads classes, for the build. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, tables: String)

  /** What a workload reports back: timed operations of the untraced
    * window, set-up repetitions, checks, and (traced runs) the raw figures
    * `perfbench/metrics.py` turns into named per-layer metrics. */
  final class Report {
    val setupS = mutable.ArrayBuffer.empty[Double]
    val opsMs = mutable.ArrayBuffer.empty[Double]
    val tracedOpsMs = mutable.ArrayBuffer.empty[Double]
    var units = 0.0
    var unitsS = 0.0
    var attempted = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    val info = mutable.LinkedHashMap.empty[String, Any]
    val raw = mutable.LinkedHashMap.empty[String, Any]
    var liveMemMb = 0.0

    val phaseEndS = mutable.LinkedHashMap.empty[String, Double]

    /** Notes how long the process has run when a phase ends. */
    def mark(phase: String): Unit = phaseEndS(phase) = uptimeS()

    def check(what: String, ok: Boolean): Unit = {
      attempted += 1
      if (!ok) failures += what
    }

    def toJson: String = json(Map(
      "setup_s" -> setupS, "ops_ms" -> opsMs, "traced_ops_ms" -> tracedOpsMs,
      "units" -> units, "units_s" -> unitsS, "attempted" -> attempted,
      "failed" -> failures.size.toLong, "failures" -> failures.take(20),
      "info" -> (info + ("phase_end_s" -> phaseEndS)), "raw" -> raw, "live_mem_mb" -> liveMemMb))

    /** Records the memory the workload keeps live; call it right after the
      * untraced window, while the workload's state is still reachable. */
    def sampleLiveMem(): Unit = {
      val (heap, nonHeap) = Main.liveMemMb()
      liveMemMb = heap + nonHeap
      info("live_heap_mb") = heap
      info("non_heap_mb") = nonHeap
    }
  }

  def json(v: Any): String =
    org.json4s.jackson.Serialization.write(v.asInstanceOf[AnyRef])(org.json4s.DefaultFormats)

  def uptimeS(): Double = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Memory in use after a full collection, in MB: the live heap, and
    * non-heap (metaspace, code cache). Unlike resident set size it does not
    * depend on how far the heap grew before a collection. */
  def liveMemMb(): (Double, Double) = {
    // Spark's ContextCleaner frees the blocks of broadcasts and shuffles a
    // collection finds unreachable, after it; the second collection sees them gone
    System.gc()
    Thread.sleep(1000)
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    (m.getHeapMemoryUsage.getUsed / 1048576.0, m.getNonHeapMemoryUsage.getUsed / 1048576.0)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.delete(f))

  def treeSize(p: Path, suffix: String): (Long, Long) =
    Files.walk(p).iterator().asScala.filter(f => Files.isRegularFile(f) && f.toString.endsWith(suffix))
      .foldLeft((0L, 0L)) { case ((n, b), f) => (n + 1, b + Files.size(f)) }

  def session(work: Path): SparkSession = {
    val s = graft.GraftSession.tune(SparkSession.builder()
      .master("local[4]").appName("perfbench")
      .config("spark.ui.enabled", "false")
      // the status store keeps finished jobs even without a UI, and trims
      // them in batches; a small cap keeps live memory off the job count
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    require(argv.length == 6, "usage: Main <workload> <seed> <seconds> <trace> <workDir> <tablesDir>")
    val a = Args(argv(0), argv(1).toLong, argv(2).toDouble, argv(3) == "1",
      Paths.get(argv(4)).toAbsolutePath, argv(5))
    val spark = session(a.work)
    val sparkReadyS = uptimeS()
    val tracer = new Tracer(a.trace)
    val report =
      try a.workload match {
        case "import" => ImportWorkload.run(spark, a, tracer)
        case "analytics" => AnalyticsWorkload.run(spark, a, tracer)
        case "train" => ImportWorkload.train(spark, a)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      } finally spark.stop()
    // where the process's time went, for sizing the workloads
    report.info("jvm_uptime_s") = Map("spark_ready" -> sparkReadyS, "done" -> uptimeS())
    if (a.trace) tracer.write(a.work.resolve("spans.jsonl"))
    Files.write(a.work.resolve("result.json"), report.toJson.getBytes("UTF-8"))
  }
}
