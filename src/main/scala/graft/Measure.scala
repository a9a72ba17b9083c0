package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods

/** The measurement scaffold every bench main shares: the session
  * posture, the warm-up, the loadavg settle, the host-regime capture
  * and the one artifact emission path. A main keeps only its workload
  * and a typed result, rendered as a json4s value.
  *
  * Every timing artifact carries the same host-regime fields (see
  * [[Regime.close]]), so a slow board is attributable to host weather
  * or ruled clear of it from the JSON alone, and the same `errors` /
  * `n_failed` pair (see [[failures]]), which alone sets the exit code.
  */
object Measure {

  /** Session width: SPARK_GRAFT_CPUS, else every available core. */
  val Cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Contention gate: an artifact taken on a busy machine is not
    * trustworthy without an idle re-run, so the JSON self-certifies —
    * loadavg_pre above this threshold sets `"contended":true`
    * (SPARK_GRAFT_MAX_LOAD, default 2.0). The run still completes and
    * reports (losing the numbers helps nobody), but a flagged artifact
    * must not be read as a performance claim. [[settle]] waits against
    * the same threshold. */
  val MaxLoad: Double = sys.env.get("SPARK_GRAFT_MAX_LOAD")
    .flatMap(_.toDoubleOption).getOrElse(2.0)

  /** The measured session: `local[cpus]` with shuffle width `cpus`,
    * the engine posture ([[GraftSession.tune]]; `tuned = false` is
    * TimeQueries' bare A/B lever), the UI off and WARN logging. */
  def session(cpus: Int = Cpus, tuned: Boolean = true): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // backstop for the per-query reap in Bench.timeQuery: streaming
      // pipelines run long enough between reaps that the cleaner's own
      // periodic trigger (default 30 MINUTES) matters
      .config("spark.cleaner.periodicGC.interval", "30s")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = (if (tuned) GraftSession.tune(b) else b).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Warm the JVM/codegen/catalog once so the first measured query
    * doesn't absorb one-time session startup (~3–5 s otherwise). A
    * failure here is the measured run's to report, not the warm-up's. */
  def warm(spark: SparkSession, sfDir: String): Unit =
    try {
      spark.range(1000).selectExpr("sum(id)").collect()
      SparkEntry.queries("q01_pricing_summary")(spark, sfDir).count(); ()
    } catch { case _: Throwable => }

  def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  /** The one-line failure record a failed item leaves in an artifact. */
  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}"

  /** The failure fields every artifact carries: each failed item's
    * message under `errors` (name → message) and their count under
    * `n_failed`, which sets the exit code (see [[exitCode]]). */
  def failures(errs: Seq[(String, String)]): JObject =
    ("errors" -> JObject(errs.map { case (n, e) => JField(n, JString(e)) }.toList)) ~
      ("n_failed" -> errs.size)

  /** 1-minute loadavg, or -1 where /proc is unreadable. */
  private def loadavg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
      .split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** (steal, total) jiffies from /proc/stat's aggregate cpu line —
    * the host-contention axis loadavg cannot see inside a VM. */
  private def stealTicks(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat").getLines().next()
        .trim.split("\\s+").drop(1).map(_.toLong)
      (f.lift(7).getOrElse(0L), f.sum)
    } catch { case _: Throwable => (0L, 0L) }

  /** Deterministic single-thread CPU canary (SHA-256 over 64 MB,
    * ~100–300 ms): a fixed workload whose wall time tracks the HOST's
    * effective per-core speed. Measured r12 on an idle VM: the same
    * commit's JIT-warm server probe read 22–28 rps in one hour and
    * 8–10 in the next (boards drifting ×1.1–1.4 with it, recorded
    * steal up to ~1.5%) — host weather an in-VM loadavg never shows. */
  private def canaryMs(): Double = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = new Array[Byte](1 << 20)
    val t0 = System.nanoTime()
    var i = 0
    while (i < 64) { md.update(buf); i += 1 }
    md.digest()
    (System.nanoTime() - t0) / 1e6
  }

  /** Block (up to `budgetMs`) until loadavg drops under [[MaxLoad]], so
    * the measurement happens in the idle regime the artifact
    * self-certifies. On timeout the run proceeds and self-certifies
    * contended. */
  def settle(budgetMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + budgetMs
    var load = loadavg()
    while (System.currentTimeMillis() < deadline && load > MaxLoad) {
      System.err.println(s"[measure] settling: loadavg $load > $MaxLoad")
      Thread.sleep(10000)
      load = loadavg()
    }
  }

  /** One measured window's host regime: opened (loadavg, canary, steal
    * counters) right before the workload, closed right after it. */
  final class Regime private[Measure] (loadPre: Double, canaryPre: Double,
                                       steal0: (Long, Long)) {
    /** Sample the host again and render the window's fields. */
    def close(): JObject = {
      val canaryPost = canaryMs()
      val (steal1, total1) = stealTicks()
      val stealPct =
        if (total1 > steal0._2) 100.0 * (steal1 - steal0._1) / (total1 - steal0._2)
        else 0.0
      ("loadavg_pre" -> loadPre) ~ ("loadavg_post" -> loadavg()) ~
        ("contended" -> (loadPre > MaxLoad)) ~ ("max_loadavg" -> MaxLoad) ~
        ("machine_canary_ms_pre" -> canaryPre) ~
        ("machine_canary_ms_post" -> canaryPost) ~ ("steal_pct" -> stealPct)
    }
  }

  def regime(): Regime = new Regime(loadavg(), canaryMs(), stealTicks())

  def render(json: JValue): String = JsonMethods.compact(JsonMethods.render(json))

  /** 1 iff the artifact records a failure (`n_failed` > 0). */
  def exitCode(artifact: JValue): Int = artifact \ "n_failed" match {
    case JInt(n) if n > 0 => 1
    case _                => 0
  }

  /** Run `measure`, then print its artifact on its own line (after a
    * blank one, so no partial log line can glue onto it), then the
    * `summary` line, flushed — BEFORE session shutdown chatter, so a
    * truncating log capture cannot eat it — then the file `mirror`.
    * `session` is closed in a finally, so neither a workload crash nor a
    * summary bug can skip teardown. Returns the artifact's exit code. */
  def emit(session: AutoCloseable, mirror: Option[String] = None,
           summary: Option[String => String] = None)(measure: => JValue): Int =
    try {
      val artifact = measure
      val line = render(artifact)
      println(); println(line)
      summary.foreach(s => println(s(line)))
      Console.out.flush()
      mirror.foreach(p => Files.writeString(Paths.get(p), line))
      exitCode(artifact)
    } finally session.close()
}
