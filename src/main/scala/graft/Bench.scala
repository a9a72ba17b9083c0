package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods

/** Round benchmark: one JSON artifact line with per-query medians.
  *
  * Failure-honest by construction: a query that throws contributes NO
  * timing (a broken query must never make the bench look faster), its
  * message is recorded under "errors", and the process exits nonzero so
  * automation can flag the artifact. [[Measure.emit]] prints the line
  * (and a compact summary) before session shutdown chatter and mirrors
  * it to `bench_out.json`; the host regime ([[Measure.Regime]]) is
  * sampled around the server probe and the board, so a
  * contention-poisoned run is detectable from the artifact alone.
  *
  * The headline "total" covers the BATCH queries (median of 3 — one
  * noisy run in either direction is discarded). The streaming family
  * (q71–q76) really executes micro-batch jobs whose wall time is
  * dominated by harness overhead (landing-drop setup, state store,
  * per-batch scheduling), not operator throughput; they run once each
  * and report under "streaming"/"streaming_total" so the headline stays
  * comparable round-over-round and is never diluted by stream plumbing.
  *
  * Shared-stage accounting: the memoized cross-query stages (q53→q54
  * pairs, q77→q78 decode, q79's index) are warmed BEFORE timing and
  * their build seconds reported under "stage_build" — so the headline
  * measures steady-state compose/probe cost while the one-time ingest
  * cost stays auditable instead of hiding in a discarded first run.
  * "contended" self-certifies the artifact against machine load, and
  * "server_rps" records the concurrent TCP server's throughput.
  */
object Bench {

  final case class QResult(name: String, sec: Double, err: Option[String])

  def timeQuery(spark: SparkSession, sfDir: String, name: String,
                fn: (SparkSession, String) => DataFrame, runs: Int): QResult = {
    // iterator + takeWhile: stop at the FIRST failure instead of
    // re-running a deterministically-broken query `runs` times
    val timings = (1 to runs).iterator.map { _ =>
      // Reap dead session state BEFORE the clock starts: queries
      // localCheckpoint intermediates, whose blocks stay pinned until a
      // driver GC lets the ContextCleaner run — without this, every
      // query pays the accumulated backlog of all queries before it in
      // the (sorted) board, and late-alphabet timings creep ~2× over a
      // 180-query session (measured r9→r10: q79 1.07→4.68 s over 7
      // bare runs, flat at ~1.2 s with the reap). ~0.1 s per call,
      // OUTSIDE the timed window; memoized stages stay strongly
      // referenced by StageCache, so only dead intermediates go.
      System.gc()
      // Reap ZOMBIE state-store providers too: every completed
      // streaming pipeline leaves its loaded providers behind (the
      // checkpoint dir is deleted, the in-memory maps are not), and
      // the 60 s maintenance tick re-snapshots every one of them —
      // recreating deleted /tmp checkpoints — for the rest of the
      // session. The storm lands on whichever pipeline is running
      // when the tick fires, which is why the 15–25 s spikes MIGRATE
      // between otherwise-identical boards (r10: driver q117 17.2 s /
      // idle 8.0 s, idle q71 25.5 s / driver 9.9 s). Unloading between
      // timed runs bounds live providers to the current query's own.
      graft.streaming.StateStoreReaper.unloadAll()
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); Right((System.nanoTime() - t0) / 1e9) }
      catch { case e: Throwable => Left(Measure.describe(e)) }
    }
    val collected = scala.collection.mutable.ListBuffer.empty[Either[String, Double]]
    timings.takeWhile { r => collected += r; r.isRight }.foreach(_ => ())
    collected.collectFirst { case Left(err) => QResult(name, -1.0, Some(err)) }
      .getOrElse(QResult(name, Measure.median(collected.collect { case Right(t) => t }.toSeq), None))
  }

  /** Runs everything and returns the artifact. Pure of
    * System.exit/println so BenchSpec can assert a deliberately-broken
    * query poisons the exit code instead of the timings.
    * `stageWarm` builds the cross-query shared stages BEFORE timing and
    * reports their build seconds under "stage_build" — otherwise
    * median-of-N discards the ingest cost into the first run invisibly.
    * `serverBench` runs AFTER the timed queries (so its load cannot
    * pollute them) and reports under "server_rps". `regime` is the host
    * window the artifact certifies; it closes when the board ends. */
  def run(spark: SparkSession, sfDir: String,
          batch: Map[String, (SparkSession, String) => DataFrame],
          streaming: Map[String, (SparkSession, String) => DataFrame],
          runs: Int = 3,
          stageWarm: Option[(SparkSession, String) => Map[String, Double]] = None,
          serverBench: Option[() => Double] = None,
          extra: JObject = JObject(),
          regime: Measure.Regime = Measure.regime()): JObject = {
    // failure-honest like the queries: a stage-build or server-probe
    // crash must be RECORDED (and poison the exit code), never abort
    // the artifact or pass as a clean run
    def attempt[T](name: String)(f: => T): Either[(String, String), T] =
      try Right(f) catch { case e: Throwable => Left(name -> Measure.describe(e)) }
    val stageBuild = stageWarm.map(f => attempt("stage_build")(f(spark, sfDir)))
    val batchR = batch.toSeq.sortBy(_._1).map { case (n, f) =>
      timeQuery(spark, sfDir, n, f, runs) }
    val streamR = streaming.toSeq.sortBy(_._1).map { case (n, f) =>
      timeQuery(spark, sfDir, n, f, 1) }
    val serverRps = serverBench.map(f => attempt("server_bench")(f()))
    val host = regime.close()

    def timed(rs: Seq[QResult]) = rs.filter(_.err.isEmpty)
    def queries(rs: Seq[QResult]) =
      JObject(timed(rs).map(r => JField(r.name, JDouble(r.sec))).toList)
    def total(rs: Seq[QResult]) = timed(rs).map(_.sec).sum
    val errs = (batchR ++ streamR).collect { case QResult(n, _, Some(e)) => n -> e } ++
      stageBuild.flatMap(_.left.toOption) ++ serverRps.flatMap(_.left.toOption)
    val stages = stageBuild.flatMap(_.toOption).getOrElse(Map.empty).toSeq.sortBy(_._1)
    ("metric" -> "total") ~ ("value" -> total(batchR)) ~ ("unit" -> "sec") ~
      ("queries" -> queries(batchR)) ~
      ("stage_build" -> JObject(stages.map { case (n, t) => JField(n, JDouble(t)) }.toList)) ~
      ("streaming" -> queries(streamR)) ~ ("streaming_total" -> total(streamR)) ~
      ("server_rps" -> serverRps.flatMap(_.toOption)) ~ extra ~
      Measure.failures(errs) ~ host ~ ("sf" -> sfDir)
  }

  /** Compact tail-survivable summary line (r15, the bench-contract
    * fix — r14 verdict ask #3): the full artifact line is ~7 kB for
    * 280 queries and has NEVER fit the round driver's 2000-char tail
    * capture, so the driver's round-over-round comparison has parsed
    * nothing since r01. This second line re-states the headline
    * totals in well under 500 chars so at least the totals, failure
    * count and host-regime fields parse from the tail alone. It
    * carries NO per-query map ON PURPOSE: a truncated "queries" map
    * in the tail could be read as the full registry and flag every
    * missing query as dropped. Additions-only — the full artifact
    * line and the bench_out.json mirror carry everything; this line
    * follows it. The artifact is parsed, not scanned, so a quote or
    * brace inside an error message cannot forge a failed name. */
  private[graft] def compactLine(json: String): String = {
    val j = JsonMethods.parse(json)
    def f(key: String): JValue = j \ key match {
      case JNothing => JNull
      case v        => v
    }
    // failed-query NAMES only (messages stay in the full line); the
    // errors map is {} on a clean run
    val failed = j \ "errors" match {
      case JObject(fs) => fs.map(_._1).take(10)
      case _           => Nil
    }
    val stageTotal = j \ "stage_build" match {
      case JObject(fs) => fs.collect {
        case (_, JDouble(d)) => d
        case (_, JInt(i))    => i.toDouble
      }.sum
      case _ => 0.0
    }
    Measure.render(("compact" -> true) ~ ("metric" -> "total") ~
      ("value" -> f("value")) ~ ("unit" -> "sec") ~
      ("streaming_total" -> f("streaming_total")) ~
      ("stage_build_total" -> stageTotal) ~ ("server_rps" -> f("server_rps")) ~
      ("n_failed" -> f("n_failed")) ~
      ("failed" -> Some(failed).filter(_.nonEmpty)) ~
      ("loadavg_pre" -> f("loadavg_pre")) ~ ("contended" -> f("contended")) ~
      ("machine_canary_ms_post" -> f("machine_canary_ms_post")) ~
      ("steal_pct" -> f("steal_pct")) ~ ("sf" -> f("sf")))
  }

  /** Probe rounds: 2 warm-up + 3 measured, the median of the measured
    * is the claim. The probe path is JIT-cold-start dominated (measured
    * r12: round 1 reads 12–14 rps, round 3+ reads 19–28 in the same JVM
    * — a >2× within-JVM warm-up), so a 3-round median samples compile
    * maturity, not server throughput, and reads LOWER the slower the
    * machine ran the early rounds — the r10/r11 harness-vs-idle spread's
    * measurable component. A real deployment serves JIT-warm; the
    * steady-state number is the honest claim. ALL rounds (warm-up
    * included) land in the artifact under "server_rps_rounds" so a
    * regime where even late rounds sit low (a genuine serving
    * regression, or an execution-wrapper throttle) is visible from the
    * artifact alone. Bisection notes (r12): bare-java vs sbt-forked
    * probe identical; 2 busy cores cost <15%; 3 GB of dirty-page
    * writeback costs ~25% — none reproduces the r11 harness run's flat
    * 3.77, which leaves that harness's execution wrapper; the per-round
    * record makes that diagnosable next time it appears. */
  private val ProbeWarmup = 2

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Measure.session()
    sys.exit(Measure.emit(spark, Some("bench_out.json"), Some(compactLine)) {
      Measure.warm(spark, sfDir)
      // Concurrent-server throughput probe (the reference GUI's serving
      // regime): 8 clients × 12 mixed explore/retraction requests against
      // one cached sample store (ServerProbe.rounds). Measured BEFORE the
      // board, in the serving-shaped session the claim is about: probing
      // after 216 analytics queries conflated session aging with server
      // cost — identical idle boards read 4–11 rps (vs ~15 in a fresh
      // session, graft.ServerProbe), noise that would mask a real 2×
      // server regression, and neither a dead-state reap nor evicting
      // every memoized stage recovered it. A real deployment serves from
      // a serving process, not from the tail of an analytics board; the
      // post-board regime stays bisectable via ServerProbe.
      //
      // The probe SETTLES FIRST, unconditionally: the r10 harness
      // artifact read server_rps 2.23 vs 19.81 idle on the SAME commit
      // because the harness launches Bench straight after a ~20-minute
      // sbt phase — the probe ran on a still-hot machine while only the
      // board was self-certified. The host window opens before the
      // probe, so loadavg_pre certifies the regime the probe saw.
      Measure.settle(300000L)
      val regime = Measure.regime()
      val rounds = ServerProbe.rounds(spark, ProbeWarmup + 3)
      // let the probe's own load decay so the board runs idle too
      Measure.settle(240000L)
      run(spark, sfDir, SparkEntry.batchQueries, SparkEntry.streamingQueries,
        stageWarm = Some(graft.operators.SharedStages.warm),
        serverBench = Some(() => Measure.median(rounds.drop(ProbeWarmup))),
        extra = "server_rps_rounds" -> rounds.toList,
        regime = regime)
    })
  }
}
