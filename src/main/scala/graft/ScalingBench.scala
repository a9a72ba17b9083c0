package graft

import org.json4s._
import org.json4s.JsonDSL._

/** Empirical scaling-curve record (the r11 verdict's #1 ask): every
  * batch query timed at TWO scale factors in one session, so the
  * repo's central claim — "every plan is the one you'd want at 100×
  * scale" — is measured, not just asserted by plan shape. A
  * superlinear plan (an accidental O(n·cells) regression in the graph
  * family, a pair join that slipped off its bounded grid) shows up as
  * a time ratio far above the data ratio long before it would trip
  * the single-SF bench gate.
  *
  * Methodology mirrors Bench: median of 3 per (query, sf) with the
  * dead-state reap outside the timed window, shared stages warmed
  * up-front at BOTH SFs and billed under "stage_build" (so index /
  * decode builds don't masquerade as query-time scaling), the
  * [[Measure.Regime]] host fields. Small-SF times carry fixed session overhead
  * (~50–300 ms), so the artifact records both raw times and the
  * ratio; ScalingGateSpec's outlier rule conditions on an absolute
  * floor for exactly that reason.
  *
  * Usage: `SPARK_GRAFT_CPUS=32 sbt "runMain graft.ScalingBench"` →
  * one JSON line (mirrored to scaling_out.json); commit as
  * `SCALING_r{N}.json`.
  */
object ScalingBench {

  /** Scale factor from a testdata dir name ("…/sf0.01" → 0.01). The
    * data ratio is DERIVED from the chosen pair, not assumed 10×: run
    * against a non-default SF pair (SPARK_GRAFT_SF_SMALL/BIG) and the
    * artifact's data_ratio — which ScalingGateSpec scales its bar by —
    * follows the dirs instead of silently mis-gating. */
  def sfOf(dir: String): Double = {
    val m = "sf([0-9.]+)/?$".r.findFirstMatchIn(dir)
    require(m.isDefined && m.get.group(1).toDoubleOption.exists(_ > 0),
      s"cannot derive a scale factor from '$dir' — SF dirs must end in sf<number>")
    m.get.group(1).toDouble
  }

  /** Pure assembly so a spec can exercise the JSON shape. */
  def render(sfSmall: String, sfBig: String,
             small: Seq[Bench.QResult], big: Seq[Bench.QResult],
             stageBuild: Map[String, Double], host: JObject): JObject = {
    val dataRatio = sfOf(sfBig) / sfOf(sfSmall)
    require(dataRatio > 1.0,
      s"sf_big ($sfBig) must be larger than sf_small ($sfSmall)")
    val bigM = big.map(r => r.name -> r).toMap
    val ok = small.filter(s => s.err.isEmpty &&
      bigM.get(s.name).exists(_.err.isEmpty))
    val entries = ok.map { s =>
      val b = bigM(s.name)
      val ratio = b.sec / math.max(s.sec, 1e-3)
      JField(s.name, ("t_small" -> s.sec) ~ ("t_big" -> b.sec) ~ ("ratio" -> ratio))
    }
    val stages = stageBuild.toSeq.sortBy(_._1)
      .map { case (n, t) => JField(n, JDouble(t)) }
    ("metric" -> "scaling") ~ ("sf_small" -> sfSmall) ~ ("sf_big" -> sfBig) ~
      ("data_ratio" -> dataRatio) ~ ("queries" -> JObject(entries.toList)) ~
      ("stage_build" -> JObject(stages.toList)) ~
      Measure.failures((small ++ big).collect { case Bench.QResult(n, _, Some(e)) => n -> e }) ~
      host
  }

  def main(args: Array[String]): Unit = {
    val sfSmall = sys.env.getOrElse("SPARK_GRAFT_SF_SMALL",
      "/root/testdata/sf0.01")
    val sfBig = sys.env.getOrElse("SPARK_GRAFT_SF_BIG",
      "/root/testdata/sf0.1")
    val spark = Measure.session()
    sys.exit(Measure.emit(spark, Some("scaling_out.json")) {
      // JVM/codegen warm-up, then the shared stages at BOTH SFs so the
      // one-time builds never land inside a timed window
      Measure.warm(spark, sfSmall)
      val stageBuild =
        graft.operators.SharedStages.warm(spark, sfSmall)
          .map { case (k, v) => s"small:$k" -> v } ++
        graft.operators.SharedStages.warm(spark, sfBig)
          .map { case (k, v) => s"big:$k" -> v }
      // settle before sampling: the stage warm itself drives loadavg
      // past the threshold, and a self-inflicted "contended" flag would
      // void every otherwise-clean artifact
      Measure.settle(300000L)
      val regime = Measure.regime()
      val names = SparkEntry.batchQueries.toSeq.sortBy(_._1)
      val small = names.map { case (n, f) =>
        Bench.timeQuery(spark, sfSmall, n, f, runs = 3) }
      val big = names.map { case (n, f) =>
        Bench.timeQuery(spark, sfBig, n, f, runs = 3) }
      render(sfSmall, sfBig, small, big, stageBuild, regime.close())
    })
  }
}
