package graft

import org.scalatest.funsuite.AnyFunSuite

/** Unit red-tests for the pure bench plumbing added in round 13 — the
  * pieces whose silent failure would corrupt an artifact rather than
  * crash: the SF-derived data ratio (ADVICE r12: a hardcoded 10.0
  * mis-gates any non-default SF pair), the store-scaling JSON
  * assembly, and the driver-regime field parser that must read BOTH
  * artifact shapes (clean JSON and the driver's log-tail wrapper with
  * backslash-escaped quotes). */
class BenchHelpersSpec extends AnyFunSuite {

  test("sfOf derives the scale factor from the dir name, loudly or not at all") {
    assert(ScalingBench.sfOf("/root/testdata/sf0.01") == 0.01)
    assert(ScalingBench.sfOf("/root/testdata/sf0.1/") == 0.1)
    assert(ScalingBench.sfOf("sf2") == 2.0)
    intercept[IllegalArgumentException] {
      ScalingBench.sfOf("/data/fullcorpus")
    }
    intercept[IllegalArgumentException] {
      ScalingBench.sfOf("/data/sf0") // zero is not a scale-up anchor
    }
  }

  test("derived data_ratio lands in the scaling artifact verbatim") {
    val (json, rc) = ScalingBench.render("/t/sf0.02", "/t/sf0.5",
      Seq(Bench.QResult("q1", 1.0, None)),
      Seq(Bench.QResult("q1", 5.0, None)),
      Map.empty, "0.5", "0.6", contended = false)
    assert(rc == 0)
    assert(json.contains("\"data_ratio\":25.0"), json)
    intercept[IllegalArgumentException] { // inverted pair must refuse
      ScalingBench.render("/t/sf0.5", "/t/sf0.02", Nil, Nil,
        Map.empty, "0", "0", contended = false)
    }
  }

  test("store-scaling render: errors poison the exit code and drop the store") {
    import StoreScalingBench.StoreTiming
    val zero = StoreTiming("vocab", 0.4, 0.1, None)
    val ok = StoreTiming("vocab", 2.0, 0.5, None)
    val okBig = StoreTiming("vocab", 4.0, 1.0, None)
    val bad = StoreTiming("daily", -1.0, -1.0, Some("boom"))
    val (json, rc) = StoreScalingBench.render("/t/sf0.1", 8.0,
      Seq(zero, StoreTiming("daily", 0.5, 0.1, None)),
      Seq(ok, bad), Seq(okBig, StoreTiming("daily", 1.0, 0.1, None)),
      "0.5", "0.6", contended = false)
    assert(rc == 1, "an errored store must poison the exit code")
    assert(json.contains("\"n_failed\":1"), json)
    assert(json.contains("\"vocab\"") && json.contains("\"ratio\":2.0"), json)
    // marginal fields: (2.5−0.5)=2.0 small, (5.0−0.5)=4.5 big → 2.25
    assert(json.contains("\"marg_small\":2.0") &&
      json.contains("\"marg_big\":4.5") &&
      json.contains("\"marg_ratio\":2.25"), json)
    // the errored store contributes NO timing entry (a broken store
    // must never make the artifact look healthy)
    assert(!json.contains("\"daily\":{"), json)
    val clean = StoreScalingBench.render("/t/sf0.1", 8.0,
      Seq(zero), Seq(ok), Seq(okBig), "0.5", "0.6", contended = false)
    assert(clean._2 == 0)
    // a store missing its baseline run is dropped, not mis-ratioed
    val noBase = StoreScalingBench.render("/t/sf0.1", 8.0,
      Nil, Seq(ok), Seq(okBig), "0.5", "0.6", contended = false)
    assert(!noBase._1.contains("\"vocab\":{"), noBase._1)
  }

  test("compact bench line: tail-sized, totals verbatim, failures named, no queries map") {
    // representative full artifact shape (per-query maps elided to a
    // few entries — the real ones are ~7 kB, which is the problem)
    val full = """{"metric":"total","value":157.22032342,"unit":"sec",""" +
      """"queries":{"q01_pricing_summary":0.28,"q02_filter_pushdown":0.23},""" +
      """"stage_build":{"bpe_encode":2.5,"ivf_index":1.5},""" +
      """"streaming":{"q71_stream_sessions":3.6},""" +
      """"streaming_total":153.432955,"server_rps":18.28,""" +
      """"server_probe_loadavg":0.81,"server_rps_rounds":[11.3,18.6],""" +
      """"machine_canary_ms_pre":65.2,""" +
      """"errors":{"q99_broken":"SparkException: boom"},"n_failed":1,""" +
      """"loadavg_pre":1.95,"loadavg_post":2.22,"contended":false,""" +
      """"max_loadavg":2.0,"sf":"/root/testdata/sf0.1",""" +
      """"machine_canary_ms_post":47.6,"steal_pct":1.23}"""
    val c = Bench.compactLine(full)
    assert(c.length < 500, s"compact line must survive a 2000-char tail: $c")
    assert(c.contains("\"value\":157.22032342") &&
      c.contains("\"streaming_total\":153.432955") &&
      c.contains("\"stage_build_total\":4.0") &&
      c.contains("\"server_rps\":18.28") &&
      c.contains("\"n_failed\":1") &&
      c.contains("\"failed\":[\"q99_broken\"]") &&
      c.contains("\"contended\":false") &&
      c.contains("\"steal_pct\":1.23") &&
      c.contains("\"sf\":\"/root/testdata/sf0.1\""), c)
    // no per-query map: a truncated one could be misread as the full
    // registry and flag every missing query as dropped
    assert(!c.contains("\"queries\"") && !c.contains("q01_pricing_summary"), c)
    // clean run: no failed list at all
    val clean = Bench.compactLine(full
      .replace(""""errors":{"q99_broken":"SparkException: boom"},"n_failed":1""",
        """"errors":{},"n_failed":0"""))
    assert(clean.contains("\"n_failed\":0") && !clean.contains("\"failed\":"),
      clean)
    // the committed artifact parses the same way (real 280-query shape)
    val real = java.nio.file.Files.readString(
      java.nio.file.Paths.get("BENCH_BASELINE_r15.json"))
    val cr = Bench.compactLine(real)
    assert(cr.length < 500 && cr.contains("\"value\":157.22032342"), cr)
  }

  test("compact bench line: a negative-exponent stage time sums instead of throwing") {
    // a sub-millisecond stage prints as 8.4E-4; the stage scan must take
    // the exponent's sign, or the line dies between the artifact print
    // and the file mirror + spark.stop
    val full = """{"metric":"total","value":1.5,"stage_build":{"x":8.4E-4},""" +
      """"errors":{},"n_failed":0,"sf":"sf0.01"}"""
    val c = Bench.compactLine(full)
    assert(c.contains("\"stage_build_total\":8.4E-4"), c)
  }

  test("driver-regime parser reads both the clean and the log-tail wrapper shapes") {
    import BenchArtifactGateSpec.parseDriverRegime
    val clean = """{"metric":"total","machine_canary_ms_pre":52.2,
      "server_rps_rounds":[7.9,23.6,6.7],"machine_canary_ms_post":50.0,
      "steal_pct":1.33}"""
    val r1 = parseDriverRegime(clean)
    assert(r1.exists(r => r.canaryPreMs == 52.2 && r.stealPct == 1.33 &&
      r.rpsRounds == Seq(7.9, 23.6, 6.7)), r1.toString)
    // the driver wraps the artifact line as a JSON STRING value, so
    // its quotes arrive escaped — the parser must still find the fields
    val wrapped = clean.replace("\"", "\\\"")
    val r2 = parseDriverRegime(s"""{"n":12,"tail":"$wrapped"}""")
    assert(r2 == r1, s"$r2 != $r1")
    assert(parseDriverRegime("""{"metric":"total"}""").isEmpty,
      "pre-r12 artifacts without regime fields must parse to None")
  }
}
