package graft

import java.nio.file.{Files, Paths}

import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

/** The shared measurement scaffold: the emission contract (one printed
  * line, the same bytes in the mirror, the exit code from the failure
  * count, teardown on every path), and artifact-shape parity — every
  * key the gates read in the newest committed scaling artifacts is
  * still written by the mains' renders. */
class MeasureSpec extends AnyFunSuite {

  private def keys(j: JValue): Set[String] = j match {
    case JObject(fs) => fs.map(_._1).toSet
    case _           => Set.empty
  }

  private def entryKeys(j: JValue, field: String): Set[String] =
    j \ field match {
      case JObject(fs) => fs.flatMap { case (_, v) => keys(v) }.toSet
      case _           => Set.empty
    }

  /** Every top-level and per-entry key of `committed` appears in the
    * printed form of `rendered`; added keys are fine. */
  private def assertShape(committed: String, field: String, rendered: JValue): Unit = {
    val want = JsonMethods.parse(Files.readString(Paths.get(committed)))
    val got = JsonMethods.parse(Measure.render(rendered))
    assert(entryKeys(want, field).nonEmpty, s"$committed has no $field entries")
    val missing = (keys(want) -- keys(got)) ++
      (entryKeys(want, field) -- entryKeys(got, field)).map(k => s"$field.*.$k")
    assert(missing.isEmpty, s"render drops keys $committed carries: $missing")
  }

  test("ScalingBench.render writes every key of SCALING_r14.json") {
    assertShape("SCALING_r14.json", "queries", ScalingBench.render(
      "/t/sf0.01", "/t/sf0.1", Seq(Bench.QResult("q1", 1.0, None)),
      Seq(Bench.QResult("q1", 4.0, None)), Map("ivf_index" -> 1.5),
      Measure.regime().close()))
  }

  test("ScalingTailBench.render writes every key of SCALING_TAIL_r14.json") {
    assertShape("SCALING_TAIL_r14.json", "queries", ScalingTailBench.render(
      "/t/sf0.01", "/t/sf0.1",
      Seq(ScalingTailBench.TailTiming("q1", 0.5, 1.0, 8.0, None)),
      Measure.regime().close()))
  }

  test("StoreScalingBench.render writes every key of STORE_SCALING_r15.json") {
    import StoreScalingBench.StoreTiming
    assertShape("STORE_SCALING_r15.json", "stores", StoreScalingBench.render(
      "/t/sf0.1", 32.0, Seq(StoreTiming("vocab", 1.0, 0.2, None)),
      Seq(StoreTiming("vocab", 2.0, 0.3, None)),
      Seq(StoreTiming("vocab", 5.0, 0.4, None)), Measure.regime().close()))
  }

  test("emit: a failure exits 1, the mirror equals the printed line, teardown runs") {
    val mirror = Files.createTempFile("graft-measure", ".json")
    try {
      var closed = false
      val out = new java.io.ByteArrayOutputStream()
      val rc = Console.withOut(out) {
        Measure.emit(() => closed = true, Some(mirror.toString)) {
          ("metric" -> "m") ~ Measure.failures(Seq("q1" -> "boom: \"x\" }"))
        }
      }
      assert(rc == 1)
      assert(closed, "emit must close the session")
      val printed = out.toString("UTF-8").split("\n").filter(_.nonEmpty).toSeq
      assert(printed == Seq(Files.readString(mirror)), printed)
      assert(Measure.exitCode(Measure.failures(Nil)) == 0)
    } finally Files.deleteIfExists(mirror)
  }

  test("emit: a crashing summary still tears the session down") {
    var closed = false
    intercept[RuntimeException] {
      Console.withOut(new java.io.ByteArrayOutputStream()) {
        Measure.emit(() => closed = true, summary = Some(_ => sys.error("summary bug"))) {
          JObject()
        }
      }
    }
    assert(closed, "a summary bug must not skip teardown")
  }
}
