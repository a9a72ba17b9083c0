package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.JsonDSL._

/** Second-decade scale evidence for the SCALING_r13 outliers (the r13
  * verdict's #2 ask): the per-query scaling curve stops at one decade
  * (sf0.01 → sf0.1), and its eight tail queries (3.19–6.12× against
  * 10× data) are EXPLAINED as decode-/candidate-linear — but a single
  * ratio pair cannot fit an exponent or see a super-linear term that
  * only emerges past the fixed-cost regime. This bench adds the third
  * point: a 10×-sf0.1 corpus GENERATED by replication, and times the
  * eight tails at all three sizes, so `SCALING_TAIL_r14.json` carries
  * fitted per-decade exponents and ScalingTailGateSpec red-tests the
  * second decade against an exponent bar.
  *
  * Replication models growth the way the corpus actually grows:
  *  - documents: doc_id offset per replica and every token
  *    suffix-salted (replica 0 verbatim — the StoreScalingBench
  *    convention), so each replica carries the same INTERNAL
  *    duplicate/near-dup structure while replicas stay lexically
  *    disjoint: q53's candidate volume grows linearly, the way a
  *    larger crawl has proportionally more near-dups, not 10 copies
  *    of the same ones; vocabulary grows ~10× (the q67/q227 axis);
  *    the media queries key their deterministic synthetic assets off
  *    doc_id alone, so decode count grows exactly 10×.
  *  - lineitem/orders: keys offset, dates SHIFTED by 4000 days per
  *    replica — more data means a longer history, so q51's per-window
  *    join density stays constant and its work grows with rows, which
  *    is the claim under test (un-shifted replication would multiply
  *    BOTH join sides in the same calendar window and measure the
  *    corpus model, not the plan).
  *
  * Usage: `SPARK_GRAFT_CPUS=32 sbt "runMain graft.ScalingTailBench"`
  * → one JSON line (mirrored to scaling_tail_out.json); commit as
  * `SCALING_TAIL_r{N}.json`.
  */
object ScalingTailBench {

  /** The SCALING_r13 outlier set (every ratio ≥ 3.19× there). */
  val TailQueries: Seq[String] = Seq(
    "q51_interval_join", "q53_ngram_neardup", "q67_vocab_coverage",
    "q82_video_frames", "q91_image_resize", "q109_novelty",
    "q227_heaps_fit", "q253_color_profile")

  /** Replication factor for the generated third point. */
  val Repl = 10

  final case class TailTiming(name: String, tSmall: Double, tMid: Double,
                              tBig: Double, err: Option[String])

  /** Build the 10× corpus dir from `midDir` (documents + lineitem +
    * orders — the only tables the tail queries read). Returns the dir. */
  def buildBigDir(spark: SparkSession, midDir: String): String = {
    val dir = TempDirs.register(java.nio.file.Files
      .createTempDirectory("graft_scaling_tail").toString)
    val docs = Tables.documents(spark, midDir)
    (0 until Repl).map { i =>
      val text =
        if (i == 0) col("text")
        else regexp_replace(col("text"), "(\\S+)", "$1·" + i)
      docs.select(
        (col("doc_id") + lit(i.toLong * 1000000000L)).as("doc_id"),
        text.as("text"), col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }.reduce(_.unionAll(_))
      .write.parquet(s"$dir/documents.parquet")
    val li = Tables.lineitem(spark, midDir)
    (0 until Repl).map { i =>
      li.withColumn("l_orderkey",
          col("l_orderkey") + lit(i.toLong * 1000000000L))
        .withColumn("l_shipdate",
          col("l_shipdate") + expr(s"INTERVAL ${i * 4000} DAYS"))
    }.reduce(_.unionAll(_))
      .write.parquet(s"$dir/lineitem.parquet")
    val ord = Tables.orders(spark, midDir)
    (0 until Repl).map { i =>
      ord.withColumn("o_orderkey",
          col("o_orderkey") + lit(i.toLong * 1000000000L))
        .withColumn("o_orderdate",
          col("o_orderdate") + expr(s"INTERVAL ${i * 4000} DAYS"))
    }.reduce(_.unionAll(_))
      .write.parquet(s"$dir/orders.parquet")
    dir
  }

  /** Force one full execution; returns seconds (or Left(err)). */
  private def time1(spark: SparkSession, name: String,
                    dir: String): Either[String, Double] =
    try {
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      fn(spark, dir).count()
      Right((System.nanoTime() - t0) / 1e9)
    } catch { case e: Throwable => Left(Measure.describe(e)) }

  /** Pure assembly so a spec can exercise the JSON shape; exponents
    * are log10 of each decade's time ratio. */
  def render(small: String, mid: String, timings: Seq[TailTiming],
             host: JObject): JObject = {
    val entries = timings.filter(_.err.isEmpty).map { t =>
      val e12 = math.log10(t.tMid / math.max(t.tSmall, 1e-3))
      val e23 = math.log10(t.tBig / math.max(t.tMid, 1e-3))
      JField(t.name, ("t_small" -> t.tSmall) ~ ("t_mid" -> t.tMid) ~
        ("t_big" -> t.tBig) ~ ("exp12" -> e12) ~ ("exp23" -> e23))
    }
    ("metric" -> "scaling_tail") ~ ("sf_small" -> small) ~ ("sf_mid" -> mid) ~
      ("data_ratio" -> Repl) ~ ("queries" -> JObject(entries.toList)) ~
      Measure.failures(timings.collect { case TailTiming(n, _, _, _, Some(e)) => n -> e }) ~
      host
  }

  def main(args: Array[String]): Unit = {
    val small = sys.env.getOrElse("SPARK_GRAFT_SF_SMALL",
      "/root/testdata/sf0.01")
    val mid = sys.env.getOrElse("SPARK_GRAFT_SF_BIG", "/root/testdata/sf0.1")
    val spark = Measure.session()
    sys.exit(Measure.emit(spark, Some("scaling_tail_out.json")) {
      val big = buildBigDir(spark, mid)
      Measure.warm(spark, small)
      Measure.settle(300000L)
      val regime = Measure.regime()
      val timings = TailQueries.map { q =>
        (time1(spark, q, small), time1(spark, q, mid), time1(spark, q, big)) match {
          case (Right(a), Right(b), Right(c)) => TailTiming(q, a, b, c, None)
          case (ra, rb, rc) =>
            val err = Seq(ra, rb, rc).collect { case Left(e) => e }.mkString("; ")
            TailTiming(q, -1, -1, -1, Some(err))
        }
      }
      render(small, mid, timings, regime.close())
    })
  }
}
