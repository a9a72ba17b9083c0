package perfbench

import java.nio.file.Files
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.operators._
import Main.{Report, timed}

/** The analytics and streaming surface: a fixed sample of registered batch
  * queries covering every operator module, plus streaming pipelines drained
  * with AvailableNow, over seeded tables. The seed permutes the order the
  * operations run in, because a long-lived session ages. */
object AnalyticsWorkload {
  val Modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "Relational" -> RelationalQueries.queries, "Text" -> TextQueries.queries,
    "Vector" -> VectorQueries.queries, "Chess" -> ChessQueries.queries,
    "Multimodal" -> MultimodalQueries.queries, "Quality" -> QualityQueries.queries,
    "DupSpans" -> DupSpans.queries, "Sketch" -> SketchQueries.queries,
    "Streaming" -> SparkEntry.streamingQueries)

  /** One batch query per operator module, plus one streaming pipeline. */
  val Sample: Seq[String] = Seq(
    "q01_pricing_summary", "q20_text_stats", "q31_knn_brute", "q42_opening_explorer",
    "q35_multimodal_stats", "q257_simpson_diversity", "q88_dup_spans", "q135_cms_heavy",
    "q76_stream_dedup")

  val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")
  val SetupReps = 3
  val WarmThreads = 3

  def module(q: String): String = Modules.find(_._2.contains(q)).map(_._1).get
  def query(q: String): (SparkSession, String) => DataFrame = Modules.find(_._2.contains(q)).get._2(q)

  /** Reaps state the previous operation left behind, outside the timed
    * window, as the program's own bench harness does. */
  private def settle(): Unit = { System.gc(); graft.streaming.StateStoreReaper.unloadAll(); () }

  def run(spark: SparkSession, a: Main.Args, tr: Tracer): Report = {
    val r = new Report
    val d = a.tables
    var s: SparkSession = null
    for (_ <- 1 to SetupReps) r.setupS += timed {
      s = spark.newSession()
      Tables.foreach(t => s.read.parquet(s"$d/$t.parquet").schema)
    }._2
    r.mark("setup")

    // untimed first pass: warms the session and leaves every output on
    // disk for the oracle comparison run.py makes after this process ends.
    // The batch queries and the chess oracle's export run side by side,
    // since a cold start (code generation, class loading) runs mostly on
    // the calling thread; the streaming pipeline runs alone after.
    val out = Files.createDirectories(a.work.resolve("analytics").resolve("out"))
    def checked(q: String): Either[String, Long] =
      try {
        query(q)(s, d).write.mode("overwrite").parquet(out.resolve(q).toString)
        Right(s.read.parquet(out.resolve(q).toString).count())
      } catch { case e: Exception => Left(s"$q raised $e") }
    val pool = Executors.newFixedThreadPool(WarmThreads)
    val firstRun =
      try {
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
        val (batch, streams) = Sample.partition(module(_) != "Streaming")
        val exported = Future(graft.chess.ChessOracle.export(s))
        val done = batch.map(q => q -> Future(checked(q))).map { case (q, f) => q -> Await.result(f, Duration.Inf) } ++
          streams.map { q => settle(); q -> checked(q) }
        Await.result(exported, Duration.Inf)
        done
      } finally pool.shutdown()
    val rows = firstRun.map { case (q, res) =>
      res.left.foreach(msg => r.check(msg, ok = false))
      q -> res.getOrElse(-1L)
    }.toMap
    Files.write(out.resolve("oracle_sql.json"),
      Main.json(Sample.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap).getBytes("UTF-8"))

    r.mark("checked_pass")
    val order = new scala.util.Random(a.seed).shuffle(Sample)
    val off = new Tracer(false)

    /** Operations in the permuted order, cycling, until `seconds` have
      * passed and every sampled query has run at least once. */
    def window(t: Tracer): Seq[(String, Double)] = {
      val t0 = System.nanoTime()
      val done = Seq.newBuilder[(String, Double)]
      var i = 0
      while (i < order.size || (System.nanoTime() - t0) / 1e9 < a.seconds) {
        val q = order(i % order.size)
        i += 1
        settle()
        val mod = module(q)
        val fn = query(q)
        val (n, sec) = timed(t.span(s"operators.$mod", q.hashCode.toLong) {
          try {
            val df = t.span("operators.build")(fn(s, d))
            t.span("operators.plan")(df.queryExecution.executedPlan)
            Right(t.span("operators.exec")(df.collect().length.toLong))
          } catch { case e: Exception => Left(e.toString) }
        })
        r.check(s"$q returned $n, the checked pass ${rows(q)} rows", n == Right(rows(q)))
        done += q -> sec
      }
      done.result()
    }

    val ops = window(off)
    r.mark("window")
    r.sampleLiveMem()
    r.opsMs ++= ops.map(_._2 * 1000)
    r.units = ops.size.toDouble
    r.unitsS = ops.map(_._2).sum
    r.info("op_ms") = ops.groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2 * 1000).min }
    r.raw("op_queries") = ops.map(_._1)

    if (tr.enabled) {
      val listener = new TaskListener
      val progress = new ProgressListener
      spark.sparkContext.addSparkListener(listener)
      s.streams.addListener(progress)
      val before = listener.snapshot()
      val t0 = System.nanoTime()
      val traced = window(tr)
      val wall = (System.nanoTime() - t0) / 1e9
      r.tracedOpsMs ++= traced.map(_._2 * 1000)
      r.raw("spark") = listener.snapshot().minus(before).raw(wall)
      r.raw("traced_ops") = traced.map { case (q, sec) => Map("module" -> module(q), "s" -> sec) }
      r.raw("streaming_batches") = progress.batches.asScala.toSeq
    }
    r
  }
}
