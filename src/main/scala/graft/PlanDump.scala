package graft

import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for registered BATCH queries to one
  * text file per query — the optimization rounds' plan-evidence tool
  * (plans/r14/<query>_{before,after}.txt). Streaming queries are
  * skipped: composing them RUNS a full micro-batch pipeline, and their
  * final read-back plan is just a parquet scan of the sink.
  *
  * Usage: PlanDump <sfDir> <outDir> <suffix> [queryName...]
  * (no names = every batch query).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = args.lift(1).getOrElse("plans/r14")
    val suffix = args.lift(2).getOrElse("before")
    val all = SparkEntry.batchQueries
    val names =
      if (args.length > 3) args.drop(3).toSeq else all.keys.toSeq.sorted
    val spark = Measure.session()
    Files.createDirectories(Paths.get(outDir))
    try names.foreach { n =>
      all.get(n) match {
        case None => System.err.println(s"[plandump] no such batch query: $n")
        case Some(fn) =>
          try {
            val plan = fn(spark, sfDir).queryExecution.explainString(
              org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
            Files.writeString(Paths.get(outDir, s"${n}_$suffix.txt"), plan)
            System.err.println(s"[plandump] wrote $n")
          } catch {
            case e: Throwable =>
              System.err.println(s"[plandump] FAILED $n: ${e.getMessage}")
          }
      }
    } finally spark.stop()
  }
}
