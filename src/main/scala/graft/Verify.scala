package graft
import java.nio.file.{Files, Paths}
import org.json4s._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (local
    // iteration only — the driver always passes two args = run all)
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Measure.session()
    new java.io.File(outDir).mkdirs()
    // oracle inputs: export the deterministic non-ANSI artifacts (chess
    // position streams + probe keys; minhash/simhash/LSH/IVF per-row
    // signatures) so the DuckDB side of the oracle SQL can read them
    // (recomputed-from-scratch relational inputs, never copies of any
    // query result). On ANY failure the export dir is deleted so the
    // oracle fails loudly instead of comparing against stale parquet
    // from a previous run.
    try {
      graft.chess.ChessOracle.export(spark)
      graft.operators.ApproxOracle.export(spark, sfDir)
    } catch { case e: Throwable =>
      System.err.println(s"[verify] oracle export failed: ${e.getMessage}")
      graft.OracleExport.clear()
    }
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = JObject(SparkEntry.oracleSql.map { case (k, v) => JField(k, JString(v)) }.toList)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Measure.render(json))
    spark.stop()
  }
}
