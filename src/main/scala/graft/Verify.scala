package graft
import java.nio.file.{Files, Paths}

import graft.dsl.Json

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Per-query timeout: a single wedged query must not stall the whole
    // correctness run. Each query runs under `Bench.runTimed`; on
    // timeout its jobs are cancelled and we move on.
    val timeoutSec = sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT", "300").toLong
    // Dev iteration aid: SPARK_GRAFT_VERIFY_ONLY=q_a,q_b restricts the dump
    // (oracle_sql.json is filtered to match so compare.py checks the same set).
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None        => SparkEntry.queries
    }
    selected.foreach { case (name, fn) =>
      val (elapsed, ok) = Bench.runTimed(spark, name, timeoutSec * 1000) {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          throw e
        }
      }
      if (!ok && elapsed >= timeoutSec)
        System.err.println(s"[verify] $name timed out after ${timeoutSec}s — cancelled")
    }
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_(k)) }
      .map { case (k, v) => s"${Json.quote(k)}: ${Json.quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
