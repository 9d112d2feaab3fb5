package graft
import java.nio.file.{Files, Paths}

import Bench.jstr

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Bench.benchSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=q55_,q26_ runs just those queries — a local
    // iteration aid; a full correctness dump leaves it unset.
    val selected = SparkEntry.selectQueries(sys.env.get("SPARK_GRAFT_ONLY"))
    // Failures are collected into a failures.json manifest so a
    // silently-shrunk correctness file can never happen again (r3: 26
    // queries vanished from CORRECTNESS_r03 with only stderr evidence).
    val failures = selected.toSeq.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
        Some(name -> Option(e.getMessage).getOrElse(e.getClass.getName))
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val failJson = failures
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/failures.json"), failJson)
    if (failures.nonEmpty)
      System.err.println(
        s"[verify] ${failures.size} of ${selected.size} queries FAILED — see $outDir/failures.json")
    spark.stop()
  }
}
