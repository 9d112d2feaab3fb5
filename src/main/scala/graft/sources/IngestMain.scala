package graft.sources

import org.apache.spark.sql.functions._

/** CLI: ingest an in-band-header telemetry CSV into the canonical
  * partitioned ORC table and print the resulting layout.
  *
  * Usage: runMain graft.sources.IngestMain [csvPath] [orcDir]
  */
object IngestMain {
  def main(args: Array[String]): Unit = {
    val csv = if (args.length > 0) args(0) else SessionizedCsvReader.GoldenCsv
    val out = if (args.length > 1) args(1)
      else java.nio.file.Files.createTempDirectory("graft-orc").toString
    val spark = graft.Bench.benchSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    val t0 = System.nanoTime()
    OrcTelemetryStore.ingestCsv(spark, csv, out)
    val secs = (System.nanoTime() - t0) / 1e9
    val back = OrcTelemetryStore.read(spark, out)
    println(s"ingested -> $out in " + f"$secs%.2f s")
    back.groupBy("actuators_enabled", "log_id")
      .agg(count(lit(1)).as("rows"),
        countDistinct(col("run_id")).as("runs"))
      .orderBy("log_id")
      .show(truncate = false)
    spark.stop()
  }
}
