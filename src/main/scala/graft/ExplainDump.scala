package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, Semaphore, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Dumps `.explain("formatted")` for the named queries into
  * `plans/<tag>/<query>_<suffix>.txt` — the optimization-round
  * before/after plan evidence. Uses the same session config as
  * [[Bench.benchSession]] so the captured plans are the ones the
  * bench actually executes.
  *
  * A query that materializes intermediates (`localCheckpoint`,
  * `collect`) plans those joins while it is built, and the final plan
  * only shows them as an RDD scan. So each file first lists the plan of
  * every SQL execution the query started while it was built, then the
  * final plan.
  *
  * Usage: runMain graft.ExplainDump <suffix> <name1,name2,...> [outDir]
  *   suffix: "before" | "after" (file name suffix)
  *   names:  comma-separated query-name substrings (Bench's
  *           SPARK_GRAFT_ONLY matching; "all" = every query)
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val suffix = args.headOption.getOrElse("before")
    val names = args.lift(1).getOrElse("all")
    val outDir = args.lift(2).getOrElse("plans/r12")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Bench.benchSession(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val buildPlans = new ConcurrentLinkedQueue[String]()
    val drained = new Semaphore(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          buildPlans.add(s.physicalPlanDescription)
        case _ =>
      }
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null &&
            j.properties.getProperty("spark.job.description") == "explain-drain")
          drained.release()
    })
    val selected = SparkEntry.selectQueries(Some(names).filter(_ != "all"))
    Files.createDirectories(Paths.get(outDir))
    selected.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        buildPlans.clear()
        val df = fn(spark, sfDir)
        // the listener bus delivers in order: once this job's start is
        // seen, every execution started while building has been recorded
        spark.sparkContext.setJobDescription("explain-drain")
        spark.sparkContext.parallelize(Seq(1), 1).count()
        spark.sparkContext.setJobDescription(null)
        drained.tryAcquire(60, TimeUnit.SECONDS)
        val p = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val built = buildPlans.toArray.toSeq.zipWithIndex.map { case (b, i) =>
          s"== Build-time execution ${i + 1} ==\n$b\n"
        }
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"),
          built.mkString + "== Final plan ==\n" + p)
        println(s"[explain] $name -> $outDir/${name}_$suffix.txt")
      } catch {
        case e: Throwable =>
          println(s"[explain] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
