package graft

import org.apache.spark.sql.functions._

/** Dedicated 10x stress for the adaptive Jaro-Winkler top match
  * (q197). ScaleStress keeps `customer` unscaled (it is a dimension
  * table for the FK-bearing fact replicas), so the one query whose
  * r6 verdict flagged quadratic blocking needs its own scale axis:
  * a factor-N customer replica with names REGENERATED from the
  * remapped key (same fixed-format distribution as the generator,
  * not duplicated strings), which preserves the worst-case
  * low-entropy shape that defeats naive multiset filters.
  *
  * Emits one Bench-shaped JSON line with the 1x and Nx wall times.
  * With the old all-pairs form, Nx cost = N^2 * 1x; the adaptive
  * search's candidate set measured 11% of all-pairs at 1x and 4.3%
  * at 10x (N^~1.55), so the expected wall ratio is ~N^1.5.
  *
  * Usage: SPARK_GRAFT_FACTOR=10 runMain graft.Q197Stress
  */
object Q197Stress {
  def main(args: Array[String]): Unit = {
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_FACTOR", "10").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Bench.benchSession(cpus)

    val cust = spark.read.parquet(s"$srcDir/customer.parquet")
      .select(col("c_custkey"), col("c_nationkey"))
    val f = lit(factor.toLong)
    val big = (0 until factor).map { i =>
        cust.select((col("c_custkey") * f + lit(i.toLong)).as("c_custkey"),
          col("c_nationkey"))
      }.reduce(_ unionAll _)
      .withColumn("c_name", format_string("Customer#%09d", col("c_custkey")))
      .repartition(32)
      .localCheckpoint(true)

    def run(df: org.apache.spark.sql.DataFrame): (Double, Long) = {
      val t0 = System.nanoTime()
      val out = graft.operators.TextOps.jaroWinklerTopMatch(
        df, "c_nationkey", "c_custkey", "c_name")
      val n = out.rdd.count()
      ((System.nanoTime() - t0) / 1e9, n)
    }

    val base1 = cust
      .withColumn("c_name", format_string("Customer#%09d", col("c_custkey")))
      .localCheckpoint(true)
    val (t1, n1) = run(base1)
    val (tN, nN) = run(big)
    println(s"""{"metric":"q197_stress","unit":"sec","factor":$factor,""" +
      s""""sec_1x":$t1,"rows_1x":$n1,"sec_${factor}x":$tN,"rows_${factor}x":$nN,""" +
      s""""wall_ratio":${tN / t1},"quadratic_ratio":${factor.toLong * factor}}""")
    spark.stop()
  }
}
