package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** 10× scale-stress harness (round-5 verdict item 1).
  *
  * The sf0.1 bench verifies correctness and steady-state throughput but
  * structurally cannot catch what breaks at the next order of magnitude
  * (hub-bucket memory, SMJ spill cliffs, LSH megabucket caps actually
  * binding, driver-side loops whose round count grows with data). This
  * main materializes a factor-N replica of the sf0.1 tables in /tmp and
  * runs the most expensive queries against it, reporting per-query wall
  * time or the error that killed it.
  *
  * Replica construction uses an INTERLEAVED id remap —
  * `new_id = old_id * factor + i` — rather than an offset remap
  * (`old_id + i*stride`): several heavy queries subset their input with
  * `doc_id < N` / `vec_id < K` predicates, and under an offset remap
  * those would select replica 0 only, silently running the stress suite
  * on unscaled data. Interleaving keeps "< N" a uniform cross-replica
  * sample, so filtered queries see ~N rows drawn from every replica and
  * unfiltered queries see the full factor× table.
  *
  * Text replicas alternate exact copies (even i) and suffix-perturbed
  * near-duplicates (odd i): the corpus becomes duplicate-heavy — which
  * is exactly what a real crawl looks like — so LSH buckets, simhash
  * bands, n-gram-Jaccard graphs, and connected components all grow
  * dense clusters instead of staying accidentally sparse. Embedding
  * replicas get a tiny index-keyed perturbation (cosine ≈ 1 intra-
  * group) for the same reason on the vector side.
  *
  * Env: SPARK_GRAFT_SF_DIR (source, default /root/testdata/sf0.1),
  * SPARK_GRAFT_STRESS_DIR (default /tmp/graft_stress), SPARK_GRAFT_FACTOR
  * (default 10), SPARK_GRAFT_CPUS, SPARK_GRAFT_ONLY (query substring
  * filter, default = the top-15 most expensive list from the r4 plan
  * audit). Emits one JSON line, same shape as Bench.
  */
object ScaleStress {
  /** Top-15 most expensive queries per the r4 verdict/plan audit. */
  val DefaultTargets: Seq[String] = Seq(
    "q31_", "q79_", "q105_", "q102_", "q58_", "q54_", "q76_", "q116_",
    "q115_", "q117_", "q68_", "q70_", "q27_", "q100_", "q101_")

  def main(args: Array[String]): Unit = {
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_STRESS_DIR", "/tmp/graft_stress")
    val factor = sys.env.getOrElse("SPARK_GRAFT_FACTOR", "10").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Bench.benchSession(cpus)

    val tBuild0 = System.nanoTime()
    buildReplicas(spark, srcDir, outDir, factor)
    val buildSec = (System.nanoTime() - tBuild0) / 1e9

    Bench.warmUp(spark, outDir)

    val selected = SparkEntry.selectQueries(
      sys.env.get("SPARK_GRAFT_ONLY"), DefaultTargets)
    val results = Bench.timeQueries(spark, outDir, selected)
      .sortBy { case (name, _) => name }
    val qs = results.map {
      case (k, (None, v))      => "\"" + k + "\":" + v
      case (k, (Some(err), _)) => "\"" + k + "\":{\"err\":" + Bench.jstr(err) + "}"
    }.mkString("{", ",", "}")
    val ok = results.collect { case (_, (None, v)) => v }
    val nErr = results.size - ok.size
    val total = if (ok.nonEmpty) ok.sum else 0.0
    println(s"""{"metric":"stress_total","value":$total,"unit":"sec","factor":$factor,"build_sec":$buildSec,"queries":$qs,"errors":$nErr,"src":"$srcDir","dir":"$outDir"}""")
    if (nErr > 0)
      System.err.println(s"[stress] $nErr of ${results.size} queries FAILED")
    spark.stop()
  }

  /** Materializes the factor-N replica set under `outDir` (skipped when
    * a marker from the same (src, factor) build already exists). Small
    * dimension tables are copied verbatim; fact tables are interleaved-
    * remapped as documented above. */
  def buildReplicas(spark: SparkSession, srcDir: String, outDir: String,
      factor: Int): Unit = {
    val fs = new java.io.File(outDir)
    val marker = new java.io.File(fs, s"_STRESS_${factor}x.ok")
    if (marker.exists()) return
    fs.mkdirs()

    def src(name: String): DataFrame = spark.read.parquet(s"$srcDir/$name.parquet")
    def write(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")

    // Unscaled dimensions: pass through so every query's schema holds.
    Seq("region", "nation", "customer", "supplier", "part")
      .foreach(n => write(n, src(n)))

    def replicate(df: DataFrame)(remap: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => remap(df, i)).reduce(_ unionAll _)

    val f = lit(factor.toLong)

    write("documents", replicate(src("documents")) { (d, i) =>
      val suffixed = if (i % 2 == 1) concat(col("text"), lit(s" zrep$i")) else col("text")
      d.select(
        (col("doc_id") * f + lit(i.toLong)).as("doc_id"),
        suffixed.as("text"),
        col("lang"), col("source"),
        // keep n_chars consistent with the perturbed text
        (col("n_chars") + (length(suffixed) - length(col("text")))).as("n_chars"))
    }.repartition(32))

    write("embeddings", replicate(src("embeddings")) { (e, i) =>
      val perturbed =
        if (i == 0) col("embedding")
        else transform(col("embedding"),
          x => (x + lit(i * 1e-4f)).cast("float"))
      e.select(
        (col("vec_id") * f + lit(i.toLong)).as("vec_id"),
        perturbed.as("embedding"), col("label"))
    }.repartition(32))

    // events: more users (same per-user history depth) — the realistic
    // axis of growth; ts/props untouched so the writer's timestamp
    // variant round-trips through Tables.normalizeEventTs unchanged.
    write("events", replicate(src("events")) { (ev, i) =>
      ev.select(
        (col("event_id") * f + lit(i.toLong)).as("event_id"),
        col("ts"),
        (col("user_id") * f + lit(i.toLong)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    })

    // orders/lineitem: orderkeys remap in lockstep so the FK holds;
    // custkey/partkey/suppkey stay valid against unscaled dims.
    write("orders", replicate(src("orders")) { (o, i) =>
      o.withColumn("o_orderkey", col("o_orderkey") * f + lit(i.toLong))
    })
    write("lineitem", replicate(src("lineitem")) { (l, i) =>
      l.withColumn("l_orderkey", col("l_orderkey") * f + lit(i.toLong))
    })

    marker.createNewFile()
    ()
  }
}
