package graft

import java.nio.file.{Files, Paths}

/** Plan-health sweep over every declared query: counts the physical
  * operators that decide 100 TB viability (exchanges, join strategies,
  * cartesian products, whole-stage-codegen spans) and writes a
  * markdown table. PlanShapeSpec pins the load-bearing shapes
  * per-operator; this audit covers the WHOLE surface so an accidental
  * cartesian or a lost broadcast anywhere in the declared queries is
  * visible in review diff, not just in the handful of pinned plans.
  *
  * Usage: runMain graft.PlanAudit [sfDir] [outFile]
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("PLAN_AUDIT.md")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Bench.benchSession(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    def n(p: String, pat: String): Int = pat.r.findAllIn(p).size

    val rows = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      try {
        val p = fn(spark, sfDir).queryExecution.executedPlan.toString
        val codegen = "\\*\\((\\d+)\\)".r.findAllMatchIn(p)
          .map(_.group(1).toInt).toSet.size
        Seq(name,
          n(p, "Exchange hashpartitioning").toString,
          n(p, "Exchange rangepartitioning").toString,
          n(p, "Exchange SinglePartition").toString,
          n(p, "BroadcastHashJoin").toString,
          n(p, "SortMergeJoin").toString,
          n(p, "BroadcastNestedLoopJoin").toString,
          n(p, "CartesianProduct").toString,
          codegen.toString)
      } catch {
        case e: Throwable => Seq(name, "ERR", "", "", "", "", "", "",
          e.getClass.getSimpleName)
      }
    }

    val header = Seq("query", "xchg-hash", "xchg-range", "xchg-single",
      "bhj", "smj", "bnlj", "cartesian", "codegen")
    val table =
      (Seq(header, header.map(_ => "---")) ++ rows)
        .map(_.mkString("| ", " | ", " |")).mkString("\n")
    // table is appended AFTER stripMargin: its rows start with '|',
    // which stripMargin would otherwise eat as the margin character
    val doc =
      s"""# PLAN AUDIT — physical-plan health across all declared queries
         |
         |Generated by `runMain graft.PlanAudit` at $sfDir. Columns:
         |hash/range/single-partition exchanges, broadcast-hash joins,
         |sort-merge joins, broadcast-nested-loop joins (expected ONLY
         |where a tiny side is broadcast against an inequality or
         |cross-shaped predicate — the brute-force ANN family and 1x1
         |scalar-pair joins), cartesian products (must stay 0 except
         |deliberate 1x1 scalar pairings), distinct whole-stage-codegen
         |spans.
         |
         |Single-partition exchanges are the `ordered()` oracle-output
         |sorts (bounded rows) plus deliberate tiny-table combines —
         |never a full-table funnel (PlanShapeSpec pins the prefix-sum
         |and winsorize cases explicitly).
         |
         |Codegen spans are only annotated in the plan string for
         |non-adaptive (exchange-free) plans; AQE-wrapped queries print
         |their initial plan without `*(n)` markers, so 0 there means
         |"not visible pre-execution", not "interpreted".
         |
         |""".stripMargin + table + "\n"
    Files.writeString(Paths.get(out), doc)
    println(s"[plan-audit] wrote $out (${rows.size} queries)")
    val bad = rows.filter(r => r(7) != "0" && r(7) != "")
    if (bad.nonEmpty)
      println("[plan-audit] cartesian products in: " +
        bad.map(_.head).mkString(", "))
    // ERR rows are excluded from the cartesian check above — surface
    // them loudly so a planning regression can't silently weaken the
    // audit's "zero cartesians" claim (they also fail PlanShapeSpec's
    // full-surface sweep)
    val errs = rows.filter(_(1) == "ERR")
    if (errs.nonEmpty)
      println("[plan-audit] WARNING: failed to plan (excluded from " +
        "cartesian check): " + errs.map(_.head).mkString(", "))
    spark.stop()
  }
}
