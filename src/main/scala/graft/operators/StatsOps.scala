package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Aggregation operators (SURVEY §2.5): RMS, per-run stats, and the
  * Welch unequal-variance t-test the reference uses as its acceptance
  * criterion (Python Plotting/main.py:113-115, scipy ttest_ind with
  * equal_var=False, one-sided alternative).
  *
  * All moments are computed distributively (avg / var_samp / count are
  * map-side-combinable), so the grouped stage scales to arbitrarily many
  * runs; only the final 2-row arm pairing is driver-sized.
  */
object StatsOps {

  /** A1: root-mean-square (main.py:73-74). */
  def rms(x: Column): Column = sqrt(avg(x * x))

  /** Fixed-bin histogram with a data-driven range: one aggregation for
    * the global (min, max) — a single broadcast row — then bucket
    * assignment as a pure projection + one count aggregation. Two scans
    * total, no sort, no per-bin shuffle skew (bins are the shuffle
    * key). The max value folds into the last bin. Empty bins are
    * absent from the output (join a `sequence` spine if a dense grid
    * is needed). Degenerate range (min == max) puts everything in bin
    * 0. */
  def histogram(df: DataFrame, valueCol: String, bins: Int): DataFrame = {
    require(bins > 0, s"bins must be positive, got $bins")
    val range = df.agg(min(col(valueCol)).cast("double").as("lo"),
      max(col(valueCol)).cast("double").as("hi"))
    df.select(col(valueCol).cast("double").as("v"))
      .crossJoin(broadcast(range))
      .select(
        when(col("hi") === col("lo"), lit(0))
          .otherwise(least(lit(bins - 1),
            floor((col("v") - col("lo")) /
              ((col("hi") - col("lo")) / lit(bins.toDouble))).cast("int")))
          .as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n"))
  }

  /** Deterministic sampled quantiles per key: the sample is the `k`
    * rows with the smallest md5(salt:id) — a uniform-in-hash-space,
    * engine-reproducible subset (the KMV idiom of q49, keeping the
    * VALUES this time) — and the result is the exact type-7
    * interpolated quantile over that sample. Error is the standard
    * order-statistic bound O(1/sqrt(k)) per quantile.
    *
    * Scale shape: the k-smallest-hash set is a mergeable bounded
    * sketch; relationally it is selected with the two-stage ranking
    * from q49 (per-(key, 64-bucket) top-k first, then the per-key
    * top-k over the <= 64k survivors), so no window ever funnels a
    * whole key through one task. The final percentile aggregates k
    * values per key — bounded buffers by construction, unlike exact
    * per-key percentile over raw data, which holds every row of the
    * largest key in one buffer (the winsorize doc above). NULL values
    * are excluded before sampling (they'd poison the sample slots).
    * Output: key, q_<pct> columns (doubles). */
  def sampledQuantiles(df: DataFrame, keyCol: String, valueCol: String,
                       idCol: String, k: Int, qs: Seq[Double],
                       salt: String): DataFrame = {
    require(k > 0 && qs.nonEmpty && qs.forall(q => q >= 0 && q <= 1),
      s"bad sample size $k or quantiles $qs")
    import org.apache.spark.sql.expressions.Window
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(keyCol).as("__k"), col(valueCol).cast("double").as("__v"),
        col(idCol).cast("long").as("__id"))
      .withColumn("__h", CurationOps.md5Hash32(
        concat(lit(s"$salt:"), col("__id").cast("string"))))
    val wB = Window.partitionBy(col("__k"), col("__b"))
      .orderBy(col("__h"), col("__id"))
    val cand = base
      .withColumn("__b", pmod(col("__id"), lit(64L)))
      .withColumn("__rb", row_number().over(wB))
      .filter(col("__rb") <= k)
    val wF = Window.partitionBy(col("__k")).orderBy(col("__h"), col("__id"))
    val sample = cand
      .withColumn("__r", row_number().over(wF))
      .filter(col("__r") <= k)
    def pctName(q: Double): String =
      "q_" + (q * 100).toString.replaceAll("\\.?0+$", "").replace('.', '_')
    sample.groupBy(col("__k").as(keyCol))
      .agg(percentile(col("__v"), lit(qs.head)).as(pctName(qs.head)),
        qs.tail.map(q =>
          percentile(col("__v"), lit(q)).as(pctName(q))): _*)
  }

  /** Winsorization (quantile clipping) — the standard outlier-damping
    * step before training-statistics aggregation: clips `valueCol` to
    * the exact per-key [qLo, qHi] linearly-interpolated quantiles
    * (type 7 — quantile_cont semantics).
    *
    * The quantiles are computed RELATIONALLY, not by collecting each
    * group into one aggregation buffer (Spark's exact `percentile`
    * buffers every group value in memory — a non-starter when one key
    * holds billions of rows). Ranking does NOT sort each key in one
    * task either (a per-key sort window funnels a key's every row
    * through a single task — with a handful of keys that is the
    * whole table): the keyed bucketed two-pass of prefixSum /
    * tokenBudgetMix, over VALUE-range buckets. Per-key min/max give
    * 256 order-aligned buckets, per-(key, bucket) counts roll into
    * exclusive rank offsets with a ≤256-row-per-key window, and
    * row_number runs partitioned by (key, bucket) — per-task work is
    * 1/256th of a key. Ties share a value, hence a bucket, and only
    * permute equal values within it, so the interpolated bounds are
    * unchanged. A filter keeps only the ≤4 bracket rows per key
    * BEFORE the tiny bounds aggregation, and the per-key bounds
    * broadcast back onto the table. Clipping itself is scan-speed.
    * NULL values are ignored for ranking and pass through NULL,
    * matching quantile_cont.
    *
    * Adds column `{valueCol}_wins` to `df`. */
  def winsorize(df: DataFrame, keyCols: Seq[String], valueCol: String,
                qLo: Double, qHi: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(0.0 <= qLo && qLo <= qHi && qHi <= 1.0, s"bad bounds $qLo $qHi")
    // internal working columns — reject the inputs that actually
    // collide: w_lo/w_hi anywhere in the input makes the
    // bounds join ambiguous; v/rk/n as KEY columns collide with the
    // ranking projection's aliases (as the value column they are
    // harmless — the value is renamed to v anyway)
    val clash =
      df.columns.toSet.intersect(Set("w_lo", "w_hi")) ++
      keyCols.toSet.intersect(Set("v", "rk", "n", "_w_b", "_w_bc",
        "_w_off", "_w_n", "_w_min", "_w_max"))
    require(clash.isEmpty,
      s"winsorize reserves internal column name(s) ${clash.mkString(", ")}" +
        " — rename them on the input first")
    val keys = keyCols.map(col)
    val nb = 256
    val vals = df
      .select(keys :+ col(valueCol).cast("double").as("v"): _*)
      .filter(col("v").isNotNull)
    // GLOBAL value range -> order-aligned bucket in [0, nb-1]: two
    // driver scalars instead of a per-key range join (the prefixSum
    // precedent — and its caveat: a key concentrated inside one
    // global bucket degrades toward the single-task rank for that
    // key, which is still never worse than ranking the key unbucketed)
    val gRow = vals.agg(min(col("v")), max(col("v"))).head()
    val (gLo, gHi) =
      if (gRow.isNullAt(0)) (0.0, 1.0) // no non-null values anywhere
      else (gRow.getDouble(0), gRow.getDouble(1))
    val bucketed =
      if (gHi == gLo) vals.withColumn("_w_b", lit(0))
      else vals.withColumn("_w_b",
        least(lit(nb - 1),
          floor((col("v") - lit(gLo)) * nb / lit(gHi - gLo)).cast("int")))
    // per-(key, bucket) counts -> exclusive rank offsets + key totals
    // (the offsets window sees <= nb rows per key, never the data)
    val wOff = Window.partitionBy(keys: _*).orderBy(col("_w_b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = bucketed.groupBy(keys :+ col("_w_b"): _*)
      .agg(count(lit(1)).as("_w_bc"))
      .withColumn("_w_off", coalesce(sum(col("_w_bc")).over(wOff), lit(0L)))
      .withColumn("_w_n",
        sum(col("_w_bc")).over(Window.partitionBy(keys: _*)))
      .select(keys :+ col("_w_b") :+ col("_w_off") :+ col("_w_n"): _*)
    val wIn = Window.partitionBy(keys :+ col("_w_b"): _*).orderBy(col("v"))
    val ranked = bucketed.join(offs, keyCols :+ "_w_b")
      .withColumn("rk", col("_w_off") + row_number().over(wIn))
      .withColumn("n", col("_w_n"))
    // linear interpolation between the two bracket ranks of quantile q:
    // k = 1 + (n-1)q; bound = v_floor(k)·(1−frac) + v_ceil(k)·frac
    def contrib(q: Double): Column = {
      val k = lit(1.0d) + (col("n") - 1).cast("double") * lit(q)
      val frac = k - floor(k)
      when(col("rk") === floor(k).cast("long"), col("v") * (lit(1.0d) - frac))
        .otherwise(lit(0.0d)) +
        when(col("rk") === ceil(k).cast("long"), col("v") * frac)
        .otherwise(lit(0.0d))
    }
    def isBracket(q: Double): Column = {
      val k = lit(1.0d) + (col("n") - 1).cast("double") * lit(q)
      col("rk") === floor(k).cast("long") || col("rk") === ceil(k).cast("long")
    }
    val bounds = ranked
      .filter(isBracket(qLo) || isBracket(qHi))
      .groupBy(keys: _*)
      .agg(sum(contrib(qLo)).as("w_lo"), sum(contrib(qHi)).as("w_hi"))
    // LEFT join + explicit null gate: least/greatest SKIP nulls, so
    // without the gate a NULL value would silently clamp to the low
    // bound, and an inner join would drop every row of an all-NULL key
    df.join(broadcast(bounds), keyCols, "left")
      .withColumn(s"${valueCol}_wins",
        when(col(valueCol).isNull || col("w_lo").isNull,
          lit(null).cast("double"))
          .otherwise(least(col("w_hi"), greatest(col("w_lo"),
            col(valueCol).cast("double")))))
      .drop("w_lo", "w_hi")
  }

  /** Welch t statistic from the two groups' moments:
    * t = (m1-m2)/sqrt(v1/n1 + v2/n2). */
  def welchT(m1: Column, v1: Column, n1: Column,
             m2: Column, v2: Column, n2: Column): Column =
    (m1 - m2) / sqrt(v1 / n1 + v2 / n2)

  /** HyperLogLog distinct-count sketch per key (Flajolet et al. 2007)
    * over a 32-bit md5 hash: register index = top `p` hash bits,
    * rank rho = position of the leftmost 1-bit in the remaining
    * `32 - p` bits (rho = 33 - p when they are all zero). Complements
    * the KMV sketch (q49): HLL registers are fixed-size (2^p bytes-ish
    * per key vs k hashes), merge by element-wise max, and estimate
    * via the harmonic mean alpha_m * m^2 / sum(2^-rho_j).
    *
    * Scale shape: one partial-aggregated shuffle to (key, register) —
    * map-side combine collapses each partition to <= m rows per key
    * before the exchange — then one bounded (<= m rows per key)
    * aggregation to the register sum. Mergeable across corpora /
    * streaming micro-batches by construction (max of registers).
    *
    * Cross-engine determinism: the register index/rank are integer
    * bit ops on the md5 hash, and the harmonic sum is carried as the
    * EXACT integer sum of 2^(rmax+1-rho) (every term a power of two,
    * rmax+1 = 33-p bits max — the scaled sum fits well under 2^53), so
    * `reg_sum_p` is engine-independent and `est_raw` is a single IEEE
    * multiply+divide on identical operands. The bias corrections
    * (linear counting below 2.5m, the 32-bit saturation above 2^32/30)
    * go through ln — deterministic given identical inputs on one
    * platform but not pinned cross-libm, so oracle queries should hash
    * the raw columns and leave `est` to spec-level accuracy checks.
    *
    * Output: key, n_exact-free columns only — n_regs (non-zero
    * registers), reg_sum_p (integer harmonic sum scaled by
    * 2^(33-p)), est_raw, est (corrected).
    *
    * Composition: [[hllRegisters]] (the mergeable state) →
    * [[hllEstimate]]. */
  def hllDistinct(df: DataFrame, keyCol: String, valueCol: String,
                  p: Int = 8, salt: String = "hll"): DataFrame =
    hllEstimate(hllRegisters(df, keyCol, valueCol, p, salt), keyCol, p)

  /** The HLL register table for a batch of rows: (key, register j,
    * max rank r) — the mergeable sketch state (a few hundred rows per
    * key; the union of two tables is the element-wise max of `__r`
    * per (key, j)). */
  def hllRegisters(df: DataFrame, keyCol: String, valueCol: String,
                   p: Int = 8, salt: String = "hll"): DataFrame = {
    require(p >= 4 && p <= 16, s"p must be in [4,16], got $p")
    val rbits = 32 - p                    // width of the rank window
    val rmax = rbits + 1                  // rho when the window is 0
    val h = CurationOps.md5Hash32(
      concat(lit(s"$salt:"), col(valueCol).cast("string")))
    val w = pmod(h, lit(1L << rbits))
    df.select(col(keyCol).as("__k"),
        shiftright(h, rbits).as("__j"),
        when(w === 0, lit(rmax))
          .otherwise(lit(rmax) - length(bin(w))).as("__rho"))
      .groupBy(col("__k"), col("__j"))
      .agg(max(col("__rho")).as("__r"))
  }

  /** Pairwise set-OVERLAP estimation across keys by inclusion-
    * exclusion on HLL sketches: |A ∩ B| ≈ est(A) + est(B) -
    * est(A ∪ B), where the union sketch is the element-wise register
    * max — the join-cardinality / audience-overlap planning query,
    * answered from KEY-SIZED sketch state without ever joining the
    * raw sets. Produces every unordered key pair (key_a < key_b by
    * string order); nKeys is expected to be dimension-sized (the
    * pair expansion is nKeys^2 register-table rows, not data rows).
    *
    * Determinism: raw estimates only (single IEEE ops on exact
    * integer register sums — see [[hllDistinct]]); the subtraction
    * chain est_a + est_b - est_ab is IEEE-deterministic on identical
    * operands, so oracle queries can hash its e6. Standard-error
    * caveat: inclusion-exclusion differences inherit ~1.04/sqrt(m)
    * error of each term — small overlaps of large sets drown in
    * sketch noise (can go negative); clamp at 0 like any HLL
    * intersection. Output: key_a, key_b, reg_sum_a/b/ab (exact
    * integers), inter_raw (clamped raw-estimate difference). */
  def hllIntersect(regs: DataFrame, keyCol: String, p: Int = 8)
      : DataFrame = {
    require(p >= 4 && p <= 16, s"p must be in [4,16], got $p")
    val ra = regs.select(col("__k").as("__ka"), col("__j"),
      col("__r").as("__rha"))
    val rb = regs.select(col("__k").as("__kb"), col("__j"),
      col("__r").as("__rhb"))
    // full outer per (pair, j): a register may be live in only one
    // side; the union takes the max of present sides
    val joined = ra.join(rb, Seq("__j"))
      .filter(col("__ka") < col("__kb"))
    val m = 1 << p
    val rmax = 32 - p + 1
    val full = 1L << rmax
    val alpha =
      if (m >= 128) 0.7213 / (1.0 + 1.079 / m)
      else if (m == 64) 0.709
      else if (m == 32) 0.697
      else 0.673
    // NOTE this equi-join keeps only registers live on BOTH sides;
    // one-sided registers are folded in via the per-side sums below.
    val both = joined.groupBy(col("__ka"), col("__kb"))
      .agg(
        sum(expr(s"CAST(shiftleft(1, $rmax - greatest(__rha, __rhb)) AS BIGINT)"))
          .as("__spab"),
        sum(expr(s"CAST(shiftleft(1, $rmax - __rha) AS BIGINT)"))
          .as("__spa_b"),
        sum(expr(s"CAST(shiftleft(1, $rmax - __rhb) AS BIGINT)"))
          .as("__spb_b"),
        count(lit(1)).as("__nb"))
    // per-key totals over ALL live registers (broadcast-sized)
    val tot = regs.groupBy(col("__k"))
      .agg(count(lit(1)).as("__n"),
        sum(expr(s"CAST(shiftleft(1, $rmax - __r) AS BIGINT)"))
          .as("__sp"))
    val ta = tot.select(col("__k").as("__ka"), col("__n").as("__na"),
      col("__sp").as("__spa"))
    val tb = tot.select(col("__k").as("__kb"), col("__n").as("__nb2"),
      col("__sp").as("__spb"))
    // union sketch sum = both-live max terms + one-sided terms +
    // 2^rmax per register live on neither side
    val out = both.join(broadcast(ta), "__ka").join(broadcast(tb), "__kb")
      .withColumn("reg_sum_a",
        col("__spa") + (lit(m.toLong) - col("__na")) * lit(full))
      .withColumn("reg_sum_b",
        col("__spb") + (lit(m.toLong) - col("__nb2")) * lit(full))
      .withColumn("reg_sum_ab",
        col("__spab") +
          (col("__spa") - col("__spa_b")) +   // live only in a
          (col("__spb") - col("__spb_b")) +   // live only in b
          (lit(m.toLong) - col("__na") - col("__nb2") + col("__nb")) *
            lit(full))                        // live in neither
    val scale = m.toDouble * m.toDouble * full.toDouble
    def raw(c: Column): Column = lit(alpha) * lit(scale) / c.cast("double")
    out.select(col("__ka").as("key_a"), col("__kb").as("key_b"),
      col("reg_sum_a"), col("reg_sum_b"), col("reg_sum_ab"),
      greatest(lit(0.0),
        raw(col("reg_sum_a")) + raw(col("reg_sum_b")) -
          raw(col("reg_sum_ab"))).as("inter_raw"))
  }

  /** Binned two-sample Kolmogorov–Smirnov drift statistic, each key
    * vs the REST of the data (leave-one-out): the distribution-shift
    * screen between corpus slices (per-source length distributions,
    * per-snapshot quality drift) that [[graft.operators.CurationOps]]'
    * KL divergence (q87) complements — KS is the sup-norm CDF gap, so
    * it catches location/shape shifts that bucket-frequency KL
    * smoothes over.
    *
    * Exactness: values bin by INTEGER width ((hi-lo) div bins + 1 —
    * two driver scalars), CDFs are exact integer counts, and the gap
    * compares by cross-multiplication — ks_num = max_b
    * |C_key(b) * n_rest - C_rest(b) * n_key| — so every output column
    * except the final convenience ratio is an exact integer, and the
    * ratio is one IEEE division on exact operands. `ks_e6` =
    * round(1e6 * ks_num / (n_key * n_rest)) — the classical binned
    * D statistic in micro-units.
    *
    * Scale shape: one (key, bin)-keyed partial-aggregated count, a
    * broadcast (keys x bins) dense grid (dimension-sized), per-key
    * cumulative windows over <= bins rows. The raw table is scanned
    * once. Requires a non-null integer-ish value column. */
  def ksDrift(df: DataFrame, keyCol: String, valueCol: String,
              bins: Int = 32): DataFrame = {
    require(bins > 0, s"bins must be positive, got $bins")
    val vals = df.filter(col(valueCol).isNotNull)
      .select(col(keyCol).as("__k"), col(valueCol).cast("long").as("__v"))
    val gRow = vals.agg(min(col("__v")), max(col("__v"))).head()
    if (gRow.isNullAt(0)) return vals.limit(0)
      .select(col("__k").as(keyCol), lit(0L).as("n_key"),
        lit(0L).as("n_rest"), lit(0L).as("ks_num"), lit(0.0).as("ks"))
    val lo = gRow.getLong(0)
    val width = math.max((gRow.getLong(1) - lo) / bins + 1, 1L)
    ksFromBinCounts(ksBinCounts(df, keyCol, valueCol, lo, width), keyCol)
  }

  /** Rand index between two clusterings of the same items (Rand 1971)
    * — the cross-view validation score: do text-derived communities
    * agree with embedding-space clusters / labels? Computed from the
    * contingency table by pair counting: with a = sum_ij C(n_ij, 2),
    * r = sum_i C(n_i., 2), c = sum_j C(n_.j, 2), T = C(N, 2), the
    * index is (T + 2a - r - c) / T — all exact integers and one IEEE
    * division, so the e6 pin is engine-independent.
    *
    * Scale shape: one id-keyed join, one (labelA, labelB)-keyed count
    * (contingency cells — label-pair-sized, tiny), then three
    * one-row aggregates combined by broadcast. Items present in only
    * one clustering are excluded (inner join). Output: one row —
    * n_items, a_pairs, row_pairs, col_pairs, total_pairs, rand. */
  def randIndex(a: DataFrame, idA: String, labA: String,
                b: DataFrame, idB: String, labB: String): DataFrame = {
    val j = a.select(col(idA).cast("long").as("__id"),
        col(labA).cast("long").as("__la"))
      .join(b.select(col(idB).cast("long").as("__id"),
        col(labB).cast("long").as("__lb")), "__id")
    val cells = j.groupBy(col("__la"), col("__lb"))
      .agg(count(lit(1)).as("__n"))
    val st = cells.agg(sum(col("__n")).as("__nt"),
      sum(col("__n") * (col("__n") - 1)).as("__sc"))
    val rt = cells.groupBy(col("__la")).agg(sum(col("__n")).as("__nr"))
      .agg(sum(col("__nr") * (col("__nr") - 1)).as("__sr"))
    val ct = cells.groupBy(col("__lb")).agg(sum(col("__n")).as("__nc"))
      .agg(sum(col("__nc") * (col("__nc") - 1)).as("__scc"))
    st.crossJoin(broadcast(rt)).crossJoin(broadcast(ct))
      .select(col("__nt").as("n_items"),
        expr("__sc DIV 2").as("a_pairs"),
        expr("__sr DIV 2").as("row_pairs"),
        expr("__scc DIV 2").as("col_pairs"),
        expr("(__nt * (__nt - 1)) DIV 2").as("total_pairs"))
      .withColumn("rand",
        (col("total_pairs") + lit(2L) * col("a_pairs") -
          col("row_pairs") - col("col_pairs")).cast("double") /
          col("total_pairs").cast("double"))
  }

  /** The mergeable state behind [[ksDrift]]: per-(key, bin) counts
    * under a FIXED (lo, width) binning. Counts merge by SUM, so a
    * persisted table folds streaming micro-batches / corpus deltas
    * without rescanning old data (pin lo/width up front from a
    * reference sample — the monitor-over-time contract requires a
    * stable grid anyway). */
  def ksBinCounts(df: DataFrame, keyCol: String, valueCol: String,
                  lo: Long, width: Long): DataFrame = {
    require(width > 0, s"width must be positive, got $width")
    df.filter(col(valueCol).isNotNull)
      .select(col(keyCol).as("__k"), col(valueCol).cast("long").as("__v"))
      .withColumn("__b", expr(s"(__v - ${lo}L) DIV ${width}L"))
      .groupBy(col("__k"), col("__b")).agg(count(lit(1)).as("__c"))
  }

  /** The KS statistic from a bin-count table — see [[ksDrift]] for
    * the exactness contract. */
  def ksFromBinCounts(perKB: DataFrame, keyCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // dense (key x live-bin) grid so a key missing a bin still sees
    // the rest-CDF move there — both sides are dimension-sized
    val keys = perKB.select(col("__k")).distinct()
    val binTot = perKB.groupBy(col("__b")).agg(sum(col("__c")).as("__tc"))
    val grid = keys.crossJoin(broadcast(binTot))
      .join(perKB, Seq("__k", "__b"), "left")
      .withColumn("__c", coalesce(col("__c"), lit(0L)))
    val byBin = Window.partitionBy(col("__k")).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val whole = Window.partitionBy(col("__k"))
    val cum = grid
      .withColumn("__ck", sum(col("__c")).over(byBin))
      .withColumn("__ct", sum(col("__tc")).over(byBin))
      .withColumn("__nk", sum(col("__c")).over(whole))
      .withColumn("__nt", sum(col("__tc")).over(whole))
    cum
      .withColumn("__gap",
        abs(col("__ck") * (col("__nt") - col("__nk")) -
          (col("__ct") - col("__ck")) * col("__nk")))
      .groupBy(col("__k"))
      .agg(max(col("__nk")).as("n_key"),
        (max(col("__nt")) - max(col("__nk"))).as("n_rest"),
        max(col("__gap")).as("ks_num"))
      .select(col("__k").as(keyCol), col("n_key"), col("n_rest"),
        col("ks_num"),
        (col("ks_num").cast("double") /
          (col("n_key") * col("n_rest")).cast("double")).as("ks"))
  }

  /** Estimate from a register table (see [[hllDistinct]] for the
    * determinism contract of each output column). */
  def hllEstimate(regs: DataFrame, keyCol: String, p: Int = 8)
      : DataFrame = {
    require(p >= 4 && p <= 16, s"p must be in [4,16], got $p")
    val m = 1 << p
    val rmax = 32 - p + 1
    val alpha =
      if (m >= 128) 0.7213 / (1.0 + 1.079 / m)
      else if (m == 64) 0.709
      else if (m == 32) 0.697
      else 0.673
    // scaled-sum constant: each register contributes 2^(rmax - rho),
    // an exact integer; a zero register contributes 2^rmax.
    val full = 1L << rmax
    val sums = regs
      .groupBy(col("__k"))
      .agg(count(lit(1)).as("n_regs"),
        sum(expr(s"CAST(shiftleft(1, $rmax - __r) AS BIGINT)"))
          .as("__sp"))
      .withColumn("reg_sum_p",
        col("__sp") + (lit(m.toLong) - col("n_regs")) * lit(full))
    // est_raw = alpha * m^2 / (reg_sum_p / 2^rmax)
    //         = alpha * (m^2 * 2^rmax) / reg_sum_p
    val scale = m.toDouble * m.toDouble * full.toDouble
    val raw = lit(alpha) * lit(scale) / col("reg_sum_p").cast("double")
    val zeros = lit(m.toLong) - col("n_regs")
    val two32 = 4294967296.0
    sums
      .withColumn("est_raw", raw)
      .withColumn("est",
        when(col("est_raw") <= lit(2.5 * m) && zeros > 0,
          lit(m.toDouble) * log(lit(m.toDouble) / zeros.cast("double")))
        .when(col("est_raw") > lit(two32 / 30.0),
          lit(-two32) * log(lit(1.0) - col("est_raw") / lit(two32)))
        .otherwise(col("est_raw")))
      .select(col("__k").as(keyCol), col("n_regs"), col("reg_sum_p"),
        col("est_raw"), col("est"))
  }

  /** Per-group chi-squared goodness-of-fit against the global
    * distribution of a binned integer value — "which sources' length
    * (or score) distributions deviate from the corpus". Values land
    * in `nBins` fixed-width buckets (last bucket open-ended), the
    * expected count is the global bin share scaled to the group size,
    * and the statistic sums (o - e)^2 / e over every bin the corpus
    * populates (absent group bins count o = 0).
    *
    * Engine determinism: bin counts are exact integers; each bin's
    * term is a fixed IEEE op sequence; and the per-group sum folds
    * over bins IN BIN ORDER (array_sort + left-to-right aggregate,
    * never a float SUM whose partial order floats) — the same
    * discipline as the centroid cosine ops. Group/bin grids are
    * bounded (groups x nBins), so the dense frame broadcasts.
    *
    * Output: group, n (group rows), n_bins (populated corpus bins —
    * df+1 for the test), chi2 (double; pin at the call site). */
  def chi2GoodnessOfFit(df: DataFrame, groupCol: String,
                        valueCol: Column, nBins: Int,
                        binWidth: Long): DataFrame = {
    require(nBins >= 2 && binWidth >= 1,
      s"bad nBins=$nBins or binWidth=$binWidth")
    // DIV, not `/`: Column `/` on longs is double division (rounds
    // past 2^53); integral DIV mirrors DuckDB's `//` exactly.
    // Clamped on BOTH ends: negative values land in bin 0 rather
    // than minting negative bin ids outside the documented grid.
    val binned = df
      .select(col(groupCol).as("group"), valueCol.cast("long").as("__v"))
      .select(col("group"),
        greatest(lit(0L),
          least(expr(s"__v DIV $binWidth"), lit(nBins - 1L))).as("bin"))
    val obs = binned.groupBy(col("group"), col("bin"))
      .agg(count(lit(1)).as("o"))
    // Fused shape (r7): the corpus bin-total grid is bounded
    // (<= nBins rows), so it collapses to ONE broadcast row of a
    // bin-sorted (bin, g) array + N, and each group's bins fold into
    // a lookup map in the same pass that sums n — two aggregates and
    // a single tiny broadcast instead of the former 3-aggregate
    // 4-join dense frame (isolated q154 2x regression, VERDICT r6).
    // The per-bin IEEE op sequence and the bin-ordered left fold are
    // IDENTICAL to the previous dense form, so pinned chi2_e6 values
    // (and the DuckDB oracle replay) are unchanged bit-for-bit.
    val corpus = obs.groupBy(col("bin")).agg(sum(col("o")).as("g"))
      .agg(array_sort(collect_list(struct(col("bin"), col("g"))))
          .as("__gb"),
        sum(col("g")).as("__N"))
    val per = obs.groupBy(col("group"))
      .agg(sum(col("o")).as("n"),
        map_from_entries(collect_list(struct(col("bin"), col("o"))))
          .as("__om"))
    per.crossJoin(broadcast(corpus))
      .withColumn("chi2",
        aggregate(col("__gb"), lit(0.0d), (acc, x) => {
          val o = coalesce(element_at(col("__om"), x.getField("bin")),
            lit(0L)).cast("double")
          val e = x.getField("g").cast("double") * col("n") /
            col("__N")
          acc + (o - e) * (o - e) / e
        }))
      .select(col("group"), col("n"),
        size(col("__gb")).cast("long").as("n_bins"), col("chi2"))
  }

  /** Per-group Population Stability Index against the global
    * distribution of a binned integer value — the drift metric risk
    * teams bucket alongside KS ([[ksBinCounts]]) and chi-squared
    * ([[chi2GoodnessOfFit]]): psi = sum_bins (p_i - q_i) *
    * ln(p_i / q_i) with p the group's bin share and q the global
    * share, additively smoothed (`alpha` per bin) so empty group
    * bins stay finite. Conventional reading: < 0.1 stable, 0.1-0.25
    * drifting, > 0.25 broken.
    *
    * Same scale + determinism discipline as [[chi2GoodnessOfFit]]
    * (this is one more derived column on the identical dense-grid
    * shape): bins clamped to [0, nBins-1], exact integer counts, per
    * term a fixed IEEE op sequence, per-group sum folded IN BIN
    * ORDER. ln is the one transcendental — both engines' libm agree
    * on the fixture scale (the q87 KL precedent).
    *
    * Output: group, n, n_bins, psi (double; pin at call site). */
  def psiDrift(df: DataFrame, groupCol: String, valueCol: Column,
               nBins: Int, binWidth: Long,
               alpha: Double = 0.5): DataFrame = {
    require(nBins >= 2 && binWidth >= 1 && alpha > 0,
      s"bad nBins=$nBins binWidth=$binWidth alpha=$alpha")
    val binned = df
      .select(col(groupCol).as("group"), valueCol.cast("long").as("__v"))
      .select(col("group"),
        greatest(lit(0L),
          least(expr(s"__v DIV $binWidth"), lit(nBins - 1L))).as("bin"))
    val obs = binned.groupBy(col("group"), col("bin"))
      .agg(count(lit(1)).as("o"))
    val gb = obs.groupBy(col("bin")).agg(sum(col("o")).as("g"))
    val ns = obs.groupBy(col("group")).agg(sum(col("o")).as("n"))
    val total = gb.agg(sum(col("g")).as("__N"),
      count(lit(1)).as("__B"))
    val dense = ns.crossJoin(broadcast(gb))
      .join(obs, Seq("group", "bin"), "left")
      .crossJoin(broadcast(total))
      .withColumn("__p",
        (coalesce(col("o"), lit(0L)).cast("double") + lit(alpha)) /
          (col("n").cast("double") + lit(alpha) * col("__B")))
      .withColumn("__q",
        (col("g").cast("double") + lit(alpha)) /
          (col("__N").cast("double") + lit(alpha) * col("__B")))
      .withColumn("__t",
        (col("__p") - col("__q")) * log(col("__p") / col("__q")))
    dense.groupBy(col("group"))
      .agg(max(col("n")).as("n"), count(lit(1)).as("n_bins"),
        array_sort(collect_list(struct(col("bin"), col("__t"))))
          .as("__bt"))
      .withColumn("psi",
        aggregate(col("__bt"), lit(0.0d),
          (a, x) => a + x.getField("__t")))
      .select(col("group"), col("n"), col("n_bins"), col("psi"))
  }

  /** Per-group robust (median/MAD) outlier detection — the
    * heavy-tail-safe companion to mean/sd z-scores (one wild
    * document inflates sd and hides every other outlier; the median
    * absolute deviation doesn't budge): a row is an outlier when
    * |x - median| > cutoff * 1.4826 * MAD (1.4826 = 1/Φ⁻¹(3/4), the
    * consistency constant making MAD estimate sd under normality).
    *
    * Uses the exact type-7 `percentile` aggregate per group twice
    * (values, then absolute deviations) — the q44 precedent, whose
    * per-group buffer caveat is documented on [[sampledQuantiles]];
    * swap in the KMV-sampled quantiles for groups that don't fit an
    * aggregation buffer at 100 TB. A zero-MAD group (over half the
    * values identical) reports outliers as values NOT EQUAL to the
    * median — the conventional degenerate-MAD fallback, and exact
    * on integer inputs.
    *
    * Output per group: n, med, mad, n_out, out_frac (double — pin at
    * the call site). */
  def madOutliers(df: DataFrame, groupCol: String, valueCol: Column,
                  cutoff: Double = 3.0): DataFrame = {
    require(cutoff > 0, s"cutoff must be > 0, got $cutoff")
    val base = df.select(col(groupCol).as("group"),
        valueCol.cast("double").as("__v"))
      .filter(col("__v").isNotNull)
      .localCheckpoint(false)
    val med = base.groupBy(col("group"))
      .agg(percentile(col("__v"), lit(0.5)).as("med"))
    val dev = base.join(med, "group")
      .withColumn("__d", abs(col("__v") - col("med")))
    val mad = dev.groupBy(col("group"))
      .agg(max(col("med")).as("med"),
        percentile(col("__d"), lit(0.5)).as("mad"),
        count(lit(1)).as("n"))
    dev.drop("med").join(mad, "group")
      .withColumn("__out",
        when(col("mad") > 0,
          col("__d") > lit(cutoff) * lit(1.4826) * col("mad"))
          .otherwise(col("__d") > 0))
      .groupBy(col("group"))
      .agg(max(col("n")).as("n"), max(col("med")).as("med"),
        max(col("mad")).as("mad"),
        sum(when(col("__out"), 1L).otherwise(0L)).as("n_out"))
      .withColumn("out_frac",
        col("n_out").cast("double") / col("n"))
  }

  /** CUSUM change-point detection per key: over an ordered series the
    * cumulative sum of deviations from the key's mean peaks (in
    * absolute value) at the most likely single shift point (Page's
    * CUSUM, the batch form). valueCol must be integral: the statistic
    * is computed in EXACT integer arithmetic — n·prefix_i − i·S equals
    * n·(prefix_i − i·mean), so the argmax never touches a double and
    * cannot diverge on windowed-sum fold order (a double prefix sum is
    * a left fold on Spark but a segment tree in DuckDB). Scale shape:
    * one groupBy for the per-key totals (broadcast back — one row per
    * key), one key-partitioned ordered window for the prefix sum, one
    * more for the argmax — no unpartitioned exchange. Ties on the
    * scaled |cusum| break toward the earliest point.
    *
    * Output per key: key, change_point (orderCol value at the peak),
    * cusum (= scaled/n, one exact-long division — deterministic
    * double; pin at the call site), n_points. */
  def cusumChangepoint(df: DataFrame, keyCol: String, orderCol: String,
                       valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = df.groupBy(col(keyCol))
      .agg(sum(col(valueCol).cast("long")).as("__s"),
        count(lit(1)).as("n_points"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col(orderCol))
    val cu = df.join(broadcast(m), keyCol)
      .withColumn("__i", row_number().over(w))
      .withColumn("__scaled",
        sum(col(valueCol).cast("long")).over(w) * col("n_points") -
          col("__i") * col("__s"))
    val r = Window.partitionBy(col(keyCol))
      .orderBy(abs(col("__scaled")).desc, col(orderCol))
    cu.withColumn("__rn", row_number().over(r))
      .filter(col("__rn") === 1)
      .select(col(keyCol), col(orderCol).as("change_point"),
        (col("__scaled").cast("double") / col("n_points").cast("double"))
          .as("cusum"),
        col("n_points"))
  }

  /** Benford first-significant-digit screen: observed vs expected
    * log10(1 + 1/d) digit shares and the chi-squared contribution per
    * digit — the classic fraud / synthetic-data quality test. Only
    * values >= 1 participate (first digit of |x| < 1 depends on
    * fractional rendering). The digit comes from
    * floor(v / 10^floor(log10 v)) with the two power-of-ten guard
    * cases (0 and 10 — reachable only when log10 lands on the wrong
    * side of an integer boundary at last-ulp) both mapped to 1, so a
    * cross-engine ulp disagreement at exactly 10^k cannot diverge.
    * Pure scan + 9-row aggregate: one shuffle.
    *
    * Output per digit 1..9: digit, n_obs, obs_share, exp_share,
    * chi2_contrib (doubles — pin at the call site). */
  def benfordFirstDigit(df: DataFrame, valueCol: Column): DataFrame = {
    val v = valueCol.cast("double")
    val raw = floor(v / pow(lit(10.0), floor(log10(v)))).cast("long")
    val digit = when(raw === 0L || raw === 10L, 1L).otherwise(raw)
    val perDigit = df.filter(v >= 1.0)
      .select(digit.as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
    val tot = perDigit.agg(sum(col("n_obs")).as("__n"))
    perDigit.crossJoin(broadcast(tot))
      .withColumn("exp_share",
        log10(lit(1.0) + lit(1.0) / col("digit").cast("double")))
      .withColumn("obs_share", col("n_obs").cast("double") / col("__n"))
      .withColumn("chi2_contrib", {
        val expN = col("exp_share") * col("__n").cast("double")
        (col("n_obs").cast("double") - expN) * (col("n_obs").cast("double") - expN) / expN
      })
      .select(col("digit"), col("n_obs"), col("obs_share"),
        col("exp_share"), col("chi2_contrib"))
  }

  /** Exponential goodness-of-fit per key: MLE rate from inter-arrival
    * gaps (lambda = n / sum(gaps) — the sum stays an exact integer in
    * the source time unit, so lambda is bit-deterministic across
    * engines and fold orders) and the Kolmogorov-Smirnov distance
    * between the empirical gap CDF and the fitted 1 - exp(-lambda x).
    * Ties among equal gaps cannot move the statistic: within a tie
    * group the upper-side max is attained at the largest rank and the
    * lower-side at the smallest, both present under any tie order.
    * Scale shape: two key-partitioned windows (lag + rank) and one
    * aggregate — no unpartitioned exchange.
    *
    * `unitPerSecond` converts the integer time unit to seconds (1e9
    * for nanos). Output per key: key, n_gaps, mean_gap_s, rate_hz, ks
    * (doubles — pin at the call site). */
  def exponentialFitKs(df: DataFrame, keyCol: String, tsCol: String,
                       tieCol: String,
                       unitPerSecond: Double = 1e9): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wo = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(tieCol))
    val gaps = df
      .withColumn("__prev", lag(col(tsCol), 1).over(wo))
      .filter(col("__prev").isNotNull)
      .select(col(keyCol),
        (col(tsCol) - col("__prev")).cast("long").as("__gap"))
    val stats = gaps.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_gaps"), sum(col("__gap")).as("__sum"))
    val wr = Window.partitionBy(col(keyCol))
      .orderBy(col("__gap"))
    gaps.withColumn("__i", row_number().over(wr))
      .join(broadcast(stats), keyCol)
      .filter(col("__sum") > 0L)
      .withColumn("__lambda",
        col("n_gaps").cast("double") * lit(unitPerSecond) /
          col("__sum").cast("double"))
      .withColumn("__fit",
        lit(1.0) - exp(-col("__lambda") * col("__gap").cast("double") /
          lit(unitPerSecond)))
      .withColumn("__d", greatest(
        col("__i").cast("double") / col("n_gaps") - col("__fit"),
        col("__fit") - (col("__i") - 1L).cast("double") / col("n_gaps")))
      .groupBy(col(keyCol))
      .agg(max(col("n_gaps")).as("n_gaps"),
        (max(col("__sum")).cast("double") / max(col("n_gaps")).cast("double") /
          lit(unitPerSecond)).as("mean_gap_s"),
        max(col("__lambda")).as("rate_hz"),
        max(col("__d")).as("ks"))
  }

  /** Mann-Whitney U (Wilcoxon rank-sum) two-sample test with the
    * normal approximation and tie correction. Ranks are never
    * materialized per row: values collapse to per-distinct-value
    * groups first (one hash aggregate), and the average rank of a tie
    * group is before + (t+1)/2 from a prefix sum over the DISTINCT
    * value table — the only ordered exchange is over distinct values,
    * not rows (the q49/q152 bounded-prefix-sum convention; for a
    * 100-TB column the distinct table is what a rank test has to
    * scan anyway, and the same two-stage bucket split applies if it
    * grows). All partial sums are exact: integer counts, tie term
    * t³−t integer, and R1 accumulates half-integers (exact in
    * doubles far past 2^52/2).
    *
    * Output (one row): n1, n2, u1, z (doubles — pin at the call
    * site); z uses sigma² = n1·n2/12 · ((n+1) − Σ(t³−t)/(n(n−1))). */
  def mannWhitneyU(df: DataFrame, valueCol: Column,
                   isA: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = df.select(valueCol.cast("double").as("__v"),
        when(isA, 1L).otherwise(0L).as("__a"))
      .groupBy(col("__v"))
      .agg(count(lit(1)).as("__t"), sum(col("__a")).as("__ta"))
    val w = Window.orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val agg = g
      .withColumn("__before", coalesce(sum(col("__t")).over(w), lit(0L)))
      .agg(sum(col("__t")).as("n"), sum(col("__ta")).as("n1"),
        sum(col("__ta").cast("double") *
          (col("__before").cast("double") +
            (col("__t") + 1L).cast("double") / 2.0)).as("r1"),
        sum(col("__t") * col("__t") * col("__t") - col("__t"))
          .as("tie_t"))
    agg
      .withColumn("n2", col("n") - col("n1"))
      .withColumn("u1",
        col("r1") - (col("n1") * (col("n1") + 1L)).cast("double") / 2.0)
      .withColumn("__mu", (col("n1") * col("n2")).cast("double") / 2.0)
      .withColumn("__sig2",
        (col("n1") * col("n2")).cast("double") / 12.0 *
          ((col("n") + 1L).cast("double") -
            col("tie_t").cast("double") /
              (col("n") * (col("n") - 1L)).cast("double")))
      .select(col("n1"), col("n2"), col("u1"),
        ((col("u1") - col("__mu")) / sqrt(col("__sig2"))).as("z"))
  }

  /** CUPED variance reduction (Deng et al. 2013, "Improving the
    * sensitivity of online controlled experiments"): adjust each
    * unit's experiment-period metric by its pre-period covariate,
    * post' = post - theta * (pre - mean(pre)), with theta =
    * cov(pre, post) / var(pre) estimated POOLED across all arms (the
    * standard choice — theta must not depend on assignment). Moments
    * use the explicit avg-of-products form on both engines so the
    * expression shape (not each engine's var_pop algorithm) defines
    * the result. Scale shape: the pooled moments are a 1-row
    * broadcast; everything else is per-arm partial aggregation.
    *
    * Input: one row per unit with (armCol, preCol, postCol). Output
    * per arm: arm, n_units, mean_post, var_post, var_adj,
    * var_reduction = 1 - var_adj/var_post (doubles — pin at the call
    * site). */
  def cuped(perUnit: DataFrame, armCol: String, preCol: String,
            postCol: String): DataFrame = {
    val pre = col(preCol).cast("double")
    val post = col(postCol).cast("double")
    val pooled = perUnit.agg(
      avg(pre).as("__mpre"), avg(post).as("__mpost"),
      avg(pre * pre).as("__mpre2"), avg(pre * post).as("__mprepost"))
      .select(col("__mpre"),
        ((col("__mprepost") - col("__mpre") * col("__mpost")) /
          (col("__mpre2") - col("__mpre") * col("__mpre"))).as("__theta"))
    perUnit.crossJoin(broadcast(pooled))
      .withColumn("__adj",
        post - col("__theta") * (pre - col("__mpre")))
      .groupBy(col(armCol).as("arm"))
      .agg(count(lit(1)).as("n_units"),
        avg(post).as("mean_post"),
        (avg(post * post) - avg(post) * avg(post)).as("var_post"),
        (avg(col("__adj") * col("__adj")) -
          avg(col("__adj")) * avg(col("__adj"))).as("var_adj"))
      .withColumn("var_reduction",
        when(col("var_post") > 0.0,
          lit(1.0) - col("var_adj") / col("var_post")).otherwise(0.0))
  }

  /** Kaplan-Meier product-limit survival estimator from per-unit
    * (duration, observed) rows: S(t) = prod over event times t_i <= t
    * of (1 - d_i / n_i) with n_i = units still at risk (duration >=
    * t_i). The product is exp of a prefix sum of ln terms over the
    * DISTINCT duration table — one hash aggregate to collapse units,
    * one bounded ordered prefix sum (durations, not units — the
    * q49-style bounded-prefix-sum convention), no per-unit window. A
    * time where d = n_risk (everyone still at risk fails — only
    * reachable at the LAST event time, since any later row would need
    * n_risk = 0 yet contain units) is emitted as surv = 0 exactly
    * rather than via ln(0), whose value differs across engines
    * (Spark: NULL, DuckDB: -Inf).
    *
    * Output per event time (d > 0 only): duration, n_risk, d_events,
    * c_censored, surv (double — pin at the call site). */
  def kaplanMeier(perUnit: DataFrame, durCol: String,
                  eventCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = perUnit
      .select(col(durCol).cast("long").as("__d"),
        when(col(eventCol).cast("boolean"), 1L).otherwise(0L).as("__e"))
      .groupBy(col("__d"))
      .agg(count(lit(1)).as("__n"), sum(col("__e")).as("d_events"))
    val wBefore = Window.orderBy(col("__d"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wUpTo = Window.orderBy(col("__d"))
      .rowsBetween(Window.unboundedPreceding, 0)
    g.crossJoin(broadcast(g.agg(sum(col("__n")).as("__tot"))))
      .withColumn("n_risk",
        col("__tot") - coalesce(sum(col("__n")).over(wBefore), lit(0L)))
      .withColumn("surv",
        when(col("d_events") === col("n_risk"), lit(0.0))
          .otherwise(exp(sum(
            when(col("d_events") > 0L && col("d_events") < col("n_risk"),
              log(lit(1.0) - col("d_events").cast("double") /
                col("n_risk").cast("double"))).otherwise(lit(0.0)))
            .over(wUpTo))))
      .filter(col("d_events") > 0L)
      .select(col("__d").as("duration"), col("n_risk"), col("d_events"),
        (col("__n") - col("d_events")).as("c_censored"), col("surv"))
  }

  /** Market-basket association rules over (basket, item) pairs:
    * support / confidence / lift for every unordered item pair with at
    * least `minPairs` co-occurrences. Items dedup within basket first
    * (one hash aggregate), then the pair table comes from an equi-join
    * of the distinct-item table with itself ON THE BASKET KEY with
    * a < b — co-partitioned on basket, output bounded by
    * (items-per-basket choose 2), never an all-pairs cross of the item
    * vocabulary. Item supports broadcast back (vocabulary-sized).
    *
    * Output: item_a, item_b, pair_n, n_a, n_b, n_baskets, support,
    * confidence (P(b|a)), lift (doubles — pin at the call site). */
  def pairLift(df: DataFrame, basketCol: String, itemCol: String,
               minPairs: Long = 1L): DataFrame = {
    // the distinct basket-item table feeds FOUR consumers (basket
    // count, item counts, both self-join sides) — materialize the
    // scan+distinct once
    val bi = df.select(col(basketCol).as("__b"), col(itemCol).as("__i"))
      .distinct()
      .localCheckpoint(false)
    val nBaskets = bi.agg(countDistinct(col("__b")).as("n_baskets"))
    val itemN = bi.groupBy(col("__i")).agg(count(lit(1)).as("__n"))
    val pairs = bi.join(
        bi.select(col("__b"), col("__i").as("__j")), Seq("__b"))
      .filter(col("__i") < col("__j"))
      .groupBy(col("__i").as("item_a"), col("__j").as("item_b"))
      .agg(count(lit(1)).as("pair_n"))
      .filter(col("pair_n") >= minPairs)
    pairs
      .join(broadcast(itemN.select(col("__i").as("item_a"),
        col("__n").as("n_a"))), Seq("item_a"))
      .join(broadcast(itemN.select(col("__i").as("item_b"),
        col("__n").as("n_b"))), Seq("item_b"))
      .crossJoin(broadcast(nBaskets))
      .withColumn("support",
        col("pair_n").cast("double") / col("n_baskets").cast("double"))
      .withColumn("confidence",
        col("pair_n").cast("double") / col("n_a").cast("double"))
      .withColumn("lift",
        col("pair_n").cast("double") * col("n_baskets").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double")))
      .select(col("item_a"), col("item_b"), col("pair_n"), col("n_a"),
        col("n_b"), col("n_baskets"), col("support"), col("confidence"),
        col("lift"))
  }

  /** Sample autocorrelation of an ordered series at lags 1..maxLag:
    * acf_k = sum_t (x_t - m)(x_{t+k} - m) / sum_t (x_t - m)^2 with the
    * full-series mean and denominator (the standard biased estimator).
    * Lagged pairs come from a self-equi-join on index difference (the
    * series side is an already-aggregated bounded table — e.g. daily
    * counts — so the join broadcasts; no per-row window, no
    * unpartitioned sort of the underlying data).
    *
    * Input: one row per series point (orderCol dense-unique, valueCol
    * numeric). Output per lag 1..maxLag: lag, n_pairs, acf (double —
    * pin at the call site). */
  def acfByLag(series: DataFrame, orderCol: String, valueCol: String,
               maxLag: Int): DataFrame = {
    val s = series.select(col(orderCol).cast("long").as("__t"),
      col(valueCol).cast("double").as("__x"))
    val m = s.agg(avg(col("__x")).as("__m"))
    val withM = s.crossJoin(broadcast(m))
    val denom = withM
      .agg(sum((col("__x") - col("__m")) * (col("__x") - col("__m")))
        .as("__den"))
    val b = withM.select(col("__t").as("__t2"), col("__x").as("__x2"))
    withM.join(broadcast(b),
        col("__t2") - col("__t") >= 1L &&
          col("__t2") - col("__t") <= lit(maxLag.toLong))
      .groupBy((col("__t2") - col("__t")).as("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum((col("__x") - col("__m")) * (col("__x2") - col("__m")))
          .as("__num"))
      .crossJoin(broadcast(denom))
      .select(col("lag"), col("n_pairs"),
        (col("__num") / col("__den")).as("acf"))
  }

  /** Stratified inverse-propensity-weighted treatment-effect estimate:
    * propensity e_s = treated share within each stratum (estimated from
    * the data — the classic plug-in), then Hajek-normalized weighted
    * means mean_t = sum(t·y/e)/sum(t/e) and mean_c =
    * sum((1-t)·y/(1-e))/sum((1-t)/(1-e)), ate = mean_t - mean_c.
    * Strata with a degenerate arm (e = 0 or 1) are excluded — their
    * counterfactual weight is undefined; n_excluded reports them.
    * Shape: one stratum aggregate (broadcast back) + one global
    * aggregate — no row-level window.
    *
    * Output (one row): n_units, n_strata, n_excluded, mean_t, mean_c,
    * ate (doubles — pin at the call site). */
  def ipwEstimate(df: DataFrame, treatCol: Column, stratumCol: Column,
                  outcomeCol: Column): DataFrame = {
    val u = df.select(when(treatCol, 1.0).otherwise(0.0).as("__t"),
      stratumCol.as("__s"), outcomeCol.cast("double").as("__y"))
    val strata = u.groupBy(col("__s"))
      .agg(avg(col("__t")).as("__e"), count(lit(1)).as("__sn"))
    u.join(broadcast(strata), Seq("__s"))
      .withColumn("__ok", col("__e") > 0.0 && col("__e") < 1.0)
      .agg(count(lit(1)).as("n_units"),
        countDistinct(col("__s")).as("n_strata"),
        countDistinct(when(!col("__ok"), col("__s"))).as("n_excluded"),
        sum(when(col("__ok"), col("__t") * col("__y") / col("__e"))
          .otherwise(0.0)).as("__ty"),
        sum(when(col("__ok"), col("__t") / col("__e")).otherwise(0.0))
          .as("__tw"),
        sum(when(col("__ok"),
          (lit(1.0) - col("__t")) * col("__y") / (lit(1.0) - col("__e")))
          .otherwise(0.0)).as("__cy"),
        sum(when(col("__ok"),
          (lit(1.0) - col("__t")) / (lit(1.0) - col("__e")))
          .otherwise(0.0)).as("__cw"))
      .select(col("n_units"), col("n_strata"), col("n_excluded"),
        (col("__ty") / col("__tw")).as("mean_t"),
        (col("__cy") / col("__cw")).as("mean_c"),
        (col("__ty") / col("__tw") - col("__cy") / col("__cw")).as("ate"))
  }

  /** Holt double-exponential smoothing (level + linear trend) over an
    * ordered series, initialized (l, b) = (x_1, x_1 - x_0) at the
    * second point, then for each later x:
    * l' = a·x + (1-a)(l + b); b' = g(l' - l) + (1-g)b.
    * The recursion is inherently sequential, so the bounded series
    * (e.g. daily totals — NOT raw rows) is collapsed to ONE array via
    * sort_array(collect_list(struct(t, x))) and folded once with the
    * aggregate HOF — the array is the only state, evaluated once (a
    * collection argument, per the CLAUDE.md lambda-body rule). The
    * h-step forecast is l + h·b.
    *
    * Output per horizon 1..hMax: h, level, trend, forecast (doubles —
    * pin at the call site; level/trend are the final smoothed state,
    * constant across rows). */
  def holtForecast(series: DataFrame, orderCol: String, valueCol: String,
                   alpha: Double, gamma: Double, hMax: Int): DataFrame = {
    val arr = series
      .agg(sort_array(collect_list(struct(
        col(orderCol).cast("long").as("t"),
        col(valueCol).cast("double").as("x")))).as("__s"))
      .select(transform(col("__s"), e => e.getField("x")).as("__xs"))
    val folded = arr.select(aggregate(
      slice(col("__xs"), lit(3), greatest(size(col("__xs")) - 2, lit(0))),
      struct(element_at(col("__xs"), 2).as("l"),
        (element_at(col("__xs"), 2) - element_at(col("__xs"), 1)).as("b")),
      (st, x) => {
        val lNew = lit(alpha) * x +
          lit(1.0 - alpha) * (st.getField("l") + st.getField("b"))
        struct(lNew.as("l"),
          (lit(gamma) * (lNew - st.getField("l")) +
            lit(1.0 - gamma) * st.getField("b")).as("b"))
      }).as("__st"))
    folded.select(col("__st").getField("l").as("l"),
        col("__st").getField("b").as("b"))
      .crossJoin(
        series.sparkSession.range(1, hMax + 1).select(col("id").as("h")))
      .select(col("h"), col("l").as("level"), col("b").as("trend"),
        (col("l") + col("h").cast("double") * col("b")).as("forecast"))
  }

  /** Binary-classifier evaluation from per-unit (pred, truth) boolean
    * columns: confusion counts plus accuracy / precision / recall / F1
    * / Matthews correlation in ONE map-side-combinable aggregate (four
    * conditional sums — no per-class shuffle, no window). Degenerate
    * denominators (no predicted positives, no actual positives, an
    * all-one-class truth for MCC) yield metric = 0 rather than NaN, so
    * the output is total and engine-independent.
    *
    * Output (one row): tp, fp, fn, tn, accuracy, precision, recall,
    * f1, mcc (doubles — pin at the call site). */
  def binaryEval(df: DataFrame, predCol: Column, truthCol: Column): DataFrame = {
    val p = predCol.cast("boolean")
    val t = truthCol.cast("boolean")
    val c = df.agg(
      sum(when(p && t, 1L).otherwise(0L)).as("tp"),
      sum(when(p && !t, 1L).otherwise(0L)).as("fp"),
      sum(when(!p && t, 1L).otherwise(0L)).as("fn"),
      sum(when(!p && !t, 1L).otherwise(0L)).as("tn"))
    def d(c: Column): Column = c.cast("double")
    val prec = when(col("tp") + col("fp") > 0L,
      d(col("tp")) / d(col("tp") + col("fp"))).otherwise(0.0)
    val rec = when(col("tp") + col("fn") > 0L,
      d(col("tp")) / d(col("tp") + col("fn"))).otherwise(0.0)
    val mccDen = d(col("tp") + col("fp")) * d(col("tp") + col("fn")) *
      d(col("tn") + col("fp")) * d(col("tn") + col("fn"))
    c.select(col("tp"), col("fp"), col("fn"), col("tn"),
        (d(col("tp") + col("tn")) /
          d(col("tp") + col("fp") + col("fn") + col("tn"))).as("accuracy"),
        prec.as("precision"), rec.as("recall"),
        when(prec + rec > 0.0, lit(2.0) * prec * rec / (prec + rec))
          .otherwise(0.0).as("f1"),
        when(mccDen > 0.0,
          (d(col("tp")) * d(col("tn")) - d(col("fp")) * d(col("fn"))) /
            sqrt(mccDen)).otherwise(0.0).as("mcc"))
  }

  /** Holt–Winters additive triple exponential smoothing over a
    * BOUNDED series (a daily/hourly grid — NOT raw events; the series
    * is collected into one array row, so its length must be
    * calendar-bounded). Initialization: level = mean of the first
    * period, trend = (mean of second period − mean of first) / period,
    * seasonals = first-period deviations; the recursion then folds
    * over observations [2·period, n) with a SQL `aggregate` lambda —
    * one pass, no driver loop, and the heavy part (building the daily
    * grid) stays a distributed aggregation upstream. Emits one row:
    * final `level`, `trend`, `seasonal` array (slot i = day index
    * ≡ i mod period), `n_fit`, and in-sample one-step `mae`.
    * Returns nulls for series shorter than 2·period + 1. */
  def holtWinters(daily: DataFrame, dayCol: String, valueCol: String,
                  alpha: Double, beta: Double, gamma: Double,
                  period: Int): DataFrame = {
    require(period >= 2, s"period must be >= 2, got $period")
    val p = period
    // Textual double literals: the DuckDB oracle interpolates the SAME
    // Scala-computed values, so both engines parse identical constants.
    val (a1, a2) = (s"${alpha}D", s"${1 - alpha}D")
    val (b1, b2) = (s"${beta}D", s"${1 - beta}D")
    val (g1, g2) = (s"${gamma}D", s"${1 - gamma}D")
    val slot = s"(CAST(element_at(acc, 4) AS INT) % $p)"
    val sEl = s"element_at(acc, 5 + $slot)"
    val lNew = s"($a1 * (x - $sEl) + $a2 * (element_at(acc, 1) + element_at(acc, 2)))"
    daily
      .agg(expr(s"transform(sort_array(collect_list(struct(" +
        s"$dayCol AS d, CAST($valueCol AS DOUBLE) AS v))), e -> e.v)")
        .as("a"))
      .withColumn("l0", expr(
        s"aggregate(slice(a, 1, $p), 0D, (s, x) -> s + x) / ${p}D"))
      .withColumn("t0", (expr(
        s"aggregate(slice(a, ${p + 1}, $p), 0D, (s, x) -> s + x) / ${p}D")
        - col("l0")) / lit(p.toDouble))
      .withColumn("state0", expr(
        s"concat(array(l0, t0, 0D, 0D), " +
          s"transform(slice(a, 1, $p), x -> x - l0))"))
      .withColumn("st", expr(
        s"""aggregate(slice(a, ${2 * p + 1}, greatest(0, size(a) - ${2 * p})), state0,
           |  (acc, x) -> transform(sequence(0, ${p + 3}), i -> CASE
           |    WHEN i = 0 THEN $lNew
           |    WHEN i = 1 THEN $b1 * ($lNew - element_at(acc, 1))
           |      + $b2 * element_at(acc, 2)
           |    WHEN i = 2 THEN element_at(acc, 3) + abs(x -
           |      (element_at(acc, 1) + element_at(acc, 2) + $sEl))
           |    WHEN i = 3 THEN element_at(acc, 4) + 1D
           |    WHEN i - 4 = $slot THEN $g1 * (x - $lNew) + $g2 * $sEl
           |    ELSE element_at(acc, i + 1) END))""".stripMargin))
      .select(
        when(expr(s"size(a) > ${2 * p}"), expr("element_at(st, 1)"))
          .as("level"),
        when(expr(s"size(a) > ${2 * p}"), expr("element_at(st, 2)"))
          .as("trend"),
        when(expr(s"size(a) > ${2 * p}"),
          expr("element_at(st, 3) / element_at(st, 4)")).as("mae"),
        expr("CAST(element_at(st, 4) AS BIGINT)").as("n_fit"),
        expr(s"slice(st, 5, $p)").as("seasonal"))
  }
}

/** Pure-Scala special functions for the t-distribution CDF — needed for
  * Welch p-values, which no built-in Spark expression provides.
  * Implemented from the standard continued-fraction form of the
  * regularized incomplete beta function (Abramowitz & Stegun 26.5.8 /
  * Numerical Recipes §6.4 formulas — public algorithms, re-derived).
  */
object SpecialFns {

  /** log Gamma via Lanczos approximation (g=7, n=9 coefficients). */
  def logGamma(xIn: Double): Double = {
    val g = 7.0
    val c = Array(
      0.99999999999980993, 676.5203681218851, -1259.1392167224028,
      771.32342877765313, -176.61502916214059, 12.507343278686905,
      -0.13857109526572012, 9.9843695780195716e-6, 1.5056327351493116e-7)
    if (xIn < 0.5) {
      // reflection: Gamma(x)Gamma(1-x) = pi/sin(pi x)
      math.log(math.Pi / math.sin(math.Pi * xIn)) - logGamma(1.0 - xIn)
    } else {
      val x = xIn - 1.0
      var a = c(0)
      val t = x + g + 0.5
      var i = 1
      while (i < 9) { a += c(i) / (x + i); i += 1 }
      0.5 * math.log(2 * math.Pi) + (x + 0.5) * math.log(t) - t + math.log(a)
    }
  }

  /** Continued fraction for the incomplete beta (Lentz's method). */
  private def betacf(a: Double, b: Double, x: Double): Double = {
    val MaxIter = 300
    val Eps = 3e-16
    val FpMin = 1e-300
    val qab = a + b; val qap = a + 1.0; val qam = a - 1.0
    var c = 1.0
    var d = 1.0 - qab * x / qap
    if (math.abs(d) < FpMin) d = FpMin
    d = 1.0 / d
    var h = d
    var m = 1
    var converged = false
    while (m <= MaxIter && !converged) {
      val m2 = 2 * m
      var aa = m * (b - m) * x / ((qam + m2) * (a + m2))
      d = 1.0 + aa * d; if (math.abs(d) < FpMin) d = FpMin
      c = 1.0 + aa / c; if (math.abs(c) < FpMin) c = FpMin
      d = 1.0 / d
      h *= d * c
      aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
      d = 1.0 + aa * d; if (math.abs(d) < FpMin) d = FpMin
      c = 1.0 + aa / c; if (math.abs(c) < FpMin) c = FpMin
      d = 1.0 / d
      val del = d * c
      h *= del
      if (math.abs(del - 1.0) < Eps) converged = true
      m += 1
    }
    h
  }

  /** Regularized incomplete beta I_x(a, b). */
  def betainc(a: Double, b: Double, x: Double): Double = {
    require(a > 0 && b > 0, s"betainc requires a,b > 0, got ($a, $b)")
    if (x <= 0.0) 0.0
    else if (x >= 1.0) 1.0
    else {
      val lbeta = logGamma(a + b) - logGamma(a) - logGamma(b) +
        a * math.log(x) + b * math.log1p(-x)
      val front = math.exp(lbeta)
      if (x < (a + 1.0) / (a + b + 2.0)) front * betacf(a, b, x) / a
      else 1.0 - front * betacf(b, a, 1.0 - x) / b
    }
  }

  /** Student-t CDF: P(T_df <= t). */
  def studentTCdf(t: Double, df: Double): Double = {
    if (t.isNaN || df.isNaN) Double.NaN
    else {
      val x = df / (df + t * t)
      val p = 0.5 * betainc(df / 2.0, 0.5, x)
      if (t > 0) 1.0 - p else p
    }
  }

  /** Welch t-test from the two groups' moments: the t statistic, the
    * Welch–Satterthwaite df, and the p-value of that t/df pair.
    * alternative: "less" -> P(T <= t), "greater" -> P(T >= t),
    * "two-sided" -> 2*P(T >= |t|) — matching scipy.stats.ttest_ind. */
  def welch(m1: Double, v1: Double, n1: Double,
            m2: Double, v2: Double, n2: Double,
            alternative: String): (Double, Double, Double) = {
    val se2 = v1 / n1 + v2 / n2
    val t = (m1 - m2) / math.sqrt(se2)
    val df = se2 * se2 /
      (v1 * v1 / (n1 * n1 * (n1 - 1)) + v2 * v2 / (n2 * n2 * (n2 - 1)))
    val p = alternative match {
      case "less"    => studentTCdf(t, df)
      case "greater" => 1.0 - studentTCdf(t, df)
      case _         => 2.0 * (1.0 - studentTCdf(math.abs(t), df))
    }
    (t, df, p)
  }
}
