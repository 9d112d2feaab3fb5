package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over embedding columns
  * (Array[Float]). Three paths:
  *
  *  - [[bruteForceTopK]]: exact cosine top-k with the (small) query set
  *    broadcast against the corpus — the corpus is scanned once with no
  *    corpus-side shuffle of vectors; only (query, candidate, score)
  *    tuples shuffle for the final top-k, so it scales linearly in
  *    corpus size. The right baseline, and correct at any scale where
  *    |queries| is modest.
  *  - [[lshTopK]]: sign-of-projection (hyperplane) LSH bucketing with a
  *    deterministic plan-time plane matrix, re-ranked exactly within
  *    buckets — the 100 TB path when the query set is itself huge
  *    (bucket join replaces the broadcast).
  *  - [[ivfTopK]]: IVF-style coarse quantizer cells + probes.
  *
  * All vector math is column expressions (zip_with/aggregate or the
  * codegen'd VectorDot), kept in double precision.
  *
  * Determinism: the hyperplanes and the IVF coarse quantizer are pure
  * functions of their parameters (md5-derived constants, inlined as
  * literals into the plan), so every operator here is reproducible
  * across engines — the DuckDB oracles inline the same constants.
  */
object SimilarityOps {

  /** Dot product via the codegen'd [[graft.functions.VectorDot]]
    * expression (same left-to-right summation order as the
    * higher-order-function form, so oracle parity is unaffected). */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExprs.vectorDot(
      a.cast("array<double>"), b.cast("array<double>"))

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = {
    val ad = a.cast("array<double>")
    val bd = b.cast("array<double>")
    dot(ad, bd) / (norm(ad) * norm(bd))
  }

  /** Deterministic pseudo-random hyperplane component for (plane p,
    * dimension i), as the integer c in [-50000, 49999]: first 4 bytes
    * of md5("plane-p-i") mod 100000, shifted. The double component is
    * c * 1e-5 — ONE fp operation on an exact integer, so an oracle
    * that inlines c and multiplies by 1e-5 reproduces the identical
    * IEEE double. Computed once at PLAN time and inlined as a literal —
    * no hashing at runtime. */
  def planeComponentInt(p: Int, i: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(s"plane-$p-$i".getBytes("UTF-8"))
    val u = ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
      ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
    u % 100000L - 50000L
  }

  def planeComponent(p: Int, i: Int): Double =
    planeComponentInt(p, i).toDouble * 1e-5

  /** The full plane matrix for (planes x dims). */
  def planeMatrix(planes: Int, dims: Int): Array[Array[Double]] =
    Array.tabulate(planes, dims)(planeComponent)

  /** Left-to-right fold dot product of a vector column against a
    * literal plane row (matches VectorDot summation order). */
  private def dotLit(v: Column, plane: Array[Double]): Column =
    aggregate(
      zip_with(v, lit(plane), (x, c) => x * c),
      lit(0.0d), (acc, x) => acc + x)

  /** LSH bucket id: `planes` sign bits packed into a long. `dims` must
    * match the embedding dimensionality (the plane matrix is a
    * plan-time literal). `planeOffset` selects an independent plane
    * set (global plane ids planeOffset until planeOffset+planes) so
    * banded schemes can derive per-band signatures from one family. */
  def hyperplaneBucket(v: Column, planes: Int, dims: Int,
                       planeOffset: Int = 0): Column = {
    (0 until planes).map { j =>
      val plane = Array.tabulate(dims)(planeComponent(planeOffset + j, _))
      when(dotLit(v.cast("array<double>"), plane) >= 0,
        shiftleft(lit(1L), j)).otherwise(0L)
    }.reduce(_ bitwiseOR _)
  }

  /** First-pass candidate cut WITHOUT a rank-window sort: a rank
    * window over the scored pairs sorts every (qid, nid, score) tuple
    * of the candidate cross-product through the shuffle; the bounded
    * [[graft.functions.TopKRows]] aggregate keeps ≤2n entries per
    * map-side partial and ships n-row states — per-query network cost
    * O(n x partitions) no matter how many candidates were scored.
    * Ordering contract is identical (score desc, nid asc), so
    * downstream results — and the oracles — are unchanged. */
  private def topCandidates(scored: DataFrame, scoreCol: String, n: Int)
      : DataFrame =
    scored.groupBy(col("qid"))
      .agg(graft.functions.TopKRows.topK(col(scoreCol), col("nid"), n)
        .as("top"))
      .select(col("qid"), explode(col("top")).as("t"))
      .select(col("qid"), col("t.id").as("nid"))

  /** Project (id, vector) with the vector cast to double and its norm
    * precomputed once — pairwise scoring then needs only the dot
    * product (1 array fold per pair instead of 3). */
  private def withNorm(df: DataFrame, idCol: String, vecCol: String,
                       idAs: String, vecAs: String, normAs: String)
      : DataFrame =
    df.select(col(idCol).as(idAs),
        col(vecCol).cast("array<double>").as(vecAs))
      .withColumn(normAs, norm(col(vecAs)))

  /** Exact cosine top-k: for each query vector, the k nearest corpus
    * vectors (self-matches excluded). Output: qid, nid, cos. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val c = withNorm(corpus, idCol, vecCol, "nid", "cv", "cn")
    val q = withNorm(queries, idCol, vecCol, "qid", "qv", "qn")
    val scored = c.join(broadcast(q), col("qid") =!= col("nid"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("nid"))
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("qid"), col("nid"), col("cos"))
  }

  /** One collected centroid: id, vector, norm. */
  final case class Centroid(id: Long, v: Array[Double], n: Double)

  /** Deterministic reproducible coarse quantizer: the `nCentroids`
    * corpus vectors with the smallest md5 of their id string — a
    * random-but-reproducible sample that any engine derives
    * identically. The result is collected (nCentroids rows — tiny at
    * any corpus scale) so cell assignment becomes a pure projection. */
  def coarseCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                      nCentroids: Int): Array[Centroid] =
    corpus
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("h", md5(col("id").cast("string")))
      .orderBy(col("h"))
      .limit(nCentroids)
      .select(col("id"), col("v"))
      .collect()
      .map { r =>
        val v = r.getSeq[Double](1).toArray
        var acc = 0.0
        var i = 0
        while (i < v.length) { acc += v(i) * v(i); i += 1 }
        Centroid(r.getLong(0), v, math.sqrt(acc))
      }

  /** Array of struct(negcos, cent_id) scoring `v` against every
    * centroid literal: min = nearest cell (ties on smaller cent_id),
    * sorted ascending = probe order. Pure per-row expression — no
    * shuffle, no join, for the cell assignment. */
  private[graft] def cellScores(cents: Array[Centroid], v: Column, n: Column)
      : Column =
    array(cents.map { c =>
      struct(
        (-(dotLit(v, c.v) / (n * lit(c.n)))).as("negcos"),
        lit(c.id).as("cent_id"))
    }: _*)

  /** Plan-literal budget for inlined centroid tables. Below it, the
    * literal form of [[cellScores]] wins (fully codegen'd scoring, zero
    * join); above it the k·dims Literal nodes make analysis/codegen
    * cost — and the serialized plan each task receives — grow linearly
    * with k, so the centroids ship as a one-row broadcast RELATION
    * instead (see [[withCellScores]]): plan size stays O(1) at
    * production k. 16 cells x 64 dims = 1k scalars stays literal;
    * a 65k-scalar quantizer flips to broadcast automatically. */
  val MaxLiteralCentroidScalars: Int = 1 << 14

  /** One-row relation carrying the whole centroid set as
    * array<struct<cent_id,cv,cn>> DATA (sorted by cent_id). Broadcast-
    * cross-joined against the scan: every task reads the centroids from
    * the broadcast block exactly once, not from the plan. */
  private def centroidArray(df: DataFrame, cents: Array[Centroid])
      : DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    cents.toSeq.map(c => (c.id, c.v.toSeq, c.n))
      .toDF("cent_id", "cv", "cn")
      .agg(array_sort(collect_list(
        struct(col("cent_id"), col("cv"), col("cn")))).as("__cents"))
  }

  /** [[cellScores]] against a broadcast centroid-array column. Scoring
    * runs per centroid element through the codegen'd VectorDot (same
    * left-to-right fold order as `dotLit` — identical IEEE doubles), so
    * the HOF lambda dispatch costs O(k) per row, not O(k·dims). */
  private def cellScoresFromArray(centsArr: Column, v: Column, n: Column)
      : Column =
    transform(centsArr, c => struct(
      (-(graft.functions.VectorExprs.vectorDot(v, c.getField("cv")) /
        (n * c.getField("cn")))).as("negcos"),
      c.getField("cent_id").as("cent_id")))

  /** Adds `outCol` = the [[cellScores]] array for `vCol`/`nCol`,
    * choosing literal-inline vs broadcast-relation form by the
    * `maxLiteralScalars` budget. Both forms produce bit-identical
    * scores and the same struct shape — callers (and oracles) never
    * see which one ran. */
  private[graft] def withCellScores(df: DataFrame, cents: Array[Centroid],
      vCol: String, nCol: String, outCol: String,
      maxLiteralScalars: Int = MaxLiteralCentroidScalars): DataFrame = {
    val dims = if (cents.isEmpty) 0 else cents(0).v.length
    if (cents.length.toLong * dims <= maxLiteralScalars)
      df.withColumn(outCol, cellScores(cents, col(vCol), col(nCol)))
    else
      df.crossJoin(broadcast(centroidArray(df, cents)))
        .withColumn(outCol,
          cellScoresFromArray(col("__cents"), col(vCol), col(nCol)))
        .drop("__cents")
  }

  /** IVF-style ANN top-k: a deterministic coarse quantizer (see
    * [[coarseCentroids]]) partitions the corpus into cells; each query
    * probes its `nProbes` nearest cells and re-ranks exactly inside
    * them. Both cell assignments are pure projections against the
    * collected centroid literals — NO shuffle of corpus vectors at all:
    * the probe join broadcasts the (small) assigned query side, and
    * only (qid, nid, cos) tuples shuffle for the final per-query top-k.
    * Recall rises with nProbes at linear extra cost — the standard IVF
    * trade. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int,
              nCentroids: Int = 16, nProbes: Int = 4,
              maxLiteralScalars: Int = MaxLiteralCentroidScalars)
      : DataFrame = {
    val cents = coarseCentroids(corpus, idCol, vecCol, nCentroids)
    val c = withCellScores(
        withNorm(corpus, idCol, vecCol, "nid", "cv", "cn"),
        cents, "cv", "cn", "__sc", maxLiteralScalars)
      .withColumn("cell", array_min(col("__sc")).getField("cent_id"))
      .drop("__sc")
    val q = withCellScores(
        withNorm(queries, idCol, vecCol, "qid", "qv", "qn"),
        cents, "qv", "qn", "__sc", maxLiteralScalars)
      .withColumn("probe",
        explode(slice(sort_array(col("__sc")), 1, nProbes)))
      .select(col("qid"), col("qv"), col("qn"),
        col("probe.cent_id").as("cell"))
    val scored = c.join(broadcast(q), Seq("cell"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("nid"))
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("qid"), col("nid"), col("cos"))
  }

  /** Per-label embedding centroids, computed relationally: posexplode
    * each vector to (label, dim, component) rows, average per (label,
    * dim) with map-side partial aggregation, and reassemble the vector
    * ordered by dim. This is the vector-aggregation-at-scale shape —
    * a naive array-column aggregate would ship whole vectors to one
    * reducer per label; here every dimension aggregates independently
    * across the cluster and only (label, dim, sum, count) partials
    * shuffle. Returns (label, centroid, n) where n counts EVERY member
    * row of the label (including null/empty vectors, which contribute
    * to no dimension) — computed by its own tiny aggregate rather than
    * derived from per-dimension counts, which would under-report for
    * ragged or missing vectors. */
  def labelCentroids(df: DataFrame, labelCol: String, vecCol: String)
      : DataFrame = {
    val members = df.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("n"))
    df.select(col(labelCol).as("label"),
        posexplode(col(vecCol).cast("array<double>")))
      .groupBy(col("label"), col("pos"))
      .agg(avg(col("col")).as("m"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m"))))
        .as("dims"))
      .select(col("label"),
        transform(col("dims"), d => d.getField("m")).as("centroid"))
      .join(members, "label")
  }

  /** Symmetric per-vector int8 scalar quantization — the storage
    * format a 100 TB embedding corpus actually ships (4x smaller than
    * float32, 8x smaller than the double working form; int8 dot
    * products for first-pass scoring). Per vector: `amax = max |x_i|`,
    * `scale = amax / 127`, `q_i = floor(x_i / scale + 0.5)` in
    * [-127, 127]. Output: (id, qvec: array<int>, scale, mae) where mae
    * is the mean |x_i - q_i * scale| reconstruction error.
    *
    * Pure projection — zero shuffle at any scale. The scale array is
    * passed to the element lambdas as a COLLECTION argument
    * (array_repeat, evaluated once per row), never referenced inside a
    * lambda body, so nothing re-evaluates per element (the
    * CollapseProject trap). All folds run left-to-right from 0.0 with
    * the same operand order as the DuckDB oracle — bit-identical
    * doubles, not just close. */
  def int8Quantize(df: DataFrame, idCol: String, vecCol: String,
                   dims: Int = 64): DataFrame = {
    val staged = df.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("amax",
        aggregate(col("v"), lit(0.0d), (a, x) => greatest(a, abs(x))))
    // element counts derive from the actual vector, not the `dims`
    // parameter — a mismatched dims would otherwise null-pad qd/mae
    // silently (zip_with pads the shorter side with nulls)
    val sArr = array_repeat(col("amax") / lit(127.0d), size(col("v")))
    staged
      .withColumn("qd",
        when(col("amax") === lit(0.0d),
          array_repeat(lit(0.0d), size(col("v"))))
        .otherwise(zip_with(col("v"), sArr,
          (x, s) => floor(x / s + lit(0.5d)))))
      .withColumn("mae",
        aggregate(
          zip_with(col("v"), zip_with(col("qd"), sArr, (q, s) => q * s),
            (x, y) => abs(x - y)),
          lit(0.0d), (a, e) => a + e) / size(col("v")).cast("double"))
      .select(col("id"), col("qd").cast("array<int>").as("qvec"),
        (col("amax") / lit(127.0d)).as("scale"), col("mae"))
  }

  /** Quantized ANN top-k (ADC pattern): first-pass scoring runs on the
    * int8-quantized vectors — `cos_q = qdot / (sqrt(qss_q) *
    * sqrt(qss_n))` with the dot/sum-of-squares computed in EXACT
    * integer arithmetic — then the top `k * oversample` candidates per
    * query are re-ranked with the exact float cosine. At 100 TB this
    * is the two-tier storage layout: the scan touches only the 4x-
    * smaller int8 sidecar; original float vectors are fetched for the
    * tiny candidate set alone (one semi-join-shaped second scan).
    *
    * Deterministic end to end: integer first-pass scores are exact, so
    * the candidate cut is reproducible across engines; the rerank
    * mirrors [[bruteForceTopK]]. Output: qid, nid, cos. */
  def int8TopK(corpus: DataFrame, queries: DataFrame,
               idCol: String, vecCol: String, k: Int,
               oversample: Int = 4, dims: Int = 64): DataFrame = {
    def quant(df: DataFrame, idAs: String, qAs: String, ssAs: String) =
      int8Quantize(df, idCol, vecCol, dims)
        .select(col("id").as(idAs),
          col("qvec").cast("array<bigint>").as(qAs))
        .withColumn(ssAs,
          aggregate(col(qAs), lit(0L), (a, x) => a + x * x))
    val c = quant(corpus, "nid", "cq", "css")
    val q = quant(queries, "qid", "qq", "qss")
    val qdot = aggregate(zip_with(col("qq"), col("cq"), (x, y) => x * y),
      lit(0L), (a, x) => a + x)
    // candidate cut via the bounded top-k aggregate: only k*oversample
    // (qid, nid) states per query cross the shuffle — never a sort of
    // the full |Q| x |C| scored cross-product
    val cand = topCandidates(
      c.join(broadcast(q), col("qid") =!= col("nid"))
        .withColumn("cosq",
          qdot.cast("double") /
            (sqrt(col("qss").cast("double")) *
              sqrt(col("css").cast("double"))))
        .select(col("qid"), col("nid"), col("cosq")),
      "cosq", k * oversample)
    // exact rerank: fetch original floats for the candidate set only
    val cv = withNorm(corpus, idCol, vecCol, "nid", "cv", "cn")
    val qv = withNorm(queries, idCol, vecCol, "qid", "qv", "qn")
    val wr = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("nid"))
    cand.join(broadcast(qv), "qid").join(cv, "nid")
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rk", row_number().over(wr))
      .filter(col("rk") <= k)
      .select(col("qid"), col("nid"), col("cos"))
  }

  /** Product-quantization codebooks: `m` subspaces x `ksub` codewords
    * over the int8-quantized domain. The codeword source vectors are
    * the `ksub` corpus vectors with the smallest (md5(id), id) — the
    * [[coarseCentroids]] idiom, so any engine derives the identical
    * codebooks — and codebook `s` is their `s`-th subvector slice.
    * Collected once: m x ksub x subDim longs — driver-sized at any
    * corpus scale. */
  final case class PqCodebooks(m: Int, ksub: Int, subDim: Int,
      words: Array[Array[Array[Long]]],  // (subspace)(code)(component)
      norms2: Array[Array[Long]])        // (subspace)(code) = ||word||^2

  def pqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                  m: Int, ksub: Int, dims: Int): PqCodebooks = {
    require(dims % m == 0, s"dims=$dims not divisible by m=$m subspaces")
    val subDim = dims / m
    val rows = int8Quantize(corpus, idCol, vecCol, dims)
      .select(col("id"), col("qvec").cast("array<bigint>").as("qv"))
      .withColumn("h", md5(col("id").cast("string")))
      .orderBy(col("h"), col("id")).limit(ksub)
      .select(col("qv")).collect()
      .map(_.getSeq[Long](0).toArray)
    require(rows.length == ksub,
      s"corpus has ${rows.length} vectors, need >= $ksub for codebooks")
    val words = Array.tabulate(m, ksub)((s, c) =>
      rows(c).slice(s * subDim, (s + 1) * subDim))
    val norms2 = Array.tabulate(m, ksub)((s, c) =>
      words(s)(c).foldLeft(0L)((a, x) => a + x * x))
    PqCodebooks(m, ksub, subDim, words, norms2)
  }

  /** Per-subspace code assignment: argmin over the codebook of the
    * exact integer squared distance `||w||^2 - 2 q_s.w` (the `||q_s||^2`
    * term is constant per subvector, so ranks and ties are unchanged),
    * ties to the smaller code — the packed-argmin idiom from
    * [[kmeansInt8]]. Pure projection against codeword literals: zero
    * shuffle at any corpus size. */
  private def pqCodeExpr(cb: PqCodebooks, qv: Column, s: Int): Column = {
    val sub = slice(qv.cast("array<double>"), s * cb.subDim + 1, cb.subDim)
    pmod(array_min(array((0 until cb.ksub).map { c =>
      (lit(cb.norms2(s)(c).toDouble) - lit(2.0d) *
          graft.functions.VectorExprs.vectorDot(
            sub, lit(cb.words(s)(c).map(_.toDouble))))
        .cast("long") * cb.ksub + c
    }: _*)), lit(cb.ksub.toLong)).cast("int")
  }

  /** PQ-compressed ANN top-k — the third storage tier after float32
    * and int8: each corpus vector is stored as `m` one-byte codes
    * (64x smaller than float32 at m=8/dims=64), scored by asymmetric
    * distance computation (ADC). Per query, a lookup table
    * `lut[s][c] = q_s . word[s][c]` is built ONCE (m x ksub integer
    * dots — a pure projection on the tiny query side); scoring a
    * corpus row is then m table lookups instead of `dims` multiplies.
    * The approximate cosine divides by the RECONSTRUCTED corpus norm
    * `sqrt(sum_s ||word[s][code_s]||^2)` (exact integer, precomputed at
    * encode time), so the first-pass cut is deterministic across
    * engines; the top `k * oversample` candidates re-rank with the
    * exact float cosine, exactly like [[int8TopK]].
    *
    * Scale shape: encode is a scan-speed projection (codeword literals
    * inlined, no shuffle); the scan touches only the m-byte code
    * sidecar + one bigint norm; the ADC join broadcasts the query side
    * and only (qid, nid, score) tuples shuffle for the top-k; float
    * vectors are fetched for the candidate set alone. Output: qid,
    * nid, cos. */
  def pqTopK(corpus: DataFrame, queries: DataFrame,
             idCol: String, vecCol: String, k: Int,
             m: Int = 8, ksub: Int = 32, oversample: Int = 8,
             dims: Int = 64): DataFrame = {
    val cb = pqCodebooks(corpus, idCol, vecCol, m, ksub, dims)
    val cq = int8Quantize(corpus, idCol, vecCol, dims)
      .select(col("id").as("nid"), col("qvec").cast("array<bigint>").as("cv8"))
    // codes + reconstructed squared norm: both pure projections
    val coded = cq
      .select(col("nid") +:
        (0 until m).map(s => pqCodeExpr(cb, col("cv8"), s).as(s"pc$s")): _*)
      .withColumn("codes", array((0 until m).map(s => col(s"pc$s")): _*))
      .withColumn("css",
        (0 until m).map(s =>
          element_at(typedlit(cb.norms2(s).toSeq), col(s"pc$s") + 1))
          .reduce(_ + _))
      .select(col("nid"), col("codes"), col("css"))
    val qq = int8Quantize(queries, idCol, vecCol, dims)
      .select(col("id").as("qid"), col("qvec").cast("array<bigint>").as("qv8"))
      .withColumn("qss",
        aggregate(col("qv8"), lit(0L), (a, x) => a + x * x))
      .withColumn("lut", array((0 until m).map { s =>
        val sub = slice(col("qv8").cast("array<double>"),
          s * cb.subDim + 1, cb.subDim)
        array((0 until ksub).map { c =>
          graft.functions.VectorExprs.vectorDot(
            sub, lit(cb.words(s)(c).map(_.toDouble)))
        }: _*)
      }: _*))
      .select(col("qid"), col("qss"), col("lut"))
    // ADC: m lookups per pair; lut/codes are join-output attributes, so
    // the zip_with lambda reads columns, it re-evaluates nothing. The
    // cut uses the bounded top-k aggregate — no sort of the scored
    // cross-product
    val cand = topCandidates(
      coded.join(broadcast(qq), col("qid") =!= col("nid"))
        .withColumn("adc",
          aggregate(zip_with(col("codes"), col("lut"),
            (cc, l) => element_at(l, cc + 1)), lit(0.0d), (a, x) => a + x))
        .withColumn("cosq",
          col("adc") /
            (sqrt(col("qss").cast("double")) *
              sqrt(col("css").cast("double"))))
        .select(col("qid"), col("nid"), col("cosq")),
      "cosq", k * oversample)
    // exact rerank on the candidate set only (the int8TopK tail)
    val cv = withNorm(corpus, idCol, vecCol, "nid", "cv", "cn")
    val qv = withNorm(queries, idCol, vecCol, "qid", "qv", "qn")
    val wr = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("nid"))
    cand.join(broadcast(qv), "qid").join(cv, "nid")
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rk", row_number().over(wr))
      .filter(col("rk") <= k)
      .select(col("qid"), col("nid"), col("cos"))
  }

  /** IVF-PQ ANN top-k — the billion-vector composite index (the
    * faiss-IVFPQ shape): an IVF coarse quantizer prunes the search to
    * `nProbes` of `nCentroids` cells, and WITHIN the probed cells the
    * first pass scores PQ codes by ADC instead of touching vectors.
    * Per corpus row the scan needs the cell id, m code bytes and one
    * bigint reconstructed norm; float vectors are fetched only for
    * the `k * oversample` re-rank candidates. Cost per query:
    * |corpus| * nProbes/nCentroids ADC lookups — both factors
    * (cell pruning, code compression) multiply.
    *
    * Every stage reuses a proven deterministic contract: cell
    * assignment and probe order from [[ivfTopK]] (float cosine vs the
    * md5-sampled centroids, ties to smaller cent_id), codes/LUT/
    * reconstructed norms from [[pqTopK]] (exact integers), rerank
    * from [[int8TopK]] — so the composition is oracle-checkable end
    * to end. The probe join is an equi-join on the cell id (broadcast
    * query side), not a cross join. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame,
                idCol: String, vecCol: String, k: Int,
                nCentroids: Int = 16, nProbes: Int = 4,
                m: Int = 8, ksub: Int = 32, oversample: Int = 8,
                dims: Int = 64,
                maxLiteralScalars: Int = MaxLiteralCentroidScalars)
      : DataFrame = {
    val cents = coarseCentroids(corpus, idCol, vecCol, nCentroids)
    val cb = pqCodebooks(corpus, idCol, vecCol, m, ksub, dims)
    // corpus side: cell (float contract) + codes/css (integer contract)
    val cq = int8Quantize(corpus, idCol, vecCol, dims)
      .select(col("id").as("nid"),
        col("qvec").cast("array<bigint>").as("cv8"))
    val coded = cq
      .select(col("nid") +:
        (0 until m).map(s => pqCodeExpr(cb, col("cv8"), s).as(s"pc$s")): _*)
      .withColumn("codes", array((0 until m).map(s => col(s"pc$s")): _*))
      .withColumn("css",
        (0 until m).map(s =>
          element_at(typedlit(cb.norms2(s).toSeq), col(s"pc$s") + 1))
          .reduce(_ + _))
      .select(col("nid"), col("codes"), col("css"))
    val cells = withCellScores(
        withNorm(corpus, idCol, vecCol, "nid", "cv", "cn"),
        cents, "cv", "cn", "__sc", maxLiteralScalars)
      .withColumn("cell", array_min(col("__sc")).getField("cent_id"))
      .select(col("nid"), col("cell"))
    val c = coded.join(cells, "nid")
    // query side: probe cells + ADC lookup table + exact norm
    val q = int8Quantize(queries, idCol, vecCol, dims)
      .select(col("id").as("qid"),
        col("qvec").cast("array<bigint>").as("qv8"))
      .withColumn("qss",
        aggregate(col("qv8"), lit(0L), (a, x) => a + x * x))
      .withColumn("lut", array((0 until m).map { s =>
        val sub = slice(col("qv8").cast("array<double>"),
          s * cb.subDim + 1, cb.subDim)
        array((0 until ksub).map { cIdx =>
          graft.functions.VectorExprs.vectorDot(
            sub, lit(cb.words(s)(cIdx).map(_.toDouble)))
        }: _*)
      }: _*))
    val qp = withCellScores(
        withNorm(queries, idCol, vecCol, "qid", "qv", "qn"),
        cents, "qv", "qn", "__sc", maxLiteralScalars)
      .withColumn("probe",
        explode(slice(sort_array(col("__sc")), 1, nProbes)))
      .select(col("qid"), col("probe.cent_id").as("cell"))
      .join(q, "qid")
    val cand = topCandidates(
      c.join(broadcast(qp), Seq("cell"))
        .filter(col("qid") =!= col("nid"))
        .withColumn("adc",
          aggregate(zip_with(col("codes"), col("lut"),
            (cc, l) => element_at(l, cc + 1)), lit(0.0d), (a, x) => a + x))
        .withColumn("cosq",
          col("adc") /
            (sqrt(col("qss").cast("double")) *
              sqrt(col("css").cast("double"))))
        .select(col("qid"), col("nid"), col("cosq")),
      "cosq", k * oversample)
    val cv = withNorm(corpus, idCol, vecCol, "nid", "cv", "cn")
    val qv = withNorm(queries, idCol, vecCol, "qid", "qv", "qn")
    val wr = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("nid"))
    cand.join(broadcast(qv), "qid").join(cv, "nid")
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rk", row_number().over(wr))
      .filter(col("rk") <= k)
      .select(col("qid"), col("nid"), col("cos"))
  }

  /** Integer Lloyd k-means over the int8-quantized embeddings — the
    * corpus-organization step of SemDeDup-style semantic dedup, and
    * deliberately INTEGER end to end so every round is reproducible
    * across engines (exact squared distances; centroid updates are
    * floor(sum/n + 0.5) on exact integer sums — aggregation order can
    * never perturb a result, unlike float k-means).
    *
    * Per iteration: assignment is a pure projection (the k centroids
    * are collected once — k x dims longs — and inlined as literals;
    * argmin via array_min over (dist, cid) structs, ties to the
    * smaller cid), then ONE scan + one partial-aggregated shuffle of
    * k x dims grouped sums. Empty clusters keep their previous
    * centroid. Initial centroids: the k corpus vectors with the
    * smallest md5(id) (the [[coarseCentroids]] idiom — reproducible
    * in any engine with md5).
    *
    * Returns (id, cid) — the final assignment. */
  def kmeansInt8(df: DataFrame, idCol: String, vecCol: String, k: Int,
                 iters: Int, dims: Int = 64,
                 maxLiteralScalars: Int = MaxLiteralCentroidScalars)
      : DataFrame = {
    // qvd is materialized INTO the checkpoint so neither assignment
    // form re-casts the bigint vector per centroid (the checkpoint is
    // a real barrier — CollapseProject cannot inline it into lambda
    // bodies downstream).
    val q = int8Quantize(df, idCol, vecCol, dims)
      .select(col("id"), col("qvec").cast("array<bigint>").as("qv"),
        col("qvec").cast("array<double>").as("qvd"))
      .localCheckpoint(false) // scanned once per iteration + final
    // argmin over (dist, cid) packed into one long: min(d*k + cid) % k
    // — ties resolve to the smaller cid, exactly like ORDER BY d, cid.
    // d is ||c||^2 - 2 q.c, which ranks identically to ||q - c||^2
    // (the ||q||^2 term is constant across centroids, so differences —
    // and therefore ties — are unchanged). The dot runs through the
    // codegen'd VectorDot; every operand is an integer-valued double
    // well under 2^53, so the cast back to long is exact and the
    // "integer k-means" cross-engine guarantee holds. (The earlier
    // zip_with/aggregate fold form was interpreted, not codegen'd —
    // measured ~10x slower on the assignment pass.)
    def assignExpr(cents: Array[Array[Long]]): Column =
      pmod(array_min(array(cents.zipWithIndex.map { case (c, i) =>
        val cn2 = c.map(x => x * x).sum
        (lit(cn2.toDouble) - lit(2.0d) *
            graft.functions.VectorExprs.vectorDot(col("qvd"),
              lit(c.map(_.toDouble))))
          .cast("long") * k + i
      }: _*)), lit(k.toLong)).cast("int")
    // Broadcast-relation twin of assignExpr for production k·dims: the
    // centroids ride a one-row broadcast as DATA, scored by transform
    // over the array — identical packed-argmin arithmetic (cn2 and the
    // dot are integer-valued doubles < 2^53, so both forms compute the
    // same exact longs), plan size O(1) in k.
    def assignedDf(cents: Array[Array[Long]]): DataFrame =
      if (k.toLong * dims <= maxLiteralScalars)
        q.withColumn("cid", assignExpr(cents))
      else {
        val spark = q.sparkSession
        import spark.implicits._
        val arr = cents.zipWithIndex.toSeq
          .map { case (c, i) =>
            (i, c.map(_.toDouble).toSeq, c.map(x => x * x).sum.toDouble) }
          .toDF("cid", "cv", "cn2")
          .agg(array_sort(collect_list(
            struct(col("cid"), col("cv"), col("cn2")))).as("__cents"))
        q.crossJoin(broadcast(arr))
          .withColumn("cid",
            pmod(array_min(transform(col("__cents"), c =>
              (c.getField("cn2") - lit(2.0d) *
                  graft.functions.VectorExprs.vectorDot(col("qvd"),
                    c.getField("cv")))
                .cast("long") * k + c.getField("cid").cast("long"))),
              lit(k.toLong)).cast("int"))
          .drop("__cents")
      }
    var cents: Array[Array[Long]] = q
      .withColumn("h", md5(col("id").cast("string")))
      .orderBy(col("h"), col("id")).limit(k)
      .select(col("qv")).collect()
      .map(_.getSeq[Long](0).toArray)
    for (_ <- 1 to iters) {
      val sums = assignedDf(cents)
        .select(col("cid"), posexplode(col("qv")))
        .groupBy(col("cid"), col("pos"))
        .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) ->
          (r.getLong(2), r.getLong(3))).toMap
      cents = cents.zipWithIndex.map { case (old, ci) =>
        Array.tabulate(dims) { p =>
          sums.get((ci, p)) match {
            case Some((s, n)) => math.floor(s.toDouble / n + 0.5).toLong
            case None         => old(p)
          }
        }
      }
    }
    assignedDf(cents).select(col("id"), col("cid"))
  }

  /** SemDeDup-style semantic dedup: cluster with [[kmeansInt8]], then
    * within each cluster drop every vector that has a HIGHER-cosine-
    * than-threshold neighbor with a smaller id (one deterministic
    * representative per near-dup group — the standard SemDeDup keep
    * rule, no connected components needed). Returns the surviving
    * (id, cid) rows.
    *
    * Scale shape: the pairwise compare is confined to clusters — at
    * corpus scale you raise `k` so cluster populations stay bounded
    * (SemDeDup's own recipe), making per-cluster work O(c^2) for
    * bounded c, never O(n^2). Because a fixed k gives ~n/k-sized
    * clusters on a growing corpus, `maxClusterSize` is the backstop
    * (mirroring the LSH family's maxBucketSize): clusters above it
    * are md5-sharded into ceil(size/maxClusterSize) sub-cells and the
    * pairwise join runs within (cid, sub-cell) — pair counts stay
    * O(n * maxClusterSize) no matter how skewed the clustering, at
    * the cost of missing cross-shard near-dups inside oversized
    * clusters (the same recall trade every capped LSH path makes).
    * The cluster-size table is k rows — broadcast. The cluster-tagged
    * projection is checkpointed once and self-joined; cosine reuses
    * the codegen'd dot over precomputed norms. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    k: Int = 8, iters: Int = 3, threshold: Double = 0.4,
                    maxClusterSize: Int = 2000): DataFrame = {
    require(maxClusterSize > 0, "maxClusterSize must be positive")
    // checkpoint the (id, cid) assignment ONCE: it is referenced by
    // both the sizes aggregation and the tagged join, and without a
    // barrier each reference re-runs the k-dot-product assignment
    // projection over the full corpus
    val asg = kmeansInt8(df, idCol, vecCol, k, iters)
      .localCheckpoint(false)
    val pre = withNorm(df, idCol, vecCol, "id", "v", "nm")
    val sizes = asg.groupBy(col("cid"))
      .agg(count(lit(1)).as("csz")) // k rows — always broadcast
    val tagged = pre.join(asg, "id")
      .join(broadcast(sizes), "cid")
      .withColumn("sub",
        pmod(CurationOps.md5Hash32(
            concat(lit("semsub:"), col("id").cast("string"))),
          ceil(col("csz") / maxClusterSize).cast("long")).cast("int"))
      .drop("csz")
      .localCheckpoint(false)
    // The self-join's broadcast decision reads `pre`'s estimate, not
    // `tagged`'s: without CBO an inner join is estimated as the product
    // of its inputs' sizes, so `tagged` (one row per `pre` row) reports
    // orders of magnitude more than it holds (483 GB for 1 MB at sf0.1)
    // and the planner would sort-merge a table it should broadcast.
    val thr = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val probe =
      if (thr > 0 && pre.queryExecution.optimizedPlan.stats.sizeInBytes <= thr)
        broadcast(tagged)
      else tagged
    val drops = tagged
      .select(col("cid"), col("sub"), col("id").as("id1"),
        col("v").as("v1"), col("nm").as("n1"))
      .join(probe.select(col("cid"), col("sub"), col("id").as("id2"),
        col("v").as("v2"), col("nm").as("n2")), Seq("cid", "sub"))
      .filter(col("id1") < col("id2"))
      .filter(dot(col("v1"), col("v2")) / (col("n1") * col("n2")) >=
        threshold)
      .select(col("id2").as("id")).distinct()
    tagged.join(drops, Seq("id"), "left_anti")
      .select(col("id"), col("cid"))
  }

  /** (id, band, bucket) banded hyperplane signatures — the shared
    * candidate-generation projection behind [[cosineNearDupPairs]] and
    * [[knnGraph]]. */
  private def bandedSignatures(base: DataFrame, bands: Int,
                               planesPerBand: Int, dims: Int): DataFrame =
    base.select(col("id"),
        posexplode(array((0 until bands).map(b =>
          hyperplaneBucket(col("v"), planesPerBand, dims,
            planeOffset = b * planesPerBand)): _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")

  /** Embedding-cosine near-duplicate PAIRS: banded random-hyperplane
    * LSH — `bands` independent signatures of `planesPerBand` sign bits
    * each; a pair is a candidate if it collides in ANY band — then an
    * exact-cosine verify at `threshold`. The embedding-space sibling
    * of minhash LSH for text: per-band collision probability is
    * (1 - theta/pi)^planesPerBand, so more bands buy recall and more
    * planes per band buy precision (Charikar STOC'02 sign-random-
    * projection). Scale shape: candidates come from a streamed
    * (band, bucket) equi-join of the banded signature relation (hot
    * buckets parallelize/skew-split instead of pinning one task), hub
    * buckets are capped at `maxBucketSize` for a hard quadratic
    * bound, and pairs are dedup'd across bands BEFORE the vector
    * verify join — only surviving candidates ever touch a second
    * embedding read. */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, bands: Int = 4,
                         planesPerBand: Int = 8, dims: Int = 64,
                         maxBucketSize: Int = 1000): DataFrame = {
    require(bands > 0 && planesPerBand > 0 && maxBucketSize > 1,
      s"bad LSH config ($bands, $planesPerBand, $maxBucketSize)")
    val base = withNorm(df, idCol, vecCol, "id", "v", "nm")
    // materialized once for the same three-consumer reason as
    // [[knnGraph]]'s banded table
    val banded = bandedSignatures(base, bands, planesPerBand, dims)
      .localCheckpoint(false)
    // Pair expansion as an equi-join on (band, bucket) with the
    // bucket-size cap as a semi-filter — same r5 rewrite as the
    // simhash tail (DedupOps.simhashNearDupParity): the former
    // collect_list + combinations expression materialized up to
    // C(maxBucketSize, 2) pair structs as ONE array value pinned to
    // one task; the join streams pairs, parallelizes hot buckets by
    // probe-side rows under BHJ, and AQE-skew-splits them under SMJ.
    // Identical pair set (id1 < id2).
    val ok = banded.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz").between(2, maxBucketSize))
      .select(col("band"), col("bucket"))
    val pairs = banded.join(ok, Seq("band", "bucket"))
      .join(banded.select(col("band"), col("bucket"),
        col("id").as("id2")), Seq("band", "bucket"))
      .filter(col("id") < col("id2"))
      .select(col("id").as("id1"), col("id2"))
      .distinct()
    pairs
      .join(base.select(col("id").as("id1"), col("v").as("v1"),
        col("nm").as("n1")), "id1")
      .join(base.select(col("id").as("id2"), col("v").as("v2"),
        col("nm").as("n2")), "id2")
      .withColumn("cos", dot(col("v1"), col("v2")) / (col("n1") * col("n2")))
      .filter(col("cos") >= threshold)
      .select(col("id1"), col("id2"), col("cos"))
  }

  /** kNN GRAPH over the corpus — top-k cosine neighbors for EVERY
    * vector, the input SemDeDup-style clustering, near-dup community
    * mining, and graph-based curation all start from. Differs from the
    * ANN query families (lshTopK/ivfTopK/…) in that there is no small
    * query side: both sides are the 100 TB corpus, so the shape must
    * be a banded self-join, never a broadcast.
    *
    * Candidates come from the same banded hyperplane signatures as
    * [[cosineNearDupPairs]] (collide in ANY band), expanded DIRECTED
    * via an equi-join on (band, bucket) — streamed, AQE-skew-
    * splittable, no per-bucket array materialization — with the
    * megabucket cap applied via a bucket-size semi-filter. Exact
    * cosine re-rank + row_number keeps each node's top k. Per-node
    * candidate counts are bounded by bands × maxBucketSize, so the
    * rank window state is bounded too. */
  def knnGraph(df: DataFrame, idCol: String, vecCol: String, k: Int,
               bands: Int = 8, planesPerBand: Int = 4, dims: Int = 64,
               maxBucketSize: Int = 1000): DataFrame = {
    require(k > 0 && bands > 0 && planesPerBand > 0 && maxBucketSize > 1,
      s"bad kNN-graph config ($k, $bands, $planesPerBand, $maxBucketSize)")
    val base = withNorm(df, idCol, vecCol, "id", "v", "nm")
    // signatures cost bands x planesPerBand dim-`dims` dot products
    // per vector and feed THREE consumers (the bucket-size agg + both
    // candidate join sides, whose column renames defeat exchange
    // reuse) — materialize once (id, band, bucket: 24 bytes/row)
    val banded = bandedSignatures(base, bands, planesPerBand, dims)
      .localCheckpoint(false)
    val ok = banded.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz").between(2, maxBucketSize))
      .select(col("band"), col("bucket"))
    val cand = banded.join(ok, Seq("band", "bucket"))
      .join(banded.select(col("band"), col("bucket"),
        col("id").as("nid")), Seq("band", "bucket"))
      .filter(col("id") =!= col("nid"))
      .select(col("id"), col("nid"))
      .distinct()
    val scored = cand
      .join(base.select(col("id"), col("v").as("v1"), col("nm").as("n1")),
        "id")
      .join(base.select(col("id").as("nid"), col("v").as("v2"),
        col("nm").as("n2")), "nid")
      .withColumn("cos", dot(col("v1"), col("v2")) / (col("n1") * col("n2")))
    val w = Window.partitionBy(col("id"))
      .orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("id"), col("nid"), col("cos"))
  }

  /** Embedding-space contamination detection: which training vectors
    * near-duplicate a benchmark/probe vector (cosine >= threshold)?
    * The embedding sibling of
    * [[graft.operators.DedupOps.crossCorpusContamination]] — catches
    * paraphrased or re-tokenized benchmark leakage that exact text
    * matching misses.
    *
    * Scale shape (probes are benchmark-sized, the corpus is the
    * 100 TB side): the corpus is NEVER shuffled. Banded hyperplane
    * signatures are a scan-speed projection on both sides; the tiny
    * probe side broadcasts into the candidate equi-join; the
    * candidate (probe, train) id pairs — bounded by probe count x
    * bucket collisions — dedup across bands and broadcast back, with
    * the probe vectors attached, into a second corpus scan for the
    * exact-cosine verify. Two corpus scans, zero corpus exchanges.
    * Output: pid, tid, cos. */
  def embeddingContamination(corpus: DataFrame, probes: DataFrame,
                             idCol: String, vecCol: String,
                             threshold: Double, bands: Int = 8,
                             planesPerBand: Int = 4, dims: Int = 64)
      : DataFrame = {
    require(bands > 0 && planesPerBand > 0, "bad LSH config")
    val c = withNorm(corpus, idCol, vecCol, "tid", "tv", "tn")
    val p = withNorm(probes, idCol, vecCol, "pid", "pv", "pn")
    def banded(df: DataFrame, id: String, v: String): DataFrame =
      df.select(col(id),
          posexplode(array((0 until bands).map(b =>
            hyperplaneBucket(col(v), planesPerBand, dims,
              planeOffset = b * planesPerBand)): _*)))
        .withColumnRenamed("pos", "band")
        .withColumnRenamed("col", "bucket")
    val cand = banded(c, "tid", "tv")
      .join(broadcast(banded(p, "pid", "pv")), Seq("band", "bucket"))
      .select(col("pid"), col("tid"))
      .distinct()
    c.join(broadcast(cand
        .join(p.select(col("pid"), col("pv"), col("pn")), "pid")), "tid")
      .withColumn("cos", dot(col("pv"), col("tv")) / (col("pn") * col("tn")))
      .filter(col("cos") >= threshold)
      .select(col("pid"), col("tid"), col("cos"))
  }

  /** LSH-bucketed ANN top-k: candidates share a hyperplane bucket, then
    * exact cosine re-rank within the bucket. Recall depends on `planes`
    * (fewer planes = bigger buckets = higher recall + more work). */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int,
              planes: Int = 8, dims: Int = 64): DataFrame = {
    val c = withNorm(corpus, idCol, vecCol, "nid", "cv", "cn")
      .withColumn("bucket", hyperplaneBucket(col("cv"), planes, dims))
    val q = withNorm(queries, idCol, vecCol, "qid", "qv", "qn")
      .withColumn("bucket", hyperplaneBucket(col("qv"), planes, dims))
    val scored = c.join(q, Seq("bucket"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("nid"))
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("qid"), col("nid"), col("cos"))
  }

  /** Multi-probe LSH ANN top-k: each query probes its own hyperplane
    * bucket PLUS the buckets reached by flipping the `nFlips` planes
    * with the smallest |projection margin| — the planes most likely
    * to have put a true neighbor on the other side (Lv et al.,
    * VLDB'07). Recall rises like adding tables, but with ONE corpus
    * bucketing pass and no extra corpus state: only the (tiny) query
    * side fans out 1 + nFlips times. Probe buckets are all distinct
    * (each flip changes one bit), so no candidate pair is scored
    * twice. Margins are exact doubles of the deterministic plane
    * matrix with ties broken by plane index — engine-reproducible,
    * hence oracle-checkable. */
  def multiProbeLshTopK(corpus: DataFrame, queries: DataFrame,
                        idCol: String, vecCol: String, k: Int,
                        planes: Int = 8, nFlips: Int = 2,
                        dims: Int = 64): DataFrame = {
    require(nFlips >= 0 && nFlips <= planes,
      s"nFlips=$nFlips must be in [0, planes=$planes]")
    val m = planeMatrix(planes, dims)
    val c = withNorm(corpus, idCol, vecCol, "nid", "cv", "cn")
      .withColumn("bucket", hyperplaneBucket(col("cv"), planes, dims))
    val margins = array((0 until planes).map(p =>
      struct(abs(dotLit(col("qv"), m(p))).as("m"),
        lit(p).as("p"))): _*)
    val q = withNorm(queries, idCol, vecCol, "qid", "qv", "qn")
      .withColumn("bucket0", hyperplaneBucket(col("qv"), planes, dims))
      .withColumn("flip", explode(concat(
        array(lit(-1)),
        transform(slice(sort_array(margins), 1, nFlips),
          s => s.getField("p")))))
      .withColumn("bucket",
        when(col("flip") === -1, col("bucket0"))
          .otherwise(col("bucket0").bitwiseXOR(
            call_function("shiftleft", lit(1L), col("flip")))))
      .select(col("qid"), col("qv"), col("qn"), col("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("nid"))
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("qid"), col("nid"), col("cos"))
  }

  /** Johnson–Lindenstrauss-style random projection to `outDims`
    * dimensions, using rows 0..outDims-1 of the same deterministic
    * md5-derived plane family as the LSH operators ([[planeMatrix]] —
    * plan-time literals, so any engine reproduces the identical
    * doubles). Distances are preserved in expectation; the projection
    * is a pure scan-speed expression with zero shuffle — the cheap
    * first step before clustering or ANN when 64 dims is still too
    * wide for the downstream pass. Output: (id, r1..r_outDims). */
  def randomProject(df: DataFrame, idCol: String, vecCol: String,
                    outDims: Int, dims: Int = 64): DataFrame = {
    val m = planeMatrix(outDims, dims)
    val s = math.sqrt(outDims.toDouble)
    df.select(col(idCol).as("id") +:
      (0 until outDims).map(p =>
        (dotLit(col(vecCol).cast("array<double>"), m(p)) / s)
          .as(s"r${p + 1}")): _*)
  }

  /** First principal component of an embedding corpus by power
    * iteration — the dimensionality-reduction / embedding-diagnostics
    * primitive (dominant variance direction; projections feed
    * visualization, whitening, and outlier screens).
    *
    * Scale split: the covariance matrix is O(d²) — driver-sized at any
    * corpus size — while everything that touches corpus rows is
    * distributed and scanned a bounded number of times:
    *
    *  1. the d×d Gram matrix from the exploded (id, dim, x) rows: the
    *     self-join on id shuffles those rows ONCE (both sides are the
    *     identical child, so the exchange is planned once and reused),
    *     the d² products per vector are generated after the join and
    *     aggregated map-side — only d² partials per task ever shuffle
    *     for the aggregation itself;
    *  2. covariance = gram/n − μμᵀ on the driver, ROUNDED to 6 dp so
    *     any engine derives the exact same matrix (the fit input is
    *     pinned, like the quantizer literals elsewhere in this file);
    *  3. `iters` power-iteration rounds on the driver (64×64 — no
    *     cluster work), starting from the deterministic uniform unit
    *     vector;
    *  4. one more corpus scan projects every vector onto the component
    *     as a pure expression (dot with literal weights) — no shuffle.
    *
    * Returns (id, pc1) with pc1 = (x − μ)·v. */
  def pcaProject(df: DataFrame, idCol: String, vecCol: String,
                 dims: Int = 64, iters: Int = 8): DataFrame = {
    // ONE corpus scan: count, per-dim sums, and the d x d gram in a
    // single d²-buffer TypedImperativeAggregate (map-side combined;
    // one d²-sized record per partition). Replaces the exploded
    // self-join that materialized dims² rows per document through a
    // shuffle — a 64x row blowup at 100 TB — and the two extra scans
    // (count + mean aggregation) the old form needed.
    val flat = df
      .select(graft.functions.VectorMomentGram
        .momentGram(col(vecCol), dims).as("mg"))
      .head.getSeq[Double](0)
    // n = ALL rows (the covariance normalizer); per-dim means divide
    // by each dimension's own entry count — the relational contract
    // (avg over present entries) the oracle mirrors. A dimension with
    // ZERO entries (every vector shorter than `dims` — a caller
    // error) pins mu=0 here where SQL AVG would poison the component
    // with NULL; the documented divergence only exists on that
    // degenerate input.
    val n = flat(0)
    require(n > 0, "pcaProject needs a non-empty input")
    val mu = Array.tabulate(dims) { i =>
      val cnt = flat(1 + i)
      if (cnt > 0) flat(1 + dims + i) / cnt else 0.0
    }
    val gram = Array.tabulate(dims, dims) { (i, j) =>
      flat(1 + 2 * dims + i * dims + j)
    }
    // round half-AWAY-FROM-ZERO, matching DuckDB's ROUND (math.rint's
    // half-to-even would disagree exactly at a .5 boundary and the pin
    // exists so both engines iterate an identical matrix)
    def r6(x: Double): Double =
      math.signum(x) * math.floor(math.abs(x) * 1e6 + 0.5) / 1e6
    val cov = Array.tabulate(dims, dims) { (i, j) =>
      r6(gram(i)(j) / n - mu(i) * mu(j))
    }
    var v = Array.fill(dims)(1.0 / math.sqrt(dims.toDouble))
    (1 to iters).foreach { _ =>
      val w = Array.tabulate(dims)(i =>
        (0 until dims).foldLeft(0.0)((acc, j) => acc + cov(i)(j) * v(j)))
      val nm = math.sqrt(w.foldLeft(0.0)((acc, x) => acc + x * x))
      v = w.map(_ / nm)
    }
    val offset = (0 until dims).foldLeft(0.0)((a, i) => a + mu(i) * v(i))
    df.select(col(idCol).as("id"),
      (dotLit(col(vecCol).cast("array<double>"), v) - lit(offset))
        .as("pc1"))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) of two retriever
    * candidate lists — the standard way to combine a cheap recall
    * retriever with an exact or cross-modal one without score
    * calibration: fused(q, d) = sum over retrievers of
    * 1/(c + rank_r(q, d)), ranked per query. Only RANKS feed the
    * fusion (scores are used to rank within each list, then
    * discarded), so engines agreeing on each list's order agree on
    * the fusion bit-for-bit: each reciprocal is one IEEE division and
    * the two-term sum has a fixed operand order (list `a` first).
    *
    * Scale shape: two per-query rank windows over candidate lists
    * (k-bounded by construction upstream), one (query, candidate)
    * equi-join (full outer — a doc may appear in only one list), one
    * fused rank window. Nothing touches the corpus. Output: qCol,
    * idCol, rank_a / rank_b (0 = absent from that list), rrf. */
  def rrfFuse(a: DataFrame, b: DataFrame, qCol: String, idCol: String,
              scoreCol: String, k: Int, c: Int = 60): DataFrame = {
    require(k > 0 && c >= 0, s"bad rrf config k=$k c=$c")
    import org.apache.spark.sql.expressions.Window
    def ranked(df: DataFrame, out: String) = df
      .select(col(qCol).as("__q"), col(idCol).as("__id"),
        col(scoreCol).as("__s"))
      .withColumn(out, row_number().over(
        Window.partitionBy(col("__q"))
          .orderBy(col("__s").desc, col("__id"))))
      .drop("__s")
    val j = ranked(a, "__ra")
      .join(ranked(b, "__rb"), Seq("__q", "__id"), "full_outer")
    val rrf =
      coalesce(lit(1.0) / (lit(c.toDouble) + col("__ra")), lit(0.0)) +
      coalesce(lit(1.0) / (lit(c.toDouble) + col("__rb")), lit(0.0))
    j.withColumn("rrf", rrf)
      .withColumn("__frk", row_number().over(
        Window.partitionBy(col("__q"))
          .orderBy(col("rrf").desc, col("__id"))))
      .filter(col("__frk") <= k)
      .select(col("__q").as(qCol), col("__id").as(idCol),
        coalesce(col("__ra"), lit(0)).as("rank_a"),
        coalesce(col("__rb"), lit(0)).as("rank_b"), col("rrf"))
  }

  /** Cluster prototypicality (SemDeDup / SSL-prototypes pruning,
    * Sorscher et al. 2022): cluster with [[kmeansInt8]], re-center on
    * each final cluster's integer mean, and score every vector by its
    * EXACT integer squared distance to its own cluster's mean —
    * far-from-prototype examples are the hard/noisy tail that
    * data-pruning recipes drop (or keep, for hard-example mining).
    * Emits the distance, the farthest-first rank and size within the
    * cluster, and an `is_outlier` flag for the top `outlierPct`%.
    *
    * Cross-engine determinism: quantized coords and centroid means
    * are integers (floor(sum/n + 0.5), the q67 update rule), so the
    * distance is an exact integer and rank ties break on id.
    *
    * Scale shape: assignment and distance are scan-speed against
    * k x dims broadcast centroids; the only new shuffle is the
    * within-cluster rank window, partitioned by cid — cluster
    * populations are ~n/k, so at corpus scale raise k to keep them
    * bounded (the SemDeDup recipe [[semanticDedup]] already follows);
    * for a rank-free variant at extreme scale, threshold on the
    * distance itself against per-cluster quantiles from
    * [[graft.operators.StatsOps.sampledQuantiles]]. */
  def clusterPrototypicality(df: DataFrame, idCol: String,
                             vecCol: String, k: Int, iters: Int,
                             outlierPct: Int = 10, dims: Int = 64)
      : DataFrame = {
    require(outlierPct >= 0 && outlierPct <= 100,
      s"outlierPct must be in [0,100], got $outlierPct")
    import org.apache.spark.sql.expressions.Window
    val asg = kmeansInt8(df, idCol, vecCol, k, iters, dims)
    val qv = int8Quantize(df, idCol, vecCol, dims)
      .select(col("id"), col("qvec").cast("array<bigint>").as("__qd"),
        col("qvec").cast("array<double>").as("__qdd"))
    val joined = asg.join(qv, "id")
    // final per-cluster integer means — k x dims longs, driver-sized
    val means: Map[Int, Array[Long]] = joined
      .select(col("cid"), posexplode(col("__qd")))
      .groupBy(col("cid"), col("pos"))
      .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        math.floor(r.getLong(2).toDouble / r.getLong(3) + 0.5).toLong)
      .toMap
      .groupBy(_._1._1)
      .map { case (cid, ps) =>
        cid -> Array.tabulate(dims)(p => ps((cid, p)))
      }
    val spark = df.sparkSession
    import spark.implicits._
    val cents = means.toSeq
      .map { case (cid, c) =>
        (cid, c.map(_.toDouble).toSeq, c.map(x => x * x).sum) }
      .toDF("cid", "__cv", "__cn2")
    // ||q - c||^2 = ||q||^2 + ||c||^2 - 2 q.c — every operand an
    // integer-valued double < 2^53, so the long cast is exact.
    val qn2 = graft.functions.VectorExprs.vectorDot(
      col("__qdd"), col("__qdd"))
    val dist = (qn2 + col("__cn2").cast("double") - lit(2.0d) *
        graft.functions.VectorExprs.vectorDot(col("__qdd"), col("__cv")))
      .cast("long")
    val byClusterFar = Window.partitionBy(col("cid"))
      .orderBy(col("dist").desc, col("id"))
    joined.join(broadcast(cents), "cid")
      .withColumn("dist", dist)
      .withColumn("rk", row_number().over(byClusterFar))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("cid"))))
      .select(col("id").as(idCol), col("cid"), col("dist"),
        col("rk"), col("n"),
        (col("rk") * 100 <= col("n") * outlierPct).as("is_outlier"))
  }

  /** Per-label embedding-space skew: the cosine of each label's
    * centroid against the global centroid — "which classes sit off to
    * one side of the corpus" (embedding drift / source-skew report).
    *
    * Cross-engine determinism is the whole design: raw float sums are
    * partial-aggregation-order dependent, so elements are first
    * quantized to exact integers (round(x * 1e6) as BIGINT), per-
    * (label, dim) sums are then EXACT, the global dim sums are exact
    * sums of those, and each centroid component is one IEEE division.
    * Components are assembled in dim order and the cosine is the
    * [[graft.functions.VectorExprs.vectorDot]] left-to-right fold —
    * the same op sequence the DuckDB oracle replays, so the doubles
    * match bit-for-bit before any final rounding.
    *
    * Scale shape: one posexplode scan, a (label x dim)-keyed partial
    * aggregation (bounded: labels x dims rows), then driver-sized
    * centroid assembly — no vector collect_list over raw rows, no
    * all-pairs. Output: label, n_vecs, cosg (cos vs global), cnorm,
    * gnorm (centroid L2 norms, micro-unit scale of the quantization).
    */
  def labelCentroidSkew(df: DataFrame, vecCol: String,
                        labelCol: String): DataFrame = {
    val (lab, glob) = labelAndGlobalCentroids(df, vecCol, labelCol)
    val dotLG = graft.functions.VectorExprs.vectorDot(col("__v"),
      col("__gv"))
    val cnorm = sqrt(graft.functions.VectorExprs.vectorDot(col("__v"),
      col("__v")))
    val gnorm = sqrt(graft.functions.VectorExprs.vectorDot(col("__gv"),
      col("__gv")))
    lab.crossJoin(broadcast(glob))
      .select(col("label"), col("n_vecs"),
        (dotLG / (cnorm * gnorm)).as("cosg"),
        cnorm.as("cnorm"), gnorm.as("gnorm"))
  }

  /** Per-label centroid VECTORS (and the global one) from the exact
    * integer-quantized sums — the shared machinery under
    * [[labelCentroidSkew]] and the pairwise centroid-similarity
    * queries. Returns (labels df: label, n_vecs, __v) and (global df:
    * one row, __gv); components are micro-unit-scale doubles assembled
    * in dim order. */
  private[graft] def labelAndGlobalCentroids(df: DataFrame,
      vecCol: String, labelCol: String): (DataFrame, DataFrame) = {
    val q = df
      .select(col(labelCol).as("label"), posexplode(col(vecCol)))
      .select(col("label"), col("pos"),
        round(col("col").cast("double") * lit(1e6), 0).cast("long")
          .as("q"))
    val perLabelPos = q.groupBy(col("label"), col("pos"))
      .agg(sum(col("q")).as("s"), count(lit(1)).as("n"))
    def toVec(grouped: DataFrame, keyCols: Seq[Column],
              extra: Seq[Column]): DataFrame = {
      val aggs = array_sort(collect_list(struct(col("pos"), col("c"))))
        .as("__pc") +: extra
      grouped
        .groupBy(keyCols: _*)
        .agg(aggs.head, aggs.tail: _*)
        .withColumn("__v", transform(col("__pc"), _.getField("c")))
        .drop("__pc")
    }
    val lab = toVec(
      perLabelPos.withColumn("c", col("s").cast("double") / col("n")),
      Seq(col("label")), Seq(max(col("n")).as("n_vecs")))
    val glob = toVec(
      perLabelPos.groupBy(col("pos"))
        .agg(sum(col("s")).as("gs"), sum(col("n")).as("gn"))
        .withColumn("c", col("gs").cast("double") / col("gn")),
      Seq(lit(1).as("__one")), Seq(count(lit(1)).as("__dims")))
      .select(col("__v").as("__gv"))
    (lab, glob)
  }

  /** Pairwise centroid cosine between labels/groups — "which sources
    * are semantically interchangeable". The pair stage runs on the
    * label-count-sized centroid table (one fold-ordered cosine per
    * pair), never on raw vectors. Output: l1 < l2 (string order),
    * n1, n2, cos. */
  def centroidPairSimilarity(df: DataFrame, vecCol: String,
                             labelCol: String): DataFrame = {
    val (lab, _) = labelAndGlobalCentroids(df, vecCol, labelCol)
    val dot = graft.functions.VectorExprs.vectorDot(col("a.__v"),
      col("b.__v"))
    val na = sqrt(graft.functions.VectorExprs.vectorDot(col("a.__v"),
      col("a.__v")))
    val nb = sqrt(graft.functions.VectorExprs.vectorDot(col("b.__v"),
      col("b.__v")))
    // broadcast the (label-count-sized) right side: the inequality
    // join otherwise plans as a banned CartesianProduct
    lab.as("a").join(broadcast(lab.as("b")),
        col("a.label") < col("b.label"))
      .select(col("a.label").as("l1"), col("b.label").as("l2"),
        col("a.n_vecs").as("n1"), col("b.n_vecs").as("n2"),
        (dot / (na * nb)).as("cos"))
  }

  /** Retrieval-quality evaluation: recall@k and MRR of an approximate
    * top-k result against the exact one — the metric every ANN index
    * deploy gates on, as a first-class distributed query rather than
    * a test-only assertion. Both inputs are (qid, nid, cos) tables
    * (the [[bruteForceTopK]] / [[lshTopK]] / [[ivfTopK]] / [[pqTopK]]
    * output contract); ranks are re-derived per qid by
    * (cos desc, nid asc), so callers pass the raw top-k output.
    *
    * recall@k = |approx ∩ truth| / |truth|; rr = 1/rank (in the
    * approx list) of the TRUE nearest neighbor (truth rank 1), 0 when
    * the approx list misses it. Queries the approx side returned
    * nothing for (empty LSH bucket) surface with hits 0 — a left join
    * from the truth side, not a silent drop.
    *
    * Scale shape: one qid+nid-keyed join of two k-bounded tables and
    * a qid-keyed rollup — cost is queries x k, independent of corpus
    * size. All outputs exact-integer-derived (counts and 1/rank on
    * an integer rank). Output per qid: n_truth, hits, recall
    * (double), rr (double) — pin both at the call site. */
  /** Embedding-table health diagnostics, per dimension: count, mean,
    * population variance, exact min/max, and the zero fraction — the
    * "is this embedding column sane" pre-index check (dead dims,
    * clipped dims, anisotropy via outlier dim variance). One
    * posexplode + one dim-keyed partial aggregation; output is
    * dimensionality-sized regardless of corpus size.
    *
    * min/max/counts are exact and order-independent; mean/var are
    * double sums (order-stable to ~1e-13 relative — fine under e6
    * pinning, the q59 centroid precedent). Output: dim (0-based), n,
    * mean, var, vmin, vmax, zero_frac. */
  def embeddingHealth(df: DataFrame, vecCol: String): DataFrame =
    df.select(posexplode(col(vecCol).cast("array<double>"))
        .as(Seq("dim", "v")))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("__s"),
        sum(col("v") * col("v")).as("__ss"),
        min(col("v")).as("vmin"), max(col("v")).as("vmax"),
        sum(when(col("v") === 0.0, 1L).otherwise(0L)).as("__z"))
      .withColumn("mean", col("__s") / col("n"))
      .withColumn("var",
        col("__ss") / col("n") - col("mean") * col("mean"))
      .withColumn("zero_frac",
        col("__z").cast("double") / col("n"))
      .select(col("dim"), col("n"), col("mean"), col("var"),
        col("vmin"), col("vmax"), col("zero_frac"))

  def recallEval(truth: DataFrame, approx: DataFrame): DataFrame = {
    def ranked(df: DataFrame, r: String) = df.withColumn(r,
      row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("nid"))))
    val t = ranked(truth, "t_rk").select(col("qid"), col("nid"),
      col("t_rk"))
    val a = ranked(approx, "a_rk").select(col("qid").as("__aq"),
      col("nid").as("__an"), col("a_rk"))
    val j = t.join(a, col("qid") === col("__aq") &&
      col("nid") === col("__an"), "left")
    j.groupBy(col("qid"))
      .agg(count(lit(1)).as("n_truth"),
        sum(when(col("a_rk").isNotNull, 1L).otherwise(0L)).as("hits"),
        max(when(col("t_rk") === 1, col("a_rk"))).as("__rk1"))
      .withColumn("recall",
        col("hits").cast("double") / col("n_truth"))
      .withColumn("rr",
        when(col("__rk1").isNotNull,
          lit(1.0) / col("__rk1").cast("double")).otherwise(lit(0.0)))
      .drop("__rk1")
  }

  /** Squared Euclidean distance between two vector columns via the
    * codegen'd [[graft.functions.VectorSqDist]] expression — same
    * left-to-right accumulation order as the HOF fold (kept below as
    * [[sqDistHof]] for the codegen-equivalence spec) and as the
    * DuckDB list_reduce oracles, so the doubles are bit-identical. */
  def sqDist(a: Column, b: Column): Column =
    graft.functions.VectorExprs.vectorSqDist(
      a.cast("array<double>"), b.cast("array<double>"))

  /** The interpreted HOF reference form of [[sqDist]] — the
    * cross-check the codegen equivalence spec runs against. */
  def sqDistHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a.cast("array<double>"), b.cast("array<double>"),
        (x, y) => (x - y) * (x - y)),
      lit(0.0d), (acc, v) => acc + v)

  /** Greedy k-center coreset (Gonzalez): start from the min-id
    * vector, then k-1 times pick the point FARTHEST from the chosen
    * set (max min-distance, min-id tiebreak). The classic diverse-
    * sample selector for training-data curation — k scan rounds,
    * each one distance projection + one 1-row argmax aggregate; the
    * only driver state is the k chosen (id, radius) scalars, so the
    * loop is bounded by k, never by data size (the q67 kmeans
    * contract). Returns (iter, center_id, radius) — radius = the
    * max-min Euclidean distance at selection time (0 for the seed). */
  def kCenterCoreset(df: DataFrame, idCol: String, vecCol: String,
                     k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .localCheckpoint(false)
    val seedRow = base.agg(min(col("id"))).head()
    require(!seedRow.isNullAt(0),
      "kCenterCoreset: input has no rows — need at least one vector")
    def centerVec(cid: Long) = base.filter(col("id") === cid)
      .select(col("v").as("cv"))
    var chosen = List((1, seedRow.getLong(0), 0.0))
    var mind: DataFrame = base.crossJoin(broadcast(centerVec(chosen.head._2)))
      .select(col("id"), col("v"), sqrt(sqDist(col("v"), col("cv"))).as("d"))
      .localCheckpoint(false)
    var exhausted = false
    for (i <- 2 to k if !exhausted) {
      val far = mind.filter(!col("id").isInCollection(chosen.map(_._2)))
        .agg(max(struct(col("d"), (-col("id")).as("nid")))).head()
      if (far.isNullAt(0)) {
        // fewer than k distinct points — every point is already a
        // center; degrade to the |points|-sized coreset, no NPE
        exhausted = true
      } else {
        val fs = far.getStruct(0)
        val (cid, rad) = (-fs.getLong(1), fs.getDouble(0))
        chosen = (i, cid, rad) :: chosen
        if (i < k)
          mind = mind.crossJoin(broadcast(centerVec(cid)))
            .select(col("id"), col("v"),
              least(col("d"), sqrt(sqDist(col("v"), col("cv")))).as("d"))
            .localCheckpoint(false)
      }
    }
    chosen.reverse.toDF("iter", "center_id", "radius")
  }

  /** TwoNN intrinsic-dimension estimate (Facco et al. 2017): for each
    * query point, the ratio mu = d2/d1 of its two nearest Euclidean
    * neighbors; ID = n / sum(ln mu). Queries with d1 = 0 (verbatim-
    * duplicate vectors) are excluded — their ratio is undefined.
    * Brute-force top-2 over the bounded query sample (the q28
    * contract; IVF/LSH are the scale path for the neighbor search). */
  def twoNNIntrinsicDim(queries: DataFrame, corpus: DataFrame,
                        idCol: String, vecCol: String): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("nid"), col(vecCol).as("nv"))
    val d = q.join(c, col("qid") =!= col("nid"))
      .select(col("qid"),
        sqrt(sqDist(col("qv"), col("nv"))).as("d"), col("nid"))
    val top2 = d.withColumn("rk", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("d"), col("nid"))))
      .filter(col("rk") <= 2)
      .groupBy(col("qid"))
      .agg(min(when(col("rk") === 1, col("d"))).as("d1"),
        min(when(col("rk") === 2, col("d"))).as("d2"))
    top2.filter(col("d1") > 0.0)
      .agg(count(lit(1)).as("n_used"),
        sum(log(col("d2") / col("d1"))).as("slog"))
      .select(col("n_used"),
        when(col("slog") > 0.0,
          col("n_used").cast("double") / col("slog")).otherwise(0.0)
          .as("id_hat"))
  }
}
