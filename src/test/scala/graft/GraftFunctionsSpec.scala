package graft

import org.scalatest.funsuite.AnyFunSuite

/** The SQL registration surface: every custom expression must be
  * callable from spark.sql like a built-in. */
class GraftFunctionsSpec extends AnyFunSuite with SparkTestBase {

  test("registered SQL functions evaluate like their column forms") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT vector_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
        |       deadband(0.002D, 0.003D) AS db0,
        |       deadband(0.010D, 0.003D) AS db1,
        |       rolling_hash('ab') AS rh,
        |       char_entropy('aabb') AS ce""".stripMargin).collect()(0)
    assert(r.getDouble(0) == 11.0)
    assert(r.getDouble(1) == 0.0)
    assert(math.abs(r.getDouble(2) - 0.007) < 1e-12)
    // ((0*31+97)%M)*31+98 = 3105
    assert(r.getLong(3) == 3105L)
    assert(math.abs(r.getDouble(4) - math.log(2.0)) < 1e-12)
  }

  test("exact_median works as a SQL aggregate") {
    GraftFunctions.register(spark)
    import spark.implicits._
    Seq(1.0, 9.0, 3.0, 5.0, 7.0).toDF("x").createOrReplaceTempView("mx")
    val m = spark.sql("SELECT exact_median(x) AS m FROM mx").collect()(0)
    assert(m.getDouble(0) == 5.0)
    val m4 = spark.sql(
      "SELECT exact_median(x) AS m FROM mx WHERE x < 9").collect()(0)
    assert(m4.getDouble(0) == 4.0) // even count: mean of middle two
  }

  test("vector_moment_gram works as a SQL aggregate") {
    GraftFunctions.register(spark)
    import spark.implicits._
    Seq(Array(1.0, 2.0), Array(3.0, 4.0)).toDF("v")
      .createOrReplaceTempView("mg")
    val flat = spark.sql(
      "SELECT vector_moment_gram(v, 2) AS g FROM mg")
      .collect()(0).getSeq[Double](0)
    // [n, cnt0, cnt1, sum0, sum1, g00, g01, g10, g11]
    assert(flat == Seq(2.0, 2.0, 2.0, 4.0, 6.0, 10.0, 14.0, 14.0, 20.0))
    val e = intercept[Exception] {
      spark.sql("SELECT vector_moment_gram(v, cast(rand()*2 as int)) FROM mg")
        .collect()
    }
    assert(e.getMessage.contains("integer literal"))
  }

  test("top_k_rows works as a SQL aggregate") {
    GraftFunctions.register(spark)
    import spark.implicits._
    Seq(("a", 1.0, 1L), ("a", 5.0, 2L), ("a", 5.0, 3L), ("a", 2.0, 4L),
      ("b", 9.0, 5L)).toDF("g", "s", "id").createOrReplaceTempView("tk")
    val rows = spark.sql(
      "SELECT g, top_k_rows(s, id, 2) AS top FROM tk GROUP BY g ORDER BY g")
      .collect()
    val a = rows(0).getSeq[org.apache.spark.sql.Row](1)
      .map(r => (r.getDouble(0), r.getLong(1)))
    assert(a == Seq((5.0, 2L), (5.0, 3L))) // tie -> smaller id first
    val b = rows(1).getSeq[org.apache.spark.sql.Row](1)
      .map(r => (r.getDouble(0), r.getLong(1)))
    assert(b == Seq((9.0, 5L)))
    val e = intercept[Exception] {
      spark.sql("SELECT top_k_rows(s, id, cast(rand()*2 as int)) FROM tk")
        .collect()
    }
    assert(e.getMessage.contains("integer literal"))
  }

  test("the extensions class injects the same registry entries") {
    // GraftExtensions is the spark.sql.extensions entry point; its
    // injection list must stay in sync with the direct registrar.
    val names = GraftFunctions.all.map(_._1.funcName).toSet
    assert(names == Set("vector_dot", "exact_median", "deadband",
      "rolling_hash", "char_entropy", "max_token_run", "char_ngrams",
      "token_ngrams", "vector_moment_gram", "top_k_rows",
      "jaro_winkler", "char_class_count"))
    val ext = new GraftExtensions
    val sse = new org.apache.spark.sql.SparkSessionExtensions
    ext(sse) // must not throw; builder wiring exercised above
  }

  test("CharClassCount codegen equals the regexp_replace derivation " +
      "over a range-based plan (all 5 modes)") {
    import org.apache.spark.sql.functions._
    // range-based source so the expression exercises doGenCode (local
    // Seq.toDF plans constant-fold through interpreted eval)
    val df = spark.range(0, 500).select(
      concat(lit("Ab 9 .x!  y?"), col("id").cast("string"),
        lit("  ou3.7 Einstein? "),
        when(col("id") % 3 === 0, "aeiou AEIOU").otherwise("zz 12"))
        .as("text"))
    val got = df.select(
      graft.operators.TextOps.charClassCount(col("text"), 0).as("m0"),
      graft.operators.TextOps.charClassCount(col("text"), 1).as("m1"),
      graft.operators.TextOps.charClassCount(col("text"), 2).as("m2"),
      graft.operators.TextOps.charClassCount(col("text"), 3).as("m3"),
      graft.operators.TextOps.charClassCount(lower(col("text")), 4)
        .as("m4"),
      (length(col("text")) -
        length(regexp_replace(col("text"), "[0-9]", ""))).as("r0"),
      (length(col("text")) -
        length(regexp_replace(col("text"), " ", ""))).as("r1"),
      (length(regexp_replace(col("text"), " +", "S")) -
        length(regexp_replace(col("text"), " +", ""))).as("r2"),
      (length(col("text")) -
        length(regexp_replace(col("text"), "[.!?]", ""))).as("r3"),
      (length(regexp_replace(lower(col("text")), "[aeiouy]+", "V")) -
        length(regexp_replace(lower(col("text")), "[aeiouy]+", "")))
        .as("r4")).collect()
    got.foreach { r =>
      (0 to 4).foreach { m =>
        assert(r.getLong(m) == r.getInt(5 + m).toLong,
          s"mode $m: native ${r.getLong(m)} vs regexp ${r.getInt(5 + m)}")
      }
    }
    // direct interpreted-path pins (multi-byte chars break runs)
    import graft.functions.CharClassCount
    import org.apache.spark.unsafe.types.UTF8String
    assert(CharClassCount.compute(
      UTF8String.fromString("a  bée yy"), 4) == 3L)
    assert(CharClassCount.compute(
      UTF8String.fromString("a  bée yy"), 2) == 2L)
  }

  test("Md5Hash32 codegen is bit-identical to the conv(substring(md5))" +
      " composition over a range-based plan") {
    import org.apache.spark.sql.functions._
    // range-based source so the expression exercises doGenCode; inputs
    // cover empty string, multi-byte UTF-8, and the salt:id shapes
    // every hashKeep caller builds. NULL row pins null-propagation.
    val df = spark.range(0, 2000).select(
      when(col("id") === 0, lit(null).cast("string"))
        .when(col("id") === 1, lit(""))
        .otherwise(concat(lit("salt:"), col("id").cast("string"),
          lit(" é€"))).as("s"))
    val got = df.select(
      graft.operators.CurationOps.md5Hash32(col("s")).as("native"),
      conv(substring(md5(col("s")), 1, 8), 16, 10).cast("long")
        .as("composed")).collect()
    got.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1))
      if (!r.isNullAt(0))
        assert(r.getLong(0) == r.getLong(1),
          s"native ${r.getLong(0)} vs composed ${r.getLong(1)}")
    }
    assert(got.count(_.isNullAt(0)) == 1)
  }

  test("VectorSqDist codegen is bit-identical to the HOF fold over a " +
      "range-based plan") {
    import org.apache.spark.sql.functions._
    // range-based source so the expression exercises doGenCode (local
    // Seq.toDF plans constant-fold through interpreted eval); values
    // are irregular doubles so any accumulation-order difference
    // would show up bit-wise
    val df = spark.range(0, 1000).select(
      transform(sequence(lit(0), lit(63)),
        i => sin(col("id") * i + 1).cast("double")).as("a"),
      transform(sequence(lit(0), lit(63)),
        i => cos(col("id") - i * 3).cast("double")).as("b"))
    val rows = df.select(
      graft.operators.SimilarityOps.sqDist(col("a"), col("b"))
        .as("native"),
      graft.operators.SimilarityOps.sqDistHof(col("a"), col("b"))
        .as("hof")).collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)),
        s"native ${r.getDouble(0)} != hof ${r.getDouble(1)}")
    }
  }

  test("VectorSqDist outside the equal-length non-null precondition: " +
      "documented divergence from the HOF form is pinned") {
    import org.apache.spark.sql.functions._
    // range-based so codegen runs; the precondition (equal-length,
    // non-null elements) is what every call site satisfies — OUTSIDE
    // it the native loop truncates to the shorter array / reads null
    // elements as 0.0 while zip_with+aggregate returns NULL. Pin both
    // so a future ragged/nullable caller hits documented behavior.
    val df = spark.range(0, 4).select(
      // a = [1.0, 3.0], b = [1.0] (shorter) — native: 0.0, HOF: NULL
      array(lit(1.0), lit(3.0)).as("a"),
      array(lit(1.0)).as("b"),
      // c has a null element — native reads it as 0.0, HOF: NULL
      array(lit(2.0), lit(null).cast("double")).as("c"),
      array(lit(2.0), lit(5.0)).as("d"),
      // null top-level array — BOTH return NULL
      lit(null).cast("array<double>").as("e"))
    val r = df.select(
      graft.operators.SimilarityOps.sqDist(col("a"), col("b")).as("n_len"),
      graft.operators.SimilarityOps.sqDistHof(col("a"), col("b")).as("h_len"),
      graft.operators.SimilarityOps.sqDist(col("c"), col("d")).as("n_nul"),
      graft.operators.SimilarityOps.sqDistHof(col("c"), col("d")).as("h_nul"),
      graft.operators.SimilarityOps.sqDist(col("e"), col("d")).as("n_top"),
      graft.operators.SimilarityOps.sqDistHof(col("e"), col("d")).as("h_top"))
      .head()
    assert(r.getDouble(0) == 0.0)           // truncated to min length
    assert(r.isNullAt(1))                   // HOF: zip_with pads null
    assert(r.getDouble(2) == 25.0)          // null element read as 0.0
    assert(r.isNullAt(3))                   // HOF: null poisons fold
    assert(r.isNullAt(4) && r.isNullAt(5))  // null array: both NULL
  }

  test("every native scalar expression gives identical rows on the " +
      "codegen and the interpreted path, nulls and empty values included") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    import graft.functions.VectorExprs
    import graft.operators.{CurationOps, TextOps}
    val texts = Seq(null, "", " ", "a", "Hello, World! 42",
      "the cat  sat on  the cat sat", "né€ 𝄞 ünï", "aaaa bbbb aaaa  a",
      "x.y?z! 1 2 3 ...")
    // each row picks its strings by id: range-based inputs, so nothing
    // constant-folds and the codegen run really goes through doGenCode
    def pick(shift: Int): Column =
      texts.zipWithIndex.foldLeft(lit(null).cast("string")) {
        case (acc, (v, i)) =>
          when((col("id") + shift) % texts.size === i, lit(v).cast("string"))
            .otherwise(acc)
      }
    val exprs: Seq[(String, Column)] =
      (0 to 4).map(m => s"CharClassCount$m" ->
        TextOps.charClassCount(col("s"), m)) ++ Seq(
      "CharEntropy" -> TextOps.charEntropy(col("s")),
      "CharNgrams" -> TextOps.charNgrams(col("s"), 3),
      "JaroWinkler" -> TextOps.jaroWinkler(col("s"), col("s2")),
      "Md5Hash32" -> CurationOps.md5Hash32(col("s")),
      "RollingHash" -> TextOps.rollingHash(col("s")),
      "SortedDeletionVariants" ->
        TextOps.sortedDeletionVariants(col("s"), col("depth")),
      "TokenNgrams" -> TextOps.shinglesFromTokens(col("toks"), 2),
      "MaxTokenRun" -> TextOps.maxTokenRun(col("s")),
      "VectorDot" -> VectorExprs.vectorDot(col("a"), col("b")),
      "VectorSqDist" -> VectorExprs.vectorSqDist(col("a"), col("b")))
    // a fresh plan per run: the evaluation path is fixed at planning
    def run(): (Boolean, Seq[Seq[Any]]) = {
      val df = spark.range(0, 2L * texts.size).select(col("id"),
          pick(0).as("s"), pick(3).as("s2"),
          when(col("id") === 4, array().cast("array<string>"))
            .otherwise(split(pick(0), " ")).as("toks"),
          when(col("id") === 5, lit(null).cast("int"))
            .otherwise((col("id") % 4).cast("int")).as("depth"),
          when(col("id") === 1, lit(null).cast("array<double>"))
            .when(col("id") === 2, array().cast("array<double>"))
            .otherwise(transform(sequence(lit(0), (col("id") % 5).cast("int")),
              i => sin(col("id") * i + 1))).as("a"),
          transform(sequence(lit(0), lit(4)),
            i => cos(col("id") - i * 3)).as("b"))
        .select(col("id") +: exprs.map { case (n, c) => c.as(n) }: _*)
      // doubles compare bit for bit, arrays element by element
      def norm(v: Any): Any = v match {
        case d: Double => java.lang.Double.doubleToLongBits(d)
        case xs: scala.collection.Seq[_] => xs.map(norm).toList
        case other => other
      }
      (df.queryExecution.executedPlan.exists(
          _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]),
        df.collect().sortBy(_.getLong(0)).map(_.toSeq.map(norm)).toSeq)
    }
    val interpretedConfs = Seq(
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false")
    val saved = interpretedConfs.map { case (k, _) => k -> spark.conf.getOption(k) }
    val (codegenStages, compiled) = run()
    val (interpretedStages, interpreted) =
      try {
        interpretedConfs.foreach { case (k, v) => spark.conf.set(k, v) }
        run()
      } finally saved.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    assert(codegenStages && !interpretedStages)
    assert(compiled.size == interpreted.size)
    compiled.zip(interpreted).foreach { case (c, i) =>
      exprs.map(_._1).zipWithIndex.foreach { case (name, j) =>
        assert(c(j + 1) == i(j + 1),
          s"$name on row ${c.head}: codegen ${c(j + 1)} vs interpreted ${i(j + 1)}")
      }
    }
    // the inputs reach nulls and empties of every kind
    val nulls = exprs.indices.map(j => compiled.count(_(j + 1) == null))
    assert(nulls.forall(_ > 0), s"per-expression null counts $nulls")
  }
}
