package graft

import org.apache.spark.sql.SparkSessionExtensions
import graft.functions.VectorFunctions

class ExtensionsSpec extends SparkSpec {

  test("graft_cosine is callable from SQL after registration") {
    VectorFunctions.register(spark)
    val got = spark.sql(
      "SELECT graft_cosine(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
        "array(CAST(0.6 AS FLOAT), CAST(0.8 AS FLOAT)))").collect()(0).getDouble(0)
    assert(math.abs(got - 0.6) < 1e-7)
  }

  test("graft_cosine rejects non-array<float> arguments at analysis time") {
    VectorFunctions.register(spark)
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      // array<double> literals (no FLOAT cast) — must fail analysis with
      // a readable message, not ClassCastException at eval
      spark.sql("SELECT graft_cosine(array(1.0, 0.0), array(0.6, 0.8))").collect()
    }
    assert(err.getMessage.contains("graft_cosine"))
  }

  test("graft_repeat_stats is callable from SQL with and without the n-gram arg") {
    graft.functions.TextExpressions.register(spark)
    val r = spark.sql(
      "SELECT graft_repeat_stats(array('a','b','a','a'))").collect()(0).getStruct(0)
    assert(r.getLong(0) == 3L && r.getLong(1) == 3L) // top run 'a'×3, dup mass 3
    val bg = spark.sql(
      "SELECT graft_repeat_stats(array('a','b','a','b','a'), 2)").collect()(0).getStruct(0)
    // bigrams: (a b), (b a), (a b), (b a) → top 2, all 4 duplicated
    assert(bg.getLong(0) == 2L && bg.getLong(1) == 4L)
  }

  test("graft_ngrams is callable from SQL") {
    graft.functions.TextExpressions.registerNgrams(spark)
    val r = spark.sql("SELECT graft_ngrams(array('a','b','c'), 2)")
      .collect()(0).getSeq[String](0)
    assert(r == Seq("a b", "b c"))
  }

  test("native text expressions handle empty and too-short arrays") {
    graft.functions.TextExpressions.register(spark)
    graft.functions.TextExpressions.registerNgrams(spark)
    graft.functions.TextExpressions.registerWindowHashes(spark)
    val rows = spark.sql(
      """SELECT graft_ngrams(array('a'), 2) AS ng_short,
        |       graft_ngrams(array('a'), 1) AS ng_one,
        |       graft_ngrams(CAST(array() AS ARRAY<STRING>), 2) AS ng_empty,
        |       size(graft_window_hashes(array('a','b'), 3)) AS wh_short,
        |       graft_repeat_stats(CAST(array() AS ARRAY<STRING>), 1) AS rs_empty,
        |       graft_repeat_stats(array('a','b'), 3) AS rs_short""".stripMargin)
      .collect()(0)
    assert(rows.getSeq[String](0) == Seq())
    assert(rows.getSeq[String](1) == Seq("a"))
    assert(rows.getSeq[String](2) == Seq())
    assert(rows.getInt(3) == 0)
    assert(rows.getStruct(4).getLong(0) == 0L && rows.getStruct(4).getLong(1) == 0L)
    assert(rows.getStruct(5).getLong(0) == 0L && rows.getStruct(5).getLong(1) == 0L)
  }

  test("constant args: NULL literals and wrong arity fail ANALYSIS, not diverge or IOOBE") {
    graft.functions.TextExpressions.registerNgrams(spark)
    graft.functions.TextExpressions.registerTermFreqs(spark)
    // a NULL constant would DIVERGE between execution modes (the
    // interpreted path null-short-circuits row-wise, the codegen path
    // bakes the constant — unboxing null to 0) — one analysis error
    // beats two different answers
    val e1 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_ngrams(array('a','b'), CAST(NULL AS INT))")
        .collect()
    }
    assert(e1.getMessage.contains("non-NULL"), e1.getMessage)
    // a NULL constant ARRAY would NPE at planning time inside the
    // baked-constant lazy val — same rule
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(
        "SELECT graft_term_freqs('a b', CAST(NULL AS ARRAY<STRING>))")
        .collect()
    }
    assert(e2.getMessage.contains("non-NULL"), e2.getMessage)
    // wrong arity names the function and the expected count instead of
    // an IndexOutOfBoundsException from deep in analysis
    val e3 = intercept[Exception] {
      spark.sql("SELECT graft_ngrams(array('a','b'))").collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq() else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e3).exists(m =>
      m.contains("graft_ngrams") && m.contains("2")), messages(e3).toString)
    // an EMPTY trained artifact is a no-op model, not a crash:
    // functions.array() with zero children would type as array<null>
    // and fail the type check — the helpers build a typed empty array
    graft.functions.TextExpressions.registerBpeEncode(spark)
    import spark.implicits._
    val ids = Seq("ab").toDF("t")
      .select(graft.functions.TextExpressions.bpeEncode(
        org.apache.spark.sql.functions.col("t"), Seq()))
      .collect()(0).getSeq[Int](0)
    assert(ids.length == 2, s"zero merges = per-code-point ids: $ids")
  }

  test("graft_sign_bits rejects more than 64 planes at analysis time") {
    VectorFunctions.register(spark)
    // 64 planes is the Long-signature ceiling; 65 must fail ANALYSIS
    // (planes is foldable, so the count is known before any row runs)
    // instead of silently aliasing bit 64 onto bit 0
    def planesSql(n: Int) = (1 to n).map(_ => "array(CAST(1.0 AS DOUBLE))")
      .mkString("array(", ", ", ")")
    val ok = spark.sql(
      s"SELECT graft_sign_bits(array(CAST(1.0 AS FLOAT)), ${planesSql(64)})")
      .collect()(0).getLong(0)
    assert(ok == -1L) // every dot product positive → all 64 bits set
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(
        s"SELECT graft_sign_bits(array(CAST(1.0 AS FLOAT)), ${planesSql(65)})")
        .collect()
    }
    assert(err.getMessage.contains("at most 64"))
  }

  test("graft_remove_spans sorts unsorted starts and rejects null elements") {
    graft.functions.TextExpressions.registerRemoveSpans(spark)
    // unsorted starts [3, 1] with window 2 cover positions 1-4; the
    // merged-interval sweep must yield the same text as sorted [1, 3]
    val unsorted = spark.sql(
      "SELECT graft_remove_spans(array('a','b','c','d','e'), array(3, 1), 2)")
      .collect()(0).getString(0)
    assert(unsorted == "e", s"unsorted starts mishandled: got '$unsorted'")
    // a null start has no meaning — must fail loudly, not corrupt output
    val err = intercept[Exception] {
      spark.sql(
        "SELECT graft_remove_spans(array('a','b','c'), array(1, CAST(NULL AS INT)), 2)")
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq() else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(err).exists(_.contains("must not contain null")))
  }

  test("register* is idempotent per session: a second call keeps the registered builder") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val reg = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    def builders(names: Seq[String]) =
      names.map(n => reg.lookupFunctionBuilder(FunctionIdentifier(n)).get)
    val names = Seq("graft_cosine", "graft_pq_adc", "graft_ngrams", "graft_jaro_winkler")
    def registerAll(): Unit = {
      VectorFunctions.register(spark)
      graft.functions.PqExpressions.register(spark)
      graft.functions.TextExpressions.registerNgrams(spark)
      graft.functions.TextExpressions.registerJaroWinkler(spark)
    }
    registerAll()
    val before = builders(names)
    registerAll()
    // the same builder objects: nothing was replaced, so the registry
    // logged no "replaced a previously registered function" warning
    assert(builders(names).zip(before).forall { case (a, b) => a eq b })
  }

  test("GraftExtensions injects graft_cosine into a session extensions set") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext) // must not throw; builder registered
    // the injected builder constructs the expression
    val expr = graft.functions.CosineSim(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(1.0f, 0.0f), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(0.6f, 0.8f), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)))
    assert(math.abs(expr.eval(null).asInstanceOf[Double] - 0.6) < 1e-7)
  }
}
