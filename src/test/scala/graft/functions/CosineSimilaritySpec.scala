package graft.functions

import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.graft.{FunctionNames, GraftFunctions}

import graft.SparkSpec

/** The native codegen'd cosine expression must equal the primitive kernel
  * bit-for-bit and must NOT appear as a ScalaUDF in the plan.
  */
class CosineSimilaritySpec extends SparkSpec {

  test("graft_cosine equals VectorMath.cosineD bit-for-bit") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val a = Array(0.1f, -0.2f, 0.3f, 0.9f)
    val b = Array(0.4f, 0.5f, -0.6f, 0.1f)
    val got = Seq((a, b)).toDF("a", "b")
      .select(expr("graft_cosine(a, b)")).head().getDouble(0)
    assert(got == VectorMath.cosineD(a, b))
  }

  test("expression is native (no ScalaUDF in the plan)") {
    GraftFunctions.register(spark)
    // literal inputs would be constant-folded away (also native behavior) —
    // scan a real table so the expression survives into the physical plan
    val df = graft.Tables.read(spark, sf, "embeddings")
      .selectExpr("graft_cosine(embedding, embedding) AS c")
    val p = df.queryExecution.executedPlan.toString()
    assert(!p.contains("ScalaUDF"), p)
    assert(p.toLowerCase.contains("graft_cosine"), p)
    assert(df.head().getDouble(0) > 0.999) // self-cosine ≈ 1
  }

  test("null inputs yield null") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = Seq((Option.empty[Array[Float]], Some(Array(1f))))
      .toDF("a", "b").selectExpr("graft_cosine(a, b)")
    assert(df.head().isNullAt(0))
  }

  test("GraftExtensions wires the function injections without error") {
    // both entry points install the same functions
    val injected = FunctionNames.injected(new graft.GraftExtensions())
    assert(injected == FunctionNames.registered(spark))
    assert(injected.contains("graft_bloom_agg"), injected)
  }

  test("graft_lsh_bucket equals VectorMath.lshBucket bit-for-bit, UDF-free plan") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val vs = Seq(
      Array(0.1f, -0.2f, 0.3f, 0.9f),
      Array(-1f, -2f, -3f, -4f),
      Array(0f, 0f, 0f, 1f))
    val df = vs.zipWithIndex.map { case (v, i) => (i, v) }.toDF("i", "v")
      .selectExpr("i", "graft_lsh_bucket(v, 6) AS b")
    val got = df.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    vs.zipWithIndex.foreach { case (v, i) =>
      assert(got(i) == VectorMath.lshBucket(v, 6), s"vec $i")
    }
    val p = graft.Tables.read(spark, sf, "embeddings")
      .selectExpr("graft_lsh_bucket(embedding, 6) AS b")
      .queryExecution.executedPlan.toString()
    assert(!p.contains("ScalaUDF") && p.contains("graft_lsh_bucket"), p)
  }

  test("graft_simhash60 equals VectorMath.simhash60 bit-for-bit, UDF-free plan") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val texts = Seq("the quick brown fox", "a", "", "tok1 tok1 tok2")
    val got = texts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("i", "t")
      .selectExpr("i", "graft_simhash60(t) AS h")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(got(i) == VectorMath.simhash60(t), s"text '$t'")
    }
    val p = graft.Tables.read(spark, sf, "documents")
      .selectExpr("graft_simhash60(text) AS h")
      .queryExecution.executedPlan.toString()
    assert(!p.contains("ScalaUDF") && p.contains("graft_simhash60"), p)
    // null in → null out
    val nulls = Seq(Option.empty[String]).toDF("t").selectExpr("graft_simhash60(t)")
    assert(nulls.head().isNullAt(0))
  }

  test("graft_bigram_counts counts char bigrams, UDF-free plan") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val got = Seq((1, "abca"), (2, "aaa"), (3, "x"), (4, ""))
      .toDF("i", "t")
      .selectExpr("i", "graft_bigram_counts(t) AS m")
      .collect().map(r => r.getInt(0) -> r.getMap[String, Int](1).toMap).toMap
    assert(got(1) == Map("ab" -> 1, "bc" -> 1, "ca" -> 1))
    assert(got(2) == Map("aa" -> 2))
    assert(got(3) == Map.empty && got(4) == Map.empty)
    val p = graft.Tables.read(spark, sf, "documents")
      .selectExpr("graft_bigram_counts(text) AS m")
      .queryExecution.executedPlan.toString()
    assert(!p.contains("ScalaUDF") && p.contains("graft_bigram_counts"), p)
  }

  test("graft_bigram_counts iterates code points — non-BMP matches substr") {
    import spark.implicits._
    GraftFunctions.register(spark)
    // U+1D54F is a surrogate pair in the JVM string but ONE position to
    // Spark's substr; bigrams must pair whole code points, never halves
    val t = "a𝕏b"
    val viaKernel = Seq(t).toDF("t")
      .selectExpr("graft_bigram_counts(t) AS m")
      .head().getMap[String, Int](0).toMap
    val viaSubstr = Seq(t).toDF("t")
      .selectExpr("explode(transform(sequence(1, length(t) - 1), i -> substr(t, i, 2))) AS bg")
      .collect().map(_.getString(0))
      .groupBy(identity).view.mapValues(_.length).toMap
    assert(viaKernel == viaSubstr)
    assert(viaKernel == Map("a𝕏" -> 1, "𝕏b" -> 1))
    // a lone surrogate-pair character has one code point — no bigrams
    assert(Seq("𝕏").toDF("t")
      .selectExpr("graft_bigram_counts(t) AS m")
      .head().getMap[String, Int](0).isEmpty)
  }

  test("null array elements fail loudly, not as silent 0.0") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = Seq((Array(Some(1f), None, Some(3f)), Array(Some(1f), Some(2f), Some(3f))))
      .toDF("a", "b")
    // depending on the evaluation path the guard surfaces directly or
    // wrapped in a SparkException — match on the message chain either way
    def messageChain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).toSeq
    val ex = intercept[Exception] {
      df.selectExpr("graft_cosine(a, b)").collect()
    }
    assert(messageChain(ex).exists(_.contains("null element")), ex)
    val ex2 = intercept[Exception] {
      df.selectExpr("graft_lsh_bucket(a, 6)").collect()
    }
    assert(messageChain(ex2).exists(_.contains("null element")), ex2)
  }

  test("bigram-count explode sums to the positional substr explode totals") {
    import org.apache.spark.sql.functions.{col, explode, expr}
    GraftFunctions.register(spark)
    val docs = graft.Tables.read(spark, sf, "documents")
    val viaMap = docs
      .select(col("lang"), explode(expr("graft_bigram_counts(text)")).as(Seq("bg", "cnt")))
      .groupBy("lang", "bg").sum("cnt")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val viaPositions = docs
      .select(col("lang"), explode(expr(
        "transform(sequence(1, length(text) - 1), i -> substr(text, i, 2))")).as("bg"))
      .groupBy("lang", "bg").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(viaMap == viaPositions && viaMap.nonEmpty)
  }

  test("graft_sig_match and graft_first_band_match: pinned semantics, UDF-free plan") {
    import org.apache.spark.sql.functions.expr
    import spark.implicits._
    GraftFunctions.register(spark)
    // sigs laid out as 4 bands × 2 rows; band 1 (positions 2,3) and band 3
    // (positions 6,7) agree, bands 0 and 2 don't
    val rows = Seq(
      (Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L),
       Seq(9L, 2L, 3L, 4L, 0L, 6L, 7L, 8L))).toDF("s1", "s2")
      .selectExpr("graft_sig_match(s1, s2) AS m",
        "graft_first_band_match(s1, s2, 2) AS fb",
        // no band agrees fully at width 4: (1,2,3,4)≠(9,2,3,4)
        "graft_first_band_match(s1, s2, 4) AS none")
      .head()
    assert(rows.getLong(0) == 6L, "6 of 8 positions agree")
    assert(rows.getInt(1) == 1, "first fully-matching 2-row band is band 1")
    assert(rows.getInt(2) == -1, "no 4-row band fully matches")
    // identical sigs: every position matches, first band is 0
    val same = Seq((Seq(1L, 2L), Seq(1L, 2L))).toDF("s1", "s2")
      .selectExpr("graft_sig_match(s1, s2)", "graft_first_band_match(s1, s2, 1)")
      .head()
    assert(same.getLong(0) == 2L && same.getInt(1) == 0)
    // null in → null out, and the plan stays native
    val nulls = Seq((Option.empty[Seq[Long]], Option(Seq(1L))))
      .toDF("s1", "s2").selectExpr("graft_sig_match(s1, s2)")
    assert(nulls.head().isNullAt(0))
    val p = graft.Tables.read(spark, sf, "documents")
      .selectExpr("array(doc_id) AS a")
      .selectExpr("graft_sig_match(a, a) AS m", "graft_first_band_match(a, a, 1) AS f")
      .queryExecution.executedPlan.toString()
    assert(!p.contains("ScalaUDF") && p.contains("graft_sig_match") &&
      p.contains("graft_first_band_match"), p)
  }

  test("tokenHash60 is stable (pinned values)") {
    // int value of the first 15 md5 hex digits (independently computed) —
    // the DuckDB-portable hash the simhash + sign-LSH families build on
    assert(VectorMath.tokenHash60("spark") == 688788748498370921L)
    assert(VectorMath.tokenHash60("hello") == 419982666956583591L)
    // plane components derive from bit 0 of the same hash
    assert(VectorMath.planeComponent(0, 0) ==
      (if ((VectorMath.tokenHash60("0#0") & 1L) == 1L) 1.0 else -1.0))
  }
}
