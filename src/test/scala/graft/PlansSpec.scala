package graft

import org.apache.spark.sql.functions._

import graft.similarity.Similarity

class PlansSpec extends SparkSpecBase {
  import spark.implicits._

  test("native DotProductLong equals the HOF formulation (randomized)") {
    val rnd = new scala.util.Random(42)
    val rows = Seq.fill(50)(
      (Seq.fill(16)(rnd.nextLong() % 1000000L), Seq.fill(16)(rnd.nextLong() % 1000000L))
    )
    val mismatches = rows.toDF("a", "b")
      .select(Similarity.dotQ(col("a"), col("b")).as("n"), Similarity.dotQHof(col("a"), col("b")).as("h"))
      .filter(col("n") =!= col("h"))
      .count()
    assert(mismatches === 0L)
  }

  test("DotProductLong handles nulls and length mismatch") {
    val df = Seq(
      (Some(Seq(1L, 2L, 3L)), Some(Seq(4L, 5L))), // mismatched: min length
      (None, Some(Seq(1L)))                       // null in → null out
    ).toDF("a", "b")
    val out = df.select(Similarity.dotQ(col("a"), col("b"))).collect()
    assert(out(0).getLong(0) === 14L)
    assert(out(1).isNullAt(0))
  }

  test("graft_dot_long / graft_dot_float are registered SQL functions via extensions") {
    val l = spark.sql("SELECT graft_dot_long(array(1L, 2L), array(3L, 4L)) AS d").as[Long].head()
    assert(l === 11L)
    val f = spark.sql("SELECT graft_dot_float(array(CAST(0.5 AS FLOAT)), array(CAST(2.0 AS FLOAT))) AS d")
      .as[Double].head()
    assert(f === 1.0)
  }

  test("graft_dot_long refuses non-integral arrays at analysis") {
    val e = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT graft_dot_long(array('a'), array('b'))").head())
    assert(e.getMessage.contains("graft_dot_long"))
  }

  test("graft_shingles / graft_char_shingles are registered SQL functions") {
    val w = spark.sql("SELECT graft_shingles('The quick Fox', 2) AS g")
      .as[Seq[String]].head()
    assert(w === Seq("the quick", "quick fox"))
    val c = spark.sql("SELECT graft_char_shingles('AbC', 2) AS g")
      .as[Seq[String]].head()
    assert(c === Seq("ab", "bc"))
  }

  test("VectorizeDotProducts rewrites the HOF fold to the native expression") {
    // non-local child so the projection isn't constant-folded away
    val df = spark.range(50)
      .select(array(col("id"), col("id") + 1).as("a"), array(col("id") * 2, col("id") + 3).as("b"))
    val hof = df.select(
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0L), (acc, v) => acc + v).as("d"))
    // the optimizer swapped in the native expression...
    assert(hof.queryExecution.optimizedPlan.toString.contains("graft_dot_long"))
    assert(!hof.queryExecution.optimizedPlan.toString.contains("aggregate("))
    // ...and values match the native formulation exactly
    val native = df.select(Similarity.dotQ(col("a"), col("b")).as("d"))
    assert(hof.as[Long].collect().toSeq === native.as[Long].collect().toSeq)
  }

  test("VectorizeDotProducts leaves non-dot-product folds alone") {
    val df = spark.range(10).select(array(col("id"), col("id") + 1).as("a"), array(col("id")).as("b"))
    // max-fold, not a dot product: must stay a HOF
    val other = df.select(
      aggregate(zip_with(col("a"), col("a"), (x, y) => x * y), lit(1L), (acc, v) => greatest(acc, v)))
    assert(!other.queryExecution.optimizedPlan.toString.contains("graft_dot_long"))
    // SQL route gets the rewrite too
    val sqlPlan = spark.range(5)
      .select(array(col("id")).as("a"), array(col("id")).as("b"))
      .selectExpr("aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, v) -> acc + v) AS d")
    assert(sqlPlan.queryExecution.optimizedPlan.toString.contains("graft_dot_long"))
  }

  test("native PqLookupSum / PqSdcSum equal the HOF formulations (randomized)") {
    val rnd = new scala.util.Random(1013)
    val m = 4; val k = 7
    val rows = Seq.fill(60)((
      Seq.fill(m)(rnd.nextInt(k)),                       // ca
      Seq.fill(m)(rnd.nextInt(k)),                       // cb
      Seq.fill(m, k)(rnd.nextLong() % 1000000L),         // lut  [m][k]
      Seq.fill(m, k, k)(rnd.nextLong() % 1000000L)       // sdc  [m][k][k]
    ))
    val df = rows.toDF("ca", "cb", "lut", "sdc")
    val pq = org.apache.spark.sql.graft.GraftFunctions.pqLookupSum _
    val sdc = org.apache.spark.sql.graft.GraftFunctions.pqSdcSum _
    val cmp = df.select(
      pq(col("ca"), col("lut")).as("n1"),
      expr(s"aggregate(sequence(0, ${m - 1}), CAST(0 AS BIGINT), (a2, si) -> a2 + " +
        "element_at(element_at(lut, si + 1), element_at(ca, si + 1) + 1))").as("h1"),
      sdc(col("ca"), col("cb"), col("sdc")).as("n2"),
      expr(s"aggregate(sequence(0, ${m - 1}), CAST(0 AS BIGINT), (a2, si) -> a2 + " +
        "element_at(element_at(element_at(sdc, si + 1), element_at(ca, si + 1) + 1), " +
        "element_at(cb, si + 1) + 1))").as("h2"))
    assert(cmp.filter(col("n1") =!= col("h1") || col("n2") =!= col("h2")).count() === 0L)
  }

  test("native PqLut / PqEncode equal the HOF formulations (randomized)") {
    val rnd = new scala.util.Random(2027)
    val m = 3; val subDim = 4; val k = 5
    val rows = Seq.fill(40)((
      Seq.fill(m * subDim)(rnd.nextLong() % 1000000L),   // e
      Seq.fill(m, k, subDim)(rnd.nextLong() % 1000000L)  // cbs3 [m][k][subDim]
    ))
    val df = rows.toDF("e", "cbs3")
      .withColumn("cn2", expr(
        "transform(cbs3, cws -> transform(cws, ce -> " +
          "aggregate(zip_with(ce, ce, (x, y) -> x * y), CAST(0 AS BIGINT), (a2, x2) -> a2 + x2)))"))
    val dot = (se: String, ce: String) =>
      s"aggregate(zip_with($se, $ce, (x, y) -> x * y), CAST(0 AS BIGINT), (a2, x2) -> a2 + x2)"
    val cmp = df.select(
      org.apache.spark.sql.graft.GraftFunctions.pqLut(col("e"), col("cbs3")).as("n1"),
      expr(s"transform(sequence(0, ${m - 1}), si -> transform(element_at(cbs3, si + 1), " +
        s"ce -> ${dot(s"slice(e, si * $subDim + 1, $subDim)", "ce")}))").as("h1"),
      org.apache.spark.sql.graft.GraftFunctions
        .pqEncode(col("e"), col("cbs3"), col("cn2")).as("n2"),
      // the r12 HOF encode fold: strict-< argmin, ties to the smaller
      // dcid, degenerate -1 start
      expr(s"transform(sequence(0, ${m - 1}), si -> aggregate(" +
        s"zip_with(element_at(cbs3, si + 1), element_at(cn2, si + 1), (ce, cn) -> " +
        s"named_struct('d', cn - 2 * ${dot(s"slice(e, si * $subDim + 1, $subDim)", "ce")})), " +
        s"named_struct('dcid', -1, 'd', CAST(9223372036854775807 AS BIGINT), 'i', 0), " +
        s"(acc, sd) -> named_struct(" +
        s"'dcid', CASE WHEN sd.d < acc.d THEN acc.i ELSE acc.dcid END, " +
        s"'d', CASE WHEN sd.d < acc.d THEN sd.d ELSE acc.d END, " +
        s"'i', acc.i + 1)).dcid)").as("h2"))
    assert(cmp.filter(col("n1") =!= col("h1") || col("n2") =!= col("h2")).count() === 0L)
  }

  test("PqLookupSum nulls propagate; out-of-range codes throw loudly") {
    val pq = org.apache.spark.sql.graft.GraftFunctions.pqLookupSum _
    val df = Seq(
      (Some(Seq(0, 1)), Some(Seq(Seq(10L, 20L), Seq(30L, 40L)))),
      (None, Some(Seq(Seq(1L))))
    ).toDF("c", "t")
    val out = df.select(pq(col("c"), col("t"))).collect()
    assert(out(0).getLong(0) === 50L)
    assert(out(1).isNullAt(0))
    // UnsafeArrayData does not bounds-check — the expression must
    val bad = Seq((Seq(5), Seq(Seq(1L, 2L)))).toDF("c", "t")
    val e = intercept[Exception](bad.select(pq(col("c"), col("t"))).collect())
    assert(e.getMessage.contains("out of range") ||
      Option(e.getCause).exists(_.getMessage.contains("out of range")))
  }

  test("PqLut / PqEncode fence a too-short vector instead of reading silent garbage") {
    // codebooks want m=2 subspaces × subDim=3 ⇒ e needs 6 longs; give 4
    val df = Seq((
      Seq(1L, 2L, 3L, 4L),
      Seq(Seq(Seq(1L, 1L, 1L)), Seq(Seq(2L, 2L, 2L))),
      Seq(Seq(3L), Seq(12L))
    )).toDF("e", "cbs3", "cn2")
    def msgs(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
        .flatMap(x => Option(x.getMessage))
    val e1 = intercept[Exception](
      df.select(org.apache.spark.sql.graft.GraftFunctions.pqLut(col("e"), col("cbs3"))).collect())
    assert(msgs(e1).exists(m => m.contains("graft_pq_lut") && m.contains("vector length")),
      msgs(e1))
    val e2 = intercept[Exception](
      df.select(org.apache.spark.sql.graft.GraftFunctions
        .pqEncode(col("e"), col("cbs3"), col("cn2"))).collect())
    assert(msgs(e2).exists(m => m.contains("graft_pq_encode") && m.contains("vector length")),
      msgs(e2))
    // and through codegen with a non-local child (no constant folding)
    val dfCg = spark.range(3)
      .select(array(col("id"), col("id") + 1).as("e"),
        array(array(array(lit(1L), lit(1L), lit(1L)))).as("cbs3"))
      .select(org.apache.spark.sql.graft.GraftFunctions.pqLut(col("e"), col("cbs3")).as("l"))
    val e3 = intercept[Exception](dfCg.collect())
    assert(msgs(e3).exists(_.contains("graft_pq_lut")), msgs(e3))
  }

  test("graft_pq_lookup_sum / graft_pq_sdc_sum are registered SQL functions inside codegen") {
    val s = spark.sql(
      "SELECT graft_pq_lookup_sum(array(1, 0), array(array(1L, 2L), array(30L, 40L))) AS v")
      .as[Long].head()
    assert(s === 32L)
    val s2 = spark.sql(
      "SELECT graft_pq_sdc_sum(array(0), array(1), array(array(array(1L, 7L), array(9L, 3L)))) AS v")
      .as[Long].head()
    assert(s2 === 7L)
    // the fold runs inside a WholeStageCodegen stage (non-local child)
    val df = spark.range(100)
      .select(array(lit(0), lit(1)).as("c"),
        array(array(col("id"), col("id") * 2), array(col("id") + 1, col("id") + 3)).as("t"))
      .select(org.apache.spark.sql.graft.GraftFunctions.pqLookupSum(col("c"), col("t")).as("v"))
    assert(df.queryExecution.executedPlan.toString.contains("*(1) Project [graft_pq_lookup_sum"))
    assert(df.agg(sum("v")).as[Long].head() === (0L until 100L).map(i => i + (i + 3)).sum)
  }

  test("native dot product appears inside WholeStageCodegen") {
    // needs a non-local child: local relations constant-fold the whole projection
    val df = spark.range(100)
      .select(array(col("id"), col("id") + 1).as("a"), array(col("id") * 2, col("id")).as("b"))
      .select(Similarity.dotQ(col("a"), col("b")).as("d"))
    // the "*(n)" prefix marks operators inside a WholeStageCodegen stage
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [graft_dot_long"))
    assert(df.agg(sum(col("d"))).as[Long].head() === (0L until 100L).map(i => i * i * 2 + (i + 1) * i).sum)
  }
}
