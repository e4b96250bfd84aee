package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Guards the custom Catalyst expressions at the expression level:
  * codegen and interpreted paths must agree bit-for-bit, match the
  * HOF formulation they replace, and handle nulls/empties like the
  * built-ins they mirror.
  */
class VectorExprsSpec extends SparkSpec {

  import spark.implicits._

  private def seeded(n: Int, dims: Int): Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(7)
    Seq.tabulate(n)(i => (i.toLong, Array.fill(dims)(rnd.nextFloat() * 2 - 1)))
  }

  test("cosine_sim equals the HOF fold bit-for-bit") {
    val df = seeded(200, 64).toDF("id", "a")
      .withColumn("b", reverse(col("a"))) // a second deterministic vector
    val hof =
      """aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
        |          CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)
        | / (sqrt(aggregate(zip_with(a, a, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
        |          CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))
        |  * sqrt(aggregate(zip_with(b, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
        |          CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)))""".stripMargin
    val rows = df.select(expr("cosine_sim(a, b)").as("fast"), expr(hof).as("ref")).collect()
    rows.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
  }

  test("cosine_sim codegen and interpreted paths agree") {
    val df = seeded(100, 16).toDF("id", "a").withColumn("b", reverse(col("a")))
    val viaCodegen = df.select(col("id"), expr("cosine_sim(a, b)").as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // window functions force an interpreted/non-whole-stage boundary;
    // simpler: evaluate through the interpreted projection via RDD map
    val exprCol = expr("cosine_sim(a, b)")
    val viaEval = df.select(col("id"), exprCol.as("c")).repartition(1)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaCodegen === viaEval)
    // direct interpreted eval of the expression object
    val a = Array.tabulate(8)(i => (i + 1).toFloat)
    val b = Array.tabulate(8)(i => (8 - i).toFloat)
    val lit = CosineSimilarity(
      org.apache.spark.sql.catalyst.expressions.Literal.create(a,
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(b,
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)))
    val interpreted = lit.eval(null).asInstanceOf[Double]
    var dot = 0.0; var na = 0.0; var nb = 0.0
    (0 until 8).foreach { i =>
      dot += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble
    }
    assert(interpreted === dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  test("cosine_sim propagates nulls") {
    val df = Seq((1L, Some(Array(1.0f, 2.0f)), None: Option[Array[Float]]))
      .toDF("id", "a", "b")
    val r = df.select(expr("cosine_sim(a, b)")).head()
    assert(r.isNullAt(0))
  }

  test("dot_product equals the HOF fold bit-for-bit, mixed float/double sides") {
    val df = seeded(200, 64).toDF("id", "a")
      .withColumn("b", expr("CAST(reverse(a) AS ARRAY<DOUBLE>)"))
    val hof =
      """aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
        |          CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin
    val rows = df.select(expr("dot_product(a, b)").as("fast"), expr(hof).as("ref")).collect()
    rows.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
    // float×float side too
    val ff = df.withColumn("bf", reverse(col("a")))
      .select(expr("dot_product(a, bf)").as("fast"),
        expr(hof.replace("b,", "bf,")).as("ref")).collect()
    ff.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
  }

  test("dot_product propagates nulls and rejects non-numeric arrays") {
    val df = Seq((1L, Some(Array(1.0f, 2.0f)), None: Option[Array[Float]]))
      .toDF("id", "a", "b")
    assert(df.select(expr("dot_product(a, b)")).head().isNullAt(0))
    val bad = intercept[org.apache.spark.sql.AnalysisException] {
      Seq(("x", "y")).toDF("a", "b").select(expr("dot_product(a, b)")).collect()
    }
    assert(bad.getMessage.toLowerCase.contains("dot_product") ||
      bad.getMessage.toLowerCase.contains("data type"))
  }

  test("cosine_sim and dot_product null on length mismatch, like the HOF form") {
    val df = Seq((1L, Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f)))
      .toDF("id", "a", "b")
    val hofDot =
      """aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
        |          CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin
    val r = df.select(
      expr("cosine_sim(a, b)").as("c"),
      expr("dot_product(a, b)").as("d"),
      expr(hofDot).as("ref")).head()
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
    // interpreted path agrees
    val tA = org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)
    val litA = org.apache.spark.sql.catalyst.expressions.Literal.create(Array(1.0f, 2.0f, 3.0f), tA)
    val litB = org.apache.spark.sql.catalyst.expressions.Literal.create(Array(4.0f, 5.0f), tA)
    assert(CosineSimilarity(litA, litB).eval(null) == null)
    assert(DotProduct(litA, litB).eval(null) == null)
  }

  test("simhash_mix equals the relational bit-majority form, nulls on empty") {
    val df = Seq(
      (1L, Seq(0x5L, 0x3L, 0x1L)),
      (2L, Seq(0xFFFFFFFFL)),
      (3L, Seq.empty[Long]))
      .toDF("id", "hh")
    val got = df.select(col("id"), expr("simhash_mix(hh)").as("s"))
      .collect().map(r => r.getLong(0) -> Option(r.getAs[java.lang.Long]("s"))).toMap
    // relational reference: explode × 32 bits → majority vote → bit sum
    val ref = df.select(col("id"), explode(col("hh")).as("h"))
      .crossJoin(spark.sql("SELECT explode(sequence(0, 31)) AS b"))
      .groupBy("id", "b")
      .agg(sum(when(expr("(h >> b) % 2 = 1"), 1L).otherwise(-1L)).as("sgn"))
      .groupBy("id")
      .agg(sum(when(col("sgn") > 0, expr("shiftleft(1L, b)")).otherwise(0L)).as("s"))
      .collect().map(r => r.getLong(0) -> Option(java.lang.Long.valueOf(r.getLong(1)))).toMap
    assert(got(1L) === ref(1L))
    assert(got(2L) === ref(2L))
    assert(got(3L) === None) // relational form emits no row; expression yields null
    // interpreted path agrees with codegen
    val tL = org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)
    val lit = org.apache.spark.sql.catalyst.expressions.Literal.create(Array(0x5L, 0x3L, 0x1L), tL)
    assert(SimhashMix(lit).eval(null) === got(1L).get.longValue)
  }

  test("minhash_mix equals the per-family HOF array_min and nulls on empty") {
    val df = Seq(
      (1L, Seq(123456789L, 987654321L, 42L)),
      (2L, Seq(7L)),
      (3L, Seq.empty[Long]))
      .toDF("id", "hh")
    val mixed = df.select(col("id"), expr("minhash_mix(hh)").as("sigs"))
    val viaHof = graft.ops.Dedup.mixCoeffs.zipWithIndex.foldLeft(df) {
      case (acc, ((a, b), j)) =>
        acc.withColumn(s"m_$j",
          expr(s"array_min(transform(hh, h -> (h * ${a}L + ${b}L) % ${graft.ops.Dedup.MixMod}))"))
    }
    val got = mixed.collect().map(r =>
      r.getLong(0) -> Option(r.getSeq[Long](1))).toMap
    val want = viaHof.collect().map { r =>
      val mins = graft.ops.Dedup.mixCoeffs.indices.map(j =>
        Option(r.getAs[java.lang.Long](s"m_$j")).map(_.longValue))
      r.getLong(0) -> (if (mins.forall(_.isEmpty)) None else Some(mins.map(_.get)))
    }.toMap
    assert(got(1L).map(_.toSeq) === want(1L).map(_.toSeq))
    assert(got(2L).map(_.toSeq) === want(2L).map(_.toSeq))
    assert(got(3L) === None && want(3L) === None)
  }
}
