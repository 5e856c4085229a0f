package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** The SQL surface: extract_tokens as a LATERAL VIEW generator must
  * reproduce the kernel's token stream from plain SQL.
  */
class SqlSurfaceSpec extends AnyFunSuite with SharedSpark {

  test("extract_tokens generator matches the kernel over SQL") {
    import spark.implicits._
    GraftExtensions.register(spark)
    graft.corpus.RefCorpus.pages(spark, Seq(7, 10)).createOrReplaceTempView("pages_v")

    val viaSql = spark.sql(
      """SELECT url, t.sent_id, t.tok_id, t.tkn, t.html_ctx
        |FROM pages_v
        |LATERAL VIEW extract_tokens(html) t
        |""".stripMargin).collect()

    val kernel = graft.spark.ExtractStage.tokens(spark,
      graft.spark.ExtractStage.sentences(spark,
        graft.corpus.RefCorpus.pages(spark, Seq(7, 10)),
        config = graft.spark.ExtractStage.Config(
          bs4 = graft.dom.Bs4Config()))).collect()

    assert(viaSql.length == kernel.length)
    val sqlSet = viaSql.map(r => (r.getString(0), r.getInt(1), r.getInt(2),
      r.getString(3), r.getString(4))).toSet
    val kSet = kernel.map(t => (t.url, t.sent_id, t.tok_id, t.tkn, t.html_ctx)).toSet
    assert(sqlSet == kSet)
  }

  test("fnv1a64 is usable from SQL and matches the scala impl") {
    GraftExtensions.register(spark)
    val got = spark.sql("SELECT fnv1a64('graft')").collect().head.getLong(0)
    assert(got == Fnv1a64.hashString("graft"))
  }

  test("dot_f32 matches the zip_with/aggregate formulation bit-for-bit") {
    import spark.implicits._
    GraftExtensions.register(spark)
    // irrational-ish values so summation order matters at the ULP level
    val rows = (0 until 50).map { i =>
      val a = Array.tabulate(64)(d => (math.sin(i * 131 + d) * 3.7).toFloat)
      val b = Array.tabulate(64)(d => (math.cos(i * 17 + d) * 2.3).toFloat)
      (i, a, b)
    }
    val df = rows.toDF("id", "a", "b")
    val got = df.selectExpr("id", "dot_f32(a, b) AS d").collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val ref = df.selectExpr("id",
      """aggregate(zip_with(a, b, (x, y) -> cast(x as double) * cast(y as double)),
        |cast(0.0 as double), (acc, v) -> acc + v) AS d""".stripMargin)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    rows.foreach { case (i, _, _) =>
      assert(java.lang.Double.doubleToLongBits(got(i)) ==
        java.lang.Double.doubleToLongBits(ref(i)), s"row $i")
    }
  }

  test("dot_f32 rejects length mismatch and propagates null") {
    import spark.implicits._
    GraftExtensions.register(spark)
    val df = Seq((Array(1f, 2f), Array(1f, 2f, 3f))).toDF("a", "b")
    intercept[Exception] { df.selectExpr("dot_f32(a, b)").collect() }
    val n = Seq((Some(Array(1f)), Option.empty[Array[Float]]))
      .toDF("a", "b").selectExpr("dot_f32(a, b) AS d").collect().head
    assert(n.isNullAt(0))
  }

  test("dot_f32 null elements poison like zip_with; double arrays accepted") {
    GraftExtensions.register(spark)
    // null element anywhere -> NULL (the zip_with formulation's semantics)
    val withNullElem = spark.sql(
      "SELECT dot_f32(array(1.0F, CAST(NULL AS FLOAT)), array(2.0F, 3.0F)) AS d")
      .collect().head
    assert(withNullElem.isNullAt(0))
    // ARRAY<DOUBLE> inputs (and mixed float/double) compute correctly
    val dd = spark.sql(
      "SELECT dot_f32(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .collect().head.getDouble(0)
    assert(dd == 11.0)
    val fd = spark.sql(
      "SELECT dot_f32(array(1.0F, 2.0F), array(3.0D, 4.0D)) AS d")
      .collect().head.getDouble(0)
    assert(fd == 11.0)
    // wrong arity is a clean error, not IndexOutOfBounds
    val e = intercept[Exception] {
      spark.sql("SELECT dot_f32(array(1.0F))").collect()
    }
    assert(e.getMessage.contains("dot_f32"))
  }
}
