package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PackingSpec extends AnyFunSuite with graft.SharedSpark {

  private def rowsOf(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq

  test("chunk assignments match the hand-computed concat-and-chunk stream") {
    import spark.implicits._
    // stream (seqLen 5): d1[0,3) d2[3,7) d3[7,9) d4[9,14)
    val docs = Seq((1L, 3L), (2L, 4L), (3L, 2L), (4L, 5L))
      .toDF("doc_id", "n_tokens")
    val got = rowsOf(Packing.chunkAssignments(spark, docs, seqLen = 5))
    assert(got == Seq(
      (1L, 0L, 0L, 3L),
      (2L, 0L, 0L, 2L), (2L, 1L, 2L, 4L),
      (3L, 1L, 0L, 2L),
      (4L, 1L, 0L, 1L), (4L, 2L, 1L, 5L)))
  }

  test("invariants: spans cover each doc; every full sequence holds exactly seqLen") {
    import spark.implicits._
    val docs = spark.range(500).select(col("id").as("doc_id"),
      (pmod(col("id") * 37 + 11, lit(90)) + 1).as("n_tokens"))
    val B = 64L
    val chunks = Packing.chunkAssignments(spark, docs, seqLen = B).persist()
    // per doc: chunk spans sum to the doc's token count
    val perDoc = chunks.groupBy("doc_id")
      .agg(sum(col("tok_to") - col("tok_from")).as("covered"))
      .join(docs, "doc_id")
      .filter(col("covered") =!= col("n_tokens")).count()
    assert(perDoc == 0, "chunk spans must partition every document")
    // per sequence except the last: exactly B tokens
    val lastSeq = chunks.agg(max("seq_id")).collect()(0).getLong(0)
    val bad = chunks.filter(col("seq_id") < lastSeq).groupBy("seq_id")
      .agg(sum(col("tok_to") - col("tok_from")).as("t"))
      .filter(col("t") =!= B).count()
    chunks.unpersist()
    assert(bad == 0, "every non-final sequence must hold exactly seqLen tokens")
  }

  test("partition- and order-independent; zero-token docs emit nothing") {
    import spark.implicits._
    val docs = Seq((5L, 7L), (1L, 0L), (9L, 3L), (2L, 12L), (7L, 1L))
      .toDF("doc_id", "n_tokens")
    val a = rowsOf(Packing.chunkAssignments(spark, docs.repartition(1), 4))
    val b = rowsOf(Packing.chunkAssignments(spark,
      docs.orderBy(rand(17)).repartition(7), 4))
    assert(a == b, "packing must depend only on (doc_id, n_tokens)")
    assert(!a.exists(_._1 == 1L), "zero-token docs contribute no chunk")
    // NULL token counts behave like 0 (no NPE, no chunk); NULL ids drop
    val withNulls = Seq((java.lang.Long.valueOf(5L), java.lang.Long.valueOf(7L)),
      (java.lang.Long.valueOf(6L), null.asInstanceOf[java.lang.Long]),
      (null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(9L)))
      .toDF("doc_id", "n_tokens")
    val c = rowsOf(Packing.chunkAssignments(spark, withNulls, 4))
    assert(c.map(_._1).distinct == Seq(5L))
  }
}
