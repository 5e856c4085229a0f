package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CorpusStatsSpec extends AnyFunSuite with graft.SharedSpark {

  test("exact quantiles match the sequential interpolation definition") {
    import spark.implicits._
    // values 10,20,30,40 (shuffled input): r(0.5)=1.5 -> 25.0,
    // r(0.25)=0.75 -> 17.5, r(1.0)=3 -> 40, r(0.0)=0 -> 10
    val df = Seq(30L, 10L, 40L, 20L).toDF("n")
    val q = CorpusStats.exactQuantiles(spark, df, "n",
      Seq(0.0, 0.25, 0.5, 1.0))
    assert(q == Map(0.0 -> 10.0, 0.25 -> 17.5, 0.5 -> 25.0, 1.0 -> 40.0))
    // partition-count independent; ties and NULLs handled
    val big = spark.range(1001).select(
      when(col("id") % 100 === 0, lit(null)).otherwise(col("id") % 101)
        .cast("long").as("n"))
    val a = CorpusStats.exactQuantiles(spark, big.repartition(1), "n", Seq(0.5))
    val b = CorpusStats.exactQuantiles(spark, big.repartition(13), "n", Seq(0.5))
    assert(a == b)
    // empty and single-value inputs
    assert(CorpusStats.exactQuantiles(spark,
      Seq.empty[Long].toDF("n"), "n", Seq(0.5)).isEmpty)
    assert(CorpusStats.exactQuantiles(spark,
      Seq(7L).toDF("n"), "n", Seq(0.0, 0.5, 1.0))
      == Map(0.0 -> 7.0, 0.5 -> 7.0, 1.0 -> 7.0))
  }

  test("tokenCard: one summary row, quantiles agree with Spark's own percentile") {
    import spark.implicits._
    val docs = spark.range(500).select(
      (pmod(col("id") * 37 + 11, lit(90)) + 1).cast("long").as("n_tokens"))
    val row = CorpusStats.tokenCard(spark, docs).collect()(0)
    assert(row.getAs[Long]("n_docs") == 500)
    val expect = docs.agg(
      expr("percentile(n_tokens, 0.5)"), expr("percentile(n_tokens, 0.9)"),
      sum("n_tokens")).collect()(0)
    assert(math.abs(row.getAs[Double]("p50_tokens") - expect.getDouble(0)) < 1e-9)
    assert(math.abs(row.getAs[Double]("p90_tokens") - expect.getDouble(1)) < 1e-9)
    assert(row.getAs[Long]("total_tokens") == expect.getLong(2))
  }

  test("tokenCardSketch: exact scalars, rank-bounded quantiles, no sort in the plan") {
    import spark.implicits._
    // values are a permutation of 1..n, so value == rank + 1 and the
    // sketch's n/accuracy rank-error bound is directly checkable
    val n = 10000
    val docs = spark.range(n).select(
      (pmod(col("id") * 7919 + 13, lit(n)) + 1).cast("long").as("n_tokens"))
    val accuracy = 100 // rank error <= n/accuracy = 100
    val row = CorpusStats.tokenCardSketch(docs, accuracy = accuracy)
      .collect()(0)
    // scalar columns are exact
    assert(row.getAs[Long]("n_docs") == n)
    assert(row.getAs[Long]("total_tokens") == n.toLong * (n + 1) / 2)
    assert(row.getAs[Long]("min_tokens") == 1L)
    assert(row.getAs[Long]("max_tokens") == n.toLong)
    // quantiles are data values within the guaranteed rank window
    // (+2 slack: rank->value offset and the p*(n-1) vs p*n convention)
    val bound = n.toDouble / accuracy + 2
    assert(math.abs(row.getAs[Double]("p50_tokens") - 0.5 * (n - 1)) <= bound)
    assert(math.abs(row.getAs[Double]("p90_tokens") - 0.9 * (n - 1)) <= bound)
    // scale shape: one aggregation, no range repartition, no sort —
    // the whole point of the sketch mode vs the exact oracle mode
    val plan = CorpusStats.tokenCardSketch(docs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("RangePartitioning") && !plan.toLowerCase.contains("sortexec"),
      s"sketch card must not sort:\n$plan")
    // agrees with exact mode on the same input (tight data: every
    // value appears once, sketch error window is ~1% of the range)
    val exact = CorpusStats.tokenCard(spark, docs).collect()(0)
    assert(row.getAs[Long]("total_tokens") == exact.getAs[Long]("total_tokens"))
    assert(math.abs(row.getAs[Double]("p50_tokens") -
      exact.getAs[Double]("p50_tokens")) <= bound)
  }
}
