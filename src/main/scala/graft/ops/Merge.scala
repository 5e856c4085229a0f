package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental upsert — the MERGE INTO semantics an Iceberg-backed KG
  * pipeline runs every ingest cycle to fold a delta batch (re-crawled
  * pages, fresh triples) into the materialized base table:
  * WHEN MATCHED THEN UPDATE (delta row wins whole-row, not per-column)
  * WHEN NOT MATCHED THEN INSERT.
  *
  * Implemented as one full-outer shuffle join on the key — exactly the
  * copy-on-write MERGE plan — with row-level winner selection via a
  * presence flag, so a NULL in a delta column is preserved as NULL
  * (per-column COALESCE would silently resurrect the base value).
  * Non-key columns are prefixed per side BEFORE the join, so base and
  * delta may be projections of the same source frame without tripping
  * ambiguous-self-join resolution.
  *
  * Scale shape: one exchange per side on the key columns, AQE-eligible
  * for skew; no broadcast assumption (a delta batch can be any size).
  * On an Iceberg catalog this projection is what `MERGE INTO ... USING`
  * compiles to; here it is the engine-level operator, oracled as
  * `kg_merge_incremental`.
  *
  * Duplicate-key semantics match SQL/Iceberg MERGE INTO: a delta with
  * two rows for the same key RAISES at execution (a full-outer join
  * would silently fan the base row out — "multiple matching source
  * rows" is an error in the standard, not a cartesian). The guard is a
  * `count() OVER (PARTITION BY key)` window on the delta side: the
  * join exchanges the delta on the key columns anyway, so the window
  * reuses that exact partitioning — the check costs a per-partition
  * sort, never an extra shuffle.
  *
  * @param key join key columns; must be non-null in both inputs.
  */
object Merge {
  def upsert(base: DataFrame, delta: DataFrame, key: Seq[String]): DataFrame = {
    require(key.nonEmpty, "upsert needs at least one key column")
    val cols = base.columns.toSeq
    require(delta.columns.toSeq == cols,
      s"schema mismatch: base ${cols.mkString(",")} vs delta ${delta.columns.mkString(",")}")
    val nonKey = cols.filterNot(key.contains)
    val b2 = base.select(key.map(col) ++
      nonKey.map(c => col(c).as(s"__b_$c")): _*)
    // the guard rides IN `__in_delta` (which the winner projection
    // reads for every non-key column) — a side-channel check column
    // would be pruned away by Catalyst as dead
    val dupGuard = when(
      count(lit(1)).over(Window.partitionBy(key.map(col): _*)) > 1,
      raise_error(concat(lit("MERGE upsert: delta has multiple rows for key ("),
        concat_ws(",", key.map(k => col(k).cast("string")): _*), lit(")"))))
      .otherwise(lit(true))
    val d2 = delta.select(key.map(col) ++
      nonKey.map(c => col(c).as(s"__d_$c")): _*)
      .withColumn("__in_delta", dupGuard)
    val joined = b2.join(d2, key, "full_outer")
    if (nonKey.isEmpty)
      // key covers every column: the winner projection below would not
      // reference __in_delta, so Catalyst would prune the window +
      // raise_error guard and duplicate delta keys would silently fan
      // out. Keep the guard alive in a WHERE instead — base-only rows
      // carry a NULL flag and pass; delta rows evaluate the guard
      // (true, or the raise). Semantically a no-op filter. MergeRankingSpec
      // ("all-key schema keeps the duplicate guard alive") pins this
      // optimizer behaviour: it fails if the guard is ever pruned again.
      joined.filter(coalesce(col("__in_delta"), lit(true)))
        .select(key.map(col): _*)
    else
      joined.select(key.map(col) ++ nonKey.map { c =>
        when(col("__in_delta").isNotNull, col(s"__d_$c"))
          .otherwise(col(s"__b_$c")).as(c)
      }: _*)
  }
}
