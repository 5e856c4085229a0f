package graft.kg

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** Lineage schema evolution: a resumed outDir written before the
  * `skipped_rows` column mixes 5- and 6-column parquet files in
  * `_lineage`; `lineage()` must read both deterministically (plain
  * `spark.read.parquet` samples ONE footer for the schema) and
  * null-fill old rows with 0.
  */
class StagesLineageSpec extends AnyFunSuite with SharedSpark {

  test("lineage() merges pre-skipped_rows files with current-format appends") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("stages_lineage").toString
    val st = new Stages(spark, base)
    // simulate a lineage file appended by the pre-upgrade engine
    spark.range(1).select(
      lit("old_stage").as("stage"), lit(0).as("partition_id"),
      lit(10L).as("input_rows"), lit(10L).as("output_rows"),
      lit(5L).as("wall_ms"))
      .write.mode("append").parquet(st.lineagePath)
    // resume: a new stage appends the 6-column format
    st.stage("s_new", inputRows = 3L, skippedRows = 1L) {
      Seq((1, "a"), (2, "b")).toDF("id", "v")
    }
    val l = st.lineage()
    assert(l.columns.contains("skipped_rows"))
    val byStage = l.select(col("stage"), col("skipped_rows"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byStage("old_stage") == 0L) // null-filled, not NPE
    assert(byStage("s_new") == 1L)
  }

  test("outputRowsOf: in-run totals + lineage-derived resume, no recount") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("stages_outrows").toString
    val st = new Stages(spark, base)
    st.stage("a") { Seq(1, 2, 3).toDF("id") }
    // recorded for free while the stage's lineage rows were built
    assert(st.outputRowsOf("a") == 3L)
    // downstream stage records the lineage-derived input_rows
    st.stage("b", st.outputRowsOf("a")) { Seq(9).toDF("id") }
    val linB = st.lineage().filter(col("stage") === "b").collect()
    assert(linB.forall(_.getAs[Long]("input_rows") == 3L))
    // an empty stage writes the sentinel row (ran, produced nothing)
    st.stage("empty") { Seq.empty[Int].toDF("id") }
    assert(st.outputRowsOf("empty") == 0L)

    // RESUME: a fresh Stages (new run over the same outDir) derives
    // totals from the lineage table — no recount of stage parquet
    val st2 = new Stages(spark, base)
    assert(st2.outputRowsOf("a") == 3L)
    assert(st2.outputRowsOf("b") == 1L)
    assert(st2.outputRowsOf("empty") == 0L)
    assert(st2.outputRowsOf("never_ran") == -1L)
    // and a resumed downstream stage records the derived input_rows
    st2.stage("c", st2.outputRowsOf("b")) { Seq((1, 2)).toDF("x", "y") }
    val linC = st2.lineage().filter(col("stage") === "c").collect()
    assert(linC.forall(_.getAs[Long]("input_rows") == 1L))
  }

  test("legacy multi-append at run_seq 0 reports unknown, not an inflated sum") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("stages_legacy").toString
    val st = new Stages(spark, base)
    // two pre-upgrade appends of the same stage (no run_seq column →
    // both coalesce to 0): the "latest run" filter can't separate
    // them, and duplicate partition_ids are the only tell — the sum
    // 10+10=20 would be a silent double count
    for (_ <- 1 to 2)
      spark.range(1).select(
        lit("old_twice").as("stage"), lit(0).as("partition_id"),
        lit(10L).as("input_rows"), lit(10L).as("output_rows"),
        lit(5L).as("wall_ms"))
        .write.mode("append").parquet(st.lineagePath)
    assert(st.outputRowsOf("old_twice") == -1L)
    // a SINGLE legacy append stays summable (unique partition ids)
    spark.range(2).select(
      lit("old_once").as("stage"), col("id").cast("int").as("partition_id"),
      lit(4L).as("input_rows"), lit(4L).as("output_rows"),
      lit(5L).as("wall_ms"))
      .write.mode("append").parquet(st.lineagePath)
    assert(st.outputRowsOf("old_once") == 8L)
    // legacy append + later legacy EMPTY recompute (sentinel only):
    // partition ids {0, -1} are distinct, but the sentinel next to real
    // rows is still two runs — the stale 7-row sum must not surface
    spark.range(1).select(
      lit("old_then_empty").as("stage"), lit(0).as("partition_id"),
      lit(7L).as("input_rows"), lit(7L).as("output_rows"),
      lit(5L).as("wall_ms"))
      .write.mode("append").parquet(st.lineagePath)
    spark.range(1).select(
      lit("old_then_empty").as("stage"), lit(-1).as("partition_id"),
      lit(0L).as("input_rows"), lit(0L).as("output_rows"),
      lit(5L).as("wall_ms"))
      .write.mode("append").parquet(st.lineagePath)
    assert(st.outputRowsOf("old_then_empty") == -1L)
    // a lone legacy sentinel (ran once, produced nothing) is still 0
    spark.range(1).select(
      lit("old_empty").as("stage"), lit(-1).as("partition_id"),
      lit(0L).as("input_rows"), lit(0L).as("output_rows"),
      lit(5L).as("wall_ms"))
      .write.mode("append").parquet(st.lineagePath)
    assert(st.outputRowsOf("old_empty") == 0L)
  }

  test("same run_seq from two concurrent runners reports unknown, not the sum") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("stages_race").toString
    val st = new Stages(spark, base)
    // simulate the documented contract violation: two runners raced
    // the read-then-write and minted the SAME run_seq — their appends
    // carry different runner nonces
    for (nonce <- Seq("runner-a", "runner-b"))
      spark.range(1).select(
        lit("raced").as("stage"), lit(0).as("partition_id"),
        lit(10L).as("input_rows"), lit(0L).as("skipped_rows"),
        lit(10L).as("output_rows"), lit(5L).as("wall_ms"),
        lit(77L).as("run_seq"), lit(nonce).as("runner_nonce"))
        .write.mode("append").parquet(st.lineagePath)
    assert(st.outputRowsOf("raced") == -1L)
    // one runner's multi-partition append stays summable (one nonce)
    spark.range(2).select(
      lit("clean").as("stage"), col("id").cast("int").as("partition_id"),
      lit(4L).as("input_rows"), lit(0L).as("skipped_rows"),
      lit(4L).as("output_rows"), lit(5L).as("wall_ms"),
      lit(88L).as("run_seq"), lit("runner-a").as("runner_nonce"))
      .write.mode("append").parquet(st.lineagePath)
    assert(st.outputRowsOf("clean") == 8L)
    // a later SEQUENTIAL run by a different runner wins cleanly: the
    // max run_seq has one nonce even though the stage history has two
    spark.range(1).select(
      lit("raced").as("stage"), lit(0).as("partition_id"),
      lit(3L).as("input_rows"), lit(0L).as("skipped_rows"),
      lit(3L).as("output_rows"), lit(5L).as("wall_ms"),
      lit(99L).as("run_seq"), lit("runner-c").as("runner_nonce"))
      .write.mode("append").parquet(st.lineagePath)
    assert(new Stages(spark, base).outputRowsOf("raced") == 3L)
  }

  test("force-recomputed stage never double-counts across lineage appends") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("stages_recompute").toString
    new Stages(spark, base).stage("t") { Seq(1, 2, 3).toDF("id") }
    // the natural force-recompute gesture: delete the stage dir, keep
    // the (append-only) lineage, re-run — lineage now holds TWO row
    // sets for stage t; only the latest run_seq may count
    graft.TestSpark.deleteRec(new java.io.File(s"$base/t"))
    val st2 = new Stages(spark, base)
    st2.stage("t") { Seq(1, 2, 3, 4, 5).toDF("id") }
    assert(st2.outputRowsOf("t") == 5L)
    // a THIRD runner resolves purely from lineage: latest run only
    assert(new Stages(spark, base).outputRowsOf("t") == 5L)
  }
}
