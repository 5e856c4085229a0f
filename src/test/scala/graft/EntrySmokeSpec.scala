package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver's flagship smoke: `SparkEntry.entry` must return rows on
  * the reference corpus. The components are covered in depth elsewhere
  * (PipelineSpec); this pins the exact entry-point wiring the driver
  * calls.
  */
class EntrySmokeSpec extends AnyFunSuite with SharedSpark {

  test("entry() yields triples on the reference corpus") {
    val df = SparkEntry.entry(spark)
    assert(Set("subj", "pred", "obj", "url").subsetOf(df.columns.toSet))
    assert(df.count() > 0)
  }
}
