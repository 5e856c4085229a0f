package graft.io

import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** Table-access seam: the same `Tables.table(spark, loc, name)` call
  * resolves parquet directories and catalog namespaces — the production
  * Iceberg path (`catalog:ice.db`) differs only in the configured
  * catalog implementation, not in engine code.
  */
class TablesSpec extends AnyFunSuite with SharedSpark {

  test("parquet dir and catalog namespace resolve through the same seam") {
    val sf = "/root/testdata/sf0.001"
    val fromParquet = Tables.table(spark, sf, "region")
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_seam")
    fromParquet.write.mode("overwrite").saveAsTable("graft_seam.region")
    val fromCatalog = Tables.table(spark, "catalog:graft_seam", "region")
    assert(fromCatalog.schema == fromParquet.schema)
    assert(fromCatalog.collect().map(_.toString).sorted.toSeq ==
      fromParquet.collect().map(_.toString).sorted.toSeq)
    spark.sql("DROP TABLE graft_seam.region")
    spark.sql("DROP DATABASE graft_seam")
  }
}
