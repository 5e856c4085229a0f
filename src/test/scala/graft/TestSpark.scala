package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** The one local Spark session every spec shares. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Recursive temp-dir cleanup shared by the specs (was copy-pasted
    * nine times across the kg/io suites). Null-safe on vanished dirs.
    */
  def deleteRec(p: java.io.File): Unit = {
    if (p.isDirectory) {
      val fs = p.listFiles
      if (fs != null) fs.foreach(deleteRec)
    }
    p.delete()
  }
}

/** Fixture for every spec that runs on [[TestSpark.spark]]: after the
  * suite, the shared session's cache manager is cleared, so a frame a
  * failed test cached (and never unpersisted) cannot leak into the
  * suites that run after it.
  */
trait SharedSpark extends BeforeAndAfterAll { this: Suite =>
  protected lazy val spark: SparkSession = TestSpark.spark

  override protected def afterAll(): Unit =
    try SparkSession.getDefaultSession.foreach(_.catalog.clearCache())
    finally super.afterAll()
}
