package graft.streaming

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark
import graft.corpus.SyntheticCorpus

/** Incremental ingest: two micro-batches of pages through the streaming
  * pipeline accumulate exactly the triples of the batch pipeline.
  */
class StreamingSpec extends AnyFunSuite with SharedSpark {

  test("streamed pages produce the same triples as the batch path") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_stream").toString
    val pagesDir = s"$base/pages"
    val triplesDir = s"$base/triples"
    val ckptDir = s"$base/ckpt"

    // batch 1: pages 0-49
    SyntheticCorpus.pages(spark, 50, numPartitions = 2)
      .write.mode("append").parquet(pagesDir)

    val q = IncrementalIngest.start(spark, pagesDir, triplesDir, ckptDir,
      targetNamesFn = Some(SyntheticCorpus.targetNamesFn()))
    q.processAllAvailable()

    val n1 = spark.read.parquet(triplesDir).count()
    assert(n1 > 0)

    // batch 2: pages 50-99 arrive later
    SyntheticCorpus.pages(spark, 100, numPartitions = 2)
      .filter(org.apache.spark.sql.functions.element_at(
        org.apache.spark.sql.functions.split($"url", "/"), -1)
        .cast("long") >= 50)
      .write.mode("append").parquet(pagesDir)
    q.processAllAvailable()
    q.stop()

    val streamed = spark.read.parquet(triplesDir)
      .select("subj", "obj").distinct().count()

    // batch reference over the union of all written pages
    val allPages = spark.read.parquet(pagesDir)
      .as[graft.spark.Page].dropDuplicates("url").as[graft.spark.Page]
    val batchTriples = graft.kg.Triples.fromMentions(spark,
      graft.spark.ExtractStage.mentions(spark, allPages,
        targetNamesFn = Some(SyntheticCorpus.targetNamesFn()),
        dedupePerPage = true), alreadyDeduped = true)
      .select("subj", "obj").distinct().count()

    assert(streamed == batchTriples,
      s"streamed $streamed != batch $batchTriples")
  }
}
