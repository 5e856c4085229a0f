package graft.streaming

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SharedSpark
import graft.spark.Page

/** Streaming monitors: watermark-windowed crawl rates and keyed-state
  * first-seen URL dedup, driven through MemoryStream micro-batches.
  */
class MonitorsSpec extends AnyFunSuite with SharedSpark {

  private def page(url: String, ts: String): Page =
    Page(url, Timestamp.valueOf(ts), Array.emptyByteArray, "", "en")

  test("firstSeenByCanonicalUrl: crawl variants of one page suppressed across batches") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[Page]
    val q = Monitors.firstSeenByCanonicalUrl(spark, in.toDS(),
        stateTimeout = None)
      .writeStream.format("memory").queryName("canon_seen")
      .outputMode("append").start()
    try {
      // SAME-batch variants: the earliest (warc_ts, url) page must win
      // deterministically (groupByKey order is shuffle-arbitrary)
      in.addData(page("http://ex.com/page?a=1&b=2&utm_id=z", "2026-01-01 10:00:30"),
        page("HTTP://Ex.com/page?b=2&a=1", "2026-01-01 10:00:00"))
      q.processAllAvailable()
      // four re-crawl variants of the SAME canonical page + one new page
      in.addData(
        page("http://ex.com:80/page?a=1&b=2", "2026-01-01 10:01:00"),
        page("http://user@ex.com/page?a=1&b=2&utm_source=f", "2026-01-01 10:02:00"),
        page("http://ex.com/page?b=2&a=1#sec", "2026-01-01 10:03:00"),
        page("http://ex.com/other", "2026-01-01 10:04:00"))
      q.processAllAvailable()
      // malformed (schemeless) urls key on the RAW url — distinct ones
      // must NOT collapse into one
      in.addData(page("not a url one", "2026-01-01 10:05:00"),
        page("not a url two", "2026-01-01 10:06:00"))
      q.processAllAvailable()
      val urls = spark.table("canon_seen").collect()
        .map(_.getString(0)).sorted.toSeq
      assert(urls == Seq("HTTP://Ex.com/page?b=2&a=1", "http://ex.com/other",
        "not a url one", "not a url two"))
    } finally q.stop()
  }

  test("hostWindowCounts: event-time windows count per host; late data dropped") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[Page]
    val q = Monitors.hostWindowCounts(in.toDF(), "1 minute", "10 minutes")
      .writeStream.format("memory").queryName("hw").outputMode("update")
      .start()
    try {
      in.addData(
        page("https://a.edu/1", "2026-01-01 10:00:10"),
        page("https://a.edu/2", "2026-01-01 10:00:20"),
        page("https://b.edu/1", "2026-01-01 10:05:00"))
      q.processAllAvailable()
      val t1 = spark.table("hw").collect()
      assert(t1.exists(r => r.getString(1) == "a.edu" && r.getLong(2) == 2))
      assert(t1.exists(r => r.getString(1) == "b.edu" && r.getLong(2) == 1))

      // watermark is now ~09:55; a 09:00 page is beyond lateness -> dropped
      in.addData(page("https://c.edu/1", "2026-01-01 09:00:00"))
      q.processAllAvailable()
      assert(!spark.table("hw").collect().exists(_.getString(1) == "c.edu"),
        "page older than the watermark must be dropped")

      // a page late by less than the watermark still lands in its window
      in.addData(page("https://a.edu/3", "2026-01-01 10:00:40"))
      q.processAllAvailable()
      assert(spark.table("hw").collect()
        .exists(r => r.getString(1) == "a.edu" && r.getLong(2) == 3))
    } finally q.stop()
  }

  test("firstSeenBySimhash: identical content suppressed across batches, distinct passes") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[Page]
    val q = Monitors.firstSeenBySimhash(spark, in.toDS(), stateTimeout = None)
      .writeStream.format("memory").queryName("nds").outputMode("append")
      .start()
    def pg(url: String, text: String) =
      Page(url, Timestamp.valueOf("2026-01-01 10:00:00"),
        Array.emptyByteArray, text, "en")
    try {
      in.addData(
        pg("https://a.edu/1", "welcome to the faculty directory page"),
        pg("https://a.edu/2", "welcome to the faculty directory page"), // copy
        pg("https://a.edu/3", "completely different research abstract text"))
      q.processAllAvailable()
      assert(spark.table("nds").count() == 2, "in-batch copy must be dropped")
      // a later batch re-sends the same boilerplate from a new url
      in.addData(pg("https://b.edu/1", "welcome to the faculty directory page"),
        pg("https://b.edu/2", "yet another novel page body"))
      q.processAllAvailable()
      val urls = spark.table("nds").collect().map(_.getString(0)).toSet
      assert(spark.table("nds").count() == 3, "cross-batch copy must be dropped")
      assert(urls.contains("https://b.edu/2") && !urls.contains("https://b.edu/1"))
    } finally q.stop()
  }

  test("firstSeenPages: url emitted once across micro-batches") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[Page]
    val q = Monitors.firstSeenPages(spark, in.toDS(), stateTimeout = None)
      .writeStream.format("memory").queryName("fs").outputMode("append")
      .start()
    try {
      in.addData((0 until 50).map(i => page(s"https://u.edu/$i", "2026-01-01 10:00:00")): _*)
      q.processAllAvailable()
      assert(spark.table("fs").count() == 50)

      // overlap 25-49 re-crawled, 50-74 new: only the new 25 emit
      in.addData((25 until 75).map(i => page(s"https://u.edu/$i", "2026-01-01 10:01:00")): _*)
      q.processAllAvailable()
      val urls = spark.table("fs").select("url").collect().map(_.getString(0))
      assert(urls.length == 75, s"expected 75 first-seen pages, got ${urls.length}")
      assert(urls.distinct.length == 75, "no url may be emitted twice")
    } finally q.stop()
  }

  test("streaming simhash first-seen == batch first-seen over the sf corpus") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sql = spark.sqlContext
    // the real sf corpus replayed in doc_id order, plus planted exact
    // copies of the first 5 docs arriving LAST (under fresh ids) so the
    // equivalence is provably non-vacuous: those must be suppressed
    val docs = graft.io.Tables.table(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .collect().sortBy(_._1)
    val all = docs ++ docs.take(5).map { case (id, t) => (id + 1000000L, t) }
    // batch arbiter: min doc_id per simhash key (same kernel)
    val expect: Set[Long] = all
      .groupBy { case (_, t) =>
        graft.ops.Dedup.simhash(if (t == null) "" else t) }
      .map { case (_, g) => g.map(_._1).min }.toSet
    assert(expect.size < all.length, "plants must collapse somewhere")
    val in = MemoryStream[Page]
    val q = Monitors.firstSeenBySimhash(spark, in.toDS(), stateTimeout = None)
      .writeStream.format("memory").queryName("sf_simhash_eq")
      .outputMode("append").start()
    try {
      all.grouped(math.max(1, all.length / 4 + 1)).foreach { chunk =>
        in.addData(chunk.toSeq.map { case (id, t) =>
          Page("doc://" + id, new Timestamp(id * 1000L),
            Array.emptyByteArray, t, "en")
        })
        q.processAllAvailable()
      }
      val got = spark.table("sf_simhash_eq").collect()
        .map(r => r.getString(0).substring("doc://".length).toLong).toSet
      assert(got == expect,
        s"streaming/batch drift: only-stream=${(got -- expect).take(5)} " +
          s"only-batch=${(expect -- got).take(5)}")
    } finally q.stop()
  }
}
