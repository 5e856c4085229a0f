package graftbench

import org.apache.spark.sql.SparkSession
import graft.corpus.SyntheticCorpus
import graft.dom.{Bs4TreeBuilder, HtmlEvents, HtmlParser}
import graft.extract.Extractor
import graft.spark.SentenceRow
import graft.tag.{BiLstm, BiLstmCrfScorer, Hmm}

/** Single-threaded throughput of the extraction and tagging kernels,
  * called through their public functions on synthetic pages of the
  * workload seed.
  */
object Kernels {

  private object NoOp extends HtmlEvents {
    def handleStartTag(name: String, attrs: List[(String, Option[String])]): Unit = ()
    def handleStartEndTag(name: String, attrs: List[(String, Option[String])]): Unit = ()
    def handleEndTag(name: String): Unit = ()
    def handleData(data: String): Unit = ()
    def handleComment(data: String): Unit = ()
    def handleEntityRef(name: String): Unit = ()
    def handleCharRef(name: String): Unit = ()
    def handleDecl(data: String): Unit = ()
    def handlePi(data: String): Unit = ()
    def unknownDecl(data: String): Unit = ()
  }

  /** Items per second of `f` over `items`: a short warm-up, then whole
    * passes until at least `seconds` have elapsed.
    */
  def rate[A](items: IndexedSeq[A], seconds: Double)(f: A => Any): Double = {
    val warm = System.nanoTime()
    while (System.nanoTime() - warm < 3e8) items.foreach(f)
    var n = 0L
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < seconds * 1e9) { items.foreach(f); n += items.length }
    n / ((System.nanoTime() - t0) / 1e9)
  }

  /** A Bi-LSTM-CRF scorer with seeded random weights (word embeddings
    * only, 2 tags), so decode cost is measured without a weights file.
    */
  def seededScorer(seed: Long, words: Seq[String]): BiLstmCrfScorer = {
    val dim = 16
    val units = 16
    val rnd = new scala.util.Random(seed)
    def mat(r: Int, c: Int) = Array.fill(r, c)((rnd.nextGaussian() * 0.2).toFloat)
    def cell = BiLstm.CellWeights(mat(dim + units, 4 * units),
      Array.fill(4 * units)(0f))
    BiLstmCrfScorer(
      vocab = words.distinct.zipWithIndex.toMap,
      wordEmb = mat(words.distinct.length + 1, dim),
      charCnn = None, fw = cell, bw = cell,
      dense = mat(2 * units, 2), denseBias = Array(0f, 0f),
      transition = Array.fill(2, 2)(rnd.nextGaussian()))
  }

  def measure(spark: SparkSession, seed: Long, seconds: Double): Seq[(String, Double)] = {
    import spark.implicits._
    val pages = (0L until 200L).map { id =>
      (graft.extract.Py.universalNewlines(SyntheticCorpus.htmlOf(id, 25, seed, 5)),
        SyntheticCorpus.namesOf(id, 25, seed, 5).map(Extractor.normalizeTargetName))
    }
    val scan = rate(pages, seconds)(p => new HtmlParser(NoOp).parse(p._1))
    val parse = rate(pages, seconds)(p => Bs4TreeBuilder.parse(p._1))
    val tok = rate(pages, seconds)(p => Extractor.tokenize(p._1, p._2))
    val sents = pages.take(50).zipWithIndex.flatMap { case ((html, names), i) =>
      Extractor.tokenize(html, names).zipWithIndex.map { case (s, si) =>
        SentenceRow(s"k$i", new java.sql.Timestamp(0L), "en", si,
          s.map(_.tkn), s.map(_.features.toSeq), s.map(_.bio))
      }
    }.toIndexedSeq
    val model = Hmm.fit(spark, spark.createDataset(sents), timeSteps = 1,
      useFeatures = true)
    val hmm = rate(sents, seconds)(s => Hmm.decode(model, s.feats))
    val scorer = seededScorer(seed, sents.flatMap(_.tkns).take(2000))
    val bilstm = rate(sents, seconds)(s => scorer.decode(s.tkns))
    Seq("dom.scan_pages_per_s" -> scan, "dom.parse_pages_per_s" -> parse,
      "extract.tokenize_pages_per_s" -> tok, "tag.hmm_sents_per_s" -> hmm,
      "tag.bilstm_sents_per_s" -> bilstm)
  }
}

/** What else the host was doing during a run: 1-min loadavg, this
  * process's use of its core budget, GC time, CPU steal, and a fixed
  * single-thread calibration loop that runs no program code.
  */
final class Host(cores: Int) {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  private def read(path: String): String =
    try {
      val src = scala.io.Source.fromFile(path)
      try src.mkString finally src.close()
    } catch { case _: Throwable => "" }

  def loadAvg: Double =
    read("/proc/loadavg").split(" ").headOption.flatMap(_.toDoubleOption).getOrElse(-1.0)

  /** (steal, total) jiffies of the aggregate cpu line. */
  private def cpuJiffies: (Long, Long) = {
    val f = read("/proc/stat").linesIterator.find(_.startsWith("cpu "))
      .map(_.split("\\s+").drop(1).map(_.toLong)).getOrElse(Array.empty[Long])
    (if (f.length > 7) f(7) else 0L, f.sum)
  }

  private def processCpuNs: Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  private val load0 = loadAvg
  private val (steal0, total0) = cpuJiffies
  private val cpu0 = processCpuNs
  private val gc0 = gcMs
  private val t0 = System.nanoTime()

  /** Seconds of a fixed integer loop; median of three. */
  def calibration: Double = {
    def once(): Double = {
      val s = System.nanoTime()
      var z = 1L
      var i = 0
      while (i < 30000000) {
        z = (z ^ (z >>> 31)) * 0x94d049bb133111ebL + i
        i += 1
      }
      if (z == 42L) println("") // keeps the loop's result live
      (System.nanoTime() - s) / 1e9
    }
    Seq(once(), once(), once()).sorted.apply(1)
  }

  /** Readings since this object was created. */
  def snapshot(): Seq[(String, Double)] = {
    val sec = (System.nanoTime() - t0) / 1e9
    val (steal1, total1) = cpuJiffies
    val dTotal = math.max(1L, total1 - total0)
    Seq(
      "host.loadavg" -> math.max(load0, loadAvg),
      "host.cpu_util" -> (processCpuNs - cpu0) / 1e9 / (sec * cores),
      "host.gc_s" -> (gcMs - gc0) / 1000.0,
      "host.steal_pct" -> 100.0 * (steal1 - steal0) / dTotal,
      "host.calib_s" -> calibration)
  }
}
