package graftbench

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.corpus.SyntheticCorpus.mix
import graft.spark.Page

/** Seeded faculty pages over a large syllable-built name vocabulary with
  * Zipf (s = 1) popularity, where about one mention in four is a planted
  * variant of its canonical name: accented, upper-case surname, or one
  * surname character dropped. Pages use the same table layout as
  * `graft.corpus.SyntheticCorpus`; names are a pure function of
  * (seed, url), so the label provider needs no broadcast map.
  */
final case class EntityCorpus(seed: Long, vocabSize: Int) {
  import EntityCorpus._

  /** Distinct canonical "First Last" names, most popular first. */
  val canonical: Vector[String] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    var k = 0L
    while (out.size < vocabSize) {
      val h = mix(seed * 31 + k)
      out += s"${word(h, 2 + (h & 1).toInt)} ${word(mix(h), 3)}"
      k += 1
    }
    out.toVector
  }

  private val cdf: Array[Double] = {
    val w = Array.tabulate(vocabSize)(r => 1.0 / (r + 1))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  private def rankOf(h: Long): Int = {
    val u = (h >>> 11).toDouble / (1L << 53).toDouble
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(vocabSize - 1, if (i >= 0) i else -i - 1)
  }

  /** (canonical rank, variant kind) of every name slot of page `id`. */
  def slotsOf(id: Long): Seq[(Int, Int)] = {
    val base = mix(seed ^ (id * 0x9e3779b97f4a7c15L) ^ 0x5bd1e995L)
    (0 until NamesPerPage).map { i =>
      val h = mix(base + i)
      val v = mix(h)
      (rankOf(h), if ((v & 3) == 0) 1 + ((v >>> 2) % 3).toInt else Canonical)
    }
  }

  def surface(rank: Int, kind: Int): String = {
    val Array(first, last) = canonical(rank).split(" ", 2)
    s"$first ${variantOf(last, kind, mix(seed + rank))}"
  }

  def namesOf(id: Long): Seq[String] =
    slotsOf(id).map { case (r, k) => surface(r, k) }

  def pages(spark: SparkSession, n: Long): Dataset[Page] = {
    import spark.implicits._
    val self = this
    spark.range(0L, n, 1L, spark.sparkContext.defaultParallelism * 4)
      .mapPartitions(_.map { id =>
        Page(url = urlOf(id),
          warc_ts = new Timestamp(1700000000000L + id * 1000L),
          html = htmlOf(id, self.namesOf(id))
            .getBytes(java.nio.charset.StandardCharsets.UTF_8),
          text = null, lang = "en")
      })
  }

  /** Label provider: the target names of an entity-corpus url. */
  def targetNames(url: String): Seq[String] =
    namesOf(url.substring(url.lastIndexOf('/') + 1).toLong)
      .map(graft.extract.Extractor.normalizeTargetName)
}

object EntityCorpus {
  val NamesPerPage = 25

  val Canonical = 0
  val Accented = 1
  val UpperSurname = 2
  val Typo = 3

  val UrlPrefix = "https://entities.example/people/"
  def urlOf(id: Long): String = UrlPrefix + id

  private val Syllables = Vector("ka", "lo", "mi", "ne", "ra", "to", "vu",
    "se", "di", "pa", "ko", "le", "ma", "ni", "ru", "ta", "zo", "be", "ga",
    "hi", "jo", "fe", "wa", "ye", "xi", "bo", "ce", "du", "fi", "sor", "len",
    "dar", "mon", "tis", "vel")

  private def word(h: Long, syllables: Int): String = {
    val s = (0 until syllables).map { i =>
      Syllables((((h >>> (i * 8)) & 0xffL) % Syllables.length).toInt)
    }.mkString
    s.capitalize
  }

  private val Accent = Map('a' -> 'á', 'e' -> 'é', 'i' -> 'í', 'o' -> 'ó',
    'u' -> 'ú')

  /** The surname as written by a variant of the given kind. */
  def variantOf(last: String, kind: Int, h: Long): String = kind match {
    case Accented =>
      val i = last.indexWhere(Accent.contains)
      last.updated(i, Accent(last(i)))
    case UpperSurname => last.toUpperCase
    case Typo =>
      val i = 1 + ((h >>> 3) % (last.length - 2)).toInt
      last.substring(0, i) + last.substring(i + 1)
    case _ => last
  }

  def htmlOf(id: Long, names: Seq[String]): String = {
    val sb = new StringBuilder
    sb.append("<html><head><title>People Directory</title></head>\n<body>\n")
    sb.append("<div class=\"nav\"><ul><li><a href=\"/\">Home</a></li></ul></div>\n")
    sb.append("<div class=\"content\"><h1>Our People</h1>\n<table class=\"people\">\n")
    names.zipWithIndex.foreach { case (name, i) =>
      val user = graft.extract.Extractor.removeAccents(name)
        .replace(' ', '.').replaceAll("[^a-z.]", "")
      sb.append(s"""<tr class="row$i"><td><strong>Dr.</strong> """)
      sb.append(s"""<a href="/people/$id/$i">$name</a></td>""")
      sb.append(s"""<td>$user@entities.example</td></tr>\n""")
    }
    sb.append("</table>\n<p>Contact us for more information.</p>\n")
    sb.append("</div></body></html>\n")
    sb.toString
  }
}
