package graft.io

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.spark.SentenceRow

/** CoNLL text codec (SURVEY §2.1 S4/S9): reads the reference's
  * 15-column token files into [[SentenceRow]]s (keeping the file's
  * feature strings, including the gazetteer columns the extractor can't
  * reproduce), and writes `word gold pred` prediction files.
  *
  * Files are read at file granularity (`wholeTextFiles`) — sentences
  * span lines, so line-level splits would break blocks; the reference
  * corpus files are small. Large corpora store tokens as Parquet and use
  * this codec only for golden-format interchange.
  */
object ConllCodec {

  /** Parse one CoNLL file's content into sentences grouped by document.
    * Returns (docId, url, sentences of (line columns)).
    */
  def parseDocs(content: String): Vector[(Int, String, Vector[Vector[Array[String]]])] = {
    val blocks = content.strip().split("\n\n", -1)
    val docs = Vector.newBuilder[(Int, String, Vector[Vector[Array[String]]])]
    var id = -1
    var url = ""
    var sents = Vector.newBuilder[Vector[Array[String]]]
    var open = false
    blocks.foreach { b =>
      if (b.startsWith("-DOCSTART-")) {
        if (open) docs += ((id, url, sents.result()))
        val parts = b.split(" ", 3)
        id = parts(1).stripPrefix("(").stripSuffix(")").toInt
        url = if (parts.length > 2) parts(2) else ""
        sents = Vector.newBuilder
        open = true
      } else if (b.nonEmpty) {
        // headerless CoNLL (no -DOCSTART-) becomes one implicit doc
        open = true
        sents += b.split("\n", -1).toVector.map(_.split(" ", -1))
      }
    }
    if (open) docs += ((id, url, sents.result()))
    docs.result()
  }

  /** Read reference-format CoNLL into SentenceRows (distributed at file
    * granularity). Token line: tkn tag f0..f12 (15 cols). A missing
    * `path` raises [[MissingInputException]] here, not at the first
    * action on the lazy scan.
    */
  def read(spark: SparkSession, path: String): Dataset[SentenceRow] = {
    import spark.implicits._
    val files = spark.sparkContext.wholeTextFiles(
      MissingInput.requireHadoop(spark, path))
    files.flatMap { case (_, content) =>
      parseDocs(content).iterator.flatMap { case (id, url, sents) =>
        sents.iterator.zipWithIndex.map { case (s, si) =>
          SentenceRow(
            url = url, warc_ts = new java.sql.Timestamp(0L), lang = "en",
            sent_id = si,
            tkns = s.map(_(0)),
            feats = s.map(cols => cols.drop(2).toSeq),
            bio = s.map(_(1)))
        }
      }
    }.toDS()
  }

  /** Serialize prediction triples `word gold pred` with a blank line per
    * sentence (models/estimator.py:151-159).
    */
  def predsText(sents: Seq[(Seq[String], Seq[String], Seq[String])]): String = {
    val sb = new StringBuilder
    sents.foreach { case (words, gold, pred) =>
      words.indices.foreach { i =>
        sb.append(words(i)).append(' ').append(gold(i)).append(' ')
          .append(pred(i)).append('\n')
      }
      sb.append('\n')
    }
    sb.toString
  }
}
