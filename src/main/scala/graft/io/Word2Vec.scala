package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** word2vec-format embedding importer (S7 sibling of [[Glove]]) — the
  * engine-side equivalent of the reference's word2vec variant
  * (`models/word_embeddings.py:5-16` loads a pre-aligned npz blob; the
  * raw distribution formats it aligns FROM are the classic word2vec
  * text and binary files, both covered here).
  *
  * TEXT format = GloVe lines plus one `"<count> <dim>"` header line.
  * The header has 2 tokens, never dim+1, so [[Glove.parseLine]] already
  * rejects it as malformed — [[toTable]] documents and tests that seam
  * rather than re-implementing the scan.
  *
  * BINARY format = the same ASCII header, then per word: the word's
  * bytes terminated by ' ', then dim little-endian float32s, optionally
  * followed by '\n'. The codec is a driver-free byte parser; the table
  * reader distributes over FILES (embedding matrices ship sharded at
  * scale — one task per shard; a single multi-GB .bin is inherently a
  * one-task read, split it upstream).
  */
object Word2Vec {

  /** Parse the `"<count> <dim>"` header; None when malformed. */
  def parseHeader(line: String): Option[(Long, Int)] = {
    val parts = line.trim.split("\\s+")
    if (parts.length != 2) None
    else try Some((parts(0).toLong, parts(1).toInt))
    catch { case _: NumberFormatException => None }
  }

  /** Vocab-filtered (word, embedding) table from a word2vec TEXT file:
    * the distributed GloVe scan, with the header line dropping out as a
    * dim-mismatched (2-token) line. The declared dim must match `dim`
    * or every row is rejected — fail fast on the driver with one small
    * head read instead of returning an empty frame.
    */
  def toTable(spark: SparkSession, path: String,
      vocab: Seq[String], dim: Int): DataFrame = {
    val head = spark.read.textFile(path).head()
    parseHeader(head).foreach { case (_, d) =>
      require(d == dim,
        s"word2vec file declares dim $d, caller expects $dim")
    }
    Glove.toTable(spark, path, vocab, dim)
  }

  /** Streaming parser over one binary shard's bytes: yields every
    * (word, vector) whose word passes `keep`. Malformed trailing bytes
    * (truncated shard) fail fast — silently dropping the tail of an
    * embedding matrix is the unrecoverable kind of quiet corruption.
    */
  def parseBinary(bytes: Array[Byte],
      keep: String => Boolean = _ => true): Iterator[(String, Array[Float])] = {
    var off = 0
    def readLine(): String = {
      val start = off
      while (off < bytes.length && bytes(off) != '\n') off += 1
      require(off < bytes.length, "word2vec binary: missing header newline")
      val s = new String(bytes, start, off - start,
        java.nio.charset.StandardCharsets.UTF_8)
      off += 1
      s
    }
    val (nWords, dim) = parseHeader(readLine()).getOrElse(
      throw new IllegalArgumentException(
        "word2vec binary: malformed '<count> <dim>' header"))
    new Iterator[(String, Array[Float])] {
      private var emitted = 0L
      def hasNext: Boolean = emitted < nWords
      def next(): (String, Array[Float]) = {
        // a shard truncated exactly at a record boundary (or a header
        // overstating the count) exhausts the bytes with emitted <
        // nWords — that is the same silent-tail-drop this parser
        // promises to refuse, so it raises like mid-record truncation
        require(off < bytes.length,
          s"word2vec binary: header declared $nWords words, " +
            s"shard ended after $emitted")
        val start = off
        while (off < bytes.length && bytes(off) != ' ') off += 1
        require(off < bytes.length,
          s"word2vec binary: truncated word at byte $start")
        // the reference tooling strips a leading '\n' left by the
        // previous vector's optional terminator
        val ws = if (bytes(start) == '\n') start + 1 else start
        val word = new String(bytes, ws, off - ws,
          java.nio.charset.StandardCharsets.UTF_8)
        off += 1 // the ' ' separator
        require(off + 4L * dim <= bytes.length,
          s"word2vec binary: truncated vector for '$word'")
        val bb = java.nio.ByteBuffer.wrap(bytes, off, 4 * dim)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val v = new Array[Float](dim)
        var i = 0
        while (i < dim) { v(i) = bb.getFloat; i += 1 }
        off += 4 * dim
        emitted += 1
        (word, v)
      }
    }.filter { case (w, _) => keep(w) }
  }

  /** Vocab-filtered (word, embedding) table from binary shards:
    * `spark.read.format("binaryFile")` distributes one task per shard
    * file; the vocab rides as a broadcast set and only matching rows
    * survive the executor-side parse (the full matrix never reaches
    * the driver — the same contract as [[Glove.toTable]]).
    */
  def toTableBinary(spark: SparkSession, path: String,
      vocab: Seq[String]): DataFrame = {
    import spark.implicits._
    val bVocab = spark.sparkContext.broadcast(vocab.toSet)
    spark.read.format("binaryFile").load(path)
      .select(col("content"))
      .as[Array[Byte]]
      .flatMap(bytes => parseBinary(bytes, bVocab.value.contains))
      .toDF("word", "embedding")
  }

  /** Binary-shard writer (round-trip tests and re-sharding): the exact
    * inverse of [[parseBinary]], '\n'-terminated vectors.
    */
  def writeBinary(out: java.io.OutputStream,
      rows: Seq[(String, Array[Float])], dim: Int): Unit = {
    val w = new java.io.DataOutputStream(out)
    w.write(s"${rows.length} $dim\n"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    rows.foreach { case (word, v) =>
      require(v.length == dim, s"'$word' has dim ${v.length}, expected $dim")
      w.write(word.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      w.write(' ')
      val bb = java.nio.ByteBuffer.allocate(4 * dim)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      v.foreach(bb.putFloat)
      w.write(bb.array())
      w.write('\n')
    }
    w.flush()
  }

  /** Aligned (vocabIndex, matrix) in the reference layout — same
    * contract as [[Glove.loadMatrix]] (zeros for missing words, final
    * OOV zero row), fed from either format's table.
    */
  def loadMatrix(spark: SparkSession, path: String, vocab: Seq[String],
      dim: Int, binary: Boolean = false): (Map[String, Int], Array[Array[Float]]) = {
    val table =
      if (binary) toTableBinary(spark, path, vocab)
      else toTable(spark, path, vocab, dim)
    Glove.matrixFromTable(table, vocab, dim)
  }
}
