package graft.io

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** word2vec importer: binary codec round-trip, header semantics on the
  * text path, vocab filtering, truncation fail-fast, and matrix
  * alignment parity with the GloVe loader.
  */
class Word2VecSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val rows = Seq(
    ("alpha", Array(1.0f, -2.5f, 3.25f)),
    ("beta", Array(0.1f, 0.2f, 0.3f)),
    ("gamma", Array(Float.MinPositiveValue, 1e30f, -0.0f)))

  private def binFile(): java.io.File = {
    val f = java.io.File.createTempFile("w2v", ".bin")
    f.deleteOnExit()
    val out = new java.io.FileOutputStream(f)
    try Word2Vec.writeBinary(out, rows, 3) finally out.close()
    f
  }

  test("binary codec: write -> parse round-trips bit-exactly") {
    val f = binFile()
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    val parsed = Word2Vec.parseBinary(bytes).toSeq
    assert(parsed.map(_._1) === rows.map(_._1))
    parsed.zip(rows).foreach { case ((_, got), (_, exp)) =>
      assert(got.toSeq === exp.toSeq) // incl. -0.0 and subnormals
    }
  }

  test("binary table: distributed read, vocab-filtered, matrix aligned") {
    val f = binFile()
    val table = Word2Vec.toTableBinary(spark, f.getAbsolutePath,
      Seq("alpha", "gamma", "missing"))
    val got = table.collect()
      .map(r => r.getString(0) ->
        r.getAs[scala.collection.Seq[Float]](1).toSeq).toMap
    assert(got.keySet === Set("alpha", "gamma")) // beta filtered, missing absent
    assert(got("alpha") === Seq(1.0f, -2.5f, 3.25f))
    val (idx, m) = Word2Vec.loadMatrix(spark, f.getAbsolutePath,
      Seq("alpha", "missing", "gamma"), dim = 3, binary = true)
    assert(idx === Map("alpha" -> 0, "missing" -> 1, "gamma" -> 2))
    assert(m.length === 4) // 3 vocab rows + OOV zeros
    assert(m(0).toSeq === Seq(1.0f, -2.5f, 3.25f))
    assert(m(1).toSeq === Seq(0f, 0f, 0f)) // missing word -> zeros
    assert(m(3).toSeq === Seq(0f, 0f, 0f)) // OOV row
  }

  test("binary codec: truncated shard fails fast, never drops the tail silently") {
    val f = binFile()
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    val truncated = bytes.take(bytes.length - 5)
    val e = intercept[IllegalArgumentException] {
      Word2Vec.parseBinary(truncated).toSeq
    }
    assert(e.getMessage.contains("truncated"))
    intercept[IllegalArgumentException] {
      Word2Vec.parseBinary("no header here".getBytes).toSeq
    }
  }

  test("binary codec: record-boundary truncation / overstated header raise, not under-emit") {
    val f = binFile()
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    // cut EXACTLY after record 1's float payload (header + "alpha ",
    // + 3 floats, no terminator): every remaining byte parses cleanly,
    // so only the emitted-vs-header count can catch the missing tail
    val headerEnd = bytes.indexOf('\n'.toByte) + 1
    val rec1End = headerEnd + "alpha".length + 1 + 4 * 3
    val boundary = bytes.take(rec1End)
    val e = intercept[IllegalArgumentException] {
      Word2Vec.parseBinary(boundary).toSeq
    }
    assert(e.getMessage.contains("shard ended after 1"), e.getMessage)
    // header overstating the word count is the same corruption class
    val overstated = "9 3\n".getBytes ++ bytes.drop(headerEnd)
    val e2 = intercept[IllegalArgumentException] {
      Word2Vec.parseBinary(overstated).toSeq
    }
    assert(e2.getMessage.contains("truncated") ||
      e2.getMessage.contains("shard ended"), e2.getMessage)
  }

  test("text format: header line skipped, dim mismatch fails fast") {
    val f = java.io.File.createTempFile("w2v", ".txt")
    f.deleteOnExit()
    java.nio.file.Files.writeString(f.toPath,
      "2 3\nalpha 1.0 -2.5 3.25\nbeta 0.1 0.2 0.3\n")
    val got = Word2Vec.toTable(spark, f.getAbsolutePath,
        Seq("alpha", "beta"), dim = 3)
      .collect().map(r => r.getString(0) ->
        r.getAs[scala.collection.Seq[Float]](1).toSeq).toMap
    assert(got === Map(
      "alpha" -> Seq(1.0f, -2.5f, 3.25f),
      "beta" -> Seq(0.1f, 0.2f, 0.3f)))
    intercept[IllegalArgumentException] {
      Word2Vec.toTable(spark, f.getAbsolutePath, Seq("alpha"), dim = 5)
    }
  }
}
