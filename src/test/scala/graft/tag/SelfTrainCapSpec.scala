package graft.tag

import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark
import graft.spark.SentenceRow

/** Self-training at web scale: the (feature-value, label) count table
  * for the re-estimated secondary features (11=html_ctx, 12=css) is
  * collected to the driver — `minCount` must bound it when the corpus
  * vocabulary is unbounded (css-class cardinality grows with the web).
  */
class SelfTrainCapSpec extends AnyFunSuite with SharedSpark {

  private def sent(i: Int, css: Seq[String]): SentenceRow = {
    val tkns = css.indices.map(j => s"tok$j")
    val feats = css.zipWithIndex.map { case (c, j) =>
      // 13 slots; slot 11 = html_ctx (constant), slot 12 = css
      Seq.fill(11)(s"f$j") ++ Seq("div.body", c)
    }
    val bio = css.indices.map(j => if (j == 0) "B-PER" else "O")
    SentenceRow(s"u$i", new java.sql.Timestamp(0L), "en", 0, tkns, feats, bio)
  }

  test("minCount bounds the re-estimated css vocab; rare values -> $UNK") {
    import spark.implicits._
    // 400 sentences x 3 tokens: css unique per token (high cardinality)
    // except 5 values planted >= 2 times
    val hot = (0 until 5).map(h => s"css-hot-$h")
    val rows = (0 until 400).map { i =>
      val css = (0 until 3).map { j =>
        if (i < 10 && j == 0) hot(i % 5) else s"css-uniq-$i-$j"
      }
      sent(i, css)
    }
    val sents = spark.createDataset(rows)
    val m0 = Hmm.fit(spark, sents, timeSteps = 1, useFeatures = true)

    val full = Hmm.selfTrain(spark, m0, sents)
    val capped = Hmm.selfTrain(spark, m0, sents, minCount = 2L)

    def cssVocab(m: HmmModel): Set[String] =
      (0 until Hmm.NumLabels).flatMap(y => m.featureTables(12)(y).keys).toSet

    val vFull = cssVocab(full)
    val vCapped = cssVocab(capped)
    // uncapped: ~1200 distinct css values reach the driver
    assert(vFull.size > 1000, s"expected unbounded vocab, got ${vFull.size}")
    // capped: only the planted repeats (plus $UNK) survive the cut —
    // the driver-side map stays bounded no matter the corpus size
    assert(vCapped.size <= hot.size + 1,
      s"capped vocab ${vCapped.size} not bounded: $vCapped")
    assert(vCapped.contains("$UNK"))
    // the capped model still decodes (rare values route through $UNK)
    val decoded = Hmm.decode(capped, rows.head.feats)
    assert(decoded.length == rows.head.tkns.length)
  }

  test("minCount=1 (reference parity default) is byte-identical to the old path") {
    import spark.implicits._
    val rows = (0 until 50).map(i => sent(i, Seq("a", "b", "a")))
    val sents = spark.createDataset(rows)
    val m0 = Hmm.fit(spark, sents, timeSteps = 1, useFeatures = true)
    val st = Hmm.selfTrain(spark, m0, sents) // default minCount = 1
    val st2 = Hmm.selfTrain(spark, m0, sents, minCount = 1L)
    assert(st.featureTables.flatten.map(_.toSeq.sortBy(_._1)).toSeq ==
      st2.featureTables.flatten.map(_.toSeq.sortBy(_._1)).toSeq)
  }
}
