package graft.tag

import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark
import graft.spark.SentenceRow

/** A8 best-F1 early stopping (`models/estimator.py:137-139`): max over
  * epochs, strict-improvement patience, never worse than the initial
  * model.
  */
class EarlyStoppingSpec extends AnyFunSuite with SharedSpark {

  test("protocol: keeps the max epoch, stops after patience non-improvements") {
    val f1s = Map(0 -> 0.5, 1 -> 0.7, 2 -> 0.6, 3 -> 0.65, 4 -> 0.9)
    val trace = EarlyStopping.run[Int](0, _ + 1, f1s, maxEpochs = 10, patience = 2)
    // epoch 3 (0.65) is the 2nd consecutive non-improvement -> stop;
    // the 0.9 at epoch 4 is never reached (that IS early stopping)
    assert(trace.best == 1)
    assert(trace.bestF1 == 0.7)
    assert(trace.bestEpoch == 1)
    assert(trace.history == Seq(0.5, 0.7, 0.6, 0.65))
  }

  test("protocol: equal F1 is NOT an improvement (reference f1 > best_f1)") {
    val trace = EarlyStopping.run[Int](0, _ + 1,
      Map(0 -> 0.6, 1 -> 0.6, 2 -> 0.6, 3 -> 0.8), maxEpochs = 10, patience = 2)
    assert(trace.best == 0 && trace.bestEpoch == 0)
    assert(trace.history == Seq(0.6, 0.6, 0.6))
  }

  test("protocol: maxEpochs bounds the loop when patience never trips") {
    val trace = EarlyStopping.run[Int](0, _ + 1,
      (m: Int) => m * 0.1, maxEpochs = 3, patience = 10)
    assert(trace.best == 3 && trace.bestEpoch == 3)
    assert(trace.history.length == 4)
  }

  private def sent(i: Int, css: Seq[String]): SentenceRow = {
    val tkns = css.indices.map(j => s"tok$j")
    val feats = css.zipWithIndex.map { case (c, _) =>
      Seq.fill(11)(s"f$i") ++ Seq("div.body", c)
    }
    val bio = css.indices.map(j => if (j == 0) "B-PER" else "O")
    SentenceRow(s"u$i", new java.sql.Timestamp(0L), "en", 0, tkns, feats, bio)
  }

  test("selfTrainBestF1: best model re-scores to bestF1; never below epoch 0") {
    import spark.implicits._
    val rows = (0 until 60).map(i => sent(i, Seq(s"css-${i % 4}", "css-o", "css-o")))
    val sents = spark.createDataset(rows)
    val dev = spark.createDataset(rows.take(20))
    val m0 = Hmm.fit(spark, sents, timeSteps = 1, useFeatures = true)
    val trace = EarlyStopping.selfTrainBestF1(spark, m0, sents, dev,
      maxEpochs = 3, patience = 1)
    assert(trace.history.nonEmpty && trace.history.length <= 5)
    assert(trace.bestF1 == trace.history.max)
    assert(trace.bestF1 >= trace.history.head)
    // the returned model really is the one that scored bestF1
    val pairs = Hmm.predict(spark, trace.best, dev)
      .map { case (s, tags) => (tags.map(Hmm.Labels(_)), s.bio) }
    val again = graft.metrics.SpanMetrics.evaluate(spark, pairs).f1
    assert(again == trace.bestF1)
  }
}
