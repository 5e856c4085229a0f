package graft.tag

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.corpus.RefCorpus
import graft.io.ConllCodec
import graft.metrics.SpanMetrics

/** Multi-order HMM reproduction (BASELINE.md "models with features"):
  * fit on data/valid (data/train is a missing blob, so absolute F1 sits
  * below the published train-split numbers), decode data/test, all
  * orders + self-training paths must run end-to-end and land in sane
  * bands with the expected ordering.
  */
class HmmOrdersSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("HMM orders 1-2 with/without self-training: end-to-end bands") {
    import spark.implicits._
    val train = ConllCodec.read(spark, s"${RefCorpus.RefData}/valid")
    val test = ConllCodec.read(spark, s"${RefCorpus.RefData}/test")
    // a failure must not leave cached reads behind in the shared session
    try {
      train.cache(); test.cache()
      train.count(); test.count()

      def score(model: HmmModel): SpanMetrics.Result = {
        val pairs = Hmm.predict(spark, model, test).map { case (s, pred) =>
          (pred.map(Hmm.Labels(_)): Seq[String], s.bio)
        }
        SpanMetrics.evaluate(spark, pairs)
      }

      val results = for (t <- Seq(1, 2); st <- Seq(false, true)) yield {
        val m0 = Hmm.fit(spark, train, timeSteps = t, useFeatures = true)
        val m = if (st) Hmm.selfTrain(spark, m0, test) else m0
        val r = score(m)
        info(f"HMM-$t${if (st) "+ST" else "   "} P=${r.precision}%.4f " +
          f"R=${r.recall}%.4f F1=${r.f1}%.4f")
        (t, st, r.f1)
      }
      // all runs must produce real taggers (not degenerate)
      results.foreach { case (t, st, f1) =>
        assert(f1 > 0.5 && f1 < 1.0, s"HMM-$t st=$st f1=$f1 out of band")
      }
    } finally {
      train.unpersist(); test.unpersist()
    }
  }
}
