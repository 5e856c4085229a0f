package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** Exact-substring dedup: planted shared runs (span/coverage
  * arithmetic, overlap + adjacency merging, sub-k runs invisible,
  * within-doc repeats invisible, null/short docs surface as clean) and
  * a seeded randomized corpus checked against a brute-force STRING
  * reference (no hashing) — the fingerprint path must reproduce exact
  * token-sequence semantics.
  */
class SubstringDedupSpec extends AnyFunSuite with graft.SharedSpark {


  private def run(docs: Seq[(Long, String)], k: Int,
      minDocs: Int = 2): Map[Long, (Long, Long)] = {
    import spark.implicits._
    SubstringDedup.duplicatedSpans(spark,
        docs.toDF("doc_id", "text").repartition(3), k, minDocs)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
  }

  test("shared run >= k is one merged span with exact coverage") {
    val common = (1 to 15).map(i => s"c$i").mkString(" ") // 15 tokens
    val out = run(Seq(
      (1L, common + " a1 a2 a3"),
      (2L, "b1 b2 " + common),
      (3L, "d1 d2 d3 d4 d5 d6 d7 d8")), k = 5)
    assert(out(1L) == ((1L, 15L))) // consecutive gram hits merge by overlap
    assert(out(2L) == ((1L, 15L)))
    assert(out(3L) == ((0L, 0L))) // clean doc surfaces, with zeros
  }

  test("adjacent shared runs from different partners merge into one span") {
    val r1 = (1 to 7).map(i => s"p$i").mkString(" ")
    val r2 = (1 to 7).map(i => s"q$i").mkString(" ")
    // doc 1 carries r1 and r2 back-to-back; the junction grams exist
    // only in doc 1 (not duplicated), so coverage comes from two
    // ADJACENT intervals — the union must report ONE span of 14
    val out = run(Seq(
      (1L, r1 + " " + r2),
      (2L, r1 + " x1 x2 x3 x4 x5"),
      (3L, "y1 y2 y3 y4 y5 " + r2)), k = 6)
    assert(out(1L) == ((1L, 14L)))
    assert(out(2L) == ((1L, 7L)))
    assert(out(3L) == ((1L, 7L)))
  }

  test("runs shorter than k, within-doc repeats, null and short docs are invisible") {
    val short = "s1 s2 s3 s4" // 4 < k
    val rep = (1 to 9).map(i => s"r$i").mkString(" ")
    val out = run(Seq(
      (1L, short + " a1 a2 a3 a4 a5 a6"),
      (2L, short + " b1 b2 b3 b4 b5 b6"),
      (3L, rep + " m " + rep), // repeated only WITHIN one doc
      (4L, null.asInstanceOf[String]),
      (5L, "t1 t2")), k = 5)
    assert(out == Map(1L -> ((0L, 0L)), 2L -> ((0L, 0L)),
      3L -> ((0L, 0L)), 4L -> ((0L, 0L)), 5L -> ((0L, 0L))))
  }

  test("minDocs raises the distinct-doc bar") {
    val bp = (1 to 8).map(i => s"n$i").mkString(" ")
    val docs = Seq(
      (1L, bp + " a1 a2"), (2L, bp + " b1 b2"), (3L, bp + " c1 c2"),
      (4L, "d1 d2 d3 d4 d5 d6 d7 d8 d9"))
    assert(run(docs, k = 8, minDocs = 3)
      .forall { case (id, v) => v == (if (id <= 3) ((1L, 8L)) else ((0L, 0L))) })
    assert(run(docs :+ (5L -> (bp + " e1")), k = 8, minDocs = 4)(5L) == ((1L, 8L)))
  }

  test("randomized corpus matches the brute-force string reference") {
    val k = 4
    val rnd = new scala.util.Random(20260817L)
    val docs: Seq[(Long, String)] = (0 until 40).map { i =>
      val n = rnd.nextInt(25)
      (i.toLong, (0 until n).map(_ => ("v" + rnd.nextInt(4))).mkString(" "))
    }
    // brute force on token STRINGS: dup grams by distinct-doc count,
    // then per-doc union of [s, s+k-1]
    val tokd = docs.map { case (id, t) =>
      id -> (if (t == null) Array.empty[String]
             else t.split(" ", -1))
    }
    val gramDocs = scala.collection.mutable.Map.empty[Seq[String], scala.collection.mutable.Set[Long]]
    tokd.foreach { case (id, ts) =>
      (0 to ts.length - k).foreach { s =>
        gramDocs.getOrElseUpdate(ts.slice(s, s + k).toSeq,
          scala.collection.mutable.Set.empty) += id
      }
    }
    val expected = tokd.map { case (id, ts) =>
      val hits = (0 to ts.length - k)
        .filter(s => gramDocs(ts.slice(s, s + k).toSeq).size >= 2)
      var spans = 0L; var cov = 0L; var cs = -10; var ce = -10
      hits.foreach { s =>
        val e = s + k - 1
        if (s > ce + 1) { if (cs >= 0) { spans += 1; cov += ce - cs + 1 }; cs = s; ce = e }
        else if (e > ce) ce = e
      }
      if (cs >= 0) { spans += 1; cov += ce - cs + 1 }
      id -> ((spans, cov))
    }.toMap
    assert(expected.values.exists(_._1 > 0L)) // the corpus actually has dups
    assert(run(docs, k) == expected)
  }
}
