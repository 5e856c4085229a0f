package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Learned-merge BPE against the hand-computed merge sequence of the
  * classic Sennrich et al. example corpus {low:5, lower:2, newest:6,
  * widest:3} (arXiv:1508.07909 §3.2), adapted to the no-end-of-word-
  * marker variant this engine uses (merges never cross words). Every
  * pair count, every deterministic tie-break (count desc, then
  * lexicographic pair), and the greedy lowest-rank-first application
  * are pinned exactly — plus the fixed-point property the
  * `doc_bpe_real` oracle builds on (enough merges collapse every
  * training word to one token; fully-OOV words fall back to chars).
  */
class BpeSpec extends AnyFunSuite with graft.SharedSpark {

  // the SHARED test session (never stopped here — getOrCreate would
  // alias it, and stopping would kill every later suite in the JVM)

  private def sennrichDocs = {
    import spark.implicits._
    val words = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    // spread over several docs/partitions: training must be
    // order-independent (the word-count agg sees the same totals)
    words.grouped(4).zipWithIndex
      .map { case (g, i) => (i.toLong, g.mkString(" ")) }.toSeq
      .toDF("doc_id", "text").repartition(3)
  }

  test("merge sequence matches the hand computation, ties broken lexicographically") {
    // pair counts round by round (weighted by word freq):
    //  1: (e,s)=9 ties (s,t)=9 -> lex -> es
    //  2: (es,t)=9               -> est
    //  3: (l,o)=7 ties (o,w)=7  -> lex -> lo
    //  4: (lo,w)=7               -> low
    //  5: (e,w)=6 ties (n,e),(w,est) -> lex -> ew
    //  6: (ew,est)=6 ties (n,ew) -> lex ("ew" < "n") -> ewest
    val merges = Bpe.trainMerges(spark, sennrichDocs, numMerges = 6)
    assert(merges == Seq(("e", "s"), ("es", "t"), ("l", "o"),
      ("lo", "w"), ("e", "w"), ("ew", "est")))
  }

  test("greedy lowest-rank apply reproduces training segmentation; OOV falls to chars") {
    val merges = Bpe.trainMerges(spark, sennrichDocs, numMerges = 6)
    val ranks = merges.zipWithIndex.map { case (p, i) => p -> i }.toMap
    assert(Bpe.tokenizeWord("newest", ranks).toSeq == Seq("n", "ewest"))
    assert(Bpe.tokenizeWord("widest", ranks).toSeq == Seq("w", "i", "d", "est"))
    assert(Bpe.tokenizeWord("low", ranks).toSeq == Seq("low"))
    assert(Bpe.tokenizeWord("lower", ranks).toSeq == Seq("low", "e", "r"))
    // the UNSEEN word "lowest" composes learned subwords
    assert(Bpe.tokenizeWord("lowest", ranks).toSeq == Seq("low", "est"))
    // fully-OOV symbols stay single characters, never fail
    assert(Bpe.tokenizeWord("zx", ranks).toSeq == Seq("z", "x"))
    assert(Bpe.tokenizeWord("", ranks).toSeq == Seq.empty)
  }

  test("astral-plane codepoints are single symbols, never lone surrogates") {
    import spark.implicits._
    // U+1D400 MATHEMATICAL BOLD CAPITAL A / U+1D401 B — each is TWO
    // UTF-16 chars; a char-level split would train on unpaired
    // surrogates (invalid strings as tokens, counts diverging from
    // any codepoint-level BPE reference)
    val bA = new String(Character.toChars(0x1D400))
    val bB = new String(Character.toChars(0x1D401))
    val word = bA + bB
    assert(Bpe.codepointSyms(word).toSeq == Seq(bA, bB))
    assert(Bpe.codepointSyms("ab" + bA).toSeq == Seq("a", "b", bA))
    assert(Bpe.codepointSyms("").toSeq == Seq.empty)
    // training over repeated astral words learns the codepoint pair —
    // every learned symbol must be a well-formed string (no symbol
    // starts or ends mid-surrogate-pair)
    val docs = Seq.tabulate(4)(i => (i.toLong, s"$word $word ab")).toDF("doc_id", "text")
    val merges = Bpe.trainMerges(spark, docs, numMerges = 1)
    assert(merges == Seq((bA, bB)))
    def wellFormed(s: String): Boolean = {
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (Character.isHighSurrogate(c)) {
          if (i + 1 >= s.length || !Character.isLowSurrogate(s.charAt(i + 1))) return false
          i += 2
        } else if (Character.isLowSurrogate(c)) return false
        else i += 1
      }
      true
    }
    val ranks = merges.zipWithIndex.map { case (p, i) => p -> i }.toMap
    val toks = Bpe.tokenizeWord(word + "x" + bA, ranks)
    assert(toks.toSeq == Seq(word, "x", bA)) // merged pair + OOV codepoint fallback
    assert(toks.forall(wellFormed))
  }

  test("fixed point: enough merges collapse every training word; counts memoized kernel") {
    import spark.implicits._
    // 4+2+6+6 = sum(len-1) = 18 merges suffice; ask for far more and
    // rely on the early stop
    val merges = Bpe.trainMerges(spark, sennrichDocs, numMerges = 100)
    assert(merges.size <= 18, s"early stop failed: ${merges.size} merges")
    val ranks = merges.zipWithIndex.map { case (p, i) => p -> i }.toMap
    for (w <- Seq("low", "lower", "newest", "widest"))
      assert(Bpe.tokenizeWord(w, ranks).length == 1, s"$w did not collapse")
    val docs = Seq((1L, "low lower newest widest"), (2L, "newest zx"),
      (3L, ""), (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = Bpe.tokenCounts(spark, docs, merges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 4L, 2L -> 3L, 3L -> 0L, 4L -> 0L))
  }

  test("maxWords cutoff is deterministic (count desc, word asc)") {
    import spark.implicits._
    val docs = Seq((1L, "aa bb aa cc bb aa")).toDF("doc_id", "text")
    // top-2 words by (count, word): aa(3), bb(2) — cc never trains, so
    // (c,c) is not a merge and "cc" stays characters
    val merges = Bpe.trainMerges(spark, docs, numMerges = 10, maxWords = 2)
    val ranks = merges.zipWithIndex.map { case (p, i) => p -> i }.toMap
    assert(Bpe.tokenizeWord("aa", ranks).length == 1)
    assert(Bpe.tokenizeWord("bb", ranks).length == 1)
    assert(Bpe.tokenizeWord("cc", ranks).toSeq == Seq("c", "c"))
  }
}
