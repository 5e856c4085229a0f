package graft.kg

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Entity linking + canonicalization: LSH blocking recall/precision on
  * crafted variants, salted hot-entity aggregation, alias-dictionary
  * scoring, and checkpoint resume (FIXTURES.md §8).
  */
class LinkSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  def namesDf(names: (String, Long)*) = {
    import spark.implicits._
    names.toDF("name", "support")
  }

  test("LSH candidate pairs cluster near-duplicate names, not strangers") {
    val names = namesDf(
      ("Jose Garcia", 10L), ("José García", 3L), ("Jose  Garcia", 1L),
      ("John Smith", 5L), ("John Smith Jr", 2L),
      ("Wolfgang Pauli", 4L), ("Xinyi Zhang", 4L))
    val pairs = Linker.candidatePairs(spark, names, maxDistance = 0.4)
      .select("name_a", "name_b").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs.contains(("Jose Garcia", "José García")) ||
           pairs.contains(("José García", "Jose Garcia")))
    assert(pairs.exists(p => p._1.contains("Smith") && p._2.contains("Smith")))
    assert(!pairs.exists(p => p._1.contains("Pauli") && p._2.contains("Zhang")))
    assert(!pairs.exists(p => p._1.contains("Garcia") && p._2.contains("Smith")))
  }

  /** Brute-force char-3-gram Jaccard distance between two names. */
  def gramDistance(a: String, b: String): Double = {
    val ga = Linker.shingles(Linker.normalize(a)).toSet
    val gb = Linker.shingles(Linker.normalize(b)).toSet
    1.0 - ga.intersect(gb).size.toDouble / ga.union(gb).size.toDouble
  }

  test("LSH pairs carry the exact gram distance; same-normal-form pairs all present") {
    // seeded planted variants: case/accent/padding spellings share a
    // normal form, typos and dropped letters are near but distinct
    val rng = new scala.util.Random(17)
    val firsts = Seq("jose", "maria", "john", "wei", "anna", "pierre",
      "olga", "ahmed", "lucia", "kenji", "ines", "tomas")
    val lasts = Seq("garcia", "smith", "zhang", "mueller", "rossi",
      "dubois", "ivanova", "tanaka", "silva", "novak", "kowalski",
      "hernandez", "andersen", "okafor", "lindqvist")
    val accents = Map('a' -> 'á', 'e' -> 'é', 'i' -> 'í', 'o' -> 'ö', 'u' -> 'ü')
    val bases = rng.shuffle(for (f <- firsts; l <- lasts) yield s"$f $l").take(60)
    def typo(s: String): String = {
      val i = 1 + rng.nextInt(s.length - 2)
      s.updated(i, if (s(i) == 'x') 'q' else 'x')
    }
    val vocab = bases.flatMap { b =>
      val title = b.split(" ").map(_.capitalize).mkString(" ")
      Seq(title, b, b.toUpperCase, s" $title ", b.map(c => accents.getOrElse(c, c)),
        typo(title), title.patch(1 + rng.nextInt(title.length - 2), "", 1))
    }.distinct
    assert(vocab.length > 300)
    val maxDistance = 0.3
    val got = Linker.candidatePairs(spark,
        namesDf(vocab.map(n => (n, 1L)): _*), maxDistance)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    got.foreach { case (a, b, d) =>
      assert(a < b, s"unordered pair ($a, $b)")
      assert(d == gramDistance(a, b), s"($a, $b): dist $d")
      assert(d < maxDistance, s"($a, $b): dist $d not below $maxDistance")
    }
    val pairs = got.map(p => (p._1, p._2)).toSet
    assert(pairs.size == got.length, "duplicate pair rows")
    val all = for (a <- vocab; b <- vocab if a < b) yield (a, b)
    val sameNorm = all.filter { case (a, b) =>
      Linker.normalize(a) == Linker.normalize(b) }
    assert(sameNorm.nonEmpty)
    sameNorm.foreach(p => assert(pairs.contains(p), s"missing same-norm pair $p"))
    // five one-row bands: a pair at J >= 0.7 is missed with p <= 0.3^5
    val near = all.filter { case (a, b) => gramDistance(a, b) < maxDistance }
    val recall = near.count(pairs.contains).toDouble / near.length
    assert(recall >= 0.95, f"LSH recall $recall%.3f vs brute force")
  }

  test("hot normal form: 2^11 case spellings stay bounded and one component") {
    // every upper/lower-case spelling of an 11-letter name: 2,048 names
    // with one gram set, so every band bucket holds all of them, above
    // minhashLshPairs' maxBucket = 1000. The bounded pairing chains them
    // (at most n x hotChain rows, hotChain = 20) instead of emitting
    // all ~2.1M pairs, and the chain still connects the whole bucket.
    val base = "mariagarcia"
    val names = (0 until (1 << base.length)).map { mask =>
      base.zipWithIndex.map { case (c, i) =>
        if ((mask >> i & 1) == 1) c.toUpper else c }.mkString
    }
    val n = names.length
    val links = Linker.candidatePairs(spark,
      namesDf(names.map(x => (x, 1L)): _*), maxDistance = 0.3).cache()
    try {
      val rows = links.count()
      assert(rows <= n * 20L, s"$rows link rows for $n names")
      assert(links.filter(col("dist") =!= 0.0).isEmpty)
      val membership = Canonicalize.components(spark, links).collect()
      assert(membership.length == n, "every spelling is linked")
      assert(membership.map(_.getLong(1)).distinct.length == 1, "one component")
    } finally links.unpersist()
  }

  test("connected components + canonical election merge variant clusters") {
    val names = namesDf(
      ("Jose Garcia", 10L), ("José García", 3L), ("Garcia, Jose", 1L),
      ("John Smith", 5L), ("Xinyi Zhang", 4L))
    val pairs = namesDf().sparkSession.createDataFrame(Seq(
      ("Jose Garcia", "José García", 0.1),
      ("Garcia, Jose", "Jose Garcia", 0.2))).toDF("name_a", "name_b", "dist")
    val membership = Canonicalize.components(spark, pairs)
    val nodes = Canonicalize.entities(spark, names, membership)
    val rows = nodes.collect()
    assert(rows.length == 3) // garcia cluster + 2 singletons
    val garcia = rows.find(_.getAs[scala.collection.Seq[String]]("aliases").length == 3).get
    assert(garcia.getAs[String]("canonical_name") == "Jose Garcia") // top support
    assert(garcia.getAs[Long]("support") == 14L)
  }

  test("hot-entity skew: salted aggregation handles a 20% hot alias") {
    import spark.implicits._
    // one hot name with very high support + 500 cold names, all linked
    // to the hot one (a pathological single component)
    val cold = (1 to 500).map(i => (f"Cold Name $i%03d", 1L))
    val names = namesDf((("Hot Wang", 100000L) +: cold): _*)
    val pairs = cold.map { case (n, _) => ("Hot Wang", n, 0.1) }
      .toDF("name_a", "name_b", "dist")
      .select(least(col("name_a"), col("name_b")).as("name_a"),
        greatest(col("name_a"), col("name_b")).as("name_b"), col("dist"))
    val membership = Canonicalize.components(spark, pairs)
    val nodes = Canonicalize.entities(spark, names, membership, saltBuckets = 16)
    val rows = nodes.collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("canonical_name") == "Hot Wang")
    assert(rows.head.getAs[scala.collection.Seq[String]]("aliases").length == 501)
    assert(rows.head.getAs[Long]("support") == 100500L)
  }

  test("exact-norm chain links connect all variants of one normal form") {
    // accent/case variants of one name + an unrelated name: the lead()
    // chain pairing must connect the whole variant group (CC needs
    // connectivity, not the star shape) without any collect_list row
    val names = namesDf(
      ("jose garcia", 5L), ("José García", 3L), ("JOSE GARCIA", 1L),
      ("Ada L", 1L))
    val links = Linker.exactNormLinks(spark, names)
    val membership = Canonicalize.components(spark, links)
    val comps = membership.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(comps.size == 3) // the three garcia variants linked
    assert(comps.values.toSet.size == 1, "one component")
    assert(!comps.contains("Ada L")) // no degenerate self-links
  }

  test("alternating-star CC collapses a path graph well inside the round bound") {
    import spark.implicits._
    // A 12-node PATH is the anti-star worst case for the alternating
    // large-star/small-star core (r8: replaced the GraphX Pregel CC):
    // hash-min propagation would need ~12 rounds, the alternating
    // algorithm collapses it in O(log n) — maxIter=8 < the path length
    // proves the sub-diameter convergence is real, not just the bound
    // being generous; the labels must be the min-id election.
    val chain = (1 until 12).map(i => (f"cc node $i%02d", f"cc node ${i + 1}%02d"))
    val pairs = chain.toDF("name_a", "name_b")
    val membership = Canonicalize.components(spark, pairs, maxIter = 8)
    val comps = membership.collect().map(r => (r.getString(0), r.getLong(1)))
    assert(comps.length == 12)
    assert(comps.map(_._2).distinct.length == 1, "one chain component")
    // min-id election: every label is the smallest member id
    val minId = comps.map(r => Canonicalize.nameId(r._1)).min
    assert(comps.forall(_._2 == minId), "component label must be the min id")
  }

  test("mention-level hot-alias skew: AQE splits the skewed edges join") {
    import spark.implicits._
    // A hot ALIAS is one row in the linking vocabulary (Linker works on
    // distinct names), so mention-level skew lands on the edges join:
    // triples JOIN alias->entity ON obj. One alias holding ~20% of all
    // mentions funnels 20% of the fact side through one shuffle
    // partition — exactly what AQE's skew-join split is for. Conf
    // thresholds are scaled down so the test corpus triggers the same
    // runtime re-plan a 100 TB run would.
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> scala.util.Try(conf.get(k)).toOption).toMap
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "20KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val ts = new java.sql.Timestamp(0L)
      val nAliases = 200
      val triples = spark.range(0, 50000).map { i =>
        val alias =
          if (i % 5 == 0) "Hot Wang" // 20% of mentions
          else f"Cold Name ${i % nAliases}%03d"
        graft.spark.Triple(s"doc://skew/$i", "mentionsPerson", alias,
          s"doc://skew/$i", ts, 1.0)
      }
      val nodes = (("Hot Wang", Seq("Hot Wang", "H. Wang")) +:
        (0 until nAliases).map(a =>
          (f"Cold Name $a%03d", Seq(f"Cold Name $a%03d"))))
        .toDF("canonical_name", "aliases")
        .select(
          format_string("person:%03d", monotonically_increasing_id())
            .as("entity_id"),
          col("canonical_name"), col("aliases"))
      val edges = Canonicalize.canonicalEdges(spark, triples, nodes)
      // execute the edges plan ITSELF (count() would build a separate
      // aggregate plan and leave edges' adaptive plan non-final)
      val n = edges.collect().length
      assert(n == 50000, s"every mention canonicalizes exactly once, got $n")
      val plan = edges.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"expected an AQE skew-split join in the final plan:\n$plan")
    } finally {
      saved.foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None) => conf.unset(k)
      }
    }
  }

  test("alias dictionary links resolve through the broadcast map") {
    val names = namesDf(("Bill Gates", 5L), ("William Gates", 2L), ("Ada L", 1L))
    val dict = spark.sparkContext.broadcast(Map(
      Linker.normalize("William Gates") -> "Bill Gates"))
    val links = Linker.aliasLinks(spark, names, dict).collect()
    assert(links.length == 1)
    assert(links.head.getString(0) == "Bill Gates")
    assert(links.head.getString(1) == "William Gates")
  }

  test("pipeline stages resume from checkpoint with identical output") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_kg_test").toString
    val ids = Seq(7, 10, 19) // three small test docs
    val spark2 = spark
    import spark2.implicits._

    // monkey-run a mini pipeline via Stages directly
    val stages = new Stages(spark, dir)
    val df1 = stages.stage("s1") { Seq((1, "a"), (2, "b")).toDF("id", "v") }
    val df2 = stages.stage("s2", df1.count()) {
      df1.withColumn("v2", concat(col("v"), lit("!")))
    }
    val firstRun = df2.collect().map(_.toString).sorted.toSeq

    // delete s2; rerun must recompute s2 from the s1 checkpoint
    graft.TestSpark.deleteRec(new java.io.File(s"$dir/s2"))
    val stagesB = new Stages(spark, dir)
    var s1Recomputed = false
    val df1b = stagesB.stage("s1") { s1Recomputed = true; Seq.empty[(Int, String)].toDF("id", "v") }
    val df2b = stagesB.stage("s2", df1b.count()) {
      df1b.withColumn("v2", concat(col("v"), lit("!")))
    }
    assert(!s1Recomputed, "s1 should have been resumed from checkpoint")
    assert(df2b.collect().map(_.toString).sorted.toSeq == firstRun)

    // lineage recorded per stage
    val lin = stagesB.lineage()
    assert(lin.select("stage").distinct().count() == 2)
    graft.TestSpark.deleteRec(new java.io.File(dir))
  }
}
