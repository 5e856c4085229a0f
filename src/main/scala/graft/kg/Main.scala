package graft.kg

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.corpus.RefCorpus
import graft.spark.{ExtractStage, Page}
import graft.tag.Hmm

/** spark-submit entry for the full KG-construction pipeline (north rule):
  *
  *   pages -> extract -> mentions -> triples
  *         -> link (char-3-gram MinHash LSH over the name vocabulary)
  *         -> canonicalize (CC) -> materialize nodes/edges (+ lineage)
  *         -> entity_rank (PageRank)
  *
  * Every stage is checkpoint-resumable (see [[Stages]]). Usage:
  *
  *   spark-submit --class graft.kg.Main <jar> <pagesParquet|ref> <outDir>
  *     [gold|hmm|bilstm:<weightsDir>]
  *
  * `ref` loads the reference corpus fixture; `gold` tags mentions from
  * carried labels (dataset-construction path), `hmm` fits an HMM on the
  * reference valid split and decodes, `bilstm:<dir>` decodes with
  * imported Bi-LSTM-CRF weights (BiLstmWeightsIO parquet layout).
  */
object Main {

  def run(spark: SparkSession, pagesSrc: String, outDir: String,
      tagger: String = "gold"): DataFrame = {
    import spark.implicits._

    // pagesSrc: "ref" (reference corpus), "synth:N" (seeded synthetic
    // corpus of N pages), "warc:<glob>" (Common-Crawl WARC files), or a
    // parquet path. One skip accumulator covers BOTH oversized WARC
    // records and oversized/unparseable pages in the extract kernel —
    // surfaced in the sentences stage's lineage rows, not just
    // executor logs.
    val skipped = spark.sparkContext.longAccumulator("skipped_inputs")
    val pages =
      if (pagesSrc == "ref") RefCorpus.pages(spark)
      else if (pagesSrc.startsWith("synth:"))
        graft.corpus.SyntheticCorpus.pages(spark,
          pagesSrc.stripPrefix("synth:").toLong)
      else if (pagesSrc.startsWith("warc:"))
        graft.io.Warc.pages(spark, pagesSrc.stripPrefix("warc:"),
          skipped = Some(skipped))
      else spark.read.parquet(pagesSrc).as[Page]

    val names =
      if (pagesSrc == "ref")
        Some(spark.sparkContext.broadcast(RefCorpus.targetNameMap()))
      else None

    val namesFn =
      if (pagesSrc.startsWith("synth:"))
        Some(graft.corpus.SyntheticCorpus.targetNamesFn())
      else None

    // web-scale sources bound the self-train vocab collect (css-class
    // cardinality grows with the corpus); the reference corpus keeps
    // minCount=1 for exact parity with the published protocol
    val stMinCount = if (pagesSrc == "ref") 1L else 2L
    runPages(spark, pages, names, namesFn, outDir, tagger, stMinCount,
      skipped = Some(skipped))
  }

  /** Pipeline over a prepared pages Dataset (also the test seam: the
    * pages source is consumed exactly once — by the sentences stage —
    * which an instrumented Dataset can assert).
    */
  def runPages(spark: SparkSession, pages: org.apache.spark.sql.Dataset[Page],
      names: Option[org.apache.spark.broadcast.Broadcast[Map[String, Seq[String]]]],
      namesFn: Option[String => Seq[String]], outDir: String,
      tagger: String, stMinCount: Long = 1L,
      skipped: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    import spark.implicits._
    val stages = new Stages(spark, outDir)

    // input_rows for lineage comes from an accumulator filled DURING
    // the extract job (Stages.stage evaluates the by-name inputRows
    // after materialization), not from a pages.count() — which for a
    // synth:/generated source would regenerate the whole corpus once
    // just to record a lineage field. Accumulator caveat: Spark only
    // guarantees exactly-once accumulator updates in actions, so task
    // retries/speculation can inflate this value — acceptable for a
    // lineage context field (it is an upper bound on a flaky run,
    // exact otherwise), not for correctness decisions.
    val inputPages = spark.sparkContext.longAccumulator("input_pages")
    val skipAcc = skipped.getOrElse(
      spark.sparkContext.longAccumulator("skipped_inputs"))
    val sents = stages.stage("sentences", inputPages.value, skipAcc.value) {
      ExtractStage.sentences(spark, pages, names, targetNamesFn = namesFn,
        skipped = Some(skipAcc), inputPages = Some(inputPages)).toDF()
    }

    // fit at most once even though two stages decode (mentions and
    // relations); skipped entirely when both stages resume from
    // checkpoint
    lazy val hmmModel: graft.tag.HmmModel = {
      val train = graft.io.ConllCodec.read(spark,
        s"${RefCorpus.RefData}/valid")
      val m0 = Hmm.fit(spark, train, timeSteps = 1, useFeatures = true)
      Hmm.selfTrain(spark, m0, sents.as[graft.spark.SentenceRow],
        minCount = stMinCount)
    }

    // Stage input_rows from here on derive from the PREVIOUS stage's
    // lineage output_rows total (Stages.outputRowsOf — free in-run,
    // one tiny lineage read on resume) instead of a fresh count() over
    // the previous stage's materialized parquet, which cost ~7
    // redundant full-table scan jobs per pipeline run.

    // hmm mode: ONE checkpointed Viterbi pass whose decoded tags feed
    // both the mention and the relation projections (decoding twice
    // would double the dominant inference cost); gold mode uses the
    // carried labels directly
    val (tagged, tagConfidence, taggedStage) = tagger match {
      case "hmm" =>
        val t = stages.stage("tagged", stages.outputRowsOf("sentences")) {
          Triples.decodedSentences(spark, hmmModel,
            sents.as[graft.spark.SentenceRow]).toDF()
        }
        (t, 0.9, "tagged")
      // "bilstm:<weightsDir>" — imported Bi-LSTM-CRF weights
      // (graft.tag.BiLstmWeightsIO layout), same ONE-decode-pass shape
      // as the HMM path. The load stays INSIDE the stage block so a
      // checkpoint-resumed run never collects the tensors to the
      // driver; whether the weights were trained with the 7 numeric
      // features is derived from the kernel width.
      case b if b.startsWith("bilstm:") =>
        val t = stages.stage("tagged", stages.outputRowsOf("sentences")) {
          val scorer = graft.tag.BiLstmWeightsIO.load(spark,
            b.stripPrefix("bilstm:"))
          graft.tag.BiLstmCrf.decodedSentences(spark, scorer,
            sents.as[graft.spark.SentenceRow],
            useFeatures = graft.tag.BiLstmCrf.expectsFeatures(scorer)).toDF()
        }
        (t, 0.9, "tagged")
      case _ => (sents, 1.0, "sentences")
    }

    val mentions = stages.stage("mentions", stages.outputRowsOf(taggedStage)) {
      Triples.goldMentions(spark, tagged.as[graft.spark.SentenceRow],
        tagConfidence).toDF()
    }

    val triples = stages.stage("triples", stages.outputRowsOf("mentions")) {
      Triples.fromMentions(spark,
        mentions.as[graft.spark.Mention]).toDF()
    }

    // surface-pattern relation candidates (hasTitle/hasEmail) — same
    // narrow flatMap shape as mention projection, over the same tagged
    // sentences; canonicalized on the subject side in the edges stage
    val relations = stages.stage("relations", stages.outputRowsOf(taggedStage)) {
      Relations.goldRelations(spark, tagged.as[graft.spark.SentenceRow],
        tagConfidence).toDF()
    }

    // one MinHash-LSH pass over the name vocabulary; it also links every
    // pair sharing a normal form (identical gram sets, distance 0)
    val links = stages.stage("links", stages.outputRowsOf("triples")) {
      Linker.candidatePairs(spark,
        Linker.nameVocab(spark, triples.as[graft.spark.Triple]),
        maxDistance = 0.3)
    }

    val nodes = stages.stage("nodes", stages.outputRowsOf("links")) {
      val vocab = Linker.nameVocab(spark, triples.as[graft.spark.Triple])
      val membership = Canonicalize.components(spark, links)
      Canonicalize.entities(spark, vocab, membership)
    }

    val edges = stages.stage("edges", stages.outputRowsOf("nodes")) {
      Canonicalize.canonicalEdges(spark,
          triples.as[graft.spark.Triple], nodes)
        .unionByName(Canonicalize.canonicalSubjectEdges(spark,
          relations.as[graft.spark.Triple], nodes))
    }

    // entity salience: PageRank over the canonicalized page→entity
    // graph — the first consumer query of the materialized KG, run as
    // a pipeline stage so every output ships a rank table. Resumable
    // like every stage; bit-reproducible across cluster sizes (the
    // decimal-sum contract in GraphOps.pagerank), so an N- and a
    // 4N-executor run emit identical ranks. Entity nodes are pure
    // sinks in this bipartite graph, so the dangling-mass
    // redistribution mode applies (total rank conserved per
    // iteration — the classic crawl-graph semantics; leak mode would
    // shrink every rank by the entity-mass fraction each round). The
    // same shape is hash-oracled as `kg_entity_pagerank`.
    stages.stage("entity_rank", stages.outputRowsOf("edges")) {
      GraphOps.pagerank(spark,
        edges.select(col("subj").as("src"), col("obj_entity").as("dst"))
          .distinct(),
        iters = 3, danglingRedistribute = true)
    }

    edges
  }

  def main(args: Array[String]): Unit = {
    val pagesSrc = if (args.length > 0) args(0) else "ref"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_kg"
    val tagger = if (args.length > 2) args(2) else "gold"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName("graft-kg")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // durable checkpoint location next to the stage outputs (works for
    // hdfs://, s3a:// outDirs too — same FileSystem resolution)
    spark.sparkContext.setCheckpointDir(s"$outDir/_checkpoints")
    val edges = run(spark, pagesSrc, outDir, tagger)
    val n = edges.count()
    val stages = new Stages(spark, outDir)
    val lineageRows = stages.lineage().count()
    println(s"""{"edges":$n,"lineage_rows":$lineageRows,"out":"$outDir"}""")
    spark.stop()
  }
}
