package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Entry points (SURVEY.md §7): the flagship [[entry]] and the query
  * registry. Each query is declared once, as a [[graft.queries.QueryDef]]
  * in its family file under `graft/queries/` (to add one, append it to
  * the family's `all`); [[queries]] and [[oracleSql]] are name-keyed
  * views of [[registry]]; Verify's output of every query is checked
  * row/schema/hash against its oracle in DuckDB.
  */
object SparkEntry {

  /** Flagship: the full KG extraction path on the reference corpus —
    * pages -> parity DOM extract -> labeled mentions -> triples. (The
    * `kg_triples` query runs the same path over planted SynthPages
    * so the driver can oracle its full rows; the reference-corpus
    * variant stays here as the smoke surface, with its triple P/R gate
    * asserted against the reference's own gold labels in PipelineSpec.)
    */
  def entry(spark: SparkSession): DataFrame = {
    val pages = graft.corpus.RefCorpus.pages(spark)
    val names = spark.sparkContext.broadcast(graft.corpus.RefCorpus.targetNameMap())
    val sents = graft.spark.ExtractStage.sentences(spark, pages, Some(names))
    val mentions = graft.kg.Triples.goldMentions(spark, sents)
    graft.kg.Triples.fromMentions(spark, mentions).toDF()
  }

  /** Every registered query, family by family. */
  val registry: Seq[QueryDef] =
    KgQueries.all ++ GraphQueries.all ++ AnnQueries.all ++ DedupQueries.all ++
      DocQueries.all ++ MmQueries.all ++ StreamQueries.all ++ QQueries.all

  /** `defs` keyed by name; a name declared twice fails with that name.
    * The immutable HashMap iterates in an order set by the key set alone,
    * so declaration order never reorders oracle_sql.json or Bench.
    */
  private[graft] def byName[A](defs: Seq[QueryDef])(f: QueryDef => A): Map[String, A] = {
    val dups = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dups.isEmpty,
      s"query declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    defs.map(d => d.name -> f(d)).toMap
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    byName(registry)(_.build)

  val oracleSql: Map[String, String] = byName(registry)(_.oracle)
}
