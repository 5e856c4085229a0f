package graft.kg

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.extract.Extractor
import graft.ops.Dedup

/** Entity-linking candidate generation (SURVEY §2.3 J4, north star:
  * "MinHash-LSH blocking + broadcast alias-dictionary scoring").
  *
  * Names are normalized with the reference accent-folding, shingled into
  * character 3-grams, and linked on the engine's one MinHash LSH,
  * [[graft.ops.Dedup.minhashLshPairs]]: native `minhash_sig` band keys,
  * bounded in-bucket pairing (a hot band bucket chain-pairs instead of
  * going quadratic) and an exact Jaccard verify — a shuffle keyed by band
  * hashes, never the full cross product. A broadcast alias dictionary
  * links known aliases directly (hash semi-join against a broadcast map —
  * no shuffle at all for the dictionary path).
  */
object Linker {

  /** Reference-semantics normalization: lower + strip + accent fold. */
  def normalize(name: String): String = Extractor.removeAccents(name)

  /** Character 3-gram shingles of a normalized name (space-padded). */
  def shingles(norm: String): Seq[String] = {
    val padded = " " + norm + " "
    if (padded.length < 3) Seq(padded)
    else (0 to padded.length - 3).map(i => padded.substring(i, i + 3)).distinct
  }

  /** Distinct names with support counts — the linking working set is the
    * name vocabulary (much smaller than the mention stream).
    */
  def nameVocab(spark: SparkSession, triples: Dataset[graft.spark.Triple]): DataFrame =
    triples.groupBy(col("obj").as("name"))
      .agg(count(lit(1)).as("support"))

  private val normUdf = udf((s: String) => normalize(s))

  /** Stands in for the space inside a gram, so that a name's grams joined
    * by spaces form one MinHash document whose words are exactly those
    * grams. No normal form contains it: `Py.lower` maps every ASCII
    * capital and the accent table emits only lowercase ASCII, so a padded
    * gram like " jo" can never collide with a literal name character.
    */
  private val GramSpace = 'S'

  private val gramDocUdf = udf((name: String) =>
    shingles(normalize(name)).map(_.replace(' ', GramSpace)).mkString(" "))

  /** LSH candidate pairs (nameA < nameB) whose char-3-gram Jaccard
    * distance is strictly below `maxDistance`. Five one-row bands
    * (`w = 1`: each gram is one MinHash word); names sharing a normal
    * form have identical gram sets, so they pair at distance 0 in every
    * bucket, hot buckets included (exact-copy runs plus the chain).
    */
  def candidatePairs(spark: SparkSession, names: DataFrame,
      maxDistance: Double = 0.5): DataFrame = {
    val docs = names.select(Canonicalize.nameIdUdf(col("name")).as("id"),
      col("name"), gramDocUdf(col("name")).as("grams"))
    val byId = docs.select("id", "name")
    Dedup.minhashLshPairs(spark, docs, textCol = "grams", idCol = "id",
        w = 1, bands = 5, rows = 1, minJaccard = 1 - maxDistance)
      .withColumn("dist", lit(1.0) - col("jaccard"))
      .filter(col("dist") < maxDistance)
      .join(byId.toDF("id_a", "a"), "id_a")
      .join(byId.toDF("id_b", "b"), "id_b")
      .select(least(col("a"), col("b")).as("name_a"),
        greatest(col("a"), col("b")).as("name_b"), col("dist"))
  }

  /** Direct links via a broadcast alias dictionary: alias-normal-form ->
    * canonical name. Pure map lookup inside the executors (broadcast
    * hash semi-join).
    */
  def aliasLinks(spark: SparkSession, names: DataFrame,
      aliasDict: Broadcast[Map[String, String]]): DataFrame = {
    val lookup = udf((norm: String) => aliasDict.value.get(norm))
    names
      .withColumn("norm", normUdf(col("name")))
      .withColumn("canonical", lookup(col("norm")))
      .filter(col("canonical").isNotNull && col("canonical") =!= col("name"))
      .select(
        least(col("name"), col("canonical")).as("name_a"),
        greatest(col("name"), col("canonical")).as("name_b"),
        lit(0.0).as("dist"))
  }

  /** Exact-normal-form links: names whose normalization collides are the
    * same entity (accent/case variants). Chain-paired via `lead()` over
    * a (norm, name) sort — sorted-adjacent neighbors connect the whole
    * variant group for the downstream connected components exactly like
    * a star pairing would, but with NO `collect_list` row: a degenerate
    * normal form shared by millions of names streams through the
    * spillable external sort (O(n) pairs, O(1) state per row) instead
    * of materializing one unbounded aggregation row. Same discipline as
    * `Dedup.boundedBucketPairs`'s hot-bucket branch.
    */
  def exactNormLinks(spark: SparkSession, names: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("norm").orderBy("name")
    names
      .withColumn("norm", normUdf(col("name")))
      .withColumn("next_name", lead(col("name"), 1).over(w))
      .filter(col("next_name").isNotNull)
      .select(
        least(col("name"), col("next_name")).as("name_a"),
        greatest(col("name"), col("next_name")).as("name_b"),
        lit(0.0).as("dist"))
  }
}
