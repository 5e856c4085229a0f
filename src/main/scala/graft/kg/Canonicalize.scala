package graft.kg

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Canonicalization: connected components over the link graph, then
  * per-component canonical-name election.
  *
  * Skew strategy:
  *  - CC runs on the alternating large-star/small-star DataFrame core
  *    ([[graft.spark.Cc]]) whose neighborhood-min aggregations are
  *    map-side combinable — a hot vertex's edges pre-reduce per map
  *    task, and AQE splits the skewed emit join.
  *  - the per-component alias aggregation is two-phase: a salted
  *    partial `collect_set`/`sum` (component, salt) followed by the
  *    final merge on component — a hot entity's aliases never funnel
  *    through one reducer in a single step.
  */
object Canonicalize {

  /** name -> stable 64-bit vertex id (shared FNV-1a over UTF-8 bytes,
    * consistent with the fnv1a64 SQL fingerprint). Collision-safe enough
    * for vocabulary-sized vertex sets; a production run would carry the
    * name through instead of relying on hash uniqueness.
    */
  def nameId(name: String): Long = graft.functions.Fnv1a64.hashString(name)

  private[kg] val nameIdUdf = udf((s: String) => nameId(s))

  /** Connected components over (name_a, name_b) pairs; returns
    * (name, component) for every name that appears in a link.
    */
  def components(spark: SparkSession, pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    import spark.implicits._
    // CC runs on the shared graft.spark.Cc core (alternating
    // large-star/small-star; per-round localCheckpoint keeps the
    // lineage flat — see Cc for the convergence/skew policy).
    // Materialize the pair pipeline ONCE: both the edge RDD and the
    // vertex name table derive from `pairs`, which is typically a full
    // upstream derivation (the linker window chain) — without the
    // checkpoint the vertex branch re-executed it a second time
    // (r8 measured, the same redundant-derivation class as the
    // shortest-path edge cache).
    val p = pairs.select(col("name_a"), col("name_b")).localCheckpoint(true)
    val edges = p
      .select(nameIdUdf(col("name_a")).as("src"), nameIdUdf(col("name_b")).as("dst"))
      .as[(Long, Long)].rdd
    val vertices = p
      .select(explode(array(col("name_a"), col("name_b"))).as("name"))
      .distinct()
      .select(nameIdUdf(col("name")).as("id"), col("name"))

    val ccDf = graft.spark.Cc.components(spark, edges, maxIter)
    vertices.join(ccDf, "id").select(col("name"), col("component"))
  }

  /** nodes table: one row per entity (component), canonical name =
    * highest-support member (ties by name), aliases = all members.
    * Singleton names (no links) become their own entities.
    */
  def entities(spark: SparkSession, names: DataFrame, membership: DataFrame,
      saltBuckets: Int = 16): DataFrame = {
    val withComp = names.join(membership, Seq("name"), "left_outer")
      .withColumn("component",
        coalesce(col("component"), nameIdUdf(col("name"))))

    // phase 1: salted partial aggregation (hot components spread over
    // saltBuckets reducers)
    val salted = withComp
      .withColumn("salt", pmod(hash(col("name")), lit(saltBuckets)))
      .groupBy("component", "salt")
      .agg(
        collect_set(col("name")).as("alias_part"),
        max(struct(col("support"), col("name"))).as("best_part"),
        sum(col("support")).as("support_part"))

    // phase 2: tiny final merge per component
    salted.groupBy("component")
      .agg(
        array_sort(array_distinct(flatten(collect_list(col("alias_part")))))
          .as("aliases"),
        max(col("best_part")).as("best"),
        sum(col("support_part")).as("support"))
      .select(
        format_string("person:%016x", col("component")).as("entity_id"),
        col("best.name").as("canonical_name"),
        col("aliases"),
        lit("person").as("kind"),
        col("support"))
  }

  /** edges table: triples with obj rewritten to the canonical entity. */
  def canonicalEdges(spark: SparkSession, triples: Dataset[graft.spark.Triple],
      nodes: DataFrame): DataFrame = {
    // No broadcast hint: the exploded alias->entity table grows with
    // the entity vocabulary, which at 10^12 documents outgrows the
    // 8 GB broadcast cap (driver OOM). AQE picks broadcast when the
    // runtime size allows and falls back to a sort-merge/shuffled hash
    // join on `obj` otherwise; skew on a hot alias is handled by AQE
    // skew-join splitting.
    val aliasToEntity = nodes
      .select(col("entity_id"), col("canonical_name"),
        explode(col("aliases")).as("obj"))
    triples.toDF()
      .join(aliasToEntity, Seq("obj"), "left_outer")
      .select(
        col("subj"),
        col("pred"),
        coalesce(col("canonical_name"), col("obj")).as("obj"),
        coalesce(col("entity_id"),
          format_string("person:%016x", nameIdUdf(col("obj")))).as("obj_entity"),
        col("url"), col("warc_ts"), col("confidence"))
      .dropDuplicates("subj", "pred", "obj", "url")
  }

  /** Canonicalize relation triples whose SUBJECT is an entity name
    * (hasTitle/hasEmail from [[Relations]]): map subj through the
    * alias table; obj stays a literal (title token, email
    * address), id-tagged by predicate so edges keep a uniform
    * (subj, pred, obj, obj_entity, url, warc_ts, confidence) schema.
    */
  def canonicalSubjectEdges(spark: SparkSession,
      relations: Dataset[graft.spark.Triple], nodes: DataFrame): DataFrame = {
    // Unhinted for the same reason as [[canonicalEdges]]: the alias
    // table scales with the entity vocabulary; AQE chooses the strategy.
    val aliasToEntity = nodes
      .select(col("canonical_name"), explode(col("aliases")).as("subj"))
    relations.toDF()
      .join(aliasToEntity, Seq("subj"), "left_outer")
      .select(
        coalesce(col("canonical_name"), col("subj")).as("subj"),
        col("pred"),
        col("obj"),
        concat(lower(col("pred")), lit(":"), col("obj")).as("obj_entity"),
        col("url"), col("warc_ts"), col("confidence"))
      .dropDuplicates("subj", "pred", "obj", "url")
  }
}
