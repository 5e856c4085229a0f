package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import QueryDef.t

/** The dedup family: near-duplicate pairs and keepers over
  * `documents` and `embeddings`.
  */
object DedupQueries {

  /** Each document beside its successor: (id_a, text_a, id_b, text_b). */
  private def consecutivePairs(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    d.select(col("doc_id").as("id_a"), col("text").as("text_a")).join(
      d.select((col("doc_id") - 1).as("id_a"), col("doc_id").as("id_b"),
        col("text").as("text_b")), "id_a")
  }

  /** Documents plus an exact copy of each at doc_id + 2^40. */
  private def withPlantedCopies(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val planted = d.select((col("doc_id") + lit(1099511627776L)).as("doc_id"),
      col("text"))
    d.select("doc_id", "text").unionByName(planted.select("doc_id", "text"))
  }

  /** Embeddings plus an exact twin of each at vec_id + 2^40 — far above
    * any realistic vec_id range, so planted ids can never collide with
    * real ones as SF grows.
    */
  private def withPlantedTwins(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").select("vec_id", "embedding")
    e.unionByName(e.select((col("vec_id") + lit(1099511627776L)).as("vec_id"),
      col("embedding")))
  }

  val all: Seq[QueryDef] = Seq(
    // Dedup: word-set Jaccard on consecutive-doc candidate pairs
    // (oracle-checked); the shape of the n-gram-Jaccard verify stage.
    QueryDef("dedup_jaccard_pairs", (s, dir) => {
      consecutivePairs(s, dir)
        .select(col("id_a"), col("id_b"),
          round(graft.ops.Dedup.jaccard(col("text_a"), col("text_b")), 6)
            .as("jaccard"))
        .orderBy("id_a")
    }, oracle =
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |ROUND(CAST(LEN(LIST_INTERSECT(LIST_DISTINCT(STRING_SPLIT(a.text,' ')), LIST_DISTINCT(STRING_SPLIT(b.text,' ')))) AS DOUBLE)
        | / LEN(LIST_DISTINCT(LIST_CONCAT(LIST_DISTINCT(STRING_SPLIT(a.text,' ')), LIST_DISTINCT(STRING_SPLIT(b.text,' '))))), 6) AS jaccard
        |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |ORDER BY id_a""".stripMargin),

    // Dedup: MinHash+LSH near-dup candidate pipeline (shingle -> minhash
    // -> band -> bucket join -> verify), oracled on the planted
    // invariant (was rows-only): exact copies at id+2^40 share every
    // band deterministically (identical shingle sets -> identical
    // signatures) and sort adjacent even in chain-paired hot buckets,
    // so selecting the planted id offset yields EXACTLY one jaccard-1.0
    // pair per document — closed-form in DuckDB. Natural near-dup pairs
    // (band survival probabilistic) are exercised by OpsSpec instead.
    QueryDef("dedup_minhash_lsh", (s, dir) => {
      graft.ops.Dedup.minhashLshPairs(s, withPlantedCopies(s, dir),
          minJaccard = 0.7)
        .filter(col("id_b") === col("id_a") + lit(1099511627776L))
        .orderBy("id_a", "id_b")
    }, oracle =
      """SELECT doc_id AS id_a, doc_id + 1099511627776 AS id_b,
        |CAST(1.0 AS DOUBLE) AS jaccard
        |FROM documents ORDER BY id_a, id_b""".stripMargin),

    // Dedup: SimHash near-dup pairs (blocked by rotated 16-bit keys),
    // oracled on the same planted exact-copy invariant: identical text
    // -> identical simhash -> every rotated block key shared -> the
    // planted pair always survives blocking and verifies at hamming 0.
    QueryDef("dedup_simhash", (s, dir) => {
      graft.ops.Dedup.simhashPairs(s, withPlantedCopies(s, dir),
          maxHamming = 3)
        .filter(col("id_b") === col("id_a") + lit(1099511627776L))
        .orderBy("id_a", "id_b")
    }, oracle =
      """SELECT doc_id AS id_a, doc_id + 1099511627776 AS id_b,
        |CAST(0 AS INTEGER) AS hamming
        |FROM documents ORDER BY id_a, id_b""".stripMargin),

    // Dedup: word-TRIGRAM Jaccard on consecutive-doc pairs (the n-gram
    // variant of the verify metric; oracle-checked against DuckDB's
    // list functions).
    QueryDef("dedup_ngram_jaccard", (s, dir) => {
      consecutivePairs(s, dir)
        .select(col("id_a"), col("id_b"),
          round(graft.ops.Dedup.ngramJaccard(col("text_a"), col("text_b"), 3), 6)
            .as("jaccard3"))
        .orderBy("id_a")
    }, oracle =
      """WITH g AS (
        |  SELECT doc_id, text,
        |    CASE WHEN LEN(STRING_SPLIT(text, ' ')) < 3 THEN [text]
        |    ELSE LIST_DISTINCT(list_transform(
        |      generate_series(1, LEN(STRING_SPLIT(text, ' ')) - 2),
        |      i -> array_to_string((STRING_SPLIT(text, ' '))[i:i+2], ' ')))
        |    END AS grams
        |  FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  ROUND(CAST(LEN(LIST_INTERSECT(a.grams, b.grams)) AS DOUBLE)
        |    / LEN(LIST_DISTINCT(LIST_CONCAT(a.grams, b.grams))), 6) AS jaccard3
        |FROM g a JOIN g b ON b.doc_id = a.doc_id + 1
        |ORDER BY id_a""".stripMargin),

    // Dedup: embedding-cosine near-dup pairs via SRP-LSH buckets.
    // Planted exact copies (shifted ids) make the check oracled, not
    // vacuous: identical vectors always share an SRP bucket and sort
    // adjacent on the content hash even in chain-paired hot buckets, so
    // the output is EXACTLY the planted pairs at cosine 1.0 (random
    // 64-dim vectors never reach 0.75 — a ~6-sigma event), which DuckDB
    // reproduces without replicating the LSH.
    QueryDef("dedup_embed_cosine", (s, dir) => {
      graft.ops.Dedup.embeddingCosinePairs(s, withPlantedTwins(s, dir),
          minCosine = 0.75)
        .select(col("id_a"), col("id_b"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("id_a", "id_b")
    }, oracle =
      """SELECT vec_id AS id_a, vec_id + 1099511627776 AS id_b,
        |CAST(1.0 AS DOUBLE) AS cosine
        |FROM embeddings ORDER BY id_a, id_b""".stripMargin),

    // SemDeDup semantic dedup, oracled via planted exact twins (cosine
    // 1.0 ≥ tau; exact twins always share an IVF cell). tau=0.75 sits
    // far above the corpus's max natural pairwise cosine (0.51 at
    // sf0.01, 0.60 at sf0.1, measured), so the keeper map is
    // closed-form: every base id keeps itself, every planted id maps
    // to its base.
    QueryDef("dedup_semantic", (s, dir) => {
      // (perf) lloydIters=Some(1): the keeper map is closed-form for
      // ANY cell assignment — exact twins share a cell under every
      // quantizer and tau sits above the corpus's max natural pairwise
      // cosine, so no non-twin pair can connect whatever the cells are;
      // the Lloyd fit removes the spark.ml KMeans fixed overhead.
      graft.ops.Similarity.semanticDedup(s, withPlantedTwins(s, dir),
          tau = 0.75, lloydIters = Some(1))
        .orderBy("id")
    }, oracle =
      """SELECT vec_id AS id, vec_id AS keeper FROM embeddings
        |UNION ALL
        |SELECT vec_id + 1099511627776 AS id, vec_id AS keeper
        |FROM embeddings ORDER BY id""".stripMargin)
  )
}
