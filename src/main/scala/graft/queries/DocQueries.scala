package graft.queries

import org.apache.spark.sql.functions._
import QueryDef.t

/** The doc family: corpus-curation operators over `documents`, and
  * the WARC source round trip.
  */
object DocQueries {

  /** Shared by doc_contamination and doc_bloom_contamination — the
    * bloom path is an exact-result optimization, so both queries are
    * checked against the identical DuckDB replica.
    */
  private val contaminationOracle: String =
    """WITH g AS (
      |  SELECT doc_id,
      |    CASE WHEN LEN(STRING_SPLIT(text, ' ')) < 3 THEN [text]
      |    ELSE LIST_DISTINCT(list_transform(
      |      generate_series(1, LEN(STRING_SPLIT(text, ' ')) - 2),
      |      i -> array_to_string((STRING_SPLIT(text, ' '))[i:i+2], ' ')))
      |    END AS grams
      |  FROM documents),
      |b AS (SELECT DISTINCT UNNEST(grams) AS gram FROM g
      |      WHERE doc_id % 50 = 0),
      |bl AS (SELECT LIST(gram) AS bset FROM b)
      |SELECT g.doc_id,
      |  CAST(COALESCE(LEN(LIST_INTERSECT(g.grams, bl.bset)), 0) AS BIGINT)
      |    AS n_shared_grams
      |FROM g CROSS JOIN bl ORDER BY doc_id""".stripMargin

  val all: Seq[QueryDef] = Seq(
    // A2 vocabulary extraction: distinct token + count over documents
    // (the reference's gazetteer count-build, SURVEY §2.4 A1/A2).
    QueryDef("doc_vocab", (s, dir) => {
      t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("tkn"))
        .filter(length(col("tkn")) > 0)
        .groupBy("tkn").agg(count(lit(1)).as("n"))
        .orderBy("tkn")
    }, oracle =
      """SELECT tkn, COUNT(*) AS n FROM (
        |SELECT UNNEST(STRING_SPLIT(text, ' ')) AS tkn FROM documents)
        |WHERE LENGTH(tkn) > 0 GROUP BY tkn ORDER BY tkn""".stripMargin),

    // Corpus unigram-LM quality score (the standard LM quality filter
    // of web-scale pipelines): topK=20 is deliberately smaller than the
    // documents vocabulary, so BOTH the in-vocab and OOV-floor paths
    // are exercised and oracled. round(3) absorbs summation-order and
    // libm-log ulp differences between Spark and DuckDB: the engines
    // can round apart only AT a grid boundary, and the coarse grid has
    // 1000x fewer boundaries than round(6) while staying a meaningful
    // quality score.
    QueryDef("doc_unigram_lm", (s, dir) => {
      graft.ops.TextAnalysis.unigramLogProb(t(s, dir, "documents"), topK = 20)
        .select(col("doc_id"), col("n_tokens"),
          round(col("avg_logp"), 3).as("avg_logp"))
        .orderBy("doc_id")
    }, oracle =
      """WITH w AS (
        |  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS word
        |  FROM documents),
        |w2 AS (SELECT * FROM w WHERE LENGTH(word) > 0),
        |c AS (SELECT word, COUNT(*) AS cnt FROM w2 GROUP BY word),
        |t AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS total FROM c),
        |v AS (SELECT word, cnt FROM c ORDER BY cnt DESC, word ASC LIMIT 20),
        |agg AS (
        |  SELECT w2.doc_id, COUNT(*) AS n_tokens,
        |    ROUND(AVG(LN(COALESCE(CAST(v.cnt AS DOUBLE), 0.5) / t.total)), 3)
        |      AS avg_logp
        |  FROM w2 LEFT JOIN v USING (word) CROSS JOIN t
        |  GROUP BY w2.doc_id)
        |SELECT d.doc_id, CAST(COALESCE(agg.n_tokens, 0) AS BIGINT) AS n_tokens,
        |  agg.avg_logp
        |FROM (SELECT DISTINCT doc_id FROM documents) d
        |LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin),

    // Text analysis: token count + simple quality signals per doc.
    QueryDef("doc_quality", (s, dir) => {
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"),
          length(col("text")).cast("long").as("len"),
          (length(col("text")) -
           length(regexp_replace(col("text"), "[aeiou]", "")))
            .cast("long").as("n_vowels"))
        .orderBy("doc_id")
    }, oracle =
      """SELECT doc_id, lang,
        |CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
        |CAST(LENGTH(text) AS BIGINT) AS len,
        |CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[aeiou]', '', 'g')) AS BIGINT) AS n_vowels
        |FROM documents ORDER BY doc_id""".stripMargin),

    // A9-style exact dedup over documents: md5 content key, min doc id
    // survives (hash-groupBy; at scale this is one shuffle on the digest).
    QueryDef("doc_dedup_exact", (s, dir) => {
      t(s, dir, "documents")
        .groupBy(md5(col("text")).as("content_key"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("copies"))
        .orderBy("content_key")
    }, oracle =
      """SELECT MD5(text) AS content_key, MIN(doc_id) AS keeper,
        |COUNT(*) AS copies FROM documents
        |GROUP BY MD5(text) ORDER BY content_key""".stripMargin),

    // Dedup CLUSTERING oracled end-to-end (pairs -> spark.Cc connected
    // components -> min-id keeper election): every document is planted
    // with TWO exact copies (offsets 2^40 and 2^41) and the candidate
    // pairs are filtered to the CHAIN (a, a+2^40) — which for the
    // second copy means (id+2^40, id+2^41), so each cluster reaches CC
    // as a 3-node PATH and only transitive closure can merge it. The
    // keeper assignment (id, id) / (id+2^40, id) / (id+2^41, id) is
    // closed-form. Offset filtering exists because natural near-dup
    // band survival isn't SQL-expressible (same reason as
    // dedup_minhash_lsh). Corpus assumption the closed form relies on
    // (true of the generated tables, asserted by doc_fingerprint's
    // distinct-text invariant): source texts are UNIQUE — a text with
    // >= maxBucket/3 byte-identical source copies would push its
    // tripled run past the run-pairing bound, and chain pairing alone
    // would drop some (id, id+2^40) pairs. The operator itself is
    // generic.
    QueryDef("doc_dedup_clusters", (s, dir) => {
      val d = t(s, dir, "documents").select("doc_id", "text")
      val p1 = d.select((col("doc_id") + lit(1099511627776L)).as("doc_id"),
        col("text"))
      val p2 = d.select((col("doc_id") + lit(2199023255552L)).as("doc_id"),
        col("text"))
      val pairs = graft.ops.Dedup.minhashLshPairs(s,
          d.unionByName(p1).unionByName(p2), minJaccard = 0.7)
        .filter(col("id_b") === col("id_a") + lit(1099511627776L))
      graft.ops.Dedup.connectedKeepers(s, pairs)
        .orderBy("doc_id")
    }, oracle =
      """SELECT doc_id, keeper FROM (
        |  SELECT doc_id, doc_id AS keeper FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1099511627776 AS doc_id, doc_id AS keeper
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2199023255552 AS doc_id, doc_id AS keeper
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin),

    // PII scrubbing oracled end-to-end: planted email/URL tokens at
    // fixed positions -> the parity-pinned isEmail/isUrl kernels
    // (kg_predicates proves them == the DuckDB formula replicas)
    // redact them to placeholder tags; the rebuilt text and redaction
    // counts are position-derivable. Corpus assumption as documented
    // at kg_relations_counts: unplanted tokens are lowercase
    // punctuation-free words, so only the plants fire.
    QueryDef("doc_pii_redact", (s, dir) => {
      // plant one of each PII class at fixed token positions (natural
      // corpus text is digit-free words, so nothing else can match any
      // predicate — the oracle knows the redactions by position)
      val varied = t(s, dir, "documents").select(col("doc_id"),
        expr("""array_join(transform(split(text, ' '), (t, i) ->
          CASE WHEN i % 17 = 4 THEN 'x@y.zz'
               WHEN i % 17 = 9 THEN 'http://ex.aa/p'
               WHEN i % 17 = 12 THEN '+1-555-0107'
               WHEN i % 17 = 14 THEN '10.20.30.41'
               ELSE t END), ' ')""").as("text"))
      graft.ops.TextAnalysis.redactPii(s, varied)
        .orderBy("doc_id")
    }, oracle =
      """WITH toks AS (
        |  SELECT doc_id,
        |    UNNEST(STRING_SPLIT(text, ' ')) AS t,
        |    UNNEST(generate_series(1, LEN(STRING_SPLIT(text, ' ')))) AS i
        |  FROM documents),
        |v AS (
        |  SELECT doc_id, i,
        |    CASE WHEN (i-1) % 17 = 4 THEN '<EMAIL>'
        |         WHEN (i-1) % 17 = 9 THEN '<URL>'
        |         WHEN (i-1) % 17 = 12 THEN '<PHONE>'
        |         WHEN (i-1) % 17 = 14 THEN '<IP>'
        |         ELSE t END AS t2,
        |    CASE WHEN (i-1) % 17 = 4 THEN 1 ELSE 0 END AS e,
        |    CASE WHEN (i-1) % 17 = 9 THEN 1 ELSE 0 END AS u,
        |    CASE WHEN (i-1) % 17 = 12 THEN 1 ELSE 0 END AS p,
        |    CASE WHEN (i-1) % 17 = 14 THEN 1 ELSE 0 END AS ip
        |  FROM toks)
        |SELECT doc_id,
        |  string_agg(t2, ' ' ORDER BY i) AS text_redacted,
        |  CAST(SUM(e) AS BIGINT) AS n_emails,
        |  CAST(SUM(u) AS BIGINT) AS n_urls,
        |  CAST(SUM(ip) AS BIGINT) AS n_ips,
        |  CAST(SUM(p) AS BIGINT) AS n_phones
        |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Gopher-style repetition signals oracled DIRECTLY on the natural
    // corpus (no planting needed — dup-word and top-bigram fractions
    // are pure per-doc statistics DuckDB re-derives with list
    // functions; both engines run the same exact-integer ratios
    // through the same IEEE double ops).
    QueryDef("doc_repetition", (s, dir) => {
      graft.ops.TextAnalysis.repetition(s, t(s, dir, "documents"))
        .orderBy("doc_id")
    }, oracle =
      """WITH d AS (
        |  SELECT doc_id,
        |    LIST_FILTER(STRING_SPLIT(text, ' '), x -> LENGTH(x) > 0) AS w
        |  FROM documents),
        |base AS (
        |  SELECT doc_id, w, LEN(w) AS n,
        |    CASE WHEN LEN(w) = 0 THEN 0.0
        |         ELSE 1.0 - CAST(LEN(LIST_DISTINCT(w)) AS DOUBLE) / LEN(w)
        |    END AS dup_word_frac
        |  FROM d),
        |g AS (
        |  SELECT doc_id, UNNEST(list_transform(generate_series(1, n - 1),
        |    i -> w[i] || ' ' || w[i+1])) AS gram
        |  FROM base WHERE n >= 2),
        |m AS (
        |  SELECT doc_id, MAX(c) AS best FROM (
        |    SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY doc_id, gram)
        |  GROUP BY doc_id)
        |SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_words, b.dup_word_frac,
        |  COALESCE(CAST(m.best AS DOUBLE) / (b.n - 1), 0.0) AS top_bigram_frac
        |FROM base b LEFT JOIN m USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    // Benchmark decontamination oracled DIRECTLY on the natural corpus:
    // benchmark = every 50th document, per-doc shared-trigram counts
    // re-derived in DuckDB with the same distinct-gram formulation as
    // the dedup_ngram_jaccard oracle. No planting — the overlap
    // statistic is whatever the corpus naturally contains (benchmark
    // docs at minimum hit their own grams).
    QueryDef("doc_contamination", (s, dir) => {
      val d = t(s, dir, "documents")
      graft.ops.TextAnalysis.contamination(s, d,
          d.filter(col("doc_id") % 50 === 0), n = 3)
        .orderBy("doc_id")
    }, oracle = contaminationOracle),

    // Deterministic train/val/test assignment oracled exactly: the
    // md5-hex-threshold split is the same pure expression in both
    // engines (Spark and DuckDB md5 hex agree byte-for-byte — the
    // doc_dedup_exact oracle already rests on that).
    QueryDef("doc_split_assign", (s, dir) => {
      graft.ops.TextAnalysis.assignSplit(
          t(s, dir, "documents").select("doc_id"))
        .orderBy("doc_id")
    }, oracle =
      """SELECT doc_id,
        |  CASE WHEN md5('split:' || CAST(doc_id AS VARCHAR)) < 'f0'
        |       THEN 'train'
        |       WHEN md5('split:' || CAST(doc_id AS VARCHAR)) < 'f8'
        |       THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Quality scoring through the TextAnalysis.quality operator
    // (stopword ratio + mean token span on top of the length stats).
    QueryDef("doc_quality_ext", (s, dir) => {
      graft.ops.TextAnalysis.quality(t(s, dir, "documents"))
        .orderBy("doc_id")
    }, oracle =
      """SELECT doc_id,
        |  CAST(LENGTH(text) AS BIGINT) AS len,
        |  CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(LENGTH(text) AS DOUBLE) / LEN(STRING_SPLIT(text, ' '))
        |    AS mean_token_span,
        |  CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
        |      t -> t IN ('the', 'a'))) AS DOUBLE)
        |    / LEN(STRING_SPLIT(text, ' ')) AS stopword_ratio
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Fingerprinting via the native codegen Fnv1a64 expression; the
    // oracle checks the collision-free invariant without replicating
    // the hash: distinct fingerprints == distinct texts.
    QueryDef("doc_fingerprint", (s, dir) => {
      val d = t(s, dir, "documents")
      // Distinct-text is counted over a 128-bit md5 digest rather than
      // the raw text, so the multi-distinct Expand shuffles 16 bytes
      // per row instead of whole documents (md5 collisions are not a
      // practical concern below ~2^60 docs; equal texts always digest
      // equally, so the count can only be exact).
      d.select(graft.ops.TextAnalysis.fingerprint(s, col("text")).as("fp"),
          unhex(md5(col("text"))).as("text_digest"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("fp")).as("n_distinct_fp"),
          countDistinct(col("text_digest")).as("n_distinct_text"))
    }, oracle =
      """SELECT COUNT(*) AS n_docs,
        |COUNT(DISTINCT text) AS n_distinct_fp,
        |COUNT(DISTINCT text) AS n_distinct_text
        |FROM documents""".stripMargin),

    // Language-ID heuristic (marker-word argmax), oracle-checked.
    QueryDef("doc_langid", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.ops.TextAnalysis.langGuess(col("text")).as("lang_guess"))
        .orderBy("doc_id")
    }, oracle =
      """SELECT doc_id,
        |CASE
        |  WHEN es > en AND es >= de AND es >= fr AND es >= zh THEN 'es'
        |  WHEN de > en AND de > es AND de >= fr AND de >= zh THEN 'de'
        |  WHEN fr > en AND fr > es AND fr > de AND fr >= zh THEN 'fr'
        |  WHEN zh > en AND zh > es AND zh > de AND zh > fr THEN 'zh'
        |  ELSE 'en'
        |END AS lang_guess
        |FROM (SELECT doc_id,
        |  LEN(LIST_FILTER(STRING_SPLIT(text,' '), t -> t IN ('the','a'))) AS en,
        |  LEN(LIST_FILTER(STRING_SPLIT(text,' '), t -> t IN ('data','row'))) AS es,
        |  LEN(LIST_FILTER(STRING_SPLIT(text,' '), t -> t IN ('fast','slow'))) AS de,
        |  LEN(LIST_FILTER(STRING_SPLIT(text,' '), t -> t IN ('table','value'))) AS fr,
        |  LEN(LIST_FILTER(STRING_SPLIT(text,' '), t -> t IN ('spark','hash'))) AS zh
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin),

    // BPE-ish regex token count, oracle-checked.
    QueryDef("doc_bpe_tokens", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.ops.TextAnalysis.bpeTokenCount(col("text")).as("n_bpe"))
        .orderBy("doc_id")
    }, oracle =
      """SELECT doc_id,
        |CAST(LEN(REGEXP_EXTRACT_ALL(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Dataset-card stats (ops.CorpusStats): one summary row with EXACT
    // distributed quantiles — rank fetch over a range partition via the
    // same prefix-sum shape as packing, linear interpolation at
    // r = p*(n-1), the definition DuckDB's quantile_cont shares (which
    // is what lets the oracle cross-check a quantile at all;
    // approx_percentile's t-digest could never hash-match).
    QueryDef("doc_corpus_stats", (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        size(filter(split(col("text"), " "), w => length(w) > 0))
          .cast("long").as("n_tokens"))
      graft.ops.CorpusStats.tokenCard(s, d)
        .select("n_docs", "total_tokens", "min_tokens", "max_tokens",
          "p50_tokens", "p90_tokens")
    }, oracle =
      """WITH d AS (
        |  SELECT CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
        |    x -> LENGTH(x) > 0)) AS BIGINT) AS n
        |  FROM documents)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n) AS BIGINT) AS total_tokens,
        |  CAST(MIN(n) AS BIGINT) AS min_tokens,
        |  CAST(MAX(n) AS BIGINT) AS max_tokens,
        |  CAST(quantile_cont(n, 0.5) AS DOUBLE) AS p50_tokens,
        |  CAST(quantile_cont(n, 0.9) AS DOUBLE) AS p90_tokens
        |FROM d""".stripMargin),

    // Sequence packing (concat-and-chunk, ops.Packing): docs in doc_id
    // order form one token stream cut into 512-token training
    // sequences, docs splitting across boundaries. Token count = word
    // count (closed-form both sides); the distributed prefix sum must
    // equal DuckDB's sequential window cumsum exactly, row for row.
    QueryDef("doc_pack_chunks", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        size(filter(split(col("text"), " "), w => length(w) > 0))
          .as("n_tokens"))
      graft.ops.Packing.chunkAssignments(s, docs, seqLen = 512)
        .orderBy("doc_id", "seq_id")
    }, oracle =
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> LENGTH(x) > 0))
        |      AS BIGINT) AS n
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n,
        |    COALESCE(SUM(n) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM d),
        |x AS (
        |  SELECT doc_id, n, off,
        |    UNNEST(generate_series(CAST(off // 512 AS BIGINT),
        |      CAST((off + n - 1) // 512 AS BIGINT))) AS seq_id
        |  FROM c WHERE n > 0)
        |SELECT doc_id, seq_id,
        |  CAST(GREATEST(off, seq_id * 512) - off AS BIGINT) AS tok_from,
        |  CAST(LEAST(off + n, (seq_id + 1) * 512) - off AS BIGINT) AS tok_to
        |FROM x ORDER BY doc_id, seq_id""".stripMargin),

    // C4-style line-level corpus dedup: every doc gets a unique intro
    // line and a unique body line (kept), plus one boilerplate line
    // planted in ALL docs and one in every even doc (both over the
    // minDocs=3 doc-frequency threshold -> removed) — so the cleaned
    // text and the removal counts are closed-form.
    QueryDef("doc_line_dedup", (s, dir) => {
      val varied = t(s, dir, "documents").select(col("doc_id"),
        concat(
          lit("intro "), col("doc_id"), lit("\n"),
          col("doc_id"), lit(":"), col("text"),
          lit("\nsubscribe to our newsletter"),
          when(col("doc_id") % 2 === 0, lit("\nfollow us on social media"))
            .otherwise(lit(""))).as("text"))
      graft.ops.Dedup.removeBoilerplateLines(s, varied, minDocs = 3)
        .orderBy("doc_id")
    }, oracle =
      """SELECT doc_id,
        |  'intro ' || doc_id || chr(10) || doc_id || ':' || text AS text_clean,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS BIGINT) AS n_removed
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Cross-document exact-substring dedup (Lee et al. 2022 semantics,
    // ops.SubstringDedup): maximal token spans of length >= k=13
    // appearing verbatim in >= 2 distinct docs, merged per doc over
    // overlap/adjacency. The synthetic corpus genuinely shares long
    // token runs across docs (small vocab), so the report is
    // non-trivial; the oracle recomputes it gram-by-gram in SQL.
    QueryDef("doc_substring_dedup", (s, dir) => {
      graft.ops.SubstringDedup.duplicatedSpans(s, t(s, dir, "documents"), k = 13)
        .orderBy("doc_id")
    }, oracle =
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |pos AS (
        |  SELECT doc_id, toks, unnest(range(1, len(toks) - 13 + 2)) AS s
        |  FROM d WHERE len(toks) >= 13),
        |grams AS (
        |  SELECT doc_id, s, array_to_string(toks[s : s + 12], ' ') AS gram
        |  FROM pos),
        |dup AS (
        |  SELECT gram FROM grams GROUP BY gram
        |  HAVING count(DISTINCT doc_id) >= 2),
        |hits AS (
        |  SELECT g.doc_id, g.s, g.s + 12 AS e
        |  FROM grams g JOIN dup USING (gram)),
        |isl AS (
        |  SELECT doc_id, s, e,
        |    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id
        |      ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      -1) + 1 THEN 1 ELSE 0 END AS ni
        |  FROM hits),
        |grp AS (
        |  SELECT doc_id, s, e,
        |    sum(ni) OVER (PARTITION BY doc_id ORDER BY s
        |      ROWS UNBOUNDED PRECEDING) AS grp_id
        |  FROM isl),
        |spans AS (
        |  SELECT doc_id, grp_id, min(s) AS ss, max(e) AS ee
        |  FROM grp GROUP BY doc_id, grp_id),
        |agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_spans,
        |    CAST(sum(ee - ss + 1) AS BIGINT) AS dup_tokens
        |  FROM spans GROUP BY doc_id)
        |SELECT d0.doc_id,
        |  CAST(coalesce(a.dup_spans, 0) AS BIGINT) AS dup_spans,
        |  CAST(coalesce(a.dup_tokens, 0) AS BIGINT) AS dup_tokens
        |FROM documents d0 LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    // URL canonicalization (ops.Urls — pure codegen column kernel, the
    // crawl-side dedup key): five planted variant shapes per doc_id
    // (case/port/userinfo/tracking-params/fragment noise, plus a
    // schemeless malformed row) whose canonical forms are closed-form
    // strings — the oracle needs no URL library, it writes the
    // expected output directly, like the multimodal oracles.
    QueryDef("doc_url_canonical", (s, dir) => {
      val urls = t(s, dir, "documents").select(col("doc_id"),
        expr("""CASE CAST(doc_id % 5 AS INT)
          WHEN 0 THEN concat('HTTPS://WWW.Example', doc_id % 7,
            '.COM:443/a/', doc_id, '?utm_source=x&b=2&a=1#frag')
          WHEN 1 THEN concat('http://user:pw@ex', doc_id % 7,
            '.org:8080/p/', doc_id, '/?z=9&fbclid=abc')
          WHEN 2 THEN concat('http://EX', doc_id % 7, '.com:80')
          WHEN 3 THEN concat('https://ex', doc_id % 7,
            '.net/path?gclid=1&utm_medium=m')
          ELSE concat('not a url ', doc_id) END""").as("url"))
      // the NATIVE one-pass expression runs here, so the oracle covers
      // the hot-path kernel; UrlsSpec separately pins it byte-equal to
      // the column-composition reference
      urls.select(col("doc_id"),
        graft.ops.Urls.canonicalizeNative(s, col("url")).as("url_canonical"),
        graft.ops.Urls.host(col("url")).as("host"),
        graft.ops.Urls.scheme(col("url")).as("scheme"))
        .orderBy("doc_id")
    }, oracle =
      """WITH d AS (
        |  SELECT doc_id, CAST(doc_id % 5 AS INT) AS v,
        |    CAST(doc_id % 7 AS VARCHAR) AS k FROM documents)
        |SELECT doc_id,
        |  CASE v
        |    WHEN 0 THEN 'https://www.example' || k || '.com/a/' || doc_id || '?a=1&b=2'
        |    WHEN 1 THEN 'http://ex' || k || '.org:8080/p/' || doc_id || '/?z=9'
        |    WHEN 2 THEN 'http://ex' || k || '.com/'
        |    WHEN 3 THEN 'https://ex' || k || '.net/path'
        |    ELSE NULL END AS url_canonical,
        |  CASE v
        |    WHEN 0 THEN 'www.example' || k || '.com'
        |    WHEN 1 THEN 'ex' || k || '.org'
        |    WHEN 2 THEN 'ex' || k || '.com'
        |    WHEN 3 THEN 'ex' || k || '.net'
        |    ELSE '' END AS host,
        |  CASE v WHEN 0 THEN 'https' WHEN 1 THEN 'http'
        |    WHEN 2 THEN 'http' WHEN 3 THEN 'https' ELSE '' END AS scheme
        |FROM d ORDER BY doc_id""".stripMargin),

    // REAL learned-merge BPE (train + apply, ops.Bpe) oracled at its
    // training FIXED POINT: the corpus vocabulary is finite (31
    // words), so 200 merges collapse every training word to ONE token
    // — n_tokens = per-doc word count — while a planted all-OOV word
    // ("zxzx": 'z'/'x' never occur in the corpus, so no learned merge
    // can touch any of its pairs) falls back to characters and adds
    // exactly 4. Training determinism + mid-training merge order +
    // greedy lowest-rank apply are pinned exactly by the hand-computed
    // Sennrich-example golden in BpeSpec; this query oracles the
    // distributed train->broadcast->apply pipeline end-to-end.
    QueryDef("doc_bpe_real", (s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = graft.ops.Bpe.trainMerges(s, docs, numMerges = 200)
      val withOov = docs.select(col("doc_id"),
        concat(col("text"), lit(" zxzx")).as("text"))
      graft.ops.Bpe.tokenCounts(s, withOov, merges).orderBy("doc_id")
    }, oracle =
      // fixed-point BPE: every in-vocab word -> 1 token, the planted
      // 4-char OOV word -> 4 character tokens
      """SELECT doc_id,
        |CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> LENGTH(x) > 0)) + 4
        |  AS BIGINT) AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin),

    // S1 WARC source oracled end-to-end: documents -> WARC response
    // records (HTTP head + Content-Length framing) -> Warc record
    // parser -> pages -> the full DOM extraction kernel; per-doc token
    // count and rebuilt text must equal DuckDB's whitespace split.
    QueryDef("warc_roundtrip", (s, dir) => {
      import s.implicits._
      val pages = graft.spark.Scans.spread(t(s, dir, "documents")
        .select(col("doc_id"), col("text")), col("doc_id"))
        .as[(Long, String)]
        .mapPartitions(_.flatMap { case (id, text) =>
          val html = "<html><body><div class=\"doc\"><p>" + text +
            "</p></div></body></html>"
          val payload = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
            html).getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val rec = ("WARC/1.0\r\nWARC-Type: response\r\n" +
            "WARC-Target-URI: doc://warc/" + id + "\r\n" +
            "WARC-Date: 2024-01-01T00:00:00Z\r\n" +
            "Content-Length: " + payload.length + "\r\n\r\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8) ++
            payload ++ "\r\n\r\n".getBytes(java.nio.charset.StandardCharsets.UTF_8)
          graft.io.Warc.records(new java.io.ByteArrayInputStream(rec),
              gzipped = false)
            .filter(_.warcType == "response")
            .map { r =>
              graft.spark.Page(r.targetUri.get, graft.io.Warc.parseDate(r.date),
                graft.io.Warc.httpBody(r.payload), "", "en")
            }
        })
      val sents = graft.spark.ExtractStage.sentences(s, pages)
      sents.filter(sr => sr.feats.nonEmpty && sr.feats.head(11) == "div.body")
        .map(sr => (
          sr.url.substring(sr.url.lastIndexOf('/') + 1).toLong,
          sr.tkns.length.toLong,
          sr.tkns.mkString(" ")))
        .toDF("doc_id", "n_tokens", "text_rebuilt")
        .orderBy("doc_id")
    }, oracle =
      """SELECT doc_id,
        |CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
        |text AS text_rebuilt
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Bloom-prefiltered decontamination: identical result to
    // doc_contamination (no false negatives; FPs removed by the exact
    // confirm join) — shares its oracle SQL verbatim. The Bloom
    // broadcast is the 100 TB path: corpus grams are filtered BEFORE
    // any join or shuffle.
    QueryDef("doc_bloom_contamination", (s, dir) => {
      val d = t(s, dir, "documents")
      graft.ops.TextAnalysis.bloomContamination(s, d,
          d.filter(col("doc_id") % 50 === 0), n = 3)
        .orderBy("doc_id")
    }, oracle =
      // bloom prefilter + exact confirm ≡ exact contamination (no false
      // negatives; FPs confirmed away) — same oracle by construction
      contaminationOracle),

    // BM25 relevance of every doc against a fixed query-term set
    QueryDef("doc_bm25", (s, dir) => {
      graft.ops.Ranking.bm25(s, t(s, dir, "documents"),
          terms = Seq("spark", "query", "fast"))
        .orderBy("doc_id")
    }, oracle =
      """WITH toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents),
        |dl AS (SELECT doc_id, CAST(LEN(w) AS BIGINT) AS dl FROM toks),
        |const AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |                 CAST(SUM(dl) AS DOUBLE)/COUNT(*) AS avgdl FROM dl),
        |tf AS (SELECT doc_id, t AS term, CAST(COUNT(*) AS BIGINT) AS tf
        |       FROM (SELECT doc_id, UNNEST(w) AS t FROM toks) u
        |       WHERE u.t IN ('spark', 'query', 'fast')
        |       GROUP BY doc_id, t),
        |df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |idf AS (SELECT term,
        |          LN((const.n - df + CAST(0.5 AS DOUBLE)) /
        |             (df + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE)) AS idf
        |        FROM df CROSS JOIN const),
        |c AS (SELECT tf.doc_id,
        |  CAST(ROUND(idf.idf *
        |    (tf.tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))) /
        |    (tf.tf + CAST(1.2 AS DOUBLE) *
        |      ((CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)) +
        |        CAST(0.75 AS DOUBLE) * dl.dl / const.avgdl)), 9)
        |    AS DECIMAL(38,15)) AS c
        |  FROM tf JOIN idf USING (term) JOIN dl USING (doc_id)
        |  CROSS JOIN const)
        |SELECT doc_id, ROUND(CAST(SUM(c) AS DOUBLE), 6) AS bm25
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // per-domain rollup via explicit two-stage salted aggregation;
    // oracle is the plain single GROUP BY (algebraic measures ⇒ exact)
    QueryDef("doc_domain_stats", (s, dir) => {
      graft.ops.TextAnalysis.domainStats(t(s, dir, "documents"))
        .orderBy("domain")
    }, oracle =
      """SELECT source AS domain, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(LENGTH(text)) AS BIGINT) AS n_chars,
        |  CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS n_tokens,
        |  CAST(MIN(LENGTH(text)) AS BIGINT) AS min_len,
        |  CAST(MAX(LENGTH(text)) AS BIGINT) AS max_len
        |FROM documents GROUP BY source ORDER BY domain""".stripMargin),

    // deterministic per-language stratified sample (md5-hex thresholds,
    // granularity 1/256): en 50%, de 25%, zh 12.5%, others 6.25%
    QueryDef("doc_sample_stratified", (s, dir) => {
      graft.ops.TextAnalysis.stratifiedSample(
          t(s, dir, "documents"), strataCol = "lang",
          rates = Seq("en" -> "80", "de" -> "40", "zh" -> "20"),
          defaultThreshold = "10")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }, oracle =
      """SELECT doc_id, lang, source FROM documents
        |WHERE md5('strat:' || CAST(doc_id AS VARCHAR)) <
        |  CASE WHEN lang = 'en' THEN '80'
        |       WHEN lang = 'de' THEN '40'
        |       WHEN lang = 'zh' THEN '20'
        |       ELSE '10' END
        |ORDER BY doc_id""".stripMargin)
  )
}
