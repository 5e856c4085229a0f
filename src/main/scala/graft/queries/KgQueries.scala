package graft.queries

import org.apache.spark.sql.functions._
import QueryDef.{plantedPages, t}

/** The kg family: the extraction kernel and the KG build stages, each
  * oracled over documents with tokens planted at fixed positions.
  */
object KgQueries {

  /** The reference's honorific literals (util/html_segmenter.py:59-70,
    * escaped dots resolved) as a DuckDB case-insensitive-prefix OR.
    */
  private def titleOrSql(c: String): String = Seq(
    "m.sc.", "sc.nat.", "rer.nat.", "md.", "b.sc.", "bs.sc.", "ph.d.",
    "ed.d.", "m.s.", "hon.", "a.d.", "em.", "apl.", "prof.", "prof.dr.",
    "conf.dr.", "asist.dr.", "dr.", "mr.", "mrs.", "lect.dr.", "dr",
    "professor", "mr", "mrs", "ing.")
    .map(l => s"starts_with(lower($c), '$l')").mkString(" OR ")

  /** is_email's prefix-match semantics on a whitespace-free string
    * (util/html_segmenter.py:38-40 via Extractor.isEmail): first '@' at
    * 0-based index >= 1, then a '.' at index >= at+2 and <= len-2.
    */
  private def emailSql(c: String): String =
    s"""(strpos(substr($c, 2), '@') >= 1
       | AND strpos(substr($c, strpos(substr($c, 2), '@') + 3), '.') >= 1
       | AND strpos(substr($c, 2), '@')
       |     + strpos(substr($c, strpos(substr($c, 2), '@') + 3), '.')
       |     <= LENGTH($c) - 3)""".stripMargin.replace("\n", " ")

  /** is_url: literal 'http' prefix gate + the reference's prefix regex
    * (util/html_segmenter.py:47-50), anchored for RE2.
    */
  private def urlSql(c: String): String =
    s"""(starts_with($c, 'http') AND regexp_matches($c,
       | '^http[s]?://(?:[a-zA-Z]|[0-9]|[$$-_@.&+]|[!*\\(\\),]|%[0-9a-fA-F][0-9a-fA-F])+'))"""
      .stripMargin.replace("\n", " ")

  /** The title, name and email plants of the two relation queries. */
  private val relationPlants = """
          CASE WHEN i % 37 = 10 THEN 'dr.zz'
               WHEN i % 37 = 11 THEN 'zzjohn'
               WHEN i % 37 = 12 THEN 'zzdoe'
               WHEN i % 37 = 20 THEN 'zz@zz.aa'
               ELSE t END"""

  /** Tags per document at the i % 13 == 7 plants: the closed form every
    * decoder query must reproduce (the Bi-LSTM-CRF, the attention stack
    * firing > 5 there, the masked transformer sending them to +1 on
    * channel 1).
    */
  private val plantedTagsOracle =
    """SELECT doc_id,
      |  CAST(CASE WHEN LEN(STRING_SPLIT(text, ' ')) >= 8
      |       THEN (LEN(STRING_SPLIT(text, ' ')) - 8) // 13 + 1
      |       ELSE 0 END AS BIGINT) AS n_entity_tags
      |FROM documents ORDER BY doc_id""".stripMargin

  val all: Seq[QueryDef] = Seq(
    // Flagship KG path (S1+P1-P12+J3+triples), FULL rows oracled (was
    // rows-only): planted 2-token + 1-token target names at fixed
    // positions -> DOM extraction -> IOB labeling -> goldMentions ->
    // deduplicated triples. Every column of every (subj, pred, obj,
    // url) row is position-derivable in DuckDB; the reference-corpus
    // variant of the same path is `entry` + PipelineSpec's P/R gate.
    // Corpus assumptions as documented at kg_relations_counts.
    QueryDef("kg_triples", (s, dir) => {
      val pages = plantedPages(s, dir, """
          CASE WHEN i % 31 = 5 THEN 'zzjohn'
               WHEN i % 31 = 6 THEN 'zzdoe'
               WHEN i % 31 = 20 THEN 'zzann'
               ELSE t END""")
      val sents = graft.spark.ExtractStage.sentences(s, pages,
        targetNamesFn = Some((_: String) => Seq("zzjohn zzdoe", "zzann")))
      val mentions = graft.kg.Triples.goldMentions(s, sents)
      graft.kg.Triples.fromMentions(s, mentions).toDF()
        .select("subj", "pred", "obj", "url")
        .orderBy("url", "obj")
    }, oracle =
      """WITH d AS (
        |  SELECT doc_id, source, LEN(STRING_SPLIT(text, ' ')) AS n
        |  FROM documents)
        |SELECT 'doc://' || source || '/' || doc_id AS subj,
        |  'mentionsPerson' AS pred, name AS obj,
        |  'doc://' || source || '/' || doc_id AS url
        |FROM (
        |  SELECT doc_id, source, 'zzjohn zzdoe' AS name FROM d WHERE n >= 7
        |  UNION ALL
        |  SELECT doc_id, source, 'zzann' AS name FROM d WHERE n >= 21)
        |ORDER BY url, obj""".stripMargin),

    // Surface-pattern relation extraction (hasTitle/hasEmail), FULL
    // rows oracled (was rows-only): same planting as
    // kg_relations_counts, but the oracle reproduces every (subj, pred,
    // obj, url) row WITH its multiplicity (goldRelations emits one row
    // per pattern occurrence; occurrences of the same planted pattern
    // in one doc yield identical rows).
    QueryDef("kg_relations", (s, dir) => {
      val pages = plantedPages(s, dir, relationPlants)
      val sents = graft.spark.ExtractStage.sentences(s, pages,
        targetNamesFn = Some((_: String) => Seq("zzjohn zzdoe")))
      graft.kg.Relations.goldRelations(s, sents).toDF()
        .select("subj", "pred", "obj", "url")
        .orderBy("url", "pred", "obj")
    }, oracle =
      """WITH d AS (
        |  SELECT doc_id, source, LEN(STRING_SPLIT(text, ' ')) AS n
        |  FROM documents),
        |r AS (
        |  SELECT 'zzjohn zzdoe' AS subj, 'hasTitle' AS pred, 'dr.zz' AS obj,
        |    'doc://' || source || '/' || doc_id AS url,
        |    (n - 13) // 37 + 1 AS c
        |  FROM d WHERE n >= 13
        |  UNION ALL
        |  SELECT 'zzjohn zzdoe' AS subj, 'hasEmail' AS pred, 'zz@zz.aa' AS obj,
        |    'doc://' || source || '/' || doc_id AS url,
        |    (n - 21) // 37 + 1 AS c
        |  FROM d WHERE n >= 21)
        |SELECT subj, pred, obj, url FROM (
        |  SELECT subj, pred, obj, url,
        |    UNNEST(generate_series(1, c)) AS k FROM r)
        |ORDER BY url, pred, obj""".stripMargin),

    // P4-P11 oracled END-TO-END through the real DOM kernel: documents
    // tokens are deterministically varied (initcap / punct / title /
    // email / digit / accent shapes), wrapped in the SynthPages skeleton,
    // run through parse+tokenize+features, and every per-token feature
    // column must equal DuckDB's SQL re-derivation of the reference
    // semantics (util/html_segmenter.py:10-99).
    QueryDef("kg_token_features", (s, dir) => {
      val pages = plantedPages(s, dir, """
          CASE i % 8
          WHEN 0 THEN concat(upper(substring(t, 1, 1)), substring(t, 2))
          WHEN 1 THEN ';'
          WHEN 2 THEN concat('dr.', t)
          WHEN 3 THEN concat(t, '@', t, '.com')
          WHEN 4 THEN concat(t, '9')
          WHEN 5 THEN concat('é', t)
          ELSE t END""")
      val sents = graft.spark.ExtractStage.sentences(s, pages)
      graft.spark.ExtractStage.tokens(s, sents).toDF()
        .filter(col("html_ctx") === "div.body")
        .select(
          expr("CAST(substring_index(url, '/', -1) AS BIGINT)").as("doc_id"),
          col("tok_id").cast("long").as("tok_id"),
          col("tkn"),
          col("unaccented"),
          col("email").cast("int").as("email"),
          col("number").cast("int").as("number"),
          col("title").cast("int").as("title"),
          col("url_f").cast("int").as("url_flag"),
          col("capitalized").cast("int").as("capitalized"),
          col("punct").cast("int").as("punct"),
          col("css_class"))
        .orderBy("doc_id", "tok_id")
    }, oracle =
      s"""WITH toks AS (
        |  SELECT doc_id,
        |    UNNEST(STRING_SPLIT(text, ' ')) AS t,
        |    UNNEST(generate_series(1, LEN(STRING_SPLIT(text, ' ')))) AS i
        |  FROM documents),
        |v AS (
        |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS tok_id,
        |    CASE (i - 1) % 8
        |      WHEN 0 THEN upper(substr(t, 1, 1)) || substr(t, 2)
        |      WHEN 1 THEN ';'
        |      WHEN 2 THEN 'dr.' || t
        |      WHEN 3 THEN t || '@' || t || '.com'
        |      WHEN 4 THEN t || '9'
        |      WHEN 5 THEN 'é' || t
        |      ELSE t END AS tkn
        |  FROM toks)
        |SELECT doc_id, tok_id, tkn,
        |  replace(lower(tkn), 'é', 'e') AS unaccented,
        |  CASE WHEN ${emailSql("tkn")} THEN 1 ELSE 0 END AS email,
        |  CASE WHEN regexp_matches(tkn, '[0-9]') THEN 1 ELSE 0 END AS number,
        |  CASE WHEN ${titleOrSql("tkn")} THEN 1 ELSE 0 END AS title,
        |  CASE WHEN ${urlSql("tkn")} THEN 1 ELSE 0 END AS url_flag,
        |  CASE WHEN regexp_matches(tkn, '^[A-Z]') THEN 1 ELSE 0 END AS capitalized,
        |  CASE WHEN tkn IN (',', ';', ':', '-', '"', '(', ')', '“', '”', '；')
        |       THEN 1 ELSE 0 END AS punct,
        |  'doc' AS css_class
        |FROM v ORDER BY doc_id, tok_id""".stripMargin),

    // P6/P7/P10/P4 predicate quirks at function level (the tokenizer
    // splits ':' so no URL survives it — the url/email/title prefix
    // quirks need direct strings): crafted variants over the distinct
    // vocabulary, kernel predicates vs DuckDB formula replicas.
    QueryDef("kg_predicates", (s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("t")).distinct()
        .select(explode(expr("""array(
          concat('http://', t, '.com/x'),
          concat('https://', t),
          concat('http', t),
          concat('ftp://', t),
          concat(t, '@', t),
          concat(t, '@.a'),
          concat('x@', t, '.co'),
          concat('@', t, '.co'),
          concat('dr', t),
          concat('DR', t),
          concat('d.r', t),
          concat('Mrs.', t),
          concat('profX', t),
          concat('é', t, 'À'))""")).as("s"))
        .as[String]
        .map(x => (x,
          if (graft.extract.Extractor.isEmail(x)) 1 else 0,
          if (graft.extract.Extractor.isUrl(x)) 1 else 0,
          if (graft.extract.Extractor.isTitle(x)) 1 else 0,
          graft.extract.Extractor.removeAccents(x)))
        .toDF("s", "email", "url_flag", "title", "unaccented")
        .orderBy("s")
    }, oracle =
      s"""WITH tk AS (
        |  SELECT DISTINCT UNNEST(STRING_SPLIT(text, ' ')) AS t FROM documents),
        |c AS (SELECT UNNEST([
        |  'http://' || t || '.com/x',
        |  'https://' || t,
        |  'http' || t,
        |  'ftp://' || t,
        |  t || '@' || t,
        |  t || '@.a',
        |  'x@' || t || '.co',
        |  '@' || t || '.co',
        |  'dr' || t,
        |  'DR' || t,
        |  'd.r' || t,
        |  'Mrs.' || t,
        |  'profX' || t,
        |  'é' || t || 'À']) AS s FROM tk)
        |SELECT s,
        |  CASE WHEN ${emailSql("s")} THEN 1 ELSE 0 END AS email,
        |  CASE WHEN ${urlSql("s")} THEN 1 ELSE 0 END AS url_flag,
        |  CASE WHEN ${titleOrSql("s")} THEN 1 ELSE 0 END AS title,
        |  replace(replace(lower(s), 'é', 'e'), 'à', 'a') AS unaccented
        |FROM c ORDER BY s""".stripMargin),

    // W1/W2 oracled: two classed <div> blocks (W1 block segmentation,
    // never structEq) with every 10th token '.'-suffixed and the next
    // initcap'd (W2 50-token re-split points); per-doc sentence count
    // must equal the closed-form DuckDB formula.
    QueryDef("kg_segmentation", (s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents").select(col("doc_id"),
        expr("""transform(split(text, ' '), (t, i) ->
          CASE WHEN i % 10 = 9 THEN concat(t, '.')
               WHEN i % 10 = 0 THEN concat(upper(substring(t, 1, 1)), substring(t, 2))
               ELSE t END)""").as("arr"))
        .select(col("doc_id"),
          expr("array_join(slice(arr, 1, least(size(arr), 80)), ' ')").as("b1"),
          expr("CASE WHEN size(arr) > 80 THEN " +
            "array_join(slice(arr, 81, size(arr) - 80), ' ') ELSE '' END").as("b2"))
      val pages = d.as[(Long, String, String)].map { case (id, b1, b2) =>
        graft.spark.Page(
          url = "doc://seg/" + id,
          warc_ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
          html = ("<html><head><title>doc " + id + "</title></head><body>" +
            "<div class=\"b1\">" + b1 + "</div>" +
            "<div class=\"b2\">" + b2 + "</div></body></html>")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8),
          text = b1, lang = "en")
      }
      val sents = graft.spark.ExtractStage.sentences(s, pages)
      sents.filter(sr => sr.feats.nonEmpty && sr.feats.head(11) == "body.html")
        .map(sr => sr.url.substring(sr.url.lastIndexOf('/') + 1).toLong)
        .toDF("doc_id")
        .groupBy("doc_id").agg(count(lit(1)).as("n_sentences"))
        .orderBy("doc_id")
    }, oracle =
      """SELECT doc_id,
        |  (CASE WHEN m1 = 0 THEN 0 WHEN m1 < 50 THEN 1
        |        ELSE 1 + (m1 - 1) // 10 END
        |   + CASE WHEN m2 <= 0 THEN 0 WHEN m2 < 50 THEN 1
        |          ELSE 1 + ((n - 1) // 10 - 8) END) AS n_sentences
        |FROM (SELECT doc_id, LEN(STRING_SPLIT(text, ' ')) AS n,
        |        LEAST(LEN(STRING_SPLIT(text, ' ')), 80) AS m1,
        |        LEN(STRING_SPLIT(text, ' ')) - 80 AS m2
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin),

    // J1/J2 oracled: planted dictionary tokens -> exact-window flag,
    // partial flag, and the round(log(count)) name/word gazetteer
    // weights (banker's rounding avoided by count choice) re-derived in
    // SQL per token.
    QueryDef("kg_gazetteer", (s, dir) => {
      val pages = plantedPages(s, dir, """
          CASE WHEN i % 23 = 3 THEN 'zzalpha'
               WHEN i % 23 = 4 THEN 'zzbeta'
               ELSE t END""")
      val gaz = s.sparkContext.broadcast(graft.extract.Gazetteers(
        exact = Map("zzalpha zzbeta" -> 1),
        partial = Map("zzalpha" -> 2, "zzbeta" -> 7),
        word = Map("zzbeta" -> 7)))
      val sents = graft.spark.ExtractStage.sentences(s, pages, gaz = Some(gaz),
        config = graft.spark.ExtractStage.Config(annotateGazetteer = true))
      graft.spark.ExtractStage.tokens(s, sents).toDF()
        .filter(col("html_ctx") === "div.body")
        .select(
          expr("CAST(substring_index(url, '/', -1) AS BIGINT)").as("doc_id"),
          col("tok_id").cast("long").as("tok_id"),
          col("tkn"),
          col("exact").cast("int").as("exact"),
          col("partial").cast("int").as("partial"),
          col("name_log").cast("int").as("name_log"),
          col("word_log").cast("int").as("word_log"))
        .orderBy("doc_id", "tok_id")
    }, oracle =
      """WITH toks AS (
        |  SELECT doc_id, LEN(STRING_SPLIT(text, ' ')) AS n,
        |    UNNEST(STRING_SPLIT(text, ' ')) AS t,
        |    UNNEST(generate_series(1, LEN(STRING_SPLIT(text, ' ')))) AS i
        |  FROM documents),
        |v AS (
        |  SELECT doc_id, n, CAST(i - 1 AS BIGINT) AS tok_id,
        |    CASE WHEN (i - 1) % 23 = 3 THEN 'zzalpha'
        |         WHEN (i - 1) % 23 = 4 THEN 'zzbeta'
        |         ELSE t END AS tkn
        |  FROM toks)
        |SELECT doc_id, tok_id, tkn,
        |  CASE WHEN (tkn = 'zzalpha' AND tok_id < n - 1) OR tkn = 'zzbeta'
        |       THEN 1 ELSE 0 END AS exact,
        |  CASE WHEN tkn IN ('zzalpha', 'zzbeta') THEN 1 ELSE 0 END AS partial,
        |  CASE WHEN tkn = 'zzalpha' THEN 1 WHEN tkn = 'zzbeta' THEN 2
        |       ELSE 0 END AS name_log,
        |  CASE WHEN tkn = 'zzbeta' THEN 2 ELSE 0 END AS word_log
        |FROM v ORDER BY doc_id, tok_id""".stripMargin),

    // A6 oracled: span P/R/F1 through the real SpanMetrics Aggregator
    // over planted single-token spans (gold at i%7==2, pred at i%5==2);
    // the whole Result row is integer-derived, so DuckDB reproduces the
    // doubles bit-exactly.
    QueryDef("kg_span_metrics", (s, dir) => {
      import s.implicits._
      val pairs = t(s, dir, "documents")
        .select(size(split(col("text"), " ")).as("n")).as[Int]
        .map { n =>
          val gold: Seq[String] =
            (0 until n).map(i => if (i % 7 == 2) "I-PER" else "O")
          val pred: Seq[String] =
            (0 until n).map(i => if (i % 5 == 2) "I-PER" else "O")
          (pred, gold)
        }
      // typed select: Dataset[Result] whose schema is Result's fields
      pairs.select(graft.metrics.SpanMetrics.agg.toColumn).toDF()
    }, oracle =
      """WITH per AS (
        |  SELECT LEN(STRING_SPLIT(text, ' ')) AS n FROM documents),
        |tot AS (SELECT
        |    SUM(CASE WHEN n >= 3 THEN (n - 3) // 7 + 1 ELSE 0 END) AS nexp,
        |    SUM(CASE WHEN n >= 3 THEN (n - 3) // 5 + 1 ELSE 0 END) AS nprd,
        |    SUM(CASE WHEN n >= 3 THEN (n - 3) // 35 + 1 ELSE 0 END) AS ntp,
        |    SUM(n) AS ntoks
        |  FROM per)
        |SELECT
        |  CAST(ntoks - nexp - nprd + 2 * ntp AS DOUBLE) / ntoks AS accuracy,
        |  CAST(ntp AS DOUBLE) / nprd AS "precision",
        |  CAST(ntp AS DOUBLE) / nexp AS recall,
        |  2 * (CAST(ntp AS DOUBLE) / nprd) * (CAST(ntp AS DOUBLE) / nexp)
        |    / ((CAST(ntp AS DOUBLE) / nprd) + (CAST(ntp AS DOUBLE) / nexp)) AS f1,
        |  CAST(ntp AS BIGINT) AS correct,
        |  CAST(nprd - ntp AS BIGINT) AS incorrect,
        |  CAST(nexp - ntp AS BIGINT) AS missed
        |FROM tot""".stripMargin),

    // J3 + mention projection oracled: planted 2-token target name ->
    // IOB labeling -> goldMentions spans; per-doc mention count equals
    // the closed-form position formula.
    QueryDef("kg_mention_counts", (s, dir) => {
      val pages = plantedPages(s, dir, """
          CASE WHEN i % 31 = 5 THEN 'zzjohn'
               WHEN i % 31 = 6 THEN 'zzdoe'
               ELSE t END""")
      val sents = graft.spark.ExtractStage.sentences(s, pages,
        targetNamesFn = Some((_: String) => Seq("zzjohn zzdoe")))
      graft.kg.Triples.goldMentions(s, sents).toDF()
        .select(expr("CAST(substring_index(url, '/', -1) AS BIGINT)").as("doc_id"),
          col("name"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_mentions"),
          countDistinct(col("name")).as("n_names"))
        .orderBy("doc_id")
    }, oracle =
      """SELECT doc_id,
        |  CAST((LEN(STRING_SPLIT(text, ' ')) - 7) // 31 + 1 AS BIGINT) AS n_mentions,
        |  CAST(1 AS BIGINT) AS n_names
        |FROM documents
        |WHERE LEN(STRING_SPLIT(text, ' ')) >= 7
        |ORDER BY doc_id""".stripMargin),

    // Pattern-relation extraction oracled (was rows-only): planted
    // title token + 2-token name + email token at fixed positions ->
    // hasTitle fires once per complete adjacent (title, span) pair and
    // hasEmail once per email token when a span exists; both counts
    // equal closed-form position formulas.
    // Corpus assumptions the closed form relies on (true of the
    // generated documents tables, all-lowercase punctuation-free
    // word streams; shared by every planted-token query here): the
    // unplanted text contributes no sentence-split points ('.'-final
    // token followed by an uppercase-initial one), no natural email/
    // honorific tokens, and no 'zz*' words — so every doc stays ONE
    // sentence and only the planted anchors fire.
    QueryDef("kg_relations_counts", (s, dir) => {
      val pages = plantedPages(s, dir, relationPlants)
      val sents = graft.spark.ExtractStage.sentences(s, pages,
        targetNamesFn = Some((_: String) => Seq("zzjohn zzdoe")))
      graft.kg.Relations.goldRelations(s, sents).toDF()
        .select(expr("CAST(substring_index(url, '/', -1) AS BIGINT)").as("doc_id"),
          col("pred"))
        .groupBy("doc_id")
        .agg(
          sum(when(col("pred") === "hasTitle", 1L).otherwise(0L)).as("n_title"),
          sum(when(col("pred") === "hasEmail", 1L).otherwise(0L)).as("n_email"))
        .orderBy("doc_id")
    }, oracle =
      """SELECT doc_id,
        |  CAST((n - 13) // 37 + 1 AS BIGINT) AS n_title,
        |  CAST(CASE WHEN n >= 21 THEN (n - 21) // 37 + 1 ELSE 0 END
        |       AS BIGINT) AS n_email
        |FROM (SELECT doc_id, LEN(STRING_SPLIT(text, ' ')) AS n
        |      FROM documents)
        |WHERE n >= 13 ORDER BY doc_id""".stripMargin),

    // W11 oracled: the Bi-LSTM-CRF forward pass (TF LSTMCell semantics,
    // recurrent state NOT disabled) with fixed saturating weights — the
    // planted 'zzalice' token drives the gates to saturation (h~0.76 ->
    // logit +7.6) while every other token stays OOV (h<=0.35 near a
    // plant -> logit <=-3.4), so the decoded tag sequence is exactly
    // the position formula, margins ~1e7 x float noise.
    QueryDef("kg_bilstm_decode", (s, dir) => {
      import s.implicits._
      val cell = graft.tag.BiLstm.CellWeights(
        kernel = Array(Array(5.0f, 5.0f, 5.0f, 5.0f),
          Array(0.1f, 0.1f, 0.1f, 0.1f)),
        bias = Array(0f, 0f, 0f, 0f))
      val scorer = graft.tag.BiLstmCrfScorer(
        vocab = Map("zzalice" -> 0),
        wordEmb = Array(Array(1.0f), Array(0.0f)),
        charCnn = None, fw = cell, bw = cell,
        dense = Array(Array(0f, 10f), Array(0f, 10f)),
        denseBias = Array(0f, -7.6f),
        transition = Array(Array(0.0, 0.0), Array(0.0, 0.0)))
      val sents = graft.spark.Scans.spread(t(s, dir, "documents")
        .select(col("doc_id"), col("text")), col("doc_id"))
        .as[(Long, String)]
        .map { case (id, text) =>
          val tkns: Seq[String] = text.split(" ").toSeq.zipWithIndex
            .map { case (w, i) => if (i % 13 == 7) "zzalice" else w }
          graft.spark.SentenceRow("doc://bl/" + id,
            new java.sql.Timestamp(0L), "en", 0,
            tkns, tkns.map(_ => Seq.empty[String]), tkns.map(_ => "O"))
        }
      graft.tag.BiLstmCrf.predict(s, scorer, sents)
        .map { case (sr, tags) =>
          (sr.url.substring(sr.url.lastIndexOf('/') + 1).toLong,
            tags.count(_ == 1).toLong)
        }
        .toDF("doc_id", "n_entity_tags")
        .orderBy("doc_id")
    }, oracle = plantedTagsOracle),

    // W11 attention ablations oracled (models/attention.py:100-187,
    // models/char_representations.py:34-52, models/html_embeddings.py:
    // 47-72): every token gets a charLstmRepr ++ htmlRepr query/key —
    // exact_attention's equality scores fire exactly between identical
    // words (the repr is a pure function of the chars), so the planted
    // token's residual-carried one-hot value survives as outA >= 1.0
    // while every other token stays <= 0.001; a saturating multiHead
    // pass (Q=K scores 100 on plants, <= 0.01 elsewhere) then amplifies
    // the margin to >= 9.99 vs <= 1.3. Tags thresholded at 5 equal the
    // kg_bilstm_decode position formula.
    QueryDef("kg_attention_decode", (s, dir) => {
      import s.implicits._
      import graft.tag.Attention
      val charVocab: Map[Char, Int] = ('a' to 'z').zipWithIndex.toMap
      val charEmb: Array[Array[Float]] = Array.tabulate(27, 2)((i, j) =>
        if (i == 26) 0f else ((i * (j + 3) + j * 7) % 27 + 1) / 27f)
      def cell(in: Int, u: Int) = graft.tag.BiLstm.CellWeights(
        Array.tabulate(in + u, 4 * u)((i, j) => ((i * 5 + j * 3) % 11 - 5) / 10f),
        new Array[Float](4 * u))
      val fw = cell(2, 2); val bw = cell(2, 2)
      val htmlVocab = Map("div" -> 0, "body" -> 1)
      val htmlEmb = Array(Array(0.1f, 0.2f), Array(0.3f, 0.4f), Array(0f, 0f))
      graft.spark.Scans.spread(t(s, dir, "documents")
        .select(col("doc_id"), col("text")), col("doc_id"))
        .as[(Long, String)]
        .mapPartitions { it =>
          // the html repr is doc-independent (hoisted), and the char-
          // LSTM repr is a pure function of the word — memoized per
          // partition, since web text repeats words enormously
          val hr = Attention.htmlRepr(htmlVocab, htmlEmb, charVocab, charEmb,
            "div.body", "doc").map(_.toDouble)
          val memo = new java.util.HashMap[String, Array[Double]]()
          def qkOf(w: String): Array[Double] = {
            val hit = memo.get(w)
            if (hit != null) hit
            else {
              val r = Attention.charLstmRepr(charVocab, charEmb, fw, bw, w)
                .map(_.toDouble) ++ hr
              if (memo.size < 10000) memo.put(w, r)
              r
            }
          }
          it.map { case (id, text) =>
            val tkns = text.split(" ").toSeq.zipWithIndex
              .map { case (w, i) => if (i % 13 == 7) "zzalice" else w }
            val qk: Array[Array[Double]] = tkns.map(qkOf).toArray
            val values: Array[Array[Double]] = tkns.map(w =>
              Array(if (w == "zzalice") 1.0 else 0.0)).toArray
            val outA = Attention.exactAttention(qk, qk, values,
              Attention.Dense(Array(Array(0.001f)), Array(0f)))
            val outB = Attention.multiHead(outA, outA, outA,
              Attention.Dense(Array(Array(10f)), Array(0f)), None,
              Attention.Dense(Array(Array(10f)), Array(0f)), 1)
            (id, outB.count(_(0) > 5.0).toLong)
          }
        }
        .toDF("doc_id", "n_entity_tags")
        .orderBy("doc_id")
    }, oracle = plantedTagsOracle),

    // Transformer-branch kernels oracled end-to-end (models/attention
    // .py:47-98,189-290 formulas; the reference's own transformer
    // branch is dead code, so this is formula-parity integration):
    // token vectors [1, 1000*plant] + elementwise-masked sinusoidal
    // pos encodings, identity-projected 2-head self-attention. The
    // plant channel saturates (non-plant keys are exactly 0 -> key-
    // masked; non-plant queries are 0 -> post-softmax zeroed), so the
    // post-residual layer norm sends plants to +1 and everything else
    // to -1 on channel 1 — counts equal the kg_bilstm_decode position
    // formula.
    QueryDef("kg_transformer_decode", (s, dir) => {
      import s.implicits._
      import graft.tag.{Attention, Transformer}
      val dense = Attention.Dense(
        Array(Array(1f, 0f), Array(0f, 1f)), Array(0f, 0f))
      val gamma = Array(1.0, 1.0); val beta = Array(0.0, 0.0)
      graft.spark.Scans.spread(t(s, dir, "documents")
        .select(col("doc_id"), col("text")), col("doc_id"))
        .as[(Long, String)]
        .map { case (id, text) =>
          val n = text.split(" ").length
          val inputs: Array[Array[Double]] = Array.tabulate(n)(i =>
            Array(1.0, if (i % 13 == 7) 1000.0 else 0.0))
          val pe = Transformer.posEmbeddings(inputs, maxlen = 1 << 20)
          val x = Array.tabulate(n)(t0 =>
            Array(inputs(t0)(0) + pe(t0)(0), inputs(t0)(1) + pe(t0)(1)))
          val out = Transformer.multiHeadAttention(x, dense, 2, gamma, beta)
          (id, out.count(_(1) > 0.0).toLong)
        }
        .toDF("doc_id", "n_entity_tags")
        .orderBy("doc_id")
    }, oracle = plantedTagsOracle),

    // The extraction kernel itself, oracle-checked: documents wrapped in
    // a fixed HTML skeleton -> full parse+tokenize kernel -> per-doc
    // token count and reconstructed text must equal DuckDB's whitespace
    // split of the original text (P1-P3 end-to-end).
    QueryDef("kg_extract_parity", (s, dir) => {
      import s.implicits._
      val pages = graft.corpus.SynthPages.fromDocuments(s, t(s, dir, "documents"))
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

    // Iceberg-MERGE-shaped incremental upsert: every 5th doc arrives
    // re-crawled (updated text), every 50th spawns a brand-new doc id;
    // delta wins whole-row, base rows carry through, inserts append.
    QueryDef("kg_merge_incremental", (s, dir) => {
      val d = t(s, dir, "documents")
        .select("doc_id", "text", "lang", "source")
      val updates = d.filter(col("doc_id") % 5 === 0)
        .withColumn("text", concat(lit("RECRAWL "), col("text")))
      val inserts = d.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(lit("NEW "), col("text")).as("text"),
          col("lang"), col("source"))
      graft.ops.Merge.upsert(d, updates.union(inserts),
          key = Seq("doc_id"))
        .select(col("doc_id"), md5(col("text")).as("content_key"),
          col("lang"), col("source"))
        .orderBy("doc_id")
    }, oracle =
      """WITH base AS (SELECT doc_id, text, lang, source FROM documents),
        |delta AS (
        |  SELECT doc_id, 'RECRAWL ' || text AS text, lang, source
        |  FROM base WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id + 100000, 'NEW ' || text, lang, source
        |  FROM base WHERE doc_id % 50 = 0),
        |m AS (
        |  SELECT COALESCE(d.doc_id, b.doc_id) AS doc_id,
        |    CASE WHEN d.doc_id IS NOT NULL THEN d.text ELSE b.text END AS text,
        |    CASE WHEN d.doc_id IS NOT NULL THEN d.lang ELSE b.lang END AS lang,
        |    CASE WHEN d.doc_id IS NOT NULL THEN d.source ELSE b.source END AS source
        |  FROM base b FULL OUTER JOIN delta d ON b.doc_id = d.doc_id)
        |SELECT doc_id, MD5(text) AS content_key, lang, source
        |FROM m ORDER BY doc_id""".stripMargin)
  )
}
