package graft
package registry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.ScalarFns._
import graft.operators.{Dedup, Layers}
import graft.llmdata.{DedupOps, Multimodal, Similarity, TextAnalysis}

import QuerySupport._

/** EXT: the LLM-data operators (dedup, quality, similarity, corpus
  * curation, graph and retrieval families), each beside its oracle SQL. */
private[graft] object LlmDataQueries {

  val all: Seq[Query] = Seq(
    Query("q30_dedup_exact", (s, d) =>
      DedupOps.exact(t(s, d, "documents"), "doc_id", "text"),
      """SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fingerprint,
        |  MIN(doc_id) AS keeper_id, COUNT(*) AS dup_count
        |FROM documents GROUP BY 1""".stripMargin),

    Query("q31_token_stats", (s, d) =>
      TextAnalysis.qualityFeatures(t(s, d, "documents"), "text")
        .withColumn("n_subwords",
          TextAnalysis.subwordCountEstimate(col("text")).cast("long"))
        .select("doc_id", "n_chars_txt", "n_tokens", "n_subwords", "mean_word_len",
          "punct_ratio", "stopword_ratio"),
      s"""SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_txt,
         |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |    ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tokens,
         |  CAST(len(regexp_split_to_array(trim(text), '\\s+'))
         |    + (length(text) - length(regexp_replace(text, '[0-9.,;:!?]', '', 'g'))) AS BIGINT) AS n_subwords,
         |  ROUND(CAST(length(text) AS DOUBLE) / greatest(
         |    CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '\\s+')) END, 1), 6) AS mean_word_len,
         |  ROUND(CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
         |    / greatest(length(text), 1), 6) AS punct_ratio,
         |  ROUND(CAST($stopwordSql AS DOUBLE) / greatest(
         |    CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '\\s+')) END, 1), 6) AS stopword_ratio
         |FROM (SELECT *, ' ' || lower(text) || ' ' AS padded FROM documents)""".stripMargin),

    // data-driven language ID: broadcast stopword-frequency profile frame,
    // weight-sum argmax per doc (r2 marker literals retired)
    Query("q32_langid", (s, d) =>
      TextAnalysis.languageIdByProfile(t(s, d, "documents"), "doc_id", "text",
        TextAnalysis.profileFrame(s), keep = Seq("lang")), {
      // profile VALUES generated from the SAME Scala map the engine
      // broadcasts — one source of truth, the two sides cannot drift
      val values = TextAnalysis.languageProfiles.toSeq.sortBy(_._1)
        .flatMap { case (l, ts) => ts.map { case (t, w) => s"('$l','$t',$w)" } }
        .mkString(", ")
      s"""WITH prof AS (SELECT * FROM (VALUES $values) t(lang, term, weight)),
         |toks AS (SELECT doc_id,
         |    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
         |  FROM documents),
         |scored AS (SELECT doc_id, p.lang, CAST(SUM(weight) AS BIGINT) AS score
         |  FROM toks JOIN prof p USING (term) GROUP BY 1, 2),
         |best AS (SELECT doc_id, lang AS predicted_lang FROM (
         |  SELECT doc_id, lang, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, lang ASC) AS rn FROM scored) WHERE rn = 1)
         |SELECT d.doc_id, d.lang, COALESCE(b.predicted_lang, 'und') AS predicted_lang
         |FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id""".stripMargin
    }),

    Query("q33_quality_score", (s, d) =>
      TextAnalysis.qualityScore(t(s, d, "documents"), "text")
        .select("doc_id", "quality_score"),
      qualityScoreSql),

    Query("q34_minhash_pairs", (s, d) =>
      DedupOps.minhashLsh(t(s, d, "documents"), "doc_id", "text",
        shingleSize = 3, bands = 4, rows = 4, jaccardThreshold = 0.4)
        .withColumn("jaccard", round(col("jaccard"), 6)),
      s"""WITH $minhashPairsCtes
         |SELECT id_a, id_b, ROUND(jaccard, 6) AS jaccard FROM mh_pairs""".stripMargin),

    Query("q35_simhash", (s, d) =>
      DedupOps.simhash(t(s, d, "documents"), "doc_id", "text"), {
      // mirrors DedupOps.simhash: 64-bit md5-derived token hashes kept as
      // two unsigned-32 halves (hhi = hex chars 1-8 → bits 32-63, hlo =
      // chars 9-16 → bits 0-31) — a single 16-char hex cast would
      // overflow signed BIGINT. Bit 63's weight is Long.MinValue.
      val bitTerms = (0 until 64).map { b =>
        val h = if (b < 32) "hlo" else "hhi"
        s"(CASE WHEN SUM((($h >> ${b % 32}) & 1) * 2 - 1) > 0 THEN ${1L << b} ELSE 0 END)"
      }
      s"""SELECT doc_id, CAST(${bitTerms.mkString(" + ")} AS BIGINT) AS simhash
         |FROM (SELECT doc_id,
         |    CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) AS hhi,
         |    CAST(concat('0x', substr(md5(tok), 9, 8)) AS BIGINT) AS hlo
         |  FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
         |    FROM documents))
         |GROUP BY doc_id""".stripMargin
    }),

    // transitive near-dup clusters over the LSH pair graph
    Query("q60_neardup_clusters", (s, d) =>
      DedupOps.nearDupClusters(
        DedupOps.minhashLsh(t(s, d, "documents"), "doc_id", "text",
          shingleSize = 3, bands = 4, rows = 4, jaccardThreshold = 0.4)),
      s"""WITH RECURSIVE $minhashPairsCtes,
         |edges AS (SELECT id_a, id_b FROM mh_pairs
         |          UNION ALL SELECT id_b, id_a FROM mh_pairs),
         |reach(id, label) AS (
         |  SELECT DISTINCT id_a, id_a FROM edges
         |  UNION
         |  SELECT e.id_a, r.label FROM edges e JOIN reach r ON e.id_b = r.id)
         |SELECT id AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY 1""".stripMargin),

    Query("q36_cosine_top1", (s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 16), "vec_id", "embedding", k = 1)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    },
      """SELECT query_id, neighbor_id, ROUND(cosine, 6) AS cosine FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_dot_product(q.emb, c.emb)
        |      / (sqrt(list_dot_product(q.emb, q.emb)) * sqrt(list_dot_product(c.emb, c.emb))) AS cosine,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_dot_product(q.emb, c.emb)
        |        / (sqrt(list_dot_product(q.emb, q.emb)) * sqrt(list_dot_product(c.emb, c.emb))) DESC,
        |        c.vec_id ASC) AS rnk
        |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) emb FROM embeddings WHERE vec_id < 16) q,
        |       (SELECT vec_id, CAST(embedding AS DOUBLE[]) emb FROM embeddings) c
        |  WHERE q.vec_id <> c.vec_id
        |) WHERE rnk = 1""".stripMargin),

    Query("q37_lsh_topk", (s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 16), "vec_id", "embedding", k = 3, bits = 8)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("cosine"), 6).as("cosine"))
    }, {
      // multi-probe: candidates are corpus vectors whose bucket is within
      // Hamming distance 1 of the query's bucket (bits = 8)
      s"""WITH vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
         |    ${bucketSql(8)} AS bucket FROM embeddings)
         |SELECT query_id, neighbor_id, rank, ROUND(cosine, 6) AS cosine FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    list_dot_product(q.emb, c.emb)
         |      / (sqrt(list_dot_product(q.emb, q.emb)) * sqrt(list_dot_product(c.emb, c.emb))) AS cosine,
         |    CAST(row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY list_dot_product(q.emb, c.emb)
         |        / (sqrt(list_dot_product(q.emb, q.emb)) * sqrt(list_dot_product(c.emb, c.emb))) DESC,
         |        c.vec_id ASC) AS INT) AS rank
         |  FROM (SELECT * FROM vecs WHERE vec_id < 16) q
         |  JOIN vecs c ON bit_count(xor(q.bucket, c.bucket)) <= 1 AND q.vec_id <> c.vec_id
         |) WHERE rank <= 3""".stripMargin
    }),

    Query("q38_multimodal_decode", (s, d) =>
      Multimodal.decodeFeatures(
        Multimodal.fromDocuments(t(s, d, "documents"), "doc_id", "text"))
        .select(col("asset_id"), col("byte_len"), col("checksum"),
          col("meta.width").as("width"), element_at(col("hist"), 1).as("hist0")),
      """SELECT CAST(doc_id AS BIGINT) AS asset_id,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len,
        |  md5(text) AS checksum,
        |  CAST(length(text) % 1024 + 1 AS INT) AS width,
        |  CAST(length(regexp_replace(regexp_replace(lower(substr(hex(CAST(text AS BLOB)), 1, 2048)), '(.).', '\1', 'g'), '[^0123]', '', 'g')) AS BIGINT) AS hist0
        |FROM documents""".stripMargin),

    Query("q39_frame_sample", (s, d) =>
      Multimodal.frameSample(
        Multimodal.fromDocuments(t(s, d, "documents"), "doc_id", "text"),
        chunkBytes = 64, stride = 4)
        .select("asset_id", "frame_index", "frame_checksum"),
      """SELECT CAST(doc_id AS BIGINT) AS asset_id, CAST(i AS INT) AS frame_index,
        |  md5(substr(text, CAST(i * 256 + 1 AS INT), 64)) AS frame_checksum
        |FROM (SELECT doc_id, text,
        |  unnest(generate_series(0, greatest(length(text) // 256 - 1, 0))) AS i
        |FROM documents)""".stripMargin),

    Query("q40_embedding_stats", (s, d) =>
      t(s, d, "embeddings").select(col("vec_id"), col("label"),
        round(Similarity.norm(col("embedding")), 6).as("norm"),
        Similarity.signLshBucket(col("embedding"), 4).as("lsh_bucket")),
      """SELECT vec_id, label,
        |  ROUND(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))), 6) AS norm,
        |  CAST((CASE WHEN embedding[1] >= embedding[2] THEN 1 ELSE 0 END)
        |     + (CASE WHEN embedding[3] >= embedding[4] THEN 2 ELSE 0 END)
        |     + (CASE WHEN embedding[5] >= embedding[6] THEN 4 ELSE 0 END)
        |     + (CASE WHEN embedding[7] >= embedding[8] THEN 8 ELSE 0 END) AS BIGINT) AS lsh_bucket
        |FROM embeddings""".stripMargin),

    // vector-column hygiene gate: exact defect counts (null / wrong dim /
    // non-finite / all-zero) — the expectation-suite analogue for the
    // embedding column, run BEFORE any index build
    Query("q148_vector_hygiene", (s, d) =>
      Similarity.vectorHygiene(t(s, d, "embeddings"), "embedding",
        expectedDim = 64),
      // mirrors vectorHygiene flag-for-flag: pure equality/size predicates
      // (no float arithmetic), one global count; rate = two BIGINTs once
      """WITH flags AS (SELECT
        |    embedding IS NULL AS is_null,
        |    embedding IS NOT NULL AND len(embedding) <> 64 AS wrong_dim,
        |    embedding IS NOT NULL
        |      AND len(list_filter(embedding, e -> isnan(e) OR isinf(e))) > 0 AS nonfinite,
        |    embedding IS NOT NULL AND len(embedding) > 0
        |      AND len(list_filter(embedding, e -> e <> 0)) = 0 AS all_zero
        |  FROM embeddings)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
        |  CAST(COUNT(CASE WHEN is_null THEN 1 END) AS BIGINT) AS n_null,
        |  CAST(COUNT(CASE WHEN wrong_dim THEN 1 END) AS BIGINT) AS n_wrong_dim,
        |  CAST(COUNT(CASE WHEN nonfinite THEN 1 END) AS BIGINT) AS n_nonfinite,
        |  CAST(COUNT(CASE WHEN all_zero THEN 1 END) AS BIGINT) AS n_all_zero,
        |  CAST(COUNT(CASE WHEN NOT (is_null OR wrong_dim OR nonfinite OR all_zero) THEN 1 END) AS BIGINT) AS n_clean,
        |  CASE WHEN COUNT(*) > 0
        |    THEN CAST(COUNT(CASE WHEN NOT (is_null OR wrong_dim OR nonfinite OR all_zero) THEN 1 END) AS DOUBLE)
        |       / CAST(COUNT(*) AS DOUBLE) ELSE 0.0 END AS clean_rate
        |FROM flags""".stripMargin),

    // mergeable heavy-hitters: two disjoint Misra-Gries partial frames
    // (split by event parity) merged, then finished to per-day top-3 —
    // capacity 16 > |event types|, so weights are EXACT and the oracle
    // is the direct GROUP BY count (merge ≡ direct, any merge tree)
    Query("q149_heavy_hitters", (s, d) => {
      val ev = t(s, d, "events")
      val cap = 16
      val parts = Seq(
        graft.functions.MisraGries.dailyTopKPartial(
          ev.filter(col("event_id") % 2 === 0), "ts", "event_type", cap),
        graft.functions.MisraGries.dailyTopKPartial(
          ev.filter(col("event_id") % 2 === 1), "ts", "event_type", cap))
      graft.functions.MisraGries.finishTopK(
        graft.functions.MisraGries.mergeTopK(parts, cap), k = 3)
    },
      // exactness-regime mirror: capacity exceeds the item domain, so the
      // MG weights equal true counts — oracle is the direct aggregate
      """SELECT day, item, weight, CAST(rn AS INT) AS rank FROM (
        |  SELECT CAST(ts AS DATE) AS day, event_type AS item,
        |    CAST(COUNT(*) AS BIGINT) AS weight,
        |    ROW_NUMBER() OVER (PARTITION BY CAST(ts AS DATE)
        |      ORDER BY COUNT(*) DESC, event_type ASC) AS rn
        |  FROM events GROUP BY 1, 2)
        |WHERE rn <= 3""".stripMargin),

    // collocation mining: lift-ranked bigram associations (PMI sans log)
    Query("q150_collocations", (s, d) =>
      TextAnalysis.collocations(t(s, d, "documents"), "doc_id", "text",
        minPairCount = 5),
      // mirrors collocations term-for-term: same bigram stream as q89's
      // oracle, unigram/total counts over the raw token unnest, and the
      // IDENTICAL double expression tree (mul, mul, div of exact BIGINTs)
      // so lift — and therefore the rank order — is bit-stable
      """WITH arr AS (SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |             FROM documents),
        |bi AS (SELECT unnest(list_transform(generate_series(1, len(t) - 1),
        |         i -> t[i] || ' ' || t[i+1])) AS s FROM arr),
        |counts AS (SELECT string_split(s, ' ')[1] AS term_a,
        |             string_split(s, ' ')[2] AS term_b,
        |             CAST(COUNT(*) AS BIGINT) AS n_pair
        |           FROM bi GROUP BY 1, 2 HAVING COUNT(*) >= 5),
        |uni AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
        |        FROM (SELECT unnest(t) AS tok FROM arr) GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tok
        |        FROM (SELECT unnest(t) AS tok FROM arr))
        |SELECT term_a, term_b, n_pair, ca.c AS c_a, cb.c AS c_b,
        |  (CAST(n_tok AS DOUBLE) * CAST(n_pair AS DOUBLE))
        |    / (CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)) AS lift,
        |  CAST(row_number() OVER (ORDER BY
        |    (CAST(n_tok AS DOUBLE) * CAST(n_pair AS DOUBLE))
        |      / (CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)) DESC,
        |    term_a ASC, term_b ASC) AS INT) AS rank
        |FROM counts JOIN uni ca ON ca.tok = counts.term_a
        |            JOIN uni cb ON cb.tok = counts.term_b
        |CROSS JOIN tot""".stripMargin),

    // Simpson concentration + effective vocabulary per document
    Query("q151_lexical_concentration", (s, d) =>
      TextAnalysis.lexicalConcentration(t(s, d, "documents"), "doc_id", "text"),
      // mirrors lexicalConcentration moment-for-moment: exact BIGINT
      // (n, distinct, Σc²) then the IDENTICAL one-divide IEEE trees for
      // λ and 1/λ — bit-stable without rounding
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS c
        |       FROM toks WHERE length(term) > 0 GROUP BY 1, 2),
        |st AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |              CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |              CAST(SUM(c*c) AS BIGINT) AS sum_sq
        |       FROM tf GROUP BY 1)
        |SELECT d.doc_id,
        |  COALESCE(n_tokens, 0) AS n_tokens,
        |  COALESCE(n_distinct, 0) AS n_distinct,
        |  COALESCE(sum_sq, 0) AS sum_sq,
        |  CASE WHEN st.n_tokens IS NULL THEN 0.0
        |       ELSE CAST(sum_sq AS DOUBLE)
        |            / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE)) END AS simpson,
        |  CASE WHEN st.n_tokens IS NULL THEN 0.0
        |       ELSE (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE))
        |            / CAST(sum_sq AS DOUBLE) END AS eff_vocab
        |FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id""".stripMargin),

    // Gopher-rule gate; stopword set adapted to the synthetic vocabulary
    Query("q152_gopher_rules", (s, d) =>
      TextAnalysis.gopherRules(t(s, d, "documents"), "doc_id", "text",
        minTokens = 30, maxTokens = 100000,
        stopwords = Seq("a", "the"), minStopwords = 2),
      // mirrors gopherRules rule-for-rule: every threshold an integer
      // cross-multiplication, so the gate hashes exactly with zero float
      // arithmetic; list_filter lambdas = Spark's higher-order filter
      """WITH base AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) END AS n_tokens,
        |    CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
        |    CAST(length(regexp_replace(text, '\s', '', 'g')) AS BIGINT) AS n_word_chars,
        |    CAST((length(text) - length(translate(text, '#', '')))
        |      + (length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS n_symbols,
        |    CAST(len(list_filter(string_split(text, chr(10)),
        |      l -> starts_with(l, '- ') OR starts_with(l, '* ') OR starts_with(l, '• '))) AS BIGINT) AS n_bullet,
        |    CAST(len(list_filter(string_split(text, chr(10)),
        |      l -> ends_with(rtrim(l), '...'))) AS BIGINT) AS n_ell,
        |    CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      w -> regexp_matches(w, '[a-z]'))) AS BIGINT) AS n_alpha,
        |    CAST((CASE WHEN position(' a ' IN ' ' || regexp_replace(lower(text), '\s+', ' ', 'g') || ' ') > 0 THEN 1 ELSE 0 END)
        |      + (CASE WHEN position(' the ' IN ' ' || regexp_replace(lower(text), '\s+', ' ', 'g') || ' ') > 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_stop
        |  FROM documents)
        |SELECT doc_id, n_tokens, n_lines,
        |  n_tokens >= 30 AND n_tokens <= 100000 AS word_count_ok,
        |  3 * n_tokens <= n_word_chars AND n_word_chars <= 10 * n_tokens AS mean_word_len_ok,
        |  10 * n_symbols <= n_tokens AS symbol_ok,
        |  10 * n_bullet <= 9 * n_lines AS bullet_ok,
        |  10 * n_ell <= 3 * n_lines AS ellipsis_ok,
        |  10 * n_alpha >= 8 * n_tokens AS alpha_ok,
        |  n_stop >= 2 AS stopword_ok,
        |  (n_tokens >= 30 AND n_tokens <= 100000)
        |    AND (3 * n_tokens <= n_word_chars AND n_word_chars <= 10 * n_tokens)
        |    AND (10 * n_symbols <= n_tokens) AND (10 * n_bullet <= 9 * n_lines)
        |    AND (10 * n_ell <= 3 * n_lines) AND (10 * n_alpha >= 8 * n_tokens)
        |    AND (n_stop >= 2) AS pass
        |FROM base""".stripMargin),

    // ordered per-user sequence assembly (training-example builder)
    Query("q156_assemble_sequences", (s, d) =>
      graft.operators.Sessionize.assembleSequences(
        t(s, d, "events"), "user_id", "ts", "event_id", "event_type"),
      // same total order (ts, event_id) rendered by string_agg; Spark
      // assembles via struct-sort, DuckDB via ordered aggregate — the
      // string is identical iff the order is truly total
      """SELECT user_id AS key, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  string_agg(event_type, '->' ORDER BY ts, event_id) AS sequence
        |FROM events GROUP BY 1""".stripMargin),

    // tokenizer fertility / corpus-volume report per (lang, source)
    Query("q157_token_fertility", (s, d) =>
      TextAnalysis.tokenFertility(t(s, d, "documents"), Seq("lang", "source")),
      // four exact BIGINT totals; each rate is ONE division of two exact
      // integers (bit-identical IEEE on both engines, no rounding)
      """WITH f AS (SELECT lang, source,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        |  length(text) AS n_chars, octet_length(encode(text)) AS n_bytes
        |  FROM documents)
        |SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
        |  CAST(SUM(n_chars) AS DOUBLE)
        |    / CAST(greatest(SUM(n_tokens), 1) AS DOUBLE) AS chars_per_token,
        |  CAST(SUM(n_bytes) AS DOUBLE)
        |    / CAST(greatest(SUM(n_tokens), 1) AS DOUBLE) AS bytes_per_token,
        |  CAST(SUM(n_tokens) AS DOUBLE)
        |    / CAST(greatest(COUNT(*), 1) AS DOUBLE) AS tokens_per_doc
        |FROM f GROUP BY 1, 2""".stripMargin),

    // per-doc character-class census (encoding/script health check)
    Query("q158_char_classes", (s, d) =>
      TextAnalysis.charClassProfile(t(s, d, "documents"), "doc_id", "text"),
      // explicit ASCII classes only (no \p{...} — engine-portable);
      // length-diff counting, one BIGINT/BIGINT division for the ratio
      """WITH c AS (SELECT doc_id, length(text) AS n_chars,
        |  length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS n_letters,
        |  length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digits,
        |  length(text) - length(regexp_replace(text, '[ \t\n\r]', '', 'g')) AS n_space,
        |  length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')) AS n_punct,
        |  length(regexp_replace(text, '[ -~\t\n\r]', '', 'g')) AS n_non_ascii
        |  FROM documents)
        |SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |  CAST(n_letters AS BIGINT) AS n_letters,
        |  CAST(n_digits AS BIGINT) AS n_digits,
        |  CAST(n_space AS BIGINT) AS n_space,
        |  CAST(n_punct AS BIGINT) AS n_punct,
        |  CAST(n_non_ascii AS BIGINT) AS n_non_ascii,
        |  CAST(n_chars - n_letters - n_digits - n_space - n_punct - n_non_ascii
        |       AS BIGINT) AS n_other_ascii,
        |  CAST(n_letters AS DOUBLE)
        |    / CAST(greatest(n_chars, 1) AS DOUBLE) AS letter_ratio
        |FROM c""".stripMargin),

    // consistent pseudonymization: doc-dependent + shared injected PII;
    // the shared email maps to the SAME token in all 500 docs
    Query("q159_pseudonymize", (s, d) =>
      TextAnalysis.pseudonymizePii(
        t(s, d, "documents").withColumn("text",
          concat(col("text"), lit(" contact u"), col("doc_id").cast("string"),
            lit("@corp.example.com or shared@example.org ref "),
            (lit(7000000L) + col("doc_id") * 7).cast("string"),
            lit(" tel 5551234567 end"))),
        "doc_id", "text")
        .select(col("doc_id"), md5(col("scrubbed")).as("scrubbed_md5"),
          col("n_pii"), col("pii_map")),
      // same (length DESC, value ASC) fold via struct-sorted list_reduce;
      // chr(1) is the value/token pair separator inside the fold items
      """WITH aug AS (
        |  SELECT doc_id,
        |    text || ' contact u' || doc_id || '@corp.example.com or shared@example.org ref '
        |         || CAST(7000000 + doc_id * 7 AS BIGINT) || ' tel 5551234567 end' AS text
        |  FROM documents),
        |ext AS (
        |  SELECT doc_id, text,
        |    list_distinct(regexp_extract_all(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS emails,
        |    list_distinct(regexp_extract_all(text, '\b\d{7,}\b')) AS nums
        |  FROM aug),
        |items AS (
        |  SELECT doc_id, text,
        |    list_transform(
        |      list_sort(list_transform(emails, v -> struct_pack(k := -length(v), v := v))),
        |      s -> s.v || chr(1) || '<EMAIL_' || substr(md5(s.v), 1, 8) || '>') ||
        |    list_transform(
        |      list_sort(list_transform(nums, v -> struct_pack(k := -length(v), v := v))),
        |      s -> s.v || chr(1) || '<NUMBER_' || substr(md5(s.v), 1, 8) || '>') AS repl
        |  FROM ext)
        |SELECT doc_id,
        |  md5(list_reduce(list_prepend(text, repl),
        |      (acc, x) -> replace(acc, split_part(x, chr(1), 1),
        |                          split_part(x, chr(1), 2)))) AS scrubbed_md5,
        |  CAST(len(repl) AS BIGINT) AS n_pii,
        |  array_to_string(list_transform(repl, x ->
        |      split_part(x, chr(1), 1) || '=>' || split_part(x, chr(1), 2)), '|') AS pii_map
        |FROM items""".stripMargin),

    // padding waste of length-sorted batch assembly (batch = 32 docs)
    Query("q160_padding_waste", (s, d) =>
      graft.llmdata.Sampling.paddingWaste(
        t(s, d, "documents").select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens")),
        "doc_id", "n_tokens", 32),
      // same total order (n_tokens, doc_id); DuckDB // ≡ Spark div
      """WITH f AS (SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
        |  FROM documents),
        |r AS (SELECT doc_id, n_tokens,
        |        row_number() OVER (ORDER BY n_tokens, doc_id) - 1 AS rk FROM f)
        |SELECT CAST(rk // 32 AS BIGINT) AS batch_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(MAX(n_tokens) AS BIGINT) AS max_tokens,
        |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
        |  CAST(COUNT(*) * MAX(n_tokens) AS BIGINT) AS padded_tokens,
        |  CAST(COUNT(*) * MAX(n_tokens) - SUM(n_tokens) AS BIGINT) AS waste_tokens,
        |  CAST(COUNT(*) * MAX(n_tokens) - SUM(n_tokens) AS DOUBLE)
        |    / CAST(greatest(COUNT(*) * MAX(n_tokens), 1) AS DOUBLE) AS waste_frac
        |FROM r GROUP BY 1""".stripMargin),

    // upper-triangle embedding covariance (PCA/drift diagnostics input)
    Query("q162_embedding_cov", (s, d) =>
      Similarity.covarianceMatrix(t(s, d, "embeddings"), "vec_id", "embedding"),
      // float products are exact in double; both sum families go through
      // DECIMAL(20,6); cov is the same fixed IEEE tree as the Spark side
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |x AS (SELECT vec_id,
        |    CAST(unnest(generate_series(1, len(emb))) - 1 AS INT) AS i,
        |    unnest(emb) AS xi
        |  FROM e),
        |n1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM e),
        |s AS (SELECT i, CAST(SUM(CAST(xi AS DECIMAL(20,6))) AS DOUBLE) AS si
        |      FROM x GROUP BY 1),
        |p AS (SELECT a.i AS i, b.i AS j,
        |        CAST(SUM(CAST(a.xi * b.xi AS DECIMAL(20,6))) AS DOUBLE) AS sij
        |      FROM x a JOIN x b ON a.vec_id = b.vec_id AND b.i >= a.i
        |      GROUP BY 1, 2)
        |SELECT p.i, p.j, n1.n AS n, p.sij,
        |  (p.sij / CAST(n1.n AS DOUBLE))
        |    - ((sa.si / CAST(n1.n AS DOUBLE)) * (sb.si / CAST(n1.n AS DOUBLE))) AS cov
        |FROM p, n1
        |JOIN s sa ON sa.i = p.i
        |JOIN s sb ON sb.i = p.j""".stripMargin),

    // exact source×source shingle-set Jaccard (content overlap matrix)
    Query("q163_source_overlap", (s, d) =>
      DedupOps.sourceShingleOverlap(t(s, d, "documents"), "source", "text",
        shingleSize = 3),
      // distinct (source, shingle) stream, sizes, shingle-keyed self-join
      """WITH toks AS (SELECT source,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS tk FROM documents),
        |sh0 AS (SELECT source, unnest(list_transform(generate_series(1, len(tk) - 2),
        |          i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS s FROM toks),
        |shd AS (SELECT DISTINCT source, s FROM sh0),
        |sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM shd GROUP BY 1),
        |inter AS (SELECT a.source AS source_a, b.source AS source_b,
        |            CAST(COUNT(*) AS BIGINT) AS n_common
        |          FROM shd a JOIN shd b ON a.s = b.s AND a.source < b.source
        |          GROUP BY 1, 2)
        |SELECT i.source_a, i.source_b, sa.n AS n_a, sb.n AS n_b, i.n_common,
        |  CAST(i.n_common AS DOUBLE)
        |    / CAST(sa.n + sb.n - i.n_common AS DOUBLE) AS jaccard
        |FROM inter i
        |JOIN sizes sa ON sa.source = i.source_a
        |JOIN sizes sb ON sb.source = i.source_b""".stripMargin),

    // CDC retraction maintenance: stored daily partials + a change batch
    // (deletes incl. per-day extremes + inserts) ≡ direct aggregate of
    // the post-CDC state — count/sum retract algebraically, extreme-
    // touching days rebuild day-pruned
    Query("q164_agg_cdc", (s, d) => {
      val ev = t(s, d, "events")
      val stored = graft.operators.AggMerge.dailyPartial(ev, "ts", "value")
      val del = ev.filter(pmod(col("event_id"), lit(7)) === 0)
        .withColumn("op", lit("delete"))
      val ins = ev.filter(pmod(col("event_id"), lit(5)) === 0)
        .select((col("event_id") + 1000000000L).as("event_id"),
          (col("ts") + expr("INTERVAL 1 HOUR")).as("ts"),
          (col("value") * 2).as("value"))
        .withColumn("op", lit("insert"))
      graft.operators.AggMerge.finish(
        graft.operators.AggMerge.applyCdc(stored, ev,
          del.select("op", "event_id", "ts", "value")
            .unionByName(ins.select("op", "event_id", "ts", "value")),
          "event_id", "ts", "value"))
    },
      // the oracle aggregates the post-CDC state directly: the claim is
      // retract-then-merge ≡ recompute, bit-exact (q133's merge analog)
      """WITH ins AS (SELECT event_id + 1000000000 AS event_id,
        |    ts + INTERVAL 1 HOUR AS ts, value * 2 AS value
        |  FROM events WHERE event_id % 5 = 0),
        |new_state AS (
        |  SELECT event_id, ts, value FROM events WHERE event_id % 7 <> 0
        |  UNION ALL SELECT event_id, ts, value FROM ins)
        |SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value,
        |  MIN(value) AS min_value, MAX(value) AS max_value
        |FROM new_state GROUP BY 1""".stripMargin),

    // materialized BM25 inverted index probed at query time — same
    // scoring tree as the live q91 operator, so the oracle is the live
    // SQL on the same terms
    Query("q165_bm25_index_search", (s, d) => {
      val path = java.nio.file.Files.createTempDirectory("graft-bm25").toString + "/idx"
      TextAnalysis.bm25IndexBuild(s, path, t(s, d, "documents"), "doc_id", "text")
      TextAnalysis.bm25IndexSearch(s, path,
        terms = Seq("table", "scan", "join"), k = 5)
    },
      // indexed search ≡ live bm25TopK (q91's SQL, this query's terms)
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |tok2 AS (SELECT doc_id, term FROM toks WHERE length(term) > 0),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok2 GROUP BY 1),
        |stats AS (SELECT CAST(SUM(dl) AS BIGINT) AS total_tokens,
        |            COUNT(*) AS n_docs FROM dl),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok2
        |       WHERE term IN ('table', 'scan', 'join') GROUP BY 1, 2),
        |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |scored AS (
        |  SELECT t.term, t.doc_id, t.tf, f.df, l.dl,
        |    (CAST(s.n_docs AS DOUBLE) / CAST(f.df AS DOUBLE))
        |      * (CAST(t.tf AS DOUBLE) * 2.25)
        |      / (CAST(t.tf AS DOUBLE)
        |        + 1.25 * (1.0 - 0.75 + 0.75 * CAST(l.dl AS DOUBLE)
        |          / (CAST(s.total_tokens AS DOUBLE) / CAST(s.n_docs AS DOUBLE)))) AS score
        |  FROM tf t JOIN dl l USING (doc_id) JOIN dfreq f USING (term)
        |  CROSS JOIN stats s)
        |SELECT term, doc_id, tf, df, dl, score, rank FROM (
        |  SELECT term, doc_id, tf, df, dl, score,
        |    CAST(row_number() OVER (PARTITION BY term
        |      ORDER BY score DESC, doc_id ASC) AS INT) AS rank
        |  FROM scored)
        |WHERE rank <= 5""".stripMargin),

    // last-touch conversion attribution (12 h lookback): purchases
    // credited to the latest prior view/click, else organic; channel
    // rollup with exact decimal revenue
    Query("q166_attribution", (s, d) => {
      val att = graft.operators.Attribution.lastTouch(t(s, d, "events"),
        "user_id", "ts", "event_type", "event_id",
        touchTypes = Seq("view", "click"), conversionType = "purchase",
        lookbackSeconds = 43200L)
      graft.operators.Attribution.channelReport(att, "value")
    },
      // asOf's union+running-last_value shape replicated (same total
      // order: ts, side, touch-id NULLS FIRST — q110 proved the
      // last_value IGNORE NULLS parity); age gate in exact epoch micros
      """WITH conv AS (SELECT event_id, user_id, ts, value FROM events
        |  WHERE event_type = 'purchase'),
        |touch AS (SELECT event_id, user_id, ts, event_type FROM events
        |  WHERE event_type IN ('view', 'click')),
        |u AS (
        |  SELECT user_id, ts, 1 AS side, event_id, value,
        |    NULL::BIGINT AS tid, NULL::VARCHAR AS ttype, NULL::TIMESTAMP AS tts
        |  FROM conv
        |  UNION ALL
        |  SELECT user_id, ts, 0, NULL, NULL, event_id, event_type, ts FROM touch),
        |c AS (SELECT *,
        |   last_value(ttype IGNORE NULLS) OVER w AS a_ttype,
        |   last_value(tts IGNORE NULLS) OVER w AS a_tts
        |   FROM u
        |   WINDOW w AS (PARTITION BY user_id ORDER BY ts, side, tid NULLS FIRST
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT CASE WHEN a_tts IS NOT NULL
        |    AND epoch_us(ts) - epoch_us(a_tts) <= 43200000000
        |    THEN a_ttype ELSE 'organic' END AS channel,
        |  CAST(COUNT(*) AS BIGINT) AS n_conversions,
        |  CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
        |FROM c WHERE side = 1 GROUP BY 1""".stripMargin),

    // market-basket association pairs over 30-min gap-sessions:
    // support / confidence / lift from exact basket counts
    Query("q167_basket_pairs", (s, d) =>
      graft.operators.Patterns.basketPairs(t(s, d, "events"), "user_id",
        "ts", "event_id", "event_type", gapSeconds = 1800L),
      // q87's session CTEs, then distinct (user, session, type) baskets;
      // pair counts via a<b self-join (the Spark side fans out sets —
      // same pair multiset); all measures are exact-BIGINT ratios
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    CAST(ts AS TIMESTAMP) AS ts FROM events),
        |b AS (SELECT user_id, event_id, event_type, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |      THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        |sess AS (SELECT user_id, event_type,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |      ROWS UNBOUNDED PRECEDING) AS session_index
        |  FROM b),
        |bk AS (SELECT DISTINCT user_id, session_index, event_type FROM sess),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_baskets
        |        FROM (SELECT DISTINCT user_id, session_index FROM bk)),
        |sz AS (SELECT event_type AS t, CAST(COUNT(*) AS BIGINT) AS n
        |       FROM bk GROUP BY 1),
        |pr AS (SELECT a.event_type AS type_a, b2.event_type AS type_b,
        |         CAST(COUNT(*) AS BIGINT) AS n_ab
        |       FROM bk a JOIN bk b2 ON a.user_id = b2.user_id
        |         AND a.session_index = b2.session_index
        |         AND a.event_type < b2.event_type
        |       GROUP BY 1, 2)
        |SELECT pr.type_a, pr.type_b, sa.n AS n_a, sb.n AS n_b, pr.n_ab,
        |  tot.n_baskets,
        |  CAST(pr.n_ab AS DOUBLE) / CAST(tot.n_baskets AS DOUBLE) AS support,
        |  CAST(pr.n_ab AS DOUBLE) / CAST(sa.n AS DOUBLE) AS conf_a_b,
        |  CAST(pr.n_ab AS DOUBLE) / CAST(sb.n AS DOUBLE) AS conf_b_a,
        |  CAST(pr.n_ab * tot.n_baskets AS DOUBLE)
        |    / CAST(sa.n * sb.n AS DOUBLE) AS lift
        |FROM pr JOIN sz sa ON sa.t = pr.type_a
        |JOIN sz sb ON sb.t = pr.type_b CROSS JOIN tot""".stripMargin),

    // JL random projection 64→16 dims, md5-Rademacher matrix, map-only
    Query("q168_random_projection", (s, d) =>
      Similarity.randomProjection(t(s, d, "embeddings"), "vec_id",
        "embedding", dim = 64, kOut = 16, seed = 42),
      // same md5-parity sign matrix; decimal products sum in any order
      // (decimal addition is associative), one cast + one sqrt division
      """WITH x AS (SELECT vec_id,
        |    CAST(unnest(generate_series(1, len(embedding))) - 1 AS INT) AS i,
        |    unnest(CAST(embedding AS DOUBLE[])) AS xi
        |  FROM embeddings),
        |jd AS (SELECT CAST(unnest(generate_series(0, 15)) AS INT) AS j),
        |s AS (SELECT x.vec_id, jd.j,
        |    SUM(CAST(x.xi * (CASE WHEN substring(md5(concat('42:', x.i, ':', jd.j)), 1, 1)
        |        IN ('0','2','4','6','8','a','c','e') THEN 1.0 ELSE -1.0 END)
        |      AS DECIMAL(20,6))) AS sdec
        |  FROM x CROSS JOIN jd GROUP BY 1, 2)
        |SELECT vec_id, j, CAST(sdec AS DOUBLE) / sqrt(16.0) AS y FROM s""".stripMargin),

    // per-source z-score of document length: exact decimal moments,
    // single-division (x·n − S)/√(n·Sxx − S²) IEEE tree
    Query("q169_zscore_by_source", (s, d) =>
      graft.operators.Robust.normalizeByGroup(
        t(s, d, "documents").select(col("doc_id"), col("source"), col("n_chars")),
        Seq("source"), "n_chars"),
      // identical moments (decimal-exact) and identical single-division
      // z tree; degenerate/NULL rows normalize to NULL
      """WITH m AS (SELECT source, CAST(COUNT(n_chars) AS BIGINT) AS n,
        |    CAST(SUM(CAST(CAST(n_chars AS DOUBLE) AS DECIMAL(20,6))) AS DOUBLE) AS s,
        |    CAST(SUM(CAST(CAST(n_chars AS DOUBLE) * CAST(n_chars AS DOUBLE)
        |      AS DECIMAL(20,6))) AS DOUBLE) AS sxx
        |  FROM documents GROUP BY 1)
        |SELECT d.doc_id, d.source, d.n_chars,
        |  CASE WHEN d.n_chars IS NOT NULL
        |      AND CAST(m.n AS DOUBLE) * m.sxx - m.s * m.s > 0.0
        |    THEN (CAST(d.n_chars AS DOUBLE) * CAST(m.n AS DOUBLE) - m.s)
        |      / sqrt(CAST(m.n AS DOUBLE) * m.sxx - m.s * m.s)
        |    ELSE NULL END AS n_chars_z
        |FROM documents d JOIN m USING (source)""".stripMargin),

    // exact-count stratified split: per-source ⌊n·w/W⌋ assignment by
    // md5 rank — the proportions-exact complement of q88's hash split
    Query("q170_exact_split", (s, d) =>
      graft.llmdata.Sampling.exactStratifiedSplit(
        t(s, d, "documents").select(col("doc_id"), col("source")),
        "doc_id", "source",
        Seq("train" -> 800L, "val" -> 100L, "test" -> 100L), salt = "s1"),
      // same md5 rank order (hex strings sort identically) and the same
      // integer thresholds — `//` ≡ Spark `div` on non-negatives
      """WITH r AS (SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR) || 's1'), doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY source) AS n
        |  FROM documents)
        |SELECT doc_id, source,
        |  CASE WHEN rn <= (n * 800) // 1000 THEN 'train'
        |       WHEN rn <= (n * 900) // 1000 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM r""".stripMargin),

    // per-user engagement with 7-day staircase half-life decay as of a
    // fixed instant; integer-weighted decimal sum, one 2^-30 scaling
    Query("q171_decayed_engagement", (s, d) =>
      graft.operators.Timeseries.decayedScore(t(s, d, "events"), "user_id",
        "ts", "value", java.sql.Timestamp.valueOf("2024-04-01 00:00:00"),
        halflifeSeconds = 604800L),
      // same integer bucket (// ≡ div), same shifted-integer weights,
      // same decimal sum; 2^-30 scaling is exact in double
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
        |           WHERE ts <= TIMESTAMP '2024-04-01 00:00:00'),
        |b AS (SELECT user_id, value,
        |    (epoch_us(TIMESTAMP '2024-04-01 00:00:00') - epoch_us(ts))
        |      // 604800000000 AS bkt
        |  FROM e)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(20,6))
        |      * (1::BIGINT << CAST(30 - bkt AS INT))) AS DOUBLE)
        |    / 1073741824.0 AS decayed_score
        |FROM b WHERE bkt < 30 GROUP BY 1""".stripMargin),

    // per-source curation decision table: corpus-wide dup charging,
    // decimal-exact mean quality, threshold decision (reviewLowFrac
    // tightened to 0.2 so the synthetic corpus exercises >1 branch)
    Query("q172_source_curation", (s, d) =>
      TextAnalysis.sourceCurationReport(t(s, d, "documents"),
        "doc_id", "source", "text", reviewLowFrac = 0.2),
      // q30's fingerprint keeper + qualityScoreSql, rolled up per source;
      // every compared quantity is an exact ratio or decimal-path mean
      s"""WITH qs AS ($qualityScoreSql),
         |fp AS (SELECT doc_id, source,
         |    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS f
         |  FROM documents),
         |k AS (SELECT f, MIN(doc_id) AS keeper FROM fp GROUP BY 1),
         |d AS (SELECT fp.doc_id, fp.source,
         |    CASE WHEN fp.doc_id <> k.keeper THEN 1 ELSE 0 END AS red
         |  FROM fp JOIN k USING (f)),
         |a AS (SELECT d.source,
         |    CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(d.red) AS BIGINT) AS n_redundant,
         |    CAST(SUM(CAST(q.quality_score AS DECIMAL(20,6))) AS DOUBLE)
         |      / COUNT(q.quality_score) AS avg_quality,
         |    CAST(SUM(CASE WHEN q.quality_score < 0.35 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_low_quality
         |  FROM d JOIN qs q USING (doc_id) GROUP BY 1)
         |SELECT source, n_docs, n_redundant, avg_quality, n_low_quality,
         |  CAST(n_redundant AS DOUBLE) / CAST(n_docs AS DOUBLE) AS dup_frac,
         |  CAST(n_low_quality AS DOUBLE) / CAST(n_docs AS DOUBLE) AS low_quality_frac,
         |  CASE WHEN CAST(n_redundant AS DOUBLE) / CAST(n_docs AS DOUBLE) > 0.5
         |      OR avg_quality < 0.3 THEN 'drop'
         |    WHEN CAST(n_redundant AS DOUBLE) / CAST(n_docs AS DOUBLE) > 0.2
         |      OR CAST(n_low_quality AS DOUBLE) / CAST(n_docs AS DOUBLE) > 0.2
         |      THEN 'review'
         |    ELSE 'keep' END AS decision
         |FROM a""".stripMargin),

    // join-skew diagnosis: top-10 user keys by exact join-output
    // contribution for events ⨝ purchases — the pre-join skew probe
    Query("q173_join_skew_report", (s, d) => {
      val ev = t(s, d, "events")
      graft.operators.Skew.joinSkewReport(ev,
        ev.filter(col("event_type") === "purchase"), "user_id", topN = 10)
    },
      // key histograms, full-outer, exact n_l·n_r contributions; same
      // (contribution DESC, key) total order for the top-10 and ranks
      """WITH la AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_left
        |  FROM events GROUP BY 1),
        |ra AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_right
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |j AS (SELECT user_id, COALESCE(n_left, 0) AS n_left,
        |    COALESCE(n_right, 0) AS n_right,
        |    CAST(COALESCE(n_left, 0) * COALESCE(n_right, 0) AS BIGINT) AS contribution
        |  FROM la FULL OUTER JOIN ra USING (user_id)),
        |t AS (SELECT CAST(SUM(contribution) AS BIGINT) AS total_rows FROM j),
        |top AS (SELECT * FROM j ORDER BY contribution DESC, user_id LIMIT 10)
        |SELECT user_id, n_left, n_right, contribution, t.total_rows,
        |  CAST(contribution AS DOUBLE) / CAST(t.total_rows AS DOUBLE) AS share,
        |  CAST(row_number() OVER (ORDER BY contribution DESC, user_id) AS INT) AS rank
        |FROM top CROSS JOIN t""".stripMargin),

    // time-constrained funnel: each step within 30 min of the previous
    // reach — q95's lifetime funnel with a promptness gate
    Query("q174_funnel_windowed", (s, d) =>
      graft.operators.Funnel.conversion(t(s, d, "events"), "user_id", "ts",
        "event_type", Seq("view", "click", "purchase"),
        maxGapSeconds = Some(1800L)),
      // q95's chain with the exact-microsecond promptness gate per step
      """WITH ev AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        |            FROM events),
        |s1 AS (SELECT user_id, MIN(ts) AS t1 FROM ev
        |            WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM ev e
        |       JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.ts > s1.t1
        |         AND epoch_us(e.ts) - epoch_us(s1.t1) <= 1800000000 GROUP BY 1),
        |s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM ev e
        |       JOIN s2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        |         AND epoch_us(e.ts) - epoch_us(s2.t2) <= 1800000000 GROUP BY 1),
        |n AS (SELECT (SELECT COUNT(*) FROM s1) AS n1,
        |             (SELECT COUNT(*) FROM s2) AS n2,
        |             (SELECT COUNT(*) FROM s3) AS n3)
        |SELECT CAST(1 AS INT) AS step_index, 'view' AS step, n1 AS n_keys,
        |  CASE WHEN n1 = 0 THEN 0.0 ELSE CAST(n1 AS DOUBLE) / CAST(n1 AS DOUBLE) END AS conversion
        |FROM n
        |UNION ALL
        |SELECT CAST(2 AS INT), 'click', n2,
        |  CASE WHEN n1 = 0 THEN 0.0 ELSE CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE) END FROM n
        |UNION ALL
        |SELECT CAST(3 AS INT), 'purchase', n3,
        |  CASE WHEN n1 = 0 THEN 0.0 ELSE CAST(n3 AS DOUBLE) / CAST(n1 AS DOUBLE) END FROM n""".stripMargin),

    // code-mixing report: dominant language + share of profile
    // evidence pointing elsewhere (integer scores, one division)
    Query("q175_code_mixing", (s, d) =>
      TextAnalysis.codeMixing(t(s, d, "documents"), "doc_id", "text",
        TextAnalysis.profileFrame(s)), {
      // q32's profile CTEs; totals + rank-1 slice; BIGINT ratio
      val values = TextAnalysis.languageProfiles.toSeq.sortBy(_._1)
        .flatMap { case (l, ts) => ts.map { case (t, w) => s"('$l','$t',$w)" } }
        .mkString(", ")
      s"""WITH prof AS (SELECT * FROM (VALUES $values) t(lang, term, weight)),
         |toks AS (SELECT doc_id,
         |    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
         |  FROM documents),
         |scored AS (SELECT doc_id, p.lang, CAST(SUM(weight) AS BIGINT) AS score
         |  FROM toks JOIN prof p USING (term) GROUP BY 1, 2),
         |ranked AS (SELECT doc_id, lang, score, row_number() OVER (
         |    PARTITION BY doc_id ORDER BY score DESC, lang ASC) AS rn FROM scored),
         |tot AS (SELECT doc_id, CAST(SUM(score) AS BIGINT) AS total_score,
         |    CAST(COUNT(*) AS BIGINT) AS n_langs FROM scored GROUP BY 1)
         |SELECT d.doc_id, COALESCE(r.lang, 'und') AS dominant_lang,
         |  COALESCE(t.n_langs, 0) AS n_langs,
         |  COALESCE(t.total_score, 0) AS total_score,
         |  COALESCE(r.score, 0) AS best_score,
         |  CASE WHEN COALESCE(t.total_score, 0) > 0
         |    THEN CAST(t.total_score - r.score AS DOUBLE)
         |      / CAST(t.total_score AS DOUBLE)
         |    ELSE 0.0 END AS mixing_ratio
         |FROM documents d
         |LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) r ON d.doc_id = r.doc_id
         |LEFT JOIN tot t ON d.doc_id = t.doc_id""".stripMargin
    }),

    // explicit GROUPING SETS (neither cube nor rollup): chosen subtotal
    // combos only, grouping_id disambiguates
    Query("q176_grouping_sets", (s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("q176_lineitem")
      s.sql("""SELECT l_returnflag, l_linestatus,
        CAST(grouping_id() AS INT) AS gid,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sum_qty
        FROM q176_lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())""")
    },
      // same sets, same GROUPING bit convention as q122
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())""".stripMargin),

    // time-to-convert: every click's NEXT purchase via the forward
    // as-of join; gap in exact microseconds
    Query("q177_next_purchase", (s, d) => {
      val ev = t(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("p_ts", col("ts"))
      graft.operators.AsOfJoin.asOfForward(clicks, purchases, "user_id",
          "ts", "event_id", Seq("p_ts"))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("asof_event_id").as("next_purchase_id"),
          col("asof_p_ts").as("next_purchase_ts"),
          (unix_micros(col("asof_p_ts").cast("timestamp")) -
            unix_micros(col("ts").cast("timestamp"))).as("gap_us"))
    },
      // rank-1 of (p.ts, p.event_id) per click ≡ the forward-asOf tie
      // rule (earliest ts, then smallest id); LEFT JOIN keeps organics
      """WITH c AS (SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'click'),
        |p AS (SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'purchase'),
        |j AS (SELECT c.event_id, c.user_id, c.ts,
        |    p.event_id AS pid, p.ts AS pts,
        |    row_number() OVER (PARTITION BY c.event_id
        |      ORDER BY p.ts, p.event_id) AS rn
        |  FROM c LEFT JOIN p ON c.user_id = p.user_id AND p.ts >= c.ts)
        |SELECT event_id, user_id, ts, pid AS next_purchase_id,
        |  pts AS next_purchase_ts,
        |  epoch_us(CAST(pts AS TIMESTAMP)) - epoch_us(CAST(ts AS TIMESTAMP)) AS gap_us
        |FROM j WHERE rn = 1""".stripMargin),

    // pairwise Pearson matrix over four lineitem measures — one
    // aggregate pass of decimal-exact moments, single-division trees
    Query("q178_correlation_matrix", (s, d) =>
      graft.operators.Profile.correlationMatrix(t(s, d, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")), {
      // generated from the SAME column list as the operator call — one
      // moments CTE, one UNION ALL row per pair, identical IEEE trees
      val cs = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val prs = for { i <- cs.indices; j <- i + 1 until cs.size }
        yield (cs(i), cs(j))
      val moments =
        (Seq("CAST(COUNT(*) AS BIGINT) AS n") ++
          cs.map(c => s"CAST(SUM(CAST($c AS DECIMAL(20,6))) AS DOUBLE) AS s_$c") ++
          cs.map(c => s"CAST(SUM(CAST($c * $c AS DECIMAL(20,6))) AS DOUBLE) AS ss_$c") ++
          prs.map { case (a, b) =>
            s"CAST(SUM(CAST($a * $b AS DECIMAL(20,6))) AS DOUBLE) AS p_${a}_$b" })
          .mkString(",\n    ")
      val notNull = cs.map(c => s"$c IS NOT NULL").mkString(" AND ")
      val rows = prs.map { case (a, b) =>
        val (da, db) = (s"(CAST(n AS DOUBLE) * ss_$a - s_$a * s_$a)",
          s"(CAST(n AS DOUBLE) * ss_$b - s_$b * s_$b)")
        s"""SELECT '$a' AS col_a, '$b' AS col_b, n,
           |  CASE WHEN $da > 0.0 AND $db > 0.0
           |    THEN (CAST(n AS DOUBLE) * p_${a}_$b - s_$a * s_$b)
           |      / (sqrt($da) * sqrt($db)) END AS corr FROM m""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"WITH m AS (SELECT\n    $moments\n  FROM lineitem WHERE $notNull)\n$rows"
    }),

    // time-to-convert per funnel step: exact-microsecond gaps between
    // successive reach times, aggregated per step
    Query("q179_funnel_gaps", (s, d) =>
      graft.operators.Funnel.stepGaps(t(s, d, "events"), "user_id", "ts",
        "event_type", Seq("view", "click", "purchase")),
      // q95's reach CTEs; per-step gap aggregates, avg = exact BIGINT
      // sum / count in one division
      """WITH ev AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        |            FROM events),
        |s1 AS (SELECT user_id, MIN(ts) AS t1 FROM ev
        |            WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM ev e
        |       JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM ev e
        |       JOIN s2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1),
        |g2 AS (SELECT epoch_us(s2.t2) - epoch_us(s1.t1) AS g
        |       FROM s2 JOIN s1 USING (user_id)),
        |g3 AS (SELECT epoch_us(s3.t3) - epoch_us(s2.t2) AS g
        |       FROM s3 JOIN s2 USING (user_id))
        |SELECT CAST(2 AS INT) AS step_index, 'click' AS step,
        |  CAST(COUNT(*) AS BIGINT) AS n_keys,
        |  CAST(SUM(g) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_gap_us,
        |  MIN(g) AS min_gap_us, MAX(g) AS max_gap_us FROM g2
        |UNION ALL
        |SELECT CAST(3 AS INT), 'purchase', CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(g) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE),
        |  MIN(g), MAX(g) FROM g3""".stripMargin),

    // what the q172 decisions would do to the corpus: doc and token
    // volume per decision (the "how much data survives" readout)
    Query("q180_curation_impact", (s, d) => {
      val docs = t(s, d, "documents")
      val decisions = TextAnalysis.sourceCurationReport(docs,
        "doc_id", "source", "text", reviewLowFrac = 0.2)
        .select(col("source"), col("decision"))
      docs.select(col("source"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("__tok"))
        .join(broadcast(decisions), Seq("source"))
        .groupBy(col("decision"))
        .agg(countDistinct(col("source")).as("n_sources"),
          count(lit(1)).as("n_docs"),
          sum(col("__tok")).cast("long").as("total_tokens"))
    },
      // q172's decision CTEs rolled up to per-decision volumes
      s"""WITH qs AS ($qualityScoreSql),
         |fp AS (SELECT doc_id, source,
         |    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS f
         |  FROM documents),
         |k AS (SELECT f, MIN(doc_id) AS keeper FROM fp GROUP BY 1),
         |d AS (SELECT fp.doc_id, fp.source,
         |    CASE WHEN fp.doc_id <> k.keeper THEN 1 ELSE 0 END AS red
         |  FROM fp JOIN k USING (f)),
         |a AS (SELECT d.source,
         |    CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(d.red) AS BIGINT) AS n_redundant,
         |    CAST(SUM(CAST(q.quality_score AS DECIMAL(20,6))) AS DOUBLE)
         |      / COUNT(q.quality_score) AS avg_quality,
         |    CAST(SUM(CASE WHEN q.quality_score < 0.35 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_low_quality
         |  FROM d JOIN qs q USING (doc_id) GROUP BY 1),
         |dec AS (SELECT source,
         |  CASE WHEN CAST(n_redundant AS DOUBLE) / CAST(n_docs AS DOUBLE) > 0.5
         |      OR avg_quality < 0.3 THEN 'drop'
         |    WHEN CAST(n_redundant AS DOUBLE) / CAST(n_docs AS DOUBLE) > 0.2
         |      OR CAST(n_low_quality AS DOUBLE) / CAST(n_docs AS DOUBLE) > 0.2
         |      THEN 'review'
         |    ELSE 'keep' END AS decision
         |  FROM a),
         |toks AS (SELECT source,
         |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS tok
         |  FROM documents)
         |SELECT dec.decision,
         |  CAST(COUNT(DISTINCT toks.source) AS BIGINT) AS n_sources,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(toks.tok) AS BIGINT) AS total_tokens
         |FROM toks JOIN dec USING (source)
         |GROUP BY 1""".stripMargin),

    // systematic token-proportional sampling: exactly 100 grid hits on
    // the cumulative-token line in hash order, all-integer hit counts
    Query("q181_systematic_pps", (s, d) =>
      graft.llmdata.Sampling.systematicWeighted(
        t(s, d, "documents").select(col("doc_id"),
            TextAnalysis.tokenCount(col("text")).cast("long").as("w"))
          .filter(col("w") > 0),
        "doc_id", "w", k = 100L, salt = "pps1"),
      // one global cumsum window (fine at oracle scale; the operator
      // decomposes it by hash-prefix bucket), identical ceil-div grid
      """WITH f AS (SELECT doc_id,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS w
        |  FROM documents),
        |g AS (SELECT doc_id, w, md5(CAST(doc_id AS VARCHAR) || 'pps1') AS h
        |  FROM f WHERE w > 0),
        |c AS (SELECT doc_id, w,
        |    SUM(w) OVER (ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) AS cw
        |  FROM g),
        |t AS (SELECT MAX(cw) AS tw FROM c)
        |SELECT doc_id, w,
        |  CAST(((cw * 100 + tw - 1) // tw)
        |    - (((cw - w) * 100 + tw - 1) // tw) AS BIGINT) AS n_hits
        |FROM c CROSS JOIN t
        |WHERE ((cw * 100 + tw - 1) // tw)
        |    - (((cw - w) * 100 + tw - 1) // tw) >= 1""".stripMargin),

    // deterministic ~10k-token corpus slice: hash-order prefix under
    // the budget (budgets NEST: a smaller budget is a prefix)
    Query("q182_token_budget", (s, d) =>
      graft.llmdata.Sampling.tokenBudgetSubset(
        t(s, d, "documents").select(col("doc_id"),
            TextAnalysis.tokenCount(col("text")).cast("long").as("w"))
          .filter(col("w") > 0),
        "doc_id", "w", budget = 10000L, salt = "tb1"),
      // same cumsum, inclusive-budget prefix
      """WITH f AS (SELECT doc_id,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS w
        |  FROM documents),
        |g AS (SELECT doc_id, w, md5(CAST(doc_id AS VARCHAR) || 'tb1') AS h
        |  FROM f WHERE w > 0),
        |c AS (SELECT doc_id, w,
        |    CAST(SUM(w) OVER (ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_weight
        |  FROM g)
        |SELECT doc_id, w, cum_weight FROM c WHERE cum_weight <= 10000""".stripMargin),

    // RFM segmentation: recency/frequency/monetary quintiles via the
    // scale-safe globalNtile (≡ plain NTILE, oracle runs the window)
    Query("q183_rfm_segments", (s, d) =>
      graft.operators.Retention.rfm(t(s, d, "events"), "user_id", "ts",
        "value", nBuckets = 5),
      // plain NTILE windows — globalNtile reproduces them bit-exactly
      // (the q92 parity family); ties (score DESC, user ASC)
      """WITH u AS (SELECT user_id,
        |    CAST(epoch_us(CAST(MAX(ts) AS TIMESTAMP)) AS BIGINT) AS last_us,
        |    CAST(COUNT(*) AS BIGINT) AS frequency,
        |    CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS monetary
        |  FROM events GROUP BY 1)
        |SELECT user_id, last_us, frequency, monetary, r, f, m,
        |  CAST(r AS VARCHAR) || CAST(f AS VARCHAR) || CAST(m AS VARCHAR)
        |    AS rfm_segment
        |FROM (SELECT user_id, last_us, frequency, monetary,
        |  CAST(ntile(5) OVER (ORDER BY last_us DESC, user_id ASC) AS INT) AS r,
        |  CAST(ntile(5) OVER (ORDER BY frequency DESC, user_id ASC) AS INT) AS f,
        |  CAST(ntile(5) OVER (ORDER BY monetary DESC, user_id ASC) AS INT) AS m
        |FROM u)""".stripMargin),

    // level-shift change point per event type over daily revenue:
    // running decimal sums, one division per candidate boundary
    Query("q184_level_shift", (s, d) =>
      graft.operators.Timeseries.levelShift(t(s, d, "events"),
        "event_type", "ts", "value"),
      // same running-decimal-sum scan; argmax ties to the earliest day
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS v
        |  FROM events GROUP BY 1, 2),
        |c AS (SELECT event_type, day, v,
        |    CAST(row_number() OVER w AS BIGINT) AS i,
        |    CAST(SUM(v) OVER (PARTITION BY event_type ORDER BY day ASC
        |      ROWS UNBOUNDED PRECEDING) AS DECIMAL(38,6)) AS si,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
        |    CAST(SUM(v) OVER (PARTITION BY event_type) AS DECIMAL(38,6)) AS sn
        |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day ASC)),
        |s AS (SELECT event_type, day, i, n,
        |    CAST(si AS DOUBLE) / CAST(i AS DOUBLE) AS mean_before,
        |    CAST(sn - si AS DOUBLE) / CAST(n - i AS DOUBLE) AS mean_after
        |  FROM c WHERE i < n)
        |SELECT event_type, day AS boundary_day, n AS n_days,
        |  mean_before, mean_after, abs(mean_before - mean_after) AS shift
        |FROM (SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY abs(mean_before - mean_after) DESC, day ASC) AS rk
        |  FROM s)
        |WHERE rk = 1""".stripMargin),

    // Pareto 80/20: sources ranked by token volume with cumulative
    // share; head = minimal prefix covering 80%
    Query("q185_pareto_sources", (s, d) =>
      graft.operators.Profile.paretoReport(
        t(s, d, "documents").select(col("source"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("w")),
        "source", "w"),
      // decimal group sums, one window ordered (weight DESC, source);
      // in_head = share-before-this-row still under 0.8
      """WITH g AS (SELECT source,
        |    CAST(SUM(CAST(CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |        ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT)
        |      AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS w
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(SUM(w) AS DECIMAL(38,6)) AS tw FROM g)
        |SELECT source,
        |  CAST(row_number() OVER ord AS INT) AS rank,
        |  CAST(w AS DOUBLE) AS weight,
        |  CAST(w AS DOUBLE) / CAST(tw AS DOUBLE) AS share,
        |  CAST(SUM(w) OVER cum AS DOUBLE) / CAST(tw AS DOUBLE) AS cum_share,
        |  CAST(SUM(w) OVER cum - w AS DOUBLE) / CAST(tw AS DOUBLE) < 0.8
        |    AS in_head
        |FROM g CROSS JOIN t
        |WINDOW ord AS (ORDER BY w DESC, source ASC),
        |  cum AS (ORDER BY w DESC, source ASC ROWS UNBOUNDED PRECEDING)""".stripMargin),

    // week-over-week revenue: prior period by CALENDAR join (row-lag
    // misaligns on gap days), guarded relative delta
    Query("q186_week_over_week", (s, d) =>
      graft.operators.Timeseries.periodOverPeriod(t(s, d, "events"),
        "ts", "value", lagDays = 7),
      // daily exact sums; prior period via calendar-day self-join
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS n_events,
        |    CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
        |  FROM events GROUP BY 1)
        |SELECT d.day, d.n_events, d.sum_value,
        |  p.n_events AS prior_n_events, p.sum_value AS prior_sum_value,
        |  d.sum_value - p.sum_value AS delta,
        |  CASE WHEN p.sum_value IS NOT NULL AND p.sum_value <> 0.0
        |    THEN (d.sum_value - p.sum_value) / p.sum_value END AS pct_change
        |FROM daily d
        |LEFT JOIN daily p ON d.day = p.day + INTERVAL 7 DAY""".stripMargin),

    // cohort revenue / LTV curve: weekly + running cohort revenue,
    // cumulative per first-week member
    Query("q187_cohort_ltv", (s, d) =>
      graft.operators.Retention.cohortRevenue(t(s, d, "events"),
        "user_id", "ts", "value"),
      // q109's cohort CTEs + decimal weekly sums, running window per
      // cohort, LTV = cum / first-week cohort size
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |f AS (SELECT user_id, MIN(ts) AS first_ts FROM e GROUP BY 1),
        |t AS (SELECT e.user_id,
        |    CAST(date_trunc('week', f.first_ts) AS DATE) AS cohort_week,
        |    CAST(floor(date_diff('day', CAST(f.first_ts AS DATE),
        |      CAST(e.ts AS DATE)) / 7.0) AS INT) AS week_index,
        |    e.value
        |  FROM e JOIN f USING (user_id)),
        |sizes AS (SELECT CAST(date_trunc('week', first_ts) AS DATE) AS cohort_week,
        |    COUNT(DISTINCT user_id) AS cohort_size FROM f GROUP BY 1),
        |weekly AS (SELECT cohort_week, week_index,
        |    COUNT(DISTINCT user_id) AS n_active,
        |    CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS rev
        |  FROM t GROUP BY 1, 2),
        |cum AS (SELECT cohort_week, week_index, n_active, rev,
        |    CAST(SUM(rev) OVER (PARTITION BY cohort_week ORDER BY week_index ASC
        |      ROWS UNBOUNDED PRECEDING) AS DECIMAL(38,6)) AS cumrev
        |  FROM weekly)
        |SELECT c.cohort_week, c.week_index, c.n_active, s.cohort_size,
        |  CAST(c.rev AS DOUBLE) AS revenue,
        |  CAST(c.cumrev AS DOUBLE) AS cum_revenue,
        |  CAST(c.cumrev AS DOUBLE) / CAST(s.cohort_size AS DOUBLE) AS ltv_per_user
        |FROM cum c JOIN sizes s USING (cohort_week)""".stripMargin),

    // search-result snippets: ±3 tokens around each term's first hit
    Query("q188_kwic_snippets", (s, d) =>
      TextAnalysis.kwicSnippets(t(s, d, "documents"), "doc_id", "text",
        terms = Seq("vector", "hash", "merge"), window = 3),
      // list_position = 1-based first hit ≡ min(pos)+1 (0 = absent);
      // inclusive slice tk[a:b] ≡ slice(toks, a, b-a+1)
      """WITH toks AS (SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS tk FROM documents),
        |hits AS (SELECT doc_id, t.term,
        |    CAST(list_position(tk, t.term) AS BIGINT) AS position, tk
        |  FROM toks CROSS JOIN (VALUES ('vector'), ('hash'), ('merge')) t(term)
        |  WHERE list_position(tk, t.term) > 0)
        |SELECT doc_id, term, position,
        |  array_to_string(tk[CAST(greatest(position - 3, 1) AS INT)
        |    : CAST(position + 3 AS INT)], ' ') AS snippet
        |FROM hits""".stripMargin),

    // weakly-connected components of the high-quantity co-purchase
    // graph (parts sharing an order) — generic min-label propagation
    Query("q189_copurchase_components", (s, d) => {
      val li = t(s, d, "lineitem").filter(col("l_quantity") >= 48)
        .select(col("l_orderkey"), col("l_partkey"))
      val edges = li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey")
            && col("a.l_partkey") < col("b.l_partkey"))
        .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
        .distinct()
      graft.operators.Graph.connectedComponents(edges, "src", "dst")
    },
      // transitive closure by recursive CTE; component = MIN reachable
      // node ≡ the operator's converged min-label
      """WITH RECURSIVE e0 AS (
        |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM lineitem a JOIN lineitem b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  WHERE a.l_quantity >= 48 AND b.l_quantity >= 48),
        |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        |n AS (SELECT DISTINCT src AS node FROM e),
        |reach(node, root) AS (
        |  SELECT node, node FROM n
        |  UNION
        |  SELECT e.dst, r.root FROM reach r JOIN e ON e.src = r.node)
        |SELECT node AS node_id, CAST(MIN(root) AS BIGINT) AS component_id
        |FROM reach GROUP BY 1""".stripMargin),

    // top-20 three-step session flows (sliding path 3-grams that never
    // cross a session boundary)
    Query("q190_top_paths", (s, d) =>
      graft.operators.Sessionize.pathNgrams(t(s, d, "events"), "user_id",
        "ts", "event_id", "event_type", gapSeconds = 1800L, n = 3,
        topK = 20),
      // q87's session CTEs + two leads over the same session order;
      // rank over the top-20 only, ties by path
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    CAST(ts AS TIMESTAMP) AS ts FROM events),
        |b AS (SELECT user_id, event_id, event_type, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |      THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        |sess AS (SELECT user_id, event_id, event_type, ts,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |      ROWS UNBOUNDED PRECEDING) AS session_index
        |  FROM b),
        |p AS (SELECT event_type || ' > ' || lead(event_type, 1) OVER w
        |      || ' > ' || lead(event_type, 2) OVER w AS path,
        |    lead(event_type, 2) OVER w AS last_step
        |  FROM sess WINDOW w AS (PARTITION BY user_id, session_index
        |    ORDER BY ts ASC, event_id ASC)),
        |c AS (SELECT path, CAST(COUNT(*) AS BIGINT) AS n_occurrences
        |  FROM p WHERE last_step IS NOT NULL GROUP BY 1
        |  ORDER BY n_occurrences DESC, path ASC LIMIT 20)
        |SELECT path, n_occurrences,
        |  CAST(row_number() OVER (ORDER BY n_occurrences DESC, path ASC) AS INT)
        |    AS rank
        |FROM c""".stripMargin),

    // per-user cadence: median and p90 inter-event gap (whole seconds)
    // via the exact grouped value-count quantiles
    Query("q191_user_cadence", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val gaps = t(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("__us", unix_micros(col("ts").cast("timestamp")))
        .withColumn("__gap_us", col("__us") - lag(col("__us"), 1).over(w))
        .filter(col("__gap_us").isNotNull)
        .withColumn("gap_s", expr("__gap_us div 1000000L"))
      graft.operators.Profile.quantilesFromCountsBy(
        graft.operators.Profile.quantilePartialBy(gaps, "user_id", "gap_s"),
        Seq((1, 2), (9, 10)))
    },
      // q155's rational-threshold quantile CTEs over integer-second gaps
      """WITH e AS (SELECT user_id, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |g AS (SELECT user_id,
        |    (us - lag(us) OVER (PARTITION BY user_id ORDER BY us ASC, event_id ASC))
        |      // 1000000 AS gap_s
        |  FROM e),
        |c AS (SELECT user_id AS grp, gap_s AS value, CAST(COUNT(*) AS BIGINT) AS cnt
        |      FROM g WHERE gap_s IS NOT NULL GROUP BY 1, 2),
        |cum AS (SELECT grp, value,
        |          CAST(SUM(cnt) OVER (PARTITION BY grp ORDER BY value) AS BIGINT) AS cum,
        |          CAST(SUM(cnt) OVER (PARTITION BY grp) AS BIGINT) AS n FROM c),
        |qs AS (SELECT * FROM (VALUES (1, 2), (9, 10)) AS t(q_num, q_den))
        |SELECT grp, q_num, q_den, MIN(value) AS quantile_value, CAST(MIN(n) AS BIGINT) AS n
        |FROM qs JOIN cum ON cum.cum * qs.q_den >= qs.q_num * cum.n
        |GROUP BY 1, 2, 3""".stripMargin),

    // bloom-prefiltered semi-join: result ≡ plain semi-join (the bloom
    // only thins the fact scan); oracle is the plain EXISTS form
    Query("q161_bloom_semijoin", (s, d) =>
      graft.operators.BloomJoin.semiJoin(
        t(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey")),
        t(s, d, "part").filter(col("p_size") < 10)
          .select(col("p_partkey").as("l_partkey")),
        "l_partkey", expectedItems = 10000L),
      // the bloom filter is plan-only: the exact semi-join defines results
      """SELECT l.l_orderkey, l.l_linenumber, l.l_partkey
        |FROM lineitem l
        |WHERE EXISTS (SELECT 1 FROM part p
        |              WHERE p.p_partkey = l.l_partkey AND p.p_size < 10)""".stripMargin),

    // per-source length quantiles: grouped value-count maps, the
    // cumulative window partitioned by group (no single-partition stage)
    Query("q155_quantiles_by_source", (s, d) =>
      graft.operators.Profile.quantilesFromCountsBy(
        graft.operators.Profile.quantilePartialBy(
          t(s, d, "documents"), "source", "n_chars"),
        Seq((1, 2), (9, 10))),
      // grouped twin of q153's threshold: PARTITION BY grp in both
      // windows, same integer cross-multiplication
      """WITH c AS (SELECT source AS grp, n_chars AS value, CAST(COUNT(*) AS BIGINT) AS cnt
        |           FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
        |cum AS (SELECT grp, value,
        |          CAST(SUM(cnt) OVER (PARTITION BY grp ORDER BY value) AS BIGINT) AS cum,
        |          CAST(SUM(cnt) OVER (PARTITION BY grp) AS BIGINT) AS n FROM c),
        |qs AS (SELECT * FROM (VALUES (1, 2), (9, 10)) AS t(q_num, q_den))
        |SELECT grp, q_num, q_den, MIN(value) AS quantile_value, CAST(MIN(n) AS BIGINT) AS n
        |FROM qs JOIN cum ON cum.cum * qs.q_den >= qs.q_num * cum.n
        |GROUP BY 1, 2, 3""".stripMargin),

    // median/MAD robust length-outlier gate, all integer arithmetic
    Query("q154_mad_outliers", (s, d) =>
      graft.operators.Robust.madOutliers(
        t(s, d, "documents").select(col("doc_id"), col("n_chars")),
        "n_chars", k = 2),
      // mirrors madOutliers with the same LOWER-median definition
      // (min value with cum*2 >= n) at both stages; everything integer
      """WITH c AS (SELECT n_chars AS value, CAST(COUNT(*) AS BIGINT) AS cnt
        |           FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
        |cum AS (SELECT value, CAST(SUM(cnt) OVER (ORDER BY value) AS BIGINT) AS cum,
        |               CAST(SUM(cnt) OVER () AS BIGINT) AS n FROM c),
        |med AS (SELECT MIN(value) AS m FROM cum WHERE cum * 2 >= n),
        |dc AS (SELECT abs(c.value - med.m) AS value, CAST(SUM(cnt) AS BIGINT) AS cnt
        |       FROM c CROSS JOIN med GROUP BY 1),
        |dcum AS (SELECT value, CAST(SUM(cnt) OVER (ORDER BY value) AS BIGINT) AS cum,
        |                CAST(SUM(cnt) OVER () AS BIGINT) AS n FROM dc),
        |mad AS (SELECT MIN(value) AS m FROM dcum WHERE cum * 2 >= n)
        |SELECT d.doc_id, d.n_chars, med.m AS median,
        |  abs(d.n_chars - med.m) AS abs_dev, mad.m AS mad,
        |  COALESCE(abs(d.n_chars - med.m) > 2 * mad.m, FALSE) AS is_outlier
        |FROM documents d CROSS JOIN med CROSS JOIN mad""".stripMargin),

    // mergeable exact-quantile partials: 3 arbitrary shards -> merge ->
    // rational-threshold quantiles; oracle computes directly (merge
    // correctness IS the claim, like q149's heavy-hitter partials)
    Query("q153_quantile_partials", (s, d) => {
      val li = t(s, d, "lineitem")
      val shards = (0 until 3).map(i =>
        graft.operators.Profile.quantilePartial(
          li.filter(pmod(col("l_orderkey"), lit(3)) === i), "l_quantity"))
      graft.operators.Profile.quantilesFromCounts(
        graft.operators.Profile.mergeQuantilePartials(shards),
        Seq((1, 2), (9, 10), (99, 100)))
    },
      // computes the quantiles DIRECTLY (no sharding): equality proves the
      // shard->merge path loses nothing; cum*den >= num*n is the same
      // integer cross-multiplied threshold, no float ceil
      """WITH c AS (SELECT l_quantity AS value, CAST(COUNT(*) AS BIGINT) AS cnt
        |           FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1),
        |cum AS (SELECT value, cnt,
        |          CAST(SUM(cnt) OVER (ORDER BY value) AS BIGINT) AS cum,
        |          CAST(SUM(cnt) OVER () AS BIGINT) AS n FROM c),
        |qs AS (SELECT * FROM (VALUES (1, 2), (9, 10), (99, 100)) AS t(q_num, q_den))
        |SELECT q_num, q_den, MIN(value) AS quantile_value, CAST(MIN(n) AS BIGINT) AS n
        |FROM qs JOIN cum ON cum.cum * qs.q_den >= qs.q_num * cum.n
        |GROUP BY 1, 2""".stripMargin),

    Query("q41_cosine_neardup", (s, d) =>
      Similarity.cosineNearDupPairs(
        t(s, d, "embeddings").filter(col("vec_id") < 500), "vec_id", "embedding",
        threshold = 0.35, bits = 8)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine")), {
      // multi-probe near-dup: pairs whose buckets are within Hamming 1
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
         |    ${bucketSql(8)} AS bucket FROM embeddings WHERE vec_id < 500)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  ROUND(list_dot_product(a.emb, b.emb)
         |    / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))), 6) AS cosine
         |FROM v a JOIN v b ON bit_count(xor(a.bucket, b.bucket)) <= 1 AND a.vec_id < b.vec_id
         |WHERE list_dot_product(a.emb, b.emb)
         |    / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))) >= 0.35""".stripMargin
    }),

    Query("q42_simhash_pairs", (s, d) =>
      DedupOps.simhashPairs(t(s, d, "documents"), "doc_id", "text", maxHamming = 2), {
      // same two-half 64-bit fingerprint as q35's oracle; the pair scan is
      // exact all-pairs, so blocking recall is proven against ground truth
      val bitTerms = (0 until 64).map { b =>
        val h = if (b < 32) "hlo" else "hhi"
        s"(CASE WHEN SUM((($h >> ${b % 32}) & 1) * 2 - 1) > 0 THEN ${1L << b} ELSE 0 END)"
      }
      s"""WITH s AS (
         |  SELECT doc_id, CAST(${bitTerms.mkString(" + ")} AS BIGINT) AS simhash
         |  FROM (SELECT doc_id,
         |      CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) AS hhi,
         |      CAST(concat('0x', substr(md5(tok), 9, 8)) AS BIGINT) AS hlo
         |    FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
         |      FROM documents))
         |  GROUP BY doc_id)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
         |FROM s a JOIN s b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 2""".stripMargin
    }),

    // salted two-phase aggregation must equal the plain aggregate (the
    // oracle IS the unsalted SQL) — proves skew mitigation is semantics-free
    Query("q43_salted_agg", (s, d) =>
      graft.operators.Skew.saltedAgg(t(s, d, "lineitem"), Seq("l_returnflag"), salts = 16,
        partial = Seq(count(lit(1)).as("c"), sum(col("l_quantity").cast("decimal(20,6)")).as("q")),
        merge = Seq(sum(col("c")).as("cnt"), sum(col("q")).cast("double").as("sum_qty"))),
      s"""SELECT l_returnflag, COUNT(*) AS cnt, ${sqlSum("l_quantity")} AS sum_qty
         |FROM lineitem GROUP BY 1""".stripMargin),

    // mapPartitions codec plumbing (Scala analog of mapInPandas)
    Query("q44_codec_decode", (s, d) =>
      Multimodal.decodeWithCodec(
        Multimodal.fromDocuments(t(s, d, "documents"), "doc_id", "text"))
        .toDF().select("asset_id", "byte_len", "checksum"),
      """SELECT CAST(doc_id AS BIGINT) AS asset_id,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len,
        |  md5(text) AS checksum
        |FROM documents""".stripMargin),

    // the REAL trip-schema silver layer (Layers.silver) over mapped lineitem
    Query("q46_trip_silver", (s, d) =>
      Layers.silver(tripFromLineitem(t(s, d, "lineitem")))
        .select("unique_trip_id", "vendor_name", "rate_description",
          "payment_description", "trip_duration_minutes",
          "fare_amount", "tip_amount", "total_amount"),
      (tripSilverSql + "\n" +
        """SELECT unique_trip_id, vendor_name, rate_description, payment_description,
          |  trip_duration_minutes, fare_amount, tip_amount, total_amount
          |FROM silver""".stripMargin)),

    // the REAL gold payment summary chained through Layers.silver
    Query("q47_trip_gold_payment", (s, d) =>
      Layers.goldPayment(Layers.silver(tripFromLineitem(t(s, d, "lineitem")))),
      (tripSilverSql + "\n" +
        s"""SELECT payment_description, trip_count, total_revenue, total_tips,
           |  ROUND(CASE WHEN total_revenue <= 0 THEN 0
           |    ELSE total_tips / total_revenue * 100 END, 2) AS avg_tip_percent
           |FROM (
           |  SELECT COALESCE(payment_description, 'Unknown') AS payment_description,
           |    COUNT(*) AS trip_count,
           |    ${sqlSum("total_amount")} AS total_revenue,
           |    ${sqlSum("tip_amount")} AS total_tips
           |  FROM silver GROUP BY 1)""".stripMargin)),

    Query("q48_trip_gold_daily", (s, d) =>
      Layers.goldDaily(Layers.silver(tripFromLineitem(t(s, d, "lineitem"))))
        .withColumn("trip_date", date_format(col("trip_date"), "yyyy-MM-dd")),
      (tripSilverSql + "\n" +
        s"""SELECT strftime(pickup, '%Y-%m-%d') AS trip_date,
           |  COUNT(*) AS total_trips,
           |  CAST(SUM(passenger_count) AS BIGINT) AS total_passengers,
           |  ${sqlSum("trip_distance")} AS total_distance_miles,
           |  ${sqlSum("total_amount")} AS total_revenue,
           |  ${sqlSum("tip_amount")} AS total_tips,
           |  ${sqlAvg("fare_amount")} AS avg_fare,
           |  ${sqlAvg("trip_distance")} AS avg_trip_distance
           |FROM silver GROUP BY 1""".stripMargin)),

    Query("q49_trip_gold_monthly", (s, d) =>
      Layers.goldMonthly(Layers.silver(tripFromLineitem(t(s, d, "lineitem")))),
      (tripSilverSql + "\n" +
        s"""SELECT date_trunc('month', pickup) AS revenue_month,
           |  ${sqlSum("total_amount")} AS total_monthly_revenue,
           |  CAST(SUM(passenger_count) AS BIGINT) AS total_monthly_passengers,
           |  COUNT(*) AS total_monthly_trips,
           |  ${sqlAvg("trip_distance")} AS avg_trip_distance
           |FROM silver GROUP BY 1""".stripMargin)),

    Query("q50_trip_gold_zone", (s, d) =>
      Layers.goldZone(Layers.silver(tripFromLineitem(t(s, d, "lineitem")))),
      (tripSilverSql + "\n" +
        s"""SELECT date_trunc('month', pickup) AS revenue_month, pulocationid,
           |  ${sqlSum("total_amount")} AS total_revenue,
           |  COUNT(*) AS total_trips
           |FROM silver GROUP BY 1, 2""".stripMargin)),

    Query("q51_trip_gold_vendor", (s, d) =>
      Layers.goldVendor(Layers.silver(tripFromLineitem(t(s, d, "lineitem")))),
      (tripSilverSql + "\n" +
        s"""SELECT vendor_name, COUNT(*) AS total_trips,
           |  ${sqlSum("total_amount")} AS total_revenue,
           |  ${sqlSum("trip_distance")} AS total_distance,
           |  ${sqlAvg("trip_distance")} AS avg_trip_distance,
           |  ${sqlAvg("fare_amount")} AS avg_fare
           |FROM silver GROUP BY 1""".stripMargin)),

    // as-of join: each purchase matched to the user's latest prior click
    Query("q52_asof_join", (s, d) => {
      val ev = t(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      val clicks = ev.filter(col("event_type") === "click")
      graft.operators.AsOfJoin.asOf(purchases, clicks,
          keyCol = "user_id", tsCol = "ts",
          rightIdCol = "event_id", rightPayload = Seq("value"))
        .select("event_id", "user_id", "ts", "asof_event_id", "asof_value")
    },
      """WITH u AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, 1 AS side,
        |    CAST(NULL AS BIGINT) AS r_id, CAST(NULL AS DOUBLE) AS r_value
        |  FROM events WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, NULL, 0 AS side,
        |    event_id AS r_id, value AS r_value
        |  FROM events WHERE event_type = 'click')
        |SELECT event_id, user_id, ts, asof_event_id, asof_value FROM (
        |  SELECT user_id, ts, event_id, side,
        |    last_value(r_id IGNORE NULLS) OVER w AS asof_event_id,
        |    last_value(r_value IGNORE NULLS) OVER w AS asof_value
        |  FROM u
        |  WINDOW w AS (PARTITION BY user_id
        |    ORDER BY ts, side, r_id ASC NULLS FIRST
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |) WHERE side = 1""".stripMargin),

    Query("q45_ivf_topk", (s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 16), "vec_id", "embedding",
        k = 3, nCells = 16, lloydIters = 2, nprobe = 2)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("cosine"), 6).as("cosine"))
    },
      ivfFlatOracleSql),

    // deterministic stratified Bernoulli sample (per-language rates)
    Query("q61_stratified_sample", (s, d) =>
      graft.llmdata.Sampling.stratifiedSample(t(s, d, "documents"),
        "doc_id", "lang", Map("en" -> 0.5, "de" -> 0.1), defaultRate = 0.25)
        .select("doc_id", "lang"),
      s"""SELECT doc_id, lang FROM documents
         |WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
         |    / 4294967296.0
         |  < (CASE WHEN lang = 'de' THEN 0.1 WHEN lang = 'en' THEN 0.5 ELSE 0.25 END)""".stripMargin),

    // fixed-size deterministic per-stratum sample (reservoir analog)
    Query("q62_per_stratum_sample", (s, d) =>
      graft.llmdata.Sampling.perStratumSample(t(s, d, "documents"),
        "doc_id", "lang", n = 10)
        .select("doc_id", "lang"),
      s"""SELECT doc_id, lang FROM (
         |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
         |    ORDER BY CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
         |        / 4294967296.0 ASC,
         |      doc_id ASC) AS rn
         |  FROM documents) WHERE rn <= 10""".stripMargin),

    // end-to-end near-dup corpus materialization: losers dropped, keepers
    // + unpaired docs survive
    Query("q63_dedup_corpus", (s, d) =>
      DedupOps.dedupCorpus(t(s, d, "documents"), "doc_id", "text",
        shingleSize = 3, bands = 4, rows = 4, jaccardThreshold = 0.4)
        .select("doc_id", "lang"),
      s"""WITH RECURSIVE $minhashPairsCtes,
         |edges AS (SELECT id_a, id_b FROM mh_pairs
         |          UNION ALL SELECT id_b, id_a FROM mh_pairs),
         |reach(id, label) AS (
         |  SELECT DISTINCT id_a, id_a FROM edges
         |  UNION
         |  SELECT e.id_a, r.label FROM edges e JOIN reach r ON e.id_b = r.id),
         |losers AS (
         |  SELECT id AS doc_id FROM reach GROUP BY 1 HAVING id <> MIN(label))
         |SELECT d.doc_id, d.lang FROM documents d
         |LEFT JOIN losers x ON d.doc_id = x.doc_id
         |WHERE x.doc_id IS NULL""".stripMargin),

    // q63 with the quality-priority keeper: per cluster keep the LONGEST
    // member (ties min id), not the smallest id — drop truncated mirrors
    Query("q141_dedup_corpus_best", (s, d) =>
      DedupOps.dedupCorpusBy(t(s, d, "documents"), "doc_id", "text",
        priority = length(col("text")),
        shingleSize = 3, bands = 4, rows = 4, jaccardThreshold = 0.4)
        .select("doc_id", "lang"),
      // q63's cluster CTEs with the keeper re-ranked by text length
      // (desc, id asc) instead of min id
      s"""WITH RECURSIVE $minhashPairsCtes,
         |edges AS (SELECT id_a, id_b FROM mh_pairs
         |          UNION ALL SELECT id_b, id_a FROM mh_pairs),
         |reach(id, label) AS (
         |  SELECT DISTINCT id_a, id_a FROM edges
         |  UNION
         |  SELECT e.id_a, r.label FROM edges e JOIN reach r ON e.id_b = r.id),
         |comp AS (SELECT id, MIN(label) AS cluster_id FROM reach GROUP BY 1),
         |ranked AS (SELECT c.id, row_number() OVER (PARTITION BY c.cluster_id
         |    ORDER BY length(d.text) DESC, c.id ASC) AS rn
         |  FROM comp c JOIN documents d ON c.id = d.doc_id),
         |losers AS (SELECT id AS doc_id FROM ranked WHERE rn <> 1)
         |SELECT d.doc_id, d.lang FROM documents d
         |LEFT JOIN losers x ON d.doc_id = x.doc_id
         |WHERE x.doc_id IS NULL""".stripMargin),

    // top-3 characteristic terms per doc, linear-idf (engine-exact)
    Query("q64_tfidf_terms", (s, d) =>
      TextAnalysis.tfidfTopTerms(t(s, d, "documents"), "doc_id", "text", k = 3),
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
        |       WHERE length(term) > 0 GROUP BY 1, 2),
        |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents)
        |SELECT doc_id, term, tf, df, tfidf, rank FROM (
        |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
        |    CAST(tf.tf AS DOUBLE) * (CAST(n.n_docs AS DOUBLE) / CAST(dfreq.df AS DOUBLE)) AS tfidf,
        |    CAST(row_number() OVER (PARTITION BY tf.doc_id ORDER BY
        |      CAST(tf.tf AS DOUBLE) * (CAST(n.n_docs AS DOUBLE) / CAST(dfreq.df AS DOUBLE)) DESC,
        |      tf.term ASC) AS INT) AS rank
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN n
        |) WHERE rank <= 3""".stripMargin),

    // incremental dedup: the doc_id >= 250 batch admitted against the
    // already-deduped doc_id < 250 corpus (batch-involving candidates only)
    Query("q65_incremental_dedup", (s, d) => {
      val docs = t(s, d, "documents")
      DedupOps.incrementalDedup(
        docs.filter(col("doc_id") < 250), docs.filter(col("doc_id") >= 250),
        "doc_id", "text", shingleSize = 3, bands = 4, rows = 4,
        jaccardThreshold = 0.4)
        .select("doc_id", "lang")
    },
      // corpus ids (< 250) are all smaller than batch ids, so every
      // mh_pairs row with a batch id_b is exactly a "corpus partner or
      // smaller-id batch partner" collision — the operator's drop rule
      s"""WITH $minhashPairsCtes
         |SELECT d.doc_id, d.lang FROM documents d
         |WHERE d.doc_id >= 250
         |  AND d.doc_id NOT IN (SELECT id_b FROM mh_pairs WHERE id_b >= 250)""".stripMargin),

    // the 100 TB shape of q65: corpus signatures materialized once
    // (signatureWrite), batch admitted against the stored index — same
    // admit rule, so the oracle is q65's
    Query("q74_incremental_dedup_indexed", (s, d) => {
      val docs = t(s, d, "documents")
      val path = java.nio.file.Files.createTempDirectory("graft-sig").toString + "/idx"
      DedupOps.signatureWrite(docs.filter(col("doc_id") < 250), "doc_id", "text",
        path, shingleSize = 3, bands = 4, rows = 4)
      DedupOps.incrementalDedupIndexed(s, path, docs.filter(col("doc_id") >= 250),
        "doc_id", "text", shingleSize = 3, bands = 4, rows = 4,
        jaccardThreshold = 0.4)
        .select("doc_id", "lang")
    },
      // identical admit rule to q65 — the indexed path must reproduce the
      // self-contained path exactly
      s"""WITH $minhashPairsCtes
         |SELECT d.doc_id, d.lang FROM documents d
         |WHERE d.doc_id >= 250
         |  AND d.doc_id NOT IN (SELECT id_b FROM mh_pairs WHERE id_b >= 250)""".stripMargin),

    // PII redaction (emails, long digit runs) — map-only scrub
    Query("q66_redact_pii", (s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        md5(TextAnalysis.redactPii(
          concat(col("text"), lit(" contact: a.b+c@example.org tel 5551234567 end"))))
          .as("redacted_md5")),
      """SELECT doc_id,
        |  md5(regexp_replace(regexp_replace(
        |    text || ' contact: a.b+c@example.org tel 5551234567 end',
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '\b\d{7,}\b', '[NUMBER]', 'g')) AS redacted_md5
        |FROM documents""".stripMargin),

    // sliding token-window chunking (context-length prep)
    Query("q67_chunk_tokens", (s, d) =>
      TextAnalysis.chunkByTokens(t(s, d, "documents"), "doc_id", "text",
        chunkTokens = 32, stride = 24)
        .select(col("doc_id"), col("chunk_index"), col("n_chunk_tokens"),
          md5(col("chunk_text")).as("chunk_md5")),
      """WITH docs AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents WHERE length(trim(text)) > 0),
        |chunks AS (
        |  SELECT doc_id, toks,
        |    unnest(generate_series(0,
        |      greatest(0, CAST(floor((len(toks) - 32 + 24 - 1) / 24.0) AS INT)))) AS chunk_index
        |  FROM docs)
        |SELECT doc_id, CAST(chunk_index AS INT) AS chunk_index,
        |  CAST(len(list_slice(toks, chunk_index * 24 + 1, chunk_index * 24 + 32)) AS BIGINT)
        |    AS n_chunk_tokens,
        |  md5(array_to_string(list_slice(toks, chunk_index * 24 + 1, chunk_index * 24 + 32), ' '))
        |    AS chunk_md5
        |FROM chunks""".stripMargin),

    // greedy contiguous sequence packing into token-budget bins
    Query("q68_pack_sequences", (s, d) =>
      TextAnalysis.packSequences(t(s, d, "documents"), "doc_id", "text",
        budgetTokens = 512, nShards = 4),
      """SELECT doc_id, shard, n_tokens, cum_tokens,
        |  CAST(floor((cum_tokens - n_tokens) / 512.0) AS BIGINT) AS bin_id
        |FROM (
        |  SELECT doc_id, CAST(doc_id % 4 AS INT) AS shard,
        |    CAST(n_tokens AS BIGINT) AS n_tokens,
        |    CAST(SUM(CAST(n_tokens AS BIGINT)) OVER (PARTITION BY doc_id % 4
        |      ORDER BY doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        |  FROM (
        |    SELECT doc_id,
        |      CASE WHEN length(trim(text)) = 0 THEN 0
        |        ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
        |    FROM documents))""".stripMargin),

    // corpus vocabulary heavy hitters (tokenizer-training stats)
    Query("q69_vocab_topk", (s, d) =>
      TextAnalysis.vocabTopK(t(s, d, "documents"), "doc_id", "text", k = 20),
      """SELECT term, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
        |FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |      FROM documents)
        |WHERE length(term) > 0
        |GROUP BY term
        |ORDER BY n_occurrences DESC, term ASC
        |LIMIT 20""".stripMargin),

    // decontamination sweep: corpus docs sharing 3-grams with the
    // doc_id < 10 "benchmark" slice
    Query("q71_decontaminate", (s, d) => {
      val docs = t(s, d, "documents")
      DedupOps.contamination(
        docs.filter(col("doc_id") >= 10), docs.filter(col("doc_id") < 10),
        "doc_id", "text", shingleSize = 3, minShared = 2)
    }, {
      val toks = "regexp_split_to_array(trim(lower(text)), '\\s+')"
      val sh = s"list_sort(list_distinct(list_transform(generate_series(1, len($toks) - 2), " +
        s"i -> $toks[i] || ' ' || $toks[i+1] || ' ' || $toks[i+2])))"
      s"""WITH bench AS (
         |  SELECT DISTINCT s FROM (
         |    SELECT unnest($sh) AS s FROM documents WHERE doc_id < 10)),
         |corpus AS (
         |  SELECT DISTINCT doc_id, s FROM (
         |    SELECT doc_id, unnest($sh) AS s FROM documents WHERE doc_id >= 10))
         |SELECT doc_id, COUNT(*) AS n_contaminated_shingles
         |FROM corpus JOIN bench USING (s)
         |GROUP BY doc_id HAVING COUNT(*) >= 2""".stripMargin
    }),

    // training-mix proportions report per language
    Query("q72_mix_report", (s, d) =>
      TextAnalysis.mixReport(t(s, d, "documents"), "lang", "text"),
      """WITH per AS (
        |  SELECT lang, COUNT(*) AS n_docs,
        |    CAST(SUM(CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT)) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY lang)
        |SELECT lang, n_docs, n_tokens,
        |  CAST(n_tokens AS DOUBLE) / CAST((SELECT SUM(n_tokens) FROM per) AS DOUBLE) AS token_share
        |FROM per""".stripMargin),

    // bucketed range join: clicks inside any error's 30-minute window —
    // a bucket equi-join, NOT a nested-loop theta join
    Query("q73_range_join", (s, d) => {
      val ev = t(s, d, "events")
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("error_id"), col("ts").as("w_start"),
          (col("ts") + expr("INTERVAL 30 MINUTES")).as("w_end"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("ts"))
      graft.operators.RangeJoin.pointInInterval(clicks, errors,
          "ts", "w_start", "w_end", bucketSeconds = 1800)
        .select("error_id", "click_id")
    },
      """SELECT e.event_id AS error_id, c.event_id AS click_id
        |FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
        |      WHERE event_type = 'error') e
        |JOIN (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
        |      WHERE event_type = 'click') c
        |  ON c.ts >= e.ts AND c.ts <= e.ts + INTERVAL 30 MINUTE""".stripMargin),

    // the Check API generalized to LLM-data curation: a quality gate over
    // the documents corpus, verdicts as rows (same shape as q20)
    // Gopher-style repetition features over every document
    Query("q76_repetition", (s, d) =>
      TextAnalysis.repetitionFeatures(t(s, d, "documents"), "doc_id", "text"), {
      val toksArr = "regexp_split_to_array(trim(lower(text)), '\\s+')"
      s"""WITH toks AS (
         |  SELECT doc_id, t AS term FROM (
         |    SELECT doc_id, unnest($toksArr) AS t FROM documents)
         |  WHERE length(t) > 0),
         |tok_stats AS (
         |  SELECT doc_id, COUNT(*) AS n_tokens,
         |    COUNT(DISTINCT term) AS n_distinct
         |  FROM toks GROUP BY 1),
         |bi AS (
         |  SELECT doc_id, unnest(list_transform(
         |    generate_series(1, len($toksArr) - 1),
         |    i -> $toksArr[i] || ' ' || $toksArr[i+1])) AS s
         |  FROM documents),
         |bi_counts AS (SELECT doc_id, s, COUNT(*) AS c FROM bi GROUP BY 1, 2),
         |bi_stats AS (
         |  SELECT doc_id, MAX(c) AS top_c, CAST(SUM(c) AS BIGINT) AS n_bigrams
         |  FROM bi_counts GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(COALESCE(t.n_tokens, 0) AS BIGINT) AS n_tokens,
         |  CASE WHEN COALESCE(t.n_tokens, 0) = 0 THEN 0.0
         |    ELSE CAST(t.n_tokens - t.n_distinct AS DOUBLE) / t.n_tokens END
         |    AS dup_token_fraction,
         |  CASE WHEN COALESCE(b.n_bigrams, 0) = 0 THEN 0.0
         |    ELSE CAST(b.top_c AS DOUBLE) / b.n_bigrams END
         |    AS top_bigram_fraction
         |FROM documents d
         |LEFT JOIN tok_stats t ON d.doc_id = t.doc_id
         |LEFT JOIN bi_stats b ON d.doc_id = b.doc_id""".stripMargin
    }),

    // int8 embedding quantization (per-vector scale, round-half-up via
    // floor — the storage form a 100 TB vector corpus ships). The qvec
    // is emitted as a joined string: the hash gate compares scalar
    // columns, not nested arrays
    Query("q77_quantize_int8", (s, d) =>
      Similarity.quantizeInt8(t(s, d, "embeddings"), "vec_id", "embedding")
        .select(col("vec_id"), round(col("scale"), 6).as("scale"),
          concat_ws(",", transform(col("qvec"), q => q.cast("string"))).as("qvec_str")),
      """SELECT vec_id,
        |  ROUND(CASE WHEN mx = 0 THEN 0.0 ELSE mx / 127.0 END, 6) AS scale,
        |  array_to_string(CASE WHEN mx = 0 THEN list_transform(emb, x -> 0)
        |    ELSE list_transform(emb,
        |      x -> CAST(floor(x / (mx / 127.0) + 0.5) AS INT)) END, ',') AS qvec_str
        |FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
        |        list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS mx
        |      FROM embeddings)""".stripMargin),

    // exact top-1 search over the DEQUANTIZED int8 corpus — the composed
    // form of q77 + q36: proves the storage format search-round-trips
    // bit-exactly (quantized values and q*scale products are IEEE-exact)
    Query("q79_quantized_top1", (s, d) => {
      val deq = Similarity.quantizeInt8(t(s, d, "embeddings"), "vec_id", "embedding")
        .select(col("vec_id"),
          Similarity.dequantize(col("qvec"), col("scale")).as("embedding"))
      Similarity.bruteForceTopK(deq, deq.filter(col("vec_id") < 16),
        "vec_id", "embedding", k = 1)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    },
      // q77's quantization CTE feeding q36's exact top-1 rank, over the
      // dequantized vectors
      """WITH qz AS (
        |  SELECT vec_id,
        |    CASE WHEN mx = 0 THEN 0.0 ELSE mx / 127.0 END AS scale,
        |    CASE WHEN mx = 0 THEN list_transform(emb, x -> 0)
        |      ELSE list_transform(emb,
        |        x -> CAST(floor(x / (mx / 127.0) + 0.5) AS INT)) END AS qvec
        |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
        |          list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS mx
        |        FROM embeddings)),
        |deq AS (SELECT vec_id, list_transform(qvec, q -> CAST(q AS DOUBLE) * scale) AS emb
        |  FROM qz)
        |SELECT query_id, neighbor_id, ROUND(cosine, 6) AS cosine FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_dot_product(q.emb, c.emb)
        |      / (sqrt(list_dot_product(q.emb, q.emb)) * sqrt(list_dot_product(c.emb, c.emb))) AS cosine,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_dot_product(q.emb, c.emb)
        |        / (sqrt(list_dot_product(q.emb, q.emb)) * sqrt(list_dot_product(c.emb, c.emb))) DESC,
        |        c.vec_id ASC) AS rnk
        |  FROM (SELECT * FROM deq WHERE vec_id < 16) q, deq c
        |  WHERE q.vec_id <> c.vec_id
        |) WHERE rnk = 1""".stripMargin),

    // SemDeDup-style semantic dedup: embedding near-dup clusters
    // (LSH-bucketed pairs → transitive components), losers dropped,
    // min-id keeper + unpaired vectors survive
    Query("q80_semantic_dedup", (s, d) =>
      Similarity.semanticDedup(t(s, d, "embeddings"), "vec_id", "embedding",
        threshold = 0.35, bits = 8)
        .select("vec_id", "label"),
      // q41's multi-probe pair CTE over the FULL embeddings table, then
      // q60's recursive-CTE transitive clustering and q63's loser anti-join
      // — the oracle mirror of semanticDedup's three composed stages
      s"""WITH RECURSIVE v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
         |    ${bucketSql(8)} AS bucket FROM embeddings),
         |pairs AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM v a JOIN v b ON bit_count(xor(a.bucket, b.bucket)) <= 1 AND a.vec_id < b.vec_id
         |  WHERE list_dot_product(a.emb, b.emb)
         |      / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))) >= 0.35),
         |edges AS (SELECT id_a, id_b FROM pairs
         |          UNION ALL SELECT id_b, id_a FROM pairs),
         |reach(id, lbl) AS (
         |  SELECT DISTINCT id_a, id_a FROM edges
         |  UNION
         |  SELECT e.id_a, r.lbl FROM edges e JOIN reach r ON e.id_b = r.id),
         |losers AS (SELECT id FROM reach GROUP BY id HAVING id <> MIN(lbl))
         |SELECT e.vec_id, e.label FROM embeddings e
         |LEFT JOIN losers x ON e.vec_id = x.id
         |WHERE x.id IS NULL""".stripMargin),

    // asymmetric containment search (quote-finding): non-overlapping
    // 12-token chunks of the first 5 docs as queries — each is contained
    // in its source by construction — searched against the FULL corpus;
    // the query side broadcasts, recall over queries is exhaustive
    Query("q83_containment_search", (s, d) => {
      val docs = t(s, d, "documents")
      val chunks = TextAnalysis.chunkByTokens(docs.filter(col("doc_id") < 5),
          "doc_id", "text", chunkTokens = 12, stride = 12)
        .select((col("doc_id") * 1000 + col("chunk_index")).as("doc_id"),
          col("chunk_text").as("text"))
      DedupOps.containmentSearch(docs, chunks, "doc_id", "text",
        shingleSize = 3, containmentThreshold = 0.8)
        .select(col("query_id"), col("doc_id"), col("n_shared"),
          round(col("containment"), 6).as("containment"))
    }, {
      // mirrors containmentSearch with q67's chunk CTE as the query side:
      // 12-token non-overlapping chunks of doc_id < 5 (re-keyed
      // doc_id*1000+chunk_index), containment = shared distinct shingles
      // over the QUERY set size, searched against the full corpus
      def shOf(t: String) =
        s"list_sort(list_distinct(list_transform(generate_series(1, len($t) - 2), " +
          s"i -> $t[i] || ' ' || $t[i+1] || ' ' || $t[i+2])))"
      val corpusToks = "regexp_split_to_array(trim(lower(text)), '\\s+')"
      val chunkToks = "regexp_split_to_array(trim(lower(chunk_text)), '\\s+')"
      s"""WITH src AS (
         |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
         |  FROM documents WHERE length(trim(text)) > 0 AND doc_id < 5),
         |chunks AS (
         |  SELECT doc_id * 1000 + chunk_index AS query_id,
         |    array_to_string(list_slice(toks, chunk_index * 12 + 1, chunk_index * 12 + 12), ' ')
         |      AS chunk_text
         |  FROM (SELECT doc_id, toks,
         |      unnest(generate_series(0,
         |        greatest(0, CAST(floor((len(toks) - 12 + 12 - 1) / 12.0) AS INT)))) AS chunk_index
         |    FROM src)),
         |q AS (SELECT query_id, unnest(${shOf(chunkToks)}) AS s FROM chunks),
         |qsz AS (SELECT query_id, COUNT(*) AS q_sz FROM q GROUP BY 1),
         |c AS (SELECT doc_id, unnest(${shOf(corpusToks)}) AS s FROM documents),
         |shared AS (
         |  SELECT q.query_id, c.doc_id, COUNT(*) AS n_shared
         |  FROM c JOIN q USING (s) GROUP BY 1, 2)
         |SELECT s.query_id, s.doc_id, CAST(s.n_shared AS BIGINT) AS n_shared,
         |  ROUND(CAST(s.n_shared AS DOUBLE) / z.q_sz, 6) AS containment
         |FROM shared s JOIN qsz z USING (query_id)
         |WHERE CAST(s.n_shared AS DOUBLE) / z.q_sz >= 0.8""".stripMargin
    }),

    // deterministic train/val/test assignment — growth-stable (a doc's
    // split never changes as the corpus grows)
    Query("q88_split_assign", (s, d) =>
      graft.llmdata.Sampling.splitAssign(t(s, d, "documents"), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "v1")
        .select("doc_id", "split"), {
      // thresholds interpolated from the SAME splitThresholds doubles the
      // operator folds into its plan — prefix-sum float drift cannot
      // diverge the mirror
      val ts = graft.llmdata.Sampling.splitThresholds(
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      val cases = ts.init.map { case (name, t) =>
        s"WHEN frac < $t THEN '$name'" }.mkString(" ")
      s"""SELECT doc_id, CASE $cases ELSE '${ts.last._1}' END AS split
         |FROM (SELECT doc_id,
         |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || 'v1'), 1, 8)) AS BIGINT)
         |    / 4294967296.0 AS frac FROM documents)""".stripMargin
    }),

    // corpus bigram continuation table with exact conditional
    // probabilities (the n-gram LM count-table data product)
    Query("q89_bigram_lm", (s, d) =>
      TextAnalysis.bigramTopContinuations(t(s, d, "documents"), "doc_id", "text",
        k = 3, minHeadCount = 10),
      // mirrors bigramTopContinuations: multiset bigram stream (every
      // occurrence counts), two aggregates, vocabulary-scale top-k window
      """WITH arr AS (SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |             FROM documents),
        |bi AS (SELECT unnest(list_transform(generate_series(1, len(t) - 1),
        |         i -> t[i] || ' ' || t[i+1])) AS s FROM arr),
        |counts AS (SELECT string_split(s, ' ')[1] AS head,
        |             string_split(s, ' ')[2] AS cont, COUNT(*) AS c
        |           FROM bi GROUP BY 1, 2),
        |heads AS (SELECT head, CAST(SUM(c) AS BIGINT) AS n_head
        |          FROM counts GROUP BY 1
        |          HAVING CAST(SUM(c) AS BIGINT) >= 10)
        |SELECT head, cont, n_bigram, n_head, p, rank FROM (
        |  SELECT c.head, c.cont, CAST(c.c AS BIGINT) AS n_bigram, h.n_head,
        |    CAST(c.c AS DOUBLE) / h.n_head AS p,
        |    CAST(row_number() OVER (PARTITION BY c.head
        |      ORDER BY c.c DESC, c.cont ASC) AS INT) AS rank
        |  FROM counts c JOIN heads h USING (head))
        |WHERE rank <= 3""".stripMargin),

    // batch gap sessionization: 30-minute-gap sessions per user over the
    // events stream table (the batch twin of the streaming session op)
    Query("q87_sessionize", (s, d) =>
      graft.operators.Sessionize.byGap(t(s, d, "events"), "user_id", "ts",
        gapSeconds = 1800, tieBreakCol = "event_id")
        .select("user_id", "session_index", "session_start", "session_end",
          "n_events"),
      // mirrors Sessionize.byGap: boundary flag from lag over the same
      // total (ts, event_id) order, running-sum session index, integer
      // microsecond gap arithmetic (epoch_us)
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |b AS (SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        |sess AS (SELECT user_id, ts,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |      ROWS UNBOUNDED PRECEDING) AS session_index
        |  FROM b)
        |SELECT user_id, CAST(session_index AS BIGINT) AS session_index,
        |  MIN(ts) AS session_start, MAX(ts) AS session_end,
        |  COUNT(*) AS n_events
        |FROM sess GROUP BY 1, 2""".stripMargin),

    // q87 via the skew-safe per-(key, day) tag + seam stitch: same
    // result (the oracle IS q87's SQL), bot-key sort bounded by one day
    Query("q139_sessionize_skewsafe", (s, d) =>
      graft.operators.Sessionize.byGapSkewSafe(t(s, d, "events"), "user_id",
        "ts", gapSeconds = 1800, tieBreakCol = "event_id")
        .select("user_id", "session_index", "session_start", "session_end",
          "n_events"),
      // q87's oracle verbatim: the skew-safe tag is output-equivalent by
      // construction (SessionizeSpec proves row-level equality)
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |b AS (SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        |sess AS (SELECT user_id, ts,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |      ROWS UNBOUNDED PRECEDING) AS session_index
        |  FROM b)
        |SELECT user_id, CAST(session_index AS BIGINT) AS session_index,
        |  MIN(ts) AS session_start, MAX(ts) AS session_end,
        |  COUNT(*) AS n_events
        |FROM sess GROUP BY 1, 2""".stripMargin),

    // embedding-space decontamination: corpus vectors semantically close
    // to the vec_id < 16 "benchmark" slice (paraphrase-class leakage the
    // n-gram sweep q71 cannot see)
    Query("q86_semantic_decontaminate", (s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.semanticDecontaminate(
        emb.filter(col("vec_id") >= 16), emb.filter(col("vec_id") < 16),
        "vec_id", "embedding", threshold = 0.35, bits = 8)
        .select(col("doc_id"), col("n_benchmark_hits"),
          round(col("max_cosine"), 6).as("max_cosine"))
    },
      // q41's multi-probe collision condition, asymmetric: benchmark side
      // vec_id < 16, corpus side >= 16, aggregated per corpus doc
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
         |    ${bucketSql(8)} AS bucket FROM embeddings),
         |hits AS (
         |  SELECT c.vec_id AS doc_id,
         |    list_dot_product(b.emb, c.emb)
         |      / (sqrt(list_dot_product(b.emb, b.emb)) * sqrt(list_dot_product(c.emb, c.emb))) AS cosine
         |  FROM v c JOIN v b ON bit_count(xor(c.bucket, b.bucket)) <= 1
         |  WHERE c.vec_id >= 16 AND b.vec_id < 16)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_benchmark_hits,
         |  ROUND(MAX(cosine), 6) AS max_cosine
         |FROM hits WHERE cosine >= 0.35 GROUP BY doc_id""".stripMargin),

    // the BPE merge-step statistic: top within-word adjacent char pairs
    Query("q90_bpe_pairs", (s, d) =>
      TextAnalysis.bpePairCounts(t(s, d, "documents"), "doc_id", "text", k = 20),
      // mirrors bpePairCounts: word explode, position explode via
      // list_transform(generate_series), substr char pairs, one aggregate
      """WITH words AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        |  FROM documents WHERE length(trim(text)) > 0),
        |pairs AS (
        |  SELECT unnest(list_transform(generate_series(1, length(w) - 1),
        |    i -> substr(w, CAST(i AS INT), 2))) AS pair
        |  FROM words WHERE length(w) >= 2)
        |SELECT pair, COUNT(*) AS n_occurrences
        |FROM pairs GROUP BY 1
        |ORDER BY n_occurrences DESC, pair ASC LIMIT 20""".stripMargin),

    // BM25 (linear-idf) retrieval: top-5 docs per query term
    Query("q91_bm25_topk", (s, d) =>
      TextAnalysis.bm25TopK(t(s, d, "documents"), "doc_id", "text",
        terms = Seq("vector", "hash", "merge"), k = 5),
      // mirrors bm25TopK term-for-term: same literal constants (1.25, 0.75,
      // 2.25 — all exactly-representable doubles), same expression tree, so
      // the IEEE score is bit-identical
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |tok2 AS (SELECT doc_id, term FROM toks WHERE length(term) > 0),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok2 GROUP BY 1),
        |stats AS (SELECT CAST(SUM(dl) AS BIGINT) AS total_tokens,
        |            COUNT(*) AS n_docs FROM dl),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok2
        |       WHERE term IN ('vector', 'hash', 'merge') GROUP BY 1, 2),
        |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |scored AS (
        |  SELECT t.term, t.doc_id, t.tf, f.df, l.dl,
        |    (CAST(s.n_docs AS DOUBLE) / CAST(f.df AS DOUBLE))
        |      * (CAST(t.tf AS DOUBLE) * 2.25)
        |      / (CAST(t.tf AS DOUBLE)
        |        + 1.25 * (1.0 - 0.75 + 0.75 * CAST(l.dl AS DOUBLE)
        |          / (CAST(s.total_tokens AS DOUBLE) / CAST(s.n_docs AS DOUBLE)))) AS score
        |  FROM tf t JOIN dl l USING (doc_id) JOIN dfreq f USING (term)
        |  CROSS JOIN stats s)
        |SELECT term, doc_id, tf, df, dl, score, rank FROM (
        |  SELECT term, doc_id, tf, df, dl, score,
        |    CAST(row_number() OVER (PARTITION BY term
        |      ORDER BY score DESC, doc_id ASC) AS INT) AS rank
        |  FROM scored)
        |WHERE rank <= 5""".stripMargin),

    // curriculum buckets: exact global NTILE(4) over the quality score
    // WITHOUT a corpus-wide single-partition window (distinct-score
    // cumulative table + per-score distributed rank + ntile formula)
    Query("q92_curriculum", (s, d) =>
      graft.llmdata.Sampling.globalNtile(
        TextAnalysis.qualityScore(t(s, d, "documents"), "text")
          .select("doc_id", "quality_score"),
        "doc_id", "quality_score", nBuckets = 4)
        .select("doc_id", "quality_score", "bucket"),
      // the oracle runs the PLAIN one-window ntile the operator refuses to
      // (globalNtile's whole point is reproducing this exact semantics
      // without a corpus-wide single-partition window)
      s"""WITH qs AS ($qualityScoreSql)
         |SELECT doc_id, quality_score,
         |  CAST(ntile(4) OVER (ORDER BY quality_score DESC, doc_id ASC) AS INT) AS bucket
         |FROM qs""".stripMargin),

    // per-label embedding centroids (class prototypes), decimal-exact means
    Query("q93_label_centroids", (s, d) =>
      Similarity.labelCentroids(t(s, d, "embeddings"), "vec_id", "embedding", "label"),
      // mirrors labelCentroids: zipped unnests stand in for posexplode,
      // decimal(20,6) exact sums, double-space mean
      """WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |x AS (SELECT label,
        |    CAST(unnest(generate_series(1, len(emb))) - 1 AS INT) AS dim,
        |    unnest(emb) AS x
        |  FROM e)
        |SELECT label, dim, COUNT(*) AS n_vecs,
        |  CAST(SUM(CAST(x AS DECIMAL(20,6))) AS DOUBLE) / COUNT(*) AS centroid
        |FROM x GROUP BY 1, 2""".stripMargin),

    // cross-document duplicated-window coverage (Lee et al. substring-dup
    // measurement at 8-gram granularity)
    Query("q94_dup_coverage", (s, d) =>
      DedupOps.duplicateWindowCoverage(t(s, d, "documents"), "doc_id", "text",
        n = 8, minDf = 2), {
      // mirrors duplicateWindowCoverage: multiset 8-gram stream, distinct-doc
      // df filter, per-doc window counts, left joins back onto documents
      val gram8 = (0 until 8).map(j => s"t[i+$j]").mkString(" || ' ' || ")
      s"""WITH arr AS (
         |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
         |  FROM documents WHERE length(trim(text)) > 0),
         |g AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 7),
         |        i -> $gram8)) AS s FROM arr),
         |tot AS (SELECT doc_id, COUNT(*) AS n_windows FROM g GROUP BY 1),
         |dupg AS (SELECT s FROM g GROUP BY s HAVING COUNT(DISTINCT doc_id) >= 2),
         |dpd AS (SELECT doc_id, COUNT(*) AS n_dup_windows
         |        FROM g JOIN dupg USING (s) GROUP BY 1)
         |SELECT d.doc_id,
         |  COALESCE(t.n_windows, 0) AS n_windows,
         |  COALESCE(p.n_dup_windows, 0) AS n_dup_windows,
         |  CASE WHEN COALESCE(t.n_windows, 0) = 0 THEN 0.0
         |    ELSE CAST(COALESCE(p.n_dup_windows, 0) AS DOUBLE) / t.n_windows
         |  END AS dup_window_fraction
         |FROM documents d
         |LEFT JOIN tot t USING (doc_id)
         |LEFT JOIN dpd p USING (doc_id)""".stripMargin
    }),

    // sequential conversion funnel over the events stream
    Query("q95_funnel", (s, d) =>
      graft.operators.Funnel.conversion(t(s, d, "events"), "user_id", "ts",
        "event_type", Seq("view", "click", "purchase")),
      // mirrors Funnel.conversion: per-step min-ts CTE chain, each step
      // strictly after the previous step's reach time
      """WITH ev AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        |            FROM events),
        |s1 AS (SELECT user_id, MIN(ts) AS t1 FROM ev
        |            WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM ev e
        |       JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM ev e
        |       JOIN s2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1),
        |n AS (SELECT (SELECT COUNT(*) FROM s1) AS n1,
        |             (SELECT COUNT(*) FROM s2) AS n2,
        |             (SELECT COUNT(*) FROM s3) AS n3)
        |SELECT CAST(1 AS INT) AS step_index, 'view' AS step, n1 AS n_keys,
        |  CASE WHEN n1 = 0 THEN 0.0 ELSE CAST(n1 AS DOUBLE) / CAST(n1 AS DOUBLE) END AS conversion
        |FROM n
        |UNION ALL
        |SELECT CAST(2 AS INT), 'click', n2,
        |  CASE WHEN n1 = 0 THEN 0.0 ELSE CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE) END FROM n
        |UNION ALL
        |SELECT CAST(3 AS INT), 'purchase', n3,
        |  CASE WHEN n1 = 0 THEN 0.0 ELSE CAST(n3 AS DOUBLE) / CAST(n1 AS DOUBLE) END FROM n""".stripMargin),

    // tombstone-aware indexed dedup: corpus docs 72/107 are deleted
    // AFTER the index build — retracted content must stop suppressing
    // new batches (at sf0.01 this re-admits batch docs 377/387, whose
    // only near-dup partners were the tombstoned pair)
    Query("q85_incremental_dedup_tombstone", (s, d) => {
      val docs = t(s, d, "documents")
      val path = java.nio.file.Files.createTempDirectory("graft-sig-tb").toString + "/idx"
      DedupOps.signatureWrite(docs.filter(col("doc_id") < 250), "doc_id", "text",
        path, shingleSize = 3, bands = 4, rows = 4)
      DedupOps.signatureDelete(docs.filter(col("doc_id").isin(72, 107)), "doc_id", path)
      DedupOps.incrementalDedupIndexed(s, path, docs.filter(col("doc_id") >= 250),
        "doc_id", "text", shingleSize = 3, bands = 4, rows = 4,
        jaccardThreshold = 0.4)
        .select("doc_id", "lang")
    },
      // q65's admit rule with the tombstoned corpus docs excluded from the
      // pair CTE — deletion must change admission, not just the index files
      s"""WITH ${minhashPairsCtesWhere("WHERE doc_id NOT IN (72, 107)")}
         |SELECT d.doc_id, d.lang FROM documents d
         |WHERE d.doc_id >= 250
         |  AND d.doc_id NOT IN (SELECT id_b FROM mh_pairs WHERE id_b >= 250)""".stripMargin),

    // data-derived mix resampling: downsample to a 40/30/30 en/de/fr
    // corpus (untargeted langs dropped; binding stratum keeps all rows)
    Query("q84_resample_mix", (s, d) =>
      graft.llmdata.Sampling.resampleToMix(t(s, d, "documents"), "doc_id", "lang",
        Map("en" -> 0.4, "de" -> 0.3, "fr" -> 0.3))
        .select("doc_id", "lang"),
      // mirrors resampleToMix: K = MIN(n/target) over targeted strata,
      // rate = target*K/n, the same md5 hash-fraction membership rule
      """WITH tgt AS (SELECT * FROM (VALUES ('de', 0.3), ('en', 0.4), ('fr', 0.3)) t(lang, target)),
        |counts AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
        |k AS (SELECT MIN(CAST(n AS DOUBLE) / target) AS k
        |      FROM counts JOIN tgt USING (lang)),
        |rates AS (SELECT c.lang, t.target * (SELECT k FROM k) / CAST(c.n AS DOUBLE) AS rate
        |          FROM counts c JOIN tgt t USING (lang))
        |SELECT d.doc_id, d.lang FROM documents d JOIN rates r USING (lang)
        |WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |    / 4294967296.0 < r.rate""".stripMargin),

    // deterministic shuffle-shard: reproducible training-export
    // permutation (hash-fraction shard + in-shard position)
    Query("q82_shuffle_shard", (s, d) =>
      graft.llmdata.Sampling.shuffleShard(t(s, d, "documents"), "doc_id",
        nShards = 8, salt = "epoch1")
        .select("doc_id", "shard", "position"),
      // mirrors shuffleShard's md5 hash-fraction arithmetic exactly
      """WITH f AS (SELECT doc_id,
        |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || 'epoch1'), 1, 8)) AS BIGINT)
        |    / 4294967296.0 AS frac FROM documents)
        |SELECT doc_id, CAST(floor(frac * 8) AS INT) AS shard,
        |  CAST(row_number() OVER (PARTITION BY CAST(floor(frac * 8) AS INT)
        |    ORDER BY frac ASC, doc_id ASC) AS BIGINT) AS position
        |FROM f""".stripMargin),

    // boilerplate n-gram scrubbing: spans covered by a 3-gram occurring
    // in >= 4 distinct docs are removed from every document
    Query("q81_scrub_boilerplate", (s, d) =>
      TextAnalysis.scrubBoilerplate(t(s, d, "documents"), "doc_id", "text",
        n = 3, minDf = 4)
        .select(col("doc_id"), col("n_tokens"), col("n_removed"),
          md5(col("clean_text")).as("clean_md5")),
      // mirrors scrubBoilerplate: zipped unnests stand in for WITH
      // ORDINALITY; coverage is the same 2-PRECEDING running window sum;
      // string_agg(CASE…) drops removed tokens (aggregates skip NULLs)
      """WITH arr AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |             FROM documents WHERE length(trim(text)) > 0),
        |toks AS (SELECT doc_id, unnest(generate_series(1, len(t))) - 1 AS pos,
        |                unnest(t) AS tok FROM arr),
        |starts AS (SELECT doc_id,
        |             unnest(generate_series(1, greatest(len(t) - 2, 0))) - 1 AS pos,
        |             unnest(list_transform(generate_series(1, greatest(len(t) - 2, 0)),
        |               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
        |           FROM arr),
        |freq AS (SELECT s FROM starts GROUP BY s HAVING COUNT(DISTINCT doc_id) >= 4),
        |cov AS (SELECT st.doc_id, st.pos, 1 AS hit FROM starts st JOIN freq USING (s)),
        |marked AS (SELECT tk.doc_id, tk.pos, tk.tok,
        |             SUM(COALESCE(c.hit, 0)) OVER (PARTITION BY tk.doc_id ORDER BY tk.pos
        |               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) > 0 AS covered
        |           FROM toks tk LEFT JOIN cov c ON tk.doc_id = c.doc_id AND tk.pos = c.pos),
        |agg AS (SELECT doc_id, COUNT(*) AS n_tokens,
        |          CAST(SUM(CASE WHEN covered THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |          COALESCE(string_agg(CASE WHEN NOT covered THEN tok END, ' ' ORDER BY pos), '') AS clean_text
        |        FROM marked GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(COALESCE(a.n_tokens, 0) AS BIGINT) AS n_tokens,
        |  CAST(COALESCE(a.n_removed, 0) AS BIGINT) AS n_removed,
        |  md5(COALESCE(a.clean_text, '')) AS clean_md5
        |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin),

    // containment-scored near-dup pairs (doc-in-doc detection; exact
    // inverted-index blocking, df-capped)
    Query("q78_containment_pairs", (s, d) =>
      DedupOps.containmentPairs(t(s, d, "documents"), "doc_id", "text",
        shingleSize = 3, containmentThreshold = 0.5, maxShingleDf = 1000,
        minSharedShingles = 2)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"),
          round(col("containment_a"), 6).as("containment_a"),
          round(col("containment_b"), 6).as("containment_b")), {
      // mirrors containmentPairs: exact inverted-index candidates (any
      // shared shingle with df <= 1000), containments divide the shared
      // intersection by each side's (already-distinct) shingle-set size
      val toks = "regexp_split_to_array(trim(lower(text)), '\\s+')"
      val sh = s"list_sort(list_distinct(list_transform(generate_series(1, len($toks) - 2), " +
        s"i -> $toks[i] || ' ' || $toks[i+1] || ' ' || $toks[i+2])))"
      s"""WITH shingled AS (SELECT doc_id, $sh AS sh FROM documents),
         |expl AS (SELECT doc_id, unnest(sh) AS s FROM shingled WHERE len(sh) > 0),
         |rare AS (SELECT s FROM expl GROUP BY s HAVING COUNT(*) <= 1000),
         |kept AS (SELECT e.doc_id, e.s FROM expl e JOIN rare USING (s)),
         |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM kept a JOIN kept b USING (s) WHERE a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |cont AS (
         |  SELECT c.id_a, c.id_b,
         |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
         |      / len(list_distinct(list_concat(sa.sh, sb.sh))) AS jaccard,
         |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) / len(sa.sh) AS c_a,
         |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) / len(sb.sh) AS c_b
         |  FROM cand c
         |  JOIN shingled sa ON c.id_a = sa.doc_id
         |  JOIN shingled sb ON c.id_b = sb.doc_id)
         |SELECT id_a, id_b, ROUND(jaccard, 6) AS jaccard,
         |  ROUND(c_a, 6) AS containment_a, ROUND(c_b, 6) AS containment_b
         |FROM cont WHERE greatest(c_a, c_b) >= 0.5""".stripMargin
    }),

    // CheckLedger telemetry: three simulated runs (doc_id mod 3 slices)
    // recorded through the real ledger, then the gold-style pass-rate
    // summary per constraint — the ops view of quality over time
    Query("q75_check_telemetry", (s, d) => {
      import graft.checks._
      val docs = t(s, d, "documents")
      val path = java.nio.file.Files.createTempDirectory("graft-ledger").toString + "/checks"
      val ledger = new CheckLedger(s, path)
      val suite = new CheckSuite(Seq(
        NotNull("text"),
        InSet("lang", Seq("de", "en", "es", "fr", "zh"), 0.9),
        NoRowsWhere("empty_doc", length(trim(col("text"))) === 0),
        RowCountBetween(1)))
      (0 until 3).foreach { r =>
        ledger.record(s"run$r", "documents",
          suite.run(docs.filter(col("doc_id") % 3 === r)))
      }
      ledger.read().get
        .groupBy(col("layer"), col("constraint"))
        .agg(count(lit(1)).cast("long").as("n_runs"),
          sum(col("passed").cast("long")).cast("long").as("n_passed"),
          max(col("unexpected_percent")).as("max_unexpected_percent"))
        .withColumn("pass_rate",
          col("n_passed").cast("double") / col("n_runs").cast("double"))
        .select(col("layer"), col("constraint").as("constraint_name"),
          col("n_runs"), col("n_passed"), col("pass_rate"),
          col("max_unexpected_percent"))
    },
      // replays q75's three simulated runs and CheckSuite.run's exact pass
      // rules (mostly-epsilon 1e-9, NULL-excluded in_set denominator,
      // bad/den*100 percent) then aggregates like the telemetry query;
      // constraint name strings are graft.checks literals
      s"""WITH runs AS (SELECT doc_id % 3 AS run_id, text, lang FROM documents),
         |per AS (
         |  SELECT run_id, COUNT(*) AS n,
         |    COUNT(CASE WHEN text IS NULL THEN 1 END) AS bad_null,
         |    COUNT(CASE WHEN lang IS NOT NULL
         |      AND lang NOT IN ('de','en','es','fr','zh') THEN 1 END) AS bad_set,
         |    COUNT(lang) AS den_set,
         |    COUNT(CASE WHEN length(trim(text)) = 0 THEN 1 END) AS bad_empty
         |  FROM runs GROUP BY 1),
         |results AS (
         |  SELECT run_id, 'not_null(text)' AS constraint_name,
         |    CAST(n - bad_null AS DOUBLE) >= CAST(1.0 AS DOUBLE) * n - 1e-9 AS passed,
         |    CASE WHEN n = 0 THEN 0.0 ELSE CAST(bad_null AS DOUBLE) / n * 100.0 END AS pct
         |  FROM per
         |  UNION ALL
         |  SELECT run_id, 'in_set(lang)',
         |    CAST(den_set - bad_set AS DOUBLE) >= CAST(0.9 AS DOUBLE) * den_set - 1e-9,
         |    CASE WHEN den_set = 0 THEN 0.0 ELSE CAST(bad_set AS DOUBLE) / den_set * 100.0 END
         |  FROM per
         |  UNION ALL
         |  SELECT run_id, 'no_rows_where(empty_doc)',
         |    CAST(n - bad_empty AS DOUBLE) >= CAST(1.0 AS DOUBLE) * n - 1e-9,
         |    CASE WHEN n = 0 THEN 0.0 ELSE CAST(bad_empty AS DOUBLE) / n * 100.0 END
         |  FROM per
         |  UNION ALL
         |  SELECT run_id, 'row_count_between(1,${Long.MaxValue})', n >= 1, 0.0
         |  FROM per)
         |SELECT 'documents' AS layer, constraint_name,
         |  CAST(COUNT(*) AS BIGINT) AS n_runs,
         |  CAST(SUM(CASE WHEN passed THEN 1 ELSE 0 END) AS BIGINT) AS n_passed,
         |  CAST(SUM(CASE WHEN passed THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS pass_rate,
         |  MAX(pct) AS max_unexpected_percent
         |FROM results GROUP BY 1, 2""".stripMargin),

    Query("q70_docs_quality_suite", (s, d) => {
      import graft.checks._
      val scored = TextAnalysis.qualityScore(t(s, d, "documents"), "text")
      val results = new CheckSuite(Seq(
        NotNull("text"),
        Between("quality_score", 0.2, 1.0, 0.5),
        InSet("lang", Seq("de", "en", "es", "fr", "zh"), 0.9),
        NoRowsWhere("empty_doc", length(trim(col("text"))) === 0),
        RowCountBetween(1))).run(scored)
      import s.implicits._
      results.map(r => (r.constraint, r.column.orNull, r.passed, r.unexpectedPercent))
        .toDF("constraint_name", "column_name", "passed", "unexpected_percent")
    }, {
      // the q33 quality-score pipeline, widened with text/lang, feeding
      // the five verdicts of the documents CheckSuite (exact name strings
      // and pass rules of graft.checks.CheckSuite.run)
      val nTok = "CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '\\s+')) END"
      s"""WITH scored AS (
         |  SELECT doc_id, text, lang,
         |    ROUND(CASE WHEN n_tokens < 5 THEN 0.0 ELSE
         |      least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0) * 0.5
         |      + least(stopword_ratio * 10.0, 1.0) * 0.3
         |      + CASE WHEN punct_ratio > 0 THEN 0.2 ELSE 0.0 END END, 6) AS quality_score
         |  FROM (
         |    SELECT doc_id, text, lang, n_tokens,
         |      ROUND(CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
         |        / greatest(length(text), 1), 6) AS punct_ratio,
         |      ROUND(CAST($stopwordSql AS DOUBLE) / greatest(n_tokens, 1), 6) AS stopword_ratio
         |    FROM (SELECT doc_id, text, lang, ' ' || lower(text) || ' ' AS padded,
         |            $nTok AS n_tokens
         |          FROM documents))),
         |agg AS (
         |  SELECT COUNT(*) AS n,
         |    COUNT(CASE WHEN text IS NULL THEN 1 END) AS bad_null,
         |    COUNT(CASE WHEN quality_score IS NOT NULL
         |      AND NOT (quality_score >= 0.2 AND quality_score <= 1.0) THEN 1 END) AS bad_btw,
         |    COUNT(quality_score) AS den_btw,
         |    COUNT(CASE WHEN lang IS NOT NULL
         |      AND lang NOT IN ('de','en','es','fr','zh') THEN 1 END) AS bad_set,
         |    COUNT(lang) AS den_set,
         |    COUNT(CASE WHEN length(trim(text)) = 0 THEN 1 END) AS bad_empty
         |  FROM scored)
         |SELECT 'not_null(text)' AS constraint_name, 'text' AS column_name,
         |  (n - bad_null) >= 1.0 * n - 1e-9 AS passed,
         |  CASE WHEN n = 0 THEN 0.0 ELSE CAST(bad_null AS DOUBLE) / n * 100.0 END AS unexpected_percent
         |FROM agg
         |UNION ALL SELECT 'between(quality_score,0.2,1.0)', 'quality_score',
         |  (den_btw - bad_btw) >= 0.5 * den_btw - 1e-9,
         |  CASE WHEN den_btw = 0 THEN 0.0 ELSE CAST(bad_btw AS DOUBLE) / den_btw * 100.0 END FROM agg
         |UNION ALL SELECT 'in_set(lang)', 'lang',
         |  (den_set - bad_set) >= 0.9 * den_set - 1e-9,
         |  CASE WHEN den_set = 0 THEN 0.0 ELSE CAST(bad_set AS DOUBLE) / den_set * 100.0 END FROM agg
         |UNION ALL SELECT 'no_rows_where(empty_doc)', CAST(NULL AS VARCHAR),
         |  (n - bad_empty) >= 1.0 * n - 1e-9,
         |  CASE WHEN n = 0 THEN 0.0 ELSE CAST(bad_empty AS DOUBLE) / n * 100.0 END FROM agg
         |UNION ALL SELECT 'row_count_between(1,9223372036854775807)', CAST(NULL AS VARCHAR),
         |  n >= 1, 0.0 FROM agg""".stripMargin
    }),

    // corpus-wide KNN graph: top-3 cosine neighbors for EVERY vector
    // among multi-probe LSH collisions (never all-pairs)
    Query("q96_knn_graph", (s, d) =>
      Similarity.knnGraph(t(s, d, "embeddings"), "vec_id", "embedding",
        k = 3, bits = 8)
        .select(col("node_id"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"), col("rank")), {
      // mirrors knnGraph: q41's Hamming<=1 multi-probe collision set, but
      // symmetric (every vector is a node), ranked per node on the
      // UNROUNDED cosine with the same tie-break
      def cos(a: String, b: String) =
        s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
         |    ${bucketSql(8)} AS bucket FROM embeddings)
         |SELECT node_id, neighbor_id, ROUND(cosine, 6) AS cosine, rank FROM (
         |  SELECT a.vec_id AS node_id, b.vec_id AS neighbor_id,
         |    ${cos("a.emb", "b.emb")} AS cosine,
         |    CAST(row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY ${cos("a.emb", "b.emb")} DESC, b.vec_id ASC) AS INT) AS rank
         |  FROM v a JOIN v b
         |    ON bit_count(xor(a.bucket, b.bucket)) <= 1 AND a.vec_id <> b.vec_id
         |  WHERE NOT isnan(${cos("a.emb", "b.emb")}))
         |WHERE rank <= 3""".stripMargin
    }),

    // bigram-LM familiarity scoring: the exact-arithmetic stand-in for
    // perplexity filtering (known-bigram fraction + corpus support ratio)
    Query("q97_lm_familiarity", (s, d) =>
      TextAnalysis.lmFamiliarity(t(s, d, "documents"), "doc_id", "text",
        minCount = 2),
      // mirrors lmFamiliarity: q89's multiset bigram stream kept per-doc,
      // corpus counts + head totals joined back, BIGINT sums divided once
      """WITH arr AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |             FROM documents),
        |bi AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
        |         i -> t[i] || ' ' || t[i+1])) AS s FROM arr),
        |counts AS (SELECT s, COUNT(*) AS c_bigram FROM bi GROUP BY 1),
        |heads AS (SELECT string_split(s, ' ')[1] AS head,
        |            CAST(SUM(c_bigram) AS BIGINT) AS c_head
        |          FROM counts GROUP BY 1),
        |perdoc AS (
        |  SELECT b.doc_id, COUNT(*) AS n_bigrams,
        |    CAST(SUM(CASE WHEN c.c_bigram >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_known,
        |    CAST(SUM(c.c_bigram) AS BIGINT) AS sum_bigram,
        |    CAST(SUM(h.c_head) AS BIGINT) AS sum_head
        |  FROM bi b JOIN counts c USING (s)
        |  JOIN heads h ON string_split(b.s, ' ')[1] = h.head
        |  GROUP BY 1)
        |SELECT d.doc_id,
        |  COALESCE(p.n_bigrams, 0) AS n_bigrams,
        |  COALESCE(p.n_known, 0) AS n_known,
        |  CASE WHEN COALESCE(p.n_bigrams, 0) = 0 THEN 0.0
        |    ELSE CAST(p.n_known AS DOUBLE) / p.n_bigrams END AS known_fraction,
        |  CASE WHEN COALESCE(p.sum_head, 0) = 0 THEN 0.0
        |    ELSE CAST(p.sum_bigram AS DOUBLE) / p.sum_head END AS support_ratio
        |FROM documents d LEFT JOIN perdoc p USING (doc_id)""".stripMargin),

    // windowed co-occurrence with exact lift (log-free PMI ratio):
    // ordered pairs within 3 tokens, pruned below 5 occurrences
    Query("q98_cooccurrence", (s, d) =>
      TextAnalysis.cooccurrence(t(s, d, "documents"), "doc_id", "text",
        window = 3, minPairCount = 5)
        .select(col("a"), col("b"), col("c_pair"), col("c_a"), col("c_b"),
          round(col("lift"), 6).as("lift")),
      // mirrors cooccurrence: lead-window pairs as position arithmetic
      // (t[i], t[i+j]) for j in 1..3, lift multiplied before the one divide
      """WITH arr AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |pos AS (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i FROM arr),
        |pairs AS (
        |  SELECT t[i] AS a, t[i + j] AS b
        |  FROM (SELECT doc_id, t, i, unnest([1, 2, 3]) AS j FROM pos)
        |  WHERE i + j <= len(t)),
        |pc AS (SELECT a, b, COUNT(*) AS c_pair FROM pairs GROUP BY 1, 2
        |       HAVING COUNT(*) >= 5),
        |uni AS (SELECT unnest(t) AS tok FROM arr),
        |uc AS (SELECT tok, COUNT(*) AS c_uni FROM uni GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS n_positions FROM uni)
        |SELECT p.a, p.b, p.c_pair, ua.c_uni AS c_a, ub.c_uni AS c_b,
        |  ROUND(CAST(p.c_pair AS DOUBLE) * CAST(t.n_positions AS DOUBLE)
        |    / (CAST(ua.c_uni AS DOUBLE) * CAST(ub.c_uni AS DOUBLE)), 6) AS lift
        |FROM pc p
        |JOIN uc ua ON p.a = ua.tok
        |JOIN uc ub ON p.b = ub.tok
        |CROSS JOIN tot t""".stripMargin),

    // fractional epoch replication: en×2.5, de×1.25, fr×0.5, others ×1 —
    // the upsampling half of training-mix construction
    Query("q99_replicate_epochs", (s, d) =>
      graft.llmdata.Sampling.replicateByEpochs(t(s, d, "documents"),
        "doc_id", "lang",
        Map("en" -> 2.5, "de" -> 1.25, "fr" -> 0.5), defaultEpochs = 1.0)
        .select("doc_id", "lang", "copy_index"),
      // mirrors replicateByEpochs: q88's md5 hash fraction with the '#rep'
      // salt, floor(e) copies + the fractional coin, generate_series fanout
      """WITH d AS (SELECT doc_id, lang,
        |    CASE lang WHEN 'en' THEN 2.5 WHEN 'de' THEN 1.25
        |      WHEN 'fr' THEN 0.5 ELSE 1.0 END AS e,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || '#rep'), 1, 8)) AS BIGINT)
        |      / 4294967296.0 AS frac
        |  FROM documents),
        |n AS (SELECT doc_id, lang,
        |    CAST(floor(e) AS INT)
        |      + (CASE WHEN frac < e - floor(e) THEN 1 ELSE 0 END) AS n_copies
        |  FROM d)
        |SELECT doc_id, lang, unnest(generate_series(0, n_copies - 1)) AS copy_index
        |FROM n WHERE n_copies >= 1""".stripMargin),

    // Morton z-value over (l_partkey, l_suppkey) masked to 10 bits — the
    // derived layout key multi-dimensional file skipping sorts by
    Query("q100_zorder_key", (s, d) =>
      t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"),
          graft.operators.ZOrder.zValue(col("l_partkey"), col("l_suppkey"), 10)
            .as("zval")), {
      // mirrors ZOrder.zValue bit-for-bit: disjoint bit positions, so the
      // additive form equals the engine's bitwise-OR fold
      val terms = (0 until 10).flatMap { i =>
        Seq(s"(((l_partkey >> $i) & 1) * ${1L << (2 * i)})",
          s"(((l_suppkey >> $i) & 1) * ${1L << (2 * i + 1)})")
      }.mkString(" + ")
      s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         |  CAST($terms AS BIGINT) AS zval
         |FROM lineitem""".stripMargin
    }),

    // cross-split leakage audit: TEST docs sharing >= 2 3-gram shingles
    // with any TRAIN doc under the q88 assignment — the check that keeps
    // a held-out split honest as the corpus is re-curated
    Query("q101_split_leakage", (s, d) => {
      val split = graft.llmdata.Sampling.splitAssign(t(s, d, "documents"),
        "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "v1")
      DedupOps.contamination(
        split.filter(col("split") === "test"),
        split.filter(col("split") === "train"),
        "doc_id", "text", shingleSize = 3, minShared = 2)
    }, {
      // q88's split thresholds (interpolated from the same doubles the
      // operator folds in) feeding q71's shingle-overlap sweep
      val ts = graft.llmdata.Sampling.splitThresholds(
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      val cases = ts.init.map { case (name, t) =>
        s"WHEN frac < $t THEN '$name'" }.mkString(" ")
      val toks = "regexp_split_to_array(trim(lower(text)), '\\s+')"
      val sh = s"list_sort(list_distinct(list_transform(generate_series(1, len($toks) - 2), " +
        s"i -> $toks[i] || ' ' || $toks[i+1] || ' ' || $toks[i+2])))"
      s"""WITH split AS (
         |  SELECT doc_id, text, CASE $cases ELSE '${ts.last._1}' END AS split
         |  FROM (SELECT doc_id, text,
         |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || 'v1'), 1, 8)) AS BIGINT)
         |      / 4294967296.0 AS frac FROM documents)),
         |bench AS (SELECT DISTINCT s FROM (
         |    SELECT unnest($sh) AS s FROM split WHERE split = 'train')),
         |corpus AS (SELECT DISTINCT doc_id, s FROM (
         |    SELECT doc_id, unnest($sh) AS s FROM split WHERE split = 'test'))
         |SELECT doc_id, COUNT(*) AS n_contaminated_shingles
         |FROM corpus JOIN bench USING (s)
         |GROUP BY doc_id HAVING COUNT(*) >= 2""".stripMargin
    }),

    // packed training rows materialized: q68's bins emitted as actual
    // concatenated sequences (id-ordered), md5'd for the scalar gate
    Query("q102_pack_bins", (s, d) =>
      TextAnalysis.materializePacked(t(s, d, "documents"), "doc_id", "text",
        budgetTokens = 512, nShards = 4)
        .select(col("shard"), col("bin_id"), col("n_docs"), col("bin_tokens"),
          md5(col("packed_text")).as("packed_md5")),
      // q68's packing CTE joined back to the text, id-ordered string_agg
      // per bin — ' ' separator and order mirror concat_ws over the
      // sorted struct array
      """WITH packed AS (
        |  SELECT doc_id, shard,
        |    CAST(floor((cum_tokens - n_tokens) / 512.0) AS BIGINT) AS bin_id,
        |    n_tokens
        |  FROM (
        |    SELECT doc_id, CAST(doc_id % 4 AS INT) AS shard,
        |      CAST(n_tokens AS BIGINT) AS n_tokens,
        |      CAST(SUM(CAST(n_tokens AS BIGINT)) OVER (PARTITION BY doc_id % 4
        |        ORDER BY doc_id ASC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        |    FROM (
        |      SELECT doc_id,
        |        CASE WHEN length(trim(text)) = 0 THEN 0
        |          ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
        |      FROM documents)))
        |SELECT p.shard, p.bin_id, COUNT(*) AS n_docs,
        |  CAST(SUM(p.n_tokens) AS BIGINT) AS bin_tokens,
        |  md5(string_agg(d.text, ' ' ORDER BY p.doc_id)) AS packed_md5
        |FROM packed p JOIN documents d USING (doc_id)
        |GROUP BY 1, 2""".stripMargin),

    // embedding-space outliers: the 16 vectors farthest from the
    // decimal-exact corpus centroid (mis-embedded-row detection)
    Query("q103_embedding_outliers", (s, d) =>
      Similarity.centroidOutliers(t(s, d, "embeddings"), "vec_id", "embedding",
        k = 16),
      // mirrors centroidOutliers: q93's decimal-exact per-dim mean as the
      // centroid list, squared distance via list_dot_product over the diff
      // list (the proven left-fold twin of the unrolled engine terms),
      // raw doubles compared (both engines compute bit-identical values)
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |cm AS (SELECT dim, CAST(SUM(CAST(x AS DECIMAL(20,6))) AS DOUBLE) / COUNT(*) AS m
        |       FROM (SELECT CAST(unnest(generate_series(1, len(emb))) AS INT) AS dim,
        |                    unnest(emb) AS x FROM e)
        |       GROUP BY 1),
        |c AS (SELECT list(m ORDER BY dim) AS cent FROM cm)
        |SELECT vec_id, dist2 FROM (
        |  SELECT e.vec_id,
        |    list_dot_product(
        |      list_transform(generate_series(1, len(e.emb)), i -> e.emb[i] - c.cent[i]),
        |      list_transform(generate_series(1, len(e.emb)), i -> e.emb[i] - c.cent[i])) AS dist2
        |  FROM e CROSS JOIN c)
        |ORDER BY dist2 DESC, vec_id ASC LIMIT 16""".stripMargin),

    // exact-percentile winsorization of the price column at [1%, 99%]
    Query("q108_winsorize", (s, d) =>
      graft.operators.Robust.winsorize(
        t(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice")),
        "l_extendedprice", loP = 0.01, hiP = 0.99),
      // quantile_cont ≡ Spark percentile (the q56 parity family); the
      // clamp picks either the original value or a boundary — both exact
      """WITH b AS (SELECT quantile_cont(l_extendedprice, 0.01) AS lo,
        |    quantile_cont(l_extendedprice, 0.99) AS hi FROM lineitem)
        |SELECT l_orderkey, l_linenumber, l_extendedprice,
        |  least(greatest(l_extendedprice, b.lo), b.hi) AS l_extendedprice_winsorized
        |FROM lineitem CROSS JOIN b""".stripMargin),

    // weekly cohort retention triangle over the events stream
    Query("q109_retention", (s, d) =>
      graft.operators.Retention.cohorts(t(s, d, "events"), "user_id", "ts"),
      // mirrors Retention.cohorts: ISO-Monday week truncation, integer
      // day diff, floor/7 week index, distinct users per cell
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |f AS (SELECT user_id, MIN(ts) AS first_ts FROM e GROUP BY 1)
        |SELECT CAST(date_trunc('week', f.first_ts) AS DATE) AS cohort_week,
        |  CAST(floor(date_diff('day', CAST(f.first_ts AS DATE), CAST(e.ts AS DATE)) / 7.0) AS INT)
        |    AS week_index,
        |  COUNT(DISTINCT e.user_id) AS n_users
        |FROM e JOIN f USING (user_id)
        |GROUP BY 1, 2""".stripMargin),

    // top-p (nucleus) pruning of the bigram LM table: smallest
    // count-ranked continuation prefix reaching 80% per head
    Query("q104_bigram_topp", (s, d) =>
      TextAnalysis.bigramTopP(t(s, d, "documents"), "doc_id", "text",
        p = 0.8, minHeadCount = 10),
      // q89's bigram table with a 1-PRECEDING cumulative window; the
      // nucleus cut multiplies the exact BIGINT prefix by the same 0.8
      // literal (IEEE multiply — identical even though 0.8 is inexact)
      """WITH arr AS (SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |             FROM documents),
        |bi AS (SELECT unnest(list_transform(generate_series(1, len(t) - 1),
        |         i -> t[i] || ' ' || t[i+1])) AS s FROM arr),
        |counts AS (SELECT string_split(s, ' ')[1] AS head,
        |             string_split(s, ' ')[2] AS cont, COUNT(*) AS c
        |           FROM bi GROUP BY 1, 2),
        |heads AS (SELECT head, CAST(SUM(c) AS BIGINT) AS n_head
        |          FROM counts GROUP BY 1
        |          HAVING CAST(SUM(c) AS BIGINT) >= 10)
        |SELECT head, cont, n_bigram, n_head, p_cont, cum_p, rank FROM (
        |  SELECT c.head, c.cont, CAST(c.c AS BIGINT) AS n_bigram, h.n_head,
        |    CAST(c.c AS DOUBLE) / h.n_head AS p_cont,
        |    CAST(COALESCE(SUM(c.c) OVER w_prev, 0) + c.c AS DOUBLE) / h.n_head AS cum_p,
        |    CAST(row_number() OVER w AS INT) AS rank,
        |    CAST(COALESCE(SUM(c.c) OVER w_prev, 0) AS BIGINT) AS cum_prev
        |  FROM counts c JOIN heads h USING (head)
        |  WINDOW w AS (PARTITION BY c.head ORDER BY c.c DESC, c.cont ASC),
        |    w_prev AS (PARTITION BY c.head ORDER BY c.c DESC, c.cont ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |WHERE CAST(cum_prev AS DOUBLE) < 0.8 * CAST(n_head AS DOUBLE)""".stripMargin),

    // hard-negative mining: top-3 most-similar DIFFERENT-label vectors
    // per anchor (contrastive-training negatives)
    Query("q105_hard_negatives", (s, d) =>
      Similarity.hardNegatives(t(s, d, "embeddings"), "vec_id", "embedding",
        "label", k = 3, bits = 8)
        .select(col("anchor_id"), col("negative_id"), col("anchor_label"),
          col("negative_label"), round(col("cosine"), 6).as("cosine"),
          col("rank")), {
      // q96's collision set with labels; the label inequality prunes
      // before the rank window
      def cos(a: String, b: String) =
        s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"
      s"""WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb,
         |    ${bucketSql(8)} AS bucket FROM embeddings)
         |SELECT anchor_id, negative_id, anchor_label, negative_label,
         |  ROUND(cosine, 6) AS cosine, rank FROM (
         |  SELECT a.vec_id AS anchor_id, b.vec_id AS negative_id,
         |    a.label AS anchor_label, b.label AS negative_label,
         |    ${cos("a.emb", "b.emb")} AS cosine,
         |    CAST(row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY ${cos("a.emb", "b.emb")} DESC, b.vec_id ASC) AS INT) AS rank
         |  FROM v a JOIN v b
         |    ON bit_count(xor(a.bucket, b.bucket)) <= 1 AND a.label <> b.label
         |  WHERE NOT isnan(${cos("a.emb", "b.emb")}))
         |WHERE rank <= 3""".stripMargin
    }),

    // the end-to-end curation pass, composed from oracled pieces: exact-
    // dedup keepers only, then quality >= 0.3, Gopher repetition caps,
    // and <= 50% cross-doc duplicated windows — the single operator
    // chain a corpus actually ships through before training
    Query("q107_curation_pipeline", (s, d) => {
      val docs = t(s, d, "documents")
      val quality = TextAnalysis.qualityScore(docs, "text")
        .select(col("doc_id"), col("quality_score"))
      val rep = TextAnalysis.repetitionFeatures(docs, "doc_id", "text")
      val dup = DedupOps.duplicateWindowCoverage(docs, "doc_id", "text",
        n = 8, minDf = 2)
      val keepers = docs
        .groupBy(TextAnalysis.fingerprint(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
      docs.select(col("doc_id"), col("lang"))
        .join(keepers, Seq("doc_id"), "left_semi")
        .join(quality, Seq("doc_id"))
        .join(rep, Seq("doc_id"))
        .join(dup.select(col("doc_id"), col("dup_window_fraction")), Seq("doc_id"))
        .filter(col("quality_score") >= 0.3
          && col("dup_token_fraction") <= 0.6
          && col("top_bigram_fraction") <= 0.18
          && col("dup_window_fraction") <= 0.5)
        .select("doc_id", "lang", "quality_score")
    }, {
      // composes the q33 (quality), q76 (repetition), q94 (dup coverage)
      // and q30 (keeper) oracle CTEs — names are disjoint by construction
      val toksArr = "regexp_split_to_array(trim(lower(text)), '\\s+')"
      val gram8 = (0 until 8).map(j => s"t[i+$j]").mkString(" || ' ' || ")
      s"""WITH qs AS ($qualityScoreSql),
         |toks AS (
         |  SELECT doc_id, t AS term FROM (
         |    SELECT doc_id, unnest($toksArr) AS t FROM documents)
         |  WHERE length(t) > 0),
         |tok_stats AS (
         |  SELECT doc_id, COUNT(*) AS n_tokens,
         |    COUNT(DISTINCT term) AS n_distinct
         |  FROM toks GROUP BY 1),
         |bi AS (
         |  SELECT doc_id, unnest(list_transform(
         |    generate_series(1, len($toksArr) - 1),
         |    i -> $toksArr[i] || ' ' || $toksArr[i+1])) AS s
         |  FROM documents),
         |bi_counts AS (SELECT doc_id, s, COUNT(*) AS c FROM bi GROUP BY 1, 2),
         |bi_stats AS (
         |  SELECT doc_id, MAX(c) AS top_c, CAST(SUM(c) AS BIGINT) AS n_bigrams
         |  FROM bi_counts GROUP BY 1),
         |rep AS (
         |  SELECT d.doc_id,
         |    CASE WHEN COALESCE(t.n_tokens, 0) = 0 THEN 0.0
         |      ELSE CAST(t.n_tokens - t.n_distinct AS DOUBLE) / t.n_tokens END
         |      AS dup_token_fraction,
         |    CASE WHEN COALESCE(b.n_bigrams, 0) = 0 THEN 0.0
         |      ELSE CAST(b.top_c AS DOUBLE) / b.n_bigrams END
         |      AS top_bigram_fraction
         |  FROM documents d
         |  LEFT JOIN tok_stats t ON d.doc_id = t.doc_id
         |  LEFT JOIN bi_stats b ON d.doc_id = b.doc_id),
         |arr AS (
         |  SELECT doc_id, $toksArr AS t
         |  FROM documents WHERE length(trim(text)) > 0),
         |g AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 7),
         |        i -> $gram8)) AS s FROM arr),
         |tot AS (SELECT doc_id, COUNT(*) AS n_windows FROM g GROUP BY 1),
         |dupg AS (SELECT s FROM g GROUP BY s HAVING COUNT(DISTINCT doc_id) >= 2),
         |dpd AS (SELECT doc_id, COUNT(*) AS n_dup_windows
         |        FROM g JOIN dupg USING (s) GROUP BY 1),
         |dupcov AS (
         |  SELECT d.doc_id,
         |    CASE WHEN COALESCE(t.n_windows, 0) = 0 THEN 0.0
         |      ELSE CAST(COALESCE(p.n_dup_windows, 0) AS DOUBLE) / t.n_windows
         |    END AS dup_window_fraction
         |  FROM documents d
         |  LEFT JOIN tot t USING (doc_id)
         |  LEFT JOIN dpd p USING (doc_id)),
         |keep AS (
         |  SELECT MIN(doc_id) AS doc_id FROM documents
         |  GROUP BY md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))))
         |SELECT d.doc_id, d.lang, q.quality_score
         |FROM documents d
         |JOIN keep USING (doc_id)
         |JOIN qs q USING (doc_id)
         |JOIN rep USING (doc_id)
         |JOIN dupcov USING (doc_id)
         |WHERE q.quality_score >= 0.3
         |  AND rep.dup_token_fraction <= 0.6
         |  AND rep.top_bigram_fraction <= 0.18
         |  AND dupcov.dup_window_fraction <= 0.5""".stripMargin
    }),

    // corpus snapshot diff: docs <350 vs docs >=150 (every 7th text
    // modified) → added / removed / modified / unchanged per id
    Query("q106_corpus_diff", (s, d) => {
      val docs = t(s, d, "documents")
      val oldSnap = docs.filter(col("doc_id") < 350)
      val newSnap = docs.filter(col("doc_id") >= 150)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" zzz"))).otherwise(col("text")))
      DedupOps.corpusDiff(oldSnap, newSnap, "doc_id", "text")
    }, {
      // full-outer fingerprint diff; the 'new' snapshot appends a token to
      // every 7th doc so all four statuses appear
      val fp = "md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')))"
      val fpNew = fp.replace("lower(text)",
        "lower(CASE WHEN doc_id % 7 = 0 THEN text || ' zzz' ELSE text END)")
      s"""WITH o AS (SELECT doc_id, $fp AS old_fp FROM documents WHERE doc_id < 350),
         |n AS (SELECT doc_id, $fpNew AS new_fp FROM documents WHERE doc_id >= 150)
         |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
         |  CASE WHEN o.doc_id IS NULL THEN 'added'
         |    WHEN n.doc_id IS NULL THEN 'removed'
         |    WHEN o.old_fp = n.new_fp THEN 'unchanged'
         |    ELSE 'modified' END AS status,
         |  o.old_fp, n.new_fp
         |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id""".stripMargin
    }),

    // calendar gap-fill + forward fill of per-user daily value series
    // (engagement-feature repair over sparse activity logs)
    Query("q110_gap_fill", (s, d) =>
      graft.operators.Timeseries.gapFillDaily(
        t(s, d, "events").filter(col("user_id") < 200),
        "user_id", "ts", "value"),
      // mirrors Timeseries.gapFillDaily: per-key spine from generate_series
      // (scalar list form — lateral args are unsupported), forward fill via
      // last_value IGNORE NULLS over the same total order
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS day_value
        |  FROM events WHERE user_id < 200 GROUP BY 1, 2),
        |bounds AS (SELECT user_id, MIN(day) AS min_day, MAX(day) AS max_day
        |  FROM daily GROUP BY 1),
        |sp AS (SELECT user_id, CAST(unnest(generate_series(
        |    CAST(min_day AS TIMESTAMP), CAST(max_day AS TIMESTAMP),
        |    INTERVAL 1 DAY)) AS DATE) AS day FROM bounds)
        |SELECT sp.user_id, sp.day, daily.day_value IS NOT NULL AS observed,
        |  last_value(daily.day_value IGNORE NULLS)
        |    OVER (PARTITION BY sp.user_id ORDER BY sp.day) AS value_filled
        |FROM sp LEFT JOIN daily USING (user_id, day)""".stripMargin),

    // 7-day RANGE-window rolling value per user — calendar-correct
    // across missing days, decimal-exact through the window
    Query("q111_rolling_window", (s, d) =>
      graft.operators.Timeseries.rollingDaily(
        t(s, d, "events").filter(col("user_id") < 500),
        "user_id", "ts", "value", windowDays = 7),
      // decimal stays decimal through the RANGE window (window sums of
      // doubles are order-dependent); integer day index keys the frame
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    SUM(CAST(value AS DECIMAL(20,6))) AS day_value,
        |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_idx
        |  FROM events WHERE user_id < 500 GROUP BY 1, 2, 4)
        |SELECT user_id, day,
        |  CAST(COUNT(*) OVER w AS BIGINT) AS n_days_observed,
        |  CAST(SUM(day_value) OVER w AS DOUBLE) AS rolling_value
        |FROM daily
        |WINDOW w AS (PARTITION BY user_id ORDER BY day_idx
        |  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin),

    // per-event-type anomalous days via the sqrt-free integer z-test
    // (N*x-S)^2 > k^2*(N*Sxx-S^2) — drift monitoring with no libm
    Query("q112_anomalous_days", (s, d) =>
      graft.operators.Timeseries.anomalousDays(t(s, d, "events"),
        "event_type", "ts", k = 2),
      // HUGEINT mirrors Spark's decimal(38,0): both sides evaluate the
      // sqrt-free z-test in exact integer arithmetic, k^2 = 4
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(COUNT(*) AS HUGEINT) AS n
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, CAST(SUM(n) AS HUGEINT) AS s1,
        |    CAST(SUM(n*n) AS HUGEINT) AS s2,
        |    CAST(COUNT(*) AS HUGEINT) AS n_days FROM daily GROUP BY 1)
        |SELECT d.event_type, d.day, CAST(d.n AS BIGINT) AS n_events
        |FROM daily d JOIN m USING (event_type)
        |WHERE (m.n_days * d.n - m.s1) * (m.n_days * d.n - m.s1)
        |    > 4 * (m.n_days * m.s2 - m.s1 * m.s1)""".stripMargin),

    // domain capping: keep the 10 highest-quality docs per source (no
    // site dominates the mix); WindowGroupLimit discards past-cap rows
    // map-side
    Query("q113_source_cap", (s, d) => {
      val docs = t(s, d, "documents")
      val scored = TextAnalysis.qualityScore(docs, "text")
        .select(col("doc_id"), col("quality_score"))
      graft.llmdata.Sampling.capPerStratum(
        docs.select(col("doc_id"), col("source")).join(scored, Seq("doc_id")),
        "source", Seq(col("quality_score").desc, col("doc_id").asc), cap = 10)
    },
      // shares the q33 quality CTE; the rank filter mirrors capPerStratum's
      // total order (quality desc, doc_id asc)
      s"""WITH qs AS ($qualityScoreSql),
         |j AS (SELECT d.doc_id, d.source, q.quality_score
         |  FROM documents d JOIN qs q USING (doc_id))
         |SELECT doc_id, source, quality_score,
         |  CAST(rn AS INT) AS rank_in_stratum FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY source
         |    ORDER BY quality_score DESC, doc_id ASC) AS rn FROM j)
         |WHERE rn <= 10""".stripMargin),

    // tokenizer-vocab coverage: per-doc out-of-vocabulary rate against
    // the corpus top-20 vocabulary
    Query("q114_oov_rate", (s, d) => {
      val docs = t(s, d, "documents")
      TextAnalysis.oovRate(docs, "doc_id", "text",
        TextAnalysis.vocabTopK(docs, "doc_id", "text", k = 20))
    },
      // top-20 vocab by occurrence (ties by term — mirrors vocabTopK's
      // total order); OOV = token with no vocab match, two BIGINTs divided
      // once in double space
      """WITH toks AS (
        |  SELECT doc_id, t AS term FROM (
        |    SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS t
        |    FROM documents)
        |  WHERE length(t) > 0),
        |vocab AS (SELECT term FROM (SELECT term, COUNT(*) AS c FROM toks GROUP BY 1)
        |  ORDER BY c DESC, term ASC LIMIT 20),
        |per AS (SELECT toks.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |    CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
        |  FROM toks LEFT JOIN vocab v USING (term) GROUP BY 1)
        |SELECT d.doc_id, COALESCE(per.n_tokens, 0) AS n_tokens,
        |  COALESCE(per.n_oov, 0) AS n_oov,
        |  CASE WHEN COALESCE(per.n_tokens, 0) = 0 THEN 0.0
        |    ELSE CAST(per.n_oov AS DOUBLE) / per.n_tokens END AS oov_rate
        |FROM (SELECT DISTINCT doc_id FROM documents) d LEFT JOIN per USING (doc_id)""".stripMargin),

    // wide→long melt of the lineitem money columns (Dataset.unpivot —
    // map-only, no shuffle)
    Query("q115_unpivot", (s, d) =>
      t(s, d, "lineitem").filter(col("l_orderkey") <= 1000)
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          "metric", "value"),
      // wide→long melt as explicit UNION ALL (engine-neutral form of
      // Dataset.unpivot)
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value
        |  FROM lineitem WHERE l_orderkey <= 1000
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
        |  FROM lineitem WHERE l_orderkey <= 1000
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
        |  FROM lineitem WHERE l_orderkey <= 1000
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
        |  FROM lineitem WHERE l_orderkey <= 1000""".stripMargin),

    // 3 rounds of fixed-point-integer PageRank over the corpus bigram
    // word graph (exact cross-engine: micro-unit ranks, floor division)
    Query("q116_pagerank", (s, d) => {
      val edges = t(s, d, "documents")
        .select(expr("filter(split(trim(lower(text)), '\\\\s+'), t -> length(t) > 0)").as("a"))
        .filter(size(col("a")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(a)-1), i -> struct(a[i-1] AS src, a[i] AS dst))")).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      graft.operators.Graph.pageRank(edges, iterations = 3)
    },
      // Graph.pageRank unrolled: micro-unit BIGINT ranks, `//` floor
      // division ≡ Spark `div` on non-negatives, 85/100 damping as
      // multiply-then-divide — every iteration is exact integer arithmetic
      """WITH arr AS (
        |  SELECT list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |    t -> length(t) > 0) AS a FROM documents),
        |e0 AS (SELECT
        |    unnest(list_transform(generate_series(1, len(a)-1), i -> a[i])) AS src,
        |    unnest(list_transform(generate_series(1, len(a)-1), i -> a[i+1])) AS dst
        |  FROM arr WHERE len(a) >= 2),
        |e AS (SELECT DISTINCT src, dst FROM e0),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM e GROUP BY 1),
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank_micro FROM nodes),
        |c1 AS (SELECT e.dst AS node, CAST(SUM(r0.rank_micro // d.outdeg) AS BIGINT) AS in_mass
        |  FROM e JOIN r0 ON e.src = r0.node JOIN deg d ON e.src = d.src GROUP BY 1),
        |r1 AS (SELECT n.node, CAST(150000 + (85 * COALESCE(c1.in_mass, 0)) // 100 AS BIGINT) AS rank_micro
        |  FROM nodes n LEFT JOIN c1 USING (node)),
        |c2 AS (SELECT e.dst AS node, CAST(SUM(r1.rank_micro // d.outdeg) AS BIGINT) AS in_mass
        |  FROM e JOIN r1 ON e.src = r1.node JOIN deg d ON e.src = d.src GROUP BY 1),
        |r2 AS (SELECT n.node, CAST(150000 + (85 * COALESCE(c2.in_mass, 0)) // 100 AS BIGINT) AS rank_micro
        |  FROM nodes n LEFT JOIN c2 USING (node)),
        |c3 AS (SELECT e.dst AS node, CAST(SUM(r2.rank_micro // d.outdeg) AS BIGINT) AS in_mass
        |  FROM e JOIN r2 ON e.src = r2.node JOIN deg d ON e.src = d.src GROUP BY 1),
        |r3 AS (SELECT n.node, CAST(150000 + (85 * COALESCE(c3.in_mass, 0)) // 100 AS BIGINT) AS rank_micro
        |  FROM nodes n LEFT JOIN c3 USING (node))
        |SELECT node, rank_micro FROM r3""".stripMargin),

    // exact column profile (row/null/distinct counts, min/max) in long
    // form — the pre-ingest drift check; the approx (HLL) tier shares
    // the shape and is spec-bounded against this one
    Query("q117_profile", (s, d) =>
      graft.operators.Profile.numeric(t(s, d, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_orderkey")),
      // one UNION ALL branch per profiled column; min/max as DOUBLE values
      // (never rendered strings — engines disagree on float formatting)
      Seq("l_quantity", "l_extendedprice", "l_discount",
      "l_orderkey").map(c =>
      s"""SELECT '$c' AS column_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(COUNT(*) - COUNT($c) AS BIGINT) AS n_nulls,
         |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
         |  CAST(MIN($c) AS DOUBLE) AS min_value,
         |  CAST(MAX($c) AS DOUBLE) AS max_value FROM lineitem""".stripMargin)
      .mkString("\nUNION ALL\n")),

    // fixed-width price histogram; bin edges resolved in integer
    // micro-units so edge values bin identically on every engine
    Query("q118_histogram", (s, d) =>
      graft.operators.Profile.histogram(t(s, d, "lineitem"),
        "l_extendedprice", lo = BigDecimal(0), width = BigDecimal(5000),
        nBins = 16),
      // micro-unit integer binning: decimal exact-scale → BIGINT floor
      // division (`//` ≡ Spark `div` on non-negatives)
      """WITH b AS (
        |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(20,6)) * 1000000 AS BIGINT) AS xm
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL)
        |SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(0 + bin * 5000000000 AS DOUBLE) / 1000000.0 AS bin_lo
        |FROM (SELECT (xm - 0) // 5000000000 AS bin FROM b WHERE xm >= 0)
        |WHERE bin < 16 GROUP BY 1""".stripMargin),

    // per-event-type daily-volume trend: closed-form OLS from
    // decimal(38,0) moments, one IEEE division at the end
    Query("q119_trend", (s, d) =>
      graft.operators.Timeseries.trendByKey(t(s, d, "events"),
        "event_type", "ts"),
      // OLS moments in HUGEINT (≡ Spark decimal(38,0)); x rebased to the
      // key's first day; slope/intercept as single IEEE expressions over
      // exact operands
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(COUNT(*) AS HUGEINT) AS y
        |  FROM events GROUP BY 1, 2),
        |based AS (
        |  SELECT event_type,
        |    CAST(date_diff('day', MIN(day) OVER (PARTITION BY event_type), day)
        |      AS HUGEINT) AS x, y
        |  FROM daily),
        |m AS (
        |  SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n,
        |    CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
        |    CAST(SUM(x*y) AS HUGEINT) AS sxy, CAST(SUM(x*x) AS HUGEINT) AS sxx
        |  FROM based GROUP BY 1)
        |SELECT event_type, CAST(n AS BIGINT) AS n_days,
        |  CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE) AS slope,
        |  (CAST(sy AS DOUBLE)
        |    - (CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE))
        |      * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept
        |FROM m WHERE n >= 2 AND (n*sxx - sx*sx) <> 0""".stripMargin),

    // SCD2 state history of each user's event_type: a mid-January
    // snapshot merged with the remainder — merge re-derives the version
    // chain, so the result equals re-sequencing the full history (the
    // idempotence Scd2Spec proves)
    Query("q120_scd2", (s, d) => {
      val ev = t(s, d, "events")
        .select(col("user_id"), col("event_type"), col("ts"))
      val cur = graft.incremental.Scd2.resequence(
        ev.filter(col("ts") < lit("2024-01-15").cast("timestamp_ntz")),
        "user_id", Seq("event_type"), "ts")
      graft.incremental.Scd2.merge(cur,
        ev.filter(col("ts") >= lit("2024-01-15").cast("timestamp_ntz")),
        "user_id", Seq("event_type"), "ts")
    },
      // re-sequencing the FULL history is the oracle for merge (Scd2Spec
      // proves merge ≡ full resequence); change-lag + successor-lead over
      // the same (valid_from, attr) total order
      """WITH src AS (SELECT user_id, event_type,
        |    CAST(ts AS TIMESTAMP) AS valid_from FROM events),
        |ord AS (SELECT user_id, event_type, valid_from,
        |    LAG(event_type) OVER (PARTITION BY user_id
        |      ORDER BY valid_from, event_type) AS prev FROM src),
        |chg AS (SELECT user_id, event_type, valid_from FROM ord
        |  WHERE prev IS NULL OR prev <> event_type)
        |SELECT user_id, event_type, valid_from,
        |  LEAD(valid_from) OVER w AS valid_to,
        |  LEAD(valid_from) OVER w IS NULL AS is_current
        |FROM chg
        |WINDOW w AS (PARTITION BY user_id ORDER BY valid_from, event_type)""".stripMargin),

    // interval×interval overlap via bucketed equi-join with the
    // first-overlap-bucket exactly-once rule (never a nested loop)
    Query("q121_interval_overlap", (s, d) => {
      val li = t(s, d, "lineitem").filter(col("l_orderkey") < 1500)
        .withColumn("end_ts",
          expr("timestampadd(HOUR, l_linenumber, l_shipdate)"))
      val a = li.filter(col("l_linenumber") <= 2).select(
        col("l_orderkey").as("a_order"), col("l_linenumber").as("a_line"),
        col("l_shipdate").as("a_start"), col("end_ts").as("a_end"))
      val b = li.filter(col("l_linenumber") >= 3).select(
        col("l_orderkey").as("b_order"), col("l_linenumber").as("b_line"),
        col("l_shipdate").as("b_start"), col("end_ts").as("b_end"))
      graft.operators.RangeJoin.intervalOverlap(a, b,
        "a_start", "a_end", "b_start", "b_end", bucketSeconds = 86400L)
        .select("a_order", "a_line", "b_order", "b_line")
    },
      // plain theta-join form of the bucketed interval overlap (DuckDB can
      // afford the nested loop at gate scale)
      """WITH li AS (SELECT l_orderkey, l_linenumber, l_shipdate,
        |    l_shipdate + l_linenumber * INTERVAL '1 hour' AS end_ts
        |  FROM lineitem WHERE l_orderkey < 1500),
        |a AS (SELECT l_orderkey AS a_order, l_linenumber AS a_line,
        |    l_shipdate AS a_start, end_ts AS a_end FROM li WHERE l_linenumber <= 2),
        |b AS (SELECT l_orderkey AS b_order, l_linenumber AS b_line,
        |    l_shipdate AS b_start, end_ts AS b_end FROM li WHERE l_linenumber >= 3)
        |SELECT a_order, a_line, b_order, b_line
        |FROM a JOIN b ON a_start <= b_end AND b_start <= a_end""".stripMargin),

    // CUBE over (returnflag, linestatus) with grouping_id disambiguating
    // subtotal rows from NULL group values
    Query("q122_cube", (s, d) =>
      t(s, d, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().cast("int").as("gid"), count(lit(1)).as("n"),
          exactSum(col("l_quantity")).as("sum_qty")),
      // GROUPING() uses the same bit convention as Spark's grouping_id
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin),

    // point-in-time dimension enrichment: every purchase joined to the
    // SCD2 browsing-state version ACTIVE at purchase time (AsOfJoin ∘
    // Scd2 — the warehouse pattern that makes backfills time-correct).
    // Non-purchase events are deduped to one per (user, instant) so
    // version starts are strictly increasing per key and as-of ≡
    // interval semantics exactly
    Query("q124_scd2_pit", (s, d) => {
      val ev = t(s, d, "events")
      val stateEvents = ev.filter(col("event_type") =!= "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(min(col("event_type")).as("event_type"))
      val dim = graft.incremental.Scd2.resequence(stateEvents,
          "user_id", Seq("event_type"), "ts")
        .select(col("user_id"), col("valid_from").as("ts"),
          unix_micros(col("valid_from").cast("timestamp")).as("version_id"),
          col("event_type").as("state"))
      val facts = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"))
      graft.operators.AsOfJoin.asOf(facts, dim, "user_id", "ts",
        "version_id", Seq("state"))
    },
      // the q120 version chain joined as intervals — as-of ≡ interval
      // semantics because version starts are strictly increasing per key
      // (the (user, instant) pre-dedup both sides mirror)
      """WITH src AS (
        |  SELECT user_id, MIN(event_type) AS event_type,
        |    CAST(ts AS TIMESTAMP) AS valid_from
        |  FROM events WHERE event_type <> 'purchase'
        |  GROUP BY user_id, CAST(ts AS TIMESTAMP)),
        |ord AS (SELECT user_id, event_type, valid_from,
        |    LAG(event_type) OVER w AS prev FROM src
        |  WINDOW w AS (PARTITION BY user_id ORDER BY valid_from, event_type)),
        |chg AS (SELECT user_id, event_type, valid_from FROM ord
        |  WHERE prev IS NULL OR prev <> event_type),
        |ver AS (SELECT user_id, event_type AS state, valid_from,
        |    epoch_us(valid_from) AS version_id,
        |    LEAD(valid_from) OVER (PARTITION BY user_id
        |      ORDER BY valid_from, event_type) AS valid_to
        |  FROM chg),
        |facts AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events WHERE event_type = 'purchase')
        |SELECT f.user_id, f.event_id, f.ts,
        |  v.version_id AS asof_version_id, v.state AS asof_state
        |FROM facts f LEFT JOIN ver v ON f.user_id = v.user_id
        |  AND v.valid_from <= f.ts AND (v.valid_to IS NULL OR f.ts < v.valid_to)""".stripMargin),

    // MATCH_RECOGNIZE-lite: per-user ordered journey string + RE2-subset
    // regex ("signed up then eventually purchased")
    Query("q125_pattern_match", (s, d) =>
      graft.operators.Patterns.matchSequence(t(s, d, "events"),
        "user_id", "ts", "event_id", "event_type",
        pattern = "^signup.*purchase$"),
      // journey = total-order token render (list ORDER BY ≡ sort_array);
      // the anchored RE2-subset pattern means "first event signup, last
      // event purchase"
      """SELECT user_id, journey,
        |  regexp_matches(journey, '^signup.*purchase$') AS matched
        |FROM (SELECT user_id,
        |    array_to_string(list(event_type ORDER BY ts, event_id), ' ') AS journey
        |  FROM events GROUP BY 1)""".stripMargin),

    // trailing-7-day distinct active users per day (WAU):
    // contribute-then-count — sliding DISTINCT can't be a window agg
    Query("q126_rolling_active", (s, d) =>
      graft.operators.Retention.rollingActive(t(s, d, "events"),
        "user_id", "ts", windowDays = 7),
      // contribute-then-count: each (user, active day) feeds its trailing
      // window's report days; no COUNT(DISTINCT) OVER anywhere
      """WITH perday AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |b AS (SELECT MIN(day) AS min_day, MAX(day) AS max_day FROM perday),
        |contrib AS (
        |  SELECT user_id, CAST(unnest(generate_series(
        |      CAST(greatest(day, min_day) AS TIMESTAMP),
        |      CAST(least(day + 6, max_day) AS TIMESTAMP),
        |      INTERVAL 1 DAY)) AS DATE) AS report_day
        |  FROM perday CROSS JOIN b)
        |SELECT report_day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
        |FROM contrib GROUP BY 1""".stripMargin),

    // EXACT similarity join via prefix filtering (AllPairs/PPJoin):
    // 100%-recall deterministic near-dup pairs, rarest-first prefix
    // blocking, integer-rational threshold (4/5) verify. The 4/5
    // threshold keeps prefixes at ~n/5 shingles — on this small-vocab
    // corpus the 1/2 operating point generated 3.4x the candidates for
    // the identical verified pair set (every true pair here is >= 0.9)
    Query("q127_prefix_jaccard", (s, d) =>
      graft.llmdata.DedupOps.prefixJaccardPairs(t(s, d, "documents"),
        "doc_id", "text", shingleSize = 3, tNum = 4, tDen = 5), {
      // exact-Jaccard ground truth: all-pairs over distinct shingle sets
      // with the same rational threshold — prefix blocking is invisible in
      // the result (100% recall), which is exactly what the gate proves
      val toks = "regexp_split_to_array(trim(lower(text)), '\\s+')"
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |      generate_series(1, len($toks) - 2),
         |      i -> $toks[i] || ' ' || $toks[i+1] || ' ' || $toks[i+2]))) AS sh
         |  FROM documents WHERE length(trim(text)) > 0),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY 1),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS o
         |  FROM tok a JOIN tok b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b, CAST(o AS BIGINT) AS overlap,
         |  CAST(sa.n + sb.n - o AS BIGINT) AS union_size
         |FROM inter
         |JOIN sizes sa ON sa.doc_id = id_a
         |JOIN sizes sb ON sb.doc_id = id_b
         |WHERE 5 * o >= 4 * (sa.n + sb.n - o)""".stripMargin
    }),

    // funnel scoped to 30-min gap-sessions: view -> click -> purchase
    // must happen within ONE sitting to convert
    Query("q128_session_funnel", (s, d) =>
      graft.operators.Funnel.sessionConversion(t(s, d, "events"),
        "user_id", "ts", "event_type", tieBreakCol = "event_id",
        gapSeconds = 1800, steps = Seq("view", "click", "purchase")),
      // q87's session CTE feeding q95's funnel shape, keyed on the
      // (user, session) composite
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    CAST(ts AS TIMESTAMP) AS ts FROM events),
        |b AS (SELECT user_id, event_id, event_type, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |      THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        |sess AS (SELECT user_id, event_type, ts,
        |    CAST(user_id AS VARCHAR) || ':' ||
        |      CAST(SUM(brk) OVER (PARTITION BY user_id
        |        ORDER BY ts ASC, event_id ASC
        |        ROWS UNBOUNDED PRECEDING) AS VARCHAR) AS skey
        |  FROM b),
        |s1 AS (SELECT skey, MIN(ts) AS t1 FROM sess
        |       WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT s.skey, MIN(s.ts) AS t2 FROM sess s JOIN s1 USING (skey)
        |       WHERE s.event_type = 'click' AND s.ts > s1.t1 GROUP BY 1),
        |s3 AS (SELECT s.skey, MIN(s.ts) AS t3 FROM sess s JOIN s2 USING (skey)
        |       WHERE s.event_type = 'purchase' AND s.ts > s2.t2 GROUP BY 1),
        |n AS (SELECT (SELECT COUNT(*) FROM s1) AS n1,
        |             (SELECT COUNT(*) FROM s2) AS n2,
        |             (SELECT COUNT(*) FROM s3) AS n3)
        |SELECT CAST(1 AS INT) AS step_index, 'view' AS step, n1 AS n_keys,
        |  CASE WHEN n1 = 0 THEN 0.0
        |    ELSE CAST(n1 AS DOUBLE) / CAST(n1 AS DOUBLE) END AS conversion FROM n
        |UNION ALL
        |SELECT CAST(2 AS INT), 'click', n2,
        |  CASE WHEN n1 = 0 THEN 0.0
        |    ELSE CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE) END FROM n
        |UNION ALL
        |SELECT CAST(3 AS INT), 'purchase', n3,
        |  CASE WHEN n1 = 0 THEN 0.0
        |    ELSE CAST(n3 AS DOUBLE) / CAST(n1 AS DOUBLE) END FROM n""".stripMargin),

    // semi-structured JSON property extraction (get_json_object path
    // into the props column) + integer aggregates per event type
    Query("q129_json_extract", (s, d) =>
      t(s, d, "events").groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"),
          min(get_json_object(col("props"), "$.k").cast("long")).as("min_k"),
          max(get_json_object(col("props"), "$.k").cast("long")).as("max_k")),
      // get_json_object ≡ json_extract_string on the same path; all
      // aggregates integer (SUM cast per the HUGEINT rule)
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |    AS BIGINT) AS sum_k,
        |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY 1""".stripMargin),

    // exact edit-distance near-dup pairs: length blocking (provable
    // recall — each edit moves length by <= 1) + banded thresholded
    // levenshtein verify
    Query("q130_edit_neardup", (s, d) =>
      graft.llmdata.DedupOps.editDistancePairs(t(s, d, "documents"),
        "doc_id", "text", maxDist = 5, bucketWidth = 32),
      // the same length-banded candidate set (the blocking is exact, so
      // mirroring it only saves the oracle from an all-pairs levenshtein)
      """WITH d AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
        |           FROM documents WHERE length(trim(text)) > 0),
        |cand AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.text AS ta, b.text AS tb
        |  FROM d a JOIN d b
        |    ON (b.n // 32) BETWEEN (a.n // 32) - 1 AND (a.n // 32) + 1
        |   AND a.doc_id < b.doc_id AND abs(a.n - b.n) <= 5)
        |SELECT id_a, id_b, CAST(levenshtein(ta, tb) AS BIGINT) AS edit_dist
        |FROM cand WHERE levenshtein(ta, tb) <= 5""".stripMargin),

    // hybrid retrieval: BM25 lexical top-50 ⊕ exact-cosine semantic
    // top-50, reciprocal-rank fused (two-term IEEE-exact scores)
    Query("q131_rrf_fusion", (s, d) => {
      val lex = graft.llmdata.TextAnalysis.bm25TopK(t(s, d, "documents"),
        "doc_id", "text", terms = Seq("vector"), k = 50)
        .select(col("doc_id"), col("rank"))
      val emb = t(s, d, "embeddings")
      val sem = Similarity.bruteForceTopK(emb,
        emb.filter(col("vec_id") === 1), "vec_id", "embedding", k = 50)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      Similarity.rrfFuse(lex, sem, "doc_id", kRrf = 60, topN = 10)
    },
      // q91's BM25 CTE (single term) ⊕ q36's cosine CTE (single query),
      // full-outer joined; the two reciprocal terms sum in fixed order
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |tok2 AS (SELECT doc_id, term FROM toks WHERE length(term) > 0),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok2 GROUP BY 1),
        |stats AS (SELECT CAST(SUM(dl) AS BIGINT) AS total_tokens,
        |            COUNT(*) AS n_docs FROM dl),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok2
        |       WHERE term IN ('vector') GROUP BY 1, 2),
        |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |scored AS (
        |  SELECT t.doc_id,
        |    (CAST(s.n_docs AS DOUBLE) / CAST(f.df AS DOUBLE))
        |      * (CAST(t.tf AS DOUBLE) * 2.25)
        |      / (CAST(t.tf AS DOUBLE)
        |        + 1.25 * (1.0 - 0.75 + 0.75 * CAST(l.dl AS DOUBLE)
        |          / (CAST(s.total_tokens AS DOUBLE) / CAST(s.n_docs AS DOUBLE)))) AS score
        |  FROM tf t JOIN dl l USING (doc_id) JOIN dfreq f USING (term)
        |  CROSS JOIN stats s),
        |lex AS (SELECT doc_id, CAST(row_number() OVER (
        |    ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank
        |  FROM scored QUALIFY rank <= 50),
        |sem AS (SELECT neighbor_id AS doc_id, CAST(rnk AS BIGINT) AS rank FROM (
        |  SELECT c.vec_id AS neighbor_id,
        |    row_number() OVER (ORDER BY list_dot_product(q.emb, c.emb)
        |      / (sqrt(list_dot_product(q.emb, q.emb))
        |        * sqrt(list_dot_product(c.emb, c.emb))) DESC,
        |      c.vec_id ASC) AS rnk
        |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) emb
        |        FROM embeddings WHERE vec_id = 1) q,
        |       (SELECT vec_id, CAST(embedding AS DOUBLE[]) emb FROM embeddings) c
        |  WHERE q.vec_id <> c.vec_id) WHERE rnk <= 50)
        |SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
        |  l.rank AS rank_lex, s.rank AS rank_sem,
        |  COALESCE(1.0 / CAST(60 + l.rank AS DOUBLE), 0.0)
        |    + COALESCE(1.0 / CAST(60 + s.rank AS DOUBLE), 0.0) AS rrf_score,
        |  CAST(row_number() OVER (ORDER BY
        |    COALESCE(1.0 / CAST(60 + l.rank AS DOUBLE), 0.0)
        |      + COALESCE(1.0 / CAST(60 + s.rank AS DOUBLE), 0.0) DESC,
        |    COALESCE(l.doc_id, s.doc_id) ASC) AS INT) AS fused_rank
        |FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
        |QUALIFY fused_rank <= 10""".stripMargin),

    // coarse-to-fine ANN: rank on the first 8 of 64 dims, exact-rerank
    // the 12-candidate overfetch to a final top-3
    Query("q132_truncated_rerank", (s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.truncatedRerank(emb, emb.filter(col("vec_id") < 16),
        "vec_id", "embedding", dPrefix = 8, overfetch = 4, k = 3)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"), col("rank"))
    },
      // list slicing mirrors Spark's slice(); coarse rank, 12-candidate
      // cut, exact full-dim rerank — both stages tie-broken by id
      """WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) emb
        |           FROM embeddings WHERE vec_id < 16),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) emb FROM embeddings),
        |coarse AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    q.emb AS qv, c.emb AS cv,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_dot_product(q.emb[1:8], c.emb[1:8])
        |        / (sqrt(list_dot_product(q.emb[1:8], q.emb[1:8]))
        |          * sqrt(list_dot_product(c.emb[1:8], c.emb[1:8]))) DESC,
        |      c.vec_id ASC) AS crank
        |  FROM q, c WHERE q.vec_id <> c.vec_id),
        |cand AS (SELECT * FROM coarse WHERE crank <= 12)
        |SELECT query_id, neighbor_id, ROUND(cosine, 6) AS cosine, rank FROM (
        |  SELECT query_id, neighbor_id,
        |    list_dot_product(qv, cv)
        |      / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine,
        |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY
        |      list_dot_product(qv, cv)
        |        / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) DESC,
        |      neighbor_id ASC) AS INT) AS rank
        |  FROM cand)
        |WHERE rank <= 3""".stripMargin),

    // incremental aggregate maintenance: merged partials over a
    // history/delta split must equal the direct full aggregate (the
    // oracle IS the direct form — equivalence is the point)
    Query("q133_agg_merge", (s, d) => {
      val ev = t(s, d, "events")
      val prev = graft.operators.AggMerge.dailyPartial(
        ev.filter(to_date(col("ts")) < lit("2024-01-15").cast("date")),
        "ts", "value")
      val delta = graft.operators.AggMerge.dailyPartial(
        ev.filter(to_date(col("ts")) >= lit("2024-01-15").cast("date")),
        "ts", "value")
      graft.operators.AggMerge.finish(
        graft.operators.AggMerge.merge(Seq(prev, delta)))
    },
      // the DIRECT full aggregate — hash-equality proves the algebraic
      // merge of history+delta partials reconstructs it bit-exactly
      """SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value,
        |  MIN(value) AS min_value, MAX(value) AS max_value
        |FROM events GROUP BY 1""".stripMargin),

    // per-doc novelty in ingestion order: share of 8-gram windows no
    // smaller-id doc contains — the "is this source mined out" curve
    Query("q134_novelty", (s, d) =>
      graft.llmdata.DedupOps.noveltyByOrder(t(s, d, "documents"),
        "doc_id", "text", windowSize = 8), {
      // first-occurrence attribution by min(doc_id) over the distinct
      // 8-gram window stream; one division of two BIGINTs
      val toks = "regexp_split_to_array(trim(lower(text)), '\\s+')"
      s"""WITH sh AS (
         |  SELECT DISTINCT doc_id, unnest(list_transform(
         |      generate_series(1, len($toks) - 7),
         |      i -> list_aggregate(($toks)[i:i+7], 'string_agg', ' '))) AS s
         |  FROM documents WHERE length(trim(text)) > 0),
         |fs AS (SELECT s, MIN(doc_id) AS first_doc FROM sh GROUP BY 1)
         |SELECT sh.doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
         |  CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_novel,
         |  CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(COUNT(*) AS DOUBLE) AS novelty_rate
         |FROM sh JOIN fs f USING (s) GROUP BY 1""".stripMargin
    }),

    // within-session Markov transition matrix (user-flow table):
    // session boundaries cut transitions; share = two exact BIGINTs
    // divided once
    Query("q135_session_transitions", (s, d) =>
      graft.operators.Sessionize.transitions(t(s, d, "events"),
        "user_id", "ts", "event_type", gapSeconds = 1800,
        tieBreakCol = "event_id"),
      // q87's session CTE + a lead window per (user, session); the share
      // is n over the from-type row sum — both exact integers
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    CAST(ts AS TIMESTAMP) AS ts FROM events),
        |b AS (SELECT user_id, event_id, event_type, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |      THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        |sess AS (SELECT user_id, event_id, event_type, ts,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |      ROWS UNBOUNDED PRECEDING) AS session_index
        |  FROM b),
        |nxt AS (SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id, session_index
        |      ORDER BY ts ASC, event_id ASC) AS to_type
        |  FROM sess),
        |m AS (SELECT from_type, to_type, COUNT(*) AS n FROM nxt
        |      WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
        |  CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
        |FROM m""".stripMargin),

    // acquisition report: marginal 8-gram novelty of a candidate batch
    // (doc_id % 5 = 4, a scale-free 20% slice) against the corpus rest —
    // corpus side is ONE map pass against the broadcast batch window set
    Query("q136_batch_novelty", (s, d) => {
      val docs = t(s, d, "documents")
      graft.llmdata.DedupOps.batchNovelty(
        docs.filter(pmod(col("doc_id"), lit(5)) =!= 4),
        docs.filter(pmod(col("doc_id"), lit(5)) === 4),
        "doc_id", "text", windowSize = 8)
    }, {
      // batch (doc_id%5=4) windows LEFT JOIN the corpus-rest window set;
      // novelty = null-match fraction
      val toks = "regexp_split_to_array(trim(lower(text)), '\\s+')"
      val sh8 = s"list_transform(generate_series(1, len($toks) - 7), " +
        s"i -> list_aggregate(($toks)[i:i+7], 'string_agg', ' '))"
      s"""WITH bsh AS (SELECT DISTINCT doc_id, unnest($sh8) AS s
         |  FROM documents WHERE doc_id % 5 = 4 AND length(trim(text)) > 0),
         |csh AS (SELECT DISTINCT unnest($sh8) AS s
         |  FROM documents WHERE doc_id % 5 <> 4 AND length(trim(text)) > 0)
         |SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
         |  CAST(SUM(CASE WHEN c.s IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
         |  CAST(SUM(CASE WHEN c.s IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(COUNT(*) AS DOUBLE) AS new_rate
         |FROM bsh b LEFT JOIN csh c USING (s) GROUP BY 1""".stripMargin
    }),

    // which sources copy from which: the exact near-dup pair set rolled
    // up to an unordered source×source matrix
    Query("q137_source_copy_matrix", (s, d) => {
      val docs = t(s, d, "documents")
      val pairs = graft.llmdata.DedupOps.prefixJaccardPairs(docs,
        "doc_id", "text", shingleSize = 3, tNum = 4, tDen = 5)
      val src = docs.select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("id_a"), col("source").as("__sa")), "id_a")
        .join(src.select(col("doc_id").as("id_b"), col("source").as("__sb")), "id_b")
        .groupBy(least(col("__sa"), col("__sb")).as("source_x"),
          greatest(col("__sa"), col("__sb")).as("source_y"))
        .agg(count(lit(1)).as("n_pairs"))
    }, {
      // q127's exact pair CTEs rolled up to the unordered source matrix
      val toks = "regexp_split_to_array(trim(lower(text)), '\\s+')"
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |      generate_series(1, len($toks) - 2),
         |      i -> ($toks)[i] || ' ' || ($toks)[i+1] || ' ' || ($toks)[i+2]))) AS sh
         |  FROM documents WHERE length(trim(text)) > 0),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY 1),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS o
         |  FROM tok a JOIN tok b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (SELECT id_a, id_b FROM inter
         |  JOIN sizes sa ON sa.doc_id = id_a
         |  JOIN sizes sb ON sb.doc_id = id_b
         |  WHERE 5 * o >= 4 * (sa.n + sb.n - o))
         |SELECT least(da.source, db.source) AS source_x,
         |  greatest(da.source, db.source) AS source_y,
         |  CAST(COUNT(*) AS BIGINT) AS n_pairs
         |FROM pairs p JOIN documents da ON p.id_a = da.doc_id
         |             JOIN documents db ON p.id_b = db.doc_id
         |GROUP BY 1, 2""".stripMargin
    }),

    // scale-default edit-distance near-dup: simhash pigeonhole blocker
    // (never fat length buckets) → |Δlen| gate → banded levenshtein
    // verify; q130 keeps the exact small-corpus form
    Query("q138_edit_blocked", (s, d) =>
      graft.llmdata.DedupOps.editDistancePairsBlocked(t(s, d, "documents"),
        "doc_id", "text", maxDist = 5, maxHamming = 3), {
      // q35's simhash CTE, then the blocked composition's EXACT semantics:
      // hamming gate (an all-pairs bit_count is fine at oracle scale — the
      // pigeonhole equi-joins produce precisely this set), length gate,
      // levenshtein verify
      val bitTerms = (0 until 64).map { b =>
        val h = if (b < 32) "hlo" else "hhi"
        s"(CASE WHEN SUM((($h >> ${b % 32}) & 1) * 2 - 1) > 0 THEN ${1L << b} ELSE 0 END)"
      }
      s"""WITH fp AS (SELECT doc_id, CAST(${bitTerms.mkString(" + ")} AS BIGINT) AS simhash
         |  FROM (SELECT doc_id,
         |      CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) AS hhi,
         |      CAST(concat('0x', substr(md5(tok), 9, 8)) AS BIGINT) AS hlo
         |    FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
         |      FROM documents WHERE length(trim(text)) > 0))
         |  GROUP BY doc_id),
         |d AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
         |  FROM documents WHERE length(trim(text)) > 0),
         |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3)
         |SELECT id_a, id_b, CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist
         |FROM cand JOIN d da ON cand.id_a = da.doc_id
         |          JOIN d db ON cand.id_b = db.doc_id
         |WHERE abs(da.n - db.n) <= 5 AND levenshtein(da.text, db.text) <= 5""".stripMargin
    }),

    // blocker evaluation harness: the simhash-blocked edit-distance pass
    // (q138) audited against the exact pair set (q130) — one row of
    // exact counts + recall/precision (the measurement that licenses an
    // approximate blocker before it gates a production dedup pass)
    Query("q147_blocker_audit", (s, d) => {
      // audit = BOTH generators (exact truth + blocked candidate) — a
      // sample-scale calibration tool by the same contract as q201:
      // measure the blocker on a deterministic slice, deploy it on the
      // full corpus (11.2 s full-corpus -> ~3 s at the half sample;
      // the exact all-pairs-in-length-block truth is the fat half)
      val docs = t(s, d, "documents")
        .filter(graft.llmdata.Sampling.hashFraction(col("doc_id")) < 0.5)
      graft.llmdata.DedupOps.pairSetAudit(
        graft.llmdata.DedupOps.editDistancePairs(docs,
          "doc_id", "text", maxDist = 5, bucketWidth = 32),
        graft.llmdata.DedupOps.editDistancePairsBlocked(docs,
          "doc_id", "text", maxDist = 5, maxHamming = 3))
    }, {
      // q130's exact CTE (renamed) vs q138's blocked CTE, full-outer joined
      // on the canonical pair key; counts are exact, recall/precision two
      // BIGINTs divided once
      val bitTerms = (0 until 64).map { b =>
        val h = if (b < 32) "hlo" else "hhi"
        s"(CASE WHEN SUM((($h >> ${b % 32}) & 1) * 2 - 1) > 0 THEN ${1L << b} ELSE 0 END)"
      }
      val half = "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) / 4294967296.0 < 0.5"
      s"""WITH ed AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
         |  FROM documents WHERE $half AND length(trim(text)) > 0),
         |exact_pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM ed a JOIN ed b
         |    ON (b.n // 32) BETWEEN (a.n // 32) - 1 AND (a.n // 32) + 1
         |   AND a.doc_id < b.doc_id AND abs(a.n - b.n) <= 5
         |  WHERE levenshtein(a.text, b.text) <= 5),
         |fp AS (SELECT doc_id, CAST(${bitTerms.mkString(" + ")} AS BIGINT) AS simhash
         |  FROM (SELECT doc_id,
         |      CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) AS hhi,
         |      CAST(concat('0x', substr(md5(tok), 9, 8)) AS BIGINT) AS hlo
         |    FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
         |      FROM documents WHERE $half AND length(trim(text)) > 0))
         |  GROUP BY doc_id),
         |blocked_pairs AS (
         |  SELECT c.id_a, c.id_b
         |  FROM (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |        FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         |        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3) c
         |  JOIN ed da ON c.id_a = da.doc_id JOIN ed db ON c.id_b = db.doc_id
         |  WHERE abs(da.n - db.n) <= 5 AND levenshtein(da.text, db.text) <= 5)
         |SELECT CAST(COUNT(t.id_a) AS BIGINT) AS n_truth,
         |  CAST(COUNT(c.id_a) AS BIGINT) AS n_candidate,
         |  CAST(COUNT(CASE WHEN t.id_a IS NOT NULL AND c.id_a IS NOT NULL THEN 1 END) AS BIGINT) AS n_common,
         |  CAST(COUNT(CASE WHEN c.id_a IS NULL THEN 1 END) AS BIGINT) AS n_missed,
         |  CAST(COUNT(CASE WHEN t.id_a IS NULL THEN 1 END) AS BIGINT) AS n_spurious,
         |  CASE WHEN COUNT(t.id_a) > 0
         |    THEN CAST(COUNT(CASE WHEN t.id_a IS NOT NULL AND c.id_a IS NOT NULL THEN 1 END) AS DOUBLE)
         |       / CAST(COUNT(t.id_a) AS DOUBLE) ELSE 0.0 END AS recall,
         |  CASE WHEN COUNT(c.id_a) > 0
         |    THEN CAST(COUNT(CASE WHEN t.id_a IS NOT NULL AND c.id_a IS NOT NULL THEN 1 END) AS DOUBLE)
         |       / CAST(COUNT(c.id_a) AS DOUBLE) ELSE 0.0 END AS precision
         |FROM exact_pairs t FULL OUTER JOIN blocked_pairs c
         |  ON t.id_a = c.id_a AND t.id_b = c.id_b""".stripMargin
    }),

    // exact duplicated-substring span removal (Lee et al. exact-substring
    // dedup at token granularity): cross-doc 8-gram windows merge into
    // maximal spans, cut from the canonical token stream
    Query("q140_dup_span_scrub", (s, d) =>
      graft.llmdata.DedupOps.dupSpanScrub(t(s, d, "documents"),
        "doc_id", "text", n = 8, minDf = 2),
      // mirrors dupSpanScrub window-for-window: positional 8-gram windows,
      // >= 2 distinct docs → duplicated, bounded ×8 position fan-out,
      // lag-island span count, ORDER BY pos string_agg reassembly
      """WITH docs AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS arr
        |  FROM documents WHERE length(trim(text)) > 0),
        |toks AS (SELECT doc_id, i AS pos, arr[i] AS tok
        |  FROM docs, unnest(generate_series(1, len(arr))) AS t(i)),
        |wins AS (SELECT doc_id, i AS pos, list_aggregate(arr[i:i+7], 'string_agg', ' ') AS s
        |  FROM docs, unnest(generate_series(1, len(arr) - 7)) AS t(i)),
        |dup AS (SELECT s FROM wins GROUP BY s HAVING count(DISTINCT doc_id) >= 2),
        |dpos AS (SELECT DISTINCT w.doc_id, p
        |  FROM wins w JOIN dup USING (s), unnest(generate_series(w.pos, w.pos + 7)) AS u(p)),
        |isl AS (SELECT doc_id, p,
        |    CASE WHEN lag(p) OVER w IS NULL OR p - lag(p) OVER w > 1 THEN 1 ELSE 0 END AS brk
        |  FROM dpos WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
        |stats AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_tokens,
        |    CAST(sum(brk) AS BIGINT) AS n_spans FROM isl GROUP BY 1),
        |kept AS (SELECT t.doc_id, t.pos, t.tok FROM toks t
        |  LEFT JOIN dpos d ON t.doc_id = d.doc_id AND t.pos = d.p WHERE d.p IS NULL),
        |scrub AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS scrubbed_text
        |  FROM kept GROUP BY 1),
        |totals AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens FROM toks GROUP BY 1)
        |SELECT d.doc_id, coalesce(t.n_tokens, 0) AS n_tokens,
        |  coalesce(s.n_dup_tokens, 0) AS n_dup_tokens,
        |  coalesce(s.n_spans, 0) AS n_spans,
        |  coalesce(sc.scrubbed_text, '') AS scrubbed_text
        |FROM documents d
        |LEFT JOIN totals t USING (doc_id) LEFT JOIN stats s USING (doc_id)
        |LEFT JOIN scrub sc USING (doc_id)""".stripMargin),

    // categorical column profile: one melt (stack) → one value-keyed +
    // one column-keyed aggregate for ALL columns; top-3 values rendered
    // under a total order
    Query("q142_string_profile", (s, d) =>
      graft.operators.Profile.strings(t(s, d, "documents"),
        Seq("lang", "source"), topK = 3),
      // mirrors Profile.strings: UNION ALL melt, per-column stats, top-3
      // by (count desc, value asc), value:count comma rendering
      """WITH long AS (
        |  SELECT 'lang' AS column_name, CAST(lang AS VARCHAR) AS value FROM documents
        |  UNION ALL
        |  SELECT 'source', CAST(source AS VARCHAR) FROM documents),
        |stats AS (SELECT column_name, CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        |    CAST(count(DISTINCT value) AS BIGINT) AS n_distinct,
        |    CAST(min(length(value)) AS BIGINT) AS min_len,
        |    CAST(max(length(value)) AS BIGINT) AS max_len
        |  FROM long GROUP BY 1),
        |byval AS (SELECT column_name, value, count(*) AS cnt FROM long
        |  WHERE value IS NOT NULL GROUP BY 1, 2),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY column_name
        |    ORDER BY cnt DESC, value ASC) AS rn FROM byval),
        |tops AS (SELECT column_name, string_agg(value || ':' || cnt, ',' ORDER BY rn) AS top_values
        |  FROM ranked WHERE rn <= 3 GROUP BY 1)
        |SELECT s.column_name, s.n_rows, s.n_nulls, s.n_distinct, s.min_len,
        |  s.max_len, coalesce(t.top_values, '') AS top_values
        |FROM stats s LEFT JOIN tops t USING (column_name)""".stripMargin),

    // engagement stickiness: DAU / trailing-7-day AU per day (two
    // contribute-then-count passes; exact integer ratio in double)
    Query("q143_stickiness", (s, d) =>
      graft.operators.Retention.stickiness(t(s, d, "events"),
        "user_id", "ts", windowDays = 7),
      // mirrors Retention.stickiness: day-deduped stream, window-1 and
      // window-7 contribute-then-count, one exact double division
      """WITH perday AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |bounds AS (SELECT min(day) AS mn, max(day) AS mx FROM perday),
        |dau AS (SELECT day AS report_day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
        |  FROM perday GROUP BY 1),
        |wau AS (SELECT CAST(d AS DATE) AS report_day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
        |  FROM (SELECT user_id, unnest(generate_series(CAST(greatest(day, mn) AS TIMESTAMP),
        |      CAST(least(day + 6, mx) AS TIMESTAMP), INTERVAL 1 DAY)) AS d
        |    FROM perday, bounds) GROUP BY 1)
        |SELECT report_day, dau.dau, wau.wau,
        |  CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE) AS stickiness
        |FROM dau JOIN wau USING (report_day)""".stripMargin),

    // vocabulary drift: old slice (doc_id < 250) vs new slice — per-term
    // fpm shift classified new/gone/rising/falling/stable (the
    // source-monitoring signal read before tokens reach a training mix)
    Query("q145_vocab_drift", (s, d) => {
      val docs = t(s, d, "documents")
      TextAnalysis.vocabDrift(
        docs.filter(col("doc_id") < 250), docs.filter(col("doc_id") >= 250),
        "doc_id", "text", minCount = 5, risingAt = 2.0)
    },
      // mirrors vocabDrift expression-for-expression (fpm trees identical
      // so the IEEE values and threshold comparisons are bit-stable)
      """WITH oldtok AS (SELECT t FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS t
        |    FROM documents WHERE doc_id < 250) WHERE length(t) > 0),
        |newtok AS (SELECT t FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS t
        |    FROM documents WHERE doc_id >= 250) WHERE length(t) > 0),
        |co AS (SELECT t AS term, count(*) AS n_old FROM oldtok GROUP BY 1),
        |cn AS (SELECT t AS term, count(*) AS n_new FROM newtok GROUP BY 1),
        |tot AS (SELECT (SELECT count(*) FROM oldtok) AS total_old,
        |               (SELECT count(*) FROM newtok) AS total_new),
        |j AS (SELECT term, n_old, n_new, total_old, total_new
        |  FROM co FULL OUTER JOIN cn USING (term) CROSS JOIN tot
        |  WHERE coalesce(n_old, 0) + coalesce(n_new, 0) >= 5)
        |SELECT term, CAST(coalesce(n_old, 0) AS BIGINT) AS n_old,
        |  CAST(coalesce(n_new, 0) AS BIGINT) AS n_new,
        |  CAST(n_old AS DOUBLE) * 1000000.0 / CAST(total_old AS DOUBLE) AS fpm_old,
        |  CAST(n_new AS DOUBLE) * 1000000.0 / CAST(total_new AS DOUBLE) AS fpm_new,
        |  CASE WHEN n_old IS NULL THEN 'new' WHEN n_new IS NULL THEN 'gone'
        |    WHEN CAST(n_new AS DOUBLE) * 1000000.0 / CAST(total_new AS DOUBLE)
        |      >= (CAST(n_old AS DOUBLE) * 1000000.0 / CAST(total_old AS DOUBLE)) * 2.0 THEN 'rising'
        |    WHEN (CAST(n_new AS DOUBLE) * 1000000.0 / CAST(total_new AS DOUBLE)) * 2.0
        |      <= CAST(n_old AS DOUBLE) * 1000000.0 / CAST(total_old AS DOUBLE) THEN 'falling'
        |    ELSE 'stable' END AS status
        |FROM j""".stripMargin),

    // temperature-flattened training mix: 200-doc sample whose language
    // shares follow n^0.5 instead of n (low-resource langs boosted);
    // integer-exact quotas, deterministic hash-rank membership
    Query("q146_temperature_mix", (s, d) =>
      graft.llmdata.Sampling.temperatureMix(
        t(s, d, "documents").select(col("doc_id"), col("lang")),
        "doc_id", "lang", budget = 200L),
      // integer-exact mirror of temperatureMix at α = 0.5: w = ⌊√n⌋
      // (correctly-rounded IEEE sqrt both engines), quota = budget·w // Σw
      // capped at n, membership = q88's md5-fraction rank order
      """WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
        |w AS (SELECT lang, n, CAST(FLOOR(SQRT(CAST(n AS DOUBLE))) AS BIGINT) AS w FROM c),
        |t AS (SELECT CAST(SUM(w) AS BIGINT) AS wt FROM w),
        |q AS (SELECT lang, LEAST((200 * w) // wt, n) AS quota FROM w, t),
        |r AS (SELECT doc_id, lang,
        |        CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |          / 4294967296.0 AS frac
        |      FROM documents),
        |rr AS (SELECT doc_id, lang,
        |        ROW_NUMBER() OVER (PARTITION BY lang ORDER BY frac, doc_id) AS rn FROM r)
        |SELECT rr.doc_id, rr.lang, CAST(rn AS INT) AS rank_in_stratum
        |FROM rr JOIN q USING (lang) WHERE rn <= quota""".stripMargin),

    // leakage-safe split: hash the near-dup cluster representative so a
    // doc and its near-duplicate can never cross splits (the fix for
    // what q101 audits)
    Query("q144_split_by_cluster", (s, d) => {
      val docs = t(s, d, "documents")
      graft.llmdata.Sampling.splitByCluster(docs, "doc_id",
        DedupOps.nearDupClusters(DedupOps.minhashLsh(docs, "doc_id", "text",
          shingleSize = 3, bands = 4, rows = 4, jaccardThreshold = 0.4)),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "v1")
        .select("doc_id", "split")
    }, {
      // q63's cluster CTEs → representative key (cluster_id, else own id,
      // both as VARCHAR) → q88's md5-fraction CASE on the representative
      val ts = graft.llmdata.Sampling.splitThresholds(
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      val cases = ts.init.map { case (name, t) =>
        s"WHEN frac < $t THEN '$name'" }.mkString(" ")
      s"""WITH RECURSIVE $minhashPairsCtes,
         |edges AS (SELECT id_a, id_b FROM mh_pairs
         |          UNION ALL SELECT id_b, id_a FROM mh_pairs),
         |reach(id, label) AS (
         |  SELECT DISTINCT id_a, id_a FROM edges
         |  UNION
         |  SELECT e.id_a, r.label FROM edges e JOIN reach r ON e.id_b = r.id),
         |comp AS (SELECT id, MIN(label) AS cluster_id FROM reach GROUP BY 1),
         |rep AS (SELECT d.doc_id,
         |    coalesce(CAST(c.cluster_id AS VARCHAR), CAST(d.doc_id AS VARCHAR)) AS r
         |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id)
         |SELECT doc_id, CASE $cases ELSE '${ts.last._1}' END AS split
         |FROM (SELECT doc_id,
         |  CAST(concat('0x', substr(md5(r || 'v1'), 1, 8)) AS BIGINT)
         |    / 4294967296.0 AS frac FROM rep)""".stripMargin
    }),

    // percent_rank / cume_dist parity: integer rank ratios evaluated in
    // double — exact cross-engine
    Query("q123_percent_rank", (s, d) => {
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("l_quantity").asc)
      t(s, d, "lineitem").filter(col("l_orderkey") < 2000)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_quantity"),
          percent_rank().over(w).as("pr"), cume_dist().over(w).as("cd"))
    },
      // tie-aware integer rank ratios; the one double division each is
      // IEEE-exact on both engines
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
        |  percent_rank() OVER w AS pr, cume_dist() OVER w AS cd
        |FROM lineitem WHERE l_orderkey < 2000
        |WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity ASC)""".stripMargin),
  )
}
