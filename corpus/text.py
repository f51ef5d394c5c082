"""Text queries: statistics, language and quality heuristics,
chunking, vocabularies, n-gram models, retrieval (tf-idf, BM25, boolean
search), BPE and mixture planning over the documents table."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from corpus.common import _MIX_TARGET, _MIX_WEIGHTS, _bm25_sql, _t


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from obsplus_spark.operators.text import text_stats

    docs = _t(spark, sf_dir, "documents")
    return text_stats(docs)


_SQL_TEXT_STATS = r"""
    WITH toks AS (
      SELECT doc_id, text,
             CASE WHEN length(trim(text)) = 0 THEN []
                  ELSE string_split_regex(trim(text), '\s+') END AS w
      FROM documents
    )
    SELECT doc_id,
           length(text) AS n_chars_calc,
           len(w) AS n_tokens,
           len(list_distinct(w)) AS n_distinct_tokens,
           len(list_distinct(w)) / CAST(nullif(len(w), 0) AS DOUBLE)
             AS distinct_ratio,
           CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
             / nullif(len(w), 0) AS avg_token_len,
           len(list_filter(w, t -> t IN ('the','a','of','and','to','in','is','it')))
             / CAST(nullif(len(w), 0) AS DOUBLE) AS stopword_ratio,
           length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
             / CAST(nullif(length(text), 0) AS DOUBLE) AS alpha_ratio
    FROM toks
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from obsplus_spark.operators.text import doc_fingerprint

    docs = _t(spark, sf_dir, "documents")
    return doc_fingerprint(docs)


_SQL_FP = r"""
    WITH norm AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
      FROM documents
    )
    SELECT doc_id,
           md5(t) AS fp_md5,
           md5(array_to_string(list_sort(list_distinct(string_split(t, ' '))), ' '))
             AS fp_sorted
    FROM norm
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language-ID heuristic (relational scoring + argmax)."""
    from obsplus_spark.operators.text import language_id_heuristic

    docs = _t(spark, sf_dir, "documents")
    return language_id_heuristic(docs)


_SQL_LANG = r"""
    WITH markers(lang_cand, tok) AS (VALUES
      ('en','the'), ('en','and'), ('en','of'), ('en','is'),
      ('es','el'), ('es','la'), ('es','de'), ('es','que'),
      ('fr','le'), ('fr','la'), ('fr','et'), ('fr','que'),
      ('de','der'), ('de','die'), ('de','und'), ('de','ist'),
      ('zh','de'), ('zh','shi'), ('zh','le'), ('zh','bu')
    ),
    toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
      FROM documents
    ),
    scores AS (
      SELECT doc_id, lang_cand, count(*) AS hits
      FROM toks JOIN markers USING (tok)
      GROUP BY doc_id, lang_cand
    ),
    best AS (
      SELECT doc_id, lang_cand AS predicted_lang, hits AS marker_hits
      FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                         ORDER BY hits DESC, lang_cand) AS rn
            FROM scores)
      WHERE rn = 1
    )
    SELECT d.doc_id,
           coalesce(b.predicted_lang, 'unknown') AS predicted_lang,
           coalesce(b.marker_hits, 0) AS marker_hits
    FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
"""


def q_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token budget estimate per document: regex pre-token count
    plus subword splits for long letter runs. Scan-speed JVM expressions;
    the corpus-level token budget is the sum a training pipeline plans
    against."""
    from obsplus_spark.operators.text import token_estimate

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", token_estimate("text").alias("n_tokens_est")
    )


_SQL_TOKEN_EST = r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]+'))
             + coalesce(list_sum(list_transform(
                 regexp_extract_all(text, '[A-Za-z]+'),
                 w -> CAST(floor((length(w) - 1) / 4.0) AS INT))), 0)
             AS BIGINT) AS n_tokens_est
    FROM documents
"""


def q_pack_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing plan: md5-hash groups × window cumsum lay
    documents head-to-tail into 512-token context bins — the
    deterministic distributed approximation of greedy packing
    (parallelism = groups, never a global sort)."""
    from obsplus_spark.operators.text import packing_plan

    docs = _t(spark, sf_dir, "documents")
    return packing_plan(docs, context_len=512, n_groups=16)


_SQL_PACK = r"""
    WITH base AS (
      SELECT doc_id,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               % 16 AS grp,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\s+')) END
               AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, grp, n_tokens,
             sum(n_tokens) OVER (PARTITION BY grp ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tokens AS cum_before
      FROM base
    )
    SELECT doc_id, grp, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(floor(cum_before / 512.0) AS BIGINT) AS bin,
           CAST(cum_before % 512 AS BIGINT) AS bin_offset
    FROM c
"""


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document (vowel-group syllables,
    sentence floor 1) — operators/text.py readability_scores: MAP-ONLY,
    three regexp counts + arithmetic per row."""
    from obsplus_spark.operators.text import readability_scores

    docs = _t(spark, sf_dir, "documents")
    return readability_scores(docs)


_SQL_READABILITY = r"""
    SELECT doc_id,
           n_words, n_sentences, n_syllables,
           CASE WHEN n_words = 0 THEN NULL
                ELSE round(206.835
                  - 1.015 * (n_words / CAST(n_sentences AS DOUBLE))
                  - 84.6 * (n_syllables / CAST(n_words AS DOUBLE)), 6)
           END AS flesch
    FROM (
      SELECT doc_id,
             CAST(CASE WHEN text IS NULL OR length(trim(text)) = 0
                       THEN 0
                       ELSE len(list_filter(
                              string_split_regex(trim(lower(text)),
                                                 '\s+'),
                              t -> t != '')) END
                  AS BIGINT) AS n_words,
             CAST(greatest(coalesce(len(regexp_extract_all(
                    coalesce(text, ''), '[.!?]+')), 0), 1) AS BIGINT)
               AS n_sentences,
             CAST(coalesce(len(regexp_extract_all(
                    lower(coalesce(text, '')), '[aeiouy]+')), 0)
                  AS BIGINT) AS n_syllables
      FROM documents
    )
"""


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (top-bigram mass, repeated-bigram
    fraction) as map-only in-row array expressions: run-length max over
    the sorted per-row bigram array — zero shuffles, no bigram ever
    leaves the scan."""
    from obsplus_spark.operators.text import repetition_stats

    docs = _t(spark, sf_dir, "documents")
    return repetition_stats(docs)


_SQL_REPETITION = r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
      FROM documents
    ),
    bg AS (
      SELECT doc_id,
             CASE WHEN len(w) >= 2 THEN
               list_transform(range(1, len(w)),
                 i -> w[i] || ' ' || w[i + 1])
             ELSE [] END AS bigrams
      FROM toks
    ),
    ex AS (
      SELECT doc_id, u.b FROM bg, unnest(bigrams) AS u(b)
    ),
    per AS (
      SELECT doc_id, b, count(*) AS n FROM ex GROUP BY doc_id, b
    ),
    agg AS (
      SELECT doc_id, sum(n) AS n_bigrams, max(n) AS top_n,
             sum(n - 1) AS dups
      FROM per GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CAST(coalesce(a.top_n, 0) AS BIGINT) AS top_bigram_n,
           round(CASE WHEN coalesce(a.n_bigrams, 0) > 0
                      THEN a.top_n / CAST(a.n_bigrams AS DOUBLE)
                      ELSE 0.0 END, 6) AS top_bigram_frac,
           round(CASE WHEN coalesce(a.n_bigrams, 0) > 0
                      THEN a.dups / CAST(a.n_bigrams AS DOUBLE)
                      ELSE 0.0 END, 6) AS dup_bigram_frac
    FROM toks t LEFT JOIN agg a ON a.doc_id = t.doc_id
"""


def q_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style pretraining quality rules as per-doc flag columns
    (word-count bounds, mean word length, symbol ratio, duplicate-line
    mass) — pure scan-speed expressions; the oracle replays every formula
    in SQL."""
    from obsplus_spark.operators.text import quality_filter

    docs = _t(spark, sf_dir, "documents")
    return quality_filter(docs)


_SQL_QUALITY = r"""
    WITH base AS (
      SELECT doc_id, text,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\s+')) END AS n_words,
             length(regexp_replace(text, '\s', '', 'g')) AS nws_chars,
             length(text) AS n_chars,
             length(text) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g'))
               AS n_sym,
             list_filter(list_transform(string_split(text, chr(10)),
                                        x -> trim(x)),
                         x -> length(x) > 0) AS lines
      FROM documents
    ),
    m AS (
      SELECT doc_id, n_words,
             CASE WHEN n_words > 0
                  THEN nws_chars / CAST(n_words AS DOUBLE) ELSE 0.0 END AS mwl,
             CASE WHEN n_chars > 0
                  THEN n_sym / CAST(n_chars AS DOUBLE) ELSE 0.0 END AS symr,
             coalesce(list_sum(list_transform(lines,
               x -> CASE WHEN len(list_filter(lines, y -> y = x)) > 1
                         THEN length(x) ELSE 0 END)), 0) AS dup_chars,
             coalesce(list_sum(list_transform(lines, x -> length(x))), 0)
               AS line_chars
      FROM base
    )
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           round(mwl, 6) AS mean_word_len,
           round(symr, 6) AS symbol_ratio,
           round(CASE WHEN line_chars > 0
                      THEN dup_chars / CAST(line_chars AS DOUBLE)
                      ELSE 0.0 END, 6) AS dup_line_ratio,
           n_words BETWEEN 5 AND 100000 AS ok_word_count,
           mwl BETWEEN 2.0 AND 12.0 AS ok_mean_word_len,
           symr <= 0.3 AS ok_symbol_ratio,
           (CASE WHEN line_chars > 0
                 THEN dup_chars / CAST(line_chars AS DOUBLE)
                 ELSE 0.0 END) <= 0.5 AS ok_dup_lines,
           (n_words BETWEEN 5 AND 100000) AND (mwl BETWEEN 2.0 AND 12.0)
             AND symr <= 0.3
             AND (CASE WHEN line_chars > 0
                       THEN dup_chars / CAST(line_chars AS DOUBLE)
                       ELSE 0.0 END) <= 0.5 AS keep
    FROM m
"""


# ---------------------------------------------------------------------------
# §2.12 context-window chunking / corpus vocabulary / PII scrub — new r5
# ---------------------------------------------------------------------------


def q_chunk_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-token-window document chunking with overlap (32-token
    chunks, 8-token overlap) — the preprocessing step before
    context-window training or embedding long corpora. Map-only: one
    token-array pass + posexplode over the stride starts; no shuffle at
    any corpus size."""
    from obsplus_spark.operators.text import chunk_text

    docs = _t(spark, sf_dir, "documents")
    return chunk_text(docs, chunk_tokens=32, overlap_tokens=8)


_SQL_CHUNK = r"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN text IS NULL OR length(trim(text)) = 0
                  THEN []::VARCHAR[]
                  ELSE string_split_regex(trim(text), '\s+') END AS toks
      FROM documents
    ),
    s AS (
      SELECT doc_id, toks,
             unnest(range(0,
               greatest(CAST(ceil((len(toks) - 32) / 24.0) AS BIGINT), 0)
                 * 24 + 1, 24)) AS st
      FROM t
    )
    SELECT doc_id,
           st // 24 AS chunk_idx,
           CAST(least(len(toks) - st, 32) AS BIGINT) AS n_chunk_tokens,
           -- coalesce: DuckDB array_to_string([]) is NULL where
           -- Spark concat_ws is '' (empty chunk of a blank doc)
           coalesce(array_to_string(list_slice(toks, st + 1, st + 32),
                                    ' '), '') AS chunk_text
    FROM s
"""


def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token Shannon entropy + type-token ratio (the
    information-density quality score) — operators/text.py
    token_entropy: MAP-ONLY, the (token → count) pairs come from the
    shared in-row run-length aggregation and the entropy identity
    ``log2(n) − Σ c·log2(c)/n`` folds over that array without any
    explode leaving the row."""
    from obsplus_spark.operators.text import token_entropy

    docs = _t(spark, sf_dir, "documents")
    return token_entropy(docs)


_SQL_TOKEN_ENTROPY = r"""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(
               string_split_regex(trim(lower(text)), '\s+'),
               t -> t != '')) AS token
      FROM documents WHERE length(trim(text)) > 0
    ),
    c AS (
      SELECT doc_id, token, CAST(count(*) AS BIGINT) AS c
      FROM tok GROUP BY doc_id, token
    ),
    s AS (
      SELECT doc_id,
             CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_types,
             round(count(*) / CAST(sum(c) AS DOUBLE), 6)
               AS type_token_ratio,
             round(log2(CAST(sum(c) AS DOUBLE))
                   - sum(c * log2(CAST(c AS DOUBLE)))
                     / CAST(sum(c) AS DOUBLE), 6) AS entropy_bits
      FROM c GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(s.n_tokens, 0) AS n_tokens,
           coalesce(s.n_types, 0) AS n_types,
           s.type_token_ratio,
           s.entropy_bits
    FROM documents d LEFT JOIN s USING (doc_id)
"""


def q_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source trigram diversity (distinct-gram ratio + top-gram
    share) — the synthetic-collapse / template-recycling detector;
    operators/text.py ngram_diversity: in-row gram formation, one
    (source, gram)-keyed map-combinable aggregate, one source rollup."""
    from obsplus_spark.operators.text import ngram_diversity

    docs = _t(spark, sf_dir, "documents")
    return ngram_diversity(docs, n=3)


_SQL_NGRAM_DIVERSITY = r"""
    WITH toks AS (
      SELECT source, string_split_regex(trim(lower(text)), '\s+') AS t
      FROM documents WHERE length(trim(text)) > 0
    ),
    g AS (
      SELECT source, array_to_string(list_slice(t, i, i + 2), ' ') AS gram
      FROM toks, UNNEST(range(1, len(t) - 1)) AS r(i)
      WHERE len(t) >= 3
    ),
    c AS (
      SELECT source, gram, CAST(count(*) AS BIGINT) AS c
      FROM g GROUP BY source, gram
    )
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n_ngrams,
           CAST(count(*) AS BIGINT) AS n_distinct,
           round(count(*) / CAST(sum(c) AS DOUBLE), 6) AS distinct_ratio,
           round(max(c) / CAST(sum(c) AS DOUBLE), 6) AS top_share
    FROM c GROUP BY source
"""


def q_prefix_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-prefix template clusters — operators/text.py
    prefix_template_clusters: md5 of each doc's first-8-token prefix,
    ONE digest-keyed map-combined aggregate + TakeOrdered; the
    boilerplate-injection detector that catches template recycling
    ACROSS sources where per-doc dedup misses diverging bodies."""
    from obsplus_spark.operators.text import prefix_template_clusters

    docs = _t(spark, sf_dir, "documents")
    return prefix_template_clusters(docs, k=8, min_docs=2, top=100)


_SQL_PREFIX_TEMPLATES = r"""
    WITH d AS (
      SELECT doc_id, source, text,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         t -> t != '') AS toks
      FROM documents
    ),
    p AS (
      SELECT doc_id, source, text,
             array_to_string(list_slice(toks, 1, 8), ' ') AS prefix
      FROM d WHERE len(toks) >= 8
    ),
    g AS (
      SELECT md5(prefix) AS prefix_hash, min(prefix) AS prefix,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
             CAST(sum(length(text)) AS BIGINT) AS total_chars,
             min(doc_id) AS example_doc
      FROM p GROUP BY md5(prefix)
    )
    SELECT * FROM g WHERE n_docs >= 2
    ORDER BY n_docs DESC, prefix_hash
    LIMIT 100
"""


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Zipf rank-frequency fit — operators/text.py
    zipf_slope: (source, token) count aggregate, rank window, closed-
    form OLS over the top-100 ranks; natural shards sit near slope −1,
    collapsed or synthetic shards drift flat/cliffed."""
    from obsplus_spark.operators.text import zipf_slope

    docs = _t(spark, sf_dir, "documents")
    return zipf_slope(docs, top_ranks=100)


_SQL_ZIPF = r"""
    WITH tok AS (
      SELECT source,
             unnest(list_filter(
               string_split_regex(trim(lower(text)), '\s+'),
               t -> t != '')) AS tok
      FROM documents
    ),
    c AS (
      SELECT source, tok, CAST(count(*) AS BIGINT) AS freq
      FROM tok GROUP BY source, tok
    ),
    r AS (
      SELECT * FROM (
        SELECT source,
               row_number() OVER (PARTITION BY source
                   ORDER BY freq DESC, tok) AS rk,
               ln(CAST(freq AS DOUBLE)) AS y
        FROM c
      ) WHERE rk <= 100
    ),
    t AS (
      SELECT source, CAST(count(*) AS DOUBLE) AS n,
             sum(ln(rk)) AS sx, sum(y) AS sy,
             sum(ln(rk) * ln(rk)) AS sxx, sum(ln(rk) * y) AS sxy,
             sum(y * y) AS syy
      FROM r GROUP BY source
    )
    SELECT source, CAST(n AS BIGINT) AS n_ranks,
           CASE WHEN n < 2 OR n * sxx - sx * sx = 0
                THEN CAST(NULL AS DOUBLE)
                ELSE round((n * sxy - sx * sy)
                           / (n * sxx - sx * sx), 6) END AS slope,
           CASE WHEN n < 2 OR n * sxx - sx * sx = 0
                THEN CAST(NULL AS DOUBLE)
                ELSE round((sy - sx * (n * sxy - sx * sy)
                           / (n * sxx - sx * sx)) / n, 6)
                END AS intercept,
           CASE WHEN n < 2 OR n * sxx - sx * sx = 0
                     OR n * syy - sy * sy = 0
                THEN CAST(NULL AS DOUBLE)
                ELSE round((n * sxy - sx * sy) * (n * sxy - sx * sy)
                     / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
                END AS r2
    FROM t
"""


def q_lang_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source language composition (entropy + dominant share) —
    operators/text.py source_language_mix: two map-combined
    aggregates, NULL tags folded into 'und' by contract."""
    from obsplus_spark.operators.text import source_language_mix

    docs = _t(spark, sf_dir, "documents")
    return source_language_mix(docs)


_SQL_LANG_MIX = """
    WITH c AS (
      SELECT source, coalesce(lang, 'und') AS lang,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(length(coalesce(text, ''))) AS BIGINT) AS chars
      FROM documents GROUP BY source, coalesce(lang, 'und')
    )
    SELECT source,
           CAST(sum(n) AS BIGINT) AS n_docs,
           CAST(sum(chars) AS BIGINT) AS total_chars,
           CAST(count(*) AS BIGINT) AS n_langs,
           first(lang ORDER BY n DESC, lang) AS top_lang,
           round(max(n) / CAST(sum(n) AS DOUBLE), 6) AS top_share,
           round(log2(CAST(sum(n) AS DOUBLE))
                 - sum(n * log2(CAST(n AS DOUBLE)))
                   / CAST(sum(n) AS DOUBLE), 6) AS lang_entropy_bits
    FROM c GROUP BY source
"""


def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation filter-chain attrition report — operators/text.py
    curation_funnel: cumulative stage flags in ONE map pass, one
    global map-combined aggregate, stage rows unpivoted from the
    single aggregate row (no keyed shuffle at any corpus size)."""
    from obsplus_spark.operators.text import curation_funnel

    docs = _t(spark, sf_dir, "documents")
    return curation_funnel(
        docs,
        [
            ("nonblank", "text IS NOT NULL AND length(trim(text)) > 0"),
            (
                "min_tokens",
                r"size(filter(split(trim(lower(text)), '\\s+'),"
                " t -> t != '')) >= 10",
            ),
            ("known_lang", "lang IS NOT NULL"),
            ("max_chars", "n_chars <= 400"),
        ],
    )


_SQL_CURATION_FUNNEL = r"""
    WITH c AS (
      SELECT CAST(count(*) AS BIGINT) AS n_total,
             CAST(count(*) FILTER (
               text IS NOT NULL AND length(trim(text)) > 0
             ) AS BIGINT) AS n0,
             CAST(count(*) FILTER (
               text IS NOT NULL AND length(trim(text)) > 0
               AND len(list_filter(string_split_regex(
                     trim(lower(text)), '\s+'), t -> t != '')) >= 10
             ) AS BIGINT) AS n1,
             CAST(count(*) FILTER (
               text IS NOT NULL AND length(trim(text)) > 0
               AND len(list_filter(string_split_regex(
                     trim(lower(text)), '\s+'), t -> t != '')) >= 10
               AND lang IS NOT NULL
             ) AS BIGINT) AS n2,
             CAST(count(*) FILTER (
               text IS NOT NULL AND length(trim(text)) > 0
               AND len(list_filter(string_split_regex(
                     trim(lower(text)), '\s+'), t -> t != '')) >= 10
               AND lang IS NOT NULL
               AND n_chars <= 400
             ) AS BIGINT) AS n3
      FROM documents
    )
    SELECT CAST(0 AS BIGINT) AS stage_idx, 'nonblank' AS stage,
           n_total AS n_in, n0 AS n_kept, n_total - n0 AS n_dropped
    FROM c
    UNION ALL SELECT 1, 'min_tokens', n0, n1, n0 - n1 FROM c
    UNION ALL SELECT 2, 'known_lang', n1, n2, n1 - n2 FROM c
    UNION ALL SELECT 3, 'max_chars', n2, n3, n2 - n3 FROM c
"""


def q_vocab_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary top-200 by occurrence count, with document
    frequencies — tokenizer-training / idf input. Per-doc counts come
    from an in-row run-length pass (the explode carries one row per
    DISTINCT token per doc, not per occurrence), then one map-side-
    combinable hash aggregate and a distributed TakeOrdered."""
    from obsplus_spark.operators.text import vocab_top_tokens

    docs = _t(spark, sf_dir, "documents")
    return vocab_top_tokens(docs, k=200)


_SQL_VOCAB = r"""
    WITH tok AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
      FROM documents WHERE length(trim(text)) > 0
    )
    SELECT token, CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM tok GROUP BY token
    ORDER BY n_occurrences DESC, token
    LIMIT 200
"""

#: deterministic PII injection for the scrub query (documents text is
#: clean lorem — inject synthetic spans so the redaction path is
#: exercised; 1/3 of docs stay untouched)
_PII_INJECT_SPARK = (
    "CASE WHEN doc_id % 3 = 0 THEN concat(text, ' Contact user',"
    " CAST(doc_id AS STRING), '@example.com or +1 (555) 010-',"
    " lpad(CAST(doc_id % 10000 AS STRING), 4, '0'), '.')"
    " WHEN doc_id % 3 = 1 THEN concat(text, ' node at 10.0.',"
    " CAST(doc_id % 256 AS STRING), '.',"
    " CAST((doc_id * 7) % 256 AS STRING), ' up')"
    " ELSE text END"
)


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction with per-class counts (email → ipv4 → phone, the
    class order that keeps the permissive phone pattern off dotted
    quads): scan-speed chained regexp_replace + regexp_count; the oracle
    replays the identical chain."""
    from obsplus_spark.operators.text import pii_scrub

    docs = _t(spark, sf_dir, "documents")
    injected = docs.selectExpr("doc_id", f"{_PII_INJECT_SPARK} AS text")
    return pii_scrub(injected)


_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IPV4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
_PII_PHONE = r"\+?[0-9][0-9()\-. ]{7,}[0-9]"

_SQL_PII = f"""
    WITH base AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN text || ' Contact user'
                    || CAST(doc_id AS VARCHAR) || '@example.com or +1 (555) 010-'
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '.'
                  WHEN doc_id % 3 = 1 THEN text || ' node at 10.0.'
                    || CAST(doc_id % 256 AS VARCHAR) || '.'
                    || CAST((doc_id * 7) % 256 AS VARCHAR) || ' up'
                  ELSE text END AS t
      FROM documents
    ),
    s1 AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS BIGINT)
               AS n_email,
             regexp_replace(t, '{_PII_EMAIL}', '<EMAIL>', 'g') AS t2
      FROM base
    ),
    s2 AS (
      SELECT doc_id, n_email,
             CAST(len(regexp_extract_all(t2, '{_PII_IPV4}')) AS BIGINT)
               AS n_ipv4,
             regexp_replace(t2, '{_PII_IPV4}', '<IPV4>', 'g') AS t3
      FROM s1
    ),
    s3 AS (
      SELECT doc_id, n_email, n_ipv4,
             CAST(len(regexp_extract_all(t3, '{_PII_PHONE}')) AS BIGINT)
               AS n_phone,
             regexp_replace(t3, '{_PII_PHONE}', '<PHONE>', 'g') AS t
      FROM s2
    )
    SELECT doc_id, t AS text, n_email, n_ipv4, n_phone,
           n_email + n_ipv4 + n_phone AS n_pii
    FROM s3
"""


def q_tf_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-5 terms by tf-idf (raw tf · ln(N/df)): in-row
    run-length term counts, one broadcast-joined vocabulary aggregate,
    WindowGroupLimit top-k. Ranked by the 6-dp rounded score (ties →
    token) — mathematically equal scores are not bit-equal across
    engines before rounding."""
    from obsplus_spark.operators.text import tf_idf_top_terms

    docs = _t(spark, sf_dir, "documents")
    return tf_idf_top_terms(docs, k=5)


_SQL_TFIDF = r"""
    WITH tok AS (
      SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id,
                   unnest(string_split_regex(trim(lower(text)), '\s+'))
                     AS token
            FROM documents WHERE length(trim(text)) > 0)
      GROUP BY doc_id, token
    ),
    dfreq AS (
      SELECT token, CAST(count(*) AS BIGINT) AS df_docs
      FROM tok GROUP BY token
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    scored AS (
      SELECT t.doc_id, t.token, t.tf, f.df_docs,
             round(t.tf * ln(CAST(n.n_docs AS DOUBLE) / f.df_docs), 6)
               AS tfidf
      FROM tok t JOIN dfreq f USING (token) CROSS JOIN n
    )
    SELECT doc_id, token, tf, df_docs, tfidf, CAST(rank AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
            ORDER BY tfidf DESC, token) AS rank FROM scored)
    WHERE rank <= 5
"""


def q_unigram_lp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM pseudo-perplexity (mean bits/token under the corpus's
    own unigram distribution) — the CCNet-style LM quality score. One
    vocabulary aggregate + broadcast join + per-doc aggregate."""
    from obsplus_spark.operators.text import unigram_logprob

    docs = _t(spark, sf_dir, "documents")
    return unigram_logprob(docs)


_SQL_UNIGRAM = r"""
    WITH tok AS (
      SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id,
                   unnest(string_split_regex(trim(lower(text)), '\s+'))
                     AS token
            FROM documents WHERE length(trim(text)) > 0)
      GROUP BY doc_id, token
    ),
    vocab AS (
      SELECT token, CAST(sum(tf) AS BIGINT) AS cnt FROM tok GROUP BY token
    ),
    tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM vocab)
    SELECT t.doc_id, CAST(sum(t.tf) AS BIGINT) AS n_tokens,
           round(-sum(t.tf * ln(v.cnt / tot.total) / ln(2.0)) / sum(t.tf), 6)
             AS bits_per_token
    FROM tok t JOIN vocab v USING (token) CROSS JOIN tot
    GROUP BY t.doc_id
"""


_TOKEN_BUDGETS = {
    "src0": 800, "src1": 500, "src2": 250, "src5": 60, "src19": 0,
}


def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture REALIZATION: per source, greedy prefix fill
    in deterministic md5-hash order until the source's token budget is
    reached — operators/text.py token_budget_sample, the execution step
    behind mixture_plan (pretraining mixes are specified in tokens, not
    docs). One source-keyed window exchange."""
    from obsplus_spark.operators.text import token_budget_sample

    docs = _t(spark, sf_dir, "documents")
    return token_budget_sample(docs, _TOKEN_BUDGETS)


def _token_budget_sql() -> str:
    arms = " ".join(
        f"WHEN '{s}' THEN CAST({b} AS BIGINT)"
        for s, b in _TOKEN_BUDGETS.items()
    )
    return rf"""
    WITH d AS (
      SELECT *,
             CAST(CASE WHEN text IS NULL OR length(trim(text)) = 0
                       THEN 0
                       ELSE len(string_split_regex(trim(text), '\s+'))
                  END AS BIGINT) AS n_tokens,
             ('0x' || substr(md5(doc_id::VARCHAR || ''), 1, 8))::BIGINT
               AS _key,
             CASE source {arms} ELSE CAST(0 AS BIGINT) END AS _budget
      FROM documents
    ),
    c AS (
      SELECT *, CAST(sum(n_tokens) OVER (
               PARTITION BY source ORDER BY _key, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum_tokens
      FROM d
    )
    SELECT * EXCLUDE (_key, _budget) FROM c WHERE cum_tokens <= _budget
"""


def q_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-mixture sampling plan: per-source token inventory + the
    deterministic sampling rate hitting each source's weight share of a
    token budget. One source-keyed hash aggregate; dimension-sized
    output."""
    from obsplus_spark.operators.text import mixture_plan

    docs = _t(spark, sf_dir, "documents")
    return mixture_plan(docs, _MIX_WEIGHTS, _MIX_TARGET)


def _mixture_sql() -> str:
    arms = " ".join(
        f"WHEN '{s}' THEN CAST({w!r} AS DOUBLE)"
        for s, w in _MIX_WEIGHTS.items()
    )
    rate = (
        f"least(CAST(1.0 AS DOUBLE),"
        f" weight * CAST({_MIX_TARGET} AS DOUBLE) / n_tokens)"
    )
    return f"""
    SELECT source, n_docs, n_tokens, weight,
           round({rate}, 6) AS sample_rate,
           CAST(floor(round({rate}, 6) * n_tokens) AS BIGINT)
             AS expected_tokens
    FROM (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(string_split_regex(trim(text), '\\s+'))
                      END) AS BIGINT) AS n_tokens,
             CASE source {arms} ELSE CAST(0.0 AS DOUBLE) END AS weight
      FROM documents GROUP BY source
    )
    """


def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-trainer pair statistics: top-50 adjacent character pairs
    weighted by word frequency. Corpus-sized work is one map-side-
    combinable word-count aggregate; pair expansion and top-k run on
    the vocabulary."""
    from obsplus_spark.operators.text import bpe_pair_counts

    docs = _t(spark, sf_dir, "documents")
    return bpe_pair_counts(docs, k=50)


_SQL_BPE = r"""
    WITH w AS (
      SELECT tok AS word, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\s+'))
              AS tok
            FROM documents WHERE length(trim(text)) > 0)
      GROUP BY tok
    ),
    p AS (
      SELECT word, freq, pair
      FROM (SELECT word, freq,
                   unnest(list_transform(range(1, length(word)),
                          i -> substring(word, i, 2))) AS pair
            FROM w WHERE length(word) >= 2)
    )
    SELECT pair, CAST(count(DISTINCT word) AS BIGINT) AS n_words,
           CAST(sum(freq) AS BIGINT) AS total
    FROM p GROUP BY pair
    ORDER BY total DESC, pair
    LIMIT 50
"""


def q_posting_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index posting lists: per token in ≥10 docs, document
    frequency + first-8 sorted doc ids (rank-limited inside the one
    token-keyed shuffle — a stopword's postings are never collected
    whole)."""
    from obsplus_spark.operators.text import posting_lists

    docs = _t(spark, sf_dir, "documents")
    return posting_lists(docs, min_df=10, sample_k=8)


_SQL_POSTING = r"""
    WITH e AS (
      SELECT DISTINCT doc_id, tok AS token
      FROM (SELECT doc_id,
                   unnest(string_split_regex(trim(lower(text)), '\s+'))
                     AS tok
            FROM documents WHERE length(trim(text)) > 0)
    )
    SELECT token, CAST(count(*) AS BIGINT) AS df_docs,
           array_to_string(list_slice(list_sort(list(doc_id)), 1, 8), ',')
             AS sample_docs
    FROM e GROUP BY token
    HAVING count(*) >= 10
"""


def q_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocations (window-3 co-occurrence): in-row pair expansion,
    ONE pair-keyed aggregate, vocabulary-sized broadcast joins for the
    unigram/total normalizers, TakeOrdered on the rounded score."""
    from obsplus_spark.operators.text import pmi_collocations

    docs = _t(spark, sf_dir, "documents")
    return pmi_collocations(docs, window=3, min_count=10, k=100)


_SQL_PMI = r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
      FROM documents WHERE length(trim(text)) > 0
    ),
    pos AS (
      SELECT doc_id, i, w[i] AS tok
      FROM toks, unnest(range(1, len(w) + 1)) AS u(i)
    ),
    pr AS (
      SELECT least(p1.tok, p2.tok) AS a, greatest(p1.tok, p2.tok) AS b,
             count(*) AS n_pair
      FROM pos p1 JOIN pos p2
        ON p1.doc_id = p2.doc_id AND p2.i > p1.i AND p2.i <= p1.i + 3
      GROUP BY 1, 2
    ),
    uni AS (SELECT tok, count(*) AS n_tok FROM pos GROUP BY tok),
    tot AS (SELECT CAST(sum(n_tok) AS DOUBLE) AS n FROM uni)
    SELECT a AS tok_a, b AS tok_b,
           CAST(n_pair AS BIGINT) AS n_pair,
           CAST(ua.n_tok AS BIGINT) AS n_a,
           CAST(ub.n_tok AS BIGINT) AS n_b,
           round(ln(CAST(n_pair AS DOUBLE) * tot.n
                    / (CAST(ua.n_tok AS DOUBLE) * ub.n_tok)), 6) AS pmi
    FROM pr
    JOIN uni ua ON pr.a = ua.tok
    JOIN uni ub ON pr.b = ub.tok
    CROSS JOIN tot
    WHERE n_pair >= 10
    ORDER BY pmi DESC, tok_a, tok_b
    LIMIT 100
"""


def q_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL divergence from the corpus token distribution: ONE
    (source, token)-keyed aggregate; corpus/source totals re-aggregate
    from it (vocabulary-/source-sized) and broadcast back."""
    from obsplus_spark.operators.text import source_divergence

    docs = _t(spark, sf_dir, "documents")
    return source_divergence(docs)


_SQL_SOURCE_KL = r"""
    WITH tok AS (
      SELECT source,
             unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
      FROM documents WHERE length(trim(text)) > 0
    ),
    st AS (SELECT source, tok, count(*) AS n FROM tok GROUP BY source, tok),
    ct AS (SELECT tok, sum(n) AS nc FROM st GROUP BY tok),
    stot AS (SELECT source, sum(n) AS ns FROM st GROUP BY source),
    ctot AS (SELECT sum(nc) AS nt FROM ct)
    SELECT s.source,
           CAST(max(t.ns) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_distinct_tokens,
           round(sum((s.n / CAST(t.ns AS DOUBLE))
                 * ln((s.n / CAST(t.ns AS DOUBLE))
                      / (c.nc / CAST(x.nt AS DOUBLE)))), 6) AS kl
    FROM st s
    JOIN ct c ON s.tok = c.tok
    JOIN stot t ON s.source = t.source
    CROSS JOIN ctot x
    GROUP BY s.source
"""


def q_linear_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed bag-of-words linear quality classifier over documents —
    fastText-style scoring as a pure map (see
    operators/text.py linear_quality_score): tokenize, fold the in-row
    token array through hash→weight→add, sigmoid. No shuffle at all."""
    from obsplus_spark.operators.text import linear_quality_score

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return linear_quality_score(docs, dims=1024)


_SQL_LINEAR_QUALITY = """
    SELECT doc_id, n_tokens,
           round(margin, 6) AS margin,
           round(1.0 / (1.0 + exp(-margin)), 6) AS score,
           (1.0 / (1.0 + exp(-margin))) > 0.5 AS keep
    FROM (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             list_sum(list_transform(toks, t ->
               CAST((('0x' || substr(md5(t), 1, 8))::BIGINT % 1024)
                    * 2654435761 % 4096 AS DOUBLE) / 4096.0 - 0.5))
               / sqrt(CAST(len(toks) AS DOUBLE)) AS margin
      FROM (
        SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN []
                    ELSE string_split_regex(trim(lower(text)), '\\s+')
               END AS toks
        FROM documents
      )
      WHERE len(toks) > 0
    )
"""


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights for documents against the 'src0' target
    slice (operators/text.py dsir_importance): hashed-unigram
    target/proposal models, one bucket aggregate + one broadcast join +
    one per-doc aggregate."""
    from obsplus_spark.operators.text import dsir_importance

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    return dsir_importance(docs, target_value="src0", dims=4096)


def _dsir_sql(target: str = "src0", dims: int = 4096) -> str:
    return f"""
    WITH occ AS (
      SELECT doc_id, source = '{target}' AS is_t,
             ('0x' || substr(md5(tok), 1, 8))::BIGINT % {dims} AS bucket
      FROM (
        SELECT doc_id, source,
               unnest(CASE WHEN length(trim(text)) = 0 THEN []
                           ELSE string_split_regex(trim(lower(text)), '\\s+')
                      END) AS tok
        FROM documents
      )
    ),
    bc AS (
      SELECT bucket, CAST(count(*) AS BIGINT) AS n_all,
             CAST(count(*) FILTER (is_t) AS BIGINT) AS n_tgt
      FROM occ GROUP BY bucket
    ),
    tot AS (
      SELECT CAST(sum(n_all) AS DOUBLE) AS t_all,
             CAST(sum(n_tgt) AS DOUBLE) AS t_tgt
      FROM bc
    ),
    wt AS (
      SELECT bucket, ln(((n_tgt + 1) / (t_tgt + {dims}))
                        / ((n_all + 1) / (t_all + {dims}))) AS lw
      FROM bc CROSS JOIN tot
    )
    SELECT o.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           round(sum(w.lw), 6) AS log_weight
    FROM occ o JOIN wt w ON o.bucket = w.bucket
    GROUP BY o.doc_id
"""


def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-20 for the query {spark, merge, vector}: zero
    keyed shuffles — in-row per-term tf, ONE single-row stats
    aggregate broadcast back, TakeOrdered (operators/text.py
    bm25_scores)."""
    from obsplus_spark.operators.text import bm25_scores

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return bm25_scores(docs, ["spark", "merge", "vector"], k=20)


#: fixed merge list for the bpe_encode demo (production loads the
#: tokenizer's merges.txt; the operator takes any list)
_BPE_MERGES = [
    ("s", "p"), ("a", "r"), ("ar", "k"), ("sp", "ark"),
    ("m", "e"), ("r", "g"), ("me", "rg"),
    ("j", "o"), ("i", "n"), ("jo", "in"),
]


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge application (the encode side of bpe_pairs): 10 chained
    plan-time regexp merges over the in-row word arrays — pure map, no
    shuffle (operators/text.py bpe_apply)."""
    from obsplus_spark.operators.text import bpe_apply

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return bpe_apply(docs, _BPE_MERGES)


def _bpe_encode_sql(merges: "list[tuple[str, str]]") -> str:
    expr = "array_to_string(string_split(w, ''), ' ')"
    for a, b in merges:
        expr = f"regexp_replace({expr}, '{a} {b}', '{a}{b}', 'g')"
    return f"""
    SELECT doc_id,
           CAST(len(words) AS BIGINT) AS n_words,
           CAST(list_sum(list_transform(enc,
                 e -> len(string_split(e, ' ')))) AS BIGINT) AS n_bpe_tokens,
           array_to_string(enc[1:5], ' | ') AS head_encoding
    FROM (
      SELECT doc_id, words, list_transform(words, w -> {expr}) AS enc
      FROM (
        SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN []
                    ELSE string_split_regex(trim(lower(text)), '\\s+')
               END AS words
        FROM documents
      )
      WHERE len(words) > 0
    )
"""


def q_bigram_lp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc bigram-LM bits (add-0.5 smoothing, corpus-fit) —
    operators/text.py bigram_logprob: in-row bigram expansion, one
    (doc,w1,w2) aggregate, keyed bigram-vocabulary probe join (NOT
    broadcast — bigram tables are corpus-sized at scale), broadcast
    unigram-sized left-context table."""
    from obsplus_spark.operators.text import bigram_logprob

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return bigram_logprob(docs)


_SQL_BIGRAM_LP = r"""
    WITH docs AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
      FROM documents
      WHERE length(trim(text)) > 0
        AND len(string_split_regex(trim(lower(text)), '\s+')) >= 2
    ),
    occ AS (
      SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t)),
                 i -> {'w1': t[i], 'w2': t[i + 1]})) AS b
        FROM docs)
    ),
    tf AS (
      SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS tf
      FROM occ GROUP BY doc_id, w1, w2
    ),
    bg AS (
      SELECT w1, w2, CAST(sum(tf) AS BIGINT) AS cnt
      FROM tf GROUP BY w1, w2
    ),
    lc AS (
      SELECT w1, CAST(count(*) AS BIGINT) AS left_cnt
      FROM occ GROUP BY w1
    ),
    v AS (
      SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vsize
      FROM (SELECT unnest([w1, w2]) AS tok FROM occ)
    )
    SELECT t.doc_id, CAST(sum(t.tf) AS BIGINT) AS n_bigrams,
           round(-sum(t.tf * ln((b.cnt + 0.5)
                                / (l.left_cnt + 0.5 * v.vsize))
                      / ln(2.0)) / sum(t.tf), 6) AS bits_per_bigram
    FROM tf t
    JOIN bg b ON t.w1 = b.w1 AND t.w2 = b.w2
    JOIN lc l ON t.w1 = l.w1
    CROSS JOIN v
    GROUP BY t.doc_id
"""


def q_bool_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive AND retrieval for ('spark', 'merge', 'vector') —
    operators/text.py conjunctive_search: scan-level token filter, one
    (doc, token) + one doc aggregate, count(DISTINCT)=|terms| coverage
    test, integer TakeOrdered top-20. No joins."""
    from obsplus_spark.operators.text import conjunctive_search

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return conjunctive_search(docs, ["spark", "merge", "vector"], k=20)


_SQL_BOOL_SEARCH = r"""
    WITH hits AS (
      SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM (
        SELECT doc_id,
               unnest(list_filter(
                 string_split_regex(trim(lower(text)), '\s+'),
                 t -> t IN ('spark', 'merge', 'vector'))) AS tok
        FROM documents WHERE length(trim(text)) > 0)
      GROUP BY doc_id, tok
    )
    SELECT doc_id, CAST(sum(tf) AS BIGINT) AS total_tf
    FROM hits
    GROUP BY doc_id
    HAVING count(DISTINCT tok) = 3
    ORDER BY total_tf DESC, doc_id
    LIMIT 20
"""


def q_script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode script composition per document — operators/text.py
    script_mix: fractions of Latin/Cyrillic/Greek/Han/Arabic/digit
    characters over the non-whitespace stream (Java \\p{IsX} classes;
    the DuckDB twin spells RE2 \\p{X}). Pure map, zero exchanges."""
    from obsplus_spark.operators.text import script_mix

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return script_mix(docs)


_SQL_SCRIPT_MIX = r"""
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_chars_nows,
           round(len(regexp_extract_all(text, '\p{Latin}'))
                 / CAST(nullif(n, 0) AS DOUBLE), 6) AS frac_latin,
           round(len(regexp_extract_all(text, '\p{Cyrillic}'))
                 / CAST(nullif(n, 0) AS DOUBLE), 6) AS frac_cyrillic,
           round(len(regexp_extract_all(text, '\p{Greek}'))
                 / CAST(nullif(n, 0) AS DOUBLE), 6) AS frac_greek,
           round(len(regexp_extract_all(text, '\p{Han}'))
                 / CAST(nullif(n, 0) AS DOUBLE), 6) AS frac_han,
           round(len(regexp_extract_all(text, '\p{Arabic}'))
                 / CAST(nullif(n, 0) AS DOUBLE), 6) AS frac_arabic,
           round(len(regexp_extract_all(text, '[0-9]'))
                 / CAST(nullif(n, 0) AS DOUBLE), 6) AS frac_digit
    FROM (
      SELECT doc_id, text,
             length(regexp_replace(text, '[ \t\n\x0B\f\r]', '', 'g')) AS n
      FROM documents WHERE text IS NOT NULL
    )
"""


QUERIES = [
    (q_text_stats, _SQL_TEXT_STATS),
    (q_doc_fingerprint, _SQL_FP),
    (q_lang_id, _SQL_LANG),
    (q_token_estimate, _SQL_TOKEN_EST),
    (q_pack_plan, _SQL_PACK),
    (q_readability, _SQL_READABILITY),
    (q_repetition_stats, _SQL_REPETITION),
    (q_quality_flags, _SQL_QUALITY),
    (q_chunk_text, _SQL_CHUNK),
    (q_token_entropy, _SQL_TOKEN_ENTROPY),
    (q_ngram_diversity, _SQL_NGRAM_DIVERSITY),
    (q_prefix_templates, _SQL_PREFIX_TEMPLATES),
    (q_zipf_fit, _SQL_ZIPF),
    (q_lang_mix, _SQL_LANG_MIX),
    (q_curation_funnel, _SQL_CURATION_FUNNEL),
    (q_vocab_top, _SQL_VOCAB),
    (q_pii_scrub, _SQL_PII),
    (q_tf_idf, _SQL_TFIDF),
    (q_unigram_lp, _SQL_UNIGRAM),
    (q_token_budget, _token_budget_sql()),
    (q_mixture_plan, _mixture_sql()),
    (q_bpe_pairs, _SQL_BPE),
    (q_posting_lists, _SQL_POSTING),
    (q_pmi_pairs, _SQL_PMI),
    (q_source_divergence, _SQL_SOURCE_KL),
    (q_linear_quality, _SQL_LINEAR_QUALITY),
    (q_dsir_weights, _dsir_sql()),
    (q_bm25, _bm25_sql(["spark", "merge", "vector"], 20)),
    (q_bpe_encode, _bpe_encode_sql(_BPE_MERGES)),
    (q_bigram_lp, _SQL_BIGRAM_LP),
    (q_bool_search, _SQL_BOOL_SEARCH),
    (q_script_mix, _SQL_SCRIPT_MIX),
]
