"""Text-analysis operators for training-data pipelines (north-star surface).

All metrics are built-in string/array expressions — codegen'd, no UDFs —
and every formula has a 1:1 ANSI-SQL equivalent for the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: tiny default stopword list (shared with oracles; order irrelevant)
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]


def tokens(col) -> Column:
    """Whitespace tokenization of trimmed text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), r"\s+")


def token_count(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.when(F.length(F.trim(c)) == 0, F.lit(0)).otherwise(
        F.size(tokens(c))
    )


#: BPE-ish pre-tokenization classes (GPT-2-style, dialect-portable subset):
#: letter runs, single digits, non-space punctuation runs. Subword counts
#: track this within a few % for English; it is deterministic, engine-
#: portable (Java regex ↔ RE2 agree on this subset), and runs at scan
#: speed — the point of an estimator feeding a 100 TB token budget.
BPE_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]+"


def token_estimate(col, chars_per_word: float = 4.0) -> Column:
    """BPE-ish token-count estimate: regex pre-token matches, plus one
    extra token per started ``chars_per_word`` block beyond the fourth
    character of each long letter-run (long words split into subwords in
    a real BPE; short ones don't). Pure JVM expression.
    """
    c = F.col(col) if isinstance(col, str) else col
    pre = F.size(F.regexp_extract_all(c, F.lit(BPE_TOKEN_PATTERN), F.lit(0)))
    # extra subword splits from letter runs longer than chars_per_word
    runs = F.regexp_extract_all(c, F.lit(r"[A-Za-z]+"), F.lit(0))
    extra = F.aggregate(
        runs,
        F.lit(0),
        lambda acc, w: acc
        + F.floor(
            (F.length(w) - 1) / F.lit(chars_per_word)
        ).cast("int"),
    )
    return (pre + extra).cast("long")


def text_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    stopwords: list[str] | None = None,
) -> DataFrame:
    """Per-document quality metrics: lengths, token stats, ratios.

    Columns: n_chars_calc, n_tokens, n_distinct_tokens, distinct_ratio,
    avg_token_len, stopword_ratio, alpha_ratio.
    """
    sw = stopwords or STOPWORDS
    # two batched selectExpr calls (stage 1 computes shared subterms once)
    # — the Column-object tree with a per-stopword literal array cost
    # ~0.3 s of py4j/analysis per plan build
    sw_lits = ", ".join("'" + s.replace("'", "''") + "'" for s in sw)
    # blank/whitespace-only text yields ZERO tokens (split of '' returns
    # [''] — the phantom token skewed corpus totals; r6 review) and NULL
    # ratios (nullif guards below)
    toks_sql = (
        rf"CASE WHEN length(trim({text_col})) = 0 THEN array()"
        rf" ELSE split(trim({text_col}), '\\s+') END"
    )
    staged = df.selectExpr(
        id_col,
        f"length({text_col}) AS _len",
        f"{toks_sql} AS _toks",
        rf"length(regexp_replace({text_col}, '\\s+', '')) AS _nws",
        f"length(regexp_replace({text_col}, '[^A-Za-z]', '')) AS _alpha",
    )
    # counts as longs — matches the BIGINT the oracle engines produce
    return staged.selectExpr(
        id_col,
        "CAST(_len AS BIGINT) AS n_chars_calc",
        "CAST(size(_toks) AS BIGINT) AS n_tokens",
        "CAST(size(array_distinct(_toks)) AS BIGINT) AS n_distinct_tokens",
        "size(array_distinct(_toks)) / CAST(nullif(size(_toks), 0)"
        " AS DOUBLE) AS distinct_ratio",
        "CAST(_nws AS DOUBLE) / nullif(size(_toks), 0) AS avg_token_len",
        f"size(filter(_toks, t -> array_contains(array({sw_lits}), t)))"
        " / CAST(nullif(size(_toks), 0) AS DOUBLE) AS stopword_ratio",
        "_alpha / CAST(nullif(_len, 0) AS DOUBLE) AS alpha_ratio",
    )


def doc_fingerprint(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Deterministic content fingerprints.

    - ``fp_md5``: md5 of normalized text (exact-dup key)
    - ``fp_sorted``: md5 of the sorted distinct token list (bag-of-words
      fingerprint — order-insensitive, catches shuffled duplicates)
    """
    from obsplus_spark.operators.dedup import normalize_text

    norm = normalize_text(text_col)
    sorted_toks = F.array_join(F.array_sort(F.array_distinct(F.split(norm, " "))), " ")
    return df.select(
        F.col(id_col),
        F.md5(norm).alias("fp_md5"),
        F.md5(sorted_toks).alias("fp_sorted"),
    )


def language_id_heuristic(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    profiles: dict[str, list[str]] | None = None,
) -> DataFrame:
    """Marker-token language scoring (n-gram heuristic, deterministic).

    Scores each language by its marker-token hit count over the token
    list; predicts the argmax (ties → lexicographically first language).
    The marker profiles are plan-build constants, so the whole scorer
    compiles to **narrow array expressions** — per-language hit counts via
    ``filter``/``size`` over the token array, argmax via ``array_min`` on
    (−hits, lang) structs. Zero shuffles and zero joins at any scale (the
    earlier explode → broadcast-join → window formulation paid three
    shuffles for the same answer).
    """
    profiles = profiles or {
        "en": ["the", "and", "of", "is"],
        "es": ["el", "la", "de", "que"],
        "fr": ["le", "la", "et", "que"],
        "de": ["der", "die", "und", "ist"],
        "zh": ["de", "shi", "le", "bu"],
    }
    from obsplus_spark.util import ensure_parallelism

    df = ensure_parallelism(df)

    from obsplus_spark.functions.sqltext import sql_literal

    def _arr(words: list[str]) -> str:
        return "array(" + ", ".join(sql_literal(w) for w in words) + ")"

    # one JVM-parsed expression string — the per-language Column-object
    # loop cost ~0.4 s of py4j round-trips per plan build
    scored = ", ".join(
        "named_struct('neg', -size(filter(_toks,"
        f" t -> array_contains({_arr(profiles[lang])}, t))),"
        " 'lang', " + sql_literal(lang) + ")"
        for lang in sorted(profiles)
    )
    # coalesce: NULL text must score zero hits ('unknown', 0) like a
    # blank doc — split(NULL) is NULL and would propagate NULL
    # marker_hits (caught by the r8 degenerate-text oracle sweep)
    staged = df.selectExpr(
        id_col,
        rf"coalesce(split(trim({text_col}), '\\s+'), array()) AS _toks",
    ).selectExpr(id_col, f"array_min(array({scored})) AS _best")
    return staged.selectExpr(
        id_col,
        "CASE WHEN -_best.neg > 0 THEN _best.lang"
        " ELSE 'unknown' END AS predicted_lang",
        "CAST(-_best.neg AS BIGINT) AS marker_hits",
    )


def quality_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 5,
    max_words: int = 100000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 12.0,
    max_symbol_ratio: float = 0.3,
    max_dup_line_ratio: float = 0.5,
) -> DataFrame:
    """Gopher/C4-style pretraining quality rules as boolean flag columns.

    Each rule is a pure per-row JVM expression over the document — the
    filter runs at scan speed on any corpus size, and the flags stay
    inspectable (a pipeline tunes thresholds by aggregating flags before
    committing to a drop). Rules (public Gopher §A.1.1 / C4 heuristics,
    re-expressed):

    - ``ok_word_count``: word count in [min_words, max_words]
    - ``ok_mean_word_len``: mean word length in [min, max]
    - ``ok_symbol_ratio``: non-alphanumeric-non-space chars / chars ≤ max
    - ``ok_dup_lines``: chars in repeated lines / chars ≤ max
    - ``keep``: conjunction of all rules

    Output: (id, n_words, mean_word_len, symbol_ratio, dup_line_ratio,
    ok_* flags, keep).
    """
    # staged selectExpr strings: cheap plan build (no py4j Column loops)
    # and every shared subterm computed exactly once. The duplicate-line
    # mass walks the SORTED line array once with a run-length accumulator
    # — O(L log L) per row; the earlier nested filter-per-line was O(L²)
    # and dominated this operator's runtime on liney docs.
    stage1 = df.selectExpr(
        id_col,
        f"CASE WHEN length(trim({text_col})) = 0 THEN 0"
        rf" ELSE size(split(trim({text_col}), '\\s+')) END AS _nw",
        rf"length(regexp_replace({text_col}, '\\s+', '')) AS _nws",
        f"length({text_col}) AS _nchars",
        f"length({text_col}) - length(regexp_replace({text_col},"
        rf" '[^A-Za-z0-9\\s]', '')) AS _nsym",
        rf"array_sort(filter(transform(split({text_col}, '\\n'),"
        " x -> trim(x)), x -> length(x) > 0)) AS _sl",
    )
    # run-length over the sorted lines: chars in any line occurring >1×
    # (2nd occurrence retro-credits the 1st: +2·len, later ones +len)
    dup_chars = (
        "aggregate(_sl,"
        " named_struct('prev', CAST(NULL AS STRING), 'run', 1, 'dup', 0),"
        " (acc, x) -> named_struct("
        "   'prev', x,"
        "   'run', CASE WHEN x = acc.prev THEN acc.run + 1 ELSE 1 END,"
        "   'dup', acc.dup + CASE WHEN x = acc.prev THEN"
        "     CASE WHEN acc.run = 1 THEN 2 * length(x)"
        "     ELSE length(x) END ELSE 0 END),"
        " acc -> acc.dup)"
    )
    stage2 = stage1.selectExpr(
        id_col,
        "_nw",
        "CASE WHEN _nw > 0 THEN _nws / CAST(_nw AS DOUBLE)"
        " ELSE 0.0 END AS _mwl",
        "CASE WHEN _nchars > 0 THEN _nsym / CAST(_nchars AS DOUBLE)"
        " ELSE 0.0 END AS _symr",
        f"{dup_chars} AS _dupc",
        "aggregate(_sl, 0, (a, x) -> a + length(x)) AS _linec",
    )
    stage3 = stage2.selectExpr(
        id_col,
        "_nw",
        "_mwl",
        "_symr",
        "CASE WHEN _linec > 0 THEN _dupc / CAST(_linec AS DOUBLE)"
        " ELSE 0.0 END AS _dupr",
    )
    ok_wc = f"(_nw >= {int(min_words)} AND _nw <= {int(max_words)})"
    ok_mwl = (
        f"(_mwl >= {float(min_mean_word_len)}"
        f" AND _mwl <= {float(max_mean_word_len)})"
    )
    ok_sym = f"(_symr <= {float(max_symbol_ratio)})"
    ok_dup = f"(_dupr <= {float(max_dup_line_ratio)})"
    return stage3.selectExpr(
        id_col,
        "CAST(_nw AS BIGINT) AS n_words",
        "round(_mwl, 6) AS mean_word_len",
        "round(_symr, 6) AS symbol_ratio",
        "round(_dupr, 6) AS dup_line_ratio",
        f"{ok_wc} AS ok_word_count",
        f"{ok_mwl} AS ok_mean_word_len",
        f"{ok_sym} AS ok_symbol_ratio",
        f"{ok_dup} AS ok_dup_lines",
        f"({ok_wc} AND {ok_mwl} AND {ok_sym} AND {ok_dup}) AS keep",
    )


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Gopher-style repetition signals: the mass of the most frequent
    word bigram, and the fraction of bigram occurrences that are
    repeats (occurrences beyond each distinct bigram's first).

    Shape: **map-only** — a document's bigrams already live in one row,
    so every statistic is an in-row array expression: ``n_bigrams`` is
    the array size, the repeat fraction falls out of ``array_distinct``,
    and the top-bigram count is a run-length maximum over the *sorted*
    bigram array (one aggregate pass, O(m log m) per row for the sort).
    Zero shuffles at any corpus size — no bigram ever leaves the scan
    (the earlier explode → two-groupBy formulation shuffled every bigram
    occurrence once; correct but needlessly wide).

    Output: (id, n_bigrams, top_bigram_n, top_bigram_frac, dup_bigram_frac).
    Documents with < 2 words emit zero counts.
    """
    stage1 = df.selectExpr(
        id_col,
        rf"split(trim({text_col}), '\\s+') AS _toks",
    ).selectExpr(
        id_col,
        "CASE WHEN size(_toks) >= 2 THEN"
        " zip_with(slice(_toks, 1, size(_toks) - 1),"
        " slice(_toks, 2, size(_toks) - 1),"
        " (a, b) -> concat(a, ' ', b))"
        " ELSE CAST(array() AS ARRAY<STRING>) END AS _bg",
    )
    # ONE run-length pass over the sorted array carries every statistic:
    # top-bigram count = max run length (duplicates are adjacent after
    # the sort; comparing against NULL prev starts a fresh run), distinct
    # count = number of runs (so the separate array_distinct walk — a
    # full extra pass per row — drops out). Empty arrays keep the seeds.
    rl = (
        "aggregate(array_sort(_bg),"
        " named_struct('prev', CAST(NULL AS STRING), 'run', 0, 'best', 0,"
        "   'runs', 0),"
        " (acc, x) -> named_struct("
        "   'prev', x,"
        "   'run', CASE WHEN x = acc.prev THEN acc.run + 1 ELSE 1 END,"
        "   'best', greatest(acc.best,"
        "     CASE WHEN x = acc.prev THEN acc.run + 1 ELSE 1 END),"
        "   'runs', acc.runs + CASE WHEN x = acc.prev THEN 0 ELSE 1 END),"
        " acc -> named_struct('best', acc.best, 'runs', acc.runs))"
    )
    stats = stage1.selectExpr(
        id_col,
        "size(_bg) AS _n",
        f"{rl} AS _rl",
    )
    return stats.selectExpr(
        id_col,
        "CAST(_n AS BIGINT) AS n_bigrams",
        "CAST(_rl.best AS BIGINT) AS top_bigram_n",
        "CASE WHEN _n > 0 THEN round(_rl.best / CAST(_n AS DOUBLE), 6)"
        " ELSE 0.0 END AS top_bigram_frac",
        "CASE WHEN _n > 0 THEN round((_n - _rl.runs) / CAST(_n AS DOUBLE), 6)"
        " ELSE 0.0 END AS dup_bigram_frac",
    )


def packing_plan(
    df: DataFrame,
    context_len: int,
    n_groups: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sequence-packing plan: assign each document a (group, bin, offset)
    inside fixed token-budget context windows — the step before writing
    packed training batches.

    Scalable shape: documents hash into ``n_groups`` independent packing
    groups (md5-derived — deterministic, engine-portable), and within a
    group a window cumsum of token counts lays documents head-to-tail;
    ``bin = floor(cum_before / context_len)`` cuts the stream into
    windows. Each group is one window partition — parallelism = n_groups,
    never a global sort (the greedy first-fit packers are sequential; the
    cumsum layout is the standard distributed approximation — documents
    straddling a boundary are truncated/split downstream). Deterministic:
    same corpus → same plan, any cluster size.

    Output: (id, grp, n_tokens, bin, bin_offset).
    """
    n = token_count(text_col)
    grp = F.expr(
        f"CAST(conv(substring(md5(CAST({id_col} AS STRING)), 1, 8), 16, 10)"
        f" AS BIGINT) % {int(n_groups)}"
    )
    base = df.select(
        F.col(id_col), grp.alias("grp"), n.cast("long").alias("n_tokens")
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("grp")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_before = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return base.select(
        id_col,
        "grp",
        "n_tokens",
        F.floor(cum_before / F.lit(int(context_len))).cast("long").alias("bin"),
        (cum_before % F.lit(int(context_len))).cast("long").alias("bin_offset"),
    )


def chunk_text(
    df: DataFrame,
    chunk_tokens: int,
    overlap_tokens: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split long documents into fixed-token-window chunks with overlap —
    the standard preprocessing step before context-window training or
    embedding long corpora.

    Map-only at any scale: the token array materializes once per row, the
    chunk starts come from ``sequence`` over the stride, and each chunk
    re-joins its token slice — one explode, no shuffle, no Python. A
    document shorter than ``chunk_tokens`` yields exactly one chunk (its
    whole text); empty/whitespace docs yield one empty chunk. The last
    chunk may be shorter than ``chunk_tokens``; a final window that would
    be fully covered by the previous chunk's overlap is not emitted
    (starts iterate over ``stride`` = chunk − overlap up to the last
    index that begins new content).

    Output: (id, chunk_idx, n_chunk_tokens, chunk_text).
    """
    if not 0 <= overlap_tokens < chunk_tokens:
        raise ValueError("need 0 <= overlap_tokens < chunk_tokens")
    stride = int(chunk_tokens - overlap_tokens)
    ct = int(chunk_tokens)
    from obsplus_spark.util import ensure_parallelism

    # coalesce: NULL text must chunk like a blank doc (one empty
    # chunk), not ride NULL through size()/least() into a phantom
    # full-width chunk (r8 degenerate-text sweep finding — both
    # engines emitted a 32-token chunk of nothing and then disagreed
    # on '' vs NULL for its text)
    toks = (
        rf"coalesce(CASE WHEN length(trim({text_col})) = 0 THEN array()"
        rf" ELSE split(trim({text_col}), '\\s+') END, array())"
    )
    # chunk starts: 0, stride, 2·stride … while start < n (and at least
    # one chunk); slice() is 1-indexed
    starts = (
        f"sequence(0, greatest(CAST(ceil((size(_toks) - {ct})"
        f" / {stride}.0D) AS INT), 0) * {stride}, {stride})"
    )
    return (
        ensure_parallelism(df)
        .selectExpr(id_col, f"{toks} AS _toks")
        .selectExpr(
            id_col,
            "_toks",
            f"posexplode({starts}) AS (chunk_idx, _start)",
        )
        .selectExpr(
            id_col,
            "CAST(chunk_idx AS BIGINT) AS chunk_idx",
            f"CAST(least(size(_toks) - _start, {ct}) AS BIGINT)"
            " AS n_chunk_tokens",
            f"concat_ws(' ', slice(_toks, _start + 1, {ct})) AS chunk_text",
        )
    )


def _lower_tokens_sql(text_col: str) -> str:
    """SQL expr: lowercase whitespace token array (empty array for blank
    text) — the shared tokenization of the vocabulary/tf-idf/LM family."""
    return (
        rf"CASE WHEN length(trim({text_col})) = 0 THEN array()"
        rf" ELSE split(trim(lower({text_col})), '\\s+') END"
    )


def _clean_tokens_sql(text_col: str) -> str:
    """Like :func:`_lower_tokens_sql` but with phantom ``''`` tokens
    filtered out: ``trim`` strips SPACES only, so text with leading or
    trailing tabs/newlines would otherwise contribute empty tokens that
    inflate token counts and skew per-doc metrics (entropy, TTR,
    Flesch). The metric operators use this form; the vocabulary/LM
    family keeps the unfiltered shared tokenization for oracle parity
    (their '' tokens group harmlessly into one vocabulary row)."""
    return (
        rf"filter(split(trim(lower({text_col})), '\\s+'), t -> t != '')"
    )


#: SQL expr over a ``_toks`` array column: (token, in-doc count) struct
#: pairs via sorted run-length — in-row aggregation, so a downstream
#: explode emits one row per DISTINCT token per doc, not per occurrence.
#: Formulation: run-START indices of the sorted array (a filter over the
#: index sequence), then each pair is two O(1) lookups — start token and
#: next-start-minus-start length. The earlier ``aggregate`` +
#: ``array_append`` fold was O(n²) per row (every append copies the
#: accumulator array); this is O(n) after the sort and ~1.7× faster
#: end-to-end on the sf0.1 corpus. Singleton-``transform`` wrappers bind
#: the sorted array and the starts array once each (a let-binding —
#: repeating the subexpression would re-sort per reference);
#: ``try_element_at`` (1-based) NULLs past-the-end under ANSI where
#: ``st[j + 1]`` would throw.
_TOKEN_PAIRS_SQL = (
    "transform(array(array_sort(_toks)), s -> CASE WHEN size(s) = 0"
    " THEN CAST(array() AS ARRAY<STRUCT<t: STRING, n: INT>>)"
    " ELSE transform(array(filter(sequence(0, size(s) - 1),"
    "   i -> i = 0 OR s[i] != s[i - 1])), st ->"
    "   transform(st, (b, j) -> named_struct('t', s[b],"
    "     'n', CAST(coalesce(try_element_at(st, j + 2), size(s)) - b"
    "       AS INT))))[0]"
    " END)[0]"
)


def vocab_top_tokens(
    df: DataFrame,
    k: int = 1000,
    text_col: str = "text",
    min_count: int = 1,
) -> DataFrame:
    """Corpus vocabulary: the ``k`` most frequent lowercase tokens with
    occurrence and document frequencies — the input to tokenizer
    training, rare-token filters, and idf weighting.

    Scale shape: per-row token-count MAPS (in-row aggregation — each
    document contributes one (token → n) map, so the explode that feeds
    the global aggregate carries one row per DISTINCT token per doc, not
    per occurrence), then one hash aggregate keyed by token (map-side
    combinable), then distributed TakeOrdered for the top-k — never a
    global sort.
    """
    from obsplus_spark.util import ensure_parallelism

    toks = _lower_tokens_sql(text_col)
    pairs = _TOKEN_PAIRS_SQL
    return (
        ensure_parallelism(df)
        .selectExpr(f"{toks} AS _toks")
        .selectExpr(f"explode({pairs}) AS p")
        .selectExpr("p.t AS token", "p.n AS _n")
        .groupBy("token")
        .agg(
            F.expr("CAST(sum(_n) AS BIGINT) AS n_occurrences"),
            F.expr("CAST(count(1) AS BIGINT) AS n_docs"),
        )
        .filter(F.col("n_occurrences") >= int(min_count))
        .orderBy(F.col("n_occurrences").desc(), F.col("token"))
        .limit(int(k))
    )


#: redaction patterns for :func:`pii_scrub` — deliberately conservative,
#: engine-portable regex subset (no lookarounds; identical semantics in
#: Spark's Java regex and DuckDB's RE2)
PII_PATTERNS: dict[str, str] = {
    # order matters: earlier classes consume their spans first. ipv4 runs
    # before phone because the permissive phone pattern (digits with
    # dots/spaces) would otherwise swallow dotted quads.
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
    "phone": r"\+?[0-9][0-9()\-. ]{7,}[0-9]",
}


def pii_scrub(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    patterns: dict[str, str] | None = None,
) -> DataFrame:
    """Redact PII-like spans and count them per document — the hygiene
    pass a pretraining pipeline runs before publishing a corpus.

    Each pattern class replaces with ``<CLASS>`` and reports a per-doc
    match count. Map-only: chained ``regexp_replace`` + per-pattern
    ``regexp_count``, scan speed at any corpus size. Patterns apply in
    dict order (earlier classes win overlapping spans — e.g. the email
    pattern consumes its digits before the phone pattern sees them).

    Output: (id, scrubbed ``text_col``, n_<class> per pattern, n_pii
    total). Pattern-class names become ``n_<name>`` output columns, so
    they must be bare SQL identifiers (``[A-Za-z_][A-Za-z0-9_]*``) —
    validated up front rather than failing as a mid-plan ParseException.
    """
    import re as _re

    pats = patterns if patterns is not None else PII_PATTERNS
    for name in pats:
        if not _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
            raise ValueError(
                f"pattern class {name!r} is not a valid SQL identifier"
            )
    scrubbed = text_col
    counts = []
    for name, pat in pats.items():
        lit = pat.replace("\\", "\\\\").replace("'", "''")
        counts.append(
            f"CAST(regexp_count({scrubbed}, '{lit}') AS BIGINT)"
            f" AS n_{name}"
        )
        scrubbed = f"regexp_replace({scrubbed}, '{lit}', '<{name.upper()}>')"
    total = " + ".join(f"n_{name}" for name in pats) or "CAST(0 AS BIGINT)"
    return df.selectExpr(
        id_col, f"{scrubbed} AS {text_col}", *counts
    ).selectExpr("*", f"{total} AS n_pii")


def tf_idf_top_terms(
    df: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document top-``k`` terms by tf-idf — the classic keyword /
    topic-signal extraction pass over a corpus (reference exposes no text
    analytics; this is part of the training-data north-star surface).

    ``tfidf = tf · ln(N / df)`` with raw term counts and unsmoothed
    document frequency over the whole input.

    Scale shape: term frequencies come from the in-row run-length pass
    (the explode carries one row per DISTINCT token per doc) — evaluated
    ONCE: document frequencies come from a separate
    ``explode(array_distinct(...))`` branch (a single O(n) hash pass per
    row, no sort) rather than re-deriving them from the run-length frame,
    so the sort+run-length expression is not computed twice. The df table
    joins back with a broadcast hint (a vocabulary is tiny next to its
    corpus), and the per-doc top-k compiles to WindowGroupLimit — rank is
    pushed into the shuffle, no full per-doc sort. (A/B'd alternatives at
    sf0.1: groupBy(doc, token) over raw occurrences costs an extra
    full-width shuffle, 1.8× slower; collecting df into a one-row
    broadcast map and taking top-k in-row serializes the vocabulary
    aggregate into single-task stages, 1.5× slower.)

    Ranking is by the 6-dp ROUNDED score then token: mathematically
    equal scores (e.g. tf=2,df=10 vs tf=1,df=2 at N=50 — both ln 25)
    are not bit-equal across engines before rounding, so ranking on the
    raw double would be engine-dependent.

    Output: (id, token, tf, df_docs, tfidf, rank), rank ≤ k.
    """
    from obsplus_spark.util import ensure_parallelism, sql_over

    toks = _lower_tokens_sql(text_col)
    return sql_over(
        {"d": ensure_parallelism(df)},
        f"""
        WITH tok AS (
          SELECT {id_col}, p.t AS token, CAST(p.n AS BIGINT) AS tf
          FROM (SELECT {id_col}, {_TOKEN_PAIRS_SQL} AS _pairs
                FROM (SELECT {id_col}, {toks} AS _toks FROM {{d}}))
          LATERAL VIEW explode(_pairs) _e AS p
        ),
        dfreq AS (
          SELECT tok AS token, CAST(count(1) AS BIGINT) AS df_docs
          FROM (SELECT {toks} AS _toks FROM {{d}})
          LATERAL VIEW explode(array_distinct(_toks)) _e AS tok
          GROUP BY tok
        ),
        n AS (SELECT CAST(count(1) AS BIGINT) AS n_docs FROM {{d}}),
        scored AS (
          SELECT /*+ BROADCAST(f) */ t.{id_col}, t.token, t.tf, f.df_docs,
                 round(t.tf * ln(CAST(n.n_docs AS DOUBLE) / f.df_docs), 6)
                   AS tfidf
          FROM tok t JOIN dfreq f USING (token) CROSS JOIN n
        )
        SELECT {id_col}, token, tf, df_docs, tfidf,
               CAST(rank AS BIGINT) AS rank
        FROM (SELECT *, row_number() OVER (PARTITION BY {id_col}
                ORDER BY tfidf DESC, token) AS rank FROM scored)
        WHERE rank <= {int(k)}
        """,
    )


def unigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document unigram-LM score: mean bits per token under the
    corpus's own unigram distribution — the cheap stand-in for the
    KenLM-perplexity quality filter of CCNet-style pipelines (low bits =
    repetitive/templated text, high bits = rare-token soup; both tails
    get reviewed).

    ``bits_per_token = −Σ tf·log₂(cnt_t / total) / Σ tf`` with counts
    from the input itself.

    Scale shape: pure codegen — raw occurrences explode straight out of
    the scan (no in-row sort or higher-order fold: every operator here
    is whole-stage-codegen'd), ONE vocabulary hash aggregate over them
    (map-side combinable: the shuffle carries distinct tokens, not
    occurrences), broadcast join of the vocabulary back onto a second
    occurrence explode, one final per-doc hash aggregate (again
    partial-agg combined before its shuffle). No window. A/B vs the
    run-length-pairs formulation at sf0.1: 0.58 s vs 0.96 s — the pairs
    pass paid an interpreted sort+fold per row twice (vocab branch and
    probe branch) to shrink frames that partial aggregation shrinks
    anyway. Blank docs have no tokens and are absent from the output
    (no 0/0 row).

    Output: (id, n_tokens, bits_per_token).
    """
    from obsplus_spark.util import ensure_parallelism, sql_over

    toks = _lower_tokens_sql(text_col)
    return sql_over(
        {"d": ensure_parallelism(df)},
        f"""
        WITH occ AS (
          SELECT {id_col}, tok
          FROM (SELECT {id_col}, {toks} AS _toks FROM {{d}})
          LATERAL VIEW explode(_toks) _e AS tok
        ),
        vocab AS (
          SELECT tok AS token, CAST(count(1) AS BIGINT) AS cnt
          FROM occ GROUP BY tok
        ),
        tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM vocab)
        SELECT /*+ BROADCAST(v) */ o.{id_col},
               CAST(count(1) AS BIGINT) AS n_tokens,
               round(-sum(ln(v.cnt / tot.total) / ln(2.0D))
                     / count(1), 6) AS bits_per_token
        FROM occ o JOIN vocab v ON o.tok = v.token CROSS JOIN tot
        GROUP BY o.{id_col}
        """,
    )


def mixture_plan(
    df: DataFrame,
    weights: "dict[str, float]",
    target_tokens: int,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Dataset-mixture sampling plan: given target mixture ``weights``
    per source and a total token budget, compute each source's token
    inventory and the deterministic sampling rate that hits its share —
    the planning step before building a weighted pre-training mix.

    ``sample_rate_s = min(1, w_s · target / tokens_s)`` (a source
    smaller than its share is taken whole — rates are not renormalized;
    the reported ``expected_tokens`` is what a second planning pass
    would redistribute). Sources absent from ``weights`` get weight 0.

    Scale shape: ONE hash aggregate keyed by source (map-side
    combinable — the only data-sized work is the token count inside the
    scan); the weight table is a literal CASE expression, so the plan
    is scan → partial agg → final agg over |sources| rows. Output is
    dimension-sized.

    Output: (source, n_docs, n_tokens, weight, sample_rate,
    expected_tokens).
    """
    from obsplus_spark.util import ensure_parallelism, sql_over

    t = int(target_tokens)
    if not weights:
        w_sql = "0.0D"
    else:
        from obsplus_spark.functions.sqltext import sql_literal

        arms = " ".join(
            f"WHEN {sql_literal(s)}"
            f" THEN CAST({float(w)!r} AS DOUBLE)"
            for s, w in weights.items()
        )
        w_sql = f"CASE {source_col} {arms} ELSE 0.0D END"
    ntok = (
        f"CASE WHEN length(trim({text_col})) = 0 THEN 0"
        f" ELSE size(split(trim({text_col}), '\\\\s+')) END"
    )
    return sql_over(
        {"d": ensure_parallelism(df)},
        f"""
        SELECT {source_col} AS source, n_docs, n_tokens, weight,
               round(least(1.0D, weight * {t}.0D / n_tokens), 6)
                 AS sample_rate,
               CAST(floor(round(least(1.0D, weight * {t}.0D / n_tokens), 6)
                          * n_tokens) AS BIGINT) AS expected_tokens
        FROM (
          SELECT {source_col}, CAST(count(1) AS BIGINT) AS n_docs,
                 CAST(sum({ntok}) AS BIGINT) AS n_tokens,
                 {w_sql} AS weight
          FROM {{d}} GROUP BY {source_col}
        )
        """,
    )


def token_budget_sample(
    df: DataFrame,
    budgets: "dict[str, int]",
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """REALIZE a token-budget mixture: per source, take documents in the
    deterministic ``md5(id || salt)`` hash order until the source's
    token budget is filled — the execution step behind
    :func:`mixture_plan` (which computes per-source budgets from mixture
    weights). Pretraining mixes are specified in TOKENS, not documents:
    per-document sampling rates hit a token share only in expectation,
    while the greedy prefix fill is exact to within one document.

    Rule (deterministic, engine-portable): order each source's docs by
    the content-free hash key, keep a doc iff the cumulative token
    count THROUGH it is ≤ the budget. A doc that would cross the budget
    is excluded and the scan stops — no knapsack backfill with later
    smaller docs (order-dependent and not worth the complexity; the
    under-fill is at most one document's tokens). Sources absent from
    ``budgets`` contribute nothing. Token count is the whitespace count
    shared with :func:`mixture_plan`; NULL/blank docs count 0 tokens
    (free riders early in hash order are kept — they cost no budget —
    including under a ZERO budget, which excludes every token-bearing
    doc but passes zero-token docs ahead of the first token-bearing
    one; filter empties upstream if that matters).

    Scale shape: ONE source-keyed window exchange (the hash-order
    cumulative sum), filter in-place — same single-exchange shape (and
    same giant-source caveat) as :func:`obsplus_spark.operators.dedup.
    stratified_split`. Subset-stability: like stratified_split and
    unlike hash_split, adding docs to a source shifts hash ranks and
    can change the selection near the boundary — re-plan per corpus
    snapshot.

    Output: the input columns + ``n_tokens`` + ``cum_tokens``
    (BIGINT, cumulative through the row, for audit).
    """
    from obsplus_spark.operators.dedup import _md5_u32_sql
    from obsplus_spark.functions.sqltext import sql_literal
    from obsplus_spark.util import ensure_parallelism, sql_over

    if not budgets:
        raise ValueError("budgets must name at least one source")
    arms = " ".join(
        f"WHEN {sql_literal(s)} THEN CAST({int(b)} AS BIGINT)"
        for s, b in budgets.items()
    )
    b_sql = f"CASE {source_col} {arms} ELSE CAST(0 AS BIGINT) END"
    ntok = (
        f"CASE WHEN {text_col} IS NULL OR length(trim({text_col})) = 0"
        f" THEN CAST(0 AS BIGINT)"
        f" ELSE CAST(size(split(trim({text_col}), '\\\\s+')) AS BIGINT) END"
    )
    key = _md5_u32_sql(id_col, salt)
    return sql_over(
        {"d": ensure_parallelism(df)},
        f"""
        SELECT * EXCEPT (_key, _budget)
        FROM (
          SELECT *, CAST(sum(n_tokens) OVER (
                   PARTITION BY {source_col}
                   ORDER BY _key, {id_col}
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS BIGINT) AS cum_tokens
          FROM (SELECT *, {ntok} AS n_tokens, {key} AS _key,
                       {b_sql} AS _budget
                FROM {{d}})
        )
        WHERE cum_tokens <= _budget
        """,
    )


def bpe_pair_counts(
    df: DataFrame,
    k: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """Frequency-weighted adjacent character-pair statistics — the
    counting step a BPE tokenizer trainer runs before its first merge
    (the most frequent pair becomes the first merged symbol; repeated
    application yields the merge table).

    A pair's ``total`` is its occurrence count over the corpus: each
    word type contributes (occurrences-in-word × word frequency);
    ``n_words`` is how many distinct word types contain it. Top-``k``
    pairs by total (ties → lexicographic pair).

    Scale shape: the corpus-sized work is ONE occurrence explode into a
    map-side-combinable word-frequency aggregate (the shuffle carries
    distinct word types, not occurrences — Zipf makes the vocabulary
    tiny next to the corpus); pair expansion, the pair aggregate, and
    the top-k (distributed TakeOrdered, never a global sort) all run on
    vocabulary-sized data.

    Output: (pair, n_words, total), ≤ k rows.
    """
    from obsplus_spark.util import ensure_parallelism, sql_over

    toks = _lower_tokens_sql(text_col)
    return sql_over(
        {"d": ensure_parallelism(df)},
        f"""
        WITH w AS (
          SELECT tok AS word, CAST(count(1) AS BIGINT) AS freq
          FROM (SELECT {toks} AS _toks FROM {{d}})
          LATERAL VIEW explode(_toks) _e AS tok
          GROUP BY tok
        ),
        p AS (
          SELECT word, freq, pair
          FROM (SELECT word, freq,
                       transform(sequence(1, length(word) - 1),
                                 i -> substring(word, i, 2)) AS _pairs
                FROM w WHERE length(word) >= 2)
          LATERAL VIEW explode(_pairs) _e AS pair
        )
        SELECT pair, CAST(count(DISTINCT word) AS BIGINT) AS n_words,
               CAST(sum(freq) AS BIGINT) AS total
        FROM p GROUP BY pair
        ORDER BY total DESC, pair
        LIMIT {int(k)}
        """,
    )


def posting_lists(
    df: DataFrame,
    min_df: int = 10,
    sample_k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Inverted-index construction: per token, its document frequency
    and a bounded sorted sample of posting doc ids — the retrieval-side
    artifact (BM25 / keyword search) built from the same corpus the
    model trains on.

    Scale shape: distinct tokens per doc stay in-row
    (``array_distinct``) so the explode carries one row per (doc,
    distinct token); ONE shuffle keyed by token; the posting sample is
    rank-limited BEFORE any collection — ``row_number`` over the token
    partition keeps the first ``sample_k`` doc ids and the document
    frequency rides the same window pass, so a stopword's full posting
    list is never gathered into one array (``collect_list`` only ever
    sees ≤ ``sample_k`` rows per token). The sample is emitted as a
    comma-joined string, not an array, for engine-portable comparison.

    Output: (token, df_docs, sample_docs) for tokens in ≥ ``min_df``
    docs.
    """
    from obsplus_spark.util import ensure_parallelism, sql_over

    toks = _lower_tokens_sql(text_col)
    return sql_over(
        {"d": ensure_parallelism(df)},
        f"""
        WITH e AS (
          SELECT {id_col}, tok AS token
          FROM (SELECT {id_col}, {toks} AS _toks FROM {{d}})
          LATERAL VIEW explode(array_distinct(_toks)) _e AS tok
        ),
        r AS (
          SELECT token, {id_col},
                 count(1) OVER (PARTITION BY token) AS _df,
                 row_number() OVER (PARTITION BY token
                                    ORDER BY {id_col}) AS _rn
          FROM e
        )
        SELECT token, CAST(max(_df) AS BIGINT) AS df_docs,
               array_join(array_sort(collect_list({id_col})), ',')
                 AS sample_docs
        FROM r WHERE _rn <= {int(sample_k)}
        GROUP BY token
        HAVING max(_df) >= {int(min_df)}
        """,
    )


def pmi_collocations(
    df: DataFrame,
    window: int = 3,
    min_count: int = 5,
    k: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Pointwise-mutual-information collocations: unordered token pairs
    co-occurring within ``window`` positions, scored
    ``ln(c_ab · N / (c_a · c_b))`` — the corpus-statistics pass that
    surfaces multi-word expressions ("new york") before tokenizer
    training or phrase-aware dedup. Complements ``bpe_pair_counts``
    (adjacent-only, frequency-ranked) with distance-``window``
    association strength.

    Scale shape: pair expansion is IN-ROW (a bounded ``window ×
    positions`` flatten — no positions self-join), then ONE pair-keyed
    map-combined aggregate; unigram counts and the corpus token total
    are vocabulary-/scalar-sized and ride broadcast joins. Top-k is a
    distributed TakeOrdered on the 6-dp-rounded score (engine-stable
    boundary).

    Output: (tok_a, tok_b, n_pair, n_a, n_b, pmi) — ≤ k rows.
    """
    from obsplus_spark.util import ensure_parallelism, sql_over

    w = int(window)
    if w < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    toks = ensure_parallelism(df).selectExpr(
        f"{_lower_tokens_sql(text_col)} AS _toks"
    )
    pairs_expr = f"""
        CASE WHEN size(_toks) >= 2 THEN
          flatten(transform(sequence(0, size(_toks) - 2), i ->
            transform(sequence(i + 1, least(i + {w}, size(_toks) - 1)), j ->
              named_struct('a', least(_toks[i], _toks[j]),
                           'b', greatest(_toks[i], _toks[j])))))
        ELSE CAST(array() AS ARRAY<STRUCT<a: STRING, b: STRING>>) END
    """
    return sql_over(
        {"t": toks},
        f"""
        WITH pr AS (
          SELECT p.a, p.b, count(1) AS n_pair
          FROM (SELECT explode({pairs_expr}) AS p FROM {{t}})
          GROUP BY p.a, p.b
        ),
        uni AS (
          SELECT tok, count(1) AS n_tok
          FROM (SELECT explode(_toks) AS tok FROM {{t}})
          GROUP BY tok
        ),
        tot AS (SELECT sum(n_tok) AS n FROM uni)
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
        WHERE n_pair >= {int(min_count)}
        ORDER BY pmi DESC, tok_a, tok_b
        LIMIT {int(k)}
        """,
    )


def source_divergence(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source token-distribution divergence from the whole corpus:
    ``KL(P_source ‖ P_corpus) = Σ_t p_s(t) · ln(p_s(t) / p_c(t))`` — the
    mixture-quality signal that flags a source whose language diverges
    from the blend (scraped boilerplate, wrong-language shards) before
    it skews a training mix.

    Every source token is by construction in the corpus distribution, so
    the ratio is always finite. Scale shape: ONE (source, token)-keyed
    map-combined aggregate over the token stream; the corpus token
    totals re-aggregate from that table (vocabulary-sized) and ride a
    broadcast join back, the per-source totals a second broadcast
    (source-count-sized); one final source-keyed sum. No windows, no
    corpus re-scan.

    Output: (source, n_tokens, n_distinct_tokens, kl) — one row per
    source, kl rounded to 6 dp.
    """
    from obsplus_spark.util import ensure_parallelism, sql_over

    toks = ensure_parallelism(df).selectExpr(
        group_col, f"explode({_lower_tokens_sql(text_col)}) AS tok"
    )
    return sql_over(
        {"t": toks},
        f"""
        WITH st AS (
          SELECT {group_col}, tok, count(1) AS n
          FROM {{t}} GROUP BY {group_col}, tok
        ),
        ct AS (SELECT tok, sum(n) AS nc FROM st GROUP BY tok),
        stot AS (SELECT {group_col}, sum(n) AS ns FROM st
                 GROUP BY {group_col}),
        ctot AS (SELECT sum(nc) AS nt FROM ct)
        SELECT s.{group_col},
               CAST(max(t.ns) AS BIGINT) AS n_tokens,
               CAST(count(1) AS BIGINT) AS n_distinct_tokens,
               round(sum((s.n / CAST(t.ns AS DOUBLE))
                     * ln((s.n / CAST(t.ns AS DOUBLE))
                          / (c.nc / CAST(x.nt AS DOUBLE)))), 6) AS kl
        FROM st s
        JOIN ct c ON s.tok = c.tok
        JOIN stot t ON s.{group_col} = t.{group_col}
        CROSS JOIN ctot x
        GROUP BY s.{group_col}
        """,
    )


def _hash_bucket_sql(token_expr: str, dims: int) -> str:
    """SQL expr: stable token → ``[0, dims)`` bucket via the module's
    md5-hex convention (engine-portable — no integer-hash builtin is
    shared between Spark and other engines)."""
    return (
        f"(CAST(conv(substring(md5({token_expr}), 1, 8), 16, 10) AS BIGINT)"
        f" % {int(dims)})"
    )


def linear_quality_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dims: int = 1024,
) -> DataFrame:
    """Hashed bag-of-words linear quality classifier — the fastText-style
    scoring pass of web-corpus pipelines (CCNet/RefinedWeb run exactly
    this shape: hash each token into a fixed-width feature vector, dot it
    with trained weights, sigmoid the margin, threshold to keep/drop).

    A real deployment broadcasts its trained weight vector as a
    plan-time literal array (``element_at(lit(weights), bucket + 1)``);
    here the weight for bucket ``b`` derives in-plan from the bucket id
    (Knuth-multiplier mix, quantized to 1/4096ths) so both engines
    reproduce it without a side table. The 2^-12 quantization makes
    every per-doc weight SUM exact in binary floating point — the score
    is order-independent, so the oracle match doesn't lean on
    accumulation order.

    Scale shape: pure map — tokenize, fold the in-row token array
    through hash→weight→add (no explode, no shuffle, no window); a
    100 TB corpus scores at scan speed. Blank docs carry no signal and
    are dropped (no 0/0 margin).

    Output: (id, n_tokens, margin, score, keep) — margin is the
    root-n-normalized weight sum (CLT keeps its spread O(1) in doc
    length), score = sigmoid(margin), keep = score > 0.5.
    """
    from obsplus_spark.util import sql_over

    if int(dims) < 1:
        raise ValueError(f"dims must be >= 1, got {dims}")
    w = (
        f"(CAST(({_hash_bucket_sql('t', dims)} * 2654435761) % 4096"
        f" AS DOUBLE) / 4096.0D - 0.5D)"
    )
    toks = _lower_tokens_sql(text_col)
    return sql_over(
        {"d": df},
        f"""
        SELECT {id_col}, n_tokens,
               round(margin, 6) AS margin,
               round(1.0D / (1.0D + exp(-margin)), 6) AS score,
               (1.0D / (1.0D + exp(-margin))) > 0.5D AS keep
        FROM (
          SELECT {id_col},
                 CAST(size(_toks) AS BIGINT) AS n_tokens,
                 aggregate(_toks, CAST(0.0 AS DOUBLE),
                           (acc, t) -> acc + {w})
                   / sqrt(CAST(size(_toks) AS DOUBLE)) AS margin
          FROM (SELECT {id_col}, {toks} AS _toks FROM {{d}})
          WHERE size(_toks) > 0
        )
        """,
    )


def dsir_importance(
    df: DataFrame,
    target_value: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    dims: int = 4096,
) -> DataFrame:
    """DSIR-style importance weight per document (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"):
    hash tokens into ``dims`` buckets, fit add-one-smoothed unigram
    models for the TARGET slice (``group_col == target_value``) and the
    full-corpus PROPOSAL, and score each document by
    ``log w(x) = Σ_tok ln(p_target(bucket) / p_corpus(bucket))``.
    Downstream selection resamples with probability ∝ exp(log w).

    Scale shape: the token stream aggregates to ≤ ``dims`` bucket-count
    rows (map-side combined — the shuffle carries buckets, not
    occurrences); target totals re-aggregate from that table; the
    dims-row weight table rides ONE broadcast join back onto a second
    occurrence pass, then one per-doc hash aggregate. Identical skeleton
    to :func:`unigram_logprob` — no windows, nothing driver-side, the
    corpus streams twice and shuffles once at document granularity.

    Output: (id, n_tokens, log_weight) — blank docs are absent (a
    zero-token doc has no importance evidence).
    """
    from obsplus_spark.functions.sqltext import sql_literal
    from obsplus_spark.util import ensure_parallelism, sql_over

    if int(dims) < 1:
        raise ValueError(f"dims must be >= 1, got {dims}")
    occ = ensure_parallelism(df).selectExpr(
        id_col,
        f"({group_col} = {sql_literal(target_value)}) AS _is_target",
        f"explode({_lower_tokens_sql(text_col)}) AS tok",
    ).selectExpr(id_col, "_is_target", f"{_hash_bucket_sql('tok', dims)} AS bucket")
    d = int(dims)
    return sql_over(
        {"o": occ},
        f"""
        WITH bc AS (
          SELECT bucket,
                 CAST(count(1) AS BIGINT) AS n_all,
                 CAST(count_if(_is_target) AS BIGINT) AS n_tgt
          FROM {{o}} GROUP BY bucket
        ),
        tot AS (
          SELECT CAST(sum(n_all) AS DOUBLE) AS t_all,
                 CAST(sum(n_tgt) AS DOUBLE) AS t_tgt
          FROM bc
        ),
        wt AS (
          SELECT /*+ BROADCAST(bc) */ bucket,
                 ln(((n_tgt + 1) / (t_tgt + {d}))
                    / ((n_all + 1) / (t_all + {d}))) AS lw
          FROM bc CROSS JOIN tot
        )
        SELECT /*+ BROADCAST(w) */ o.{id_col},
               CAST(count(1) AS BIGINT) AS n_tokens,
               round(sum(w.lw), 6) AS log_weight
        FROM {{o}} o JOIN wt w ON o.bucket = w.bucket
        GROUP BY o.{id_col}
        """,
    )


def bm25_scores(
    df: DataFrame,
    terms: "list[str]",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Okapi BM25 ranked retrieval for one query over the corpus —
    the classic keyword-search scorer (Robertson & Zaragoza 2009),
    with the standard non-negative idf variant
    ``ln(1 + (N − df + 0.5)/(df + 0.5))``::

        score(d) = Σ_t idf(t) · tf(t,d)·(k1+1)
                              / (tf(t,d) + k1·(1 − b + b·|d|/avgdl))

    Scale shape: zero keyed shuffles. Per-term tf is an in-row
    ``size(filter(...))`` over the token array (never an explode — the
    corpus-size work is a pure map); N, avgdl and every term's df come
    out of ONE single-row aggregate that rides a broadcast cross join
    back onto the scan; top-k is TakeOrdered. A 100 TB corpus answers
    a query in one scan + one 1-row exchange.

    Output: (id, n_tokens, score) — top ``k`` docs by (score desc, id),
    zero-score docs (no term matches) excluded.
    """
    from obsplus_spark.util import sql_over

    if not terms:
        raise ValueError("terms must be non-empty")
    if int(k) < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    # tokens are lowercased whitespace-split (_lower_tokens_sql): a
    # mixed-case or whitespace-bearing term could never match and would
    # silently score 0 — normalize/reject at validation time instead
    terms = [t.lower() for t in terms]
    for t in terms:
        if not t or any(ch.isspace() for ch in t):
            raise ValueError(f"term must be one non-blank token: {t!r}")
        if "'" in t or "\\" in t:
            raise ValueError(f"unsupported character in term: {t!r}")
    tf_cols = ", ".join(
        f"CAST(size(filter(_toks, x -> x = '{t}')) AS DOUBLE) AS _tf{i}"
        for i, t in enumerate(terms)
    )
    df_aggs = ", ".join(
        f"CAST(count_if(_tf{i} > 0) AS DOUBLE) AS _df{i}"
        for i in range(len(terms))
    )
    score = " + ".join(
        f"ln(1.0D + (_n - _df{i} + 0.5D) / (_df{i} + 0.5D))"
        f" * _tf{i} * ({k1} + 1.0D)"
        f" / (_tf{i} + {k1} * (1.0D - {b} + {b} * _len / _avgdl))"
        for i in range(len(terms))
    )
    any_match = " OR ".join(f"_tf{i} > 0" for i in range(len(terms)))
    toks = _lower_tokens_sql(text_col)
    return sql_over(
        {"d": df},
        f"""
        WITH t AS (
          SELECT {id_col}, CAST(size(_toks) AS DOUBLE) AS _len, {tf_cols}
          FROM (SELECT {id_col}, {toks} AS _toks FROM {{d}})
        ),
        stats AS (
          SELECT CAST(count(1) AS DOUBLE) AS _n,
                 avg(_len) AS _avgdl, {df_aggs}
          FROM t
        )
        SELECT {id_col},
               CAST(_len AS BIGINT) AS n_tokens,
               round({score}, 6) AS score
        FROM t CROSS JOIN stats
        WHERE {any_match}
        ORDER BY score DESC, {id_col}
        LIMIT {int(k)}
        """,
    )


def bpe_apply(
    df: DataFrame,
    merges: "list[tuple[str, str]]",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply a trained BPE merge list (the encode side of the pair
    statistics :func:`bpe_pair_counts` computes): each word starts as a
    space-separated character sequence; merge ``i`` rewrites every
    non-overlapping leftmost occurrence of ``'a b'`` to ``'ab'``, in
    merge-priority order — the standard greedy BPE apply (one pass per
    merge rank, all occurrences per pass). ``merges`` is the prefix of
    a tokenizer's merges.txt; each merge compiles to one plan-time
    regex, so this shape is for BOUNDED merge lists (rule-of-thumb
    ≤ a few hundred — the expression tree and per-row cost grow
    linearly with the list). A full 30k-merge vocabulary encode does
    not belong in a regex chain: do that in an Arrow-batched
    ``mapInPandas`` kernel with a real tokenizer, the same honest
    Python-kernel boundary as the media codecs.

    Scale shape: pure map — the merge chain is ``len(merges)`` chained
    ``regexp_replace`` expressions over the in-row word array (JVM
    regex, whole-stage codegen; no explode, no shuffle). Output is one
    row per NON-BLANK document (blank/whitespace-only docs carry no
    words and are dropped, like the other tokenizing operators): the
    BPE token count and the space-joined encoding of the first words
    (audit column), so a 100 TB corpus tokenizes at scan speed.

    Merge symbols must be regex-safe (alphanumeric); reject anything
    else up front rather than emitting a broken pattern.
    """
    import re as _re

    from obsplus_spark.util import sql_over

    if not merges:
        raise ValueError("merges must be non-empty")
    if len(merges) > 1024:
        raise ValueError(
            f"{len(merges)} merges would compile to {len(merges)} chained"
            " regexes — use an Arrow tokenizer kernel for full"
            " vocabularies (see docstring); cap is 1024"
        )
    for a, b in merges:
        if not (_re.fullmatch(r"[0-9A-Za-z]+", a)
                and _re.fullmatch(r"[0-9A-Za-z]+", b)):
            raise ValueError(f"merge symbols must be alphanumeric: {(a, b)!r}")
    # word → 'c h a r s'; then the merge chain
    expr = "array_join(split(w, ''), ' ')"
    for a, b in merges:
        expr = f"regexp_replace({expr}, '{a} {b}', '{a}{b}')"
    toks = _lower_tokens_sql(text_col)
    return sql_over(
        {"d": df},
        f"""
        SELECT {id_col},
               CAST(size(_words) AS BIGINT) AS n_words,
               CAST(aggregate(_enc, 0, (acc, e) ->
                      acc + size(split(e, ' '))) AS BIGINT) AS n_bpe_tokens,
               array_join(slice(_enc, 1, 5), ' | ') AS head_encoding
        FROM (
          SELECT {id_col}, _words,
                 transform(_words, w -> {expr}) AS _enc
          FROM (SELECT {id_col}, {toks} AS _words FROM {{d}})
          WHERE size(_words) > 0
        )
        """,
    )


def bigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
) -> DataFrame:
    """Per-document bigram-LM score: mean bits per bigram under the
    corpus's own add-α-smoothed bigram model — the next step up from
    :func:`unigram_logprob` toward the KenLM-perplexity quality filter
    (a bigram model catches scrambled/shuffled text that fools a
    unigram model, since it scores token ORDER, not just token choice).

    ``p(w₂|w₁) = (c(w₁w₂) + α) / (c(w₁·) + α·V)`` with bigram counts
    from the input itself, left-context counts ``c(w₁·)`` summed over
    the same bigram occurrences, and ``V`` = distinct tokens appearing
    in any bigram. ``bits = −Σ tf·log₂ p / Σ tf`` per doc. Docs with
    fewer than two tokens have no bigrams and are absent (documented,
    matching unigram_logprob's no-0/0-row contract).

    Scale shape: bigrams expand IN-ROW (a codegen'd transform over the
    token array — no self-join of positions) into ONE persisted
    (doc, w₁, w₂, tf) frame — every downstream statistic derives from
    it, so the corpus tokenize/explode pass runs ONCE (the naive
    all-CTE form re-derived it 4× through Spark's per-reference CTE
    inlining: 4.0 s → 1.1 s at sf0.1; a bounded per-session ring
    releases the persist). The bigram vocabulary, the left-context
    table (``Σ_{{w₂}} c(w₁w₂)`` — identical to counting left
    occurrences), and V all aggregate from it; the probe joins the
    bigram vocabulary on its composite key (a keyed shuffle join — the
    bigram table is NOT broadcast: unlike the unigram vocabulary it
    can be corpus-sized at 100 TB) and broadcasts only the
    unigram-sized left-context table. No windows, no driver actions.

    Output: (id, n_bigrams, bits_per_bigram) — 6 dp.
    """
    from obsplus_spark.cache import register_shingle_cache
    from obsplus_spark.util import ensure_parallelism, sql_over

    a = float(alpha)
    if not a > 0.0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    toks = _lower_tokens_sql(text_col)
    # bigrams materialize as SINGLE "w1 w2" strings (tokens are
    # whitespace-split, so the space-joined form is bijective with the
    # pair), and the explode carries the token INDEX sequence with the
    # bigram string concatenated AFTER the explode (r8; previously a
    # zip_with built every bigram string in-row as the explode input).
    # Rationale: InferFiltersFromGenerate derives `size(<explode
    # input>) > 0` and predicate pushdown drags it through the
    # parallelizing exchange onto the few-partition cached scan — the
    # entire explode-input expression then runs TWICE, once serialized
    # at the scan (the ngram_diversity finding, 4.8 s → 1.6 s there).
    # A sequence input costs the scan a split+size; the string builds
    # happen once, post-explode, at full width. Short docs guard via
    # CASE, not greatest(): Spark's sequence(1, 0) helpfully COUNTS
    # DOWN ([1, 0]), so a clamped bound would emit two bogus indices
    # where predicate reordering evaluates the expression before the
    # size >= 2 docs filter.
    tf = sql_over(
        {"d": ensure_parallelism(df)},
        f"""
        WITH docs AS (
          SELECT {id_col}, _toks FROM
            (SELECT {id_col}, {toks} AS _toks FROM {{d}})
          WHERE size(_toks) >= 2
        ),
        occ AS (
          SELECT {id_col}, concat(_toks[i - 1], ' ', _toks[i]) AS bg
          FROM docs
          LATERAL VIEW explode(
            CASE WHEN size(_toks) < 2 THEN array()
                 ELSE sequence(1, size(_toks) - 1) END) _e AS i
        )
        SELECT {id_col}, bg, CAST(count(1) AS BIGINT) AS tf
        FROM occ GROUP BY {id_col}, bg
        """,
    )
    # cache the tf frame hash-partitioned on the PROBE key (guide §2.4
    # share one exchange): the downstream statement consumes {t} twice —
    # the bigram-vocabulary aggregate (GROUP BY bg) and the probe join's
    # t side (ON t.bg = b.bg) — and each used to pay its own tf-sized
    # hash(bg) exchange because the cached layout was the build
    # aggregate's hash(id, bg). One repartition at persist time makes
    # both run in-place (the aggregate via the subset rule, the join
    # because its other side inherits hash(bg) from that aggregate):
    # net one tf-sized exchange fewer per run, and the map-side partial
    # aggregation of the BUILD groupBy is preserved (the repartition
    # moves deduped tf rows, never raw occurrences).
    tf = tf.repartition(F.col("bg")).persist()
    register_shingle_cache(tf)
    return sql_over(
        {"t": tf},
        f"""
        WITH bg AS (
          SELECT bg, CAST(sum(tf) AS BIGINT) AS cnt
          FROM {{t}} GROUP BY bg
        ),
        lc AS (
          SELECT substring_index(bg, ' ', 1) AS w1,
                 CAST(sum(cnt) AS BIGINT) AS left_cnt
          FROM bg GROUP BY substring_index(bg, ' ', 1)
        ),
        v AS (
          SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vsize
          FROM (SELECT explode(split(bg, ' ')) AS tok FROM bg)
        )
        SELECT /*+ BROADCAST(l) */ t.{id_col},
               CAST(sum(t.tf) AS BIGINT) AS n_bigrams,
               round(-sum(t.tf * ln((b.cnt + {a!r}D)
                                    / (l.left_cnt + {a!r}D * v.vsize))
                          / ln(2.0D)) / sum(t.tf), 6) AS bits_per_bigram
        FROM {{t}} t
        JOIN bg b ON t.bg = b.bg
        JOIN lc l ON substring_index(t.bg, ' ', 1) = l.w1
        CROSS JOIN v
        GROUP BY t.{id_col}
        """,
    )


def conjunctive_search(
    df: DataFrame,
    terms: "list[str]",
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Conjunctive (AND) keyword search: documents containing EVERY
    query term, ranked by total term frequency — the boolean-retrieval
    complement to :func:`bm25_scores` (candidate generation for a
    reranker, eval-set mining, "must mention all of X, Y, Z" slicing).

    Matching is on the shared lowercase whitespace tokenization (exact
    token equality, not substring). The AND folds into ONE doc-keyed
    aggregate: tokens are filtered to the query set at the scan
    (predicate pushdown — the explode only emits query-term hits), and
    ``count(DISTINCT token) = |terms|`` keeps exactly the docs covering
    all terms. Top-k is a distributed TakeOrdered on (total tf DESC,
    id ASC) — integer-exact, engine-stable.

    Scale shape: scan → in-row filter → one map-combined (doc, token)
    aggregate → one doc aggregate → TakeOrdered. No joins at all; the
    query set is a plan-time literal IN-list.

    Output: (id, total_tf) — ≤ k rows, BIGINT.
    """
    from obsplus_spark.functions.sqltext import sql_literal
    from obsplus_spark.util import ensure_parallelism, sql_over

    if not terms:
        raise ValueError("terms must be non-empty")
    kk = int(k)
    if kk < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    uniq = list(dict.fromkeys(t.lower() for t in terms))
    termlist = ", ".join(sql_literal(t) for t in uniq)
    toks = _lower_tokens_sql(text_col)
    return sql_over(
        {"d": ensure_parallelism(df)},
        f"""
        WITH hits AS (
          SELECT {id_col}, tok, CAST(count(1) AS BIGINT) AS tf
          FROM (SELECT {id_col},
                       filter({toks}, t -> t IN ({termlist})) AS _toks
                FROM {{d}})
          LATERAL VIEW explode(_toks) _e AS tok
          GROUP BY {id_col}, tok
        )
        SELECT {id_col}, CAST(sum(tf) AS BIGINT) AS total_tf
        FROM hits
        GROUP BY {id_col}
        HAVING count(DISTINCT tok) = {len(uniq)}
        ORDER BY total_tf DESC, {id_col}
        LIMIT {kk}
        """,
    )


def token_entropy(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document token-distribution statistics: Shannon entropy in
    bits, type/token counts, and type-token ratio — the
    information-density quality signal. Keyword-stuffed, templated, or
    looping documents carry LOW entropy for their length (few types,
    skewed counts); natural prose sits near the corpus mode. Used next
    to the Gopher rules (:func:`quality_filter`) as a continuous score
    a curation pipeline can threshold per-source.

    Scale shape: MAP-ONLY — the per-doc (token → count) pairs come
    from the shared in-row run-length aggregation
    (``_TOKEN_PAIRS_SQL``), and entropy folds over that array in-row:
    ``H = log2(n) − Σ c·log2(c) / n`` (exactly the −Σ p·log2 p
    identity, but with one division at the end — better conditioned
    and cheaper). No shuffle, no explode leaves the row; the operator
    runs at scan speed on any corpus size.

    Output: (id, n_tokens, n_types, type_token_ratio, entropy_bits) —
    blank/NULL docs keep their row with zero counts and NULL ratios.
    """
    # coalesce: NULL text must behave like blank (zero counts, NULL
    # ratios), not propagate NULL counts past the oracle's LEFT JOIN;
    # filtered tokenization: tabs/newlines at the text edges must not
    # add phantom '' tokens to the counts (ADVICE r8)
    toks = f"coalesce({_clean_tokens_sql(text_col)}, array())"
    return (
        df.selectExpr(id_col, f"{toks} AS _toks")
        .selectExpr(id_col, f"{_TOKEN_PAIRS_SQL} AS _p")
        .selectExpr(
            id_col,
            "CAST(aggregate(_p, 0L, (a, x) -> a + x.n) AS BIGINT)"
            " AS n_tokens",
            "CAST(size(_p) AS BIGINT) AS n_types",
            "_p",
        )
        .selectExpr(
            id_col,
            "n_tokens",
            "n_types",
            "CASE WHEN n_tokens = 0 THEN CAST(NULL AS DOUBLE)"
            " ELSE round(n_types / CAST(n_tokens AS DOUBLE), 6)"
            " END AS type_token_ratio",
            "CASE WHEN n_tokens = 0 THEN CAST(NULL AS DOUBLE)"
            " ELSE round(log2(CAST(n_tokens AS DOUBLE))"
            "   - aggregate(_p, 0.0D, (a, x) ->"
            "       a + x.n * log2(CAST(x.n AS DOUBLE)))"
            "     / CAST(n_tokens AS DOUBLE), 6)"
            " END AS entropy_bits",
        )
    )


def ngram_diversity(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source corpus-level n-gram diversity: how much of a source's
    n-gram mass is unique vs recycled — the collapse/self-repetition
    detector for synthetic or scraped sources (a source whose
    distinct-trigram ratio craters is emitting the same templates over
    and over; its top-gram share names the offender's weight).

    Scale shape: the explode carries the token INDEX sequence, and the
    gram string concatenates AFTER the explode — deliberately not a
    ``transform`` building all gram strings in-row:
    ``InferFiltersFromGenerate`` derives ``size(<explode input>) > 0``
    and predicate pushdown drags that expression through the
    parallelizing exchange onto the (few-partition) scan, so whatever
    the explode input computes runs TWICE, once serialized on the scan
    partitions (measured 4.8 s → 1.6 s at sf0.1 for the in-row-grams
    form; the index sequence costs a split+size there instead of
    millions of string builds). Then ONE (source, gram)-keyed
    map-combinable aggregate and one source rollup — the exchanges
    carry combined partials, never raw text.

    Output: (source, n_ngrams, n_distinct, distinct_ratio, top_share),
    one row per source with at least one n-gram.
    """
    from obsplus_spark.util import ensure_parallelism, sql_over

    nn = int(n)
    if nn < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    toks = _lower_tokens_sql(text_col)
    return sql_over(
        {"d": ensure_parallelism(df)},
        f"""
        WITH g AS (
          SELECT {source_col} AS source,
                 concat_ws(' ', slice(_toks, i + 1, {nn})) AS gram
          FROM (SELECT {source_col}, {toks} AS _toks FROM {{d}})
          LATERAL VIEW explode(
            CASE WHEN size(_toks) < {nn} THEN array()
                 ELSE sequence(0, size(_toks) - {nn}) END) _e AS i
        ),
        c AS (
          SELECT source, gram, CAST(count(1) AS BIGINT) AS c
          FROM g GROUP BY source, gram
        )
        SELECT source,
               CAST(sum(c) AS BIGINT) AS n_ngrams,
               CAST(count(1) AS BIGINT) AS n_distinct,
               round(count(1) / CAST(sum(c) AS DOUBLE), 6)
                 AS distinct_ratio,
               round(max(c) / CAST(sum(c) AS DOUBLE), 6) AS top_share
        FROM c GROUP BY source
        """,
    )


def readability_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Flesch reading-ease per document (public formula:
    ``206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)``) —
    the readability leg of the quality stack: pretraining curation
    drops both gibberish (very low scores) and trivially-templated
    text (implausibly high), and per-source score distributions flag
    OCR damage or boilerplate.

    Syllables use the standard vowel-GROUP heuristic counted over the
    whole lowercased text in one regexp pass (``[aeiouy]+`` — a
    whitespace boundary always breaks a group, so the per-text count
    equals the sum of per-word counts without tokenizing twice);
    sentences count ``[.!?]+`` runs, floored at 1 for fragment-style
    rows so the formula stays total. MAP-ONLY — three regexp counts
    and arithmetic per row, no shuffle at any corpus size.

    Output: (id, n_words, n_sentences, n_syllables, flesch) — blank
    and NULL docs keep their row with zero counts and NULL score.
    """
    # filtered tokenization: edge tabs/newlines must not add phantom
    # '' words to the Flesch word count (ADVICE r8)
    toks = f"coalesce({_clean_tokens_sql(text_col)}, array())"
    return (
        df.selectExpr(
            id_col,
            f"CAST(size({toks}) AS BIGINT) AS n_words",
            f"CAST(greatest(coalesce(regexp_count({text_col},"
            " '[.!?]+'), 0), 1) AS BIGINT) AS n_sentences",
            f"CAST(coalesce(regexp_count(lower({text_col}),"
            " '[aeiouy]+'), 0) AS BIGINT) AS n_syllables",
        )
        .selectExpr(
            id_col,
            "n_words",
            "n_sentences",
            "n_syllables",
            "CASE WHEN n_words = 0 THEN CAST(NULL AS DOUBLE)"
            " ELSE round(206.835"
            "   - 1.015 * (n_words / CAST(n_sentences AS DOUBLE))"
            "   - 84.6 * (n_syllables / CAST(n_words AS DOUBLE)), 6)"
            " END AS flesch",
        )
    )


def prefix_template_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    k: int = 8,
    min_docs: int = 2,
    top: int = 100,
) -> DataFrame:
    """Shared-prefix template detection: cluster documents on the md5
    digest of their first ``k`` tokens and report clusters that recur.
    Boilerplate injection (cookie banners, scraper wrappers, generation
    prompts leaking into output) shows up as one prefix digest carried
    by many documents — often across SEVERAL sources, which
    per-document dedup misses when the bodies diverge after the
    template. The digest keyed on a fixed token count (not bytes) makes
    whitespace-formatting variants of the same template collide.

    Scale shape: one map pass builds the digest in-row (tokenize →
    slice → md5; docs shorter than ``k`` tokens drop — a short doc IS
    its own prefix and would cluster with every same-prefix long doc),
    ONE digest-keyed map-combined aggregate, and a distributed
    TakeOrdered for the top clusters. Nothing quadratic, no join; the
    shuffle carries ≤ one row per distinct prefix per partition.

    Output: (prefix_hash, prefix, n_docs, n_sources, total_chars,
    example_doc) for the ``top`` clusters with ``n_docs >=
    min_docs``, ordered by cluster size.
    """
    from obsplus_spark.util import sql_over

    toks = _clean_tokens_sql(text_col)
    return sql_over(
        {"d": df},
        f"""
        SELECT * FROM (
          SELECT prefix_hash,
                 min(prefix) AS prefix,
                 CAST(count(1) AS BIGINT) AS n_docs,
                 CAST(count(DISTINCT {source_col}) AS BIGINT)
                   AS n_sources,
                 CAST(sum(length({text_col})) AS BIGINT) AS total_chars,
                 min({id_col}) AS example_doc
          FROM (
            SELECT {id_col}, {source_col}, {text_col},
                   concat_ws(' ', slice(_toks, 1, {int(k)})) AS prefix,
                   md5(concat_ws(' ', slice(_toks, 1, {int(k)})))
                     AS prefix_hash
            FROM (SELECT {id_col}, {source_col}, {text_col},
                         {toks} AS _toks FROM {{d}})
            WHERE size(_toks) >= {int(k)}
          )
          GROUP BY prefix_hash
        )
        WHERE n_docs >= {int(min_docs)}
        ORDER BY n_docs DESC, prefix_hash
        LIMIT {int(top)}
        """,
    )


def zipf_slope(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    top_ranks: int = 100,
) -> DataFrame:
    """Per-source Zipf-law fit: OLS of ``ln(frequency)`` on
    ``ln(rank)`` over the source's ``top_ranks`` most frequent tokens.
    Natural language sits near slope −1 with high r²; synthetic or
    template-collapsed sources drift flat (over-uniform vocabularies)
    or cliff (a few tokens dominating), and a LOW r² flags mixed or
    corrupted shards. A standard corpus-health diagnostic next to
    :func:`ngram_diversity` (which scores gram recycling, not the
    rank-frequency shape).

    Scale shape: one (source, token) map-combined count aggregate, one
    source-keyed window for the frequency ranks (rank ties broken by
    token for engine determinism), then the closed-form OLS folds in
    ONE more map-combined aggregate over ≤ ``top_ranks`` rows per
    source. Two keyed exchanges total; nothing driver-side.

    Output: (source, n_ranks, slope, intercept, r2), 6-dp rounded;
    sources with under two ranked tokens return NULL fit columns.
    """
    from obsplus_spark.util import sql_over

    toks = _clean_tokens_sql(text_col)
    return sql_over(
        {"d": df},
        f"""
        WITH tok AS (
          SELECT {source_col} AS source, tok
          FROM (SELECT {source_col}, explode({toks}) AS tok FROM {{d}})
        ),
        c AS (
          SELECT source, tok, CAST(count(1) AS BIGINT) AS freq
          FROM tok GROUP BY source, tok
        ),
        r AS (
          SELECT * FROM (
            SELECT source,
                   row_number() OVER (PARTITION BY source
                       ORDER BY freq DESC, tok) AS rk,
                   ln(CAST(freq AS DOUBLE)) AS y
            FROM c
          ) WHERE rk <= {int(top_ranks)}
        ),
        t AS (
          SELECT source,
                 CAST(count(1) AS DOUBLE) AS n,
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
                         / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
                         6) END AS r2
        FROM t
        """,
    )


def source_language_mix(
    df: DataFrame,
    source_col: str = "source",
    lang_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Per-source language composition: document counts, language
    entropy, and the dominant language's share — the mixture
    diagnostic a multilingual curation pipeline reads before weighting
    sources (a shard whose declared language histogram is flat, or
    whose dominant share slips, is mislabeled or contaminated).

    NULL language tags fold into the ``'und'`` (undetermined) class —
    a missing tag is itself signal and must not silently vanish from
    the distribution (COUNT(DISTINCT) and grouped NULLs behave
    differently across engines; the fold makes the contract explicit).

    Scale shape: two map-combined aggregates — (source, lang) counts,
    then the per-source fold computing entropy via the
    ``log2(n) − Σ c·log2(c)/n`` identity and the dominant class via
    ``min_by`` on (−count, lang) (deterministic under count ties).
    No window, no join; shuffle volume is |sources × langs|.

    Output: (source, n_docs, total_chars, n_langs, top_lang,
    top_share, lang_entropy_bits), shares/entropy 6-dp rounded.
    """
    from obsplus_spark.util import sql_over

    return sql_over(
        {"d": df},
        f"""
        WITH c AS (
          SELECT {source_col} AS source,
                 coalesce({lang_col}, 'und') AS lang,
                 CAST(count(1) AS BIGINT) AS n,
                 CAST(sum(length(coalesce({text_col}, ''))) AS BIGINT)
                   AS chars
          FROM {{d}} GROUP BY {source_col}, coalesce({lang_col}, 'und')
        )
        SELECT source,
               CAST(sum(n) AS BIGINT) AS n_docs,
               CAST(sum(chars) AS BIGINT) AS total_chars,
               CAST(count(1) AS BIGINT) AS n_langs,
               min_by(lang, struct(-n, lang)) AS top_lang,
               round(max(n) / CAST(sum(n) AS DOUBLE), 6) AS top_share,
               round(log2(CAST(sum(n) AS DOUBLE))
                     - sum(n * log2(CAST(n AS DOUBLE)))
                       / CAST(sum(n) AS DOUBLE), 6)
                 AS lang_entropy_bits
        FROM c GROUP BY source
        """,
    )


def curation_funnel(
    df: DataFrame,
    stages: list,
) -> DataFrame:
    """Per-stage attrition report for a curation filter chain: apply
    the ordered ``stages`` (``(name, sql_predicate)`` pairs, each
    predicate a Spark-SQL boolean over the input columns) CUMULATIVELY
    and report how many rows each stage receives, keeps, and drops —
    the funnel accounting every production curation pipeline publishes
    next to its output corpus (a stage that suddenly drops 40% is a
    broken filter or an upstream drift, and per-stage numbers localize
    it; end-to-end keep-rate alone cannot).

    Scale shape: ONE map pass computes every cumulative stage flag
    in-row, ONE global map-combined aggregate folds them into per-stage
    ``count_if`` cells, and the stage rows unpivot from that single
    row — no shuffle beyond the scalar aggregate's final fold, at any
    corpus size. NULL predicate results count as drops (SQL
    three-valued logic: a NULL flag is not kept).

    Output: (stage_idx, stage, n_in, n_kept, n_dropped), one row per
    stage in chain order; ``n_in`` of stage i+1 == ``n_kept`` of
    stage i.
    """
    from obsplus_spark.util import sql_over

    if not stages:
        raise ValueError("curation_funnel needs at least one stage")
    names = [str(n) for n, _ in stages]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate stage names: {names}")
    cums, acc = [], None
    for _, pred in stages:
        acc = f"({acc}) AND ({pred})" if acc else f"({pred})"
        cums.append(acc)
    counts = ", ".join(
        f"count_if({c}) AS n{i}" for i, c in enumerate(cums)
    )
    stack_args, prev = [], "n_total"
    for i, name in enumerate(names):
        lit = name.replace("'", "''")
        stack_args += [str(i), f"'{lit}'", prev, f"n{i}"]
        prev = f"n{i}"
    stack = (
        f"stack({len(names)}, {', '.join(stack_args)})"
        " AS (stage_idx, stage, n_in, n_kept)"
    )
    return sql_over(
        {"d": df},
        f"""
        SELECT CAST(stage_idx AS BIGINT) AS stage_idx, stage,
               n_in, n_kept, n_in - n_kept AS n_dropped
        FROM (
          SELECT {stack}
          FROM (SELECT count(1) AS n_total, {counts} FROM {{d}})
        )
        """,
    )


def chunk_token_exprs(text_col: str, chunk_tokens: int) -> "tuple[str, str, str]":
    """The SHARED in-row chunking convention of ``within_doc_dedup``
    and ``dedup.chunk_dedup`` (phantom-token-filtered split, ceil
    chunk count, w-token slices): returns the ``(_toks, _nch,
    _chunks)`` expression strings so the convention lives in exactly
    one place — a tokenization fix applied here reaches both
    operators (their DuckDB twins share a parameterized generator the
    same way)."""
    w = int(chunk_tokens)
    if w < 1:
        raise ValueError(f"chunk_tokens must be >= 1, got {chunk_tokens}")
    toks = rf"filter(split(trim({text_col}), '\\s+'), x -> x != '')"
    nch = f"CAST(ceil(size(_toks) / {w}.0) AS INT)"
    chunks = (
        "CASE WHEN _nch IS NULL OR _nch <= 0"
        " THEN CAST(array() AS ARRAY<STRING>)"
        f" ELSE transform(sequence(0, _nch - 1),"
        f" i -> array_join(slice(_toks, i * {w} + 1, {w}), ' '))"
        " END"
    )
    return toks, nch, chunks


def within_doc_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 8,
) -> DataFrame:
    """WITHIN-document repeated-chunk removal — the intra-document
    counterpart of ``dedup.chunk_dedup``: split a document into
    consecutive ``chunk_tokens``-token chunks and keep only the FIRST
    occurrence of each distinct chunk inside that document, rebuilding
    the cleaned text. This is the "trim repeated boilerplate /
    navigation blocks inside one page" step of crawl curation
    (repetition beyond this is measured, not removed, by
    ``repetition_stats``).

    Scale shape: ENTIRELY map-only — the chunk array forms in-row and a
    single higher-order ``aggregate`` walks it with a seen-digest
    accumulator (O(chunks²) per row on 64-bit digests, bounded by
    document length), so the plan has ZERO exchanges at any corpus
    size. Matching is by ``xxhash64`` of the lowercased chunk (accepted
    digest argument; the oracle matches chunk strings). Tokens use the
    shared phantom-token-filtered convention.

    Output: ``(id, n_chunks, n_kept, clean_text)`` — one row per input
    document, empty/NULL text folding to ``(0, 0, '')``.

    Contract: ``id_col`` must be non-NULL — NULL-id rows are DROPPED
    (same contract as ``dedup.chunk_dedup`` and the shared oracle
    twin; a NULL id has no join identity, so per-document output rows
    are undefined for it). Still zero exchanges — the filter is
    map-side.
    """
    from obsplus_spark.util import ensure_parallelism

    toks, nch, chunks = chunk_token_exprs(text_col, chunk_tokens)
    return (
        ensure_parallelism(df)
        .where(f"{id_col} IS NOT NULL")
        .selectExpr(id_col, f"{toks} AS _toks")
        .selectExpr(id_col, f"{nch} AS _nch", "_toks")
        .selectExpr(id_col, f"{chunks} AS _chunks")
        .selectExpr(
            id_col,
            "CAST(size(_chunks) AS BIGINT) AS n_chunks",
            """aggregate(_chunks,
                 named_struct(
                     'seen', CAST(array() AS ARRAY<BIGINT>),
                     'kept', CAST(array() AS ARRAY<STRING>)),
                 (acc, c) -> CASE
                     WHEN array_contains(acc.seen, xxhash64(lower(c)))
                     THEN acc
                     ELSE named_struct(
                         'seen', array_append(acc.seen,
                                              xxhash64(lower(c))),
                         'kept', array_append(acc.kept, c)) END
               ) AS _r""",
        )
        .selectExpr(
            id_col,
            "n_chunks",
            "CAST(size(_r.kept) AS BIGINT) AS n_kept",
            "array_join(_r.kept, ' ') AS clean_text",
        )
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003 — the MOSS local fingerprinting scheme, public): hash every
    ``k``-token gram, slide a ``w``-gram window, and select each
    window's MINIMUM hash (rightmost on ties). The selected set is a
    position-robust fingerprint with the winnowing guarantee: any
    shared run of at least ``w + k − 1`` tokens shares at least one
    selected print — the partial-overlap detector between
    whole-document hashing (``doc_fingerprint``) and full n-gram sets
    (``gram_hash_array``).

    Gram hash = the shared md5-uint32 recipe over the gram STRING
    (``dedup._md5_u32_sql`` convention) — the min-SELECTION depends on
    hash VALUES, so both engines must compute identical integers
    (xxhash64 has no DuckDB twin; the md5 cost is the documented
    portability trade, as in cms_counters).

    Scale shape: gram strings, hashes, windows and the rightmost-min
    selection all form IN-ROW (O(grams·w) per row, bounded by document
    length) — the corpus-sized plan is a pure map plus one final
    explode of the per-doc print set; the DuckDB twin pays a real
    window explode instead. Tokens use the shared phantom-token-
    filtered lowercased convention. Docs shorter than ``k`` tokens
    emit nothing.

    Output: ``(id, print)`` — DISTINCT selected gram hashes per doc,
    BIGINT in [0, 2³²).
    """
    from obsplus_spark.util import ensure_parallelism

    kk, ww = int(k), int(w)
    if kk < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if ww < 1:
        raise ValueError(f"w must be >= 1, got {w}")
    toks = rf"filter(split(trim(lower({text_col})), '\\s+'), x -> x != '')"
    ng = f"(size(_toks) - {kk - 1})"
    grams = (
        f"CASE WHEN size(_toks) >= {kk} THEN"
        f" transform(sequence(1, {ng}),"
        f" i -> array_join(slice(_toks, i, {kk}), ' '))"
        " ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    # shared md5-uint32 recipe (dedup._md5_u32_sql), in-row per gram
    hashes = (
        "transform(_grams, g ->"
        " CAST(conv(substring(md5(g), 1, 8), 16, 10) AS BIGINT))"
    )
    # rightmost-min selection per window: fold 0-based gram positions
    # i..i+w-1 with <= so later equal hashes win (the winnowing tie
    # rule); Spark's bracket indexing is 0-based
    nwin = f"(size(_g) - {ww - 1})"
    if ww == 1:
        sel = "array_distinct(_g)"
    else:
        sel = (
            f"CASE WHEN size(_g) >= {ww} THEN"
            f" array_distinct(transform(sequence(0, {nwin} - 1),"
            f" i -> _g[aggregate(sequence(i + 1, i + {ww - 1}), i,"
            " (acc, j) -> CASE WHEN _g[j] <= _g[acc]"
            " THEN j ELSE acc END)]))"
            " WHEN size(_g) >= 1 THEN array_distinct(_g)"
            " ELSE CAST(array() AS ARRAY<BIGINT>) END"
        )
    return (
        ensure_parallelism(df)
        .selectExpr(id_col, f"{toks} AS _toks")
        .selectExpr(id_col, f"{grams} AS _grams")
        .selectExpr(id_col, f"{hashes} AS _g")
        .selectExpr(id_col, f"explode({sel}) AS print")
    )


def winnow_overlap(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_bucket: int = 32,
) -> DataFrame:
    """Partial-overlap candidate pairs by shared winnowing prints: the
    MOSS match step — documents sharing ≥ ``min_shared`` selected
    fingerprints copied a text run from each other (with the winnowing
    guarantee bounding what can hide). Complements whole-doc and
    near-dup detection with RUN-level reuse (quote farms, template
    plagiarism, partial scrapes).

    Scale shape: prints form map-only (:func:`winnow_fingerprints`),
    then ONE print-keyed exchange: buckets collect doc ids per print
    and expand ``i < j`` pairs in-row (the shared LSH bucket-pair
    formulation), with buckets larger than ``max_bucket`` docs DROPPED
    as stop-prints (boilerplate grams every doc shares — the quadratic
    guard, logged by count in the output contract below); the final
    pair count is one pair-keyed aggregate.

    Output: ``(id1, id2, n_shared)`` for pairs sharing ≥ ``min_shared``
    prints, both ids ascending.
    """
    from obsplus_spark.util import sql_over

    ms, mb = int(min_shared), int(max_bucket)
    if ms < 1:
        raise ValueError(f"min_shared must be >= 1, got {min_shared}")
    if mb < 2:
        raise ValueError(f"max_bucket must be >= 2, got {max_bucket}")
    prints = winnow_fingerprints(
        df, id_col=id_col, text_col=text_col, k=k, w=w
    )
    return sql_over(
        {"p": prints},
        f"""
        WITH buckets AS (
          SELECT print, sort_array(collect_list({id_col})) AS _ids
          FROM {{p}} GROUP BY print
          HAVING size(_ids) BETWEEN 2 AND {mb}
        ),
        pairs AS (
          SELECT _pair.id1, _pair.id2 FROM (
            SELECT explode(flatten(transform(_ids, (x, i) ->
              transform(slice(_ids, i + 2, size(_ids)), y ->
                named_struct('id1', x, 'id2', y))))) AS _pair
            FROM buckets
          )
        )
        SELECT id1, id2, CAST(count(1) AS BIGINT) AS n_shared
        FROM pairs GROUP BY id1, id2
        HAVING count(1) >= {ms}
        """,
    )


def script_mix(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document Unicode SCRIPT composition: the fraction of
    non-whitespace characters in Latin / Cyrillic / Greek / Han /
    Arabic script plus ASCII digits — the multilingual-corpus quality
    signal :func:`language_id`'s n-gram heuristic cannot give (it
    assumes one script family): mixed-script spam, mojibake, wrong-
    charset ingests, and transliteration artifacts all show up as
    off-profile script mixes before any language model sees the text.

    Dialect note: Spark (Java regex) spells script classes
    ``\\p{IsLatin}``; the DuckDB oracle twin (RE2) spells them
    ``\\p{Latin}`` — same Unicode script property either way. The
    whitespace class is spelled as the EXPLICIT character class
    ``[ \\t\\n\\x0B\\f\\r]`` on both sides: Java ``\\s`` includes
    U+000B (vertical tab) while RE2 ``\\s`` excludes it, so the bare
    shorthand makes the non-whitespace denominator diverge between
    engines on documents containing a VT.
    Fractions are over NON-whitespace characters, 6-dp rounded;
    an all-whitespace/empty text yields NULL fractions (0 chars);
    NULL-text rows are dropped (no character stream to profile).

    Scale shape: PURE MAP — per-row regexp counts, zero exchanges at
    any corpus size.

    Output: (id, n_chars_nows BIGINT, frac_latin, frac_cyrillic,
    frac_greek, frac_han, frac_arabic, frac_digit — DOUBLE).
    """
    from obsplus_spark.util import ensure_parallelism, sql_over

    def cnt(script: str) -> str:
        return f"regexp_count({text_col}, '\\\\p{{Is{script}}}')"

    fracs = ", ".join(
        f"round({cnt(s)} / CAST(nullif(_n, 0) AS DOUBLE), 6)"
        f" AS frac_{s.lower()}"
        for s in ("Latin", "Cyrillic", "Greek", "Han", "Arabic")
    )
    return sql_over(
        {"d": ensure_parallelism(df)},
        f"""
        SELECT {id_col}, CAST(_n AS BIGINT) AS n_chars_nows, {fracs},
               round(regexp_count({text_col}, '[0-9]')
                     / CAST(nullif(_n, 0) AS DOUBLE), 6) AS frac_digit
        FROM (
          SELECT {id_col}, {text_col},
                 length(regexp_replace({text_col},
                                       '[ \\\\t\\\\n\\\\x0B\\\\f\\\\r]',
                                       '')) AS _n
          FROM {{d}} WHERE {text_col} IS NOT NULL
        )
        """,
    )
