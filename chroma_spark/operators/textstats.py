"""Text-analysis operators: quality scoring, language-ID heuristic, token
counting, document fingerprinting.

The training-data-pipeline companions to dedup (SURVEY §7 phase 7). All
pure column expressions (no Python in the hot path) with DuckDB SQL twins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..frames import local_frame
from ..functions.text import (
    BPE_TOKEN_RE,
    md5_long,
    md5_long_sql,
    sql_lit,
    tokens,
    tokens_sql,
    word_ngrams,
    word_ngrams_sql,
)

EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")
_LANG_MARKERS = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
    "es": ("el", "los", "las", "y", "es"),
}


def _sql_set(vals) -> str:
    return ", ".join(sql_lit(v) for v in vals)


def text_stats(docs: DataFrame, text_col: str = "document", id_col: str = "id") -> DataFrame:
    """Per-doc stats: ``(id, n_tokens, n_uniq, avg_token_len, stop_ratio,
    uniq_ratio, quality)``. All ratios computed raw and rounded once."""
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    nu = F.size(F.array_distinct(toks))
    total_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
    )
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS)))
    avg_len = total_len.cast("double") / n.cast("double")
    stop_ratio = n_stop.cast("double") / n.cast("double")
    uniq_ratio = nu.cast("double") / n.cast("double")
    quality = (
        F.lit(0.4) * F.least(F.lit(1.0), n.cast("double") / F.lit(100.0))
        + F.lit(0.3) * (F.lit(1.0) - stop_ratio)
        + F.lit(0.3) * uniq_ratio
    )
    r = lambda c: F.round(c, 6) + F.lit(0.0)  # noqa: E731
    return docs.select(
        F.col(id_col).alias("id"),
        n.cast("bigint").alias("n_tokens"),
        nu.cast("bigint").alias("n_uniq"),
        r(avg_len).alias("avg_token_len"),
        r(stop_ratio).alias("stop_ratio"),
        r(uniq_ratio).alias("uniq_ratio"),
        r(quality).alias("quality"),
    )


def text_stats_sql(docs_sql: str, text_col: str = "document", id_col: str = "id") -> str:
    toks = tokens_sql(f'"{text_col}"')
    stop = _sql_set(EN_STOPWORDS)
    return f"""
SELECT id,
       CAST(n AS BIGINT) AS n_tokens,
       CAST(nu AS BIGINT) AS n_uniq,
       (round(CAST(total_len AS DOUBLE) / CAST(n AS DOUBLE), 6) + 0.0) AS avg_token_len,
       (round(CAST(n_stop AS DOUBLE) / CAST(n AS DOUBLE), 6) + 0.0) AS stop_ratio,
       (round(CAST(nu AS DOUBLE) / CAST(n AS DOUBLE), 6) + 0.0) AS uniq_ratio,
       (round(0.4 * least(1.0, CAST(n AS DOUBLE) / 100.0)
            + 0.3 * (1.0 - CAST(n_stop AS DOUBLE) / CAST(n AS DOUBLE))
            + 0.3 * CAST(nu AS DOUBLE) / CAST(n AS DOUBLE), 6) + 0.0) AS quality
FROM (
  SELECT "{id_col}" AS id,
         len(t) AS n,
         len(list_distinct(t)) AS nu,
         list_sum(list_transform(t, x -> length(x))) AS total_len,
         len(list_filter(t, x -> x IN ({stop}))) AS n_stop
  FROM (SELECT "{id_col}", {toks} AS t FROM ({docs_sql}))
)"""


def lang_id(docs: DataFrame, text_col: str = "document", id_col: str = "id") -> DataFrame:
    """Marker-stopword language guess: ``(id, pred_lang)`` — deterministic
    argmax with fixed tie-break order en > de > fr > es."""
    toks = tokens(F.col(text_col))

    def _marker_count(markers):
        # single-arg lambda: pyspark's higher-order filter dispatches on arity
        return F.size(F.filter(toks, lambda t: t.isin(*markers)))

    counts = {lang: _marker_count(markers) for lang, markers in _LANG_MARKERS.items()}
    en, de, fr, es = counts["en"], counts["de"], counts["fr"], counts["es"]
    pred = (
        F.when((en >= de) & (en >= fr) & (en >= es), "en")
        .when((de >= fr) & (de >= es), "de")
        .when(fr >= es, "fr")
        .otherwise("es")
    )
    return docs.select(F.col(id_col).alias("id"), pred.alias("pred_lang"))


def lang_id_sql(docs_sql: str, text_col: str = "document", id_col: str = "id") -> str:
    toks = tokens_sql(f'"{text_col}"')
    cnt = {
        lang: f"len(list_filter(t, x -> x IN ({_sql_set(m)})))"
        for lang, m in _LANG_MARKERS.items()
    }
    return f"""
SELECT id,
       CASE WHEN en >= de AND en >= fr AND en >= es THEN 'en'
            WHEN de >= fr AND de >= es THEN 'de'
            WHEN fr >= es THEN 'fr'
            ELSE 'es' END AS pred_lang
FROM (
  SELECT "{id_col}" AS id, {cnt['en']} AS en, {cnt['de']} AS de,
         {cnt['fr']} AS fr, {cnt['es']} AS es
  FROM (SELECT "{id_col}", {toks} AS t FROM ({docs_sql}))
)"""


def token_counts_by_group(
    docs: DataFrame, group_col: str, text_col: str = "document"
) -> DataFrame:
    """BPE-ish token counts summed per group: ``(group, total_tokens)``.

    Tokenizes like a byte-level pre-tokenizer (letter runs / digit runs /
    single punctuation) via ``regexp_extract_all`` — JVM-side, no UDF.
    """
    n = F.size(F.regexp_extract_all(F.lower(F.coalesce(F.col(text_col), F.lit(""))), F.lit(BPE_TOKEN_RE), 0))
    return (
        docs.select(F.col(group_col).alias("grp"), n.alias("n"))
        .groupBy("grp")
        .agg(F.sum("n").cast("bigint").alias("total_tokens"))
    )


def token_counts_by_group_sql(docs_sql: str, group_col: str, text_col: str = "document") -> str:
    return f"""
SELECT "{group_col}" AS grp, CAST(sum(n) AS BIGINT) AS total_tokens FROM (
  SELECT "{group_col}", len(regexp_extract_all(lower(coalesce("{text_col}", '')), {sql_lit(BPE_TOKEN_RE)})) AS n
  FROM ({docs_sql})
) GROUP BY grp"""


def fingerprints(docs: DataFrame, text_col: str = "document", id_col: str = "id") -> DataFrame:
    """Deterministic 60-bit content fingerprint per doc: ``(id, fp)``."""
    return docs.select(
        F.col(id_col).alias("id"), md5_long(F.coalesce(F.col(text_col), F.lit(""))).alias("fp")
    )


def fingerprints_sql(docs_sql: str, text_col: str = "document", id_col: str = "id") -> str:
    doc = 'coalesce("' + text_col + "\", '')"
    return f"""
SELECT "{id_col}" AS id, {md5_long_sql(doc)} AS fp
FROM ({docs_sql})"""


def redact(
    docs: DataFrame,
    pattern: str,
    replacement: str,
    text_col: str = "document",
    id_col: str = "id",
) -> DataFrame:
    """PII-style pattern redaction: ``(id, n_redacted, redacted)`` with
    every occurrence of ``pattern`` replaced by the literal
    ``replacement``. The pattern must pass the cross-engine regex dialect
    (where.validate_regex) and the replacement is literal-only — the two
    engines disagree on backreference syntax ($1 vs \\1), so group
    references are rejected rather than silently diverging. Pure column
    expressions; at 100 TB this is one scan, no shuffle."""
    from ..where import WhereError, validate_regex

    validate_regex(pattern)
    if "$" in replacement or "\\" in replacement:
        raise WhereError("redact replacement must be a literal (no group references)")
    doc = F.coalesce(F.col(text_col), F.lit(""))
    return docs.select(
        F.col(id_col).alias("id"),
        F.size(F.regexp_extract_all(doc, F.lit(pattern), F.lit(0))).alias("n_redacted"),
        F.regexp_replace(doc, pattern, replacement).alias("redacted"),
    )


def redact_sql(
    docs_sql: str,
    pattern: str,
    replacement: str,
    text_col: str = "document",
    id_col: str = "id",
) -> str:
    doc = f"coalesce(\"{text_col}\", '')"
    return f"""
SELECT "{id_col}" AS id,
       CAST(len(regexp_extract_all({doc}, {sql_lit(pattern)})) AS INT) AS n_redacted,
       regexp_replace({doc}, {sql_lit(pattern)}, {sql_lit(replacement)}, 'g') AS redacted
FROM ({docs_sql})"""


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 256,
    overlap: int = 0,
    text_col: str = "document",
    id_col: str = "id",
) -> DataFrame:
    """Split documents into fixed-size token windows with optional overlap:
    ``(id, chunk_idx, chunk, n_tokens)`` — the standard pre-embedding /
    pre-training chunking step. Stride = chunk_tokens - overlap; the final
    chunk may be short; empty/NULL documents yield no chunks.

    Pure column expressions: tokenize once, slice per window, posexplode.
    The 1->N fan-out happens inside the row's partition (no shuffle); at
    100 TB output size is input size x (1 + overlap/stride)."""
    if chunk_tokens <= 0 or not 0 <= overlap < chunk_tokens:
        raise ValueError("need chunk_tokens > 0 and 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = tokens(F.col(text_col))
    n_chunks = F.when(
        F.size(toks) > 0,
        F.floor((F.greatest(F.size(toks) - F.lit(overlap), F.lit(1)) - 1) / F.lit(stride)) + 1,
    ).otherwise(F.lit(0))
    starts = F.sequence(F.lit(0), (n_chunks - 1) * stride, F.lit(stride))
    windows = F.when(
        n_chunks > 0,
        F.transform(starts, lambda s: F.slice(toks, s + 1, chunk_tokens)),
    ).otherwise(F.array().cast("array<array<string>>"))
    return docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(windows).alias("chunk_idx", "__w"),
    ).select(
        "id",
        "chunk_idx",
        F.array_join(F.col("__w"), " ").alias("chunk"),
        F.size("__w").alias("n_tokens"),
    )


def chunk_documents_sql(
    docs_sql: str,
    chunk_tokens: int = 256,
    overlap: int = 0,
    text_col: str = "document",
    id_col: str = "id",
) -> str:
    stride = chunk_tokens - overlap
    toks = tokens_sql(f'"{text_col}"')
    return f"""
WITH __t AS (
  SELECT "{id_col}" AS id, {toks} AS toks FROM ({docs_sql})
),
__n AS (
  SELECT id, toks,
         CASE WHEN len(toks) > 0
              THEN CAST(floor((greatest(len(toks) - {overlap}, 1) - 1) / {stride}) AS BIGINT) + 1
              ELSE 0 END AS n_chunks
  FROM __t
),
__c AS (
  SELECT id, unnest(range(0, n_chunks)) AS chunk_idx, toks FROM __n
)
SELECT id, CAST(chunk_idx AS INT) AS chunk_idx,
       array_to_string(list_slice(toks, chunk_idx * {stride} + 1, chunk_idx * {stride} + {chunk_tokens}), ' ') AS chunk,
       CAST(len(list_slice(toks, chunk_idx * {stride} + 1, chunk_idx * {stride} + {chunk_tokens})) AS INT) AS n_tokens
FROM __c"""


# ---------------------------------------------------------------------------
# Repetition stats + Gopher-style quality gate (public filters from Rae et
# al. 2021 "Scaling Language Models", Appendix A — the standard pre-train
# corpus hygiene rules). Repetition works in long format (explode ->
# groupBy(id, unit)) so the shuffles are keyed by (doc, unit) — no per-doc
# quadratic expressions, no skew beyond single-document size; scale-safe at
# 100 TB. The quality gate is pure column expressions.
# ---------------------------------------------------------------------------


def _lines(text_col: str) -> F.Column:
    return F.filter(F.split(F.col(text_col), "\n"), lambda l: l != F.lit(""))


def repetition_stats(
    docs: DataFrame,
    text_col: str = "document",
    id_col: str = "id",
    top_n: int = 2,
    dup_n: int = 5,
) -> DataFrame:
    """Per-doc repetition signals:

    - ``dup_line_frac`` / ``dup_line_char_frac``: fraction of (non-empty)
      lines, and of their characters, belonging to a line that occurs more
      than once in the document.
    - ``top_ngram_char_frac``: characters covered by the single most
      frequent word ``top_n``-gram (ties: lexicographically smallest) over
      all ``top_n``-gram characters.
    - ``dup_ngram_char_frac``: characters in word ``dup_n``-grams occurring
      more than once, over all ``dup_n``-gram characters.

    Docs with no lines / too few tokens report 0.0 for that signal.
    """
    base = docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text"))

    lines = base.select("id", F.explode(_lines("__text")).alias("line"))
    lc = lines.groupBy("id", "line").agg(F.count("*").alias("c"))
    dup = F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0))
    lagg = lc.groupBy("id").agg(
        F.sum("c").alias("__n"),
        F.sum(F.col("c") * F.length("line")).alias("__tc"),
        F.sum(dup).alias("__dn"),
        F.sum(dup * F.length("line")).alias("__dc"),
    )

    def gram_agg(n: int, top: bool):
        grams = base.select(
            "id", F.explode(word_ngrams(tokens(F.col("__text")), n)).alias("g")
        )
        gc = grams.groupBy("id", "g").agg(F.count("*").alias("c"))
        total = F.sum(F.col("c") * F.length("g")).alias("__gt")
        if top:
            # top gram by (count desc, gram asc): min of (-count, gram)
            best = F.min(F.struct((-F.col("c")).alias("nc"), F.col("g").alias("g"))).alias("__b")
            agg = gc.groupBy("id").agg(total, best)
            val = (-F.col("__b.nc")).cast("double") * F.length("__b.g") / F.col("__gt")
            return agg.select("id", val.alias("__topf"))
        gdup = F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0))
        agg = gc.groupBy("id").agg(total, F.sum(gdup * F.length("g")).alias("__gd"))
        return agg.select("id", (F.col("__gd").cast("double") / F.col("__gt")).alias("__dupf"))

    r = lambda c: F.round(F.coalesce(c, F.lit(0.0)), 6) + F.lit(0.0)  # noqa: E731
    return (
        base.select("id")
        .join(lagg, "id", "left")
        .join(gram_agg(top_n, True), "id", "left")
        .join(gram_agg(dup_n, False), "id", "left")
        .select(
            "id",
            r(F.col("__dn").cast("double") / F.col("__n")).alias("dup_line_frac"),
            r(F.col("__dc").cast("double") / F.col("__tc")).alias("dup_line_char_frac"),
            r(F.col("__topf")).alias("top_ngram_char_frac"),
            r(F.col("__dupf")).alias("dup_ngram_char_frac"),
        )
    )


def repetition_stats_sql(
    docs_sql: str,
    text_col: str = "document",
    id_col: str = "id",
    top_n: int = 2,
    dup_n: int = 5,
) -> str:
    from ..functions.text import word_ngrams_sql

    toks = tokens_sql("__text")
    return f"""
WITH __base AS (
  SELECT "{id_col}" AS id, "{text_col}" AS __text FROM ({docs_sql})
),
__lines AS (
  SELECT id, unnest(list_filter(string_split(__text, chr(10)), l -> l != '')) AS line
  FROM __base
),
__lc AS (SELECT id, line, count(*) AS c FROM __lines GROUP BY id, line),
__lagg AS (
  SELECT id, sum(c) AS n, sum(c * length(line)) AS tc,
         sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dn,
         sum(CASE WHEN c > 1 THEN c * length(line) ELSE 0 END) AS dc
  FROM __lc GROUP BY id
),
__tg AS (
  SELECT id, unnest({word_ngrams_sql(toks, top_n)}) AS g FROM __base
),
__tgc AS (SELECT id, g, count(*) AS c FROM __tg GROUP BY id, g),
__tgr AS (
  SELECT id, g, c, row_number() OVER (PARTITION BY id ORDER BY c DESC, g ASC) AS rn
  FROM __tgc
),
__tga AS (
  SELECT s.id, s.gt, w.topcov
  FROM (SELECT id, sum(c * length(g)) AS gt FROM __tgc GROUP BY id) s
  JOIN (SELECT id, CAST(c AS DOUBLE) * length(g) AS topcov FROM __tgr WHERE rn = 1) w
    ON s.id = w.id
),
__dg AS (
  SELECT id, unnest({word_ngrams_sql(toks, dup_n)}) AS g FROM __base
),
__dgc AS (SELECT id, g, count(*) AS c FROM __dg GROUP BY id, g),
__dga AS (
  SELECT id, sum(c * length(g)) AS gt,
         sum(CASE WHEN c > 1 THEN c * length(g) ELSE 0 END) AS gd
  FROM __dgc GROUP BY id
)
SELECT b.id,
       (round(coalesce(CAST(l.dn AS DOUBLE) / l.n, 0.0), 6) + 0.0) AS dup_line_frac,
       (round(coalesce(CAST(l.dc AS DOUBLE) / l.tc, 0.0), 6) + 0.0) AS dup_line_char_frac,
       (round(coalesce(t.topcov / t.gt, 0.0), 6) + 0.0) AS top_ngram_char_frac,
       (round(coalesce(CAST(d.gd AS DOUBLE) / d.gt, 0.0), 6) + 0.0) AS dup_ngram_char_frac
FROM __base b
LEFT JOIN __lagg l ON b.id = l.id
LEFT JOIN __tga t ON b.id = t.id
LEFT JOIN __dga d ON b.id = d.id"""


def gopher_quality(
    docs: DataFrame,
    text_col: str = "document",
    id_col: str = "id",
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """Gopher-style quality gate (Rae et al. 2021 Appendix A rules, the
    public pre-train filter set): per-doc signals + a single ``passes``
    verdict. Pure column expressions — no shuffle, no Python.

    Signals: word count bounds, mean word length in [3, 10], symbol-to-word
    ratio (# and ... ) < 0.1, < 90% of lines bullet-led, < 30% of lines
    ellipsis-ended, > 80% of words contain an alphabetic character, and at
    least 2 distinct common stopwords present.
    """
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    nd = n.cast("double")
    mean_len = (
        F.aggregate(F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x)
        .cast("double") / nd
    )
    text = F.coalesce(F.col(text_col), F.lit(""))
    n_hash = F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))
    n_ell = (F.length(text) - F.length(F.replace(text, F.lit("..."), F.lit("")))) / F.lit(3)
    symbol_ratio = (n_hash + n_ell).cast("double") / nd
    lines = _lines(text_col)
    n_lines = F.size(lines)
    bullet_frac = (
        F.size(
            F.filter(
                lines,
                lambda l: F.trim(l).startswith("-")
                | F.trim(l).startswith("*")
                | F.trim(l).startswith("•"),
            )
        ).cast("double") / n_lines.cast("double")
    )
    ellipsis_frac = (
        F.size(F.filter(lines, lambda l: F.trim(l).endswith("..."))).cast("double")
        / n_lines.cast("double")
    )
    alpha_frac = (
        F.size(F.filter(toks, lambda t: t.rlike("[a-z]"))).cast("double") / nd
    )
    n_stop = F.size(F.array_intersect(F.array_distinct(toks), F.array(*[F.lit(s) for s in EN_STOPWORDS])))
    passes = (
        (n >= min_words)
        & (n <= max_words)
        & (mean_len >= 3.0)
        & (mean_len <= 10.0)
        & (symbol_ratio < 0.1)
        & (F.coalesce(bullet_frac, F.lit(0.0)) < 0.9)
        & (F.coalesce(ellipsis_frac, F.lit(0.0)) < 0.3)
        & (alpha_frac > 0.8)
        & (n_stop >= 2)
    )
    r = lambda c: F.round(F.coalesce(c, F.lit(0.0)), 6) + F.lit(0.0)  # noqa: E731
    return docs.select(
        F.col(id_col).alias("id"),
        n.cast("bigint").alias("n_words"),
        r(mean_len).alias("mean_word_len"),
        r(symbol_ratio).alias("symbol_ratio"),
        r(bullet_frac).alias("bullet_frac"),
        r(ellipsis_frac).alias("ellipsis_frac"),
        r(alpha_frac).alias("alpha_frac"),
        n_stop.cast("bigint").alias("n_stopwords"),
        passes.alias("passes"),
    )


def gopher_quality_sql(
    docs_sql: str,
    text_col: str = "document",
    id_col: str = "id",
    min_words: int = 50,
    max_words: int = 100_000,
) -> str:
    toks = tokens_sql(f'"{text_col}"')
    stop = _sql_set(EN_STOPWORDS)
    text = f'coalesce("{text_col}", \'\')'
    lines = f"list_filter(string_split({text}, chr(10)), l -> l != '')"
    return f"""
WITH __g AS (
  SELECT "{id_col}" AS id,
         len({toks}) AS n,
         CAST(list_sum(list_transform({toks}, t -> length(t))) AS DOUBLE)
           / len({toks}) AS mean_len,
         CAST((length({text}) - length(replace({text}, '#', '')))
              + (length({text}) - length(replace({text}, '...', ''))) / 3
              AS DOUBLE) / len({toks}) AS symbol_ratio,
         CAST(len(list_filter({lines},
              l -> starts_with(trim(l), '-') OR starts_with(trim(l), '*')
                   OR starts_with(trim(l), chr(8226)))) AS DOUBLE)
           / len({lines}) AS bullet_frac,
         CAST(len(list_filter({lines}, l -> ends_with(trim(l), '...'))) AS DOUBLE)
           / len({lines}) AS ellipsis_frac,
         CAST(len(list_filter({toks}, t -> regexp_matches(t, '[a-z]'))) AS DOUBLE)
           / len({toks}) AS alpha_frac,
         len(list_intersect(list_distinct({toks}), [{stop}])) AS n_stop
  FROM ({docs_sql})
)
SELECT id,
       CAST(n AS BIGINT) AS n_words,
       (round(coalesce(mean_len, 0.0), 6) + 0.0) AS mean_word_len,
       (round(coalesce(symbol_ratio, 0.0), 6) + 0.0) AS symbol_ratio,
       (round(coalesce(bullet_frac, 0.0), 6) + 0.0) AS bullet_frac,
       (round(coalesce(ellipsis_frac, 0.0), 6) + 0.0) AS ellipsis_frac,
       (round(coalesce(alpha_frac, 0.0), 6) + 0.0) AS alpha_frac,
       CAST(n_stop AS BIGINT) AS n_stopwords,
       (n >= {min_words} AND n <= {max_words}
        AND mean_len >= 3.0 AND mean_len <= 10.0
        AND symbol_ratio < 0.1
        AND coalesce(bullet_frac, 0.0) < 0.9
        AND coalesce(ellipsis_frac, 0.0) < 0.3
        AND alpha_frac > 0.8 AND n_stop >= 2) AS passes
FROM __g"""


def ngram_topk(
    docs: DataFrame,
    n: int = 3,
    k: int = 50,
    text_col: str = "document",
    id_col: str = "id",
) -> DataFrame:
    """Corpus-level n-gram heavy hitters: the ``k`` most frequent word
    n-grams, with total occurrence count and document frequency.

    The standard corpus-analysis pass before boilerplate stripping /
    dup-ngram filtering: the head of this list is what repetition filters
    should be tuned against. One shuffle on the n-gram key with map-side
    partial aggregation; the global top-k is a ``TakeOrdered`` over the
    already-aggregated (distinct-ngram-sized) frame, so the full corpus is
    scanned once and never re-sorted. Ordering is total
    (count desc, doc_freq desc, ngram asc) so the cut is deterministic
    across engines and cluster layouts."""
    grams = docs.select(
        F.col(id_col).alias("__id"),
        F.explode(word_ngrams(tokens(F.col(text_col)), n)).alias("ngram"),
    )
    agg = grams.groupBy("ngram").agg(
        F.count("*").alias("cnt"),
        F.count_distinct("__id").alias("doc_freq"),
    )
    return agg.orderBy(F.col("cnt").desc(), F.col("doc_freq").desc(), F.col("ngram")).limit(k)


def ngram_topk_sql(
    docs_sql: str,
    n: int = 3,
    k: int = 50,
    text_col: str = "document",
    id_col: str = "id",
) -> str:
    toks = tokens_sql(text_col)
    return f"""
WITH __t AS (
  SELECT {id_col} AS __id, unnest({word_ngrams_sql(toks, n)}) AS ngram
  FROM ({docs_sql})
)
SELECT ngram,
       CAST(count(*) AS BIGINT) AS cnt,
       CAST(count(DISTINCT __id) AS BIGINT) AS doc_freq
FROM __t
GROUP BY ngram
ORDER BY cnt DESC, doc_freq DESC, ngram
LIMIT {int(k)}"""


def curate(
    docs: DataFrame,
    min_words: int = 10,
    dedup_prefix_chars: int = 40,
    sample_rate: float = 1.0,
    salt: str = "curate",
    text_col: str = "document",
    id_col: str = "id",
) -> DataFrame:
    """End-to-end curation pipeline over a document table — the composed
    form of the individual gates a pre-training pipeline chains:

    1. Gopher quality gate (:func:`gopher_quality` ``passes``),
    2. exact near-dup removal on the md5 of the first
       ``dedup_prefix_chars`` characters, keeping the lowest id
       (deterministic keep-first),
    3. deterministic md5-threshold sampling at ``sample_rate``.

    Returns the surviving ``(id, text)`` rows. Every stage is a pure
    column expression or a single keyed shuffle (the dedup window on the
    prefix hash); the whole pipeline is one Spark job with no driver-side
    state, and the same rows fall out of the SQL twin on any engine."""
    from pyspark.sql import Window

    from .sampling import hash_sample

    q = gopher_quality(docs, text_col, id_col, min_words=min_words)
    kept = docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("document")).join(
        q.filter(F.col("passes")).select(F.col(id_col).alias("id")), "id", "semi"
    )
    key = F.md5(F.substring(F.col("document"), 1, dedup_prefix_chars))
    w = Window.partitionBy(key).orderBy(F.col("id").asc())
    kept = (
        kept.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    if sample_rate < 1.0:
        kept = hash_sample(kept, rate=sample_rate, id_col="id", salt=salt)
    return kept


def curate_sql(
    docs_sql: str,
    min_words: int = 10,
    dedup_prefix_chars: int = 40,
    sample_rate: float = 1.0,
    salt: str = "curate",
    text_col: str = "document",
    id_col: str = "id",
) -> str:
    from .sampling import hash_sample_sql

    gate = gopher_quality_sql(docs_sql, text_col, id_col, min_words=min_words)
    deduped = f"""
WITH __kept AS (
  SELECT d."{id_col}" AS id, d."{text_col}" AS document
  FROM ({docs_sql}) d
  JOIN ({gate}) g ON d."{id_col}" = g.{id_col} AND g.passes
),
__rn AS (
  SELECT id, document,
         row_number() OVER (
           PARTITION BY md5(substr(document, 1, {int(dedup_prefix_chars)}))
           ORDER BY id ASC
         ) AS __rn
  FROM __kept
)
SELECT id, document FROM __rn WHERE __rn = 1"""
    if sample_rate < 1.0:
        return hash_sample_sql(deduped, rate=sample_rate, id_col="id", salt=salt)
    return deduped


def token_entropy(docs: DataFrame, text_col: str = "document", id_col: str = "id") -> DataFrame:
    """Per-doc Shannon entropy of the token distribution: ``(id, n_tokens,
    entropy)`` — the classic gibberish/boilerplate signal (low entropy =
    repetitive or templated text, used alongside the Gopher gates).

    Scale shape: pure per-row array expressions — token counting happens
    INSIDE the row via higher-order functions (no explode, no shuffle, no
    UDF), so the operator is a map over the corpus regardless of size.
    """
    toks = tokens(F.col(text_col))
    n = F.size(toks).cast("double")
    counts = F.transform(
        F.array_distinct(toks), lambda d: F.size(F.filter(toks, lambda t: t == d))
    )
    ent = F.aggregate(
        counts,
        F.lit(0.0),
        lambda acc, c: acc - (c.cast("double") / n) * F.log2(c.cast("double") / n),
    )
    return docs.select(
        F.col(id_col).alias("id"),
        n.cast("bigint").alias("n_tokens"),
        (F.round(ent, 6) + F.lit(0.0)).alias("entropy"),
    )


def token_entropy_sql(docs_sql: str, text_col: str = "document", id_col: str = "id") -> str:
    toks = tokens_sql(f'"{text_col}"')
    return f"""
SELECT id,
       CAST(n AS BIGINT) AS n_tokens,
       (round(coalesce(list_sum(list_transform(counts,
              c -> -(CAST(c AS DOUBLE) / n) * log2(CAST(c AS DOUBLE) / n))), 0.0), 6)
        + 0.0) AS entropy
FROM (
  SELECT id, CAST(len(t) AS DOUBLE) AS n,
         list_transform(list_distinct(t), d -> len(list_filter(t, x -> x = d))) AS counts
  FROM (SELECT "{id_col}" AS id, {toks} AS t FROM ({docs_sql}))
)"""


def pack_sequences(
    docs: DataFrame,
    budget: int,
    text_col: str = "document",
    id_col: str = "id",
    n_tokens_col: str | None = None,
) -> DataFrame:
    """Concatenate-and-chunk sequence packing: lay every document's tokens
    end to end in ``id`` order and cut fixed ``budget``-token training
    sequences — ``(id, n_tokens, seq_id, seq_offset)`` says which sequence
    each document starts in and at which offset (documents span cuts,
    exactly like LLM pretraining packing).

    ``n_tokens_col`` packs by a caller-supplied per-doc length column
    instead of the whitespace token count — e.g. BPE counts from
    ``operators.bpe.bpe_token_counts`` for tokenizer-true budgets.

    Scale shape: the global prefix sum is TWO-PHASE — range-repartition by
    id, a per-partition running sum (window partitioned by the physical
    partition, fully parallel), plus one partition-count-sized collect of
    per-partition totals broadcast back as starting offsets. No
    single-partition global window at any size.
    """
    from pyspark.sql import Window

    spark = docs.sparkSession
    # EXPLICIT partition count: the per-partition totals job and the output
    # job must see the IDENTICAL range partitioning (the __pid -> offset
    # carry is keyed on it); a user-specified N pins it — AQE only
    # coalesces repartitions without one — and range sampling is
    # deterministically seeded, so both jobs agree
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    length = (
        F.col(n_tokens_col) if n_tokens_col is not None else F.size(tokens(F.col(text_col)))
    )
    # FREEZE the range partitioning before deriving both jobs from it: the
    # per-partition totals collect and the output window must see the
    # IDENTICAL boundaries, but repartitionByRange SAMPLES its boundaries
    # per execution — on multi-file inputs two executions can split ids
    # differently, which silently mis-carries every offset after the first
    # divergent boundary (caught by the 1M pack_materialize conservation
    # check; single-file toy inputs never trip it). The checkpoint
    # materializes a narrow (id, n_tokens) frame — 16 bytes/doc — so both
    # jobs read the same frozen partitions.
    df = (
        docs.select(F.col(id_col).alias("id"), length.cast("long").alias("n_tokens"))
        .repartitionByRange(n_parts, F.col("id"))
        .sortWithinPartitions("id")
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    # bounded collect: one row per partition (the distributed-prefix-sum
    # carry), never data rows
    totals = {
        int(r["__pid"]): int(r["t"])
        for r in df.groupBy("__pid").agg(F.sum("n_tokens").alias("t")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += totals[pid]
    off_df = local_frame(
        spark, [(pid, off) for pid, off in offsets.items()], "__pid INT, __off LONG"
    )
    w = Window.partitionBy("__pid").orderBy("id")
    cum_before = (F.col("__off") + F.sum("n_tokens").over(w) - F.col("n_tokens")).alias(
        "__cb"
    )
    out = df.join(F.broadcast(off_df), "__pid").select("id", "n_tokens", cum_before)
    return out.select(
        "id",
        "n_tokens",
        F.expr(f"__cb DIV {int(budget)}").cast("bigint").alias("seq_id"),
        (F.col("__cb") % F.lit(int(budget))).cast("bigint").alias("seq_offset"),
    )


def pack_sequences_sql(
    docs_sql: str,
    budget: int,
    text_col: str = "document",
    id_col: str = "id",
    n_tokens_sql: str | None = None,
) -> str:
    toks = tokens_sql('"' + text_col + '"')
    length = n_tokens_sql if n_tokens_sql is not None else f"len({toks})"
    return f"""
WITH __t AS (
  SELECT "{id_col}" AS id, CAST({length} AS BIGINT) AS n_tokens FROM ({docs_sql})
),
__c AS (
  SELECT id, n_tokens,
         coalesce(sum(n_tokens) OVER (
           ORDER BY id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
  FROM __t
)
SELECT id, n_tokens,
       CAST(cb // {int(budget)} AS BIGINT) AS seq_id,
       CAST(cb % {int(budget)} AS BIGINT) AS seq_offset
FROM __c"""


def c4_filter(
    docs: DataFrame,
    min_line_words: int = 5,
    min_lines: int = 3,
    text_col: str = "document",
    id_col: str = "id",
) -> DataFrame:
    """C4-style line + page cleaning (Raffel et al. 2020, "Exploring the
    Limits of Transfer Learning...", section 2.2 — the public heuristics
    behind the C4 corpus), as one pure-column-expression pass:

    line level (within each document, no shuffle at all):
      - keep only lines ending in terminal punctuation (. ! ? or a
        closing quotation mark),
      - with at least ``min_line_words`` whitespace words,
      - not mentioning "javascript" (case-insensitive);
    page level:
      - ``passes`` is false when fewer than ``min_lines`` lines survive
        (the "at least 3 sentences" rule, line-approximated), or the page
        contains "lorem ipsum" (case-insensitive) or a ``{`` (code).

    Returns ``(id, n_lines, n_kept_lines, kept_frac, passes, clean_text)``
    with ``clean_text`` the surviving lines re-joined by newlines. Runs as
    a single projection over the scan — the cheapest possible shape; pair
    with :func:`gopher_quality` and the dedup passes via :func:`curate`.
    """

    def _keep(l):
        lt = F.rtrim(l)
        nwords = F.size(F.filter(F.split(lt, r"\s+"), lambda t: t != ""))
        return (
            F.substring(lt, -1, 1).isin(".", "!", "?", '"', "'")
            & (nwords >= F.lit(int(min_line_words)))
            & ~F.lower(l).contains("javascript")
        )

    lines = _lines(text_col)
    kept = F.filter(lines, _keep)
    n_lines = F.size(lines)
    n_kept = F.size(kept)
    bad_page = F.lower(F.col(text_col)).contains("lorem ipsum") | F.col(
        text_col
    ).contains("{")
    return docs.select(
        F.col(id_col).alias("id"),
        n_lines.cast("long").alias("n_lines"),
        n_kept.cast("long").alias("n_kept_lines"),
        (
            F.round(F.when(n_lines > 0, n_kept / n_lines).otherwise(F.lit(0.0)), 6)
            + F.lit(0.0)
        ).alias("kept_frac"),
        (~bad_page & (n_kept >= F.lit(int(min_lines)))).alias("passes"),
        F.concat_ws("\n", kept).alias("clean_text"),
    )


def c4_filter_sql(
    docs_sql: str,
    min_line_words: int = 5,
    min_lines: int = 3,
    text_col: str = "document",
    id_col: str = "id",
) -> str:
    keep = (
        "right(rtrim(l), 1) IN ('.', '!', '?', '\"', '''')"
        f" AND len(list_filter(string_split_regex(rtrim(l), '\\s+'), t -> t != ''))"
        f" >= {int(min_line_words)}"
        " AND NOT contains(lower(l), 'javascript')"
    )
    return f"""
WITH __t AS (
  SELECT "{id_col}" AS id, "{text_col}" AS text,
         list_filter(string_split(\"{text_col}\", chr(10)), l -> l != '') AS lines
  FROM ({docs_sql})
),
__k AS (
  SELECT id, text, lines, list_filter(lines, l -> {keep}) AS kept FROM __t
)
SELECT id,
       CAST(len(lines) AS BIGINT) AS n_lines,
       CAST(len(kept) AS BIGINT) AS n_kept_lines,
       (round(CASE WHEN len(lines) > 0
                   THEN CAST(len(kept) AS DOUBLE) / len(lines)
                   ELSE 0.0 END, 6) + 0.0) AS kept_frac,
       (NOT (contains(lower(text), 'lorem ipsum') OR contains(text, '{{'))
        AND len(kept) >= {int(min_lines)}) AS passes,
       coalesce(array_to_string(kept, chr(10)), '') AS clean_text
FROM __k"""


def pack_materialize(
    docs: DataFrame,
    budget: int,
    text_col: str = "document",
    id_col: str = "id",
) -> DataFrame:
    """Materialize the packed training sequences themselves:
    ``(seq_id, seq_len, seq_text)`` — every document's tokens laid end to
    end in ``id`` order and re-bucketed into fixed ``budget``-token
    sequences, documents spanning cuts (the step after
    :func:`pack_sequences` assigns offsets; this one emits the actual
    sequences a trainer would read). The final sequence is the only one
    shorter than ``budget``.

    Scale shape: one posexplode (corpus-sized, 1->n_tokens fan-out), a
    broadcast join against the doc-offset frame from the two-phase prefix
    sum, and ONE shuffle keyed by ``seq_id`` (uniform by construction —
    every sequence holds exactly ``budget`` tokens). The within-sequence
    order rebuild is an array_sort over ``budget``-sized groups.
    """
    offsets = pack_sequences(docs, budget, text_col=text_col, id_col=id_col).select(
        "id", (F.col("seq_id") * budget + F.col("seq_offset")).alias("__start")
    )
    toked = docs.select(
        F.col(id_col).alias("id"), F.posexplode(tokens(F.col(text_col))).alias("pos", "tok")
    )
    placed = toked.join(offsets, "id").select(
        "tok",
        (F.col("__start") + F.col("pos")).alias("__gpos"),
    )
    return (
        placed.groupBy(F.expr(f"__gpos DIV {int(budget)}").cast("bigint").alias("seq_id"))
        .agg(
            F.count("*").cast("long").alias("seq_len"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct(F.col("__gpos"), F.col("tok")))),
                    lambda x: x.tok,
                ),
            ).alias("seq_text"),
        )
    )


def pack_materialize_sql(
    docs_sql: str, budget: int, text_col: str = "document", id_col: str = "id"
) -> str:
    pack = pack_sequences_sql(docs_sql, budget, text_col=text_col, id_col=id_col)
    toks = tokens_sql(f'"{text_col}"')
    return f"""
WITH __pack AS ({pack}),
__off AS (SELECT id, (seq_id * {int(budget)} + seq_offset) AS __start FROM __pack),
__tok AS (
  SELECT id, pos, toks[pos + 1] AS tok FROM (
    SELECT "{id_col}" AS id, toks, unnest(range(0, len(toks))) AS pos
    FROM (SELECT "{id_col}", {toks} AS toks FROM ({docs_sql}))
  )
),
__placed AS (
  SELECT t.tok, (o.__start + t.pos) AS gpos
  FROM __tok t JOIN __off o ON t.id = o.id
)
SELECT CAST(gpos // {int(budget)} AS BIGINT) AS seq_id,
       CAST(count(*) AS BIGINT) AS seq_len,
       array_to_string(list(tok ORDER BY gpos), ' ') AS seq_text
FROM __placed GROUP BY seq_id"""


# regex pipeline shared (textually) by both engines; Java and RE2 agree on
# these constructs (inline (?is), non-greedy .*?, [^>] classes)
_HTML_STRIP_STEPS = [
    (r"(?is)<script\b[^>]*>.*?</script>", " "),
    (r"(?is)<style\b[^>]*>.*?</style>", " "),
    (r"(?s)<!--.*?-->", " "),
    (r"(?s)<[^>]+>", " "),
]
_HTML_ENTITIES = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),  # last, so "&amp;lt;" decodes to "&lt;" not "<"
]


def html_to_text(
    docs: DataFrame, html_col: str = "document", id_col: str = "id"
) -> DataFrame:
    """Extract visible text from HTML markup — the first step of every
    web-scrape training pipeline (the trafilatura/justext stage in C4 /
    RefinedWeb, heuristic-regex grade): drop ``<script>``/``<style>``
    payloads and comments, strip remaining tags, decode the common
    entities, collapse whitespace. Returns ``(id, clean_text, n_chars)``.

    Pure column expressions — one projection over the scan, no shuffle, no
    UDF; at 100 TB this runs at parquet-scan speed. Real codec-grade
    extraction (DOM parsing, boilerplate classification) belongs in a
    ``mapInPandas`` stage like the multimodal decoders; this is the
    always-available vectorized tier.
    """
    s = F.coalesce(F.col(html_col), F.lit(""))
    for pat, repl in _HTML_STRIP_STEPS:
        s = F.regexp_replace(s, pat, repl)
    for ent, ch in _HTML_ENTITIES:
        s = F.replace(s, F.lit(ent), F.lit(ch))
    s = F.trim(F.regexp_replace(s, r"\s+", " "))
    return docs.select(
        F.col(id_col).alias("id"),
        s.alias("clean_text"),
        F.length(s).cast("long").alias("n_chars"),
    )


def html_to_text_sql(docs_sql: str, html_col: str = "document", id_col: str = "id") -> str:
    s = f'coalesce("{html_col}", \'\')'
    for pat, repl in _HTML_STRIP_STEPS:
        s = f"regexp_replace({s}, {sql_lit(pat)}, {sql_lit(repl)}, 'g')"
    for ent, ch in _HTML_ENTITIES:
        s = f"replace({s}, {sql_lit(ent)}, {sql_lit(ch)})"
    s = f"trim(regexp_replace({s}, '\\s+', ' ', 'g'))"
    return (
        f'SELECT "{id_col}" AS id, {s} AS clean_text, '
        f'CAST(length({s}) AS BIGINT) AS n_chars FROM ({docs_sql})'
    )


def _q_name(p: float) -> str:
    s = ("%g" % (float(p) * 100)).replace(".", "_")
    return f"p{s}"


def length_quantiles(
    docs: DataFrame,
    probs: tuple[float, ...] = (0.25, 0.5, 0.75, 0.9, 0.99),
    group_col: str | None = None,
    text_col: str = "document",
    measure: str = "chars",
) -> DataFrame:
    """Exact length quantiles per group — the sequence-length planning stat
    behind packing budgets and truncation policies (what fraction of docs
    fit 2k/8k context, per source). ``measure``: 'chars' (bytes-ish) or
    'tokens' (whitespace).

    EXACT percentiles (Spark ``percentile``, sort-based partial aggregate)
    rather than ``approx_percentile``: the GK sketch's merge is
    layout-dependent and engine-internal, so only the exact form is
    reproducible and oracle-checkable. Cost at 100 TB: one shuffle of ONE
    long per doc keyed by group — a stats query, not a hot path; swap in
    approx_percentile when 0.1% error is fine and the group count is huge.
    """
    if measure == "chars":
        m = F.length(F.coalesce(F.col(text_col), F.lit("")))
    elif measure == "tokens":
        m = F.size(tokens(F.col(text_col)))
    else:
        raise ValueError("measure must be 'chars' or 'tokens'")
    groups = [group_col] if group_col else []
    aggs = [F.count("*").cast("long").alias("n_docs")] + [
        (F.round(F.percentile("__m", F.lit(float(p))), 6) + F.lit(0.0)).alias(_q_name(p))
        for p in probs
    ]
    return docs.select(*groups, m.cast("double").alias("__m")).groupBy(*groups).agg(*aggs)


def length_quantiles_sql(
    docs_sql: str,
    probs: tuple[float, ...] = (0.25, 0.5, 0.75, 0.9, 0.99),
    group_col: str | None = None,
    text_col: str = "document",
    measure: str = "chars",
) -> str:
    if measure == "chars":
        m = f'length(coalesce("{text_col}", \'\'))'
    else:
        m = "len({})".format(tokens_sql(f'"{text_col}"'))
    qs = ", ".join(
        f"(round(quantile_cont(__m, {float(p)}), 6) + 0.0) AS {_q_name(p)}" for p in probs
    )
    g = f'"{group_col}", ' if group_col else ""
    gb = f'GROUP BY "{group_col}"' if group_col else ""
    return (
        f"SELECT {g}CAST(count(*) AS BIGINT) AS n_docs, {qs} "
        f'FROM (SELECT {g}CAST({m} AS DOUBLE) AS __m FROM ({docs_sql})) {gb}'
    )


def corpus_report(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "document",
    kmv_k: int = 128,
) -> DataFrame:
    """Dataset-card report: one long-format row ``(group, stat, value)``
    per statistic per source — the summary block of a HF/Dolma-style data
    card, composed from the engine's own primitives in ONE oracle-checked
    query. Stats: ``n_docs``, ``total_tokens``, ``p50_tokens``,
    ``p95_tokens``, ``mean_chars``, ``empty_frac`` (token-less docs), and
    ``distinct_3grams_est`` (KMV sketch — exact below k).

    Scale shape: one groupBy over per-row column math for the moment
    stats (map-side combined), one exact-percentile aggregate (narrow,
    one long per doc), and the KMV bottom-k for the distinct estimate —
    no corpus-sized collect anywhere; the long format keeps the output
    ``groups x stats`` rows regardless of corpus size."""
    from .sketch import kmv_distinct

    g = F.col(group_col).alias("grp")
    n_tok = F.size(tokens(F.coalesce(F.col(text_col), F.lit(""))))
    chars = F.length(F.coalesce(F.col(text_col), F.lit("")))
    base = docs.select(g, n_tok.alias("__t"), chars.alias("__c"))
    agg = base.groupBy("grp").agg(
        F.count("*").cast("double").alias("n_docs"),
        F.sum("__t").cast("double").alias("total_tokens"),
        F.percentile("__t", F.lit(0.5)).alias("p50_tokens"),
        F.percentile("__t", F.lit(0.95)).alias("p95_tokens"),
        F.avg("__c").alias("mean_chars"),
        F.avg((F.col("__t") == 0).cast("double")).alias("empty_frac"),
    )
    stats = ["n_docs", "total_tokens", "p50_tokens", "p95_tokens", "mean_chars", "empty_frac"]
    long = None
    for s in stats:
        part = agg.select(
            "grp", F.lit(s).alias("stat"),
            (F.round(F.col(s), 6) + F.lit(0.0)).alias("value"),
        )
        long = part if long is None else long.unionByName(part)
    grams = docs.select(
        g, F.explode(word_ngrams(tokens(F.coalesce(F.col(text_col), F.lit(""))), 3)).alias("__ng")
    )
    kmv = kmv_distinct(grams, F.col("__ng"), k=kmv_k, group_cols=["grp"]).select(
        "grp", F.lit("distinct_3grams_est").alias("stat"),
        (F.round(F.col("est_distinct"), 6) + F.lit(0.0)).alias("value"),
    )
    return long.unionByName(kmv).select(F.col("grp").alias(group_col), "stat", "value")


def corpus_report_sql(
    docs_sql: str,
    group_col: str = "source",
    text_col: str = "document",
    kmv_k: int = 128,
) -> str:
    from .sketch import kmv_distinct_sql

    toks = tokens_sql(f'coalesce("{text_col}", \'\')')
    base = (
        f'SELECT "{group_col}" AS grp, len({toks}) AS __t, '
        f'length(coalesce("{text_col}", \'\')) AS __c FROM ({docs_sql})'
    )
    agg = f"""
SELECT grp,
       CAST(count(*) AS DOUBLE) AS n_docs,
       CAST(sum(__t) AS DOUBLE) AS total_tokens,
       quantile_cont(__t, 0.5) AS p50_tokens,
       quantile_cont(__t, 0.95) AS p95_tokens,
       avg(__c) AS mean_chars,
       avg(CASE WHEN __t = 0 THEN 1.0 ELSE 0.0 END) AS empty_frac
FROM ({base}) GROUP BY grp"""
    stats = ["n_docs", "total_tokens", "p50_tokens", "p95_tokens", "mean_chars", "empty_frac"]
    parts = [
        f"SELECT grp, '{s}' AS stat, (round({s}, 6) + 0.0) AS value FROM __agg"
        for s in stats
    ]
    grams = (
        f'SELECT "{group_col}" AS grp, unnest({word_ngrams_sql(toks, 3)}) AS ng '
        f"FROM ({docs_sql})"
    )
    kmv = kmv_distinct_sql(grams, "ng", k=kmv_k, group_cols=["grp"])
    parts.append(
        "SELECT grp, 'distinct_3grams_est' AS stat, (round(est_distinct, 6) + 0.0) AS value "
        f"FROM ({kmv})"
    )
    union = " UNION ALL ".join(f"({p})" for p in parts)
    return (
        f'WITH __agg AS ({agg}) SELECT grp AS "{group_col}", stat, value FROM ({union})'
    )
