"""Text analysis operators over the ``documents`` table (SURVEY §2.L3).

Training-data-pipeline text ops, each a generalization of the reference's
token machinery (B4, concerts_etl/core/consolidate_events.py:40-59):

- token counting (whitespace tokenization; n_tokens / n_distinct / avg len)
- quality scoring (length, stopword ratio, repetition ratio)
- language ID (marker-word n-gram heuristic, argmax over languages)
- document fingerprinting (content hash + min-shingle-hash winnowing)

All pure scalar/array projections — JVM builtins, zero shuffles except the
final ordering; linear scans at 100 TB. Every op has a DuckDB-oracle twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import load_table

# tiny per-language marker lists (the lang-ID heuristic; deterministic)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "with", "fast", "slow", "small", "big"],
    "fr": ["le", "la", "les", "et", "avec", "vite"],
    "de": ["der", "die", "das", "und", "mit", "schnell"],
    "es": ["el", "los", "las", "con", "rapido"],
}

STOP_EN = ["the", "a", "an", "and", "of", "to", "in", "on", "with"]


def _tokens(c):
    return F.filter(F.split(F.lower(c), r"\s+"), lambda t: t != "")


def _tokens_sql(e: str) -> str:
    return f"list_filter(string_split_regex(lower({e}), '\\s+'), t -> t <> '')"


def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts (whitespace + length stats). Staged
    tokenize — see ``text_suite``."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", _tokens(F.col("text")).alias("toks")
    )
    toks = F.col("toks")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.length("text").alias("n_chars_computed"),
        F.round(
            F.aggregate(
                toks, F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t)
            ).cast("double")
            / F.greatest(F.size(toks), F.lit(1)),
            6,
        ).alias("avg_token_len"),
    )


TOKEN_STATS_SQL = f"""
SELECT doc_id,
  len(toks) AS n_tokens,
  len(list_distinct(toks)) AS n_distinct,
  len(text) AS n_chars_computed,
  round(CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE)
        / greatest(len(toks), 1), 6) AS avg_token_len
FROM (SELECT doc_id, text, {_tokens_sql('text')} AS toks FROM documents)
"""


def quality_cols(text=None, toks=None) -> dict[str, "F.Column"]:
    """Column builders for the quality heuristic — shared by the oracle
    query and the corpus-curation plan (one source of truth for the
    formula). Pass ``toks`` (a materialized token-array column) when the
    caller stages tokenization — see ``text_suite`` for why."""
    text = F.col("text") if text is None else text
    toks = _tokens(text) if toks is None else toks
    stops = F.array(*[F.lit(w) for w in STOP_EN])
    n = F.greatest(F.size(toks), F.lit(1))
    uniq_ratio = F.size(F.array_distinct(toks)).cast("double") / n
    stop_hits = F.size(F.filter(toks, lambda t: F.array_contains(stops, t)))
    stop_ratio = stop_hits.cast("double") / n
    length_ok = F.when(
        (F.length(text) >= 50) & (F.length(text) <= 5000), 1.0
    ).otherwise(0.0)
    stop_presence = F.when(
        (stop_ratio > 0.01) & (stop_ratio < 0.6), 1.0
    ).otherwise(0.0)
    return {
        "uniq_ratio": F.round(uniq_ratio, 6),
        "stop_ratio": F.round(stop_ratio, 6),
        "quality": F.round(
            0.4 * uniq_ratio + 0.3 * stop_presence + 0.3 * length_ok, 6
        ),
    }


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality: repetition ratio + stopword ratio + length band.

    score = 0.4*uniq_ratio + 0.3*stop_presence + 0.3*length_ok — the shape
    of a C4/Gopher-style rule filter, deterministic and oracle-checkable.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", _tokens(F.col("text")).alias("toks")
    )
    qc = quality_cols(toks=F.col("toks"))
    return d.select(
        "doc_id", *[c.alias(name) for name, c in qc.items()]
    )


_STOPS_SQL = "[" + ", ".join(f"'{w}'" for w in STOP_EN) + "]"

QUALITY_SCORE_SQL = f"""
SELECT doc_id,
  round(uniq_ratio, 6) AS uniq_ratio,
  round(stop_ratio, 6) AS stop_ratio,
  round(0.4 * uniq_ratio
        + 0.3 * (CASE WHEN stop_ratio > 0.01 AND stop_ratio < 0.6
                 THEN 1.0 ELSE 0.0 END)
        + 0.3 * (CASE WHEN len(text) >= 50 AND len(text) <= 5000
                 THEN 1.0 ELSE 0.0 END), 6) AS quality
FROM (
  SELECT doc_id, text,
    CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1) AS uniq_ratio,
    CAST(len(list_filter(toks, t -> list_contains({_STOPS_SQL}, t))) AS DOUBLE)
      / greatest(len(toks), 1) AS stop_ratio
  FROM (SELECT doc_id, text, {_tokens_sql('text')} AS toks FROM documents)
)
"""


N_DECILES = 10
_DECILE_PS = [round(i / N_DECILES, 1) for i in range(1, N_DECILES)]


def quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality DECILE assignment (doc_id, quality, decile) —
    the binning a curation pipeline sweeps thresholds over (keep top-k
    deciles) or feeds to curriculum schedules.

    Two passes: (1) the nine decile thresholds as ONE exact-percentile
    aggregate row, broadcast; (2) a scalar scoring pass binning each doc
    by counting thresholds strictly below its quality. The exact
    ``percentile`` is a sort-based global aggregate — correct for the
    oracle contract; at 100 TB swap in ``approx_percentile`` (same
    1-row shape, same downstream binning) and document the epsilon.
    Thresholds AND quality are rounded to 6 dp before comparison so the
    Spark and DuckDB binning decisions agree bit-for-bit (quantile_cont
    and percentile share the linear-interpolation definition)."""
    from ._cachescope import begin_scope, scoped_persist

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", _tokens(F.col("text")).alias("toks")
    )
    # persisted: the threshold aggregate and the scoring pass both read
    # the scored frame; without it the tokenize+quality projection (the
    # CPU-heavy stage) runs twice
    begin_scope("quality_deciles")
    q = scoped_persist(
        "quality_deciles",
        d.select(
            "doc_id",
            quality_cols(toks=F.col("toks"))["quality"].alias("quality"),
        ),
    )
    ps = ", ".join(f"{p}D" for p in _DECILE_PS)
    ths = q.agg(
        F.expr(
            f"transform(percentile(quality, array({ps})), t -> round(t, 6))"
        ).alias("ths")
    )
    return (
        q.crossJoin(F.broadcast(ths))
        .select(
            "doc_id",
            "quality",
            (
                F.expr(
                    "aggregate(ths, 0, (acc, t) -> acc + "
                    "CASE WHEN quality > t THEN 1 ELSE 0 END)"
                )
                + F.lit(1)
            ).alias("decile"),
        )
    )


QUALITY_DECILES_SQL = f"""
WITH q AS (
  SELECT doc_id, quality FROM ({QUALITY_SCORE_SQL})
),
ths AS (
  SELECT list_transform(
           quantile_cont(quality, [{', '.join(str(p) for p in _DECILE_PS)}]),
           t -> round(t, 6)) AS ths
  FROM q
)
SELECT q.doc_id, q.quality,
       len(list_filter(ths.ths, t -> q.quality > t)) + 1 AS decile
FROM q CROSS JOIN ths
ORDER BY q.doc_id
"""


def lang_cols(text=None, toks=None) -> dict[str, "F.Column"]:
    """Column builders for marker-word language ID (argmax of marker hit
    counts, lexicographic tie-break) — shared with the curation plan.
    Single-expression form (no intermediate score_* projection). Pass
    ``toks`` when tokenization is staged as its own column."""
    text = F.col("text") if text is None else text
    toks = _tokens(text) if toks is None else toks

    def score(lang):
        m = F.array(*[F.lit(w) for w in LANG_MARKERS[lang]])
        return F.size(F.filter(toks, lambda t: F.array_contains(m, t)))

    langs = sorted(LANG_MARKERS)
    best = score(langs[0])
    best_lang = F.lit(langs[0])
    for lang in langs[1:]:
        s = score(lang)
        cond = s > best
        best_lang = F.when(cond, F.lit(lang)).otherwise(best_lang)
        best = F.when(cond, s).otherwise(best)
    return {"lang_detected": best_lang, "marker_hits": best}


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID: argmax of per-language marker hit counts,
    ties broken lexicographically ('de' < 'en' < 'es' < 'fr')."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", _tokens(F.col("text")).alias("toks")
    )
    lc = lang_cols(toks=F.col("toks"))
    return d.select(
        "doc_id",
        F.col("lang").alias("lang_declared"),
        lc["lang_detected"].alias("lang_detected"),
        lc["marker_hits"].alias("marker_hits"),
    )


def _lang_id_sql() -> str:
    score_cols = []
    for lang in sorted(LANG_MARKERS):
        markers = "[" + ", ".join(f"'{w}'" for w in LANG_MARKERS[lang]) + "]"
        score_cols.append(
            f"len(list_filter(toks, t -> list_contains({markers}, t))) AS score_{lang}"
        )
    langs = sorted(LANG_MARKERS)
    best = f"score_{langs[0]}"
    best_lang = f"'{langs[0]}'"
    for lang in langs[1:]:
        best_lang = f"CASE WHEN score_{lang} > {best} THEN '{lang}' ELSE {best_lang} END"
        best = f"CASE WHEN score_{lang} > {best} THEN score_{lang} ELSE {best} END"
    return f"""
SELECT doc_id, lang AS lang_declared,
       {best_lang} AS lang_detected,
       {best} AS marker_hits
FROM (
  SELECT doc_id, lang, {', '.join(score_cols)}
  FROM (SELECT doc_id, lang, {_tokens_sql('text')} AS toks FROM documents)
)
"""


LANG_ID_SQL = _lang_id_sql()


def fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: full-content hash + min-3-shingle hash
    (the winnowing primitive used for near-dup blocking)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", _tokens(F.col("text")).alias("toks")
    )
    toks = F.col("toks")
    shingles = F.transform(
        F.sequence(
            F.lit(1), F.greatest(F.size(toks) - F.lit(2), F.lit(1))
        ),
        lambda i: F.concat_ws(
            " ",
            # try_element_at, NOT element_at: Spark 4 runs ANSI mode by
            # default, so a doc with < 3 tokens would throw
            # INVALID_ARRAY_INDEX_IN_ELEMENT_AT and fail the whole job.
            # NULL-on-out-of-range matches the DuckDB twin (toks[i]
            # yields NULL past the end; concat_ws skips NULLs), so
            # short docs get the same partial shingles on both engines.
            F.try_element_at(toks, i),
            F.try_element_at(toks, i + 1),
            F.try_element_at(toks, i + 2),
        ),
    )
    return d.select(
        "doc_id",
        F.md5("text").alias("content_hash"),
        F.array_min(F.transform(shingles, F.md5)).alias("min_shingle_hash"),
    )


FINGERPRINT_SQL = f"""
SELECT doc_id,
  md5(text) AS content_hash,
  list_min(list_transform(shingles, s -> md5(s))) AS min_shingle_hash
FROM (
  SELECT doc_id, text,
    list_transform(
      generate_series(1, greatest(len(toks) - 2, 1)),
      i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])
    ) AS shingles
  FROM (SELECT doc_id, text, {_tokens_sql('text')} AS toks FROM documents)
)
"""


# ------------------------------------------------------------- text suite

_BPE_PAT = r" ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+"


def text_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every per-document text-analysis projection in ONE scan: token
    stats + BPE-ish counts + quality + lang-ID + fingerprints.

    The single-scan suite is also the correct 100 TB plan — five separate
    passes over a petabyte-scale ``documents`` table to compute scalar
    projections is four scans too many; a curation pipeline annotates
    once. The standalone per-op queries remain exported for composition
    (`quality_cols`/`lang_cols` are shared builders).

    STAGED projection (same rationale as ``repetition_stats``): ``toks``
    is materialized once as a column in a sub-select; the dozen stat
    expressions and the shingle lambda all reference the column instead
    of re-inlining the tokenize (a CodegenFallback HOF that would
    otherwise re-run per consuming expression).
    """
    d = load_table(spark, sf_dir, "documents")
    d = d.select(
        "doc_id", "text", "lang", _tokens(F.col("text")).alias("toks")
    )
    toks = F.col("toks")
    pieces = F.regexp_extract_all(F.col("text"), F.lit(f"({_BPE_PAT})"), 1)
    shingles = F.transform(
        F.sequence(
            F.lit(1), F.greatest(F.size(toks) - F.lit(2), F.lit(1))
        ),
        lambda i: F.concat_ws(
            " ",
            # try_element_at, NOT element_at: Spark 4 runs ANSI mode by
            # default, so a doc with < 3 tokens would throw
            # INVALID_ARRAY_INDEX_IN_ELEMENT_AT and fail the whole job.
            # NULL-on-out-of-range matches the DuckDB twin (toks[i]
            # yields NULL past the end; concat_ws skips NULLs), so
            # short docs get the same partial shingles on both engines.
            F.try_element_at(toks, i),
            F.try_element_at(toks, i + 1),
            F.try_element_at(toks, i + 2),
        ),
    )
    qc = quality_cols(toks=toks)
    lc = lang_cols(toks=toks)
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.length("text").alias("n_chars_computed"),
        F.round(
            F.aggregate(
                toks, F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t)
            ).cast("double")
            / F.greatest(F.size(toks), F.lit(1)),
            6,
        ).alias("avg_token_len"),
        F.size(pieces).alias("n_bpe_tokens"),
        F.round(
            F.size(pieces).cast("double")
            / F.greatest(F.size(toks), F.lit(1)),
            6,
        ).alias("bpe_per_word"),
        qc["uniq_ratio"].alias("uniq_ratio"),
        qc["stop_ratio"].alias("stop_ratio"),
        qc["quality"].alias("quality"),
        F.col("lang").alias("lang_declared"),
        lc["lang_detected"].alias("lang_detected"),
        lc["marker_hits"].alias("marker_hits"),
        F.md5("text").alias("content_hash"),
        F.array_min(F.transform(shingles, F.md5)).alias("min_shingle_hash"),
    )


def _text_suite_sql() -> str:
    score_cols = []
    for lang in sorted(LANG_MARKERS):
        markers = "[" + ", ".join(f"'{w}'" for w in LANG_MARKERS[lang]) + "]"
        score_cols.append(
            f"len(list_filter(toks, t -> list_contains({markers}, t)))"
            f" AS score_{lang}"
        )
    langs = sorted(LANG_MARKERS)
    best = f"score_{langs[0]}"
    best_lang = f"'{langs[0]}'"
    for lang in langs[1:]:
        best_lang = (
            f"CASE WHEN score_{lang} > {best} THEN '{lang}' ELSE {best_lang} END"
        )
        best = f"CASE WHEN score_{lang} > {best} THEN score_{lang} ELSE {best} END"
    return f"""
SELECT doc_id,
  len(toks) AS n_tokens,
  len(list_distinct(toks)) AS n_distinct,
  len(text) AS n_chars_computed,
  round(CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE)
        / greatest(len(toks), 1), 6) AS avg_token_len,
  len(pieces) AS n_bpe_tokens,
  round(CAST(len(pieces) AS DOUBLE) / greatest(len(toks), 1), 6) AS bpe_per_word,
  round(uniq_ratio, 6) AS uniq_ratio,
  round(stop_ratio, 6) AS stop_ratio,
  round(0.4 * uniq_ratio
        + 0.3 * (CASE WHEN stop_ratio > 0.01 AND stop_ratio < 0.6
                 THEN 1.0 ELSE 0.0 END)
        + 0.3 * (CASE WHEN len(text) >= 50 AND len(text) <= 5000
                 THEN 1.0 ELSE 0.0 END), 6) AS quality,
  lang AS lang_declared,
  {best_lang} AS lang_detected,
  {best} AS marker_hits,
  md5(text) AS content_hash,
  list_min(list_transform(shingles, s -> md5(s))) AS min_shingle_hash
FROM (
  SELECT doc_id, text, lang, toks, pieces, shingles,
    CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1)
      AS uniq_ratio,
    CAST(len(list_filter(toks, t -> list_contains({_STOPS_SQL}, t))) AS DOUBLE)
      / greatest(len(toks), 1) AS stop_ratio,
    {', '.join(score_cols)}
  FROM (
    SELECT doc_id, text, lang, toks,
      regexp_extract_all(text, '( ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\\s]+)', 1)
        AS pieces,
      list_transform(
        generate_series(1, greatest(len(toks) - 2, 1)),
        i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])
      ) AS shingles
    FROM (SELECT doc_id, text, lang, {_tokens_sql('text')} AS toks
          FROM documents)
  )
)
"""


TEXT_SUITE_SQL = _text_suite_sql()


# ---------------------------------------------------------- PII redaction

# RE2- and Java-regex-compatible patterns (no lookaround, no backrefs)
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IP = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PII_PHONE = r"\+[0-9][0-9 ]{6,}[0-9]"


def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: replace emails / IPv4s / intl phone numbers with
    typed placeholders and count each class per document.

    The synthetic corpus contains no PII, so deterministic PII-shaped
    suffixes are appended from ``doc_id`` (same derivation in the oracle,
    like the b_money_suite fixture texts) — the redaction regexes then do
    real work on every third/fifth/seventh document. Pure scalar
    projections: linear scan, zero shuffles, WholeStageCodegen at any
    scale.
    """
    d = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    pii_text = F.concat(
        F.col("text"),
        F.when(
            did % 3 == 0,
            F.concat(F.lit(" contact user"), did, F.lit("@mail.example.com")),
        ).otherwise(F.lit("")),
        F.when(
            did % 5 == 0,
            F.concat(
                F.lit(" node 10."), did % 200, F.lit(".3."), did % 250
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 7 == 0,
            F.concat(F.lit(" tel +33 6123 45"), did % 10, F.lit("8")),
        ).otherwise(F.lit("")),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(pii_text, PII_EMAIL, "<EMAIL>"),
            PII_IP,
            "<IP>",
        ),
        PII_PHONE,
        "<PHONE>",
    )
    return d.select(
        "doc_id",
        F.regexp_count(pii_text, F.lit(PII_EMAIL)).alias("n_emails"),
        F.regexp_count(pii_text, F.lit(PII_IP)).alias("n_ips"),
        F.regexp_count(pii_text, F.lit(PII_PHONE)).alias("n_phones"),
        redacted.alias("redacted_text"),
    )


_PII_TEXT_SQL = (
    "text"
    " || (CASE WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id"
    "      || '@mail.example.com' ELSE '' END)"
    " || (CASE WHEN doc_id % 5 = 0 THEN ' node 10.' || (doc_id % 200)"
    "      || '.3.' || (doc_id % 250) ELSE '' END)"
    " || (CASE WHEN doc_id % 7 = 0 THEN ' tel +33 6123 45' || (doc_id % 10)"
    "      || '8' ELSE '' END)"
)

_PII_EMAIL_SQL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_IP_SQL = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
_PII_PHONE_SQL = "\\+[0-9][0-9 ]{6,}[0-9]"

PII_REDACT_SQL = f"""
SELECT doc_id,
  len(regexp_extract_all(pii_text, '{_PII_EMAIL_SQL}')) AS n_emails,
  len(regexp_extract_all(pii_text, '{_PII_IP_SQL}')) AS n_ips,
  len(regexp_extract_all(pii_text, '{_PII_PHONE_SQL}')) AS n_phones,
  regexp_replace(
    regexp_replace(
      regexp_replace(pii_text, '{_PII_EMAIL_SQL}', '<EMAIL>', 'g'),
      '{_PII_IP_SQL}', '<IP>', 'g'),
    '{_PII_PHONE_SQL}', '<PHONE>', 'g') AS redacted_text
FROM (SELECT doc_id, {_PII_TEXT_SQL} AS pii_text FROM documents)
"""


# ------------------------------------------- repetition / vocabulary ops

def _gram_hashes(toks, n: int):
    """64-bit fingerprints of the word n-grams, empty array when the doc
    is shorter than ``n`` — guarded because Spark's ``sequence(1, 0)``
    DESCENDS instead of producing an empty range.

    Hashes, not concat_ws strings: the dup-fraction only needs gram
    IDENTITY (distinct counts), and higher-order lambdas evaluate
    interpreted (no codegen), so per-gram cost is what matters —
    ``xxhash64`` over the n token columns emits one long where the
    string form allocated a UTF8String per gram, and the downstream
    ``array_distinct`` runs on primitive longs. Same
    probabilistic-by-hash contract as the LSH band fingerprints: a
    64-bit collision WITHIN one doc's ~1e2-gram array (p ~ 1e-16)
    would overcount one duplicate; the DuckDB oracle counts exact
    string grams and the driver comparison is deterministic."""
    cnt = F.size(toks) - F.lit(n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), cnt),
        lambda i: F.xxhash64(*[F.element_at(toks, i + j) for j in range(n)]),
    )
    return F.when(cnt >= 1, grams).otherwise(
        F.array().cast("array<bigint>")
    )


def _dup_frac(grams):
    """Fraction of n-gram OCCURRENCES that repeat an earlier occurrence
    (Gopher-style duplicate n-gram fraction), 0.0 for empty docs."""
    n = F.size(grams)
    return F.round(
        (n - F.size(F.array_distinct(grams))).cast("double")
        / F.greatest(n, F.lit(1)),
        6,
    )


def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition signals (the Gopher/C4 quality-filter
    family): duplicate 2-gram / 3-gram occurrence fractions plus the
    most-frequent-token share.

    Scale design: pure per-row array expressions — no explode, no
    shuffle. ``top_token_frac`` is a LINEAR run-length fold over the
    row's sorted token-HASH array (sort + one pass over primitive
    longs; see ``_gram_hashes`` for the hash-vs-string rationale), not
    an explode -> groupBy(doc_id, token) -> max pipeline, which would
    shuffle every token occurrence in the corpus twice to answer a
    per-row question.

    STAGED projection: ``toks`` is materialized as its own column in a
    sub-select and every stat references the column. Higher-order
    functions are CodegenFallback expressions, so a single-projection
    form re-evaluates the tokenize (regex split + filter — itself a
    HOF) once PER CONSUMING EXPRESSION; Catalyst's CollapseProject
    declines to inline a non-cheap expression referenced more than
    once, so the two-stage shape sticks and tokenization runs once per
    row (measured 3x on this operator)."""
    d = load_table(spark, sf_dir, "documents")
    d = d.select("doc_id", _tokens(F.col("text")).alias("toks"))
    toks = F.col("toks")
    # run-length fold over the sorted token hashes: the longest run IS
    # the top token's multiplicity (equal hashes <=> equal tokens,
    # modulo the documented in-doc 64-bit collision odds). The null
    # sentinel never equals a real hash: `h == null` is null -> the
    # otherwise(1) branch, exactly the run-restart case.
    top_run = F.aggregate(
        F.array_sort(F.transform(toks, lambda t: F.xxhash64(t))),
        F.named_struct(
            F.lit("prev"), F.lit(None).cast("bigint"), F.lit("run"), F.lit(0),
            F.lit("best"), F.lit(0),
        ),
        lambda acc, h: F.named_struct(
            F.lit("prev"), h,
            F.lit("run"),
            F.when(h == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            F.lit("best"),
            F.greatest(
                acc["best"],
                F.when(h == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ),
        ),
        lambda acc: acc["best"],
    )
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        _dup_frac(_gram_hashes(toks, 2)).alias("dup_2gram_frac"),
        _dup_frac(_gram_hashes(toks, 3)).alias("dup_3gram_frac"),
        F.round(
            top_run.cast("double") / F.greatest(F.size(toks), F.lit(1)), 6
        ).alias("top_token_frac"),
    )


def _ngrams_sql(toks_e: str, n: int) -> str:
    joined = " || ' ' || ".join(f"{toks_e}[i+{j}]" for j in range(n))
    return (
        f"CASE WHEN len({toks_e}) >= {n} THEN "
        f"list_transform(generate_series(1, len({toks_e}) - {n - 1}), "
        f"i -> {joined}) ELSE [] END"
    )


def _dup_frac_sql(grams_e: str) -> str:
    return (
        f"round(CAST(len({grams_e}) - len(list_distinct({grams_e})) "
        f"AS DOUBLE) / greatest(len({grams_e}), 1), 6)"
    )


# the oracle computes top_token_frac relationally (unnest + group), the
# idiomatic DuckDB form; values match the Spark fold exactly
REPETITION_STATS_SQL = f"""
WITH t AS (SELECT doc_id, {_tokens_sql('text')} AS toks FROM documents),
cnt AS (
  SELECT doc_id, count(*) AS c
  FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
  GROUP BY doc_id, tok
),
top AS (SELECT doc_id, max(c) AS top_c FROM cnt GROUP BY doc_id)
SELECT t.doc_id,
  len(t.toks) AS n_tokens,
  {_dup_frac_sql(_ngrams_sql('t.toks', 2))} AS dup_2gram_frac,
  {_dup_frac_sql(_ngrams_sql('t.toks', 3))} AS dup_3gram_frac,
  round(CAST(coalesce(top.top_c, 0) AS DOUBLE)
        / greatest(len(t.toks), 1), 6) AS top_token_frac
FROM t LEFT JOIN top ON t.doc_id = top.doc_id
"""


VOCAB_K = 100


def vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level vocabulary: the ``VOCAB_K`` most frequent tokens with
    occurrence and document frequencies (the input to stopword lists,
    tokenizer vocabularies, and heavy-hitter diagnostics).

    Scale design: explode -> groupBy(token) partially combines map-side
    (token space << occurrence space), and the global top-k plans as
    TakeOrderedAndProject — per-partition top-k, merged once — never a
    full sort of the vocabulary. Deterministic tie-break: token ASC."""
    d = load_table(spark, sf_dir, "documents")
    occ = d.select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("token")
    )
    return (
        occ.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), F.asc("token"))
        .limit(VOCAB_K)
    )


VOCAB_TOPK_SQL = f"""
SELECT tok AS token, count(*) AS n_occurrences,
       count(DISTINCT doc_id) AS n_docs
FROM (SELECT doc_id, unnest({_tokens_sql('text')}) AS tok FROM documents)
GROUP BY tok
ORDER BY n_occurrences DESC, token ASC
LIMIT {VOCAB_K}
"""


TFIDF_TOP_N = 3


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-``TFIDF_TOP_N`` terms by smoothed tf-idf — the
    classic feature-extraction op for quality classifiers and topic
    diagnostics (tf = term count / doc length; idf = ln((N+1)/(df+1))).

    Scale design: term counts shuffle once on (doc_id, token); document
    frequencies are a token-keyed aggregate JOINED back on the token key.
    No broadcast hint: a web-scale corpus's vocabulary is heavy-tailed
    and effectively unbounded (urls, typos — easily 1e9+ distinct
    tokens), so forcing a broadcast of dfreq would overflow the driver
    at the 100 TB design point. AQE still picks a broadcast join
    whenever the measured dfreq size fits (it does at every test sf);
    when it doesn't, the join is already co-keyed with the counts
    shuffle. The per-doc top-n is a window over doc_id
    (high-cardinality key, no skew). Deterministic: tfidf rounded to
    6 dp before ranking, ties broken token ASC — identical in the
    DuckDB twin."""
    d = load_table(spark, sf_dir, "documents")
    # N stays a lazy broadcast 1-row frame (the SQL twin's CROSS JOIN n),
    # never a driver-side d.count() at plan-construction time
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    # staged tokenize: size + explode both read the materialized column
    occ = d.select(
        "doc_id", _tokens(F.col("text")).alias("toks")
    ).select(
        "doc_id",
        F.size("toks").alias("doc_len"),
        F.explode("toks").alias("token"),
    )
    # counts feeds BOTH the document-frequency aggregate and the scoring
    # join; exchange reuse does not fire across the differently-shaped
    # consumers, so without materialization the tokenize+explode+groupBy
    # lineage runs twice (the same index-build trade as the LSH
    # signatures — scoped, released on the next call)
    from ._cachescope import begin_scope, scoped_persist

    begin_scope("tfidf_top_terms")
    counts = scoped_persist(
        "tfidf_top_terms",
        occ.groupBy("doc_id", "doc_len", "token").agg(
            F.count(F.lit(1)).alias("tc")
        ),
    )
    dfreq = counts.groupBy("token").agg(
        F.count(F.lit(1)).alias("df")
    )
    from pyspark.sql.window import Window

    scored = (
        counts.join(dfreq, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            F.round(
                (F.col("tc").cast("double") / F.col("doc_len"))
                * F.log(
                    (F.col("n_docs") + F.lit(1)).cast("double")
                    / (F.col("df") + F.lit(1.0))
                ),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("token")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TFIDF_TOP_N)
        .select("doc_id", "token", "tfidf", "rn")
    )


def _tfidf_sql() -> str:
    return f"""
WITH occ AS (
  SELECT doc_id, len(toks) AS doc_len, unnest(toks) AS token
  FROM (SELECT doc_id, {_tokens_sql('text')} AS toks FROM documents)
),
counts AS MATERIALIZED (
  SELECT doc_id, doc_len, token, count(*) AS tc
  FROM occ GROUP BY doc_id, doc_len, token
),
dfreq AS (SELECT token, count(*) AS df FROM counts GROUP BY token),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT c.doc_id, c.token,
         round((CAST(c.tc AS DOUBLE) / c.doc_len)
               * ln((n.n_docs + 1.0) / (dfreq.df + 1.0)), 6) AS tfidf
  FROM counts c JOIN dfreq USING (token) CROSS JOIN n
)
SELECT doc_id, token, tfidf, rn FROM (
  SELECT doc_id, token, tfidf,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, token) AS rn
  FROM scored
) WHERE rn <= {TFIDF_TOP_N}
"""


TFIDF_TOP_TERMS_SQL = _tfidf_sql()


# ------------------------------------- unigram-LM cross-entropy (CCNet-style)

UNIGRAM_VOCAB_K = 1000  # truncated-LM vocabulary size (bounded model)


def unigram_xent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy under a corpus-trained TRUNCATED
    unigram LM — the CCNet/Wikipedia-LM perplexity-filter shape: train a
    small LM on the corpus (here: Laplace-smoothed unigram over the top
    ``UNIGRAM_VOCAB_K`` tokens), score every document by its mean
    negative token log-probability, threshold downstream.

    Model: p(t) = (c_t + 1) / (N + V) where c_t is the corpus count for
    top-K tokens and 0 otherwise (truncated vocabulary — rare tokens
    score as unseen BY DESIGN, exactly what makes gibberish expensive),
    N = total token occurrences, V = corpus distinct-token count.

    Scale design (the deliberate contrast to ``tfidf_top_terms``): the
    LM table is top-K — broadcast-sized BY CONSTRUCTION, independent of
    corpus size — so scoring is a map-side broadcast join over the
    postings (no shuffle on the token key); N and V collapse to one
    broadcast row derived from the same counts aggregate. The postings
    frame is scoped-persisted: both the vocabulary build and the scoring
    join consume it (the materialize-the-index trade, as in the LSH
    signatures). Token-less docs re-enter via the final left join with
    n_tokens = 0 and a NULL cross-entropy.

    FP determinism across engines: per-token logp is an exact function
    of (c_t, N, V); the per-doc SUM of ~1e2 doubles carries O(1e-13)
    association error, far inside the 6-dp round.
    """
    d = load_table(spark, sf_dir, "documents")
    from ._cachescope import begin_scope, scoped_persist

    begin_scope("unigram_xent")
    occ = scoped_persist(
        "unigram_xent",
        d.select("doc_id", _tokens(F.col("text")).alias("toks")).select(
            "doc_id", F.explode("toks").alias("token")
        ),
    )
    counts = occ.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    # N and V from the counts aggregate (token-keyed, already partially
    # combined) — never a second pass over the postings
    totals = counts.agg(
        F.sum("c").alias("n_total"),
        F.count(F.lit(1)).alias("v_distinct"),
    )
    vocab = (
        counts.orderBy(F.desc("c"), F.asc("token"))
        .limit(UNIGRAM_VOCAB_K)
    )
    logp = F.log(
        (F.coalesce("c", F.lit(0)) + F.lit(1)).cast("double")
        / (F.col("n_total") + F.col("v_distinct")).cast("double")
    )
    per_doc = (
        occ.join(F.broadcast(vocab), "token", "left")
        .crossJoin(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(-logp).alias("neg_lp_sum"),
        )
    )
    return d.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        F.round(
            F.col("neg_lp_sum") / F.col("n_tokens"), 6
        ).alias("cross_entropy"),
    )


UNIGRAM_XENT_SQL = f"""
WITH occ AS (
  SELECT doc_id, unnest({_tokens_sql('text')}) AS token FROM documents
),
counts AS (SELECT token, count(*) AS c FROM occ GROUP BY token),
totals AS (
  SELECT CAST(sum(c) AS BIGINT) AS n_total,
         count(*) AS v_distinct
  FROM counts
),
vocab AS (
  SELECT token, c FROM counts
  ORDER BY c DESC, token ASC LIMIT {UNIGRAM_VOCAB_K}
),
per_doc AS (
  SELECT occ.doc_id,
         count(*) AS n_tokens,
         sum(-ln(CAST(coalesce(vocab.c, 0) + 1 AS DOUBLE)
                 / CAST(totals.n_total + totals.v_distinct AS DOUBLE)))
           AS neg_lp_sum
  FROM occ
  LEFT JOIN vocab USING (token)
  CROSS JOIN totals
  GROUP BY occ.doc_id
)
SELECT d.doc_id,
  coalesce(per_doc.n_tokens, 0) AS n_tokens,
  round(per_doc.neg_lp_sum / per_doc.n_tokens, 6) AS cross_entropy
FROM documents d LEFT JOIN per_doc ON d.doc_id = per_doc.doc_id
"""


# ------------------------------------- bigram-LM cross-entropy (round 10)

BIGRAM_TABLE_K = 2000  # truncated bigram table size (bounded model)


def bigram_xent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy under a corpus-trained TRUNCATED
    Laplace BIGRAM LM — the n-gram generalization of
    :func:`unigram_xent` (CCNet's production filter is a 5-gram KenLM;
    unigram/bigram are the Spark-expressible members of the family and
    share its shape: train a bounded model on the corpus, score every
    document by mean negative log-probability, threshold downstream).

    Model: p(cur | prev) = (c(prev, cur) + 1) / (c(prev) + V) with
    c(prev, cur) from the top-``BIGRAM_TABLE_K`` bigram table,
    c(prev) from the top-``UNIGRAM_VOCAB_K`` unigram table (both
    truncated — out-of-table counts are 0 BY DESIGN, making unseen
    transitions expensive), V = corpus distinct-token count. Scored
    over a document's n_tokens - 1 transitions; docs with < 2 tokens
    get n_bigrams = 0 and a NULL cross-entropy. Each transition's logp
    is clamped to <= 0 (round-10 advisory): the truncated tables can
    otherwise yield p > 1 when the context falls OUT of the unigram
    table (uc -> 0) while its bigram stays IN the top-K with bc >= V —
    plausible on heavily duplicated corpora — and a negative surprisal
    would corrupt downstream thresholds.

    Scale design mirrors unigram_xent: BOTH model tables are top-K —
    broadcast-sized by construction, independent of corpus size — so
    scoring is two map-side broadcast joins over the bigram postings.
    The bigrams themselves are built ROW-SIDE (zip_with over two slices
    of the token array — no positional self-join, no extra shuffle);
    the postings frame is scoped-persisted because the bigram-count
    build and the scoring join both consume it. V rides the unigram
    counts aggregate, never a second corpus pass.

    FP determinism across engines: per-transition logp is an exact
    function of (c_bg, c_prev, V); the per-doc sum of ~1e2 doubles
    carries O(1e-13) association error, far inside the 6-dp round.
    Truncation tie-breaks are total orders ((c DESC, prev, cur) /
    (c DESC, token)) so both engines build the identical tables.
    """
    d = load_table(spark, sf_dir, "documents")
    from ._cachescope import begin_scope, scoped_persist

    begin_scope("bigram_xent")
    toked = d.select("doc_id", _tokens(F.col("text")).alias("toks"))
    sz = F.size("toks")
    pairs = F.zip_with(
        F.slice("toks", 1, F.greatest(sz - 1, F.lit(0))),
        F.slice("toks", 2, F.greatest(sz - 1, F.lit(0))),
        lambda a, b: F.named_struct(
            F.lit("prev"), a, F.lit("cur"), b
        ),
    )
    bg = scoped_persist(
        "bigram_xent",
        toked.select("doc_id", F.explode(pairs).alias("p")).select(
            "doc_id", F.col("p.prev").alias("prev"), F.col("p.cur").alias("cur")
        ),
    )
    # unigram context counts + V from one postings pass (the unigram
    # occurrence count equals the token count used by unigram_xent)
    occ = toked.select("doc_id", F.explode("toks").alias("token"))
    ucounts = occ.groupBy("token").agg(F.count(F.lit(1)).alias("uc"))
    totals = ucounts.agg(F.count(F.lit(1)).alias("v_distinct"))
    uvocab = (
        ucounts.orderBy(F.desc("uc"), F.asc("token"))
        .limit(UNIGRAM_VOCAB_K)
        .select(F.col("token").alias("prev"), "uc")
    )
    btable = (
        bg.groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).alias("bc"))
        .orderBy(F.desc("bc"), F.asc("prev"), F.asc("cur"))
        .limit(BIGRAM_TABLE_K)
    )
    # least(logp, 0): with BOTH tables truncated, an out-of-table context
    # coalesces uc to 0 while a top-K bigram can still carry bc >= V on a
    # heavily duplicated corpus, making the ratio > 1 — a positive logp
    # that would subtract from the cross-entropy sum. Clamping keeps every
    # per-transition contribution a proper >= 0 surprisal; the SQL twin
    # applies the identical least() so parity is unchanged.
    logp = F.least(
        F.log(
            (F.coalesce("bc", F.lit(0)) + F.lit(1)).cast("double")
            / (F.coalesce("uc", F.lit(0)) + F.col("v_distinct")).cast("double")
        ),
        F.lit(0.0),
    )
    per_doc = (
        bg.join(F.broadcast(btable), ["prev", "cur"], "left")
        .join(F.broadcast(uvocab), "prev", "left")
        .crossJoin(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(-logp).alias("neg_lp_sum"),
        )
    )
    return d.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
        F.round(
            F.col("neg_lp_sum") / F.col("n_bigrams"), 6
        ).alias("cross_entropy"),
    )


BIGRAM_XENT_SQL = f"""
WITH tokd AS (
  SELECT doc_id, {_tokens_sql('text')} AS toks FROM documents
),
bg AS (
  SELECT doc_id, p['prev'] AS prev, p['cur'] AS cur FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(toks) - 1),
                  i -> {{'prev': toks[i], 'cur': toks[i + 1]}})) AS p
    FROM tokd)
),
occ AS (SELECT doc_id, unnest(toks) AS token FROM tokd),
ucounts AS (SELECT token, count(*) AS uc FROM occ GROUP BY token),
totals AS (SELECT count(*) AS v_distinct FROM ucounts),
uvocab AS (
  SELECT token AS prev, uc FROM ucounts
  ORDER BY uc DESC, token ASC LIMIT {UNIGRAM_VOCAB_K}
),
btable AS (
  SELECT prev, cur, count(*) AS bc FROM bg GROUP BY prev, cur
  ORDER BY bc DESC, prev ASC, cur ASC LIMIT {BIGRAM_TABLE_K}
),
per_doc AS (
  SELECT bg.doc_id,
         count(*) AS n_bigrams,
         sum(-least(ln(CAST(coalesce(btable.bc, 0) + 1 AS DOUBLE)
                       / CAST(coalesce(uvocab.uc, 0) + totals.v_distinct
                              AS DOUBLE)), 0)) AS neg_lp_sum
  FROM bg
  LEFT JOIN btable USING (prev, cur)
  LEFT JOIN uvocab USING (prev)
  CROSS JOIN totals
  GROUP BY bg.doc_id
)
SELECT d.doc_id,
  coalesce(per_doc.n_bigrams, 0) AS n_bigrams,
  round(per_doc.neg_lp_sum / per_doc.n_bigrams, 6) AS cross_entropy
FROM documents d LEFT JOIN per_doc ON d.doc_id = per_doc.doc_id
"""


# ------------------------------------ trigram-LM cross-entropy (round 11)

TRIGRAM_TABLE_K = 2000    # truncated trigram table size (bounded model)
TRIGRAM_CONTEXT_K = 2000  # truncated (prev2, prev1) context-count table


def trigram_xent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy under a corpus-trained TRUNCATED
    Laplace TRIGRAM LM — the n=3 member of the xent family
    (:func:`unigram_xent` / :func:`bigram_xent`; CCNet's production
    filter is a 5-gram KenLM, and each member shares its shape: train a
    bounded model on the corpus, score every document by mean negative
    log-probability, threshold downstream).

    Model: p(cur | prev2, prev1) = (c(prev2, prev1, cur) + 1)
    / (c(prev2, prev1) + V), with the trigram count from the
    top-``TRIGRAM_TABLE_K`` table, the context count from the
    top-``TRIGRAM_CONTEXT_K`` bigram-context table, and V = corpus
    distinct-token count. Out-of-table counts are 0 BY DESIGN (unseen
    continuations are expensive); per-transition logp is clamped <= 0
    (the same truncated-table p>1 hazard the bigram clamp closes).
    Docs with < 3 tokens get n_trigrams = 0 and a NULL cross-entropy.

    Scale property — STRUCTURAL, per the round-11 guardrail
    (tests/test_plan_hygiene.py pins the bigram member's plan; the same
    broadcast-only shape holds here): BOTH model tables are top-K, so
    scoring is two map-side broadcast joins over the trigram postings;
    the postings are built ROW-SIDE (a composed zip_with over three
    token-array slices — no positional self-join), and V rides the
    unigram counts aggregate. The family's memory bound is
    (TRIGRAM_TABLE_K + TRIGRAM_CONTEXT_K) entries — ~100s of KB,
    independent of corpus size.

    Truncation tie-breaks are total orders ((c DESC, p2, p1, cur) /
    (c DESC, p2, p1)) so both engines build identical tables.
    """
    d = load_table(spark, sf_dir, "documents")
    from ._cachescope import begin_scope, scoped_persist

    begin_scope("trigram_xent")
    toked = d.select("doc_id", _tokens(F.col("text")).alias("toks"))
    sz = F.size("toks")
    n3 = F.greatest(sz - 2, F.lit(0))
    # compose two zip_withs: (p2, p1) pairs zipped against the cur slice
    ctx = F.zip_with(
        F.slice("toks", 1, n3),
        F.slice("toks", 2, n3),
        lambda a, b: F.named_struct(F.lit("p2"), a, F.lit("p1"), b),
    )
    tris = F.zip_with(
        ctx,
        F.slice("toks", 3, n3),
        lambda c, t: F.named_struct(
            F.lit("p2"), c["p2"], F.lit("p1"), c["p1"], F.lit("cur"), t
        ),
    )
    tg = scoped_persist(
        "trigram_xent",
        toked.select("doc_id", F.explode(tris).alias("t")).select(
            "doc_id",
            F.col("t.p2").alias("p2"),
            F.col("t.p1").alias("p1"),
            F.col("t.cur").alias("cur"),
        ),
    )
    occ = toked.select("doc_id", F.explode("toks").alias("token"))
    totals = occ.select("token").groupBy("token").agg(
        F.count(F.lit(1)).alias("uc")
    ).agg(F.count(F.lit(1)).alias("v_distinct"))
    ctx_table = (
        tg.groupBy("p2", "p1")
        .agg(F.count(F.lit(1)).alias("cc"))
        .orderBy(F.desc("cc"), F.asc("p2"), F.asc("p1"))
        .limit(TRIGRAM_CONTEXT_K)
    )
    ttable = (
        tg.groupBy("p2", "p1", "cur")
        .agg(F.count(F.lit(1)).alias("tc"))
        .orderBy(F.desc("tc"), F.asc("p2"), F.asc("p1"), F.asc("cur"))
        .limit(TRIGRAM_TABLE_K)
    )
    logp = F.least(
        F.log(
            (F.coalesce("tc", F.lit(0)) + F.lit(1)).cast("double")
            / (F.coalesce("cc", F.lit(0)) + F.col("v_distinct")).cast(
                "double"
            )
        ),
        F.lit(0.0),
    )
    per_doc = (
        tg.join(F.broadcast(ttable), ["p2", "p1", "cur"], "left")
        .join(F.broadcast(ctx_table), ["p2", "p1"], "left")
        .crossJoin(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            F.sum(-logp).alias("neg_lp_sum"),
        )
    )
    return d.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_trigrams", F.lit(0)).alias("n_trigrams"),
        F.round(
            F.col("neg_lp_sum") / F.col("n_trigrams"), 6
        ).alias("cross_entropy"),
    )


TRIGRAM_XENT_SQL = f"""
WITH tokd AS (
  SELECT doc_id, {_tokens_sql('text')} AS toks FROM documents
),
tg AS (
  SELECT doc_id, t['p2'] AS p2, t['p1'] AS p1, t['cur'] AS cur FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(toks) - 2),
                  i -> {{'p2': toks[i], 'p1': toks[i + 1],
                        'cur': toks[i + 2]}})) AS t
    FROM tokd)
),
occ AS (SELECT doc_id, unnest(toks) AS token FROM tokd),
totals AS (
  SELECT count(*) AS v_distinct
  FROM (SELECT token FROM occ GROUP BY token)
),
ctx_table AS (
  SELECT p2, p1, count(*) AS cc FROM tg GROUP BY p2, p1
  ORDER BY cc DESC, p2 ASC, p1 ASC LIMIT {TRIGRAM_CONTEXT_K}
),
ttable AS (
  SELECT p2, p1, cur, count(*) AS tc FROM tg GROUP BY p2, p1, cur
  ORDER BY tc DESC, p2 ASC, p1 ASC, cur ASC LIMIT {TRIGRAM_TABLE_K}
),
per_doc AS (
  SELECT tg.doc_id,
         count(*) AS n_trigrams,
         sum(-least(ln(CAST(coalesce(ttable.tc, 0) + 1 AS DOUBLE)
                       / CAST(coalesce(ctx_table.cc, 0)
                              + totals.v_distinct AS DOUBLE)), 0))
           AS neg_lp_sum
  FROM tg
  LEFT JOIN ttable USING (p2, p1, cur)
  LEFT JOIN ctx_table USING (p2, p1)
  CROSS JOIN totals
  GROUP BY tg.doc_id
)
SELECT d.doc_id,
  coalesce(per_doc.n_trigrams, 0) AS n_trigrams,
  round(per_doc.neg_lp_sum / per_doc.n_trigrams, 6) AS cross_entropy
FROM documents d LEFT JOIN per_doc ON d.doc_id = per_doc.doc_id
"""
