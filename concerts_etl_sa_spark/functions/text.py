"""Text normalization / tokenization / similarity (SURVEY §2.B1-B4, B8, B16-B17).

Every helper comes in two synchronized forms:

- ``fn(col) -> Column``   — the Spark implementation (JVM-side builtins only,
  whole-stage-codegen friendly; no Python UDFs in this module)
- ``fn_sql(expr) -> str`` — the equivalent DuckDB SQL fragment used by the
  oracle (``__spark_entry__.oracle_sql``)

Semantics follow the reference row-functions:

- strip_accents : concerts_etl/core/consolidate_events.py:18-19 (NFKD fold).
  Spark side uses a fixed Latin ``translate`` map — matches DuckDB
  ``strip_accents`` (and the reference) on the Latin-1 domain the engine
  commits to; full-Unicode parity would need a pandas UDF (rejected: slow
  path in the hot join).
- norm_basic    : concerts_etl/core/consolidate_events.py:21-26
- artist_tokens : concerts_etl/core/consolidate_events.py:40-59
- norm_name     : concerts_etl/core/matching.py:11-17
- similarity    : concerts_etl/core/matching.py:29-30 — the reference uses
  difflib ``SequenceMatcher.ratio()`` (Ratcliff/Obershelp, no SQL analog);
  the engine's metric is normalized Levenshtein, same shape (threshold +
  argmax), oracle-expressible in DuckDB (SURVEY §7.3.2).
- slugify       : concerts_etl/adapters/shotgun.py:47-49
- split_artist_venue : concerts_etl/adapters/shotgun.py:86-111

Scale note: all of these are scalar projections — they pipeline inside
WholeStageCodegen with zero shuffle; cost is linear and embarrassingly
parallel at 100 TB.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type-hint resolution needs it

from pyspark.sql import Column
from pyspark.sql import functions as F

# Latin accent fold map (lower+upper), chosen to agree with DuckDB's
# strip_accents on every character the engine's fixtures/domain emit.
ACCENT_SRC = "àâäáãåèéêëîïíìôöóòõùûüúçñýÿÀÂÄÁÃÅÈÉÊËÎÏÍÌÔÖÓÒÕÙÛÜÚÇÑÝ"
ACCENT_DST = "aaaaaaeeeeiiiiooooouuuucnyyAAAAAAEEEEIIIIOOOOOUUUUCNY"

# B4 stopword list — concerts_etl/core/consolidate_events.py:13-16
TOKEN_STOPWORDS = [
    "the", "and", "feat", "ft", "with", "x", "&", "+", "-", "–", "—",
    "le", "la", "les", "l", "de", "du", "des", "et", "au", "aux", "chez",
    "a", "an", "on", "in",
]
# B3 stopword list — concerts_etl/core/matching.py:11
NAME_STOPWORDS = ["live", "concert", "tour"]


def _sql_str_list(words: list[str]) -> str:
    inner = ", ".join("'" + w.replace("'", "''") + "'" for w in words)
    return f"[{inner}]"


# ---------------------------------------------------------------- B1 accents

def strip_accents(c: Column) -> Column:
    return F.translate(c, ACCENT_SRC, ACCENT_DST)


# ------------------------------------------------------------ B2 norm_basic

def norm_basic(c: Column) -> Column:
    """lower + accent fold + collapse whitespace + trim; null -> ''."""
    s = F.lower(strip_accents(F.coalesce(c, F.lit(""))))
    return F.trim(F.regexp_replace(s, r"\s+", " "))


def norm_basic_sql(e: str) -> str:
    return (
        f"trim(regexp_replace(lower(strip_accents(coalesce({e}, ''))),"
        f" '\\s+', ' ', 'g'))"
    )


# -------------------------------------------------------- B4 artist_tokens

def _tokens_one(c: Column) -> Column:
    """Token array from one field (pre-filter), per the reference pipeline:
    norm -> separator words/symbols -> ',' -> strip punct -> split."""
    s = norm_basic(c)
    s = F.regexp_replace(s, r"\b(feat|ft|with)\b", ",")
    s = F.regexp_replace(s, r" x ", ",")
    s = F.regexp_replace(s, r"[&+/]", ",")
    s = F.regexp_replace(s, r" @ | – | — | - ", ",")
    # keep word chars, whitespace and the comma separators; rest -> space
    s = F.regexp_replace(s, r"[^\w\s,]", " ")
    return F.split(s, r"[\s,]+")


def _tokens_one_sql(e: str) -> str:
    s = norm_basic_sql(e)
    s = f"regexp_replace({s}, '\\b(feat|ft|with)\\b', ',', 'g')"
    s = f"regexp_replace({s}, ' x ', ',', 'g')"
    s = f"regexp_replace({s}, '[&+/]', ',', 'g')"
    s = f"regexp_replace({s}, ' @ | – | — | - ', ',', 'g')"
    s = f"regexp_replace({s}, '[^\\w\\s,]', ' ', 'g')"
    return f"string_split_regex({s}, '[\\s,]+')"


def artist_tokens(*cols: Column) -> Column:
    """Distinct, sorted token array across one or more name fields.

    Sorted so the array value is deterministic in both engines (Spark
    array_distinct preserves first-occurrence order, DuckDB list_distinct
    does not — SURVEY §5.2 oracle requirement).
    """
    merged = F.flatten(F.array(*[_tokens_one(c) for c in cols]))
    stops = F.array(*[F.lit(w) for w in TOKEN_STOPWORDS])
    kept = F.filter(
        merged,
        lambda t: (F.length(t) > 2) & ~F.array_contains(stops, t),
    )
    return F.array_sort(F.array_distinct(kept))


def artist_tokens_sql(*exprs: str) -> str:
    parts = " || ".join(_tokens_one_sql(e) for e in exprs)
    stops = _sql_str_list(TOKEN_STOPWORDS)
    return (
        f"list_sort(list_distinct(list_filter({parts}, "
        f"t -> len(t) > 2 AND NOT list_contains({stops}, t))))"
    )


# ----------------------------------------------------------- B3 norm_name

def norm_name(c: Column) -> Column:
    """Legacy-path canonical name: lower, fold, [\\W_]+ -> ' ', drop
    {live,concert,tour}, re-join."""
    s = F.lower(strip_accents(F.coalesce(c, F.lit(""))))
    s = F.trim(F.regexp_replace(s, r"[\W_]+", " "))
    toks = F.filter(
        F.split(s, " "),
        lambda t: (t != "") & ~F.array_contains(F.array(*[F.lit(w) for w in NAME_STOPWORDS]), t),
    )
    return F.array_join(toks, " ")


def norm_name_sql(e: str) -> str:
    stops = _sql_str_list(NAME_STOPWORDS)
    s = f"trim(regexp_replace(lower(strip_accents(coalesce({e}, ''))), '[\\W_]+', ' ', 'g'))"
    return (
        f"coalesce(list_aggregate(list_filter(string_split({s}, ' '), "
        f"t -> t <> '' AND NOT list_contains({stops}, t)), 'string_agg', ' '), '')"
    )


# ---------------------------------------------------------- B16 similarity

def similarity(a: Column, b: Column) -> Column:
    """Normalized Levenshtein similarity in [0,1] over norm_name'd strings."""
    return similarity_norm(norm_name(a), norm_name(b))


def similarity_norm(na: Column, nb: Column) -> Column:
    """Similarity over ALREADY-normalized strings.

    Join-side form: callers normalize each row once with ``norm_name``
    *before* a pairwise join so the per-pair work is a single levenshtein,
    not a regex cascade re-run per candidate pair (the 100 TB hot path).
    """
    denom = F.greatest(F.length(na), F.length(nb), F.lit(1))
    return F.lit(1.0) - F.levenshtein(na, nb) / denom.cast("double")


def similarity_sql(ea: str, eb: str) -> str:
    na, nb = norm_name_sql(ea), norm_name_sql(eb)
    return (
        f"1.0 - levenshtein({na}, {nb}) / "
        f"CAST(greatest(len({na}), len({nb}), 1) AS DOUBLE)"
    )


# -------------------------------------------------------------- B8 slugify

def slugify(c: Column) -> Column:
    s = F.lower(strip_accents(F.coalesce(c, F.lit(""))))
    s = F.regexp_replace(s, r"[^a-z0-9]+", "-")
    return F.regexp_replace(s, r"^-+|-+$", "")


def slugify_sql(e: str) -> str:
    s = f"lower(strip_accents(coalesce({e}, '')))"
    s = f"regexp_replace({s}, '[^a-z0-9]+', '-', 'g')"
    return f"regexp_replace({s}, '^-+|-+$', '', 'g')"


# -------------------------------------- B17 "ARTIST @ VENUE" split heuristic

_AV_PATTERN = r"^(.+?)\s*(?:@|-|–|—)\s*(.+)$"


def split_artist(c: Column) -> Column:
    """Artist part of 'ARTIST @ VENUE' / 'ARTIST - VENUE'; whole name if no
    separator (reference fallback, shotgun.py:100-111)."""
    a = F.regexp_extract(c, _AV_PATTERN, 1)
    return F.trim(F.regexp_replace(F.when(a == "", c).otherwise(a), r"\s+", " "))


def split_venue(c: Column) -> Column:
    v = F.regexp_extract(c, _AV_PATTERN, 2)
    return F.when(v == "", F.lit(None).cast("string")).otherwise(
        F.trim(F.regexp_replace(v, r"\s+", " "))
    )


def split_artist_sql(e: str) -> str:
    a = f"regexp_extract({e}, '^(.+?)\\s*(?:@|-|–|—)\\s*(.+)$', 1)"
    return (
        f"trim(regexp_replace(CASE WHEN {a} = '' THEN {e} ELSE {a} END,"
        f" '\\s+', ' ', 'g'))"
    )


def split_venue_sql(e: str) -> str:
    v = f"regexp_extract({e}, '^(.+?)\\s*(?:@|-|–|—)\\s*(.+)$', 2)"
    return (
        f"CASE WHEN {v} = '' THEN NULL ELSE "
        f"trim(regexp_replace({v}, '\\s+', ' ', 'g')) END"
    )


# ------------------------------------------------------- B19 status derive

def derive_status(card_text: Column) -> Column:
    """'sold out' iff text contains COMPLET (shotgun.py:434-436)."""
    return F.when(
        F.upper(F.coalesce(card_text, F.lit(""))).contains("COMPLET"),
        F.lit("sold out"),
    ).otherwise(F.lit("on sale"))


def derive_status_sql(e: str) -> str:
    return (
        f"CASE WHEN contains(upper(coalesce({e}, '')), 'COMPLET') "
        f"THEN 'sold out' ELSE 'on sale' END"
    )


# ------------------------- B16 difflib parity (pandas UDF, non-oracle path)

def similarity_difflib(a: Column, b: Column) -> Column:
    """Bit-exact reference similarity: difflib SequenceMatcher.ratio()
    over norm_name'd strings (matching.py:29-30), as an Arrow-batched
    pandas UDF.

    The engine's PRIMARY metric is ``similarity`` (normalized
    Levenshtein — JVM-side, oracle-expressible, SURVEY §7.3.2); this UDF
    exists for callers that need byte-for-byte reference parity and for
    the divergence test pinning how far the two metrics sit apart.
    Python-path: keep OUT of hot joins at scale.
    """
    from difflib import SequenceMatcher

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _ratio(na: pd.Series, nb: pd.Series) -> pd.Series:
        return pd.Series(
            [
                SequenceMatcher(None, x or "", y or "").ratio()
                for x, y in zip(na, nb)
            ]
        )

    return _ratio(norm_name(a), norm_name(b))
