"""Date/time helpers (SURVEY §2.B5, B10-B15, B23).

References:
- date-only extraction  : concerts_etl/core/consolidate_events.py:28-38
- 5-minute floor        : concerts_etl/core/matching.py:19-22
- canonical key         : concerts_etl/core/matching.py:24-27
- ISO parse/format      : concerts_etl/adapters/dice.py:51-66
- FR datetime cascade   : concerts_etl/adapters/shotgun.py:56-84, 307-373
  (dateparser NL parsing replaced by a deterministic pattern cascade —
  SURVEY §7.3.3; full NL parsing would be a pandas UDF in the ingest
  veneer, kept out of the oracle-checked set)
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type-hint resolution needs it

from pyspark.sql import Column
from pyspark.sql import functions as F

from .text import norm_name, norm_name_sql

# ------------------------------------------------------ B5 date extraction

def event_day(ts: Column) -> Column:
    """Calendar day of the (naive) local event timestamp -> DateType."""
    return F.to_date(ts)


def date_str_prefix(c: Column) -> Column:
    """String variant: leading 'YYYY-MM-DD' prefix, else the raw value
    (consolidate_events.py:36-38 returns v when no match)."""
    m = F.regexp_extract(c, r"^(\d{4}-\d{2}-\d{2})", 1)
    return F.when(m == "", c).otherwise(m)


def date_str_prefix_sql(e: str) -> str:
    m = f"regexp_extract({e}, '^(\\d{{4}}-\\d{{2}}-\\d{{2}})', 1)"
    return f"CASE WHEN {m} = '' THEN {e} ELSE {m} END"


# ------------------------------------------------------- B14 5-minute floor

def round5(ts: Column) -> Column:
    """Floor timestamp to the 5-minute grid (matching.py:19-22).

    epoch-based floor: codegen'd, no UDF; identical to DuckDB's
    to_timestamp(floor(epoch(ts)/300)*300).
    """
    return F.timestamp_seconds(F.floor(F.unix_timestamp(ts) / 300) * 300)


def round5_sql(e: str) -> str:
    return f"CAST(to_timestamp(floor(epoch({e}) / 300) * 300) AS TIMESTAMP)"


# ------------------------------------------------------ B15 canonical key

def canonical_key_ts_part(ts: Column) -> Column:
    """The timestamp component of the canonical key: round5(ts) as
    'YYYY-MM-DDTHH:MM', 'na' when ts is null."""
    return F.coalesce(
        F.date_format(round5(ts), "yyyy-MM-dd'T'HH:mm"), F.lit("na")
    )


def canonical_key(name: Column, ts: Column) -> Column:
    """norm_name(name) || '|' || round5(ts) as 'YYYY-MM-DDTHH:MM', 'na' when
    ts is null (matching.py:24-27)."""
    return F.concat_ws("|", norm_name(name), canonical_key_ts_part(ts))


def canonical_key_from_norm(norm: Column, ts: Column) -> Column:
    """:func:`canonical_key` when ``norm_name(name)`` is ALREADY
    materialized on the row — skips a second run of the regex-cascade
    normalization, the dominant per-row CPU of the d8 merge path.
    Exactly equivalent: norm_name output never contains '|' (every
    non-word char is folded to space), so the concat is unambiguous."""
    return F.concat_ws("|", norm, canonical_key_ts_part(ts))


def canonical_key_sql(name_e: str, ts_e: str) -> str:
    ts_part = f"coalesce(strftime({round5_sql(ts_e)}, '%Y-%m-%dT%H:%M'), 'na')"
    return f"concat_ws('|', {norm_name_sql(name_e)}, {ts_part})"


# --------------------------------------------------- B12/B13/B23 ISO forms

def iso_utc_format(ts: Column) -> Column:
    """Aware UTC ts -> 'yyyy-MM-ddTHH:mm:ssZ' (dice.py:65-66)."""
    return F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss'Z'")


# ------------------------------------- B10/B11 deterministic parse cascade

# FR month-name map for the pattern cascade (shotgun.py:344-366 regex path).
FR_MONTHS = {
    "janv": "01", "févr": "02", "fevr": "02", "mars": "03", "avr": "04",
    "mai": "05", "juin": "06", "juil": "07", "août": "08", "aout": "08",
    "sept": "09", "oct": "10", "nov": "11", "déc": "12", "dec": "12",
}

_FR_PAT = (
    r"(?:lun|mar|mer|jeu|ven|sam|dim)?\.?\s*"
    r"(\d{1,2})\s+([a-zéû]+)\.?\s+(\d{4})\s+(\d{1,2}):(\d{2})"
)


def parse_event_datetime(c: Column) -> Column:
    """3-stage cascade (shotgun.py:307-373): ISO attr -> ISO embedded ->
    FR 'ven. 10 oct. 2025 19:30' pattern. Deterministic, oracle-free zone
    (tested against golden fixtures, not the DuckDB oracle)."""
    iso = F.try_to_timestamp(
        F.regexp_extract(c, r"(\d{4}-\d{2}-\d{2}T\d{2}:\d{2}(?::\d{2})?)", 1)
    )
    lowered = F.lower(F.coalesce(c, F.lit("")))
    day = F.regexp_extract(lowered, _FR_PAT, 1)
    mon_name = F.regexp_extract(lowered, _FR_PAT, 2)
    year = F.regexp_extract(lowered, _FR_PAT, 3)
    hh = F.regexp_extract(lowered, _FR_PAT, 4)
    mm = F.regexp_extract(lowered, _FR_PAT, 5)
    mon = mon_name
    for name, num in FR_MONTHS.items():
        mon = F.when(mon_name.startswith(name), F.lit(num)).otherwise(mon)
    fr = F.when(
        (day != "") & mon.rlike(r"^\d{2}$"),
        F.try_to_timestamp(
            F.concat_ws(
                " ",
                F.concat_ws("-", year, mon, F.lpad(day, 2, "0")),
                F.concat_ws(":", F.lpad(hh, 2, "0"), mm, F.lit("00")),
            )
        ),
    )
    return F.coalesce(iso, fr)


_FR_PAT_SQL = (
    r"(?:lun|mar|mer|jeu|ven|sam|dim)?\.?\s*"
    r"(\d{1,2})\s+([a-zéû]+)\.?\s+(\d{4})\s+(\d{1,2}):(\d{2})"
)


def parse_event_datetime_sql(card: str) -> str:
    """DuckDB twin of :func:`parse_event_datetime` (B10/B11 cascade).

    Lived in operators/scalar_suite.py through round 14; moved beside
    its Spark form in round 15 so the landing-lifecycle oracle
    (rotation #12) and the b10 suite share ONE twin."""
    iso = (
        "try_cast(regexp_extract("
        + card
        + r", '(\d{4}-\d{2}-\d{2}T\d{2}:\d{2}(?::\d{2})?)', 1) AS TIMESTAMP)"
    )
    low = f"lower(coalesce({card}, ''))"
    g = lambda n: f"regexp_extract({low}, '{_FR_PAT_SQL}', {n})"  # noqa: E731
    mon_cases = " ".join(
        f"WHEN starts_with({g(2)}, '{name}') THEN '{num}'"
        for name, num in FR_MONTHS.items()
    )
    mon = f"(CASE {mon_cases} ELSE {g(2)} END)"
    fr = (
        f"CASE WHEN {g(1)} <> '' AND regexp_matches({mon}, '^\\d{{2}}$') THEN "
        f"try_cast(concat_ws(' ', concat_ws('-', {g(3)}, {mon}, lpad({g(1)}, 2, '0')), "
        f"concat_ws(':', lpad({g(4)}, 2, '0'), {g(5)}, '00')) AS TIMESTAMP) END"
    )
    return f"coalesce({iso}, {fr})"


def parse_event_datetime_nl(c: Column) -> Column:
    """B10 full natural-language fallback (shotgun.py:56-84).

    If ``dateparser`` is importable (not in this container — import-gated
    per the environment contract), free-text French dates are parsed in
    an Arrow-batched pandas UDF with the reference's settings (French,
    Europe/Paris, prefer-future, naive return); otherwise this degrades
    to the deterministic regex cascade (``parse_event_datetime``), which
    is also the oracle-checked path. Ingest-veneer only — never in the
    hot join (SURVEY §7.3.3).
    """
    try:
        import dateparser  # noqa: F401
    except ImportError:
        return parse_event_datetime(c)

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("timestamp")
    def _nl(texts: pd.Series) -> pd.Series:
        import dateparser as dp

        settings = {
            "TIMEZONE": "Europe/Paris",
            "RETURN_AS_TIMEZONE_AWARE": False,
            "PREFER_DATES_FROM": "future",
        }
        return pd.Series(
            [
                dp.parse(t, languages=["fr"], settings=settings)
                if t
                else None
                for t in texts
            ]
        )

    return F.coalesce(parse_event_datetime(c), _nl(c))
