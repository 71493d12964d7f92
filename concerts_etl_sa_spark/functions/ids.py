"""Stable surrogate keys & lineage columns (SURVEY §2.B9, B24-B25).

Reference: concerts_etl/adapters/shotgun.py:51-54 builds
``slug(name) + '-' + sha1(slug|dt_key)[:8]``. The engine uses **md5**
instead of sha1 (documented divergence: the DuckDB oracle has md5 but not
sha1; the property that matters — stable, collision-resistant short id —
is preserved).
"""

from __future__ import annotations

import uuid

from pyspark.sql import Column
from pyspark.sql import functions as F

from .text import slugify, slugify_sql


def stable_event_id(name: Column, dt_key: Column) -> Column:
    """slug(name or 'event') + '-' + md5(slug|dt_key)[:8] (shotgun.py:51-54)."""
    base = slugify(F.coalesce(F.nullif(name, F.lit("")), F.lit("event")))
    key = F.concat_ws("|", base, F.coalesce(dt_key, F.lit("")))
    return F.concat(base, F.lit("-"), F.substring(F.md5(key), 1, 8))


def stable_event_id_sql(name_e: str, dt_key_e: str) -> str:
    base = slugify_sql(f"coalesce(nullif({name_e}, ''), 'event')")
    key = f"concat_ws('|', {base}, coalesce({dt_key_e}, ''))"
    return f"concat({base}, '-', substr(md5({key}), 1, 8))"


def run_id() -> str:
    """One uuid per ingestion run, stamped driver-side as a literal
    (shotgun.py:118; NOT a per-row uuid() — SURVEY §2.B24)."""
    return str(uuid.uuid4())

