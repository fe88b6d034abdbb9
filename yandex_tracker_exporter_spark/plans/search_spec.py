"""Incremental search-spec → Catalyst predicate compiler (F1-F3).

The reference builds a Tracker QL *string* with three precedence modes
(``etl.py:66-111``): explicit raw query > stateful watermark (with
``stateful_initial_range`` backfill fallback) > queues + sliding range.
Here the same "search spec" IR compiles to DataFrame predicates, which
Catalyst pushes into the scan (PushedFilters) — the Spark equivalent of
pushing the predicate into the remote API.

Queue include/exclude parity (F2, ``config.py:88-97``): a spec like
``"DEV,SRE,!TEST"`` upper-cases entries; ``!`` marks exclusions.
Range strings (F3) parse with ``from_human_time``.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from yandex_tracker_exporter_spark.functions.datetimes import from_human_time


def parse_queues(spec: str) -> tuple[list[str], list[str]]:
    """``"DEV,SRE,!TEST"`` → (includes, excludes), upper-cased (F2)."""
    includes: list[str] = []
    excludes: list[str] = []
    for raw in spec.split(","):
        name = raw.strip().upper()
        if not name:
            continue
        if name.startswith("!"):
            excludes.append(name[1:])
        else:
            includes.append(name)
    return includes, excludes


@dataclass(frozen=True)
class SearchSpec:
    """The tiny IR the reference encodes as a Tracker QL string (F1)."""

    raw_predicate: Column | None = None  # explicit query (highest precedence)
    queues: str | None = None  # include/exclude spec, e.g. "DEV,!TEST"
    watermark: dt.datetime | None = None  # stateful mode offset
    search_range: str = "2h"  # sliding-window mode (F3 human range)
    stateful_initial_range: str = "1w"  # backfill when no watermark yet
    now: dt.datetime | None = None  # injected clock for determinism


def compile_search(
    spec: SearchSpec,
    queue_col: str = "queue",
    updated_col: str = "updated_at",
) -> Column:
    """Compile the spec to one boolean Column (Catalyst pushes it down).
    ``updated_col`` is SQL expression text, e.g. a parsed timestamp.

    Mode precedence mirrors ``etl.py:98-109``: raw predicate wins;
    else stateful watermark (or initial-range backfill); else the
    sliding window. Queue filters apply in every mode.
    """
    predicates: list[Column] = []

    if spec.queues:
        includes, excludes = parse_queues(spec.queues)
        if includes:
            predicates.append(F.upper(F.col(queue_col)).isin(*includes))
        if excludes:
            predicates.append(~F.upper(F.col(queue_col)).isin(*excludes))

    if spec.raw_predicate is not None:
        predicates.append(spec.raw_predicate)
    else:
        now = spec.now or dt.datetime.now(dt.timezone.utc)
        if spec.watermark is not None:
            lower_bound = spec.watermark
        elif spec.queues:
            lower_bound = now - dt.timedelta(
                seconds=from_human_time(spec.search_range)
            )
        else:
            lower_bound = now - dt.timedelta(
                seconds=from_human_time(spec.stateful_initial_range)
            )
        predicates.append(F.expr(updated_col) >= F.lit(lower_bound))

    combined = predicates[0]
    for p in predicates[1:]:
        combined = combined & p
    return combined


def apply_search(df: DataFrame, spec: SearchSpec, **cols) -> DataFrame:
    """``df.filter(compile_search(spec))`` convenience (F1+F4)."""
    return df.where(compile_search(spec, **cols))
