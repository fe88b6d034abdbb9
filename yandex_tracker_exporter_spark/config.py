"""Engine configuration (semantic defaults mirrored from the reference).

The reference drives these from env via pydantic-settings with an
``EXPORTER_`` prefix and ``__`` nested delimiter
(``tracker_exporter/config.py:179-244``); here they are a plain frozen
dataclass so the engine is embeddable and testable, plus
:meth:`EngineConfig.from_env` which reads the reference's variable names
(``EXPORTER_CLOSED_ISSUE_STATUSES``, ``EXPORTER_WORKDAYS``,
``EXPORTER_BUSINESS_HOURS_START``, ``EXPORTER_TRACKER__TIMEZONE`` …) so a
container configured for the reference configures this engine unchanged.
Only settings that change *query semantics* live here — deployment knobs
(spark conf) live in ``session.py``.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field, fields


@dataclass(frozen=True)
class EngineConfig:
    #: Statuses that mean "closed" (reference ``config.py:201,216-226``);
    #: drives the ``is_closed`` flag and the closed_at refinement.
    closed_statuses: tuple[str, ...] = (
        "closed",
        "rejected",
        "resolved",
        "cancelled",
        "released",
    )
    #: Business calendar: workdays Mon(0)..Fri(4) (``config.py:193``),
    #: business hours 09:00-22:00 (``config.py:194-195``).
    workdays: tuple[int, ...] = (0, 1, 2, 3, 4)
    business_hour_start: int = 9
    business_hour_end: int = 22
    #: Display timezone (``config.py:114``); storage is always UTC.
    timezone: str = "Europe/Moscow"
    #: Date fields scrubbed for ClickHouse epoch-0 compat (``config.py:202-214``).
    not_nullable_fields: tuple[str, ...] = (
        "created_at",
        "resolved_at",
        "closed_at",
        "updated_at",
        "released_at",
        "deadline",
        "start_date",
        "end_date",
        "start_time",
        "end_time",
        "moved_at",
    )
    #: Incremental-search defaults: sliding window (``config.py:84``) and
    #: stateful initial backfill (``config.py:187``), human-time strings.
    search_range: str = "2h"
    stateful_initial_range: str = "1w"
    #: ISO holiday dates (YYYY-MM-DD). The reference hardcodes
    #: ``holidays.RU()`` (``helpers.py:60``); here it is data — a broadcast
    #: dimension — so the calendar scales and is testable.
    holiday_dates: tuple[str, ...] = ()
    #: Changelog event types kept by the metric pipeline (``base.py:23-25``).
    workflow_event_type: str = "IssueWorkflow"
    moved_event_type: str = "IssueMoved"

    @classmethod
    def from_env(
        cls, prefix: str = "EXPORTER_", env: dict[str, str] | None = None
    ) -> "EngineConfig":
        """Build a config from the reference's environment variables.

        Accepted names (case-insensitive, ``prefix`` configurable) mirror
        pydantic-settings' flattening of the reference ``Settings`` model
        (``config.py:179-244``; nested fields use ``__``):

        ========================================  =========================
        env var                                   field
        ========================================  =========================
        EXPORTER_CLOSED_ISSUE_STATUSES            closed_statuses (CSV)
        EXPORTER_WORKDAYS                         workdays (JSON or CSV)
        EXPORTER_BUSINESS_HOURS_START / _END      business_hour_start/_end
                                                  ("9", "09:00", "09:00:00")
        EXPORTER_TRACKER__TIMEZONE                timezone
        EXPORTER_NOT_NULLABLE_FIELDS              not_nullable_fields (CSV)
        EXPORTER_TRACKER__SEARCH__RANGE           search_range
        EXPORTER_STATEFUL_INITIAL_RANGE           stateful_initial_range
        EXPORTER_HOLIDAY_DATES                    holiday_dates (CSV; an
                                                  engine extension — the
                                                  reference hardcodes
                                                  holidays.RU())
        ========================================  =========================

        Unknown ``prefix``-ed variables are ignored (the reference sets
        ``extra = "ignore"``); unset variables keep dataclass defaults.
        """
        src = os.environ if env is None else env
        lookup = {k.upper(): v for k, v in src.items()}

        def get(name: str) -> str | None:
            value = lookup.get((prefix + name).upper())
            return value if value not in (None, "") else None

        def csv_tuple(raw: str) -> tuple[str, ...]:
            return tuple(x.strip() for x in raw.split(",") if x.strip())

        def int_list(raw: str) -> tuple[int, ...]:
            try:
                parsed = json.loads(raw)
                if isinstance(parsed, list):
                    return tuple(int(x) for x in parsed)
                return (int(parsed),)
            except (ValueError, TypeError):
                return tuple(int(x) for x in raw.split(",") if x.strip())

        def hour(raw: str) -> int:
            return int(raw.split(":", 1)[0])

        overrides: dict[str, object] = {}
        if (v := get("CLOSED_ISSUE_STATUSES")) is not None:
            overrides["closed_statuses"] = csv_tuple(v)
        if (v := get("WORKDAYS")) is not None:
            overrides["workdays"] = int_list(v)
        if (v := get("BUSINESS_HOURS_START")) is not None:
            overrides["business_hour_start"] = hour(v)
        if (v := get("BUSINESS_HOURS_END")) is not None:
            overrides["business_hour_end"] = hour(v)
        if (v := get("TRACKER__TIMEZONE")) is not None:
            overrides["timezone"] = v
        if (v := get("NOT_NULLABLE_FIELDS")) is not None:
            overrides["not_nullable_fields"] = csv_tuple(v)
        if (v := get("TRACKER__SEARCH__RANGE")) is not None:
            overrides["search_range"] = v
        if (v := get("STATEFUL_INITIAL_RANGE")) is not None:
            overrides["stateful_initial_range"] = v
        if (v := get("HOLIDAY_DATES")) is not None:
            overrides["holiday_dates"] = csv_tuple(v)
        return cls(**overrides)


DEFAULT_CONFIG = EngineConfig()


def env_state_store_settings(
    prefix: str = "EXPORTER_", env: dict[str, str] | None = None
) -> dict[str, str | None]:
    """Reference state-backend env surface → :func:`state_store_factory`
    arguments (``config.py:141-175``: ``EXPORTER_STATE__STORAGE`` is
    ``jsonfile``/``redis``, ``EXPORTER_STATE__JSONFILE_STRATEGY`` is
    ``local``/``s3``, plus the path / DSN)."""
    src = os.environ if env is None else env
    lookup = {k.upper(): v for k, v in src.items()}

    def get(name: str, default: str | None = None) -> str | None:
        value = lookup.get((prefix + name).upper())
        return value if value not in (None, "") else default

    storage = (get("STATE__STORAGE", "jsonfile") or "jsonfile").lower()
    if storage == "redis":
        return {
            "strategy": "redis",
            "path": None,
            "url": get("STATE__REDIS_DSN", "redis://localhost:6379"),
        }
    strategy = (get("STATE__JSONFILE_STRATEGY", "local") or "local").lower()
    return {
        "strategy": "s3" if strategy == "s3" else "local",
        "path": get("STATE__JSONFILE_PATH", "state.json"),
        "url": None,
    }
