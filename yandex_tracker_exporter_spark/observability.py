"""Run metrics via ``df.observe`` (U3/A3/A4) and error
shipping (the Sentry analogue).

The reference wraps methods with DogStatsd count/gauge/timing decorators
(``services/monitoring.py:44-77``) and logs RSS/throughput every N rows
(``etl.py:156-161``). Spark-native equivalents: ``df.observe`` attaches
named aggregates that are computed DURING the action (no extra pass —
the reference's counters each cost a python statement per row), read
from the returned ``Observation`` once the action has run.

Error shipping mirrors ``sentry_sdk.init(before_send=sentry_events_filter)``
(``services/monitoring.py:80-89`` + ``main.py``): exceptions become event
dicts, run through a filter chain that can drop or annotate them, and
survivors go to an injectable sink callable — no sentry dependency.
"""

from __future__ import annotations

import datetime as dt
import socket
import time
import traceback
from typing import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


class ExporterError(Exception):
    """Engine error root (reference ``exceptions.py`` ``ExporterError``)."""


class TrackerError(ExporterError):
    """Tracker-source failure (reference ``exceptions.py`` ``TrackerError``
    family — client/request/server split collapsed; the transport layer
    here is the DataSource, which surfaces one error type)."""


def with_run_counters(df: DataFrame, name: str = "etl") -> tuple[DataFrame, Observation]:
    """Attach the reference's run counters (A3) as observed metrics:
    row count, null-key count, max updated_at. Read them from the
    returned Observation after any action on the DataFrame."""
    obs = Observation(name)
    key_col = "issue_key" if "issue_key" in df.columns else df.columns[0]
    ts_col = "updated_at" if "updated_at" in df.columns else None
    metrics = [
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col(key_col).isNull(), 1).otherwise(0)).alias("null_keys"),
    ]
    if ts_col:
        metrics.append(F.max(ts_col).alias("max_updated_at"))
    return df.observe(obs, *metrics), obs


class StatsdExporter:
    """Ship metrics in the DogStatsd wire format over UDP (reference
    ``services/monitoring.py:23-89``: ``send_count_metric`` /
    ``send_gauge_metric`` / measure-time decorator).

    Dependency-free: the DogStatsd text protocol is a one-line datagram
    (``metric:value|type|#tag:v,...``), so a plain UDP socket replaces
    the datadog client. UDP is fire-and-forget — no agent listening
    means datagrams are dropped, never an error, matching the
    reference's sidecar model. ``prefix`` and base ``tags`` mirror the
    reference's ``monitoring_metrics_base_prefix``/``_base_labels``.
    """

    def __init__(
        self,
        host: str = "127.0.0.1",
        port: int = 8125,
        prefix: str = "tracker_exporter",
        tags: dict[str, str] | None = None,
        enabled: bool = True,
    ) -> None:
        self.addr = (host, port)
        self.prefix = prefix
        self.base_tags = dict(tags or {})
        self.enabled = enabled
        self._sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)

    def _format(
        self, name: str, value, type_code: str, tags: dict[str, str] | None
    ) -> bytes:
        all_tags = {**self.base_tags, **(tags or {})}
        suffix = (
            "|#" + ",".join(f"{k}:{v}" for k, v in sorted(all_tags.items()))
            if all_tags
            else ""
        )
        return f"{self.prefix}.{name}:{value}|{type_code}{suffix}".encode()

    def _send(self, payload: bytes) -> None:
        if not self.enabled:
            return
        try:
            self._sock.sendto(payload, self.addr)
        except OSError:  # pragma: no cover - metrics must never break runs
            pass

    def count(self, name: str, value: int = 1, tags: dict | None = None) -> None:
        self._send(self._format(name, value, "c", tags))

    def gauge(self, name: str, value, tags: dict | None = None) -> None:
        self._send(self._format(name, value, "g", tags))

    def timing(self, name: str, seconds: float, tags: dict | None = None) -> None:
        # DogStatsd timers are milliseconds
        self._send(self._format(name, round(seconds * 1000.0, 3), "ms", tags))

    def timed(self, name: str, tags: dict | None = None):
        """Context manager mirroring the reference's measure-time
        decorator (``monitoring.py:64-77``)."""
        exporter = self

        class _Timer:
            def __enter__(self):
                self._t0 = time.perf_counter()
                return self

            def __exit__(self, exc_type, exc, tb):
                exporter.timing(name, time.perf_counter() - self._t0, tags)
                return False

        return _Timer()

    def ship_observation(
        self, obs: Observation, run: str = "etl", tags: dict | None = None
    ) -> None:
        """Export every observed metric of a finished run as gauges —
        the bridge from ``with_run_counters`` to the metrics backend."""
        for key, value in obs.get.items():
            if isinstance(value, (int, float)):
                self.gauge(f"{run}.{key}", value, tags)


def default_events_filter(event: dict, hint: dict) -> dict | None:
    """The reference's ``sentry_events_filter`` re-expressed
    (``services/monitoring.py:80-89``): drop every event that carries no
    exception; group all Tracker-source failures under one fingerprint so
    rate-limit blips don't fan out into distinct issues."""
    if "exc_info" not in hint:
        return None
    exception = hint["exc_info"][1]
    if isinstance(exception, TrackerError):
        event["fingerprint"] = ["tracker-error"]
    return event


class ErrorShipper:
    """Dependency-free Sentry analogue: ``capture()`` builds an event
    dict, runs it through the filter chain (each filter may return a
    modified event or ``None`` to drop), and hands survivors to ``sink``
    — a plain callable (an HTTP poster, a log shipper, a test list).

    ``watch()`` wraps a code block: exceptions are captured and re-raised,
    mirroring how the sentry SDK hooks sys.excepthook around the
    reference's ETL loop.
    """

    def __init__(
        self,
        sink: Callable[[dict], None],
        filters: tuple[Callable[[dict, dict], dict | None], ...] = (
            default_events_filter,
        ),
    ) -> None:
        self.sink = sink
        self.filters = filters

    def capture(
        self, exc: BaseException | None, context: dict | None = None
    ) -> dict | None:
        event: dict | None = {
            "timestamp": dt.datetime.now(dt.timezone.utc).isoformat(),
            "message": str(exc) if exc is not None else None,
            "exc_type": type(exc).__name__ if exc is not None else None,
            "traceback": (
                "".join(traceback.format_exception(exc)) if exc is not None else None
            ),
            **(context or {}),
        }
        hint = {"exc_info": (type(exc), exc, exc.__traceback__)} if exc else {}
        for events_filter in self.filters:
            event = events_filter(event, hint)
            if event is None:
                return None
        self.sink(event)
        return event

    def watch(self, **context):
        """Context manager: capture-and-reraise for a run scope."""
        shipper = self

        class _Watch:
            def __enter__(self):
                return self

            def __exit__(self, exc_type, exc, tb):
                if exc is not None:
                    shipper.capture(exc, context)
                return False  # never swallow

        return _Watch()
