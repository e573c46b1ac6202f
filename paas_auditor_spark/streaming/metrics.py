"""Pipeline observability: the reference's 9 metrics (README.md:45-58),
same names, in a plain thread-safe dict registry (W6/T6 in SURVEY.md
§2.6/§2.7).  The service's ticks and the streaming collector's
``foreachBatch`` sink update it on the driver, and ``render_text`` is what
``/metrics`` serves.  Names beyond the reference's register on first use:
the per-shipper names of a custom sink, and
``cf_audit_event_collector_events_rejected_total``, which every ingest
step adds to (zero included), so it is served from the first tick.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field

COUNTERS = (
    "cf_audit_event_collector_collect_duration_total",
    "cf_audit_event_collector_errors_total",
    "cf_audit_event_collector_events_collected_total",
    "cf_audit_events_to_splunk_shipper_errors_total",
    "cf_audit_events_to_splunk_shipper_events_shipped_total",
    "cf_audit_events_to_splunk_shipper_ship_duration_total",
)
GAUGES = (
    "cf_audit_events_to_splunk_shipper_latest_event_timestamp",
    "informer_cf_audit_events_total",
    "informer_latest_cf_audit_event_timestamp",
)
HELP = {
    "cf_audit_event_collector_collect_duration_total":
        "Seconds spent in collector ticks.",
    "cf_audit_event_collector_errors_total": "Collector ticks that failed.",
    "cf_audit_event_collector_events_collected_total":
        "Events the collector stored.",
    "cf_audit_event_collector_events_rejected_total":
        "Fetched events the collector dropped for a null guid or a"
        " created_at missing or at or before the epoch.",
    "cf_audit_events_to_splunk_shipper_errors_total":
        "Shipper ticks that stopped at a batch HEC did not acknowledge.",
    "cf_audit_events_to_splunk_shipper_events_shipped_total":
        "Events in batches HEC acknowledged.",
    "cf_audit_events_to_splunk_shipper_ship_duration_total":
        "Seconds spent in shipper ticks.",
    "cf_audit_events_to_splunk_shipper_latest_event_timestamp":
        "Epoch seconds of the last event HEC acknowledged.",
    "informer_cf_audit_events_total": "Events in the store.",
    "informer_latest_cf_audit_event_timestamp":
        "Epoch seconds of the newest stored event.",
}


@dataclass
class MetricsRegistry:
    """Thread-safe counter/gauge registry with the reference's metric names."""

    values: dict[str, float] = field(
        default_factory=lambda: {name: 0.0 for name in COUNTERS + GAUGES}
    )
    types: dict[str, str] = field(
        default_factory=lambda: dict.fromkeys(COUNTERS, "counter")
        | dict.fromkeys(GAUGES, "gauge")
    )
    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False)

    def inc(self, name: str, amount: float = 1.0) -> None:
        # unknown names register lazily (prometheus-client semantics):
        # a custom shipper name must not crash the tick AFTER delivery
        # but BEFORE the cursor commit — that would re-ship the batch
        # forever.  The 9 reference names stay pre-registered above.
        with self._lock:
            self.values[name] = self.values.get(name, 0.0) + amount
            self.types.setdefault(name, "counter")

    def set(self, name: str, value: float) -> None:
        with self._lock:
            self.values[name] = value
            self.types.setdefault(name, "gauge")

    def get(self, name: str) -> float:
        with self._lock:
            return self.values[name]

    def render_text(self) -> str:
        """Prometheus text exposition (what /metrics serves): a ``# HELP``
        and a ``# TYPE`` line, then the sample, per metric."""
        with self._lock:
            return "".join(
                f"# HELP {k} {HELP.get(k, k.replace('_', ' ') + '.')}\n"
                f"# TYPE {k} {self.types[k]}\n"
                f"{k} {v}\n"
                for k, v in sorted(self.values.items())
            )


__all__ = ["COUNTERS", "GAUGES", "HELP", "MetricsRegistry"]
