"""Pipeline observability: the reference's 9 metrics (README.md:45-58),
same names, in a plain thread-safe dict registry (W6/T6 in SURVEY.md
§2.6/§2.7).  The service's ticks and the streaming collector's
``foreachBatch`` sink update it on the driver, and ``render_text`` is what
``/metrics`` serves.
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


@dataclass
class MetricsRegistry:
    """Thread-safe counter/gauge registry with the reference's metric names."""

    values: dict[str, float] = field(
        default_factory=lambda: {name: 0.0 for name in COUNTERS + GAUGES}
    )
    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False)

    def inc(self, name: str, amount: float = 1.0) -> None:
        # unknown names register lazily (prometheus-client semantics):
        # a custom shipper name must not crash the tick AFTER delivery
        # but BEFORE the cursor commit — that would re-ship the batch
        # forever.  The 9 reference names stay pre-registered above.
        with self._lock:
            self.values[name] = self.values.get(name, 0.0) + amount

    def set(self, name: str, value: float) -> None:
        with self._lock:
            self.values[name] = value

    def get(self, name: str) -> float:
        with self._lock:
            return self.values[name]

    def render_text(self) -> str:
        """Prometheus text exposition (what /metrics would serve)."""
        with self._lock:
            return "\n".join(f"{k} {v}" for k, v in sorted(self.values.items()))


__all__ = ["COUNTERS", "GAUGES", "MetricsRegistry"]
