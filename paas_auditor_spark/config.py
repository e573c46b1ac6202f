"""Engine configuration from environment variables.

Mirrors the reference's env-var config surface and defaults
(reference main_config.go:15-108): schedules, pagination pacing, batch caps.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field


def _env_seconds(name: str, default: float) -> float:
    raw = os.environ.get(name)
    if raw is None:
        return default
    raw = raw.strip().lower()
    # accept "15s" / "2m" / bare seconds, like Go's time.ParseDuration subset
    try:
        if raw.endswith("ms"):
            return float(raw[:-2]) / 1000.0
        if raw.endswith("s"):
            return float(raw[:-1])
        if raw.endswith("m"):
            return float(raw[:-1]) * 60.0
        if raw.endswith("h"):
            return float(raw[:-1]) * 3600.0
        return float(raw)
    except ValueError:
        return default


@dataclass
class EngineConfig:
    """Defaults match reference main_config.go:34-65 and store.go:206."""

    # collector tick (reference main_config.go:56, default 2m)
    collector_schedule_s: float = field(
        default_factory=lambda: _env_seconds("COLLECTOR_SCHEDULE", 120.0)
    )
    # shipper tick (reference main_config.go:58, default 15s)
    shipper_schedule_s: float = field(
        default_factory=lambda: _env_seconds("SHIPPER_SCHEDULE", 15.0)
    )
    # informer tick (reference main_config.go:57, default 15s)
    informer_schedule_s: float = field(
        default_factory=lambda: _env_seconds("INFORMER_SCHEDULE", 15.0)
    )
    # inter-page wait (reference main_config.go:55, default 200ms)
    pagination_wait_s: float = field(
        default_factory=lambda: _env_seconds("FETCHER_PAGINATION_WAIT_TIME", 0.2)
    )
    # page size (reference cf_audit_event_fetcher.go:29, fixed 100)
    page_size: int = 100
    # ship batch cap (reference store.go:206, fixed 8192)
    ship_batch_cap: int = 8192
    # watermark overlap (reference cf_audit_event_collector.go:36, fixed 5s)
    watermark_overlap_s: float = 5.0
    # deploy env tag for the ship envelope (reference main_config.go:36,
    # default "dev")
    deploy_env: str = field(
        default_factory=lambda: os.environ.get("DEPLOY_ENV", "dev")
    )
