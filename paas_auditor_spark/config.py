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
    """Defaults match reference main_config.go:34-65.  The values the
    reference fixes in code are module constants next to their use:
    ``paginated_http.PAGE_SIZE``, ``paginated_http.WATERMARK_OVERLAP_S``
    and ``ship.SHIP_BATCH_CAP``."""

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
    # deploy env tag for the ship envelope (reference main_config.go:36,
    # default "dev")
    deploy_env: str = field(
        default_factory=lambda: os.environ.get("DEPLOY_ENV", "dev")
    )
