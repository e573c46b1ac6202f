"""Deterministic CF audit events for the service workload.

Both the load generator (which serves the events and checks what the fake
HEC receives) and the runner (which seeds warehouse history) build events
from the same ``(seed, start, count, per_sec)`` description, so neither
needs the other's copy.  Standard library only: the load generator must not
import Spark.
"""

from __future__ import annotations

import datetime as dt
import random
import uuid

BASE = dt.datetime(2024, 3, 1, 12, 0, 0)
TIME_FORMAT = "%Y-%m-%dT%H:%M:%SZ"
EVENT_TYPES = (
    "audit.app.create",
    "audit.app.update",
    "audit.app.start",
    "audit.app.stop",
    "audit.space.create",
    "audit.user.login",
)


def make_events(
    seed: int, start: int, count: int, per_sec: int, t0: int
) -> list[dict]:
    """Events ``start .. start+count-1`` as ``/v2/events`` resources.

    Contents come from ``random.Random`` seeded on ``(seed, start)``.  Event
    time starts ``t0`` seconds after ``BASE`` and ``per_sec`` events share
    each second, so it never runs backwards within a block; the caller
    starts each block after the previous one."""
    rng = random.Random(f"{seed}:{start}")
    out = []
    for k in range(count):
        i = start + k
        guid = str(uuid.UUID(int=rng.getrandbits(128), version=4))
        ts = (BASE + dt.timedelta(seconds=t0 + k // per_sec)).strftime(
            TIME_FORMAT)
        user = rng.randrange(500)
        app = rng.randrange(2000)
        org = "" if rng.random() < 0.2 else f"org-{rng.randrange(40)}"
        out.append(
            {
                "metadata": {
                    "guid": guid,
                    "url": f"/v2/events/{guid}",
                    "created_at": ts,
                    "updated_at": None,
                },
                "entity": {
                    "type": rng.choice(EVENT_TYPES),
                    "actor": f"user-{user}",
                    "actor_type": "user",
                    "actor_name": f"name-{user}",
                    "actor_username": f"user{user}@example.com",
                    "actee": f"app-{app}",
                    "actee_type": "app",
                    "actee_name": f"app-name-{app}",
                    "timestamp": ts,
                    "organization_guid": org,
                    "space_guid": f"space-{rng.randrange(200)}",
                    "metadata": {
                        "request": f"req-{rng.getrandbits(32):08x}",
                        "index": str(i),
                    },
                },
            }
        )
    return out


def expected_event(resource: dict) -> dict:
    """The ``event`` object a correct shipper posts for ``resource``."""
    meta, ent = resource["metadata"], resource["entity"]
    return {
        "guid": meta["guid"],
        "type": ent["type"],
        "created_at": meta["created_at"],
        "actor": ent["actor"],
        "actor_type": ent["actor_type"],
        "actor_name": ent["actor_name"],
        "actor_username": ent["actor_username"],
        "actee": ent["actee"],
        "actee_type": ent["actee_type"],
        "actee_name": ent["actee_name"],
        "organization_guid": ent["organization_guid"],
        "space_guid": ent["space_guid"],
        "metadata": ent["metadata"],
    }
