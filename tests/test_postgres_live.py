"""LIVE-Postgres parity for the relational store's five SQL statements.

The reference's actual store is Postgres (pkg/db/store.go:73-100), and
until now ON CONFLICT parity was e2e-proven only against DuckDB's DB-API
driver (test_runner.py) — the r8 verdict's residual
#1.  No psycopg driver is installed here, but the container DOES ship
the PostgreSQL server binaries and a ``postgres`` system user, so this
module runs the statements the engine's ``DbApiStore`` actually issues
(stores.py: DDL_EVENTS / DDL_CURSORS / INSERT_EVENT / UPSERT_CURSOR /
UNSHIPPED_SQL — imported, not copied) against a REAL temporary Postgres
cluster via ``psql``, and cross-checks every result row against DuckDB
executing the identical statements: if the two backends ever disagreed
on ON CONFLICT, the boundary exclusion, or the cap+order CTE, the
always-green DuckDB e2e would be pinning the wrong semantics.

Skipped (not failed) when the server binaries are absent or the cluster
cannot start (e.g. a sandbox that blocks the setuid to the unprivileged
``postgres`` user — Postgres refuses to run as root).
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import subprocess
import tempfile

import pytest

from paas_auditor_spark.stores import (
    DDL_CURSORS,
    DDL_EVENTS,
    EVENT_COLUMNS,
    INSERT_EVENT,
    UNSHIPPED_SQL,
    UPSERT_CURSOR,
)

pytestmark = pytest.mark.skipif(
    not (shutil.which("initdb") and shutil.which("pg_ctl") and shutil.which("psql")),
    reason="PostgreSQL server binaries not installed",
)


def _sql_literal(v) -> str:
    """Render one DB-API parameter as a SQL literal for psql.

    The engine's DbApiStore binds parameters through the driver; this
    test has no driver, so binding happens textually — restricted to the
    types the store actually ships (str, datetime, int, None)."""
    if v is None:
        return "NULL"
    if isinstance(v, dt.datetime):
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    raise TypeError(f"unsupported literal type {type(v)}")


def _bind(sql: str, params: tuple) -> str:
    out, it = [], iter(params)
    for ch in sql:
        out.append(_sql_literal(next(it)) if ch == "?" else ch)
    rest = list(it)
    assert not rest, f"unused params: {rest}"
    return "".join(out)


class _PgCluster:
    """One throwaway cluster on a unix socket, run as the unprivileged
    ``postgres`` user (the server refuses root).  API mirrors what the
    test needs from a cursor: execute-and-fetch rows of text."""

    def __init__(self) -> None:
        self.dir = tempfile.mkdtemp(prefix="paas_pg_live_")
        self.data = os.path.join(self.dir, "data")
        self.sock = os.path.join(self.dir, "sock")
        os.makedirs(self.data)
        os.makedirs(self.sock)
        self._as_root = os.geteuid() == 0

    def _run(self, cmd: str, **kw) -> subprocess.CompletedProcess:
        # list form: no outer shell layer, so the inner command's own
        # quoting (listen_addresses='') survives the su boundary intact
        argv = (
            ["su", "-s", "/bin/bash", "postgres", "-c", cmd]
            if self._as_root
            else ["/bin/bash", "-c", cmd]
        )
        return subprocess.run(
            argv, capture_output=True, text=True, cwd=self.dir, **kw
        )

    def start(self) -> bool:
        if self._as_root:
            subprocess.run(
                f"chown -R postgres {self.dir}", shell=True, capture_output=True
            )
        r = self._run(f"initdb -D {self.data} -U postgres -A trust")
        if r.returncode != 0:
            return False
        r = self._run(
            f"pg_ctl -D {self.data} -l {self.dir}/pg.log -w "
            f"-o \"-c listen_addresses='' -k {self.sock}\" start"
        )
        return r.returncode == 0

    def stop(self) -> None:
        self._run(f"pg_ctl -D {self.data} stop -m immediate")
        shutil.rmtree(self.dir, ignore_errors=True)

    def sql(self, statement: str, params: tuple = ()) -> list[list[str]]:
        """Execute one statement (text-bound params), return rows as
        lists of text fields — psql's unaligned tuples-only format."""
        bound = _bind(statement, params)
        r = subprocess.run(
            [
                "psql", "-h", self.sock, "-U", "postgres", "-d", "postgres",
                "-X", "-A", "-t", "-F", "\x1f", "-v", "ON_ERROR_STOP=1",
                "-c", bound,
            ],
            capture_output=True,
            text=True,
        )
        assert r.returncode == 0, f"psql failed: {r.stderr}\nSQL: {bound}"
        return [
            line.split("\x1f") for line in r.stdout.splitlines() if line
        ]


@pytest.fixture(scope="module")
def pg():
    """Started cluster, DDL applied, 10 events seeded — every test gets
    the same baseline regardless of selection/order (r9 review: the
    first cut seeded inside one test and the rest depended on it)."""
    cluster = _PgCluster()
    try:
        if not cluster.start():
            pytest.skip(
                "could not start a temporary Postgres cluster "
                "(sandbox without setuid, or server misconfigured)"
            )
        _seed(cluster.sql)
        yield cluster
    finally:
        cluster.stop()


@pytest.fixture(scope="module")
def duck():
    """DuckDB running the IDENTICAL statements (same module-level seed)
    — the always-on stand-in whose parity with real Postgres this
    module certifies."""
    import duckdb

    con = duckdb.connect()
    _seed(lambda sql, params=(): _duck_rows(con, sql, params))
    yield con
    con.close()


def _duck_rows(con, sql: str, params: tuple = ()) -> list[list[str]]:
    """DuckDB result rendered in psql's text form (unaligned, empty for
    NULL) so the two backends compare byte-for-byte."""
    rows = con.execute(sql, list(params)).fetchall()
    out = []
    for row in rows:
        out.append(
            [
                ""
                if v is None
                else (v.isoformat(sep=" ") if isinstance(v, dt.datetime) else str(v))
                for v in row
            ]
        )
    return out


def _event(i: int, ts: dt.datetime, guid: str | None = None) -> tuple:
    """One cf_audit_events row in EVENT_COLUMNS order, with quoting
    hazards in the payload (apostrophe, JSON braces)."""
    vals = {
        "guid": guid or f"guid-{i:04d}",
        "created_at": ts,
        "event_type": "audit.app.update",
        "actor": f"actor-{i}",
        "actor_type": "user",
        "actor_name": f"o'brien-{i}",
        "actor_username": f"user{i}@example.test",
        "actee": f"app-{i}",
        "actee_type": "app",
        "actee_name": f"web-{i}",
        "organization_guid": f"org-{i % 3}" if i % 5 else None,
        "space_guid": f"space-{i % 2}",
        "metadata": '{"request": {"state": "STARTED", "note": "it\'s fine"}}',
    }
    return tuple(vals[c] for c in EVENT_COLUMNS)


T0 = dt.datetime(2024, 3, 1, 12, 0, 0)


def _seed(run, n: int = 10) -> None:
    run(DDL_EVENTS)
    run(DDL_CURSORS)
    for i in range(n):
        run(INSERT_EVENT, _event(i, T0 + dt.timedelta(seconds=i)))


def test_on_conflict_insert_parity(pg, duck):
    """W1/T3 on the REAL backend: replaying a committed batch and
    re-inserting an overlap window must be no-ops on Postgres exactly as
    on the DuckDB stand-in — first writer wins, row count stable."""
    def pg_run(sql, params=()):
        return pg.sql(sql, params)

    def du_run(sql, params=()):
        return _duck_rows(duck, sql, params)

    for run in (pg_run, du_run):
        # replay the (fixture-seeded) batch: ON CONFLICT (guid) DO NOTHING
        for i in range(10):
            run(INSERT_EVENT, _event(i, T0 + dt.timedelta(seconds=i)))
        # conflicting guid with DIFFERENT payload: first writer wins
        run(INSERT_EVENT, _event(99, T0, guid="guid-0003"))

    q = (
        "SELECT count(*), min(guid), max(guid) FROM cf_audit_events"
    )
    assert pg.sql(q) == _duck_rows(duck, q) == [["10", "guid-0000", "guid-0009"]]
    q2 = "SELECT actor FROM cf_audit_events WHERE guid = 'guid-0003'"
    assert pg.sql(q2) == _duck_rows(duck, q2) == [["actor-3"]]


def test_cursor_upsert_parity(pg, duck):
    """W2: ON CONFLICT (name) DO UPDATE — last writer wins, one row.
    Own cursor name, so no other test's upserts can interfere."""
    for i, ts in enumerate((T0, T0 + dt.timedelta(minutes=5))):
        pg.sql(UPSERT_CURSOR, ("wtest-cursor", ts, f"guid-{i}"))
        duck.execute(UPSERT_CURSOR, ["wtest-cursor", ts, f"guid-{i}"])
    q = (
        "SELECT name, updated_at, shipped_id FROM shipper_cursors"
        " WHERE name = 'wtest-cursor'"
    )
    want = [["wtest-cursor", "2024-03-01 12:05:00", "guid-1"]]
    assert pg.sql(q) == _duck_rows(duck, q) == want


def test_shipper_cte_parity(pg, duck):
    """J1-J4/O3/T5 on the real backend: the verbatim store.go shipper CTE
    — epoch default via UNION, cap INSIDE the recent window, boundary
    guid excluded AFTER — returns identical rows on Postgres and DuckDB.
    Exercises the epoch path by name miss first, then upserts ITS OWN
    cursor for the boundary path (order-independent of other tests)."""
    cap = 4
    # unknown shipper name → epoch default row feeds the CTE
    got_pg = pg.sql(UNSHIPPED_SQL, ("no-such-shipper", cap))
    got_du = _duck_rows(duck, UNSHIPPED_SQL, ("no-such-shipper", cap))
    assert got_pg == got_du
    assert len(got_pg) == cap  # cap binds inside the window
    assert [r[0] for r in got_pg] == [f"guid-{i:04d}" for i in range(cap)]

    # real cursor at event 5's timestamp with its guid as boundary:
    # events ≥ ts minus the shipped boundary row itself
    ts5 = T0 + dt.timedelta(seconds=5)
    pg.sql(UPSERT_CURSOR, ("splunk-shipper", ts5, "guid-0005"))
    duck.execute(UPSERT_CURSOR, ["splunk-shipper", ts5, "guid-0005"])
    got_pg = pg.sql(UNSHIPPED_SQL, ("splunk-shipper", 8192))
    got_du = _duck_rows(duck, UNSHIPPED_SQL, ("splunk-shipper", 8192))
    assert got_pg == got_du
    assert [r[0] for r in got_pg] == [
        f"guid-{i:04d}" for i in range(6, 10)
    ]  # 0005 is the excluded boundary; 0006..0009 ship oldest-first
    # full projection parity: coalesced NULL org guid renders '' on both
    assert all(len(r) == 13 for r in got_pg)


def test_ddl_is_idempotent_on_postgres(pg):
    """W5: the bootstrap DDL must be a no-op when re-applied (the
    reference applies its .sql files on every start, store.go:55-71)."""
    pg.sql(DDL_EVENTS)
    pg.sql(DDL_CURSORS)
    assert pg.sql("SELECT count(*) FROM cf_audit_events") == [["10"]]
