"""Pluggable event stores for the service runner.

The reference persists to Postgres and delegates its relational work to
five SQL statements (pkg/db/store.go:28-400).  The engine's north-star
deployment does the same through JDBC/DB-API; the default local warehouse
is parquet.  Both are exposed behind one small store surface so
``runner.Service`` is storage-agnostic:

- ``latest_event_time()``  — watermark basis (store.go:289-308)
- ``overlap_keys(floor)``  — the stored guids at or after ``floor``, as a
  Python set: the dedup window of W1/T3, which ``ingest_delta`` applies
  on the driver
- ``append_events(rows)``  — idempotent insert (store.go:73-100) of the
  rows ``ingest_delta`` found fresh
- ``event_count()``        — informer count (store.go:310-329 reads
  pg_class.reltuples)
- ``effective_cursor(name)`` / ``upsert_cursor(...)`` — W2
  (store.go:191-199, 262-287); the shipper commits after every
  acknowledged HEC batch, so a commit must cost milliseconds
- ``unshipped_events(name, cap)`` — the shipper CTE (store.go:191-225)

Every method takes and returns plain Python values: ``EVENT_ROWS``
tuples (``created_at`` aware UTC going in, naive UTC wall clock coming
out), naive UTC wall-clock datetimes, sets, counts.  The batches are
small — the rows of one collector tick, at most ``cap`` (8192) rows to
ship — so the stores are the sink code of the service path, as the
reference's Go store is, and the shipper builds its envelopes from the
returned tuples.

**Where the relational work runs differs by backend, deliberately.**
``DbApiStore`` pushes the cursor CTE, the count, the watermark MAX and
the insert down to the database — exactly like the reference, whose
Postgres does this work — because the database has the indexes.  Its
append is one ``INSERT … ON CONFLICT (guid) DO NOTHING`` ``executemany``
in one transaction on the driver (W1).

``ParquetStore`` answers the per-tick reads from file operations, in the
place of Postgres's ``created_at`` index and ``reltuples``.  Its layout:

    <warehouse>/shipper_cursors.json       {name: [updated_at, shipped_id]}
    <warehouse>/cf_audit_events/part-*     the events, one file per part
    <warehouse>/cf_audit_events/_staging/  appends being written
    <warehouse>/cf_audit_events/_events_log/<n>.json
                                           per-file stats of one append

- An append writes its parquet files under ``_staging/<id>/``, renames
  every file that holds rows into the table directory — the rename is the
  commit — and then writes one log entry with each file's name, rows,
  ``min_created_at`` and ``max_created_at`` (UTC wall-clock strings).
- The directory listing stays the only authority on which rows exist;
  the log only caches stats.  Each read lists the table once and reads
  and logs the stats of any file the log lacks: a crash between the
  rename and the entry, a warehouse from an earlier version, a file
  written into the table by another tool.  Entries are keyed by file
  name, so a second entry for a file is harmless.
- Stats come from each file's ``created_at`` column read with pyarrow,
  not from footer min/max: Spark writes the column as INT96, which has
  no footer statistics.
- Leftovers under ``_staging/`` are swept when the store opens: one
  writer (the collector) per warehouse.
- Spark's and pyarrow's directory reads skip both underscore-prefixed
  directories, so ``spark.read.parquet(<table>)`` reads the same rows.

The watermark is then the log's max, the count its row sum (exact), and
``overlap_keys`` and ``unshipped_events`` read only the files whose
logged max reaches their floor — one or two near the tail — with
pyarrow, so neither runs a Spark job.  The events table is not
partitioned: pruning is by the per-file max.  The cursors are one small
JSON file replaced atomically, with no Spark job.  An append is the one
Spark job: the fresh rows become one Arrow-built DataFrame in one
partition, written as one file.
"""

from __future__ import annotations

import datetime as dt
import importlib
import json
import os
import shutil
import uuid
from collections.abc import Callable
from typing import NamedTuple

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import SparkSession

from paas_auditor_spark.functions.timecross import (
    parse_wall,
    ts_string,
    wall_string,
)
from paas_auditor_spark.operators.cursor import EPOCH_TS
from paas_auditor_spark.sources.bootstrap import EVENTS_TABLE, init_warehouse
from paas_auditor_spark.sources.paginated_http import EVENT_ROWS

EVENT_COLUMNS = EVENT_ROWS.names
# the events as pyarrow reads them: created_at naive UTC wall clock
ARROW_EVENTS = pa.schema(
    [
        (c, pa.timestamp("us") if c == "created_at" else pa.string())
        for c in EVENT_COLUMNS
    ]
)
# {name: [updated_at wall-clock string, shipped_id]}
CURSORS_FILE = "shipper_cursors.json"
STAGING = "_staging"
EVENTS_LOG = "_events_log"


class FileStats(NamedTuple):
    """One events file's row count and ``created_at`` bounds (naive UTC
    wall clock; ``None`` when the file holds no rows)."""

    rows: int
    lo: dt.datetime | None
    hi: dt.datetime | None


def _visible(name: str) -> bool:
    """Spark's and pyarrow's directory reads skip ``_``/``.`` names: the
    staging area, the log, ``_SUCCESS`` and checksum files."""
    return not name.startswith(("_", "."))


def _read_events(path: str, columns: list[str]) -> pa.Table:
    """``columns`` of one events file with pyarrow, typed as in
    ``ARROW_EVENTS``.  ``created_at`` becomes naive UTC microseconds:
    INT96 (Spark) is read as ``us`` and a finer unit truncated, which
    keeps every ``>= floor`` test at microsecond floors; a zoned column
    (pyarrow writers) keeps its instant.  It passes through int64
    because pyarrow casts a zoned column to naive as the zone's local
    wall clock; the process timezone never enters."""
    table = pq.read_table(
        path, columns=columns, coerce_int96_timestamp_unit="us"
    )
    i = table.schema.get_field_index("created_at")
    col = table.column(i)
    utc = col.cast(pa.timestamp("us", col.type.tz), safe=False)
    table = table.set_column(i, "created_at", utc.cast(pa.int64()))
    return table.cast(pa.schema([ARROW_EVENTS.field(c) for c in columns]))


def _arrow_events(rows: list[tuple]) -> pa.Table:
    """``EVENT_ROWS`` tuples as one Arrow table.  ``created_at`` is an
    aware UTC instant, so it crosses into Spark without any timezone
    conversion (Arrow ``timestamp[us, UTC]`` is Spark's own encoding).
    It must be UTC: pyarrow builds this array from the wall clock and
    drops any other offset."""
    return pa.table(
        {
            c: pa.array(
                col,
                pa.timestamp("us", tz="UTC")
                if c == "created_at"
                else pa.string(),
            )
            for c, col in zip(EVENT_COLUMNS, zip(*rows))
        }
    )


def file_stats(path: str) -> FileStats:
    """Stats of one events file from its ``created_at`` column alone."""
    col = _read_events(path, ["created_at"]).column(0)
    bounds = pc.min_max(col)
    return FileStats(len(col), bounds["min"].as_py(), bounds["max"].as_py())


class ParquetStore:
    """Local/lakehouse store: parquet events with a per-file stats log,
    pyarrow reads of the files near the tail, cursors in
    ``<warehouse>/shipper_cursors.json``."""

    def __init__(self, spark: SparkSession, warehouse_dir: str) -> None:
        self.spark = spark
        self.paths = init_warehouse(spark, warehouse_dir)  # W5
        self.events_dir = self.paths[EVENTS_TABLE]
        self.staging_dir = os.path.join(self.events_dir, STAGING)
        self.log_dir = os.path.join(self.events_dir, EVENTS_LOG)
        # files an append staged but never renamed in hold no table rows
        shutil.rmtree(self.staging_dir, ignore_errors=True)
        os.makedirs(self.log_dir, exist_ok=True)
        self._stats: dict[str, FileStats] = {}
        self._next_entry = 0
        self._load_log()
        self.cursor_path = os.path.join(warehouse_dir, CURSORS_FILE)
        if not os.path.exists(self.cursor_path):
            self._import_table_cursors(warehouse_dir)

    def _import_table_cursors(self, warehouse_dir: str) -> None:
        """One-shot import of the ``shipper_cursors`` parquet table that
        earlier versions kept: without it an upgraded service would
        restart from epoch and re-ship all history.  A crash between
        that version's two swap renames left only ``._old``, which then
        holds the committed cursor.  Writing the JSON file marks the
        import done; the table is left in place."""
        for legacy in ("shipper_cursors", "shipper_cursors._old"):
            path = os.path.join(warehouse_dir, legacy)
            if os.path.isdir(path):
                break
        else:
            return
        # updated_at collects as the JVM-rendered wall-clock string: a
        # datetime object would convert via the process tz
        rows = (
            self.spark.read.parquet(path)
            .select("name", ts_string("updated_at").alias("u"), "shipped_id")
            .collect()
        )
        # the rendered strings sort chronologically: the newest row wins
        self._write_cursors(
            {
                r["name"]: [wall_string(parse_wall(r["u"])), r["shipped_id"]]
                for r in sorted(rows, key=lambda r: r["u"])
            }
        )

    def _cursors(self) -> dict[str, list[str]]:
        try:
            with open(self.cursor_path) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return {}

    def _write_cursors(self, cursors: dict[str, list[str]]) -> None:
        """Durable atomic replace: a reader sees the old file or the new
        one, whole, and a committed file survives a power loss."""
        tmp = self.cursor_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(cursors, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, self.cursor_path)
        fd = os.open(os.path.dirname(self.cursor_path), os.O_RDONLY)
        try:
            os.fsync(fd)  # the rename itself is durable
        finally:
            os.close(fd)

    # -- events stats log -------------------------------------------------

    def _load_log(self) -> None:
        """Read the log into memory.  An entry torn by a crash is skipped:
        the next read re-derives its files' stats from the files."""
        for name in os.listdir(self.log_dir):
            stem = name.removesuffix(".json")
            if not stem.isdigit():
                continue
            self._next_entry = max(self._next_entry, int(stem) + 1)
            try:
                with open(os.path.join(self.log_dir, name)) as fh:
                    files = json.load(fh)["files"]
            except (OSError, ValueError, KeyError):
                continue
            for f in files:
                self._stats[f["name"]] = FileStats(
                    f["rows"],
                    parse_wall(f["min_created_at"]),
                    parse_wall(f["max_created_at"]),
                )

    def _log(self, stats: dict[str, FileStats]) -> None:
        """Remember ``stats`` and write them as the next ``<n>.json``
        entry; exclusive creation keeps a racing entry from being
        overwritten."""
        self._stats.update(stats)
        body = json.dumps(
            {
                "files": [
                    {
                        "name": name,
                        "rows": s.rows,
                        "min_created_at": s.lo and wall_string(s.lo),
                        "max_created_at": s.hi and wall_string(s.hi),
                    }
                    for name, s in stats.items()
                ]
            }
        )
        while True:
            path = os.path.join(self.log_dir, f"{self._next_entry}.json")
            self._next_entry += 1
            try:
                fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_EXCL, 0o644)
            except FileExistsError:
                continue
            with os.fdopen(fd, "w") as fh:
                fh.write(body)
            return

    def _listed(self) -> dict[str, FileStats]:
        """Stats of every file the table directory lists now, reading and
        logging those of any file the log lacks."""
        names = [n for n in os.listdir(self.events_dir) if _visible(n)]
        missing = [n for n in names if n not in self._stats]
        if missing:
            self._log(
                {n: file_stats(os.path.join(self.events_dir, n)) for n in missing}
            )
        return {n: self._stats[n] for n in names}

    # -- reads ------------------------------------------------------------

    def files(self, floor: dt.datetime | None = None) -> list[str]:
        """Paths of the files whose logged max is at or after ``floor``
        (every file holding rows when ``floor`` is None): what a read
        from ``floor`` on touches."""
        return [
            os.path.join(self.events_dir, n)
            for n, s in self._listed().items()
            if s.rows and (floor is None or s.hi is not None and s.hi >= floor)
        ]

    def _since(self, floor: dt.datetime, columns: list[str]) -> pa.Table:
        """``columns`` of the rows at or after ``floor`` (naive UTC wall
        clock), read with pyarrow from ``files(floor)``: no Spark job."""
        at = pa.scalar(floor, pa.timestamp("us"))
        parts = [ARROW_EVENTS.empty_table().select(columns)]
        for path in self.files(floor):
            table = _read_events(path, columns)
            parts.append(
                table.filter(pc.greater_equal(table.column("created_at"), at))
            )
        return pa.concat_tables(parts)

    def latest_event_time(self) -> dt.datetime:
        """The log's max ``created_at``, epoch when the table is empty."""
        return max(
            (s.hi for s in self._listed().values() if s.hi is not None),
            default=EPOCH_TS,
        )

    def overlap_keys(self, floor: dt.datetime) -> set[str]:
        """Stored guids at or after ``floor`` (naive UTC wall clock)."""
        keys = self._since(floor, ["guid", "created_at"])["guid"]
        return set(keys.to_pylist())

    def event_count(self) -> int:
        """The log's row sum: exact, with no Spark job."""
        return sum(s.rows for s in self._listed().values())

    # -- writes -----------------------------------------------------------

    def append_events(self, rows: list[tuple]) -> int:
        """Store ``EVENT_ROWS`` tuples (aware UTC ``created_at``): stage
        them as one file, commit it by rename, then log it; returns the
        rows stored.  The rows reach Spark as one Arrow-built DataFrame in
        one partition, so the write is one Spark job and one file."""
        if not rows:
            return 0
        staged = os.path.join(self.staging_dir, uuid.uuid4().hex)
        self.spark.createDataFrame(
            _arrow_events(rows), EVENT_ROWS
        ).coalesce(1).write.parquet(staged)
        stats = {}
        for name in sorted(filter(_visible, os.listdir(staged))):
            path = os.path.join(staged, name)
            s = file_stats(path)
            if s.rows:
                os.rename(path, os.path.join(self.events_dir, name))
                stats[name] = s
        shutil.rmtree(staged)
        if stats:
            self._log(stats)
        return sum(s.rows for s in stats.values())

    # -- cursor / ship ----------------------------------------------------

    def effective_cursor(self, name: str) -> tuple[dt.datetime, str]:
        """The committed cursor, or the reference's (epoch, '') default
        row (store.go:192-199)."""
        entry = self._cursors().get(name)
        return (parse_wall(entry[0]), entry[1]) if entry else (EPOCH_TS, "")

    def unshipped_events(self, name: str, cap: int) -> list[tuple]:
        """The shipper CTE on the driver: the cursor from the cursors
        file, the rows at or after it in ship order (``created_at``,
        ``guid``), capped at ``cap``, and only then the last-shipped guid
        dropped (P6/P7/O3/O4), so a saturated window yields ``cap - 1``
        rows as the reference's does."""
        cursor_ts, shipped_id = self.effective_cursor(name)
        window = (
            self._since(cursor_ts, EVENT_COLUMNS)
            .sort_by([("created_at", "ascending"), ("guid", "ascending")])
            .slice(0, cap)
        )
        window = window.filter(pc.not_equal(window["guid"], shipped_id))
        return list(zip(*(col.to_pylist() for col in window.columns)))

    def upsert_cursor(
        self, name: str, updated_at: dt.datetime, shipped_id: str
    ) -> None:
        """W2 on parquet: set the sink's entry, replace the file.  The
        read-modify-write needs one writer per warehouse: the shipper."""
        cursors = self._cursors()
        cursors[name] = [wall_string(updated_at), shipped_id]
        self._write_cursors(cursors)


# Reference DDL re-expressed portably (store.go:55-71 applies
# create_cf_audit_events.sql / create_shipper_cursors.sql idempotently;
# uuid columns become text — the engine validates, the storage stores).
DDL_EVENTS = f"""
CREATE TABLE IF NOT EXISTS cf_audit_events (
  guid TEXT PRIMARY KEY,
  created_at TIMESTAMP NOT NULL CHECK (created_at > TIMESTAMP '1970-01-01'),
  event_type TEXT NOT NULL,
  actor TEXT NOT NULL,
  actor_type TEXT NOT NULL,
  actor_name TEXT NOT NULL,
  actor_username TEXT NOT NULL,
  actee TEXT NOT NULL,
  actee_type TEXT NOT NULL,
  actee_name TEXT NOT NULL,
  organization_guid TEXT,
  space_guid TEXT,
  metadata TEXT
)
"""

DDL_CURSORS = """
CREATE TABLE IF NOT EXISTS shipper_cursors (
  name TEXT PRIMARY KEY,
  updated_at TIMESTAMP NOT NULL CHECK (updated_at > TIMESTAMP '1970-01-01'),
  shipped_id TEXT NOT NULL
)
"""

INSERT_EVENT = (
    "INSERT INTO cf_audit_events ("
    + ", ".join(EVENT_COLUMNS)
    + ") VALUES ("
    + ", ".join("?" for _ in EVENT_COLUMNS)
    + ") ON CONFLICT (guid) DO NOTHING"
)

UPSERT_CURSOR = (
    "INSERT INTO shipper_cursors (name, updated_at, shipped_id)"
    " VALUES (?, ?, ?)"
    " ON CONFLICT (name) DO UPDATE SET"
    " updated_at = excluded.updated_at, shipped_id = excluded.shipped_id"
)

# the shipper CTE verbatim from store.go:191-225 (cap inside the recent
# window, exclusion after), parameterized on (name, cap)
UNSHIPPED_SQL = """
WITH last_shipped_event AS (
  SELECT updated_at, shipped_id FROM (
    SELECT updated_at, shipped_id FROM shipper_cursors WHERE name = ?
    UNION
    SELECT TIMESTAMP '1970-01-01 00:00:00', ''
  ) AS candidates ORDER BY updated_at DESC LIMIT 1
),
recent_cf_audit_events AS (
  SELECT * FROM cf_audit_events
  WHERE created_at >= (SELECT updated_at FROM last_shipped_event)
  ORDER BY created_at ASC, guid ASC
  LIMIT ?
)
SELECT guid, created_at, event_type, actor, actor_type, actor_name,
       actor_username, actee, actee_type, actee_name,
       coalesce(organization_guid, '') AS organization_guid,
       coalesce(space_guid, '') AS space_guid, metadata
FROM recent_cf_audit_events
WHERE guid != (SELECT shipped_id FROM last_shipped_event)
ORDER BY created_at ASC, guid ASC
"""


def dbapi_factory(module_name: str, *args, **kwargs) -> Callable[[], object]:
    """A DB-API connection factory: ``module_name``'s ``connect`` called
    with ``args``, resolved when a connection is opened, so a driver that
    is not installed fails only where it is used."""

    def _connect() -> object:
        return importlib.import_module(module_name).connect(*args, **kwargs)

    return _connect


class DbApiStore:
    """Relational store over any DB-API driver (Postgres, DuckDB, ...).

    Every statement opens its own short-lived connection from
    ``conn_factory`` (see ``dbapi_factory``) on the driver — the
    reference equally runs one transaction per statement
    (store.go:185-191).
    """

    def __init__(
        self, conn_factory: Callable[[], object], paramstyle: str = "qmark"
    ) -> None:
        """``paramstyle``: DB-API placeholder dialect of the driver —
        ``qmark`` (duckdb) keeps statements as-is, ``format``/``pyformat``
        (psycopg2) rewrites ``?`` to ``%s``."""
        self.conn_factory = conn_factory
        self._ph = "%s" if paramstyle in ("format", "pyformat") else "?"
        self._exec_ddl()

    def _q(self, sql: str) -> str:
        return sql if self._ph == "?" else sql.replace("?", self._ph)

    def _exec_ddl(self) -> None:  # W5 idempotent startup DDL
        conn = self.conn_factory()
        try:
            cur = conn.cursor()
            cur.execute(DDL_EVENTS)
            cur.execute(DDL_CURSORS)
            conn.commit()
        finally:
            conn.close()

    def _fetch(self, sql: str, params: tuple = ()) -> list[tuple]:
        conn = self.conn_factory()
        try:
            cur = conn.cursor()
            cur.execute(self._q(sql), params)
            return cur.fetchall()
        finally:
            conn.close()

    # -- reads ------------------------------------------------------------

    def latest_event_time(self) -> dt.datetime:
        rows = self._fetch(
            "SELECT created_at FROM cf_audit_events"
            " ORDER BY created_at DESC LIMIT 1"
        )  # store.go:289-308 incl. the epoch default on empty
        return rows[0][0] if rows else EPOCH_TS

    def overlap_keys(self, floor: dt.datetime) -> set[str]:
        rows = self._fetch(
            "SELECT guid FROM cf_audit_events WHERE created_at >= ?",
            (floor,),
        )
        return {r[0] for r in rows}

    def event_count(self) -> int:
        # Postgres path would read pg_class.reltuples (store.go:310-329);
        # COUNT(*) is the portable stand-in
        return int(self._fetch("SELECT count(*) FROM cf_audit_events")[0][0])

    # -- writes -----------------------------------------------------------

    def append_events(self, rows: list[tuple]) -> None:
        """W1 strict parity: one ``INSERT … ON CONFLICT (guid) DO
        NOTHING`` ``executemany`` in one transaction (store.go:73-100).
        ``created_at`` (aware UTC) is bound as the naive UTC wall clock: a
        driver binds an aware datetime to a ``TIMESTAMP`` column through
        the process timezone."""
        utc = dt.timezone.utc
        conn = self.conn_factory()
        try:
            cur = conn.cursor()
            # explicit: DuckDB autocommits every row otherwise (psycopg2,
            # which opens a transaction itself, only warns)
            cur.execute("BEGIN TRANSACTION")
            cur.executemany(
                self._q(INSERT_EVENT),
                [
                    (r[0], r[1].astimezone(utc).replace(tzinfo=None), *r[2:])
                    for r in rows
                ],
            )
            cur.execute("COMMIT")
        finally:
            conn.close()  # an uncommitted transaction rolls back

    # -- cursor / ship ----------------------------------------------------

    def effective_cursor(self, name: str) -> tuple[dt.datetime, str]:
        rows = self._fetch(
            "SELECT updated_at, shipped_id FROM ("
            " SELECT updated_at, shipped_id FROM shipper_cursors WHERE name = ?"
            " UNION SELECT TIMESTAMP '1970-01-01 00:00:00', ''"
            # Postgres requires the FROM-subquery alias; DuckDB tolerates
            # its absence, which is why tests alone never caught it
            ") AS candidates ORDER BY updated_at DESC LIMIT 1",
            (name,),
        )
        return rows[0][0], rows[0][1]

    def unshipped_events(self, name: str, cap: int) -> list[tuple]:
        """The shipper CTE delegated verbatim to the database — exactly
        the reference's plan (its Postgres resolves the cursor subqueries
        and the capped index scan)."""
        return self._fetch(UNSHIPPED_SQL, (name, cap))

    def upsert_cursor(
        self, name: str, updated_at: dt.datetime, shipped_id: str
    ) -> None:
        conn = self.conn_factory()
        try:
            cur = conn.cursor()
            cur.execute(self._q(UPSERT_CURSOR), (name, updated_at, shipped_id))
            conn.commit()
        finally:
            conn.close()


__all__ = ["DbApiStore", "ParquetStore", "dbapi_factory"]
