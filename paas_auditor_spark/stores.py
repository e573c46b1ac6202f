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
- ``append_events(df)``    — idempotent insert (store.go:73-100) of the
  rows ``ingest_delta`` found fresh
- ``event_count()``        — informer count (store.go:310-329 reads
  pg_class.reltuples)
- ``effective_cursor(name)`` / ``upsert_cursor(...)`` — W2
  (store.go:191-199, 262-287); the shipper commits after every
  acknowledged HEC batch, so a commit must cost milliseconds
- ``unshipped_events(cursor_ts, shipped_id, cap)`` — the shipper CTE
  (store.go:191-225)

**Where the relational work runs differs by backend, deliberately.**
``DbApiStore`` pushes the cursor CTE, the count and the watermark MAX
down to the database — exactly like the reference, whose Postgres does
this work — because the database has the indexes and the result sets are
tiny (1 row, the overlap window's keys, or ≤8192 rows).  Bulk writes
still flow through Spark partitions (``execute_partitionwise``: one
connection + transaction per partition, ON CONFLICT DO NOTHING — W1 under
task retries).

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
logged max reaches their floor — one or two near the tail.
``overlap_keys`` reads their ``guid`` and ``created_at`` columns with
pyarrow, so the anti-join runs no Spark job; ``unshipped_events`` reads
them with Spark and the pinned schema, so Spark runs no listing or
schema-inference job.  The events table is not partitioned: pruning is by
the per-file max.  The cursors are one small JSON file replaced
atomically, with no Spark job.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import uuid
from collections.abc import Callable
from typing import NamedTuple

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from paas_auditor_spark.functions.timecross import (
    arrow_wall,
    parse_wall,
    to_ts,
    ts_string,
    wall_string,
)
from paas_auditor_spark.operators.cursor import (
    EPOCH_TS,
    unshipped_events as _unshipped_events_df,
)
from paas_auditor_spark.schemas import CF_AUDIT_EVENT
from paas_auditor_spark.sinks.jdbc import execute_partitionwise
from paas_auditor_spark.sources.bootstrap import EVENTS_TABLE, init_warehouse

EVENT_COLUMNS = [f.name for f in CF_AUDIT_EVENT.fields]
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
    """``columns`` of one events file with pyarrow, ``created_at`` in
    microseconds: INT96 is read as ``us`` and a finer unit truncated,
    which keeps every ``>= floor`` test at microsecond floors.  A zoned
    column keeps its zone; its values are UTC instants either way."""
    table = pq.read_table(
        path, columns=columns, coerce_int96_timestamp_unit="us"
    )
    i = table.schema.get_field_index("created_at")
    col = table.column(i)
    if col.type.unit != "us":
        col = col.cast(pa.timestamp("us", col.type.tz), safe=False)
        table = table.set_column(i, "created_at", col)
    return table


def file_stats(path: str) -> FileStats:
    """Stats of one events file from its ``created_at`` column alone."""
    col = _read_events(path, ["created_at"]).column(0)
    bounds = pc.min_max(col)
    return FileStats(
        len(col), arrow_wall(bounds["min"]), arrow_wall(bounds["max"])
    )


class ParquetStore:
    """Local/lakehouse store: parquet events with a per-file stats log,
    Spark-side relational work over the files near the tail, cursors in
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

    def events_df(self, floor: dt.datetime | None = None) -> DataFrame:
        """The events of ``files(floor)``, read with the pinned schema:
        no listing or schema-inference job."""
        files = self.files(floor)
        if not files:
            return self.spark.createDataFrame([], CF_AUDIT_EVENT)
        return self.spark.read.schema(CF_AUDIT_EVENT).parquet(*files)

    def latest_event_time(self) -> dt.datetime:
        """The log's max ``created_at``, epoch when the table is empty."""
        return max(
            (s.hi for s in self._listed().values() if s.hi is not None),
            default=EPOCH_TS,
        )

    def overlap_keys(self, floor: dt.datetime) -> set[str]:
        """Stored guids at or after ``floor`` (naive UTC wall clock),
        read with pyarrow from ``files(floor)``: no Spark job.  The
        ``created_at`` values compare as UTC epoch microseconds — a naive
        column (Spark's INT96) holds the UTC wall clock, a zoned one the
        instant — so the process timezone never enters."""
        at = (floor - EPOCH_TS) // dt.timedelta(microseconds=1)
        keys: set[str] = set()
        for path in self.files(floor):
            table = _read_events(path, ["guid", "created_at"])
            since = pc.greater_equal(
                table.column("created_at").cast(pa.int64()), at
            )
            keys.update(table.column("guid").filter(since).to_pylist())
        return keys

    def event_count(self) -> int:
        """The log's row sum: exact, with no Spark job."""
        return sum(s.rows for s in self._listed().values())

    # -- writes -----------------------------------------------------------

    def append_events(self, fresh_df: DataFrame) -> int:
        """Stage, commit by rename, then log; returns the rows stored.  A
        staged file without rows is deleted, never committed.  The files
        of one append commit one by one, as Spark's own job commit moves
        them."""
        staged = os.path.join(self.staging_dir, uuid.uuid4().hex)
        fresh_df.write.parquet(staged)
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

    def unshipped_events(self, name: str, cap: int) -> DataFrame:
        """The shipper CTE computed Spark-side: the cursor from the
        cursors file, then the capped chronological window (P6/P7/O3/O4)
        as a range filter + TakeOrdered top-k over the files whose logged
        max reaches the cursor."""
        cursor_ts, shipped_id = self.effective_cursor(name)
        return _unshipped_events_df(
            self.events_df(cursor_ts), cursor_ts, shipped_id, cap
        )

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


class DbApiStore:
    """Relational store over any DB-API driver (Postgres, DuckDB, ...).

    ``conn_factory`` must be picklable (see ``sinks.jdbc.dbapi_factory``):
    it is shipped into executor tasks for the partition-wise ON CONFLICT
    writes.  Driver-side statements (cursor CTE, MAX, COUNT) open their
    own short-lived connection per tick — the reference equally runs one
    transaction per statement (store.go:185-191).
    """

    def __init__(
        self,
        spark: SparkSession,
        conn_factory: Callable[[], object],
        paramstyle: str = "qmark",
        write_partitions: int | None = None,
    ) -> None:
        """``paramstyle``: DB-API placeholder dialect of the driver —
        ``qmark`` (duckdb) keeps statements as-is, ``format``/``pyformat``
        (psycopg2) rewrites ``?`` to ``%s``.

        ``write_partitions`` caps the concurrent writer connections
        (connection-stampede guard; REQUIRED as 1 for single-writer
        engines like a DuckDB file — Postgres takes N happily).
        """
        self.spark = spark
        self.conn_factory = conn_factory
        self._ph = "%s" if paramstyle in ("format", "pyformat") else "?"
        self.write_partitions = write_partitions
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

    def append_events(self, fresh_df: DataFrame) -> None:
        """W1 strict parity: partition-wise ``INSERT … ON CONFLICT (guid)
        DO NOTHING`` — one connection + transaction per Spark partition,
        idempotent under task retries."""
        # created_at crosses the executor boundary as the JVM-rendered
        # wall-clock string (the DB casts it back): a datetime OBJECT
        # row would be converted with the executor's process tz and a
        # non-UTC host would store shifted wall clocks
        fresh = fresh_df.withColumn(
            "created_at", ts_string(F.col("created_at"))
        )
        execute_partitionwise(
            fresh, self._q(INSERT_EVENT), self.conn_factory,
            columns=EVENT_COLUMNS, max_partitions=self.write_partitions,
        )

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

    def unshipped_events(self, name: str, cap: int) -> DataFrame:
        """The shipper CTE delegated verbatim to the database — exactly
        the reference's plan (its Postgres resolves the cursor subqueries
        and the capped index scan); the bounded result (≤ cap rows) lifts
        into a DataFrame for envelope serialization."""
        rows = self._fetch(UNSHIPPED_SQL, (name, cap))
        # the DB returns wall-clock naive datetimes; they must NOT cross
        # into Spark as objects (createDataFrame converts via the
        # process tz) — render to strings and parse JVM-side instead
        str_rows = [
            (r[0], wall_string(r[1]), *r[2:]) for r in rows
        ]
        schema = ", ".join(
            f"{f.name} {'string' if f.name == 'created_at' else f.dataType.simpleString()}"
            for f in CF_AUDIT_EVENT.fields
        )
        df = self.spark.createDataFrame(str_rows, schema=schema)
        return df.withColumn("created_at", to_ts("created_at"))

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


__all__ = ["DbApiStore", "ParquetStore"]
