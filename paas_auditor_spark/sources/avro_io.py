"""Avro bronze round-trip — dependency-free object-container codec plus
the Spark plumbing (distributed scan, per-partition sink).

The bronze landing zone of a real ingestion pipeline is often Avro
(Kafka Connect, Debezium, CDC dumps), and the reference's bronze
surface is the /v2/events envelope its fetcher decodes
(cf_audit_event_fetcher.go:22-35).  The
``spark-avro`` connector jar is absent in this environment, so — the
PPM-image / WAV-audio convention — the CODEC is implemented here from
the public Apache Avro 1.12 specification (binary encoding + object
container files), dependency-free, while the Spark side (binaryFile
scan → Arrow-batched mapInArrow decode; mapInArrow per-partition
encode → task-owned files + atomic driver publish) is real and is
exactly the plan shape the jar-backed source would produce.  The
exchange is Arrow, NOT pandas, on purpose: Arrow carries an explicit
null mask, so NULL stays distinct from NaN in doubles and a nullable
long never float64-widens — the two silent-corruption hazards a pandas
exchange is structurally unable to avoid.

Scope: record schemas over the primitive types (null, boolean, int,
long, float, double, string, bytes) and the nullable union
``["null", T]``; timestamps travel as the spec's ``timestamp-micros``
logical type.  Codecs: ``null`` and ``deflate`` (raw RFC-1951, the two
codecs the spec requires every implementation to support).

Scale shape: ``avro_scan`` is one task per landing FILE (binaryFile
does not split inside a file) — bronze zones are many-file by
construction (one file per producer flush interval), so file-count
parallelism is the natural granularity, same as the reference's
one-page-per-request pagination.  Past multi-GB single files,
``avro_scan_split`` carves each file into byte ranges that each decode
exactly the blocks whose leading sync marker starts inside them (the
Hadoop input-split ownership rule), turning one straggler container
into many parallel tasks — test-pinned equal to the whole-file scan.
"""

from __future__ import annotations

import io
import itertools
import json
import os
import shutil
import struct
import zlib
from typing import Iterable, Iterator

MAGIC = b"Obj\x01"


def _sync_marker(schema: dict, salt: bytes = b"") -> bytes:
    """16-byte sync marker: md5 over the schema JSON plus ``salt``.
    The spec suggests a RANDOM marker; deriving it keeps a bare
    ``write_container`` call byte-reproducible, but a schema-only
    marker is shared by EVERY same-schema file — so a bronze zone
    re-ingesting its own containers into a bytes column reproduces the
    marker inside a payload non-adversarially and misleads the split
    scanner's marker search.  ``avro_write`` therefore salts with the
    per-file part uuid: each landing file gets its own 128-bit marker
    (stored in the header, so readers are unaffected), and embedded
    bytes of ANY other file can no longer collide except
    adversarially."""
    import hashlib

    return hashlib.md5(
        b"paas-avro-sync:"
        + salt
        + json.dumps(schema, sort_keys=True).encode()
    ).digest()


# ---------------------------------------------------------------- encoding

def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _unzigzag(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def _write_long(buf: io.BytesIO, n: int) -> None:
    """Variable-length zigzag long (spec: binary encoding, int/long)."""
    z = _zigzag(n) & 0xFFFFFFFFFFFFFFFF
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            buf.write(bytes((b | 0x80,)))
        else:
            buf.write(bytes((b,)))
            return


def _read_long(view: memoryview, pos: int) -> tuple[int, int]:
    shift = 0
    acc = 0
    while True:
        b = view[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            val = _unzigzag(acc)
            if not -(1 << 63) <= val < (1 << 63):
                # a 10-byte varint with high bits set in the final byte
                # encodes a value outside int64 — canonical readers
                # reject it; passing it through would yield impossible
                # field values or nonsense block/byte counts
                raise ValueError("Avro varint exceeds int64 (corrupt)")
            return val, pos
        shift += 7
        if shift > 63:  # canonical readers cap varints at 10 bytes —
            # fail fast on corruption instead of growing an unbounded
            # Python int until some later length check trips
            raise ValueError("Avro varint longer than 10 bytes (corrupt)")


def _write_bytes(buf: io.BytesIO, b: bytes) -> None:
    _write_long(buf, len(b))
    buf.write(b)


def _read_bytes(view: memoryview, pos: int) -> tuple[bytes, int]:
    n, pos = _read_long(view, pos)
    if n < 0:
        # a negative length would slice the memoryview with wraparound
        # semantics — garbage bytes and a REGRESSED position, which in
        # the header metadata loop can cycle forever
        raise ValueError("negative Avro bytes length (corrupt)")
    return bytes(view[pos:pos + n]), pos + n


_WRITERS = {
    "null": lambda buf, v: None,
    "boolean": lambda buf, v: buf.write(b"\x01" if v else b"\x00"),
    "int": _write_long,
    "long": _write_long,
    "float": lambda buf, v: buf.write(struct.pack("<f", v)),
    "double": lambda buf, v: buf.write(struct.pack("<d", v)),
    "string": lambda buf, v: _write_bytes(buf, v.encode("utf-8")),
    "bytes": _write_bytes,
}


def _read_value(view: memoryview, pos: int, typ) -> tuple[object, int]:
    if isinstance(typ, dict):  # logical types ride their base type
        typ = typ["type"]
    if isinstance(typ, list):  # nullable union ["null", T]
        idx, pos = _read_long(view, pos)
        branch = typ[idx]
        if branch == "null" or (
            isinstance(branch, dict) and branch.get("type") == "null"
        ):
            return None, pos
        return _read_value(view, pos, branch)
    if typ == "null":
        return None, pos
    if typ == "boolean":
        return view[pos] != 0, pos + 1
    if typ in ("int", "long"):
        return _read_long(view, pos)
    if typ == "float":
        return struct.unpack_from("<f", view, pos)[0], pos + 4
    if typ == "double":
        return struct.unpack_from("<d", view, pos)[0], pos + 8
    if typ == "string":
        b, pos = _read_bytes(view, pos)
        return b.decode("utf-8"), pos
    if typ == "bytes":
        return _read_bytes(view, pos)
    raise ValueError(f"unsupported Avro type {typ!r}")


def _write_value(buf: io.BytesIO, v, typ) -> None:
    if isinstance(typ, dict):
        typ = typ["type"]
    if isinstance(typ, list):
        if v is None:
            _write_long(buf, typ.index("null"))
            return
        idx, branch = next(
            (i, t) for i, t in enumerate(typ) if t != "null"
        )
        _write_long(buf, idx)
        _write_value(buf, v, branch)
        return
    if v is None and typ != "null":
        raise ValueError(f"None for non-nullable Avro type {typ!r}")
    _WRITERS[typ](buf, v)


# ------------------------------------------------------------- containers

def write_container(
    out,
    schema: dict,
    rows: Iterable[tuple],
    codec: str = "null",
    block_rows: int = 4096,
    sync_salt: bytes = b"",
) -> int:
    """Write an Avro object-container file: magic, metadata map
    (avro.schema + avro.codec), sync marker, then self-delimiting
    blocks of ``block_rows`` records.  ``rows`` yields tuples in the
    schema's field order.  Returns the number of records written.  An
    EMPTY input still writes a valid zero-block container (a bronze
    flush interval with no traffic must stay readable).  ``sync_salt``
    mixes per-file entropy into the sync marker (see ``_sync_marker``);
    the default keeps a bare call byte-reproducible."""
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported Avro codec {codec!r}")
    field_types = [f["type"] for f in schema["fields"]]
    header = io.BytesIO()
    header.write(MAGIC)
    meta = {
        "avro.schema": json.dumps(schema).encode(),
        "avro.codec": codec.encode(),
    }
    _write_long(header, len(meta))
    for k, v in meta.items():
        _write_bytes(header, k.encode())
        _write_bytes(header, v)
    _write_long(header, 0)  # end of metadata map
    sync = _sync_marker(schema, sync_salt)
    header.write(sync)
    out.write(header.getvalue())

    total = 0
    block = io.BytesIO()
    n_block = 0

    def flush() -> None:
        nonlocal block, n_block
        if not n_block:
            return
        data = block.getvalue()
        if codec == "deflate":
            comp = zlib.compressobj(wbits=-15)  # raw RFC-1951 per spec
            data = comp.compress(data) + comp.flush()
        head = io.BytesIO()
        _write_long(head, n_block)
        _write_long(head, len(data))
        out.write(head.getvalue())
        out.write(data)
        out.write(sync)
        block = io.BytesIO()
        n_block = 0

    for row in rows:
        # strict: a row whose arity disagrees with the schema must fail
        # loudly — silent truncation writes a structurally corrupt block
        # (the reader decodes the next record's bytes as missing fields)
        for v, t in zip(row, field_types, strict=True):
            _write_value(block, v, t)
        n_block += 1
        total += 1
        if n_block >= block_rows:
            flush()
    flush()
    return total


def read_container(blob: bytes) -> tuple[dict, Iterator[tuple]]:
    """Decode an Avro object-container blob: returns (schema, iterator
    of row tuples in field order).  Validates magic and per-block sync
    markers — a torn or corrupt landing file fails loudly, never yields
    a silent prefix."""
    view = memoryview(blob)
    # one header-parse implementation for both the whole-blob and the
    # stream path (a guard added to one can't miss the other): delegate
    # to _read_header over a BytesIO of the blob
    schema, codec, sync, pos = _read_header(io.BytesIO(blob))
    field_types = [f["type"] for f in schema["fields"]]

    def rows() -> Iterator[tuple]:
        p = pos
        while p < len(view):
            n_rows, p = _read_long(view, p)
            n_bytes, p = _read_long(view, p)
            if n_rows < 0 or n_bytes < 0:
                raise ValueError("negative Avro block count/size (corrupt)")
            data = view[p:p + n_bytes]
            p += n_bytes
            if bytes(view[p:p + 16]) != sync:
                raise ValueError(
                    "Avro block sync mismatch: torn or corrupt container"
                )
            p += 16
            if codec == "deflate":
                data = memoryview(zlib.decompress(bytes(data), wbits=-15))
            yield from _block_rows(data, n_rows, field_types)

    return schema, rows()


def _block_rows(
    data: memoryview, n_rows: int, field_types
) -> Iterator[tuple]:
    """Decode exactly ``n_rows`` records spanning exactly ``len(data)``
    bytes.  Both directions of count/size disagreement fail loudly: a
    corrupted (shrunken) row count would otherwise silently DROP the
    block's tail (the sync check passes — position comes from the byte
    size, not the count), and an inflated count would overrun the
    buffer with a raw IndexError."""
    dp = 0
    try:
        for _ in range(n_rows):
            vals = []
            for t in field_types:
                v, dp = _read_value(data, dp, t)
                vals.append(v)
            yield tuple(vals)
    except IndexError:
        raise ValueError(
            "Avro block overran its byte size (corrupt row count)"
        ) from None
    if dp != len(data):
        raise ValueError(
            f"Avro block decoded {dp} of {len(data)} bytes "
            "(corrupt row count would silently drop rows)"
        )


# ---------------------------------------------------------- Spark plumbing

_SPARK_TO_AVRO = {
    "long": "long",
    "integer": "int",
    "double": "double",
    "float": "float",
    "string": "string",
    "boolean": "boolean",
    "binary": "bytes",
}


def avro_schema_for(spark_schema, name: str = "record") -> dict:
    """Map a Spark StructType to the equivalent Avro record schema.
    Timestamps become the spec's ``timestamp-micros`` logical type over
    long; every nullable field becomes the ``["null", T]`` union."""
    fields = []
    for f in spark_schema.fields:
        tn = f.dataType.typeName()
        if tn == "timestamp":
            avro_t: object = {"type": "long", "logicalType": "timestamp-micros"}
        elif tn == "timestamp_ntz":
            avro_t = {"type": "long", "logicalType": "local-timestamp-micros"}
        elif tn in _SPARK_TO_AVRO:
            avro_t = _SPARK_TO_AVRO[tn]
        else:
            raise ValueError(
                f"no Avro mapping for Spark type {tn!r} (field {f.name!r})"
            )
        if f.nullable:
            avro_t = ["null", avro_t]
        fields.append({"name": f.name, "type": avro_t})
    return {"type": "record", "name": name, "fields": fields}


def avro_write(df, out_dir: str, codec: str = "null") -> int:
    """Distributed Avro sink: every TASK ATTEMPT encodes its rows into
    its own container file in a hidden attempt directory (task-owned
    file named by partition + attempt id, no cross-task coordination —
    the Hadoop FileOutputCommitter shape), then the DRIVER publishes
    exactly the files the collected results name — one per partition,
    from the attempt whose output Spark kept — by moving them into a
    hidden commit dir and atomically renaming THAT to a visible
    ``job-<id>`` subdirectory.  Orphan files from failed or speculative
    attempts (``spark.task.maxFailures`` > 1, speculation) never reach
    the visible tree: they stay in the dot-prefixed attempt dir, which
    is removed best-effort after the commit (a still-running straggler
    writing there post-commit is harmless — hidden, then deleted).
    Readers list recursively, so there is no window where some of a
    job's files are visible and others are not: a crash before the
    rename leaves only hidden dirs (invisible by Spark's hidden-path
    rule), and after the rename the whole job is visible at once.
    ``_SUCCESS`` inside the job dir is observability, not the
    correctness mechanism.  Returns the total row count written.

    The exchange is ``mapInArrow``, not pandas: Arrow carries an
    explicit null mask, so NULL stays distinct from NaN in doubles and
    a nullable long column never float64-widens — ``to_pylist`` hands
    back exact Python ints/floats/None with nothing to guard or
    coerce.  (The pandas predecessor needed a 2^53 exactness refusal
    and conflated NaN with NULL; both hazards are structural to the
    pandas exchange and simply absent here.)"""
    import uuid

    import pyarrow as pa

    from pyspark.sql import functions as F

    schema = avro_schema_for(df.schema)
    # INSTANT columns become exact UTC epoch micros JVM-SIDE before the
    # exchange: a naive wall clock is lossy (a DST fall-back hour maps
    # two instants to one wall time), while unix_micros is total and
    # exact for every instant.  timestamp_ntz arrives as Arrow
    # timestamp('us') whose phys storage IS the wall micros — one cast.
    df = df.select(
        *[
            F.unix_micros(F.col(f.name)).alias(f.name)
            if f.dataType.typeName() == "timestamp"
            else F.col(f.name)
            for f in df.schema.fields
        ]
    )
    job = uuid.uuid4().hex
    os.makedirs(out_dir, exist_ok=True)
    attempt = os.path.join(out_dir, f".attempt-{job}")
    os.makedirs(attempt)
    schema_json = json.dumps(schema)

    def encode_partition(batches):
        from pyspark import TaskContext

        sch = json.loads(schema_json)
        part = uuid.uuid4().hex
        tc = TaskContext.get()
        ident = (
            f"{tc.partitionId()}-{tc.taskAttemptId()}" if tc else part
        )
        path = os.path.join(attempt, f"part-{ident}-{part}.avro")

        def rows():
            for batch in batches:
                cols = []
                for arr in batch.columns:
                    if pa.types.is_timestamp(arr.type):
                        arr = arr.cast(pa.int64())  # ntz wall micros
                    cols.append(arr.to_pylist())
                yield from zip(*cols)

        with open(path, "wb") as fh:
            # per-file marker entropy: the part uuid (a schema-only
            # marker recurs in any same-schema container bytes a payload
            # might embed, confusing the split scan)
            n = write_container(
                fh, sch, rows(), codec=codec, sync_salt=part.encode()
            )
        yield pa.RecordBatch.from_pydict({"path": [path], "n": [n]})

    results = df.mapInArrow(
        encode_partition, schema="path string, n long"
    ).collect()  # bounded: one row per partition (the winning attempt)
    # publish ONLY the files the results name — a failed or speculative
    # attempt's orphan file stays behind in the hidden attempt dir
    commit = os.path.join(out_dir, f".commit-{job}")
    os.makedirs(commit)
    for r in results:
        os.replace(
            r["path"], os.path.join(commit, os.path.basename(r["path"]))
        )
    with open(os.path.join(commit, "_SUCCESS"), "w"):
        pass
    os.rename(commit, os.path.join(out_dir, f"job-{job}"))  # the commit
    shutil.rmtree(attempt, ignore_errors=True)  # orphans, best-effort
    return sum(r["n"] for r in results)


def avro_scan(
    spark,
    path: str,
    spark_schema: str,
    split_threshold_bytes: int = 256 * 1024 * 1024,
    split_bytes: int = 128 * 1024 * 1024,
):
    """Distributed Avro scan with SIZE-BASED ROUTING: files at or under
    ``split_threshold_bytes`` decode one task per file via ``binaryFile`` + an
    Arrow-batched ``mapInArrow`` (the bronze-zone granularity — a landing file
    is one writer's commit), and files ABOVE it route to the sync-marker split
    scanner (``avro_scan_split``), which carves each into ``split_bytes``
    ranges — so one multi-GB container becomes many parallel tasks instead of a
    single task-memory hazard.  The routing decision reads binaryFile METADATA
    only (one ``length > threshold`` existence probe; content bytes are never
    touched), and a mixed-size zone unions the two shapes — equality with a
    pure whole-file scan is test-pinned
    (test_avro.py::test_split_scan_equals_whole_file_scan, mixed-size case
    included).  ``spark_schema`` is the DDL the caller expects; timestamp
    columns are rebuilt from the ``timestamp-micros`` longs.  Writer/reader
    schema RESOLUTION per the spec on BOTH routes: files carrying extra fields
    decode (matched by name, extras dropped), reader fields the writer lacks
    null-fill when nullable, and only a missing non-nullable field refuses —
    the tolerance an evolving bronze zone needs.  The listing is RECURSIVE with
    a ``*.avro`` name filter: ``avro_write`` publishes whole ``job-<id>``
    directories by one atomic rename, hand-dropped flat files work too, and a
    torn job's dot-prefixed attempt dir is invisible by Spark's hidden-path
    rule — so a reader can never see a partial job.

    Routing runs ONE metadata-only listing job at plan time (one
    (path, length) row per landing file — the same driver-side listing
    the split scanner always did; content is never read) and hands the
    oversized rows straight to the split scanner, so the zone is
    listed once per scan.  The split scanner reads ranges through
    ``open()``, so routing engages only for LOCAL paths (``file:``
    URIs — the landing-zone shape this engine's collector writes);
    oversized files on other storage schemes keep the one-task-per-file
    decode, preserving the pre-routing behavior there (on a real
    cluster the range reads would ride the storage client instead)."""
    from pyspark.sql import functions as F

    listing = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.avro")
        .load(path)
    )
    # bounded driver collect: one metadata row per landing file
    meta = listing.select("path", "length").collect()
    big = [
        r for r in meta
        if r["length"] > split_threshold_bytes
        and r["path"].startswith("file:")
    ]
    if not big:
        return _decode_files(spark, listing.select("content"), spark_schema)
    big_paths = {r["path"] for r in big}
    small = _decode_files(
        spark,
        listing.where(~F.col("path").isin(*big_paths)).select("content"),
        spark_schema,
    )
    split = avro_scan_split(
        spark,
        path,
        spark_schema,
        split_bytes=split_bytes,
        listing=big,
    )
    return small.unionByName(split)


def _target_info(spark, spark_schema: str):
    """Reader-side plan-time introspection shared by every scan shape:
    (target StructType, names, instant ts columns, ntz ts columns,
    nullability map, and the INTERNAL exchange schema — identical to
    the target except instant columns stay LongType: instants travel as
    exact UTC epoch micros through the Arrow exchange and become
    TimestampType JVM-SIDE afterwards (``timestamp_micros``), because a
    Python-side naive-wall-clock rebuild is lossy — a DST fall-back hour
    maps two distinct instants to one wall time."""
    from pyspark.sql import types as T

    target = spark.createDataFrame([], spark_schema).schema
    names = [f.name for f in target.fields]
    instant = [
        f.name for f in target.fields
        if f.dataType.typeName() == "timestamp"
    ]
    ntz = [
        f.name for f in target.fields
        if f.dataType.typeName() == "timestamp_ntz"
    ]
    nullable = {f.name: f.nullable for f in target.fields}
    internal = T.StructType(
        [
            T.StructField(f.name, T.LongType(), f.nullable)
            if f.name in instant
            else f
            for f in target.fields
        ]
    )
    return target, names, instant, ntz, nullable, internal


def _writer_ts_kind(avro_t):
    """'instant' / 'ntz' / None for a writer field type (unions
    unwrapped) — the reader validates this against its own declared
    kind, because the two decode DIFFERENTLY (UTC epoch micros vs wall
    micros): silently reading one as the other shifts every value by
    the session offset."""
    if isinstance(avro_t, list):
        for t in avro_t:
            if t != "null":
                return _writer_ts_kind(t)
        return None
    if isinstance(avro_t, dict):
        lt = avro_t.get("logicalType")
        if lt == "timestamp-micros":
            return "instant"
        if lt == "local-timestamp-micros":
            return "ntz"
    return None


def _check_ts_kinds(writer_fields, instant, ntz):
    """Refuse an instant/ntz mixup between the writer schema and the
    reader declaration (a writer field with NO ts logical type read as
    a timestamp is allowed — underlying-type resolution per the spec,
    the caller asserts the semantics)."""
    for f in writer_fields:
        wk = _writer_ts_kind(f["type"])
        if wk is None:
            continue
        rk = (
            "instant" if f["name"] in instant
            else "ntz" if f["name"] in ntz
            else None
        )
        if rk is not None and rk != wk:
            raise ValueError(
                f"timestamp kind mismatch on field {f['name']!r}: the "
                f"file stores {wk} micros but the reader declared "
                f"{'timestamp' if rk == 'instant' else 'timestamp_ntz'}"
                " — reading one as the other shifts every value by the "
                "session offset; fix the declared schema"
            )


def _assemble_batch(columns: dict, n_rows: int, arrow_schema):
    """Shared rows→Arrow assembler for both scan shapes: one typed
    pa.array per reader column (missing ones null-filled).  Explicit
    types straight from the internal Arrow schema — ints stay ints
    (never float64-widened), NaN stays distinct from null in doubles,
    and ntz wall micros become timestamp('us') by unit interpretation;
    INSTANT columns are micros longs here and become TimestampType
    JVM-side.

    Reader nullability is enforced on VALUES here, not just on missing
    fields: a writer field that exists but carries NULLs
    would otherwise flow into a NOT NULL reader column unchecked —
    Spark does not re-validate an Arrow batch against the declared
    schema, and null-aware optimizations can then miscompute."""
    import pyarrow as pa

    arrays = []
    for f in arrow_schema:
        arr = pa.array(columns.get(f.name, [None] * n_rows), type=f.type)
        if not f.nullable and arr.null_count:
            raise ValueError(
                f"Avro data carries NULL in field {f.name!r} declared "
                "NOT NULL by the reader schema — fix the declaration or "
                "quarantine the file"
            )
        arrays.append(arr)
    return pa.RecordBatch.from_arrays(
        arrays, names=[f.name for f in arrow_schema]
    )


_DECODE_CHUNK_ROWS = 65536


def _chunked_batches(rows, writer_names, arrow_schema):
    """Yield Arrow batches of at most ``_DECODE_CHUNK_ROWS`` rows from a
    decoded row iterator — the decode paths must NOT materialize a whole
    container (or 128 MB split range) as Python tuples plus one giant
    RecordBatch per task: deflate inflation plus Python object overhead
    turns a 256 MB file into multiple GB of a single task's heap.
    Bounded chunks cap per-task memory at chunk size whatever the file
    size."""
    while True:
        chunk = list(itertools.islice(rows, _DECODE_CHUNK_ROWS))
        if not chunk:
            return
        by_writer = dict(zip(writer_names, zip(*chunk)))
        yield _assemble_batch(by_writer, len(chunk), arrow_schema)


def _decode_files(spark, files, spark_schema: str):
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.types import to_arrow_schema

    target, names, instant, ntz, nullable, internal = _target_info(
        spark, spark_schema
    )
    arrow_schema = to_arrow_schema(internal)

    def decode(batches):
        for batch in batches:
            for blob in batch.column(0).to_pylist():
                schema, rows = read_container(bytes(blob))
                got = [f["name"] for f in schema["fields"]]
                # Avro schema RESOLUTION (spec: writer vs reader): a
                # bronze zone evolves, so files written with EXTRA
                # fields decode fine (matched by name, extras dropped),
                # and a reader field the writer lacks null-fills when
                # nullable — only a missing NON-nullable field refuses.
                missing = [n for n in names if n not in got]
                hard = [n for n in missing if not nullable[n]]
                if hard:
                    raise ValueError(
                        f"Avro writer schema lacks non-nullable reader "
                        f"field(s) {hard} (writer fields: {got})"
                    )
                _check_ts_kinds(schema["fields"], instant, ntz)
                yield from _chunked_batches(rows, got, arrow_schema)

    decoded = files.mapInArrow(decode, schema=internal)
    return decoded.select(
        *[
            F.timestamp_micros(F.col(n)).alias(n)
            if n in instant
            else F.col(n)
            for n in names
        ]
    )


def _stream_varint(fh, eof_ok: bool = False) -> int | None:
    """Zigzag varint off a byte stream — the single stream-side decoder
    shared by the header parser and the range scanner (the memoryview
    twin ``_read_long`` stays separate: it is the per-row hot loop).
    ``eof_ok`` permits a clean EOF BEFORE the first byte (a container
    ending right after a sync marker); mid-varint EOF always raises."""
    acc = shift = 0
    while True:
        b = fh.read(1)
        if not b:
            if eof_ok and shift == 0:
                return None
            raise ValueError("truncated Avro varint")
        acc |= (b[0] & 0x7F) << shift
        if not b[0] & 0x80:
            val = _unzigzag(acc)
            if not -(1 << 63) <= val < (1 << 63):
                # the _read_long int64-range check, stream-side
                raise ValueError("Avro varint exceeds int64 (corrupt)")
            return val
        shift += 7
        if shift > 63:  # the _read_long 10-byte cap, stream-side
            raise ValueError("Avro varint longer than 10 bytes (corrupt)")


def _read_header(fh) -> tuple[dict, str, bytes, int]:
    """Parse an open container's header: (schema, codec, sync marker,
    first-block offset).  Reads only the header bytes — the driver can
    afford one per file at planning time."""
    if fh.read(4) != MAGIC:
        raise ValueError("not an Avro object container (bad magic)")

    def read_bytes() -> bytes:
        n = _stream_varint(fh)
        if n is None or n < 0:
            # fh.read(-3) would slurp the remaining file into memory;
            # a corrupt negative length must fail loudly instead
            raise ValueError("bad Avro header bytes length (corrupt)")
        out = fh.read(n)
        if len(out) != n:
            raise ValueError("truncated Avro header")
        return out

    meta: dict[str, bytes] = {}
    while True:
        n = _stream_varint(fh)
        if n == 0:
            break
        if n < 0:
            _stream_varint(fh)  # spec: byte size follows a negative count
            n = -n
        for _ in range(n):
            k = read_bytes()
            meta[k.decode()] = read_bytes()
    sync = fh.read(16)
    if len(sync) != 16:
        raise ValueError("truncated Avro header")
    schema = json.loads(meta["avro.schema"].decode())
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported Avro codec {codec!r}")
    return schema, codec, sync, fh.tell()


def _range_rows(
    path: str, start: int, end: int, field_types, codec: str, sync: bytes
) -> Iterator[tuple]:
    """Decode the blocks OWNED by byte range [start, end): ownership =
    the block's leading sync marker starts inside the range (the Hadoop
    input-split rule — every block has exactly one owner, and a range
    reads past ``end`` to finish a block it owns).  ``start`` must sit
    at or before a sync boundary region; the scanner seeks forward to
    the first marker at/after ``start``."""
    with open(path, "rb") as fh:
        # Find the first sync marker whose START is in [start, end) in
        # BOUNDED chunks (1 MiB with a 15-byte overlap carry) instead of
        # slurping the whole range — at the default 128 MB split a
        # whole-range read would double per-task memory just to locate
        # one marker that in the common case sits within the first
        # block's length of the range start.
        chunk_size = 1 << 20
        at = start
        found = -1
        while at < end + 15:
            fh.seek(at)
            chunk = fh.read(min(chunk_size, end + 15 - at))
            if not chunk:
                break
            idx = chunk.find(sync)
            if idx != -1 and at + idx < end:
                found = at + idx
                break
            if idx != -1:
                break  # marker found but owned by the next range
            # overlap carry: a marker can straddle the chunk boundary
            at += len(chunk) - 15 if len(chunk) > 15 else len(chunk)
        if found == -1:
            return  # no block begins in this range
        fh.seek(found + 16)
        while True:
            block_at = fh.tell() - 16  # the owning sync marker's start
            if block_at >= end:
                return  # the next range owns this block
            n_rows = _stream_varint(fh, eof_ok=True)
            if n_rows is None:
                return  # clean EOF after the final sync
            n_bytes = _stream_varint(fh)
            if n_rows < 0 or n_bytes < 0:
                raise ValueError("negative Avro block count/size (corrupt)")
            data = fh.read(n_bytes)
            if len(data) != n_bytes or fh.read(16) != sync:
                raise ValueError(
                    "Avro block sync mismatch: torn or corrupt container"
                )
            if codec == "deflate":
                data = zlib.decompress(data, wbits=-15)
            yield from _block_rows(memoryview(data), n_rows, field_types)


def avro_scan_split(
    spark,
    path: str,
    spark_schema: str,
    split_bytes: int = 128 * 1024 * 1024,
    listing=None,
):
    """Sync-marker SPLIT scan — the past-multi-GB upgrade path
    ``avro_scan`` documents, made real: instead of one task per file,
    each file is carved into ``split_bytes`` ranges (the listing comes
    from binaryFile METADATA only — content is never read driver-side),
    and every range decodes exactly the blocks whose leading sync
    marker starts inside it, seeking past its end to finish the last
    owned block.  Each block has exactly one owner, so the union over
    ranges is exactly the file — same rows as ``avro_scan``
    (test-pinned equality), but a single 10 GB container becomes ~80
    parallel tasks instead of one straggler.  Headers are read once per
    file at planning time (driver, header bytes only).  Writer/reader
    schema RESOLUTION matches the whole-file scan (extra writer fields
    dropped, nullable reader fields the writer lacks null-filled, a
    missing non-nullable field refused at planning time) — an evolving
    bronze zone keeps split scanning.  Local/shared filesystem paths;
    on a real cluster the same ownership rule rides the storage client
    instead of ``open()``.  ``listing`` (optional, rows with ``path``
    and ``length``) reuses a listing the caller already collected —
    ``avro_scan``'s router passes its oversized rows here so a routed
    zone is listed exactly once."""
    from pyspark.sql import functions as F

    if listing is None:
        listing = (
            spark.read.format("binaryFile")
            .option("recursiveFileLookup", "true")
            .option("pathGlobFilter", "*.avro")
            .load(path)
            .select("path", "length")
            .collect()
        )  # bounded: one row per landing file, content never loaded
    from pyspark.sql.pandas.types import to_arrow_schema

    _target, names, instant, ntz, nullable, internal = _target_info(
        spark, spark_schema
    )
    arrow_schema = to_arrow_schema(internal)
    tasks = []
    from urllib.parse import unquote, urlparse

    for row in listing:
        local = row["path"]
        if local.startswith("file:"):
            local = unquote(urlparse(local).path)
        with open(local, "rb") as fh:
            schema, codec, sync, first = _read_header(fh)
        got = [f["name"] for f in schema["fields"]]
        # the same writer/reader RESOLUTION as the whole-file scan (an
        # evolving bronze zone must not lose split scanning): extra
        # writer fields decode and drop, reader fields the writer lacks
        # null-fill when nullable, a missing NON-nullable field refuses —
        # validated per file at planning time so the job fails before any
        # task runs
        hard = [n for n in names if n not in got and not nullable[n]]
        if hard:
            raise ValueError(
                f"Avro writer schema lacks non-nullable reader "
                f"field(s) {hard} (writer fields: {got}; {local!r})"
            )
        _check_ts_kinds(schema["fields"], instant, ntz)
        ftypes = json.dumps([f["type"] for f in schema["fields"]])
        fnames = json.dumps(got)
        # ranges cover [header_end - 16, file_end): the first block's
        # sync marker IS the header's trailing marker, so range 0 must
        # own it
        lo = first - 16
        while lo < row["length"]:
            hi = min(lo + split_bytes, row["length"])
            tasks.append((local, lo, hi, ftypes, fnames, codec, sync))
            lo = hi
    if not tasks:
        return spark.createDataFrame([], spark_schema)
    splits = spark.createDataFrame(
        tasks,
        "path string, start long, end long, ftypes string, "
        "fnames string, codec string, sync binary",
    ).repartition(len(tasks))

    def decode(batches):
        for batch in batches:
            for t in zip(*[c.to_pylist() for c in batch.columns]):
                path_, start_, end_, ftypes_, fnames_, codec_, sync_ = t
                rows = _range_rows(
                    path_, int(start_), int(end_),
                    json.loads(ftypes_), codec_, bytes(sync_),
                )
                # columns keyed by WRITER names: the assembler resolves
                # (extras dropped, nullable missing null-filled) exactly
                # as the whole-file scan's decode does; bounded chunks,
                # never one giant range-sized batch
                yield from _chunked_batches(
                    rows, json.loads(fnames_), arrow_schema
                )

    decoded = splits.mapInArrow(decode, schema=internal)
    return decoded.select(
        *[
            F.timestamp_micros(F.col(n)).alias(n)
            if n in instant
            else F.col(n)
            for n in names
        ]
    )
