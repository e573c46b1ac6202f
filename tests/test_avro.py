"""Avro bronze round-trip: dependency-free container codec + Spark
plumbing (sources/avro_io.py).

The spec-compliance anchor is the JVM cross-read: Spark's classpath
ships the reference Apache Avro library (avro-1.12.1.jar) even though
the spark-avro CONNECTOR jar is absent — so containers written by the
pure-Python codec are validated byte-for-byte by the canonical
implementation, not just by our own reader.
"""

from __future__ import annotations

import io
import os

import pytest

from paas_auditor_spark.sources.avro_io import (
    avro_scan,
    avro_schema_for,
    avro_write,
    read_container,
    write_container,
)

SCHEMA = {
    "type": "record",
    "name": "r",
    "fields": [
        {"name": "a", "type": ["null", "long"]},
        {"name": "b", "type": "string"},
        {"name": "c", "type": ["null", "double"]},
        {"name": "d", "type": "boolean"},
        {"name": "e", "type": ["null", "bytes"]},
    ],
}
ROWS = [
    (1, "x", 1.5, True, b"\x00\xff"),
    (None, "y", None, False, None),
    (-(2**62), "unicode ✓", -0.0, True, b""),
]


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_container_roundtrip(codec):
    buf = io.BytesIO()
    n = write_container(buf, SCHEMA, iter(ROWS), codec=codec, block_rows=2)
    assert n == 3
    schema, rows = read_container(buf.getvalue())
    assert schema == SCHEMA
    assert list(rows) == ROWS

    empty = io.BytesIO()
    assert write_container(empty, SCHEMA, iter([]), codec=codec) == 0
    _, it = read_container(empty.getvalue())
    assert list(it) == []


def test_container_detects_corruption():
    buf = io.BytesIO()
    write_container(buf, SCHEMA, iter(ROWS))
    blob = bytearray(buf.getvalue())
    blob[-1] ^= 0xFF  # flip one sync byte of the last block
    with pytest.raises(ValueError, match="sync"):
        list(read_container(bytes(blob))[1])
    with pytest.raises(ValueError, match="magic"):
        read_container(b"PAR1" + bytes(blob))


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_jvm_avro_cross_reads_our_containers(spark, tmp_path, codec):
    """The canonical JVM Avro implementation must read our files: spec
    compliance proven against the reference library, not self-parity."""
    path = str(tmp_path / f"x-{codec}.avro")
    with open(path, "wb") as fh:
        write_container(fh, SCHEMA, iter(ROWS), codec=codec, block_rows=2)

    jvm = spark._jvm
    reader = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(path),
        jvm.org.apache.avro.generic.GenericDatumReader(),
    )
    got = []
    while reader.hasNext():
        rec = reader.next()
        got.append(
            (
                rec.get("a"),
                str(rec.get("b")),
                rec.get("c"),
                rec.get("d"),
                rec.get("e"),
            )
        )
    reader.close()
    for mine, theirs in zip(ROWS, got):
        a, b, c, d, e = theirs
        assert a == mine[0]
        assert b == mine[1]
        assert c == mine[2]
        assert d == mine[3]
        if mine[4] is None:
            assert e is None
        else:
            # py4j hands a ByteBuffer back and does NOT copy mutations
            # into a passed bytearray — read it one (signed) byte at a
            # time instead
            raw = bytes(e.get() & 0xFF for _ in range(e.remaining()))
            assert raw == mine[4]
    assert len(got) == len(ROWS)


def test_avro_schema_mapping(spark):
    df = spark.createDataFrame(
        [], "id long, ts timestamp, name string, ok boolean, v double"
    )
    s = avro_schema_for(df.schema)
    by_name = {f["name"]: f["type"] for f in s["fields"]}
    assert by_name["id"] == ["null", "long"]
    assert by_name["ts"] == [
        "null", {"type": "long", "logicalType": "timestamp-micros"}
    ]
    with pytest.raises(ValueError, match="no Avro mapping"):
        avro_schema_for(
            spark.createDataFrame([], "m map<string,string>").schema
        )


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_spark_roundtrip_events_slice(spark, sf_dir, tmp_path, codec):
    """events slice → distributed avro_write → distributed avro_scan →
    row-identical (including NULLs and ns→us timestamp semantics)."""
    from pyspark.sql import functions as F

    from paas_auditor_spark.sources.tables import load_table

    src = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
        .filter(F.col("event_id") < 500)
        .repartition(4)
    )
    out = str(tmp_path / "bronze")
    n = avro_write(src, out, codec=codec)
    assert n == src.count()
    jobs = [d for d in os.listdir(out) if d.startswith("job-")]
    assert len(jobs) == 1  # ONE atomic publish per write job
    job = os.path.join(out, jobs[0])
    files = [f for f in os.listdir(job) if f.endswith(".avro")]
    assert len(files) == 4  # one task-owned file per partition
    assert os.path.exists(os.path.join(job, "_SUCCESS"))

    back = avro_scan(
        spark, out,
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double",
    )
    assert back.schema == src.schema
    key = lambda r: (r["event_id"],)
    assert sorted(back.collect(), key=key) == sorted(
        src.collect(), key=key
    )


def test_torn_attempt_invisible_to_scan(spark, tmp_path):
    """A crashed writer's dot-prefixed attempt dir (and its files) must
    never feed the scan — publish is ONE atomic rename of the attempt
    to a visible job dir, so there is no some-files-visible window;
    Spark's hidden-path rule isolates everything before the rename."""
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    out = str(tmp_path / "bronze")
    avro_write(df, out)
    # simulate a writer that died BEFORE its atomic publish rename:
    # attempt dir holding one complete and one torn container
    torn = os.path.join(out, ".attempt-dead")
    os.makedirs(torn)
    with open(os.path.join(torn, "part-zzz.avro"), "wb") as fh:
        fh.write(b"Obj\x01partial-garbage")
    schema = {
        "type": "record", "name": "r",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "s", "type": ["null", "string"]},
        ],
    }
    with open(os.path.join(torn, "part-ok.avro"), "wb") as fh:
        write_container(fh, schema, iter([(99, "ghost")]))
    back = avro_scan(spark, out, "id long, s string")
    assert sorted(r["id"] for r in back.collect()) == [1, 2]


def test_empty_partitions_write_valid_containers(spark, tmp_path):
    """A bronze flush with empty partitions still publishes readable
    zero-block containers (and the scan returns the right rows)."""
    df = spark.createDataFrame([(7, "x")], "id long, s string").repartition(3)
    out = str(tmp_path / "bronze")
    assert avro_write(df, out) == 1
    back = avro_scan(spark, out, "id long, s string")
    assert [(r["id"], r["s"]) for r in back.collect()] == [(7, "x")]


def test_scan_schema_resolution(spark, tmp_path):
    """Writer/reader schema resolution: a bronze zone evolves — files
    with EXTRA writer fields decode (extras dropped), reader fields the
    writer lacks null-fill when nullable, and a missing non-nullable
    field refuses loudly."""
    out = str(tmp_path / "bronze")
    os.makedirs(out)
    wide = {
        "type": "record", "name": "r",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "extra", "type": "string"},
            {"name": "s", "type": ["null", "string"]},
        ],
    }
    with open(os.path.join(out, "a.avro"), "wb") as fh:
        write_container(fh, wide, iter([(1, "drop-me", "x")]))
    narrow = {
        "type": "record", "name": "r",
        "fields": [{"name": "id", "type": "long"}],
    }
    with open(os.path.join(out, "b.avro"), "wb") as fh:
        write_container(fh, narrow, iter([(2,)]))

    back = avro_scan(spark, out, "id long, s string")
    got = sorted((r["id"], r["s"]) for r in back.collect())
    assert got == [(1, "x"), (2, None)]  # extra dropped, missing nulled

    strict = avro_scan(spark, out, "id long, s string not null")
    with pytest.raises(Exception, match="non-nullable reader field"):
        strict.collect()


def test_split_scan_schema_resolution(spark, tmp_path):
    """The split scanner resolves writer vs reader schemas exactly like
    the whole-file scan (r9 verdict residual: an evolving bronze zone
    must not lose split scanning) — at sub-block, block-ish and
    whole-file split sizes; a missing non-nullable field refuses at
    PLANNING time (before any task runs)."""
    from paas_auditor_spark.sources.avro_io import avro_scan_split

    out = str(tmp_path / "bronze")
    os.makedirs(out)
    wide = {
        "type": "record", "name": "r",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "extra", "type": "string"},
            {"name": "s", "type": ["null", "string"]},
        ],
    }
    with open(os.path.join(out, "a.avro"), "wb") as fh:
        write_container(
            fh, wide,
            iter([(i, f"drop-{i}", f"x{i}") for i in range(500)]),
            block_rows=37,
        )
    narrow = {
        "type": "record", "name": "r",
        "fields": [{"name": "id", "type": "long"}],
    }
    with open(os.path.join(out, "b.avro"), "wb") as fh:
        write_container(
            fh, narrow, iter([(i,) for i in range(500, 600)]),
            block_rows=37,
        )

    want = sorted(
        [(i, f"x{i}") for i in range(500)]
        + [(i, None) for i in range(500, 600)]
    )
    for split in (200, 2048, 10**9):
        back = avro_scan_split(
            spark, out, "id long, s string", split_bytes=split
        )
        got = sorted((r["id"], r["s"]) for r in back.collect())
        assert got == want, f"split={split}"

    with pytest.raises(Exception, match="non-nullable reader field"):
        # planning-time refusal: no .collect() needed
        avro_scan_split(spark, out, "id long, s string not null")


def test_null_values_refused_for_not_null_reader(spark, tmp_path):
    """A writer field that EXISTS but carries NULLs must not flow into
    a NOT NULL reader column (r9 advice: Spark does not re-validate an
    Arrow batch against the declared schema) — both scan shapes."""
    from paas_auditor_spark.sources.avro_io import avro_scan_split

    out = str(tmp_path / "bronze")
    os.makedirs(out)
    schema = {
        "type": "record", "name": "r",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "s", "type": ["null", "string"]},
        ],
    }
    with open(os.path.join(out, "a.avro"), "wb") as fh:
        write_container(fh, schema, iter([(1, "x"), (2, None)]))

    for df in (
        avro_scan(spark, out, "id long, s string not null"),
        avro_scan_split(spark, out, "id long, s string not null"),
    ):
        with pytest.raises(Exception, match="declared\\s+NOT NULL"):
            df.collect()


def test_varint_cap_fails_fast():
    """Corrupt continuation bytes must raise at the 10-byte varint cap
    (r9 advice), not grow an unbounded Python int until a later length
    check trips."""
    import io as _io

    from paas_auditor_spark.sources.avro_io import (
        _read_long,
        _stream_varint,
    )

    corrupt = b"\xff" * 64
    with pytest.raises(ValueError, match="10 bytes"):
        _read_long(memoryview(corrupt), 0)
    with pytest.raises(ValueError, match="10 bytes"):
        _stream_varint(_io.BytesIO(corrupt))


def test_per_file_sync_markers(spark, tmp_path):
    """avro_write salts each part file's sync marker with its uuid (r9
    advice): same-schema files carry DISTINCT markers, so a bronze zone
    re-ingesting its own container bytes into a bytes column can no
    longer reproduce a file's own marker non-adversarially.  The split
    scan must still read the salted files (marker comes from the
    header) — including a file whose payload EMBEDS a whole same-schema
    container."""
    from paas_auditor_spark.sources.avro_io import (
        _read_header,
        avro_scan_split,
    )

    zone_a = str(tmp_path / "a")
    df = spark.createDataFrame(
        [(i, bytes([i % 7]) * 3) for i in range(100)], "id long, b binary"
    ).repartition(3)
    avro_write(df, zone_a)
    job = os.path.join(zone_a, [d for d in os.listdir(zone_a)][0])
    markers = set()
    for f in os.listdir(job):
        if f.endswith(".avro"):
            with open(os.path.join(job, f), "rb") as fh:
                markers.add(_read_header(fh)[2])
    assert len(markers) == 3  # one distinct marker per part file

    # re-ingest one whole container as a payload of a same-schema zone
    inner = sorted(os.listdir(job))[0]
    with open(os.path.join(job, inner), "rb") as fh:
        blob = fh.read()
    zone_b = str(tmp_path / "b")
    df2 = spark.createDataFrame([(999, blob)], "id long, b binary")
    avro_write(df2, zone_b)
    back = avro_scan_split(spark, zone_b, "id long, b binary",
                           split_bytes=512)
    got = back.collect()
    assert len(got) == 1 and bytes(got[0]["b"]) == blob


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_split_scan_equals_whole_file_scan(spark, tmp_path, codec):
    """Sync-marker split scan: every byte range decodes exactly the
    blocks whose leading sync marker starts inside it, so the union
    over ranges of ONE big container equals the whole-file scan — at a
    split size smaller than a block (most ranges own nothing), around
    block size, and bigger than the file (single range)."""
    from paas_auditor_spark.sources.avro_io import avro_scan_split

    schema = {
        "type": "record", "name": "r",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "s", "type": ["null", "string"]},
            {"name": "b", "type": ["null", "bytes"]},
        ],
    }
    rows = [
        (i, f"row {i}" if i % 3 else None, bytes([i % 256]) * (i % 7))
        for i in range(5000)
    ]
    zone = str(tmp_path / "zone")
    os.makedirs(zone)
    with open(os.path.join(zone, "one.avro"), "wb") as fh:
        write_container(fh, schema, iter(rows), codec=codec, block_rows=97)

    ddl = "id long, s string, b binary"
    key = lambda r: r[0]

    def norm(df):
        return sorted(
            (
                r["id"],
                r["s"],
                bytes(r["b"]) if r["b"] is not None else None,
            )
            for r in df.collect()
        )

    want = norm(avro_scan(spark, zone, ddl))
    assert len(want) == 5000
    for split in (150, 2048, 10**9):
        got = norm(avro_scan_split(spark, zone, ddl, split_bytes=split))
        assert got == want, f"split={split}"

    # r11 (r10 verdict task #4) MIXED-SIZE auto-routing: drop a second,
    # much smaller container into the zone and scan with a threshold
    # between the two sizes — the big file routes to the split scanner,
    # the small one decodes whole, and the union equals a pure
    # whole-file scan of the same zone.
    extra = [(10_000 + i, f"extra {i}", b"x") for i in range(50)]
    with open(os.path.join(zone, "two.avro"), "wb") as fh:
        write_container(fh, schema, iter(extra), codec=codec, block_rows=25)
    sizes = sorted(
        os.path.getsize(os.path.join(zone, f))
        for f in ("one.avro", "two.avro")
    )
    assert sizes[0] < sizes[1]
    threshold = (sizes[0] + sizes[1]) // 2
    want_all = norm(avro_scan(spark, zone, ddl, split_threshold_bytes=10**12))
    assert len(want_all) == 5050
    routed = norm(
        avro_scan(
            spark, zone, ddl,
            split_threshold_bytes=threshold, split_bytes=2048,
        )
    )
    assert routed == want_all
    # threshold below BOTH sizes: everything routes to the splitter
    all_split = norm(
        avro_scan(
            spark, zone, ddl,
            split_threshold_bytes=1, split_bytes=2048,
        )
    )
    assert all_split == want_all


def test_split_scan_parallelizes_one_big_file(spark, tmp_path):
    """The whole point of the splitter: ONE container becomes many
    tasks.  Partition count equals the range count, and ranges cover
    the file exactly once."""
    from paas_auditor_spark.sources.avro_io import avro_scan_split

    schema = {
        "type": "record", "name": "r",
        "fields": [{"name": "id", "type": "long"}],
    }
    zone = str(tmp_path / "zone")
    os.makedirs(zone)
    with open(os.path.join(zone, "big.avro"), "wb") as fh:
        write_container(
            fh, schema, iter([(i,) for i in range(20000)]), block_rows=256
        )
    df = avro_scan_split(spark, zone, "id long", split_bytes=8192)
    n_parts = df.rdd.getNumPartitions()
    assert n_parts > 4  # one straggler file became many tasks
    assert sorted(r["id"] for r in df.collect()) == list(range(20000))


def test_instant_timestamps_survive_non_utc_session(spark, tmp_path):
    """TimestampType is an INSTANT: under a non-UTC session the naive
    wall-clock pandas hands over must be localized back through the
    session timezone before taking epoch micros, or the file stores
    wall clock mislabeled as UTC (a multi-hour shift any spec-correct
    reader reproduces).  Asserts the RAW stored long is true UTC epoch
    micros and the engine round-trip returns the same instant."""
    from paas_auditor_spark.sources.avro_io import read_container

    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        out = str(tmp_path / "bronze")
        # 2026-01-01 05:00:00 UTC == 2026-01-01 00:00:00 EST
        df = spark.sql(
            "SELECT 1L AS id, "
            "timestamp'2026-01-01 00:00:00' AS ts"  # session-local EST
        )
        avro_write(df, out)
        job = [d for d in os.listdir(out) if d.startswith("job-")][0]
        avro_f = [
            f
            for f in os.listdir(os.path.join(out, job))
            if f.endswith(".avro")
        ][0]
        with open(os.path.join(out, job, avro_f), "rb") as fh:
            _, rows = read_container(fh.read())
        (row,) = rows
        utc_micros = row[1]
        assert utc_micros == 1767243600_000000  # 05:00 UTC, not 00:00
        back = avro_scan(spark, out, "id long, ts timestamp")
        got = back.collect()[0]["ts"]
        want = df.collect()[0]["ts"]
        assert got == want
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_arrow_exchange_preserves_exactness_and_nan(spark, tmp_path):
    """The two silent hazards a pandas exchange cannot avoid, absent by
    construction on the Arrow exchange: a nullable long at 2^53+1 next
    to a NULL round-trips EXACTLY (pandas would float64-widen and
    truncate it), and NaN in a nullable double stays NaN while NULL
    stays NULL (pandas conflates them)."""
    import math

    big = (1 << 53) + 1
    df = spark.createDataFrame(
        [(1, big, float("nan")), (2, None, None), (3, -big, 0.5)],
        "k long, id long, v double",
    ).coalesce(1)  # same partition: nulls beside the big values
    out = str(tmp_path / "bronze")
    assert avro_write(df, out) == 3
    got = {
        r["k"]: (r["id"], r["v"])
        for r in avro_scan(spark, out, "k long, id long, v double")
        .collect()
    }
    assert got[1][0] == big and math.isnan(got[1][1])
    assert got[2] == (None, None)
    assert got[3] == (-big, 0.5)


def test_dst_fallback_instants_roundtrip_exactly(spark, tmp_path):
    """The reason instants travel as JVM-side epoch micros: a DST
    fall-back hour maps TWO distinct instants to ONE naive wall clock
    (01:30 EDT and 01:30 EST), so any pandas-side wall-clock conversion
    either crashes (tz_localize raises AmbiguousTimeError) or silently
    shifts one of them by an hour.  Both instants must round-trip
    exactly under the DST session timezone."""
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        out = str(tmp_path / "bronze")
        # 2025-11-02 05:30 UTC = 01:30 EDT; 06:30 UTC = 01:30 EST —
        # the ambiguous pair
        df = spark.sql(
            "SELECT * FROM VALUES "
            "(1L, timestamp'2025-11-02 05:30:00 UTC'), "
            "(2L, timestamp'2025-11-02 06:30:00 UTC') AS t(id, ts)"
        )
        avro_write(df, out)
        back = avro_scan(spark, out, "id long, ts timestamp")
        got = {r["id"]: r["ts"] for r in back.collect()}
        want = {r["id"]: r["ts"] for r in df.collect()}
        assert got == want  # both instants distinct and exact
        micros = {
            r["id"]: r["us"]
            for r in back.selectExpr(
                "id", "unix_micros(ts) AS us"
            ).collect()
        }
        assert micros[2] - micros[1] == 3600_000000  # one true hour
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_ts_kind_mismatch_refuses(spark, tmp_path):
    """Reading instant (timestamp-micros) data as timestamp_ntz — or
    wall-clock data as an instant — shifts every value by the session
    offset; the scans must refuse the mixup instead."""
    from paas_auditor_spark.sources.avro_io import avro_scan_split

    out = str(tmp_path / "bronze")
    df = spark.sql("SELECT 1L AS id, timestamp'2026-01-01' AS ts")
    avro_write(df, out)
    with pytest.raises(Exception, match="timestamp kind mismatch"):
        avro_scan(spark, out, "id long, ts timestamp_ntz").collect()
    with pytest.raises(Exception, match="timestamp kind mismatch"):
        avro_scan_split(spark, out, "id long, ts timestamp_ntz")


# ---- property tests: the codec is hand-rolled, so fuzz it -----------

from hypothesis import given, settings
from hypothesis import strategies as st

_ROW = st.tuples(
    st.one_of(
        st.none(),
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
    ),
    st.text(max_size=40),
    st.one_of(
        st.none(),
        st.floats(allow_nan=False),  # NaN-vs-NULL policy tested above
    ),
    st.booleans(),
    st.one_of(st.none(), st.binary(max_size=24)),
)


@settings(max_examples=60, deadline=None)
@given(
    rows=st.lists(_ROW, max_size=50),
    codec=st.sampled_from(["null", "deflate"]),
    block_rows=st.integers(min_value=1, max_value=7),
)
def test_property_container_roundtrip(rows, codec, block_rows):
    """∀ rows, codec, blocking: decode(encode(rows)) == rows — full
    64-bit long range, unicode, infinities/subnormals, empty/None
    bytes, every block boundary."""
    buf = io.BytesIO()
    n = write_container(
        buf, SCHEMA, iter(rows), codec=codec, block_rows=block_rows
    )
    assert n == len(rows)
    _, it = read_container(buf.getvalue())
    assert list(it) == rows


@settings(max_examples=25, deadline=None)
@given(
    rows=st.lists(_ROW, min_size=1, max_size=60),
    block_rows=st.integers(min_value=1, max_value=9),
    split=st.integers(min_value=40, max_value=5000),
)
def test_property_split_union_equals_file(tmp_path_factory, rows,
                                          block_rows, split):
    """∀ blocking and split size: the union of per-range decodes equals
    the whole file, each row exactly once — the input-split ownership
    invariant, fuzzed without Spark."""
    from paas_auditor_spark.sources.avro_io import (
        _range_rows,
        _read_header,
    )

    d = tmp_path_factory.mktemp("avrofuzz")
    p = os.path.join(str(d), "f.avro")
    with open(p, "wb") as fh:
        write_container(fh, SCHEMA, iter(rows), block_rows=block_rows)
    with open(p, "rb") as fh:
        schema, codec, sync, first = _read_header(fh)
    ftypes = [f["type"] for f in schema["fields"]]
    size = os.path.getsize(p)
    got = []
    lo = first - 16
    while lo < size:
        hi = min(lo + split, size)
        got.extend(_range_rows(p, lo, hi, ftypes, codec, sync))
        lo = hi
    assert got == rows  # in order, exactly once


def test_our_reader_reads_jvm_written_containers(spark, tmp_path):
    """Interop BOTH directions: the earlier cross-read proves the JVM
    library reads our files; this proves our reader decodes canonical
    JVM-WRITTEN containers — including their RANDOM sync markers (ours
    are md5-derived, so this also pins that no reader path assumes our
    marker scheme) and their deflate framing.  Records are built
    JVM-side via Avro's own JSON decoder because py4j auto-unboxes
    java.lang.Long back to a Python int (which the union then
    rejects)."""
    import json as _json

    jvm = spark._jvm
    schema_json = _json.dumps(
        {
            "type": "record", "name": "r",
            "fields": [
                {"name": "a", "type": ["null", "long"]},
                {"name": "b", "type": "string"},
                {"name": "c", "type": ["null", "double"]},
            ],
        }
    )
    sch = jvm.org.apache.avro.Schema.Parser().parse(schema_json)
    reader = jvm.org.apache.avro.generic.GenericDatumReader(sch)
    writer = jvm.org.apache.avro.file.DataFileWriter(
        jvm.org.apache.avro.generic.GenericDatumWriter(sch)
    )
    writer.setCodec(jvm.org.apache.avro.file.CodecFactory.deflateCodec(6))
    zone = tmp_path / "zone"
    zone.mkdir()
    path = str(zone / "jvm.avro")
    writer.create(sch, jvm.java.io.File(path))
    for j in (
        '{"a":{"long":7},"b":"hello","c":{"double":1.25}}',
        '{"a":null,"b":"unicode \\u2713","c":null}',
    ):
        dec = jvm.org.apache.avro.io.DecoderFactory.get().jsonDecoder(
            sch, j
        )
        writer.append(reader.read(None, dec))
    writer.close()

    with open(path, "rb") as fh:
        _, rows = read_container(fh.read())
    assert list(rows) == [(7, "hello", 1.25), (None, "unicode ✓", None)]

    # and through the full Spark scan + the split scan
    key = lambda t: (t[0] is None, t)
    got = sorted(
        (
            (r["a"], r["b"], r["c"])
            for r in avro_scan(
                spark, str(zone), "a long, b string, c double"
            ).collect()
        ),
        key=key,
    )
    assert got == [(7, "hello", 1.25), (None, "unicode ✓", None)]
    from paas_auditor_spark.sources.avro_io import avro_scan_split

    got2 = sorted(
        (
            (r["a"], r["b"], r["c"])
            for r in avro_scan_split(
                spark, str(zone), "a long, b string, c double"
            ).collect()
        ),
        key=key,
    )
    assert got2 == got


def test_corrupt_lengths_fail_loudly():
    """r11 review findings: a negative bytes length must not slice the
    memoryview with wraparound semantics (garbage bytes + REGRESSED
    position → potential infinite header loop), and a 10-byte varint
    with high bits in its final byte must not decode to a value outside
    int64 (canonical readers reject it)."""
    from paas_auditor_spark.sources.avro_io import _read_bytes, _read_long

    # zigzag 0x05 = -3: pre-fix this returned (b'ABCD', -2)
    with pytest.raises(ValueError, match="negative"):
        _read_bytes(memoryview(b"\x05ABCDEF"), 0)
    with pytest.raises(ValueError, match="int64"):
        _read_long(memoryview(bytes([0xFF] * 9 + [0x7F])), 0)


def test_corrupt_block_row_count_fails_loudly():
    """A bit-flipped row count must fail, BOTH directions: shrunken
    would silently DROP the block's tail (the sync check passes —
    position comes from the byte size), inflated overruns the buffer."""
    from paas_auditor_spark.sources.avro_io import _read_header

    buf = io.BytesIO()
    write_container(buf, SCHEMA, iter(ROWS), block_rows=3)
    blob = bytearray(buf.getvalue())
    _, _, _, first = _read_header(io.BytesIO(bytes(blob)))
    assert blob[first] == 0x06  # zigzag(3): the single block's count
    blob[first] = 0x02  # count=1: a silent 2-row drop pre-fix
    with pytest.raises(ValueError, match="decoded"):
        list(read_container(bytes(blob))[1])
    blob[first] = 0x08  # count=4: overruns the block's bytes
    with pytest.raises(ValueError, match="overran"):
        list(read_container(bytes(blob))[1])


def test_write_rejects_arity_mismatch():
    """A row whose arity disagrees with the schema must fail loudly —
    pre-fix zip() silently truncated, writing a structurally corrupt
    block (the reader decodes the next record's bytes as the missing
    fields)."""
    with pytest.raises(ValueError):
        write_container(
            io.BytesIO(), SCHEMA, iter([(1, "x", 1.5, True)])
        )


def test_write_publishes_exactly_collected_files(spark, tmp_path):
    """The commit publishes exactly the files the collected results
    name — per-task-attempt file naming plus winner-only publication
    keeps failed/speculative attempts' orphans out of the visible tree
    (they die with the hidden attempt dir)."""
    out = str(tmp_path / "zone")
    df = spark.range(40).selectExpr(
        "id AS a", "cast(id AS string) AS b"
    ).repartition(4)
    avro_write(df, out)
    (job,) = os.listdir(out)
    assert job.startswith("job-")
    files = sorted(os.listdir(os.path.join(out, job)))
    assert files.count("_SUCCESS") == 1
    assert len([f for f in files if f.endswith(".avro")]) == 4
    # no hidden attempt/commit residue at the zone root
    assert [d for d in os.listdir(out) if d.startswith(".")] == []


def test_decode_chunking_preserves_rows(spark, tmp_path, monkeypatch):
    """Bounded decode chunks (never one giant per-file RecordBatch) are
    value-invisible: with the chunk size forced below the row count the
    scan still returns exactly the written rows."""
    from paas_auditor_spark.sources import avro_io

    monkeypatch.setattr(avro_io, "_DECODE_CHUNK_ROWS", 7)
    out = str(tmp_path / "zone")
    df = spark.range(100).selectExpr("id AS a", "cast(id AS string) AS b")
    avro_write(df.coalesce(1), out)
    got = avro_scan(spark, out, "a long, b string").orderBy("a").collect()
    assert [(r["a"], r["b"]) for r in got] == [
        (i, str(i)) for i in range(100)
    ]
