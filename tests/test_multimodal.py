"""Multimodal binary-column plumbing: schemas, batch shapes, determinism."""

from __future__ import annotations

import hashlib

import pytest

from pyspark.sql import functions as F

from paas_auditor_spark.functions import multimodal
from paas_auditor_spark.sources import bootstrap


@pytest.fixture(scope="module")
def blobs_df(spark):
    rows = [(i, bytes([i] * (10 + i))) for i in range(5)]
    return spark.createDataFrame(rows, "doc_id long, blob binary")


def test_binary_features_len_and_hash(blobs_df):
    out = {r["doc_id"]: r for r in multimodal.binary_features(blobs_df).collect()}
    assert len(out) == 5
    for i in range(5):
        blob = bytes([i] * (10 + i))
        assert out[i]["byte_len"] == len(blob)
        assert out[i]["sha256_hex"] == hashlib.sha256(blob).hexdigest()


def test_sample_frames_fanout_and_determinism(blobs_df):
    frames = multimodal.sample_frames(blobs_df, n_frames=3)
    out = frames.collect()
    assert len(out) == 15  # 5 docs x 3 frames
    per_doc = frames.groupBy("doc_id").agg(
        F.countDistinct("frame_idx").alias("n")
    ).collect()
    assert all(r["n"] == 3 for r in per_doc)
    # deterministic fake decode: same (blob, idx) -> same frame bytes
    one = [r for r in out if r["doc_id"] == 0 and r["frame_idx"] == 0][0]
    expect = hashlib.sha256(bytes([0] * 10) + (0).to_bytes(4, "big")).digest()
    assert bytes(one["frame"]) == expect


def test_bootstrap_idempotent(spark, tmp_path):
    wh = str(tmp_path / "warehouse")
    paths = bootstrap.init_warehouse(spark, wh)
    events = spark.read.parquet(paths[bootstrap.EVENTS_TABLE])
    assert events.count() == 0
    assert "guid" in events.columns
    # re-init is a no-op and keeps any data written in between
    events_path = paths[bootstrap.EVENTS_TABLE]
    spark.createDataFrame(
        [("g1",)], "guid string"
    ).createOrReplaceTempView("probe")  # unrelated view, no write
    bootstrap.init_warehouse(spark, wh)
    assert spark.read.parquet(paths[bootstrap.EVENTS_TABLE]).count() == 0
    assert events_path.endswith(bootstrap.EVENTS_TABLE)


def test_audio_wav_roundtrip_and_window_features(spark):
    """synth_wav writes REAL RIFF/WAVE containers (stdlib wave parses
    them back bit-exactly) and audio_window_features computes windowed
    RMS/ZCR/peak with the trailing partial window dropped."""
    import io
    import math
    import wave

    from paas_auditor_spark.functions.multimodal import (
        audio_window_features,
        synth_wav,
    )

    # vec 1: constant +0.5 (zero crossings: none); vec 2: alternating
    # ±0.5 (a crossing at every step)
    rows = [
        (1, [0.5] * 8),
        (2, [0.5, -0.5] * 4),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    wavs = synth_wav(df, reps=4, sample_rate=16000)  # 32 samples each

    blob = bytes(wavs.orderBy("vec_id").collect()[0]["wav"])
    with wave.open(io.BytesIO(blob), "rb") as w:
        assert (w.getnchannels(), w.getsampwidth(), w.getframerate()) == (
            1, 2, 16000,
        )
        assert w.getnframes() == 32

    # window=12 → 2 full windows per blob, 8-sample tail dropped
    feats = {
        (r["vec_id"], r["window_idx"]): r
        for r in audio_window_features(wavs, window=12).collect()
    }
    assert set(feats) == {(1, 0), (1, 1), (2, 0), (2, 1)}
    # round-half-up quantization is asymmetric around zero by design
    # (the floor(x*32767 + 0.5) form the oracle replays):
    # +0.5 -> 16384, -0.5 -> -16383
    hi, lo = 16384, 16383
    for r in feats.values():
        assert r["n_samples"] == 12 and r["sample_rate"] == 16000
        assert r["peak"] == hi
    assert abs(feats[(1, 0)]["rms"] - hi) < 1e-9  # constant |s|
    expected = math.sqrt((6 * hi * hi + 6 * lo * lo) / 12)
    assert abs(feats[(2, 0)]["rms"] - expected) < 1e-9
    assert feats[(1, 0)]["zcr"] == 0.0  # constant signal never crosses
    assert feats[(2, 0)]["zcr"] == 1.0  # alternating crosses every step


def test_audio_window_features_rejects_non_pcm16_mono(spark):
    """The mono/16-bit PCM contract fails loudly, not silently."""
    import io
    import wave

    import pytest

    from paas_auditor_spark.functions.multimodal import audio_window_features

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)  # stereo violates the contract
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(b"\x00\x00" * 64)
    df = spark.createDataFrame(
        [(1, bytearray(buf.getvalue()))], "vec_id long, wav binary"
    )
    with pytest.raises(Exception, match="mono 16-bit"):
        audio_window_features(df, window=16).collect()


def test_ppm_synth_decode_round_trip(spark):
    """The image twin of the WAV round trip (r9): synth_ppm writes REAL
    netpbm P6 containers and decode_ppm parses the actual grammar back;
    the byte loop must be lossless so the exact oracle stays valid."""
    import numpy as np

    from paas_auditor_spark.functions.multimodal import (
        decode_ppm,
        image_tile_features,
        synth_ppm,
    )

    vecs = spark.createDataFrame(
        [(1, [0.0, 1.0, -1.0, 0.5]), (2, [0.25] * 4)],
        "vec_id long, embedding array<double>",
    )
    rows = {r["vec_id"]: bytes(r["ppm"]) for r in synth_ppm(
        vecs, width=4, height=4
    ).collect()}
    for vid, blob in rows.items():
        assert blob.startswith(b"P6\n4 4\n255\n")
        w, h, mx, flat = decode_ppm(blob)
        assert (w, h, mx, len(flat)) == (4, 4, 255, 48)
    # closed-form byte check: v=1.0 -> 255, v=-1.0 -> 0, v=0.0 -> 128
    # (floor(127.5+0.5)), v=0.5 -> floor(1.5*127.5+0.5)=191
    _, _, _, f1 = decode_ppm(rows[1])
    assert [f1[0], f1[1], f1[2], f1[3]] == [128, 255, 0, 191]
    # pattern repeats with period 4 (vec dim) across the 48 samples
    assert list(f1[:4]) * 12 == list(f1)

    feats = image_tile_features(
        synth_ppm(vecs, width=4, height=4), tile=4
    ).collect()
    assert len(feats) == 2  # one 4x4 tile per image
    by_id = {r["vec_id"]: r for r in feats}
    assert by_id[1]["peak"] == 255
    # exact channel sums from the repeating [128,255,0,191] byte stream:
    # R samples are positions 0,3,6,... -> values cycle 128,191,0,255
    r_vals = [f1[i] for i in range(0, 48, 3)]
    assert by_id[1]["sum_r"] == sum(r_vals)


def test_ppm_parser_grammar_and_errors():
    """decode_ppm must accept the REAL netpbm grammar (comments between
    header tokens) and fail loudly on truncation / wrong magic / 16-bit
    maxval — never return garbage pixels."""
    import pytest

    from paas_auditor_spark.functions.multimodal import decode_ppm

    body = bytes(range(2 * 1 * 3))
    ok = b"P6\n# a comment\n2 # inline\n1\n# more\n255\n" + body
    w, h, mx, flat = decode_ppm(ok)
    assert (w, h, mx) == (2, 1, 255) and list(flat) == list(body)

    with pytest.raises(ValueError, match="magic"):
        decode_ppm(b"P5\n2 1\n255\n" + body)
    with pytest.raises(ValueError, match="truncated PPM samples"):
        decode_ppm(b"P6\n2 1\n255\n" + body[:-1])
    with pytest.raises(ValueError, match="maxval"):
        decode_ppm(b"P6\n2 1\n65535\n" + body)
    with pytest.raises(ValueError, match="truncated PPM header"):
        decode_ppm(b"P6\n2 1")


def test_image_tile_features_rejects_partial_tiles(spark):
    from paas_auditor_spark.functions.multimodal import (
        image_tile_features,
        synth_ppm,
    )
    import pytest

    vecs = spark.createDataFrame(
        [(1, [0.1] * 4)], "vec_id long, embedding array<double>"
    )
    blobs = synth_ppm(vecs, width=5, height=4)  # 5 % 4 != 0
    with pytest.raises(Exception, match="not divisible"):
        image_tile_features(blobs, tile=4).collect()
