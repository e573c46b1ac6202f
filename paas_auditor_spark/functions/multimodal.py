"""Multimodal (binary) column plumbing.

Design: image/audio/video payloads are opaque ``binary`` columns travelling
next to typed metadata; all per-blob compute runs as Arrow-batched
``mapInPandas`` so bytes never round-trip through row-at-a-time Python.
Image and audio containers are decoded without a codec library: binary
PPM (``decode_ppm``) by hand, PCM WAV with the stdlib ``wave`` module.

Scale notes: blobs dominate partition size, so callers should
``spark.sql.files.maxPartitionBytes`` down (or repartition by blob-count)
to keep Arrow batches bounded; feature extraction is embarrassingly
parallel with no shuffle.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame

BINARY_FEATURES_SCHEMA = "doc_id long, byte_len long, sha256_hex string"


def binary_features(
    blobs_df: DataFrame,
    id_col: str = "doc_id",
    blob_col: str = "blob",
) -> DataFrame:
    """Extract cheap per-blob features (byte length, sha256) via mapInPandas.

    This is the template every real extractor (EXIF parse, frame sample,
    spectrogram) follows: Arrow batch in → vectorized pandas out.
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = pdf[blob_col]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "byte_len": blobs.map(len).astype("int64"),
                    "sha256_hex": blobs.map(
                        lambda b: hashlib.sha256(bytes(b)).hexdigest()
                    ),
                }
            )

    return blobs_df.mapInPandas(extract, schema=BINARY_FEATURES_SCHEMA)


def sample_frames(
    blobs_df: DataFrame,
    n_frames: int = 4,
    id_col: str = "doc_id",
    blob_col: str = "blob",
    frame_extractor=None,
) -> DataFrame:
    """Frame-sampling template for video blobs: one output row per sampled
    frame (doc_id, frame_idx, frame binary).

    ``frame_extractor(blob, idx) -> bytes`` is the pluggable decode step
    (ffmpeg/pyav seek+decode on a real cluster); the default derives a
    deterministic fake frame from (blob hash, idx).  Frame indices are
    evenly spaced — the standard uniform-sampling policy for training-data
    pipelines.  Output rows fan out n_frames× — at scale follow with a
    repartition to restore balanced partitions before heavy per-frame work.
    """

    def fake_frame(blob: bytes, idx: int) -> bytes:
        return hashlib.sha256(blob + idx.to_bytes(4, "big")).digest()

    frame_extractor = frame_extractor or fake_frame

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for doc_id, blob in zip(pdf[id_col], pdf[blob_col]):
                for i in range(n_frames):
                    ids.append(doc_id)
                    idxs.append(i)
                    frames.append(frame_extractor(bytes(blob), i))
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "frame": frames}
            )

    return blobs_df.mapInPandas(
        run, schema="doc_id long, frame_idx int, frame binary"
    )


def synth_ppm(
    vectors_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    width: int = 16,
    height: int = 12,
) -> DataFrame:
    """Deterministic binary-PPM (netpbm ``P6``) image synthesis from a
    float-vector column — the image twin of ``synth_wav``, so real image
    decode needs no PIL, as the WAV path needs no audio library.  P6 is
    a REAL image format — ``P6\\n<w> <h>\\n255\\n`` header + raw
    big-endian RGB bytes — openable by standard tools, yet
    dependency-free to read and write.

    Pixel (p, channel c) byte = floor((clip(v, −1, 1) + 1)·127.5 + 0.5)
    where v = vec[(3p + c) mod dim] — round-half-up ``floor`` form on
    purpose, so the DuckDB oracle replays the identical expression from
    the embeddings table without ever seeing a PPM byte (the synth_wav
    convention)."""
    import numpy as np

    n_px = width * height

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        header = f"P6\n{width} {height}\n255\n".encode()
        for pdf in batches:
            ids, blobs = [], []
            for vid, vec in zip(pdf[id_col], pdf[vec_col]):
                x = np.asarray(vec, dtype=np.float64)
                idx = np.arange(3 * n_px) % len(x)
                v = np.clip(x[idx], -1.0, 1.0)
                rgb = np.floor((v + 1.0) * 127.5 + 0.5).astype(np.uint8)
                ids.append(vid)
                blobs.append(header + rgb.tobytes())
            yield pd.DataFrame({id_col: ids, "ppm": blobs})

    id_type = vectors_df.schema[id_col].dataType.simpleString()
    return vectors_df.mapInPandas(
        run, schema=f"{id_col} {id_type}, ppm binary"
    )


def decode_ppm(blob: bytes):
    """Strict netpbm ``P6`` decode with NO image library: returns
    ``(width, height, maxval, flat uint8 array of h·w·3 RGB bytes)``.
    Parses the real grammar — magic, then three whitespace-separated
    header tokens with ``#``-comment lines allowed anywhere between
    them, then ONE whitespace byte, then raw samples — and raises a
    clear error on anything else (truncated data, maxval > 255's
    two-byte samples are out of contract)."""
    import numpy as np

    if not blob.startswith(b"P6"):
        raise ValueError("not a binary PPM (P6 magic missing)")
    pos, tokens = 2, []
    while len(tokens) < 3:
        if pos >= len(blob):
            raise ValueError("truncated PPM header")
        ch = blob[pos : pos + 1]
        if ch == b"#":  # comment runs to end of line
            nl = blob.find(b"\n", pos)
            pos = len(blob) if nl < 0 else nl + 1
        elif ch.isspace():
            pos += 1
        else:
            end = pos
            while end < len(blob) and not blob[end : end + 1].isspace():
                end += 1
            tokens.append(int(blob[pos:end]))
            pos = end
    pos += 1  # exactly one whitespace byte separates header from samples
    w, h, maxval = tokens
    if maxval != 255:
        raise ValueError(f"P6 maxval {maxval} outside the 8-bit contract")
    need = w * h * 3
    data = blob[pos : pos + need]
    if len(data) != need:
        raise ValueError(
            f"truncated PPM samples: want {need} bytes, have {len(data)}"
        )
    return w, h, maxval, np.frombuffer(data, dtype=np.uint8)


def image_tile_features(
    blobs_df: DataFrame,
    id_col: str = "vec_id",
    blob_col: str = "ppm",
    tile: int = 4,
) -> DataFrame:
    """Per-tile image statistics over PPM blobs with a REAL decode — the
    image member of the multimodal family that runs everywhere (the
    audio_window_features posture: parse the actual container, never
    trust a schema).  Per non-overlapping ``tile``×``tile`` tile:
    exact int64 channel sums, the peak sample, and mean BT.709-ish luma
    from integer weights ((2126·R + 7152·G + 722·B)/10⁴ per pixel) —
    every value an exact rational of byte sums, so a SQL oracle
    reproduces them to the ulp from the same closed-form synth.  One
    narrow mapInPandas fan-out (tile-count rows per blob), no shuffle."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, tix, sr, sg, sb, pk, luma = [], [], [], [], [], [], []
            for vid, blob in zip(pdf[id_col], pdf[blob_col]):
                w, h, _mx, flat = decode_ppm(bytes(blob))
                if w % tile or h % tile:
                    raise ValueError(
                        f"{w}x{h} image not divisible into {tile}x{tile} "
                        "tiles (partial tiles are out of contract)"
                    )
                img = flat.reshape(h, w, 3).astype(np.int64)
                th_, tw = h // tile, w // tile
                # all tiles in one vectorized pass (guide §4.2): block the
                # image into (ty, tile, tx, tile, 3) and reduce the two
                # tile axes — the same exact int64 channel sums and integer
                # luma weights as the per-tile loop, bit-equal values
                t = img.reshape(th_, tile, tw, tile, 3)
                csum = t.sum(axis=(1, 3))  # (th, tw, 3) exact int64
                pk_t = t.max(axis=(1, 3)).max(axis=-1)  # (th, tw)
                luma_t = (
                    2126 * csum[..., 0]
                    + 7152 * csum[..., 1]
                    + 722 * csum[..., 2]
                ) / (10000.0 * tile * tile)
                n_tiles = th_ * tw
                ids.extend([vid] * n_tiles)
                tix.extend(range(n_tiles))
                sr.extend(csum[..., 0].ravel().tolist())
                sg.extend(csum[..., 1].ravel().tolist())
                sb.extend(csum[..., 2].ravel().tolist())
                pk.extend(pk_t.ravel().tolist())
                luma.extend(luma_t.ravel().tolist())
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "tile_idx": tix,
                    "sum_r": sr,
                    "sum_g": sg,
                    "sum_b": sb,
                    "peak": pk,
                    "mean_luma": luma,
                }
            )

    id_type = blobs_df.schema[id_col].dataType.simpleString()
    return blobs_df.mapInPandas(
        run,
        schema=(
            f"{id_col} {id_type}, tile_idx int, sum_r long, sum_g long, "
            "sum_b long, peak long, mean_luma double"
        ),
    )


def synth_wav(
    vectors_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    reps: int = 25,
    sample_rate: int = 8000,
) -> DataFrame:
    """Deterministic 16-bit PCM WAV synthesis from a float-vector column
    — the blob SOURCE for the audio path (the multimodal_frames
    convention: testdata carries no media columns, so blobs derive
    deterministically from existing tables).  The vector is tiled
    ``reps`` times and quantized with ``floor(x·32767 + 0.5)``
    (round-half-up — chosen over numpy's half-even ``round`` precisely
    because the DuckDB oracle replays the identical ``floor``
    expression), then written as a REAL RIFF/WAVE container via the
    stdlib ``wave`` module — real bytes, real header, so the decode
    side genuinely parses audio instead of trusting a schema."""
    import io
    import wave

    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, blobs = [], []
            for vid, vec in zip(pdf[id_col], pdf[vec_col]):
                x = np.asarray(vec, dtype=np.float64)
                tiled = np.tile(np.clip(x, -1.0, 1.0), reps)
                pcm = np.floor(tiled * 32767 + 0.5).astype(np.int16)
                buf = io.BytesIO()
                with wave.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(2)
                    w.setframerate(sample_rate)
                    w.writeframes(pcm.tobytes())
                ids.append(vid)
                blobs.append(buf.getvalue())
            yield pd.DataFrame({id_col: ids, "wav": blobs})

    id_type = vectors_df.schema[id_col].dataType.simpleString()
    return vectors_df.mapInPandas(
        run, schema=f"{id_col} {id_type}, wav binary"
    )


def audio_window_features(
    blobs_df: DataFrame,
    id_col: str = "vec_id",
    blob_col: str = "wav",
    window: int = 256,
) -> DataFrame:
    """Windowed audio features over WAV blobs with a REAL decode — the
    audio member of the multimodal family, and it runs everywhere: the
    stdlib ``wave`` module
    parses the RIFF container (mono 16-bit PCM contract) and numpy
    frombuffer yields the waveform, Arrow batch by Arrow batch.

    Per non-overlapping ``window``-sample window: RMS amplitude
    (computed from the EXACT int64 sum of squares — 256 samples ≤
    2.7e11 < 2⁵³, so the oracle's BIGINT arithmetic reproduces it to
    the ulp), zero-crossing rate ((s≥0) sign flips over window−1 — an
    exact rational), and the peak |amplitude|.  A trailing partial
    window is dropped (the standard STFT framing rule).  One narrow
    mapInPandas fan-out (window-count rows per blob), no shuffle —
    follow with repartition before heavy downstream per-window work,
    the sample_frames rule."""
    import io
    import wave

    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, widx, srs, rms, zcr, peak = [], [], [], [], [], []
            for vid, blob in zip(pdf[id_col], pdf[blob_col]):
                with wave.open(io.BytesIO(bytes(blob)), "rb") as w:
                    if w.getnchannels() != 1 or w.getsampwidth() != 2:
                        raise ValueError(
                            "audio_window_features expects mono 16-bit "
                            f"PCM, got {w.getnchannels()}ch/"
                            f"{w.getsampwidth() * 8}-bit"
                        )
                    sr = w.getframerate()
                    pcm = np.frombuffer(
                        w.readframes(w.getnframes()), dtype="<i2"
                    )
                n_win = len(pcm) // window
                if not n_win:
                    continue
                # all windows of the blob in one vectorized pass (guide
                # §4.2): reshape to (n_win, window) and reduce per row —
                # arithmetic identical to the per-window loop (int64 sums
                # < 2^53, float64 division/sqrt), so values are bit-equal
                s = (
                    pcm[: n_win * window]
                    .astype(np.int64)
                    .reshape(n_win, window)
                )
                sum_sq = (s * s).sum(axis=1)
                nonneg = s >= 0
                flips = (nonneg[:, 1:] != nonneg[:, :-1]).sum(axis=1)
                ids.extend([vid] * n_win)
                widx.extend(range(n_win))
                srs.extend([sr] * n_win)
                rms.extend(np.sqrt(sum_sq / window).tolist())
                zcr.extend((flips / (window - 1)).tolist())
                peak.extend(np.abs(s).max(axis=1).tolist())
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "window_idx": widx,
                    "n_samples": [window] * len(ids),
                    "sample_rate": srs,
                    "rms": rms,
                    "zcr": zcr,
                    "peak": peak,
                }
            )

    id_type = blobs_df.schema[id_col].dataType.simpleString()
    return blobs_df.mapInPandas(
        run,
        schema=(
            f"{id_col} {id_type}, window_idx int, n_samples long, "
            "sample_rate int, rms double, zcr double, peak long"
        ),
    )


__all__ = [
    "BINARY_FEATURES_SCHEMA",
    "audio_window_features",
    "binary_features",
    "decode_ppm",
    "image_tile_features",
    "sample_frames",
    "synth_ppm",
    "synth_wav",
]
