"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata, processed through Arrow-batched
mapInPandas.

The decoders are REAL and pure-numpy for three container formats —
P6 PPM images, PCM WAV audio and YUV4MPEG2 video (header parse +
buffer reshape, see ``decode_ppm`` / ``decode_wav`` / ``decode_y4m``)
— each hash-verified against an analytic oracle. Every decode kernel
runs through :func:`_map_payloads`, so a codec-backed format
(JPEG/PNG via PIL, compressed audio via torchaudio) is one new
``rows`` function: the schema contract, binary column handling,
Arrow batch shapes and the frame-sampling plan stay as they are.

Scale notes: binary payloads ride the normal columnar path (parquet
BYTE_ARRAY); mapInPandas streams Arrow batches so a 100 MB image
never materializes per-row Python objects; metadata predicates
(width/duration filters) push down BEFORE decode so the expensive
kernel only sees surviving rows.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from typing import Any

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def attach_fake_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Manufacture an opaque binary 'media' column + typed metadata
    from the documents fixture (the harness has no real media files).
    Layout mirrors a real ingest: (payload binary, media_type string,
    width int, height int, n_frames int)."""
    return (
        df.withColumn("payload", F.encode(F.col(text_col), "utf-8"))
        .withColumn(
            "media_type",
            F.element_at(
                F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
                (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int"),
            ),
        )
        .withColumn("width", (F.pmod(F.col("doc_id") * 37, F.lit(1280)) + 16).cast("int"))
        .withColumn("height", (F.pmod(F.col("doc_id") * 53, F.lit(720)) + 16).cast("int"))
        .withColumn("n_frames", (F.pmod(F.col("doc_id") * 7, F.lit(240)) + 1).cast("int"))
    )


def tile_plan(df: DataFrame, tile: int = 224) -> DataFrame:
    """ViT-style patch-grid manifest: one row per (doc, tile) with
    pixel offsets and clipped edge-tile dims — the table an image
    patch extractor consumes (like pack_manifest for pixels). Pure
    in-plan integer explode: ceil(w/t)·ceil(h/t) rows per image,
    computed map-side from metadata; the payload is never touched,
    so the manifest costs metadata-scan time even when the images
    are 100 TB of blobs. Degenerate metadata (width or height ≤ 0)
    emits ZERO tiles — without the guard, ``sequence(0, -1)``
    DESCENDS and would fabricate tiles at tile_x/tile_y = -1 with
    negative clipped dims."""
    imgs = df.filter(
        (F.col("media_type") == "image")
        & (F.col("width") > 0)
        & (F.col("height") > 0)
    )
    nx = F.ceil(F.col("width") / F.lit(tile)).cast("int")
    ny = F.ceil(F.col("height") / F.lit(tile)).cast("int")
    g = imgs.select(
        "doc_id", "width", "height",
        F.explode(F.sequence(F.lit(0), nx - 1)).alias("tile_x"),
        ny.alias("__ny"),
    ).select(
        "doc_id", "width", "height", "tile_x",
        F.explode(F.sequence(F.lit(0), F.col("__ny") - 1)).alias("tile_y"),
    )
    x0 = F.col("tile_x") * tile
    y0 = F.col("tile_y") * tile
    return g.select(
        "doc_id",
        "tile_x",
        "tile_y",
        x0.cast("int").alias("x0"),
        y0.cast("int").alias("y0"),
        F.least(F.lit(tile), F.col("width") - x0).cast("int").alias("tile_w"),
        F.least(F.lit(tile), F.col("height") - y0).cast("int").alias("tile_h"),
    )


_DECODE_SCHEMA = (
    "doc_id BIGINT, media_type STRING, payload_bytes BIGINT, "
    "first_byte INT, feat_mean DOUBLE"
)


def decode_features(df: DataFrame) -> DataFrame:
    """Arrow-batched 'decode + featurize' over the binary column: a
    deterministic fake that derives features from the raw bytes, so
    the whole pipeline — batching, schema, postprocessing — runs and
    verifies on payloads of any media type.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payload = pdf["payload"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "payload_bytes": payload.map(len).astype("int64"),
                    "first_byte": payload.map(lambda b: b[0] if len(b) else -1).astype(
                        "int32"
                    ),
                    # deterministic fake feature: mean byte value in
                    # half-up micro-units via exact integer arithmetic —
                    # python round() is half-EVEN and loses ties against
                    # the oracle's half-up (observed at sf0.1: mean
                    # exactly x.xxx5625).
                    "feat_mean": payload.map(
                        lambda b: _micro(sum(b), len(b)) / 1_000_000 if len(b) else 0.0
                    ).astype("float64"),
                }
            )

    return df.select("doc_id", "media_type", "payload").mapInPandas(
        kernel, schema=_DECODE_SCHEMA
    )


def sample_frames(df: DataFrame, every_k: int = 24) -> DataFrame:
    """Video frame sampling plan: one row per sampled frame index.

    Pure plan-side explode of a sequence — the actual frame extraction
    would happen in a downstream decode kernel; sampling BEFORE decode
    is the 100 TB move (decode k× less data).

    Degenerate metadata (``n_frames`` ≤ 0) emits ZERO frames — without
    the guard a single zero-frame video row kills the whole job:
    ``sequence(0, -1, k)`` with an explicit positive step throws
    "Illegal sequence boundaries" (same hazard class as the
    ``tile_plan`` width/height guard).
    """
    return df.filter(
        (F.col("media_type") == "video") & (F.col("n_frames") > 0)
    ).select(
        "doc_id",
        "n_frames",
        F.explode(
            F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_k))
        ).alias("frame_idx"),
    )


def resize_plan(df: DataFrame, max_side: int = 256) -> DataFrame:
    """Resize metadata computation (aspect-preserving fit): the pure-
    SQL half of a resize kernel — target dims computed in-plan, the
    pixel work stays in the (stubbed) decode kernel."""
    scale_num = F.lit(max_side)
    long_side = F.greatest("width", "height")
    # clamp to 1: an extreme aspect ratio (w=1, h=600 at max_side
    # 256) would otherwise emit a 0 target dimension — every real
    # aspect-fit clamps, and the pixel kernel divides by tw*th
    new_w = F.greatest(
        F.lit(1), F.floor(F.col("width") * scale_num / long_side)
    ).cast("int")
    new_h = F.greatest(
        F.lit(1), F.floor(F.col("height") * scale_num / long_side)
    ).cast("int")
    return df.select(
        "doc_id",
        "width",
        "height",
        F.when(long_side <= max_side, F.col("width")).otherwise(new_w).alias("target_w"),
        F.when(long_side <= max_side, F.col("height")).otherwise(new_h).alias("target_h"),
    )


# ---------------------------------------------------------------------------
# REAL decode path: PPM / WAV / Y4M in pure numpy (no codec library
# needed): header parse, buffer reshape and per-payload statistics,
# all inside the one Arrow-batched kernel of _map_payloads.
# ---------------------------------------------------------------------------


def _micro(total: int, n: int) -> int:
    """``total / n`` in half-up micro-units via exact integer
    arithmetic — python round() is half-EVEN and loses ties against
    the oracles' half-up (observed at sf0.1: a mean of exactly
    x.xxx5625)."""
    return (total * 2_000_000 + n) // (2 * n)


def _map_payloads(
    df: DataFrame, schema: str, rows: Callable[[int, Any], Iterable[tuple]]
) -> DataFrame:
    """Arrow-batched mapInPandas over (doc_id, payload): ``rows(doc_id,
    buf)`` yields the output tuples of one payload, in the column
    order of the DDL ``schema``. Payloads never materialize as
    per-row Spark rows; each crosses the Python boundary once."""
    columns = [c.split()[0] for c in schema.split(",")]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [
                t
                for doc_id, buf in zip(pdf["doc_id"], pdf["payload"])
                for t in rows(int(doc_id), buf)
            ]
            yield pd.DataFrame(out, columns=columns)

    return df.select("doc_id", "payload").mapInPandas(kernel, schema=schema)


def _attach(df: DataFrame, id_col: str, make: Callable[[int], bytes]) -> DataFrame:
    """``df``'s ``id_col`` plus a binary ``payload`` column holding
    ``make(id)`` for each row (one vectorized pandas_udf)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def gen(ids: pd.Series) -> pd.Series:
        return ids.map(lambda i: make(int(i)))

    return df.select(id_col).withColumn("payload", gen(F.col(id_col)))


def ppm_bytes(doc_id: int, w: int, h: int) -> bytes:
    """Render a deterministic P6 PPM image (header + raw RGB):
    pixel(ch, r, c) = (doc_id·31 + r·7 + c·3 + ch·11) mod 256. The
    closed-form pattern is what lets a SQL oracle recompute the
    decoded statistics analytically."""
    import numpy as np

    header = f"P6\n{w} {h}\n255\n".encode()
    r = np.arange(h, dtype=np.int64).reshape(h, 1, 1)
    c = np.arange(w, dtype=np.int64).reshape(1, w, 1)
    ch = np.arange(3, dtype=np.int64).reshape(1, 1, 3)
    px = ((doc_id * 31 + r * 7 + c * 3 + ch * 11) % 256).astype(np.uint8)
    return header + px.tobytes()


def decode_ppm(buf: bytes):
    """Parse a binary P6 PPM into an (h, w, 3) uint8 ndarray — a real
    image decode with zero codec dependencies (whitespace/comment-
    tolerant header, raw buffer reshape)."""
    import numpy as np

    if not bytes(buf[:2]) == b"P6":
        raise ValueError("not a P6 PPM payload")
    pos, vals = 2, []
    while len(vals) < 3:
        while pos < len(buf) and buf[pos : pos + 1].isspace():
            pos += 1
        if buf[pos : pos + 1] == b"#":
            while pos < len(buf) and buf[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(buf) and not buf[pos : pos + 1].isspace():
            pos += 1
        vals.append(int(buf[start:pos]))
    pos += 1  # the single whitespace byte after maxval
    w, h, maxval = vals
    if maxval != 255:
        raise ValueError(f"only 8-bit PPM supported, got maxval={maxval}")
    return np.frombuffer(buf, dtype=np.uint8, count=w * h * 3, offset=pos).reshape(
        h, w, 3
    )


def attach_ppm_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a REAL P6 PPM binary payload per row (deterministic
    pattern, varied dims w=8+id%9, h=8+id%7 so the decoder's header
    parse is genuinely exercised)."""
    return _attach(df, id_col, _ppm_fixture)


def _ppm_fixture(i: int) -> bytes:
    return ppm_bytes(i, 8 + i % 9, 8 + i % 7)


_PPM_SCHEMA = (
    "doc_id BIGINT, img_w INT, img_h INT, "
    "r_mean_micro BIGINT, g_mean_micro BIGINT, b_mean_micro BIGINT"
)


def decode_ppm_features(df: DataFrame) -> DataFrame:
    """Real decode + featurize: every payload is parsed as P6 PPM
    (header → dims, buffer → ndarray) and per-channel means are
    emitted in half-up micro-units via exact integer arithmetic (the
    same determinism discipline as the rest of the engine — float
    means would hash differently across engines). Arrow-batched
    mapInPandas: payloads never materialize as per-row Python rows."""

    def rows(doc_id: int, buf) -> Iterator[tuple]:
        img = decode_ppm(buf)
        h, w, _ = img.shape
        n = w * h
        if n == 0:
            raise ValueError(f"doc {doc_id}: PPM payload has zero pixel area")
        sums = img.reshape(-1, 3).sum(axis=0, dtype="int64")
        yield (doc_id, w, h, *(_micro(int(s), n) for s in sums))

    return _map_payloads(df, _PPM_SCHEMA, rows)


def wav_bytes(doc_id: int, n_samples: int, sample_rate: int = 16000) -> bytes:
    """Render a deterministic 16-bit mono PCM WAV (full RIFF layout):
    sample(i) = ((doc_id·7 + i·13) mod 4096) − 2048. Closed form so a
    SQL oracle can recompute the decoded statistics analytically."""
    import struct

    import numpy as np

    i = np.arange(n_samples, dtype=np.int64)
    pcm = (((doc_id * 7 + i * 13) % 4096) - 2048).astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    chunks = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(pcm)) + pcm
    return b"RIFF" + struct.pack("<I", len(chunks)) + chunks


def decode_wav(buf: bytes):
    """Parse a PCM WAV into (samples int16 ndarray, sample_rate) — a
    real RIFF chunk walk (skips unknown chunks, validates PCM/16-bit)
    with zero codec dependencies."""
    import struct

    import numpy as np

    if bytes(buf[:4]) != b"RIFF" or bytes(buf[8:12]) != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, sample_rate, bits, data = 12, None, None, None
    while pos + 8 <= len(buf):
        cid = bytes(buf[pos : pos + 4])
        (size,) = struct.unpack("<I", buf[pos + 4 : pos + 8])
        body = buf[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            audio_format, _ch, sample_rate, _br, _ba, bits = struct.unpack(
                "<HHIIHH", bytes(body[:16])
            )
            if audio_format != 1:
                raise ValueError(f"only PCM WAV supported, got format={audio_format}")
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # RIFF chunks are word-aligned
    if data is None or bits != 16:
        raise ValueError("missing 16-bit PCM data chunk")
    return np.frombuffer(data, dtype="<i2"), sample_rate


def attach_wav_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a REAL PCM WAV payload per row (varied lengths so the
    chunk walk and data sizing are genuinely exercised)."""
    return _attach(df, id_col, _wav_fixture)


def _wav_fixture(i: int) -> bytes:
    return wav_bytes(i, 800 + (i % 5) * 160)


_WAV_SCHEMA = (
    "doc_id BIGINT, n_samples BIGINT, sample_rate INT, mean_abs_micro BIGINT"
)


def decode_wav_features(df: DataFrame) -> DataFrame:
    """Real audio decode + featurize in the Arrow kernel: RIFF walk →
    int16 samples → mean |amplitude| in exact half-up micro-units."""
    import numpy as np

    def rows(doc_id: int, buf) -> Iterator[tuple]:
        samples, sr = decode_wav(buf)
        n = len(samples)
        if n == 0:
            # structurally valid but empty data chunk: the established
            # malformed-payload behavior is a LOUD ValueError, not a
            # ZeroDivisionError three lines later
            raise ValueError(f"doc {doc_id}: WAV payload has zero samples")
        abs_sum = int(np.abs(samples.astype(np.int64)).sum())
        yield (doc_id, n, sr, _micro(abs_sum, n))

    return _map_payloads(df, _WAV_SCHEMA, rows)


def y4m_bytes(doc_id: int, w: int, h: int, n_frames: int) -> bytes:
    """Render a deterministic YUV4MPEG2 (C444) video: plane byte
    value(f, p, i) = (doc_id·17 + f·29 + p·5 + i·3) mod 256."""
    import numpy as np

    header = f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 C444\n".encode()
    idx = np.arange(w * h, dtype=np.int64)
    out = [header]
    for f in range(n_frames):
        out.append(b"FRAME\n")
        for p in range(3):
            out.append(
                ((doc_id * 17 + f * 29 + p * 5 + idx * 3) % 256)
                .astype(np.uint8)
                .tobytes()
            )
    return b"".join(out)


def decode_y4m(buf: bytes):
    """Parse a YUV4MPEG2 stream into (frames, (w, h)) where frames is
    a list of (3, h, w) uint8 planes — real container parsing (stream
    header tokens, per-frame FRAME markers) with zero codecs."""
    import numpy as np

    if bytes(buf[:9]) != b"YUV4MPEG2" or b"\n" not in bytes(buf):
        raise ValueError("not a YUV4MPEG2 stream")
    nl = bytes(buf).index(b"\n")
    toks = bytes(buf[:nl]).decode("ascii").split()
    w = h = None
    colorspace = "C420"
    for t in toks[1:]:
        if t.startswith("W"):
            w = int(t[1:])
        elif t.startswith("H"):
            h = int(t[1:])
        elif t.startswith("C"):
            colorspace = t
    if w is None or h is None:
        raise ValueError("missing W/H in stream header")
    if colorspace != "C444":
        raise ValueError(f"only C444 (full-res planes) supported, got {colorspace}")
    frame_size, pos, frames = w * h * 3, nl + 1, []
    while pos < len(buf):
        fnl = bytes(buf).index(b"\n", pos)
        if bytes(buf[pos : pos + 5]) != b"FRAME":
            raise ValueError("bad FRAME marker")
        start = fnl + 1
        frames.append(
            np.frombuffer(buf, np.uint8, frame_size, start).reshape(3, h, w)
        )
        pos = start + frame_size
    return frames, (w, h)


def attach_y4m_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a REAL Y4M video payload per row (varied dims + frame
    counts so container parsing and frame iteration are exercised)."""
    return _attach(df, id_col, _y4m_fixture)


def _y4m_fixture(i: int) -> bytes:
    return y4m_bytes(i, 4 + i % 3, 4 + i % 2, 3 + i % 4)


_Y4M_SCHEMA = "doc_id BIGINT, frame_idx INT, y_mean_micro BIGINT"


def decode_y4m_frames(df: DataFrame, every_k: int = 2) -> DataFrame:
    """Real frame extraction + sampling: parse the container, keep
    every k-th frame, emit the luma-plane mean in exact half-up
    micro-units — the decode-side realization of the sample_frames
    plan (sampling before FEATURIZE here; with a seekable container
    index it happens before DECODE, same plan shape)."""
    import numpy as np

    def rows(doc_id: int, buf) -> Iterator[tuple]:
        frames, (w, h) = decode_y4m(buf)
        n = w * h
        if n == 0:
            raise ValueError(f"doc {doc_id}: Y4M payload has zero frame area")
        for fi in range(0, len(frames), every_k):
            yield (doc_id, fi, _micro(int(frames[fi][0].sum(dtype=np.int64)), n))

    return _map_payloads(df, _Y4M_SCHEMA, rows)


def resize_nearest(img, target_w: int, target_h: int):
    """Nearest-neighbor resize of an (h, w) or (h, w, channels) array
    via integer index maps — src index = (dst·src_dim) // dst_dim,
    the exact arithmetic an oracle can replay."""
    import numpy as np

    h, w = img.shape[:2]
    rows = (np.arange(target_h, dtype=np.int64) * h) // target_h
    cols = (np.arange(target_w, dtype=np.int64) * w) // target_w
    return img[rows][:, cols]


_RESIZE_SCHEMA = (
    "doc_id BIGINT, target_w INT, target_h INT, r_mean_micro BIGINT"
)


def resize_ppm_features(df: DataFrame, max_side: int = 6) -> DataFrame:
    """Real decode → aspect-preserving nearest-neighbor resize →
    channel stats, all inside one Arrow kernel: the pixel-path
    realization of resize_plan (same fit arithmetic), emitting the
    resized red-channel mean in exact half-up micro-units."""
    import numpy as np

    def rows(doc_id: int, buf) -> Iterator[tuple]:
        img = decode_ppm(buf)
        h, w, _ = img.shape
        long_side = max(w, h)
        if long_side <= max_side:
            tw, th = w, h
        else:
            # same clamp as resize_plan: extreme aspect ratios must
            # not produce a 0-dim (and 0-pixel) target — the mean
            # below divides by tw*th
            tw = max(1, (w * max_side) // long_side)
            th = max(1, (h * max_side) // long_side)
        small = resize_nearest(img, tw, th)
        yield (doc_id, tw, th, _micro(int(small[:, :, 0].sum(dtype=np.int64)), tw * th))

    return _map_payloads(df, _RESIZE_SCHEMA, rows)


def _frame_energies(samples, frame_len: int):
    """Per-frame sum of squared samples (int64) over the
    ``len(samples) // frame_len`` whole frames; a partial tail frame
    is dropped."""
    import numpy as np

    n = len(samples) // frame_len
    s = samples[: n * frame_len].astype(np.int64).reshape(n, frame_len)
    return (s * s).sum(axis=1)


_RMS_SCHEMA = "doc_id BIGINT, frame_idx INT, energy BIGINT"


def decode_wav_rms_frames(df: DataFrame, frame_len: int = 160) -> DataFrame:
    """Frame-level audio energy (the front half of every VAD /
    loudness-normalization stage): real RIFF decode, then per-frame
    sum of squared int16 samples — 160 samples = 10 ms at 16 kHz.
    Exact integer output, analytically hash-verified against the
    closed-form sample formula. Arrow-batched mapInPandas; rows
    explode per frame AFTER decode inside the kernel, so the binary
    payload crosses the Python boundary once."""

    def rows(doc_id: int, buf) -> Iterator[tuple]:
        energies = _frame_energies(decode_wav(buf)[0], frame_len)
        for fi, e in enumerate(energies):
            yield (doc_id, fi, int(e))

    return _map_payloads(df, _RMS_SCHEMA, rows)


_MOTION_SCHEMA = "doc_id BIGINT, frame_pair INT, motion BIGINT"


def decode_y4m_motion(df: DataFrame) -> DataFrame:
    """Frame-to-frame motion energy (the scene-cut / static-clip
    detector of every video curation pipeline): real container decode,
    then sum |Y-plane(f+1) − Y-plane(f)| per consecutive pair. Exact
    integers, analytically verifiable because the fixture's plane
    bytes have a closed form."""
    import numpy as np

    def rows(doc_id: int, buf) -> Iterator[tuple]:
        frames, _dims = decode_y4m(buf)
        for fi in range(len(frames) - 1):
            a = frames[fi][0].astype(np.int64)
            b = frames[fi + 1][0].astype(np.int64)
            yield (doc_id, fi, int(np.abs(b - a).sum()))

    return _map_payloads(df, _MOTION_SCHEMA, rows)


_PHASH_SCHEMA = "doc_id BIGINT, phash_hi BIGINT, phash_lo BIGINT, n_dark INT"


def ppm_ahash(df: DataFrame) -> DataFrame:
    """Perceptual average-hash over REAL image decode — the image
    near-duplicate signature every multimodal curation pipeline keys
    on (identical hash → same image under resize/re-encode; small
    hamming distance → near-dup). All integer: gray = (r+g+b)//3,
    8×8 nearest-neighbor downsample via exact index maps, mean
    threshold, row-major 64-bit pack. Arrow-batched mapInPandas; the
    hash is 8 bytes per image no matter the source resolution, which
    is what makes dedup JOINABLE at 100 TB."""
    import numpy as np

    def rows(doc_id: int, buf) -> Iterator[tuple]:
        gray = decode_ppm(buf).astype(np.int64).sum(axis=2) // 3
        if gray.size == 0:
            raise ValueError(f"doc {doc_id}: PPM payload has zero pixel area")
        g8 = resize_nearest(gray, 8, 8)
        mean = int(g8.sum()) // 64
        bits = (g8 > mean).astype(np.int64).ravel()  # row-major
        sh = np.arange(32, dtype=np.int64)
        # two 32-bit halves: a packed bit 63 would overflow SIGNED
        # 64-bit identically badly in numpy and SQL
        lo = int((bits[:32] << sh).sum())
        hi = int((bits[32:] << sh).sum())
        yield (doc_id, hi, lo, int(64 - bits.sum()))

    return _map_payloads(df, _PHASH_SCHEMA, rows)


_AFP_SCHEMA = "doc_id BIGINT, n_frames INT, afp BIGINT"


def wav_fingerprint(df: DataFrame, frame_len: int = 160) -> DataFrame:
    """Acoustic fingerprint via energy-delta signs (the Shazam-family
    idea reduced to its deterministic core): decode, per-frame energy,
    bit f = energy(f+1) > energy(f), packed little-endian. Robust to
    uniform gain (scaling all samples preserves comparisons) — which
    is exactly why real audio dedup keys on deltas, not levels. The
    packed SIGNED BIGINT holds 63 non-negative delta bits, so the
    fingerprint covers the FIRST 64 frames (~0.64 s at 16 kHz/160) —
    longer audio truncates rather than silently corrupting (int64
    shifts past 63 are C-undefined and wrap mod 64 on x86, folding
    late frames onto early bits; bit 63 itself would flip the sign).
    ``n_frames`` still reports the true count. The fixture's ≤9
    frames pack with room to spare."""
    import numpy as np

    def rows(doc_id: int, buf) -> Iterator[tuple]:
        e = _frame_energies(decode_wav(buf)[0], frame_len)
        bits = (e[1:] > e[:-1]).astype(np.int64)[:63]
        afp = int((bits << np.arange(len(bits), dtype=np.int64)).sum())
        yield (doc_id, len(e), afp)

    return _map_payloads(df, _AFP_SCHEMA, rows)


def attach_mixed_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a MIXED-modality binary payload per row — the realistic
    ingest shape where one column carries images, audio, video, and
    the occasional junk blob: doc_id%3 routes to a real PPM / WAV /
    Y4M payload (the same generators the per-format queries decode),
    and every doc_id%29==0 row is deterministic garbage so the router
    must prove it never misclassifies or crashes on junk."""
    return _attach(df, id_col, _mixed_fixture)


def _mixed_fixture(i: int) -> bytes:
    if i % 29 == 0:
        return b"JUNK" + bytes((i * 17 + k) % 256 for k in range(16))
    return (_ppm_fixture, _wav_fixture, _y4m_fixture)[i % 3](i)


def route_modality(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Magic-byte modality dispatch over an opaque binary column —
    the first operator of any multimodal pipeline: classify each
    payload by its container signature (P6 → image, RIFF → audio,
    YUV4MPEG2 → video, anything else → unknown) WITHOUT decoding.

    Pure JVM-side prefix comparisons on the binary column (substring
    + hex literals — no Python, no UDF, no payload copy), so routing
    costs a few bytes per row regardless of payload size; downstream
    decode kernels then run only on the rows of their modality —
    the decode-less pruning the frame sampler already applies within
    a modality, applied across modalities.
    """
    modality = (
        F.when(F.expr("substring(payload, 1, 2) = X'5036'"), "image")
        # RIFF is a container family (WAVE audio, but also WEBP
        # images and AVI video): the audio verdict requires the
        # 'WAVE' form tag at bytes 9-12 — the same check decode_wav
        # enforces — so a WebP/AVI payload routes to 'unknown'
        # instead of crashing the audio decode branch.
        .when(
            F.expr(
                "substring(payload, 1, 4) = X'52494646' AND "
                "substring(payload, 9, 4) = X'57415645'"
            ),
            "audio",
        )
        .when(
            F.expr("substring(payload, 1, 9) = X'595556344D50454732'"),
            "video",
        )
        .otherwise("unknown")
    )
    return df.select(
        id_col,
        modality.alias("modality"),
        F.length("payload").cast("long").alias("n_bytes"),
    )


def vad_segments(
    frames: DataFrame, threshold: int, id_col: str = "doc_id"
) -> DataFrame:
    """Energy-threshold activity segments over per-frame energies
    (the back half of a VAD stage; :func:`decode_wav_rms_frames` is
    the front half): consecutive frames at/above ``threshold``
    coalesce into (start, end, n_frames, energy) spans via the
    gaps-and-islands identity ``frame_idx − row_number()``. The
    window is per-recording (bounded by clip length, never
    corpus-sized); everything downstream of the one decode crossing
    is exact-integer DataFrame ops."""
    from pyspark.sql import Window

    act = frames.filter(F.col("energy") >= threshold)
    w = Window.partitionBy(id_col).orderBy("frame_idx")
    isl = act.withColumn(
        "__grp", F.col("frame_idx") - F.row_number().over(w)
    )
    return isl.groupBy(id_col, "__grp").agg(
        F.min("frame_idx").alias("start_frame"),
        F.max("frame_idx").alias("end_frame"),
        F.count(F.lit(1)).cast("long").alias("n_frames"),
        F.sum("energy").alias("energy"),
    ).select(id_col, "start_frame", "end_frame", "n_frames", "energy")


def scene_segments(
    motion: DataFrame, threshold: int, id_col: str = "doc_id"
) -> DataFrame:
    """Scene segmentation over per-pair motion energies (the back
    half of a scene-cut stage; :func:`decode_y4m_motion` is the
    front): a cut lands between frames p and p+1 when motion(p) ≥
    ``threshold``; scenes are the maximal frame runs between cuts,
    including the single whole-clip scene for cut-free videos.
    Frame counts re-derive from the pair index (nf = max_pair + 2),
    so the segmenter needs ONLY the motion table — no second decode
    pass. Per-clip window, bounded by clip length."""
    from pyspark.sql import Window

    # Materialize the motion table ONCE (lazy localCheckpoint — the
    # id-sized-frame convention): it fans into the frame-count stats,
    # the cut list, and the last-cut aggregate, and the incoming frame
    # is a video-decode kernel — without the checkpoint each subtree
    # re-runs the full Python decode (measured: 6 ArrowEvalPython +
    # 6 MapInPandas nodes in mm_video_scenes' plan; 0 after). A few
    # longs per frame pair, so block storage is the right tier.
    motion = motion.localCheckpoint(eager=False)
    stats = motion.groupBy(id_col).agg(
        (F.max("frame_pair") + 2).alias("__nf")
    )
    cuts = motion.filter(F.col("motion") >= threshold).select(
        id_col, "frame_pair"
    )
    w = Window.partitionBy(id_col).orderBy("frame_pair")
    mid = cuts.select(
        F.col(id_col),
        F.coalesce(
            F.lag("frame_pair").over(w) + 1, F.lit(0)
        ).alias("start_frame"),
        F.col("frame_pair").alias("end_frame"),
    )
    last_cut = cuts.groupBy(id_col).agg(F.max("frame_pair").alias("__lc"))
    fin = (
        stats.join(last_cut, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("__lc") + 1, F.lit(0)).alias("start_frame"),
            (F.col("__nf") - 1).alias("end_frame"),
        )
    )
    return mid.unionByName(fin).select(
        id_col,
        F.col("start_frame").cast("int").alias("start_frame"),
        F.col("end_frame").cast("int").alias("end_frame"),
        (F.col("end_frame") - F.col("start_frame") + 1)
        .cast("long")
        .alias("n_frames"),
    )


def _hash_bands(n_bands: int) -> "list[tuple[str, Column]]":
    """Partition the 64-bit (phash_hi, phash_lo) hash into
    ``n_bands`` contiguous bit bands (near-equal widths, earlier
    bands take the remainder) and return per-band extraction
    expressions. Bit positions 0..31 live in phash_lo, 32..63 in
    phash_hi (the halves are 32-bit values stored as longs); a band
    may straddle the boundary — extract each half with unsigned
    shifts and stitch. n_bands=4 reproduces the historical 16-bit
    split bit-for-bit. The bands PARTITION the bits (each bit in
    exactly one band) — the property the pigeonhole guarantee
    stands on, pinned by test_hash_bands_partition_the_64_bits."""

    def _extract(start: int, width: int) -> Column:
        lo_bits = max(0, min(32, start + width) - min(32, start))
        parts = []
        if lo_bits > 0:
            parts.append(
                F.shiftrightunsigned(F.col("phash_lo"), start).bitwiseAND(
                    F.lit((1 << lo_bits) - 1)
                )
            )
        hi_bits = width - lo_bits
        if hi_bits > 0:
            hi_part = F.shiftrightunsigned(
                F.col("phash_hi"), max(0, start - 32)
            ).bitwiseAND(F.lit((1 << hi_bits) - 1))
            # Stitch by SHIFT, not multiply: a full-width band
            # (n_bands=1, exact-hash mode) would overflow a signed
            # long multiply; shiftleft wraps two's-complement, which
            # stays bijective over the band's bit domain — all a
            # join key needs (true hamming is re-verified from the
            # original halves).
            parts.append(
                F.shiftleft(hi_part, lo_bits) if lo_bits else hi_part
            )
        out = parts[0]
        if len(parts) == 2:  # disjoint bit ranges — OR stitches them
            out = parts[1].bitwiseOR(parts[0])
        return out.cast("long")

    base, rem = divmod(64, n_bands)
    bands = []
    pos = 0
    for i in range(n_bands):
        width = base + (1 if i < rem else 0)
        bands.append((f"b{i}", _extract(pos, width)))
        pos += width
    return bands


def phash_pairs(
    hashes: DataFrame,
    max_hamming: int = 3,
    max_bucket: int = 100,
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-duplicate image pairs from perceptual hashes by the
    PIGEONHOLE multi-index: split the 64-bit hash into
    ``max_hamming + 1`` bands — any pair within ``max_hamming`` bits
    must agree EXACTLY on at least one band — equi-join per band,
    then verify true hamming via bit_count(xor). The image analog of
    MinHash banding: candidates come from hash-keyed equi-joins
    (shuffle-partitionable at any corpus size), never an all-pairs
    distance scan, and degenerate bands (flat images all hashing
    alike) are capped before pair expansion like the LSH path.

    The band split is DERIVED from ``max_hamming``: exactly
    ``max_hamming + 1`` contiguous bands partitioning the 64 bits
    (near-equal widths, earlier bands take the remainder), so the
    pigeonhole recall guarantee holds for every radius — a fixed
    band count would silently lose it for ``max_hamming`` ≥ the
    count. Radii ≥ 64 would need sub-1-bit bands (and would recall
    everything anyway), so they are rejected."""
    if not 0 <= max_hamming <= 63:
        raise ValueError(
            f"max_hamming must be in [0, 63], got {max_hamming}: "
            "the pigeonhole index needs max_hamming + 1 non-empty "
            "bit bands out of 64"
        )
    bands = _hash_bands(max_hamming + 1)
    # Materialize the hash table ONCE (lazy localCheckpoint — the
    # id-sized-frame convention, see similarity.banded_norms): the
    # incoming frame is usually a decode kernel (payload gen +
    # mapInPandas), and this function fans it into the banding
    # explode, the bucket cap, and both verify-join sides — without
    # the checkpoint each subtree re-runs the full Python decode over
    # the corpus (measured: 6 ArrowEvalPython + 6 MapInPandas nodes
    # in mm_phash_pairs' plan; 1 + 1 after). 24 bytes/id, so executor
    # block storage is the right tier (guide §3.3 / §4.4).
    h = hashes.select(id_col, "phash_hi", "phash_lo").localCheckpoint(
        eager=False
    )
    banded = h.select(
        id_col,
        "phash_hi",
        "phash_lo",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("band_id"), e.alias("band_val"))
                    for i, (_, e) in enumerate(bands)
                ]
            )
        ).alias("b"),
    ).select(id_col, "phash_hi", "phash_lo", "b.band_id", "b.band_val")
    # Cap buckets BEFORE any array materializes (the shared LSH
    # discipline): a degenerate bucket — flat images, or the 1-2-bit
    # bands a large max_hamming induces — would buffer a corpus-sized
    # id array in one aggregation state if collect_set ran before the
    # size cap. Each id emits exactly one row per band, so the
    # helper's count == distinct-id contract holds.
    from configdrivendatapipeline_spark.llm.dedup import _capped_bucket_ids

    bounded = _capped_bucket_ids(
        banded, ["band_id", "band_val"], id_col, max_bucket
    )
    from configdrivendatapipeline_spark.llm.dedup import _expand_pairs

    pairs = _expand_pairs(bounded).distinct()
    a = h.select(
        F.col(id_col).alias("id_a"),
        F.col("phash_hi").alias("hi_a"),
        F.col("phash_lo").alias("lo_a"),
    )
    b = h.select(
        F.col(id_col).alias("id_b"),
        F.col("phash_hi").alias("hi_b"),
        F.col("phash_lo").alias("lo_b"),
    )
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.bit_count(
                    F.col("hi_a").bitwiseXOR(F.col("hi_b"))
                )
                + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
