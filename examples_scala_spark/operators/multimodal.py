"""Multimodal (image/audio/video) column plumbing.

Media is carried as opaque BINARY columns + typed metadata structs —
the parquet-native layout that scales: binaries stay columnar,
metadata predicates prune row groups without touching bytes.

The decode/feature-extract step runs as Arrow-batched `mapInPandas`
(one Python worker per partition, whole record batches across the
JVM<->Python boundary). The image/audio codec LIBRARIES are not
available in this container, so `decode_media` falls back to a
deterministic fake for png/wav/mp4 payloads (documented below) — but
uncompressed 24-bit BMP decodes FOR REAL via the pure-Python header+
pixel decoder below (`decode_bmp`): file/info header parse, row
padding, bottom-up flip, BGR order. The Spark-side plumbing — schema,
batch iteration, partitioning — is identical either way; a real
deployment adds PIL/ffmpeg branches next to the BMP one.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType, LongType, StringType, StructField, StructType,
)

MEDIA_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("media", BinaryType()),
    StructField("mime", StringType()),
    StructField("n_bytes", LongType()),
])

DECODED_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("mime", StringType()),
    StructField("n_bytes", LongType()),
    StructField("width", LongType()),
    StructField("height", LongType()),
    StructField("n_frames", LongType()),
])


def media_table(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Build a media-shaped table from the documents fixture: the text
    bytes stand in for an encoded payload. In production this is
    `spark.read.parquet` on a table with a real binary column."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return docs.select(
        F.col(id_col),
        payload.alias("media"),
        F.when(F.col(id_col) % 3 == 0, "image/png")
         .when(F.col(id_col) % 3 == 1, "audio/wav")
         .otherwise("video/mp4").alias("mime"),
        F.length(payload).cast("long").alias("n_bytes"),
    )


def _fake_decode(media: bytes, mime: str) -> tuple[int, int, int]:
    """STUB decoder (deterministic fake) for the formats whose codec
    libraries are absent in this container (png/wav/mp4): derives
    (width, height, n_frames) from payload length. Replace with
    PIL / soundfile / pyav in a real deployment:

        raise NotImplementedError("install pillow/av and swap me in")

    Keeping it deterministic lets the driver oracle-check the
    plumbing. BMP payloads never reach this — `decode_bmp` handles
    them for real.
    """
    n = len(media)
    if mime.startswith("image/"):
        return (n % 1920) + 1, (n % 1080) + 1, 1
    if mime.startswith("audio/"):
        return 0, 0, n * 100  # "samples"
    return (n % 1920) + 1, (n % 1080) + 1, (n % 240) + 1


def encode_bmp(px) -> bytes:
    """Pure-Python/numpy 24-bit uncompressed BMP (BI_RGB) encoder.
    `px` is a (height, width, 3) uint8 RGB array in TOP-DOWN row
    order; the file stores rows bottom-up, channels BGR, each row
    padded to a 4-byte boundary — the exact invariants `decode_bmp`
    must undo."""
    import struct

    import numpy as np

    h, w, _ = px.shape
    row_size = (3 * w + 3) // 4 * 4
    img_size = row_size * h
    off = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", off + img_size, 0, 0, off)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size,
                       2835, 2835, 0, 0)
    buf = np.zeros((h, row_size), np.uint8)
    buf[:, :3 * w] = px[::-1, :, ::-1].reshape(h, 3 * w)
    return header + info + buf.tobytes()


def decode_bmp(data: bytes):
    """REAL pure-Python BMP decoder (no codec libs needed): parses the
    BITMAPFILEHEADER + BITMAPINFOHEADER, validates 24 bpp / BI_RGB,
    strips per-row 4-byte padding, undoes the bottom-up row order
    (negative height = already top-down, per the spec) and the BGR
    channel order. Returns (width, height, pixels) with pixels a
    (height, width, 3) uint8 RGB array in top-down order."""
    import struct

    import numpy as np

    if data[:2] != b"BM":
        raise ValueError("not a BMP payload")
    off = struct.unpack_from("<I", data, 10)[0]
    _hsz, w, h, _planes, bpp = struct.unpack_from("<IiiHH", data, 14)
    comp = struct.unpack_from("<I", data, 30)[0]
    if bpp != 24 or comp != 0:
        raise ValueError(f"only 24-bit BI_RGB supported, got {bpp}/{comp}")
    bottom_up = h > 0
    h = abs(h)
    row_size = (3 * w + 3) // 4 * 4
    raw = np.frombuffer(data, np.uint8, count=row_size * h, offset=off)
    px = raw.reshape(h, row_size)[:, :3 * w].reshape(h, w, 3)[..., ::-1]
    return w, h, (px[::-1] if bottom_up else px)


def encode_wav(samples, sample_rate: int = 16_000) -> bytes:
    """Pure-Python/numpy RIFF WAVE encoder: 16-bit PCM mono.
    `samples` is an int16 array. Writes the canonical RIFF header,
    a 16-byte `fmt ` chunk, and the little-endian `data` chunk —
    the exact layout `decode_wav` must parse back."""
    import struct

    import numpy as np

    pcm = np.asarray(samples, dtype="<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    body = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(pcm)) + pcm)
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


def decode_wav(data: bytes):
    """REAL pure-Python WAV decoder: validates the RIFF/WAVE
    container, WALKS the chunk list (skipping unknown chunks and
    their odd-length pad bytes, per the RIFF spec) to find `fmt ` and
    `data`, validates 16-bit PCM, and returns
    (sample_rate, n_channels, samples) with samples a little-endian
    int16 numpy array."""
    import struct

    import numpy as np

    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, pcm = 12, None, None
    while pos + 8 <= len(data):
        cid, sz = data[pos:pos + 4], struct.unpack_from("<I", data, pos + 4)[0]
        body = data[pos + 8:pos + 8 + sz]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            pcm = body
        pos += 8 + sz + (sz & 1)  # chunks are word-aligned
    if fmt is None or pcm is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, channels, rate, _brate, _align, bits = fmt
    if audio_format != 1 or bits != 16:
        raise ValueError(f"only 16-bit PCM supported, got {audio_format}/{bits}")
    return rate, channels, np.frombuffer(pcm, dtype="<i2")


def decode_media(media: DataFrame) -> DataFrame:
    """Arrow-batched decode over mapInPandas. Partition-parallel; each
    batch decodes vectorized-ish in the Python worker. image/bmp and
    RIFF audio/wav payloads go through the REAL decoders (header
    dims / sample count); codec-dependent formats fall back to the
    documented fake. The output schema drops the payload (decoded
    features only) so downstream stages never re-shuffle the heavy
    binary column."""
    def decode_one(m: bytes, t: str) -> tuple[int, int, int]:
        # Robust decode (ADVICE r5 + r6): ANY malformed payload —
        # wrong magic OR truncated/corrupt past the magic — falls
        # back to _fake_decode instead of aborting the whole
        # mapInPandas stage; struct.error covers short-buffer
        # unpacks inside the decoders.
        import struct
        try:
            if t == "image/bmp":
                w, h, _ = decode_bmp(bytes(m))
                return w, h, 1
            if t == "audio/wav":
                _rate, _ch, samples = decode_wav(bytes(m))
                return 0, 0, len(samples)
        except (ValueError, struct.error, IndexError):
            pass
        return _fake_decode(m, t)

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = [
                decode_one(m, t) for m, t in zip(pdf["media"], pdf["mime"])
            ]
            out = pd.DataFrame(decoded, columns=["width", "height", "n_frames"])
            out.insert(0, "doc_id", pdf["doc_id"].values)
            out.insert(1, "mime", pdf["mime"].values)
            out.insert(2, "n_bytes", pdf["n_bytes"].values)
            yield out

    return media.mapInPandas(decode_batches, DECODED_SCHEMA)


def bmp_media_table(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize REAL 24-bit BMP payloads, one per document, with a
    closed-form pixel function of doc_id — so a SQL oracle can
    recompute any pixel statistic without ever seeing the bytes:

        w = 8 + doc_id % 9, h = 5 + doc_id % 7   (widths hit every
        row-padding residue), and at (x, y) top-down:
        r = (doc_id + 7x + 13y) % 256
        g = (2*doc_id + 3x + 5y) % 256
        b = (doc_id + x*y)      % 256

    Synthesis scaffolding for the decode path (production reads real
    binary columns); runs as Arrow-batched mapInPandas, one numpy
    meshgrid + encode per row."""
    import numpy as np

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            payloads = []
            for d in ids:
                d = int(d)
                w, h = 8 + d % 9, 5 + d % 7
                X, Y = np.meshgrid(np.arange(w), np.arange(h))
                px = np.stack([(d + 7 * X + 13 * Y) % 256,
                               (2 * d + 3 * X + 5 * Y) % 256,
                               (d + X * Y) % 256],
                              axis=-1).astype(np.uint8)
                payloads.append(encode_bmp(px))
            yield pd.DataFrame({
                "doc_id": ids.values,
                "media": payloads,
                "mime": ["image/bmp"] * len(payloads),
                "n_bytes": [len(p) for p in payloads],
            })

    return docs.select(id_col).mapInPandas(synth, MEDIA_SCHEMA)


def resample_nearest(px, tw: int, th: int):
    """Nearest-neighbor resample of a decoded (h, w, 3) pixel array to
    (th, tw, 3) using PURE INTEGER source mapping —
    sx = ((2*ox + 1) * w) // (2*tw) — the midpoint rule with no float
    arithmetic, so a SQL oracle can reproduce every sampled
    coordinate exactly."""
    import numpy as np

    h, w, _ = px.shape
    sx = ((2 * np.arange(tw) + 1) * w) // (2 * tw)
    sy = ((2 * np.arange(th) + 1) * h) // (2 * th)
    return px[np.ix_(sy, sx)]


def bmp_thumbnail_stats(media: DataFrame, tw: int = 7,
                        th: int = 5) -> DataFrame:
    """decode -> resample -> features, EXECUTED end to end on real
    pixels: each BMP payload is decoded (decode_bmp), thumbnailed to
    (tw, th) by the integer nearest-neighbor rule, and reduced to
    channel sums plus the top-row r-sum of the THUMBNAIL — values a
    SQL oracle recomputes from the closed-form pixel function composed
    with the midpoint source mapping, so resample coordinate errors
    (off-by-one, axis swap, float drift) hash-fail the gate."""
    import numpy as np

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for d, payload in zip(pdf["doc_id"], pdf["media"]):
                w, h, px = decode_bmp(bytes(payload))
                t = resample_nearest(px, tw, th).astype(np.int64)
                rows.append((int(d), w, h,
                             int(t[..., 0].sum()), int(t[..., 1].sum()),
                             int(t[..., 2].sum()), int(t[0, :, 0].sum())))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "src_w", "src_h",
                "t_r_sum", "t_g_sum", "t_b_sum", "t_top_r_sum"])

    return media.mapInPandas(
        stats,
        "doc_id bigint, src_w bigint, src_h bigint, t_r_sum bigint, "
        "t_g_sum bigint, t_b_sum bigint, t_top_r_sum bigint")


def wav_media_table(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize REAL 16-bit PCM WAV payloads, one per document, with
    a closed-form sample function of doc_id (SQL-recomputable):

        n    = 64 + doc_id % 97 samples
        rate = 8000 + 1000 * (doc_id % 5)
        s[i] = ((doc_id * 31 + i * 17) % 4001) - 2000

    Synthesis scaffolding for the decode path, Arrow-batched."""
    import numpy as np

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            payloads = []
            for d in ids:
                d = int(d)
                i = np.arange(64 + d % 97, dtype=np.int64)
                s = ((d * 31 + i * 17) % 4001 - 2000).astype(np.int16)
                payloads.append(encode_wav(s, 8000 + 1000 * (d % 5)))
            yield pd.DataFrame({
                "doc_id": ids.values,
                "media": payloads,
                "mime": ["audio/wav"] * len(payloads),
                "n_bytes": [len(p) for p in payloads],
            })

    return docs.select(id_col).mapInPandas(synth, MEDIA_SCHEMA)


def wav_sample_stats(media: DataFrame) -> DataFrame:
    """Per-asset statistics FROM TRULY DECODED PCM SAMPLES: sample
    rate and count from the chunk walk, plus sum, absolute sum, and
    the index-weighted sum (order-sensitive — a decoder that reverses
    sample order, misparses chunk offsets, or botches the int16
    little-endian read produces different values)."""
    import numpy as np

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for d, payload in zip(pdf["doc_id"], pdf["media"]):
                rate, ch, s = decode_wav(bytes(payload))
                s = s.astype(np.int64)
                idx = np.arange(len(s))
                rows.append((int(d), rate, ch, len(s), int(s.sum()),
                             int(np.abs(s).sum()), int((idx * s).sum())))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "sample_rate", "n_channels", "n_samples",
                "s_sum", "s_abs_sum", "s_weighted_sum"])

    return media.mapInPandas(
        stats,
        "doc_id bigint, sample_rate bigint, n_channels bigint, "
        "n_samples bigint, s_sum bigint, s_abs_sum bigint, "
        "s_weighted_sum bigint")


def wav_frame_features(media: DataFrame, frame: int = 16) -> DataFrame:
    """Frame-level audio features from TRULY DECODED PCM: the samples
    split into fixed `frame`-sample windows; per frame, the
    zero-crossing count (sign flips between consecutive samples
    WITHIN the frame, sign = v >= 0) and the integer absolute-
    amplitude sum — the codec-free analogues of ZCR/energy that drive
    voice-activity and silence screens before any model runs. All
    integer arithmetic, so a SQL oracle recomputes every frame
    exactly from the closed-form sample function. One output row per
    (asset, frame), produced inside the Arrow scan stage."""
    import numpy as np

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for d, payload in zip(pdf["doc_id"], pdf["media"]):
                _rate, _ch, s = decode_wav(bytes(payload))
                s = s.astype(np.int64)
                n = len(s)
                for k in range((n + frame - 1) // frame):
                    seg = s[k * frame:(k + 1) * frame]
                    nonneg = seg >= 0
                    zc = int((nonneg[:-1] != nonneg[1:]).sum())
                    rows.append((int(d), k, len(seg), zc,
                                 int(np.abs(seg).sum())))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "frame_idx", "n_in_frame", "zero_crossings",
                "abs_sum"])

    return media.mapInPandas(
        feats,
        "doc_id bigint, frame_idx bigint, n_in_frame bigint, "
        "zero_crossings bigint, abs_sum bigint")


def bmp_pixel_stats(media: DataFrame) -> DataFrame:
    """Per-asset statistics computed FROM TRULY DECODED PIXELS:
    channel sums over the full image plus the r-channel sum of the
    TOP row (orientation-sensitive — a decoder that forgets the
    bottom-up flip, misreads the pixel offset, or mishandles row
    padding produces different sums). Payload stays in the scan
    stage; only the 8-integer row flows out."""
    import numpy as np

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for d, payload in zip(pdf["doc_id"], pdf["media"]):
                w, h, px = decode_bmp(bytes(payload))
                px = px.astype(np.int64)
                rows.append((int(d), w, h, w * h,
                             int(px[..., 0].sum()), int(px[..., 1].sum()),
                             int(px[..., 2].sum()), int(px[0, :, 0].sum())))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "width", "height", "n_pixels",
                "r_sum", "g_sum", "b_sum", "first_row_r_sum"])

    return media.mapInPandas(
        stats,
        "doc_id bigint, width bigint, height bigint, n_pixels bigint, "
        "r_sum bigint, g_sum bigint, b_sum bigint, first_row_r_sum bigint")


def bmp_dhash(media: DataFrame, grid: int = 8) -> DataFrame:
    """Perceptual difference hash (dHash) over TRULY DECODED pixels —
    the image counterpart of text MinHash for near-dup detection at
    training-data scale: decode (decode_bmp), grayscale as the exact
    integer channel sum r+g+b (monotone in mean — no float luma),
    integer-midpoint resample to a (grid+1) x grid thumbnail
    (resample_nearest), then bit (x, y) = gray[y][x+1] > gray[y][x]
    for a grid*grid bitmap. Emitted as two 32-bit halves
    (dhash_hi = rows grid/2..grid-1, dhash_lo = rows 0..grid/2-1) so
    both fit signed 64-bit in every engine and double as 2 blocking
    bands. Payload bytes never leave the scan stage; only
    (doc_id, hi, lo) flows out."""
    import numpy as np

    def hashes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for d, payload in zip(pdf["doc_id"], pdf["media"]):
                _w, _h, px = decode_bmp(bytes(payload))
                t = resample_nearest(px, grid + 1, grid).astype(np.int64)
                gray = t.sum(axis=-1)
                bits = gray[:, 1:] > gray[:, :-1]          # (grid, grid)
                half = grid // 2
                lo = hi = 0
                for oy in range(half):
                    for ox in range(grid):
                        lo |= int(bits[oy, ox]) << (oy * grid + ox)
                for oy in range(half, grid):
                    for ox in range(grid):
                        hi |= int(bits[oy, ox]) << ((oy - half) * grid + ox)
                rows.append((int(d), hi, lo))
            yield pd.DataFrame(rows, columns=["doc_id", "dhash_hi",
                                              "dhash_lo"])

    return media.mapInPandas(
        hashes, "doc_id bigint, dhash_hi bigint, dhash_lo bigint")


def frame_sample(decoded: DataFrame, every_n: int = 24) -> DataFrame:
    """Frame sampling plan for video rows: one output row per sampled
    frame index — posexplode of a frame-index sequence, JVM-side.

    Zero-frame assets are dropped, not crashed on: sequence(0, -1, n)
    raises in Spark (step sign must match the range direction), and a
    real video table can carry n_frames = 0 for corrupt/metadata-only
    rows even though this repo's decode paths always emit >= 1."""
    return (
        decoded.filter(F.col("mime").startswith("video/")
                       & (F.col("n_frames") > 0))
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_n)))
            .alias("frame_idx"),
        )
    )


def chunk_media(media: DataFrame, chunk_bytes: int = 4096) -> DataFrame:
    """Content-addressable chunking: split each binary payload into
    fixed-size chunks and emit (doc_id, chunk_idx, chunk_md5, n_bytes)
    — the staging op for dedup'd media storage/transfer (identical
    chunks across assets share a hash). Entirely JVM-side: sequence +
    explode over byte offsets, substring on the BINARY column, md5 of
    the slice. Narrow (zero shuffle); the payload bytes never leave
    the scan stage — only 16-byte hashes flow downstream."""
    starts = F.sequence(
        F.lit(0), F.greatest(F.col("n_bytes") - 1, F.lit(0)),
        F.lit(chunk_bytes))
    st = media.select("doc_id", "media", F.explode(starts).alias("s"))
    piece = F.expr(f"substring(media, s + 1, {chunk_bytes})")
    return st.select(
        "doc_id",
        (F.col("s") / chunk_bytes).cast("long").alias("chunk_idx"),
        F.md5(piece).alias("chunk_md5"),
        F.expr(f"octet_length(substring(media, s + 1, {chunk_bytes}))")
         .cast("long").alias("n_bytes"),
    )
