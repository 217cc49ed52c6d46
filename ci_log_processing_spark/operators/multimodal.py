"""Multimodal columns: image/audio/video as opaque binary payloads
with typed metadata, processed by Arrow-batched mapInPandas.

The payloads are REAL container formats, built and parsed with the
stdlib only (no codec libraries needed):

  * image -> BMP  (BITMAPFILEHEADER + BITMAPINFOHEADER, 24-bpp)
  * audio -> WAV  (RIFF/WAVE, PCM fmt chunk + data chunk, 16-bit mono)
  * video -> Y4M  (YUV4MPEG2 plain-text header + FRAME-framed 4:2:0)

`attach_media` synthesises a valid container per document — pixel /
sample / frame bytes are the document's text bytes cycled to the
needed length, and the geometry (width, height, sample rate, frame
count) is a pure function of the text length, so every downstream
feature is reproducible and oracle-checkable straight from the
`documents` table.  The decoders then parse the real headers back
with `struct.unpack` — a failed magic check raises, it is never
trusted blindly.  Swapping the synthesiser for real files (and the
pixel reader for PIL / libav) keeps the exact same plan shape.

Reference analog: the subunit binary-stream parser
(`subunit_iter`, logsender.py:431-464) — the one place the
reference parses a binary payload into typed records.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

MEDIA_SCHEMA = (
    "doc_id long, kind string, payload binary, "
    "meta struct<source: string, declared_len: long>"
)

IMAGE_FEATURES_SCHEMA = (
    "doc_id long, width int, height int, channels int, "
    "n_pixels long, payload_len long, phash string"
)

FRAME_SAMPLE_SCHEMA = (
    "doc_id long, frame_idx int, src_frame int, width int, height int, "
    "offset long, frame_hash string"
)

AUDIO_CHUNK_SCHEMA = (
    "doc_id long, sample_rate int, n_samples long, duration_us long, "
    "chunk_idx int, start_byte long, n_bytes long, "
    "rms_proxy double, chunk_hash string"
)


def _cycle(src: bytes, n: int) -> bytes:
    """First n bytes of src repeated end-to-end (src never empty)."""
    if not src:
        src = b"x"
    return (src * (n // len(src) + 1))[:n]


# --- container synthesis (one real file per document) -------------------


def _bmp_geometry(text_len: int) -> tuple[int, int]:
    # width is a multiple of 4 so each 24-bpp row is already 4-byte
    # aligned — a legal BMP with zero padding bytes, which keeps the
    # pixel stream contiguous (and the oracle a single substr)
    width = 4 * (1 + text_len % 16)          # 4..64, %4 == 0
    height = 1 + (text_len * 31) % 16        # 1..16
    return width, height


def _make_bmp(text: bytes) -> bytes:
    w, h = _bmp_geometry(len(text))
    pixels = _cycle(text, w * h * 3)
    # BITMAPFILEHEADER (14) + BITMAPINFOHEADER (40), pixels at 54
    file_hdr = struct.pack("<2sIHHI", b"BM", 54 + len(pixels), 0, 0, 54)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixels), 2835, 2835, 0, 0
    )
    return file_hdr + dib + pixels


def _wav_geometry(text_len: int) -> tuple[int, int]:
    sample_rate = 8000 + (text_len % 5) * 2000   # 8k..16k
    n_samples = 64 + (text_len * 7) % 193        # 64..256
    return sample_rate, n_samples


def _make_wav(text: bytes) -> bytes:
    sr, n_samples = _wav_geometry(len(text))
    data = _cycle(text, 2 * n_samples)           # 16-bit mono PCM
    fmt = struct.pack("<4sIHHIIHH", b"fmt ", 16, 1, 1, sr, sr * 2, 2, 16)
    hdr = struct.pack("<4sI4s", b"RIFF", 36 + len(data), b"WAVE")
    return hdr + fmt + struct.pack("<4sI", b"data", len(data)) + data


def _y4m_geometry(text_len: int) -> tuple[int, int, int]:
    width = 2 * (2 + text_len % 8)               # 4..18, even
    height = 2 * (2 + (text_len * 3) % 8)        # 4..18, even
    n_frames = 3 + text_len % 6                  # 3..8
    return width, height, n_frames


def _make_y4m(text: bytes) -> bytes:
    w, h, n_frames = _y4m_geometry(len(text))
    fsz = w * h * 3 // 2                         # 4:2:0 planar
    stream = _cycle(text, n_frames * fsz)
    header = f"YUV4MPEG2 W{w} H{h} F25:1\n".encode()
    frames = b"".join(
        b"FRAME\n" + stream[k * fsz:(k + 1) * fsz] for k in range(n_frames)
    )
    return header + frames


def attach_media(docs: DataFrame) -> DataFrame:
    """Model documents as media rows: a REAL container per doc
    (BMP / WAV / Y4M by doc_id % 3), built in an Arrow-vectorized
    pandas UDF — never per-row Python in the plan."""

    @pandas_udf("binary")
    def synth(kind: pd.Series, text: pd.Series) -> pd.Series:
        makers = {"image": _make_bmp, "audio": _make_wav, "video": _make_y4m}
        return pd.Series(
            [makers[k](t.encode()) for k, t in zip(kind, text)]
        )

    kind = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    with_kind = docs.withColumn("kind", kind)
    return with_kind.select(
        "doc_id",
        "kind",
        synth("kind", "text").alias("payload"),
        F.struct(
            F.col("source").alias("source"),
            F.length("text").cast("long").alias("declared_len"),
        ).alias("meta"),
    )


# --- decoders (struct.unpack over the real headers) ---------------------


def decode_image_features(media: DataFrame) -> DataFrame:
    """mapInPandas BMP feature extraction — parses the real
    BITMAPFILEHEADER / BITMAPINFOHEADER and hashes the real pixel
    bytes.  Arrow batches in, Arrow batches out; at scale, partition
    by a size-balanced key first so decode work is even."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            rows = {
                "doc_id": [], "width": [], "height": [], "channels": [],
                "n_pixels": [], "payload_len": [], "phash": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                magic, _file_sz, _r1, _r2, data_off = struct.unpack_from(
                    "<2sIHHI", b, 0
                )
                if magic != b"BM":
                    raise ValueError(f"doc {doc_id}: not a BMP payload")
                dib_sz, w, h, _planes, bpp = struct.unpack_from(
                    "<IiiHH", b, 14
                )
                if dib_sz != 40:
                    raise ValueError(f"doc {doc_id}: unsupported DIB {dib_sz}")
                channels = bpp // 8
                h = abs(h)  # negative height = top-down row order
                pixels = b[data_off:data_off + w * h * channels]
                rows["doc_id"].append(doc_id)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["channels"].append(channels)
                rows["n_pixels"].append(w * h * channels)
                rows["payload_len"].append(len(b))
                rows["phash"].append(hashlib.md5(pixels).hexdigest())
            yield pd.DataFrame(rows)

    images = media.filter(F.col("kind") == "image")
    return images.mapInPandas(extract, IMAGE_FEATURES_SCHEMA)


def _parse_wav(b: bytes) -> tuple[int, int, int, bytes]:
    """Walk the RIFF chunk list; return (sample_rate, channels,
    bits_per_sample, data bytes)."""
    riff, _sz, wave = struct.unpack_from("<4sI4s", b, 0)
    if riff != b"RIFF" or wave != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, sr, channels, bits, data = 12, None, None, None, None
    while pos + 8 <= len(b):
        cid, csz = struct.unpack_from("<4sI", b, pos)
        body = b[pos + 8:pos + 8 + csz]
        if cid == b"fmt ":
            fmt_tag, channels, sr, _brate, _align, bits = struct.unpack_from(
                "<HHIIHH", body, 0
            )
            if fmt_tag != 1:
                raise ValueError(f"non-PCM WAV (fmt {fmt_tag})")
        elif cid == b"data":
            data = body
        pos += 8 + csz + (csz & 1)  # RIFF chunks are word-aligned
    if sr is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    return sr, channels, bits, data


AUDIO_CHUNK_BYTES = 32
AUDIO_MAX_CHUNKS = 8


def audio_chunks(media: DataFrame) -> DataFrame:
    """Fixed-size chunking (at most AUDIO_MAX_CHUNKS chunks of
    AUDIO_CHUNK_BYTES) + per-chunk features for WAV payloads —
    parses the real RIFF chunk list for sample rate / width, then
    windows the real PCM data bytes.  rms_proxy = mean byte value of
    the chunk (stands in for spectral features; a pure function of
    the payload so the oracle can recompute it), duration_us is
    exact integer arithmetic so both sides agree bit-for-bit."""

    def chunk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            rows = {
                "doc_id": [], "sample_rate": [], "n_samples": [],
                "duration_us": [], "chunk_idx": [], "start_byte": [],
                "n_bytes": [], "rms_proxy": [], "chunk_hash": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                sr, channels, bits, data = _parse_wav(bytes(payload))
                n_samples = len(data) // (channels * bits // 8)
                duration_us = n_samples * 1_000_000 // sr
                n = min(
                    AUDIO_MAX_CHUNKS,
                    max((len(data) + AUDIO_CHUNK_BYTES - 1)
                        // AUDIO_CHUNK_BYTES, 1),
                )
                for i in range(n):
                    seg = data[i * AUDIO_CHUNK_BYTES:
                               (i + 1) * AUDIO_CHUNK_BYTES]
                    rows["doc_id"].append(doc_id)
                    rows["sample_rate"].append(sr)
                    rows["n_samples"].append(n_samples)
                    rows["duration_us"].append(duration_us)
                    rows["chunk_idx"].append(i)
                    rows["start_byte"].append(i * AUDIO_CHUNK_BYTES)
                    rows["n_bytes"].append(len(seg))
                    rows["rms_proxy"].append(
                        round(sum(seg) / len(seg), 6) if seg else 0.0
                    )
                    rows["chunk_hash"].append(hashlib.md5(seg).hexdigest())
            yield pd.DataFrame(rows)

    audio = media.filter(F.col("kind") == "audio")
    return audio.mapInPandas(chunk, AUDIO_CHUNK_SCHEMA)


# keyframes frame_sample takes from each video
SAMPLED_FRAMES = 4


def frame_sample(media: DataFrame) -> DataFrame:
    """Keyframe sampling for Y4M payloads: parse the real YUV4MPEG2
    header for geometry, walk the FRAME markers, pick SAMPLED_FRAMES evenly
    spaced frames, and hash each sampled frame's real pixel bytes.
    `offset` is the byte position of the frame's pixel data inside
    the payload — what a real seek-based reader would use."""

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            rows = {
                "doc_id": [], "frame_idx": [], "src_frame": [],
                "width": [], "height": [], "offset": [], "frame_hash": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                nl = b.index(b"\n")
                header = b[:nl].decode()
                tokens = header.split(" ")
                if tokens[0] != "YUV4MPEG2":
                    raise ValueError(f"doc {doc_id}: not a Y4M payload")
                params = {t[0]: t[1:] for t in tokens[1:]}
                w, h = int(params["W"]), int(params["H"])
                fsz = w * h * 3 // 2
                total = (len(b) - (nl + 1)) // (6 + fsz)
                for i in range(SAMPLED_FRAMES):
                    src = i * total // SAMPLED_FRAMES
                    off = (nl + 1) + src * (6 + fsz) + 6
                    if b[off - 6:off] != b"FRAME\n":
                        raise ValueError(
                            f"doc {doc_id}: bad FRAME marker at {off - 6}"
                        )
                    rows["doc_id"].append(doc_id)
                    rows["frame_idx"].append(i)
                    rows["src_frame"].append(src)
                    rows["width"].append(w)
                    rows["height"].append(h)
                    rows["offset"].append(off)
                    rows["frame_hash"].append(
                        hashlib.md5(b[off:off + fsz]).hexdigest()
                    )
            yield pd.DataFrame(rows)

    videos = media.filter(F.col("kind") == "video")
    return videos.mapInPandas(sample, FRAME_SAMPLE_SCHEMA)


RESIZED_SCHEMA = (
    "doc_id long, width int, height int, new_w int, new_h int, "
    "resized_hash string"
)


# resize_images' output size, in pixels
RESIZE_W = 4
RESIZE_H = 4


def resize_images(media: DataFrame) -> DataFrame:
    """mapInPandas nearest-neighbor BMP downsample — the `resize`
    stage of the decode/feature/resize/frame-sample multimodal set:
    output pixel (x, y, c) = stored pixel (x*w div RESIZE_W,
    y*h div RESIZE_H, c), all-integer source indexing so both engines
    pick identical source bytes (no float scaling, no filtering —
    nearest-neighbor IS the deterministic resize). Row order is the
    container's stored order (the synthesiser writes rows linearly;
    a general BMP reader would flip bottom-up rows first — same
    plumbing, one extra slice).

    Same Arrow-batch shape as decode_image_features: batches in,
    batches out, nothing per-row crosses Py4J; at scale partition by
    a size-balanced key so decode work is even.

    Output: (doc_id, width, height, new_w, new_h, resized_hash) with
    resized_hash = md5 of the resized interleaved pixel bytes.
    """
    def rs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            rows = {
                "doc_id": [], "width": [], "height": [],
                "new_w": [], "new_h": [], "resized_hash": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                magic, _fs, _r1, _r2, off = struct.unpack_from(
                    "<2sIHHI", b, 0
                )
                if magic != b"BM":
                    raise ValueError(f"doc {doc_id}: not a BMP payload")
                _dib, w, h, _pl, bpp = struct.unpack_from("<IiiHH", b, 14)
                ch = bpp // 8
                h = abs(h)
                pixels = b[off:off + w * h * ch]
                out = bytearray()
                for y in range(RESIZE_H):
                    sy = y * h // RESIZE_H
                    row = sy * w
                    for x in range(RESIZE_W):
                        p = (row + x * w // RESIZE_W) * ch
                        out += pixels[p:p + ch]
                rows["doc_id"].append(doc_id)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["new_w"].append(RESIZE_W)
                rows["new_h"].append(RESIZE_H)
                rows["resized_hash"].append(
                    hashlib.md5(bytes(out)).hexdigest()
                )
            yield pd.DataFrame(rows)

    images = media.filter(F.col("kind") == "image")
    return images.mapInPandas(rs, RESIZED_SCHEMA)


AHASH_SCHEMA = "doc_id long, ahash long"


def image_ahash(media: DataFrame) -> DataFrame:
    """Average-hash (aHash) perceptual fingerprint over the REAL
    decoded pixel bytes — the image analog of simhash: a 64-bit
    signature whose Hamming distance tracks visual similarity, so
    image dedup becomes the same banded-Hamming problem the text
    tier already solves. (`decode_image_features.phash` is a
    CONTENT hash — one changed byte randomizes it; this one moves a
    few bits when a few pixels move, which is what near-dup needs.)

    All-integer spec (shared verbatim with the DuckDB twin — no
    float, no libm):
      * gray(p) = (b0 + b1 + b2) div 3 over the pixel's 3 channels;
      * 64 cells by LINEAR pixel index: cell(p) = (p * 64) div n_pix
        (resolution-independent, no 2-D resample needed);
      * bit k = 1  iff  sum_k * N > S * n_k  — the "cell mean above
        global mean" test cross-multiplied into exact int64
        (sum_k <= 255*n_pix, N <= n_pix: products stay tiny);
      * bits pack little-endian into one int64 (two's complement —
        bit 63 makes the value negative identically in both
        engines).

    mapInPandas with numpy int64 accumulators inside the existing
    Arrow batch shape; zero shuffle — a per-row scan op like the
    other decoders.
    """

    def ah(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = {"doc_id": [], "ahash": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                magic, _fs, _r1, _r2, data_off = struct.unpack_from(
                    "<2sIHHI", b, 0
                )
                if magic != b"BM":
                    raise ValueError(f"doc {doc_id}: not a BMP payload")
                _dib, w, h, _planes, bpp = struct.unpack_from(
                    "<IiiHH", b, 14
                )
                h = abs(h)
                ch = bpp // 8
                arr = np.frombuffer(
                    b, dtype=np.uint8, count=w * h * ch, offset=data_off
                ).astype(np.int64)
                gray = arr.reshape(-1, ch).sum(axis=1) // ch
                n_pix = gray.shape[0]
                cells = (np.arange(n_pix, dtype=np.int64) * 64) // n_pix
                sums = np.zeros(64, dtype=np.int64)
                np.add.at(sums, cells, gray)
                counts = np.bincount(cells, minlength=64).astype(
                    np.int64
                )
                total = int(gray.sum())
                bits = sums * n_pix > total * counts
                hv = 0
                for k in range(64):
                    if bits[k]:
                        hv |= 1 << k
                if hv >= 1 << 63:
                    hv -= 1 << 64
                out["doc_id"].append(doc_id)
                out["ahash"].append(hv)
            yield pd.DataFrame(out)

    images = media.filter(F.col("kind") == "image")
    return images.mapInPandas(ah, AHASH_SCHEMA)


# largest aHash Hamming distance reported, and the band slices of the
# 64-bit hash; the pigeonhole guarantee needs AHASH_MAX_HAMMING <
# AHASH_BANDS, and full coverage AHASH_BANDS | 64
AHASH_MAX_HAMMING = 7
AHASH_BANDS = 8


def ahash_near_dup_pairs(ah: DataFrame) -> DataFrame:
    """Image near-dup pairs by banded Hamming over the 64-bit aHash
    — dedup.simhash_pairs' pigeonhole plan on the image tier: any
    pair within Hamming <= AHASH_BANDS - 1 agrees exactly on at least
    one band slice, so candidates come from an equi-join on
    (band, slice) and bit_count(xor) verifies exactly. Banding uses
    UNSIGNED shifts (bit 63 is in play on a 64-bit signature; an
    arithmetic shift would sign-smear the top band).

    One (band, key) shuffle whose cost tracks duplicate density —
    never |images|^2.
    """
    band_w = 64 // AHASH_BANDS
    mask = (1 << band_w) - 1
    bands = ah.select(
        "doc_id",
        "ahash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(
                        "ahash", i * band_w
                    ).bitwiseAND(F.lit(mask))
                    for i in range(AHASH_BANDS)
                ]
            )
        ).alias("band", "key"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.ahash").bitwiseXOR(F.col("b.ahash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= AHASH_MAX_HAMMING)
        .distinct()
    )


SCENE_CUT_SCHEMA = (
    "doc_id long, frame_idx int, luma_milli long, delta_milli long, "
    "is_cut boolean"
)
SCENE_CUT_MILLI = 4000


def scene_cuts(media: DataFrame) -> DataFrame:
    """Scene-cut detection over Y4M payloads — the shot-boundary
    pass a video curation pipeline runs before frame dedup / caption
    alignment (split at cuts, sample within shots). The detector is
    the classic mean-luma difference: per frame, the Y-plane mean in
    integer MILLI units (1000 * sum(Y bytes) div (w*h) — the Y plane
    is the first w*h bytes of each 4:2:0 frame); a cut is flagged
    where |mean_f - mean_{f-1}| > SCENE_CUT_MILLI. All-integer, so
    the DuckDB twin (which recomputes the lumas from the cycled-text
    pixel stream the synthesiser embeds) matches hash-exactly.

    Plumbing is the real seek shape: the YUV4MPEG2 header is parsed
    for geometry, every FRAME marker is verified while walking the
    payload, and only the Y plane of each frame is touched — 2/3 of
    the chroma bytes are never read, exactly what a production
    shot-boundary scan does. Arrow batches in/out via mapInPandas;
    the frame walk is per-row bounded work (frame count x w x h),
    no shuffle — the cut table inherits the scan's partitioning.

    Output: one row per frame. Frame 0 has delta_milli NULL and
    is_cut false (no predecessor).
    """

    def cuts(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {
                "doc_id": [], "frame_idx": [], "luma_milli": [],
                "delta_milli": [], "is_cut": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                nl = b.index(b"\n")
                tokens = b[:nl].decode().split(" ")
                if tokens[0] != "YUV4MPEG2":
                    raise ValueError(f"doc {doc_id}: not a Y4M payload")
                params = {t[0]: t[1:] for t in tokens[1:]}
                w, h = int(params["W"]), int(params["H"])
                fsz = w * h * 3 // 2
                total = (len(b) - (nl + 1)) // (6 + fsz)
                prev = None
                for fi in range(total):
                    off = (nl + 1) + fi * (6 + fsz) + 6
                    if b[off - 6:off] != b"FRAME\n":
                        raise ValueError(
                            f"doc {doc_id}: bad FRAME marker at {off - 6}"
                        )
                    luma = 1000 * sum(b[off:off + w * h]) // (w * h)
                    delta = None if prev is None else abs(luma - prev)
                    rows["doc_id"].append(doc_id)
                    rows["frame_idx"].append(fi)
                    rows["luma_milli"].append(luma)
                    rows["delta_milli"].append(delta)
                    rows["is_cut"].append(
                        delta is not None and delta > SCENE_CUT_MILLI
                    )
                    prev = luma
            yield pd.DataFrame(rows)

    videos = media.filter(F.col("kind") == "video")
    return videos.mapInPandas(cuts, SCENE_CUT_SCHEMA)
