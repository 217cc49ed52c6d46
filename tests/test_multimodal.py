"""Multimodal: real BMP/WAV/Y4M containers are synthesised per doc
and the decoders parse the real headers back (struct.unpack), with
features over the real pixel/sample bytes."""

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from ci_log_processing_spark.operators import multimodal as mm

SF = "/root/testdata/sf0.001"


def _cycle(s: bytes, n: int) -> bytes:
    return (s * (n // len(s) + 1))[:n]


@pytest.fixture(scope="module")
def media(spark):
    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    return mm.attach_media(docs).cache()


def test_media_schema(media):
    assert dict(media.dtypes)["payload"] == "binary"
    kinds = {r["kind"] for r in media.select("kind").distinct().collect()}
    assert kinds == {"image", "audio", "video"}


def test_payloads_are_real_containers(media):
    rows = media.select("kind", "payload").collect()
    magics = {"image": b"BM", "audio": b"RIFF", "video": b"YUV4MPEG2"}
    assert len(rows) > 0
    for r in rows:
        assert bytes(r["payload"]).startswith(magics[r["kind"]])


def test_image_features_match_geometry(spark, media):
    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(
            os.path.join(SF, "documents.parquet")
        ).collect()
    }
    feats = mm.decode_image_features(media).collect()
    assert len(feats) > 0
    for r in feats:
        text = docs[r["doc_id"]]
        w, h = mm._bmp_geometry(len(text))
        assert (r["width"], r["height"], r["channels"]) == (w, h, 3)
        assert r["n_pixels"] == w * h * 3
        assert r["payload_len"] == 54 + w * h * 3
        # phash is over the REAL pixel bytes the decoder read back
        # from the container, which are the text bytes cycled
        exp = hashlib.md5(_cycle(text.encode(), w * h * 3)).hexdigest()
        assert r["phash"] == exp


def test_corrupt_payload_raises(spark):
    # a WAV payload labelled "image" must fail the BMP magic check,
    # never be silently decoded
    bad = spark.createDataFrame(
        [(1, "image", bytearray(mm._make_wav(b"hello")), ("s", 5))],
        mm.MEDIA_SCHEMA,
    )
    with pytest.raises(Exception) as exc:
        mm.decode_image_features(bad).collect()
    assert "not a BMP" in str(exc.value)


def test_wav_roundtrip():
    text = b"pcm sample payload text" * 3
    sr, ns = mm._wav_geometry(len(text))
    got_sr, channels, bits, data = mm._parse_wav(mm._make_wav(text))
    assert (got_sr, channels, bits) == (sr, 1, 16)
    assert data == _cycle(text, 2 * ns)


def test_frame_sample_shape(spark, media):
    frames = mm.frame_sample(media)
    rows = frames.collect()
    n_videos = media.filter(F.col("kind") == "video").count()
    assert len(rows) == mm.SAMPLED_FRAMES * n_videos
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_rows in by_doc.values():
        srt = sorted(doc_rows, key=lambda r: r["frame_idx"])
        offs = [r["offset"] for r in srt]
        assert offs == sorted(offs)
        # geometry came from the real Y4M header
        w, h = srt[0]["width"], srt[0]["height"]
        assert w % 2 == 0 and h % 2 == 0 and 4 <= w <= 18 and 4 <= h <= 18


def test_frame_hashes_match_pixel_stream(spark):
    text = "video pixel stream source text!" * 4
    docs = spark.createDataFrame(
        [(2, text, "s")], "doc_id long, text string, source string"
    )
    rows = mm.frame_sample(mm.attach_media(docs)).collect()
    w, h, total = mm._y4m_geometry(len(text))
    fsz = w * h * 3 // 2
    stream = _cycle(text.encode(), total * fsz)
    assert len(rows) == mm.SAMPLED_FRAMES
    for r in sorted(rows, key=lambda r: r["frame_idx"]):
        src = r["frame_idx"] * total // mm.SAMPLED_FRAMES
        assert r["src_frame"] == src
        exp = hashlib.md5(stream[src * fsz:(src + 1) * fsz]).hexdigest()
        assert r["frame_hash"] == exp


def test_audio_chunks_contract(spark):
    docs = spark.createDataFrame(
        [(1, "a" * 100, "s"), (4, "xy", "s"), (7, "b" * 500, "s")],
        "doc_id long, text string, source string",
    )
    out = mm.audio_chunks(mm.attach_media(docs)).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: L=100 -> sr 8000, ns 185, 370 data bytes -> capped at 8 chunks
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
    assert c1[0]["sample_rate"] == 8000 and c1[0]["n_samples"] == 185
    assert c1[0]["duration_us"] == 185 * 1_000_000 // 8000
    assert [r["n_bytes"] for r in c1] == [32] * 8
    assert c1[0]["rms_proxy"] == float(ord("a"))
    assert c1[0]["chunk_hash"] == hashlib.md5(b"a" * 32).hexdigest()
    # doc 4: L=2 -> sr 12000, ns 78, 156 bytes -> 5 chunks, 28-byte tail
    c4 = sorted(by_doc[4], key=lambda r: r["chunk_idx"])
    assert c4[0]["sample_rate"] == 12000 and c4[0]["n_samples"] == 78
    assert [r["n_bytes"] for r in c4] == [32, 32, 32, 32, 28]
    assert c4[0]["chunk_hash"] == hashlib.md5(b"xy" * 16).hexdigest()
    # doc 7: L=500 -> ns 90, 180 bytes -> 6 chunks, 20-byte tail
    c7 = sorted(by_doc[7], key=lambda r: r["chunk_idx"])
    assert [r["n_bytes"] for r in c7] == [32] * 5 + [20]


def test_image_ahash_near_dup_pairs(spark):
    from ci_log_processing_spark.operators.multimodal import (
        ahash_near_dup_pairs,
        attach_media,
        image_ahash,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta " * 3
    noisy = "~" + base[1:]           # same length, one byte changed
    rows = [
        (0, base, "s0"),             # doc_id % 3 == 0 -> image
        (3, base, "s0"),             # exact pixel copy of doc 0
        (6, noisy, "s0"),            # near copy: few aHash bits flip
        (9, "completely different words here that share nothing at "
            "all with the others in any way shape or form", "s0"),
    ]
    media = attach_media(
        spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        )
    )
    ah = {r.doc_id: r.ahash for r in image_ahash(media).collect()}
    assert ah[0] == ah[3]            # identical pixels -> same hash
    assert ah[0] != ah[9]
    ham_noisy = bin((ah[0] ^ ah[6]) & ((1 << 64) - 1)).count("1")
    ham_far = bin((ah[0] ^ ah[9]) & ((1 << 64) - 1)).count("1")
    assert 0 < ham_noisy < ham_far   # close, not identical

    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in ahash_near_dup_pairs(image_ahash(media)).collect()
    }
    assert pairs[(0, 3)] == 0
    assert pairs[(0, 6)] == ham_noisy
    assert (0, 9) not in pairs and (3, 9) not in pairs


def test_scene_cuts_planted_boundary(spark):
    # hand-built Y4M: 4 frames, first two all-32 luma, last two
    # all-120 luma -> exactly one cut at frame 2
    w, h = 4, 4
    fsz = w * h * 3 // 2
    header = f"YUV4MPEG2 W{w} H{h} F25:1\n".encode()
    lo = bytes([32]) * fsz
    hi = bytes([120]) * fsz
    payload = header + b"".join(
        b"FRAME\n" + fr for fr in (lo, lo, hi, hi)
    )
    df = spark.createDataFrame(
        [(7, "video", payload)], "doc_id long, kind string, payload binary"
    )
    rows = {r["frame_idx"]: r for r in mm.scene_cuts(df).collect()}
    assert sorted(rows) == [0, 1, 2, 3]
    assert rows[0]["delta_milli"] is None and not rows[0]["is_cut"]
    assert rows[1]["delta_milli"] == 0 and not rows[1]["is_cut"]
    assert rows[2]["delta_milli"] == 88000 and rows[2]["is_cut"]
    assert rows[3]["delta_milli"] == 0 and not rows[3]["is_cut"]
    assert rows[0]["luma_milli"] == 32000 and rows[2]["luma_milli"] == 120000


def test_scene_cuts_read_y_plane_only(spark):
    # flipping every chroma byte must not change any output row:
    # the detector promises to touch only the Y plane
    w, h = 4, 4
    ysz, fsz = w * h, w * h * 3 // 2
    header = f"YUV4MPEG2 W{w} H{h} F25:1\n".encode()
    frames = [bytes([40 + 60 * k]) * fsz for k in range(3)]
    mk = lambda frs: header + b"".join(b"FRAME\n" + f for f in frs)
    mangled = [f[:ysz] + bytes(255 - b for b in f[ysz:]) for f in frames]
    df = spark.createDataFrame(
        [(1, "video", mk(frames)), (2, "video", mk(mangled))],
        "doc_id long, kind string, payload binary",
    )
    out = mm.scene_cuts(df).collect()
    a = sorted((r["frame_idx"], r["luma_milli"], r["delta_milli"], r["is_cut"])
               for r in out if r["doc_id"] == 1)
    b = sorted((r["frame_idx"], r["luma_milli"], r["delta_milli"], r["is_cut"])
               for r in out if r["doc_id"] == 2)
    assert a == b and len(a) == 3
