"""Multimodal plumbing: binary schema, Arrow-batched decode stub,
frame sampling, byte-aware partitioning."""

from __future__ import annotations

from gcpdatapipelines_spark.io import read_table
from gcpdatapipelines_spark.operators import multimodal as M
from tests.conftest import SF_SMOKE


def _assets(spark):
    docs = read_table(spark, SF_SMOKE, "documents")
    return M.text_to_fake_assets(docs)


def test_fake_assets_schema(spark):
    a = _assets(spark)
    assert dict(a.dtypes) == {
        "asset_id": "bigint",
        "kind": "string",
        "payload": "binary",
        "meta": "map<string,string>",
    }
    kinds = {r["kind"] for r in a.select("kind").distinct().collect()}
    assert kinds == {"image", "audio", "video"}


def test_decode_is_deterministic_and_total(spark):
    a = _assets(spark)
    d1 = {r["asset_id"]: r["checksum"] for r in M.decode_assets(a).collect()}
    d2 = {r["asset_id"]: r["checksum"] for r in M.decode_assets(a).collect()}
    assert d1 == d2
    assert len(d1) == a.count()


def test_decode_feature_typing(spark):
    rows = M.decode_assets(_assets(spark)).collect()
    for r in rows:
        if r["kind"] == "image":
            assert r["width"] is not None and r["duration_s"] is None
        else:
            assert r["width"] is None and r["duration_s"] is not None
        assert r["n_bytes"] > 0


def test_frame_sample_counts_follow_duration(spark):
    a = _assets(spark)
    decoded = {r["asset_id"]: r for r in M.decode_assets(a).collect() if r["kind"] == "video"}
    frames = M.frame_sample_stub(a, every_s=1.0)
    counts = frames.groupBy("asset_id").count().collect()
    for row in counts:
        dur = decoded[row["asset_id"]]["duration_s"]
        assert row["count"] == max(int(dur), 1)


def test_repartition_for_blobs_preserves_rows(spark):
    a = _assets(spark)
    out = M.repartition_for_blobs(a, target_partition_bytes=10_000)
    assert out.count() == a.count()
    assert out.rdd.getNumPartitions() >= 1


def test_resize_stub_aspect_preserving(spark):
    from gcpdatapipelines_spark.operators import multimodal as MM

    out = MM.resize_stub(_assets(spark), max_dim=256).collect()
    assert out, "no image assets?"
    for r in out:
        assert 1 <= r["out_width"] <= 256 and 1 <= r["out_height"] <= 256
        # exact contract: scale = min(1, 256/max(w,h)), floor to int, min 1
        scale = min(1.0, 256 / max(r["width"], r["height"], 1))
        assert r["out_width"] == max(int(r["width"] * scale), 1)
        assert r["out_height"] == max(int(r["height"] * scale), 1)
        if r["width"] <= 256 and r["height"] <= 256:
            assert (r["out_width"], r["out_height"]) == (r["width"], r["height"])


# ---------------------------------------------------------------------------
# phash_neardup_pairs_md5 (kind-scoped, oracle-parity signature family)
# ---------------------------------------------------------------------------

from gcpdatapipelines_spark.operators.multimodal import phash_neardup_pairs_md5  # noqa: E402

_SIG_SCHEMA = "asset_id BIGINT, kind STRING, sig_hi BIGINT, sig_lo BIGINT"


def test_phash_planted_pairs_by_hamming(spark):
    # exact distances planted across BOTH 32-bit words: 1-2 differ in
    # one hi bit + one lo bit (2), 1-3 in 2 hi + 2 lo bits (4, over the
    # cut), 1-4 in three hi bits (3, on the cut), 1-5 identical (0)
    hi, lo = 0x0F0F0F0F, 0x00F000F0
    rows = [
        (1, "image", hi, lo),
        (2, "image", hi ^ 0b1, lo ^ 0b1),
        (3, "image", hi ^ 0b11, lo ^ 0b11),
        (4, "image", hi ^ 0b111, lo),
        (5, "image", hi, lo),
    ]
    df = spark.createDataFrame(rows, _SIG_SCHEMA)
    out = {
        (r.asset_a, r.asset_b): r.hamming
        for r in phash_neardup_pairs_md5(df, max_hamming=3).collect()
    }
    want = {}
    for a in rows:
        for b in rows:
            ham = bin(a[2] ^ b[2]).count("1") + bin(a[3] ^ b[3]).count("1")
            if a[0] < b[0] and ham <= 3:
                want[(a[0], b[0])] = ham
    assert out == want
    assert out[(1, 2)] == 2 and out[(1, 4)] == 3 and out[(1, 5)] == 0
    assert (1, 3) not in out


def test_phash_plan_equijoin_never_cartesian(spark):
    # max_hamming > 3 takes the 16-bit chunk banding, not the 1-bit
    # probes: that candidate step must be an equi-join too
    df = spark.createDataFrame([(1, "image", 7, 9)], _SIG_SCHEMA)
    q = phash_neardup_pairs_md5(df, max_hamming=5)._jdf.queryExecution()
    plan = q.executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def _two_word_sig_rows():
    # sig planted as two positive 32-bit words; a-b differ in 2 bits of
    # sig_lo, a-c in 20 bits, d == a; e matches a bit-for-bit but is a
    # different kind -> must NOT pair.
    base_hi, base_lo = 0x0F0F0F0F, 0x1111000011 & 0xFFFFFFFF
    return [
        (1, "image", base_hi, base_lo),
        (2, "image", base_hi, base_lo ^ 0b11),        # hamming 2
        (3, "image", base_hi, base_lo ^ ((1 << 20) - 1)),  # hamming 20
        (4, "image", base_hi, base_lo),               # hamming 0
        (5, "audio", base_hi, base_lo),               # identical, wrong kind
    ]


def test_phash_md5_kind_scoped_pairs(spark):
    df = spark.createDataFrame(_two_word_sig_rows(), _SIG_SCHEMA)
    out = {
        (r.asset_a, r.asset_b): (r.kind, r.hamming)
        for r in phash_neardup_pairs_md5(df, max_hamming=3).collect()
    }
    assert out == {
        (1, 2): ("image", 2),
        (1, 4): ("image", 0),
        (2, 4): ("image", 2),
    }


def test_phash_md5_plan_kind_in_join_key_never_cartesian(spark):
    df = spark.createDataFrame(_two_word_sig_rows(), _SIG_SCHEMA)
    q = phash_neardup_pairs_md5(df)._jdf.queryExecution()
    plan = q.executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # kind must be INSIDE the equi-join key (pre-shuffle candidate cut),
    # not a post-join filter
    optimized = q.optimizedPlan().toString()
    assert "__k_kind" in optimized


# ---------------------------------------------------------------------------
# real-codec proof: the decode_fn swap-in contract executed, not asserted
# ---------------------------------------------------------------------------


def _real_bmp(width: int, height: int) -> bytes:
    """Build a genuine 24-bit uncompressed BMP file in memory (pure
    struct — the same bytes Paint would write)."""
    import struct

    row = width * 3
    pad = (4 - row % 4) % 4
    pixels = (b"\x7f\x00\xff" * width + b"\x00" * pad) * height
    dib = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pixels), 2835, 2835, 0, 0
    )
    off = 14 + 40
    hdr = struct.pack("<2sIHHI", b"BM", off + len(pixels), 0, 0, off)
    return hdr + dib + pixels


def _real_wav(seconds: float, rate: int = 8000) -> bytes:
    """Build a genuine PCM WAV via the stdlib wave module."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(b"\x00\x01" * int(rate * seconds))
    return buf.getvalue()


def test_media_decode_real_bmp_and_wav_through_spark_plumbing(spark):
    """media_decode parses REAL file bytes (BMP dims, WAV duration)
    through the exact mapInPandas path the fake stand-in uses — the
    'swap decode_fn and nothing else changes' claim, executed."""
    from gcpdatapipelines_spark.operators.multimodal import (
        decode_assets,
        media_decode,
    )

    rows = [
        (1, "image", _real_bmp(640, 480), None),
        (2, "audio", _real_wav(2.5), None),
        (3, "image", b"not a real image payload", None),  # fallback path
    ]
    df = spark.createDataFrame(
        rows, "asset_id BIGINT, kind STRING, payload BINARY, meta MAP<STRING,STRING>"
    )
    out = {r.asset_id: r for r in decode_assets(df, media_decode).collect()}
    assert (out[1].width, out[1].height) == (640, 480)
    assert out[1].duration_s is None
    assert out[2].duration_s == 2.5 and out[2].width is None
    # non-decodable payload falls back to the deterministic stand-in
    assert out[3].n_bytes == len(rows[2][2]) and out[3].checksum is not None


def test_wav_decode_truncated_payload_clamps_duration():
    """A truncated WAV's declared data-chunk size must not inflate the
    duration: the parser clamps to the bytes actually present."""
    from gcpdatapipelines_spark.operators.multimodal import wav_decode

    full = _real_wav(2.0)
    truncated = full[: len(full) // 2]
    d_full = wav_decode(full)["duration_s"]
    d_trunc = wav_decode(truncated)["duration_s"]
    assert d_full == 2.0
    assert d_trunc < d_full and d_trunc >= 0


def test_wav_decode_fmt_body_truncated_returns_none():
    """A WAV whose fmt chunk HEADER fits but whose body is cut off must
    return None (fall back to fake_decode), not raise struct.error and
    kill the whole mapInPandas task."""
    import struct

    from gcpdatapipelines_spark.operators.multimodal import wav_decode

    junk = b"LIST" + struct.pack("<I", 20) + b"\x00" * 20
    fmt_header = b"fmt " + struct.pack("<I", 16)
    payload = b"RIFF" + struct.pack("<I", 60) + b"WAVE" + junk + fmt_header
    payload += b"\x00" * 4  # 4 of the 16 declared fmt bytes present
    assert len(payload) >= 44
    assert wav_decode(payload) is None


def test_bmp_decode_negative_width_rejected():
    """A corrupt header with i32 width < 0 is not a decodable image —
    fall back (return None) instead of emitting a negative width."""
    import struct

    from gcpdatapipelines_spark.operators.multimodal import bmp_decode

    good = _real_bmp(4, 3)
    bad = good[:18] + struct.pack("<i", -4) + good[22:]
    assert bmp_decode(good) == {"width": 4, "height": 3, "duration_s": None}
    assert bmp_decode(bad) is None


def test_frame_sample_null_payload_yields_no_frames(spark):
    """A NULL-payload video decodes to NULL duration and must produce
    ZERO frame rows (not a fabricated frame_idx=0) — the oracle models
    NULL payloads as absent."""
    from gcpdatapipelines_spark.operators.multimodal import frame_sample_stub

    rows = [(1, "video", b"some video bytes", None), (2, "video", None, None)]
    df = spark.createDataFrame(
        rows, "asset_id BIGINT, kind STRING, payload BINARY, meta MAP<STRING,STRING>"
    )
    out = frame_sample_stub(df, every_s=1.0).collect()
    assert {r.asset_id for r in out} == {1}


def test_media_decode_real_dims_drive_resize(spark):
    """Real decoded dimensions flow into the resize arithmetic —
    the downstream relational contract is codec-agnostic."""
    from gcpdatapipelines_spark.operators.multimodal import (
        media_decode,
        resize_stub,
    )

    df = spark.createDataFrame(
        [(1, "image", _real_bmp(1024, 256), None)],
        "asset_id BIGINT, kind STRING, payload BINARY, meta MAP<STRING,STRING>",
    )
    r = resize_stub(df, max_dim=256, decode_fn=media_decode).first()
    assert (r.width, r.height) == (1024, 256)
    assert (r.out_width, r.out_height) == (256, 64)


def test_bmp_decode_variants_and_rejects():
    from gcpdatapipelines_spark.operators.multimodal import bmp_decode

    assert bmp_decode(_real_bmp(7, 3)) == {
        "width": 7,
        "height": 3,
        "duration_s": None,
    }
    # top-down BMP stores negative height; dimensions are the same
    import struct

    b = bytearray(_real_bmp(5, 4))
    struct.pack_into("<i", b, 22, -4)
    assert bmp_decode(bytes(b))["height"] == 4
    assert bmp_decode(b"BM") is None
    assert bmp_decode(b"\x89PNG13213213132132131321") is None
    assert bmp_decode(None) is None


def test_wav_decode_exact_duration_and_rejects():
    from gcpdatapipelines_spark.operators.multimodal import wav_decode

    w = wav_decode(_real_wav(1.25, rate=16000))
    assert w["duration_s"] == 1.25
    assert wav_decode(b"RIFFxxxxNOPE" + b"\x00" * 40) is None
    assert wav_decode(b"") is None
