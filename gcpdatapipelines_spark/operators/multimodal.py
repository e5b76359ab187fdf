"""Multimodal-column plumbing (north-star extension).

Image/audio/video payloads are opaque ``binary`` columns with typed
metadata, processed by Arrow-batched Pandas iterators (mapInPandas) —
the one place Python belongs, because codec work is per-blob native
code, not relational. The Spark-side contract (schema, batch shape,
partition sizing) is real and tested; the codec call itself is stubbed
behind ``decode_fn`` because media libraries are not available in this
environment — swap ``fake_decode`` for a Pillow/ffmpeg call and
nothing else changes. That swap-in contract is PROVEN, not asserted:
``media_decode`` really decodes two actual file formats with pure
stdlib bit parsing (BMP dimensions, WAV duration — no external libs)
through the identical plumbing, with genuine files built and verified
in tests/test_multimodal.py; only formats requiring native codecs
(JPEG/MP4) fall back to the deterministic stand-in.

Scale design:
- blobs travel once: mapInPandas streams Arrow batches, so a 100 MB
  partition of blobs never materializes as Python row objects.
- ``repartition_for_blobs`` sizes partitions by cumulative payload
  bytes, not row count — media rows are wildly non-uniform and a
  row-count split would OOM executors on the fat tail.
- derived features (dims, duration, fingerprints) are plain columns
  afterwards: filter/join/agg on them is ordinary relational work.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ASSET_SCHEMA = (
    "asset_id BIGINT, kind STRING, payload BINARY, meta MAP<STRING, STRING>"
)

DECODED_SCHEMA = (
    "asset_id BIGINT, kind STRING, n_bytes INT, checksum STRING, "
    "width INT, height INT, duration_s DOUBLE"
)


def fake_decode(payload: bytes, kind: str) -> dict:
    """Deterministic stand-in for a real codec. Derives pseudo
    width/height/duration from the payload digest so tests are stable.
    Replace with Pillow / soundfile / ffmpeg in production."""
    if payload is None:
        return {"n_bytes": 0, "checksum": None, "width": None, "height": None, "duration_s": None}
    digest = hashlib.sha256(payload).hexdigest()
    w = int(digest[:4], 16) % 4096
    h = int(digest[4:8], 16) % 4096
    dur = (int(digest[8:12], 16) % 36000) / 100.0
    return {
        "n_bytes": len(payload),
        "checksum": digest[:16],
        "width": w if kind == "image" else None,
        "height": h if kind == "image" else None,
        "duration_s": dur if kind in ("audio", "video") else None,
    }


def bmp_decode(payload: bytes) -> dict | None:
    """REAL image codec for uncompressed BMP (BITMAPINFOHEADER,
    BI_RGB): pure stdlib ``struct`` parsing of an actual file format —
    no Pillow required. Returns None if the payload is not a BMP.

    Exists to PROVE the decode_fn swap-in contract rather than assert
    it: media libraries are absent from this environment, but a bit
    parser of a real format exercises the identical mapInPandas
    plumbing a Pillow call would (tests build genuine BMP bytes and
    check real dimensions flow through decode_assets/resize_stub)."""
    import struct

    if payload is None or len(payload) < 26 or payload[:2] != b"BM":
        return None
    # BITMAPFILEHEADER is 14 bytes; DIB header starts with its own size
    dib_size = struct.unpack_from("<I", payload, 14)[0]
    if dib_size >= 40:  # BITMAPINFOHEADER and successors: i32 w, i32 h
        w, h = struct.unpack_from("<ii", payload, 18)
        h = abs(h)  # negative height = top-down rows, same dimensions
    elif dib_size == 12:  # BITMAPCOREHEADER: u16 w, u16 h
        w, h = struct.unpack_from("<HH", payload, 18)
    else:
        return None
    if w <= 0 or h <= 0:  # corrupt header (i32 width can be negative)
        return None
    return {"width": int(w), "height": int(h), "duration_s": None}


def wav_decode(payload: bytes) -> dict | None:
    """REAL audio codec for RIFF/WAVE (PCM): walks the chunk list with
    pure stdlib ``struct``, reads the fmt chunk's rate/channels/width
    and the data chunk's byte length, and returns the exact duration.
    Returns None if the payload is not a WAV."""
    import struct

    if (
        payload is None
        or len(payload) < 44
        or payload[:4] != b"RIFF"
        or payload[8:12] != b"WAVE"
    ):
        return None
    pos, rate, block_align, data_bytes = 12, None, None, None
    while pos + 8 <= len(payload):
        cid, sz = payload[pos : pos + 4], struct.unpack_from("<I", payload, pos + 4)[0]
        if cid == b"fmt " and sz >= 16:
            if pos + 8 + 16 > len(payload):  # header fits, body truncated
                return None
            _, channels, rate, _, block_align, _ = struct.unpack_from(
                "<HHIIHH", payload, pos + 8
            )
        elif cid == b"data":
            # clamp to the actual payload: a truncated file's declared
            # chunk size would otherwise inflate the duration
            data_bytes = min(sz, max(len(payload) - (pos + 8), 0))
        pos += 8 + sz + (sz & 1)  # chunks are word-aligned
    if not rate or not block_align or data_bytes is None:
        return None
    return {
        "width": None,
        "height": None,
        "duration_s": data_bytes / (rate * block_align),
    }


def media_decode(payload: bytes, kind: str) -> dict:
    """Production-shaped decode_fn: sniffs the payload's magic bytes
    and runs the REAL parser for formats this environment can decode
    (BMP images, WAV audio — pure stdlib), falling back to the
    deterministic :func:`fake_decode` stand-in for everything else
    (JPEG/PNG/MP4 need the absent native libs). Same signature, same
    output schema — dropping this in for fake_decode changes nothing
    else, which is exactly the swap-in contract the stub claims."""
    if payload is not None:
        real = bmp_decode(payload) if payload[:2] == b"BM" else wav_decode(payload)
        if real is not None:
            digest = hashlib.sha256(payload).hexdigest()
            return {
                "n_bytes": len(payload),
                "checksum": digest[:16],
                **real,
            }
    return fake_decode(payload, kind)


def decode_assets(
    assets: DataFrame,
    decode_fn: Callable[[bytes, str], dict] = fake_decode,
) -> DataFrame:
    """Decode/feature-extract binary assets via Arrow-batched
    mapInPandas. One output row per asset; batches stream, nothing
    collects."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                decode_fn(p, k) for p, k in zip(pdf["payload"], pdf["kind"])
            ]
            out = pd.DataFrame(feats)
            out.insert(0, "asset_id", pdf["asset_id"].values)
            out.insert(1, "kind", pdf["kind"].values)
            yield out

    return assets.mapInPandas(run, schema=DECODED_SCHEMA)


def resize_stub(
    assets: DataFrame,
    max_dim: int = 256,
    decode_fn: Callable[[bytes, str], dict] = fake_decode,
) -> DataFrame:
    """Image-resize plumbing: computes target dimensions (aspect-
    preserving fit into max_dim x max_dim) for every image asset and
    emits the metadata row the real resampler would attach. The pixel
    work is the codec stub's job; schema, filtering, and the scaling
    arithmetic are the Spark-side contract under test."""
    decoded = decode_assets(assets, decode_fn).filter(F.col("kind") == "image")
    scale = F.least(
        F.lit(1.0),
        F.lit(max_dim) / F.greatest(F.col("width"), F.col("height"), F.lit(1)),
    )
    return decoded.select(
        "asset_id",
        "width",
        "height",
        F.greatest((F.col("width") * scale).cast("int"), F.lit(1)).alias("out_width"),
        F.greatest((F.col("height") * scale).cast("int"), F.lit(1)).alias("out_height"),
        F.round(scale, 6).alias("scale"),
    )


def frame_sample_stub(assets: DataFrame, every_s: float = 1.0) -> DataFrame:
    """Video frame-sampling plumbing: explodes each video asset into
    (asset_id, frame_idx, frame_ts_s) rows using the decoded duration.
    The actual frame extraction is the codec stub's job; the explode +
    schema + partitioning is the Spark-side work being exercised."""
    # an asset the codec could not size has no frames: drop NULL
    # durations rather than let greatest(NULL - 1, 0) skip the NULL and
    # fabricate a frame_idx=0 row for a payload-less video (the oracle
    # models NULL payloads as zero rows; the contracts must agree)
    decoded = decode_assets(assets).filter(
        (F.col("kind") == "video") & F.col("duration_s").isNotNull()
    )
    return decoded.select(
        "asset_id",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest((F.col("duration_s") / every_s).cast("int") - 1, F.lit(0)),
            )
        ).alias("frame_idx"),
    ).withColumn("frame_ts_s", F.col("frame_idx") * every_s)


def repartition_for_blobs(
    assets: DataFrame, target_partition_bytes: int = 128 * 1024 * 1024
) -> DataFrame:
    """Partition by cumulative payload size instead of row count:
    estimates total bytes from a size column and repartitions so each
    partition holds ~target bytes of media."""
    sized = assets.withColumn("__sz", F.octet_length("payload"))
    total = sized.agg(F.sum("__sz")).collect()[0][0] or 0
    n_parts = max(1, int(total / target_partition_bytes) + 1)
    return sized.repartition(n_parts).drop("__sz")


def text_to_fake_assets(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Fabricate a deterministic assets table from the documents
    fixture (no media files ship with the testdata): payload = utf-8
    bytes, kind cycles image/audio/video."""
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col(id_col) % 3 + 1).cast("int"),
    )
    return docs.select(
        F.col(id_col).alias("asset_id"),
        kind.alias("kind"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.create_map(F.lit("origin"), F.lit("documents")).alias("meta"),
    )


def phash_neardup_pairs_md5(
    sig: DataFrame,
    id_col: str = "asset_id",
    kind_col: str = "kind",
    max_hamming: int = 3,
) -> DataFrame:
    """(asset_a, asset_b, kind, hamming): near-duplicate media assets
    from engine-parity perceptual-hash signatures, banded WITHIN asset
    kind — image-to-image, audio-to-audio, never cross-modal (the real
    pHash/chromaprint contract: hashes of different modalities are not
    comparable even when numerically close).

    ``sig`` carries a two-word signature (``sig_hi``/``sig_lo``, 32
    positive bits each — the md5 family every oracle-backed sketch in
    this repo uses) plus ``kind``. No codec ships in this environment,
    so the catalog feeds a DETERMINISTIC STAND-IN (the content SimHash
    of the asset's source text); a real pHash/aHash column split into
    the same two words swaps in and nothing else changes. Hamming <= 3
    implies a near-exact word match (pigeonhole), so candidates come
    from equi-joins — never a pair scan. Banding is the SHARED
    pipeline (dedup.banded_two_word_pairs — the text SimHash detector
    is the other instantiation), with kind folded INTO the equi-join
    key: cross-kind rows never even land in the same shuffle bucket —
    at 100 TB that's a free ~3x candidate cut, not a post-filter.
    Verify is the exact ``bit_count(xor(hi)) + bit_count(xor(lo))``."""
    from .dedup import banded_two_word_pairs

    pairs = banded_two_word_pairs(
        sig, id_col, max_hamming=max_hamming, key_col=kind_col
    )
    return pairs.select(
        F.col("id_1").alias("asset_a"),
        F.col("id_2").alias("asset_b"),
        kind_col,
        "hamming",
    )
