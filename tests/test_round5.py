"""Round-5 pins: the four ADVICE r4 fixes.

1. streaming-ANN latest-wins is GLOBAL — a re-ingested vector whose new
   embedding hashes into different bands retires its old signature rows
   even though the new rows live outside the probed partitions;
2. compaction publishes atomically via versioned store dirs + one
   os.replace state flip;
3. non-WAVE RIFF containers (WEBP/AVI) raise NotImplementedError naming
   the form type instead of a misleading ValueError;
4. truncated/garbage JPEG streams always fail with ValueError (never a
   bare IndexError / struct.error escape).
"""

import os
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from searchengine_spark.pipeline.jpeg import (
    jpeg_decode,
    jpeg_dimensions,
    jpeg_encode,
)
from searchengine_spark.pipeline.multimodal import wav_decode
from searchengine_spark.pipeline.similarity import (
    ann_query_lsh,
    resolve_lsh_store_dir,
)
from searchengine_spark.streaming.ann import StreamingAnnIndexer

SF_DIR = "/root/testdata/sf0.001"
DIM = 64


@pytest.fixture(scope="module")
def vectors(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").filter(
        F.col("vec_id") != 0
    ).select("vec_id", "embedding")


@pytest.fixture(scope="module")
def query_vec(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    return emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]


# ---------------------------------------------------------------------------
# 1. cross-band re-ingest staleness (ADVICE r4 medium)
# ---------------------------------------------------------------------------


def test_reingest_across_bands_retires_stale_signature(
    spark, vectors, query_vec, tmp_path_factory
):
    """Re-ingest the current top hit with the NEGATED query vector: its
    signature becomes the bitwise complement (every band value changes),
    so the new segment rows land entirely OUTSIDE the query's probed
    partitions while the old batch-0 rows are still inside. Pre-fix,
    max_by saw only the old rows and the stale vector kept ranking; the
    fix must drop it both before and after compaction."""
    d = str(tmp_path_factory.mktemp("ann") / "crossband")
    idx = StreamingAnnIndexer(spark, d, dim=DIM)
    idx.process_batch(vectors, 0)
    top = idx.query(query_vec, k=1).collect()[0]
    victim = top["vec_id"]

    neg = [-float(x) for x in query_vec]
    moved = vectors.filter(F.col("vec_id") == victim).select(
        "vec_id", F.lit(neg).alias("embedding")
    )
    idx.process_batch(moved, 1)

    # pre-compaction probe: the victim's ONLY live version is the
    # negated vector (complement signature, Hamming distance 16 from the
    # query's — far beyond the bands-1 radius), so it must be gone
    pre_ids = {r["vec_id"] for r in idx.query(query_vec, k=50).collect()}
    assert victim not in pre_ids

    # ...and compaction must agree (compact folds per-(id, band) latest)
    idx.compact()
    post_ids = {r["vec_id"] for r in idx.query(query_vec, k=50).collect()}
    assert post_ids == pre_ids

    # probing with the NEGATED vector must find it at cosine 1.0
    back = idx.query(neg, k=1).collect()[0]
    assert back["vec_id"] == victim
    assert back["cosine"] == pytest.approx(1.0, abs=1e-6)


# ---------------------------------------------------------------------------
# 2. atomic versioned compaction publish (ADVICE r4 low)
# ---------------------------------------------------------------------------


def test_compaction_publishes_versioned_store_atomically(
    spark, vectors, query_vec, tmp_path_factory
):
    d = str(tmp_path_factory.mktemp("ann") / "versioned")
    idx = StreamingAnnIndexer(spark, d, dim=DIM)
    chunks = [vectors.filter(F.col("vec_id") % 2 == i) for i in range(2)]
    idx.process_batch(chunks[0], 0)
    assert idx.compact() == 1
    s1 = idx._load_state()
    assert s1["store_version"] == 1
    assert os.path.isdir(os.path.join(d, "vectors_v1"))
    assert resolve_lsh_store_dir(d).endswith("vectors_v1")

    idx.process_batch(chunks[1], 1)
    assert idx.compact() == 1
    s2 = idx._load_state()
    assert s2["store_version"] == 2
    assert os.path.isdir(os.path.join(d, "vectors_v2"))
    # the previous version was retired best-effort
    assert not os.path.exists(os.path.join(d, "vectors_v1"))

    # the BATCH probe resolves the versioned store through the pointer
    got = ann_query_lsh(spark, d, query_vec, k=10).collect()
    want = idx.query(query_vec, k=10).collect()
    assert [(r["vec_id"], r["cosine"]) for r in got] == [
        (r["vec_id"], r["cosine"]) for r in want
    ]

    # leftover segment dirs from a crashed cleanup are IGNORED: they are
    # not in the pending list, so re-creating one changes nothing
    stale_seg = os.path.join(d, "segments", "batch_id=0", "band=0")
    os.makedirs(stale_seg, exist_ok=True)
    state = idx._load_state()
    assert state["pending_batches"] == []
    again = idx.query(query_vec, k=10).collect()
    assert [(r["vec_id"], r["cosine"]) for r in again] == [
        (r["vec_id"], r["cosine"]) for r in want
    ]


def test_legacy_crash_window_recovery(spark, vectors, tmp_path_factory):
    """Pre-versioned layout crash shape: 'vectors' renamed away to
    'vectors_old' but the new dir never landed. A fresh indexer must
    restore the backup."""
    d = str(tmp_path_factory.mktemp("ann") / "legacy")
    idx = StreamingAnnIndexer(spark, d, dim=DIM)
    idx.process_batch(vectors, 0)
    # simulate a legacy (version-0) store caught mid-rename
    state = idx._load_state()
    state["store_version"] = 0
    idx._save_state(state)
    os.makedirs(os.path.join(d, "vectors_old"), exist_ok=True)
    with open(os.path.join(d, "vectors_old", "marker"), "w") as f:
        f.write("x")
    assert not os.path.exists(os.path.join(d, "vectors"))
    StreamingAnnIndexer(spark, d, dim=DIM)
    assert os.path.exists(os.path.join(d, "vectors", "marker"))


# ---------------------------------------------------------------------------
# 3. RIFF form-type dispatch (ADVICE r4 low)
# ---------------------------------------------------------------------------


def test_non_wave_riff_raises_named_notimplemented():
    webp = b"RIFF" + struct.pack("<I", 12) + b"WEBPVP8 " + b"\x00" * 4
    with pytest.raises(NotImplementedError, match="WEBP"):
        wav_decode(webp)
    avi = b"RIFF" + struct.pack("<I", 12) + b"AVI LIST" + b"\x00" * 4
    with pytest.raises(NotImplementedError, match="AVI"):
        wav_decode(avi)
    # non-RIFF still the plain ValueError
    with pytest.raises(ValueError, match="RIFF/WAVE"):
        wav_decode(b"\x00" * 16)


# ---------------------------------------------------------------------------
# 4. JPEG truncation contract (ADVICE r4 low)
# ---------------------------------------------------------------------------


def _sample_jpeg(restart: int = 0) -> bytes:
    rng = np.random.default_rng(7)
    img = rng.integers(0, 255, size=(24, 24, 3), dtype=np.uint8)
    return jpeg_encode(img, subsample=True, restart_interval=restart)


def _assert_clean_failure_contract(payload: bytes, cuts) -> None:
    """Every truncation point either raises ValueError (the decoder's
    declared contract) or — when the cut only removed trailing bytes the
    decoder never needed, e.g. the EOI marker — decodes to the intact
    image. Never IndexError / struct.error."""
    want = jpeg_decode(payload)
    for cut in cuts:
        try:
            got = jpeg_decode(payload[:cut])
        except ValueError:
            continue
        assert np.array_equal(got, want), f"cut={cut} decoded differently"


def test_truncated_jpeg_always_valueerror():
    payload = _sample_jpeg()
    assert jpeg_decode(payload).shape == (24, 24, 3)
    _assert_clean_failure_contract(payload, range(2, len(payload) - 1, 7))


def test_truncated_jpeg_with_restart_markers_valueerror():
    payload = _sample_jpeg(restart=1)
    assert jpeg_decode(payload).shape == (24, 24, 3)
    _assert_clean_failure_contract(
        payload, range(len(payload) - 40, len(payload) - 1)
    )


def test_jpeg_dimensions_eoi_and_truncation():
    # SOI + EOI only: EOI is standalone — must NOT be read as a
    # length-prefixed segment
    with pytest.raises(ValueError, match="missing SOF"):
        jpeg_dimensions(b"\xff\xd8\xff\xd9")
    # EOI followed by garbage bytes that would parse as a huge seglen
    with pytest.raises(ValueError, match="missing SOF"):
        jpeg_dimensions(b"\xff\xd8\xff\xd9\xff\xff\xff\xff")
    # SOF header cut mid-struct
    payload = _sample_jpeg()
    sof = payload.find(b"\xff\xc0")
    with pytest.raises(ValueError):
        jpeg_dimensions(payload[: sof + 6])
    # intact probe still fine
    assert jpeg_dimensions(payload) == (24, 24, 3)
