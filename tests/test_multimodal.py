"""Multimodal: REAL PNG decode (pure zlib+numpy codec) round-trips, all
five scanline filters, Spark-side feature extraction and thumbnails, and
the declared-stub behavior for non-PNG payloads."""

import struct
import zlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from searchengine_spark.pipeline import multimodal as MM


def _rand_img(h, w, c, seed):
    rng = np.random.default_rng(seed)
    a = rng.integers(0, 256, size=(h, w, c), dtype=np.uint8)
    return a[:, :, 0] if c == 1 else a


@pytest.mark.parametrize("c", [1, 2, 3, 4])
def test_png_roundtrip(c):
    img = _rand_img(13, 7, c, seed=c)
    out = MM.png_decode(MM.png_encode(img))
    want = img[:, :, None] if img.ndim == 2 else img
    assert out.shape == want.shape
    assert np.array_equal(out, want)


def _forward_filter(img: np.ndarray, ftype: int) -> bytes:
    """Apply a PNG forward filter (spec §6) to every scanline — produces
    input our decoder must invert."""
    h, w, c = img.shape
    stride = w * c
    flat = img.reshape(h, stride).astype(np.int32)
    out = b""
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        cur = flat[y]
        line = np.zeros(stride, dtype=np.int32)
        for x in range(stride):
            left = cur[x - c] if x >= c else 0
            up = prev[x]
            ul = prev[x - c] if x >= c else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = left
            elif ftype == 2:
                pred = up
            elif ftype == 3:
                pred = (left + up) // 2
            else:  # Paeth
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if (pa <= pb and pa <= pc) else (up if pb <= pc else ul)
            line[x] = (cur[x] - pred) & 0xFF
        out += bytes([ftype]) + bytes(line.astype(np.uint8))
        prev = cur
    return out


@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
def test_png_all_filter_types_decode(ftype):
    img = _rand_img(9, 5, 3, seed=100 + ftype)
    raw = _forward_filter(img, ftype)

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    payload = (
        MM.PNG_MAGIC
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 5, 9, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    assert np.array_equal(MM.png_decode(payload), img)


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=30, deadline=None)
@given(
    h=st.integers(1, 24),
    w=st.integers(1, 24),
    c=st.integers(1, 4),
    seed=st.integers(0, 2**31),
)
def test_png_roundtrip_property(h, w, c, seed):
    img = _rand_img(h, w, c, seed)
    out = MM.png_decode(MM.png_encode(img))
    want = img[:, :, None] if img.ndim == 2 else img
    assert np.array_equal(out, want)


def test_png_decode_rejects_non_png():
    with pytest.raises(ValueError, match="not a PNG"):
        MM.png_decode(b"plainly not an image")


def test_image_features_values():
    img = np.zeros((4, 8, 3), dtype=np.uint8)
    img[:, :, 0] = 200  # red plane
    f = MM.image_features(img, dim=8)
    assert f.tolist() == pytest.approx(
        [8.0, 4.0, 3.0, 200 / 3, np.std([200, 0, 0] * 32), 200.0, 0.0, 0.0],
        rel=1e-6,
    )


def test_extract_features_real_decode(spark):
    imgs = {i: _rand_img(6 + i, 5, 3, seed=i) for i in range(3)}
    rows = [(i, "image", bytearray(MM.png_encode(a))) for i, a in imgs.items()]
    df = spark.createDataFrame(
        rows, "doc_id long, media_type string, payload binary"
    )
    got = {
        r["doc_id"]: r["feature"]
        for r in MM.extract_features(df, dim=8, fake=False).collect()
    }
    for i, a in imgs.items():
        assert got[i] == pytest.approx(
            MM.image_features(a[:, :, None] if a.ndim == 2 else a, 8).tolist(),
            rel=1e-6,
        )


def test_extract_features_unrecognized_payload_raises(spark):
    # PNG/JPEG/WAV decode for real since round 4; anything else is the
    # remaining declared stub
    df = spark.createDataFrame(
        [(1, "video", bytearray(b"\x00\x01\x02mp4-ish bytes"))],
        "doc_id long, media_type string, payload binary",
    )
    with pytest.raises(Exception, match="unrecognized image payload"):
        MM.extract_features(df, fake=False).collect()


def test_wav_roundtrip_and_features():
    t = np.arange(16_000) / 16_000.0
    tone = np.stack(
        [np.sin(2 * np.pi * 440 * t), 0.5 * np.sin(2 * np.pi * 220 * t)],
        axis=1,
    )
    for bits in (8, 16, 32):
        buf = MM.wav_encode(tone, sample_rate=16_000, bits=bits)
        out, rate = MM.wav_decode(buf)
        assert rate == 16_000 and out.shape == tone.shape
        tol = {8: 2e-2, 16: 1e-4, 32: 1e-8}[bits]
        assert np.abs(out - tone).max() < tol
    f = MM.audio_features(*MM.wav_decode(MM.wav_encode(tone)), dim=8)
    assert f[0] == pytest.approx(1.0)          # duration sec
    assert f[1] == 16_000.0 and f[2] == 2.0    # rate, channels
    assert 0.35 < f[3] < 0.45                  # rms of the mono mixdown


def test_wav_compressed_format_rejected():
    # format tag 2 = MS ADPCM: must raise, not mis-decode
    buf = bytearray(MM.wav_encode(np.zeros(64), bits=16))
    i = buf.find(b"fmt ")
    buf[i + 8] = 2  # audio_fmt LE low byte
    with pytest.raises(NotImplementedError, match="format tag 2"):
        MM.wav_decode(bytes(buf))


def _wav_float32(samples: np.ndarray, rate: int) -> bytes:
    """An IEEE-float-32 RIFF/WAVE payload (format tag 3)."""
    a = np.asarray(samples, dtype="<f4")
    a = a[:, None] if a.ndim == 1 else a
    block = a.shape[1] * 4
    fmt = struct.pack("<HHIIHH", 3, a.shape[1], rate, rate * block, block, 32)
    data = a.tobytes()
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


@pytest.mark.parametrize("channels", [1, 2])
@pytest.mark.parametrize("kind", ["int8", "int16", "int32", "float32"])
def test_wav_duration_from_headers_equals_decoded(kind, channels, monkeypatch):
    """container_metadata's WAV duration comes from the fmt and data
    chunk headers, and equals the duration of the decoded samples."""
    payloads = []
    for n, rate in ((16_000, 16_000), (12_345, 8_000), (1, 44_100), (0, 22_050)):
        tone = np.sin(np.arange(n * channels) / 7.0).reshape(n, channels)
        if kind == "float32":
            payloads.append((_wav_float32(tone, rate), rate))
        else:
            bits = int(kind[3:])
            payloads.append((MM.wav_encode(tone, sample_rate=rate, bits=bits), rate))
    want = [round(MM.wav_decode(p)[0].shape[0] / rate, 6) for p, rate in payloads]

    def no_decode(payload):
        raise AssertionError("metadata decoded the samples")

    monkeypatch.setattr(MM, "wav_decode", no_decode)
    got = [MM.container_metadata(p) for p, _ in payloads]
    assert got == [(None, None, "wav", "pcm", w) for w in want]


def test_wav_compressed_format_has_duration():
    """A compressed WAV (format tag 2, MS ADPCM) does not decode, but
    its duration is the data size over the fmt chunk's byte rate."""
    buf = bytearray(MM.wav_encode(np.zeros(8_000), sample_rate=16_000, bits=16))
    i = buf.find(b"fmt ")
    struct.pack_into("<HHIIHH", buf, i + 8, 2, 1, 16_000, 4_000, 256, 4)
    assert MM.container_metadata(bytes(buf)) == (
        None, None, "wav", "wav-0x0002", 4.0
    )


def test_extract_features_real_wav(spark):
    t = np.arange(8000) / 8000.0
    buf = MM.wav_encode(np.sin(2 * np.pi * 100 * t), sample_rate=8000)
    df = spark.createDataFrame(
        [(7, "audio", bytearray(buf))],
        "doc_id long, media_type string, payload binary",
    )
    f = MM.extract_features(df, dim=8, fake=False).collect()[0]["feature"]
    assert f[0] == pytest.approx(1.0) and f[1] == 8000.0 and f[2] == 1.0


def test_image_thumbnails(spark):
    img = _rand_img(32, 24, 3, seed=7)
    df = spark.createDataFrame(
        [(1, "image", bytearray(MM.png_encode(img)))],
        "doc_id long, media_type string, payload binary",
    )
    row = MM.image_thumbnails(df, out_h=8, out_w=8).collect()[0]
    assert (row["width"], row["height"]) == (24, 32)
    thumb = MM.png_decode(bytes(row["thumb_png"]))
    assert thumb.shape == (8, 8, 3)
    assert np.array_equal(thumb, MM.resize_nearest(img, 8, 8))


def test_frame_sample_slices(spark):
    payload = bytes(range(256)) * 20  # 5120 bytes
    df = spark.createDataFrame(
        [(1, "video", bytearray(payload))],
        "doc_id long, media_type string, payload binary",
    )
    rows = sorted(
        MM.frame_sample(df, every_n_bytes=1024, max_frames=3).collect(),
        key=lambda r: r["frame_id"],
    )
    assert [r["frame_id"] for r in rows] == [0, 1, 2]
    for i, r in enumerate(rows):
        assert bytes(r["frame_bytes"]) == payload[i * 1024 : (i + 1) * 1024]


def test_attach_media_metadata(spark):
    df = spark.createDataFrame(
        [(1, "image", bytearray(b"abc"))],
        "doc_id long, media_type string, payload binary",
    )
    r = MM.attach_media_metadata(df).collect()[0]
    assert r["n_bytes"] == 3
    import hashlib

    assert r["payload_sha"] == hashlib.sha256(b"abc").hexdigest()


def test_fake_decoder_still_deterministic(spark):
    df = spark.createDataFrame(
        [(1, "image", bytearray(b"same")), (2, "image", bytearray(b"same"))],
        "doc_id long, media_type string, payload binary",
    )
    feats = [r["feature"] for r in MM.extract_features(df, fake=True).collect()]
    assert feats[0] == feats[1]


# ---------------------------------------------------------------------------
# MP4 / MP3 container metadata probes (round 5)
# ---------------------------------------------------------------------------


def test_mp4_metadata_roundtrip():
    payload = MM.mp4_encode_minimal(640, 360, 12.5, codec=b"avc1")
    m = MM.mp4_metadata(payload)
    assert m["format"] == "mp4"
    assert m["brand"] == "isom"
    assert (m["width"], m["height"]) == (640, 360)
    assert m["codec"] == "avc1"
    assert m["duration_sec"] == pytest.approx(12.5)


def test_mp4_metadata_audio_only_track():
    # zero width/height (audio track): dimensions stay None, codec parsed
    m = MM.mp4_metadata(MM.mp4_encode_minimal(0, 0, 3.0, codec=b"mp4a"))
    assert m["width"] is None and m["height"] is None
    assert m["codec"] == "mp4a" and m["duration_sec"] == pytest.approx(3.0)


def test_mp4_metadata_errors():
    with pytest.raises(ValueError, match="not an ISO BMFF"):
        MM.mp4_metadata(b"\x00" * 32)
    good = MM.mp4_encode_minimal(64, 64, 1.0)
    with pytest.raises(ValueError, match="truncated MP4"):
        MM.mp4_metadata(good[: len(good) // 2])
    # ftyp present but no moov
    ftyp_only = good[:24]
    (sz,) = struct.unpack(">I", ftyp_only[:4])
    with pytest.raises(ValueError):
        MM.mp4_metadata(good[:sz])


def _mp4_box(tag: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + tag + body


_FTYP = _mp4_box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isomiso2")


@pytest.mark.parametrize(
    "moov_body",
    [
        _mp4_box(b"mvhd", b""),  # empty body at the payload's end
        _mp4_box(b"mvhd", b"\x00" * 10),  # v0 cut before duration
        _mp4_box(b"mvhd", b"\x01" + b"\x00" * 19),  # v1 cut before duration
        _mp4_box(b"trak", _mp4_box(b"tkhd", b"\x00" * 4)),  # tkhd cut short
        _mp4_box(b"trak", _mp4_box(b"tkhd", b"\x01" + b"\x00" * 83)),  # v1 cut
    ],
    ids=["mvhd-empty", "mvhd-v0-short", "mvhd-v1-short", "tkhd-short", "tkhd-v1-short"],
)
def test_mp4_metadata_truncated_box_raises_value_error(moov_body):
    """A box whose declared size fits the payload but whose body is
    shorter than its fixed fields raises ValueError, never a bare
    struct.error / IndexError."""
    with pytest.raises(ValueError, match="truncated MP4"):
        MM.mp4_metadata(_FTYP + _mp4_box(b"moov", moov_body))


@pytest.mark.parametrize(
    "payload",
    [
        b"",
        b"ID3\x03\x00\x00\x00\x00\x00\x7f",  # tag size runs past the end
        b"\xff\xfb",  # frame header cut mid-way
        b"\xff\xfb\x90",
        b"\xff\xfb\x90\x00",  # lone header: no complete frame
        MM.mp3_encode_minimal(n_frames=1, id3=True)[:-1],
    ],
)
def test_mp3_metadata_truncated_payload_raises_value_error(payload):
    with pytest.raises(ValueError):
        MM.mp3_metadata(payload)


@pytest.mark.parametrize("id3", [False, True])
@pytest.mark.parametrize("channels", [1, 2])
def test_mp3_metadata_roundtrip(id3, channels):
    payload = MM.mp3_encode_minimal(
        n_frames=10, bitrate_kbps=128, sample_rate=44100,
        channels=channels, id3=id3,
    )
    m = MM.mp3_metadata(payload)
    assert m["format"] == "mp3"
    assert m["sample_rate"] == 44100
    assert m["bitrate_kbps"] == 128
    assert m["channels"] == channels
    assert m["n_frames"] == 10
    assert m["duration_sec"] == pytest.approx(10 * 1152 / 44100, abs=1e-6)


def test_mp3_metadata_truncated_final_frame():
    payload = MM.mp3_encode_minimal(n_frames=5)
    m = MM.mp3_metadata(payload[:-10])  # cut into the last frame
    assert m["n_frames"] == 4


def test_mp3_metadata_errors():
    with pytest.raises(ValueError, match="no frame sync"):
        MM.mp3_metadata(b"\x00" * 64)
    with pytest.raises(ValueError, match="truncated ID3v2"):
        MM.mp3_metadata(b"ID3\x03\x00")


def test_container_metadata_dispatch():
    png = MM.png_encode(_rand_img(4, 6, 3, seed=9))
    assert MM.container_metadata(png) == (6, 4, "png", "png", None)
    wav = MM.wav_encode(np.zeros(16_000), sample_rate=16_000)
    assert MM.container_metadata(wav) == (None, None, "wav", "pcm", 1.0)
    mp4 = MM.mp4_encode_minimal(320, 240, 2.0, codec=b"hvc1")
    assert MM.container_metadata(mp4) == (320, 240, "mp4", "hvc1", 2.0)
    mp3 = MM.mp3_encode_minimal(n_frames=25, sample_rate=44100)
    w, h, fmt, codec, dur = MM.container_metadata(mp3)
    assert (w, h, fmt, codec) == (None, None, "mp3", "mp3")
    assert dur == pytest.approx(25 * 1152 / 44100, abs=1e-6)
    assert MM.container_metadata(b"garbage") == (
        None, None, None, None, None
    )


def test_attach_media_metadata_mixed_containers(spark):
    rows = [
        (1, bytearray(MM.png_encode(_rand_img(4, 6, 3, seed=1)))),
        (2, bytearray(MM.mp4_encode_minimal(320, 240, 2.0))),
        (3, bytearray(MM.mp3_encode_minimal(n_frames=10))),
        (4, bytearray(MM.wav_encode(np.zeros(8000), sample_rate=16_000))),
        (5, bytearray(b"not media")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {
        r["doc_id"]: (
            r["width"], r["height"], r["format"], r["codec"],
            r["duration_sec"],
        )
        for r in MM.attach_media_metadata(df, dimensions=True).collect()
    }
    assert got[1] == (6, 4, "png", "png", None)
    assert got[2] == (320, 240, "mp4", "avc1", 2.0)
    assert got[3][2:4] == ("mp3", "mp3")
    assert got[4] == (None, None, "wav", "pcm", 0.5)
    assert got[5] == (None, None, None, None, None)
