"""Multimodal tests: REAL header decode (BMP/PNG/GIF/JPEG byte parsing)
golden-checked against independently-constructed files, encoder→parser
round trips, binary columns through mapInPandas, frame sampling shape."""

from __future__ import annotations

import struct
import zlib

from hadoop_mapreduce_spark.operators.multimodal import (
    decode_batches,
    frame_sample,
    make_bmp,
    make_gif,
    make_png,
    multimodal_decode,
    parse_image_header,
    with_binary_payload,
    with_image_payload,
)
from tests.conftest import SF_DIR

# The canonical 1x1 transparent GIF (a widely-published reference file,
# NOT produced by make_gif) — an independent golden input for the parser.
ONE_PX_GIF = (
    b"GIF89a\x01\x00\x01\x00\x80\x00\x00\x00\x00\x00\x00\x00\x00"
    b"\x21\xf9\x04\x01\x00\x00\x00\x00"
    b"\x2c\x00\x00\x00\x00\x01\x00\x01\x00\x00"
    b"\x02\x02\x44\x01\x00\x3b"
)


def test_parser_golden_gif_independent():
    assert parse_image_header(ONE_PX_GIF) == ("gif", 1, 1, 1)


def test_parser_golden_bmp_hand_packed():
    # hand-pack a BMP header independently of make_bmp
    blob = (b"BM" + struct.pack("<IHHI", 54 + 12, 0, 0, 54)
            + struct.pack("<IiiHHIIiiII", 40, 3, -2, 1, 24, 0, 12,
                          0, 0, 0, 0) + b"\x00" * 24)
    # negative height = top-down scan order; parser reports magnitude
    assert parse_image_header(blob) == ("bmp", 3, 2, 1)


def test_parser_golden_jpeg_sof_scan():
    # minimal JPEG: SOI, APP0 segment, SOF0 with h=7 w=9
    blob = (b"\xff\xd8"
            + b"\xff\xe0" + struct.pack(">H", 4) + b"JF"
            + b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
            + struct.pack(">HH", 7, 9) + b"\x01\x11\x00")
    assert parse_image_header(blob) == ("jpeg", 9, 7, 1)


def test_parser_rejects_unknown():
    assert parse_image_header(b"not an image at all") is None
    assert parse_image_header(b"") is None


def test_encoders_round_trip():
    assert parse_image_header(make_bmp(17, 5)) == ("bmp", 17, 5, 1)
    assert parse_image_header(make_png(64, 48)) == ("png", 64, 48, 1)
    assert parse_image_header(make_gif(9, 7, 4)) == ("gif", 9, 7, 4)


def test_png_is_structurally_valid():
    blob = make_png(10, 3)
    # verify chunk CRCs and that IDAT inflates to the exact raw size
    assert blob[:8] == b"\x89PNG\r\n\x1a\n"
    pos = 8
    seen = []
    while pos < len(blob):
        (length,) = struct.unpack_from(">I", blob, pos)
        tag = blob[pos + 4:pos + 8]
        data = blob[pos + 8:pos + 8 + length]
        (crc,) = struct.unpack_from(">I", blob, pos + 8 + length)
        assert crc == zlib.crc32(tag + data), tag
        seen.append(tag)
        if tag == b"IDAT":
            assert len(zlib.decompress(data)) == (10 + 1) * 3
        pos += 12 + length
    assert seen == [b"IHDR", b"IDAT", b"IEND"]


def test_bmp_size_field_matches_length():
    blob = make_bmp(5, 4)
    (size,) = struct.unpack_from("<I", blob, 2)
    assert size == len(blob)


def test_binary_payload_schema(spark):
    docs = spark.createDataFrame([(1, "hello world")], ["doc_id", "text"])
    blob = with_binary_payload(docs)
    assert dict(blob.dtypes)["blob"] == "binary"
    row = blob.collect()[0]
    assert bytes(row.blob) == b"hello world"
    assert row.meta.mime == "application/octet-stream"


def test_decode_real_formats_through_spark(spark):
    docs = spark.createDataFrame(
        [(0, "x" * 10), (1, "y" * 20), (2, "z" * 30)], ["doc_id", "text"])
    out = {r.doc_id: r for r in
           decode_batches(with_image_payload(docs)).collect()}
    assert (out[0].format, out[0].width, out[0].height) == ("bmp", 11, 11)
    assert (out[1].format, out[1].width, out[1].height) == ("png", 21, 21)
    assert (out[2].format, out[2].width, out[2].height, out[2].n_frames) == (
        "gif", 31, 31, 30 % 5 + 1)
    # n_bytes is the real file length, not the text length
    assert out[0].n_bytes == len(make_bmp(11, 11))


def test_decode_unknown_falls_back_to_stub(spark):
    docs = spark.createDataFrame([(7, "plain text")], ["doc_id", "text"])
    out = decode_batches(with_binary_payload(docs)).collect()[0]
    assert out.format == "unknown"
    n = len(b"plain text")
    assert (out.width, out.height, out.n_frames) == (
        n % 640 + 1, n % 480 + 1, n % 30 + 1)


def test_multimodal_decode_full_table(spark):
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    decoded = multimodal_decode(spark, SF_DIR)
    rows = decoded.collect()
    assert len(rows) == n_docs
    assert {r.format for r in rows} <= {"bmp", "png", "gif"}


def test_frame_sample_counts(spark):
    rows = frame_sample(spark, SF_DIR).collect()
    # frames are 1 (bmp/png) or 1-5 (gif) -> sampled every 2nd: 1-3
    assert all(1 <= r.n_sampled <= 3 for r in rows)


def test_wav_roundtrip_and_chunk_walk():
    """parse_wav_header must really parse bytes: roundtrip through
    make_wav, survive an extra chunk BEFORE fmt (wild files put LIST
    first), honor RIFF 2-byte alignment, and reject non-WAV."""
    import struct

    from hadoop_mapreduce_spark.operators.multimodal import (
        make_wav,
        parse_wav_header,
    )

    assert parse_wav_header(make_wav(16000, 1234)) == (16000, 1, 16, 1234)
    assert parse_wav_header(make_wav(44100, 7, channels=2, bits=8)) == \
        (44100, 2, 8, 7)
    # inject an odd-sized LIST chunk before fmt: the walker must skip
    # it (with pad byte) and still find fmt/data
    base = make_wav(8000, 50)
    odd = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
    wild = base[:12] + odd + base[12:]
    wild = wild[:4] + struct.pack("<I", len(wild) - 8) + wild[8:]
    assert parse_wav_header(wild) == (8000, 1, 16, 50)
    assert parse_wav_header(b"\x89PNG\r\n\x1a\nnot a wav") is None
    assert parse_wav_header(b"RIFF....WAVE") is None


def test_audio_meta_counts(spark):
    from hadoop_mapreduce_spark.operators.multimodal import audio_meta

    rows = audio_meta(spark, SF_DIR).collect()
    assert len(rows) == 500
    for r in rows[:20]:
        assert r.sample_rate in (8000, 16000, 44100)
        assert r.channels == 1 and r.bits == 16
        assert abs(r.duration_ms - r.n_samples * 1000.0 / r.sample_rate) < 0.01


def test_wav_data_before_fmt_and_truncated_fmt():
    """ADVICE r5: a data chunk PRECEDING fmt is legal RIFF and must
    still decode (n_samples derived after the walk once block_align is
    known); a truncated fmt chunk returns None, never struct.error."""
    import struct

    from hadoop_mapreduce_spark.operators.multimodal import (
        make_wav,
        parse_wav_header,
    )

    base = make_wav(22050, 99)          # RIFF | fmt | data
    fmt_chunk = base[12:12 + 8 + 16]
    data_chunk = base[12 + 8 + 16:]
    swapped = base[:12] + data_chunk + fmt_chunk
    swapped = swapped[:4] + struct.pack("<I", len(swapped) - 8) + swapped[8:]
    assert parse_wav_header(swapped) == (22050, 1, 16, 99)
    # fmt claims a 16-byte payload but the blob ends mid-header: the
    # walker must return None (caught struct.error), not raise. A LIST
    # filler pushes fmt far enough in that the 36-byte gate passes.
    filler = b"LIST" + struct.pack("<I", 12) + b"\x00" * 12
    trunc = base[:12] + filler + b"fmt " + struct.pack("<I", 16) + b"\x01\x00"
    trunc = trunc[:4] + struct.pack("<I", len(trunc) - 8) + trunc[8:]
    assert len(trunc) >= 36
    assert parse_wav_header(trunc) is None


# --------------------------------------------------------------------------
# dHash perceptual near-dup
# --------------------------------------------------------------------------

def _py_dhash_bands(s: str) -> list[int]:
    """Pure-Python reference for the stub dHash: 9x8 grid of sampled
    codepoints, gradient bits, four 16-bit little-endian band values."""
    length = len(s)
    g = [ord(s[(k * length) // 72]) % 256 for k in range(72)]
    bands = [0, 0, 0, 0]
    for n in range(64):
        r, c = n // 8, n % 8
        if g[r * 9 + c + 1] > g[r * 9 + c]:
            bands[n // 16] |= 1 << (n % 16)
    return bands


def _write_docs(tmp_path, texts):
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table({
        "doc_id": pa.array(range(1, len(texts) + 1), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * len(texts), pa.string()),
        "source": pa.array(["crafted"] * len(texts), pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def test_dhash_band_values_match_python_reference(spark, tmp_path):
    from hadoop_mapreduce_spark.operators.multimodal import image_dhash_neardup

    texts = ["the quick brown fox jumps over the lazy dog " * 5,
             "pack my box with five dozen liquor jugs " * 4]
    sf = _write_docs(tmp_path, texts)
    # reach into the persisted hash relation via a tiny re-derivation:
    # two identical docs -> hamming 0 pair; assert against the pure-
    # Python bands by checking the pair verify arithmetic end to end.
    out = image_dhash_neardup(spark, sf, max_hamming=3).collect()
    assert out == []  # unrelated pangrams: far apart in hash space
    b0, b1 = _py_dhash_bands(texts[0]), _py_dhash_bands(texts[1])
    ham = sum(bin(x ^ y).count("1") for x, y in zip(b0, b1))
    assert ham > 3  # python reference agrees there is no pair


def test_dhash_finds_exact_and_near_copies(spark, tmp_path):
    from hadoop_mapreduce_spark.operators.multimodal import image_dhash_neardup

    base = ("a photograph of a mountain lake at dawn with mist over "
            "the water and pine trees on the far shore reflected ") * 3
    # same length, one substitution at an UNSAMPLED position: indices
    # sampled are (k*len)//72, so pick a position not in that set.
    length = len(base)
    sampled = {(k * length) // 72 for k in range(72)}
    pos = next(i for i in range(length) if i not in sampled)
    near = base[:pos] + ("X" if base[pos] != "X" else "Y") + base[pos + 1:]
    texts = [base, base, near, "completely different content " * 12]
    sf = _write_docs(tmp_path, texts)
    rows = {(r.doc_a, r.doc_b): r.hamming
            for r in image_dhash_neardup(spark, sf, max_hamming=3).collect()}
    # docs 1,2 identical and 3 differs only at an unsampled position:
    # all three pair at hamming 0; doc 4 pairs with nothing.
    assert rows == {(1, 2): 0, (1, 3): 0, (2, 3): 0}


def test_dhash_rejects_unbandable_threshold(spark):
    import pytest as _pytest

    from hadoop_mapreduce_spark.operators.multimodal import image_dhash_neardup

    with _pytest.raises(ValueError):
        image_dhash_neardup(spark, "/root/testdata/sf0.001", max_hamming=4)


def test_mp4_roundtrip_and_box_walk():
    """parse_mp4_meta must really walk boxes: roundtrip through
    make_mp4, survive an unknown box injected before moov (wild files
    carry free/skip boxes), detect multi-track counts, decode the
    16.16 fixed-point tkhd dimensions, and reject non-MP4 / truncated
    payloads instead of raising."""
    import struct

    from hadoop_mapreduce_spark.operators.multimodal import (
        make_mp4,
        parse_mp4_meta,
    )

    assert parse_mp4_meta(make_mp4(600, 12345, 1, 64, 48)) == \
        (600, 12345, 1, 64, 48)
    assert parse_mp4_meta(make_mp4(90000, 7, 2, 16, 80)) == \
        (90000, 7, 2, 16, 80)
    # unknown 'free' box between ftyp and moov: the walker skips it
    base = make_mp4(1000, 42, 1, 32, 32)
    ftyp_size = struct.unpack_from(">I", base, 0)[0]
    free = struct.pack(">I", 8 + 3) + b"free" + b"xyz"
    wild = base[:ftyp_size] + free + base[ftyp_size:]
    assert parse_mp4_meta(wild) == (1000, 42, 1, 32, 32)
    # non-MP4, empty, and truncated-mid-box payloads return None
    assert parse_mp4_meta(b"RIFF....WAVE") is None
    assert parse_mp4_meta(b"") is None
    assert parse_mp4_meta(base[: ftyp_size + 10]) is None


def test_video_meta_counts(spark):
    from hadoop_mapreduce_spark.operators.multimodal import video_meta

    rows = video_meta(spark, SF_DIR).collect()
    assert len(rows) == 500
    for r in rows[:20]:
        assert r.timescale in (600, 1000, 90000)
        assert r.n_tracks in (1, 2)
        assert r.width % 16 == 0 and r.height % 16 == 0
        assert r.duration_ms == r.duration * 1000 // r.timescale
