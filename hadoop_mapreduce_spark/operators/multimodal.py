"""Multimodal column plumbing (SURVEY.md §2.EXT: image/audio/video as
opaque binary columns + typed metadata).

The DECODE step is REAL: `parse_image_header` is a dependency-free
byte-level parser for BMP / PNG / GIF (including a GIF block walk that
counts animation frames) and JPEG SOF dimensions — no codec library
needed, headers are pure byte slicing. The fixture has no media files,
so `with_image_payload` SYNTHESISES genuinely valid image blobs
(stdlib struct+zlib only: 24-bit BMPs, zlib-deflated PNGs with real
CRCs, multi-frame GIF89a with a hand-rolled minimal LZW stream) whose
dimensions derive deterministically from each document — the decode
queries therefore exercise a real encode→parse round trip, verified
bit-for-bit by the SQL oracle computing the same expected metadata
directly. Unknown formats fall back to `_decode_stub` (clearly marked;
full pixel decode for formats beyond headers is where PIL/ffmpeg slot
in on a real cluster).

Scale notes: binary payloads dominate row width, so
``spark.sql.files.maxPartitionBytes`` should be sized for ~1k rows per
task at 100 TB (e.g. 128 MB partitions / ~100 KB blobs); mapInPandas
streams Arrow batches so peak memory is one batch, not one partition.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_mapreduce_spark.sources.tables import load_table

DECODED_SCHEMA = (
    "doc_id long, format string, n_bytes long, "
    "width long, height long, n_frames long"
)


def with_binary_payload(docs: DataFrame) -> DataFrame:
    """Attach an opaque binary column + typed metadata, modelling a blob
    table whose payload bytes are opaque to the engine (the shape of an
    audio/tensor column). Blob = utf-8 text bytes — the *plumbing*
    (binary type through scan, shuffle, UDF) is identical for real
    payloads, and the byte length stays SQL-checkable for the
    feature-extraction oracle."""
    return docs.select(
        "doc_id",
        F.encode(F.col("text"), "utf-8").alias("blob"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.length("text").alias("orig_len"),
        ).alias("meta"),
    )


# --------------------------------------------------------------------------
# Real image encoders (stdlib-only) — fixture blobs for the decode path
# --------------------------------------------------------------------------

def make_bmp(w: int, h: int) -> bytes:
    """Valid 24-bit uncompressed BMP (BITMAPINFOHEADER), black pixels."""
    stride = (3 * w + 3) // 4 * 4
    size = 54 + stride * h
    return (
        b"BM" + struct.pack("<IHHI", size, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h,
                      2835, 2835, 0, 0)
        + b"\x00" * (stride * h)
    )


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    return (struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data)))


def make_png(w: int, h: int) -> bytes:
    """Valid 8-bit grayscale PNG (real zlib IDAT, real CRCs), black."""
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    raw = (b"\x00" + b"\x00" * w) * h  # filter byte 0 + one row, per row
    return (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(raw))
            + _png_chunk(b"IEND", b""))


def _gif_lzw_zeros(n_pixels: int) -> bytes:
    """Minimal valid GIF LZW stream for n_pixels of color index 0 at
    minimum code size 2: emit (clear, literal-0) per pixel then end —
    the clear before every literal keeps the code table at its initial
    size so every code is exactly 3 bits, LSB-packed (no dictionary
    bookkeeping needed; any conformant decoder accepts repeated clears).
    """
    out = bytearray()
    acc = nb = 0

    def emit(code: int) -> None:
        nonlocal acc, nb
        acc |= code << nb
        nb += 3
        while nb >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nb -= 8

    for _ in range(n_pixels):
        emit(4)  # clear
        emit(0)  # literal: color index 0
    emit(5)  # end of information
    if nb:
        out.append(acc & 0xFF)
    return bytes(out)


def make_gif(w: int, h: int, frames: int) -> bytes:
    """Valid GIF89a with `frames` full-size image descriptors (the
    multi-frame/animation case the frame-sampling operator consumes),
    4-entry global color table, real LZW-coded pixel data."""
    hdr = b"GIF89a" + struct.pack("<HHBBB", w, h, 0x91, 0, 0)
    gct = bytes(12)  # 4 colors x RGB
    lzw = _gif_lzw_zeros(w * h)
    blocks = b"".join(
        bytes([len(lzw[i:i + 255])]) + lzw[i:i + 255]
        for i in range(0, len(lzw), 255)
    )
    img = (struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0)
           + bytes([2]) + blocks + b"\x00")
    return hdr + gct + img * frames + b"\x3B"


def with_image_payload(docs: DataFrame) -> DataFrame:
    """(doc_id, blob) with a genuinely valid image file per document:
    format cycles bmp/png/gif by doc_id % 3; dimensions and GIF frame
    count derive deterministically from the utf-8 byte length of the
    text (w = n%64+1, h = n%48+1, gif frames = n%5+1) so the SQL oracle
    can compute the expected decode output without parsing bytes.
    Generation runs vectorised per Arrow batch — same mapInPandas shape
    a real pipeline uses to fetch/transcode blobs."""

    def generate(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                n = len(text.encode("utf-8"))
                w, h = n % 64 + 1, n % 48 + 1
                kind = doc_id % 3
                if kind == 0:
                    blobs.append(make_bmp(w, h))
                elif kind == 1:
                    blobs.append(make_png(w, h))
                else:
                    blobs.append(make_gif(w, h, n % 5 + 1))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "blob": blobs})

    return docs.select("doc_id", "text").mapInPandas(
        generate, "doc_id long, blob binary")


# --------------------------------------------------------------------------
# Real header parser (decode)
# --------------------------------------------------------------------------

def _skip_subblocks(blob: bytes, pos: int) -> int:
    """Skip a GIF data sub-block chain; returns position after the 0x00
    terminator."""
    while pos < len(blob):
        n = blob[pos]
        pos += 1 + n
        if n == 0:
            break
    return pos


_JPEG_SOF = frozenset(
    [0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
     0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF])


def parse_image_header(blob: bytes) -> tuple[str, int, int, int] | None:
    """REAL image metadata decode — pure byte parsing, no codec library.

    Returns (format, width, height, n_frames) for BMP / PNG / GIF
    (frames counted by walking the GIF block structure) / JPEG (SOF
    marker scan), or None for unrecognised payloads.
    """
    if blob[:2] == b"BM" and len(blob) >= 26:
        w, h = struct.unpack_from("<ii", blob, 18)
        return "bmp", w, abs(h), 1  # negative height = top-down rows
    if blob[:8] == b"\x89PNG\r\n\x1a\n" and len(blob) >= 24:
        w, h = struct.unpack_from(">II", blob, 16)
        return "png", w, h, 1
    if blob[:6] in (b"GIF87a", b"GIF89a") and len(blob) >= 13:
        w, h = struct.unpack_from("<HH", blob, 6)
        packed = blob[10]
        pos = 13
        if packed & 0x80:  # global color table: 3 * 2^(N+1) bytes
            pos += 3 * (2 << (packed & 0x07))
        frames = 0
        while pos < len(blob):
            b0 = blob[pos]
            if b0 == 0x3B:  # trailer
                break
            if b0 == 0x2C:  # image descriptor
                frames += 1
                lpacked = blob[pos + 9]
                pos += 10
                if lpacked & 0x80:  # local color table
                    pos += 3 * (2 << (lpacked & 0x07))
                pos += 1  # LZW minimum code size
                pos = _skip_subblocks(blob, pos)
            elif b0 == 0x21:  # extension: introducer + label + sub-blocks
                pos += 2
                pos = _skip_subblocks(blob, pos)
            else:
                break  # corrupt stream: report frames seen so far
        return "gif", w, h, frames
    if blob[:2] == b"\xff\xd8":  # JPEG SOI
        pos = 2
        while pos + 9 <= len(blob) and blob[pos] == 0xFF:
            marker = blob[pos + 1]
            if marker in _JPEG_SOF:
                h = int.from_bytes(blob[pos + 5:pos + 7], "big")
                w = int.from_bytes(blob[pos + 7:pos + 9], "big")
                return "jpeg", w, h, 1
            pos += 2 + int.from_bytes(blob[pos + 2:pos + 4], "big")
    return None


def _decode_stub(blob: bytes) -> tuple[int, int, int]:
    """STUB fallback for payloads parse_image_header does not recognise —
    deterministic fake dims so unknown-format rows keep flowing with a
    'unknown' tag instead of nulls/errors (replace with PIL/ffmpeg where
    codecs exist)."""
    n = len(blob)
    return (n % 640) + 1, (n % 480) + 1, (n % 30) + 1


def decode_batches(blobs: DataFrame) -> DataFrame:
    """mapInPandas decode: Arrow-batched iterator in, iterator out.

    This is the canonical multimodal pattern: per-batch metadata
    extraction with a Python parser, never per-row UDF calls. Known
    formats are REALLY parsed (parse_image_header); unknown payloads
    take the clearly-tagged stub path.
    """

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fmts, widths, heights, frames = [], [], [], []
            for b in pdf["blob"]:
                b = bytes(b)
                parsed = parse_image_header(b)
                if parsed is None:
                    w, h, f = _decode_stub(b)
                    parsed = ("unknown", w, h, f)
                fmts.append(parsed[0])
                widths.append(parsed[1])
                heights.append(parsed[2])
                frames.append(parsed[3])
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "format": fmts,
                    "n_bytes": pdf["blob"].map(len),
                    "width": widths,
                    "height": heights,
                    "n_frames": frames,
                }
            )

    return blobs.mapInPandas(decode, DECODED_SCHEMA)


def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query: real image blobs → REAL header decode.

    The blobs are valid BMP/PNG/GIF files synthesised from each document
    (with_image_payload); the output is what parse_image_header reads
    back out of the actual bytes, hash-checked against the oracle's
    direct computation of the same metadata — a full encode→decode
    round trip. (n_bytes is parser input, not output, and PNG/GIF byte
    lengths aren't SQL-computable — the registered query projects the
    decoded metadata.)
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        decode_batches(with_image_payload(docs))
        .select("doc_id", "format", "width", "height", "n_frames")
    )


def frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling pattern: keep every 2nd decoded frame index — the
    shape of video-frame extraction, driven by the REAL per-blob frame
    counts (GIFs in the fixture carry 1-5 frames). Decode emits one row
    per doc, so the kept indices are counted within the row: no
    shuffle."""
    frames = F.sequence(F.lit(0), F.col("n_frames") - 1)
    kept = F.size(F.filter(frames, lambda i: i % 2 == 0))
    return multimodal_decode(spark, sf_dir).select(
        "doc_id",
        # coalesce keeps n_sampled non-nullable (n_frames is never NULL)
        F.coalesce(kept, F.lit(0)).cast("long").alias("n_sampled"),
    )


def _resize_dims(w: int, h: int, max_side: int) -> tuple[int, int]:
    """Aspect-preserving clamp of the longest side to max_side, floor
    semantics, never upscales — the target-dimension math of a real
    resampler (the pixel resample itself is where PIL slots in)."""
    longest = max(w, h)
    if longest <= max_side:
        return w, h
    return (w * max_side) // longest, (h * max_side) // longest


def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize pattern: REAL decoded dims → target dims via a vectorised
    batch transform. Real pipelines emit the resized blob too; here the
    dim math is real (and oracle-checked) while the pixel resample is
    the documented library slot. The max side is 32 px, so the fixture's ≤64-px
    images actually exercise both branches of the clamp."""
    decoded = decode_batches(with_image_payload(load_table(spark, sf_dir, "documents")))

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dims = [
                _resize_dims(w, h, 32)
                for w, h in zip(pdf["width"], pdf["height"])
            ]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "width": pdf["width"],
                "height": pdf["height"],
                "new_width": [d[0] for d in dims],
                "new_height": [d[1] for d in dims],
            })

    out_schema = "doc_id long, width long, height long, new_width long, new_height long"
    return decoded.mapInPandas(resize, out_schema)


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-extract pattern: blob → fixed-dim float vector (the shape
    of an image/audio embedding model run under mapInPandas). The stub
    features are deterministic in the byte length (f_i = ((n_bytes *
    (i+1)) % 1000) / 1000) so the l2 norm is SQL-checkable; a real model
    swap changes only the batch fn body, not the plumbing/schema."""
    import numpy as np

    blobs = with_binary_payload(load_table(spark, sf_dir, "documents"))

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = pdf["blob"].map(len).to_numpy()[:, None].astype(np.int64)
            mult = np.arange(1, 9, dtype=np.int64)[None, :]
            feats = ((n * mult) % 1000) / 1000.0  # (batch, 8) — vectorised
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "features": list(feats),
                "feat_norm": np.sqrt((feats * feats).sum(axis=1)),
            })

    out = blobs.mapInPandas(extract, "doc_id long, features array<double>, feat_norm double")
    return out.select(
        "doc_id", F.size("features").cast("long").alias("dim"),
        F.round("feat_norm", 6).alias("feat_norm"),
    )


# --------------------------------------------------------------------------
# Audio modality: real RIFF/WAVE PCM writer + header parser
# --------------------------------------------------------------------------

def make_wav(sample_rate: int, n_samples: int, channels: int = 1,
             bits: int = 16) -> bytes:
    """A genuinely valid RIFF/WAVE PCM file (header + silence payload —
    the byte layout is real even though the samples are zeros; a codec
    library would read it)."""
    block_align = channels * bits // 8
    data_len = n_samples * block_align
    hdr = b"RIFF" + struct.pack("<I", 36 + data_len) + b"WAVE"
    fmt = b"fmt " + struct.pack(
        "<IHHIIHH", 16, 1, channels, sample_rate,
        sample_rate * block_align, block_align, bits)
    return hdr + fmt + b"data" + struct.pack("<I", data_len) + bytes(data_len)


def parse_wav_header(blob: bytes) -> tuple[int, int, int, int] | None:
    """REAL WAV metadata decode: walks the RIFF chunk list (fmt may not
    be the first chunk in the wild) and returns (sample_rate, channels,
    bits, n_samples), or None for non-WAV payloads."""
    if blob[:4] != b"RIFF" or blob[8:12] != b"WAVE" or len(blob) < 36:
        return None
    pos = 12
    rate = ch = bits = block_align = None
    data_size = None
    # record the data chunk's SIZE during the walk and derive n_samples
    # only after the loop, once block_align is known — a data chunk that
    # precedes fmt (legal RIFF, rare in the wild) would otherwise be
    # skipped while block_align was still None (ADVICE r5). A truncated
    # fmt chunk returns None instead of raising struct.error.
    while pos + 8 <= len(blob):
        tag = blob[pos:pos + 4]
        try:
            size = struct.unpack_from("<I", blob, pos + 4)[0]
            if tag == b"fmt " and size >= 16:
                _, ch, rate, _, block_align, bits = struct.unpack_from(
                    "<HHIIHH", blob, pos + 8)
            elif tag == b"data":
                data_size = size
        except struct.error:
            return None
        pos += 8 + size + (size & 1)  # RIFF chunks are 2-byte aligned
    if rate is None or data_size is None or not block_align:
        return None
    return rate, ch, bits, data_size // block_align


def with_audio_payload(docs: DataFrame) -> DataFrame:
    """(doc_id, blob) with a valid WAV file per document: sample count
    and rate derive deterministically from the utf-8 byte length of the
    text (rate cycles 8k/16k/44.1k by doc_id % 3, n_samples =
    n_bytes * 10) so the SQL oracle can compute the expected decode
    output without parsing bytes. Same Arrow-batched mapInPandas shape
    as with_image_payload."""
    rates = (8000, 16000, 44100)

    def generate(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = [
                make_wav(rates[doc_id % 3], len(text.encode("utf-8")) * 10)
                for doc_id, text in zip(pdf["doc_id"], pdf["text"])
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "blob": blobs})

    return docs.select("doc_id", "text").mapInPandas(
        generate, "doc_id long, blob binary")


def audio_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: real WAV blobs → REAL RIFF chunk-walk decode →
    per-document audio metadata with duration. The oracle computes the
    expected values from the deterministic payload recipe, so any
    parser bug (chunk alignment, block-align math, little-endian
    offsets) breaks the hash. Plan shape: mapInPandas generate →
    mapInPandas decode → projection → orderBy; the decode is
    Arrow-batched, never per-row."""
    docs = load_table(spark, sf_dir, "documents")
    blobs = with_audio_payload(docs)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rates, chans, bits_, samples = [], [], [], []
            for b in pdf["blob"]:
                parsed = parse_wav_header(bytes(b))
                if parsed is None:
                    parsed = (0, 0, 0, 0)
                rates.append(parsed[0])
                chans.append(parsed[1])
                bits_.append(parsed[2])
                samples.append(parsed[3])
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "sample_rate": rates,
                "channels": chans,
                "bits": bits_,
                "n_samples": samples,
            })

    decoded = blobs.mapInPandas(
        decode,
        "doc_id long, sample_rate long, channels long, bits long, n_samples long",
    )
    return decoded.select(
        "doc_id", "sample_rate", "channels", "bits", "n_samples",
        F.round(F.col("n_samples") * 1000.0 / F.col("sample_rate"), 3)
        .alias("duration_ms"),
    )


# --------------------------------------------------------------------------
# Perceptual-hash (dHash) image near-duplicate detection
# --------------------------------------------------------------------------

def _dhash_band_expr(band: int) -> str:
    """SQL expression for one 16-bit slice of the 64-bit dHash.

    Global bit n (0..63) maps to grid row r = n div 8, col c = n % 8;
    the bit is set when grid[r*9 + c + 1] > grid[r*9 + c] (the classic
    difference-hash gradient over a 9-wide, 8-tall grid). Band ``band``
    packs bits 16*band .. 16*band+15 little-endian, so the four band
    values ARE the hash state — no 64-bit value (and no cross-engine
    signed-overflow hazard) anywhere.
    """
    grid_col = "g"
    base = 16 * band
    idx = f"cast(((({base} + j) div 8) * 9 + pmod({base} + j, 8)) as int)"
    return (
        f"aggregate(sequence(0, 15), 0, (acc, j) -> acc + IF("
        f"element_at({grid_col}, {idx} + 2)"
        f" > element_at({grid_col}, {idx} + 1),"
        f" shiftleft(1, j), 0))"
    )


def image_dhash_neardup(spark: SparkSession, sf_dir: str,
                        max_hamming: int = 3) -> DataFrame:
    """Perceptual-hash near-duplicate pairs: dHash each document's
    blob, then pair documents whose 64-bit hashes differ by at most
    ``max_hamming`` bits — the image twin of MinHash text dedup
    (real pipelines dHash the resized 9x8 luma grid from the
    multimodal_resize path to catch re-encoded / slightly-edited
    copies of the same image).

    The DECODE step is the documented deterministic stub (this
    container has no codec libs): the 9x8 grayscale grid samples the
    blob's character stream at 72 evenly spaced positions,
    grid[k] = codepoint(char at (k*len) div 72) mod 256. Swapping in a
    real decoder changes only the grid source; the hash/banding/verify
    machinery below is the production path. Everything downstream of
    the grid is integer arithmetic, so the SQL oracle reproduces it
    bit-for-bit.

    Scale path (the part that matters at 100 TB): the 64-bit hash is
    kept as four 16-bit band values and candidate pairs come from a
    band-bucket self-join — Hamming-LSH. With 4 bands and
    max_hamming = 3 the pigeonhole principle makes banding EXACT (a
    pair differing in <= 3 bits must agree on >= 1 of 4 bands), so
    unlike MinHash banding there is no recall loss. Bucket sizes are
    bounded by duplicate-cluster sizes; the verify step touches only
    candidate pairs (bit_count over four 16-bit XORs), never the
    full N^2. One shuffle builds the buckets, one joins them; the
    hash table itself is persisted so the pair join's two sides share
    a single computation.
    """
    if not 0 <= max_hamming <= 3:
        raise ValueError(
            f"max_hamming must be in [0, 3] for exact 4-band pigeonhole "
            f"banding, got {max_hamming}")
    from hadoop_mapreduce_spark.session import scoped_persist

    docs = load_table(spark, sf_dir, "documents")
    blobs = with_binary_payload(docs).select(
        "doc_id", F.decode(F.col("blob"), "utf-8").alias("s"))
    grid = F.expr(
        "transform(sequence(0, 71), k -> "
        "pmod(ascii(substring(s, cast((k * length(s)) div 72 as int) + 1, 1)), 256))")
    hashes = scoped_persist(
        blobs.where(F.length("s") >= 1)
        .withColumn("g", grid)
        .select("doc_id",
                *[F.expr(_dhash_band_expr(b)).alias(f"b{b}") for b in range(4)])
    )
    cand = hashes.select(
        "doc_id", "b0", "b1", "b2", "b3",
        F.posexplode(F.array("b0", "b1", "b2", "b3")).alias("band", "val"))
    a, b = cand.alias("a"), cand.alias("b")
    pairs = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.val") == F.col("b.val"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                *[(F.bit_count(F.col(f"a.b{i}").bitwiseXOR(F.col(f"b.b{i}"))))
                  .alias(f"h{i}") for i in range(4)])
        .dropDuplicates(["doc_a", "doc_b"])
    )
    ham = sum(F.col(f"h{i}") for i in range(4))
    return (
        pairs.select("doc_a", "doc_b", ham.cast("long").alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


# --------------------------------------------------------------------------
# Video modality: real ISO-BMFF (MP4) writer + box-walk parser
# --------------------------------------------------------------------------

def _box(tag: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + tag + payload


def make_mp4(timescale: int, duration: int, n_tracks: int,
             width: int, height: int) -> bytes:
    """A genuinely valid minimal ISO-BMFF file: ftyp + moov(mvhd +
    n_tracks x trak(tkhd + mdia(mdhd))) + an empty mdat. Box sizes,
    version-0 field layouts and the 16.16 fixed-point tkhd dimensions
    are real — an MP4 demuxer would accept the structure (there are no
    samples, like the WAV writer's silence)."""
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2")
    mvhd = _box(b"mvhd", struct.pack(
        ">I II I I", 0, 0, 0, timescale, duration)
        + struct.pack(">i", 0x00010000)       # rate 1.0
        + struct.pack(">h", 0x0100)           # volume 1.0
        + bytes(10)                            # reserved
        + struct.pack(">9i", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0,
                      0x40000000)              # unity matrix
        + bytes(24)                            # pre_defined
        + struct.pack(">I", n_tracks + 1))     # next_track_ID
    traks = b""
    for t in range(n_tracks):
        tkhd = _box(b"tkhd", struct.pack(
            ">I II I 4x I 8x hhh 2x", 0x00000007, 0, 0, t + 1, duration,
            0, 0, 0)
            + struct.pack(">9i", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0,
                          0x40000000)
            + struct.pack(">II", width << 16, height << 16))
        mdhd = _box(b"mdhd", struct.pack(
            ">I II I I", 0, 0, 0, timescale, duration)
            + struct.pack(">Hxx", 0x55C4))     # language 'und'
        traks += _box(b"trak", tkhd + _box(b"mdia", mdhd))
    return ftyp + _box(b"moov", mvhd + traks) + _box(b"mdat", b"")


def _walk_boxes(blob: bytes, pos: int, end: int):
    """Yield (tag, payload_start, payload_end) for the box list in
    blob[pos:end]; stops cleanly on truncation (size 0/short)."""
    while pos + 8 <= end:
        size = struct.unpack_from(">I", blob, pos)[0]
        tag = blob[pos + 4:pos + 8]
        if size < 8 or pos + size > end:
            return
        yield tag, pos + 8, pos + size
        pos += size


def parse_mp4_meta(blob: bytes) -> tuple[int, int, int, int, int] | None:
    """REAL MP4 metadata decode: nested box walk (ftyp check, moov →
    mvhd for timescale/duration, trak count, first tkhd for the 16.16
    fixed-point dimensions). Returns (timescale, duration, n_tracks,
    width, height) or None for non-MP4 payloads."""
    boxes = list(_walk_boxes(blob, 0, len(blob)))
    if not boxes or boxes[0][0] != b"ftyp":
        return None
    timescale = duration = None
    n_tracks = 0
    width = height = None
    for tag, s, e in boxes:
        if tag != b"moov":
            continue
        for t2, s2, e2 in _walk_boxes(blob, s, e):
            if t2 == b"mvhd" and e2 - s2 >= 20:
                _, _, _, timescale, duration = struct.unpack_from(
                    ">IIIII", blob, s2)
            elif t2 == b"trak":
                n_tracks += 1
                for t3, s3, e3 in _walk_boxes(blob, s2, e2):
                    if t3 == b"tkhd" and width is None and e3 - s3 >= 84:
                        w_fixed, h_fixed = struct.unpack_from(
                            ">II", blob, e3 - 8)
                        width, height = w_fixed >> 16, h_fixed >> 16
    if timescale is None or not n_tracks or width is None:
        return None
    return timescale, duration, n_tracks, width, height


def with_video_payload(docs: DataFrame) -> DataFrame:
    """(doc_id, blob) with a valid MP4 per document: timescale cycles
    600/1000/90000 by doc_id % 3, duration (in timescale units) =
    utf-8 byte length * 5, track count = 1 + doc_id % 2, dimensions
    16*(1 + doc_id % 5) x 16*(1 + doc_id % 4) — all derivable by the
    SQL oracle without parsing bytes. Same Arrow-batched mapInPandas
    shape as the image/audio payload generators."""
    scales = (600, 1000, 90000)

    def generate(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = [
                make_mp4(scales[doc_id % 3],
                         len(text.encode("utf-8")) * 5,
                         1 + doc_id % 2,
                         16 * (1 + doc_id % 5),
                         16 * (1 + doc_id % 4))
                for doc_id, text in zip(pdf["doc_id"], pdf["text"])
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "blob": blobs})

    return docs.select("doc_id", "text").mapInPandas(
        generate, "doc_id long, blob binary")


def video_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: real MP4 blobs → REAL ISO-BMFF box-walk decode →
    per-document video metadata. The video twin of audio_meta: the
    oracle computes expected values from the deterministic payload
    recipe, so any parser bug (box size math, nesting, fixed-point
    dimension decode, big-endian offsets) breaks the hash.
    duration_ms is integer-exact ((duration * 1000) DIV timescale) so
    no float rounding site exists. Plan shape: mapInPandas generate →
    mapInPandas decode → projection → orderBy; Arrow-batched."""
    docs = load_table(spark, sf_dir, "documents")
    blobs = with_video_payload(docs)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols = {k: [] for k in
                    ("timescale", "duration", "n_tracks", "width", "height")}
            for b in pdf["blob"]:
                parsed = parse_mp4_meta(bytes(b)) or (0, 0, 0, 0, 0)
                for k, v in zip(cols, parsed):
                    cols[k].append(v)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], **cols})

    decoded = blobs.mapInPandas(
        decode,
        "doc_id long, timescale long, duration long, n_tracks long, "
        "width long, height long",
    )
    return decoded.select(
        "doc_id", "timescale", "duration", "n_tracks", "width", "height",
        F.expr("duration * 1000 DIV timescale").alias("duration_ms"),
    )
