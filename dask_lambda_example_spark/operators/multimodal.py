"""Multimodal columns (SURVEY.md §2.C): image/audio/video as opaque
``binary`` columns with typed metadata, decode/feature-extract as
Arrow-batched UDFs.

Spark-side design (all real and tested):
- column convention: ``struct<uri: string, mime: string, bytes: binary,
  meta: map<string,string>>`` — mirrors Spark's ``binaryFile`` source
  (path/length/content) plus a mime tag;
- plumbing: construction, projection, byte-level stats and content
  hashing run as JVM expressions; per-object work runs in two helpers
  that own the Arrow batch shape (one pandas DataFrame of N binary
  cells per batch): ``_media_objects`` builds a ``(doc_id, <col>
  binary)`` frame of synthetic media files, one per sampled document,
  and ``_per_object`` maps a module-level pure function
  ``fn(doc_id, raw)`` over such a frame. Each media query is a call of
  the two; the dedup fingerprints (``dedup.png_phash``,
  ``wav_fingerprint``, ``mjpeg_fingerprint``) ride the same helpers,
  and ``sources/warc.py`` reads its crawl and tar archives with
  ``_per_object``.

Decode status by modality:
- **audio: REAL.** ``mm_decode_wav_audio`` parses genuine RIFF/WAVE PCM
  files with the stdlib ``wave`` module (a real container/codec parser —
  chunk walk, fmt header, PCM frames) and recovers rate/width/frames/
  amplitude stats, value-checked against an analytic oracle. No stub.
- **image: REAL for PNG and baseline JPEG.** ``mm_decode_png_image``
  decodes genuine PNG files end to end with stdlib ``zlib`` — signature
  check, chunk walk with CRC-32 verification, IDAT inflate, and the full
  five-filter per-row unfilter (None/Sub/Up/Average/Paeth) — value-
  checked against an analytic pixel oracle. ``mm_decode_jpeg_image``
  decodes genuine baseline JFIF files with the numpy-backed codec in
  ``operators/jpegcodec.py`` — marker walk, DQT/DHT parse, canonical
  Huffman entropy decode with ZRL/EOB and byte unstuffing, dequantize,
  zigzag, 8x8 IDCT — coefficient pipeline value-checked bit-exactly
  against an analytic oracle, DC-only blocks pixel-checked exactly,
  full-AC pixels verified in unit tests against an independent IDCT.
- **video: REAL container demux + REAL MJPEG frame decode.**
  ``mm_demux_avi_frames`` parses genuine AVI files with a stdlib RIFF
  tree walker — avih/strf headers, movi frame chunks, frame-count
  cross-check — and samples raw-DIB frames, value-checked against an
  analytic oracle. ``mm_demux_mjpeg_avi`` is the end-to-end compressed
  path: an AVI with fourcc 'MJPG' whose '00dc' frames are genuine JPEGs,
  demuxed then DCT-decoded per frame. Only inter-frame-predicted codecs
  (H.264-class) remain out of scope — their entropy/codec state machines
  need ffmpeg-class libraries absent from this container by contract;
  `mm_frame_sample` keeps the byte-slicing plumbing form.

Scale posture: the media objects of the two-pass queries never shuffle
— they are born and decoded in two narrow passes, and only the typed
rows ``_per_object`` emits reach an exchange (``tests/test_plans.py``
checks this); at 100 TB the rule is: push bytes through one per-object
pass, aggregate only the extracted features. ``mm_frame_sample`` is the
exception: it gathers per-frame bytes into clips with a shuffle.
"""

from __future__ import annotations

import hashlib
import io
import struct
import wave
import zlib
from collections.abc import Callable, Iterable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dask_lambda_example_spark.io import load_table
from dask_lambda_example_spark.operators.jpegcodec import (
    decode_jpeg_gray8, encode_jpeg_gray8)
from dask_lambda_example_spark.registry import query

MEDIA_SCHEMA = "struct<uri:string, mime:string, bytes:binary, meta:map<string,string>>"


def _media_objects(spark: SparkSession, sf_dir: str, every: int,
                   encode: Callable[[int], bytes], col: str) -> DataFrame:
    """``(doc_id, <col> binary)`` for every ``every``-th document: one
    Arrow-batched ``mapInPandas`` pass builds each sampled document's
    media file with ``encode(doc_id) -> bytes``."""
    d = (load_table(spark, sf_dir, "documents")
         .filter(F.col("doc_id") % every == 0)
         .select("doc_id"))

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                col: [encode(int(i)) for i in pdf["doc_id"]],
            })

    return d.mapInPandas(synth, f"doc_id long, {col} binary")


def _per_object(objs: DataFrame,
                fn: Callable[[int, bytes], Iterable[tuple]],
                schema: str) -> DataFrame:
    """One Arrow-batched ``mapInPandas`` pass over an ``(id, <binary>)``
    frame (a media file's ``doc_id`` or an archive's ``archive_id``):
    ``fn(id, raw)`` yields zero or more row tuples in the order of
    ``schema``, a flat DDL string. The object bytes enter Python once;
    only the typed rows leave the pass."""
    doc, col = objs.columns
    names = [field.split()[0] for field in schema.split(",")]

    def per_object(batches: Iterator[pd.DataFrame]
                   ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame.from_records(
                [row for i, raw in zip(pdf[doc], pdf[col])
                 for row in fn(int(i), bytes(raw))],
                columns=names)

    return objs.mapInPandas(per_object, schema)


def with_media_column(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Wrap each document's UTF-8 bytes as a media struct — the column
    convention every multimodal op consumes. (Real pipelines fill
    ``bytes`` from the ``binaryFile`` source; the convention is
    identical.)"""
    return df.withColumn("media", F.struct(
        F.concat(F.lit("mem://doc/"), F.col("doc_id")).alias("uri"),
        F.lit("text/plain").alias("mime"),
        F.encode(F.col(text_col), "UTF-8").alias("bytes"),
        F.create_map(F.lit("lang"), F.col("lang"),
                     F.lit("source"), F.col("source")).alias("meta"),
    ))


@query(
    "mm_media_metadata",
    oracle="""
    SELECT doc_id,
           'mem://doc/' || doc_id    AS uri,
           'text/plain'              AS mime,
           strlen(text)              AS n_bytes,
           md5(text)                 AS content_md5,
           lang                      AS meta_lang
    FROM documents
    """,
)
def mm_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata/byte-level ops on the media struct, all JVM-side:
    length and content-hash of the binary payload + map access.
    (ASCII text here, so strlen == octet length in the oracle.)"""
    d = with_media_column(load_table(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.col("media.uri").alias("uri"),
        F.col("media.mime").alias("mime"),
        F.octet_length(F.col("media.bytes")).alias("n_bytes"),
        F.md5(F.col("media.bytes")).alias("content_md5"),
        F.col("media.meta")["lang"].alias("meta_lang"),
    )


@query(
    "mm_feature_extract",
    oracle="""
    SELECT doc_id,
           strlen(text)                                    AS n_bytes,
           ascii(substr(text, 1, 1))                       AS first_byte,
           CAST(('0x' || substr(md5(text), 1, 4)) AS INT)  AS digest16
    FROM documents
    """,
)
def mm_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched feature extraction over binary media — the decode
    pipeline shape (binary in → typed features out) with a
    deterministic extractor the oracle can recompute."""
    d = with_media_column(load_table(spark, sf_dir, "documents"))
    payload = d.select("doc_id", F.col("media.bytes").alias("bytes"))
    return _per_object(
        payload, feature_rows,
        "doc_id long, n_bytes long, first_byte int, digest16 int")


def feature_rows(doc_id: int, raw: bytes) -> Iterator[tuple]:
    """Length, first byte and the top 16 bits of the md5 of one object."""
    yield (doc_id, len(raw), raw[0] if raw else None,
           int(hashlib.md5(raw).hexdigest()[:4], 16))


FAKE_IMAGE_MAGIC = b"FAKEIMG1"


def decode_image_stub(raw: bytes) -> tuple[int, int]:
    """STUB decoder (no codec libs in this container): understands only
    the deterministic fake header ``FAKEIMG1<w:2><h:2>`` and returns
    (width, height); anything else raises NotImplementedError — the
    marked seam where a real PIL/ffmpeg decoder plugs in."""
    if raw[:8] == FAKE_IMAGE_MAGIC and len(raw) >= 12:
        return (int.from_bytes(raw[8:10], "big"),
                int.from_bytes(raw[10:12], "big"))
    raise NotImplementedError(
        "real image decoding requires codec libraries absent from this "
        "environment; only the FAKEIMG1 test header is supported")


@query("mm_decode_fake_images")  # stubbed decoder → rows-only check
def mm_decode_fake_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode pipeline over synthetic FAKEIMG1 payloads: build binary
    'images' (width/height derived from doc_id), decode them with
    ``decode_image_stub`` in one ``_per_object`` pass, return
    dimensions. Exercises the full binary→decode→features path with the
    real batch shape."""
    d = load_table(spark, sf_dir, "documents")

    def be2(c):  # two-byte big-endian encoding of an int column
        return F.concat(F.expr(f"char(int(({c}) div 256))").cast("binary"),
                        F.expr(f"char(int(({c}) % 256))").cast("binary"))

    imgs = (
        d.withColumn("w", (F.col("doc_id") % 64 + 1).cast("int"))
        .withColumn("h", (F.col("doc_id") % 48 + 1).cast("int"))
        .select("doc_id",
                F.concat(F.lit(FAKE_IMAGE_MAGIC), be2("w"), be2("h"))
                .alias("bytes"))
    )
    return _per_object(imgs, lambda i, raw: [(i, *decode_image_stub(raw))],
                       "doc_id long, width int, height int")


FRAME_LEN = 32        # bytes per synthetic frame
N_FRAMES = 12         # frames per synthetic clip
FRAME_STRIDE = 4      # keep every 4th frame
FRAME_SAMPLE_EVERY = 10  # build a clip for every 10th document


@query(
    "mm_frame_sample",
    oracle=f"""
    WITH frames AS (
        SELECT doc_id, f.f AS frame_idx,
               md5(substring(repeat(CAST(doc_id * 1000 + f.f AS VARCHAR)
                                    || '|', {FRAME_LEN}),
                             1, {FRAME_LEN})) AS frame_md5
        FROM documents,
             (SELECT unnest(generate_series(0, {N_FRAMES - 1})) AS f) f
        WHERE doc_id % {FRAME_SAMPLE_EVERY} = 0 AND f.f % {FRAME_STRIDE} = 0)
    SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx, frame_md5
    FROM frames
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling plumbing: each sampled document carries a
    synthetic "clip" — {n} fixed-length frames concatenated into one
    binary payload — and the operator keeps every {s}th frame,
    emitting its index and content digest. The clip is assembled
    JVM-side, which shuffles the per-frame bytes once to gather each
    clip; the byte-slicing then runs in one ``_per_object`` pass (the
    codec seam: a real decoder would replace ``frame_rows``, same
    signature, same batch shape), and only (doc_id, frame_idx, digest)
    rows leave it. The clip bytes are deterministic, so the oracle
    rebuilds each kept frame and its md5 exactly — the plumbing is
    value-checked even though the "video" is synthetic."""
    d = (load_table(spark, sf_dir, "documents")
         .filter(F.col("doc_id") % FRAME_SAMPLE_EVERY == 0))
    # clip = concat of frames; frame f = first FRAME_LEN bytes of
    # repeat(str(doc_id*1000+f) || '|')
    frame = F.substring(
        F.repeat(F.concat((F.col("doc_id") * 1000 + F.col("f"))
                          .cast("string"), F.lit("|")), FRAME_LEN),
        1, FRAME_LEN)
    clips = (
        d.select("doc_id")
        .crossJoin(F.broadcast(
            spark.range(N_FRAMES).select(F.col("id").cast("int")
                                         .alias("f"))))
        .select("doc_id", "f", F.encode(frame, "UTF-8").alias("fb"))
        .groupBy("doc_id")
        .agg(F.aggregate(
                 F.array_sort(F.collect_list(F.struct("f", "fb"))),
                 F.lit(b""),
                 lambda acc, x: F.concat(acc, x.getField("fb")))
             .alias("clip"))
    )
    return _per_object(clips, frame_rows,
                       "doc_id long, frame_idx int, frame_md5 string")


mm_frame_sample.__doc__ = mm_frame_sample.__doc__.format(
    n=N_FRAMES, s=FRAME_STRIDE)


def frame_rows(doc_id: int, clip: bytes) -> Iterator[tuple]:
    """(doc_id, frame_idx, md5) for every FRAME_STRIDE-th frame of a clip."""
    for f in range(0, N_FRAMES, FRAME_STRIDE):
        frame = clip[f * FRAME_LEN:(f + 1) * FRAME_LEN]
        yield doc_id, f, hashlib.md5(frame).hexdigest()


IMG_W = 16            # fake image is IMG_W x IMG_W single-channel bytes
IMG_SAMPLE_EVERY = 25  # resize every 25th document's image


@query(
    "mm_resize_downsample",
    oracle=f"""
    WITH px AS (
        SELECT d.doc_id, x.x, y.y,
               (d.doc_id * 31 + (2 * x.x) * 13 + (2 * y.y) * 7) % 251 AS p00,
               (d.doc_id * 31 + (2 * x.x) * 13 + (2 * y.y + 1) * 7) % 251 AS p01,
               (d.doc_id * 31 + (2 * x.x + 1) * 13 + (2 * y.y) * 7) % 251 AS p10,
               (d.doc_id * 31 + (2 * x.x + 1) * 13 + (2 * y.y + 1) * 7) % 251 AS p11
        FROM documents d,
             (SELECT unnest(generate_series(0, {IMG_W // 2 - 1})) AS x) x,
             (SELECT unnest(generate_series(0, {IMG_W // 2 - 1})) AS y) y
        WHERE d.doc_id % {IMG_SAMPLE_EVERY} = 0)
    SELECT doc_id, CAST(x AS INT) AS x, CAST(y AS INT) AS y,
           CAST((p00 + p01 + p10 + p11) // 4 AS INT) AS pooled
    FROM px
    """,
)
def mm_resize_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image resize plumbing (2× average-pool downsample): each sampled
    document carries a deterministic {w}×{w} single-channel byte image
    as a BINARY column (built JVM-side — pixel(r,c) =
    (doc_id·31 + r·13 + c·7) mod 251); one ``_per_object`` pass
    (``pooled_rows``) reinterprets the bytes as a numpy grid, floor-
    average-pools 2×2 blocks, and emits (x, y, pooled) rows. The codec
    seam again: a real decoder+resampler replaces the numpy kernel with
    the same signature; bytes cross into Python once and never shuffle.
    The oracle recomputes every pooled pixel from the same arithmetic,
    so the array plumbing is value-checked end to end."""
    d = (load_table(spark, sf_dir, "documents")
         .filter(F.col("doc_id") % IMG_SAMPLE_EVERY == 0).select("doc_id"))
    pixel = lambda i: ((F.col("doc_id") * 31
                        + (i / IMG_W).cast("int") * 13
                        + (i % IMG_W) * 7) % 251)
    img = F.aggregate(
        F.transform(F.sequence(F.lit(0), F.lit(IMG_W * IMG_W - 1)),
                    lambda i: F.unhex(F.format_string("%02x", pixel(i)))),
        F.lit(b""), lambda acc, x: F.concat(acc, x))
    clips = d.select("doc_id", img.alias("img"))
    return _per_object(clips, pooled_rows,
                       "doc_id long, x int, y int, pooled int")


mm_resize_downsample.__doc__ = mm_resize_downsample.__doc__.format(w=IMG_W)


def pooled_rows(doc_id: int, raw: bytes) -> Iterator[tuple]:
    """(doc_id, x, y, pooled) over the 2×2 floor-average pool of one
    IMG_W × IMG_W byte image."""
    grid = np.frombuffer(raw, dtype=np.uint8).reshape(
        IMG_W, IMG_W).astype(np.int64)
    pooled = (grid[0::2, 0::2] + grid[0::2, 1::2]
              + grid[1::2, 0::2] + grid[1::2, 1::2]) // 4
    for x in range(IMG_W // 2):
        for y in range(IMG_W // 2):
            yield doc_id, x, y, int(pooled[x, y])


WAV_SAMPLE_EVERY = 20   # decode every 20th document's clip


def wav_bytes(pcm, rate: int) -> bytes:
    """A REAL RIFF/WAVE file (stdlib ``wave`` writer): mono 16-bit PCM
    holding the samples ``pcm`` at ``rate`` Hz."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(np.asarray(pcm).astype("<i2").tobytes())
    return buf.getvalue()


def read_wav(raw: bytes) -> tuple[int, int, int, np.ndarray]:
    """Parse a 16-bit PCM RIFF/WAVE file with the stdlib ``wave`` reader
    (RIFF chunk walk, fmt header, frame data): (n_channels,
    sample_width, sample_rate, int64 samples). Other sample widths
    raise ValueError."""
    with wave.open(io.BytesIO(raw), "rb") as w:
        nch, width, rate = w.getnchannels(), w.getsampwidth(), w.getframerate()
        frames = w.readframes(w.getnframes())
    if width != 2:
        raise ValueError(f"only 16-bit PCM is supported, not {8 * width}-bit")
    pcm = np.frombuffer(frames, dtype="<i2").astype(np.int64)
    return nch, width, rate, pcm


def make_wav_bytes(doc_id: int) -> bytes:
    """A REAL WAV file whose content is a deterministic function of
    ``doc_id`` — int16 mono square wave alternating +amp/-amp, so peak
    == RMS == amp exactly and the oracle can recompute every decoded
    stat analytically:

    - sample_rate  = (8000, 11025, 16000)[doc_id % 3]
    - n_frames     = 256 + (doc_id % 32) * 16     (always even)
    - amp          = 1000 + (doc_id % 7) * 500
    """
    amp = 1000 + (doc_id % 7) * 500
    pcm = np.empty(256 + (doc_id % 32) * 16, dtype="<i2")
    pcm[0::2] = amp
    pcm[1::2] = -amp
    return wav_bytes(pcm, (8000, 11025, 16000)[doc_id % 3])


def wav_stat_rows(doc_id: int, raw: bytes) -> Iterator[tuple]:
    """Header fields, duration, peak and RMS of one decoded WAV file."""
    nch, width, rate, pcm = read_wav(raw)
    n = len(pcm) // nch
    # ±amp square wave → mean(pcm²) = amp² is a perfect square; sqrt is
    # float-exact for amp « 2^26.
    yield (doc_id, nch, width, rate, n, n / rate, int(np.max(np.abs(pcm))),
           int(round(float(np.sqrt(np.mean(pcm * pcm))))))


@query(
    "mm_decode_wav_audio",
    oracle=f"""
    SELECT doc_id,
           1 AS n_channels,
           2 AS sample_width,
           CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 11025
                ELSE 16000 END                          AS sample_rate,
           256 + (doc_id % 32) * 16                     AS n_frames,
           CAST(256 + (doc_id % 32) * 16 AS DOUBLE)
             / (CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 11025
                     ELSE 16000 END)                    AS duration_s,
           1000 + (doc_id % 7) * 500                    AS peak,
           1000 + (doc_id % 7) * 500                    AS rms
    FROM documents
    WHERE doc_id % {WAV_SAMPLE_EVERY} = 0
    """,
)
def mm_decode_wav_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode — no stub. ``_media_objects`` synthesizes
    genuine RIFF/WAVE PCM files (``make_wav_bytes``); ``_per_object``
    DECODES them with ``read_wav`` — the stdlib ``wave`` reader, an
    actual container parser that walks the RIFF chunk list and the fmt
    header — and ``wav_stat_rows`` computes amplitude stats over the
    PCM frames with numpy. The files never shuffle; only the typed
    features leave.

    The synthetic waveform is a ±amp square wave, so peak == RMS == amp
    EXACTLY (integers) and duration is an IEEE-exact int/int division —
    every decoded column is value-checked against the analytic oracle.

    Reference parity anchor: the reference treats payloads as opaque
    bytes end-to-end (src/lambda_consumer.py); this op is the §2.C
    extension where the engine must look INSIDE real media bytes."""
    wavs = _media_objects(spark, sf_dir, WAV_SAMPLE_EVERY, make_wav_bytes,
                          "wav")
    return _per_object(
        wavs, wav_stat_rows,
        "doc_id long, n_channels int, sample_width int, sample_rate int, "
        "n_frames int, duration_s double, peak int, rms int")


PNG_W, PNG_H = 24, 16          # synthetic grayscale image dimensions
PNG_SAMPLE_EVERY = 25          # decode every 25th document's image


def make_png_bytes(doc_id: int) -> bytes:
    """Build a REAL PNG file (8-bit grayscale) whose pixels are the
    deterministic grid pixel(r,c) = (doc_id*31 + r*13 + c*7) mod 251 —
    the same arithmetic `mm_resize_downsample` uses, so the oracle can
    recompute every pixel. The encoder exercises ALL FIVE PNG row
    filters (row r uses filter r mod 5: None/Sub/Up/Average/Paeth), so
    the decoder's unfilter path is fully covered, and each chunk
    carries its genuine CRC-32."""
    def chunk(tag: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))

    W, H = PNG_W, PNG_H
    grid = [[(doc_id * 31 + r * 13 + c * 7) % 251 for c in range(W)]
            for r in range(H)]
    raw = bytearray()
    for r in range(H):
        ft = r % 5
        raw.append(ft)
        up = grid[r - 1] if r > 0 else [0] * W
        for c in range(W):
            x = grid[r][c]
            left = grid[r][c - 1] if c > 0 else 0
            ul = up[c - 1] if c > 0 else 0
            if ft == 0:
                enc = x
            elif ft == 1:                      # Sub
                enc = x - left
            elif ft == 2:                      # Up
                enc = x - up[c]
            elif ft == 3:                      # Average
                enc = x - (left + up[c]) // 2
            else:                              # Paeth
                p = left + up[c] - ul
                pa, pb, pc = abs(p - left), abs(p - up[c]), abs(p - ul)
                pred = (left if pa <= pb and pa <= pc
                        else (up[c] if pb <= pc else ul))
                enc = x - pred
            raw.append(enc & 0xFF)
    ihdr = struct.pack(">IIBBBBB", W, H, 8, 0, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b""))


def decode_png_gray8(raw: bytes):
    """REAL PNG decoder for 8-bit grayscale, stdlib-only: signature
    check, chunk walk with CRC-32 verification on every chunk, IDAT
    inflate (multi-IDAT concatenation per spec), and the full
    five-filter per-row reconstruction (None/Sub/Up/Average/Paeth,
    PNG spec §6). Returns (width, height, bit_depth, color_type,
    ndarray[H,W] of int64 pixels). Raises ValueError on a corrupt
    signature, CRC mismatch, or an unsupported color mode."""
    if raw[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG: bad signature")
    pos, idat = 8, b""
    W = H = bd = ct = None
    while pos + 12 <= len(raw):
        (ln,) = struct.unpack(">I", raw[pos:pos + 4])
        tag = raw[pos + 4:pos + 8]
        data = raw[pos + 8:pos + 8 + ln]
        (crc,) = struct.unpack(">I", raw[pos + 8 + ln:pos + 12 + ln])
        if crc != zlib.crc32(tag + data) & 0xFFFFFFFF:
            raise ValueError(f"CRC mismatch in {tag!r} chunk")
        if tag == b"IHDR":
            W, H, bd, ct, comp, filt, ilace = struct.unpack(">IIBBBBB", data)
            if (bd, ct, comp, filt, ilace) != (8, 0, 0, 0, 0):
                raise ValueError("only 8-bit non-interlaced grayscale supported")
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            break
        pos += 12 + ln
    dec = zlib.decompress(idat)
    if len(dec) != H * (W + 1):
        raise ValueError("decompressed length mismatch")
    out = np.zeros((H, W), dtype=np.int64)
    prev = np.zeros(W, dtype=np.int64)
    p = 0
    for r in range(H):
        ft = dec[p]
        row = np.frombuffer(dec[p + 1:p + 1 + W], dtype=np.uint8
                            ).astype(np.int64)
        p += 1 + W
        if ft == 0:
            cur = row
        elif ft == 2:
            cur = (row + prev) & 0xFF
        else:
            cur = np.zeros(W, dtype=np.int64)
            for c in range(W):
                left = cur[c - 1] if c > 0 else 0
                up = prev[c]
                ul = prev[c - 1] if c > 0 else 0
                if ft == 1:
                    pred = left
                elif ft == 3:
                    pred = (left + up) // 2
                elif ft == 4:
                    q = left + up - ul
                    pa, pb, pc = abs(q - left), abs(q - up), abs(q - ul)
                    pred = (left if pa <= pb and pa <= pc
                            else (up if pb <= pc else ul))
                else:
                    raise ValueError(f"unknown filter type {ft}")
                cur[c] = (row[c] + pred) & 0xFF
        out[r] = cur
        prev = cur
    return W, H, bd, ct, out


@query(
    "mm_decode_png_image",
    oracle=f"""
    WITH px AS (
        SELECT d.doc_id, r.r, c.c,
               (d.doc_id * 31 + r.r * 13 + c.c * 7) % 251 AS p
        FROM documents d,
             (SELECT unnest(generate_series(0, {PNG_H - 1})) AS r) r,
             (SELECT unnest(generate_series(0, {PNG_W - 1})) AS c) c
        WHERE d.doc_id % {PNG_SAMPLE_EVERY} = 0)
    SELECT doc_id,
           {PNG_W} AS width, {PNG_H} AS height,
           8 AS bit_depth, 0 AS color_type,
           CAST(SUM(p) AS BIGINT)                          AS pixel_sum,
           CAST(MIN(p) AS INT)                             AS pixel_min,
           CAST(MAX(p) AS INT)                             AS pixel_max,
           CAST(SUM(p * (r * {PNG_W} + c + 1)) AS BIGINT)  AS pixel_weighted
    FROM px
    GROUP BY doc_id
    """,
)
def mm_decode_png_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode — no stub. ``_media_objects`` synthesizes
    genuine PNG files (all five row filters, real CRCs, zlib-deflated
    IDAT; see ``make_png_bytes``); ``_per_object`` DECODES them with
    ``decode_png_gray8`` — an actual PNG decoder: signature, chunk walk
    with CRC-32 verification, inflate, and full five-filter row
    reconstruction including Paeth prediction. The files never
    shuffle — only per-image header fields and pixel aggregates
    (sum/min/max and a position-weighted sum, which pins every pixel to
    its coordinate) leave the decode pass, and the analytic oracle
    recomputes each from the generating arithmetic."""
    pngs = _media_objects(spark, sf_dir, PNG_SAMPLE_EVERY, make_png_bytes,
                          "png")
    return _per_object(
        pngs, png_stat_rows,
        "doc_id long, width int, height int, bit_depth int, color_type int, "
        "pixel_sum long, pixel_min int, pixel_max int, pixel_weighted long")


def png_stat_rows(doc_id: int, raw: bytes) -> Iterator[tuple]:
    """Header fields and pixel aggregates of one decoded PNG."""
    w, h, bd, ct, grid = decode_png_gray8(raw)
    weights = np.arange(1, w * h + 1, dtype=np.int64).reshape(h, w)
    yield (doc_id, w, h, bd, ct, int(grid.sum()), int(grid.min()),
           int(grid.max()), int((grid * weights).sum()))


AVI_W, AVI_H = 16, 12          # frame dimensions (8-bit grayscale DIB)
AVI_N_FRAMES = 8               # frames per synthetic clip
AVI_FRAME_STRIDE = 2           # demux keeps every 2nd frame
AVI_SAMPLE_EVERY = 50          # build a clip for every 50th document


def make_avi_bytes(doc_id: int) -> bytes:
    """Build a REAL AVI file (RIFF 'AVI ' container, spec-shaped):
    hdrl LIST with a genuine 56-byte avih main header, a strl LIST
    holding a 'vids'/'DIB ' stream header and a BITMAPINFOHEADER strf
    with its 256-entry grayscale palette, a movi LIST of raw-DIB
    '00db' frame chunks, and an idx1 index. Frame f's pixel(r,c) =
    (doc_id*31 + f*17 + r*13 + c*7) mod 251 — analytic, so a demuxer's
    per-frame aggregates are value-checkable."""
    W, H, N = AVI_W, AVI_H, AVI_N_FRAMES

    def chunk(tag: bytes, data: bytes) -> bytes:
        out = tag + struct.pack("<I", len(data)) + data
        return out + (b"\x00" if len(data) % 2 else b"")

    def lst(list_type: bytes, payload: bytes) -> bytes:
        return chunk(b"LIST", list_type + payload)

    frames = []
    for f in range(N):
        px = bytes((doc_id * 31 + f * 17 + r * 13 + c * 7) % 251
                   for r in range(H) for c in range(W))
        frames.append(px)

    avih = struct.pack("<14I", 40000, W * H * 25, 0, 0x10, N, 0, 1,
                       W * H, W, H, 0, 0, 0, 0)
    strh = struct.pack("<4s4sIHHIIIIIIIIhhhh", b"vids", b"DIB ", 0, 0, 0,
                       0, 1, 25, 0, N, W * H, 0, 0, 0, 0, W, H)
    palette = b"".join(struct.pack("<BBBB", g, g, g, 0) for g in range(256))
    strf = struct.pack("<IiiHHIIiiII", 40, W, H, 1, 8, 0, W * H,
                       0, 0, 256, 0) + palette
    hdrl = lst(b"hdrl", chunk(b"avih", avih)
               + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi_payload = b"".join(chunk(b"00db", fr) for fr in frames)
    movi = lst(b"movi", movi_payload)
    # idx1: one entry per frame — chunk id, keyframe flag, offset
    # (relative to movi list-type fcc), length
    idx_entries, off = [], 4
    for fr in frames:
        idx_entries.append(struct.pack("<4sIII", b"00db", 0x10, off, len(fr)))
        off += 8 + len(fr) + (len(fr) % 2)
    idx1 = chunk(b"idx1", b"".join(idx_entries))
    body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(body)) + body


def demux_avi_frames(raw: bytes):
    """REAL AVI demuxer, stdlib-only: verifies the RIFF/'AVI ' magic,
    walks the chunk tree, reads frame count from the avih main header
    and dimensions from the BITMAPINFOHEADER strf, then extracts the
    raw '00db'/'00dc' frame payloads from the movi LIST in stream
    order. Returns (width, height, n_frames_header, [frame bytes]).
    Raises ValueError on malformed container or header/stream
    disagreement. (The frame payloads here are raw DIB — a compressed
    fourcc would hand off to a codec at this exact seam.)"""
    if raw[:4] != b"RIFF" or raw[8:12] != b"AVI ":
        raise ValueError("not an AVI: bad RIFF/AVI magic")
    (riff_len,) = struct.unpack("<I", raw[4:8])
    if riff_len + 8 != len(raw):
        raise ValueError("RIFF length field disagrees with file size")

    width = height = n_frames = None
    frames: list[bytes] = []

    def walk(buf: bytes) -> None:
        nonlocal width, height, n_frames
        pos = 0
        while pos + 8 <= len(buf):
            tag = buf[pos:pos + 4]
            (ln,) = struct.unpack("<I", buf[pos + 4:pos + 8])
            data = buf[pos + 8:pos + 8 + ln]
            if tag == b"LIST":
                walk(data[4:])          # skip the list-type fcc
            elif tag == b"avih":
                n_frames = struct.unpack("<14I", data[:56])[4]
            elif tag == b"strf":
                _, bw, bh = struct.unpack("<Iii", data[:12])
                width, height = bw, bh
            elif tag[2:4] in (b"db", b"dc"):
                frames.append(data)
            pos += 8 + ln + (ln % 2)

    walk(raw[12:])
    if None in (width, height, n_frames):
        raise ValueError("missing avih or strf header")
    if len(frames) != n_frames:
        raise ValueError(
            f"header says {n_frames} frames, movi has {len(frames)}")
    return width, height, n_frames, frames


@query(
    "mm_demux_avi_frames",
    oracle=f"""
    WITH px AS (
        SELECT d.doc_id, f.f, r.r, c.c,
               (d.doc_id * 31 + f.f * 17 + r.r * 13 + c.c * 7) % 251 AS p
        FROM documents d,
             (SELECT unnest(generate_series(0, {AVI_N_FRAMES - 1})) AS f) f,
             (SELECT unnest(generate_series(0, {AVI_H - 1})) AS r) r,
             (SELECT unnest(generate_series(0, {AVI_W - 1})) AS c) c
        WHERE d.doc_id % {AVI_SAMPLE_EVERY} = 0
          AND f.f % {AVI_FRAME_STRIDE} = 0)
    SELECT doc_id, CAST(f AS INT) AS frame_idx,
           {AVI_W} AS width, {AVI_H} AS height,
           CAST(SUM(p) AS BIGINT)                              AS frame_sum,
           CAST(SUM(p * (r * {AVI_W} + c + 1)) AS BIGINT)      AS frame_weighted
    FROM px
    GROUP BY doc_id, f
    """,
)
def mm_demux_avi_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-container demux — no stub for the container layer.
    ``_media_objects`` synthesizes genuine AVI files (RIFF 'AVI ' with
    real avih/strh/strf headers, palette, movi frame chunks, and an
    idx1 index; see ``make_avi_bytes``); ``_per_object`` DEMUXES them
    with ``demux_avi_frames`` — an actual RIFF tree walker that
    cross-checks the declared frame count against the movi stream —
    and keeps every ``AVI_FRAME_STRIDE``-th frame, emitting per-frame
    pixel aggregates (sum + position-weighted sum) that the analytic
    oracle recomputes exactly. Codec handoff for compressed fourccs is
    the documented seam inside the demuxer; raw-DIB frames decode by
    identity. The files never shuffle."""
    avis = _media_objects(spark, sf_dir, AVI_SAMPLE_EVERY, make_avi_bytes,
                          "avi")
    return _per_object(
        avis, avi_frame_rows,
        "doc_id long, frame_idx int, width int, height int, "
        "frame_sum long, frame_weighted long")


def avi_frame_rows(doc_id: int, raw: bytes) -> Iterator[tuple]:
    """Pixel sum and position-weighted sum of every AVI_FRAME_STRIDE-th
    frame of one demuxed raw-DIB AVI."""
    w, h, n, frames = demux_avi_frames(raw)
    weights = np.arange(1, w * h + 1, dtype=np.int64)
    for f in range(0, n, AVI_FRAME_STRIDE):
        px = np.frombuffer(frames[f], dtype=np.uint8).astype(np.int64)
        yield doc_id, f, w, h, int(px.sum()), int((px * weights).sum())


JPG_W, JPG_H = 32, 24          # baseline-JPEG image dimensions (4x3 blocks)
JPG_BLOCKS = (JPG_W // 8) * (JPG_H // 8)
JPG_SAMPLE_EVERY = 25          # decode every 25th document's image

# Shared SQL fragments for the analytic JPEG coefficient generators —
# the single source of truth for both the fixture builder below and the
# DuckDB oracles (seed is the doc-level or frame-level expression).
_JPG_DCQ = "(({s}) * 7 + b.b * 5) % 21 - 10"
_JPG_K1 = "1 + (({s}) + b.b) % 5"
_JPG_A1 = "CASE WHEN (({s}) + b.b) % 4 = 0 THEN 0 ELSE (({s}) * 11 + b.b * 3) % 15 - 7 END"
_JPG_K2 = "20 + (({s}) * 3 + b.b * 7) % 30"
_JPG_A2 = "CASE WHEN (({s}) + b.b) % 4 = 0 THEN 0 ELSE (({s}) * 13 + b.b) % 9 - 4 END"


def jpeg_coeff_blocks(seed: int):
    """Analytic quantized-coefficient grid for one synthetic JPEG:
    block b carries DC ((seed*7+b*5)%21-10), one low AC at zigzag
    1+((seed+b)%5) and one high AC at 20+((seed*3+b*7)%30) (runs >= 16
    between them exercise ZRL), EXCEPT every block with (seed+b)%4==0,
    which is DC-ONLY — a flat block whose IDCT is exactly rational
    (pixel = dcq*q0/8 + 128 = dcq*2 + 128 with the Annex-K q0=16), so
    the SQL oracle can check the pixel path bit-exactly there."""
    blocks = np.zeros((JPG_BLOCKS, 64), dtype=np.int64)
    for b in range(JPG_BLOCKS):
        blocks[b, 0] = (seed * 7 + b * 5) % 21 - 10
        if (seed + b) % 4 == 0:
            continue                         # DC-only block
        k1 = 1 + (seed + b) % 5
        blocks[b, k1] = (seed * 11 + b * 3) % 15 - 7
        k2 = 20 + (seed * 3 + b * 7) % 30
        blocks[b, k2] = (seed * 13 + b) % 9 - 4
    return blocks


def make_jpeg_bytes(seed: int) -> bytes:
    """Build a REAL baseline JFIF file (SOI/APP0/DQT/SOF0/DHT/SOS/EOI,
    genuine canonical Huffman entropy coding with DC differential
    coding, ZRL, EOB, and 0xFF byte stuffing) whose quantized
    coefficients are ``jpeg_coeff_blocks(seed)``."""
    return encode_jpeg_gray8(jpeg_coeff_blocks(seed), JPG_W, JPG_H)


def _jpeg_frame_stats(zq, img, seed: int):
    """Integer-exact per-image stats over decoded JPEG output: the
    quantized-coefficient checksums (Huffman/run-length/zigzag/dequant
    pipeline) plus the exact pixel sum over the DC-only blocks (IDCT +
    level-shift + rounding pipeline on the rational-output blocks)."""
    nb = zq.shape[0]
    binc = np.arange(1, nb + 1, dtype=np.int64)
    kw = np.arange(64, dtype=np.int64)
    dcq = zq[:, 0]
    px_dc_sum = 0
    bx = JPG_W // 8
    for b in range(nb):
        if (seed + b) % 4 == 0:
            r0, c0 = (b // bx) * 8, (b % bx) * 8
            px_dc_sum += int(img[r0:r0 + 8, c0:c0 + 8].sum())
    return {
        "dcq_sum": int(dcq.sum()),
        "dcq_weighted": int((dcq * binc).sum()),
        "acq_checksum": int((zq * kw).sum()),   # k=0 term weighs 0
        "acq_nnz": int((zq[:, 1:] != 0).sum()),
        "px_dc_sum": px_dc_sum,
    }


@query(
    "mm_decode_jpeg_image",
    oracle=f"""
    WITH blk AS (
        SELECT d.doc_id, b.b,
               {_JPG_DCQ.format(s='d.doc_id')} AS dcq,
               {_JPG_K1.format(s='d.doc_id')}  AS k1,
               {_JPG_A1.format(s='d.doc_id')}  AS a1,
               {_JPG_K2.format(s='d.doc_id')}  AS k2,
               {_JPG_A2.format(s='d.doc_id')}  AS a2
        FROM documents d,
             (SELECT unnest(generate_series(0, {JPG_BLOCKS - 1})) AS b) b
        WHERE d.doc_id % {JPG_SAMPLE_EVERY} = 0)
    SELECT doc_id, {JPG_W} AS width, {JPG_H} AS height,
           {JPG_BLOCKS} AS n_blocks,
           CAST(SUM(dcq) AS BIGINT)            AS dcq_sum,
           CAST(SUM(dcq * (b + 1)) AS BIGINT)  AS dcq_weighted,
           CAST(SUM(k1 * a1 + k2 * a2) AS BIGINT) AS acq_checksum,
           CAST(SUM(CASE WHEN a1 <> 0 THEN 1 ELSE 0 END
                    + CASE WHEN a2 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
                                               AS acq_nnz,
           CAST(SUM(CASE WHEN (doc_id + b) % 4 = 0
                         THEN 64 * (dcq * 2 + 128) ELSE 0 END) AS BIGINT)
                                               AS px_dc_sum
    FROM blk
    GROUP BY doc_id
    """,
)
def mm_decode_jpeg_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG decode — the DCT codec stub is gone. Stage 1
    synthesizes genuine JFIF files (real canonical-Huffman entropy
    coding: DC differential categories, AC run/size with ZRL and EOB,
    byte stuffing; see ``make_jpeg_bytes``); stage 2 DECODES them with
    ``jpegcodec.decode_jpeg_gray8`` — an actual baseline decoder:
    marker walk, DQT/DHT parsed from the file, T.81 F.2.2.3 canonical
    Huffman decode, dequantize, de-zigzag, numpy 8x8 IDCT, level shift,
    clamp. Emitted columns split by exactness class: the coefficient
    checksums (dcq_*, acq_*) pin the integer entropy pipeline
    bit-exactly; ``px_dc_sum`` pins the IDCT+rounding pixel pipeline on
    the DC-only blocks, whose flat IDCT output (dcq*2 + 128 under the
    Annex-K table's q0=16) is exactly representable — so the DuckDB
    oracle recomputes every column with zero float tolerance. Full-AC
    pixel output is verified in tests/test_units.py against an
    independent four-loop cosine IDCT. Both passes are the shared
    ``_media_objects`` / ``_per_object`` pair; the files never
    shuffle."""
    jpgs = _media_objects(spark, sf_dir, JPG_SAMPLE_EVERY, make_jpeg_bytes,
                          "jpg")
    return _per_object(
        jpgs, jpeg_stat_rows,
        "doc_id long, width int, height int, n_blocks int, dcq_sum long, "
        "dcq_weighted long, acq_checksum long, acq_nnz long, px_dc_sum long")


def jpeg_stat_rows(doc_id: int, raw: bytes) -> Iterator[tuple]:
    """Dimensions, block count and ``_jpeg_frame_stats`` (in its key
    order) of one decoded JPEG whose seed is its doc_id."""
    w, h, zq, img = decode_jpeg_gray8(raw)
    yield (doc_id, w, h, zq.shape[0],
           *_jpeg_frame_stats(zq, img, doc_id).values())


MJPG_N_FRAMES = 6              # JPEG frames per synthetic MJPEG clip
MJPG_SAMPLE_EVERY = 50         # build a clip for every 50th document


def make_mjpeg_avi_bytes(doc_id: int) -> bytes:
    """Build a REAL MJPEG AVI: the same RIFF 'AVI ' container shape as
    ``make_avi_bytes`` but with fourcc 'MJPG' (strh handler AND strf
    biCompression) and '00dc' compressed frame chunks whose payloads
    are genuine baseline JFIF files — frame f's quantized coefficients
    are ``jpeg_coeff_blocks(doc_id * 101 + f * 37)``."""
    W, H, N = JPG_W, JPG_H, MJPG_N_FRAMES

    def chunk(tag: bytes, data: bytes) -> bytes:
        out = tag + struct.pack("<I", len(data)) + data
        return out + (b"\x00" if len(data) % 2 else b"")

    def lst(list_type: bytes, payload: bytes) -> bytes:
        return chunk(b"LIST", list_type + payload)

    frames = [encode_jpeg_gray8(jpeg_coeff_blocks(doc_id * 101 + f * 37),
                                W, H)
              for f in range(N)]
    (mjpg,) = struct.unpack("<I", b"MJPG")
    avih = struct.pack("<14I", 40000, W * H * 25, 0, 0x10, N, 0, 1,
                       W * H, W, H, 0, 0, 0, 0)
    strh = struct.pack("<4s4sIHHIIIIIIIIhhhh", b"vids", b"MJPG", 0, 0, 0,
                       0, 1, 25, 0, N, W * H, 0, 0, 0, 0, W, H)
    strf = struct.pack("<IiiHHIIiiII", 40, W, H, 1, 8, mjpg, W * H,
                       0, 0, 0, 0)
    hdrl = lst(b"hdrl", chunk(b"avih", avih)
               + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi = lst(b"movi", b"".join(chunk(b"00dc", fr) for fr in frames))
    idx_entries, off = [], 4
    for fr in frames:
        idx_entries.append(struct.pack("<4sIII", b"00dc", 0x10, off, len(fr)))
        off += 8 + len(fr) + (len(fr) % 2)
    idx1 = chunk(b"idx1", b"".join(idx_entries))
    body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(body)) + body


@query(
    "mm_demux_mjpeg_avi",
    oracle=f"""
    WITH blk AS (
        SELECT d.doc_id, f.f, b.b,
               {_JPG_DCQ.format(s='d.doc_id * 101 + f.f * 37')} AS dcq,
               {_JPG_K1.format(s='d.doc_id * 101 + f.f * 37')}  AS k1,
               {_JPG_A1.format(s='d.doc_id * 101 + f.f * 37')}  AS a1,
               {_JPG_K2.format(s='d.doc_id * 101 + f.f * 37')}  AS k2,
               {_JPG_A2.format(s='d.doc_id * 101 + f.f * 37')}  AS a2
        FROM documents d,
             (SELECT unnest(generate_series(0, {MJPG_N_FRAMES - 1})) AS f) f,
             (SELECT unnest(generate_series(0, {JPG_BLOCKS - 1})) AS b) b
        WHERE d.doc_id % {MJPG_SAMPLE_EVERY} = 0)
    SELECT doc_id, CAST(f AS INT) AS frame_idx,
           {JPG_W} AS width, {JPG_H} AS height,
           CAST(SUM(dcq) AS BIGINT)               AS dcq_sum,
           CAST(SUM(k1 * a1 + k2 * a2) AS BIGINT) AS acq_checksum,
           CAST(SUM(CASE WHEN a1 <> 0 THEN 1 ELSE 0 END
                    + CASE WHEN a2 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
                                                  AS acq_nnz,
           CAST(SUM(CASE WHEN (doc_id * 101 + f * 37 + b) % 4 = 0
                         THEN 64 * (dcq * 2 + 128) ELSE 0 END) AS BIGINT)
                                                  AS px_dc_sum
    FROM blk
    GROUP BY doc_id, f
    """,
)
def mm_demux_mjpeg_avi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END compressed video: REAL container demux handing off to
    a REAL DCT codec at the '00dc' seam. ``_media_objects`` synthesizes
    genuine MJPEG AVI files (fourcc 'MJPG' in both strh and strf,
    '00dc' chunks carrying real baseline JFIF frames; see
    ``make_mjpeg_avi_bytes``); ``_per_object`` demuxes them with the
    same ``demux_avi_frames`` RIFF walker the raw-DIB query uses — the
    compressed fourcc changes NOTHING about the container walk, which
    is the point of the seam — then decodes every frame with
    ``jpegcodec.decode_jpeg_gray8`` and emits the per-frame
    integer-exact stats (coefficient checksums + DC-only pixel sum)
    that the analytic oracle recomputes from the generating arithmetic.
    The files never shuffle."""
    avis = _media_objects(spark, sf_dir, MJPG_SAMPLE_EVERY,
                          make_mjpeg_avi_bytes, "avi")
    return _per_object(
        avis, mjpeg_frame_rows,
        "doc_id long, frame_idx int, width int, height int, dcq_sum long, "
        "acq_checksum long, acq_nnz long, px_dc_sum long")


def mjpeg_frame_rows(doc_id: int, raw: bytes) -> Iterator[tuple]:
    """Per-frame coefficient checksums and DC-only pixel sum of one
    demuxed MJPEG AVI; frame f's seed is doc_id * 101 + f * 37."""
    w, h, n, frames = demux_avi_frames(raw)
    for f in range(n):
        fw, fh, zq, img = decode_jpeg_gray8(frames[f])
        if (fw, fh) != (w, h):
            raise ValueError("frame dims disagree with container header")
        s = _jpeg_frame_stats(zq, img, doc_id * 101 + f * 37)
        yield (doc_id, f, fw, fh, s["dcq_sum"], s["acq_checksum"],
               s["acq_nnz"], s["px_dc_sum"])
