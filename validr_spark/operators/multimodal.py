"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The Spark-side plumbing — schema, Arrow batch shape, mapInPandas signatures,
size-aware repartitioning — is real and tested, and so is the codegen
header parse (``image_dimensions`` / ``image_audit``).  No media is
decoded: this package ships no image/audio/video codec, so the features
of ``extract_features`` and the frames of ``sample_frames`` are
deterministic hash-derived placeholders (stable across runs/executors),
not decoded content.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as st

from ._barrier import arrow_map

MEDIA_SCHEMA = st.StructType([
    st.StructField("media_id", st.StringType(), False),
    st.StructField("kind", st.StringType()),       # image | audio | video
    st.StructField("content", st.BinaryType()),    # opaque encoded bytes
    st.StructField("meta", st.StructType([
        st.StructField("format", st.StringType()),
        st.StructField("width", st.IntegerType()),
        st.StructField("height", st.IntegerType()),
        st.StructField("duration_ms", st.IntegerType()),
    ])),
])

FEATURE_DIM = 64

_FEATURES_SCHEMA = (
    "media_id string, kind string, n_bytes long, feature array<float>"
)


def _fake_feature(buf: bytes, dim: int = FEATURE_DIM) -> np.ndarray:
    """Deterministic stand-in for a decoded-media embedding: bytes → hash →
    unit vector.  Replace with a real decode+model call in production."""
    import hashlib

    h = hashlib.blake2b(buf or b"", digest_size=dim)
    v = np.frombuffer(h.digest(), dtype=np.uint8).astype(np.float32)
    v = v - v.mean()
    n = np.linalg.norm(v)
    return v / n if n else v


def extract_features(df: DataFrame) -> DataFrame:
    """Per-row feature vectors via mapInPandas (Arrow batches).

    The features are hash-derived placeholders (``_fake_feature``: blake2b
    of the payload as a unit vector), not a decoded-media embedding.
    Binary payloads skew partition sizes; callers should repartition by a
    size-aware key first (see ``repartition_by_size``) so one huge video
    doesn't stall a task.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                _fake_feature(buf).tolist() if buf is not None else None
                for buf in pdf["content"]
            ]
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "n_bytes": pdf["content"].map(
                    lambda b: len(b) if b is not None else 0),
                "feature": feats,
            })

    return df.mapInPandas(run, schema=_FEATURES_SCHEMA)


def repartition_by_size(df: DataFrame, content_col: str = "content",
                        target_bytes: int = 256 << 20,
                        coarse_groups: int = 256) -> DataFrame:
    """Greedy size-aware repartition: rows are packed into buckets by a
    cumulative BYTE sum (distributed prefix-sum), so per-task payload is
    bounded by ``target_bytes`` + one row — regardless of row-count skew
    (a count-balanced repartition would happily put a 4 GB video in a
    normal-sized bucket).

    Thin wrapper over the generic distributed prefix-sum packer
    (``packing.repartition_by_weight``) with weight = payload bytes and
    deterministic content-hash order.
    """
    from .packing import repartition_by_weight

    return repartition_by_weight(
        df, F.octet_length(content_col), target_bytes, coarse_groups,
        order=F.xxhash64(F.col(content_col)))


def make_fake_media(spark, n_rows: int = 100, seed: int = 42) -> DataFrame:
    """Deterministic synthetic media table for tests.

    Image rows carry a REAL PNG signature + IHDR (width/height derived
    from the id, built JVM-side with ``unhex``) ahead of the hash bytes,
    so :func:`image_dimensions` parses them and the parsed dimensions
    provably match ``meta`` — the same invariant a real ingest would
    check.  Audio/video stay opaque hash bytes.
    """
    wid = (16 + (F.col("id") % 64) * 16).cast("int")
    hgt = (16 + (F.col("id") % 48) * 16).cast("int")
    png_header = F.unhex(F.concat(
        F.lit("89504E470D0A1A0A" "0000000D" "49484452"),
        F.lpad(F.hex(wid), 8, "0"), F.lpad(F.hex(hgt), 8, "0"),
        F.lit("0806000000")))
    payload = F.sha2(
        F.concat(F.lit(str(seed)), F.col("id").cast("string")), 512
    ).cast("binary")
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("id") % 3 + 1).cast("int"))
    is_img = kind == "image"
    return spark.range(n_rows).select(
        F.format_string("m-%06d", F.col("id")).alias("media_id"),
        kind.alias("kind"),
        F.when(is_img, F.concat(png_header, payload))
        .otherwise(payload).alias("content"),
        F.struct(F.when(is_img, "png").otherwise("raw").alias("format"),
                 F.when(is_img, wid).alias("width"),
                 F.when(is_img, hgt).alias("height"),
                 (F.col("id") % 1000).cast("int").alias("duration_ms"))
        .alias("meta"),
    )


_FRAMES_SCHEMA = (
    "media_id string, frame_idx int, ts_ms int, frame binary"
)


def sample_frames(df: DataFrame, every_ms: int = 1000,
                  max_frames: int = 64) -> DataFrame:
    """Frame-sampling plumbing for video rows: one OUTPUT row per sampled
    frame at ``every_ms`` intervals (capped at ``max_frames`` per video —
    never let one long video explode a task's output).

    The Spark shape is the real thing — row-expanding mapInPandas whose
    Arrow output batch is larger than its input batch, frame timestamps
    from the typed metadata.  The frame bytes are hash-derived
    placeholders (blake2b of ``media_id/frame_idx``), not decoded video.

    Non-video rows and NULL/zero durations produce no frames (a sampler
    must not invent frames for stills).
    """
    if every_ms <= 0:
        raise ValueError("every_ms must be positive")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            ids, idxs, tss, frames = [], [], [], []
            for mid, kind, dur in zip(pdf["media_id"], pdf["kind"],
                                      pdf["meta"].map(
                                          lambda m: (m or {}).get(
                                              "duration_ms"))):
                if kind != "video" or not dur or dur <= 0:
                    continue
                n = min(int(dur) // every_ms + 1, max_frames)
                for i in range(n):
                    ids.append(mid)
                    idxs.append(i)
                    tss.append(i * every_ms)
                    frames.append(hashlib.blake2b(
                        f"{mid}/{i}".encode(), digest_size=32).digest())
            yield pd.DataFrame({
                "media_id": pd.Series(ids, dtype="object"),
                "frame_idx": pd.Series(idxs, dtype="int32"),
                "ts_ms": pd.Series(tss, dtype="int32"),
                "frame": pd.Series(frames, dtype="object"),
            })

    return df.mapInPandas(run, schema=_FRAMES_SCHEMA)


def _be(col, pos: int, nbytes: int):
    """Big-endian unsigned int from bytes [pos, pos+nbytes) (1-based pos):
    hex() the binary slice, conv() base 16 -> 10.  Pure codegen."""
    return F.conv(F.hex(F.substring(col, pos, nbytes)), 16, 10).cast("long")


def _le(col, pos: int, nbytes: int):
    """Little-endian unsigned int: sum of per-byte terms.  Pure codegen."""
    total = None
    for i in range(nbytes):
        term = _be(col, pos + i, 1) * (1 << (8 * i))
        total = term if total is None else total + term
    return total


def image_dimensions(df: DataFrame, content_col: str = "content"):
    """struct<format, width, height> parsed from the encoded bytes'
    HEADER — no codec library touched, so this runs in the sandbox and,
    more importantly, entirely inside whole-stage codegen (hex/conv
    arithmetic on binary slices): dimension screening of a billion
    images costs a scan, not an Arrow round-trip into PIL.

    Formats with fixed-offset dimensions are parsed exactly:

    - PNG  — IHDR width/height, big-endian u32 at bytes 17/21
      (ISO/IEC 15948 §11.2.2);
    - GIF  — logical-screen width/height, little-endian u16 at 7/9
      (GIF89a spec §18);
    - BMP  — BITMAPINFOHEADER width/height, little-endian i32 at 19/23
      (height's sign bit = top-down flag, abs() taken).

    JPEG dimensions live in a variable-position SOF marker — detected
    (``format='jpeg'``) but not parsed here; :func:`jpeg_dimensions`
    scans for it.  Unknown magic or a header shorter than the needed
    offsets yields NULLs — feed that into the violations path (an
    "image" whose bytes have no image magic is a corrupt row, and this
    is how it surfaces).
    """
    c = F.col(content_col)
    n = F.octet_length(c)
    head = F.hex(F.substring(c, 1, 8))
    is_png = head == "89504E470D0A1A0A"
    is_gif = head.startswith("474946383761") | head.startswith("474946383961")
    # BMP dimension offsets depend on the DIB header size at byte 15:
    # 40 (BITMAPINFOHEADER) and the 52/56/108/124 extensions share i32
    # width/height at 19/23; the OS/2 12-byte BITMAPCOREHEADER stores
    # u16 at 19/21.  Anything else (or a truncated header) -> NULLs.
    dib = _le(c, 15, 4)
    is_bmp_info = (head.startswith("424D") & (n >= 26)
                   & dib.isin(40, 52, 56, 108, 124))
    is_bmp_core = head.startswith("424D") & (n >= 22) & (dib == 12)
    is_jpeg = head.startswith("FFD8FF")
    fmt = (F.when(is_png & (n >= 24), "png")
           .when(is_gif & (n >= 10), "gif")
           .when(is_bmp_info | is_bmp_core, "bmp")
           .when(is_jpeg, "jpeg"))
    width = (F.when(is_png & (n >= 24), _be(c, 17, 4))
             .when(is_gif & (n >= 10), _le(c, 7, 2))
             .when(is_bmp_info, _le(c, 19, 4))
             .when(is_bmp_core, _le(c, 19, 2)))
    height = (F.when(is_png & (n >= 24), _be(c, 21, 4))
              .when(is_gif & (n >= 10), _le(c, 9, 2))
              # BITMAPINFOHEADER height is signed; negative = top-down
              .when(is_bmp_info,
                    F.abs(F.when(_le(c, 23, 4) >= (1 << 31),
                                 _le(c, 23, 4) - (1 << 32))
                          .otherwise(_le(c, 23, 4))))
              .when(is_bmp_core, _le(c, 21, 2)))
    return F.struct(fmt.alias("format"), width.cast("int").alias("width"),
                    height.cast("int").alias("height"))


def image_audit(df: DataFrame, content_col: str = "content",
                kind_col: str = "kind") -> DataFrame:
    """Corpus image-header report: per detected format — count, distinct
    dimension count, min/max width/height, plus the ``bad_header`` row
    (rows whose ``kind`` says image but whose bytes carry no known image
    magic — corrupt or mislabeled).  One codegen scan + a |formats|-row
    shuffle."""
    dims = image_dimensions(df, content_col)
    imgs = (df.filter(F.col(kind_col) == "image")
            .select(dims.alias("d"))
            .select(F.coalesce(F.col("d.format"), F.lit("bad_header"))
                    .alias("format"), "d.width", "d.height"))
    return (imgs.groupBy("format")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("width").alias("min_width"),
                 F.max("width").alias("max_width"),
                 F.min("height").alias("min_height"),
                 F.max("height").alias("max_height"))
            .orderBy("format"))


def detect_media_kind(col) -> "F.Column":
    """Modality router from magic bytes alone: 'image' (PNG/GIF/BMP/JPEG/
    WebP), 'audio' (WAV/FLAC/OGG/MP3), 'video' (MP4/Matroska/AVI), else
    NULL — the cheap pre-partition step before modality-specific
    pipelines, and the cross-check against a declared ``kind`` column
    (mismatch = mislabeled or corrupt row).  Pure codegen prefix tests.
    """
    col = F.col(col) if isinstance(col, str) else col
    head = F.hex(F.substring(col, 1, 12))
    img = (head.startswith("89504E470D0A1A0A")
           | head.startswith("474946383761") | head.startswith("474946383961")
           | head.startswith("424D") | head.startswith("FFD8FF")
           | (head.startswith("52494646")
              & (F.substring(head, 17, 8) == "57454250")))   # RIFF..WEBP
    audio = ((head.startswith("52494646")
              & (F.substring(head, 17, 8) == "57415645"))    # RIFF..WAVE
             | head.startswith("664C6143")                   # fLaC
             | head.startswith("4F676753")                   # OggS
             | head.startswith("494433")                     # ID3 (mp3)
             | head.startswith("FFFB") | head.startswith("FFF3"))
    video = ((F.substring(head, 9, 8) == "66747970")         # ....ftyp mp4
             | head.startswith("1A45DFA3")                   # Matroska/WebM
             | (head.startswith("52494646")
                & (F.substring(head, 17, 8) == "41564920")))  # RIFF..AVI
    return (F.when(img, "image").when(audio, "audio")
            .when(video, "video"))


def wav_properties(df: DataFrame, content_col: str = "content"):
    """struct<sample_rate, channels, bits_per_sample, duration_ms> parsed
    from a CANONICAL WAV header (RIFF/WAVE with the fmt chunk first at
    byte 13 — how virtually every encoder writes it); non-canonical
    chunk orders yield NULLs (they need a full RIFF chunk walk).  Same
    codegen hex/conv arithmetic as :func:`image_dimensions`; duration
    comes from the data-chunk size at byte 41 over the byte rate.
    """
    c = F.col(content_col)
    n = F.octet_length(c)
    riff_wave = ((F.hex(F.substring(c, 1, 4)) == "52494646")
                 & (F.hex(F.substring(c, 9, 8)) == "57415645666D7420"))
    fmt_size = _le(c, 17, 4)
    # fmt chunk is 16 bytes for plain PCM, 18 for the cbSize=0 variant
    # virtually every other encoder writes; the data chunk header then
    # sits right after it — VERIFY its magic, or a LIST/fact chunk in
    # that slot would make the size field garbage
    canon16 = (riff_wave & (fmt_size == 16) & (n >= 44)
               & (F.hex(F.substring(c, 37, 4)) == "64617461"))
    canon18 = (riff_wave & (fmt_size == 18) & (n >= 46)
               & (F.hex(F.substring(c, 39, 4)) == "64617461"))
    canonical = canon16 | canon18
    rate = _le(c, 25, 4)
    channels = _le(c, 23, 2)
    bits = _le(c, 35, 2)
    byte_rate = _le(c, 29, 4)
    data_sz = F.when(canon16, _le(c, 41, 4)).when(canon18, _le(c, 43, 4))
    dur = F.when(byte_rate > 0,
                 F.round(data_sz * 1000.0 / byte_rate).cast("int"))
    return F.struct(
        F.when(canonical, rate).cast("int").alias("sample_rate"),
        F.when(canonical, channels).cast("int").alias("channels"),
        F.when(canonical, bits).cast("int").alias("bits_per_sample"),
        F.when(canonical, dur).cast("int").alias("duration_ms"))


def jpeg_dimensions(df: DataFrame, content_col: str = "content",
                    max_scan_bytes: int = 65536) -> DataFrame:
    """(everything in ``df``) + struct<width, height> for JPEG rows,
    parsed by walking the marker chain to the SOFn frame header.

    The marker chain has VARIABLE offsets (EXIF/ICC segments of
    arbitrary length precede the frame), so this is the one image format
    whose dimensions genuinely need imperative scanning — an
    Arrow-batched pandas UDF over at most ``max_scan_bytes`` of each blob
    (headers live in the first few KB; the cap keeps a 100 MB
    motion-JPEG from shipping whole).  The JPEG magic test sits in the
    UDF's argument, so a non-JPEG blob reaches Python as NULL and comes
    back ``(NULL, NULL)`` (PERF.md Finding 22); the fixed-offset formats
    are :func:`image_dimensions`' job, JVM-side.
    """
    import struct as _struct

    def sof(buf: bytes):
        i, nb = 2, len(buf)
        while i + 9 <= nb:
            if buf[i] != 0xFF:
                i += 1
                continue
            marker = buf[i + 1]
            if marker == 0xFF:
                i += 1          # 0xFF fill byte (T.81 B.1.1.2)
                continue
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2          # standalone markers, no length
                continue
            if marker in (0xDA, 0xD9):
                break           # start-of-scan / end-of-image
            if marker == 0x00:
                i += 2          # byte-stuffed 0xFF00: literal data
                continue
            (seg_len,) = _struct.unpack(">H", buf[i + 2:i + 4])
            # SOF0-15 except DHT(C4)/DAC(CC) carry dimensions
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xCC):
                h, w = _struct.unpack(">HH", buf[i + 5:i + 9])
                return w, h
            i += 2 + seg_len
        return None, None

    c = F.col(content_col)
    jpeg = F.hex(F.substring(c, 1, 3)) == "FFD8FF"
    dims = arrow_map(
        lambda s: pd.DataFrame([sof(b) for b in s],
                               columns=["width", "height"]),
        "struct<width:int, height:int>",
        F.when(jpeg, F.substring(c, 1, max_scan_bytes)))
    return df.withColumn("jpeg_dims", dims)
