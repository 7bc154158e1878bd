"""Multimodal column plumbing (SURVEY north-star: image/audio/video as
opaque binary columns with typed metadata).

Both codec seams carry one REAL format, proving pluggability:
``decode_audio`` decodes PCM WAV (stdlib ``wave``) and ``decode_image``
decodes 8-bit gray/RGB/RGBA/palette PNG (stdlib ``zlib`` — header parse,
inflate, scanline un-filter incl. Adam7), each with a sample-exact
roundtrip test. Every other format raises a clearly-marked
NotImplementedError, and the registered pipeline queries run with
``fake_decode_meta`` — a deterministic stand-in that derives metadata from
the md5 of the bytes (SQL-oracle checkable, which a real codec's output
would not be). What IS real and tested is everything Spark-side: the
binary column, the typed metadata schema, Arrow-batched ``mapInPandas``
with correct batch iteration, and the partition-parallel plan (no driver
loops, no collect).

At 100 TB the exact same shape holds: binary payloads stay columnar in
parquet, mapInPandas streams Arrow batches through the Python worker, and
the metadata join back is free because extraction is row-aligned.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..registry import query
from .dedup import CORPUS_SQL

META_SCHEMA = (
    "doc_id bigint, n_bytes bigint, fmt string, width bigint, height bigint, "
    "n_frames bigint, thumb_width bigint, thumb_height bigint"
)

_FORMATS = ("png", "jpeg", "webp")

# decode_image's schema: META_SCHEMA plus the recovered sample bytes (the
# roundtrip-proof column, same role as the PCM frames in the WAV seam)
IMAGE_META_SCHEMA = META_SCHEMA + ", decoded_pixels binary"


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def decode_image(content: bytes) -> dict:
    """REAL image decode for PNG via stdlib ``zlib`` — PNG is just
    length-prefixed chunks + a zlib-deflated, per-scanline-filtered pixel
    stream, so no codec library is needed: parse IHDR for dimensions,
    inflate the IDAT stream, and un-filter scanlines (filter types 0-4)
    back to raw samples. Returns the same dict-per-row contract as
    fake_decode_meta through the identical extract_meta mapInPandas
    harness; ``decoded_pixels`` carries the recovered sample bytes so
    tests can assert a sample-exact roundtrip (mirroring the WAV proof in
    decode_audio). Any other format, and the documented PNG subset
    guards, raise NotImplementedError."""
    import struct
    import zlib

    if not content.startswith(_PNG_SIG):
        raise NotImplementedError(
            "only PNG decodable in this environment (stdlib zlib); use "
            "fake_decode_meta for plumbing tests"
        )
    pos, width = len(_PNG_SIG), None
    height = bit_depth = color_type = None
    idat = b""
    palette = trns = None
    while pos + 8 <= len(content):
        (clen,), ctype = struct.unpack(">I", content[pos:pos + 4]), content[
            pos + 4:pos + 8
        ]
        data = content[pos + 8:pos + 8 + clen]
        if ctype == b"IHDR":
            if len(data) < 13:
                raise ValueError("malformed PNG: truncated IHDR")
            (
                width,
                height,
                bit_depth,
                color_type,
                compression,
                filter_method,
                interlace,
            ) = struct.unpack(">IIBBBBB", data[:13])
            # PNG §11.2.2: zero width/height is invalid — fail as
            # malformed input, not via max() on an empty index plane
            # downstream
            if width == 0 or height == 0:
                raise ValueError("malformed PNG: zero-dimension image")
            # the un-filter assumes zlib/filter-0 coding; interlace may
            # be 0 (sequential) or 1 (Adam7 — the seven passes unfilter
            # independently and scatter to screen order)
            if compression != 0 or filter_method != 0 or interlace > 1:
                raise NotImplementedError(
                    "PNG subset: zlib-deflate, filter method 0, "
                    "interlace 0 or 1 (Adam7)"
                )
        elif ctype == b"PLTE":
            palette = data
        elif ctype == b"tRNS":
            trns = data
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + clen  # len + type + data + crc
    if width is None or not idat:
        raise ValueError("malformed PNG: missing IHDR/IDAT")
    if color_type == 3:
        # indexed-color: depths 1/2/4/8; tRNS supplies per-entry
        # alpha for the leading palette entries, 255 elsewhere
        if bit_depth not in (1, 2, 4, 8):
            raise NotImplementedError("PNG subset: palette depth 1/2/4/8")
        if palette is None or len(palette) % 3:
            raise ValueError("malformed PNG: palette image without PLTE")
        try:
            inflated = zlib.decompress(idat)
        except zlib.error as exc:
            raise ValueError(
                "malformed PNG: corrupt deflate stream") from exc
        idx = _png_index_plane(
            inflated, width, height, bit_depth, interlace
        )
        n_entries = len(palette) // 3
        # `idx` is empty for a degenerate 0x0 image: skip the
        # range check rather than let max() raise its bare empty-sequence
        # error — zero pixels reference no palette entry
        if idx and max(idx) >= n_entries:
            raise ValueError("malformed PNG: palette index out of range")
        nch = 4 if trns is not None else 3
        pixels = bytearray(width * height * nch)
        for i, v in enumerate(idx):
            pixels[i * nch:i * nch + 3] = palette[v * 3:v * 3 + 3]
            if nch == 4:
                pixels[i * nch + 3] = trns[v] if v < len(trns) else 255
        pixels = bytes(pixels)
        return {
            "n_bytes": len(content),
            "fmt": "png",
            "width": width,
            "height": height,
            "n_frames": 1,
            "thumb_width": min(width, 256),
            "thumb_height": min(height, 256),
            "decoded_pixels": pixels,
        }
    if bit_depth != 8 or color_type not in (0, 2, 6):
        raise NotImplementedError(
            "PNG subset: 8-bit gray/RGB/RGBA or 1/2/4/8-bit palette (like "
            "the WAV seam, one real format proves pluggability)"
        )
    nch = {0: 1, 2: 3, 6: 4}[color_type]
    try:
        raw = zlib.decompress(idat)
    except zlib.error as exc:
        raise ValueError("malformed PNG: corrupt deflate stream") from exc
    if interlace == 0:
        pixels, _ = _png_unfilter(raw, 0, width, height, nch)
    else:
        # Adam7 (PNG spec §8.2): seven reduced images, each filtered
        # independently (the filter's "previous scanline" never crosses a
        # pass boundary), concatenated in the single zlib stream; absent
        # passes (zero width or height) contribute NO bytes at all.
        # Unfilter each pass, then scatter its pixels to screen order.
        pixels = bytearray(width * height * nch)
        off = 0
        for x0, y0, dx, dy in _ADAM7_PASSES:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            sub, off = _png_unfilter(raw, off, pw, ph, nch)
            for j in range(ph):
                src = j * pw * nch
                y = y0 + j * dy
                for i in range(pw):
                    dst = (y * width + x0 + i * dx) * nch
                    pixels[dst:dst + nch] = sub[src:src + nch]
                    src += nch
        pixels = bytes(pixels)
    return {
        "n_bytes": len(content),
        "fmt": "png",
        "width": width,
        "height": height,
        "n_frames": 1,
        "thumb_width": min(width, 256),
        "thumb_height": min(height, 256),
        "decoded_pixels": bytes(pixels),
    }


# Adam7 pass grid: (x_start, y_start, x_step, y_step) per PNG spec §8.2.
_ADAM7_PASSES = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_unfilter(raw: bytes, off: int, width: int, height: int,
                  nch: int, bit_depth: int = 8) -> tuple[bytes, int]:
    """Reverse PNG filter types 0-4 over ``height`` scanlines of
    ``ceil(width * nch * bit_depth / 8)`` bytes starting at ``raw[off]``;
    returns (filtered-out scanline bytes, next offset). The
    previous-scanline state starts at zero — each Adam7 pass (and the
    whole image when non-interlaced) filters independently. For
    bit_depth < 8 the filter distance is one byte (PNG spec §9: bpp
    rounds up to one byte) and the returned bytes stay bit-packed."""
    stride = (width * nch * bit_depth + 7) // 8
    bpp = max(1, nch * bit_depth // 8)
    pixels = bytearray()
    prev = bytearray(stride)
    for _ in range(height):
        if off >= len(raw):
            raise ValueError("malformed PNG: truncated scanline data")
        ftype = raw[off]
        line = bytearray(raw[off + 1:off + 1 + stride])
        if len(line) != stride:
            raise ValueError("malformed PNG: truncated scanline data")
        off += 1 + stride
        for x in range(stride):
            a = line[x - bpp] if x >= bpp else 0
            b = prev[x]
            if ftype == 1:  # Sub
                line[x] = (line[x] + a) & 0xFF
            elif ftype == 2:  # Up
                line[x] = (line[x] + b) & 0xFF
            elif ftype == 3:  # Average
                line[x] = (line[x] + (a + b) // 2) & 0xFF
            elif ftype == 4:  # Paeth
                c = prev[x - bpp] if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                line[x] = (line[x] + pred) & 0xFF
        pixels += line
        prev = line
    return bytes(pixels), off


def _png_expand_bits(line: bytes, npix: int, depth: int) -> bytes:
    """Unpack MSB-first ``depth``-bit palette indices from a packed
    scanline to one byte per pixel (depth 8 passes through)."""
    if depth == 8:
        return line[:npix]
    out = bytearray(npix)
    per_byte = 8 // depth
    mask = (1 << depth) - 1
    for i in range(npix):
        b = line[i // per_byte]
        shift = 8 - depth * (i % per_byte + 1)
        out[i] = (b >> shift) & mask
    return bytes(out)


def _png_index_plane(raw: bytes, width: int, height: int, depth: int,
                     interlace: int) -> bytes:
    """Decode the filtered (possibly Adam7) index stream of a palette
    PNG to one byte per pixel in screen order. Sub-byte rows stay
    bit-packed through the filter (spec §9) and expand per scanline —
    per Adam7 PASS row when interlaced, since each pass packs its own
    reduced-width rows independently."""
    if interlace == 0:
        packed, _ = _png_unfilter(raw, 0, width, height, 1, depth)
        stride = (width * depth + 7) // 8
        out = bytearray()
        for y in range(height):
            out += _png_expand_bits(
                packed[y * stride:(y + 1) * stride], width, depth
            )
        return bytes(out)
    out = bytearray(width * height)
    off = 0
    for x0, y0, dx, dy in _ADAM7_PASSES:
        pw = (width - x0 + dx - 1) // dx
        ph = (height - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue
        sub, off = _png_unfilter(raw, off, pw, ph, 1, depth)
        stride = (pw * depth + 7) // 8
        for j in range(ph):
            row = _png_expand_bits(
                sub[j * stride:(j + 1) * stride], pw, depth
            )
            y = y0 + j * dy
            for i in range(pw):
                out[y * width + x0 + i * dx] = row[i]
    return bytes(out)


def encode_png(
    pixels: bytes, width: int, height: int, nch: int = 3,
    interlace: bool = False,
) -> bytes:
    """Minimal PNG encoder (stdlib zlib, filter 0) — the test-side twin of
    decode_image, so the roundtrip proof needs no external fixture.
    ``interlace=True`` writes Adam7 pass order (r8): passes extracted on
    the same grid the decoder scatters back from, each pass's scanlines
    filtered (type 0) independently — libpng decodes these byte-exactly,
    which is the cross-check that the pass extraction isn't a mirrored
    bug."""
    import struct
    import zlib

    color_type = {1: 0, 3: 2, 4: 6}[nch]

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(
        ">IIBBBBB", width, height, 8, color_type, 0, 0, 1 if interlace else 0
    )
    stride = width * nch
    if not interlace:
        raw = b"".join(
            b"\x00" + pixels[y * stride:(y + 1) * stride]
            for y in range(height)
        )
    else:
        parts = []
        for x0, y0, dx, dy in _ADAM7_PASSES:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            for j in range(ph):
                y = y0 + j * dy
                row = bytearray(b"\x00")
                for i in range(pw):
                    src = (y * width + x0 + i * dx) * nch
                    row += pixels[src:src + nch]
                parts.append(bytes(row))
        raw = b"".join(parts)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


AUDIO_META_SCHEMA = (
    "doc_id bigint, n_bytes bigint, fmt string, n_channels bigint, "
    "sample_width bigint, frame_rate bigint, n_frames bigint, "
    "duration_ms bigint"
)


def decode_audio(content: bytes) -> dict:
    """REAL audio decode for PCM WAV via stdlib ``wave`` — the proof that
    the NotImplementedError codec seam is genuinely pluggable: same
    dict-per-row contract as fake_decode_meta, driven through the
    identical extract_meta mapInPandas harness. Other payloads (FLAC, MP3
    etc.) raise, same as decode_image."""
    import io
    import wave as _wave

    if not content.startswith(b"RIFF"):
        raise NotImplementedError(
            "only PCM WAV decodable in this environment (stdlib wave)"
        )
    with _wave.open(io.BytesIO(content)) as w:
        n_frames = w.getnframes()
        rate = w.getframerate()
        return {
            "n_bytes": len(content),
            "fmt": "wav",
            "n_channels": w.getnchannels(),
            "sample_width": w.getsampwidth(),
            "frame_rate": rate,
            "n_frames": n_frames,
            "duration_ms": (n_frames * 1000) // rate if rate else 0,
        }


def fake_decode_meta(content: bytes) -> dict:
    """Deterministic stand-in decoder: metadata derived from md5(content).
    Matches the SQL oracle exactly (same 60-bit md5-prefix integer)."""
    h = int(hashlib.md5(content).hexdigest()[:15], 16)
    width = 64 + h % 960
    height = 64 + (h >> 8) % 960
    return {
        "n_bytes": len(content),
        "fmt": _FORMATS[h % 3],
        "width": width,
        "height": height,
        "n_frames": 1 + h % 16,
        "thumb_width": min(width, 256),
        "thumb_height": min(height, 256),
    }


def extract_meta(
    binary_df: DataFrame, decoder=fake_decode_meta, schema: str = META_SCHEMA
) -> DataFrame:
    """Arrow-batched metadata extraction over a (doc_id, content: binary)
    frame — the mapInPandas harness any real decoder plugs into. ``decoder``
    is bytes -> dict matching ``schema`` minus doc_id; decode_audio (real,
    stdlib wave) and fake_decode_meta both satisfy it."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [decoder(c) for c in pdf["content"]]
            out = pd.DataFrame(metas)
            out.insert(0, "doc_id", pdf["doc_id"].values)
            yield out

    return binary_df.mapInPandas(run, schema=schema)


# --------------------------------------------------------------------------
# The full plumbing as an oracle-checked query: text -> binary column ->
# mapInPandas fake-decode -> typed metadata. The oracle recomputes the same
# md5-derived metadata in SQL, proving the Python batch path is lossless and
# deterministic.
@query(
    "dmm_binary_decode_meta",
    oracle="""
        SELECT doc_id,
               octet_length(encode(text)) AS n_bytes,
               CASE h % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                          ELSE 'webp' END AS fmt,
               64 + h % 960 AS width,
               64 + (h >> 8) % 960 AS height,
               1 + h % 16 AS n_frames,
               LEAST(64 + h % 960, 256) AS thumb_width,
               LEAST(64 + (h >> 8) % 960, 256) AS thumb_height
        FROM (
            SELECT doc_id, text,
                   CAST(CAST('0x' || substr(md5(text), 1, 15) AS UBIGINT) AS BIGINT) AS h
            FROM documents WHERE text <> ''
        ) d
    """,
)
def dmm_binary_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("text") != "")
    binary = d.select("doc_id", F.encode("text", "utf-8").alias("content"))
    return extract_meta(binary)


def _binary_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("text") != "")
    return d.select("doc_id", F.encode("text", "utf-8").alias("content"))


# --------------------------------------------------------------------------
# Frame sampling: video-like binary -> every 4th frame as its OWN row.
# Exercises the row-EXPLODING mapInPandas shape (output batch longer than
# input batch) that real frame extraction needs; the fake "frame" is the
# md5 chain md5(md5(content) || '-' || i), so the oracle can rebuild it.
FRAME_SCHEMA = "doc_id bigint, frame_idx bigint, frame_hash bigint"
FRAME_STRIDE = 4


def sample_frames(binary_df: DataFrame) -> DataFrame:
    """mapInPandas harness for frame sampling: one output row per sampled
    frame. A real decoder replaces the md5 chain with actual frame bytes."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, hashes = [], [], []
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                hhex = hashlib.md5(content).hexdigest()
                n_frames = 1 + int(hhex[:15], 16) % 16
                for i in range(0, n_frames, FRAME_STRIDE):
                    key = f"{hhex}-{i}".encode()
                    ids.append(doc_id)
                    idxs.append(i)
                    hashes.append(int(hashlib.md5(key).hexdigest()[:15], 16))
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "frame_hash": hashes}
            )

    return binary_df.mapInPandas(run, schema=FRAME_SCHEMA)


@query(
    "dmm_frame_sample",
    oracle=f"""
        SELECT doc_id, i AS frame_idx,
               CAST(CAST('0x' || substr(md5(hhex || '-' || CAST(i AS VARCHAR)),
                                        1, 15) AS UBIGINT) AS BIGINT)
                   AS frame_hash
        FROM (
            SELECT doc_id, md5(text) AS hhex,
                   unnest(range(0,
                                1 + CAST(CAST('0x' || substr(md5(text), 1, 15)
                                         AS UBIGINT) AS BIGINT) % 16,
                                {FRAME_STRIDE})) AS i
            FROM documents WHERE text <> ''
        ) frames
    """,
)
def dmm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sample_frames(_binary_docs(spark, sf_dir))


# --------------------------------------------------------------------------
# Resize: decode dims (fake) then aspect-preserving fit into a 256x256 box,
# all inside the Python batch path — the shape a PIL/opencv thumbnailer
# plugs into. Scale math is exact-rational (integer cross-multiplication),
# so the oracle matches bit-for-bit with no float-rounding hazard.
RESIZE_SCHEMA = (
    "doc_id bigint, width bigint, height bigint, out_width bigint, "
    "out_height bigint"
)
FIT_BOX = 256


def resize_fit(binary_df: DataFrame) -> DataFrame:
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                m = fake_decode_meta(content)
                w, h = m["width"], m["height"]
                # aspect-fit with integer arithmetic: cap the longer edge at
                # FIT_BOX, floor-scale the shorter edge by the same ratio.
                if w >= h:
                    ow = min(w, FIT_BOX)
                    oh = h * ow // w
                else:
                    oh = min(h, FIT_BOX)
                    ow = w * oh // h
                rows.append((doc_id, w, h, ow, oh))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "width", "height", "out_width", "out_height"],
            )

    return binary_df.mapInPandas(run, schema=RESIZE_SCHEMA)


@query(
    "dmm_resize_fit",
    oracle=f"""
        SELECT doc_id, width, height,
               CASE WHEN width >= height
                    THEN LEAST(width, {FIT_BOX})
                    ELSE width * LEAST(height, {FIT_BOX}) // height
               END AS out_width,
               CASE WHEN width >= height
                    THEN height * LEAST(width, {FIT_BOX}) // width
                    ELSE LEAST(height, {FIT_BOX})
               END AS out_height
        FROM (
            SELECT doc_id, 64 + h % 960 AS width, 64 + (h >> 8) % 960 AS height
            FROM (
                SELECT doc_id,
                       CAST(CAST('0x' || substr(md5(text), 1, 15) AS UBIGINT)
                            AS BIGINT) AS h
                FROM documents WHERE text <> ''
            ) d
        ) dims
    """,
)
def dmm_resize_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return resize_fit(_binary_docs(spark, sf_dir))


# --------------------------------------------------------------------------
# Audio features: binary -> fixed-length feature vector (array<double>),
# the embedding-extraction shape. Fake features are byte-slices of the md5
# hash scaled to [0,1]; exact integer/255 divisions keep the oracle
# bit-identical.
AUDIO_SCHEMA = "doc_id bigint, n_bytes bigint, features array<double>"
N_AUDIO_FEATURES = 8


def audio_features(binary_df: DataFrame) -> DataFrame:
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, sizes, feats = [], [], []
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                h = int(hashlib.md5(content).hexdigest()[:15], 16)
                ids.append(doc_id)
                sizes.append(len(content))
                feats.append(
                    [((h >> j) & 255) / 255.0 for j in range(N_AUDIO_FEATURES)]
                )
            yield pd.DataFrame(
                {"doc_id": ids, "n_bytes": sizes, "features": feats}
            )

    return binary_df.mapInPandas(run, schema=AUDIO_SCHEMA)


@query(
    "dmm_audio_features",
    oracle=f"""
        SELECT doc_id,
               octet_length(encode(text)) AS n_bytes,
               CAST(r.j AS BIGINT) AS j,
               CAST((h >> r.j) & 255 AS DOUBLE) / 255.0 AS feature
        FROM (
            SELECT doc_id, text,
                   CAST(CAST('0x' || substr(md5(text), 1, 15) AS UBIGINT)
                        AS BIGINT) AS h
            FROM documents WHERE text <> ''
        ) d CROSS JOIN range({N_AUDIO_FEATURES}) r(j)
    """,
)
def dmm_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The library op returns (doc_id, n_bytes, features array<double>); the
    # driver's canonicalizer hashes scalar cells only, so the oracle query
    # emits the exploded long form: one (doc_id, j, feature) row per lane.
    feats = audio_features(_binary_docs(spark, sf_dir))
    return feats.select(
        "doc_id",
        "n_bytes",
        F.posexplode("features").alias("j", "feature"),
    ).withColumn("j", F.col("j").cast("long"))


# --------------------------------------------------------------------------
# Modality/format inventory — the rollup a multimodal corpus ships with
# (asset counts, byte volume, dimension ranges per container format). The
# decode stage is the mapInPandas harness above; the rollup is a plain
# hash aggregate of its typed-metadata output, so at 100 TB the Python
# stage streams Arrow batches once and the aggregate shuffles only the
# per-format partials. The oracle recomputes the fake-decode metadata in
# SQL and aggregates it the same way.
@query(
    "dmm_modality_stats",
    oracle="""
        SELECT fmt, COUNT(*) AS n_assets,
               CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
               MIN(width) AS min_width, MAX(width) AS max_width,
               CAST(SUM(n_frames) AS BIGINT) AS total_frames
        FROM (
            SELECT CASE h % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                              ELSE 'webp' END AS fmt,
                   octet_length(encode(text)) AS n_bytes,
                   64 + h % 960 AS width,
                   1 + h % 16 AS n_frames
            FROM (
                SELECT text,
                       CAST(CAST('0x' || substr(md5(text), 1, 15) AS UBIGINT)
                            AS BIGINT) AS h
                FROM documents WHERE text <> ''
            ) d
        ) m
        GROUP BY fmt
    """,
)
def dmm_modality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    meta = dmm_binary_decode_meta(spark, sf_dir)
    return meta.groupBy("fmt").agg(
        F.count("*").alias("n_assets"),
        F.sum("n_bytes").alias("total_bytes"),
        F.min("width").alias("min_width"),
        F.max("width").alias("max_width"),
        F.sum("n_frames").alias("total_frames"),
    )


# --------------------------------------------------------------------------
# Perceptual-hash near-dup over the binary column: the image-dedup path of
# a multimodal curation pipeline. The fingerprint is computed in Python
# over the raw bytes through the same Arrow mapInPandas harness as the
# decoders (a real DCT pHash drops in by replacing _fake_phash — the
# md5-derived stand-in keeps the oracle exact, same stubbing policy as
# decode_image); everything after the fingerprint is JVM-side: 6 bands of
# 10 bits via exact integer div/mod (no engine-specific shifts), a banded
# self-equi-join for candidates, then bit_count(xor) <= 8 as the hamming
# verify. With random stand-in bits only identical payloads pass (hamming
# 0) — the corpus view injects exact duplicates so the path is exercised;
# real pHash bits make the same plan catch visual near-dups. Scale: the
# band join is the constant-signature LSH shape (candidates per bucket,
# never all-pairs), the verify is O(candidates).
PHASH_SCHEMA = "doc_id bigint, phash bigint"
PHASH_BANDS = 6
_BAND_DIVS = [1024 ** k for k in range(PHASH_BANDS)]
PHASH_MAX_HAMMING = 8


def compute_phash(binary_df: DataFrame) -> DataFrame:
    """mapInPandas fingerprint harness (doc_id, content) -> (doc_id, phash)."""

    def _fake_phash(content: bytes) -> int:
        return int(hashlib.md5(content).hexdigest()[:15], 16)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "phash": [_fake_phash(c) for c in pdf["content"]],
                }
            )

    return binary_df.mapInPandas(run, schema=PHASH_SCHEMA)


@query(
    "dmm_phash_neardup",
    oracle=f"""
        WITH corpus AS ({CORPUS_SQL}),
        ph AS (
            SELECT doc_id,
                   CAST(CAST('0x' || substr(md5(text), 1, 15) AS UBIGINT)
                        AS BIGINT) AS phash
            FROM corpus
        ),
        bands AS (
            SELECT doc_id, phash, k, (phash // d) % 1024 AS bval
            FROM ph CROSS JOIN (VALUES {", ".join(f"({k}, {d})" for k, d in enumerate(_BAND_DIVS))}) AS b(k, d)
        ),
        cands AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                            a.phash AS ha, b.phash AS hb
            FROM bands a
            JOIN bands b ON a.k = b.k AND a.bval = b.bval
                        AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b, bit_count(xor(ha, hb)) AS hamming
        FROM cands
        WHERE bit_count(xor(ha, hb)) <= {PHASH_MAX_HAMMING}
    """,
)
def dmm_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import corpus

    c = corpus(spark, sf_dir).select(
        "doc_id", F.encode("text", "utf-8").alias("content")
    )
    ph = compute_phash(c)
    # All 6 band values in ONE pass (posexplode of an array expression) —
    # a per-band union would re-evaluate the Python fingerprint stage once
    # per band per join side. `div` is exact integer division — float `/`
    # would round the 60-bit hash above 2^53.
    band_arr = F.array(
        *[(F.expr(f"phash div {d}") % 1024) for d in _BAND_DIVS]
    )
    bands = ph.select(
        "doc_id", "phash", F.posexplode(band_arr).alias("k", "bval")
    )
    a = bands.alias("a")
    b = bands.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.phash").alias("ha"),
            F.col("b.phash").alias("hb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return cands.filter(hamming <= PHASH_MAX_HAMMING).select(
        "doc_a", "doc_b", hamming.alias("hamming")
    )


# --------------------------------------------------------------------------
# Real PCM sample-level decode, oracle-checked — the strongest form of the
# codec-seam proof: ten WAV assets are synthesized from a pure integer
# sample formula (s_i = ((asset*104729 + i*7919) mod 65536) - 32768,
# 16-bit mono), the REAL stdlib `wave` codec decodes them inside the
# Arrow mapInPandas harness, and the per-asset sample statistics (exact
# BIGINT sum of squares, integer peak, frame count) must equal what
# DuckDB computes straight from the same formula — so a single corrupted
# byte anywhere in the encode -> Arrow -> decode path flips the hash.
# Unlike dmm_audio_features (fake decoder) and the header round-trip
# test, this checks every SAMPLE through the real codec. RMS is the one
# float (sqrt of an exact ratio, round6).
WAV_N_ASSETS = 10


def _wav_asset_bytes(asset_id: int) -> bytes:
    import io
    import wave as _wave

    import numpy as np

    n = 800 + 100 * asset_id
    i = np.arange(n, dtype=np.int64)
    samples = ((asset_id * 104729 + i * 7919) % 65536 - 32768).astype(
        np.int16
    )
    buf = io.BytesIO()
    with _wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(samples.tobytes())
    return buf.getvalue()


WAV_STATS_SCHEMA = (
    "asset_id bigint, n_frames bigint, sum_sq bigint, peak bigint, "
    "rms double"
)


def _decode_wav_stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import io
    import wave as _wave

    import numpy as np

    for pdf in batches:
        out = {k: [] for k in ("asset_id", "n_frames", "sum_sq", "peak", "rms")}
        for asset_id, content in zip(pdf["asset_id"], pdf["content"]):
            with _wave.open(io.BytesIO(bytes(content))) as w:
                frames = w.readframes(w.getnframes())
            s = np.frombuffer(frames, dtype="<i2").astype(np.int64)
            ssq = int((s * s).sum())
            out["asset_id"].append(int(asset_id))
            out["n_frames"].append(len(s))
            out["sum_sq"].append(ssq)
            out["peak"].append(int(np.abs(s).max()))
            out["rms"].append(round((ssq / len(s)) ** 0.5, 6))
        yield pd.DataFrame(out)


@query(
    "dmm_audio_pcm_roundtrip",
    oracle=f"""
        WITH assets AS (
            SELECT a.asset_id, 800 + 100 * a.asset_id AS n
            FROM (SELECT unnest(range({WAV_N_ASSETS})) AS asset_id) a
        ),
        samples AS (
            SELECT assets.asset_id, assets.n,
                   (assets.asset_id * 104729 + u.i * 7919) % 65536 - 32768
                       AS s
            FROM assets, (SELECT unnest(range(1800)) AS i) u
            WHERE u.i < assets.n
        )
        SELECT asset_id, CAST(COUNT(*) AS BIGINT) AS n_frames,
               CAST(SUM(s * s) AS BIGINT) AS sum_sq,
               CAST(MAX(ABS(s)) AS BIGINT) AS peak,
               ROUND(sqrt(CAST(SUM(s * s) AS DOUBLE) / COUNT(*)), 6) AS rms
        FROM samples GROUP BY asset_id
    """,
)
def dmm_audio_pcm_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    payloads = [
        (i, _wav_asset_bytes(i)) for i in range(WAV_N_ASSETS)
    ]
    df = spark.createDataFrame(payloads, "asset_id long, content binary")
    return df.mapInPandas(_decode_wav_stats, WAV_STATS_SCHEMA)


# --------------------------------------------------------------------------
# A/V sync audit — the alignment QA a multimodal pipeline runs before
# pairing audio with video: the (fake-decoded) frame timeline (one frame
# per FRAME_STRIDE at 40 ms) is as-of joined to the (fake-decoded) audio
# chunk timeline (~30 ms chunks with decode jitter), per asset; the
# audit reports the worst frame->chunk lag, unmatched leading frames,
# and frames whose nearest audio trails by > 20 ms. Both timelines come
# out of Arrow mapInPandas harnesses (real decoders drop in exactly like
# multimodal.py:43,51); the join is the one-shuffle as-of machinery on
# the asset key — at 100 TB each asset's two timelines meet in one
# partition, never a time-window blowup. COALESCE(-1) keeps the
# unmatched-only rows integer-typed (NULL MAX would go float in pandas).
CHUNK_SCHEMA = "doc_id bigint, c_ts bigint"
SYNC_THRESHOLD_US = 20_000


def sample_audio_chunks(binary_df: DataFrame) -> DataFrame:
    """mapInPandas harness emitting the audio-chunk timeline per asset."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, ts = [], []
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                hhex = hashlib.md5(content).hexdigest()
                n_chunks = 1 + int(hhex[15:30], 16) % 24
                for j in range(n_chunks):
                    key = f"{hhex}-a{j}".encode()
                    jit = int(hashlib.md5(key).hexdigest()[:8], 16) % 10000
                    ids.append(doc_id)
                    ts.append(j * 30000 + jit)
            yield pd.DataFrame({"doc_id": ids, "c_ts": ts})

    return binary_df.mapInPandas(run, schema=CHUNK_SCHEMA)


@query(
    "dmm_av_sync_audit",
    oracle=f"""
        WITH base AS (
            SELECT doc_id, md5(text) AS hhex FROM documents WHERE text <> ''
        ),
        frames AS (
            SELECT doc_id, i * 40000 AS f_ts
            FROM (
                SELECT doc_id, unnest(range(0,
                    1 + CAST(CAST('0x' || substr(hhex, 1, 15) AS UBIGINT)
                        AS BIGINT) % 16, {FRAME_STRIDE})) AS i
                FROM base
            )
        ),
        chunks AS (
            SELECT doc_id,
                   j * 30000 + CAST(CAST('0x' || substr(md5(hhex || '-a' ||
                       CAST(j AS VARCHAR)), 1, 8) AS UBIGINT) AS BIGINT)
                       % 10000 AS c_ts
            FROM (
                SELECT doc_id, hhex, unnest(range(0,
                    1 + CAST(CAST('0x' || substr(hhex, 16, 15) AS UBIGINT)
                        AS BIGINT) % 24, 1)) AS j
                FROM base
            )
        ),
        aligned AS (
            SELECT f.doc_id, f.f_ts, c.c_ts, f.f_ts - c.c_ts AS gap
            FROM frames f ASOF LEFT JOIN chunks c
              ON f.doc_id = c.doc_id AND f.f_ts >= c.c_ts
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_frames,
               CAST(COUNT(c_ts) AS BIGINT) AS n_matched,
               COALESCE(MAX(gap), -1) AS max_gap_us,
               CAST(COUNT(*) FILTER (WHERE gap > {SYNC_THRESHOLD_US})
                    AS BIGINT) AS n_out_of_sync
        FROM aligned GROUP BY doc_id
    """,
)
def dmm_av_sync_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import as_of_join

    binary = _binary_docs(spark, sf_dir)
    frames = sample_frames(binary).select(
        "doc_id", (F.col("frame_idx") * 40000).alias("f_ts")
    )
    chunks = sample_audio_chunks(binary)
    aligned = as_of_join(
        frames,
        chunks,
        on="doc_id",
        left_ts="f_ts",
        right_ts="c_ts",
        right_cols=[],
        direction="backward",
        matched_ts_col="c_ts",
    )
    gap = F.col("f_ts") - F.col("c_ts")
    return aligned.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_frames"),
        F.count("c_ts").cast("long").alias("n_matched"),
        F.coalesce(F.max(gap), F.lit(-1)).cast("long").alias("max_gap_us"),
        F.count_if(gap > SYNC_THRESHOLD_US).cast("long").alias(
            "n_out_of_sync"
        ),
    )
