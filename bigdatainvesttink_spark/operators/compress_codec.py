"""Pure-stdlib Snappy and LZ4 codecs (decode + encoders for fixtures) and
the executor-side decompression seam for binary payload columns.

Document payloads in a large corpus usually arrive compressed: parquet
pages and wire blobs are overwhelmingly Snappy or LZ4, with gzip/zlib the
legacy tail. Snappy and LZ4 have bit-level implementations here, held
byte-exact against pyarrow's C codecs in the tests (both directions):

- Snappy (the raw/block format used by parquet pages): varint
  uncompressed length; literal elements (tags 60-63 for 1-4 extra
  length bytes) and all three copy element kinds (1-, 2- and 4-byte
  offsets), including overlapping copies. Encoder: greedy 4-byte-hash
  matcher emitting literals + 2-byte-offset copies.
- LZ4 block (a.k.a. lz4_raw): token sequences with 255-extension
  literal/match lengths, 2-byte little-endian offsets, overlapping
  copies, and the literals-only terminal sequence.
- LZ4 FRAME: magic 0x184D2204, flag/BD descriptor with the xxHash32
  header-checksum byte, independent data blocks (high-bit = stored
  uncompressed), optional per-block checksums, the optional content
  checksum, and external raw dictionaries — the one frame feature
  pyarrow's streaming decoder cannot take, so the pure decoder serves it.

The reference repo consumes small JSON messages from AMQP and never
touches compressed blobs; this module serves the training-data pipeline
extensions (SURVEY.md LLM-ops section), where decompression must run
executor-side inside the Arrow batch path, never on the driver.
"""

from __future__ import annotations

import struct

# ---------------------------------------------------------------------------
# xxHash32 (public algorithm; the LZ4 frame format's checksum primitive)

_XXP1 = 0x9E3779B1
_XXP2 = 0x85EBCA77
_XXP3 = 0xC2B2AE3D
_XXP4 = 0x27D4EB2F
_XXP5 = 0x165667B1
_M32 = 0xFFFFFFFF


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def xxhash32(data: bytes, seed: int = 0) -> int:
    n = len(data)
    i = 0
    if n >= 16:
        v1 = (seed + _XXP1 + _XXP2) & _M32
        v2 = (seed + _XXP2) & _M32
        v3 = seed
        v4 = (seed - _XXP1) & _M32
        while i + 16 <= n:
            (a, b, c, d) = struct.unpack_from("<4I", data, i)
            v1 = (_rotl32((v1 + a * _XXP2) & _M32, 13) * _XXP1) & _M32
            v2 = (_rotl32((v2 + b * _XXP2) & _M32, 13) * _XXP1) & _M32
            v3 = (_rotl32((v3 + c * _XXP2) & _M32, 13) * _XXP1) & _M32
            v4 = (_rotl32((v4 + d * _XXP2) & _M32, 13) * _XXP1) & _M32
            i += 16
        h = (
            _rotl32(v1, 1) + _rotl32(v2, 7) + _rotl32(v3, 12) + _rotl32(v4, 18)
        ) & _M32
    else:
        h = (seed + _XXP5) & _M32
    h = (h + n) & _M32
    while i + 4 <= n:
        (k,) = struct.unpack_from("<I", data, i)
        h = (_rotl32((h + k * _XXP3) & _M32, 17) * _XXP4) & _M32
        i += 4
    while i < n:
        h = (_rotl32((h + data[i] * _XXP5) & _M32, 11) * _XXP1) & _M32
        i += 1
    h ^= h >> 15
    h = (h * _XXP2) & _M32
    h ^= h >> 13
    h = (h * _XXP3) & _M32
    h ^= h >> 16
    return h


# ---------------------------------------------------------------------------
# Snappy block format


def _uvarint(data: bytes, pos: int) -> tuple[int, int]:
    v = shift = 0
    while True:
        if pos >= len(data):
            raise ValueError("malformed snappy: truncated varint")
        b = data[pos]
        pos += 1
        v |= (b & 0x7F) << shift
        if not b & 0x80:
            return v, pos
        shift += 7
        if shift > 35:
            raise ValueError("malformed snappy: varint overflow")


def decode_snappy(data: bytes) -> bytes:
    """Decode a raw Snappy block to its exact original bytes."""
    want, pos = _uvarint(data, 0)
    out = bytearray()
    while pos < len(data):
        tag = data[pos]
        pos += 1
        kind = tag & 0x03
        if kind == 0:  # literal
            ln = tag >> 2
            if ln >= 60:  # 60..63 -> 1..4 extra length bytes (LE)
                nb = ln - 59
                if pos + nb > len(data):
                    raise ValueError("malformed snappy: truncated literal len")
                ln = int.from_bytes(data[pos:pos + nb], "little")
                pos += nb
            ln += 1
            if pos + ln > len(data):
                raise ValueError("malformed snappy: truncated literal")
            out += data[pos:pos + ln]
            pos += ln
            continue
        if kind == 1:  # copy, 1-byte offset: len 4-11, offset 11 bits
            ln = ((tag >> 2) & 0x07) + 4
            if pos >= len(data):
                raise ValueError("malformed snappy: truncated copy-1")
            off = ((tag >> 5) << 8) | data[pos]
            pos += 1
        elif kind == 2:  # copy, 2-byte offset: len 1-64
            ln = (tag >> 2) + 1
            if pos + 2 > len(data):
                raise ValueError("malformed snappy: truncated copy-2")
            off = int.from_bytes(data[pos:pos + 2], "little")
            pos += 2
        else:  # copy, 4-byte offset
            ln = (tag >> 2) + 1
            if pos + 4 > len(data):
                raise ValueError("malformed snappy: truncated copy-4")
            off = int.from_bytes(data[pos:pos + 4], "little")
            pos += 4
        if off == 0 or off > len(out):
            raise ValueError("malformed snappy: copy offset out of range")
        for _ in range(ln):  # byte-wise: offsets may overlap the output
            out.append(out[-off])
    if len(out) != want:
        raise ValueError(
            f"malformed snappy: length {len(out)} != declared {want}"
        )
    return bytes(out)


def encode_snappy(data: bytes) -> bytes:
    """Greedy Snappy encoder (4-byte-hash matcher, 2-byte-offset copies)
    — a spec-correct fixture generator, not a ratio contender."""
    out = bytearray()
    n = len(data)
    v = n
    while True:  # uncompressed-length varint
        b = v & 0x7F
        v >>= 7
        out.append(b | (0x80 if v else 0))
        if not v:
            break

    def emit_literal(chunk: bytes) -> None:
        nonlocal out
        while chunk:
            part = chunk[:65536]
            chunk = chunk[len(part):]
            ln = len(part) - 1
            if ln < 60:
                out.append(ln << 2)
            elif ln < 256:
                out.append(60 << 2)
                out.append(ln)
            else:
                out.append(61 << 2)
                out += ln.to_bytes(2, "little")
            out += part

    table: dict[bytes, int] = {}
    i = lit_start = 0
    while i + 4 <= n:
        key = data[i:i + 4]
        j = table.get(key)
        table[key] = i
        if j is not None and i - j <= 0xFFFF:
            ln = 4
            while i + ln < n and ln < 64 and data[j + ln] == data[i + ln]:
                ln += 1
            emit_literal(data[lit_start:i])
            out.append(((ln - 1) << 2) | 0x02)
            out += (i - j).to_bytes(2, "little")
            i += ln
            lit_start = i
        else:
            i += 1
    emit_literal(data[lit_start:])
    return bytes(out)


# ---------------------------------------------------------------------------
# LZ4 block format


def decode_lz4_block(
    data: bytes, max_out: int | None = None, prefix: bytes = b""
) -> bytes:
    """Decode one raw LZ4 block to its exact original bytes. ``prefix``
    is the linked-block dictionary (the up-to-64 KB tail of previously
    decoded frame output) that match offsets may reach into."""
    out = bytearray(prefix)
    base = len(prefix)
    pos = 0
    n = len(data)
    if n == 0:
        return b""
    while True:
        if pos >= n:
            raise ValueError("malformed lz4: truncated token")
        token = data[pos]
        pos += 1
        lit = token >> 4
        if lit == 15:
            while True:
                if pos >= n:
                    raise ValueError("malformed lz4: truncated literal len")
                b = data[pos]
                pos += 1
                lit += b
                if b != 255:
                    break
        if pos + lit > n:
            raise ValueError("malformed lz4: truncated literals")
        out += data[pos:pos + lit]
        pos += lit
        if max_out is not None and len(out) - base > max_out:
            raise ValueError("malformed lz4: output exceeds declared size")
        if pos == n:
            return bytes(out[base:])  # terminal sequence: literals only
        if pos + 2 > n:
            raise ValueError("malformed lz4: truncated offset")
        off = int.from_bytes(data[pos:pos + 2], "little")
        pos += 2
        if off == 0 or off > len(out):
            raise ValueError("malformed lz4: match offset out of range")
        mlen = (token & 0x0F) + 4
        if (token & 0x0F) == 15:
            while True:
                if pos >= n:
                    raise ValueError("malformed lz4: truncated match len")
                b = data[pos]
                pos += 1
                mlen += b
                if b != 255:
                    break
        for _ in range(mlen):  # overlap-safe byte-wise copy
            out.append(out[-off])
        if max_out is not None and len(out) - base > max_out:
            raise ValueError("malformed lz4: output exceeds declared size")


def encode_lz4_block(data: bytes) -> bytes:
    """Greedy LZ4 block encoder honoring the spec's end-of-block rules
    (last sequence is literals-only; matches stop 5+ bytes from the
    end, the last 5 bytes are always literals)."""
    n = len(data)
    out = bytearray()

    def emit(lit: bytes, mlen: int = 0, off: int = 0) -> None:
        nonlocal out
        lt = len(lit)
        tok_lit = 15 if lt >= 15 else lt
        tok_m = 0
        if mlen:
            tok_m = 15 if mlen - 4 >= 15 else mlen - 4
        out.append((tok_lit << 4) | tok_m)
        rem = lt - 15
        while tok_lit == 15:
            out.append(min(rem, 255))
            if rem < 255:
                break
            rem -= 255
        out += lit
        if mlen:
            out += off.to_bytes(2, "little")
            rem = mlen - 4 - 15
            while tok_m == 15:
                out.append(min(rem, 255))
                if rem < 255:
                    break
                rem -= 255

    table: dict[bytes, int] = {}
    i = lit_start = 0
    # spec: the last match must start at least 12 bytes before block end
    while i + 12 <= n:
        key = data[i:i + 4]
        j = table.get(key)
        table[key] = i
        if j is not None and i - j <= 0xFFFF:
            mlen = 4
            # spec: the last 5 bytes of the block are always literals
            while i + mlen < n - 5 and data[j + mlen] == data[i + mlen]:
                mlen += 1
            emit(data[lit_start:i], mlen, i - j)
            i += mlen
            lit_start = i
        else:
            i += 1
    emit(data[lit_start:])  # terminal literals-only sequence
    return bytes(out)


# ---------------------------------------------------------------------------
# LZ4 frame format

_LZ4_MAGIC = 0x184D2204


def decode_lz4_frame(data: bytes, dictionary: bytes | None = None) -> bytes:
    """Decode an LZ4 frame payload (magic, descriptor with xxHash32
    header checksum, independent/stored blocks, optional block and
    content checksums) to its exact original bytes. .lz4 files are frame
    SEQUENCES: concatenated frames decode to the concatenation and
    skippable frames (magic 0x184D2A5x) are ignored — the lz4 CLI
    produces exactly such files when appending.

    ``dictionary`` is the external-dictionary content (frame spec
    §Dictionary-ID): only its LAST 64 KB matter, used raw — the lz4 CLI
    loads even a zstd ``--train`` dictionary as plain history bytes, so
    no structure is parsed. Match offsets may then reach past the start
    of the frame output into the dictionary tail: for EVERY block when
    blocks are independent, and for the frame's first 64 KB of output
    when blocks are linked (after which the window is all frame bytes).
    Every frame in the sequence decodes against the same dictionary.
    Frames compressed with a raw dictionary usually do NOT set the DictID
    flag (lz4 -D never does), so a missing dictionary is only detectable
    as a match-offset error; when the flag IS set and no dictionary is
    supplied, this fails loud up front."""
    if len(data) < 4:
        raise ValueError("malformed lz4 frame: truncated magic")
    (first_magic,) = struct.unpack_from("<I", data, 0)
    if first_magic != _LZ4_MAGIC and not (
        0x184D2A50 <= first_magic <= 0x184D2A5F
    ):
        # A stream may legally BEGIN with a skippable frame (some
        # tooling emits user-data prologues); only reject when neither
        # magic family matches.
        raise ValueError("malformed lz4 frame: bad magic")
    total = bytearray()
    fpos = 0
    while fpos < len(data):
        if fpos + 4 > len(data):
            raise ValueError("malformed lz4 frame: truncated frame magic")
        (magic,) = struct.unpack_from("<I", data, fpos)
        if 0x184D2A50 <= magic <= 0x184D2A5F:  # skippable frame
            if fpos + 8 > len(data):
                raise ValueError(
                    "malformed lz4 frame: truncated skippable header")
            (skip,) = struct.unpack_from("<I", data, fpos + 4)
            if fpos + 8 + skip > len(data):
                raise ValueError(
                    "malformed lz4 frame: truncated skippable frame")
            fpos += 8 + skip
            continue
        if magic != _LZ4_MAGIC:
            raise ValueError("malformed lz4 frame: bad frame magic")
        payload, fpos = _decode_one_lz4_frame(data, fpos, dictionary)
        total += payload
    return bytes(total)


def _decode_one_lz4_frame(
    data: bytes, start: int, dictionary: bytes | None = None
) -> tuple[bytes, int]:
    if start + 7 > len(data):
        raise ValueError("malformed lz4 frame: truncated frame descriptor")
    flg = data[start + 4]
    version = flg >> 6
    if version != 1:
        raise ValueError(f"malformed lz4 frame: version {version}")
    has_content_size = bool(flg & 0x08)
    has_content_checksum = bool(flg & 0x04)
    has_block_checksum = bool(flg & 0x10)
    independent = bool(flg & 0x20)
    if flg & 0x02:
        raise ValueError("malformed lz4 frame: reserved flag set")
    pos = start + 6
    content_size = None
    if has_content_size:
        if pos + 8 > len(data):
            raise ValueError("malformed lz4 frame: truncated content size")
        (content_size,) = struct.unpack_from("<Q", data, pos)
        pos += 8
    if flg & 0x01:  # dictionary id field present
        # The id of a RAW dictionary is whatever the producer chose to
        # stamp (raw content has no intrinsic id to verify against, the
        # way zstd's structured dictionaries do), so it can only gate
        # presence: a frame that DECLARES an external dictionary cannot
        # be decoded without one — fail loud up front instead of a
        # confusing match-offset error mid-block.
        pos += 4
        if dictionary is None:
            raise ValueError(
                "lz4 frame declares a dictionary (DictID flag set): "
                "pass decode_lz4_frame(..., dictionary=)")
    if pos >= len(data):
        raise ValueError("malformed lz4 frame: truncated header checksum")
    hc = data[pos]
    pos += 1
    want_hc = (xxhash32(data[start + 4:pos - 1]) >> 8) & 0xFF
    if hc != want_hc:
        raise ValueError("malformed lz4 frame: header checksum mismatch")
    out = bytearray()
    dict_tail = (dictionary or b"")[-65536:]
    while True:
        if pos + 4 > len(data):
            raise ValueError("malformed lz4 frame: truncated block size")
        (bsize,) = struct.unpack_from("<I", data, pos)
        pos += 4
        if bsize == 0:  # EndMark
            break
        stored = bool(bsize & 0x80000000)
        bsize &= 0x7FFFFFFF
        if pos + bsize > len(data):
            raise ValueError("malformed lz4 frame: truncated block")
        block = data[pos:pos + bsize]
        pos += bsize
        if has_block_checksum:
            if pos + 4 > len(data):
                raise ValueError(
                    "malformed lz4 frame: truncated block checksum")
            (bc,) = struct.unpack_from("<I", data, pos)
            pos += 4
            if bc != xxhash32(block):
                raise ValueError("malformed lz4 frame: block checksum")
        if stored:
            out += block
        else:
            # linked blocks: matches may reach up to 64 KB back through
            # the previously decoded frame output INTO the dictionary
            # tail; independent blocks see the dictionary alone
            if independent:
                prefix = dict_tail
            elif dict_tail and len(out) < 65536:
                prefix = (dict_tail + out)[-65536:]
            else:
                prefix = bytes(out[-65536:])
            out += decode_lz4_block(block, prefix=prefix)
    if has_content_checksum:
        if pos + 4 > len(data):
            raise ValueError(
                "malformed lz4 frame: truncated content checksum")
        (cc,) = struct.unpack_from("<I", data, pos)
        pos += 4
        if cc != xxhash32(bytes(out)):
            raise ValueError("malformed lz4 frame: content checksum")
    if content_size is not None and len(out) != content_size:
        raise ValueError("malformed lz4 frame: content size mismatch")
    return bytes(out), pos


def encode_lz4_frame(
    data: bytes,
    block_size: int = 4 << 20,
    content_checksum: bool = True,
    store_incompressible: bool = True,
) -> bytes:
    """Encode an LZ4 frame (independent blocks, 64 KB-4 MB block-size
    codes, xxHash32 header/content checksums)."""
    for code, limit in ((4, 64 << 10), (5, 256 << 10), (6, 1 << 20), (7, 4 << 20)):
        if block_size <= limit:
            bd_code, block_size = code, limit
            break
    else:
        raise ValueError("block_size above 4 MiB")
    flg = (1 << 6) | (1 << 5) | (0x04 if content_checksum else 0)
    desc = bytes([flg, bd_code << 4])
    out = bytearray(struct.pack("<I", _LZ4_MAGIC))
    out += desc
    out.append((xxhash32(desc) >> 8) & 0xFF)
    for off in range(0, len(data), block_size):
        chunk = data[off:off + block_size]
        comp = encode_lz4_block(chunk)
        if store_incompressible and len(comp) >= len(chunk):
            out += struct.pack("<I", len(chunk) | 0x80000000)
            out += chunk
        else:
            out += struct.pack("<I", len(comp))
            out += comp
    out += struct.pack("<I", 0)  # EndMark
    if content_checksum:
        out += struct.pack("<I", xxhash32(data))
    return bytes(out)


# ---------------------------------------------------------------------------
# The decompression seam


def decompress_payload(
    content: bytes, algo: str, dictionary: bytes | None = None,
) -> bytes:
    """Executor-side decompression dispatch for opaque binary payload
    columns — the compressed-corpus analog of multimodal.decode_image.

    ``algo``: snappy | lz4 (frame) | lz4_block | zstd | gzip | zlib | xz |
    bz2 | auto. ``auto`` sniffs the self-describing magics; snappy and
    lz4_block have none and must be named. gzip, xz, bz2, lz4 and zstd
    payloads are member SEQUENCES: concatenated members decode to the
    concatenation (lz4/zstd skippable frames are ignored), never just
    the first member.

    lz4 frames and zstd decode through pyarrow's native streaming codecs;
    snappy and lz4_block through the pure decoders above; gzip, zlib, xz
    and bz2 through the stdlib. Malformed input raises ValueError on every
    path.

    ``dictionary``: an lz4-frame external dictionary blob (raw content,
    last 64 KB; broadcast it once per job — dictionary-per-shard is the
    standard corpus layout). pyarrow's stream API takes no dictionary, so
    dictionary frames decode in the pure ``decode_lz4_frame``."""
    import zlib

    if algo == "auto":
        if len(content) >= 4 and struct.unpack_from("<I", content, 0)[0] == _LZ4_MAGIC:
            algo = "lz4"
        elif (
            len(content) >= 4
            and struct.unpack_from("<I", content, 0)[0] == 0xFD2FB528
        ):
            algo = "zstd"
        elif content[:2] == b"\x1f\x8b":
            algo = "gzip"
        elif content[:6] == b"\xfd7zXZ\x00":
            algo = "xz"
        elif (
            content[:3] == b"BZh" and len(content) > 3
            and 0x31 <= content[3] <= 0x39
        ):
            algo = "bz2"
        elif (
            len(content) >= 2
            and (content[0] & 0x0F) == 8
            and ((content[0] << 8) | content[1]) % 31 == 0
        ):
            # RFC 1950 header check: CM==8 (deflate) and the CMF/FLG
            # pair is a multiple of 31. Matches every valid CMF byte
            # (0x08/0x18/…/0x78 — smaller windows included), not just
            # the common 32 KB-window 0x78 prefix.
            algo = "zlib"
        else:
            raise ValueError(
                "auto: no self-describing magic (snappy/lz4_block payloads "
                "must name their algo)"
            )
    if dictionary is not None:
        if algo != "lz4":
            raise ValueError("dictionary decoding is lz4-frame-only")
        return decode_lz4_frame(content, dictionary=dictionary)
    if algo in ("lz4", "zstd"):
        import pyarrow as pa

        if not content:
            raise ValueError(f"malformed {algo}: empty payload")
        try:
            return pa.input_stream(
                pa.py_buffer(content), compression=algo).read()
        except OSError as exc:
            raise ValueError(f"malformed {algo}: {exc}") from exc
    if algo == "snappy":
        return decode_snappy(content)
    if algo == "lz4_block":
        return decode_lz4_block(content)
    if algo == "gzip":
        # gzip files are member SEQUENCES (Common Crawl WET/WARC files
        # concatenate thousands) — a one-shot zlib.decompress(wbits=31)
        # SILENTLY stops at the first member boundary, truncating the
        # corpus; loop members until the input is exhausted
        out = bytearray()
        rest = content
        while rest:
            d = zlib.decompressobj(wbits=31)
            out += d.decompress(rest)
            out += d.flush()
            if not d.eof:
                raise ValueError("malformed gzip: truncated member")
            rest = d.unused_data
        return bytes(out)
    if algo == "zlib":
        return zlib.decompress(content)
    if algo == "xz":
        # .xz files are stream SEQUENCES (xz --compress appends; stream
        # padding of 4-byte null blocks may separate them) — loop like
        # the gzip path so multi-stream dumps aren't silently truncated
        import lzma

        out = bytearray()
        rest = content
        while rest:
            d = lzma.LZMADecompressor(format=lzma.FORMAT_XZ)
            out += d.decompress(rest)
            if not d.eof:
                raise ValueError("malformed xz: truncated stream")
            rest = d.unused_data.lstrip(b"\x00")  # stream padding
        return bytes(out)
    if algo == "bz2":
        import bz2 as _bz2

        out = bytearray()
        rest = content
        while rest:
            d = _bz2.BZ2Decompressor()
            out += d.decompress(rest)
            if not d.eof:
                raise ValueError("malformed bz2: truncated stream")
            rest = d.unused_data
        return bytes(out)
    raise ValueError(f"unknown compression algo {algo!r}")


def decompress_docs(binary_df, algo: str = "auto",
                    dictionary: bytes | None = None):
    """Arrow-batched decompression over a (doc_id, content: binary)
    frame — the compressed-corpus twin of multimodal.extract_meta. Runs
    entirely executor-side inside mapInPandas (a 100 TB corpus's
    payloads must never funnel through the driver); emits the original
    payload with its size accounting so downstream text operators see
    exactly the bytes that were compressed.

    ``dictionary``: the shard's shared lz4-frame decoding dictionary
    (raw content — dictionary-per-shard is the standard corpus layout).
    Captured by the closure, so Spark ships it once per task with the
    serialized function, not per row."""
    import pandas as pd

    def run(batches):
        for pdf in batches:
            raw = [decompress_payload(bytes(c), algo, dictionary=dictionary)
                   for c in pdf["content"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "n_compressed": [len(bytes(c)) for c in pdf["content"]],
                    "n_bytes": [len(r) for r in raw],
                    "content": raw,
                }
            )

    return binary_df.mapInPandas(
        run,
        schema="doc_id bigint, n_compressed bigint, n_bytes bigint, "
               "content binary",
    )


# ---------------------------------------------------------------------------
# Registered query: the compressed-corpus roundtrip as a driver-checked
# surface. A crawl-scale corpus arrives as per-shard payloads in whatever
# codec each upstream dump used — this query compresses every document
# executor-side with an algo chosen per doc (six of the codecs the seam
# decodes), pushes the bytes back
# through decompress_payload (auto-sniffed where the format self-describes,
# named for snappy, exactly the production contract), and aggregates
# per-algo counts/byte-sums/checksums over the RECOVERED text. The DuckDB
# oracle computes the same aggregates from the original documents table, so
# a single flipped byte anywhere in six codec paths breaks the hash.

_ROUNDTRIP_ALGOS = ("gzip", "zlib", "bz2", "xz", "snappy", "lz4")


def _register_fmt_decompress_corpus() -> None:
    from pyspark.sql import functions as F

    from ..io import load_table
    from ..registry import query

    algo_list = ", ".join(f"'{a}'" for a in _ROUNDTRIP_ALGOS)

    @query(
        "fmt_decompress_corpus",
        oracle=f"""
            SELECT algo,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(strlen(text)) AS BIGINT) AS sum_bytes,
                   bit_xor(CAST(CAST('0x' || substr(md5(
                       doc_id || '|' || text), 1, 15)
                       AS UBIGINT) AS BIGINT)) AS checksum
            FROM (
                SELECT [{algo_list}][(doc_id % 6) + 1] AS algo,
                       doc_id, text
                FROM documents
            ) t
            GROUP BY algo
            ORDER BY algo
        """,
    )
    def fmt_decompress_corpus(spark, sf_dir: str):
        import pandas as pd

        from ..functions.text import stable_hash60

        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text"
        )

        def run(batches):
            import bz2 as _bz2
            import gzip as _gzip
            import lzma
            import zlib as _zlib

            for pdf in batches:
                out = {"doc_id": [], "algo": [], "n_bytes": [], "text": []}
                for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                    raw = text.encode("utf-8")
                    algo = _ROUNDTRIP_ALGOS[int(doc_id) % 6]
                    if algo == "gzip":
                        comp = _gzip.compress(raw, mtime=0)
                    elif algo == "zlib":
                        comp = _zlib.compress(raw)
                    elif algo == "bz2":
                        comp = _bz2.compress(raw)
                    elif algo == "xz":
                        comp = lzma.compress(raw)
                    elif algo == "snappy":
                        comp = encode_snappy(raw)
                    else:
                        comp = encode_lz4_frame(raw)
                    # snappy has no magic; every other format must sniff
                    back = decompress_payload(
                        comp, "snappy" if algo == "snappy" else "auto"
                    )
                    if back != raw:  # fail loud, never emit silent junk
                        raise ValueError(
                            f"roundtrip mismatch doc {doc_id} algo {algo}")
                    out["doc_id"].append(int(doc_id))
                    out["algo"].append(algo)
                    out["n_bytes"].append(len(back))
                    out["text"].append(back.decode("utf-8"))
                yield pd.DataFrame(out)

        rt = docs.mapInPandas(
            run,
            schema="doc_id bigint, algo string, n_bytes bigint, text string",
        )
        return (
            rt.groupBy("algo")
            .agg(
                F.count("*").cast("long").alias("n_docs"),
                F.sum("n_bytes").cast("long").alias("sum_bytes"),
                F.bit_xor(
                    stable_hash60(F.concat_ws("|", "doc_id", "text"))
                ).alias("checksum"),
            )
            .orderBy("algo")
        )


_register_fmt_decompress_corpus()
