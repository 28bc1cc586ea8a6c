"""Multimodal column handling: opaque binary payloads with typed metadata,
decode / feature-extract / frame-sample as Arrow-batched pandas UDFs.

The container has no image/audio codecs, so the DECODE step is a
deterministic stub (documented below); everything around it — binary
column schema, mapInPandas batch shape, metadata struct, partition-local
processing — is the real production plumbing. Swapping `_decode_stub` for
PIL/librosa/ffmpeg is a one-function change (see `decode_image`, which
raises NotImplementedError until a codec is present).

Scale design: decode is scan-local mapInPandas (no shuffle); Arrow moves
the binary batches; per-partition batch size is bounded by
spark.sql.execution.arrow.maxRecordsPerBatch. Frame sampling explodes k
rows per asset — k is bounded, so output is O(k * assets).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from qucosa_fcrepo_reportingdb_spark.plans.common import fan_out, t

CHECKSUM_MOD = 997
FRAME_STRIDE = 64  # pseudo "frame" every 64 bytes


def read_assets(spark: SparkSession, path: str,
                pattern: str = "*") -> DataFrame:
    """Production multimodal ingestion: Spark's `binaryFile` source scans a
    directory tree of opaque blobs (images/audio/video) into
    (path, modificationTime, length, content) — splits parallelize per
    file, no decode on the scan. Mapped to the asset schema used by
    decode_features: deterministic asset_id from the path (xxhash64, the
    same id any re-run derives), binary content, typed metadata struct.

    At 100 TB this is the entry point: object-store listing parallelism,
    partition-pruned by glob, decode deferred to the Arrow-batched
    mapInPandas stage."""
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", pattern)
        .load(path)
    )
    return df.select(
        F.xxhash64("path").alias("asset_id"),
        F.col("content"),
        F.struct(
            F.col("path").alias("uri"),
            F.col("length").alias("n_bytes"),
            F.col("modificationTime").alias("modified"),
        ).alias("meta"),
    )


def attach_binary(docs: DataFrame) -> DataFrame:
    """Model an asset table: binary payload column + typed metadata struct.
    (Here the payload is the utf-8 text encoding; in production it is the
    image/audio/video blob read by a binaryFile scan.)"""
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.encode(F.col("text"), "utf-8").alias("content"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.length(F.encode(F.col("text"), "utf-8")).alias("n_bytes"),
        ).alias("meta"),
    )


# First bytes that can begin a header decode_image parses: 'P' (P6 PPM),
# 'B' (BMP) and 0x89 (the PNG signature).
_DECODABLE_FIRST_BYTES = frozenset(b"PB\x89")


def decode_image(content: bytes) -> tuple[str, int, int, int]:
    """Real decode path: ``(format, width, height, channels)`` for the two
    formats decodable with zero dependencies — binary PPM (P6) and
    uncompressed BMP (BITMAPINFOHEADER). Compressed formats (PNG/JPEG/...)
    raise NotImplementedError — THOSE need a codec this container lacks;
    production swaps this function for PIL.Image.open. Both parsers
    validate the payload length so truncated blobs are rejected, not
    silently mis-sized."""
    import struct

    if content is None or len(content) < 2:
        raise NotImplementedError("payload too short to carry a header")
    if content[:2] == b"P6":
        # header: "P6" <ws> width <ws> height <ws> maxval <single ws>,
        # '#' comments allowed between tokens
        pos, fields = 2, []
        while len(fields) < 3:
            while pos < len(content) and content[pos:pos + 1].isspace():
                pos += 1
            if content[pos:pos + 1] == b"#":
                while pos < len(content) and content[pos] != 0x0A:
                    pos += 1
                continue
            start = pos
            while pos < len(content) and not content[pos:pos + 1].isspace():
                pos += 1
            if pos == start:
                raise NotImplementedError("malformed PPM header")
            try:
                fields.append(int(content[start:pos]))
            except ValueError:
                # a text payload that merely STARTS with "P6"
                raise NotImplementedError("malformed PPM header") from None
        pos += 1  # exactly one whitespace byte after maxval
        width, height, maxval = fields
        if maxval <= 0 or maxval > 65535 or width <= 0 or height <= 0:
            raise NotImplementedError("malformed PPM header")
        bpc = 1 if maxval < 256 else 2
        if len(content) - pos < width * height * 3 * bpc:
            raise NotImplementedError("truncated PPM payload")
        return ("ppm", width, height, 3)
    if content[:2] == b"BM":
        if len(content) < 54:
            raise NotImplementedError("truncated BMP header")
        hdr_size, width, height = struct.unpack_from("<Iii", content, 14)
        planes, bpp = struct.unpack_from("<HH", content, 26)
        compression, = struct.unpack_from("<I", content, 30)
        if hdr_size < 40 or planes != 1 or compression != 0 \
                or bpp not in (8, 24, 32) or width <= 0 or height == 0:
            # height == 0 would pass the truncation check (0 expected
            # bytes) and report a "decoded" zero-row image; negative
            # height is legal BMP (top-down rows)
            raise NotImplementedError("unsupported BMP variant")
        row_bytes = (width * bpp // 8 + 3) & ~3  # rows pad to 4 bytes
        offset, = struct.unpack_from("<I", content, 10)
        if len(content) < offset + row_bytes * abs(height):
            raise NotImplementedError("truncated BMP payload")
        return ("bmp", width, abs(height), bpp // 8)
    if content[:8] == _PNG_SIG:
        width, height, channels, _ = decode_png(content)
        return ("png", width, height, channels)
    raise NotImplementedError(
        "no codec for this format in this environment; production swaps "
        "in PIL.Image.open(io.BytesIO(content))")


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# channels per PNG color type (palette decodes to 1 index channel)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode_png(content: bytes) -> tuple[int, int, int, bytes]:
    """Full PNG decode with zero dependencies beyond stdlib zlib:
    chunk walk -> IHDR -> concatenated IDAT inflate -> per-scanline
    unfilter (all five filter types) -> raw pixel bytes.

    Supports 8-bit-depth non-interlaced images (color types 0/2/3/4/6;
    palette images decode to their index channel). Anything else —
    16-bit, Adam7, malformed/truncated streams — raises
    NotImplementedError so decode_features routes it to the stub path.
    Per-byte unfilter loops are fine for the bounded assets these
    pipelines decode; production swaps in PIL for large frames."""
    import struct
    import zlib

    if content is None or content[:8] != _PNG_SIG:
        raise NotImplementedError("not a PNG signature")
    pos, idat, ihdr = 8, [], None
    while pos + 8 <= len(content):
        ln, typ = struct.unpack_from(">I4s", content, pos)
        data = content[pos + 8:pos + 8 + ln]
        if len(data) < ln:
            raise NotImplementedError("truncated PNG chunk")
        if typ == b"IHDR":
            if ln != 13:
                raise NotImplementedError("malformed IHDR")
            ihdr = struct.unpack(">IIBBBBB", data)
        elif typ == b"IDAT":
            idat.append(data)
        elif typ == b"IEND":
            break
        pos += 12 + ln
    if ihdr is None or not idat:
        raise NotImplementedError("missing IHDR/IDAT")
    width, height, depth, ctype, comp, filt, interlace = ihdr
    channels = _PNG_CHANNELS.get(ctype)
    if (depth != 8 or channels is None or comp != 0 or filt != 0
            or interlace != 0 or width <= 0 or height <= 0):
        raise NotImplementedError("unsupported PNG variant")
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error as exc:
        raise NotImplementedError(f"bad IDAT stream: {exc}") from None
    stride = width * channels
    if len(raw) != height * (stride + 1):
        raise NotImplementedError("IDAT size does not match dimensions")
    out = bytearray()
    prev = bytes(stride)
    for y in range(height):
        base = y * (stride + 1)
        ftype = raw[base]
        line = bytearray(raw[base + 1:base + 1 + stride])
        if ftype == 1:    # Sub
            for i in range(channels, stride):
                line[i] = (line[i] + line[i - channels]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                left = line[i - channels] if i >= channels else 0
                line[i] = (line[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                left = line[i - channels] if i >= channels else 0
                ul = prev[i - channels] if i >= channels else 0
                line[i] = (line[i] + _paeth(left, prev[i], ul)) & 0xFF
        elif ftype != 0:  # None
            raise NotImplementedError(f"unknown PNG filter {ftype}")
        out += line
        prev = bytes(line)
    return width, height, channels, bytes(out)


def encode_png(pixels: bytes, width: int, height: int,
               channels: int) -> bytes:
    """Minimal PNG writer for tests and oracle-checked probes: 8-bit
    gray/RGB/RGBA (and gray+alpha), cycling the filter type per scanline
    (y % 5) so a decode round-trip exercises every unfilter branch."""
    import struct
    import zlib

    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    stride = width * channels
    if len(pixels) != height * stride:
        raise ValueError("pixel buffer does not match dimensions")
    lines = bytearray()
    prev = bytes(stride)
    for y in range(height):
        row = pixels[y * stride:(y + 1) * stride]
        ftype = y % 5
        if ftype == 0:
            filt = bytes(row)
        elif ftype == 1:
            filt = bytes((row[i] - (row[i - channels] if i >= channels
                                    else 0)) & 0xFF for i in range(stride))
        elif ftype == 2:
            filt = bytes((row[i] - prev[i]) & 0xFF for i in range(stride))
        elif ftype == 3:
            filt = bytes((row[i] - (((row[i - channels] if i >= channels
                                      else 0) + prev[i]) >> 1)) & 0xFF
                         for i in range(stride))
        else:
            filt = bytes((row[i] - _paeth(
                row[i - channels] if i >= channels else 0, prev[i],
                prev[i - channels] if i >= channels else 0)) & 0xFF
                for i in range(stride))
        lines += bytes([ftype]) + filt
        prev = row

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data)))

    ihdr = struct.pack(">IIBBBBB", width, height, 8, ctype, 0, 0, 0)
    return (_PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(lines)))
            + chunk(b"IEND", b""))


def _decode_stub(content: bytes) -> tuple[int, int, int]:
    """Deterministic fallback 'decode': (n_bytes, first_byte, checksum).
    Stands in for feature extraction on formats decode_image can't parse."""
    if content is None or len(content) == 0:
        return (0, -1, 0)
    return (len(content), content[0], sum(content) % CHECKSUM_MOD)


def decode_features(assets: DataFrame) -> DataFrame:
    """Arrow-batched decode: one record batch in, metadata columns out.
    Partition-local, no shuffle. PPM/BMP/PNG payloads get real
    dimensions (decoder = format name); anything else takes the
    deterministic stub path with NULL dimensions — the seam production
    widens per codec.

    r16 (guide §4.2): each payload's checksum is a numpy SIMD sum over
    a ZERO-COPY view of its Arrow buffer slice instead of a per-byte
    Python loop (`sum(bytes)` runs ~60 MB/s per core; `ndarray.sum`
    runs at memory speed — invisible on the 2 KB test payloads,
    proportional on production-sized blobs). A full-batch cumsum
    variant was measured and REJECTED: its 8x-widened int64 cumsum
    array thrashes memory bandwidth under 32 concurrent workers
    (0.84 s vs 0.41 s at 2000x256 KB — see OPTIMIZATION_r16.md).
    decode_image (a per-row header parse) runs only for rows whose
    first byte is in _DECODABLE_FIRST_BYTES — every other payload
    raised NotImplementedError two bytes in, so the gate is
    behavior-identical. Only (asset_id, content) cross the Python
    boundary (guide §4.1)."""
    schema = ("asset_id long, n_bytes int, first_byte int, checksum int, "
              "decoder string, width int, height int, channels int")

    def run(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            names = batch.schema.names
            content = batch.column(names.index("content"))
            rows = []
            for i in range(len(content)):
                sc = content[i]
                if not sc.is_valid:
                    rows.append((0, -1, 0, "stub", None, None, None))
                    continue
                buf = sc.as_buffer()
                if buf is None or buf.size == 0:
                    rows.append((0, -1, 0, "stub", None, None, None))
                    continue
                b = np.frombuffer(buf, np.uint8)     # zero-copy view
                first = int(b[0])
                n_bytes = int(b.size)
                csum = int(b.sum(dtype=np.int64) % CHECKSUM_MOD)
                fmt, w, h, ch = "stub", None, None, None
                if n_bytes >= 2 and first in _DECODABLE_FIRST_BYTES:
                    try:
                        fmt, w, h, ch = decode_image(sc.as_py())
                    except NotImplementedError:
                        pass
                rows.append((n_bytes, first, csum, fmt, w, h, ch))
            cols = list(zip(*rows)) if rows else [[]] * 7
            yield pa.record_batch(
                [batch.column(names.index("asset_id")),
                 pa.array(cols[0], type=pa.int32()),
                 pa.array(cols[1], type=pa.int32()),
                 pa.array(cols[2], type=pa.int32()),
                 pa.array(cols[3], type=pa.string()),
                 pa.array(cols[4], type=pa.int32()),
                 pa.array(cols[5], type=pa.int32()),
                 pa.array(cols[6], type=pa.int32())],
                names=["asset_id", "n_bytes", "first_byte", "checksum",
                       "decoder", "width", "height", "channels"])

    return assets.select("asset_id", "content").mapInArrow(
        run, schema=schema)


def multimodal_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary plumbing end-to-end: attach binary -> Arrow-batched decode ->
    typed features. Oracle recomputes the stub arithmetic from the text
    (ASCII corpus: bytes == code points)."""
    docs = fan_out(t(spark, sf_dir, "documents"), "doc_id")
    # no orderBy: a global sort would re-run the decode UDF for range-
    # partition sampling, and the correctness compare is order-insensitive
    return decode_features(attach_binary(docs))


DECODE_STATS_SQL = f"""
SELECT doc_id AS asset_id,
       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
       CAST(unicode(substr(text, 1, 1)) AS INT) AS first_byte,
       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(range(1, length(text) + 1),
                           i -> CAST(unicode(substr(text, i, 1)) AS BIGINT))),
            (acc, x) -> acc + x) % {CHECKSUM_MOD} AS INT) AS checksum,
       'stub' AS decoder,
       CAST(NULL AS INT) AS width,
       CAST(NULL AS INT) AS height,
       CAST(NULL AS INT) AS channels
FROM documents
ORDER BY asset_id
"""


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling plumbing: k pseudo-frames per asset at fixed byte
    stride (production: video frame timestamps). Pure expression explode —
    deterministic, oracle-checkable, O(k) rows per asset."""
    docs = t(spark, sf_dir, "documents")
    assets = attach_binary(docs)
    return (
        # a zero-byte asset has NO frames: without the filter,
        # (0 - 1) DIV 64 truncates to 0 and sequence(0, 0) emits a
        # phantom frame referencing a byte that doesn't exist (the
        # oracle's floor((0-1)/64)+1 correctly yields an empty range)
        assets.filter(F.col("meta.n_bytes") > 0)
        .select(
            "asset_id",
            F.col("meta.n_bytes").alias("n_bytes"),
            F.posexplode(
                F.expr(f"sequence(0, CAST((meta.n_bytes - 1) "
                       f"DIV {FRAME_STRIDE} AS INT))")
            ).alias("frame_idx", "stride_no"),
        )
        .select(
            "asset_id",
            "frame_idx",
            (F.col("frame_idx") * FRAME_STRIDE).alias("byte_offset"),
            "n_bytes",
        )
        .orderBy("asset_id", "frame_idx")
    )


FRAME_SAMPLE_SQL = f"""
SELECT doc_id AS asset_id,
       CAST(u.i AS INT) AS frame_idx,
       CAST(u.i * {FRAME_STRIDE} AS INT) AS byte_offset,
       CAST(octet_length(encode(text)) AS INT) AS n_bytes
FROM documents,
     LATERAL (SELECT unnest(range(0,
        CAST(floor((octet_length(encode(text)) - 1) / {FRAME_STRIDE})
             AS BIGINT) + 1)) AS i) u
ORDER BY asset_id, frame_idx
"""


def synth_ppm_assets(docs: DataFrame) -> DataFrame:
    """Valid binary-PPM (P6) payload per document, dimensions derived
    arithmetically from n_chars — the synthetic asset frame shared by
    the batch decode rollup and the streaming decode-health monitor."""
    w = (F.col("n_chars") % 31 + 1).cast("int")
    h = (F.col("n_chars") % 17 + 1).cast("int")
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.encode(
            F.concat(F.lit("P6\n"),
                     w.cast("string"), F.lit(" "), h.cast("string"),
                     F.lit("\n255\n"),
                     F.expr("repeat('x', CAST((n_chars % 31 + 1) * "
                            "(n_chars % 17 + 1) * 3 AS INT))")),
            "utf-8").alias("content"),
    )


def multimodal_real_decode_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the REAL image decoder (not the stub) under the correctness
    gate: synthesize a valid binary-PPM (P6) payload per document with
    dimensions derived arithmetically from n_chars, push the bytes through
    the same Arrow-batched mapInPandas decode as production, and roll up
    per decoded dimension. The oracle recomputes width/height/total bytes
    from the same arithmetic — any divergence in the parser (header walk,
    payload-length validation) breaks the hash.

    Scale shape: payload synthesis and decode are scan-local; one
    map-side-combinable aggregation on the (small) dims key space."""
    docs = fan_out(t(spark, sf_dir, "documents"), "doc_id")
    return (
        decode_features(synth_ppm_assets(docs))
        .groupBy("width", "height", "decoder")
        .agg(F.count(F.lit(1)).alias("n_assets"),
             F.sum(F.col("n_bytes").cast("long")).alias("total_bytes"))
        .select("width", "height", "decoder", "n_assets", "total_bytes")
        .orderBy("width", "height")
    )


REAL_DECODE_ROLLUP_SQL = """
WITH dims AS (
  SELECT CAST((n_chars % 31) + 1 AS INT) AS width,
         CAST((n_chars % 17) + 1 AS INT) AS height
  FROM documents)
SELECT width, height, 'ppm' AS decoder,
       CAST(COUNT(*) AS BIGINT) AS n_assets,
       CAST(SUM(3 + length(CAST(width AS VARCHAR)) + 1
                + length(CAST(height AS VARCHAR)) + 5
                + width * height * 3) AS BIGINT) AS total_bytes
FROM dims
GROUP BY width, height
ORDER BY width, height
"""


def multimodal_png_decode_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the FULL PNG decode path (zlib inflate + all five scanline
    unfilters) under the correctness gate: synthesize an 8-bit grayscale
    PNG per document (dims from n_chars, pixel i = (i*7+3) % 256, filter
    type cycling per row), decompress-and-unfilter it back with
    decode_png, and roll up the decoded pixel sums per dimension. The
    oracle predicts the pixel sums arithmetically — any divergence in
    chunk walking, inflation, or any unfilter branch breaks the hash.

    Scale shape: encode+decode are scan-local mapInPandas (no shuffle);
    one map-side-combinable aggregation on the tiny dims key space."""
    docs = fan_out(t(spark, sf_dir, "documents").select("doc_id", "n_chars"),
                   "doc_id")
    schema = ("asset_id long, width int, height int, channels int, "
              "pixel_sum long")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                w = int(n_chars) % 13 + 1
                h = int(n_chars) % 7 + 1
                pixels = bytes((i * 7 + 3) % 256 for i in range(w * h))
                blob = encode_png(pixels, w, h, 1)
                dw, dh, dch, decoded = decode_png(blob)
                rows.append((int(doc_id), dw, dh, dch, sum(decoded)))
            yield pd.DataFrame(
                rows, columns=["asset_id", "width", "height", "channels",
                               "pixel_sum"])

    return (
        docs.mapInPandas(run, schema=schema)
        .groupBy("width", "height", "channels")
        .agg(F.count(F.lit(1)).alias("n_assets"),
             F.sum("pixel_sum").alias("total_pixel_sum"))
        .orderBy("width", "height")
    )


PNG_DECODE_ROLLUP_SQL = """
WITH dims AS (
  SELECT CAST((n_chars % 13) + 1 AS INT) AS width,
         CAST((n_chars % 7) + 1 AS INT) AS height
  FROM documents),
px AS (
  SELECT width, height,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(range(0, width * height),
                            i -> CAST((i * 7 + 3) % 256 AS BIGINT))),
             (a, b) -> a + b) AS pixel_sum
  FROM dims)
SELECT width, height, CAST(1 AS INT) AS channels,
       CAST(COUNT(*) AS BIGINT) AS n_assets,
       CAST(SUM(pixel_sum) AS BIGINT) AS total_pixel_sum
FROM px
GROUP BY width, height
ORDER BY width, height
"""


QUERIES = {
    "multimodal_decode_stats": multimodal_decode_stats,
    "multimodal_frame_sample": multimodal_frame_sample,
    "multimodal_real_decode_rollup": multimodal_real_decode_rollup,
    "multimodal_png_decode_rollup": multimodal_png_decode_rollup,
}

ORACLES = {
    "multimodal_decode_stats": DECODE_STATS_SQL,
    "multimodal_frame_sample": FRAME_SAMPLE_SQL,
    "multimodal_real_decode_rollup": REAL_DECODE_ROLLUP_SQL,
    "multimodal_png_decode_rollup": PNG_DECODE_ROLLUP_SQL,
}


# ---------------------------------------------------------------------------
# audio: RIFF/WAVE PCM codec (zero dependencies) + decode rollup
# ---------------------------------------------------------------------------
def encode_wav(samples: "list[int]", sample_rate: int,
               channels: int = 1, bits: int = 16) -> bytes:
    """Minimal RIFF/WAVE writer: PCM (format 1), interleaved little-endian
    signed samples. Only 16-bit is produced here — enough to round-trip
    the decoder's full chunk walk."""
    import struct

    assert bits == 16
    data = b"".join(struct.pack("<h", s) for s in samples)
    byte_rate = sample_rate * channels * bits // 8
    block_align = channels * bits // 8
    fmt = struct.pack("<HHIIHH", 1, channels, sample_rate, byte_rate,
                      block_align, bits)
    body = (b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(content: bytes) -> tuple[int, int, int, "list[int]"]:
    """RIFF/WAVE PCM parser: validates the RIFF container, walks chunks
    (tolerating extras like LIST/INFO before data), reads fmt_ (PCM only)
    and data, and returns (channels, sample_rate, n_samples, samples) with
    samples as signed ints. Raises ValueError on malformed or non-PCM
    input — the honest failure mode for compressed codecs (MP3/AAC stay
    behind the stub seam like JPEG does for images)."""
    import struct

    if len(content) < 12 or content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(content):
        cid = content[pos:pos + 4]
        (clen,) = struct.unpack("<I", content[pos + 4:pos + 8])
        if pos + 8 + clen > len(content):
            # a declared length overrunning the buffer is malformed input,
            # not a short read to tolerate — silent slicing would hand the
            # caller a truncated fmt/data chunk
            raise ValueError("truncated chunk")
        chunk = content[pos + 8:pos + 8 + clen]
        if cid == b"fmt ":
            if len(chunk) < 16:
                raise ValueError("short fmt chunk")
            fmt = struct.unpack("<HHIIHH", chunk[:16])
        elif cid == b"data":
            data = chunk
        pos += 8 + clen + (clen & 1)          # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt or data chunk")
    audio_format, channels, sample_rate, _, _, bits = fmt
    if audio_format != 1 or bits != 16:
        raise ValueError(f"unsupported wav encoding {audio_format}/{bits}")
    if channels <= 0:
        # the documented contract is ValueError on malformed input; a
        # zero-channel fmt chunk would otherwise surface as
        # ZeroDivisionError below
        raise ValueError(f"invalid channel count {channels}")
    n = len(data) // 2
    samples = list(struct.unpack(f"<{n}h", data[:n * 2]))
    return channels, sample_rate, n // channels, samples


def multimodal_wav_decode_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the REAL audio decoder under the correctness gate: synthesize
    a 16-bit PCM WAV per document (sample count and rate derived from
    n_chars, sample i = ((i*37 + 11) % 4096) - 2048), decode it back
    through the same Arrow-batched mapInPandas as the image paths, and
    roll up per (sample_rate, n_samples) with the decoded amplitude sums.
    The oracle recomputes the sums arithmetically — any divergence in the
    chunk walk, fmt parse, or sample unpacking breaks the hash.

    Scale shape: encode+decode are scan-local (no shuffle); one
    map-side-combinable aggregation over the small (rate, length) key
    space."""
    docs = fan_out(t(spark, sf_dir, "documents").select("doc_id", "n_chars"),
                   "doc_id")
    schema = ("asset_id long, sample_rate int, n_samples int, "
              "amp_sum long, abs_sum long")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                n = int(n_chars) % 50 + 8
                rate = 8000 + (int(n_chars) % 3) * 4000
                samples = [((i * 37 + 11) % 4096) - 2048 for i in range(n)]
                blob = encode_wav(samples, rate)
                ch, drate, dn, dec = decode_wav(blob)
                assert ch == 1 and dn == n
                rows.append((int(doc_id), drate, dn,
                             sum(dec), sum(abs(s) for s in dec)))
            yield pd.DataFrame(
                rows, columns=["asset_id", "sample_rate", "n_samples",
                               "amp_sum", "abs_sum"])

    return (
        docs.mapInPandas(run, schema=schema)
        .groupBy("sample_rate", "n_samples")
        .agg(F.count(F.lit(1)).alias("n_assets"),
             F.sum("amp_sum").alias("total_amp"),
             F.sum("abs_sum").alias("total_abs"))
        .orderBy("sample_rate", "n_samples")
    )


WAV_DECODE_ROLLUP_SQL = """
WITH dims AS (
  SELECT CAST((n_chars % 50) + 8 AS INT) AS n_samples,
         CAST(8000 + (n_chars % 3) * 4000 AS INT) AS sample_rate
  FROM documents),
amp AS (
  SELECT sample_rate, n_samples,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(range(0, n_samples),
                            i -> CAST((i * 37 + 11) % 4096 - 2048
                                      AS BIGINT))),
             (a, b) -> a + b) AS amp_sum,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(range(0, n_samples),
                            i -> CAST(abs((i * 37 + 11) % 4096 - 2048)
                                      AS BIGINT))),
             (a, b) -> a + b) AS abs_sum
  FROM dims)
SELECT sample_rate, n_samples, CAST(COUNT(*) AS BIGINT) AS n_assets,
       CAST(SUM(amp_sum) AS BIGINT) AS total_amp,
       CAST(SUM(abs_sum) AS BIGINT) AS total_abs
FROM amp
GROUP BY sample_rate, n_samples
ORDER BY sample_rate, n_samples
"""

QUERIES["multimodal_wav_decode_rollup"] = multimodal_wav_decode_rollup
ORACLES["multimodal_wav_decode_rollup"] = WAV_DECODE_ROLLUP_SQL


# ---------------------------------------------------------------------------
# audio fingerprint (energy-sign signature) over decoded PCM samples
# ---------------------------------------------------------------------------
AFP_WINDOWS = 57               # energy windows per clip
AFP_WIN_SAMPLES = 4            # samples per window
AFP_N_SAMPLES = AFP_WINDOWS * AFP_WIN_SAMPLES   # 228 samples per clip
AFP_BITS = AFP_WINDOWS - 1     # 56 adjacent-window comparisons


def audio_fingerprint56(samples: "list[int]") -> int:
    """Energy-sign fingerprint — the public Chromaprint-style idea
    reduced to its dHash-shaped core: split the clip into
    {AFP_WINDOWS} fixed windows, take each window's absolute-amplitude
    energy, and set bit w iff E[w] > E[w+1]. 56 bits keeps the value in
    the positive BIGINT range both engines share (same reason as
    dhash56), the sign-of-difference form is invariant to uniform gain,
    and everything is integer arithmetic a SQL oracle replicates
    exactly."""
    assert len(samples) == AFP_N_SAMPLES
    energies = [
        sum(abs(s) for s in
            samples[w * AFP_WIN_SAMPLES:(w + 1) * AFP_WIN_SAMPLES])
        for w in range(AFP_WINDOWS)
    ]
    h = 0
    for w in range(AFP_BITS):
        if energies[w] > energies[w + 1]:
            h |= 1 << w
    return h


def afp_synth_samples(doc_id: int) -> "tuple[list[int], int]":
    """Deterministic 16-bit PCM test clip for ``doc_id`` — the corpus
    the audio-dedup gate runs on (no audio columns exist in the test
    tables; in production the samples come from decode_wav over a
    binaryFile scan and this function disappears).

    Construction mirrors phash_synth_pixels: docs with doc_id % 4 in
    {0, 1} share a seed group g = (doc_id DIV 4)*2 (designed
    near-duplicate PAIRS, linear in corpus size); other docs get a
    unique odd g. Samples use QUADRATIC mixing mod a prime (the
    phash lesson: linear patterns collapse adjacent-window differences
    to near-constants and blow up accidental pairs). The seed enters
    through TWO independent residues (mod 65521 and mod 251), so two
    seeds only produce identical clips when they agree mod
    lcm(65521, 251) ~ 16.4M — a single g % 65521 made seeds differing
    by the prime sample-identical (measured: pairs doubled and
    candidates hit ~21/doc at the 50k-doc probe range); the pre-square
    % 65521 keeps tq^2 inside BIGINT. The doc's variant perturbs exactly
    ONE sample in window 0 — only the E[0] vs E[1] comparison can
    differ inside a pair, so designed-pair hamming is <= 1 < the
    gate's 3. Every value is integer arithmetic the DuckDB oracle
    recomputes; samples stay within int16 for the WAV round-trip."""
    g = (doc_id // 4) * 2 if doc_id % 4 < 2 else doc_id * 2 + 1
    pv = (doc_id % 4 + 1) * 600
    samples = []
    for i in range(AFP_N_SAMPLES):
        tq = ((g % 65521) * (i * 13 + 1)
              + (g % 251) * (i + 3) + 5) % 65521
        v = (tq * tq) % 65521 % 4096 - 2048
        if i == 0:
            v += pv
        samples.append(v)
    rate = 8000 + (doc_id % 3) * 4000
    return samples, rate


def audio_fingerprint_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, afp) over any (doc_id) frame via the REAL audio chain —
    synthesize PCM, round-trip it through encode_wav -> decode_wav
    (RIFF chunk walk + sample unpack), fingerprint the DECODED samples
    — in one scan-local Arrow-batched mapInPandas stage. The one Python
    stage of the audio-dedup plans; banding, candidate join, and
    hamming verify downstream are pure JVM. Shared by the batch
    signature table and the streaming dedupe's per-microbatch signing."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                samples, rate = afp_synth_samples(d)
                ch, drate, dn, dec = decode_wav(encode_wav(samples, rate))
                assert (ch, drate, dn) == (1, rate, AFP_N_SAMPLES)
                rows.append((d, audio_fingerprint56(dec)))
            yield pd.DataFrame(rows, columns=["doc_id", "afp"])

    return docs.select("doc_id").mapInPandas(
        run, schema="doc_id long, afp long")


def audio_fingerprint_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of audio_fingerprint_frame over the documents table."""
    return audio_fingerprint_frame(
        fan_out(t(spark, sf_dir, "documents").select("doc_id"), "doc_id"))


# Shared oracle CTEs: recompute the synthetic samples, the window
# energies, and the 56-bit energy-sign packing — any divergence in the
# WAV round-trip, the windowing, or the bit packing breaks the hash
# downstream.
AFP_ORACLE_CTES = f"""
aparams AS (
  SELECT doc_id,
         CASE WHEN doc_id % 4 < 2 THEN (doc_id // 4) * 2
              ELSE doc_id * 2 + 1 END AS g,
         (doc_id % 4 + 1) * 600 AS pv
  FROM documents),
asamp AS (
  SELECT p.doc_id, r.range AS i,
         ((((p.g % 65521) * (r.range * 13 + 1)
            + (p.g % 251) * (r.range + 3) + 5) % 65521)
          * (((p.g % 65521) * (r.range * 13 + 1)
              + (p.g % 251) * (r.range + 3) + 5) % 65521))
           % 65521 % 4096 - 2048
           + CASE WHEN r.range = 0 THEN p.pv ELSE 0 END AS v
  FROM aparams p CROSS JOIN range(0, {AFP_N_SAMPLES}) r),
awin AS (
  SELECT doc_id, i // {AFP_WIN_SAMPLES} AS w,
         CAST(SUM(abs(v)) AS BIGINT) AS e
  FROM asamp GROUP BY doc_id, i // {AFP_WIN_SAMPLES}),
afpt AS (
  SELECT a.doc_id,
         CAST(SUM(CASE WHEN a.e > b.e
                       THEN (CAST(1 AS BIGINT) << CAST(a.w AS INT))
                       ELSE 0 END) AS BIGINT) AS afp
  FROM awin a JOIN awin b ON b.doc_id = a.doc_id AND b.w = a.w + 1
  WHERE a.w < {AFP_BITS}
  GROUP BY a.doc_id)
"""


# ---------------------------------------------------------------------------
# image resize (nearest-neighbor, zero dependencies) + rollup
# ---------------------------------------------------------------------------
def resize_nearest(pixels: bytes, width: int, height: int,
                   target_w: int, target_h: int,
                   channels: int = 1) -> bytes:
    """Nearest-neighbor resample of a row-major pixel buffer — the
    thumbnail/normalization step every image-training pipeline runs
    before feature extraction. Source index per output pixel is the
    floor mapping sx = xo*width // target_w (integer arithmetic, so the
    result is bit-deterministic across platforms — no float rounding in
    the correctness gate's path). Raises ValueError on a buffer whose
    length disagrees with the declared geometry."""
    if width <= 0 or height <= 0 or target_w <= 0 or target_h <= 0:
        raise ValueError("dimensions must be positive")
    if len(pixels) != width * height * channels:
        raise ValueError(
            f"buffer is {len(pixels)} bytes, geometry says "
            f"{width * height * channels}")
    out = bytearray(target_w * target_h * channels)
    i = 0
    for yo in range(target_h):
        sy = yo * height // target_h
        row = sy * width
        for xo in range(target_w):
            sx = xo * width // target_w
            src = (row + sx) * channels
            out[i:i + channels] = pixels[src:src + channels]
            i += channels
    return bytes(out)


RESIZE_TW = 8
RESIZE_TH = 8


def multimodal_resize_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the REAL resize kernel under the correctness gate:
    synthesize a grayscale image per document (dims from n_chars, pixel
    (x, y) = (x + y) % 256), nearest-neighbor it to a fixed
    {RESIZE_TW}x{RESIZE_TH} thumbnail through resize_nearest, and roll
    up thumbnail pixel sums per source dimension. The oracle predicts
    each thumbnail sum arithmetically (the floor index mapping is pure
    integer math), so an off-by-one in either axis mapping, a
    transposed row stride, or a channel-offset bug breaks the hash.

    Scale shape: synthesis + resize are scan-local mapInPandas (no
    shuffle, Arrow-batched); one map-side-combinable aggregation over
    the small dims key space."""
    docs = fan_out(t(spark, sf_dir, "documents").select("doc_id", "n_chars"),
                   "doc_id")
    schema = "asset_id long, width int, height int, thumb_sum long"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                w = int(n_chars) % 13 + 4
                h = int(n_chars) % 9 + 4
                pixels = bytes(((x + y) % 256)
                               for y in range(h) for x in range(w))
                thumb = resize_nearest(pixels, w, h, RESIZE_TW, RESIZE_TH)
                rows.append((int(doc_id), w, h, sum(thumb)))
            yield pd.DataFrame(
                rows, columns=["asset_id", "width", "height", "thumb_sum"])

    assets = docs.mapInPandas(run, schema=schema)
    return (
        assets.groupBy("width", "height")
        .agg(F.count(F.lit(1)).alias("n_assets"),
             F.sum("thumb_sum").alias("total_thumb_sum"))
        .orderBy("width", "height")
    )


RESIZE_ROLLUP_SQL = f"""
WITH dims AS (
  SELECT CAST(n_chars % 13 + 4 AS INT) AS width,
         CAST(n_chars % 9 + 4 AS INT) AS height
  FROM documents),
grid AS (
  SELECT a.range AS xo, b.range AS yo
  FROM range(0, {RESIZE_TW}) a, range(0, {RESIZE_TH}) b),
thumb AS (
  SELECT d.width, d.height,
         SUM(((g.xo * d.width) // {RESIZE_TW}
              + (g.yo * d.height) // {RESIZE_TH}) % 256) AS thumb_sum
  FROM (SELECT DISTINCT width, height FROM dims) d CROSS JOIN grid g
  GROUP BY d.width, d.height)
SELECT d.width, d.height,
       CAST(COUNT(*) AS BIGINT) AS n_assets,
       CAST(COUNT(*) * ANY_VALUE(t.thumb_sum) AS BIGINT) AS total_thumb_sum
FROM dims d JOIN thumb t ON t.width = d.width AND t.height = d.height
GROUP BY d.width, d.height
ORDER BY d.width, d.height
"""

QUERIES["multimodal_resize_rollup"] = multimodal_resize_rollup
ORACLES["multimodal_resize_rollup"] = RESIZE_ROLLUP_SQL


# ---------------------------------------------------------------------------
# perceptual hash (dHash) over decoded + normalized pixels
# ---------------------------------------------------------------------------
PHASH_TW = 8          # normalization target: 8x8 grayscale thumbnail
PHASH_TH = 8
PHASH_BITS = (PHASH_TW - 1) * PHASH_TH   # 56 horizontal-gradient bits


def dhash56(pixels: bytes, width: int, height: int) -> int:
    """Difference hash: nearest-neighbor-normalize the grayscale buffer to
    {PHASH_TW}x{PHASH_TH}, then one bit per horizontal neighbor comparison
    (bit y*7+x set iff thumb[x+1,y] > thumb[x,y]) — 56 bits, so the hash
    stays in the POSITIVE BIGINT range both engines share (the classic
    9x8->64-bit variant would put bit 63 in the sign position). Pure
    integer arithmetic end-to-end: the resize floor mapping and the
    strict > comparison are bit-deterministic across platforms, which is
    what lets a SQL oracle replicate the hash exactly."""
    thumb = resize_nearest(pixels, width, height, PHASH_TW, PHASH_TH)
    h = 0
    for y in range(PHASH_TH):
        row = y * PHASH_TW
        for x in range(PHASH_TW - 1):
            if thumb[row + x + 1] > thumb[row + x]:
                h |= 1 << (y * (PHASH_TW - 1) + x)
    return h


def phash_synth_pixels(doc_id: int) -> "tuple[bytes, int, int]":
    """Deterministic grayscale test image for ``doc_id`` — the corpus the
    image-dedup gate runs on (no image columns exist in the test tables,
    so the asset is synthesized; in production the pixels come from
    decode_png/decode_image over a binaryFile scan and this function
    disappears).

    Construction: docs with doc_id % 4 in {0, 1} share a motif group
    g = (doc_id DIV 4)*2 (near-duplicate PAIRS — linear in corpus size,
    never a quadratic blob); all other docs get a unique odd g. Group
    decides the geometry (w in 9..12, h in 9..11) and the banded base
    pattern; the doc's variant perturbs exactly ONE thumbnail-sampled
    source pixel (the xo=7 sample column, row doc_id % 8 — the sample
    maps for w<=12, h<=11 are injective, so exactly one thumb cell
    changes and at most ONE dHash bit per doc flips vs the group base,
    keeping pair distance <= 2 <= the hamming gate). Every value is
    integer arithmetic the DuckDB oracle recomputes."""
    g = (doc_id // 4) * 2 if doc_id % 4 < 2 else doc_id * 2 + 1
    w = 9 + g % 4
    h = 9 + g % 3
    xp = (7 * w) // 8                     # the xo=7 sample column
    yp = ((doc_id % 8) * h) // 8          # the yo=doc_id%8 sample row
    pv = (doc_id % 4 + 1) * 40
    px = bytearray(w * h)
    # Quadratic mixing keyed on RAW source coords, not resized buckets:
    # a linear g*k map makes adjacent-cell differences constant (mod
    # wraps), collapsing the comparison signs into a handful of hash
    # values corpus-wide — measured 1.6k distinct hashes / 5k docs and a
    # quadratic accidental-pair blob. Squaring mod a prime gives
    # i.i.d.-ish signs: measured EXACTLY the designed pairs at both
    # scales (0 accidental), candidates ~3/doc.
    for y in range(h):
        for x in range(w):
            tq = (g % 65521) * (x * 32 + y + 1) + 7
            v = (tq * tq) % 65521 % 256
            if x == xp and y == yp:
                v = (v + pv) % 256
            px[y * w + x] = v
    return bytes(px), w, h


def image_phash_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, phash) over any (doc_id) frame via the REAL kernel chain
    — synthesize pixels, round-trip them through encode_png ->
    decode_png (inflate + unfilter), normalize with resize_nearest,
    hash with dhash56 — in one scan-local Arrow-batched mapInPandas
    stage. Everything downstream (banding, candidate join, hamming
    verify) is pure JVM DataFrame work; this is the ONLY Python stage
    in the image-dedup plans, mirroring how a production pipeline
    isolates codec work at the scan. Shared by the batch signature
    table and the streaming dedupe's per-microbatch signing."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                px, w, h = phash_synth_pixels(d)
                dw, dh, dch, dec = decode_png(encode_png(px, w, h, 1))
                assert (dw, dh, dch) == (w, h, 1)
                rows.append((d, dhash56(dec, dw, dh)))
            yield pd.DataFrame(rows, columns=["doc_id", "phash"])

    return docs.select("doc_id").mapInPandas(
        run, schema="doc_id long, phash long")


def image_phash_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of image_phash_frame over the documents table."""
    return image_phash_frame(
        fan_out(t(spark, sf_dir, "documents").select("doc_id"), "doc_id"))


# Shared oracle CTEs: recompute the synthetic pixels, the composed
# resize sampling (thumb(xo,yo) samples source((xo*w)//8, (yo*h)//8)),
# and the 56-bit dHash — any divergence in the PNG round-trip, the
# resize floor maps, or the bit packing breaks the hash downstream.
PHASH_ORACLE_CTES = """
params AS (
  SELECT doc_id,
         CASE WHEN doc_id % 4 < 2 THEN (doc_id // 4) * 2
              ELSE doc_id * 2 + 1 END AS g,
         doc_id % 8 AS ypo,
         (doc_id % 4 + 1) * 40 AS pv
  FROM documents),
geom AS (
  SELECT doc_id, g, ypo, pv, 9 + g % 4 AS w, 9 + g % 3 AS h FROM params),
grid8 AS (
  SELECT a.range AS xo, b.range AS yo FROM range(0, 8) a, range(0, 8) b),
sampled AS (
  SELECT p.doc_id, gr.xo, gr.yo, p.ypo, p.pv, p.w, p.h,
         ((p.g % 65521) * (((gr.xo * p.w) // 8) * 32
                           + ((gr.yo * p.h) // 8) + 1) + 7) % 65521 AS tq
  FROM geom p CROSS JOIN grid8 gr),
thumb AS (
  SELECT doc_id, xo, yo,
         ((tq * tq) % 65521 % 256
          + CASE WHEN (xo * w) // 8 = (7 * w) // 8
                  AND (yo * h) // 8 = (ypo * h) // 8
                 THEN pv ELSE 0 END) % 256 AS val
  FROM sampled),
ph AS (
  SELECT t1.doc_id,
         CAST(SUM(CASE WHEN t2.val > t1.val
                       THEN (CAST(1 AS BIGINT) << (t1.yo * 7 + t1.xo))
                       ELSE 0 END) AS BIGINT) AS phash
  FROM thumb t1 JOIN thumb t2
    ON t2.doc_id = t1.doc_id AND t2.yo = t1.yo AND t2.xo = t1.xo + 1
  WHERE t1.xo < 7
  GROUP BY t1.doc_id)
"""


# ---------------------------------------------------------------------------
# video frame fingerprint (per-frame dHash over the real PNG chain)
# ---------------------------------------------------------------------------
VFP_FRAMES = 4                 # sampled frames per clip


def vfp_synth_pixels(doc_id: int, frame_idx: int) -> "tuple[bytes, int, int]":
    """Deterministic grayscale test FRAME for (``doc_id``, ``frame_idx``)
    — the corpus the video-dedup gate runs on (no video columns exist in
    the test tables; in production the frames come from a codec's frame
    sampler over a binaryFile scan and this function disappears).

    Construction composes both prior synth lessons: docs with
    doc_id % 4 in {0, 1} share a motif group g = (doc_id DIV 4)*2
    (designed near-duplicate PAIRS, linear in corpus size); group decides
    the geometry (w in 9..12, h in 9..11 — identical across a clip's
    frames so aligned frames are comparable). The seed enters the
    QUADRATIC mixing through TWO independent residues (mod 65521 and mod
    251 — the afp prime-wrap lesson), and frame_idx enters BOTH residue
    terms so a clip's frames decorrelate. The doc's variant perturbs
    exactly ONE thumbnail-sampled source pixel per frame (the xo=7
    sample column, row doc_id % 8 — at most ONE dHash bit per doc per
    frame flips vs the group base, pair frame-distance <= 2 <= the
    hamming gate), EXCEPT the last frame, where a whole-frame brightness
    offset of (doc_id % 4) * 97 mod 256 wraps ~38% of pixels and scatters
    ~half the comparison signs: designed pairs agree on frames
    0..{VFP_FRAMES-2} and (almost always) disagree on the last, so they
    typically match exactly VFP_MIN_FRAMES = 3 of 4 frames — the M-of-K
    rule is exercised AT its threshold, not trivially above it (a rare
    pair's scattered last frame can still land inside the hamming gate,
    so frames_matched=4 appears in the tail; measured 124x3 + 1x4 at
    sf0.001). Every value is integer arithmetic
    the DuckDB oracle recomputes."""
    g = (doc_id // 4) * 2 if doc_id % 4 < 2 else doc_id * 2 + 1
    w = 9 + g % 4
    h = 9 + g % 3
    xp = (7 * w) // 8                     # the xo=7 sample column
    yp = ((doc_id % 8) * h) // 8          # the yo=doc_id%8 sample row
    pv = (doc_id % 4 + 1) * 40
    vr = doc_id % 4
    px = bytearray(w * h)
    for y in range(h):
        for x in range(w):
            tq = ((g % 65521) * (x * 32 + y + 1 + frame_idx * 97)
                  + (g % 251) * (x + y * 29 + frame_idx * 11 + 3)
                  + 7) % 65521
            v = (tq * tq) % 65521 % 256
            if frame_idx == VFP_FRAMES - 1:
                v = (v + vr * 97) % 256
            if x == xp and y == yp:
                v = (v + pv) % 256
            px[y * w + x] = v
    return bytes(px), w, h


def video_fingerprint_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, frame_idx, vfh) over any (doc_id) frame via the REAL
    kernel chain — per sampled frame: synthesize pixels, round-trip
    through encode_png -> decode_png (inflate + unfilter), normalize with
    resize_nearest, hash with dhash56 — in one scan-local Arrow-batched
    mapInPandas stage emitting VFP_FRAMES rows per doc. The ONLY Python
    stage in the video-dedup plans; banding, candidate join, and the
    M-of-K frame-match verify downstream are pure JVM. Shared by the
    batch signature table and the streaming dedupe's per-microbatch
    signing."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                for f in range(VFP_FRAMES):
                    px, w, h = vfp_synth_pixels(d, f)
                    dw, dh, dch, dec = decode_png(encode_png(px, w, h, 1))
                    assert (dw, dh, dch) == (w, h, 1)
                    rows.append((d, f, dhash56(dec, dw, dh)))
            yield pd.DataFrame(rows,
                               columns=["doc_id", "frame_idx", "vfh"])

    return docs.select("doc_id").mapInPandas(
        run, schema="doc_id long, frame_idx int, vfh long")


def video_fingerprint_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of video_fingerprint_frame over the documents table."""
    return video_fingerprint_frame(
        fan_out(t(spark, sf_dir, "documents").select("doc_id"), "doc_id"))


# Shared oracle CTEs: recompute the per-frame synthetic pixels, the
# composed resize sampling (thumb(xo,yo) samples source((xo*w)//8,
# (yo*h)//8) — injective for w<=12, h<=11, so the single-pixel perturb
# hits exactly one thumb cell), and the per-frame 56-bit dHash.
VFP_ORACLE_CTES = f"""
vparams AS (
  SELECT doc_id,
         CASE WHEN doc_id % 4 < 2 THEN (doc_id // 4) * 2
              ELSE doc_id * 2 + 1 END AS g,
         doc_id % 8 AS ypo,
         doc_id % 4 AS vr,
         (doc_id % 4 + 1) * 40 AS pv
  FROM documents),
vgeom AS (
  SELECT doc_id, g, ypo, vr, pv, 9 + g % 4 AS w, 9 + g % 3 AS h
  FROM vparams),
vgrid AS (
  SELECT a.range AS xo, b.range AS yo, c.range AS f
  FROM range(0, 8) a, range(0, 8) b, range(0, {VFP_FRAMES}) c),
vsamp AS (
  SELECT p.doc_id, gr.f, gr.xo, gr.yo, p.ypo, p.vr, p.pv, p.w, p.h,
         ((p.g % 65521) * (((gr.xo * p.w) // 8) * 32
                           + ((gr.yo * p.h) // 8) + 1 + gr.f * 97)
          + (p.g % 251) * (((gr.xo * p.w) // 8)
                           + ((gr.yo * p.h) // 8) * 29 + gr.f * 11 + 3)
          + 7) % 65521 AS tq
  FROM vgeom p CROSS JOIN vgrid gr),
vthumb AS (
  SELECT doc_id, f, xo, yo,
         ((tq * tq) % 65521 % 256
          + CASE WHEN f = {VFP_FRAMES - 1} THEN vr * 97 ELSE 0 END
          + CASE WHEN (xo * w) // 8 = (7 * w) // 8
                  AND (yo * h) // 8 = (ypo * h) // 8
                 THEN pv ELSE 0 END) % 256 AS val
  FROM vsamp),
vft AS (
  SELECT t1.doc_id, CAST(t1.f AS INT) AS frame_idx,
         CAST(SUM(CASE WHEN t2.val > t1.val
                       THEN (CAST(1 AS BIGINT) << (t1.yo * 7 + t1.xo))
                       ELSE 0 END) AS BIGINT) AS vfh
  FROM vthumb t1 JOIN vthumb t2
    ON t2.doc_id = t1.doc_id AND t2.f = t1.f
   AND t2.yo = t1.yo AND t2.xo = t1.xo + 1
  WHERE t1.xo < 7
  GROUP BY t1.doc_id, t1.f)
"""
