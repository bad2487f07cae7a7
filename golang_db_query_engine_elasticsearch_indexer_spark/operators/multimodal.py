"""Multimodal-column plumbing: opaque binary payloads + typed metadata.

North-star extension (BASELINE.json): at 100 TB, image/audio/video
live as ``binary`` columns (or object-store pointers via
``spark.read.format("binaryFile")``) with decode / feature-extraction
as Arrow-batched Pandas UDFs over ``mapInPandas``. The image/audio
codecs aren't in this container, so the decode step is a clearly
marked stub (NotImplementedError / deterministic fake) — the
*Spark-side plumbing* (schema, batch iteration, partitioning, UDF
signature) is real and oracle-tested via byte-level features.

The fixture has no binary table; we derive payloads as
``encode(text, 'utf-8')`` so features (byte length, md5) have an exact
DuckDB oracle.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

FEATURE_SCHEMA = "doc_id long, n_bytes long, md5_hex string, head_hex string"


def _feature_batches(batches):
    """mapInPandas worker: per-Arrow-batch byte features. Runs on
    executors; pure function of the payload bytes."""
    for pdf in batches:
        out = pdf[["doc_id"]].copy()
        payload = pdf["payload"]
        out["n_bytes"] = payload.map(len).astype("int64")
        out["md5_hex"] = payload.map(lambda b: hashlib.md5(bytes(b)).hexdigest())
        out["head_hex"] = payload.map(lambda b: bytes(b)[:4].hex())
        yield out


def binary_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column feature extraction through the real multimodal
    path: binary payload -> mapInPandas (Arrow batches) -> typed rows."""
    payloads = spark.table("documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    return payloads.mapInPandas(_feature_batches, schema=FEATURE_SCHEMA).orderBy("doc_id")


# head_hex = first 4 utf-8 bytes in hex. DuckDB: hex(blob) is uppercase,
# so lower() it; fixture text is ASCII so 4 bytes = 4 chars.
BINARY_FEATURES_ORACLE = """
SELECT doc_id,
       octet_length(encode(text))                       AS n_bytes,
       md5(text)                                        AS md5_hex,
       lower(hex(encode(substring(text, 1, 4))))        AS head_hex
FROM documents
ORDER BY doc_id
"""


def decode_stub(modality: str):
    """Decode entry point for codecs this container lacks (audio/video
    compressed formats: mp3/mp4).

    STUB: ffmpeg is not in this container; these modalities validate
    the plumbing contract and fail loudly rather than faking media
    decode silently. IMAGE decode is NOT stubbed for ANY common format
    — see ``decode_image`` (real binary PPM parser), ``decode_bmp``,
    ``decode_png`` (real chunked+zlib decoder), ``decode_gif`` (real
    hand-rolled LZW codec), ``decode_tiff`` (PackBits, both byte
    orders), and ``decode_jpeg`` (r09: real baseline Huffman + IDCT
    decoder) — nor is AUDIO's self-describing format
    (``decode_audio``, real RIFF/WAV chunk walker), all in the same
    Arrow-batched path.
    """

    def _decode(batches):
        for pdf in batches:
            raise NotImplementedError(
                f"{modality} decode requires codec libraries not present in "
                "this environment; image decode (PPM/BMP/PNG/GIF/TIFF/JPEG) "
                "is real — see decode_image/decode_bmp/decode_png/decode_gif/"
                "decode_tiff/decode_jpeg; payload plumbing is also exercised "
                "by binary_features"
            )

    return _decode


# --- real image decode: binary PPM (P6) ------------------------------------
#
# The one self-describing raster format decodable with zero codec deps:
# ASCII header ("P6", whitespace/comment-separated width height maxval,
# ONE whitespace byte) followed by w*h*3 raw RGB bytes. Fixture images
# are synthesized IN SPARK SQL from doc_id (dimensions) and an md5 chain
# (pixel bytes), so the bytes entering the decoder are genuine PPM wire
# format and the DuckDB oracle can recompute the decoded stats from the
# same generative formula without ever parsing binary.

DECODE_SCHEMA = (
    "doc_id long, width int, height int, maxval int, "
    "r_sum long, g_sum long, b_sum long"
)


def _ppm_payload_expr(id_expr: str = "doc_id") -> str:
    """Spark SQL expr: a genuine P6 PPM binary per document.
    width = 4 + id % 5, height = 3 + id % 4, maxval 255; pixel bytes
    are unhex(md5-chain keyed on ``id_expr``) — deterministic, so the
    oracle replays them. Pure codegen'd expressions; the only Python in
    the operator is the decoder itself. ``id_expr`` defaults to the
    document key; the phash entry passes an aliased key to plant
    cross-document duplicate images."""
    w = f"(4 + {id_expr} % 5)"
    h = f"(3 + {id_expr} % 4)"
    nbytes = f"(3 * {w} * {h})"
    nchunks = f"(({nbytes} + 15) div 16)"
    hexstr = (
        f"substring(concat_ws('', transform(sequence(0, {nchunks} - 1), "
        f"i -> md5(concat(cast({id_expr} AS string), ':', cast(i AS string))))), "
        f"1, {nbytes} * 2)"
    )
    header = (
        f"concat('P6', chr(10), cast({w} AS string), ' ', "
        f"cast({h} AS string), chr(10), '255', chr(10))"
    )
    return f"concat(encode({header}, 'utf-8'), unhex({hexstr}))"


def _parse_ppm(b):
    """A REAL PPM (P6) parser — magic check, whitespace/#-comment-
    tolerant header tokenizer, the single-whitespace-then-raster rule,
    numpy (h, w, 3) reshape. Raises on malformed input instead of
    guessing. Executor-side (numpy imported lazily)."""
    import numpy as np  # noqa: PLC0415 — executor-side

    data = bytes(b)
    pos = 0

    def token():
        nonlocal pos
        while pos < len(data):
            c = data[pos : pos + 1]
            if c.isspace():
                pos += 1
            elif c == b"#":
                while pos < len(data) and data[pos : pos + 1] != b"\n":
                    pos += 1
            else:
                break
        start = pos
        while pos < len(data) and not data[pos : pos + 1].isspace():
            pos += 1
        return data[start:pos]

    magic = token()
    if magic != b"P6":
        raise ValueError(f"not a binary PPM (P6): magic={magic!r}")
    w, h, maxval = int(token()), int(token()), int(token())
    # maxval > 255 means TWO bytes per sample (big-endian); this
    # decoder reads one, so reject rather than silently mis-decode.
    if not (0 < maxval <= 255):
        raise ValueError(f"unsupported PPM maxval (8-bit only): {maxval}")
    pos += 1  # exactly ONE whitespace byte separates header and raster
    n = w * h * 3
    if len(data) - pos < n:
        raise ValueError(f"PPM truncated: need {n} bytes, have {len(data) - pos}")
    px = np.frombuffer(data, dtype=np.uint8, count=n, offset=pos).reshape(h, w, 3)
    return w, h, maxval, px


def _decode_ppm_batches(batches):
    """mapInPandas worker: real PPM decode + per-channel sums."""
    import pandas as pd  # noqa: PLC0415

    def stats(b):
        w, h, maxval, px = _parse_ppm(b)
        sums = px.sum(axis=(0, 1), dtype="int64")
        return w, h, maxval, int(sums[0]), int(sums[1]), int(sums[2])

    for pdf in batches:
        rows = [(int(d), *stats(p)) for d, p in zip(pdf["doc_id"], pdf["payload"])]
        yield pd.DataFrame(
            rows,
            columns=["doc_id", "width", "height", "maxval", "r_sum", "g_sum", "b_sum"],
        )


def decode_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real image decode through the multimodal path: synthesize genuine
    PPM binaries (codegen'd SQL), ship them through Arrow batches, parse
    header + raster with an actual decoder, emit typed stats. The shape
    a production pipeline has — binary column in, decoded features out —
    with the decode step no longer a stub."""
    payloads = spark.table("documents").select(
        "doc_id", F.expr(_ppm_payload_expr()).alias("payload")
    )
    return payloads.mapInPandas(_decode_ppm_batches, schema=DECODE_SCHEMA).orderBy(
        "doc_id"
    )


def _decode_image_oracle() -> str:
    """Recomputes the decoded stats from the generative formula (never
    parses binary): channel c of pixel j is the byte at hex positions
    6j+2c+1..6j+2c+2; a hex pair's value via strpos('0123..f')."""
    hv = "strpos('0123456789abcdef', substring(hexstr, {p}, 1)) - 1"
    chan = (
        "cast(list_sum(list_transform(range(0, npix), j -> "
        f"({hv.format(p='6*j + {c2} + 1')}) * 16 + ({hv.format(p='6*j + {c2} + 2')})"
        ")) AS BIGINT)"
    )
    return f"""
WITH dims AS (
  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h FROM documents
),
hx AS (
  SELECT doc_id, w, h, w * h AS npix,
         substring(list_aggregate(list_transform(range(0, (3 * w * h + 15) // 16),
             i -> md5(doc_id::VARCHAR || ':' || i::VARCHAR)), 'string_agg', ''),
           1, 6 * w * h) AS hexstr
  FROM dims
)
SELECT doc_id,
       cast(w AS INTEGER) AS width,
       cast(h AS INTEGER) AS height,
       cast(255 AS INTEGER) AS maxval,
       {chan.format(c2=0)} AS r_sum,
       {chan.format(c2=2)} AS g_sum,
       {chan.format(c2=4)} AS b_sum
FROM hx
ORDER BY doc_id
"""


# --- real audio decode: WAV (RIFF / 8-bit PCM) ------------------------------
#
# Like the PPM path: the one audio container decodable with zero codec
# deps. Fixture WAVs are synthesized IN SPARK SQL as genuine RIFF wire
# format — "RIFF" + size + "WAVE", a 16-byte PCM fmt chunk (mono, 8 kHz,
# 8-bit), and a data chunk whose samples come from the same md5-chain
# generator as the PPM raster — so the decoder parses real bytes and the
# DuckDB oracle recomputes the stats from the generative formula.

WAV_SCHEMA = (
    "doc_id long, n_channels int, sample_rate int, bits int, "
    "n_samples long, sum_sq long, rms double"
)


def _le32hex(expr: str) -> str:
    """Spark SQL expr: little-endian 32-bit hex rendering of an int
    expression (the RIFF/data chunk-size fields)."""
    from golang_db_query_engine_elasticsearch_indexer_spark.functions import (  # noqa: PLC0415
        HEX,
    )

    bytes_ = [f"(({expr}) div {256 ** k}) % 256" for k in range(4)]
    pairs = [
        f"concat(substring('{HEX}', ({b}) div 16 + 1, 1), "
        f"substring('{HEX}', ({b}) % 16 + 1, 1))"
        for b in bytes_
    ]
    return "concat(" + ", ".join(pairs) + ")"


def _wav_payload_expr(id_expr: str = "doc_id") -> str:
    """A genuine 8-bit-PCM mono WAV per document: n = 64 + id % 64
    samples at 8 kHz. Header fields are little-endian per RIFF; sample
    bytes are the md5 chain keyed on 'wav:id'. An odd-length data
    chunk carries the spec-required pad byte (counted in the RIFF size
    but NOT in the data csize), so the files conform for any external
    reader and the parser's word-alignment is truthfully exercised.
    Pure codegen. ``id_expr`` defaults to the document key; the audio
    fingerprint entry passes an aliased key to plant cross-document
    duplicate audio."""
    n = f"(64 + {id_expr} % 64)"
    nchunks = f"(({n} + 15) div 16)"
    hexstr = (
        f"concat(substring(concat_ws('', transform(sequence(0, {nchunks} - 1), "
        f"i -> md5(concat('wav:', cast({id_expr} AS string), ':', cast(i AS string))))), "
        f"1, {n} * 2), CASE WHEN {n} % 2 = 1 THEN '00' ELSE '' END)"
    )
    header_hex = (
        "concat("
        "'52494646', "  # "RIFF"
        f"{_le32hex(f'36 + {n} + {n} % 2')}, "
        "'57415645', "  # "WAVE"
        "'666d7420', '10000000', "  # "fmt ", chunk size 16
        "'0100', '0100', "  # PCM, mono
        "'401f0000', '401f0000', "  # sample rate 8000, byte rate 8000
        "'0100', '0800', "  # block align 1, bits 8
        "'64617461', "  # "data"
        f"{_le32hex(n)})"
    )
    return f"unhex(concat({header_hex}, {hexstr}))"


def _parse_wav(b):
    """A REAL RIFF/WAV parser — validates the RIFF and WAVE magics,
    WALKS the chunk list (id + LE32 size + payload, word-aligned) to
    find fmt and data rather than assuming fixed offsets, checks
    PCM/8-bit. Returns (channels, rate, bits, samples int64 array).
    Raises on malformed input instead of guessing. Executor-side."""
    import struct  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415 — executor-side

    data = bytes(b)
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError(f"not a RIFF/WAVE file: {data[:12]!r}")
    riff_size = struct.unpack("<I", data[4:8])[0]
    if riff_size != len(data) - 8:
        raise ValueError(f"RIFF size {riff_size} != payload {len(data) - 8}")
    pos, fmt, samples = 12, None, None
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        csize = struct.unpack("<I", data[pos + 4 : pos + 8])[0]
        if pos + 8 + csize > len(data):
            raise ValueError(
                f"chunk {cid!r} overruns file: size {csize}, "
                f"{len(data) - pos - 8} bytes remain"
            )
        body = data[pos + 8 : pos + 8 + csize]
        if cid == b"fmt ":
            if len(body) < 16:
                raise ValueError(f"fmt chunk too short: {len(body)} bytes")
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            samples = body
        pos += 8 + csize + (csize % 2)  # chunks are word-aligned
    if fmt is None or samples is None:
        raise ValueError("missing fmt or data chunk")
    audio_fmt, channels, rate, _byte_rate, _align, bits = fmt
    if audio_fmt != 1 or bits != 8:
        raise ValueError(f"not 8-bit PCM: fmt={audio_fmt} bits={bits}")
    px = np.frombuffer(samples, dtype=np.uint8).astype(np.int64)
    return channels, rate, bits, px


def _decode_wav_batches(batches):
    """mapInPandas worker: a REAL RIFF/WAV parser — validates the RIFF
    and WAVE magics, WALKS the chunk list (id + LE32 size + payload,
    word-aligned) to find fmt and data rather than assuming fixed
    offsets, checks PCM/8-bit, and emits exact integer stats (sum of
    squared deviations from the 8-bit midpoint) plus the derived RMS.
    Raises on malformed input instead of guessing."""
    import math  # noqa: PLC0415

    import pandas as pd  # noqa: PLC0415

    def parse(b):
        channels, rate, bits, px = _parse_wav(b)
        n = len(px)
        sum_sq = int(((px - 128) ** 2).sum())  # exact integer arithmetic
        rms = math.floor(math.sqrt(sum_sq / n) * 10_000 + 0.5) / 10_000
        return channels, rate, bits, n, sum_sq, rms

    for pdf in batches:
        rows = [(int(d), *parse(p)) for d, p in zip(pdf["doc_id"], pdf["payload"])]
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "n_channels", "sample_rate", "bits",
                "n_samples", "sum_sq", "rms",
            ],
        )


def decode_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real audio decode through the multimodal path: genuine WAV
    binaries synthesized by codegen'd SQL, Arrow-batched to a real
    RIFF chunk-walking parser, typed stats out. Together with
    ``decode_image`` this retires the decode stub for every
    self-describing format; compressed codecs (jpeg/mp3/mp4) remain
    loud NotImplementedError stubs by design."""
    payloads = spark.table("documents").select(
        "doc_id", F.expr(_wav_payload_expr()).alias("payload")
    )
    return payloads.mapInPandas(_decode_wav_batches, schema=WAV_SCHEMA).orderBy(
        "doc_id"
    )


def _decode_audio_oracle() -> str:
    """Recomputes the decoded stats from the generative formula: sample
    j is the byte at hex positions 2j+1..2j+2 of the md5 chain; sum_sq
    is exact integer arithmetic in both engines, so rms (sqrt of an
    exact ratio) is bit-deterministic before its 4-dp round."""
    hv = "strpos('0123456789abcdef', substring(hexstr, {p}, 1)) - 1"
    byte_j = f"(({hv.format(p='2*j + 1')}) * 16 + ({hv.format(p='2*j + 2')}))"
    return f"""
WITH dims AS (
  SELECT doc_id, 64 + doc_id % 64 AS n FROM documents
),
hx AS (
  SELECT doc_id, n,
         substring(list_aggregate(list_transform(range(0, (n + 15) // 16),
             i -> md5('wav:' || doc_id::VARCHAR || ':' || i::VARCHAR)), 'string_agg', ''),
           1, 2 * n) AS hexstr
  FROM dims
),
stats AS (
  SELECT doc_id, n,
         cast(list_sum(list_transform(range(0, n),
             j -> ({byte_j} - 128) * ({byte_j} - 128))) AS BIGINT) AS sum_sq
  FROM hx
)
SELECT doc_id,
       cast(1 AS INTEGER) AS n_channels,
       cast(8000 AS INTEGER) AS sample_rate,
       cast(8 AS INTEGER) AS bits,
       cast(n AS BIGINT) AS n_samples,
       sum_sq,
       round(sqrt(sum_sq * 1.0 / n), 4) AS rms
FROM stats
ORDER BY doc_id
"""


N_RESIZE_BINS = 8
FRAME_BYTES = 256
FRAME_STRIDE = 4

RESIZE_SCHEMA = "doc_id long, " + ", ".join(
    f"bin{k} double" for k in range(N_RESIZE_BINS)
)


def _resize_batches(batches):
    """mapInPandas worker: DETERMINISTIC FAKE of an image resize.

    A real implementation decodes the payload with a codec and
    average-pools pixels; the codec isn't in this container, so the
    'image' is the raw byte sequence and 'resize to 8 wide' is
    average-pooling byte values into 8 equal-width bins — the same
    batch shape, numpy arithmetic, and output schema a real thumbnailer
    would have.
    """
    import math  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415 — executor-side

    def round_half_up(x):
        # SQL round() is half-away-from-zero; python round() is
        # half-to-even, which differs at exact .5 ulps (means of uint8
        # sums hit them often). Values are non-negative here.
        return math.floor(x * 10_000 + 0.5) / 10_000

    def bins(b):
        px = np.frombuffer(bytes(b), dtype=np.uint8)
        n = len(px)
        return [
            round_half_up(float(px[n * k // N_RESIZE_BINS : n * (k + 1) // N_RESIZE_BINS].mean()))
            if n * (k + 1) // N_RESIZE_BINS > n * k // N_RESIZE_BINS
            else 0.0
            for k in range(N_RESIZE_BINS)
        ]

    for pdf in batches:
        out = pdf[["doc_id"]].copy()
        vals = pdf["payload"].map(bins)
        for k in range(N_RESIZE_BINS):
            out[f"bin{k}"] = vals.map(lambda v, _k=k: v[_k])
        yield out


def resize_pooled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Resize' through the multimodal path: binary payload ->
    mapInPandas average-pool into N_RESIZE_BINS bins."""
    payloads = spark.table("documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    return payloads.mapInPandas(_resize_batches, schema=RESIZE_SCHEMA).orderBy("doc_id")


def _resize_oracle() -> str:
    cols = ",\n       ".join(
        f"round(list_avg(list_transform("
        f"range(length(text) * {k} // {N_RESIZE_BINS} + 1, "
        f"length(text) * {k + 1} // {N_RESIZE_BINS} + 1), "
        f"i -> ascii(substring(text, i, 1)))), 4) AS bin{k}"
        for k in range(N_RESIZE_BINS)
    )
    return f"""
SELECT doc_id,
       {cols}
FROM documents
ORDER BY doc_id
"""


FRAME_SCHEMA = "doc_id long, frame_idx long, frame_md5 string, n_frames long"


def _frame_sample_batches(batches):
    """mapInPandas worker: DETERMINISTIC FAKE of video frame sampling.

    A real implementation demuxes the container and decodes every
    FRAME_STRIDE-th frame; here a 'frame' is a FRAME_BYTES-byte chunk
    of the payload. One input row fans out to many output rows — the
    row-multiplying UDF shape frame extraction needs.
    """
    import pandas as pd  # noqa: PLC0415 — executor-side

    for pdf in batches:
        rows = []
        for doc_id, b in zip(pdf["doc_id"], pdf["payload"]):
            data = bytes(b)
            n_frames = (len(data) + FRAME_BYTES - 1) // FRAME_BYTES
            for idx in range(0, n_frames, FRAME_STRIDE):
                chunk = data[idx * FRAME_BYTES : (idx + 1) * FRAME_BYTES]
                rows.append(
                    (int(doc_id), idx, hashlib.md5(chunk).hexdigest(), n_frames)
                )
        yield pd.DataFrame(rows, columns=["doc_id", "frame_idx", "frame_md5", "n_frames"])


def frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling through the multimodal path: every FRAME_STRIDE-th
    FRAME_BYTES chunk of the payload, with per-chunk digests."""
    payloads = spark.table("documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    return payloads.mapInPandas(_frame_sample_batches, schema=FRAME_SCHEMA).orderBy(
        "doc_id", "frame_idx"
    )


FRAME_SAMPLE_ORACLE = f"""
WITH f AS (
  SELECT doc_id,
         unnest(range(0, (length(text) + {FRAME_BYTES - 1}) // {FRAME_BYTES}, {FRAME_STRIDE})) AS frame_idx,
         (length(text) + {FRAME_BYTES - 1}) // {FRAME_BYTES} AS n_frames,
         text
  FROM documents
)
SELECT doc_id, frame_idx,
       md5(substring(text, frame_idx * {FRAME_BYTES} + 1, {FRAME_BYTES})) AS frame_md5,
       n_frames
FROM f
ORDER BY doc_id, frame_idx
"""


# --- real image decode #2: BMP (24-bit BITMAPINFOHEADER) --------------------
#
# A structurally DIFFERENT parse from PPM: little-endian binary headers
# instead of ASCII tokens, BOTTOM-UP row order, BGR channel order, and
# 4-byte row padding — the three layout traps naive raster readers get
# wrong. Fixture BMPs are synthesized in Spark SQL as genuine wire
# format (headers assembled byte-by-byte as hex, raster from the same
# md5-chain family as the PPM path, per-row zero padding), so the
# decoder parses real bytes and the oracle replays the generative
# formula. The top-left-pixel columns prove the decoder honors the
# bottom-up layout (the visual first row is the LAST stored row) —
# channel sums alone would pass with the rows upside down.

BMP_SCHEMA = (
    "doc_id long, width int, height int, bpp int, row_stride int, "
    "b_sum long, g_sum long, r_sum long, tl_b int, tl_g int, tl_r int"
)

_HEXD = "0123456789abcdef"


def _hex2(b: str) -> str:
    """Spark SQL: two lowercase hex digits of a byte value expression."""
    return (
        f"concat(substring('{_HEXD}', (({b}) div 16) + 1, 1), "
        f"substring('{_HEXD}', (({b}) % 16) + 1, 1))"
    )


def _u32le(x: str) -> str:
    return "concat(" + ", ".join(
        _hex2(f"(({x}) div {256 ** i}) % 256") for i in range(4)
    ) + ")"


def _u16le(x: str) -> str:
    return "concat(" + ", ".join(
        _hex2(f"(({x}) div {256 ** i}) % 256") for i in range(2)
    ) + ")"


def _bmp_payload_expr() -> str:
    """Spark SQL expr: a genuine 24-bit BMP binary per document.
    width = 3 + doc_id % 6 (so the 4-byte row padding cycles 3,0,1,2),
    height = 2 + doc_id % 3, raster bytes from an md5 chain salted
    ':bmp:' — all deterministic, all codegen'd; only the decoder is
    Python."""
    w = "(3 + doc_id % 6)"
    h = "(2 + doc_id % 3)"
    pad = f"((4 - (({w}) * 3) % 4) % 4)"
    stride = f"(({w}) * 3 + {pad})"
    img_size = f"({h} * {stride})"
    nbytes = f"(3 * {w} * {h})"
    nchunks = f"(({nbytes} + 15) div 16)"
    pixhex = (
        f"substring(concat_ws('', transform(sequence(0, {nchunks} - 1), "
        f"i -> md5(concat(cast(doc_id AS string), ':bmp:', cast(i AS string))))), "
        f"1, {nbytes} * 2)"
    )
    # rows stored bottom-up with per-row zero padding
    rows = (
        f"concat_ws('', transform(sequence(0, {h} - 1), "
        f"r -> concat(substring({pixhex}, r * {w} * 6 + 1, {w} * 6), "
        f"repeat('00', {pad}))))"
    )
    header_hex = (
        "concat('424d', "                      # 'BM'
        f"{_u32le(f'54 + {img_size}')}, "      # file size
        "'00000000', "                          # reserved
        f"{_u32le('54')}, "                    # pixel-data offset
        f"{_u32le('40')}, "                    # info-header size
        f"{_u32le(w)}, {_u32le(h)}, "          # width, height (bottom-up)
        f"{_u16le('1')}, {_u16le('24')}, "     # planes, bpp
        f"{_u32le('0')}, "                     # compression BI_RGB
        f"{_u32le(img_size)}, "                # image size
        f"{_u32le('2835')}, {_u32le('2835')}, "  # x/y pixels-per-meter
        f"{_u32le('0')}, {_u32le('0')})"       # palette counts
    )
    return f"unhex(concat({header_hex}, {rows}))"


def _decode_bmp_batches(batches):
    """mapInPandas worker: a REAL BMP decoder — magic/planes/bpp/
    compression validation via little-endian struct parsing, padded
    bottom-up raster walk, BGR channel sums, and the visual top-left
    pixel (stored LAST row first pixel). Raises on malformed input."""
    import struct  # noqa: PLC0415 — executor-side

    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    def parse(b):
        data = bytes(b)
        if data[:2] != b"BM":
            raise ValueError(f"not a BMP: magic={data[:2]!r}")
        file_size, _res, offset = struct.unpack_from("<III", data, 2)
        (
            hdr_size, w, h, planes, bpp, compression, _img_size
        ) = struct.unpack_from("<IiiHHII", data, 14)
        if hdr_size != 40 or planes != 1:
            raise ValueError(f"unsupported BMP header: size={hdr_size} planes={planes}")
        if bpp != 24 or compression != 0:
            raise ValueError(f"unsupported BMP encoding: bpp={bpp} comp={compression}")
        if h <= 0:
            raise ValueError("top-down BMPs (negative height) not supported")
        stride = (w * 3 + 3) & ~3
        if len(data) < offset + h * stride:
            raise ValueError("BMP truncated")
        raw = np.frombuffer(data, dtype=np.uint8, count=h * stride, offset=offset)
        rows = raw.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
        img = rows[::-1]  # bottom-up storage -> visual order
        sums = img.sum(axis=(0, 1), dtype=np.int64)  # B, G, R
        tl = img[0, 0]
        return (
            w, h, bpp, stride,
            int(sums[0]), int(sums[1]), int(sums[2]),
            int(tl[0]), int(tl[1]), int(tl[2]),
        )

    for pdf in batches:
        rows = [(int(d), *parse(p)) for d, p in zip(pdf["doc_id"], pdf["payload"])]
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "width", "height", "bpp", "row_stride",
                "b_sum", "g_sum", "r_sum", "tl_b", "tl_g", "tl_r",
            ],
        )


def decode_bmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real BMP decode through the multimodal path (see the section
    comment: LE headers, bottom-up rows, BGR, row padding)."""
    payloads = spark.table("documents").select(
        "doc_id", F.expr(_bmp_payload_expr()).alias("payload")
    )
    return payloads.mapInPandas(_decode_bmp_batches, schema=BMP_SCHEMA).orderBy(
        "doc_id"
    )


def _decode_bmp_oracle() -> str:
    """Recomputes the decoded stats from the generative formula without
    parsing binary: pixel j's bytes live at hex positions 6j+1.. of the
    md5 chain (B at +0, G at +2, R at +4); the visual top-left pixel is
    the FIRST pixel of the LAST stored row, hex offset 6*w*(h-1)."""
    hv = "strpos('0123456789abcdef', substring(hexstr, {p}, 1)) - 1"
    byte_at = f"(({hv.format(p='{off} + 1')}) * 16 + ({hv.format(p='{off} + 2')}))"
    chan_sum = (
        "cast(list_sum(list_transform(range(0, npix), j -> "
        + byte_at.format(off="6*j + {c2}")
        + ")) AS BIGINT)"
    )
    tl = byte_at.format(off="6 * w * (h - 1) + {c2}")
    return f"""
WITH dims AS (
  SELECT doc_id, 3 + doc_id % 6 AS w, 2 + doc_id % 3 AS h FROM documents
),
hx AS (
  SELECT doc_id, w, h, w * h AS npix,
         substring(list_aggregate(list_transform(range(0, (3 * w * h + 15) // 16),
             i -> md5(doc_id::VARCHAR || ':bmp:' || i::VARCHAR)), 'string_agg', ''),
           1, 6 * w * h) AS hexstr
  FROM dims
)
SELECT doc_id,
       cast(w AS INTEGER) AS width,
       cast(h AS INTEGER) AS height,
       cast(24 AS INTEGER) AS bpp,
       cast((w * 3 + 3) // 4 * 4 AS INTEGER) AS row_stride,
       {chan_sum.format(c2=0)} AS b_sum,
       {chan_sum.format(c2=2)} AS g_sum,
       {chan_sum.format(c2=4)} AS r_sum,
       cast({tl.format(c2=0)} AS INTEGER) AS tl_b,
       cast({tl.format(c2=2)} AS INTEGER) AS tl_g,
       cast({tl.format(c2=4)} AS INTEGER) AS tl_r
FROM hx
ORDER BY doc_id
"""


# --- image near-dup via perceptual hash ------------------------------------
#
# Cross-document duplicate-IMAGE detection — the visual sibling of the
# text dedup family: decode each document's image through the real PPM
# path, compute an average-hash (aHash) perceptual fingerprint in EXACT
# integer arithmetic, and find all pairs within a small hamming radius
# via banded candidates. PHASH_BANDS bands of PHASH_CELLS/PHASH_BANDS
# bits give pigeonhole-EXACT recall at hamming <= PHASH_HAMMING_T
# (3 differing bits cannot touch all 4 bands), so the banded Spark plan
# is differential-checked against the ground-truth ALL-PAIRS oracle —
# the same prove-the-lemma posture as dedup_prefix_filter_jaccard.
#
# The fixture hash is 16-bit (one bit per fixed grid cell) so the
# DuckDB oracle can recompute it from the generative pixel formula; a
# production pHash is 64-bit with 16-bit bands (65536 buckets/band) —
# identical plan shape, and the simhash kernel's occupancy-cap
# discipline applies to the band join at that width.
PHASH_CELLS = 16
PHASH_BANDS = 4
PHASH_HAMMING_T = 3
# Every doc with doc_id % 50 == 1 carries the SAME image as doc_id - 1
# (dims and raster keyed on the aliased id): the realistic "one image
# embedded in many documents" case the entry must surface.
_PHASH_ID = "(CASE WHEN doc_id % 50 = 1 THEN doc_id - 1 ELSE doc_id END)"


def _phash_batches(batches):
    """mapInPandas worker: real decode -> integer aHash. Pixel j's luma
    is r+g+b; grid cell of pixel j is (j * PHASH_CELLS) div npix; bit g
    is set iff cell_sum(g) * npix > total_sum * cellpix(g) — the
    mean-vs-mean comparison cross-multiplied so it stays in exact
    integer arithmetic (no float means, no rounding ambiguity)."""
    import numpy as np  # noqa: PLC0415 — executor-side
    import pandas as pd  # noqa: PLC0415

    def phash(b):
        w, h, _, px = _parse_ppm(b)
        luma = px.sum(axis=2, dtype="int64").reshape(-1)
        npix = w * h
        cell = (np.arange(npix) * PHASH_CELLS) // npix
        cs = np.bincount(cell, weights=luma, minlength=PHASH_CELLS).astype("int64")
        cp = np.bincount(cell, minlength=PHASH_CELLS).astype("int64")
        total = int(luma.sum())
        bits = ((cs * npix) > (total * cp)).astype("int64")
        return int((bits << np.arange(PHASH_CELLS)).sum())

    for pdf in batches:
        rows = [(int(d), phash(p)) for d, p in zip(pdf["doc_id"], pdf["payload"])]
        yield pd.DataFrame(rows, columns=["doc_id", "phash"]).astype(
            {"doc_id": "int64", "phash": "int32"}
        )


def image_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All document pairs whose images are perceptually near-identical
    (aHash hamming <= PHASH_HAMMING_T), found via banded candidates.

    Scale shape: decode+hash is ONE Arrow-batched map-only pass (the
    hash relation is corpus-rowcount x 2 ints — thousands of times
    narrower than the images); candidates come from a band equi-join
    on the hash relation, never an all-pairs product; the hamming
    verify is row-local bit arithmetic on the joined pairs. The
    all-pairs form exists only in the ORACLE (ground truth), exactly
    like the prefix-filter entry."""
    payloads = spark.table("documents").select(
        "doc_id", F.expr(_ppm_payload_expr(_PHASH_ID)).alias("payload")
    )
    hashed = payloads.mapInPandas(_phash_batches, "doc_id long, phash int")
    bits_per_band = PHASH_CELLS // PHASH_BANDS
    banded = hashed.selectExpr(
        "doc_id",
        "phash",
        f"explode(transform(sequence(0, {PHASH_BANDS - 1}), "
        f"b -> struct(b AS band, "
        f"cast(shiftright(phash, b * {bits_per_band}) % {2 ** bits_per_band} AS int)"
        " AS key))) AS bk",
    ).select("doc_id", "phash", "bk.band", "bk.key")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            F.expr("a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id"),
        )
        .selectExpr(
            "a.doc_id AS doc_a",
            "b.doc_id AS doc_b",
            "cast(bit_count(a.phash ^ b.phash) AS int) AS hamming",
        )
        .where(f"hamming <= {PHASH_HAMMING_T}")
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


def _image_phash_oracle() -> str:
    """Ground-truth oracle: recompute every hash from the generative
    pixel formula (per-pixel luma off the md5-chain hex), then the
    ALL-PAIRS hamming join — the banding lemma is what the differential
    proves."""
    hv = "(strpos('0123456789abcdef', substring(hexstr, {p}, 1)) - 1)"
    byte = f"({hv.format(p='{o} + 1')} * 16 + {hv.format(p='{o} + 2')})"
    luma = " + ".join(byte.format(o=f"(6*j + {c2})") for c2 in (0, 2, 4))
    return f"""
WITH ids AS (
  SELECT doc_id, {_PHASH_ID} AS img_id FROM documents
),
dims AS (
  SELECT doc_id, img_id, 4 + img_id % 5 AS w, 3 + img_id % 4 AS h FROM ids
),
hx AS (
  SELECT doc_id, w * h AS npix,
         substring(list_aggregate(list_transform(range(0, (3 * w * h + 15) // 16),
             i -> md5(img_id::VARCHAR || ':' || i::VARCHAR)), 'string_agg', ''),
           1, 6 * w * h) AS hexstr
  FROM dims
),
px AS (
  SELECT doc_id, npix, j, (j * {PHASH_CELLS}) // npix AS g,
         {luma} AS luma
  FROM (SELECT doc_id, npix, hexstr, unnest(range(0, npix)) AS j FROM hx)
),
cells AS (
  SELECT doc_id, npix, g,
         cast(sum(luma) AS BIGINT) AS cs, cast(count(*) AS BIGINT) AS cp
  FROM px GROUP BY doc_id, npix, g
),
tots AS (
  SELECT doc_id, npix, cast(sum(cs) AS BIGINT) AS ts FROM cells
  GROUP BY doc_id, npix
),
hashes AS (
  SELECT c.doc_id,
         cast(sum(CASE WHEN c.cs * c.npix > t.ts * c.cp
                       THEN 1 << c.g ELSE 0 END) AS INTEGER) AS phash
  FROM cells c JOIN tots t ON c.doc_id = t.doc_id
  GROUP BY c.doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       cast(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.phash, b.phash)) <= {PHASH_HAMMING_T}
ORDER BY doc_a, doc_b
"""


# --- audio near-dup via energy-delta fingerprint ---------------------------
#
# The audio sibling of dedup_image_phash (Shazam-lite): decode each
# document's WAV through the real RIFF path, split the samples into
# AFP_FRAMES fixed grid frames, compute per-frame energy (sum of
# squared deviations from the 8-bit midpoint — exact integers), and
# fingerprint the SHAPE of the energy envelope: bit f = 1 iff frame
# f+1 is louder than frame f. Energy-delta signs survive gain changes
# and codec noise, which is why real audio fingerprinting uses the
# derivative, not the energy itself. Candidates come from the same
# 4x4-bit banding (pigeonhole-exact at hamming <= 3); the oracle is
# again the ground-truth all-pairs join off the generative formula.
AFP_FRAMES = 17  # 17 frames -> 16 delta bits
_AFP_ID = "(CASE WHEN doc_id % 40 = 1 THEN doc_id - 1 ELSE doc_id END)"


def _afp_batches(batches):
    """mapInPandas worker: real WAV decode -> integer energy-delta
    fingerprint. Frame of sample j is (j * AFP_FRAMES) div n."""
    import numpy as np  # noqa: PLC0415 — executor-side
    import pandas as pd  # noqa: PLC0415

    def fp(b):
        _, _, _, px = _parse_wav(b)
        n = len(px)
        frame = (np.arange(n) * AFP_FRAMES) // n
        energy = np.bincount(
            frame, weights=(px - 128) ** 2, minlength=AFP_FRAMES
        ).astype("int64")
        bits = (energy[1:] > energy[:-1]).astype("int64")
        return int((bits << np.arange(AFP_FRAMES - 1)).sum())

    for pdf in batches:
        rows = [(int(d), fp(p)) for d, p in zip(pdf["doc_id"], pdf["payload"])]
        yield pd.DataFrame(rows, columns=["doc_id", "afp"]).astype(
            {"doc_id": "int64", "afp": "int32"}
        )


def audio_fingerprint_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All document pairs whose audio is near-identical by the
    energy-envelope fingerprint (hamming <= PHASH_HAMMING_T), banded
    candidates, same scale shape as :func:`image_phash_pairs`."""
    payloads = spark.table("documents").select(
        "doc_id", F.expr(_wav_payload_expr(_AFP_ID)).alias("payload")
    )
    hashed = payloads.mapInPandas(_afp_batches, "doc_id long, afp int")
    bits_per_band = (AFP_FRAMES - 1) // PHASH_BANDS
    banded = hashed.selectExpr(
        "doc_id",
        "afp",
        f"explode(transform(sequence(0, {PHASH_BANDS - 1}), "
        f"b -> struct(b AS band, "
        f"cast(shiftright(afp, b * {bits_per_band}) % {2 ** bits_per_band} AS int)"
        " AS key))) AS bk",
    ).select("doc_id", "afp", "bk.band", "bk.key")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            F.expr("a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id"),
        )
        .selectExpr(
            "a.doc_id AS doc_a",
            "b.doc_id AS doc_b",
            "cast(bit_count(a.afp ^ b.afp) AS int) AS hamming",
        )
        .where(f"hamming <= {PHASH_HAMMING_T}")
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


def _audio_fingerprint_oracle() -> str:
    """Ground truth: per-sample energies off the md5 chain, frame sums,
    LEAD-window delta bits, all-pairs hamming join."""
    hv = "(strpos('0123456789abcdef', substring(hexstr, {p}, 1)) - 1)"
    sample = f"({hv.format(p='2*j + 1')} * 16 + {hv.format(p='2*j + 2')})"
    return f"""
WITH ids AS (
  SELECT doc_id, {_AFP_ID} AS aid FROM documents
),
dims AS (
  SELECT doc_id, aid, 64 + aid % 64 AS n FROM ids
),
hx AS (
  SELECT doc_id, n,
         substring(list_aggregate(list_transform(range(0, (n + 15) // 16),
             i -> md5('wav:' || aid::VARCHAR || ':' || i::VARCHAR)),
           'string_agg', ''), 1, 2 * n) AS hexstr
  FROM dims
),
sm AS (
  SELECT doc_id, n, j, (j * {AFP_FRAMES}) // n AS f,
         ({sample} - 128) * ({sample} - 128) AS e
  FROM (SELECT doc_id, n, hexstr, unnest(range(0, n)) AS j FROM hx)
),
frames AS (
  SELECT doc_id, f, cast(sum(e) AS BIGINT) AS energy
  FROM sm GROUP BY doc_id, f
),
deltas AS (
  SELECT doc_id, f,
         lead(energy) OVER (PARTITION BY doc_id ORDER BY f) AS nxt, energy
  FROM frames
),
fps AS (
  SELECT doc_id,
         cast(sum(CASE WHEN nxt > energy THEN 1 << f ELSE 0 END)
              AS INTEGER) AS afp
  FROM deltas WHERE nxt IS NOT NULL
  GROUP BY doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       cast(bit_count(xor(a.afp, b.afp)) AS INTEGER) AS hamming
FROM fps a JOIN fps b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.afp, b.afp)) <= {PHASH_HAMMING_T}
ORDER BY doc_a, doc_b
"""


# --- real image decode: PNG (stdlib zlib — a COMPRESSED format) -------------
#
# PNG is the one compressed image container decodable with zero codec
# deps: the container is chunked (length/type/data/CRC32), the pixel
# stream is zlib (stdlib), and the per-scanline filters are pure byte
# arithmetic. This retires another slice of the compressed-codec stub
# (decode_stub now covers only jpeg/mp3/mp4, whose codecs genuinely
# aren't in this container).
#
# Fixture discipline matches PPM/WAV/BMP: pixel bytes come from the
# md5-chain formula (md5(doc_id || ':png:' || i) — replayable in DuckDB
# SQL), so the oracle recomputes the decoded stats WITHOUT parsing
# binary. The PNG wrapping itself cannot be synthesized in SQL (CRC32 +
# zlib), so the encoder runs in the same Arrow batch as the decoder;
# the encoder is NOT trusted by symmetry alone — a hand-crafted
# known-byte vector and corruption tests pin the decoder independently
# (tests/test_operators.py).

PNG_SCHEMA = (
    "doc_id long, width int, height int, channels int, "
    "r_sum long, g_sum long, b_sum long, a_sum long"
)

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_pixel_bytes(doc_id: int, n: int) -> bytes:
    """First ``n`` bytes of the md5 chain md5(f"{doc_id}:png:{i}") —
    the Python replay of the oracle's DuckDB formula."""
    import hashlib  # noqa: PLC0415

    out = bytearray()
    i = 0
    while len(out) < n:
        out += bytes.fromhex(
            hashlib.md5(f"{doc_id}:png:{i}".encode()).hexdigest()
        )
        i += 1
    return bytes(out[:n])


def _png_dims(doc_id: int) -> tuple[int, int, int]:
    """(width, height, channels) for one document: the generative
    formula the oracle replays. Channels cycle gray/RGB/RGBA."""
    return 3 + doc_id % 5, 2 + doc_id % 4, (1, 3, 4)[doc_id % 3]


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _filter_scanline(ftype: int, cur: bytes, prior: bytes, bpp: int) -> bytes:
    """Apply PNG filter ``ftype`` to one raw scanline (encoder side)."""
    out = bytearray(len(cur))
    for x, v in enumerate(cur):
        a = cur[x - bpp] if x >= bpp else 0
        b = prior[x]
        c = prior[x - bpp] if x >= bpp else 0
        pred = (0, a, b, (a + b) // 2, _paeth(a, b, c))[ftype]
        out[x] = (v - pred) & 0xFF
    return bytes(out)


def _unfilter_scanline(ftype: int, filt: bytes, prior: bytes, bpp: int) -> bytes:
    """Invert ``_filter_scanline`` (decoder side): reconstruction uses
    already-reconstructed left/up bytes, per the PNG spec."""
    if ftype > 4:
        raise ValueError(f"PNG: unknown filter type {ftype}")
    out = bytearray(len(filt))
    for x, v in enumerate(filt):
        a = out[x - bpp] if x >= bpp else 0
        b = prior[x]
        c = prior[x - bpp] if x >= bpp else 0
        pred = (0, a, b, (a + b) // 2, _paeth(a, b, c))[ftype]
        out[x] = (v + pred) & 0xFF
    return bytes(out)


def _build_png(width: int, height: int, channels: int, pixels: bytes) -> bytes:
    """A genuine PNG: signature, IHDR, one IDAT (zlib), IEND — each
    chunk CRC32-stamped. Scanline filter types CYCLE 0..4 by row so
    every filter path in the decoder is exercised by every image with
    height >= 5 (and across doc_ids for smaller ones)."""
    import struct  # noqa: PLC0415
    import zlib  # noqa: PLC0415

    color_type = {1: 0, 3: 2, 4: 6}[channels]

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    stride = width * channels
    raw = bytearray()
    prior = bytes(stride)
    for r in range(height):
        cur = pixels[r * stride : (r + 1) * stride]
        ftype = r % 5
        raw += bytes([ftype]) + _filter_scanline(ftype, cur, prior, channels)
        prior = cur
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def _parse_png(b) -> tuple[int, int, int, bytes]:
    """A REAL PNG decoder: signature + chunk-CRC validation, IHDR
    sanity (8-bit, gray/RGB/RGBA, deflate, no interlace), multi-IDAT
    concatenation, zlib inflate, and per-scanline unfiltering (all five
    filter types). Returns (width, height, channels, pixel bytes)."""
    import struct  # noqa: PLC0415
    import zlib  # noqa: PLC0415

    data = bytes(b)
    if data[:8] != _PNG_SIG:
        raise ValueError(f"not a PNG: signature={data[:8]!r}")
    pos = 8
    width = height = channels = None
    idat = bytearray()
    ended = False
    while pos < len(data):
        if pos + 8 > len(data):
            raise ValueError("PNG truncated in chunk header")
        (length,) = struct.unpack_from(">I", data, pos)
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if len(body) != length or pos + 12 + length > len(data):
            raise ValueError("PNG truncated in chunk body")
        (crc,) = struct.unpack_from(">I", data, pos + 8 + length)
        if zlib.crc32(ctype + body) != crc:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        if ctype == b"IHDR":
            if length != 13:
                raise ValueError(f"PNG IHDR must be 13 bytes, got {length}")
            width, height, depth, color_type, comp, filt, interlace = (
                struct.unpack(">IIBBBBB", body)
            )
            if depth != 8:
                raise ValueError(f"unsupported PNG bit depth {depth} (8 only)")
            if color_type not in (0, 2, 6):
                raise ValueError(
                    f"unsupported PNG color type {color_type} (gray/RGB/RGBA)"
                )
            if comp != 0 or filt != 0:
                raise ValueError("unsupported PNG compression/filter method")
            if interlace != 0:
                raise ValueError("interlaced PNGs not supported")
            channels = {0: 1, 2: 3, 6: 4}[color_type]
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            ended = True
            break
        pos += 12 + length
    if width is None or not ended:
        raise ValueError("PNG missing IHDR or IEND")
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as e:  # CRC-consistent garbage is still garbage
        raise ValueError(f"PNG IDAT inflate failed: {e}") from e
    stride = width * channels
    if len(raw) != height * (1 + stride):
        raise ValueError(
            f"PNG pixel stream: need {height * (1 + stride)} bytes, "
            f"have {len(raw)}"
        )
    out = bytearray()
    prior = bytes(stride)
    for r in range(height):
        line = raw[r * (1 + stride) : (r + 1) * (1 + stride)]
        cur = _unfilter_scanline(line[0], line[1:], prior, channels)
        out += cur
        prior = cur
    return width, height, channels, bytes(out)


def _decode_png_batches(batches):
    """mapInPandas worker: build the formula PNG, decode it back with
    the real parser, emit per-channel sums of the DECODED pixels."""
    import pandas as pd  # noqa: PLC0415

    def stats(doc_id: int):
        w, h, ch = _png_dims(doc_id)
        png = _build_png(w, h, ch, _png_pixel_bytes(doc_id, w * h * ch))
        dw, dh, dch, px = _parse_png(png)
        sums = [0, 0, 0, 0]
        for j in range(dw * dh):
            for c in range(dch):
                sums[c] += px[j * dch + c]
        return (int(doc_id), dw, dh, dch, *sums)

    for pdf in batches:
        rows = [stats(int(d)) for d in pdf["doc_id"]]
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "width", "height", "channels",
                "r_sum", "g_sum", "b_sum", "a_sum",
            ],
        )


def decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real PNG decode through the multimodal path (chunk CRCs, zlib
    inflate, all five scanline filters; see the section comment).

    Scale shape: identical to decode_image/decode_bmp — map-only over
    Arrow batches, no shuffle before the final order; per-row state is
    one tiny image."""
    payloads = spark.table("documents").select("doc_id")
    return payloads.mapInPandas(_decode_png_batches, schema=PNG_SCHEMA).orderBy(
        "doc_id"
    )


def _decode_png_oracle() -> str:
    """Recomputes the decoded stats from the md5-chain formula without
    touching PNG bytes: pixel j channel c is the byte at hex offset
    2*(channels*j + c) of the chain md5(doc_id || ':png:' || i)."""
    hv = "strpos('0123456789abcdef', substring(hexstr, {p}, 1)) - 1"
    byte_at = f"(({hv.format(p='{off} + 1')}) * 16 + ({hv.format(p='{off} + 2')}))"
    chan_sum = (
        "CASE WHEN {c} < channels THEN cast(list_sum(list_transform(range(0, npix), "
        "j -> " + byte_at.format(off="2*(channels*j + {c})") + ")) AS BIGINT) "
        "ELSE cast(0 AS BIGINT) END"
    )
    return f"""
WITH dims AS (
  SELECT doc_id, 3 + doc_id % 5 AS w, 2 + doc_id % 4 AS h,
         list_element([1, 3, 4], cast(doc_id % 3 AS INTEGER) + 1) AS channels
  FROM documents
),
hx AS (
  SELECT doc_id, w, h, channels, w * h AS npix,
         list_aggregate(list_transform(range(0, (channels * w * h + 15) // 16),
             i -> md5(doc_id::VARCHAR || ':png:' || i::VARCHAR)),
           'string_agg', '') AS hexstr
  FROM dims
)
SELECT doc_id, cast(w AS INTEGER) AS width, cast(h AS INTEGER) AS height,
       cast(channels AS INTEGER) AS channels,
       {chan_sum.format(c=0)} AS r_sum,
       {chan_sum.format(c=1)} AS g_sum,
       {chan_sum.format(c=2)} AS b_sum,
       {chan_sum.format(c=3)} AS a_sum
FROM hx
ORDER BY doc_id
"""


# --- real image decode: GIF (hand-rolled LZW — a second COMPRESSED ----------
# format)
#
# GIF's pixel stream is LZW with variable-width codes — no stdlib codec
# exists, so the codec is implemented from the GIF89a spec: clear/EOI
# codes, dictionary growth, width bumps at powers of two up to the
# 12-bit cap, the KwKwK self-reference case, and clear-on-full-dict.
# This retires another slice of the compressed-codec stub (decode_stub
# now covers only jpeg/mp3/mp4, whose codecs genuinely aren't
# implementable from stdlib primitives in reasonable scope).
#
# Fixture discipline matches PNG: palette indices come from the
# md5-chain formula (md5(doc_id || ':gif:' || i) — replayable in DuckDB
# SQL) and the palette itself is a closed-form function of the entry
# index, so the oracle recomputes the decoded channel sums WITHOUT
# parsing binary. The GIF wrapping (LZW + sub-block framing) cannot be
# synthesized in SQL, so the encoder runs in the same Arrow batch as
# the decoder; the encoder is NOT trusted by symmetry alone — a
# hand-crafted known-byte vector, an out-of-range-code vector, and
# corruption tests pin the decoder independently
# (tests/test_operators.py), and the width schedule of the bit packer
# is a simulation of the DECODER's table growth, not folklore
# off-by-one rules.

GIF_SCHEMA = (
    "doc_id long, width int, height int, n_colors int, "
    "r_sum long, g_sum long, b_sum long"
)

_LZW_MAX_CODE = 4095  # 12-bit cap, GIF89a spec appendix F


def _gif_dims(doc_id: int) -> tuple[int, int, int]:
    """(width, height, palette bits) for one document — the generative
    formula the oracle replays. Palette size cycles 4/8/16 colors."""
    return 3 + doc_id % 5, 2 + doc_id % 4, 2 + doc_id % 3


def _gif_palette(bits: int) -> bytes:
    """Global color table: entry k = ((k*37)%256, (k*73)%256,
    (k*151)%256) — a closed form DuckDB replays without the bytes."""
    return bytes(
        v
        for k in range(1 << bits)
        for v in ((k * 37) % 256, (k * 73) % 256, (k * 151) % 256)
    )


def _gif_index_bytes(doc_id: int, n: int) -> bytes:
    """First ``n`` bytes of the md5 chain md5(f"{doc_id}:gif:{i}")."""
    import hashlib  # noqa: PLC0415

    out = bytearray()
    i = 0
    while len(out) < n:
        out += bytes.fromhex(
            hashlib.md5(f"{doc_id}:gif:{i}".encode()).hexdigest()
        )
        i += 1
    return bytes(out[:n])


def _lzw_codes(mcs: int, indices: bytes) -> list[int]:
    """GIF-LZW compress ``indices`` into a code sequence (no bit
    packing yet): leading CLEAR, greedy longest-match dictionary build,
    CLEAR-and-reset when the table hits the 12-bit cap, trailing EOI."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1

    def base() -> dict[bytes, int]:
        return {bytes([i]): i for i in range(1 << mcs)}

    table = base()
    next_code = eoi + 1
    codes = [clear]
    w = b""
    for k in indices:
        wk = w + bytes([k])
        if wk in table:
            w = wk
            continue
        codes.append(table[w])
        if next_code <= _LZW_MAX_CODE:
            table[wk] = next_code
            next_code += 1
        else:
            codes.append(clear)
            table = base()
            next_code = eoi + 1
        w = bytes([k])
    if w:
        codes.append(table[w])
    codes.append(eoi)
    return codes


def _lzw_pack(mcs: int, codes: list[int]) -> bytes:
    """Pack codes LSB-first into bytes. Each code's width comes from a
    SIMULATION of the decoder's table growth (the decoder assigns
    entries one code later than the encoder, so mirroring its schedule
    here is what keeps both sides bit-synchronized — including the
    final flush code and EOI after a width bump)."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    width = mcs + 1
    next_code = eoi + 1
    have_prev = False
    acc = 0
    nbits = 0
    out = bytearray()
    for code in codes:
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
        if code == clear:
            width, next_code, have_prev = mcs + 1, eoi + 1, False
        elif code == eoi:
            break
        elif have_prev:
            if next_code <= _LZW_MAX_CODE:
                next_code += 1
                if next_code == (1 << width) and width < 12:
                    width += 1
        else:
            have_prev = True
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decode(mcs: int, data: bytes, max_pixels: int) -> bytes:
    """GIF-LZW decompress: variable-width codes LSB-first, CLEAR/EOI,
    the KwKwK case (code == next unassigned code), table cap at 4096
    entries with deferred-clear tolerance, width bumps at powers of
    two. ``max_pixels`` bounds output so a malicious stream can't
    balloon memory past the declared image size."""
    if mcs < 2 or mcs > 11:
        raise ValueError(f"GIF: LZW minimum code size {mcs} out of range")
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    table: list[bytes] = [bytes([i]) for i in range(1 << mcs)] + [b"", b""]
    width = mcs + 1
    next_code = eoi + 1
    out = bytearray()
    prev: bytes | None = None
    bitpos = 0
    total_bits = len(data) * 8
    while True:
        if bitpos + width > total_bits:
            raise ValueError("GIF: LZW stream truncated before EOI")
        byte0 = bitpos // 8
        chunk = int.from_bytes(data[byte0 : byte0 + 3], "little")
        code = (chunk >> (bitpos % 8)) & ((1 << width) - 1)
        bitpos += width
        if code == clear:
            table = [bytes([i]) for i in range(1 << mcs)] + [b"", b""]
            width, next_code, prev = mcs + 1, eoi + 1, None
            continue
        if code == eoi:
            return bytes(out)
        if prev is None:
            if code >= clear:
                raise ValueError(
                    f"GIF: first LZW code after clear must be a literal, got {code}"
                )
            entry = table[code]
        else:
            if code < next_code:
                entry = table[code]
            elif code == next_code and next_code <= _LZW_MAX_CODE:
                entry = prev + prev[:1]  # KwKwK: referenced before assigned
            else:
                raise ValueError(f"GIF: LZW code {code} out of range (next={next_code})")
            if next_code <= _LZW_MAX_CODE:
                table.append(prev + entry[:1])
                next_code += 1
                if next_code == (1 << width) and width < 12:
                    width += 1
        out += entry
        if len(out) > max_pixels:
            raise ValueError(
                f"GIF: LZW output exceeds declared pixel count {max_pixels}"
            )
        prev = entry


def _gif_image_block(
    width: int, height: int, indices: bytes, mcs: int, left: int = 0, top: int = 0
) -> bytes:
    """One image descriptor + LZW-compressed pixel data in <=255-byte
    sub-blocks (the per-frame unit of a GIF stream)."""
    import struct  # noqa: PLC0415

    out = bytearray(
        b"\x2c" + struct.pack("<HHHH", left, top, width, height) + b"\x00"
    )
    out.append(mcs)
    lzw = _lzw_pack(mcs, _lzw_codes(mcs, indices))
    for i in range(0, len(lzw), 255):
        block = lzw[i : i + 255]
        out.append(len(block))
        out += block
    out += b"\x00"
    return bytes(out)


def _build_gif_animation(
    width: int, height: int, palette: bytes, frames: list[bytes]
) -> bytes:
    """A genuine (possibly animated) GIF89a: header, logical screen
    descriptor, global color table, the NETSCAPE2.0 looping application
    extension and a comment extension (so the decoder's block-skipping
    path is always exercised), then one graphic-control extension +
    image block PER FRAME, trailer."""
    import struct  # noqa: PLC0415

    ncolors = len(palette) // 3
    bits = ncolors.bit_length() - 1
    if 1 << bits != ncolors or not 2 <= bits <= 8:
        raise ValueError(f"GIF: palette size {ncolors} not a power of two in 4..256")
    if not frames:
        raise ValueError("GIF: need at least one frame")
    mcs = max(2, bits)
    packed = 0x80 | ((bits - 1) << 4) | (bits - 1)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", width, height, packed, 0, 0)
    out += palette
    out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"  # loop forever
    out += b"\x21\xfe\x03gen\x00"  # comment extension
    for f, indices in enumerate(frames):
        # graphic control: no transparency, delay = (f+1) centiseconds
        out += b"\x21\xf9\x04\x00" + struct.pack("<H", f + 1) + b"\x00\x00"
        out += _gif_image_block(width, height, indices, mcs)
    out += b"\x3b"
    return bytes(out)


def _build_gif(width: int, height: int, palette: bytes, indices: bytes) -> bytes:
    """A single-image GIF89a (one frame of :func:`_build_gif_animation`)."""
    return _build_gif_animation(width, height, palette, [indices])


def _parse_gif(b) -> tuple[int, int, int, bytes, bytes]:
    """A REAL GIF decoder: header + logical-screen parse, global color
    table, extension-block skipping, image descriptor sanity (no local
    palette, no interlace), sub-block reassembly, and full LZW
    decompression. Returns (width, height, n_colors, palette bytes,
    palette-index bytes)."""
    width, height, ncolors, palette, frames = _parse_gif_frames(b)
    if len(frames) != 1:
        raise ValueError("multi-image GIFs not supported")
    _left, _top, iw, ih, pixels = frames[0]
    if (iw, ih) != (width, height):
        raise ValueError("GIF image dims differ from logical screen")
    return width, height, ncolors, palette, pixels


def _parse_gif_frames(
    b,
) -> tuple[int, int, int, bytes, list[tuple[int, int, int, int, bytes]]]:
    """The general GIF walker: EVERY image block in the stream is
    decoded (animated GIFs are a sequence of image descriptors, each
    with its own LZW stream and optional graphic-control extension).
    Returns (screen_w, screen_h, n_colors, palette,
    [(left, top, w, h, index bytes), ...]) — frames are reported RAW
    (their own rectangles and pixels); disposal-method compositing is
    deliberately out of scope (frame statistics don't need a composite,
    and compositing semantics belong to a renderer, not an analytics
    engine)."""
    import struct  # noqa: PLC0415

    data = bytes(b)
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError(f"not a GIF: signature={data[:6]!r}")
    if len(data) < 13:
        raise ValueError("GIF truncated in logical screen descriptor")
    width, height, packed, _bg, _aspect = struct.unpack_from("<HHBBB", data, 6)
    if not packed & 0x80:
        raise ValueError("GIF without a global color table is not supported")
    ncolors = 1 << ((packed & 0x07) + 1)
    pos = 13
    palette = data[pos : pos + 3 * ncolors]
    if len(palette) != 3 * ncolors:
        raise ValueError("GIF truncated in global color table")
    pos += 3 * ncolors
    frames: list[tuple[int, int, int, int, bytes]] = []
    while True:
        if pos >= len(data):
            raise ValueError("GIF truncated before trailer")
        block = data[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label + sub-blocks, skipped
            pos += 1
            while True:
                if pos >= len(data):
                    raise ValueError("GIF truncated in extension block")
                n = data[pos]
                pos += 1 + n
                if n == 0:
                    break
        elif block == 0x2C:  # image descriptor
            if pos + 9 > len(data):
                raise ValueError("GIF truncated in image descriptor")
            left, top, iw, ih, ipacked = struct.unpack_from("<HHHHB", data, pos)
            pos += 9
            if ipacked & 0x80:
                raise ValueError("GIF local color tables not supported")
            if ipacked & 0x40:
                raise ValueError("interlaced GIFs not supported")
            if iw == 0 or ih == 0 or left + iw > width or top + ih > height:
                raise ValueError("GIF frame rectangle outside the logical screen")
            if pos >= len(data):
                raise ValueError("GIF truncated at LZW minimum code size")
            mcs = data[pos]
            pos += 1
            lzw = bytearray()
            while True:
                if pos >= len(data):
                    raise ValueError("GIF truncated in image sub-blocks")
                n = data[pos]
                pos += 1
                if n == 0:
                    break
                chunk = data[pos : pos + n]
                if len(chunk) != n:
                    raise ValueError("GIF truncated in image sub-blocks")
                lzw += chunk
                pos += n
            pixels = _lzw_decode(mcs, bytes(lzw), iw * ih)
            if len(pixels) != iw * ih:
                raise ValueError(
                    f"GIF pixel stream: need {iw * ih} indices, have {len(pixels)}"
                )
            if any(p >= ncolors for p in pixels):
                raise ValueError("GIF pixel index outside the color table")
            frames.append((left, top, iw, ih, pixels))
        else:
            raise ValueError(f"GIF: unknown block introducer 0x{block:02x}")
    if not frames:
        raise ValueError("GIF contains no image")
    return width, height, ncolors, palette, frames


def _decode_gif_batches(batches):
    """mapInPandas worker: build the formula GIF, decode it back with
    the real parser, emit palette-mapped channel sums of the DECODED
    indices."""
    import pandas as pd  # noqa: PLC0415

    def stats(doc_id: int):
        w, h, bits = _gif_dims(doc_id)
        ncolors = 1 << bits
        idxs = bytes(v % ncolors for v in _gif_index_bytes(doc_id, w * h))
        gif = _build_gif(w, h, _gif_palette(bits), idxs)
        dw, dh, dnc, pal, px = _parse_gif(gif)
        sums = [0, 0, 0]
        for i in px:
            sums[0] += pal[3 * i]
            sums[1] += pal[3 * i + 1]
            sums[2] += pal[3 * i + 2]
        return (int(doc_id), dw, dh, dnc, *sums)

    for pdf in batches:
        rows = [stats(int(d)) for d in pdf["doc_id"]]
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "width", "height", "n_colors",
                "r_sum", "g_sum", "b_sum",
            ],
        )


def decode_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real GIF decode through the multimodal path (LZW codec written
    from the GIF89a spec; see the section comment).

    Scale shape: identical to decode_image/decode_bmp/decode_png —
    map-only over Arrow batches, no shuffle before the final order;
    per-row state is one tiny image."""
    payloads = spark.table("documents").select("doc_id")
    return payloads.mapInPandas(_decode_gif_batches, schema=GIF_SCHEMA).orderBy(
        "doc_id"
    )


def _decode_gif_oracle() -> str:
    """Recomputes the decoded channel sums from the md5-chain formula
    without touching GIF bytes: pixel j's palette index is (byte at hex
    offset 2*j of the chain md5(doc_id || ':gif:' || i)) % n_colors,
    and palette entry k is ((k*37)%256, (k*73)%256, (k*151)%256)."""
    hv = "strpos('0123456789abcdef', substring(hexstr, {p}, 1)) - 1"
    byte_at = f"(({hv.format(p='{off} + 1')}) * 16 + ({hv.format(p='{off} + 2')}))"
    idx = byte_at.format(off="2*j") + " % ncolors"
    chan_sum = (
        "cast(list_sum(list_transform(range(0, npix), "
        "j -> ((" + idx + ") * {m}) % 256)) AS BIGINT)"
    )
    return f"""
WITH dims AS (
  SELECT doc_id, 3 + doc_id % 5 AS w, 2 + doc_id % 4 AS h,
         1 << cast(2 + doc_id % 3 AS INTEGER) AS ncolors
  FROM documents
),
hx AS (
  SELECT doc_id, w, h, ncolors, w * h AS npix,
         list_aggregate(list_transform(range(0, (w * h + 15) // 16),
             i -> md5(doc_id::VARCHAR || ':gif:' || i::VARCHAR)),
           'string_agg', '') AS hexstr
  FROM dims
)
SELECT doc_id, cast(w AS INTEGER) AS width, cast(h AS INTEGER) AS height,
       cast(ncolors AS INTEGER) AS n_colors,
       {chan_sum.format(m=37)} AS r_sum,
       {chan_sum.format(m=73)} AS g_sum,
       {chan_sum.format(m=151)} AS b_sum
FROM hx
ORDER BY doc_id
"""


# --- animated GIF: per-frame decode ------------------------------------------
#
# Real-world GIFs are animations — a sequence of image blocks, each
# with its own graphic-control extension and LZW stream. The general
# walker (_parse_gif_frames) decodes EVERY frame; this entry is the
# video-like analogue of multimodal_frame_sample with a REAL codec
# underneath: one row per (doc_id, frame) with palette-mapped channel
# sums. Frames are reported raw (no disposal-method compositing — a
# renderer's concern, not an analytics engine's). Fixture frames come
# from per-(doc, frame) md5 chains, so the DuckDB oracle replays the
# decoded stats without parsing binary.

GIF_FRAMES_SCHEMA = (
    "doc_id long, frame_id int, n_frames int, r_sum long, g_sum long, b_sum long"
)


def _gif_n_frames(doc_id: int) -> int:
    return 2 + doc_id % 3


def _gif_frame_index_bytes(doc_id: int, frame: int, n: int) -> bytes:
    """First ``n`` bytes of the chain md5(f"{doc_id}:gifa:{frame}:{i}")."""
    import hashlib  # noqa: PLC0415

    out = bytearray()
    i = 0
    while len(out) < n:
        out += bytes.fromhex(
            hashlib.md5(f"{doc_id}:gifa:{frame}:{i}".encode()).hexdigest()
        )
        i += 1
    return bytes(out[:n])


def _gif_frames_batches(batches):
    """mapInPandas worker: build the formula animation, decode every
    frame back with the real parser, emit one row per frame."""
    import pandas as pd  # noqa: PLC0415

    def rows_for(doc_id: int):
        w, h, bits = _gif_dims(doc_id)
        ncolors = 1 << bits
        nf = _gif_n_frames(doc_id)
        frames = [
            bytes(v % ncolors for v in _gif_frame_index_bytes(doc_id, f, w * h))
            for f in range(nf)
        ]
        gif = _build_gif_animation(w, h, _gif_palette(bits), frames)
        _w, _h, _nc, pal, decoded = _parse_gif_frames(gif)
        out = []
        for f, (_l, _t, _fw, _fh, px) in enumerate(decoded):
            sums = [0, 0, 0]
            for i in px:
                sums[0] += pal[3 * i]
                sums[1] += pal[3 * i + 1]
                sums[2] += pal[3 * i + 2]
            out.append((int(doc_id), f, len(decoded), *sums))
        return out

    for pdf in batches:
        rows = [r for d in pdf["doc_id"] for r in rows_for(int(d))]
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "frame_id", "n_frames", "r_sum", "g_sum", "b_sum",
            ],
        )


def gif_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-frame decode of animated GIFs through the multimodal path.

    Scale shape: map-only over Arrow batches with a bounded per-row
    fan-out (2-4 frames per document), no shuffle before the final
    order; per-row state is one tiny animation."""
    payloads = spark.table("documents").select("doc_id")
    return payloads.mapInPandas(_gif_frames_batches, schema=GIF_FRAMES_SCHEMA).orderBy(
        "doc_id", "frame_id"
    )


def _gif_frames_oracle() -> str:
    """Replays the per-(doc, frame) md5-chain formula: frame f pixel j
    is (byte 2*j of the chain md5(doc_id || ':gifa:' || f || ':' || i))
    % n_colors, mapped through the closed-form palette."""
    hv = "strpos('0123456789abcdef', substring(hexstr, {p}, 1)) - 1"
    byte_at = f"(({hv.format(p='{off} + 1')}) * 16 + ({hv.format(p='{off} + 2')}))"
    idx = byte_at.format(off="2*j") + " % ncolors"
    chan_sum = (
        "cast(list_sum(list_transform(range(0, npix), "
        "j -> ((" + idx + ") * {m}) % 256)) AS BIGINT)"
    )
    return f"""
WITH dims AS (
  SELECT doc_id, 3 + doc_id % 5 AS w, 2 + doc_id % 4 AS h,
         1 << cast(2 + doc_id % 3 AS INTEGER) AS ncolors,
         2 + doc_id % 3 AS n_frames
  FROM documents
),
frames AS (
  SELECT doc_id, w, h, ncolors, n_frames, unnest(range(0, n_frames)) AS f
  FROM dims
),
hx AS (
  SELECT doc_id, f, n_frames, ncolors, w * h AS npix,
         list_aggregate(list_transform(range(0, (w * h + 15) // 16),
             i -> md5(doc_id::VARCHAR || ':gifa:' || f::VARCHAR || ':' || i::VARCHAR)),
           'string_agg', '') AS hexstr
  FROM frames
)
SELECT doc_id, cast(f AS INTEGER) AS frame_id,
       cast(n_frames AS INTEGER) AS n_frames,
       {chan_sum.format(m=37)} AS r_sum,
       {chan_sum.format(m=73)} AS g_sum,
       {chan_sum.format(m=151)} AS b_sum
FROM hx
ORDER BY doc_id, frame_id
"""


# --- real document decode: PDF text extraction ------------------------------
#
# The LLM-pipeline op users actually run first: documents arrive as
# PDFs, training wants text. The reference has no document parsing at
# all (it ships pre-extracted rows to ES — api/models/*.go are flat
# string structs), so this extends the multimodal decode family from
# images/audio to DOCUMENT formats with a genuinely parsed container:
# classic cross-reference table (seek to byte offsets — no scanning),
# object graph (dicts, arrays, names, numbers, references, literal +
# hex strings), /FlateDecode content streams (zlib — the same
# honest-compression boundary as PNG), and a content-stream text
# extractor covering Tj, ', ", and TJ with the full string-escape
# grammar (\n \r \t \b \f \( \) \\, 1-3 digit octal, backslash
# line continuation, nested unescaped parentheses).
#
# Fixture discipline is STRONGER than the md5-chain codecs: the
# encoder embeds the documents table's own ``text`` column (paginated
# at PDF_PAGE_CHARS, lines alternating Tj / kerned-TJ), so the DuckDB
# oracle replays nothing binary — it checks the extracted text against
# the source column directly (md5 + per-page md5 chain). The encoder
# is not trusted by symmetry alone: a hand-assembled known-byte vector
# (uncompressed stream, octal + continuation escapes, hex string,
# nested parens, ' and TJ operators) pins the parser independently,
# and malformed inputs (bad header, lying xref, short /Length,
# unsupported filter, unterminated string, dangling reference) must
# raise, not mis-extract.

PDF_PAGE_CHARS = 120
PDF_LINE_CHARS = 40

PDF_SCHEMA = (
    "doc_id long, n_pages int, n_chars long, text_md5 string, pages_md5 string"
)

_PDF_WS = b"\x00\t\n\x0c\r "
_PDF_DELIM = b"()<>[]{}/%"


class _PdfName(str):
    """A /Name token (distinct from a string value)."""


class _PdfRef:
    """An indirect reference ``num gen R``."""

    __slots__ = ("num",)

    def __init__(self, num: int) -> None:
        self.num = num


def _pdf_skip_ws(b: bytes, i: int) -> int:
    n = len(b)
    while i < n:
        c = b[i : i + 1]
        if c in _PDF_WS:
            i += 1
        elif c == b"%":
            while i < n and b[i : i + 1] not in b"\r\n":
                i += 1
        else:
            break
    return i


def _pdf_string(b: bytes, i: int) -> tuple[bytes, int]:
    """Literal string ``(...)`` with the spec escape grammar and
    balanced-paren nesting; returns (raw bytes, next index)."""
    i += 1  # past '('
    depth, n = 1, len(b)
    out = bytearray()
    while i < n:
        c = b[i]
        if c == 0x5C:  # backslash
            i += 1
            if i >= n:
                break
            e = b[i]
            if e in b"nrtbf":
                out += {0x6E: b"\n", 0x72: b"\r", 0x74: b"\t",
                        0x62: b"\b", 0x66: b"\f"}[e]
                i += 1
            elif 0x30 <= e <= 0x37:  # 1-3 octal digits
                val, k = 0, 0
                while i < n and k < 3 and 0x30 <= b[i] <= 0x37:
                    val = val * 8 + (b[i] - 0x30)
                    i += 1
                    k += 1
                out.append(val & 0xFF)
            elif e in b"\r\n":  # line continuation: both swallowed
                i += 1
                if e == 0x0D and i < n and b[i] == 0x0A:
                    i += 1
            else:  # spec: stray backslash is dropped, char kept
                out.append(e)
                i += 1
        elif c == 0x28:
            depth += 1
            out.append(c)
            i += 1
        elif c == 0x29:
            depth -= 1
            i += 1
            if depth == 0:
                return bytes(out), i
            out.append(c)
        else:
            out.append(c)
            i += 1
    raise ValueError("PDF: unterminated string literal")


def _pdf_hex_string(b: bytes, i: int) -> tuple[bytes, int]:
    i += 1  # past '<'
    digits: list[str] = []
    n = len(b)
    while i < n and b[i : i + 1] != b">":
        c = b[i : i + 1]
        if c in b"0123456789abcdefABCDEF":
            digits.append(c.decode())
        elif c not in _PDF_WS:
            raise ValueError("PDF: bad hex-string character")
        i += 1
    if i >= n:
        raise ValueError("PDF: unterminated hex string")
    if len(digits) % 2:
        digits.append("0")  # spec: odd count implies trailing 0
    return bytes.fromhex("".join(digits)), i + 1


_PDF_NUM_RE = None  # compiled lazily (executors import this module cold)
_PDF_REF_RE = None


def _pdf_regexes():
    global _PDF_NUM_RE, _PDF_REF_RE  # noqa: PLW0603
    if _PDF_NUM_RE is None:
        import re  # noqa: PLC0415

        _PDF_NUM_RE = re.compile(rb"[+-]?(?:\d+\.\d*|\.\d+|\d+)")
        _PDF_REF_RE = re.compile(rb"\s+(\d+)\s+R(?![A-Za-z0-9])")
    return _PDF_NUM_RE, _PDF_REF_RE


def _pdf_value(b: bytes, i: int, depth: int = 0):
    """Parse one object value at ``i`` (dict/array/name/string/number/
    reference/bool/null); returns (value, next index). Container
    nesting is capped so adversarial bytes raise instead of blowing
    the recursion limit."""
    if depth > 64:
        raise ValueError("PDF: container nesting too deep")
    num_re, ref_re = _pdf_regexes()
    i = _pdf_skip_ws(b, i)
    if b[i : i + 2] == b"<<":
        i += 2
        d: dict[str, object] = {}
        while True:
            i = _pdf_skip_ws(b, i)
            if i >= len(b):
                raise ValueError("PDF: unterminated dictionary")
            if b[i : i + 2] == b">>":
                return d, i + 2
            if b[i : i + 1] != b"/":
                raise ValueError("PDF: dictionary key must be a name")
            key, i = _pdf_value(b, i, depth + 1)
            d[str(key)], i = _pdf_value(b, i, depth + 1)
    if b[i : i + 1] == b"[":
        i += 1
        arr: list[object] = []
        while True:
            i = _pdf_skip_ws(b, i)
            if i >= len(b):
                raise ValueError("PDF: unterminated array")
            if b[i : i + 1] == b"]":
                return arr, i + 1
            v, i = _pdf_value(b, i, depth + 1)
            arr.append(v)
    if b[i : i + 1] == b"(":
        return _pdf_string(b, i)
    if b[i : i + 1] == b"<":
        return _pdf_hex_string(b, i)
    if b[i : i + 1] == b"/":
        j = i + 1
        while j < len(b) and b[j : j + 1] not in _PDF_WS + _PDF_DELIM:
            j += 1
        return _PdfName(b[i + 1 : j].decode("latin-1")), j
    m = num_re.match(b, i)
    if m:
        tok = m.group()
        if b"." in tok:
            return float(tok), m.end()
        r = ref_re.match(b, m.end())
        if r and not tok.startswith((b"+", b"-")):
            return _PdfRef(int(tok)), r.end()
        return int(tok), m.end()
    for kw, val in ((b"true", True), (b"false", False), (b"null", None)):
        if b[i : i + len(kw)] == kw:
            return val, i + len(kw)
    raise ValueError(f"PDF: unparseable token at byte {i}")


def _pdf_xref(b: bytes) -> tuple[dict[int, int], dict]:
    """Locate startxref, parse the classic xref table at that offset
    (subsection headers + 20-byte entries) and the trailer dict."""
    import re  # noqa: PLC0415

    sx = b.rfind(b"startxref")
    if sx < 0:
        raise ValueError("PDF: no startxref")
    m = re.match(rb"startxref\s+(\d+)", b[sx:])
    if not m:
        raise ValueError("PDF: malformed startxref")
    at = int(m.group(1))
    if b[at : at + 4] != b"xref":
        raise ValueError("PDF: startxref does not point at an xref table")
    i = _pdf_skip_ws(b, at + 4)
    head_re = re.compile(rb"(\d+)\s+(\d+)")
    offsets: dict[int, int] = {}
    while not b.startswith(b"trailer", i):
        h = head_re.match(b, i)
        if not h:
            raise ValueError("PDF: bad xref subsection header")
        start, count = int(h.group(1)), int(h.group(2))
        i = _pdf_skip_ws(b, h.end())
        for k in range(count):
            ent = b[i : i + 20]
            if len(ent) < 18:
                raise ValueError("PDF: truncated xref entry")
            if ent[17:18] == b"n":
                offsets[start + k] = int(ent[0:10])
            i += 20
        i = _pdf_skip_ws(b, i)
    trailer, _ = _pdf_value(b, i + len(b"trailer"))
    if not isinstance(trailer, dict) or "Root" not in trailer:
        raise ValueError("PDF: trailer has no /Root")
    return offsets, trailer


def _pdf_object_at(b: bytes, off: int, num: int):
    """Parse ``num gen obj ... endobj`` at the xref-declared offset —
    the offset must actually point at that object (a lying xref is an
    error, not a scan trigger). Returns (value, stream bytes | None)."""
    import re  # noqa: PLC0415

    m = re.compile(rb"(\d+)\s+(\d+)\s+obj\b").match(b, off)
    if not m or int(m.group(1)) != num:
        raise ValueError(f"PDF: xref offset for object {num} is wrong")
    val, i = _pdf_value(b, m.end())
    i = _pdf_skip_ws(b, i)
    if b[i : i + 6] != b"stream":
        return val, None
    if not isinstance(val, dict) or not isinstance(val.get("Length"), int):
        raise ValueError("PDF: stream without an integer /Length")
    i += 6
    if b[i : i + 2] == b"\r\n":
        i += 2
    elif b[i : i + 1] == b"\n":
        i += 1
    data = b[i : i + val["Length"]]
    j = _pdf_skip_ws(b, i + val["Length"])
    if b[j : j + 9] != b"endstream":
        raise ValueError("PDF: /Length does not land on endstream")
    return val, data


def _pdf_text_from_content(data: bytes) -> str:
    """Extract shown text from one content stream: strings consumed by
    Tj / ' / \" and the string elements of TJ arrays, in stream order
    (kerning numbers ignored). Any other operator just clears its
    operands."""
    import re  # noqa: PLC0415

    num_re, _ = _pdf_regexes()
    op_re = re.compile(rb"[A-Za-z'\"][A-Za-z0-9'\"*]*")
    i, n = 0, len(data)
    operands: list[object] = []
    pieces: list[bytes] = []
    while i < n:
        i = _pdf_skip_ws(data, i)
        if i >= n:
            break
        c = data[i : i + 1]
        if c in b"([</" or num_re.match(data, i):
            v, i = _pdf_value(data, i)
            operands.append(v)
            continue
        m = op_re.match(data, i)
        if not m:
            raise ValueError(f"PDF: bad content token at byte {i}")
        op = m.group()
        i = m.end()
        if op in (b"Tj", b"'", b'"'):
            if not operands or not isinstance(operands[-1], bytes):
                raise ValueError(f"PDF: {op.decode()} without a string operand")
            pieces.append(operands[-1])
        elif op == b"TJ":
            if not operands or not isinstance(operands[-1], list):
                raise ValueError("PDF: TJ without an array operand")
            pieces.extend(x for x in operands[-1] if isinstance(x, bytes))
        operands = []
    return b"".join(pieces).decode("utf-8")


def _parse_pdf(b) -> list[str]:
    """A REAL (minimal) PDF reader: header check, startxref -> classic
    xref table -> trailer /Root, object graph walk Catalog -> Pages ->
    Kids -> per-page /Contents, FlateDecode inflate, content-stream
    text extraction. Returns the per-page extracted text."""
    import zlib  # noqa: PLC0415

    b = bytes(b)
    if not b.startswith(b"%PDF-"):
        raise ValueError("PDF: bad header signature")
    offsets, trailer = _pdf_xref(b)

    def deref(v):
        if isinstance(v, _PdfRef):
            if v.num not in offsets:
                raise ValueError(f"PDF: dangling reference to object {v.num}")
            return _pdf_object_at(b, offsets[v.num], v.num)
        return v, None

    try:
        catalog, _ = deref(trailer["Root"])
        pages, _ = deref(catalog["Pages"])
        kids = pages.get("Kids")
        if not isinstance(kids, list) or pages.get("Count") != len(kids):
            raise ValueError("PDF: /Pages /Count disagrees with /Kids")
        out: list[str] = []
        for kid in kids:
            page, _ = deref(kid)
            if str(page.get("Type")) != "Page":
                raise ValueError("PDF: /Kids entry is not a /Page")
            cdict, data = deref(page["Contents"])
            if data is None:
                raise ValueError("PDF: page /Contents is not a stream")
            filt = cdict.get("Filter")
            if filt is not None:
                if str(filt) != "FlateDecode":
                    raise ValueError(f"PDF: unsupported filter /{filt}")
                try:
                    data = zlib.decompress(data)
                except zlib.error as exc:
                    raise ValueError(f"PDF: bad Flate stream: {exc}") from exc
            out.append(_pdf_text_from_content(data))
    except (KeyError, TypeError, AttributeError, UnicodeDecodeError) as exc:
        # a structurally-broken object graph is malformed input, not a
        # parser crash — the totality contract is ValueError
        raise ValueError(f"PDF: malformed object graph: {exc!r}") from exc
    return out


def _pdf_escape(s: str) -> bytes:
    out = s.encode("utf-8")
    return (
        out.replace(b"\\", b"\\\\").replace(b"(", b"\\(").replace(b")", b"\\)")
    )


def _pdf_page_chunks(text: str) -> list[str]:
    if not text:
        raise ValueError("PDF builder: empty document text")
    return [
        text[i : i + PDF_PAGE_CHARS]
        for i in range(0, len(text), PDF_PAGE_CHARS)
    ]


def _pdf_content(chunk: str) -> bytes:
    """One page's content stream. Lines alternate plain Tj and a
    kerned TJ array (string split in half around a -250 adjustment),
    so both show operators are exercised by every multi-line page."""
    lines = [
        chunk[i : i + PDF_LINE_CHARS]
        for i in range(0, len(chunk), PDF_LINE_CHARS)
    ]
    parts = [b"BT /F1 12 Tf 72 720 Td"]
    for i, ln in enumerate(lines):
        if i:
            parts.append(b"0 -14 Td")
        if i % 2 == 0:
            parts.append(b"(" + _pdf_escape(ln) + b") Tj")
        else:
            h = len(ln) // 2
            parts.append(
                b"[(" + _pdf_escape(ln[:h]) + b") -250 ("
                + _pdf_escape(ln[h:]) + b")] TJ"
            )
    parts.append(b"ET")
    return b" ".join(parts)


def _build_pdf(text: str) -> bytes:
    """A genuine multi-page PDF: catalog/pages/font objects, one page +
    one FlateDecode content stream per PDF_PAGE_CHARS chunk, a correct
    classic xref table (real byte offsets), trailer, startxref."""
    import zlib  # noqa: PLC0415

    chunks = _pdf_page_chunks(text)
    objs: dict[int, bytes] = {}
    kids = " ".join(f"{4 + 2 * i} 0 R" for i in range(len(chunks)))
    objs[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    objs[2] = (
        f"<< /Type /Pages /Count {len(chunks)} /Kids [ {kids} ] >>".encode()
    )
    objs[3] = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    for i, chunk in enumerate(chunks):
        pg, cs = 4 + 2 * i, 5 + 2 * i
        objs[pg] = (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [ 0 0 612 792 ] "
            f"/Resources << /Font << /F1 3 0 R >> >> /Contents {cs} 0 R >>"
        ).encode()
        data = zlib.compress(_pdf_content(chunk))
        objs[cs] = (
            f"<< /Filter /FlateDecode /Length {len(data)} >>".encode()
            + b"\nstream\n"
            + data
            + b"\nendstream"
        )
    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets: dict[int, int] = {}
    for num in sorted(objs):
        offsets[num] = len(out)
        out += f"{num} 0 obj\n".encode() + objs[num] + b"\nendobj\n"
    xref_at = len(out)
    nobj = max(objs) + 1
    out += f"xref\n0 {nobj}\n".encode() + b"0000000000 65535 f \n"
    for num in range(1, nobj):
        out += f"{offsets[num]:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {nobj} /Root 1 0 R >>\n"
        f"startxref\n{xref_at}\n%%EOF\n"
    ).encode()
    return bytes(out)


def _pdf_batches(batches):
    """mapInPandas worker: wrap each document's text in a real PDF,
    extract it back with the real reader, emit page/char counts and
    md5s of the EXTRACTED text (the oracle recomputes them from the
    source column — any parser infidelity flips the hash)."""
    import hashlib  # noqa: PLC0415

    import pandas as pd  # noqa: PLC0415

    def stats(doc_id: int, text: str):
        pages = _parse_pdf(_build_pdf(text))
        joined = "".join(pages)
        page_chain = "".join(
            hashlib.md5(p.encode()).hexdigest() for p in pages
        )
        return (
            int(doc_id),
            len(pages),
            len(joined),
            hashlib.md5(joined.encode()).hexdigest(),
            hashlib.md5(page_chain.encode()).hexdigest(),
        )

    for pdf in batches:
        rows = [stats(d, t) for d, t in zip(pdf["doc_id"], pdf["text"])]
        yield pd.DataFrame(
            rows,
            columns=["doc_id", "n_pages", "n_chars", "text_md5", "pages_md5"],
        )


def pdf_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF -> text extraction through the multimodal decode path (see
    the section comment: real xref/object/stream/content parsing).

    Scale shape: identical to the other decoders — map-only over Arrow
    batches (codec work can't be SQL), no shuffle before the final
    order; per-row state is one document's PDF. On a cluster the
    binary column streams through executors once; nothing collects."""
    payloads = spark.table("documents").select("doc_id", "text")
    return payloads.mapInPandas(_pdf_batches, schema=PDF_SCHEMA).orderBy(
        "doc_id"
    )


def _pdf_extract_oracle() -> str:
    """No binary replay at all: the extraction is checked against the
    source ``text`` column itself — total md5, char count, and the
    per-page md5 chain replayed with substring() at PDF_PAGE_CHARS."""
    return f"""
WITH d AS (
  SELECT doc_id, text, length(text) AS n_chars,
         (length(text) + {PDF_PAGE_CHARS - 1}) // {PDF_PAGE_CHARS} AS n_pages
  FROM documents
)
SELECT doc_id,
       cast(n_pages AS INTEGER) AS n_pages,
       cast(n_chars AS BIGINT) AS n_chars,
       md5(text) AS text_md5,
       md5(list_aggregate(list_transform(range(0, n_pages),
             i -> md5(substring(text,
                                cast(i * {PDF_PAGE_CHARS} + 1 AS INTEGER),
                                {PDF_PAGE_CHARS}))),
           'string_agg', '')) AS pages_md5
FROM d
ORDER BY doc_id
"""


# --- real image decode: TIFF (IFD directory + PackBits RLE) -----------------
#
# A third genuinely-parsed image container, with a container shape the
# others don't exercise: TIFF is an OFFSET-GRAPH format (a binary tag
# directory — the IFD — whose entries point at data elsewhere in the
# file, like PDF's xref but packed structs), supports BOTH byte orders
# ("II" little / "MM" big — the parser honors each, and the fixture
# cycles them), splits pixel data into multiple strips that must be
# reassembled in order, and compresses with PackBits — the third
# hand-rolled codec after PNG/zlib and GIF/LZW (Apple RLE: header
# 0..127 = n+1 literals, 129..255 = repeat next byte 257-n times,
# 128 = noop). Grayscale and RGB, 8-bit, strip-based baseline TIFF.
#
# Fixture discipline matches PNG/GIF: pixels come from the md5 chain
# md5(doc_id || ':tiff:' || i), so the DuckDB oracle replays channel
# sums WITHOUT parsing binary; the encoder runs beside the decoder in
# the Arrow batch and is NOT trusted by symmetry alone — a hand-built
# known-byte vector (big-endian, hand-packed PackBits stream),
# malformed-input vectors, and hypothesis properties (PackBits
# roundtrip for any bytes, parser totality on adversarial bytes) pin
# the decoder independently.

TIFF_SCHEMA = (
    "doc_id long, width int, height int, channels int, compression int, "
    "r_sum long, g_sum long, b_sum long"
)

_TIFF_ROWS_PER_STRIP = 2
_PACKBITS = 32773  # baseline TIFF "Macintosh RLE" compression tag value


def _tiff_dims(doc_id: int) -> tuple[int, int, int, int, str]:
    """(width, height, channels, compression, byte order) — the
    generative formula the oracle replays. Compression alternates
    none/PackBits, byte order cycles II/MM."""
    return (
        4 + doc_id % 5,
        2 + doc_id % 4,
        (1, 3)[doc_id % 2],
        1 if doc_id % 3 == 0 else _PACKBITS,
        "MM" if doc_id % 5 == 0 else "II",
    )


def _tiff_pixel_bytes(doc_id: int, n: int) -> bytes:
    import hashlib  # noqa: PLC0415

    out = bytearray()
    i = 0
    while len(out) < n:
        out += bytes.fromhex(
            hashlib.md5(f"{doc_id}:tiff:{i}".encode()).hexdigest()
        )
        i += 1
    return bytes(out[:n])


def _packbits_encode(data: bytes) -> bytes:
    """PackBits per the TIFF 6.0 spec: maximal runs of 2..128 equal
    bytes become (257-n, byte); literal spans of 1..128 become
    (n-1, bytes). Runs of exactly 2 are folded into literals when
    surrounded by literals (the spec's recommendation) — the decoder
    must handle any mix regardless."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        # find run length at i
        j = i + 1
        while j < n and j - i < 128 and data[j] == data[i]:
            j += 1
        run = j - i
        if run >= 3 or (run == 2 and i + run >= n):
            out += bytes([257 - run, data[i]])
            i = j
            continue
        # literal span: until a run of >= 3 starts (or 128 cap)
        k = i
        while k < n and k - i < 128:
            r = k + 1
            while r < n and r - k < 3 and data[r] == data[k]:
                r += 1
            if r - k >= 3:
                break
            k = r
        k = min(k, i + 128)
        out += bytes([k - i - 1]) + data[i:k]
        i = k
    return bytes(out)


def _packbits_decode(data: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        h = data[i]
        i += 1
        if h == 128:  # noop
            continue
        if h < 128:  # h+1 literal bytes
            if i + h + 1 > n:
                raise ValueError("TIFF: PackBits literal overruns the strip")
            out += data[i : i + h + 1]
            i += h + 1
        else:  # repeat next byte 257-h times
            if i >= n:
                raise ValueError("TIFF: PackBits run header at end of strip")
            out += bytes([data[i]]) * (257 - h)
            i += 1
    return bytes(out)


def _build_tiff(
    width: int, height: int, channels: int, compression: int,
    order: str, pixels: bytes,
) -> bytes:
    """A genuine strip-based baseline TIFF in either byte order:
    header, pixel strips (RowsPerStrip rows each, PackBits-compressed
    when asked), then one IFD whose entries point back at the strips."""
    import struct  # noqa: PLC0415

    e = "<" if order == "II" else ">"
    stride = width * channels
    strips = []
    for r0 in range(0, height, _TIFF_ROWS_PER_STRIP):
        raw = pixels[r0 * stride : (r0 + _TIFF_ROWS_PER_STRIP) * stride]
        strips.append(
            raw if compression == 1 else _packbits_encode(raw)
        )
    out = bytearray(struct.pack(f"{e}2sHI", order.encode(), 42, 0))
    offsets, counts = [], []
    for sdata in strips:
        offsets.append(len(out))
        counts.append(len(sdata))
        out += sdata
    # value arrays that do not fit in the 4-byte entry slot live here
    nstrips = len(strips)
    extra: dict[int, int] = {}
    if nstrips > 1:
        extra[273] = len(out)
        out += struct.pack(f"{e}{nstrips}I", *offsets)
        extra[279] = len(out)
        out += struct.pack(f"{e}{nstrips}I", *counts)
    if channels == 3:
        extra[258] = len(out)
        out += struct.pack(f"{e}3H", 8, 8, 8)
    ifd_at = len(out)
    struct.pack_into(f"{e}I", out, 4, ifd_at)

    def entry(tag: int, typ: int, count: int, value: int) -> bytes:
        return struct.pack(f"{e}HHII", tag, typ, count, value)

    entries = [
        entry(256, 4, 1, width),                     # ImageWidth  LONG
        entry(257, 4, 1, height),                    # ImageLength LONG
        entry(
            258, 3, channels,
            8 if channels == 1 else extra[258],      # BitsPerSample SHORT[]
        ),
        entry(259, 3, 1, compression),               # Compression
        entry(262, 3, 1, 1 if channels == 1 else 2), # Photometric
        entry(
            273, 4, nstrips,
            offsets[0] if nstrips == 1 else extra[273],  # StripOffsets
        ),
        entry(277, 3, 1, channels),                  # SamplesPerPixel
        entry(278, 4, 1, _TIFF_ROWS_PER_STRIP),      # RowsPerStrip
        entry(
            279, 4, nstrips,
            counts[0] if nstrips == 1 else extra[279],   # StripByteCounts
        ),
    ]
    # SHORT single values sit left-justified in the 4-byte slot under
    # big-endian — re-pack those three entries correctly
    def short_entry(tag: int, value: int) -> bytes:
        return struct.pack(f"{e}HHIHH", tag, 3, 1, value, 0)

    entries[3] = short_entry(259, compression)
    entries[4] = short_entry(262, 1 if channels == 1 else 2)
    entries[6] = short_entry(277, channels)
    if channels == 1:
        entries[2] = short_entry(258, 8)
    out += struct.pack(f"{e}H", len(entries))
    for en in entries:
        out += en
    out += struct.pack(f"{e}I", 0)  # no next IFD
    return bytes(out)


def _parse_tiff(b) -> tuple[int, int, int, int, bytes]:
    """A REAL baseline-TIFF reader: byte-order detection (II/MM),
    magic-42 check, IFD walk at its declared offset, tag extraction
    with SHORT/LONG handling and out-of-line value arrays, strip
    reassembly in order, per-strip PackBits decompression, and size
    validation against width*height*samples. Returns
    (width, height, channels, compression, pixel bytes)."""
    import struct  # noqa: PLC0415

    b = bytes(b)
    if len(b) < 8:
        raise ValueError("TIFF: truncated header")
    try:
        return _parse_tiff_checked(b)
    except struct.error as exc:  # belt over the explicit bounds checks
        raise ValueError(f"TIFF: truncated structure: {exc}") from exc


def _parse_tiff_checked(b: bytes) -> tuple[int, int, int, int, bytes]:
    import struct  # noqa: PLC0415

    order = b[:2]
    if order == b"II":
        e = "<"
    elif order == b"MM":
        e = ">"
    else:
        raise ValueError("TIFF: bad byte-order signature")
    magic, ifd_at = struct.unpack_from(f"{e}HI", b, 2)
    if magic != 42:
        raise ValueError("TIFF: bad magic number")
    if ifd_at + 2 > len(b):
        raise ValueError("TIFF: IFD offset out of bounds")
    (n_entries,) = struct.unpack_from(f"{e}H", b, ifd_at)
    if ifd_at + 2 + 12 * n_entries + 4 > len(b):
        raise ValueError("TIFF: IFD overruns the file")
    tags: dict[int, tuple[int, int, int]] = {}
    for i in range(n_entries):
        at = ifd_at + 2 + 12 * i
        tag, typ, count = struct.unpack_from(f"{e}HHI", b, at)
        tags[tag] = (typ, count, at + 8)

    def values(tag: int, default=None) -> list[int]:
        if tag not in tags:
            if default is None:
                raise ValueError(f"TIFF: required tag {tag} missing")
            return [default]
        typ, count, slot = tags[tag]
        if typ == 3:
            size, fmt = 2, "H"
        elif typ == 4:
            size, fmt = 4, "I"
        else:
            raise ValueError(f"TIFF: unsupported type {typ} for tag {tag}")
        if size * count <= 4:
            at = slot
        else:
            (at,) = struct.unpack_from(f"{e}I", b, slot)
        if at + size * count > len(b):
            raise ValueError(f"TIFF: tag {tag} values out of bounds")
        return list(struct.unpack_from(f"{e}{count}{fmt}", b, at))

    width = values(256)[0]
    height = values(257)[0]
    channels = values(277, 1)[0]
    compression = values(259, 1)[0]
    if compression not in (1, _PACKBITS):
        raise ValueError(f"TIFF: unsupported compression {compression}")
    bits = values(258, 8)
    if len(bits) != channels or any(x != 8 for x in bits):
        raise ValueError("TIFF: only 8-bit samples supported")
    offsets = values(273)
    counts = values(279)
    if len(offsets) != len(counts):
        raise ValueError("TIFF: StripOffsets/StripByteCounts disagree")
    out = bytearray()
    for off, cnt in zip(offsets, counts):
        if off + cnt > len(b):
            raise ValueError("TIFF: strip out of bounds")
        strip = b[off : off + cnt]
        out += strip if compression == 1 else _packbits_decode(strip)
    if len(out) != width * height * channels:
        raise ValueError(
            "TIFF: decoded strip bytes do not cover width*height*samples"
        )
    return width, height, channels, compression, bytes(out)


def _decode_tiff_batches(batches):
    import pandas as pd  # noqa: PLC0415

    def stats(doc_id: int):
        w, h, ch, comp, order = _tiff_dims(doc_id)
        px = _tiff_pixel_bytes(doc_id, w * h * ch)
        dw, dh, dch, dcomp, out = _parse_tiff(
            _build_tiff(w, h, ch, comp, order, px)
        )
        sums = [0, 0, 0]
        for j in range(dw * dh):
            for c in range(dch):
                sums[c] += out[j * dch + c]
        return (int(doc_id), dw, dh, dch, dcomp, *sums)

    for pdf in batches:
        rows = [stats(int(d)) for d in pdf["doc_id"]]
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "width", "height", "channels", "compression",
                "r_sum", "g_sum", "b_sum",
            ],
        )


def decode_tiff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real TIFF decode through the multimodal path (IFD walk, both
    byte orders, strip reassembly, PackBits — see section comment).

    Scale shape: identical to the other decoders — map-only over Arrow
    batches, no shuffle before the final order."""
    payloads = spark.table("documents").select("doc_id")
    return payloads.mapInPandas(
        _decode_tiff_batches, schema=TIFF_SCHEMA
    ).orderBy("doc_id")


def _decode_tiff_oracle() -> str:
    """md5-chain replay, PNG-oracle style: byte at hex offset
    2*(channels*j + c) of the chain md5(doc_id || ':tiff:' || i)."""
    hv = "strpos('0123456789abcdef', substring(hexstr, {p}, 1)) - 1"
    byte_at = f"(({hv.format(p='{off} + 1')}) * 16 + ({hv.format(p='{off} + 2')}))"
    chan_sum = (
        "CASE WHEN {c} < channels THEN cast(list_sum(list_transform(range(0, npix), "
        "j -> " + byte_at.format(off="2*(channels*j + {c})") + ")) AS BIGINT) "
        "ELSE cast(0 AS BIGINT) END"
    )
    return f"""
WITH dims AS (
  SELECT doc_id, 4 + doc_id % 5 AS w, 2 + doc_id % 4 AS h,
         list_element([1, 3], cast(doc_id % 2 AS INTEGER) + 1) AS channels,
         CASE WHEN doc_id % 3 = 0 THEN 1 ELSE {_PACKBITS} END AS compression
  FROM documents
),
hx AS (
  SELECT doc_id, w, h, channels, compression, w * h AS npix,
         list_aggregate(list_transform(range(0, (channels * w * h + 15) // 16),
             i -> md5(doc_id::VARCHAR || ':tiff:' || i::VARCHAR)),
           'string_agg', '') AS hexstr
  FROM dims
)
SELECT doc_id, cast(w AS INTEGER) AS width, cast(h AS INTEGER) AS height,
       cast(channels AS INTEGER) AS channels,
       cast(compression AS INTEGER) AS compression,
       {chan_sum.format(c=0)} AS r_sum,
       {chan_sum.format(c=1)} AS g_sum,
       {chan_sum.format(c=2)} AS b_sum
FROM hx
ORDER BY doc_id
"""


# --- real document decode: DOCX text extraction ------------------------------
#
# The PDF reader's sibling for the OTHER ubiquitous document format.
# DOCX is a ZIP container (stdlib zipfile — the same honest-stdlib
# boundary as zlib for PNG) holding OOXML parts; the text lives in
# word/document.xml as w:p paragraphs of w:r runs of w:t text nodes in
# the WordprocessingML namespace. The reader walks the REAL structure:
# container open, the [Content_Types].xml presence check, document
# part lookup, namespace-qualified XML parse (stdlib ElementTree), and
# in-order w:t text collection per paragraph (w:t nodes carry
# xml:space="preserve" because run boundaries land mid-whitespace).
#
# Fixture discipline matches PDF: the encoder embeds the documents
# table's own text column (paragraphs = DOCX_PARA_CHARS slices, runs =
# DOCX_RUN_CHARS slices within each paragraph), so the DuckDB oracle
# checks the extraction against the SOURCE column — total md5, counts,
# and the per-paragraph md5 chain — with zero binary/XML replay.
# Malformed containers (not a zip, missing parts, broken XML, wrong
# namespace) raise ValueError, pinned by vectors in the tests.

DOCX_PARA_CHARS = 120
DOCX_RUN_CHARS = 40

DOCX_SCHEMA = (
    "doc_id long, n_paragraphs int, n_runs long, n_chars long, "
    "text_md5 string, paras_md5 string"
)

_W_NS = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"

_DOCX_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/word/document.xml" ContentType="application/vnd.'
    'openxmlformats-officedocument.wordprocessingml.document.main+xml"/>'
    "</Types>"
)

_DOCX_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/'
    'relationships"><Relationship Id="rId1" Type="http://schemas.'
    'openxmlformats.org/officeDocument/2006/relationships/officeDocument" '
    'Target="word/document.xml"/></Relationships>'
)


# XML 1.0 Char production: control characters (other than TAB/LF/CR)
# simply cannot appear in a well-formed document, escaped or not — a
# real .docx cannot carry them either, so the builder refuses loudly
# instead of emitting a file every conformant parser would reject.
_XML_ILLEGAL = None


def _docx_xml_escape(s: str) -> str:
    global _XML_ILLEGAL  # noqa: PLW0603
    if _XML_ILLEGAL is None:
        import re  # noqa: PLC0415

        _XML_ILLEGAL = re.compile(
            "[^\t\n\r\u0020-\ud7ff\ue000-\ufffd"
            "\U00010000-\U0010ffff]"
        )
    m = _XML_ILLEGAL.search(s)
    if m:
        raise ValueError(
            f"DOCX builder: character {m.group()!r} is not representable "
            "in XML 1.0"
        )
    # XML 1.0 2.11: parsers normalize \r and \r\n to \n in content, so
    # a conformant writer must emit carriage returns as &#13; to
    # round-trip them
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        .replace("\r", "&#13;")
    )


def _build_docx(text: str) -> bytes:
    """A genuine minimal DOCX: ZIP with [Content_Types].xml, _rels, and
    word/document.xml — paragraphs at DOCX_PARA_CHARS, runs at
    DOCX_RUN_CHARS, every w:t marked xml:space='preserve' (slices cut
    mid-whitespace; an un-preserved node would be trimmed by
    spec-conforming consumers)."""
    import io  # noqa: PLC0415
    import zipfile  # noqa: PLC0415

    if not text:
        raise ValueError("DOCX builder: empty document text")
    paras = []
    for i in range(0, len(text), DOCX_PARA_CHARS):
        chunk = text[i : i + DOCX_PARA_CHARS]
        runs = "".join(
            f'<w:r><w:t xml:space="preserve">'
            f"{_docx_xml_escape(chunk[j : j + DOCX_RUN_CHARS])}</w:t></w:r>"
            for j in range(0, len(chunk), DOCX_RUN_CHARS)
        )
        paras.append(f"<w:p>{runs}</w:p>")
    document = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<w:document xmlns:w="{_W_NS}"><w:body>'
        + "".join(paras)
        + "</w:body></w:document>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", _DOCX_CONTENT_TYPES)
        z.writestr("_rels/.rels", _DOCX_RELS)
        z.writestr("word/document.xml", document)
    return buf.getvalue()


def _parse_docx(b) -> tuple[list[str], int]:
    """A REAL DOCX reader: ZIP container, content-types presence,
    word/document.xml lookup, namespace-qualified parse, per-paragraph
    in-order w:t collection. Returns (per-paragraph text, run count)."""
    import io  # noqa: PLC0415
    import zipfile  # noqa: PLC0415
    from xml.etree import ElementTree  # noqa: PLC0415

    try:
        z = zipfile.ZipFile(io.BytesIO(bytes(b)))
    except zipfile.BadZipFile as exc:
        raise ValueError(f"DOCX: not a ZIP container: {exc}") from exc
    names = set(z.namelist())
    if "[Content_Types].xml" not in names:
        raise ValueError("DOCX: missing [Content_Types].xml")
    if "word/document.xml" not in names:
        raise ValueError("DOCX: missing word/document.xml part")
    try:
        root = ElementTree.fromstring(z.read("word/document.xml"))
    except ElementTree.ParseError as exc:
        raise ValueError(f"DOCX: broken document XML: {exc}") from exc
    if root.tag != f"{{{_W_NS}}}document":
        raise ValueError("DOCX: document root is not w:document")
    body = root.find(f"{{{_W_NS}}}body")
    if body is None:
        raise ValueError("DOCX: w:document has no w:body")
    paras: list[str] = []
    n_runs = 0
    for p in body.iter(f"{{{_W_NS}}}p"):
        pieces: list[str] = []
        for r in p.iter(f"{{{_W_NS}}}r"):
            n_runs += 1
            for t in r.iter(f"{{{_W_NS}}}t"):
                pieces.append(t.text or "")
        paras.append("".join(pieces))
    return paras, n_runs


def _docx_batches(batches):
    import hashlib  # noqa: PLC0415

    import pandas as pd  # noqa: PLC0415

    def stats(doc_id: int, text: str):
        paras, n_runs = _parse_docx(_build_docx(text))
        joined = "".join(paras)
        chain = "".join(
            hashlib.md5(p.encode()).hexdigest() for p in paras
        )
        return (
            int(doc_id),
            len(paras),
            n_runs,
            len(joined),
            hashlib.md5(joined.encode()).hexdigest(),
            hashlib.md5(chain.encode()).hexdigest(),
        )

    for pdf in batches:
        rows = [stats(d, t) for d, t in zip(pdf["doc_id"], pdf["text"])]
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "n_paragraphs", "n_runs", "n_chars",
                "text_md5", "paras_md5",
            ],
        )


def docx_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOCX -> text through the multimodal path (real ZIP + OOXML
    walk; see the section comment).

    Scale shape: map-only over Arrow batches like every decoder —
    container work can't be SQL; one document's ZIP per row."""
    payloads = spark.table("documents").select("doc_id", "text")
    return payloads.mapInPandas(_docx_batches, schema=DOCX_SCHEMA).orderBy(
        "doc_id"
    )


def _docx_extract_oracle() -> str:
    """Source-column replay, PDF-oracle style: counts from the slice
    formulas, md5s from the text itself — no XML, no ZIP."""
    runs_per_para = (
        f"(least(length(text) - p * {DOCX_PARA_CHARS}, {DOCX_PARA_CHARS})"
        f" + {DOCX_RUN_CHARS - 1}) // {DOCX_RUN_CHARS}"
    )
    return f"""
WITH d AS (
  SELECT doc_id, text, length(text) AS n_chars,
         (length(text) + {DOCX_PARA_CHARS - 1}) // {DOCX_PARA_CHARS}
           AS n_paragraphs
  FROM documents
)
SELECT doc_id,
       cast(n_paragraphs AS INTEGER) AS n_paragraphs,
       cast(list_sum(list_transform(range(0, n_paragraphs),
             p -> {runs_per_para})) AS BIGINT) AS n_runs,
       cast(n_chars AS BIGINT) AS n_chars,
       md5(text) AS text_md5,
       md5(list_aggregate(list_transform(range(0, n_paragraphs),
             i -> md5(substring(text,
                                cast(i * {DOCX_PARA_CHARS} + 1 AS INTEGER),
                                {DOCX_PARA_CHARS}))),
           'string_agg', '')) AS paras_md5
FROM d
ORDER BY doc_id
"""


# --- real web decode: HTML main-text extraction ------------------------------
#
# The highest-volume ingestion path a training-data pipeline has: web
# pages in, main text out, boilerplate (nav/header/footer/scripts)
# dropped. The reader is a REAL event-driven HTML walk (stdlib
# html.parser — the same honest-stdlib boundary as zipfile/zlib): tag
# stack tracking, <script>/<style> content suppression, entity and
# character-reference decoding (convert_charrefs), void elements, and
# a block model — text accumulates per block-level container, and a
# CONTENT gate keeps only blocks outside nav/header/footer/aside
# ancestry. That ancestry rule is the deterministic core of the
# density heuristics real pipelines use (trafilatura/jusText keep
# high-text-density blocks; chrome regions fail exactly this gate).
#
# Fixture discipline matches PDF/DOCX: the builder wraps the documents
# table's own text column in a realistic page — <head> with <title>
# and <style>, a <nav> link bar, a <header> masthead, the content as
# <p> paragraphs (DOCX-style slices) inside <main>, a <script> blob,
# and a <footer> — so the DuckDB oracle checks the extraction against
# the SOURCE column with zero HTML replay. The boilerplate text is
# deterministic per doc_id, and a known-byte vector plus property
# tests pin that NONE of it leaks into the extraction.

HTML_PARA_CHARS = 120

HTML_SCHEMA = (
    "doc_id long, n_blocks int, n_chars long, title_md5 string, text_md5 string"
)

_HTML_BLOCK_TAGS = frozenset(
    "p div section article main li h1 h2 h3 h4 h5 h6 blockquote pre td".split()
)
_HTML_CHROME_TAGS = frozenset("nav header footer aside".split())
_HTML_SKIP_TAGS = frozenset("script style noscript template".split())
_HTML_VOID_TAGS = frozenset(
    "area base br col embed hr img input link meta source track wbr".split()
)


def _build_html(doc_id: int, text: str) -> str:
    """A realistic page around the document's text: chrome regions
    carry deterministic junk the extractor must drop; the content
    lives as <p> slices under <main>."""
    if not text:
        raise ValueError("HTML builder: empty document text")
    title = f"doc {doc_id}"
    paras = "".join(
        f"<p>{_html_escape(text[i : i + HTML_PARA_CHARS])}</p>"
        for i in range(0, len(text), HTML_PARA_CHARS)
    )
    return (
        "<!DOCTYPE html><html><head>"
        f"<title>{title}</title>"
        "<style>body { font: 14px serif; }</style>"
        "<script>var tracker = 'totally ' + 'real';</script>"
        "</head><body>"
        f"<nav><ul><li><a href='/'>home</a></li>"
        f"<li><a href='/d/{doc_id}'>self</a></li></ul></nav>"
        f"<header><h1>corpus viewer #{doc_id % 7}</h1></header>"
        f"<main><article>{paras}</article></main>"
        f"<aside>related: doc {doc_id + 1}, doc {doc_id + 2}</aside>"
        "<footer>&copy; fixture corp &mdash; all rows reserved</footer>"
        "<script>console.log('bye');</script>"
        "</body></html>"
    )


def _html_escape(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _parse_html(html: str) -> tuple[str, list[str]]:
    """A REAL event-driven extraction: returns (title, content blocks)
    where a block is the text of one block-level element that has no
    chrome (nav/header/footer/aside) ancestor; script/style subtrees
    contribute nothing; entities decode."""
    from html.parser import HTMLParser  # noqa: PLC0415

    class _Walker(HTMLParser):
        def __init__(self) -> None:
            super().__init__(convert_charrefs=True)
            self.stack: list[str] = []
            self.title_parts: list[str] = []
            self.blocks: list[str] = []
            self.current: list[str] | None = None

        def handle_starttag(self, tag, attrs):
            if tag in _HTML_VOID_TAGS:
                return
            self.stack.append(tag)
            if tag in _HTML_BLOCK_TAGS and self.current is not None:
                # nested block starts: flush the outer accumulation
                self._flush()
            if (
                tag in _HTML_BLOCK_TAGS
                and not set(self.stack) & _HTML_CHROME_TAGS
                and not set(self.stack) & _HTML_SKIP_TAGS
            ):
                self.current = []

        def handle_endtag(self, tag):
            if tag in _HTML_VOID_TAGS:
                return
            # tolerate misnesting the way browsers do: pop to the tag
            while self.stack:
                top = self.stack.pop()
                if top in _HTML_BLOCK_TAGS and self.current is not None:
                    self._flush()
                if top == tag:
                    break
            # text after a nested block's close still belongs to the
            # enclosing block ("<div>outer <p>inner</p> tail</div>"):
            # resume accumulation while a content block stays open
            if (
                self.current is None
                and set(self.stack) & _HTML_BLOCK_TAGS
                and not set(self.stack) & _HTML_CHROME_TAGS
                and not set(self.stack) & _HTML_SKIP_TAGS
            ):
                self.current = []

        def handle_data(self, data):
            if set(self.stack) & _HTML_SKIP_TAGS:
                return
            if self.stack and self.stack[-1] == "title":
                self.title_parts.append(data)
                return
            if self.current is not None:
                self.current.append(data)

        def _flush(self):
            if self.current is not None:
                text = "".join(self.current)
                if text:
                    self.blocks.append(text)
                self.current = None

    w = _Walker()
    w.feed(html)
    w.close()
    w._flush()
    return "".join(w.title_parts), w.blocks


def _html_batches(batches):
    import hashlib  # noqa: PLC0415

    import pandas as pd  # noqa: PLC0415

    def stats(doc_id: int, text: str):
        title, blocks = _parse_html(_build_html(int(doc_id), text))
        joined = "".join(blocks)
        return (
            int(doc_id),
            len(blocks),
            len(joined),
            hashlib.md5(title.encode()).hexdigest(),
            hashlib.md5(joined.encode()).hexdigest(),
        )

    for pdf in batches:
        rows = [stats(d, t) for d, t in zip(pdf["doc_id"], pdf["text"])]
        yield pd.DataFrame(
            rows,
            columns=["doc_id", "n_blocks", "n_chars", "title_md5", "text_md5"],
        )


def html_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML -> main text through the multimodal path (see the section
    comment: event-driven walk, chrome/script suppression).

    Scale shape: map-only over Arrow batches; one page per row."""
    payloads = spark.table("documents").select("doc_id", "text")
    return payloads.mapInPandas(_html_batches, schema=HTML_SCHEMA).orderBy(
        "doc_id"
    )


def _html_extract_oracle() -> str:
    """Source-column replay: the extraction must recover EXACTLY the
    text column (none of the deterministic chrome/script junk), the
    block count is the paragraph-slice formula, and the title is the
    closed-form 'doc {id}'."""
    return f"""
SELECT doc_id,
       cast((length(text) + {HTML_PARA_CHARS - 1}) // {HTML_PARA_CHARS}
            AS INTEGER) AS n_blocks,
       cast(length(text) AS BIGINT) AS n_chars,
       md5('doc ' || doc_id::VARCHAR) AS title_md5,
       md5(text) AS text_md5
FROM documents
ORDER BY doc_id
"""


# --- real spreadsheet decode: XLSX cell extraction ---------------------------
#
# Completes the office trio (PDF, DOCX, XLSX). The format's one real
# quirk is the SHARED-STRINGS indirection: string cells don't carry
# text — they carry an INDEX into xl/sharedStrings.xml, where repeated
# strings appear once. The reader walks the real structure: ZIP
# container, [Content_Types] presence, sharedStrings table parse
# (si/t, in order), worksheet walk (sheetData/row/c), per-cell type
# dispatch (t="s" resolves through the table, no t / t="n" parses the
# numeric v), and in-document-order reassembly. The encoder builds a
# REAL deduplicated string table (repeated slices share one index), so
# a reader that ignored the indirection or the dedup could not
# reproduce the source text AND the distinct-string count together.
#
# Fixture discipline matches PDF/DOCX/HTML: string cells are
# XLSX_CELL_CHARS slices of the documents text column (XLSX_COLS
# string cells per row plus one numeric cell (7 * row_idx) % 100), so
# the DuckDB oracle replays everything from the source column — text
# md5, row count, the DISTINCT shared-string count, and the numeric
# column's closed-form sum — with zero XML/ZIP parsing.

XLSX_CELL_CHARS = 40
XLSX_COLS = 3  # string cells per row

XLSX_SCHEMA = (
    "doc_id long, n_rows int, n_shared int, n_chars long, "
    "num_sum long, text_md5 string"
)

_SML_NS = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"

_XLSX_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/'
    'vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
    '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.'
    'openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
    "</Types>"
)


def _xlsx_col_letter(idx: int) -> str:
    """0-based column index -> A1-notation letters."""
    out = ""
    idx += 1
    while idx:
        idx, rem = divmod(idx - 1, 26)
        out = chr(ord("A") + rem) + out
    return out


def _build_xlsx(text: str) -> bytes:
    """A genuine minimal XLSX: the text slices into XLSX_CELL_CHARS
    string cells (XLSX_COLS per row + one numeric cell), strings go
    through a DEDUPLICATED sharedStrings table exactly as real writers
    emit it."""
    import io  # noqa: PLC0415
    import zipfile  # noqa: PLC0415

    if not text:
        raise ValueError("XLSX builder: empty document text")
    slices = [
        text[i : i + XLSX_CELL_CHARS]
        for i in range(0, len(text), XLSX_CELL_CHARS)
    ]
    table: dict[str, int] = {}
    for sl in slices:
        table.setdefault(sl, len(table))
    rows_xml = []
    for r0 in range(0, len(slices), XLSX_COLS):
        row_idx = r0 // XLSX_COLS
        cells = []
        for c0, sl in enumerate(slices[r0 : r0 + XLSX_COLS]):
            ref = f"{_xlsx_col_letter(c0)}{row_idx + 1}"
            cells.append(f'<c r="{ref}" t="s"><v>{table[sl]}</v></c>')
        nref = f"{_xlsx_col_letter(XLSX_COLS)}{row_idx + 1}"
        cells.append(f'<c r="{nref}"><v>{(7 * row_idx) % 100}</v></c>')
        rows_xml.append(f'<row r="{row_idx + 1}">{"".join(cells)}</row>')
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<worksheet xmlns="{_SML_NS}"><sheetData>'
        + "".join(rows_xml)
        + "</sheetData></worksheet>"
    )
    sst = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<sst xmlns="{_SML_NS}" count="{len(slices)}" '
        f'uniqueCount="{len(table)}">'
        + "".join(
            f'<si><t xml:space="preserve">{_docx_xml_escape(sl)}</t></si>'
            for sl in table
        )
        + "</sst>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", _XLSX_CONTENT_TYPES)
        z.writestr("xl/sharedStrings.xml", sst)
        z.writestr("xl/worksheets/sheet1.xml", sheet)
    return buf.getvalue()


def _parse_xlsx(b) -> tuple[list[list], int]:
    """A REAL XLSX reader: container, shared-strings table, worksheet
    walk, per-cell type dispatch (t='s' -> table lookup, default ->
    float). Returns (rows of python values, distinct shared strings)."""
    import io  # noqa: PLC0415
    import zipfile  # noqa: PLC0415
    from xml.etree import ElementTree  # noqa: PLC0415

    try:
        z = zipfile.ZipFile(io.BytesIO(bytes(b)))
    except zipfile.BadZipFile as exc:
        raise ValueError(f"XLSX: not a ZIP container: {exc}") from exc
    names = set(z.namelist())
    if "[Content_Types].xml" not in names:
        raise ValueError("XLSX: missing [Content_Types].xml")
    if "xl/worksheets/sheet1.xml" not in names:
        raise ValueError("XLSX: missing worksheet part")

    def parse(part: str):
        try:
            return ElementTree.fromstring(z.read(part))
        except ElementTree.ParseError as exc:
            raise ValueError(f"XLSX: broken XML in {part}: {exc}") from exc

    shared: list[str] = []
    if "xl/sharedStrings.xml" in names:
        sst = parse("xl/sharedStrings.xml")
        if sst.tag != f"{{{_SML_NS}}}sst":
            raise ValueError("XLSX: sharedStrings root is not sst")
        for si in sst.iter(f"{{{_SML_NS}}}si"):
            shared.append(
                "".join(t.text or "" for t in si.iter(f"{{{_SML_NS}}}t"))
            )
    ws = parse("xl/worksheets/sheet1.xml")
    if ws.tag != f"{{{_SML_NS}}}worksheet":
        raise ValueError("XLSX: worksheet root is not worksheet")
    rows: list[list] = []
    for row in ws.iter(f"{{{_SML_NS}}}row"):
        vals: list = []
        for c in row.iter(f"{{{_SML_NS}}}c"):
            v = c.find(f"{{{_SML_NS}}}v")
            raw = v.text if v is not None and v.text is not None else ""
            ctype = c.get("t", "n")
            if ctype == "s":
                idx = int(raw)
                if not 0 <= idx < len(shared):
                    raise ValueError(
                        f"XLSX: shared-string index {idx} out of range"
                    )
                vals.append(shared[idx])
            elif ctype == "n":
                vals.append(float(raw) if raw else 0.0)
            else:
                raise ValueError(f"XLSX: unsupported cell type {ctype!r}")
        rows.append(vals)
    return rows, len(shared)


def _xlsx_batches(batches):
    import hashlib  # noqa: PLC0415

    import pandas as pd  # noqa: PLC0415

    def stats(doc_id: int, text: str):
        rows, n_shared = _parse_xlsx(_build_xlsx(text))
        strings: list[str] = []
        num_sum = 0
        for vals in rows:
            for v in vals:
                if isinstance(v, str):
                    strings.append(v)
                else:
                    num_sum += int(v)
        joined = "".join(strings)
        return (
            int(doc_id),
            len(rows),
            n_shared,
            len(joined),
            num_sum,
            hashlib.md5(joined.encode()).hexdigest(),
        )

    for pdf in batches:
        rows = [stats(d, t) for d, t in zip(pdf["doc_id"], pdf["text"])]
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "n_rows", "n_shared", "n_chars", "num_sum",
                "text_md5",
            ],
        )


def xlsx_extract_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XLSX -> cells through the multimodal path (real container +
    shared-strings indirection; see the section comment).

    Scale shape: map-only over Arrow batches; one workbook per row."""
    payloads = spark.table("documents").select("doc_id", "text")
    return payloads.mapInPandas(_xlsx_batches, schema=XLSX_SCHEMA).orderBy(
        "doc_id"
    )


def _xlsx_extract_oracle() -> str:
    """Source-column replay: row count and numeric sum from closed
    forms, the DISTINCT shared-string count from the slice stream, and
    the text md5 from the column itself."""
    ncells = f"(length(text) + {XLSX_CELL_CHARS - 1}) // {XLSX_CELL_CHARS}"
    return f"""
WITH d AS (
  SELECT doc_id, text, length(text) AS n_chars, {ncells} AS ncells,
         ({ncells} + {XLSX_COLS - 1}) // {XLSX_COLS} AS n_rows
  FROM documents
)
SELECT doc_id,
       cast(n_rows AS INTEGER) AS n_rows,
       cast(len(list_distinct(list_transform(range(0, ncells),
             i -> substring(text, cast(i * {XLSX_CELL_CHARS} + 1 AS INTEGER),
                            {XLSX_CELL_CHARS})))) AS INTEGER) AS n_shared,
       cast(n_chars AS BIGINT) AS n_chars,
       cast(list_sum(list_transform(range(0, n_rows),
             r -> (7 * r) % 100)) AS BIGINT) AS num_sum,
       md5(text) AS text_md5
FROM d
ORDER BY doc_id
"""


# --- real image decode: baseline JPEG (r09 — the LAST honestly --------------
# implementable format; decode_stub now covers only mp3/mp4)
#
# A complete baseline-sequential JPEG (ITU-T T.81 SOF0) decoder in pure
# Python + numpy: marker walk (APPn/COM skipped), DQT (multi-table),
# DHT (canonical code reconstruction from BITS/HUFFVAL — the decoder
# reads whatever tables the STREAM declares, nothing builtin), SOF0
# with per-component sampling factors, DRI/RSTn restart intervals,
# entropy decode (byte unstuffing, DC prediction + receive/extend, AC
# run/size with EOB and ZRL), dequantize, inverse zigzag, 8x8 IDCT as
# an orthonormal numpy matrix product, MCU reassembly with
# replication chroma upsampling, edge cropping, and YCbCr->RGB.
#
# Fixture discipline matches PNG/GIF with one twist forced by JPEG's
# lossiness: the formula images are CONSTANT PER 8x8 BLOCK (block j's
# value = md5-chain byte, any 0..255) and the encoder declares a
# custom quant table with DC step 8 — so the quantized DC (8*(v-128)/8
# = v-128) is exact, every AC coefficient is exactly zero, and the
# decode is BIT-EXACT: the DuckDB oracle recomputes the decoded sums
# from the md5 formula without parsing binary, the same contract as
# the lossless codecs. The decoder is fully general (it Huffman-
# decodes and runs the full IDCT without knowing blocks are constant);
# the encoder is NOT trusted by symmetry alone — a hand-built
# known-byte entropy segment, color 4:4:4/4:2:0 vectors, restart
# markers, odd-size cropping, and corruption vectors pin the decoder
# independently (tests/test_operators.py).

JPEG_SCHEMA = "doc_id long, width int, height int, components int, pix_sum long"

# canonical DC Huffman table (the T.81 Annex K DC-luminance shape):
# BITS = code-length histogram, HUFFVAL = symbols in code order
_JPEG_DC_BITS = (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
_JPEG_DC_VALS = tuple(range(12))
# minimal valid AC table: the single 1-bit code 0b0 = EOB (0x00) — the
# only AC symbol a constant-block stream needs; the DECODER handles
# arbitrary declared tables
_JPEG_AC_BITS = (1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
_JPEG_AC_VALS = (0x00,)
_JPEG_QTAB = (8,) + (16,) * 63  # DC step 8: exact for integer v-128

_ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
)


def _huff_codes(bits, vals) -> dict:
    """symbol -> (code, length) canonical assignment (T.81 C.2)."""
    out, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return out


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.buf.append(self.acc)
                if self.acc == 0xFF:
                    self.buf.append(0x00)  # byte stuffing
                self.acc = 0
                self.n = 0

    def align(self) -> None:
        while self.n:
            self.put(1, 1)  # pad with 1s, per spec


def _jpeg_dc_bits_for(diff: int) -> tuple[int, int]:
    """(category, low-bits) for a DC difference — receive/extend inverse."""
    s, mag = 0, abs(diff)
    while mag:
        s += 1
        mag >>= 1
    low = diff if diff >= 0 else diff + (1 << s) - 1
    return s, low


def _build_jpeg(
    width: int,
    height: int,
    comp_blocks: list[list[int]],
    sampling: list[tuple[int, int]] | None = None,
    dri: int = 0,
) -> bytes:
    """A genuine baseline JPEG whose 8x8 blocks are constant:
    ``comp_blocks[c]`` holds component c's per-block values in MCU scan
    order. 1 component = grayscale; 3 = YCbCr with per-component
    ``sampling`` (h, v) factors (4:4:4 = all (1,1); 4:2:0 = luma (2,2),
    chroma (1,1)). ``dri`` > 0 emits a DRI segment and RSTn every dri
    MCUs. Custom DC-step-8 quant table makes constant blocks lossless."""
    import struct  # noqa: PLC0415

    ncomp = len(comp_blocks)
    sampling = sampling or [(1, 1)] * ncomp
    dc = _huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac = _huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xFFDB, bytes([0x00]) + bytes(_JPEG_QTAB[i] for i in range(64)))
    sof = bytearray(struct.pack(">BHHB", 8, height, width, ncomp))
    for c in range(ncomp):
        h, v = sampling[c]
        sof += bytes([c + 1, (h << 4) | v, 0])
    out += seg(0xFFC0, bytes(sof))
    out += seg(0xFFC4, bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS))
    out += seg(0xFFC4, bytes([0x10]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS))
    if dri:
        out += seg(0xFFDD, struct.pack(">H", dri))
    sos = bytearray([ncomp])
    for c in range(ncomp):
        sos += bytes([c + 1, 0x00])  # DC table 0 / AC table 0
    sos += bytes([0, 63, 0])
    out += seg(0xFFDA, bytes(sos))

    hmax = max(h for h, _ in sampling)
    vmax = max(v for _, v in sampling)
    mcus_x = -(-width // (8 * hmax))
    mcus_y = -(-height // (8 * vmax))
    w = _BitWriter()
    pred = [0] * ncomp
    idx = [0] * ncomp
    rst = 0
    for m in range(mcus_x * mcus_y):
        if dri and m and m % dri == 0:
            w.align()
            out += w.buf
            w = _BitWriter()
            out += bytes([0xFF, 0xD0 + rst])
            rst = (rst + 1) % 8
            pred = [0] * ncomp
        for c in range(ncomp):
            h, v = sampling[c]
            for _ in range(h * v):
                val = comp_blocks[c][idx[c]]
                idx[c] += 1
                diff = (val - 128) - pred[c]
                pred[c] = val - 128
                s, low = _jpeg_dc_bits_for(diff)
                code, ln = dc[s]
                w.put(code, ln)
                if s:
                    w.put(low, s)
                code, ln = ac[0x00]  # EOB: all 63 AC coeffs are zero
                w.put(code, ln)
    w.align()
    out += w.buf
    out += b"\xff\xd9"  # EOI
    return bytes(out)


class _BitReader:
    """Entropy-segment bit reader with 0xFF00 unstuffing; stops at any
    real marker and reports it."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0
        self.marker = None

    def _fill(self) -> None:
        if self.marker is not None:
            raise ValueError("JPEG entropy stream ran past a marker")
        if self.pos >= len(self.data):
            raise ValueError("JPEG entropy stream truncated")
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            nxt = self.data[self.pos] if self.pos < len(self.data) else None
            if nxt == 0x00:
                self.pos += 1  # stuffed 0xFF data byte
            else:
                self.marker = nxt
                self.pos += 1
                raise ValueError("JPEG entropy stream ran past a marker")
        self.acc = (self.acc << 8) | b
        self.n += 8

    def bit(self) -> int:
        if not self.n:
            self._fill()
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v

    def at_marker(self) -> int | None:
        """Peek: aligned at a marker? Returns the marker byte or None."""
        if self.n:
            return None
        p = self.pos
        if p + 1 < len(self.data) and self.data[p] == 0xFF and self.data[p + 1] != 0x00:
            return self.data[p + 1]
        return None


def _huff_decode(reader: _BitReader, table: dict) -> int:
    code, ln = 0, 0
    while ln < 17:
        code = (code << 1) | reader.bit()
        ln += 1
        sym = table.get((code, ln))
        if sym is not None:
            return sym
    raise ValueError("JPEG: invalid Huffman code in entropy stream")


def _extend(v: int, s: int) -> int:
    return v if s == 0 or v >= (1 << (s - 1)) else v - (1 << s) + 1


def _idct_mat():
    import numpy as np  # noqa: PLC0415

    a = np.zeros((8, 8))
    for u in range(8):
        cu = (1 / (2 ** 0.5)) if u == 0 else 1.0
        for x in range(8):
            a[u, x] = 0.5 * cu * __import__("math").cos((2 * x + 1) * u * 3.141592653589793 / 16)
    return a


def _parse_jpeg(b) -> tuple[int, int, int, bytes]:
    """A REAL baseline JPEG decoder. Returns (width, height, ncomp,
    interleaved pixel bytes — gray for 1 component, RGB for 3)."""
    import struct  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415

    data = bytes(b)
    if data[:2] != b"\xff\xd8":
        raise ValueError(f"not a JPEG: no SOI, head={data[:2]!r}")
    pos = 2
    qtabs: dict[int, list[int]] = {}
    htabs: dict[tuple[int, int], dict] = {}  # (class, id) -> (code,len)->sym
    frame = None
    dri = 0
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"JPEG: expected marker at {pos}")
        marker = data[pos + 1]
        if marker == 0xD9:
            raise ValueError("JPEG: EOI before SOS")
        (ln,) = struct.unpack_from(">H", data, pos + 2)
        body = data[pos + 4 : pos + 2 + ln]
        pos += 2 + ln
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(body):
                pq, tq = body[p] >> 4, body[p] & 15
                if pq != 0:
                    raise ValueError("JPEG: 16-bit quant tables unsupported")
                qtabs[tq] = list(body[p + 1 : p + 65])
                p += 65
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(body):
                tc, th = body[p] >> 4, body[p] & 15
                bits = list(body[p + 1 : p + 17])
                nv = sum(bits)
                vals = list(body[p + 17 : p + 17 + nv])
                codes = _huff_codes(bits, vals)
                htabs[(tc, th)] = {
                    (code, lnn): sym for sym, (code, lnn) in codes.items()
                }
                p += 17 + nv
        elif marker == 0xC0:  # SOF0 baseline
            prec, h, w, nc = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise ValueError(f"JPEG: precision {prec} unsupported (8 only)")
            comps = []
            for c in range(nc):
                cid, hv, tq = body[6 + 3 * c : 9 + 3 * c]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 15, "tq": tq})
            frame = {"w": w, "h": h, "comps": comps}
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"JPEG: only baseline SOF0 supported (got SOF {marker:#x})"
            )
        elif marker == 0xDD:  # DRI
            (dri,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise ValueError("JPEG: SOS before SOF0")
            ns = body[0]
            scan = []
            for c in range(ns):
                cs, tt = body[1 + 2 * c], body[2 + 2 * c]
                comp = next(x for x in frame["comps"] if x["id"] == cs)
                scan.append((comp, tt >> 4, tt & 15))
            return _decode_scan(data, pos, frame, scan, qtabs, htabs, dri)
        # APPn / COM / others: skipped
    raise ValueError("JPEG: no SOS marker found")


def _decode_scan(data, pos, frame, scan, qtabs, htabs, dri):
    import numpy as np  # noqa: PLC0415

    w, h = frame["w"], frame["h"]
    comps = [c for c, _, _ in scan]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    a = _idct_mat()
    at = a.T
    planes = []
    for c in comps:
        pw = mcus_x * 8 * c["h"]
        ph = mcus_y * 8 * c["v"]
        planes.append(np.zeros((ph, pw)))
    reader = _BitReader(data, pos)
    pred = [0] * len(comps)
    expect_rst = 0
    for m in range(mcus_x * mcus_y):
        if dri and m and m % dri == 0:
            reader.n = 0  # byte-align: discard the encoder's pad bits
            mk = reader.at_marker()
            if mk is None or not (0xD0 <= mk <= 0xD7):
                raise ValueError("JPEG: missing restart marker at interval")
            if mk != 0xD0 + expect_rst:
                raise ValueError(
                    f"JPEG: restart marker out of order ({mk:#x})"
                )
            reader = _BitReader(data, reader.pos + 2)
            expect_rst = (expect_rst + 1) % 8
            pred = [0] * len(comps)
        my, mx = divmod(m, mcus_x)
        for ci, (comp, td, ta) in enumerate(scan):
            dct = htabs.get((0, td))
            act = htabs.get((1, ta))
            q = qtabs.get(comp["tq"])
            if dct is None or act is None or q is None:
                raise ValueError("JPEG: scan references an undeclared table")
            for blk in range(comp["h"] * comp["v"]):
                by, bx = divmod(blk, comp["h"])
                s = _huff_decode(reader, dct)
                diff = _extend(reader.bits(s), s) if s else 0
                pred[ci] += diff
                coeff = np.zeros(64)
                coeff[0] = pred[ci] * q[0]
                k = 1
                while k <= 63:
                    rs = _huff_decode(reader, act)
                    if rs == 0x00:  # EOB
                        break
                    if rs == 0xF0:  # ZRL
                        k += 16
                        continue
                    r, size = rs >> 4, rs & 15
                    k += r
                    if k > 63:
                        raise ValueError("JPEG: AC index past 63")
                    coeff[_ZIGZAG[k]] = _extend(reader.bits(size), size) * q[k]
                    k += 1
                block = at @ coeff.reshape(8, 8) @ a + 128.0
                y0 = (my * comp["v"] + by) * 8
                x0 = (mx * comp["h"] + bx) * 8
                planes[ci][y0 : y0 + 8, x0 : x0 + 8] = block
    # crop + upsample to full resolution
    full = []
    for ci, comp in enumerate(comps):
        p = planes[ci]
        if comp["h"] != hmax or comp["v"] != vmax:
            p = np.repeat(
                np.repeat(p, hmax // comp["h"], axis=1),
                vmax // comp["v"], axis=0,
            )
        full.append(p[:h, :w])
    if len(full) == 1:
        px = np.clip(np.rint(full[0]), 0, 255).astype(np.uint8)
        return w, h, 1, px.tobytes()
    y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    bl = y + 1.772 * cb
    rgb = np.stack(
        [np.clip(np.rint(x), 0, 255) for x in (r, g, bl)], axis=-1
    ).astype(np.uint8)
    return w, h, 3, rgb.tobytes()


def _jpeg_dims(doc_id: int) -> tuple[int, int]:
    """(width, height) — multiples of 8, the generative formula the
    oracle replays."""
    return 8 * (1 + doc_id % 3), 8 * (1 + doc_id % 2)


def _jpeg_block_values(doc_id: int, n: int) -> list[int]:
    """Block j's constant value: md5-chain byte (md5(doc_id||':jpg:'||i)),
    any 0..255 — DC step 8 keeps every value exact."""
    raw = bytearray()
    i = 0
    while len(raw) < n:
        raw += bytes.fromhex(
            hashlib.md5(f"{doc_id}:jpg:{i}".encode()).hexdigest()
        )
        i += 1
    return list(raw[:n])


def _decode_jpeg_batches(batches):
    import pandas as pd  # noqa: PLC0415

    def stats(doc_id: int):
        w, h = _jpeg_dims(doc_id)
        nblocks = (w // 8) * (h // 8)
        vals = _jpeg_block_values(doc_id, nblocks)
        jpg = _build_jpeg(w, h, [vals])
        dw, dh, dc, px = _parse_jpeg(jpg)
        return (int(doc_id), dw, dh, dc, sum(px))

    for pdf in batches:
        rows = [stats(int(d)) for d in pdf["doc_id"]]
        yield pd.DataFrame(
            rows, columns=["doc_id", "width", "height", "components", "pix_sum"]
        )


def decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real baseline JPEG decode through the multimodal path (full
    Huffman + dequant + IDCT; see the section comment — the constant-
    block fixture makes the lossy codec bit-exact, so the DuckDB
    oracle replays the decoded sums from the md5 formula).

    Scale shape: identical to decode_png — map-only over Arrow batches,
    no shuffle before the final order; per-row state is one image."""
    payloads = spark.table("documents").select("doc_id")
    return payloads.mapInPandas(
        _decode_jpeg_batches, schema=JPEG_SCHEMA
    ).orderBy("doc_id")


def _decode_jpeg_oracle() -> str:
    """Decoded pixel sum = 64 * sum of block values; block j's value is
    the byte at hex offset 2j of the chain md5(doc_id || ':jpg:' || i).
    Recomputed WITHOUT parsing binary — valid because the constant-
    block + DC-step-8 construction makes the codec bit-exact."""
    hv = "strpos('0123456789abcdef', substring(hexstr, {p}, 1)) - 1"
    byte_at = f"(({hv.format(p='2*j + 1')}) * 16 + ({hv.format(p='2*j + 2')}))"
    return f"""
WITH dims AS (
  SELECT doc_id, 8 * (1 + doc_id % 3) AS w, 8 * (1 + doc_id % 2) AS h
  FROM documents
),
hx AS (
  SELECT doc_id, w, h, (w // 8) * (h // 8) AS nblocks,
         list_aggregate(list_transform(range(0, ((w // 8) * (h // 8) + 15) // 16),
             i -> md5(doc_id::VARCHAR || ':jpg:' || i::VARCHAR)),
           'string_agg', '') AS hexstr
  FROM dims
)
SELECT doc_id, cast(w AS INTEGER) AS width, cast(h AS INTEGER) AS height,
       1 AS components,
       cast(64 * list_sum(list_transform(range(0, nblocks),
             j -> {byte_at})) AS BIGINT) AS pix_sum
FROM hx
ORDER BY doc_id
"""


def registry() -> dict[str, dict]:
    return {
        "multimodal_binary_features": {
            "fn": binary_features,
            "oracle": BINARY_FEATURES_ORACLE,
        },
        "multimodal_resize_pooled": {"fn": resize_pooled, "oracle": _resize_oracle()},
        "multimodal_frame_sample": {"fn": frame_sample, "oracle": FRAME_SAMPLE_ORACLE},
        "multimodal_decode_image": {
            "fn": decode_image,
            "oracle": _decode_image_oracle(),
        },
        "dedup_image_phash": {
            "fn": image_phash_pairs,
            "oracle": _image_phash_oracle(),
        },
        "dedup_audio_fingerprint": {
            "fn": audio_fingerprint_pairs,
            "oracle": _audio_fingerprint_oracle(),
        },
        "multimodal_decode_bmp": {
            "fn": decode_bmp,
            "oracle": _decode_bmp_oracle(),
        },
        "multimodal_decode_audio": {
            "fn": decode_audio,
            "oracle": _decode_audio_oracle(),
        },
        "multimodal_decode_png": {
            "fn": decode_png,
            "oracle": _decode_png_oracle(),
        },
        "multimodal_decode_gif": {
            "fn": decode_gif,
            "oracle": _decode_gif_oracle(),
        },
        "multimodal_gif_frames": {
            "fn": gif_frame_stats,
            "oracle": _gif_frames_oracle(),
        },
        # r08 net-new: document-format decode (front-scheduled by the
        # roller the round it registers, per the post-freeze policy)
        "multimodal_pdf_extract_text": {
            "fn": pdf_extract_text,
            "oracle": _pdf_extract_oracle(),
        },
        "multimodal_decode_tiff": {
            "fn": decode_tiff,
            "oracle": _decode_tiff_oracle(),
        },
        "multimodal_docx_extract_text": {
            "fn": docx_extract_text,
            "oracle": _docx_extract_oracle(),
        },
        "multimodal_html_extract_text": {
            "fn": html_extract_text,
            "oracle": _html_extract_oracle(),
        },
        "multimodal_xlsx_extract_cells": {
            "fn": xlsx_extract_cells,
            "oracle": _xlsx_extract_oracle(),
        },
        # r09 net-new: real baseline JPEG decode (the constant-block +
        # DC-step-8 construction makes the lossy codec bit-exact, so
        # the oracle replays decoded sums from the md5 formula)
        "multimodal_decode_jpeg": {
            "fn": decode_jpeg,
            "oracle": _decode_jpeg_oracle(),
        },
    }
