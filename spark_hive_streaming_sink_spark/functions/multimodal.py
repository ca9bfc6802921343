"""Multimodal columns (SURVEY.md §2C extension): image/audio/video as
opaque ``binary`` columns with typed metadata structs, processed by
Arrow-batched ``mapInPandas`` / ``mapInArrow`` kernels.

The decode step is REAL for uncompressed images: :func:`decode_ppm` is
a complete pure-Python parser for binary PPM (P6) — magic, comments,
whitespace-separated dims/maxval, raw RGB plane — so the whole
pipeline (encode → binary payload → distributed decode → pixel stats)
is DuckDB-oracle-checked end to end. Payloads are built JVM-side from
document text (each byte of printable-ASCII text becomes a pixel
channel value), which is exactly what lets the oracle recompute pixel
statistics independently in SQL. Compressed formats (JPEG/PNG/...)
still raise ``NotImplementedError`` from :func:`decode_image` — those
genuinely require codec libraries this container doesn't ship; swap in
Pillow/turbojpeg there and nothing else changes.

Scale posture: encoding is whole-stage-codegen'd JVM work; decoding is
the deliberate Python path (Arrow batches, one worker per partition,
no driver round-trips) — the shape a real image pipeline has, with the
codec swapped.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

from pyspark.sql import Column, DataFrame, SparkSession
import pyspark.sql.functions as F

from ..io import load_table
from ..registry import register

# schema contract for the featurize kernel's output: integer pixel
# statistics (exact — cross-engine comparable without float drift)
FEATURE_SCHEMA = (
    "doc_id long, kind string, n_bytes long, width int, height int, "
    "n_pixels long, pixel_sum long, r_sum long, g_sum long, b_sum long, "
    "px_min int, px_max int"
)

RESIZE_SCHEMA = "doc_id long, width int, height int, target_w int, target_h int, scale double"
FRAME_SCHEMA = "doc_id long, frame_no int, frame_md5 string"


# --------------------------------------------------------------------------
# PPM (P6) codec — encode JVM-side, decode pure-Python
# --------------------------------------------------------------------------


def ppm_payloads(d: DataFrame) -> DataFrame:
    """(doc_id, payload) with payload a REAL binary PPM (P6) image
    deterministically derived from the document text: printable-ASCII
    bytes become RGB channel values of a ⌊√(len/3)⌋-wide image.

    All JVM built-ins (regexp_replace/substr/format_string/encode/
    concat) — the encode side costs no Python. Documents with fewer
    than 3 printable-ASCII chars (no full pixel) are dropped in both
    engines.
    """
    a = F.regexp_replace(F.col("text"), "[^ -~]", "")
    npix = F.floor(F.length(a) / 3).cast("bigint")
    w = F.greatest(F.lit(1).cast("bigint"), F.floor(F.sqrt(npix.cast("double"))).cast("bigint"))
    h = F.floor(npix / w).cast("bigint")
    px = a.substr(F.lit(1), (w * h * 3).cast("int"))
    header = F.format_string("P6\n%d %d\n255\n", w, h)
    return d.select(
        "doc_id",
        F.concat(F.encode(header, "UTF-8"), F.encode(px, "UTF-8")).alias("payload"),
    ).filter(npix >= 1)


def decode_ppm(payload: bytes) -> tuple[int, int, int, bytes]:
    """Real binary-PPM (P6) decoder: parse magic, ``#`` comments,
    whitespace-separated width/height/maxval, then the raw RGB plane.
    Returns (width, height, maxval, pixel_bytes). Raises ValueError on
    malformed input. Pure Python — no image library needed for this
    format, which is the point: the container ships no codecs, and P6
    needs none."""
    if payload[:2] != b"P6":
        raise ValueError("not a binary PPM (P6) payload")
    pos = 2
    fields: list[int] = []

    def skip_ws_and_comments(p: int) -> int:
        while p < len(payload):
            c = payload[p : p + 1]
            if c.isspace():
                p += 1
            elif c == b"#":
                while p < len(payload) and payload[p : p + 1] != b"\n":
                    p += 1
            else:
                break
        return p

    while len(fields) < 3:
        pos = skip_ws_and_comments(pos)
        start = pos
        while pos < len(payload) and payload[pos : pos + 1].isdigit():
            pos += 1
        if start == pos:
            raise ValueError("malformed PPM header")
        fields.append(int(payload[start:pos]))
    pos += 1  # exactly one whitespace byte separates maxval from raster
    width, height, maxval = fields
    pixels = payload[pos : pos + width * height * 3]
    if len(pixels) != width * height * 3:
        raise ValueError("truncated PPM raster")
    return width, height, maxval, pixels


def decode_image(payload: bytes) -> tuple[int, int, int, bytes]:
    """Decode an image payload. Uncompressed PPM (P6) decodes for real
    (pure Python, :func:`decode_ppm`); compressed formats require codec
    libraries this container doesn't ship, so they raise — swap in
    Pillow/turbojpeg here and the rest of the pipeline is unchanged."""
    if payload[:2] == b"P6":
        return decode_ppm(payload)
    raise NotImplementedError(
        "only uncompressed PPM (P6) decodes without an image library; "
        "JPEG/PNG/... need Pillow or equivalent, not present in this environment"
    )


# --------------------------------------------------------------------------
# kernels
# --------------------------------------------------------------------------


def _pixel_stats(doc_id: int, payload: bytes, kind: str) -> tuple:
    w, h, _maxval, pix = decode_image(payload)
    return (
        doc_id,
        kind,
        len(payload),
        w,
        h,
        w * h,
        sum(pix),
        sum(pix[0::3]),
        sum(pix[1::3]),
        sum(pix[2::3]),
        min(pix),
        max(pix),
    )


_FEATURE_COLS = [
    "doc_id", "kind", "n_bytes", "width", "height",
    "n_pixels", "pixel_sum", "r_sum", "g_sum", "b_sum", "px_min", "px_max",
]


def featurize_binary(df: DataFrame, kind: str = "image") -> DataFrame:
    """Arrow-batched featurize kernel over (doc_id, payload) rows —
    the multimodal map pattern: mapInPandas, one Python worker per
    input partition, pandas in / pandas out, schema-checked. Decode is
    the real PPM parser; output is exact integer pixel statistics."""
    import pandas as pd

    def kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = [
                _pixel_stats(doc_id, bytes(payload), kind)
                for doc_id, payload in zip(pdf["doc_id"], pdf["payload"])
            ]
            yield pd.DataFrame(rows, columns=_FEATURE_COLS)

    return df.mapInPandas(kernel, FEATURE_SCHEMA)


def featurize_binary_arrow(df: DataFrame, kind: str = "image") -> DataFrame:
    """The same featurize kernel as :func:`featurize_binary` but via
    ``mapInArrow`` — RecordBatch in / RecordBatch out, no pandas
    conversion at all. For binary-heavy multimodal batches this skips
    the Arrow→pandas→Arrow round trip (object-dtype boxing of every
    payload), the right default when the kernel only reads raw bytes.
    Output is row-identical to the pandas kernel (asserted in
    tests/test_llm_ops.py)."""
    import pyarrow as pa

    def kernel(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for batch in batches:
            doc_ids = batch.column("doc_id").to_pylist()
            payloads = batch.column("payload").to_pylist()
            rows = [
                _pixel_stats(doc_id, bytes(payload), kind)
                for doc_id, payload in zip(doc_ids, payloads)
            ]
            cols = list(zip(*rows)) if rows else [[] for _ in _FEATURE_COLS]
            yield pa.RecordBatch.from_pydict(
                dict(zip(_FEATURE_COLS, cols)),
                schema=pa.schema(
                    [
                        ("doc_id", pa.int64()),
                        ("kind", pa.string()),
                        ("n_bytes", pa.int64()),
                        ("width", pa.int32()),
                        ("height", pa.int32()),
                        ("n_pixels", pa.int64()),
                        ("pixel_sum", pa.int64()),
                        ("r_sum", pa.int64()),
                        ("g_sum", pa.int64()),
                        ("b_sum", pa.int64()),
                        ("px_min", pa.int32()),
                        ("px_max", pa.int32()),
                    ]
                ),
            )

    return df.mapInArrow(kernel, FEATURE_SCHEMA)


def resize_binary(df: DataFrame, target: tuple[int, int] = (32, 32)) -> DataFrame:
    """Resize kernel plumbing: real header decode → fit-inside scale
    factor. Swap the scale arithmetic for a real resample op; the
    mapInPandas shape is identical."""
    import pandas as pd

    tw, th = target

    def kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, _mx, _pix = decode_image(bytes(payload))
                rows.append((doc_id, w, h, tw, th, 0.0))
            yield pd.DataFrame(
                rows, columns=["doc_id", "width", "height", "target_w", "target_h", "scale"]
            )

    out = df.mapInPandas(kernel, RESIZE_SCHEMA)
    # the scale ratio is derived JVM-side from the decoded dims so the
    # rounding is the engines' shared ROUND-on-double (the kernel emits
    # exact integers only — no Python float formatting in the contract)
    return out.select(
        "doc_id",
        "width",
        "height",
        "target_w",
        "target_h",
        F.round(
            F.least(
                F.lit(float(tw)) / F.col("width"), F.lit(float(th)) / F.col("height")
            ),
            6,
        ).alias("scale"),
    )


def frame_sample_binary(df: DataFrame, every_n: int = 4, max_frames: int = 3) -> DataFrame:
    """Frame-sampling kernel for image/video payloads: decode the
    raster, treat each pixel ROW as a frame, emit every ``every_n``-th
    row id + the md5 of that row's raw bytes (one input row → N output
    rows, the UDTF-ish mapInPandas shape)."""
    import pandas as pd

    def kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, _mx, pix = decode_image(bytes(payload))
                stride = w * 3
                for fno in list(range(0, h, every_n))[:max_frames]:
                    frame = pix[fno * stride : (fno + 1) * stride]
                    rows.append((doc_id, fno, hashlib.md5(frame).hexdigest()))
            yield pd.DataFrame(rows, columns=["doc_id", "frame_no", "frame_md5"])

    return df.mapInPandas(kernel, FRAME_SCHEMA)


# --------------------------------------------------------------------------
# registered queries (oracle SQL mirrors the JVM-side PPM encoding)
# --------------------------------------------------------------------------

# shared oracle prelude: rebuild the encoded image geometry from text
_ORACLE_GEOM = """
    s AS (SELECT doc_id, regexp_replace(text, '[^ -~]', '', 'g') AS a FROM documents),
    d AS (SELECT doc_id, a,
                 GREATEST(1, CAST(FLOOR(SQRT(CAST(length(a)//3 AS DOUBLE))) AS BIGINT)) AS w
          FROM s),
    e AS (SELECT doc_id, a, w, (length(a)//3)//w AS h FROM d WHERE length(a)//3 >= 1),
    p AS (SELECT doc_id, w, h, substr(a, 1, CAST(w*h*3 AS INTEGER)) AS px FROM e)
"""


@register(
    "multimodal_meta",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS content_md5,
           'text' AS kind,
           lang AS meta_lang,
           n_chars AS meta_chars
    FROM documents
    """,
    tags=("llm", "multimodal"),
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque binary payload + typed metadata in one row: cast the text
    payload to binary (stand-in for image/audio bytes), carry a
    metadata struct, expose byte length and content hash. Nested
    struct/binary columns are native columnar types — no serialization
    tax at rest or in shuffle."""
    d = load_table(spark, sf_dir, "documents")
    with_payload = d.select(
        "doc_id",
        F.col("text").cast("binary").alias("payload"),
        F.struct(
            F.lit("text").alias("kind"),
            F.col("lang").alias("lang"),
            F.col("n_chars").alias("chars"),
        ).alias("meta"),
    )
    return with_payload.select(
        "doc_id",
        F.octet_length("payload").alias("n_bytes"),
        F.md5("payload").alias("content_md5"),
        F.col("meta.kind").alias("kind"),
        F.col("meta.lang").alias("meta_lang"),
        F.col("meta.chars").alias("meta_chars"),
    )


@register(
    "multimodal_features",
    oracle=f"""
    WITH {_ORACLE_GEOM},
    u AS (SELECT doc_id, px, unnest(generate_series(1, length(px))) AS i FROM p),
    b AS (SELECT doc_id,
                 CAST(SUM(ascii(substr(px, CAST(i AS INTEGER), 1))) AS BIGINT) AS pixel_sum,
                 CAST(SUM(CASE WHEN (i-1)%3=0 THEN ascii(substr(px, CAST(i AS INTEGER), 1)) END) AS BIGINT) AS r_sum,
                 CAST(SUM(CASE WHEN (i-1)%3=1 THEN ascii(substr(px, CAST(i AS INTEGER), 1)) END) AS BIGINT) AS g_sum,
                 CAST(SUM(CASE WHEN (i-1)%3=2 THEN ascii(substr(px, CAST(i AS INTEGER), 1)) END) AS BIGINT) AS b_sum,
                 MIN(ascii(substr(px, CAST(i AS INTEGER), 1))) AS px_min,
                 MAX(ascii(substr(px, CAST(i AS INTEGER), 1))) AS px_max
          FROM u GROUP BY doc_id)
    SELECT p.doc_id, 'image' AS kind,
           CAST(9 + length(CAST(w AS VARCHAR)) + length(CAST(h AS VARCHAR)) + length(px)
                AS BIGINT) AS n_bytes,
           CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
           CAST(w*h AS BIGINT) AS n_pixels, pixel_sum, r_sum, g_sum, b_sum,
           CAST(px_min AS INTEGER) AS px_min, CAST(px_max AS INTEGER) AS px_max,
           CAST(ROUND(pixel_sum * 1000000.0 / (w*h*3), 0) AS BIGINT) AS mean_x1e6
    FROM p JOIN b USING (doc_id)
    """,
    tags=("llm", "multimodal", "pandas_udf"),
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end multimodal pipeline: JVM-side PPM encode → binary
    payload → distributed REAL decode (mapInPandas, pure-Python P6
    parser) → exact integer pixel statistics, oracle-checked against
    DuckDB recomputing the same stats from the source text. The mean
    is derived JVM-side from the exact sums (shared ROUND-on-double)."""
    d = load_table(spark, sf_dir, "documents")
    feats = featurize_binary(ppm_payloads(d))
    return feats.withColumn(
        "mean_x1e6",
        F.round(F.col("pixel_sum") * 1000000.0 / (F.col("n_pixels") * 3), 0).cast("bigint"),
    )


@register(
    "multimodal_features_arrow",
    oracle=f"""
    WITH {_ORACLE_GEOM},
    u AS (SELECT doc_id, px, unnest(generate_series(1, length(px))) AS i FROM p),
    b AS (SELECT doc_id,
                 CAST(SUM(ascii(substr(px, CAST(i AS INTEGER), 1))) AS BIGINT) AS pixel_sum,
                 CAST(SUM(CASE WHEN (i-1)%3=0 THEN ascii(substr(px, CAST(i AS INTEGER), 1)) END) AS BIGINT) AS r_sum,
                 CAST(SUM(CASE WHEN (i-1)%3=1 THEN ascii(substr(px, CAST(i AS INTEGER), 1)) END) AS BIGINT) AS g_sum,
                 CAST(SUM(CASE WHEN (i-1)%3=2 THEN ascii(substr(px, CAST(i AS INTEGER), 1)) END) AS BIGINT) AS b_sum,
                 MIN(ascii(substr(px, CAST(i AS INTEGER), 1))) AS px_min,
                 MAX(ascii(substr(px, CAST(i AS INTEGER), 1))) AS px_max
          FROM u GROUP BY doc_id)
    SELECT p.doc_id, 'image' AS kind,
           CAST(9 + length(CAST(w AS VARCHAR)) + length(CAST(h AS VARCHAR)) + length(px)
                AS BIGINT) AS n_bytes,
           CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
           CAST(w*h AS BIGINT) AS n_pixels, pixel_sum, r_sum, g_sum, b_sum,
           CAST(px_min AS INTEGER) AS px_min, CAST(px_max AS INTEGER) AS px_max
    FROM p JOIN b USING (doc_id)
    """,
    tags=("llm", "multimodal", "arrow"),
)
def multimodal_features_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow variant of multimodal_features: identical decode,
    zero pandas boxing of the binary payloads."""
    d = load_table(spark, sf_dir, "documents")
    return featurize_binary_arrow(ppm_payloads(d))


@register(
    "multimodal_resize",
    oracle=f"""
    WITH {_ORACLE_GEOM}
    SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
           32 AS target_w, 32 AS target_h,
           ROUND(LEAST(32.0 / w, 32.0 / h), 6) AS scale
    FROM p
    """,
    tags=("llm", "multimodal", "pandas_udf"),
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize pipeline over real PPM payloads: decode the header,
    compute the fit-inside scale for a 32×32 target."""
    d = load_table(spark, sf_dir, "documents")
    return resize_binary(ppm_payloads(d))


@register(
    "multimodal_frame_sample",
    oracle=f"""
    WITH {_ORACLE_GEOM},
    f AS (SELECT doc_id, w, h, px, unnest([0, 4, 8]) AS frame_no FROM p)
    SELECT doc_id, CAST(frame_no AS INTEGER) AS frame_no,
           md5(substr(px, CAST(frame_no*w*3 + 1 AS INTEGER), CAST(w*3 AS INTEGER))) AS frame_md5
    FROM f WHERE frame_no < h
    """,
    tags=("llm", "multimodal", "pandas_udf"),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling over real PPM payloads: each pixel row is a
    frame; sample every 4th row (max 3) and hash its raw bytes —
    oracle recomputes the same md5 from the source text slice."""
    d = load_table(spark, sf_dir, "documents")
    return frame_sample_binary(ppm_payloads(d), every_n=4, max_frames=3)


# --------------------------------------------------------------------------
# WAV (RIFF/PCM16) codec — the audio leg of the multimodal surface
# --------------------------------------------------------------------------

N_SAMPLES = 64  # samples per synthetic clip
SAMPLE_RATE = 8000

AUDIO_SCHEMA = (
    "doc_id long, n_bytes long, n_samples long, sample_rate int, "
    "sum_samples long, sum_abs long, energy long, peak_max int, peak_min int, "
    "zero_crossings long"
)
_AUDIO_COLS = [
    "doc_id", "n_bytes", "n_samples", "sample_rate",
    "sum_samples", "sum_abs", "energy", "peak_max", "peak_min", "zero_crossings",
]


def _wav_header_hex(n_samples: int, sample_rate: int) -> str:
    """Canonical 44-byte RIFF/WAVE PCM16-mono header as hex (pure
    Python, used to build the JVM-side encode literal — the header is
    constant because every synthetic clip has the same length)."""
    import struct

    data_size = n_samples * 2
    hdr = (
        b"RIFF"
        + struct.pack("<I", 36 + data_size)
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16)
        + b"data"
        + struct.pack("<I", data_size)
    )
    return hdr.hex()


def wav_payloads(d: DataFrame) -> DataFrame:
    """(doc_id, payload) with payload a REAL RIFF/WAVE file: PCM16
    mono, 64 samples deterministically derived from doc_id
    (sample_i = (doc_id·31 + i·17) mod 8192 − 4096). The sample plane
    is built entirely JVM-side — int16 two's-complement little-endian
    bytes via format_string hex + unhex — so encode costs no Python,
    and the oracle can recompute every feature from the formula."""
    i = F.sequence(F.lit(0), F.lit(N_SAMPLES - 1))

    def sample_hex(idx):  # idx: Column
        v = (F.col("doc_id") * 31 + idx * 17) % 8192 - 4096
        u = (v + 65536) % 65536
        return F.format_string("%02x%02x", (u % 256).cast("int"), (u / 256).cast("int"))

    samples = F.array_join(F.transform(i, sample_hex), "")
    payload = F.unhex(
        F.concat(F.lit(_wav_header_hex(N_SAMPLES, SAMPLE_RATE)), samples)
    )
    return d.select("doc_id", payload.alias("payload"))


def decode_wav(payload: bytes) -> tuple[int, int, list[int]]:
    """Real RIFF/WAVE parser: validate magic, walk chunks to ``fmt ``
    and ``data``, require PCM16 mono, return (sample_rate, n_samples,
    samples). Pure Python (struct) — WAV needs no codec library, which
    is the point; swap in soundfile/librosa here for compressed audio
    and nothing else changes."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + size + (size % 2)
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, channels, sample_rate, _br, _ba, bits = fmt
    if (audio_format, channels, bits) != (1, 1, 16):
        raise NotImplementedError("only PCM16 mono decodes without an audio library")
    samples = list(struct.unpack(f"<{len(data) // 2}h", data))
    return sample_rate, len(samples), samples


def _audio_stats(doc_id: int, payload: bytes) -> tuple:
    rate, n, s = decode_wav(payload)
    zc = sum(1 for a, b in zip(s, s[1:]) if a * b < 0)
    return (
        doc_id,
        len(payload),
        n,
        rate,
        sum(s),
        sum(abs(x) for x in s),
        sum(x * x for x in s),
        max(s),
        min(s),
        zc,
    )


@register(
    "multimodal_audio_features",
    oracle=f"""
    WITH s AS (
      SELECT doc_id,
             list_transform(generate_series(0, {N_SAMPLES - 1}),
                            i -> (doc_id * 31 + i * 17) % 8192 - 4096) AS smp
      FROM documents),
    f AS (
      SELECT doc_id,
             CAST(44 + {N_SAMPLES} * 2 AS BIGINT) AS n_bytes,
             CAST({N_SAMPLES} AS BIGINT) AS n_samples,
             {SAMPLE_RATE} AS sample_rate,
             CAST(list_sum(smp) AS BIGINT) AS sum_samples,
             CAST(list_sum(list_transform(smp, x -> abs(x))) AS BIGINT) AS sum_abs,
             CAST(list_sum(list_transform(smp, x -> x * x)) AS BIGINT) AS energy,
             CAST(list_max(smp) AS INT) AS peak_max,
             CAST(list_min(smp) AS INT) AS peak_min,
             CAST(len(list_filter(generate_series(2, {N_SAMPLES}),
                                  i -> smp[i - 1] * smp[i] < 0)) AS BIGINT)
               AS zero_crossings
      FROM s)
    SELECT * FROM f
    """,
    tags=("llm", "multimodal", "audio"),
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end audio pipeline: JVM-side WAV (RIFF/PCM16) encode →
    binary payload column → distributed pure-Python RIFF parse in an
    Arrow-batched mapInPandas kernel → exact integer sample statistics
    (sums, energy, peaks, zero crossings — no float drift). The oracle
    recomputes every feature from the generating formula, so the whole
    encode→decode→featurize loop is hash-checked.

    Scale: encode is codegen'd JVM work; decode/featurize is the
    deliberate Arrow path (one Python worker per partition, zero
    driver round-trips) — the exact shape of a real audio pipeline
    with the codec swapped (soundfile/ffmpeg)."""
    import pandas as pd

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    payloads = wav_payloads(d)

    def kernel(batches):
        for pdf in batches:
            rows = [
                _audio_stats(doc_id, bytes(p))
                for doc_id, p in zip(pdf["doc_id"], pdf["payload"])
            ]
            yield pd.DataFrame(rows, columns=_AUDIO_COLS)

    return payloads.mapInPandas(kernel, AUDIO_SCHEMA)


# --------------------------------------------------------------------------
# perceptual average-hash dedup
# --------------------------------------------------------------------------

AHASH_SCHEMA = "doc_id long, width int, height int, ahash int"


def _ahash(doc_id: int, payload: bytes) -> tuple:
    """2×2-grid average hash of a decoded image: bit c is set iff grid
    cell c is brighter than the whole image. All-integer comparison
    (cell_sum · total_bytes > total_sum · cell_bytes) — no float mean,
    so the oracle reproduces every bit exactly."""
    w, h, _maxval, pix = decode_image(payload)
    cell_sum = [0, 0, 0, 0]
    cell_n = [0, 0, 0, 0]
    stride = w * 3
    for i, byte in enumerate(pix):
        p = i // 3
        row, col = p // w, p % w
        cell = (row * 2 // h) * 2 + (col * 2 // w)
        cell_sum[cell] += byte
        cell_n[cell] += 1
    total_sum, total_n = sum(cell_sum), sum(cell_n)
    ahash = 0
    for c in range(4):
        if cell_sum[c] * total_n > total_sum * cell_n[c]:
            ahash |= 1 << c
    return doc_id, w, h, ahash


def ahash_binary(df: DataFrame) -> DataFrame:
    """mapInPandas kernel computing the average hash per payload."""
    import pandas as pd

    def kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = [
                _ahash(doc_id, bytes(payload))
                for doc_id, payload in zip(pdf["doc_id"], pdf["payload"])
            ]
            yield pd.DataFrame(rows, columns=["doc_id", "width", "height", "ahash"])

    return df.mapInPandas(kernel, AHASH_SCHEMA)


@register(
    "multimodal_image_ahash",
    oracle=f"""
    WITH {_ORACLE_GEOM},
    u AS (SELECT doc_id, w, h, px,
                 unnest(generate_series(1, length(px))) AS i
          FROM p),
    cells AS (
      SELECT doc_id, w, h,
             CAST((((i-1)//3) // w) * 2 // h AS BIGINT) * 2
               + CAST((((i-1)//3) % w) * 2 // w AS BIGINT) AS cell,
             CAST(SUM(ascii(substr(px, CAST(i AS INTEGER), 1))) AS BIGINT) AS cs,
             COUNT(*) AS cn
      FROM u GROUP BY doc_id, w, h, 4),
    tot AS (
      SELECT doc_id, CAST(SUM(cs) AS BIGINT) AS ts, CAST(SUM(cn) AS BIGINT) AS tn
      FROM cells GROUP BY doc_id),
    hashed AS (
      SELECT cells.doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
             CAST(SUM(CASE WHEN cs * tn > ts * cn
                           THEN CAST(2 ** cell AS BIGINT) ELSE 0 END)
                  AS INTEGER) AS ahash
      FROM cells JOIN tot USING (doc_id)
      GROUP BY cells.doc_id, w, h)
    SELECT doc_id, width, height, ahash,
           COUNT(*) OVER (PARTITION BY ahash) AS bucket_size
    FROM hashed
    """,
    tags=("llm", "multimodal", "dedup", "pandas_udf"),
)
def multimodal_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual average-hash image dedup: JVM-side PPM encode →
    distributed real decode (mapInPandas) → 2×2-grid average hash →
    hash-bucket sizes (images sharing an ahash are near-duplicate
    candidates — the image-side analogue of LSH band buckets). The
    whole bit pattern is integer-exact (brightness comparisons by
    cross-multiplication, never a float mean), so DuckDB reproduces
    every hash from the source text.

    Scale: decode+hash is the Arrow-batched Python map (the one
    deliberate Python stage, same posture as multimodal_features);
    the bucket rollup is a ≤16-row relation (4-bit hash space) that
    broadcasts back for the bucket_size join — the corpus never
    shuffles for the dedup decision. Known trade-off, stated rather
    than hidden: the hashed subtree feeds two branches (rollup +
    join), so this standalone plan runs the decode kernel twice; a
    production pipeline materializes the hash column once (it is
    exactly what the hive-streaming sink is for) and pays one decode.
    The alternative single-pass formulation — a count window over
    ahash — shuffles the whole corpus on 16 heavily-skewed keys,
    which is strictly worse at 100 TB than a second map-side pass."""
    d = load_table(spark, sf_dir, "documents")
    hashed = ahash_binary(ppm_payloads(d))
    buckets = hashed.groupBy("ahash").agg(F.count("*").alias("bucket_size"))
    return hashed.join(F.broadcast(buckets), "ahash").select(
        "doc_id", "width", "height", "ahash", "bucket_size"
    )


# --------------------------------------------------------------------------
# energy-gate VAD segmentation (speech-data curation primitive)
# --------------------------------------------------------------------------

VAD_FRAME = 8  # samples per analysis frame
VAD_THRESHOLD = 45_000_000  # frame energy gate (~mean for this signal)

VAD_FRAME_SCHEMA = "doc_id long, frame_idx int, energy long"


def vad_frame_energies(payloads: DataFrame) -> DataFrame:
    """mapInPandas kernel: real WAV decode → per-frame exact integer
    energy (sum of squared PCM16 samples per VAD_FRAME-sample frame)."""
    import pandas as pd

    def kernel(batches):
        for pdf in batches:
            rows = []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                _rate, n, s = decode_wav(bytes(p))
                for f in range(n // VAD_FRAME):
                    frame = s[f * VAD_FRAME : (f + 1) * VAD_FRAME]
                    rows.append((doc_id, f, sum(x * x for x in frame)))
            yield pd.DataFrame(rows, columns=["doc_id", "frame_idx", "energy"])

    return payloads.mapInPandas(kernel, VAD_FRAME_SCHEMA)


@register(
    "multimodal_audio_vad_segments",
    oracle=f"""
    WITH fr AS (
      SELECT doc_id, CAST(f AS INT) AS frame_idx,
             CAST(list_sum(list_transform(
                 generate_series(f * {VAD_FRAME}, f * {VAD_FRAME} + {VAD_FRAME - 1}),
                 i -> ((doc_id * 31 + i * 17) % 8192 - 4096)
                      * ((doc_id * 31 + i * 17) % 8192 - 4096))) AS BIGINT)
               AS energy
      FROM documents
      CROSS JOIN unnest(generate_series(0, {N_SAMPLES // VAD_FRAME - 1})) AS t(f)),
    act AS (
      SELECT doc_id, frame_idx, energy,
             frame_idx - row_number() OVER (PARTITION BY doc_id
                                            ORDER BY frame_idx) AS grp
      FROM fr WHERE energy > {VAD_THRESHOLD})
    SELECT doc_id,
           CAST(MIN(frame_idx) AS INT) AS seg_start,
           CAST(MAX(frame_idx) AS INT) AS seg_end,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(SUM(energy) AS BIGINT) AS seg_energy
    FROM act GROUP BY doc_id, grp
    """,
    tags=("llm", "multimodal", "audio", "pandas_udf"),
)
def multimodal_audio_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy-gate voice-activity segmentation: decode each WAV clip
    (real RIFF parse in the Arrow-batched kernel), frame the PCM into
    VAD_FRAME-sample frames with exact integer energy, gate on
    VAD_THRESHOLD, and merge consecutive active frames into segments
    with the gaps-islands trick (frame_idx − row_number is constant
    within a run). This is the speech-curation primitive that turns
    raw audio into trainable utterance spans — the silence trimmer in
    front of every ASR data pipeline.

    Determinism: energies are exact bigints from the synthetic PCM's
    generating formula, so the oracle reproduces every frame and
    segment boundary; no float anywhere.

    Scale: one Python map stage (decode + frame energies — the
    irreducible codec step, Arrow-batched), then JVM-side window +
    aggregate partitioned on doc_id. Frames shuffle once on doc_id;
    segment merge is partition-local. Swap the kernel body for
    soundfile/webrtcvad on real audio; the Spark plumbing is
    unchanged."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    frames = vad_frame_energies(wav_payloads(d))
    act = frames.filter(F.col("energy") > VAD_THRESHOLD)
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    grouped = act.withColumn(
        "grp", F.col("frame_idx") - F.row_number().over(w)
    )
    return grouped.groupBy("doc_id", "grp").agg(
        F.min("frame_idx").cast("int").alias("seg_start"),
        F.max("frame_idx").cast("int").alias("seg_end"),
        F.count("*").cast("bigint").alias("n_frames"),
        F.sum("energy").cast("bigint").alias("seg_energy"),
    ).drop("grp")


@register(
    "multimodal_shot_boundaries",
    oracle="""
    WITH g AS (
      SELECT doc_id,
             regexp_replace(text, '[^ -~]', '', 'g') AS a
      FROM documents WHERE text IS NOT NULL),
    dims AS (
      SELECT doc_id, a,
             CAST(greatest(1, floor(sqrt(CAST(floor(length(a) / 3) AS DOUBLE))))
                  AS BIGINT) AS w,
             CAST(floor(floor(length(a) / 3)
                  / greatest(1, floor(sqrt(CAST(floor(length(a) / 3) AS DOUBLE)))))
                  AS BIGINT) AS h
      FROM g WHERE floor(length(a) / 3) >= 1),
    frames AS (
      SELECT doc_id, w, h, fno,
             substr(a, CAST((fno - 1) * w * 3 + 1 AS INT), CAST(w * 3 AS INT))
               AS fstr
      FROM dims, unnest(generate_series(1, h)) AS u(fno)),
    m AS (
      SELECT doc_id, CAST(fno AS BIGINT) AS frame_no,
             CAST(round(CAST(list_sum(list_transform(
                    generate_series(1, len(fstr)),
                    i -> ord(substr(fstr, i, 1)))) AS DOUBLE)
                  * 1000.0 / (w * 3), 0) AS BIGINT) AS mean_milli
      FROM frames),
    d AS (
      SELECT doc_id, frame_no, mean_milli,
             lag(mean_milli) OVER (PARTITION BY doc_id ORDER BY frame_no)
               AS prev_milli
      FROM m)
    SELECT doc_id, frame_no, mean_milli,
           COALESCE(abs(mean_milli - prev_milli) > 10000, FALSE)
             AS is_boundary
    FROM d
    """,
    tags=("llm", "multimodal", "video"),
)
def multimodal_shot_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary detection over the synthetic video: each pixel ROW
    of the deterministic PPM image (ppm_payloads) is a frame; a shot
    boundary fires where consecutive frames' mean intensity jumps by
    more than 10 greyscale units — the cheap luminance-delta first
    pass every video-curation pipeline runs before expensive per-shot
    sampling (real decoders swap into the intensity step; the
    frame/lag/threshold plumbing is the product).

    Exactness: frame geometry is the ppm_payloads integer expression
    tree; per-frame intensity is an exact ASCII-code sum rounded to
    integer milli-units before the lag compare, so the boundary
    predicate compares BIGINTs. Scale: frames explode to h rows per
    doc (h ~ sqrt(chars)); the lag window shuffles once on doc_id;
    per-frame char work is linear in payload size, all JVM built-ins —
    no Python in the loop."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    a = F.regexp_replace(F.col("text"), "[^ -~]", "")
    npix = F.floor(F.length(a) / 3).cast("bigint")
    w = F.greatest(
        F.lit(1).cast("bigint"),
        F.floor(F.sqrt(npix.cast("double"))).cast("bigint"),
    )
    # filter on the selected npix column (not the pre-projection
    # expression) so the plan never leans on ResolveMissingReferences
    # re-resolving through the Project — ADVICE r8
    dims = (
        d.select(
            "doc_id",
            a.alias("a"),
            npix.alias("npix"),
            w.alias("w"),
            F.floor(npix / w).cast("bigint").alias("h"),
        )
        .filter(F.col("npix") >= 1)
        .drop("npix")
    )
    frames = dims.select(
        "doc_id",
        "w",
        F.explode(F.sequence(F.lit(1).cast("bigint"), F.col("h"))).alias("fno"),
        "a",
    ).select(
        "doc_id",
        "w",
        F.col("fno").alias("frame_no"),
        F.expr("substr(a, CAST((fno - 1) * w * 3 + 1 AS INT), CAST(w * 3 AS INT))").alias(
            "fstr"
        ),
    )
    m = frames.select(
        "doc_id",
        "frame_no",
        F.round(
            F.expr(
                "aggregate(transform(sequence(1, length(fstr)),"
                " i -> ascii(substring(fstr, i, 1))), 0L, (acc, x) -> acc + x)"
            ).cast("double")
            * 1000.0
            / (F.col("w") * 3),
            0,
        )
        .cast("bigint")
        .alias("mean_milli"),
    )
    from pyspark.sql import Window

    lag = F.lag("mean_milli").over(
        Window.partitionBy("doc_id").orderBy("frame_no")
    )
    return m.select(
        "doc_id",
        "frame_no",
        "mean_milli",
        F.coalesce(
            F.abs(F.col("mean_milli") - lag) > 10000, F.lit(False)
        ).alias("is_boundary"),
    )


# --------------------------------------------------------------------------
# audio fingerprinting (chromaprint-style sign-of-delta hash)
# --------------------------------------------------------------------------

FP_FRAME = 8  # samples per fingerprint frame (8 frames per clip)
FP_BANDS = 4  # sub-band loudness cells per frame (2 samples each)
FP_BAND_W = FP_FRAME // FP_BANDS


def audio_fingerprints(payloads: DataFrame) -> DataFrame:
    """mapInPandas kernel: real WAV decode → ONE (doc_id, fingerprint)
    row per clip. The whole chromaprint construction is doc-local —
    band loudness cells, sign-of-delta bits between consecutive
    frames, bit packing — so computing it inside the kernel (exact
    int64 NumPy: |PCM| ≤ 2^15, 28 bits, nothing overflows) removes the
    32-rows-per-doc Arrow stream, the (doc_id, band) lag-window
    exchange, and the per-doc rollup the r12 form paid (guide §2.4;
    the same loudness sums and comparisons, assembled in one place).
    A clip with < 2 frames emits nothing — identical to the r12
    frame_idx >= 1 filter leaving the doc's group empty."""
    import numpy as np
    import pandas as pd

    # bit positions: (frame_idx - 1) * FP_BANDS + band, frame_idx >= 1
    def kernel(batches):
        for pdf in batches:
            ids, fps = [], []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                _rate, n, s = decode_wav(bytes(p))
                nf = n // FP_FRAME
                if nf < 2:
                    continue
                loud = (
                    np.abs(
                        np.asarray(s[: nf * FP_FRAME], dtype=np.int64)
                    )
                    .reshape(nf, FP_BANDS, FP_BAND_W)
                    .sum(axis=2)
                )
                bits = (loud[1:] > loud[:-1]).astype(np.int64)
                shifts = (
                    np.arange(nf - 1, dtype=np.int64)[:, None] * FP_BANDS
                    + np.arange(FP_BANDS, dtype=np.int64)[None, :]
                )
                ids.append(doc_id)
                fps.append(int((bits << shifts).sum()))
            yield pd.DataFrame(
                {
                    "doc_id": np.asarray(ids, dtype=np.int64),
                    "fingerprint": np.asarray(fps, dtype=np.int64),
                }
            )

    return payloads.mapInPandas(kernel, "doc_id long, fingerprint long")


@register(
    "multimodal_audio_fingerprint",
    oracle=f"""
    -- chromaprint-style fingerprint from the synthetic PCM's
    -- generating formula: per (frame, band) exact |sample| sums, one
    -- bit per band-wise loudness increase between consecutive frames.
    WITH cells AS (
      SELECT doc_id, CAST(f AS INT) AS frame_idx, CAST(b AS INT) AS band,
             CAST(list_sum(list_transform(
                 generate_series(f * {FP_FRAME} + b * {FP_BAND_W},
                                 f * {FP_FRAME} + b * {FP_BAND_W}
                                   + {FP_BAND_W - 1}),
                 i -> abs((doc_id * 31 + i * 17) % 8192 - 4096)))
               AS BIGINT) AS loud
      FROM documents
      CROSS JOIN unnest(generate_series(0, {N_SAMPLES // FP_FRAME - 1}))
        AS tf(f)
      CROSS JOIN unnest(generate_series(0, {FP_BANDS - 1})) AS tb(b)
      WHERE doc_id IS NOT NULL),
    bits AS (
      SELECT doc_id, frame_idx, band,
             CASE WHEN loud > lag(loud) OVER (PARTITION BY doc_id, band
                                              ORDER BY frame_idx)
                  THEN 1 ELSE 0 END AS bit
      FROM cells),
    fp AS (
      SELECT doc_id,
             CAST(SUM(bit << ((frame_idx - 1) * {FP_BANDS} + band))
                  AS BIGINT) AS fingerprint
      FROM bits WHERE frame_idx >= 1 GROUP BY doc_id),
    coll AS (SELECT fingerprint, CAST(COUNT(*) AS BIGINT) AS n_matches
             FROM fp GROUP BY fingerprint)
    SELECT fp.doc_id, fp.fingerprint, coll.n_matches
    FROM fp JOIN coll USING (fingerprint)
    """,
    tags=("llm", "multimodal", "audio", "dedup", "pandas_udf"),
)
def multimodal_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio fingerprinting for dedup/content-ID: decode each WAV clip
    (real RIFF parse in the Arrow-batched kernel), fill an 8-frame x
    4-band loudness grid with exact integer |PCM| sums, and hash the
    sign of every band-wise loudness change between consecutive
    frames into a 28-bit fingerprint — the chromaprint/shazam
    construction (Wang 2003) with the filterbank swapped for an exact
    sub-band sum so the oracle can recompute every bit. Clips sharing
    a fingerprint (`n_matches > 1`) are audio near-dup candidates the
    way band-bucket LSH pairs are for text.

    Determinism: loudness cells are exact bigints from the synthetic
    PCM's generating formula; bits are integer comparisons; the hash
    is an exact bit-OR sum. No float anywhere.

    Scale (r13): ONE Python map stage emitting ONE row per clip — the
    whole bit construction is doc-local, so the fingerprint assembles
    inside the Arrow kernel (audio_fingerprints) and the r12
    32-rows-per-doc cell stream, its (doc_id, band) lag-window
    exchange, and the per-doc rollup are gone (guide §2.4). The
    fingerprint table is barriered (two consumers: the collision count
    and the output join — without it the decode kernel runs twice);
    the fingerprint-keyed count join is the only shuffle, its key is
    28 bits so collision groups stay bounded like LSH buckets."""
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isNotNull())
        .select("doc_id")
    )
    # (doc_id, fingerprint) int64 pairs: bounded-width, |docs|-sized —
    # localCheckpoint is the right barrier class
    fp = audio_fingerprints(wav_payloads(d)).localCheckpoint(eager=True)
    coll = fp.groupBy("fingerprint").agg(
        F.count("*").cast("bigint").alias("n_matches")
    )
    return fp.join(coll, "fingerprint").select(
        "doc_id", "fingerprint", "n_matches"
    )


@register(
    "multimodal_keyframe_select",
    oracle="""
    -- same frame/intensity CTEs as multimodal_shot_boundaries, then:
    -- shots are cumulative boundary counts, the keyframe is each
    -- shot's brightest frame (tie -> earliest).
    WITH g AS (
      SELECT doc_id,
             regexp_replace(text, '[^ -~]', '', 'g') AS a
      FROM documents WHERE text IS NOT NULL),
    dims AS (
      SELECT doc_id, a,
             CAST(greatest(1, floor(sqrt(CAST(floor(length(a) / 3) AS DOUBLE))))
                  AS BIGINT) AS w,
             CAST(floor(floor(length(a) / 3)
                  / greatest(1, floor(sqrt(CAST(floor(length(a) / 3) AS DOUBLE)))))
                  AS BIGINT) AS h
      FROM g WHERE floor(length(a) / 3) >= 1),
    frames AS (
      SELECT doc_id, w, h, fno,
             substr(a, CAST((fno - 1) * w * 3 + 1 AS INT), CAST(w * 3 AS INT))
               AS fstr
      FROM dims, unnest(generate_series(1, h)) AS u(fno)),
    m AS (
      SELECT doc_id, CAST(fno AS BIGINT) AS frame_no,
             CAST(round(CAST(list_sum(list_transform(
                    generate_series(1, len(fstr)),
                    i -> ord(substr(fstr, i, 1)))) AS DOUBLE)
                  * 1000.0 / (w * 3), 0) AS BIGINT) AS mean_milli
      FROM frames),
    d AS (
      SELECT doc_id, frame_no, mean_milli,
             COALESCE(abs(mean_milli - lag(mean_milli) OVER (
               PARTITION BY doc_id ORDER BY frame_no)) > 10000, FALSE)
               AS is_boundary
      FROM m),
    shots AS (
      SELECT doc_id, frame_no, mean_milli,
             SUM(CASE WHEN is_boundary THEN 1 ELSE 0 END) OVER (
               PARTITION BY doc_id ORDER BY frame_no
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS shot_no
      FROM d),
    ranked AS (
      SELECT doc_id, shot_no, frame_no, mean_milli,
             row_number() OVER (PARTITION BY doc_id, shot_no
                                ORDER BY mean_milli DESC, frame_no)
               AS kr
      FROM shots)
    SELECT s.doc_id, CAST(s.shot_no AS BIGINT) AS shot_no,
           CAST(MIN(s.frame_no) AS BIGINT) AS shot_start,
           CAST(MAX(s.frame_no) AS BIGINT) AS shot_end,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(MAX(CASE WHEN r.kr = 1 THEN r.frame_no END) AS BIGINT)
             AS keyframe_no,
           CAST(MAX(CASE WHEN r.kr = 1 THEN r.mean_milli END) AS BIGINT)
             AS keyframe_mean_milli
    FROM shots s JOIN ranked r
      ON r.doc_id = s.doc_id AND r.shot_no = s.shot_no
     AND r.frame_no = s.frame_no
    GROUP BY s.doc_id, s.shot_no
    """,
    tags=("llm", "multimodal", "video"),
)
def multimodal_keyframe_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyframe selection per shot: shots are the runs between
    luminance-delta boundaries (composed directly on the
    multimodal_shot_boundaries output — one builder feeding another,
    the way a real video pipeline chains detect -> sample), and each
    shot's keyframe is its brightest frame (exact integer milli-mean,
    tie -> earliest) — the representative frame a vision-language
    curation pass would embed instead of all frames.

    Exactness: shot numbering is a cumulative boundary count over the
    same bigint means the boundary op emits; keyframe choice is an
    integer (mean DESC, frame ASC) rank. Scale: both windows and the
    per-shot aggregate ride the ONE doc_id partitioning the boundary
    op already shuffles on — composing adds no exchange."""
    from pyspark.sql import Window

    sb = multimodal_shot_boundaries(spark, sf_dir)
    w_cum = (
        Window.partitionBy("doc_id")
        .orderBy("frame_no")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    shots = sb.select(
        "doc_id",
        "frame_no",
        "mean_milli",
        F.sum(F.col("is_boundary").cast("int")).over(w_cum).alias("shot_no"),
    )
    w_key = Window.partitionBy("doc_id", "shot_no").orderBy(
        F.col("mean_milli").desc(), "frame_no"
    )
    ranked = shots.withColumn("kr", F.row_number().over(w_key))
    return ranked.groupBy("doc_id", "shot_no").agg(
        F.min("frame_no").cast("bigint").alias("shot_start"),
        F.max("frame_no").cast("bigint").alias("shot_end"),
        F.count("*").cast("bigint").alias("n_frames"),
        F.max(F.when(F.col("kr") == 1, F.col("frame_no")))
        .cast("bigint")
        .alias("keyframe_no"),
        F.max(F.when(F.col("kr") == 1, F.col("mean_milli")))
        .cast("bigint")
        .alias("keyframe_mean_milli"),
    ).select(
        "doc_id",
        F.col("shot_no").cast("bigint").alias("shot_no"),
        "shot_start",
        "shot_end",
        "n_frames",
        "keyframe_no",
        "keyframe_mean_milli",
    )


DHASH_SCHEMA = "doc_id long, width int, height int, dhash int"


def _dhash(doc_id: int, payload: bytes) -> tuple:
    """2×2-grid gradient hash (dHash): bits record the BRIGHTNESS
    GRADIENT between adjacent grid cells — horizontal (left vs right
    per grid row) and vertical (top vs bottom per grid column) —
    instead of aHash's cell-vs-mean. Gradients survive global
    brightness shifts that flip every aHash bit, which is why real
    pipelines run both. All-integer cross-multiplied comparisons."""
    w, h, _maxval, pix = decode_image(payload)
    cell_sum = [0, 0, 0, 0]
    cell_n = [0, 0, 0, 0]
    for i, byte in enumerate(pix):
        p = i // 3
        row, col = p // w, p % w
        cell = (row * 2 // h) * 2 + (col * 2 // w)
        cell_sum[cell] += byte
        cell_n[cell] += 1
    pairs = [(0, 1), (2, 3), (0, 2), (1, 3)]  # h-top, h-bottom, v-left, v-right
    dhash = 0
    for b, (a, c) in enumerate(pairs):
        if cell_sum[a] * cell_n[c] > cell_sum[c] * cell_n[a]:
            dhash |= 1 << b
    return doc_id, w, h, dhash


def dhash_binary(df: DataFrame) -> DataFrame:
    """mapInPandas kernel computing the gradient hash per payload."""
    import pandas as pd

    def kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = [
                _dhash(doc_id, bytes(payload))
                for doc_id, payload in zip(pdf["doc_id"], pdf["payload"])
            ]
            yield pd.DataFrame(
                rows, columns=["doc_id", "width", "height", "dhash"]
            )

    return df.mapInPandas(kernel, DHASH_SCHEMA)


@register(
    "multimodal_image_dhash",
    oracle=f"""
    WITH {_ORACLE_GEOM},
    u AS (SELECT doc_id, w, h, px,
                 unnest(generate_series(1, length(px))) AS i
          FROM p),
    cells AS (
      SELECT doc_id, w, h,
             CAST((((i-1)//3) // w) * 2 // h AS BIGINT) * 2
               + CAST((((i-1)//3) % w) * 2 // w AS BIGINT) AS cell,
             CAST(SUM(ascii(substr(px, CAST(i AS INTEGER), 1))) AS BIGINT) AS cs,
             COUNT(*) AS cn
      FROM u GROUP BY doc_id, w, h, 4),
    wide AS (
      SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
             MAX(CASE WHEN cell = 0 THEN cs END) AS s0,
             MAX(CASE WHEN cell = 0 THEN cn END) AS n0,
             MAX(CASE WHEN cell = 1 THEN cs END) AS s1,
             MAX(CASE WHEN cell = 1 THEN cn END) AS n1,
             MAX(CASE WHEN cell = 2 THEN cs END) AS s2,
             MAX(CASE WHEN cell = 2 THEN cn END) AS n2,
             MAX(CASE WHEN cell = 3 THEN cs END) AS s3,
             MAX(CASE WHEN cell = 3 THEN cn END) AS n3
      FROM cells GROUP BY doc_id, w, h),
    hashed AS (
      SELECT doc_id, width, height,
             CAST(
               (CASE WHEN COALESCE(s0,0) * COALESCE(n1,0)
                        > COALESCE(s1,0) * COALESCE(n0,0) THEN 1 ELSE 0 END)
             + (CASE WHEN COALESCE(s2,0) * COALESCE(n3,0)
                        > COALESCE(s3,0) * COALESCE(n2,0) THEN 2 ELSE 0 END)
             + (CASE WHEN COALESCE(s0,0) * COALESCE(n2,0)
                        > COALESCE(s2,0) * COALESCE(n0,0) THEN 4 ELSE 0 END)
             + (CASE WHEN COALESCE(s1,0) * COALESCE(n3,0)
                        > COALESCE(s3,0) * COALESCE(n1,0) THEN 8 ELSE 0 END)
               AS INTEGER) AS dhash
      FROM wide)
    SELECT doc_id, width, height, dhash,
           COUNT(*) OVER (PARTITION BY dhash) AS bucket_size
    FROM hashed
    """,
    tags=("llm", "multimodal", "dedup", "pandas_udf"),
)
def multimodal_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual gradient-hash (dHash) image dedup — the
    brightness-shift-robust companion to multimodal_image_ahash: bits
    record the gradient between adjacent 2×2 grid cells (left/right
    per row, top/bottom per column) via integer cross-multiplied
    comparisons, so a global exposure change that flips every aHash
    bit leaves the dHash intact. Production image dedup keys on the
    CONCATENATION of both hashes; this op certifies the second half.

    Exactness and scale posture identical to the aHash op: Arrow-
    batched decode kernel, integer-only bit derivation the oracle
    reproduces from the source text, and a ≤16-row bucket rollup
    broadcast back for bucket_size."""
    d = load_table(spark, sf_dir, "documents")
    hashed = dhash_binary(ppm_payloads(d))
    buckets = hashed.groupBy("dhash").agg(F.count("*").alias("bucket_size"))
    return hashed.join(F.broadcast(buckets), "dhash").select(
        "doc_id", "width", "height", "dhash", "bucket_size"
    )
