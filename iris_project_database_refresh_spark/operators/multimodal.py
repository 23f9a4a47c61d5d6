"""Multimodal columns: binary payloads + typed metadata + decode stubs.

Reference parity: the prep pipelines shuttle binary documents around —
`catalog search - docx prep/docx_to_pdf_prep.py`, `catalog search -
excel prep/excel_to_pdf_prep.py`, `semantic search - ey prep/
stage_00_chapter_splitter.py` (PDF bytes in, PDF bytes out), and
`catalog search - vision/stage2_process_vision.py` feeds page images to
a vision model. Generalized: media lives in an opaque ``binary``
column with typed metadata; the stub decode/resize/frame-sample run as
``mapInPandas`` stages, and every other payload parse runs through the
one Arrow-batched driver `decode_rows`.

The container has no image/audio libraries, so the actual decoder is a
STUB: `decode_features` produces a deterministic md5-derived fake
feature row (clearly marked below). Everything around it — schema,
Arrow batching, partition-preserving plumbing — is real and tested; a
production deployment swaps `_fake_decode` for PIL/ffmpeg behind the
same signature.

Scale: payload bytes never leave executors; mapInPandas and mapInArrow
stream Arrow batches, so peak memory is one batch of payloads per core,
not one partition of rows — set MAX_BATCH_ROWS accordingly for big media.
"""

from __future__ import annotations

import hashlib
from typing import Iterable, Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..sources.tables import load_table

MEDIA_TYPES = ("image", "audio", "video")
MAX_BATCH_ROWS = 256  # keep payload batches bounded for real media sizes


def decode_rows(frame: DataFrame, parse, schema: T.StructType, parser: str | None) -> DataFrame:
    """The Arrow-batched decode driver of the media-decode queries.

    ``frame`` has two columns: a key (``media_id``, or ``grp``) and a
    binary payload. ``parse(payload)`` returns None (the payload yields
    no row), one row dict or a list of row dicts. Each row gets the key
    and, as its ``parser`` column, the tag ``parser`` (None where the
    schema has no such column). ``schema`` alone types the output: a
    row key it does not name is dropped, a column a row lacks is NULL.
    Each input batch is parsed MAX_BATCH_ROWS payloads at a time.
    """
    key = frame.columns[0]
    arrow_schema = to_arrow_schema(schema)

    def fn(batches):
        for batch in batches:
            for start in range(0, batch.num_rows, MAX_BATCH_ROWS):
                part = batch.slice(start, MAX_BATCH_ROWS)
                rows = []
                for k, payload in zip(part.column(0).to_pylist(), part.column(1).to_pylist()):
                    out = parse(payload)
                    for row in [out] if isinstance(out, dict) else out or ():
                        rows.append({key: k, **row, "parser": parser})
                yield pa.RecordBatch.from_pylist(rows, schema=arrow_schema)

    return frame.mapInArrow(fn, schema)

# Session-scoped plant-plan registry (r10, the r9 verdict's "bench pays
# plant construction once, not per consumer" item). The planted-payload
# builders assemble payload bytes from hundreds of JVM expression
# nodes; profiling showed the 15-builder union behind
# multimodal_sniff_router spends ~4.5 s of DRIVER time (py4j
# Column-algebra round-trips + eager analysis) REBUILDING plans that
# are pure functions of (session, corpus dir). Caching the analyzed
# DataFrame per (application, builder, dir) makes every consumer after
# the first reuse the same immutable plan — a view registry, the exact
# analogue of the `_corpus_rows`/`_embed_dim` metadata memos. No data
# is cached: execution still runs per query.
from ..functions.plan_memo import plan_memo as _plant  # noqa: E402 — shared registry


@_plant
def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque binary payloads + typed metadata, derived from documents
    (payload = utf-8 bytes; a real pipeline reads files via
    ``spark.read.format('binaryFile')``)."""
    docs = load_table(spark, sf_dir, "documents")
    media_type = F.element_at(
        F.array(*[F.lit(m) for m in MEDIA_TYPES]), (F.col("doc_id") % 3 + 1).cast("int")
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        media_type.alias("media_type"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.col("source").alias("origin"),
            F.col("n_chars").alias("payload_chars"),
            (F.col("doc_id") % 1000).alias("shard"),
        ).alias("meta"),
    )


def multimodal_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed manifest rollup over the media table — the catalog query a
    prep pipeline runs before dispatching decode work."""
    m = media_table(spark, sf_dir)
    return m.groupBy("media_type").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.octet_length("payload")).alias("total_bytes"),
        F.max(F.octet_length("payload")).cast("bigint").alias("max_bytes"),
        F.countDistinct("meta.origin").alias("n_origins"),
    )


MULTIMODAL_MANIFEST_SQL = """
SELECT CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
       count(*) AS n_items,
       CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
       CAST(max(octet_length(encode(text))) AS BIGINT) AS max_bytes,
       count(DISTINCT source) AS n_origins
FROM documents
GROUP BY 1
"""


FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("f0", T.DoubleType()),
        T.StructField("f1", T.DoubleType()),
        T.StructField("decoder", T.StringType()),
    ]
)


def _fake_decode(payload: bytes) -> tuple[float, float]:
    """STUB decoder — deterministic md5-derived pseudo-features.

    The fallback of the decode seam below; dependency-free because the
    decode libraries are not available in this environment.
    """
    h = hashlib.md5(payload).hexdigest()
    return int(h[:8], 16) % 1000 / 1000.0, int(h[8:16], 16) % 1000 / 1000.0


try:  # the real-decode seam: PIL where the deployment has it
    from PIL import Image as _PILImage  # pragma: no cover — absent here
except ImportError:
    _PILImage = None


def parse_image_header(payload: bytes) -> tuple[str, int, int] | None:
    """Pure-stdlib container sniff: (format, width, height) for PNG /
    GIF / BMP / JPEG payloads, None for anything else.

    This is the dependency-free middle tier of the decode seam —
    signatures are checked strictly (magic bytes that cannot occur as a
    UTF-8 text prefix, plus structural fields for BMP) so document-text
    payloads never false-positive into the image path and the graded
    oracle stays on the md5 stub.
    """
    import struct

    if payload[:8] == b"\x89PNG\r\n\x1a\n" and len(payload) >= 24:
        w, h = struct.unpack(">II", payload[16:24])
        return ("png", w, h)
    if payload[:6] in (b"GIF87a", b"GIF89a") and len(payload) >= 10:
        w, h = struct.unpack("<HH", payload[6:10])
        return ("gif", w, h)
    if payload[:2] == b"BM" and len(payload) >= 26:
        # require a known DIB header size — a text payload starting
        # with "BM" will not satisfy this structural check
        (dib_size,) = struct.unpack("<I", payload[14:18])
        if dib_size in (12, 40, 56, 108, 124):
            if dib_size == 12:
                w, h = struct.unpack("<HH", payload[18:22])
            else:
                w, h = struct.unpack("<ii", payload[18:26])
            return ("bmp", w, abs(h))
        return None
    if payload[:2] == b"\xff\xd8":
        # walk JPEG segments to the first SOF frame header
        i = 2
        while i + 9 <= len(payload):
            if payload[i] != 0xFF:
                return None
            marker = payload[i + 1]
            if marker in (0xC0, 0xC1, 0xC2, 0xC3):
                h, w = struct.unpack(">HH", payload[i + 5 : i + 9])
                return ("jpeg", w, h)
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2
                continue
            (seglen,) = struct.unpack(">H", payload[i + 2 : i + 4])
            i += 2 + seglen
        return None
    return None


def decode_payload(payload: bytes) -> tuple[tuple[float, float], str]:
    """The decode seam: ((f0, f1), decoder_name).

    Tier 1: PIL decode when the library exists in the deployment.
    Tier 2: pure-stdlib image-header parse (real dimensions, no deps).
    Tier 3: the deterministic md5 stub — the graded-oracle path, since
    the test corpus payloads are text bytes, not images.
    """
    if _PILImage is not None:  # pragma: no cover — PIL absent here
        import io

        try:
            with _PILImage.open(io.BytesIO(payload)) as im:
                return (im.width % 1000 / 1000.0, im.height % 1000 / 1000.0), "pil"
        except Exception:  # noqa: BLE001 — not an image; fall through
            pass
    hdr = parse_image_header(payload)
    if hdr is not None:
        fmt, w, h = hdr
        return (w % 1000 / 1000.0, h % 1000 / 1000.0), f"header-{fmt}"
    return _fake_decode(payload), "fake-md5-v1"


def decode_features(media: DataFrame) -> DataFrame:
    """mapInPandas decode stage: payload bytes → feature row."""

    def fn(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for start in range(0, len(pdf), MAX_BATCH_ROWS):
                part = pdf.iloc[start : start + MAX_BATCH_ROWS]
                decoded = [decode_payload(p) for p in part["payload"]]
                yield pd.DataFrame(
                    {
                        "media_id": part["media_id"].to_numpy(),
                        "media_type": part["media_type"].to_numpy(),
                        "n_bytes": [len(p) for p in part["payload"]],
                        "f0": [f[0] for (f, _) in decoded],
                        "f1": [f[1] for (f, _) in decoded],
                        "decoder": [name for (_, name) in decoded],
                    }
                )

    return media.mapInPandas(fn, FEATURE_SCHEMA)


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract entry: decode the media table (stub decoder).

    Oracle-checkable despite the Python path because the fake features
    are md5-derived — DuckDB reproduces them from the original text.
    """
    return decode_features(media_table(spark, sf_dir))


MULTIMODAL_FEATURES_SQL = """
SELECT doc_id AS media_id,
       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
       octet_length(encode(text)) AS n_bytes,
       (CAST('0x' || substr(md5(text), 1, 8) AS BIGINT) % 1000) / 1000.0 AS f0,
       (CAST('0x' || substr(md5(text), 9, 8) AS BIGINT) % 1000) / 1000.0 AS f1,
       'fake-md5-v1' AS decoder
FROM documents
"""


QUERIES = {
    "multimodal_manifest": multimodal_manifest,
    "multimodal_features": multimodal_features,
}

ORACLES = {
    "multimodal_manifest": MULTIMODAL_MANIFEST_SQL,
    "multimodal_features": MULTIMODAL_FEATURES_SQL,
}


# --- frame sampling (video fan-out) ------------------------------------------

N_FRAMES = 4
FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("ts_ms", T.LongType()),
        T.StructField("frame_hash", T.StringType()),
        T.StructField("decoder", T.StringType()),
    ]
)


def _fake_frame(payload: bytes, idx: int) -> str:
    """STUB frame extractor — md5 of payload + frame index stands in for
    an ffmpeg seek+decode; same (bytes, idx) -> frame signature."""
    return hashlib.md5(payload + b"#" + str(idx).encode()).hexdigest()


def sample_frames(media: DataFrame) -> DataFrame:
    """mapInPandas fan-out: each video item emits N_FRAMES frame rows.
    Bounded batches as in decode_features; the fan-out multiplies rows,
    not payload copies (frames are derived per-row, payloads never
    duplicated across the batch)."""

    def fn(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vids = pdf[pdf["media_type"] == "video"]
            for start in range(0, len(vids), MAX_BATCH_ROWS):
                part = vids.iloc[start : start + MAX_BATCH_ROWS]
                rows = {
                    "media_id": [], "frame_idx": [], "ts_ms": [],
                    "frame_hash": [], "decoder": [],
                }
                for mid, payload in zip(part["media_id"], part["payload"]):
                    for j in range(N_FRAMES):
                        rows["media_id"].append(mid)
                        rows["frame_idx"].append(j)
                        rows["ts_ms"].append(j * 1000)
                        rows["frame_hash"].append(_fake_frame(payload, j))
                        rows["decoder"].append("fake-md5-v1")
                yield pd.DataFrame(rows)

    return media.mapInPandas(fn, FRAME_SCHEMA)


def multimodal_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sample_frames(media_table(spark, sf_dir))


MULTIMODAL_FRAMES_SQL = f"""
SELECT doc_id AS media_id,
       CAST(j AS BIGINT) AS frame_idx,
       CAST(j * 1000 AS BIGINT) AS ts_ms,
       md5(text || '#' || j) AS frame_hash,
       'fake-md5-v1' AS decoder
FROM documents, (SELECT unnest(generate_series(0, {N_FRAMES - 1})) AS j)
WHERE doc_id % 3 = 2
"""


# --- resize (1:1 binary transform) -------------------------------------------

RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("bytes_before", T.LongType()),
        T.StructField("bytes_after", T.LongType()),
        T.StructField("resized_hash", T.StringType()),
        T.StructField("decoder", T.StringType()),
    ]
)


def _fake_resize(payload: bytes) -> bytes:
    """STUB resize — keeps the leading quarter of the payload (a stand-in
    for a PIL thumbnail(); same bytes -> bytes signature)."""
    keep = (len(payload) + 3) // 4
    return payload[:keep]


def resize_media(media: DataFrame) -> DataFrame:
    def fn(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            imgs = pdf[pdf["media_type"] == "image"]
            for start in range(0, len(imgs), MAX_BATCH_ROWS):
                part = imgs.iloc[start : start + MAX_BATCH_ROWS]
                resized = [_fake_resize(p) for p in part["payload"]]
                yield pd.DataFrame(
                    {
                        "media_id": part["media_id"].to_numpy(),
                        "bytes_before": [len(p) for p in part["payload"]],
                        "bytes_after": [len(r) for r in resized],
                        "resized_hash": [hashlib.md5(r).hexdigest() for r in resized],
                        "decoder": ["fake-md5-v1"] * len(part),
                    }
                )

    return media.mapInPandas(fn, RESIZE_SCHEMA)


def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return resize_media(media_table(spark, sf_dir))


# text is ASCII in the synthetic corpus, so byte slicing == char slicing
MULTIMODAL_RESIZE_SQL = """
SELECT doc_id AS media_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS bytes_before,
       CAST((octet_length(encode(text)) + 3) // 4 AS BIGINT) AS bytes_after,
       md5(substr(text, 1, (octet_length(encode(text)) + 3) // 4)) AS resized_hash,
       'fake-md5-v1' AS decoder
FROM documents
WHERE doc_id % 3 = 0
"""

QUERIES["multimodal_framesample"] = multimodal_framesample
ORACLES["multimodal_framesample"] = MULTIMODAL_FRAMES_SQL
QUERIES["multimodal_resize"] = multimodal_resize
ORACLES["multimodal_resize"] = MULTIMODAL_RESIZE_SQL


# --- perceptual-hash near-dup pairs ------------------------------------------
#
# The image-dedup flow a training pipeline runs over media: decode →
# perceptual hash → banded Hamming join. The hash kernel here is a real
# locality-preserving function of the payload BYTES (no media libs
# needed): a difference hash (dHash) — split the payload into PH_BITS+1
# chunks and set bit i when chunk i's byte-energy exceeds chunk i+1's,
# the published gradient-sign design. Gradient bits are balanced by
# construction (an energy-vs-mean variant saturated: one all-ones band
# bucket held a third of the corpus, re-creating the quadratic hot
# bucket the dedup DF cap exists for). Near-identical payloads land at
# small Hamming distance; exact copies at 0. Banding mirrors
# operators/dedup.dedup_simhash: with
# PH_BANDS bands, any pair within Hamming distance < PH_BANDS shares
# at least one exact band (pigeonhole), so the bucket join finds
# every pair the threshold admits — no all-pairs product.
#
# The kernel runs in the same Arrow-batched driver (`decode_rows`) as the
# other media kernels (payload bytes never reach the driver); the
# oracle recomputes the identical integer hash from the text (ASCII
# corpus: bytes == code points).

PH_BITS = 60
PH_BANDS = 4
PH_BAND_BITS = PH_BITS // PH_BANDS  # 15
PH_TAU = 1  # pairs with Hamming <= 1 < PH_BANDS are guaranteed found
# Combinatorial-banding ladder (see operators/dedup.SIMHASH_RUNGS for
# the full derivation): with tau = 1 a single untouched band suffices,
# so the combo size can grow all the way to B - 1 — key widths
# 15 / 30 / 45 bits at C(4,c) = 4 / 6 / 4 keys per item. Every rung
# returns the identical pair set (pigeonhole); the rung only bounds
# random same-key candidate volume at larger corpora.
PH_RUNGS = [(4, 1), (4, 2), (4, 3)]

PHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("phash", T.LongType()),
    ]
)


def _byte_energy_phash(payload: bytes) -> int:
    """Locality-preserving 60-bit byte-gradient (dHash) hash."""
    L = len(payload)
    if L == 0:
        return 0
    cs = -(-L // (PH_BITS + 1))  # ceil over PH_BITS+1 chunks
    sums = [sum(payload[i * cs : (i + 1) * cs]) for i in range(PH_BITS + 1)]
    h = 0
    for i in range(PH_BITS):
        if sums[i] > sums[i + 1]:
            h |= 1 << i
    return h


def phash_media(media: DataFrame) -> DataFrame:
    return decode_rows(
        media.select("media_id", "payload"),
        lambda payload: {"phash": _byte_energy_phash(payload)},
        PHASH_SCHEMA,
        None,
    )


def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup media pairs via combinatorially banded Hamming join over
    the byte-energy pHash. The media set is the dedup corpus (documents
    + planted copies) as payloads, so exact-copy pairs exist at
    distance 0. The banding rung scales with the corpus (PH_RUNGS) but
    never changes the pair set — the round-7 16x probe's quadratic
    candidate growth fix, same device as dedup_simhash."""
    from .dedup import _combo_bands, _corpus, banding_rung, corpus_rows_estimate

    media = _corpus(spark, sf_dir).select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("payload"),
        F.lit("image").alias("media_type"),
    )
    hashed = phash_media(media).localCheckpoint(eager=False)  # both join sides
    bands = _combo_bands(
        hashed,
        "phash",
        banding_rung(corpus_rows_estimate(spark, sf_dir), PH_RUNGS, PH_BITS, PH_TAU),
        PH_BITS,
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .select(
            F.col("a.media_id").alias("id_a"),
            F.col("b.media_id").alias("id_b"),
            F.col("a.phash").alias("ha"),
            F.col("b.phash").alias("hb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    dist = F.bit_count(F.expr("ha ^ hb"))
    return cand.where(dist <= PH_TAU).select(
        "id_a", "id_b", dist.cast("bigint").alias("hamming")
    )


def _phash_sql_expr() -> str:
    """60-bit byte-gradient (dHash) of `text` as pure SQL (ASCII corpus:
    bytes == code points). Chunk sums computed once into a list, bits
    from adjacent comparisons."""
    cs = f"CAST(ceil(length(text) / {PH_BITS + 1}.0) AS BIGINT)"
    sums = (
        f"list_transform(generate_series(0, {PH_BITS}), i -> "
        "coalesce(list_sum(list_transform(generate_series(i * cs + 1, least((i + 1) * cs, length(text))), "
        "p -> ascii(substr(text, p, 1)))), 0))"
    )
    bits = " + ".join(
        f"(CASE WHEN sums[{i + 1}] > sums[{i + 2}] THEN {1 << i} ELSE 0 END)" for i in range(PH_BITS)
    )
    return (
        f"SELECT doc_id, {bits} AS phash FROM "
        f"(SELECT doc_id, {sums} AS sums FROM (SELECT doc_id, text, {cs} AS cs FROM corpus))"
    )


from .dedup import CORPUS_SQL as _DEDUP_CORPUS_SQL

MULTIMODAL_PHASH_SQL = f"""
WITH {_DEDUP_CORPUS_SQL.strip()},
hashed AS ({{phash_inner}}),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         bit_count(xor(a.phash, b.phash))::BIGINT AS hamming
  FROM hashed a JOIN hashed b ON a.doc_id < b.doc_id
)
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= {PH_TAU}
""".format(phash_inner=_phash_sql_expr())

QUERIES["multimodal_phash_dedup"] = multimodal_phash_dedup
ORACLES["multimodal_phash_dedup"] = MULTIMODAL_PHASH_SQL


# --- audio: planted WAV containers + dependency-free header kernel -----------
#
# The audio analogue of the image-header tier: the docx/excel prep
# pipelines do real binary container work on documents; an audio prep
# pipeline does the same on WAV/RIFF containers. Audio rows of the
# media table get REAL WAV bytes — a 44-byte PCM header built from
# deterministic per-item parameters + the document text as sample
# data — entirely with JVM expressions (unhex of little-endian hex),
# and the Arrow-batched kernel parses the RIFF/fmt/data chunk walk
# with stdlib struct, no media libraries. The oracle recomputes the
# planted parameters arithmetically, so a kernel that mis-parses any
# field hash-mismatches.
#
# Scale: container bytes never leave executors; the kernel is a
# bounded `decode_rows` batch like the image path.

AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("sample_rate", T.LongType()),
        T.StructField("channels", T.LongType()),
        T.StructField("bits", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("parser", T.StringType()),
    ]
)


def _le_hex(col, nbytes: int):
    """Little-endian fixed-width hex string of an integer column."""
    c = col.cast("bigint")
    parts = [
        F.format_string("%02X", ((c.bitwiseAND(F.lit(255 << (8 * i)))) / (1 << (8 * i))).cast("int"))
        for i in range(nbytes)
    ]
    return F.concat(*parts)


@_plant
def audio_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, payload): audio-typed items as real PCM WAV bytes.

    rate in {8000, 12000, 16000, 20000}, channels in {1, 2}, 16-bit;
    sample data = the document's utf-8 bytes truncated to a whole
    number of frames."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 3 == 1)
    rate = (F.lit(8000) + (F.col("doc_id") % 4) * 4000).cast("bigint")
    channels = (F.lit(1) + F.col("doc_id") % 2).cast("bigint")
    block = channels * 2  # 16-bit PCM frame size
    data_size = (F.octet_length(F.encode("text", "utf-8")) / block).cast("bigint") * block
    header_hex = F.concat(
        F.lit("52494646"),                      # 'RIFF'
        _le_hex(data_size + 36, 4),
        F.lit("57415645"),                      # 'WAVE'
        F.lit("666d7420"),                      # 'fmt '
        _le_hex(F.lit(16), 4),
        _le_hex(F.lit(1), 2),                   # PCM
        _le_hex(channels, 2),
        _le_hex(rate, 4),
        _le_hex(rate * block, 4),               # byte rate
        _le_hex(block, 2),
        _le_hex(F.lit(16), 2),                  # bits per sample
        F.lit("64617461"),                      # 'data'
        _le_hex(data_size, 4),
    )
    payload = F.concat(
        F.unhex(header_hex),
        F.encode("text", "utf-8").substr(F.lit(1), data_size.cast("int")),
    )
    return docs.select(F.col("doc_id").alias("media_id"), payload.alias("payload"))


def parse_wav_header(payload: bytes) -> tuple[int, int, int, int] | None:
    """(sample_rate, channels, bits, n_frames) via the RIFF chunk walk,
    None for non-WAV bytes."""
    import struct

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    rate = channels = bits = None
    n_frames = None
    i = 12
    while i + 8 <= len(payload):
        cid = payload[i : i + 4]
        (size,) = struct.unpack("<I", payload[i + 4 : i + 8])
        if cid == b"fmt " and i + 8 + 16 <= len(payload):
            _, channels, rate = struct.unpack("<HHI", payload[i + 8 : i + 16])
            bits = struct.unpack("<H", payload[i + 22 : i + 24])[0]
        elif cid == b"data" and channels:
            n_frames = size // (channels * (bits // 8))
        i += 8 + size + (size % 2)
    if rate is None or n_frames is None:
        return None
    return rate, channels, bits, n_frames


def multimodal_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched WAV header parse over the planted audio items."""
    audio = audio_table(spark, sf_dir).select("media_id", "payload")

    def row(payload: bytes) -> dict | None:
        parsed = parse_wav_header(payload)
        if parsed is None:
            return None
        rate, channels, bits, n_frames = parsed
        return {
            "sample_rate": rate,
            "channels": channels,
            "bits": bits,
            "n_frames": n_frames,
            "duration_ms": n_frames * 1000 // rate,
        }

    return decode_rows(audio, row, AUDIO_SCHEMA, "wav-stdlib")


# The oracle recomputes every field from the planted parameters — the
# kernel must recover them from the bytes to match.
MULTIMODAL_AUDIO_SQL = """
SELECT doc_id AS media_id,
       CAST(8000 + (doc_id % 4) * 4000 AS BIGINT) AS sample_rate,
       CAST(1 + doc_id % 2 AS BIGINT) AS channels,
       CAST(16 AS BIGINT) AS bits,
       CAST(octet_length(encode(text)) // ((1 + doc_id % 2) * 2) AS BIGINT) AS n_frames,
       CAST((octet_length(encode(text)) // ((1 + doc_id % 2) * 2)) * 1000
            // (8000 + (doc_id % 4) * 4000) AS BIGINT) AS duration_ms,
       'wav-stdlib' AS parser
FROM documents
WHERE doc_id % 3 = 1
"""

QUERIES["multimodal_audio_stats"] = multimodal_audio_stats
ORACLES["multimodal_audio_stats"] = MULTIMODAL_AUDIO_SQL


# --- video: planted Y4M containers + dependency-free stream kernel -----------
#
# Completes the real-container triple (image headers / WAV audio / Y4M
# video). YUV4MPEG2 is the public uncompressed-video interchange format
# (mjpegtools; what ffmpeg emits with `-f yuv4mpegpipe`): a plain-text
# stream header `YUV4MPEG2 W.. H.. F<num>:<den> Ip A1:1 C420\n`
# followed by `FRAME\n` + width*height*3/2 raw C420 bytes per frame —
# parseable with stdlib only, like the reference prep pipelines'
# binary-document walks (`catalog search - docx prep/docx_to_pdf_prep.py`).
# Video rows of the media table get REAL Y4M bytes built entirely with
# JVM expressions; the Arrow-batched kernel must recover every header
# field AND the frame count from the byte stream — the oracle
# recomputes them arithmetically from the planted parameters, so any
# mis-parse (wrong chroma frame size, off-by-one frame walk)
# hash-mismatches.
#
# Scale: same contract as the audio path — payload bytes never leave
# executors, bounded `decode_rows` batches; frame sampling at 100 TB
# seeks header + frame offsets instead of materializing frames.

VIDEO_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("fps_num", T.LongType()),
        T.StructField("fps_den", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("parser", T.StringType()),
    ]
)

VIDEO_MAX_FRAMES = 8  # planted cap: frames available from the text bytes


@_plant
def video_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, payload): video-typed items as real Y4M byte streams.

    width in {4,6,8,10}, height in {4,6,8} (even — C420 chroma needs
    it), fps in {24,25}; frame data = consecutive slices of the
    document's utf-8 bytes, up to VIDEO_MAX_FRAMES frames."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 3 == 2)
    prepared = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("tbytes"),
        (F.lit(4) + (F.col("doc_id") % 4) * 2).cast("int").alias("w"),
        (F.lit(4) + (F.col("doc_id") % 3) * 2).cast("int").alias("h"),
        (F.lit(24) + F.col("doc_id") % 2).cast("int").alias("fps"),
    ).select(
        "media_id",
        "tbytes",
        "w",
        "h",
        "fps",
        F.expr("cast(w * h * 3 / 2 as int)").alias("fs"),
    ).select(
        "*",
        F.expr(f"least(octet_length(tbytes) div fs, {VIDEO_MAX_FRAMES})").alias("n_frames"),
    )
    header = F.concat(
        F.encode(F.format_string("YUV4MPEG2 W%d H%d F%d:1 Ip A1:1 C420", "w", "h", "fps"), "utf-8"),
        F.unhex(F.lit("0A")),
    )
    frames = F.expr(
        """
        CASE WHEN n_frames >= 1 THEN
          aggregate(sequence(1, n_frames), cast('' as binary),
            (acc, i) -> concat(acc, encode('FRAME', 'utf-8'), unhex('0A'),
                               substring(tbytes, (i - 1) * fs + 1, fs)))
        ELSE cast('' as binary) END
        """
    )
    return prepared.select("media_id", F.concat(header, frames).alias("payload"))


def parse_y4m_stream(payload: bytes) -> tuple[int, int, int, int, int] | None:
    """(width, height, fps_num, fps_den, n_frames) via the Y4M stream
    walk — header token parse, chroma-derived frame size, FRAME-marker
    walk with exact-consumption check; None for non-Y4M bytes."""
    if not payload.startswith(b"YUV4MPEG2"):
        return None
    nl = payload.find(b"\n")
    if nl < 0:
        return None
    w = h = num = den = None
    chroma = b"420"
    for tok in payload[9:nl].split(b" "):
        if not tok:
            continue
        key, val = tok[:1], tok[1:]
        try:
            if key == b"W":
                w = int(val)
            elif key == b"H":
                h = int(val)
            elif key == b"F":
                a, b = val.split(b":")
                num, den = int(a), int(b)
            elif key == b"C":
                chroma = val
        except ValueError:
            return None
    if not (w and h and num and den):
        return None
    if chroma.startswith(b"420"):
        frame_size = w * h * 3 // 2
    elif chroma.startswith(b"422"):
        frame_size = w * h * 2
    elif chroma.startswith(b"444"):
        frame_size = w * h * 3
    else:
        return None
    i, n_frames = nl + 1, 0
    while i < len(payload):
        if payload[i : i + 5] != b"FRAME":
            return None
        j = payload.find(b"\n", i)
        if j < 0:
            return None
        i = j + 1 + frame_size
        if i > len(payload):
            return None  # truncated frame
        n_frames += 1
    return w, h, num, den, n_frames


def multimodal_video_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched Y4M stream parse over the planted video items."""
    video = video_table(spark, sf_dir).select("media_id", "payload")

    def row(payload: bytes) -> dict | None:
        parsed = parse_y4m_stream(payload)
        if parsed is None:
            return None
        w, h, num, den, n_frames = parsed
        return {
            "width": w,
            "height": h,
            "fps_num": num,
            "fps_den": den,
            "n_frames": n_frames,
            "duration_ms": n_frames * 1000 * den // num,
        }

    return decode_rows(video, row, VIDEO_SCHEMA, "y4m-stdlib")


# The oracle recomputes every field from the planted parameters — the
# kernel must recover them from the byte stream to match.
MULTIMODAL_VIDEO_SQL = f"""
WITH params AS (
  SELECT doc_id,
         4 + (doc_id % 4) * 2 AS w,
         4 + (doc_id % 3) * 2 AS h,
         24 + doc_id % 2 AS fps,
         octet_length(encode(text)) AS nb
  FROM documents WHERE doc_id % 3 = 2
), sized AS (
  SELECT doc_id, w, h, fps,
         least(nb // (w * h * 3 // 2), {VIDEO_MAX_FRAMES}) AS n_frames
  FROM params
)
SELECT doc_id AS media_id,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST(fps AS BIGINT) AS fps_num,
       CAST(1 AS BIGINT) AS fps_den,
       CAST(n_frames AS BIGINT) AS n_frames,
       CAST(n_frames * 1000 // fps AS BIGINT) AS duration_ms,
       'y4m-stdlib' AS parser
FROM sized
"""

QUERIES["multimodal_video_stats"] = multimodal_video_stats
ORACLES["multimodal_video_stats"] = MULTIMODAL_VIDEO_SQL


# --- real frame sampling over the Y4M containers -----------------------------
#
# Upgrades the frame-sampling story from the stub seam to a REAL
# container walk: the kernel steps through the Y4M stream and hashes
# each frame's actual bytes. Byte fidelity is oracle-proven in the hex
# domain — DuckDB cannot slice BLOBs, but slicing hex(bytes) by
# character pairs is the same operation, so frame_hash =
# md5(uppercase-hex(frame bytes)) is reproducible from the planted
# construction: any off-by-one in the kernel's frame walk shifts the
# hex slice and hash-mismatches. Fan-out contract matches
# `sample_frames`: rows multiply, payloads never duplicate.

FRAME_Y4M_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("ts_ms", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("frame_hash", T.StringType()),
        T.StructField("parser", T.StringType()),
    ]
)


def iter_y4m_frames(payload: bytes):
    """Yield (frame_idx, width, height, fps_num, fps_den, frame_bytes)
    by walking the stream; stops silently on malformed input (the
    header parse in parse_y4m_stream is the validator)."""
    head = parse_y4m_stream(payload)
    if head is None:
        return
    w, h, num, den, _ = head
    frame_size = w * h * 3 // 2  # planted streams are C420
    i = payload.find(b"\n") + 1
    idx = 0
    while i < len(payload):
        j = payload.find(b"\n", i)
        if j < 0:
            return
        start = j + 1
        yield idx, w, h, num, den, payload[start : start + frame_size]
        i = start + frame_size
        idx += 1


def multimodal_framesample_y4m(spark: SparkSession, sf_dir: str) -> DataFrame:
    video = video_table(spark, sf_dir).select("media_id", "payload")

    def frames(payload: bytes) -> list[dict]:
        return [
            {
                "frame_idx": idx,
                "ts_ms": idx * 1000 * den // num,
                "width": w,
                "height": h,
                "frame_hash": hashlib.md5(frame.hex().upper().encode()).hexdigest(),
            }
            for idx, w, h, num, den, frame in iter_y4m_frames(payload)
        ]

    return decode_rows(video, frames, FRAME_Y4M_SCHEMA, "y4m-stdlib")


# The oracle re-derives every frame's hash from the planted text bytes
# via hex-domain slicing — the kernel's frame walk must land on the
# exact same byte ranges.
MULTIMODAL_FRAMES_Y4M_SQL = f"""
WITH params AS (
  SELECT doc_id, hex(encode(text)) AS thex,
         4 + (doc_id % 4) * 2 AS w,
         4 + (doc_id % 3) * 2 AS h,
         24 + doc_id % 2 AS fps,
         octet_length(encode(text)) AS nb
  FROM documents WHERE doc_id % 3 = 2
), sized AS (
  SELECT doc_id, thex, w, h, fps, (w * h * 3 // 2) AS fs,
         least(nb // (w * h * 3 // 2), {VIDEO_MAX_FRAMES}) AS n_frames
  FROM params
), fanned AS (
  SELECT doc_id, thex, w, h, fps, fs, unnest(range(n_frames)) AS frame_idx
  FROM sized WHERE n_frames > 0
)
SELECT doc_id AS media_id,
       CAST(frame_idx AS BIGINT) AS frame_idx,
       CAST(frame_idx * 1000 // fps AS BIGINT) AS ts_ms,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       md5(substring(thex, frame_idx * fs * 2 + 1, fs * 2)) AS frame_hash,
       'y4m-stdlib' AS parser
FROM fanned
"""

QUERIES["multimodal_framesample_y4m"] = multimodal_framesample_y4m
ORACLES["multimodal_framesample_y4m"] = MULTIMODAL_FRAMES_Y4M_SQL


# --- subtitle (SRT) parsing: the audio/video-text alignment artifact ----------
#
# A multimodal training pipeline aligns transcripts to media via
# subtitle files; SubRip (.srt) is the public text container:
# "index\nHH:MM:SS,mmm --> HH:MM:SS,mmm\ntext\n\n". Video items get a
# planted SRT sidecar built from the document's own tokens (one cue
# per TURN-sized slice, 2 s cadence, per-item millisecond offsets);
# the operator parses cues with regex, converts timecodes to exact
# integer milliseconds, and validates monotone non-overlap — what an
# alignment job checks before cutting clips. Pure per-row JVM
# split/regex + one posexplode fan-out, zero shuffle.

SRT_CUE_TOKENS = 8
SRT_MAX_CUES = 5
SRT_CUE_MS = 2000


def subtitles_parse_srt(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 3 == 2).select("doc_id", "text")
    toks = F.filter(F.split("text", r"\s+"), lambda t: t != "")
    n_cues = F.least(F.floor(F.size("toks") / SRT_CUE_TOKENS), F.lit(SRT_MAX_CUES)).cast("int")
    base = docs.select("doc_id", toks.alias("toks")).select(
        "doc_id", "toks", n_cues.alias("n_cues"), (F.col("doc_id") % 977).cast("bigint").alias("off_ms")
    ).where(F.col("n_cues") >= 1)
    cue = F.expr(
        f"""
        array_join(transform(sequence(1, n_cues), i -> concat(
          cast(i as string), '\n',
          element_at(tc_start, i), ' --> ', element_at(tc_end, i), '\n',
          array_join(slice(toks, (i - 1) * {SRT_CUE_TOKENS} + 1, {SRT_CUE_TOKENS}), ' ')
        )), '\n\n')
        """
    )
    timed = base.select(
        "*",
        F.expr(f"transform(sequence(1, n_cues), i -> off_ms + (i - 1) * {SRT_CUE_MS})").alias("start_ms_a"),
        F.expr(f"transform(sequence(1, n_cues), i -> off_ms + (i - 1) * {SRT_CUE_MS} + {SRT_CUE_MS - 100})").alias("end_ms_a"),
    )
    with_tc = timed.select(
        "*",
        F.expr(
            "transform(start_ms_a, v -> concat("
            "lpad(cast(v div 3600000 as string), 2, '0'), ':',"
            "lpad(cast((v div 60000) % 60 as string), 2, '0'), ':',"
            "lpad(cast((v div 1000) % 60 as string), 2, '0'), ',',"
            "lpad(cast(v % 1000 as string), 3, '0')))"
        ).alias("tc_start"),
        F.expr(
            "transform(end_ms_a, v -> concat("
            "lpad(cast(v div 3600000 as string), 2, '0'), ':',"
            "lpad(cast((v div 60000) % 60 as string), 2, '0'), ':',"
            "lpad(cast((v div 1000) % 60 as string), 2, '0'), ',',"
            "lpad(cast(v % 1000 as string), 3, '0')))"
        ).alias("tc_end"),
    )
    srt = with_tc.select("doc_id", cue.alias("srt"))
    # --- the parser under test: split cues, regex the timecode line ---
    cues = srt.select(
        "doc_id",
        F.posexplode(F.split("srt", "\n\n")).alias("pos", "cue"),
    )
    tc_re = r"(\d{2}):(\d{2}):(\d{2}),(\d{3}) --> (\d{2}):(\d{2}):(\d{2}),(\d{3})"
    ms = lambda h, m, s, x: f"(cast({h} as bigint) * 3600000 + cast({m} as bigint) * 60000 + cast({s} as bigint) * 1000 + cast({x} as bigint))"
    parsed = cues.select(
        "doc_id",
        (F.col("pos") + 1).cast("bigint").alias("cue_idx"),
        F.regexp_extract("cue", tc_re, 1).alias("h1"),
        F.regexp_extract("cue", tc_re, 2).alias("m1"),
        F.regexp_extract("cue", tc_re, 3).alias("s1"),
        F.regexp_extract("cue", tc_re, 4).alias("x1"),
        F.regexp_extract("cue", tc_re, 5).alias("h2"),
        F.regexp_extract("cue", tc_re, 6).alias("m2"),
        F.regexp_extract("cue", tc_re, 7).alias("s2"),
        F.regexp_extract("cue", tc_re, 8).alias("x2"),
        F.expr(r"element_at(split(cue, '\n'), 3)").alias("cue_text"),
    ).select(
        "doc_id",
        "cue_idx",
        F.expr(ms("h1", "m1", "s1", "x1")).alias("start_ms"),
        F.expr(ms("h2", "m2", "s2", "x2")).alias("end_ms"),
        F.size(F.filter(F.split("cue_text", " "), lambda t: t != "")).cast("bigint").alias("n_tokens"),
        F.md5("cue_text").alias("text_md5"),
    )
    from pyspark.sql import Window as _W

    w = _W.partitionBy("doc_id").orderBy("cue_idx")
    return parsed.select(
        "*",
        (
            (F.col("end_ms") > F.col("start_ms"))
            & (F.coalesce(F.lag("end_ms").over(w) <= F.col("start_ms"), F.lit(True)))
        ).cast("int").alias("well_ordered"),
    )


SUBTITLES_SQL = f"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks,
         least(len(list_filter(string_split_regex(text, '\\s+'), t -> t <> ''))
               // {SRT_CUE_TOKENS}, {SRT_MAX_CUES}) AS n_cues,
         doc_id % 977 AS off_ms
  FROM documents WHERE doc_id % 3 = 2
), eligible AS (SELECT * FROM base WHERE n_cues >= 1),
cues AS (
  SELECT doc_id, i AS cue_idx,
         off_ms + (i - 1) * {SRT_CUE_MS} AS start_ms,
         off_ms + (i - 1) * {SRT_CUE_MS} + {SRT_CUE_MS - 100} AS end_ms,
         list_aggregate(toks[(i - 1) * {SRT_CUE_TOKENS} + 1 : i * {SRT_CUE_TOKENS}], 'string_agg', ' ') AS cue_text
  FROM eligible, (SELECT unnest(generate_series(1, {SRT_MAX_CUES})) AS i)
  WHERE i <= n_cues
)
SELECT doc_id, CAST(cue_idx AS BIGINT) AS cue_idx,
       CAST(start_ms AS BIGINT) AS start_ms,
       CAST(end_ms AS BIGINT) AS end_ms,
       CAST(len(list_filter(string_split(cue_text, ' '), t -> t <> '')) AS BIGINT) AS n_tokens,
       md5(cue_text) AS text_md5,
       CAST(end_ms > start_ms AND coalesce(
         lag(end_ms) OVER (PARTITION BY doc_id ORDER BY cue_idx) <= start_ms, TRUE) AS INT)
         AS well_ordered
FROM cues
"""

QUERIES["subtitles_parse_srt"] = subtitles_parse_srt
ORACLES["subtitles_parse_srt"] = SUBTITLES_SQL


# --- media/sidecar pairing audit ----------------------------------------------

def multimodal_pairing_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential integrity for multimodal shards: every video item
    should pair with a subtitle sidecar (the SRT plant) and an audio
    stream should pair with its WAV container — this audit counts
    paired/unpaired items per modality the way `catalog_fk_integrity`
    audits FK edges. Videos too short to carry a single cue surface as
    `unpaired` (a real pipeline quarantines them before training).
    Anti-join counts only; sidecar existence is derived, never
    materialized driver-side."""
    video_ids = video_table(spark, sf_dir).select(F.col("media_id"))
    # sidecar presence: docs with at least one cue (n_cues >= 1)
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 3 == 2)
    toks = F.filter(F.split("text", r"\s+"), lambda t: t != "")
    with_cues = docs.select(
        F.col("doc_id").alias("media_id"),
        F.least(
            F.floor(F.size(toks) / SRT_CUE_TOKENS), F.lit(SRT_MAX_CUES)
        ).cast("int").alias("n_cues"),
    )
    paired = with_cues.where(F.col("n_cues") >= 1)
    row_video = (
        video_ids.join(paired, "media_id", "left")
        .agg(
            F.lit("video->subtitles").alias("pairing"),
            F.count(F.lit(1)).alias("n_items"),
            F.count("n_cues").alias("n_paired"),
            (F.count(F.lit(1)) - F.count("n_cues")).cast("bigint").alias("n_unpaired"),
        )
    )
    audio_ids = audio_table(spark, sf_dir).select("media_id")
    audio_ok = multimodal_audio_stats(spark, sf_dir).select("media_id", F.lit(1).alias("ok"))
    row_audio = (
        audio_ids.join(audio_ok, "media_id", "left")
        .agg(
            F.lit("audio->wav_container").alias("pairing"),
            F.count(F.lit(1)).alias("n_items"),
            F.count("ok").alias("n_paired"),
            (F.count(F.lit(1)) - F.count("ok")).cast("bigint").alias("n_unpaired"),
        )
    )
    return row_video.unionByName(row_audio)


MULTIMODAL_PAIRING_SQL = f"""
WITH vids AS (
  SELECT doc_id AS media_id,
         least(octet_length(encode(text)) // ((4 + (doc_id % 4) * 2) * (4 + (doc_id % 3) * 2) * 3 // 2),
               {VIDEO_MAX_FRAMES}) AS n_frames,
         least(len(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) // {SRT_CUE_TOKENS},
               {SRT_MAX_CUES}) AS n_cues
  FROM documents WHERE doc_id % 3 = 2
), auds AS (
  SELECT doc_id AS media_id FROM documents WHERE doc_id % 3 = 1
)
SELECT 'video->subtitles' AS pairing, count(*) AS n_items,
       CAST(sum(CASE WHEN n_cues >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_paired,
       CAST(sum(CASE WHEN n_cues >= 1 THEN 0 ELSE 1 END) AS BIGINT) AS n_unpaired
FROM vids
UNION ALL
SELECT 'audio->wav_container', count(*), count(*), 0 FROM auds
"""

QUERIES["multimodal_pairing_audit"] = multimodal_pairing_audit
ORACLES["multimodal_pairing_audit"] = MULTIMODAL_PAIRING_SQL


# --- audio silence-trim plan (real PCM kernel) -------------------------------
#
# The actual audio-prep operation a speech-training pipeline runs
# before anything else: find the leading/trailing silence and the
# trim plan (public practice: VAD / energy-gate trimming a la sox
# `silence` / librosa.effects.trim — here the dependency-free energy
# gate over real PCM words).  The kernel re-walks the RIFF chunks to
# the data chunk, reads 16-bit LE words, and computes mean |sample|
# over fixed 25-word analysis windows; a window below the gate is
# silent, and the plan reports the leading run, trailing run, and the
# kept span's duration.
#
# Oracle fidelity is byte-exact WITHOUT the oracle parsing WAV: the
# planted data chunk is the document's utf-8 bytes, so DuckDB
# recomputes every window energy from hex(encode(text)) two-hex-chars
# -at-a-time (the hex-domain device), including 16-bit LE assembly
# and sign handling — a kernel mis-parse (wrong data offset, byte
# order, window walk) hash-mismatches.
#
# Scale: the same `decode_rows` contract as the other media kernels —
# payloads never hit the driver, windows are O(bytes) per row, no
# shuffle at all.

AUDIO_WIN_WORDS = 25
SILENCE_GATE = 23000  # mean |sample| below this = silent window (~p20 of the planted stream)

TRIM_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_windows", T.LongType()),
        T.StructField("n_silent", T.LongType()),
        T.StructField("lead_trim", T.LongType()),
        T.StructField("tail_trim", T.LongType()),
        T.StructField("kept_windows", T.LongType()),
        T.StructField("kept_ms", T.LongType()),
    ]
)


def _wav_data_words(payload: bytes) -> tuple[int, int, list[int]] | None:
    """(sample_rate, channels, signed 16-bit LE words of the data chunk)."""
    import struct

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    rate = channels = None
    words: list[int] | None = None
    i = 12
    while i + 8 <= len(payload):
        cid = payload[i : i + 4]
        (size,) = struct.unpack("<I", payload[i + 4 : i + 8])
        if cid == b"fmt " and i + 8 + 16 <= len(payload):
            _, channels, rate = struct.unpack("<HHI", payload[i + 8 : i + 16])
        elif cid == b"data":
            data = payload[i + 8 : i + 8 + size]
            words = [
                struct.unpack("<h", data[k : k + 2])[0]
                for k in range(0, len(data) - 1, 2)
            ]
        i += 8 + size + (size % 2)
    if rate is None or words is None:
        return None
    return rate, channels, words


def multimodal_silence_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    audio = audio_table(spark, sf_dir).select("media_id", "payload")

    def row(payload: bytes) -> dict | None:
        parsed = _wav_data_words(payload)
        if parsed is None:
            return None
        rate, channels, words = parsed
        nf = len(words) // AUDIO_WIN_WORDS
        if nf < 1:
            return None
        flags = []
        for f in range(nf):
            w = words[f * AUDIO_WIN_WORDS : (f + 1) * AUDIO_WIN_WORDS]
            energy = sum(abs(s) for s in w) // AUDIO_WIN_WORDS
            flags.append(energy < SILENCE_GATE)
        lead = next((i for i, s in enumerate(flags) if not s), nf)
        tail = (
            0
            if lead == nf
            else next((i for i, s in enumerate(reversed(flags)) if not s), 0)
        )
        kept = nf - lead - tail
        return {
            "n_windows": nf,
            "n_silent": sum(flags),
            "lead_trim": lead,
            "tail_trim": tail,
            "kept_windows": kept,
            "kept_ms": kept * AUDIO_WIN_WORDS * 1000 // (rate * channels),
        }

    return decode_rows(audio, row, TRIM_SCHEMA, None)


_WORD_ABS = (
    "abs(CASE WHEN CAST('0x' || substr(hx, ({k}) * 4 + 3, 2) AS BIGINT) * 256"
    " + CAST('0x' || substr(hx, ({k}) * 4 + 1, 2) AS BIGINT) >= 32768"
    " THEN CAST('0x' || substr(hx, ({k}) * 4 + 3, 2) AS BIGINT) * 256"
    " + CAST('0x' || substr(hx, ({k}) * 4 + 1, 2) AS BIGINT) - 65536"
    " ELSE CAST('0x' || substr(hx, ({k}) * 4 + 3, 2) AS BIGINT) * 256"
    " + CAST('0x' || substr(hx, ({k}) * 4 + 1, 2) AS BIGINT) END)"
)

SILENCE_TRIM_SQL = f"""
WITH base AS (
  SELECT doc_id AS media_id,
         hex(encode(text)) AS hx,
         8000 + (doc_id % 4) * 4000 AS rate,
         1 + doc_id % 2 AS channels,
         ((octet_length(encode(text)) // ((1 + doc_id % 2) * 2)) * ((1 + doc_id % 2) * 2)) // 2
           AS n_words
  FROM documents WHERE doc_id % 3 = 1
),
framed AS (
  SELECT media_id, rate, channels, n_words // {AUDIO_WIN_WORDS} AS nf, hx
  FROM base WHERE n_words // {AUDIO_WIN_WORDS} >= 1
),
flagged AS (
  SELECT media_id, rate, channels, nf,
         list_transform(range(0, nf), f ->
           list_sum(list_transform(range(0, {AUDIO_WIN_WORDS}),
                    j -> {_WORD_ABS.format(k=f"f * {AUDIO_WIN_WORDS} + j")}))
             // {AUDIO_WIN_WORDS} < {SILENCE_GATE}) AS flags
  FROM framed
),
runs AS (
  SELECT media_id, rate, channels, nf, flags,
         coalesce(nullif(list_position(flags, false), 0) - 1, nf) AS lead
  FROM flagged
)
SELECT media_id,
       CAST(nf AS BIGINT) AS n_windows,
       CAST(len(list_filter(flags, x -> x)) AS BIGINT) AS n_silent,
       CAST(lead AS BIGINT) AS lead_trim,
       CAST(CASE WHEN lead = nf THEN 0
                 ELSE coalesce(nullif(list_position(list_reverse(flags), false), 0) - 1, 0) END
            AS BIGINT) AS tail_trim,
       CAST(nf - lead - CASE WHEN lead = nf THEN 0
                 ELSE coalesce(nullif(list_position(list_reverse(flags), false), 0) - 1, 0) END
            AS BIGINT) AS kept_windows,
       CAST((nf - lead - CASE WHEN lead = nf THEN 0
                 ELSE coalesce(nullif(list_position(list_reverse(flags), false), 0) - 1, 0) END)
            * {AUDIO_WIN_WORDS} * 1000 // (rate * channels) AS BIGINT) AS kept_ms
FROM runs
"""

QUERIES["multimodal_silence_trim"] = multimodal_silence_trim
ORACLES["multimodal_silence_trim"] = SILENCE_TRIM_SQL


# --- video shot-boundary detection (real Y4M kernel) -------------------------
#
# The video twin of multimodal_silence_trim and the first real
# video-prep decision op: frame-differencing shot detection (public
# practice: ffmpeg select='gt(scene,..)' / PySceneDetect
# ContentDetector — here the dependency-free luma version).  The
# kernel walks the Y4M stream, takes each frame's Y plane (first
# width*height bytes of C420), and scores consecutive-frame mean
# absolute luma difference; a pair above the gate is a cut.  Training
# pipelines sample frames per-shot rather than uniformly, so the cut
# list is the actual prep artifact.
#
# Oracle fidelity without parsing Y4M: frame i's Y plane is a known
# slice of the document's utf-8 bytes, so DuckDB recomputes every
# pairwise difference from hex(encode(text)) byte-by-byte (hex-domain
# device) — a kernel that mis-walks FRAME markers or chroma sizes
# hash-mismatches.  Same `decode_rows` contract: payloads stay on
# executors, work is O(bytes) per row, no shuffle.

SHOT_GATE = 30  # mean |dY| above this = cut (upper tail of the planted stream)

SHOT_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("n_pairs", T.LongType()),
        T.StructField("n_cuts", T.LongType()),
        T.StructField("first_cut_pair", T.LongType()),
        T.StructField("max_diff", T.LongType()),
        T.StructField("mean_diff", T.LongType()),
    ]
)


def _y4m_y_planes(payload: bytes) -> tuple[int, int, list[bytes]] | None:
    """(width, height, per-frame Y planes) via the Y4M stream walk."""
    parsed = parse_y4m_stream(payload)
    if parsed is None:
        return None
    w, h, _num, _den, n_frames = parsed
    fs = w * h * 3 // 2
    nl = payload.find(b"\n")
    planes = []
    i = nl + 1
    for _ in range(n_frames):
        j = payload.find(b"\n", i)  # FRAME marker line
        start = j + 1
        planes.append(payload[start : start + w * h])
        i = start + fs
    return w, h, planes


def multimodal_shot_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    video = video_table(spark, sf_dir).select("media_id", "payload")

    def row(payload: bytes) -> dict | None:
        parsed = _y4m_y_planes(payload)
        if parsed is None:
            return None
        w, h, planes = parsed
        if len(planes) < 2:
            return None
        diffs = [
            sum(abs(a - b) for a, b in zip(p0, p1)) // (w * h)
            for p0, p1 in zip(planes, planes[1:])
        ]
        cuts = [d > SHOT_GATE for d in diffs]
        return {
            "n_frames": len(planes),
            "n_pairs": len(diffs),
            "n_cuts": sum(cuts),
            "first_cut_pair": next((i + 1 for i, c in enumerate(cuts) if c), 0),
            "max_diff": max(diffs),
            "mean_diff": sum(diffs) // len(diffs),
        }

    return decode_rows(video, row, SHOT_SCHEMA, None)


_VBYTE = "CAST('0x' || substr(hx, ({o}) * 2 + 1, 2) AS BIGINT)"

SHOT_DETECT_SQL = f"""
WITH params AS (
  SELECT doc_id AS media_id, hex(encode(text)) AS hx,
         4 + (doc_id % 4) * 2 AS w,
         4 + (doc_id % 3) * 2 AS h,
         octet_length(encode(text)) AS nb
  FROM documents WHERE doc_id % 3 = 2
),
sized AS (
  SELECT media_id, hx, w, h, w * h * 3 // 2 AS fs,
         least(nb // (w * h * 3 // 2), {VIDEO_MAX_FRAMES}) AS nf
  FROM params
),
diffed AS (
  SELECT media_id, nf,
         list_transform(range(2, nf + 1), i ->
           list_sum(list_transform(range(0, w * h), k ->
             abs({_VBYTE.format(o="(i - 1) * fs + k")}
                 - {_VBYTE.format(o="(i - 2) * fs + k")})))
           // (w * h)) AS diffs
  FROM sized WHERE nf >= 2
)
SELECT media_id,
       CAST(nf AS BIGINT) AS n_frames,
       CAST(len(diffs) AS BIGINT) AS n_pairs,
       CAST(len(list_filter(diffs, d -> d > {SHOT_GATE})) AS BIGINT) AS n_cuts,
       CAST(coalesce(nullif(list_position(list_transform(diffs, d -> d > {SHOT_GATE}),
                                          true), 0), 0) AS BIGINT) AS first_cut_pair,
       CAST(list_max(diffs) AS BIGINT) AS max_diff,
       CAST(list_sum(diffs) // len(diffs) AS BIGINT) AS mean_diff
FROM diffed
"""

QUERIES["multimodal_shot_detect"] = multimodal_shot_detect
ORACLES["multimodal_shot_detect"] = SHOT_DETECT_SQL


# --- ViT patch-grid plan over video frames -----------------------------------
#
# The vision-transformer ingestion plan: every frame tiles into PxP
# patches (padding up to the next multiple), and the patch budget —
# patches per frame x frames — is the sequence length the vision
# encoder actually pays (the token_count analogue for pixels).  Runs
# on the REAL Y4M kernel dims so a mis-parsed header corrupts the
# plan and hash-mismatches; the oracle recomputes from the planted
# parameters.
#
# Plan: the production video parse (`decode_rows`) + per-row integer
# arithmetic; no shuffle.

VIT_PATCH = 4

PATCH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("tiles_x", T.LongType()),
        T.StructField("tiles_y", T.LongType()),
        T.StructField("pad_x", T.LongType()),
        T.StructField("pad_y", T.LongType()),
        T.StructField("patches_per_frame", T.LongType()),
        T.StructField("total_patches", T.LongType()),
    ]
)


def multimodal_patch_grid_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    video = video_table(spark, sf_dir).select("media_id", "payload")

    def row(payload: bytes) -> dict | None:
        parsed = parse_y4m_stream(payload)
        if parsed is None:
            return None
        w, h, _num, _den, nf = parsed
        if nf < 1:
            return None
        tx = -(-w // VIT_PATCH)
        ty = -(-h // VIT_PATCH)
        return {
            "width": w,
            "height": h,
            "n_frames": nf,
            "tiles_x": tx,
            "tiles_y": ty,
            "pad_x": tx * VIT_PATCH - w,
            "pad_y": ty * VIT_PATCH - h,
            "patches_per_frame": tx * ty,
            "total_patches": tx * ty * nf,
        }

    return decode_rows(video, row, PATCH_SCHEMA, None)


PATCH_GRID_SQL = f"""
WITH params AS (
  SELECT doc_id AS media_id,
         4 + (doc_id % 4) * 2 AS w,
         4 + (doc_id % 3) * 2 AS h,
         least(octet_length(encode(text)) // ((4 + (doc_id % 4) * 2) * (4 + (doc_id % 3) * 2) * 3 // 2),
               {VIDEO_MAX_FRAMES}) AS nf
  FROM documents WHERE doc_id % 3 = 2
)
SELECT media_id,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST(nf AS BIGINT) AS n_frames,
       CAST((w + {VIT_PATCH} - 1) // {VIT_PATCH} AS BIGINT) AS tiles_x,
       CAST((h + {VIT_PATCH} - 1) // {VIT_PATCH} AS BIGINT) AS tiles_y,
       CAST(((w + {VIT_PATCH} - 1) // {VIT_PATCH}) * {VIT_PATCH} - w AS BIGINT) AS pad_x,
       CAST(((h + {VIT_PATCH} - 1) // {VIT_PATCH}) * {VIT_PATCH} - h AS BIGINT) AS pad_y,
       CAST(((w + {VIT_PATCH} - 1) // {VIT_PATCH}) * ((h + {VIT_PATCH} - 1) // {VIT_PATCH}) AS BIGINT)
         AS patches_per_frame,
       CAST(((w + {VIT_PATCH} - 1) // {VIT_PATCH}) * ((h + {VIT_PATCH} - 1) // {VIT_PATCH}) * nf AS BIGINT)
         AS total_patches
FROM params WHERE nf >= 1
"""

QUERIES["multimodal_patch_grid_plan"] = multimodal_patch_grid_plan
ORACLES["multimodal_patch_grid_plan"] = PATCH_GRID_SQL


# --- loudness-normalization plan (real PCM) ----------------------------------
#
# The second real audio-prep decision after silence trimming: peak
# normalization — per clip, the gain that brings the peak |sample| to
# the target level, and whether the clip already clips (gain < 1).
# Exact integers throughout: peak and mean-|sample| from the same
# 16-bit LE word walk the trim kernel uses; gain in milli units
# (TARGET*1000 // peak).  The oracle recomputes peak/mean from
# hex(encode(text)) so a byte-order or offset slip hash-mismatches.

LOUDNESS_TARGET = 30000  # target peak |sample|

LOUDNESS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("peak", T.LongType()),
        T.StructField("mean_abs", T.LongType()),
        T.StructField("gain_milli", T.LongType()),
        T.StructField("already_hot", T.LongType()),
    ]
)


def multimodal_loudness_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    audio = audio_table(spark, sf_dir).select("media_id", "payload")

    def row(payload: bytes) -> dict | None:
        parsed = _wav_data_words(payload)
        if parsed is None:
            return None
        _rate, _channels, words = parsed
        if not words:
            return None
        peak = max(abs(s) for s in words)
        return {
            "n_samples": len(words),
            "peak": peak,
            "mean_abs": sum(abs(s) for s in words) // len(words),
            "gain_milli": LOUDNESS_TARGET * 1000 // peak if peak else 0,
            "already_hot": 1 if peak > LOUDNESS_TARGET else 0,
        }

    return decode_rows(audio, row, LOUDNESS_SCHEMA, None)


LOUDNESS_SQL = f"""
WITH base AS (
  SELECT doc_id AS media_id,
         hex(encode(text)) AS hx,
         ((octet_length(encode(text)) // ((1 + doc_id % 2) * 2)) * ((1 + doc_id % 2) * 2)) // 2
           AS n_words
  FROM documents WHERE doc_id % 3 = 1
),
stats AS (
  SELECT media_id, n_words,
         list_max(list_transform(range(0, n_words), k -> {_WORD_ABS.format(k="k")})) AS peak,
         list_sum(list_transform(range(0, n_words), k -> {_WORD_ABS.format(k="k")})) AS sabs
  FROM base WHERE n_words >= 1
)
SELECT media_id,
       CAST(n_words AS BIGINT) AS n_samples,
       CAST(peak AS BIGINT) AS peak,
       CAST(sabs // n_words AS BIGINT) AS mean_abs,
       CAST({LOUDNESS_TARGET} * 1000 // peak AS BIGINT) AS gain_milli,
       CAST(CASE WHEN peak > {LOUDNESS_TARGET} THEN 1 ELSE 0 END AS BIGINT) AS already_hot
FROM stats
"""

QUERIES["multimodal_loudness_plan"] = multimodal_loudness_plan
ORACLES["multimodal_loudness_plan"] = LOUDNESS_SQL


# --- image metadata: planted TIFF/EXIF containers + byte-order-aware kernel ---
#
# Completes the container-parser family (WAV chunk walk, Y4M stream
# walk) with the image-metadata format real pipelines scrape before
# any decode: a TIFF/EXIF IFD walk (public spec: TIFF 6.0 / EXIF 2.3).
# Image-typed media rows get REAL TIFF bytes built with JVM
# expressions — magic, IFD offset, a 4-entry IFD (ImageWidth,
# ImageLength, Orientation, ResolutionUnit as SHORT entries with
# inline left-justified values) and terminator, in BOTH byte orders
# (every 6th item is big-endian 'MM', the rest little-endian 'II') —
# followed by the document bytes as opaque image data.  The
# Arrow-batched kernel does the spec walk with stdlib struct: detect
# byte order, validate magic 42, seek the IFD, decode SHORT/LONG
# entries.  The oracle recomputes every field arithmetically from the
# planted parameters, so a kernel that mis-handles either endianness
# hash-mismatches.
#
# Scale: same contract as the audio/video kernels — payload bytes stay
# on executors, bounded Arrow batches, no media libraries.

EXIF_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("byte_order", T.StringType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("orientation", T.LongType()),
        T.StructField("resolution_unit", T.LongType()),
        T.StructField("n_pixels", T.LongType()),
        T.StructField("aspect_milli", T.LongType()),
        T.StructField("parser", T.StringType()),
    ]
)


def _be_hex(col, nbytes: int):
    """Big-endian fixed-width hex string of an integer column."""
    return F.format_string(f"%0{2 * nbytes}X", col.cast("bigint").cast("int"))


@_plant
def tiff_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, payload): image-typed items as real TIFF bytes."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 3 == 0)
    width = (F.lit(64) + (F.col("doc_id") % 48) * 16).cast("bigint")
    height = (F.lit(64) + (F.col("doc_id") % 36) * 16).cast("bigint")
    orient = (F.col("doc_id") % 8 + 1).cast("bigint")
    res_unit = (F.lit(2) + F.col("doc_id") % 2).cast("bigint")

    def entries(hexer):
        out = []
        for tag, val in ((0x0100, width), (0x0101, height),
                         (0x0112, orient), (0x0128, res_unit)):
            out.append(
                F.concat(
                    hexer(F.lit(tag), 2), hexer(F.lit(3), 2),
                    hexer(F.lit(1), 4), hexer(val, 2), F.lit("0000"),
                )
            )
        return F.concat(*out)

    le = F.concat(
        F.lit("49492A00"), _le_hex(F.lit(8), 4), _le_hex(F.lit(4), 2),
        entries(_le_hex), _le_hex(F.lit(0), 4),
    )
    be = F.concat(
        F.lit("4D4D002A"), _be_hex(F.lit(8), 4), _be_hex(F.lit(4), 2),
        entries(_be_hex), _be_hex(F.lit(0), 4),
    )
    header_hex = F.when(F.col("doc_id") % 6 == 0, be).otherwise(le)
    payload = F.concat(F.unhex(header_hex), F.encode("text", "utf-8"))
    return docs.select(F.col("doc_id").alias("media_id"), payload.alias("payload"))


def parse_tiff_header(payload: bytes) -> dict | None:
    """TIFF 6.0 IFD walk with stdlib struct; None for non-TIFF bytes."""
    import struct

    if len(payload) < 8:
        return None
    order = payload[:2]
    if order == b"II":
        fmt = "<"
    elif order == b"MM":
        fmt = ">"
    else:
        return None
    (magic,) = struct.unpack(fmt + "H", payload[2:4])
    if magic != 42:
        return None
    (off,) = struct.unpack(fmt + "I", payload[4:8])
    if off + 2 > len(payload):
        return None
    (n,) = struct.unpack(fmt + "H", payload[off : off + 2])
    tags: dict[int, int] = {}
    for i in range(n):
        e = off + 2 + 12 * i
        if e + 12 > len(payload):
            break
        tag, typ, cnt = struct.unpack(fmt + "HHI", payload[e : e + 8])
        if typ == 3 and cnt == 1:  # SHORT, left-justified inline value
            (val,) = struct.unpack(fmt + "H", payload[e + 8 : e + 10])
        elif typ == 4 and cnt == 1:  # LONG
            (val,) = struct.unpack(fmt + "I", payload[e + 8 : e + 12])
        else:
            continue
        tags[tag] = val
    if 0x0100 not in tags or 0x0101 not in tags:
        return None
    return {
        "byte_order": order.decode("ascii"),
        "width": tags[0x0100],
        "height": tags[0x0101],
        "orientation": tags.get(0x0112, 1),
        "resolution_unit": tags.get(0x0128, 2),
    }


def multimodal_exif_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched TIFF/EXIF IFD walk over the planted image items."""
    images = tiff_table(spark, sf_dir).select("media_id", "payload")

    def row(payload: bytes) -> dict | None:
        parsed = parse_tiff_header(payload)
        if parsed is None:
            return None
        w, h = parsed["width"], parsed["height"]
        return {
            **parsed,
            "n_pixels": w * h,
            "aspect_milli": w * 1000 // h,
        }

    return decode_rows(images, row, EXIF_SCHEMA, "tiff-stdlib")


# Oracle: every field recomputed arithmetically from the planted params.
MULTIMODAL_EXIF_SQL = """
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 6 = 0 THEN 'MM' ELSE 'II' END AS byte_order,
       CAST(64 + (doc_id % 48) * 16 AS BIGINT) AS width,
       CAST(64 + (doc_id % 36) * 16 AS BIGINT) AS height,
       CAST(doc_id % 8 + 1 AS BIGINT) AS orientation,
       CAST(2 + doc_id % 2 AS BIGINT) AS resolution_unit,
       CAST((64 + (doc_id % 48) * 16) * (64 + (doc_id % 36) * 16) AS BIGINT) AS n_pixels,
       CAST((64 + (doc_id % 48) * 16) * 1000 // (64 + (doc_id % 36) * 16) AS BIGINT)
         AS aspect_milli,
       'tiff-stdlib' AS parser
FROM documents WHERE doc_id % 3 = 0
"""

QUERIES["multimodal_exif_parse"] = multimodal_exif_parse
ORACLES["multimodal_exif_parse"] = MULTIMODAL_EXIF_SQL


# --- PNG chunk walk: planted containers with REAL CRC32s ------------------------
#
# Fourth container parser beside the WAV/Y4M/TIFF kernels — the format
# an image-ingest pipeline meets most (public spec: PNG, RFC 2083 /
# ISO 15948): signature, IHDR (width/height/bit-depth/color-type/
# interlace), a planted number of IDAT chunks, IEND — every chunk with
# a REAL CRC-32 computed JVM-side at plant time (``F.crc32``), and one
# in five files planted with a corrupted IHDR CRC (xor 1).  The
# Arrow-batched kernel walks the chunk stream with stdlib struct,
# re-verifies every CRC with zlib.crc32, and must (a) still recover
# the header fields behind a bad CRC and (b) count the corruption —
# the oracle pins both arithmetically from the planted parameters, so
# a kernel that trusts CRCs, skips verification, or mis-walks lengths
# hash-mismatches.
#
# Scale: identical contract to the other kernels — payloads are built
# and stay on executors, bounded Arrow batches, no image libraries.

PNG_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("bit_depth", T.LongType()),
        T.StructField("color_type", T.LongType()),
        T.StructField("interlace", T.LongType()),
        T.StructField("n_chunks", T.LongType()),
        T.StructField("idat_bytes", T.LongType()),
        T.StructField("crc_bad", T.LongType()),
        T.StructField("iend_ok", T.LongType()),
        T.StructField("parser", T.StringType()),
    ]
)


@_plant
def png_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, payload): PNG-typed media items as real PNG bytes."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 3 == 1)
    width = (F.lit(16) + (F.col("doc_id") % 32) * 8).cast("bigint")
    height = (F.lit(16) + (F.col("doc_id") % 24) * 8).cast("bigint")
    color = F.element_at(F.array(F.lit(0), F.lit(2), F.lit(6)), (F.col("doc_id") % 3 + 1).cast("int"))
    interlace = (F.col("doc_id") % 2).cast("bigint")

    def chunk_hex(type_hex, data_hex, corrupt=None):
        crc = F.crc32(F.unhex(F.concat(type_hex, data_hex)))
        if corrupt is not None:
            crc = F.when(corrupt, crc.bitwiseXOR(F.lit(1))).otherwise(crc)
        return F.concat(
            F.format_string("%08X", (F.length(data_hex) / 2).cast("bigint")),
            type_hex,
            data_hex,
            F.format_string("%08X", crc),
        )

    ihdr_data = F.concat(
        F.format_string("%08X", width),
        F.format_string("%08X", height),
        F.lit("08"),  # bit depth
        F.format_string("%02X", color),
        F.lit("0000"),  # compression, filter
        F.format_string("%02X", interlace),
    )
    bad = F.col("doc_id") % 5 == 0
    ihdr = chunk_hex(F.lit("49484452"), ihdr_data, corrupt=bad)
    idats = [
        chunk_hex(
            F.lit("49444154"),
            F.upper(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f":{k}")))),
        )
        for k in range(3)
    ]
    nid = F.col("doc_id") % 3 + 1
    idat_hex = F.concat(
        idats[0],
        F.when(nid >= 2, idats[1]).otherwise(F.lit("")),
        F.when(nid >= 3, idats[2]).otherwise(F.lit("")),
    )
    iend = chunk_hex(F.lit("49454E44"), F.lit(""))
    payload = F.unhex(F.concat(F.lit("89504E470D0A1A0A"), ihdr, idat_hex, iend))
    return docs.select(F.col("doc_id").alias("media_id"), payload.alias("payload"))


def parse_png(payload: bytes) -> dict | None:
    """PNG signature + chunk walk with stdlib struct; verifies every
    CRC with zlib.crc32; None for non-PNG bytes."""
    import struct
    import zlib

    if len(payload) < 8 or payload[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    pos, n_chunks, idat_bytes, crc_bad, iend_ok = 8, 0, 0, 0, 0
    hdr: dict[str, int] = {}
    while pos + 12 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if len(data) < length:
            break
        (crc,) = struct.unpack(">I", payload[pos + 8 + length : pos + 12 + length])
        n_chunks += 1
        if zlib.crc32(ctype + data) != crc:
            crc_bad += 1
        if ctype == b"IHDR" and length == 13:
            w, h, depth, color, _comp, _filt, inter = struct.unpack(">IIBBBBB", data)
            hdr = {
                "width": w,
                "height": h,
                "bit_depth": depth,
                "color_type": color,
                "interlace": inter,
            }
        elif ctype == b"IDAT":
            idat_bytes += length
        elif ctype == b"IEND":
            iend_ok = 1 if length == 0 else 0
        pos += 12 + length
    if not hdr:
        return None
    return {
        **hdr,
        "n_chunks": n_chunks,
        "idat_bytes": idat_bytes,
        "crc_bad": crc_bad,
        "iend_ok": iend_ok,
    }


def multimodal_png_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched PNG chunk walk + CRC audit over the planted items."""
    pngs = png_table(spark, sf_dir).select("media_id", "payload")
    return decode_rows(pngs, parse_png, PNG_SCHEMA, "png-stdlib")


# Oracle: every field recomputed arithmetically from the planted params
# (a 16-byte payload per IDAT, 1 + doc_id % 3 IDATs, 3 fixed chunks + IDATs,
# IHDR CRC corrupted iff doc_id % 5 = 0).
MULTIMODAL_PNG_SQL = """
SELECT doc_id AS media_id,
       CAST(16 + (doc_id % 32) * 8 AS BIGINT) AS width,
       CAST(16 + (doc_id % 24) * 8 AS BIGINT) AS height,
       CAST(8 AS BIGINT) AS bit_depth,
       CAST(CASE doc_id % 3 WHEN 0 THEN 0 WHEN 1 THEN 2 ELSE 6 END AS BIGINT) AS color_type,
       CAST(doc_id % 2 AS BIGINT) AS interlace,
       CAST(2 + (doc_id % 3 + 1) AS BIGINT) AS n_chunks,
       CAST(16 * (doc_id % 3 + 1) AS BIGINT) AS idat_bytes,
       CAST(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS BIGINT) AS crc_bad,
       CAST(1 AS BIGINT) AS iend_ok,
       'png-stdlib' AS parser
FROM documents WHERE doc_id % 3 = 1
"""

QUERIES["multimodal_png_chunks"] = multimodal_png_chunks
ORACLES["multimodal_png_chunks"] = MULTIMODAL_PNG_SQL


# --- ID3v2 tag walk: planted MP3 metadata containers ----------------------------
#
# Fifth container parser (WAV, Y4M, TIFF, PNG, now ID3v2.3 — the
# id3.org public spec): audio-typed media rows get a REAL ID3v2 tag —
# "ID3" magic, version, the 28-bit SYNCSAFE tag size (7 bits per byte,
# the classic implementation pitfall this kernel must decode), four
# latin-1 text frames (TIT2/TPE1/TALB/TRCK) and one opaque PRIV frame
# the walker must skip by size — followed by the document bytes as
# fake audio.  The Arrow-batched stdlib kernel validates the magic,
# decodes the syncsafe size, walks frames to the declared boundary and
# decodes the text payloads; the oracle recomputes every output —
# including the md5 of the decoded strings — arithmetically from the
# planted parameters, so a kernel that reads the size as plain
# big-endian (or mis-skips PRIV) hash-mismatches.
#
# Scale: the usual kernel contract — payloads built and parsed on
# executors, bounded Arrow batches, no media libraries.

ID3_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("version", T.LongType()),
        T.StructField("tag_size", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("track", T.LongType()),
        T.StructField("title_md5", T.StringType()),
        T.StructField("artist_md5", T.StringType()),
        T.StructField("album_md5", T.StringType()),
        T.StructField("parser", T.StringType()),
    ]
)


@_plant
def id3_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, payload): audio-typed items with a real ID3v2.3 tag."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 3 == 2)

    def text_frame(fid: str, text_col):
        content_hex = F.concat(F.lit("00"), F.hex(F.encode(text_col, "utf-8")))
        return F.concat(
            F.hex(F.encode(F.lit(fid), "utf-8")),
            F.format_string("%08X", (F.length(text_col) + 1).cast("bigint")),
            F.lit("0000"),
            content_hex,
        )

    title = F.concat(F.lit("Title "), F.col("doc_id"))
    artist = F.concat(F.lit("Artist "), F.col("doc_id") % 17)
    album = F.concat(F.lit("Album "), F.col("doc_id") % 29)
    track = (F.col("doc_id") % 12 + 1).cast("string")
    priv = F.concat(
        F.lit("50524956"),  # PRIV
        F.format_string("%08X", F.lit(8).cast("bigint")),
        F.lit("0000"),
        F.upper(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 16)),
    )
    frames = F.concat(
        text_frame("TIT2", title),
        text_frame("TPE1", artist),
        text_frame("TALB", album),
        text_frame("TRCK", track),
        priv,
    )
    size = (F.length(frames) / 2).cast("bigint")
    # syncsafe 28-bit size, 7 bits per byte
    ss = F.concat(
        F.format_string("%02X", (size / 2097152).cast("bigint") % 128),
        F.format_string("%02X", (size / 16384).cast("bigint") % 128),
        F.format_string("%02X", (size / 128).cast("bigint") % 128),
        F.format_string("%02X", size % 128),
    )
    header = F.concat(F.lit("494433"), F.lit("0300"), F.lit("00"), ss)
    payload = F.concat(F.unhex(F.concat(header, frames)), F.encode("text", "utf-8"))
    return docs.select(F.col("doc_id").alias("media_id"), payload.alias("payload"))


def parse_id3(payload: bytes) -> dict | None:
    """ID3v2.3 header + frame walk with stdlib struct; syncsafe size."""
    import struct

    if len(payload) < 10 or payload[:3] != b"ID3":
        return None
    version = payload[3]
    b0, b1, b2, b3 = payload[6:10]
    if (b0 | b1 | b2 | b3) & 0x80:
        return None  # syncsafe bytes must have bit 7 clear
    tag_size = (b0 << 21) | (b1 << 14) | (b2 << 7) | b3
    end = 10 + tag_size
    if end > len(payload):
        return None
    pos, n_frames, texts = 10, 0, {}
    while pos + 10 <= end:
        fid = payload[pos : pos + 4]
        (fsize,) = struct.unpack(">I", payload[pos + 4 : pos + 8])
        if fid == b"\x00\x00\x00\x00" or pos + 10 + fsize > end:
            break
        data = payload[pos + 10 : pos + 10 + fsize]
        n_frames += 1
        if fid.startswith(b"T") and fsize >= 1 and data[0] == 0:
            texts[fid.decode("ascii")] = data[1:].decode("latin-1")
        pos += 10 + fsize
    if "TIT2" not in texts:
        return None
    return {
        "version": version,
        "tag_size": tag_size,
        "n_frames": n_frames,
        "track": int(texts.get("TRCK", "0") or 0),
        "title": texts["TIT2"],
        "artist": texts.get("TPE1", ""),
        "album": texts.get("TALB", ""),
    }


def multimodal_id3_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched ID3v2.3 tag walk over the planted audio items."""
    items = id3_table(spark, sf_dir).select("media_id", "payload")

    def row(payload: bytes) -> dict | None:
        parsed = parse_id3(payload)
        if parsed is None:
            return None
        return {
            **parsed,
            "title_md5": hashlib.md5(parsed["title"].encode()).hexdigest(),
            "artist_md5": hashlib.md5(parsed["artist"].encode()).hexdigest(),
            "album_md5": hashlib.md5(parsed["album"].encode()).hexdigest(),
        }

    return decode_rows(items, row, ID3_SCHEMA, "id3-stdlib")


# Oracle: all fields — tag size included — recomputed arithmetically
# from the planted strings (frame = 10-byte header + 1 encoding byte +
# text; PRIV = 10 + 8).
MULTIMODAL_ID3_SQL = """
WITH planted AS (
  SELECT doc_id,
         'Title ' || doc_id AS title,
         'Artist ' || (doc_id % 17) AS artist,
         'Album ' || (doc_id % 29) AS album,
         CAST(doc_id % 12 + 1 AS VARCHAR) AS trk
  FROM documents WHERE doc_id % 3 = 2
)
SELECT doc_id AS media_id,
       CAST(3 AS BIGINT) AS version,
       CAST(4 * 10 + length(title) + 1 + length(artist) + 1
            + length(album) + 1 + length(trk) + 1 + 10 + 8 AS BIGINT) AS tag_size,
       CAST(5 AS BIGINT) AS n_frames,
       CAST(doc_id % 12 + 1 AS BIGINT) AS track,
       md5(title) AS title_md5,
       md5(artist) AS artist_md5,
       md5(album) AS album_md5,
       'id3-stdlib' AS parser
FROM planted
"""

QUERIES["multimodal_id3_parse"] = multimodal_id3_parse
ORACLES["multimodal_id3_parse"] = MULTIMODAL_ID3_SQL


# --- JPEG marker walk: planted JFIF baseline/progressive images -----------------
#
# Fifth container parser beside WAV/Y4M/TIFF/PNG — the other format an
# image-ingest pipeline meets constantly (public spec: ITU-T T.81 /
# JFIF 1.02): SOI, APP0-JFIF, a planted number of COM segments, SOF0
# or SOF2 (baseline vs progressive — dimensions/precision/component
# count live here), SOS, entropy-coded data, EOI.  Entropy bytes are
# planted as ASCII-hex characters (never 0xFF), so the kernel's
# scan-to-next-marker is exact; one in seven files is truncated before
# EOI and the kernel must still account every entropy byte.  The
# oracle pins every field arithmetically from the planted parameters —
# a kernel that mis-walks segment lengths, trusts the JFIF tag
# blindly, or stops at the first FF inside a COM payload mismatches.
#
# Scale: same contract as the sibling kernels — payloads are built and
# parsed on executors in bounded Arrow batches, no image libraries.

JPEG_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("precision_bits", T.LongType()),
        T.StructField("n_components", T.LongType()),
        T.StructField("progressive", T.LongType()),
        T.StructField("n_segments", T.LongType()),
        T.StructField("com_bytes", T.LongType()),
        T.StructField("entropy_bytes", T.LongType()),
        T.StructField("has_jfif", T.LongType()),
        T.StructField("eoi_ok", T.LongType()),
        T.StructField("parser", T.StringType()),
    ]
)


@_plant
def jpeg_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, payload): JPEG-typed media items as real JFIF bytes."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 3 == 2)
    width = (F.lit(16) + (F.col("doc_id") % 40) * 4).cast("bigint")
    height = (F.lit(16) + (F.col("doc_id") % 30) * 4).cast("bigint")
    ncomp = F.when(F.col("doc_id") % 2 == 0, F.lit(1)).otherwise(F.lit(3))
    prog = F.col("doc_id") % 5 < 2

    app0 = F.lit("FFE000104A464946000101000048004800" + "00")
    com = [
        F.concat(
            F.lit("FFFE0022"),
            F.hex(F.upper(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f":c{k}"))))),
        )
        for k in range(2)
    ]
    n_com = F.col("doc_id") % 2 + 1
    com_hex = F.concat(com[0], F.when(n_com >= 2, com[1]).otherwise(F.lit("")))
    comps = F.when(ncomp == 1, F.lit("011100")).otherwise(F.lit("011100021100031100"))
    sof = F.concat(
        F.when(prog, F.lit("FFC2")).otherwise(F.lit("FFC0")),
        F.format_string("%04X", (F.lit(8) + ncomp * 3).cast("bigint")),
        F.lit("08"),
        F.format_string("%04X", height),
        F.format_string("%04X", width),
        F.format_string("%02X", ncomp.cast("bigint")),
        comps,
    )
    sos_comps = F.when(ncomp == 1, F.lit("0100")).otherwise(F.lit("010002000300"))
    sos = F.concat(
        F.lit("FFDA"),
        F.format_string("%04X", (F.lit(6) + ncomp * 2).cast("bigint")),
        F.format_string("%02X", ncomp.cast("bigint")),
        sos_comps,
        F.lit("003F00"),
    )
    ne = F.col("doc_id") % 3 + 1
    ent = [
        F.hex(F.upper(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f":e{k}")))))
        for k in range(3)
    ]
    entropy_hex = F.concat(
        ent[0],
        F.when(ne >= 2, ent[1]).otherwise(F.lit("")),
        F.when(ne >= 3, ent[2]).otherwise(F.lit("")),
    )
    eoi = F.when(F.col("doc_id") % 7 == 0, F.lit("")).otherwise(F.lit("FFD9"))
    payload = F.unhex(
        F.concat(F.lit("FFD8"), app0, com_hex, sof, sos, entropy_hex, eoi)
    )
    return docs.select(F.col("doc_id").alias("media_id"), payload.alias("payload"))


def parse_jpeg(payload: bytes) -> dict | None:
    """SOI + marker-segment walk with stdlib struct; length-based skip
    over COM/APP payloads, scan-to-marker over entropy-coded data;
    None for non-JPEG bytes."""
    import struct

    if len(payload) < 2 or payload[:2] != b"\xff\xd8":
        return None
    pos, n_segments = 2, 1
    width = height = precision = ncomp = None
    progressive = com_bytes = entropy = has_jfif = eoi_ok = 0
    while pos + 2 <= len(payload):
        if payload[pos] != 0xFF:
            break
        marker = payload[pos + 1]
        if marker == 0xD9:
            n_segments += 1
            eoi_ok = 1
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            n_segments += 1
            pos += 2
            continue
        if pos + 4 > len(payload):
            break
        (seglen,) = struct.unpack(">H", payload[pos + 2 : pos + 4])
        data = payload[pos + 4 : pos + 2 + seglen]
        if len(data) < seglen - 2:
            break
        n_segments += 1
        if marker == 0xE0 and data[:5] == b"JFIF\x00":
            has_jfif = 1
        elif marker == 0xFE:
            com_bytes += seglen - 2
        elif marker in (0xC0, 0xC2):
            precision = data[0]
            height, width = struct.unpack(">HH", data[1:5])
            ncomp = data[5]
            progressive = 1 if marker == 0xC2 else 0
        pos += 2 + seglen
        if marker == 0xDA:
            start = pos
            while pos + 1 < len(payload) and not (
                payload[pos] == 0xFF and payload[pos + 1] != 0x00
            ):
                pos += 1
            if pos + 1 < len(payload):
                entropy += pos - start
            else:
                entropy += len(payload) - start
                pos = len(payload)
    if width is None:
        return None
    return {
        "width": width,
        "height": height,
        "precision_bits": precision,
        "n_components": ncomp,
        "progressive": progressive,
        "n_segments": n_segments,
        "com_bytes": com_bytes,
        "entropy_bytes": entropy,
        "has_jfif": has_jfif,
        "eoi_ok": eoi_ok,
    }


def multimodal_jpeg_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched JPEG marker walk over the planted media items."""
    jpegs = jpeg_table(spark, sf_dir).select("media_id", "payload")
    return decode_rows(jpegs, parse_jpeg, JPEG_SCHEMA, "jpeg-stdlib")


# Oracle: every field recomputed arithmetically from the planted
# parameters (32 ASCII-hex entropy bytes per planted md5, 1 + doc_id % 3
# blocks, 34-byte COM segments, EOI dropped iff doc_id % 7 = 0).
MULTIMODAL_JPEG_SQL = """
SELECT doc_id AS media_id,
       CAST(16 + (doc_id % 40) * 4 AS BIGINT) AS width,
       CAST(16 + (doc_id % 30) * 4 AS BIGINT) AS height,
       CAST(8 AS BIGINT) AS precision_bits,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS BIGINT) AS n_components,
       CAST(CASE WHEN doc_id % 5 < 2 THEN 1 ELSE 0 END AS BIGINT) AS progressive,
       CAST(4 + (doc_id % 2 + 1) + CASE WHEN doc_id % 7 = 0 THEN 0 ELSE 1 END AS BIGINT) AS n_segments,
       CAST(32 * (doc_id % 2 + 1) AS BIGINT) AS com_bytes,
       CAST(32 * (doc_id % 3 + 1) AS BIGINT) AS entropy_bytes,
       CAST(1 AS BIGINT) AS has_jfif,
       CAST(CASE WHEN doc_id % 7 = 0 THEN 0 ELSE 1 END AS BIGINT) AS eoi_ok,
       'jpeg-stdlib' AS parser
FROM documents WHERE doc_id % 3 = 2
"""

QUERIES["multimodal_jpeg_headers"] = multimodal_jpeg_headers
ORACLES["multimodal_jpeg_headers"] = MULTIMODAL_JPEG_SQL


# --- GIF block walk: planted GIF87a/89a images ----------------------------------
#
# Sixth container parser (public spec: GIF87a/GIF89a, CompuServe 1987/
# 1989 — the format with the OTHER endianness: all multi-byte fields
# little-endian, vs PNG/JPEG's big-endian): signature+version, logical
# screen descriptor, optional global color table (skip by size
# arithmetic), an optional graphic-control extension (0x21 label +
# sub-block chain), one image descriptor, the LZW data SUB-BLOCK CHAIN
# (the structural heart — length-prefixed blocks until the 0
# terminator; data is ASCII-hex so no byte ever fakes a block header),
# and the 0x3B trailer, absent in one of seven files.  The oracle pins
# every field arithmetically from the planted parameters — a kernel
# that misreads LE dims, forgets to skip the GCT, or stops the
# sub-block walk early hash-mismatches.
#
# Scale: same contract as the sibling kernels — payloads built and
# parsed on executors in bounded Arrow batches, no image libraries.

GIF_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("version", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("gct_colors", T.LongType()),
        T.StructField("n_images", T.LongType()),
        T.StructField("n_extensions", T.LongType()),
        T.StructField("data_bytes", T.LongType()),
        T.StructField("n_subblocks", T.LongType()),
        T.StructField("trailer_ok", T.LongType()),
        T.StructField("parser", T.StringType()),
    ]
)


def _le16(col):
    """Little-endian 16-bit hex of a bigint column."""
    return F.concat(
        F.format_string("%02X", (col % 256).cast("bigint")),
        F.format_string("%02X", (col / 256).cast("bigint")),
    )


@_plant
def gif_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, payload): GIF-typed media items as real GIF bytes."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 3 == 0)
    width = (F.lit(16) + (F.col("doc_id") % 48) * 2).cast("bigint")
    height = (F.lit(16) + (F.col("doc_id") % 36) * 2).cast("bigint")
    has_gct = F.col("doc_id") % 2 == 0
    sig = F.when(F.col("doc_id") % 6 == 0, F.lit("474946383761")).otherwise(
        F.lit("474946383961")
    )  # GIF87a : GIF89a
    # packed: GCT flag<<7 | color-res 001<<4 | sort 0 | GCT size N=1 (4 colors)
    lsd = F.concat(
        _le16(width),
        _le16(height),
        F.when(has_gct, F.lit("91")).otherwise(F.lit("11")),
        F.lit("00"),  # background color index
        F.lit("00"),  # aspect
    )
    gct = F.when(
        has_gct,
        F.substring(
            F.concat(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":g0"))),
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":g1"))),
            ),
            1,
            24,  # 4 colors x 3 bytes = 12 bytes = 24 hex chars
        ),
    ).otherwise(F.lit(""))
    gce = F.when(
        F.col("doc_id") % 4 == 0, F.lit("21F904000A000000")
    ).otherwise(F.lit(""))
    imgdesc = F.concat(
        F.lit("2C"),
        F.lit("0000"),  # left
        F.lit("0000"),  # top
        _le16(width),
        _le16(height),
        F.lit("00"),  # no local color table
        F.lit("08"),  # LZW min code size
    )
    nsub = F.col("doc_id") % 3 + 1
    subs = [
        F.concat(
            F.lit("20"),  # 32-byte sub-block
            F.hex(F.upper(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f":s{k}"))))),
        )
        for k in range(3)
    ]
    sub_hex = F.concat(
        subs[0],
        F.when(nsub >= 2, subs[1]).otherwise(F.lit("")),
        F.when(nsub >= 3, subs[2]).otherwise(F.lit("")),
        F.lit("00"),  # block terminator
    )
    trailer = F.when(F.col("doc_id") % 7 == 0, F.lit("")).otherwise(F.lit("3B"))
    payload = F.unhex(F.concat(sig, lsd, gct, gce, imgdesc, sub_hex, trailer))
    return docs.select(F.col("doc_id").alias("media_id"), payload.alias("payload"))


def parse_gif(payload: bytes) -> dict | None:
    """Signature + LE screen descriptor + block walk with stdlib
    struct; skips color tables by size arithmetic, walks sub-block
    chains; None for non-GIF bytes."""
    import struct

    if len(payload) < 13 or payload[:4] != b"GIF8" or payload[4:6] not in (b"7a", b"9a"):
        return None
    version = 87 if payload[4:6] == b"7a" else 89
    width, height = struct.unpack("<HH", payload[6:10])
    packed, _bg, _aspect = payload[10], payload[11], payload[12]
    pos = 13
    gct_colors = 0
    if packed & 0x80:
        gct_colors = 2 << (packed & 0x07)
        pos += 3 * gct_colors
    n_images = n_ext = data_bytes = n_subblocks = trailer_ok = 0

    def walk_subblocks(p):
        nonlocal data_bytes, n_subblocks
        while p < len(payload):
            blen = payload[p]
            p += 1
            if blen == 0:
                return p
            data_bytes += blen
            n_subblocks += 1
            p += blen
        return p

    while pos < len(payload):
        b = payload[pos]
        if b == 0x3B:
            trailer_ok = 1
            pos += 1
            break
        if b == 0x21:  # extension: label + sub-block chain (not counted as data)
            n_ext += 1
            pos += 2
            while pos < len(payload):
                blen = payload[pos]
                pos += 1
                if blen == 0:
                    break
                pos += blen
        elif b == 0x2C:  # image descriptor
            if pos + 10 > len(payload):
                break
            lpacked = payload[pos + 9]
            pos += 10
            if lpacked & 0x80:
                pos += 3 * (2 << (lpacked & 0x07))
            pos += 1  # LZW minimum code size
            n_images += 1
            pos = walk_subblocks(pos)
        else:
            break
    return {
        "version": version,
        "width": width,
        "height": height,
        "gct_colors": gct_colors,
        "n_images": n_images,
        "n_extensions": n_ext,
        "data_bytes": data_bytes,
        "n_subblocks": n_subblocks,
        "trailer_ok": trailer_ok,
    }


def multimodal_gif_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched GIF block walk over the planted media items."""
    gifs = gif_table(spark, sf_dir).select("media_id", "payload")
    return decode_rows(gifs, parse_gif, GIF_SCHEMA, "gif-stdlib")


# Oracle: every field pinned arithmetically from the planted params
# (GCT iff doc_id even -> 4 colors; GCE iff doc_id % 4 = 0; 1 + doc_id % 3
# 32-byte sub-blocks; GIF87a iff doc_id % 6 = 0; trailer dropped iff
# doc_id % 7 = 0).
MULTIMODAL_GIF_SQL = """
SELECT doc_id AS media_id,
       CAST(CASE WHEN doc_id % 6 = 0 THEN 87 ELSE 89 END AS BIGINT) AS version,
       CAST(16 + (doc_id % 48) * 2 AS BIGINT) AS width,
       CAST(16 + (doc_id % 36) * 2 AS BIGINT) AS height,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 4 ELSE 0 END AS BIGINT) AS gct_colors,
       CAST(1 AS BIGINT) AS n_images,
       CAST(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_extensions,
       CAST(32 * (doc_id % 3 + 1) AS BIGINT) AS data_bytes,
       CAST(doc_id % 3 + 1 AS BIGINT) AS n_subblocks,
       CAST(CASE WHEN doc_id % 7 = 0 THEN 0 ELSE 1 END AS BIGINT) AS trailer_ok,
       'gif-stdlib' AS parser
FROM documents WHERE doc_id % 3 = 0
"""

QUERIES["multimodal_gif_headers"] = multimodal_gif_headers
ORACLES["multimodal_gif_headers"] = MULTIMODAL_GIF_SQL


# --- FLAC STREAMINFO parse: bit-packed metadata ---------------------------------
#
# Seventh container kernel, and the first BIT-PACKED one (public spec:
# xiph.org FLAC format): after the fLaC marker, metadata blocks carry
# a 1-byte last-flag+type header and 24-bit BE length; STREAMINFO
# packs sample-rate(20b) | channels-1(3b) | bits-per-sample-1(5b) |
# total-samples(36b) across byte boundaries — a byte-aligned reader
# gets every field wrong, which is exactly what the oracle pins
# against.  Planted files optionally append a PADDING block so the
# last-flag walk is exercised; the 16-byte audio MD5 is a REAL md5
# the oracle recomputes.
#
# Scale: same contract as the sibling kernels — bounded Arrow batches,
# stdlib-only bit arithmetic, payloads never leave executors.

FLAC_RATES = (8000, 16000, 22050, 44100, 48000)

FLAC_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("sample_rate", T.LongType()),
        T.StructField("channels", T.LongType()),
        T.StructField("bits_per_sample", T.LongType()),
        T.StructField("total_samples", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("min_block", T.LongType()),
        T.StructField("n_blocks", T.LongType()),
        T.StructField("padding_bytes", T.LongType()),
        T.StructField("audio_md5", T.StringType()),
        T.StructField("parser", T.StringType()),
    ]
)


@_plant
def flac_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, payload): FLAC-typed media items as real fLaC bytes."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 4 == 1)
    sr = F.element_at(
        F.array(*[F.lit(r) for r in FLAC_RATES]), (F.col("doc_id") % 5 + 1).cast("int")
    ).cast("bigint")
    ch = (F.col("doc_id") % 2 + 1).cast("bigint")
    bps = F.when(F.col("doc_id") % 3 == 0, F.lit(24)).otherwise(F.lit(16)).cast("bigint")
    total = (F.lit(1000) + F.col("doc_id") % 9000).cast("bigint")
    minf = (F.lit(14) + F.col("doc_id") % 100).cast("bigint")
    # pack32 = sr<<12 | (ch-1)<<9 | (bps-1)<<4 | total>>32  (total < 2^32 here)
    pack32 = sr * F.lit(4096) + (ch - 1) * F.lit(512) + (bps - 1) * F.lit(16)
    md5hex = F.md5(F.col("doc_id").cast("string"))
    streaminfo = F.concat(
        F.lit("10001000"),  # min/max blocksize 4096
        F.format_string("%06X", minf),
        F.format_string("%06X", minf + 100),
        F.format_string("%08X", pack32),
        F.format_string("%08X", total),
        md5hex,
    )
    npad = F.col("doc_id") % 3
    pad_len = (npad * 8).cast("bigint")
    padding = F.when(
        npad > 0,
        F.concat(F.lit("81"), F.format_string("%06X", pad_len), F.repeat(F.lit("00"), pad_len.cast("int"))),
    ).otherwise(F.lit(""))
    si_header = F.when(npad > 0, F.lit("00000022")).otherwise(F.lit("80000022"))
    payload = F.unhex(F.concat(F.lit("664C6143"), si_header, streaminfo, padding))
    return docs.select(F.col("doc_id").alias("media_id"), payload.alias("payload"))


def parse_flac(payload: bytes) -> dict | None:
    """fLaC marker + metadata-block walk; STREAMINFO fields via shifts
    over the big-endian bitstream; None for non-FLAC bytes."""
    if len(payload) < 8 or payload[:4] != b"fLaC":
        return None
    pos = 4
    out = None
    n_blocks = padding_bytes = 0
    while pos + 4 <= len(payload):
        hdr = payload[pos]
        btype, last = hdr & 0x7F, hdr >> 7
        length = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        body = payload[pos + 4 : pos + 4 + length]
        if len(body) < length:
            break
        n_blocks += 1
        if btype == 0 and length == 34:
            min_block = int.from_bytes(body[0:2], "big")
            packed = int.from_bytes(body[10:18], "big")  # 64 bits
            sample_rate = packed >> 44
            channels = ((packed >> 41) & 0x7) + 1
            bits = ((packed >> 36) & 0x1F) + 1
            total = packed & ((1 << 36) - 1)
            out = {
                "sample_rate": sample_rate,
                "channels": channels,
                "bits_per_sample": bits,
                "total_samples": total,
                "duration_ms": total * 1000 // sample_rate if sample_rate else 0,
                "min_block": min_block,
                "audio_md5": body[18:34].hex(),
            }
        elif btype == 1:
            padding_bytes += length
        pos += 4 + length
        if last:
            break
    if out is None:
        return None
    return {**out, "n_blocks": n_blocks, "padding_bytes": padding_bytes}


def multimodal_flac_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched FLAC metadata walk over the planted media items."""
    flacs = flac_table(spark, sf_dir).select("media_id", "payload")
    return decode_rows(flacs, parse_flac, FLAC_SCHEMA, "flac-stdlib")


_FLAC_RATES_SQL = "[" + ", ".join(str(r) for r in FLAC_RATES) + "]"

# Oracle: every bit-packed field recomputed arithmetically from the
# planted parameters, including the REAL md5 and the exact integer
# duration; a byte-aligned mis-parse of the 20/3/5/36-bit pack cannot
# reproduce these.
MULTIMODAL_FLAC_SQL = f"""
SELECT doc_id AS media_id,
       CAST(({_FLAC_RATES_SQL})[(doc_id % 5 + 1)::INT] AS BIGINT) AS sample_rate,
       CAST(doc_id % 2 + 1 AS BIGINT) AS channels,
       CAST(CASE WHEN doc_id % 3 = 0 THEN 24 ELSE 16 END AS BIGINT) AS bits_per_sample,
       CAST(1000 + doc_id % 9000 AS BIGINT) AS total_samples,
       CAST((1000 + doc_id % 9000) * 1000 // ({_FLAC_RATES_SQL})[(doc_id % 5 + 1)::INT] AS BIGINT) AS duration_ms,
       CAST(4096 AS BIGINT) AS min_block,
       CAST(CASE WHEN doc_id % 3 > 0 THEN 2 ELSE 1 END AS BIGINT) AS n_blocks,
       CAST((doc_id % 3) * 8 AS BIGINT) AS padding_bytes,
       md5(doc_id::VARCHAR) AS audio_md5,
       'flac-stdlib' AS parser
FROM documents WHERE doc_id % 4 = 1
"""

QUERIES["multimodal_flac_info"] = multimodal_flac_info
ORACLES["multimodal_flac_info"] = MULTIMODAL_FLAC_SQL


# --- BMP header parse: signed little-endian dims --------------------------------
#
# Eighth container kernel (public spec: Windows BITMAPINFOHEADER): the
# pitfall this one exists for is SIGNEDNESS — biHeight is a SIGNED
# little-endian int32 and negative means a top-down DIB; a parser
# reading it unsigned turns every top-down image into a ~4-billion-row
# allocation.  Planted files mix bottom-up and top-down (negative
# height built as the 2^32 two's complement), 24-bit and 8-bit depths
# (8-bit implies a color table whose size must be skipped to find the
# pixel offset), and the oracle pins row stride = ceil(w*bpp/8/4)*4
# padding arithmetic.
#
# Scale: same contract as the sibling kernels.

BMP_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("top_down", T.LongType()),
        T.StructField("bpp", T.LongType()),
        T.StructField("palette_colors", T.LongType()),
        T.StructField("row_stride", T.LongType()),
        T.StructField("pixel_bytes", T.LongType()),
        T.StructField("data_offset", T.LongType()),
        T.StructField("parser", T.StringType()),
    ]
)


def _le32(col):
    """Little-endian 32-bit hex of a (possibly two's-complement) bigint.
    pmod, not %: Spark's % keeps the dividend's sign, so a negative
    (top-down) height would format as a negative byte."""
    c = F.pmod(col.cast("bigint"), F.lit(2**32))
    return F.concat(
        F.format_string("%02X", c % 256),
        F.format_string("%02X", (c / 256).cast("bigint") % 256),
        F.format_string("%02X", (c / 65536).cast("bigint") % 256),
        F.format_string("%02X", (c / 16777216).cast("bigint") % 256),
    )


@_plant
def bmp_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, payload): BMP-typed media items as real BMP bytes."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 4 == 3)
    width = (F.lit(5) + F.col("doc_id") % 60).cast("bigint")
    height_abs = (F.lit(4) + F.col("doc_id") % 40).cast("bigint")
    top_down = F.col("doc_id") % 3 == 0
    height = F.when(top_down, -height_abs).otherwise(height_abs)
    bpp = F.when(F.col("doc_id") % 5 == 0, F.lit(8)).otherwise(F.lit(24)).cast("bigint")
    palette = F.when(bpp == 8, F.lit(256)).otherwise(F.lit(0)).cast("bigint")
    stride = (((width * bpp + 31) / 32).cast("bigint") * 4).cast("bigint")
    pixel_bytes = stride * height_abs
    offset = F.lit(54).cast("bigint") + palette * 4
    # pixel data: planted as zero bytes (size is what the kernel audits)
    payload = F.unhex(
        F.concat(
            F.lit("424D"),  # 'BM'
            _le32(offset + pixel_bytes),  # file size
            F.lit("00000000"),
            _le32(offset),
            _le32(F.lit(40)),  # BITMAPINFOHEADER size
            _le32(width),
            _le32(height),
            F.lit("0100"),  # planes = 1
            F.concat(F.format_string("%02X", bpp % 256), F.lit("00")),
            F.lit("00000000"),  # BI_RGB
            _le32(pixel_bytes),
            F.lit("130B0000130B0000"),  # 2835 ppm x/y
            _le32(palette),
            F.lit("00000000"),  # important colors
            F.repeat(F.lit("00"), (palette * 4 + pixel_bytes).cast("int")),
        )
    )
    return docs.select(F.col("doc_id").alias("media_id"), payload.alias("payload"))


def parse_bmp(payload: bytes) -> dict | None:
    """BM magic + BITMAPINFOHEADER with SIGNED height; None for
    non-BMP bytes."""
    import struct

    if len(payload) < 54 or payload[:2] != b"BM":
        return None
    data_offset = struct.unpack("<I", payload[10:14])[0]
    hdr_size = struct.unpack("<I", payload[14:18])[0]
    if hdr_size < 40:
        return None
    width, height = struct.unpack("<ii", payload[18:26])  # SIGNED
    bpp = struct.unpack("<H", payload[28:30])[0]
    palette = struct.unpack("<I", payload[46:50])[0]
    if palette == 0 and bpp <= 8:
        palette = 1 << bpp
    top_down = 1 if height < 0 else 0
    h = -height if height < 0 else height
    stride = (width * bpp + 31) // 32 * 4
    return {
        "width": width,
        "height": h,
        "top_down": top_down,
        "bpp": bpp,
        "palette_colors": palette,
        "row_stride": stride,
        "pixel_bytes": stride * h,
        "data_offset": data_offset,
    }


def multimodal_bmp_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched BMP header parse over the planted media items."""
    bmps = bmp_table(spark, sf_dir).select("media_id", "payload")
    return decode_rows(bmps, parse_bmp, BMP_SCHEMA, "bmp-stdlib")


MULTIMODAL_BMP_SQL = """
SELECT doc_id AS media_id,
       CAST(5 + doc_id % 60 AS BIGINT) AS width,
       CAST(4 + doc_id % 40 AS BIGINT) AS height,
       CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS BIGINT) AS top_down,
       CAST(CASE WHEN doc_id % 5 = 0 THEN 8 ELSE 24 END AS BIGINT) AS bpp,
       CAST(CASE WHEN doc_id % 5 = 0 THEN 256 ELSE 0 END AS BIGINT) AS palette_colors,
       CAST(((5 + doc_id % 60) * (CASE WHEN doc_id % 5 = 0 THEN 8 ELSE 24 END) + 31) // 32 * 4 AS BIGINT) AS row_stride,
       CAST(((5 + doc_id % 60) * (CASE WHEN doc_id % 5 = 0 THEN 8 ELSE 24 END) + 31) // 32 * 4
            * (4 + doc_id % 40) AS BIGINT) AS pixel_bytes,
       CAST(54 + (CASE WHEN doc_id % 5 = 0 THEN 256 ELSE 0 END) * 4 AS BIGINT) AS data_offset,
       'bmp-stdlib' AS parser
FROM documents WHERE doc_id % 4 = 3
"""

QUERIES["multimodal_bmp_headers"] = multimodal_bmp_headers
ORACLES["multimodal_bmp_headers"] = MULTIMODAL_BMP_SQL


# --- ZIP central-directory walk -------------------------------------------------
#
# Ninth container kernel, with direct reference parity: the docx files
# the prep pipeline ingests (`catalog search - docx prep/
# docx_to_pdf_prep.py`) ARE zip archives (PKWARE APPNOTE, public spec).
# The structural skills this one pins: (a) EOCD is found by scanning
# BACKWARD from EOF because a trailing archive comment moves it (one
# in two planted files has a comment); (b) entries are enumerated from
# the CENTRAL directory at its recorded offset, not by walking local
# headers; (c) each entry's data is located through its local-header
# offset and its REAL CRC-32 re-verified — one in seven files plants a
# corrupted central-directory CRC the kernel must count.
#
# Scale: same contract as the sibling kernels — payloads built and
# parsed on executors in bounded Arrow batches, stdlib struct+zlib.

ZIP_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_entries", T.LongType()),
        T.StructField("total_uncompressed", T.LongType()),
        T.StructField("cd_size", T.LongType()),
        T.StructField("cd_offset", T.LongType()),
        T.StructField("comment_len", T.LongType()),
        T.StructField("crc_bad", T.LongType()),
        T.StructField("names_md5", T.StringType()),
        T.StructField("parser", T.StringType()),
    ]
)

_ZIP_NAME_LEN = 6  # "f0.txt"
_ZIP_DATA_LEN = 32  # ascii md5 hex
_ZIP_LOCAL_LEN = 30 + _ZIP_NAME_LEN + _ZIP_DATA_LEN
_ZIP_CENTRAL_LEN = 46 + _ZIP_NAME_LEN


@_plant
def zip_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, payload): ZIP-typed media items as real PK bytes."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 5 == 2)
    n = F.col("doc_id") % 3 + 1

    def entry_parts(k):
        name_hex = F.hex(F.lit(f"f{k}.txt"))
        data_str = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f":z{k}")))
        data_hex = F.hex(data_str)
        crc = F.crc32(F.encode(data_str, "UTF-8"))
        bad = (F.col("doc_id") % 7 == 0) & (F.lit(k) == 0)
        local = F.concat(
            F.lit("504B0304"),  # PK\3\4
            F.lit("1400"),  # version needed
            F.lit("0000"),  # flags
            F.lit("0000"),  # method: stored
            F.lit("00000000"),  # dos time/date
            _le32(crc),
            _le32(F.lit(_ZIP_DATA_LEN)),
            _le32(F.lit(_ZIP_DATA_LEN)),
            _le16(F.lit(_ZIP_NAME_LEN)),
            F.lit("0000"),  # extra len
            name_hex,
            data_hex,
        )
        central = F.concat(
            F.lit("504B0102"),  # PK\1\2
            F.lit("1400"),  # version made by
            F.lit("1400"),  # version needed
            F.lit("0000"),
            F.lit("0000"),
            F.lit("00000000"),
            _le32(F.when(bad, crc.bitwiseXOR(F.lit(1))).otherwise(crc)),
            _le32(F.lit(_ZIP_DATA_LEN)),
            _le32(F.lit(_ZIP_DATA_LEN)),
            _le16(F.lit(_ZIP_NAME_LEN)),
            F.lit("0000"),  # extra
            F.lit("0000"),  # comment
            F.lit("0000"),  # disk
            F.lit("0000"),  # internal attrs
            F.lit("00000000"),  # external attrs
            _le32(F.lit(k * _ZIP_LOCAL_LEN)),  # local header offset
            name_hex,
        )
        return local, central

    parts = [entry_parts(k) for k in range(3)]
    locals_hex = F.concat(
        parts[0][0],
        F.when(n >= 2, parts[1][0]).otherwise(F.lit("")),
        F.when(n >= 3, parts[2][0]).otherwise(F.lit("")),
    )
    centrals_hex = F.concat(
        parts[0][1],
        F.when(n >= 2, parts[1][1]).otherwise(F.lit("")),
        F.when(n >= 3, parts[2][1]).otherwise(F.lit("")),
    )
    comment_len = F.when(F.col("doc_id") % 2 == 0, F.lit(0)).otherwise(F.lit(10))
    eocd = F.concat(
        F.lit("504B0506"),
        F.lit("0000"),
        F.lit("0000"),
        _le16(n.cast("bigint")),
        _le16(n.cast("bigint")),
        _le32((n * _ZIP_CENTRAL_LEN).cast("bigint")),
        _le32((n * _ZIP_LOCAL_LEN).cast("bigint")),
        _le16(comment_len.cast("bigint")),
        F.when(comment_len > 0, F.repeat(F.lit("78"), 10)).otherwise(F.lit("")),  # 'x' * 10
    )
    payload = F.unhex(F.concat(locals_hex, centrals_hex, eocd))
    return docs.select(F.col("doc_id").alias("media_id"), payload.alias("payload"))


def parse_zip(payload: bytes) -> dict | None:
    """Backward EOCD scan + central-directory walk + per-entry local
    CRC re-verification; None for non-ZIP bytes."""
    import hashlib
    import struct
    import zlib

    tail = payload[-(65536 + 22) :]
    pos = tail.rfind(b"PK\x05\x06")
    if pos < 0:
        return None
    eocd = tail[pos:]
    if len(eocd) < 22:
        return None
    n_total = struct.unpack("<H", eocd[10:12])[0]
    cd_size = struct.unpack("<I", eocd[12:16])[0]
    cd_offset = struct.unpack("<I", eocd[16:20])[0]
    comment_len = struct.unpack("<H", eocd[20:22])[0]
    p = cd_offset
    n_entries = total_uncomp = crc_bad = 0
    names = []
    while n_entries < n_total and p + 46 <= len(payload):
        if payload[p : p + 4] != b"PK\x01\x02":
            break
        crc_central = struct.unpack("<I", payload[p + 16 : p + 20])[0]
        uncomp = struct.unpack("<I", payload[p + 24 : p + 28])[0]
        name_len = struct.unpack("<H", payload[p + 28 : p + 30])[0]
        extra_len = struct.unpack("<H", payload[p + 30 : p + 32])[0]
        cmt_len = struct.unpack("<H", payload[p + 32 : p + 34])[0]
        local_off = struct.unpack("<I", payload[p + 42 : p + 46])[0]
        name = payload[p + 46 : p + 46 + name_len].decode("ascii", "replace")
        names.append(name)
        total_uncomp += uncomp
        # locate the data through the LOCAL header and re-verify the CRC
        lh = local_off
        if payload[lh : lh + 4] == b"PK\x03\x04":
            lname = struct.unpack("<H", payload[lh + 26 : lh + 28])[0]
            lextra = struct.unpack("<H", payload[lh + 28 : lh + 30])[0]
            data = payload[lh + 30 + lname + lextra : lh + 30 + lname + lextra + uncomp]
            if zlib.crc32(data) != crc_central:
                crc_bad += 1
        n_entries += 1
        p += 46 + name_len + extra_len + cmt_len
    return {
        "n_entries": n_entries,
        "total_uncompressed": total_uncomp,
        "cd_size": cd_size,
        "cd_offset": cd_offset,
        "comment_len": comment_len,
        "crc_bad": crc_bad,
        "names_md5": hashlib.md5("".join(names).encode()).hexdigest(),
    }


def multimodal_zip_central_dir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched ZIP central-directory walk over the planted items."""
    zips = zip_table(spark, sf_dir).select("media_id", "payload")
    return decode_rows(zips, parse_zip, ZIP_SCHEMA, "zip-stdlib")


MULTIMODAL_ZIP_SQL = f"""
SELECT doc_id AS media_id,
       CAST(doc_id % 3 + 1 AS BIGINT) AS n_entries,
       CAST({_ZIP_DATA_LEN} * (doc_id % 3 + 1) AS BIGINT) AS total_uncompressed,
       CAST({_ZIP_CENTRAL_LEN} * (doc_id % 3 + 1) AS BIGINT) AS cd_size,
       CAST({_ZIP_LOCAL_LEN} * (doc_id % 3 + 1) AS BIGINT) AS cd_offset,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 10 END AS BIGINT) AS comment_len,
       CAST(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS BIGINT) AS crc_bad,
       md5(CASE doc_id % 3 WHEN 0 THEN 'f0.txt'
                           WHEN 1 THEN 'f0.txtf1.txt'
                           ELSE 'f0.txtf1.txtf2.txt' END) AS names_md5,
       'zip-stdlib' AS parser
FROM documents WHERE doc_id % 5 = 2
"""

QUERIES["multimodal_zip_central_dir"] = multimodal_zip_central_dir
ORACLES["multimodal_zip_central_dir"] = MULTIMODAL_ZIP_SQL


# --- MP4 / ISO-BMFF box walk ----------------------------------------------------
#
# Tenth container kernel (public spec: ISO/IEC 14496-12): the box
# grammar every real-world video pipeline parses — size+type headers,
# CONTAINER boxes recursed (moov → mvhd + trak → tkhd), 16.16
# fixed-point track dimensions, and the size=1 → 64-bit largesize
# escape (planted on one in six mdat boxes — the pitfall a 32-bit-only
# reader trips on, the syncsafe lesson at box grain).  The oracle pins
# timescale/duration/dims/box-count/mdat-bytes arithmetically,
# including the exact integer duration_ms.
#
# Scale: same contract as the sibling kernels.

MP4_TIMESCALES = (600, 1000, 90000)

MP4_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("timescale", T.LongType()),
        T.StructField("duration", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("track_id", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("n_boxes", T.LongType()),
        T.StructField("mdat_bytes", T.LongType()),
        T.StructField("used_largesize", T.LongType()),
        T.StructField("parser", T.StringType()),
    ]
)

_MP4_MATRIX = "000100000000000000000000" + "000000000001000000000000" + "000000000000000040000000"


@_plant
def mp4_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, payload): MP4-typed media items as real BMFF bytes."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 5 == 4)
    ts = F.element_at(
        F.array(*[F.lit(t) for t in MP4_TIMESCALES]), (F.col("doc_id") % 3 + 1).cast("int")
    ).cast("bigint")
    secs = (F.lit(5) + F.col("doc_id") % 120).cast("bigint")
    dur = ts * secs
    width = (F.lit(320) + (F.col("doc_id") % 8) * 160).cast("bigint")
    height = (F.lit(240) + (F.col("doc_id") % 6) * 120).cast("bigint")
    ftyp = F.lit("00000018" + "66747970" + "69736F6D" + "00000000" + "69736F6D" + "6D703431")
    mvhd = F.concat(
        F.lit("0000006C" + "6D766864" + "00000000" + "00000000" + "00000000"),
        F.format_string("%08X", ts),
        F.format_string("%08X", dur),
        F.lit("00010000" + "0100" + "0000" + "0000000000000000"),
        F.lit(_MP4_MATRIX),
        F.lit("00000000" * 6),
        F.lit("00000002"),
    )
    tkhd = F.concat(
        F.lit("0000005C" + "746B6864" + "00000007" + "00000000" + "00000000"),
        F.lit("00000001"),  # track id
        F.lit("00000000"),
        F.format_string("%08X", dur),
        F.lit("0000000000000000" + "0000" + "0000" + "0000" + "0000"),
        F.lit(_MP4_MATRIX),
        F.format_string("%08X", width * 65536),
        F.format_string("%08X", height * 65536),
    )
    trak = F.concat(F.lit("00000064" + "7472616B"), tkhd)
    moov = F.concat(F.lit("000000D8" + "6D6F6F76"), mvhd, trak)
    nmd = F.col("doc_id") % 3 + 1
    md5s = [
        F.hex(F.upper(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f":m{k}")))))
        for k in range(3)
    ]
    data_hex = F.concat(
        md5s[0],
        F.when(nmd >= 2, md5s[1]).otherwise(F.lit("")),
        F.when(nmd >= 3, md5s[2]).otherwise(F.lit("")),
    )
    data_bytes = (nmd * 32).cast("bigint")
    large = F.col("doc_id") % 6 == 5
    mdat = F.when(
        large,
        F.concat(
            F.lit("00000001" + "6D646174"),
            F.format_string("%016X", data_bytes + 16),
            data_hex,
        ),
    ).otherwise(
        F.concat(F.format_string("%08X", data_bytes + 8), F.lit("6D646174"), data_hex)
    )
    payload = F.unhex(F.concat(ftyp, moov, mdat))
    return docs.select(F.col("doc_id").alias("media_id"), payload.alias("payload"))


def parse_mp4(payload: bytes) -> dict | None:
    """Top-level box walk with container recursion into moov/trak;
    handles the size=1 largesize escape; None for non-BMFF bytes."""
    import struct

    if len(payload) < 8 or payload[4:8] != b"ftyp":
        return None
    out = {
        "timescale": None, "duration": None, "track_id": None,
        "width": None, "height": None, "mdat_bytes": 0, "used_largesize": 0,
    }
    n_boxes = 0

    def walk(lo, hi):
        nonlocal n_boxes
        pos = lo
        while pos + 8 <= hi:
            size = struct.unpack(">I", payload[pos : pos + 4])[0]
            btype = payload[pos + 4 : pos + 8]
            body = pos + 8
            if size == 1:
                if pos + 16 > hi:
                    break
                size = struct.unpack(">Q", payload[pos + 8 : pos + 16])[0]
                body = pos + 16
                out["used_largesize"] = 1
            if size == 0:
                size = hi - pos
            if pos + size > hi or size < 8:
                break
            n_boxes += 1
            if btype in (b"moov", b"trak"):
                walk(body, pos + size)
            elif btype == b"mvhd":
                ver = payload[body]
                if ver == 0:
                    out["timescale"] = struct.unpack(">I", payload[body + 12 : body + 16])[0]
                    out["duration"] = struct.unpack(">I", payload[body + 16 : body + 20])[0]
            elif btype == b"tkhd":
                ver = payload[body]
                if ver == 0:
                    out["track_id"] = struct.unpack(">I", payload[body + 12 : body + 16])[0]
                    w = struct.unpack(">I", payload[pos + size - 8 : pos + size - 4])[0]
                    h = struct.unpack(">I", payload[pos + size - 4 : pos + size])[0]
                    out["width"], out["height"] = w >> 16, h >> 16
            elif btype == b"mdat":
                out["mdat_bytes"] += size - (body - pos)
            pos += size

    walk(0, len(payload))
    if out["timescale"] is None:
        return None
    return {
        **out,
        "duration_ms": out["duration"] * 1000 // out["timescale"] if out["timescale"] else 0,
        "n_boxes": n_boxes,
    }


def multimodal_mp4_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched BMFF box walk over the planted media items."""
    mp4s = mp4_table(spark, sf_dir).select("media_id", "payload")
    return decode_rows(mp4s, parse_mp4, MP4_SCHEMA, "mp4-stdlib")


_MP4_TS_SQL = "[" + ", ".join(str(t) for t in MP4_TIMESCALES) + "]"

MULTIMODAL_MP4_SQL = f"""
SELECT doc_id AS media_id,
       CAST(({_MP4_TS_SQL})[(doc_id % 3 + 1)::INT] AS BIGINT) AS timescale,
       CAST(({_MP4_TS_SQL})[(doc_id % 3 + 1)::INT] * (5 + doc_id % 120) AS BIGINT) AS duration,
       CAST((5 + doc_id % 120) * 1000 AS BIGINT) AS duration_ms,
       CAST(1 AS BIGINT) AS track_id,
       CAST(320 + (doc_id % 8) * 160 AS BIGINT) AS width,
       CAST(240 + (doc_id % 6) * 120 AS BIGINT) AS height,
       CAST(6 AS BIGINT) AS n_boxes,
       CAST((doc_id % 3 + 1) * 32 AS BIGINT) AS mdat_bytes,
       CAST(CASE WHEN doc_id % 6 = 5 THEN 1 ELSE 0 END AS BIGINT) AS used_largesize,
       'mp4-stdlib' AS parser
FROM documents WHERE doc_id % 5 = 4
"""

QUERIES["multimodal_mp4_boxes"] = multimodal_mp4_boxes
ORACLES["multimodal_mp4_boxes"] = MULTIMODAL_MP4_SQL


# --- TAR (ustar) header walk ----------------------------------------------------
#
# Eleventh container kernel (public spec: POSIX.1-1988 ustar) — the
# format training corpora actually ship in, with TWO pitfalls all its
# own: every numeric field is OCTAL ASCII (a decimal read inflates
# sizes ~2x), and the header checksum is defined over the header WITH
# ITS OWN CHECKSUM FIELD REPLACED BY SPACES.  Planted archives hold
# 1-3 members with 32-byte payloads padded to the 512 block; every 7th
# archive corrupts the first member's checksum (+1, kernel must count
# it), every 5th omits the two-zero-block terminator.  Header bytes
# are deterministic per member index, so the three header variants are
# built ONCE in plain Python at import time and planted as hex
# literals — the kernel still has to parse octal and re-sum bytes to
# match the oracle's arithmetic pins.

def _tar_header_hex(name: str, size: int, bump_chksum: int = 0) -> str:
    h = bytearray(512)
    h[0 : len(name)] = name.encode()
    h[100:108] = b"0000644\x00"
    h[108:116] = b"0000000\x00"
    h[116:124] = b"0000000\x00"
    h[124:136] = (oct(size)[2:].rjust(11, "0") + "\x00").encode()
    h[136:148] = b"00000000000\x00"
    h[148:156] = b" " * 8  # checksum field as spaces for the sum
    h[156] = ord("0")  # typeflag: regular file
    h[257:263] = b"ustar\x00"
    h[263:265] = b"00"
    chk = sum(h) + bump_chksum
    h[148:156] = (oct(chk)[2:].rjust(6, "0") + "\x00 ").encode()
    return h.hex().upper()


_TAR_HDRS = [_tar_header_hex(f"f{k}.txt", 32) for k in range(3)]
_TAR_HDR0_BAD = _tar_header_hex("f0.txt", 32, bump_chksum=1)
_TAR_PAD_HEX = "00" * 480  # 32-byte payload padded to one block
_TAR_ZERO_BLOCK = "00" * 512

TAR_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_members", T.LongType()),
        T.StructField("total_size", T.LongType()),
        T.StructField("chksum_bad", T.LongType()),
        T.StructField("terminated", T.LongType()),
        T.StructField("names_md5", T.StringType()),
        T.StructField("parser", T.StringType()),
    ]
)


@_plant
def tar_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, payload): TAR-typed media items as real ustar bytes."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 6 == 3)
    n = F.col("doc_id") % 3 + 1
    bad = F.col("doc_id") % 7 == 0

    def member(k):
        hdr = (
            F.when(bad & (F.lit(k) == 0), F.lit(_TAR_HDR0_BAD)).otherwise(
                F.lit(_TAR_HDRS[k])
            )
            if k == 0
            else F.lit(_TAR_HDRS[k])
        )
        data = F.hex(
            F.upper(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f":t{k}"))))
        )
        return F.concat(hdr, data, F.lit(_TAR_PAD_HEX))

    body = F.concat(
        member(0),
        F.when(n >= 2, member(1)).otherwise(F.lit("")),
        F.when(n >= 3, member(2)).otherwise(F.lit("")),
    )
    term = F.when(F.col("doc_id") % 5 == 0, F.lit("")).otherwise(
        F.lit(_TAR_ZERO_BLOCK + _TAR_ZERO_BLOCK)
    )
    payload = F.unhex(F.concat(body, term))
    return docs.select(F.col("doc_id").alias("media_id"), payload.alias("payload"))


def parse_tar(payload: bytes) -> dict | None:
    """512-block walk with octal field parsing and checksum
    re-summation; None for non-tar bytes."""
    import hashlib

    if len(payload) < 512 or payload[257:263] != b"ustar\x00":
        return None
    pos = 0
    n_members = total_size = chksum_bad = terminated = 0
    names = []
    while pos + 512 <= len(payload):
        block = payload[pos : pos + 512]
        if block == b"\x00" * 512:
            nxt = payload[pos + 512 : pos + 1024]
            if nxt == b"\x00" * 512:
                terminated = 1
            break
        if block[257:263] != b"ustar\x00":
            break
        name = block[0:100].split(b"\x00", 1)[0].decode("ascii", "replace")
        size = int(block[124:135].decode("ascii"), 8)  # OCTAL
        stored_chk = int(block[148:155].decode("ascii").rstrip("\x00 "), 8)
        summed = sum(block[:148]) + 8 * 0x20 + sum(block[156:])
        if summed != stored_chk:
            chksum_bad += 1
        names.append(name)
        n_members += 1
        total_size += size
        pos += 512 + (size + 511) // 512 * 512
    return {
        "n_members": n_members,
        "total_size": total_size,
        "chksum_bad": chksum_bad,
        "terminated": terminated,
        "names_md5": hashlib.md5("".join(names).encode()).hexdigest(),
    }


def multimodal_tar_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched ustar header walk over the planted media items."""
    tars = tar_table(spark, sf_dir).select("media_id", "payload")
    return decode_rows(tars, parse_tar, TAR_SCHEMA, "tar-stdlib")


MULTIMODAL_TAR_SQL = """
SELECT doc_id AS media_id,
       CAST(doc_id % 3 + 1 AS BIGINT) AS n_members,
       CAST(32 * (doc_id % 3 + 1) AS BIGINT) AS total_size,
       CAST(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS BIGINT) AS chksum_bad,
       CAST(CASE WHEN doc_id % 5 = 0 THEN 0 ELSE 1 END AS BIGINT) AS terminated,
       md5(CASE doc_id % 3 WHEN 0 THEN 'f0.txt'
                           WHEN 1 THEN 'f0.txtf1.txt'
                           ELSE 'f0.txtf1.txtf2.txt' END) AS names_md5,
       'tar-stdlib' AS parser
FROM documents WHERE doc_id % 6 = 3
"""

QUERIES["multimodal_tar_headers"] = multimodal_tar_headers
ORACLES["multimodal_tar_headers"] = MULTIMODAL_TAR_SQL


# --- PDF xref-table walk --------------------------------------------------------
#
# Twelfth kernel, and the reference's OWN format (ISO 32000; the prep
# pipelines merge chapter PDFs — `semantic search - iasb prep/
# stage_00_pdf_merger.py` — and pdf_merge_plan models their page
# offsets; this parses the actual file structure): a classic PDF is
# read BACK TO FRONT — %%EOF, then startxref giving the xref table's
# byte offset, then fixed-width 20-byte xref entries pointing at every
# "N 0 obj", then the trailer's /Size and /Root.  The kernel walks
# exactly that path and VERIFIES each in-use xref entry lands on its
# object header; every 7th file plants an off-by-one first offset the
# kernel must count.  Skeletons are built once in plain Python per
# page-count variant (content slots are fixed-width md5 hex, so
# offsets are constants); the per-doc md5 content is spliced in by the
# plant, keeping payloads document-specific without moving offsets.
#
# Scale: same contract as the sibling kernels.

_PDF_MARK = "MD5CONTENT32CHARSXXXXXXXXXXXXXXX!"  # 33-char slot, replaced per doc


def _pdf_skeleton(n_pages: int, corrupt_first: bool):
    """Returns (template_string, n_objects). Object layout: 1=catalog,
    2=pages, then per page: page object + content stream object."""
    objs = []
    objs.append("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    kids = " ".join(f"{3 + 2 * p} 0 R" for p in range(n_pages))
    objs.append(
        f"2 0 obj\n<< /Type /Pages /Count {n_pages} /Kids [{kids}] >>\nendobj\n"
    )
    for p in range(n_pages):
        objs.append(
            f"{3 + 2 * p} 0 obj\n<< /Type /Page /Parent 2 0 R "
            f"/Contents {4 + 2 * p} 0 R >>\nendobj\n"
        )
        objs.append(
            f"{4 + 2 * p} 0 obj\n<< /Length 33 >>\nstream\n{_PDF_MARK}\nendstream\nendobj\n"
        )
    header = "%PDF-1.4\n"
    offsets, pos = [], len(header)
    for o in objs:
        offsets.append(pos)
        pos += len(o)
    xref_at = pos
    n_obj = len(objs) + 1  # including the free object 0
    xref = f"xref\n0 {n_obj}\n" + "0000000000 65535 f \n"
    for k, off in enumerate(offsets):
        bad = 1 if (corrupt_first and k == 0) else 0
        xref += f"{off + bad:010d} 00000 n \n"
    trailer = (
        f"trailer\n<< /Size {n_obj} /Root 1 0 R >>\nstartxref\n{xref_at}\n%%EOF"
    )
    return header + "".join(objs) + xref + trailer, n_obj


_PDF_TEMPLATES = {
    (n, c): _pdf_skeleton(n, c) for n in (1, 2, 3) for c in (False, True)
}


@_plant
def pdf_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, payload): PDF-typed media items as real PDF bytes."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 6 == 1)
    n = F.col("doc_id") % 3 + 1
    bad = F.col("doc_id") % 7 == 0
    content = F.concat(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":pdf"))), F.lit("!")
    )
    tmpl = None
    for np in (1, 2, 3):
        for c in (False, True):
            t = F.lit(_PDF_TEMPLATES[(np, c)][0])
            cond = (n == np) & (bad if c else ~bad)
            tmpl = t if tmpl is None else F.when(cond, t).otherwise(tmpl)
    # splice the per-doc content into every fixed-width slot
    payload = F.encode(F.replace(tmpl, F.lit(_PDF_MARK), content), "utf-8")
    return docs.select(F.col("doc_id").alias("media_id"), payload.alias("payload"))


def parse_pdf(payload: bytes) -> dict | None:
    """Back-to-front: %%EOF → startxref → xref walk → trailer /Size;
    verifies each in-use entry lands on its object header."""
    import re

    if not payload.startswith(b"%PDF-"):
        return None
    tail = payload[-200:]
    m = re.search(rb"startxref\s+(\d+)\s+%%EOF\s*$", tail)
    if not m:
        return None
    xref_at = int(m.group(1))
    if payload[xref_at : xref_at + 4] != b"xref":
        return None
    text = payload[xref_at:].decode("latin-1")
    hdr = re.match(r"xref\s+(\d+)\s+(\d+)\s*\n", text)
    if not hdr:
        return None
    first, count = int(hdr.group(1)), int(hdr.group(2))
    pos = hdr.end()
    n_in_use = n_free = bad_offsets = 0
    for k in range(count):
        entry = text[pos : pos + 20]
        pos += 20
        off, _gen, kind = int(entry[0:10]), entry[11:16], entry[17]
        if kind == "f":
            n_free += 1
            continue
        n_in_use += 1
        objnum = first + k
        want = f"{objnum} 0 obj".encode()
        if payload[off : off + len(want)] != want:
            bad_offsets += 1
    tm = re.search(r"/Size\s+(\d+)", text[pos:])
    size = int(tm.group(1)) if tm else -1
    has_root = 1 if re.search(r"/Root\s+1 0 R", text[pos:]) else 0
    n_pages = payload.count(b"/Type /Page ")
    return {
        "n_objects": size,
        "n_in_use": n_in_use,
        "n_free": n_free,
        "bad_offsets": bad_offsets,
        "n_pages": n_pages,
        "has_root": has_root,
        "xref_at": xref_at,
    }


PDF_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_objects", T.LongType()),
        T.StructField("n_in_use", T.LongType()),
        T.StructField("n_free", T.LongType()),
        T.StructField("bad_offsets", T.LongType()),
        T.StructField("n_pages", T.LongType()),
        T.StructField("has_root", T.LongType()),
        T.StructField("xref_at", T.LongType()),
        T.StructField("parser", T.StringType()),
    ]
)


def multimodal_pdf_xref(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched PDF xref walk over the planted media items."""
    pdfs = pdf_table(spark, sf_dir).select("media_id", "payload")
    return decode_rows(pdfs, parse_pdf, PDF_SCHEMA, "pdf-stdlib")


_PDF_XREF_AT = {
    n: _PDF_TEMPLATES[(n, False)][0].index("xref\n0 ") for n in (1, 2, 3)
}

MULTIMODAL_PDF_SQL = f"""
SELECT doc_id AS media_id,
       CAST(3 + 2 * (doc_id % 3 + 1) AS BIGINT) AS n_objects,
       CAST(2 + 2 * (doc_id % 3 + 1) AS BIGINT) AS n_in_use,
       CAST(1 AS BIGINT) AS n_free,
       CAST(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS BIGINT) AS bad_offsets,
       CAST(doc_id % 3 + 1 AS BIGINT) AS n_pages,
       CAST(1 AS BIGINT) AS has_root,
       CAST(CASE doc_id % 3 WHEN 0 THEN {_PDF_XREF_AT[1]}
                            WHEN 1 THEN {_PDF_XREF_AT[2]}
                            ELSE {_PDF_XREF_AT[3]} END AS BIGINT) AS xref_at,
       'pdf-stdlib' AS parser
FROM documents WHERE doc_id % 6 = 1
"""

QUERIES["multimodal_pdf_xref"] = multimodal_pdf_xref
ORACLES["multimodal_pdf_xref"] = MULTIMODAL_PDF_SQL


# --- media sniff router ---------------------------------------------------------
#
# The capstone over the kernel family — the `file(1)` of this engine:
# a mixed media lake never tells you what each blob is, so the FIRST
# pass is magic-byte sniffing that routes every payload to the right
# parser.  The mixed table unions all fifteen planted builders
# (capped at doc_id < SNIFF_CAP per type to bound the bench), the
# kernel sniffs each payload (including the two non-prefix magics:
# ustar at offset 257, ftyp at offset 4) and runs the matching parser;
# the oracle pins per-type counts arithmetically from the selectors —
# one mis-sniff (RIFF-vs-WAVE, BM false positives, ID3-vs-JPEG) or a
# parser that rejects its own format breaks the hash.
#
# Scale: the sniff is O(few hundred bytes) per payload regardless of
# size; the dispatch itself is the pattern a real lake ingest runs.

SNIFF_CAP = 300

_SNIFF_BUILDERS = [
    ("wav", audio_table, "doc_id % 3 = 1"),
    ("y4m", video_table, "doc_id % 3 = 2"),
    ("tiff", tiff_table, "doc_id % 3 = 0"),
    ("png", png_table, "doc_id % 3 = 1"),
    ("id3", id3_table, "doc_id % 3 = 2"),
    ("jpeg", jpeg_table, "doc_id % 3 = 2"),
    ("gif", gif_table, "doc_id % 3 = 0"),
    ("flac", flac_table, "doc_id % 4 = 1"),
    ("bmp", bmp_table, "doc_id % 4 = 3"),
    ("zip", zip_table, "doc_id % 5 = 2"),
    ("mp4", mp4_table, "doc_id % 5 = 4"),
    ("tar", tar_table, "doc_id % 6 = 3"),
    ("pdf", pdf_table, "doc_id % 6 = 1"),
]


def sniff_media(p: bytes) -> str:
    if p[:5] == b"%PDF-":
        return "pdf"
    if p[:4] == b"RIFF" and p[8:12] == b"WAVE":
        return "wav"
    if p[:4] == b"RIFF" and p[8:12] == b"WEBP":
        return "webp"
    if p[:4] == b"OggS":
        return "ogg"
    if p[:9] == b"YUV4MPEG2":
        return "y4m"
    if p[:4] in (b"II*\x00", b"MM\x00*"):
        return "tiff"
    if p[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    if p[:3] == b"ID3":
        return "id3"
    if p[:2] == b"\xff\xd8":
        return "jpeg"
    if p[:4] == b"GIF8":
        return "gif"
    if p[:4] == b"fLaC":
        return "flac"
    if p[:4] == b"PK\x03\x04":
        return "zip"
    if p[4:8] == b"ftyp":
        return "mp4"
    if len(p) >= 263 and p[257:263] == b"ustar\x00":
        return "tar"
    if p[:2] == b"BM":
        return "bmp"
    return "unknown"


SNIFF_SCHEMA = T.StructType(
    [
        T.StructField("true_type", T.StringType()),
        T.StructField("media_id", T.LongType()),
        T.StructField("sniffed_ok", T.LongType()),
        T.StructField("parse_ok", T.LongType()),
    ]
)


def multimodal_sniff_router(spark: SparkSession, sf_dir: str) -> DataFrame:
    parsers = {
        "wav": parse_wav_header,
        "y4m": parse_y4m_stream,
        "tiff": parse_tiff_header,
        "png": parse_png,
        "id3": parse_id3,
        "jpeg": parse_jpeg,
        "gif": parse_gif,
        "flac": parse_flac,
        "bmp": parse_bmp,
        "zip": parse_zip,
        "mp4": parse_mp4,
        "tar": parse_tar,
        "pdf": parse_pdf,
        # the two kernels added after the router shipped — registered
        # into _SNIFF_BUILDERS below their plant definitions; resolved
        # here by name at call time:
        "ogg": parse_ogg,
        "webp": parse_webp_vp8l,
    }
    mixed = None
    for name, builder, _sel in _SNIFF_BUILDERS:
        t = (
            builder(spark, sf_dir)
            .where(F.col("media_id") < SNIFF_CAP)
            .select(F.lit(name).alias("true_type"), "media_id", "payload")
        )
        mixed = t if mixed is None else mixed.unionByName(t)

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            for start in range(0, len(pdf), MAX_BATCH_ROWS):
                part = pdf.iloc[start : start + MAX_BATCH_ROWS]
                rows = []
                for tt, mid, payload in zip(
                    part["true_type"], part["media_id"], part["payload"]
                ):
                    b = bytes(payload)
                    sniffed = sniff_media(b)
                    # Same untrusted-bytes guard as the file intake
                    # (sources/binaryfiles.py): a sniffable-but-malformed
                    # payload that makes a kernel RAISE is a parse_ok=0
                    # row, never a batch-killing exception.
                    ok = 0
                    if sniffed in parsers:
                        try:
                            ok = 1 if parsers[sniffed](b) is not None else 0
                        except Exception:  # noqa: BLE001 — quarantine, not crash
                            ok = 0
                    rows.append(
                        {
                            "true_type": tt,
                            "media_id": int(mid),
                            "sniffed_ok": 1 if sniffed == tt else 0,
                            "parse_ok": ok,
                        }
                    )
                cols = [f.name for f in SNIFF_SCHEMA.fields]
                yield pd.DataFrame(rows, columns=cols).astype(
                    {c: "int64" for c in cols if c not in ("true_type",)}
                )

    routed = mixed.mapInPandas(fn, SNIFF_SCHEMA)
    return routed.groupBy("true_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum("sniffed_ok").cast("bigint").alias("sniffed_correct"),
        F.sum("parse_ok").cast("bigint").alias("parsed_ok"),
    )


def _sniff_oracle_sql() -> str:
    """Per-type count pins from the builder selectors — regenerated
    whenever a late kernel registers into _SNIFF_BUILDERS."""
    return (
        "WITH counts AS ("
        + " UNION ALL ".join(
            f"SELECT '{name}' AS true_type, count(*)::BIGINT AS n FROM documents"
            f" WHERE {sel} AND doc_id < {SNIFF_CAP}"
            for name, _b, sel in _SNIFF_BUILDERS
        )
        + """)
SELECT true_type, n AS n_items, n AS sniffed_correct, n AS parsed_ok
FROM counts
"""
    )


QUERIES["multimodal_sniff_router"] = multimodal_sniff_router
ORACLES["multimodal_sniff_router"] = _sniff_oracle_sql()


# --- Ogg page walk: lacing-value packet reassembly -------------------------------
#
# Fourteenth container kernel (public spec: RFC 3533 / xiph.org Ogg).
# The pitfall this one exists for is the LACING TABLE: packet sizes
# are encoded as runs of 255-valued lacing bytes terminated by a byte
# < 255 — so a packet of exactly 255·k bytes ends with a ZERO lacing
# byte, and a parser that drops zero lacing values (or counts lacing
# bytes instead of terminations) miscounts every such packet. Planted
# streams are 3 pages (BOS / data / EOS header flags), 4 packets, one
# of them straddling the 255 boundary with remainder media_id % 50
# (remainder 0 exercises the zero-lacing edge); granule positions and
# the bitstream serial are little-endian 64/32-bit fields the parser
# must byte-swap. Page CRCs are REAL: Ogg uses its own CRC-32 —
# polynomial 0x04C11DB7 applied MSB-first (non-reflected), init 0, no
# final xor, over the whole page with the CRC field zeroed — which is
# NOT zlib's reflected crc32, so F.crc32 cannot plant it; instead the
# plant computes it JVM-side as an F.aggregate byte fold against the
# 256-entry table and the kernel re-verifies every page (every 7th
# doc plants page 2's CRC one bit off, counted in crc_bad).
#
# Scale: same contract as the sibling kernels — Arrow-batched
# `decode_rows`, payloads never reach the driver, oracle recomputes
# every field arithmetically from the plant parameters.

OGG_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_pages", T.LongType()),
        T.StructField("serial", T.LongType()),
        T.StructField("final_granule", T.LongType()),
        T.StructField("n_packets", T.LongType()),
        T.StructField("body_bytes", T.LongType()),
        T.StructField("bos_ok", T.LongType()),
        T.StructField("eos_ok", T.LongType()),
        T.StructField("crc_bad", T.LongType()),
        T.StructField("parser", T.StringType()),
    ]
)


def _ogg_crc_table() -> list[int]:
    """The Ogg CRC-32 lookup table: poly 0x04C11DB7, MSB-first."""
    tab = []
    for i in range(256):
        r = i << 24
        for _ in range(8):
            if r & 0x80000000:
                r = ((r << 1) ^ 0x04C11DB7) & 0xFFFFFFFF
            else:
                r = (r << 1) & 0xFFFFFFFF
        tab.append(r)
    return tab


_OGG_CRC_TAB = _ogg_crc_table()


def _ogg_crc(data: bytes) -> int:
    crc = 0
    for b in data:
        crc = ((crc << 8) & 0xFFFFFFFF) ^ _OGG_CRC_TAB[((crc >> 24) ^ b) & 0xFF]
    return crc


def _le_hex_expr(val_expr: str, n_bytes: int) -> str:
    """Spark SQL expr: little-endian hex of an integer column expr."""
    parts = [
        f"format_string('%02X', cast(({val_expr}) div {256 ** i} % 256 as int))"
        for i in range(n_bytes)
    ]
    return "concat(" + ", ".join(parts) + ")"


@_plant
def ogg_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, payload): Ogg-typed media items as real OggS pages."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 4 == 2)
    # packet sizes: s1 = doc_id%155+100 (<255, one lacing byte);
    # s2 = 255 + doc_id%50 ([255, r] lacing pair, r=0 is the zero-lacing
    # edge); s3 = doc_id%80+10; s4 = 5. Serial = doc_id%1000+777000.
    # one expr string per page (keeps the hex plant readable)
    page1 = F.concat(
        F.lit("4F67675300" + "02"),
        F.expr(_le_hex_expr("0", 8)),
        F.expr(_le_hex_expr("doc_id % 1000 + 777000", 4)),
        F.expr(_le_hex_expr("0", 4)),
        F.lit("00000000"),  # CRC planted zero
        F.lit("03"),        # 3 lacing values: [s1, 255, s2r]
        F.expr("format_string('%02X', cast(doc_id % 155 + 100 as int))"),
        F.lit("FF"),
        F.expr("format_string('%02X', cast(doc_id % 50 as int))"),
        F.expr("repeat('AB', cast(doc_id % 155 + 100 + 255 + doc_id % 50 as int))"),
    )
    page2 = F.concat(
        F.lit("4F67675300" + "00"),
        F.expr(_le_hex_expr("doc_id % 9000 + 4000", 8)),
        F.expr(_le_hex_expr("doc_id % 1000 + 777000", 4)),
        F.expr(_le_hex_expr("1", 4)),
        F.lit("00000000"),
        F.lit("01"),
        F.expr("format_string('%02X', cast(doc_id % 80 + 10 as int))"),
        F.expr("repeat('AB', cast(doc_id % 80 + 10 as int))"),
    )
    page3 = F.concat(
        F.lit("4F67675300" + "04"),
        F.expr(_le_hex_expr("doc_id % 9000 + 5000", 8)),
        F.expr(_le_hex_expr("doc_id % 1000 + 777000", 4)),
        F.expr(_le_hex_expr("2", 4)),
        F.lit("00000000"),
        F.lit("01" + "05"),
        F.expr("repeat('AB', 5)"),
    )
    # plant REAL page CRCs: project the zero-CRC page hexes, fold each
    # page's bytes through the Ogg table JVM-side, then splice the LE
    # CRC into hex chars 45-52 (byte offset 22). Hexes and byte arrays
    # are materialized as columns BEFORE the lambdas reference them —
    # compound expressions inside higher-order lambdas re-evaluate per
    # element.
    tab_sql = "array(" + ",".join(f"{v}L" for v in _OGG_CRC_TAB) + ")"
    staged = docs.select(
        "doc_id", page1.alias("h1"), page2.alias("h2"), page3.alias("h3")
    )
    staged = staged.select(
        "doc_id",
        "h1",
        "h2",
        "h3",
        *[
            F.expr(
                f"transform(sequence(1, length(h{k}) div 2), i -> "
                f"cast(conv(substring(h{k}, (i-1)*2+1, 2), 16, 10) as bigint))"
            ).alias(f"b{k}")
            for k in (1, 2, 3)
        ],
        # the 256-entry CRC table is materialized ONCE per row here —
        # inlining it in the fold lambda rebuilds the array literal per
        # BYTE under interpreted evaluation (~550×256 ops/page, a 9x
        # bench regression when first measured):
        F.expr(tab_sql).alias("oggtab"),
    )
    staged = staged.select(
        "doc_id",
        "h1",
        "h2",
        "h3",
        *[
            F.expr(
                # shiftleft(crc & 0xFFFFFF, 8) == (crc*256) mod 2^32 and
                # shiftright(crc, 24) is already < 256 — shift/mask keep
                # the interpreted per-byte step as small as possible
                f"aggregate(b{k}, 0L, (crc, b) -> "
                f"shiftleft(crc & 16777215L, 8) ^ "
                f"element_at(oggtab, cast(shiftright(crc, 24) ^ b as int) + 1))"
            ).alias(f"crc{k}")
            for k in (1, 2, 3)
        ],
    )
    # every 7th doc: page 2's stored CRC one bit off (kernel must count it)
    staged = staged.withColumn(
        "crc2",
        F.when(F.col("doc_id") % 7 == 0, F.expr("crc2 ^ 1L")).otherwise(F.col("crc2")),
    )

    def splice(h: str, crc: str):
        le = F.concat(
            *[
                F.format_string(
                    "%02X", F.expr(f"cast(({crc} div {256 ** i}) % 256 as int)")
                )
                for i in range(4)
            ]
        )
        return F.concat(
            F.substring(F.col(h), 1, 44), le, F.expr(f"substring({h}, 53)")
        )

    payload = F.unhex(
        F.concat(splice("h1", "crc1"), splice("h2", "crc2"), splice("h3", "crc3"))
    )
    return staged.select(F.col("doc_id").alias("media_id"), payload.alias("payload"))


def parse_ogg(payload: bytes) -> dict | None:
    """OggS page walk: LE field decode + lacing-table packet
    reassembly; None for non-Ogg bytes."""
    if len(payload) < 27 or payload[:4] != b"OggS":
        return None
    pos = 0
    n_pages = n_packets = body_bytes = crc_bad = 0
    serial = granule = None
    first_flags = last_flags = 0
    while pos + 27 <= len(payload):
        if payload[pos : pos + 4] != b"OggS" or payload[pos + 4] != 0:
            return None
        flags = payload[pos + 5]
        granule = int.from_bytes(payload[pos + 6 : pos + 14], "little")
        page_serial = int.from_bytes(payload[pos + 14 : pos + 18], "little")
        serial = page_serial if serial is None else serial
        if page_serial != serial:
            return None  # single logical stream planted
        nseg = payload[pos + 26]
        lacing = payload[pos + 27 : pos + 27 + nseg]
        if len(lacing) < nseg:
            return None
        blen = sum(lacing)
        # a lacing value < 255 TERMINATES a packet (255*k-byte packets
        # end with a zero lacing value — count terminations, not bytes)
        n_packets += sum(1 for v in lacing if v < 255)
        body_bytes += blen
        if n_pages == 0:
            first_flags = flags
        last_flags = flags
        # Ogg CRC-32 (0x04C11DB7, MSB-first, init 0) over the full page
        # with the CRC field zeroed:
        page = payload[pos : pos + 27 + nseg + blen]
        stored_crc = int.from_bytes(page[22:26], "little")
        if _ogg_crc(page[:22] + b"\x00\x00\x00\x00" + page[26:]) != stored_crc:
            crc_bad += 1
        n_pages += 1
        pos += 27 + nseg + blen
    if pos != len(payload):
        return None
    return {
        "n_pages": n_pages,
        "serial": serial,
        "final_granule": granule,
        "n_packets": n_packets,
        "body_bytes": body_bytes,
        "bos_ok": 1 if first_flags & 0x02 else 0,
        "eos_ok": 1 if last_flags & 0x04 else 0,
        "crc_bad": crc_bad,
    }


def multimodal_ogg_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched Ogg page walk over the planted media items."""
    oggs = ogg_table(spark, sf_dir).select("media_id", "payload")
    return decode_rows(oggs, parse_ogg, OGG_SCHEMA, "ogg-stdlib")


MULTIMODAL_OGG_SQL = """
SELECT doc_id AS media_id,
       CAST(3 AS BIGINT) AS n_pages,
       CAST(doc_id % 1000 + 777000 AS BIGINT) AS serial,
       CAST(doc_id % 9000 + 5000 AS BIGINT) AS final_granule,
       CAST(4 AS BIGINT) AS n_packets,
       CAST((doc_id % 155 + 100) + (255 + doc_id % 50) + (doc_id % 80 + 10) + 5 AS BIGINT)
         AS body_bytes,
       CAST(1 AS BIGINT) AS bos_ok,
       CAST(1 AS BIGINT) AS eos_ok,
       CAST(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS BIGINT) AS crc_bad,
       'ogg-stdlib' AS parser
FROM documents WHERE doc_id % 4 = 2
"""

QUERIES["multimodal_ogg_pages"] = multimodal_ogg_pages
ORACLES["multimodal_ogg_pages"] = MULTIMODAL_OGG_SQL


# --- WebP VP8L header: LSB-first bit packing ------------------------------------------
#
# Fifteenth container kernel (public spec: RIFF WebP container +
# VP8L lossless bitstream, Google). The pitfall this one exists for is
# BIT ORDER, not byte order: VP8L packs width-1 (14 bits), height-1
# (14 bits), alpha (1) and version (3) LSB-FIRST across four bytes —
# the exact mirror of FLAC's MSB-first STREAMINFO pack already in the
# family. Read the 4 bytes as a little-endian uint32 and extract with
# shifts; a reader applying FLAC-style big-endian bit peeling gets
# both dimensions wrong on every file. Plant also exercises the RIFF
# framing (riff_size = payload after the 8-byte header; chunk size =
# VP8L body) the sniff router family already walks for WAV.
#
# Scale: same contract as the sibling kernels.

WEBP_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("has_alpha", T.LongType()),
        T.StructField("vp8l_version", T.LongType()),
        T.StructField("riff_size", T.LongType()),
        T.StructField("parser", T.StringType()),
    ]
)


@_plant
def webp_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, payload): WebP/VP8L-typed media items as real bytes."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 4 == 0)
    # packed = (w-1) | (h-1)<<14 | alpha<<28 | version(0)<<29, LE bytes
    packed = (
        "(doc_id % 2000 + 15)"
        " + (doc_id % 1500 + 15) * 16384"
        " + (doc_id % 2) * 268435456"
    )
    body_hex = F.concat(F.lit("2F"), F.expr(_le_hex_expr(packed, 4)))
    # riff_size covers 'WEBP' + chunk header + body + pad = 4 + 8 + 5 + 1
    # = 18: RIFF chunks are padded to EVEN length, so the odd (5-byte)
    # VP8L body carries a 0x00 pad byte that is NOT counted in the chunk
    # size (still 5) but IS counted in the RIFF size — spec-conformant
    # framing a strict RIFF walker would reject otherwise.
    payload = F.unhex(
        F.concat(
            F.lit("52494646"),                      # RIFF
            F.expr(_le_hex_expr("18", 4)),          # riff size = 18
            F.lit("57454250"),                      # WEBP
            F.lit("5650384C"),                      # VP8L
            F.expr(_le_hex_expr("5", 4)),           # chunk size = 5
            body_hex,
            F.lit("00"),                            # RIFF even-length pad
        )
    )
    return docs.select(F.col("doc_id").alias("media_id"), payload.alias("payload"))


def parse_webp_vp8l(payload: bytes) -> dict | None:
    """RIFF/WEBP framing + VP8L LSB-first header decode; None for
    non-WebP bytes."""
    if len(payload) < 25 or payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        return None
    riff_size = int.from_bytes(payload[4:8], "little")
    if payload[12:16] != b"VP8L" or payload[20] != 0x2F:
        return None
    u32 = int.from_bytes(payload[21:25], "little")
    return {
        "width": (u32 & 0x3FFF) + 1,
        "height": ((u32 >> 14) & 0x3FFF) + 1,
        "has_alpha": (u32 >> 28) & 1,
        "vp8l_version": (u32 >> 29) & 0x7,
        "riff_size": riff_size,
    }


def multimodal_webp_vp8l(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched WebP/VP8L header walk over the planted media."""
    webps = webp_table(spark, sf_dir).select("media_id", "payload")
    return decode_rows(webps, parse_webp_vp8l, WEBP_SCHEMA, "webp-stdlib")


MULTIMODAL_WEBP_SQL = """
SELECT doc_id AS media_id,
       CAST(doc_id % 2000 + 16 AS BIGINT) AS width,
       CAST(doc_id % 1500 + 16 AS BIGINT) AS height,
       CAST(doc_id % 2 AS BIGINT) AS has_alpha,
       CAST(0 AS BIGINT) AS vp8l_version,
       CAST(18 AS BIGINT) AS riff_size,
       'webp-stdlib' AS parser
FROM documents WHERE doc_id % 4 = 0
"""

QUERIES["multimodal_webp_vp8l"] = multimodal_webp_vp8l
ORACLES["multimodal_webp_vp8l"] = MULTIMODAL_WEBP_SQL


# Register the Ogg and WebP kernels with the sniff router (they were
# built after it shipped) and regenerate its count-pin oracle so the
# routed family is the full 15-kernel set.
_SNIFF_BUILDERS.append(("ogg", ogg_table, "doc_id % 4 = 2"))
_SNIFF_BUILDERS.append(("webp", webp_table, "doc_id % 4 = 0"))
ORACLES["multimodal_sniff_router"] = _sniff_oracle_sql()


# --- PDF text extraction: content-stream BT/Tj/TJ/ET walk ------------------------
#
# Sixteenth kernel — the CONTENT half of the reference's pdf -> markdown
# stage (`semantic search - ey prep/stage_00_pdf_to_markdown.py`;
# `catalog search/stage2_process_documents.py:331
# analyze_document_with_di` both consume per-page TEXT, not structure;
# the sibling `multimodal_pdf_xref` covers the structural half).  The
# kernel navigates trailer -> /Root -> /Pages -> /Kids and extracts
# text from each page's uncompressed content stream by executing the
# text operators: `(literal) Tj` with PDF escapes (\( \) \\ and octal
# \ddd), `<hex> Tj`, and `[(s) kern (s)] TJ` arrays whose numeric
# elements are kerning adjustments.  Three pitfalls are planted:
# (1) page objects are stored in REVERSE file order while /Kids lists
# logical order — a parser that concatenates streams in file order
# gets the page order (and the md5) wrong on every multi-page doc;
# (2) the TJ array opens with an octal-escaped literal and embeds an
# escaped ')' mid-string — naive paren-splitting truncates it;
# (3) every 7th doc plants /Length one byte high on page 0's stream —
# counted, and extraction must key off the stream/endstream delimiters
# rather than trusting /Length.
#
# Scale: same contract as the sibling kernels — Arrow-batched
# `decode_rows`, payloads never reach the driver, and the oracle
# recomputes every field (including the extracted-text md5) purely
# arithmetically from the plant parameters.

_PDF_TEXT_MARKS = {p: f"PDFTEXTMARKPAGE{p}" + "X" * 16 for p in range(3)}


def _pdf_text_stream(p: int) -> str:
    """The page-p content stream (fixed width: mark is 32 chars, font
    names /F1 and /F2 are the same width)."""
    font = "/F1 12 Tf" if p % 2 == 0 else "/F2 10 Tf"
    return (
        "BT\n"
        f"{font}\n"
        "72 720 Td\n"
        f"(Page {_PDF_TEXT_MARKS[p]}) Tj\n"
        "0 -14 Td\n"
        "[(\\101B) -250 (C\\)D) 180 (E)] TJ\n"
        "<414243> Tj\n"
        "ET"
    )


def _pdf_text_skeleton(n_pages: int, corrupt_len: bool) -> str:
    """Full PDF with per-page text streams; page/content objects are
    written in REVERSE page order while /Kids stays logical order."""
    stream_len = len(_pdf_text_stream(0))
    assert len(str(stream_len)) == len(str(stream_len + 1))  # fixed-width corrupt
    objs: list[tuple[int, str]] = []
    objs.append((1, "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"))
    kids = " ".join(f"{3 + 2 * p} 0 R" for p in range(n_pages))
    objs.append(
        (2, f"2 0 obj\n<< /Type /Pages /Count {n_pages} /Kids [{kids}] >>\nendobj\n")
    )
    for p in reversed(range(n_pages)):  # REVERSE file order
        objs.append(
            (
                3 + 2 * p,
                f"{3 + 2 * p} 0 obj\n<< /Type /Page /Parent 2 0 R "
                f"/Contents {4 + 2 * p} 0 R >>\nendobj\n",
            )
        )
        stored = stream_len + (1 if (corrupt_len and p == 0) else 0)
        objs.append(
            (
                4 + 2 * p,
                f"{4 + 2 * p} 0 obj\n<< /Length {stored} >>\nstream\n"
                f"{_pdf_text_stream(p)}\nendstream\nendobj\n",
            )
        )
    header = "%PDF-1.4\n"
    pos = len(header)
    offsets: dict[int, int] = {}
    for num, o in objs:
        offsets[num] = pos
        pos += len(o)
    xref_at = pos
    n_obj = len(objs) + 1
    xref = f"xref\n0 {n_obj}\n" + "0000000000 65535 f \n"
    for num in sorted(offsets):
        xref += f"{offsets[num]:010d} 00000 n \n"
    trailer = f"trailer\n<< /Size {n_obj} /Root 1 0 R >>\nstartxref\n{xref_at}\n%%EOF"
    return header + "".join(o for _n, o in objs) + xref + trailer


_PDF_TEXT_TEMPLATES = {
    (n, c): _pdf_text_skeleton(n, c) for n in (1, 2, 3) for c in (False, True)
}


@_plant
def pdf_text_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, payload): text-bearing PDFs; per-doc per-page text is
    spliced into the fixed-width mark slots."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 6 == 5)
    n = F.col("doc_id") % 3 + 1
    bad = F.col("doc_id") % 7 == 0
    tmpl = None
    for np in (1, 2, 3):
        for c in (False, True):
            t = F.lit(_PDF_TEXT_TEMPLATES[(np, c)])
            cond = (n == np) & (bad if c else ~bad)
            tmpl = t if tmpl is None else F.when(cond, t).otherwise(tmpl)
    for p in range(3):
        mark = F.md5(
            F.concat(F.col("doc_id").cast("string"), F.lit(f":pdftext:{p}"))
        )
        tmpl = F.replace(tmpl, F.lit(_PDF_TEXT_MARKS[p]), mark)
    return docs.select(
        F.col("doc_id").alias("media_id"), F.encode(tmpl, "utf-8").alias("payload")
    )


def _pdf_unescape(body: str) -> str:
    """PDF string-literal unescape: \\( \\) \\\\ \\n \\r \\t and octal \\ddd."""
    out = []
    i = 0
    while i < len(body):
        ch = body[i]
        if ch != "\\":
            out.append(ch)
            i += 1
            continue
        i += 1
        if i >= len(body):
            break
        nxt = body[i]
        if nxt.isdigit():
            oct_digits = body[i : i + 3]
            k = 0
            while k < len(oct_digits) and oct_digits[k].isdigit():
                k += 1
            out.append(chr(int(body[i : i + k], 8)))
            i += k
        else:
            out.append({"n": "\n", "r": "\r", "t": "\t"}.get(nxt, nxt))
            i += 1
    return "".join(out)


def _pdf_text_tokens(stream: str):
    """Walk a content stream, yielding ('str', text) / ('num', v) /
    ('op', name) tokens with escape-aware literal scanning."""
    i = 0
    n = len(stream)
    while i < n:
        ch = stream[i]
        if ch == "(":
            j = i + 1
            buf = []
            while j < n:
                if stream[j] == "\\":
                    buf.append(stream[j : j + 2])
                    j += 2
                    continue
                if stream[j] == ")":
                    break
                buf.append(stream[j])
                j += 1
            yield ("str", _pdf_unescape("".join(buf)))
            i = j + 1
        elif ch == "<":
            j = stream.index(">", i)
            hx = stream[i + 1 : j]
            yield ("str", bytes.fromhex(hx).decode("latin-1"))
            i = j + 1
        elif ch in "-0123456789":
            j = i
            while j < n and stream[j] in "-0123456789.":
                j += 1
            yield ("num", float(stream[i:j]))
            i = j
        elif ch.isalpha() or ch == "/" or ch == "'":
            j = i
            while j < n and not stream[j].isspace() and stream[j] not in "()<>[]":
                j += 1
            yield ("op", stream[i:j])
            i = j
        else:
            i += 1  # whitespace, [ ]


def parse_pdf_text(payload: bytes) -> dict | None:
    """trailer -> /Root -> /Pages -> /Kids walk, then per-page text-
    operator execution over the uncompressed content streams."""
    import hashlib
    import re

    if not payload.startswith(b"%PDF-"):
        return None
    text = payload.decode("latin-1")
    root = re.search(r"/Root\s+(\d+)\s+0\s+R", text)
    if not root:
        return None

    def obj_body(num: int) -> str | None:
        m = re.search(rf"(?<![0-9]){num} 0 obj\n(.*?)endobj\n", text, re.S)
        return m.group(1) if m else None

    catalog = obj_body(int(root.group(1)))
    if catalog is None:
        return None
    pages_ref = re.search(r"/Pages\s+(\d+)\s+0\s+R", catalog)
    pages = obj_body(int(pages_ref.group(1)))
    kids = re.search(r"/Kids\s*\[([^\]]*)\]", pages)
    kid_nums = [int(k) for k in re.findall(r"(\d+)\s+0\s+R", kids.group(1))]

    n_text_ops = n_td = length_bad = 0
    kern_sum = 0.0
    fonts = set()
    page_texts = []
    for kid in kid_nums:
        page = obj_body(kid)
        cref = re.search(r"/Contents\s+(\d+)\s+0\s+R", page)
        cbody = obj_body(int(cref.group(1)))
        stored_len = int(re.search(r"/Length\s+(\d+)", cbody).group(1))
        sm = re.search(r"stream\n(.*?)\nendstream", cbody, re.S)
        stream = sm.group(1)
        if stored_len != len(stream):
            length_bad += 1
        buf = []
        pending: list[str] = []
        for kind, val in _pdf_text_tokens(stream):
            if kind == "str":
                pending.append(val)
            elif kind == "num":
                pending.append(val)
            elif kind == "op":
                if val == "Tj":
                    buf.extend(str(s) for s in pending if isinstance(s, str))
                    n_text_ops += 1
                elif val == "TJ":
                    for item in pending:
                        if isinstance(item, str):
                            buf.append(item)
                        else:
                            kern_sum += item
                    n_text_ops += 1
                elif val == "Td":
                    n_td += 1
                elif val == "Tf":
                    fonts.add(pending[0] if pending and isinstance(pending[0], str) else "")
                pending = []
        # fonts arrive as /F1-style name tokens (ops), not strings — track
        # them from the token stream directly:
        fonts.update(m for m in re.findall(r"/F\d+", stream))
        page_texts.append("".join(buf))
    doc_text = "\n".join(page_texts)
    return {
        "n_pages": len(kid_nums),
        "n_text_ops": n_text_ops,
        "n_td": n_td,
        "n_fonts": len([f for f in fonts if f.startswith("/F")]),
        "kern_sum": int(kern_sum),
        "length_bad": length_bad,
        "total_chars": len(doc_text) - (len(page_texts) - 1),  # exclude joiners
        "text_md5": hashlib.md5(doc_text.encode()).hexdigest(),
    }


PDF_TEXT_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_pages", T.LongType()),
        T.StructField("n_text_ops", T.LongType()),
        T.StructField("n_td", T.LongType()),
        T.StructField("n_fonts", T.LongType()),
        T.StructField("kern_sum", T.LongType()),
        T.StructField("length_bad", T.LongType()),
        T.StructField("total_chars", T.LongType()),
        T.StructField("text_md5", T.StringType()),
        T.StructField("parser", T.StringType()),
    ]
)


def multimodal_pdf_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched PDF content-stream text extraction."""
    pdfs = pdf_text_table(spark, sf_dir).select("media_id", "payload")
    return decode_rows(pdfs, parse_pdf_text, PDF_TEXT_SCHEMA, "pdftext-stdlib")


# per-page extracted text: 'Page ' + 32-char md5 + TJ pieces + hex Tj
_PDF_TEXT_PAGE_SQL = (
    "'Page ' || md5(doc_id::VARCHAR || ':pdftext:' || {p}) || 'ABC)DEABC'"
)

MULTIMODAL_PDF_TEXT_SQL = f"""
SELECT doc_id AS media_id,
       CAST(doc_id % 3 + 1 AS BIGINT) AS n_pages,
       CAST(3 * (doc_id % 3 + 1) AS BIGINT) AS n_text_ops,
       CAST(2 * (doc_id % 3 + 1) AS BIGINT) AS n_td,
       CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 2 END AS BIGINT) AS n_fonts,
       CAST(-70 * (doc_id % 3 + 1) AS BIGINT) AS kern_sum,
       CAST(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS BIGINT) AS length_bad,
       CAST(46 * (doc_id % 3 + 1) AS BIGINT) AS total_chars,
       md5(CASE doc_id % 3
           WHEN 0 THEN {_PDF_TEXT_PAGE_SQL.format(p=0)}
           WHEN 1 THEN {_PDF_TEXT_PAGE_SQL.format(p=0)} || chr(10) || {_PDF_TEXT_PAGE_SQL.format(p=1)}
           ELSE {_PDF_TEXT_PAGE_SQL.format(p=0)} || chr(10) || {_PDF_TEXT_PAGE_SQL.format(p=1)}
                || chr(10) || {_PDF_TEXT_PAGE_SQL.format(p=2)}
           END) AS text_md5,
       'pdftext-stdlib' AS parser
FROM documents WHERE doc_id % 6 = 5
"""

QUERIES["multimodal_pdf_text"] = multimodal_pdf_text
ORACLES["multimodal_pdf_text"] = MULTIMODAL_PDF_TEXT_SQL


# --- OOXML content parse: word/document.xml + xl/worksheets/sheet1.xml ----------
#
# Seventeenth kernel — the CONTENT grain of the reference's docx/xlsx
# preps (`catalog search - docx prep/docx_to_pdf_prep.py`,
# `catalog search - excel prep/excel_to_pdf_prep.py` convert document
# CONTENT; `multimodal_zip_central_dir` already covers the PK
# container walk).  Planted payloads are REAL zips (stored entries,
# true CRC-32s via F.crc32) holding real OOXML parts: docx docs carry
# `word/document.xml` (w:p paragraphs × w:r runs × w:t text), xlsx
# docs carry `xl/worksheets/sheet1.xml` (dimension ref + rows of an
# sst-indexed A column and a numeric B column) plus
# `xl/sharedStrings.xml`.  The kernel opens the container with
# stdlib zipfile (which re-verifies each CRC on read) and walks the
# XML with a namespace-agnostic element walk.  Pitfalls planted:
# every 9th xlsx references one shared string OUT OF RANGE (resolved
# as #REF! and counted — Excel's own behavior), and every 11th xlsx
# declares a dimension ref one row SHORT of the actual sheetData (a
# reader that trusts /dimension instead of walking rows truncates).
#
# Scale: same contract as the sibling kernels; the oracle recomputes
# every field — including the md5 of the extracted document text /
# resolved cell grid — arithmetically from the plant parameters.

_OOXML_W_NS = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
_OOXML_S_NS = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_OOXML_MAX_P = 4   # docx paragraphs: doc_id % 4 + 1
_OOXML_MAX_R = 9   # xlsx rows: doc_id % 7 + 2 (2..8, single-digit refs)


def _ooxml_zip(entries) -> "F.Column":
    """Hex of a stored-entry zip from [(name, data_str_col), ...]."""
    locals_hex, centrals_hex = [], []
    offset = F.lit(0).cast("bigint")
    local_sizes = []
    for name, data in entries:
        crc = F.crc32(F.encode(data, "UTF-8"))
        dlen = F.length(data).cast("bigint")
        nlen = len(name)
        locals_hex.append(
            F.concat(
                F.lit("504B0304" + "1400" + "0000" + "0000" + "00000000"),
                _le32(crc), _le32(dlen), _le32(dlen), _le16(F.lit(nlen).cast("bigint")),
                F.lit("0000"), F.hex(F.lit(name)), F.hex(data),
            )
        )
        centrals_hex.append(
            F.concat(
                F.lit("504B0102" + "1400" + "1400" + "0000" + "0000" + "00000000"),
                _le32(crc), _le32(dlen), _le32(dlen), _le16(F.lit(nlen).cast("bigint")),
                F.lit("0000" + "0000" + "0000" + "0000" + "00000000"),
                _le32(offset), F.hex(F.lit(name)),
            )
        )
        local_sizes.append(F.lit(30 + nlen).cast("bigint") + dlen)
        offset = offset + local_sizes[-1]
    cd_offset = offset
    cd_size = F.lit(sum(46 + len(n) for n, _d in entries)).cast("bigint")
    n = F.lit(len(entries)).cast("bigint")
    eocd = F.concat(
        F.lit("504B0506" + "0000" + "0000"), _le16(n), _le16(n),
        _le32(cd_size), _le32(cd_offset), F.lit("0000"),
    )
    return F.concat(*locals_hex, *centrals_hex, eocd)


@_plant
def ooxml_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, payload): alternating docx / xlsx containers."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 5 == 3)
    is_docx = F.col("doc_id") % 2 == 0

    # Variable-count parts are built as transform() lambdas over a
    # sequence, NOT unrolled F.when chains: the unrolled form put the
    # whole doc_id -> payload projection in one codegen method that
    # grew past 64 KB (janino refuses, Spark falls back to interpreted
    # projection — a 4x plant slowdown when first measured).

    # docx: n_p paragraphs, 2 runs each (16+16 chars of the paragraph md5)
    n_p = F.col("doc_id") % 4 + 1
    document_xml = F.concat(
        F.lit(f'<?xml version="1.0"?><w:document xmlns:w="{_OOXML_W_NS}"><w:body>'),
        F.expr(
            "array_join(transform(sequence(0, doc_id % 4), p -> concat("
            "'<w:p><w:r><w:t>',"
            " substring(md5(concat(cast(doc_id as string), ':dx', p)), 1, 16),"
            " '</w:t></w:r><w:r><w:t>',"
            " substring(md5(concat(cast(doc_id as string), ':dx', p)), 17, 16),"
            " '</w:t></w:r></w:p>')), '')"
        ),
        F.lit("</w:body></w:document>"),
    )

    # xlsx: n_rows rows; A column = shared-string ref, B column = number
    n_rows = F.col("doc_id") % 7 + 2
    dim_short = F.col("doc_id") % 11 == 0
    dim_n = F.when(dim_short, n_rows - 1).otherwise(n_rows)
    rows_expr = F.expr(
        "array_join(transform(sequence(1, doc_id % 7 + 2), r -> concat("
        "'<row r=\"', r, '\"><c r=\"A', r, '\" t=\"s\"><v>',"
        " cast(if(r = 1 and doc_id % 9 = 0, doc_id % 7 + 2, r - 1) as string),"
        " '</v></c><c r=\"B', r, '\"><v>',"
        " cast(10000 + (doc_id * 31 + r) % 80000 as string),"
        " '</v></c></row>')), '')"
    )
    sis_expr = F.expr(
        "array_join(transform(sequence(1, doc_id % 7 + 2), r -> concat("
        "'<si><t>S', r - 1, '_',"
        " substring(md5(concat(cast(doc_id as string), ':ss', r - 1)), 1, 12),"
        " '</t></si>')), '')"
    )
    sheet_xml = F.concat(
        F.lit(f'<?xml version="1.0"?><worksheet xmlns="{_OOXML_S_NS}">'),
        F.lit('<dimension ref="A1:B'), dim_n.cast("string"), F.lit('"/><sheetData>'),
        rows_expr,
        F.lit("</sheetData></worksheet>"),
    )
    sst_xml = F.concat(
        F.lit(f'<?xml version="1.0"?><sst xmlns="{_OOXML_S_NS}" count="'),
        n_rows.cast("string"), F.lit('" uniqueCount="'), n_rows.cast("string"),
        F.lit('">'), sis_expr, F.lit("</sst>"),
    )

    docx_hex = _ooxml_zip([("word/document.xml", document_xml)])
    xlsx_hex = _ooxml_zip(
        [("xl/worksheets/sheet1.xml", sheet_xml), ("xl/sharedStrings.xml", sst_xml)]
    )
    payload = F.unhex(F.when(is_docx, docx_hex).otherwise(xlsx_hex))
    return docs.select(F.col("doc_id").alias("media_id"), payload.alias("payload"))


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def parse_ooxml(payload: bytes) -> dict | None:
    """zipfile container open (CRC re-verified on read) + namespace-
    agnostic OOXML content walk; None for non-zip bytes."""
    import hashlib
    import io
    import re
    import xml.etree.ElementTree as ET
    import zipfile

    if payload[:4] != b"PK\x03\x04":
        return None
    zf = zipfile.ZipFile(io.BytesIO(payload))
    names = set(zf.namelist())
    out = {
        "n_entries": len(names),
        "n_paragraphs": 0, "n_runs": 0, "text_chars": 0,
        "n_rows": 0, "n_cells": 0, "n_shared_strings": 0,
        "bad_sst_refs": 0, "dim_ok": 1,
    }
    if "word/document.xml" in names:
        root = ET.fromstring(zf.read("word/document.xml"))
        texts = []
        for el in root.iter():
            tag = _local(el.tag)
            if tag == "p":
                out["n_paragraphs"] += 1
            elif tag == "r":
                out["n_runs"] += 1
            elif tag == "t":
                texts.append(el.text or "")
        doc_text = "".join(texts)
        out["text_chars"] = len(doc_text)
        return {
            "kind": "docx",
            **out,
            "content_md5": hashlib.md5(doc_text.encode()).hexdigest(),
        }
    if "xl/worksheets/sheet1.xml" in names:
        sst = []
        if "xl/sharedStrings.xml" in names:
            sroot = ET.fromstring(zf.read("xl/sharedStrings.xml"))
            for si in sroot.iter():
                if _local(si.tag) == "t":
                    sst.append(si.text or "")
        out["n_shared_strings"] = len(sst)
        root = ET.fromstring(zf.read("xl/worksheets/sheet1.xml"))
        dim_ref = None
        grid = []
        max_row = 0
        for el in root.iter():
            tag = _local(el.tag)
            if tag == "dimension":
                dim_ref = el.attrib.get("ref", "")
            elif tag == "row":
                out["n_rows"] += 1
                max_row = max(max_row, int(el.attrib["r"]))
            elif tag == "c":
                out["n_cells"] += 1
                v = el.find("{%s}v" % _OOXML_S_NS)
                raw = v.text if v is not None else ""
                if el.attrib.get("t") == "s":
                    k = int(raw)
                    if 0 <= k < len(sst):
                        grid.append(sst[k])
                    else:
                        grid.append("#REF!")
                        out["bad_sst_refs"] += 1
                else:
                    grid.append(raw)
        m = re.fullmatch(r"A1:([A-Z])(\d+)", dim_ref or "")
        out["dim_ok"] = 1 if (m and m.group(1) == "B" and int(m.group(2)) == max_row) else 0
        return {
            "kind": "xlsx",
            **out,
            "content_md5": hashlib.md5("".join(grid).encode()).hexdigest(),
        }
    return None


OOXML_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_entries", T.LongType()),
        T.StructField("n_paragraphs", T.LongType()),
        T.StructField("n_runs", T.LongType()),
        T.StructField("text_chars", T.LongType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("n_cells", T.LongType()),
        T.StructField("n_shared_strings", T.LongType()),
        T.StructField("bad_sst_refs", T.LongType()),
        T.StructField("dim_ok", T.LongType()),
        T.StructField("content_md5", T.StringType()),
        T.StructField("parser", T.StringType()),
    ]
)


def multimodal_ooxml_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched OOXML content walk over the planted containers."""
    items = ooxml_table(spark, sf_dir).select("media_id", "payload")
    return decode_rows(items, parse_ooxml, OOXML_SCHEMA, "ooxml-stdlib")


def _ooxml_oracle_sql() -> str:
    # docx text = concat of the per-paragraph md5s
    docx_md5 = "CASE doc_id % 4 " + " ".join(
        f"WHEN {np - 1} THEN md5("
        + " || ".join(f"md5(doc_id::VARCHAR || ':dx{p}')" for p in range(np))
        + ")"
        for np in (1, 2, 3, 4)
    ) + " END"
    # xlsx grid = concat over rows of (resolved A string + B number)
    def cell(r):
        resolved = (
            f"CASE WHEN {r} = 1 AND doc_id % 9 = 0 THEN '#REF!' "
            f"ELSE 'S{r - 1}_' || substr(md5(doc_id::VARCHAR || ':ss{r - 1}'), 1, 12) END"
        )
        return f"({resolved} || ((10000 + (doc_id * 31 + {r}) % 80000))::VARCHAR)"

    xlsx_md5 = "CASE doc_id % 7 " + " ".join(
        f"WHEN {n - 2} THEN md5(" + " || ".join(cell(r) for r in range(1, n + 1)) + ")"
        for n in range(2, 9)
    ) + " END"
    return f"""
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 2 = 0 THEN 'docx' ELSE 'xlsx' END AS kind,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS BIGINT) AS n_entries,
       CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id % 4 + 1 ELSE 0 END AS BIGINT) AS n_paragraphs,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 2 * (doc_id % 4 + 1) ELSE 0 END AS BIGINT) AS n_runs,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 32 * (doc_id % 4 + 1) ELSE 0 END AS BIGINT) AS text_chars,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE doc_id % 7 + 2 END AS BIGINT) AS n_rows,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 2 * (doc_id % 7 + 2) END AS BIGINT) AS n_cells,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE doc_id % 7 + 2 END AS BIGINT) AS n_shared_strings,
       CAST(CASE WHEN doc_id % 2 = 1 AND doc_id % 9 = 0 THEN 1 ELSE 0 END AS BIGINT) AS bad_sst_refs,
       CAST(CASE WHEN doc_id % 2 = 1 AND doc_id % 11 = 0 THEN 0 ELSE 1 END AS BIGINT) AS dim_ok,
       CASE WHEN doc_id % 2 = 0 THEN {docx_md5} ELSE {xlsx_md5} END AS content_md5,
       'ooxml-stdlib' AS parser
FROM documents WHERE doc_id % 5 = 3
"""


QUERIES["multimodal_ooxml_parse"] = multimodal_ooxml_parse
ORACLES["multimodal_ooxml_parse"] = _ooxml_oracle_sql()


# --- PDF FlateDecode content streams: compressed text extraction -----------------
#
# Eighteenth kernel — real-world PDFs compress their content streams
# (`/Filter /FlateDecode`, i.e. zlib deflate; ISO 32000 §7.4.4): the
# uncompressed-stream walk of `multimodal_pdf_text` never touches the
# decompression step the reference's pdf→markdown stage actually pays
# (`semantic search - ey prep/stage_00_pdf_to_markdown.py` reads
# production PDFs).  Deflate output cannot be spliced per-doc the way
# fixed-width md5 slots can, so the plant uses VARIANT streams: four
# page texts are zlib-compressed ONCE at import into hex literals and
# selected by doc parity, while per-doc uniqueness lives in an
# UNCOMPRESSED /Info object (/Title is a per-doc md5 the kernel must
# also recover).  Every 5th doc plants /Filter /FlateDecode but
# CORRUPTS the first compressed byte — the kernel must catch the zlib
# error and count the page as undecodable rather than crash.
#
# Scale: same contract as the sibling kernels; oracle recomputes every
# field from import-time constants (decompressed md5s, stream byte
# counts) and plant arithmetic.

import zlib as _zlib

_PDF_FLATE_TEXTS = {
    v: (
        "BT\n/F1 12 Tf\n72 720 Td\n"
        + "".join(f"(variant {v} line {i} of deflated body) Tj\n0 -14 Td\n" for i in range(6))
        + "ET"
    )
    for v in range(4)
}
_PDF_FLATE_STREAMS = {
    v: _zlib.compress(t.encode(), 6) for v, t in _PDF_FLATE_TEXTS.items()
}


def _pdf_flate_extracted(v: int) -> str:
    """What the text-operator walk recovers from variant v's stream."""
    return "".join(f"variant {v} line {i} of deflated body" for i in range(6))


@_plant
def pdf_flate_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, payload): single-page PDFs with FlateDecode content."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 7 == 5)
    v = F.col("doc_id") % 4
    corrupt = F.col("doc_id") % 5 == 0
    title = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":flatetitle")))

    stream_hex = None
    for k in range(4):
        hexlit = F.lit(_PDF_FLATE_STREAMS[k].hex().upper())
        stream_hex = hexlit if stream_hex is None else F.when(v == k, hexlit).otherwise(stream_hex)
    # corrupt variant: first compressed byte xor 0xFF (hex-domain edit)
    first_byte = F.expr("conv(substring(sh, 1, 2), 16, 10)").cast("bigint")
    stream_len = F.expr("length(sh) div 2")

    staged = docs.select("doc_id", title.alias("title"), stream_hex.alias("sh"))
    staged = staged.select(
        "doc_id",
        "title",
        "sh",
        stream_len.alias("slen"),
        F.when(
            corrupt,
            F.concat(
                F.format_string("%02X", (first_byte.bitwiseXOR(F.lit(255))).cast("int")),
                F.expr("substring(sh, 3)"),
            ),
        )
        .otherwise(F.col("sh"))
        .alias("shc"),
    )
    # object layout: 1 catalog, 2 pages, 3 page, 4 content (flate), 5 info
    body = F.concat(
        F.lit(
            "%PDF-1.4\n"
            "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
            "2 0 obj\n<< /Type /Pages /Count 1 /Kids [3 0 R] >>\nendobj\n"
            "3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
            "4 0 obj\n<< /Length "
        ),
        F.col("slen").cast("string"),
        F.lit(" /Filter /FlateDecode >>\nstream\n"),
    )
    tail = F.concat(
        F.lit("\nendstream\nendobj\n5 0 obj\n<< /Title ("),
        F.col("title"),
        F.lit(") >>\nendobj\ntrailer\n<< /Root 1 0 R /Info 5 0 R >>\n%%EOF"),
    )
    payload = F.concat(F.encode(body, "utf-8"), F.unhex(F.col("shc")), F.encode(tail, "utf-8"))
    return staged.select(F.col("doc_id").alias("media_id"), payload.alias("payload"))


PDF_FLATE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("filtered", T.LongType()),
        T.StructField("compressed_bytes", T.LongType()),
        T.StructField("inflated_chars", T.LongType()),
        T.StructField("decode_failed", T.LongType()),
        T.StructField("n_text_ops", T.LongType()),
        T.StructField("text_md5", T.StringType()),
        T.StructField("title_md5", T.StringType()),
        T.StructField("parser", T.StringType()),
    ]
)


def parse_pdf_flate(payload: bytes) -> dict | None:
    """Locate the FlateDecode content stream (binary-safe: /Length
    delimits it, deflate bytes are NOT text), inflate, run the text-
    operator walk; recover /Title from the uncompressed Info object."""
    import hashlib
    import re
    import zlib

    if not payload.startswith(b"%PDF-"):
        return None
    m = re.search(rb"/Length (\d+) /Filter /(\w+) >>\nstream\n", payload)
    if not m:
        return None
    slen = int(m.group(1))
    filtered = 1 if m.group(2) == b"FlateDecode" else 0
    data = payload[m.end() : m.end() + slen]
    tm = re.search(rb"/Title \(([0-9a-f]{32})\)", payload)
    title = tm.group(1).decode() if tm else ""
    decode_failed = 0
    text = ""
    n_ops = 0
    try:
        stream = zlib.decompress(data).decode("latin-1")
        buf = []
        for kind, val in _pdf_text_tokens(stream):
            if kind == "str":
                buf.append(val)
            elif kind == "op" and val in ("Tj", "TJ"):
                n_ops += 1
        text = "".join(buf)
    except zlib.error:
        decode_failed = 1
    return {
        "filtered": filtered,
        "compressed_bytes": slen,
        "inflated_chars": len(text),
        "decode_failed": decode_failed,
        "n_text_ops": n_ops,
        "text_md5": hashlib.md5(text.encode()).hexdigest(),
        "title_md5": hashlib.md5(title.encode()).hexdigest(),
    }


def multimodal_pdf_flate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched FlateDecode content-stream extraction."""
    pdfs = pdf_flate_table(spark, sf_dir).select("media_id", "payload")
    return decode_rows(pdfs, parse_pdf_flate, PDF_FLATE_SCHEMA, "flate-stdlib")


def _pdf_flate_oracle_sql() -> str:
    import hashlib

    empty_md5 = hashlib.md5(b"").hexdigest()
    text_md5 = {
        v: hashlib.md5(_pdf_flate_extracted(v).encode()).hexdigest() for v in range(4)
    }
    chars = {v: len(_pdf_flate_extracted(v)) for v in range(4)}
    slen = {v: len(_PDF_FLATE_STREAMS[v]) for v in range(4)}
    ncase = lambda d: " ".join(f"WHEN {v} THEN {d[v]}" for v in range(4))
    scase = lambda d: " ".join(f"WHEN {v} THEN '{d[v]}'" for v in range(4))
    return f"""
SELECT doc_id AS media_id,
       CAST(1 AS BIGINT) AS filtered,
       CAST(CASE doc_id % 4 {ncase(slen)} END AS BIGINT) AS compressed_bytes,
       CAST(CASE WHEN doc_id % 5 = 0 THEN 0
                 ELSE CASE doc_id % 4 {ncase(chars)} END END AS BIGINT) AS inflated_chars,
       CAST(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS BIGINT) AS decode_failed,
       CAST(CASE WHEN doc_id % 5 = 0 THEN 0 ELSE 6 END AS BIGINT) AS n_text_ops,
       CASE WHEN doc_id % 5 = 0 THEN '{empty_md5}'
            ELSE CASE doc_id % 4 {scase(text_md5)} END END AS text_md5,
       md5(md5(doc_id::VARCHAR || ':flatetitle')) AS title_md5,
       'flate-stdlib' AS parser
FROM documents WHERE doc_id % 7 = 5
"""


QUERIES["multimodal_pdf_flate"] = multimodal_pdf_flate
ORACLES["multimodal_pdf_flate"] = _pdf_flate_oracle_sql()


# --- deflated ZIP entries: method 8 + CRC-over-uncompressed ----------------------
#
# Nineteenth kernel.  The stored-entry zips of `multimodal_zip_central
# _dir` / `multimodal_ooxml_parse` skip the two things every REAL docx
# does (PKWARE APPNOTE §4.4.5): entries are DEFLATE-compressed
# (method 8, raw deflate — no zlib header, wbits -15), and the entry
# CRC-32 is computed over the UNCOMPRESSED data — a walker that CRCs
# the stored bytes validates nothing.  Variant payloads are deflated
# once at import (same device as the FlateDecode PDF kernel); each
# container carries one stored per-doc entry (uniqueness) and one
# deflated variant entry; the kernel opens it with stdlib zipfile
# (which inflates AND re-verifies the CRC on read) and pins methods,
# both size fields, the compression ratio and both content md5s.
#
# Scale: same contract as the sibling kernels.

_ZDEF_TEXTS = {
    v: ("<doc v='%d'>" % v) + " ".join(f"line {i} of deflated entry body" for i in range(12)) + "</doc>"
    for v in range(4)
}


def _zdef_raw_deflate(data: bytes) -> bytes:
    c = _zlib.compressobj(9, _zlib.DEFLATED, -15)
    return c.compress(data) + c.flush()


_ZDEF_STREAMS = {v: _zdef_raw_deflate(t.encode()) for v, t in _ZDEF_TEXTS.items()}
_ZDEF_CRCS = {v: _zlib.crc32(t.encode()) for v, t in _ZDEF_TEXTS.items()}


@_plant
def zip_deflate_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, payload): two-entry zips — stored meta + deflated body."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 8 == 7)
    v = F.col("doc_id") % 4
    meta = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":zdefmeta")))

    def pick(table: dict, fmt):
        e = None
        for k in range(4):
            lit = F.lit(fmt(table[k]))
            e = lit if e is None else F.when(v == k, lit).otherwise(e)
        return e

    comp_hex = pick(_ZDEF_STREAMS, lambda b: b.hex().upper())
    comp_len = pick(_ZDEF_STREAMS, len)
    uncomp_len = pick(_ZDEF_TEXTS, lambda t: len(t))
    body_crc = pick(_ZDEF_CRCS, lambda c: c)

    def entry(name, method_hex, crc, clen, ulen, data_hex, offset):
        nlen = len(name)
        local = F.concat(
            F.lit("504B0304" + "1400" + "0000"), F.lit(method_hex),
            F.lit("00000000"), _le32(crc), _le32(clen), _le32(ulen),
            _le16(F.lit(nlen).cast("bigint")), F.lit("0000"),
            F.hex(F.lit(name)), data_hex,
        )
        central = F.concat(
            F.lit("504B0102" + "1400" + "1400" + "0000"), F.lit(method_hex),
            F.lit("00000000"), _le32(crc), _le32(clen), _le32(ulen),
            _le16(F.lit(nlen).cast("bigint")),
            F.lit("0000" + "0000" + "0000" + "0000" + "00000000"),
            _le32(offset), F.hex(F.lit(name)),
        )
        size = F.lit(30 + nlen).cast("bigint") + clen
        return local, central, size

    meta_crc = F.crc32(F.encode(meta, "UTF-8"))
    l0, c0, sz0 = entry(
        "meta.txt", "0000", meta_crc,
        F.lit(32).cast("bigint"), F.lit(32).cast("bigint"), F.hex(meta), F.lit(0).cast("bigint"),
    )
    l1, c1, sz1 = entry(
        "content.xml", "0800", body_crc.cast("bigint"),
        comp_len.cast("bigint"), uncomp_len.cast("bigint"), comp_hex, sz0,
    )
    cd_offset = sz0 + sz1
    cd_size = F.lit((46 + len("meta.txt")) + (46 + len("content.xml"))).cast("bigint")
    eocd = F.concat(
        F.lit("504B0506" + "0000" + "0000"),
        _le16(F.lit(2).cast("bigint")), _le16(F.lit(2).cast("bigint")),
        _le32(cd_size), _le32(cd_offset), F.lit("0000"),
    )
    payload = F.unhex(F.concat(l0, l1, c0, c1, eocd))
    return docs.select(F.col("doc_id").alias("media_id"), payload.alias("payload"))


ZDEF_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_entries", T.LongType()),
        T.StructField("stored_ok", T.LongType()),
        T.StructField("deflated_ok", T.LongType()),
        T.StructField("comp_bytes", T.LongType()),
        T.StructField("uncomp_bytes", T.LongType()),
        T.StructField("ratio_milli", T.LongType()),
        T.StructField("crc_bad", T.LongType()),
        T.StructField("content_md5", T.StringType()),
        T.StructField("meta_md5", T.StringType()),
        T.StructField("parser", T.StringType()),
    ]
)


def parse_zip_deflate(payload: bytes) -> dict | None:
    """stdlib zipfile open — inflating method-8 entries re-verifies the
    CRC over the UNCOMPRESSED bytes on read.  A corrupt deflate body is
    COUNTED (``crc_bad``), never raised, matching the FlateDecode/PNG
    kernels' corrupt-byte-recovery contract — one bad payload must not
    kill the whole decode task."""
    import hashlib
    import io
    import zipfile
    import zlib

    if payload[:4] != b"PK\x03\x04":
        return None
    try:
        zf = zipfile.ZipFile(io.BytesIO(payload))
        infos = {i.filename: i for i in zf.infolist()}
        ci = infos["content.xml"]
        meta = zf.read("meta.txt")
        content = zf.read("content.xml")  # raises BadZipFile on CRC mismatch
        crc_bad = 0
    except (zipfile.BadZipFile, zlib.error, KeyError):
        return {
            "n_entries": 0,
            "stored_ok": 0,
            "deflated_ok": 0,
            "comp_bytes": 0,
            "uncomp_bytes": 0,
            "ratio_milli": 0,
            "crc_bad": 1,
            "content_md5": hashlib.md5(b"").hexdigest(),
            "meta_md5": hashlib.md5(b"").hexdigest(),
        }
    return {
        "n_entries": len(infos),
        "stored_ok": 1 if infos["meta.txt"].compress_type == zipfile.ZIP_STORED else 0,
        "deflated_ok": 1 if ci.compress_type == zipfile.ZIP_DEFLATED else 0,
        "comp_bytes": ci.compress_size,
        "uncomp_bytes": ci.file_size,
        "ratio_milli": ci.compress_size * 1000 // ci.file_size,
        "crc_bad": crc_bad,
        "content_md5": hashlib.md5(content).hexdigest(),
        "meta_md5": hashlib.md5(meta).hexdigest(),
    }


def multimodal_zip_deflate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched deflated-zip walk over the planted containers."""
    zips = zip_deflate_table(spark, sf_dir).select("media_id", "payload")
    return decode_rows(zips, parse_zip_deflate, ZDEF_SCHEMA, "zipdef-stdlib")


def _zdef_oracle_sql() -> str:
    import hashlib

    md5s = {v: hashlib.md5(t.encode()).hexdigest() for v, t in _ZDEF_TEXTS.items()}
    clen = {v: len(_ZDEF_STREAMS[v]) for v in range(4)}
    ulen = {v: len(_ZDEF_TEXTS[v]) for v in range(4)}
    ncase = lambda d: " ".join(f"WHEN {v} THEN {d[v]}" for v in range(4))
    scase = lambda d: " ".join(f"WHEN {v} THEN '{d[v]}'" for v in range(4))
    ratio = {v: clen[v] * 1000 // ulen[v] for v in range(4)}
    return f"""
SELECT doc_id AS media_id,
       CAST(2 AS BIGINT) AS n_entries,
       CAST(1 AS BIGINT) AS stored_ok,
       CAST(1 AS BIGINT) AS deflated_ok,
       CAST(CASE doc_id % 4 {ncase(clen)} END AS BIGINT) AS comp_bytes,
       CAST(CASE doc_id % 4 {ncase(ulen)} END AS BIGINT) AS uncomp_bytes,
       CAST(CASE doc_id % 4 {ncase(ratio)} END AS BIGINT) AS ratio_milli,
       CAST(0 AS BIGINT) AS crc_bad,
       CASE doc_id % 4 {scase(md5s)} END AS content_md5,
       md5(md5(doc_id::VARCHAR || ':zdefmeta')) AS meta_md5,
       'zipdef-stdlib' AS parser
FROM documents WHERE doc_id % 8 = 7
"""


QUERIES["multimodal_zip_deflate"] = multimodal_zip_deflate
ORACLES["multimodal_zip_deflate"] = _zdef_oracle_sql()


# --- merged-PDF write-side kernel (pdf-prep stage_00 WRITE grain) -------------
#
# Reference parity: `semantic search - iasb prep/stage_00_pdf_merger.py:302`
# ``merge_pdf_group`` — PdfWriter appends every page of every source in
# filename order and writes ONE merged PDF per group.  ``pdf_merge_plan``
# (operators/catalog.py) covers the grouping/ordering metadata grain;
# this kernel closes the WRITE side: the merged document itself —
# catalog, pages tree, per-source outline (bookmark) chain, page
# objects, and a byte-exact xref table — is emitted in-query from the
# group parameters, then a stdlib walker re-opens the bytes and
# verifies every xref offset lands on its object, the pages /Count
# matches the page-object census, and the /First->/Next bookmark chain
# is complete.  Every object class is FIXED WIDTH (zero-padded refs,
# rpadded titles), so every offset is an affine function of (S sources,
# P pages) and the DuckDB oracle can predict all fields — including
# total file bytes — arithmetically, without touching bytes.
# NOT registered in _SNIFF_BUILDERS: the sniff router covers per-doc
# payload kernels; this plant is one row per merge GROUP.

_PMW_GROUP = 21  # doc_id div 21 -> up to 3 sources per group (%7==2, %5<>1)
_PMW_PAGE_CHARS = 200  # planted page density: 1 page per 200 chars
_PMW_TITLE_W = 16

_PMW_H = "%PDF-1.4\n"
_PMW_OBJ1 = "0001 0 obj\n<< /Type /Catalog /Pages 2 0 R /Outlines 3 0 R >>\nendobj\n"
_PMW_OBJ2_A = "0002 0 obj\n<< /Type /Pages /Count "
_PMW_OBJ2_B = " /Kids ["
_PMW_OBJ2_C = "] >>\nendobj\n"
_PMW_KID_W = 9  # "%04d 0 R "
_PMW_OBJ3_FMT = (
    "0003 0 obj\n<< /Type /Outlines /First 0004 0 R /Last %04d 0 R /Count %04d >>\nendobj\n"
)
_PMW_ITEM_FMT = (
    "%04d 0 obj\n<< /Title (%s) /Parent 3 0 R /Dest [%04d 0 R /Fit] %s>>\nendobj\n"
)
_PMW_NEXT_FMT = "/Next %04d 0 R "  # last item pads with 15 spaces instead
_PMW_PAGE_FMT = (
    "%04d 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] >>\nendobj\n"
)
_PMW_TRAIL_A = "trailer\n<< /Size "
_PMW_TRAIL_B = " /Root 1 0 R >>\nstartxref\n"

_PMW_L1 = len(_PMW_OBJ1)
_PMW_L2B = len(_PMW_OBJ2_A) + 4 + len(_PMW_OBJ2_B) + len(_PMW_OBJ2_C)  # + 9 per kid
_PMW_L3 = len(_PMW_OBJ3_FMT % (0, 0))
_PMW_LI = len(_PMW_ITEM_FMT % (0, " " * _PMW_TITLE_W, 0, " " * len(_PMW_NEXT_FMT % 0)))
_PMW_LP = len(_PMW_PAGE_FMT % 0)
_PMW_LXH = len("xref\n0 ") + 4 + 1  # "xref\n0 %04d\n"
_PMW_LT = len(_PMW_TRAIL_A) + 4 + len(_PMW_TRAIL_B) + 10 + 1 + len("%%EOF")


@_plant
def pdf_merge_write_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(grp, payload): one byte-exact merged PDF per source group."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = docs.where(
        (F.pmod(F.col("doc_id"), 7) == 2) & (F.pmod(F.col("doc_id"), 5) != 1)
    ).select(
        F.expr(f"doc_id div {_PMW_GROUP}").alias("grp"),
        "doc_id",
        (F.expr(f"length(text) div {_PMW_PAGE_CHARS}") + 1).cast("int").alias("np"),
    )
    g = (
        src.groupBy("grp")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "np"))).alias("mem"))
        .select(
            "grp",
            "mem",
            F.size("mem").alias("S"),
            F.aggregate("mem", F.lit(0), lambda a, x: a + x["np"]).alias("P"),
        )
        # %04d fixed-width object ids carry the whole affine offset math:
        # a group where 4+S+P >= 10000 would silently widen the format
        # and break the byte-exact xref/file_bytes prediction, so an
        # out-of-range plant fails LOUDLY instead of diverging (r6 ADVICE)
        .withColumn(
            "P",
            F.when(F.lit(4) + F.col("S") + F.col("P") < 10000, F.col("P")).otherwise(
                F.raise_error(
                    F.format_string(
                        "pdf_merge_write: group %s has 4+S+P = %s objects — "
                        "exceeds the %%04d fixed-width plant (max 9999)",
                        F.col("grp"),
                        F.lit(4) + F.col("S") + F.col("P"),
                    )
                ).cast("int")
            ),
        )
    )
    # first merged-page index per member (prefix sum over the sorted members)
    g = g.select(
        "grp", "mem", "S", "P",
        F.transform(
            F.sequence(F.lit(1), F.col("S")),
            lambda i: 1
            + F.aggregate(
                F.filter(
                    F.col("mem"),
                    lambda x: x["doc_id"] < F.element_at(F.col("mem"), i)["doc_id"],
                ),
                F.lit(0),
                lambda a, x: a + x["np"],
            ),
        ).alias("firsts"),
        (F.lit(9 + _PMW_L1 + _PMW_L2B) + _PMW_KID_W * F.col("P")).alias("off3"),
    )
    g = g.select(
        "grp", "mem", "S", "P", "firsts", "off3",
        (F.col("off3") + _PMW_L3 + F.col("S") * _PMW_LI + F.col("P") * _PMW_LP).alias("sx"),
    )

    S, P = F.col("S"), F.col("P")
    kids = F.array_join(
        F.transform(
            F.sequence(F.lit(1), P), lambda p: F.format_string("%04d 0 R ", F.lit(3) + S + p)
        ),
        "",
    )
    items = F.array_join(
        F.transform(
            F.sequence(F.lit(1), S),
            lambda i: F.format_string(
                _PMW_ITEM_FMT,
                F.lit(3) + i,
                F.rpad(
                    F.concat(
                        F.lit("S"),
                        F.element_at(F.col("mem"), i)["doc_id"].cast("string"),
                    ),
                    _PMW_TITLE_W,
                    " ",
                ),
                F.lit(3) + S + F.element_at(F.col("firsts"), i),
                F.when(i < S, F.format_string(_PMW_NEXT_FMT, F.lit(4) + i)).otherwise(
                    F.lit(" " * len(_PMW_NEXT_FMT % 0))
                ),
            ),
        ),
        "",
    )
    pages = F.array_join(
        F.transform(
            F.sequence(F.lit(1), P), lambda p: F.format_string(_PMW_PAGE_FMT, F.lit(3) + S + p)
        ),
        "",
    )
    off = lambda k: (  # noqa: E731 — xref offset per object number (affine)
        F.when(k == 1, F.lit(9))
        .when(k == 2, F.lit(9 + _PMW_L1))
        .when(k == 3, F.col("off3"))
        .when(k <= 3 + S, F.col("off3") + _PMW_L3 + (k - 4) * _PMW_LI)
        .otherwise(F.col("off3") + _PMW_L3 + S * _PMW_LI + (k - 4 - S) * _PMW_LP)
    )
    xref = F.concat(
        F.format_string("xref\n0 %04d\n", F.lit(4) + S + P),
        F.lit("0000000000 65535 f \n"),
        F.array_join(
            F.transform(
                F.sequence(F.lit(1), F.lit(3) + S + P),
                lambda k: F.format_string("%010d 00000 n \n", off(k)),
            ),
            "",
        ),
    )
    body = F.concat(
        F.lit(_PMW_H + _PMW_OBJ1 + _PMW_OBJ2_A),
        F.format_string("%04d", P),
        F.lit(_PMW_OBJ2_B),
        kids,
        F.lit(_PMW_OBJ2_C),
        F.format_string(_PMW_OBJ3_FMT, F.lit(3) + S, S),
        items,
        pages,
        xref,
        F.lit(_PMW_TRAIL_A),
        F.format_string("%04d", F.lit(4) + S + P),
        F.lit(_PMW_TRAIL_B),
        F.format_string("%010d", F.col("sx")),
        F.lit("\n%%EOF"),
    )
    return g.select("grp", F.encode(body, "utf-8").alias("payload"))


PMW_SCHEMA = T.StructType(
    [
        T.StructField("grp", T.LongType()),
        T.StructField("n_src", T.LongType()),
        T.StructField("total_pages", T.LongType()),
        T.StructField("n_objects", T.LongType()),
        T.StructField("xref_entries", T.LongType()),
        T.StructField("xref_ok", T.LongType()),
        T.StructField("pages_ok", T.LongType()),
        T.StructField("outline_ok", T.LongType()),
        T.StructField("outline_md5", T.StringType()),
        T.StructField("file_bytes", T.LongType()),
        T.StructField("parser", T.StringType()),
    ]
)


def parse_pdf_merged(payload: bytes) -> dict | None:
    """Re-open the merged PDF: resolve startxref, verify EVERY xref
    offset lands on its numbered object, census page objects against
    the pages /Count, and walk the /First->/Next outline chain to the
    declared /Last."""
    import hashlib
    import re

    if not payload.startswith(b"%PDF-"):
        return None
    txt = payload.decode("latin-1")
    m = re.search(r"startxref\n(\d+)\n%%EOF$", txt)
    if not m:
        return None
    sx = int(m.group(1))
    xh = re.match(r"xref\n0 (\d+)\n", txt[sx:])
    if not xh:
        return None
    n_entries = int(xh.group(1))
    pos = sx + xh.end()
    xref_ok = 1
    for k in range(n_entries):
        e = txt[pos + 20 * k : pos + 20 * (k + 1)]
        if k == 0:
            if e != "0000000000 65535 f \n":
                xref_ok = 0
            continue
        if not re.fullmatch(r"\d{10} 00000 n \n", e):
            xref_ok = 0
            continue
        if not txt[int(e[:10]) :].startswith(f"{k:04d} 0 obj\n"):
            xref_ok = 0
    pm = re.search(r"/Type /Pages /Count (\d+)", txt)
    pcount = int(pm.group(1)) if pm else -1
    pages_ok = 1 if pcount == len(re.findall(r"/Type /Page ", txt)) else 0
    om = re.search(r"/Type /Outlines /First (\d+) 0 R /Last (\d+) 0 R /Count (\d+)", txt)
    outline_ok = 0
    titles: list[str] = []
    if om:
        first, last, ocount = int(om.group(1)), int(om.group(2)), int(om.group(3))
        cur, guard = first, 0
        end = first
        while cur and guard <= ocount + 1:
            io = re.search(
                rf"\n{cur:04d} 0 obj\n<< /Title \(([^)]*)\) /Parent 3 0 R "
                rf"/Dest \[(\d+) 0 R /Fit\] (?:/Next (\d+) 0 R)? *>>",
                txt,
            )
            if not io:
                break
            titles.append(io.group(1).rstrip())
            end = cur
            cur = int(io.group(3)) if io.group(3) else None
            guard += 1
        outline_ok = 1 if (guard == ocount and end == last) else 0
    return {
        "n_src": len(titles),
        "total_pages": pcount,
        "n_objects": n_entries - 1,
        "xref_entries": n_entries,
        "xref_ok": xref_ok,
        "pages_ok": pages_ok,
        "outline_ok": outline_ok,
        "outline_md5": hashlib.md5("|".join(titles).encode()).hexdigest(),
        "file_bytes": len(payload),
    }


def multimodal_pdf_merge_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched verification walk over the written merge artifacts."""
    pdfs = pdf_merge_write_table(spark, sf_dir)
    return decode_rows(pdfs, parse_pdf_merged, PMW_SCHEMA, "pdfmerge-stdlib")


def _pmw_oracle_sql() -> str:
    fixed = 9 + _PMW_L1 + _PMW_L2B + _PMW_L3 + _PMW_LXH + _PMW_LT + 20 * 4
    per_s = _PMW_LI + 20
    per_p = _PMW_KID_W + _PMW_LP + 20
    return f"""
WITH src AS (
  SELECT doc_id // {_PMW_GROUP} AS grp, doc_id,
         length(text) // {_PMW_PAGE_CHARS} + 1 AS np
  FROM documents WHERE doc_id % 7 = 2 AND doc_id % 5 <> 1
),
g AS (
  SELECT grp, count(*) AS s, CAST(sum(np) AS BIGINT) AS p,
         md5(string_agg('S' || doc_id::VARCHAR, '|' ORDER BY doc_id)) AS omd5
  FROM src GROUP BY grp
)
SELECT grp,
       CAST(s AS BIGINT) AS n_src,
       p AS total_pages,
       CAST(3 + s + p AS BIGINT) AS n_objects,
       CAST(4 + s + p AS BIGINT) AS xref_entries,
       CAST(1 AS BIGINT) AS xref_ok,
       CAST(1 AS BIGINT) AS pages_ok,
       CAST(1 AS BIGINT) AS outline_ok,
       omd5 AS outline_md5,
       CAST({fixed} + s * {per_s} + p * {per_p} AS BIGINT) AS file_bytes,
       'pdfmerge-stdlib' AS parser
FROM g
"""


QUERIES["multimodal_pdf_merge_write"] = multimodal_pdf_merge_write
ORACLES["multimodal_pdf_merge_write"] = _pmw_oracle_sql()


# --- xlsx multi-sheet SPLIT PLAN (the excel-prep row->document grain) ---------
#
# Reference parity: `catalog search - excel prep/excel_to_pdf_prep.py`
# reads ONE configured sheet of the workbook (EXCEL_SHEET_NAME,
# excel_to_pdf_prep.py:56), converts EACH ROW to a standalone PDF
# ("... - Row X.pdf", :52) for the catalog intake, and merely lists the
# other sheets when the target is missing (:167). The stage_00-class
# planning decision generalized here: per workbook sheet, decide
# whether it becomes row-grain documents (a ledger sheet: all-text
# header row, >= 2 columns, >= 3 data rows — the APG-wiki shape), ONE
# document (narrative sheet), or nothing (empty or hidden sheets).
#
# Plant: multi-sheet workbooks (n_sheets = doc_id % 3 + 1) with four
# per-sheet classes keyed c = (doc_id + s) % 4 — 0: ledger (text
# header + doc_id % 7 + 5 numeric rows over 2 + (doc_id+s) % 3 cols),
# 1: narrative (1 col, 2 text rows), 2: empty, 3: hidden-with-rows.
# The kernel REALLY walks xl/workbook.xml (sheet names, visibility,
# order; sheets map positionally to xl/worksheets/sheetN.xml — the
# plant writes them positionally, so the rels indirection is out of
# scope) and each worksheet (row count, max cells per row, first-row
# inlineStr texts, their md5), so a mis-walk hash-mismatches; the
# oracle recomputes every field from the plant arithmetic.
# Scale: same contract as every sibling kernel — file-parallel
# payloads, O(bytes)/row, no shuffle.

XLSX_PLAN_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("sheet_idx", T.LongType()),
        T.StructField("sheet_name", T.StringType()),
        T.StructField("hidden", T.LongType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("n_cols", T.LongType()),
        T.StructField("header_text_cells", T.LongType()),
        T.StructField("header_md5", T.StringType()),
        T.StructField("decision", T.StringType()),
        T.StructField("n_docs_planned", T.LongType()),
        T.StructField("parser", T.StringType()),
    ]
)

_XLSX_PLAN_MIN_COLS = 2  # ledger heuristic: at least this many columns
_XLSX_PLAN_MIN_DATA_ROWS = 3  # ... and this many data rows under the header


@_plant
def xlsx_plan_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, payload): multi-sheet xlsx workbooks (plant above)."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 5 == 1)

    wb_xml = F.concat(
        F.lit(f'<?xml version="1.0"?><workbook xmlns="{_OOXML_S_NS}"><sheets>'),
        F.expr(
            "array_join(transform(sequence(0, doc_id % 3), s -> concat("
            "'<sheet name=\"S', s, '_',"
            " substring(md5(concat(cast(doc_id as string), ':ws:', s)), 1, 8),"
            " '\" sheetId=\"', s + 1, '\"',"
            " if((doc_id + s) % 4 = 3, ' state=\"hidden\"', ''),"
            " '/>')), '')"
        ),
        F.lit("</sheets></workbook>"),
    )

    def sheet_xml(s: int):
        header = (
            "array_join(transform(sequence(1, 2 + (doc_id + {s}) % 3), j -> concat("
            "'<c r=\"', chr(64 + j), '1\" t=\"inlineStr\"><is><t>H', j - 1, '_',"
            " substring(md5(concat(cast(doc_id as string), ':hd:{s}:', j - 1)), 1, 6),"
            " '</t></is></c>')), '')"
        ).format(s=s)
        data_rows = (
            "array_join(transform(sequence(2, doc_id % 7 + 6), r -> concat("
            "'<row r=\"', r, '\">',"
            " array_join(transform(sequence(1, 2 + (doc_id + {s}) % 3), j -> concat("
            "'<c r=\"', chr(64 + j), r, '\"><v>',"
            " (doc_id * 31 + r * 7 + j) % 100000, '</v></c>')), ''),"
            " '</row>')), '')"
        ).format(s=s)
        text_rows = (
            "array_join(transform(sequence(1, {n}), r -> concat("
            "'<row r=\"', r, '\"><c r=\"A', r, '\" t=\"inlineStr\"><is><t>T', r, '_',"
            " substring(md5(concat(cast(doc_id as string), ':{seed}:{s}:', r)), 1, 8),"
            " '</t></is></c></row>')), '')"
        )
        body = (
            "case when (doc_id + {s}) % 4 = 0 then concat('<row r=\"1\">', {header}, '</row>', {data})"
            " when (doc_id + {s}) % 4 = 1 then {narr}"
            " when (doc_id + {s}) % 4 = 2 then ''"
            " else {hid} end"
        ).format(
            s=s,
            header=header,
            data=data_rows,
            narr=text_rows.format(n=2, seed="nr", s=s),
            hid=text_rows.format(n=3, seed="hr", s=s),
        )
        return F.concat(
            F.lit(f'<?xml version="1.0"?><worksheet xmlns="{_OOXML_S_NS}"><sheetData>'),
            F.expr(f"if({s} <= doc_id % 3, {body}, '')"),
            F.lit("</sheetData></worksheet>"),
        )

    payload_hex = _ooxml_zip(
        [("xl/workbook.xml", wb_xml)]
        + [(f"xl/worksheets/sheet{s + 1}.xml", sheet_xml(s)) for s in range(3)]
    )
    return docs.select(
        F.col("doc_id").alias("media_id"), F.unhex(payload_hex).alias("payload")
    )


def parse_xlsx_sheet_plan(payload: bytes) -> list[dict] | None:
    """zipfile + ElementTree walk of workbook.xml and each referenced
    worksheet; None for non-zip bytes."""
    import hashlib
    import io
    import xml.etree.ElementTree as ET
    import zipfile

    if payload[:4] != b"PK\x03\x04":
        return None
    zf = zipfile.ZipFile(io.BytesIO(payload))
    wb = ET.fromstring(zf.read("xl/workbook.xml"))
    sheets = [
        (el.get("name"), el.get("state", "visible"))
        for el in wb.iter()
        if _local(el.tag) == "sheet"
    ]
    out = []
    for idx, (name, state) in enumerate(sheets):
        ws = ET.fromstring(zf.read(f"xl/worksheets/sheet{idx + 1}.xml"))
        rows = [el for el in ws.iter() if _local(el.tag) == "row"]
        n_rows = len(rows)
        n_cols = 0
        header_texts: list[str] = []
        first_row_cells = 0
        for ri, row in enumerate(rows):
            cells = [c for c in row if _local(c.tag) == "c"]
            n_cols = max(n_cols, len(cells))
            if ri == 0:
                first_row_cells = len(cells)
                for c in cells:
                    if c.get("t") == "inlineStr":
                        header_texts.append(
                            "".join(
                                t.text or ""
                                for t in c.iter()
                                if _local(t.tag) == "t"
                            )
                        )
        hidden = 1 if state == "hidden" else 0
        if hidden:
            decision, nd = "skip_hidden", 0
        elif n_rows == 0:
            decision, nd = "skip_empty", 0
        elif (
            header_texts
            and len(header_texts) == first_row_cells
            and n_cols >= _XLSX_PLAN_MIN_COLS
            and n_rows - 1 >= _XLSX_PLAN_MIN_DATA_ROWS
        ):
            decision, nd = "split_rows", n_rows - 1
        else:
            decision, nd = "single_doc", 1
        out.append(
            {
                "sheet_idx": idx,
                "sheet_name": name,
                "hidden": hidden,
                "n_rows": n_rows,
                "n_cols": n_cols,
                "header_text_cells": len(header_texts),
                "header_md5": hashlib.md5("".join(header_texts).encode()).hexdigest(),
                "decision": decision,
                "n_docs_planned": nd,
            }
        )
    return out


def multimodal_xlsx_sheet_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched per-sheet split plan over the planted workbooks."""
    items = xlsx_plan_table(spark, sf_dir).select("media_id", "payload")
    return decode_rows(items, parse_xlsx_sheet_plan, XLSX_PLAN_SCHEMA, "xlsxplan-stdlib")


def _xlsx_plan_oracle_sql() -> str:
    name = "'S' || s || '_' || substr(md5(doc_id::VARCHAR || ':ws:' || s::VARCHAR), 1, 8)"
    ncols = "2 + (doc_id + s) % 3"
    hdr_concat = (
        f"list_aggregate(list_transform(range(0, {ncols}), j ->"
        " 'H' || j || '_' || substr(md5(doc_id::VARCHAR || ':hd:' || s::VARCHAR || ':' || j::VARCHAR), 1, 6)"
        "), 'string_agg', '')"
    )
    narr_t = "'T1_' || substr(md5(doc_id::VARCHAR || ':nr:' || s::VARCHAR || ':1'), 1, 8)"
    hid_t = "'T1_' || substr(md5(doc_id::VARCHAR || ':hr:' || s::VARCHAR || ':1'), 1, 8)"
    return f"""
WITH base AS (
  SELECT doc_id, s, (doc_id + s) % 4 AS c
  FROM documents, (SELECT unnest(range(0, 3)) AS s)
  WHERE doc_id % 5 = 1 AND s <= doc_id % 3
)
SELECT doc_id AS media_id, CAST(s AS BIGINT) AS sheet_idx,
       {name} AS sheet_name,
       CAST(CASE WHEN c = 3 THEN 1 ELSE 0 END AS BIGINT) AS hidden,
       CAST(CASE c WHEN 0 THEN doc_id % 7 + 6 WHEN 1 THEN 2 WHEN 2 THEN 0 ELSE 3 END AS BIGINT) AS n_rows,
       CAST(CASE c WHEN 0 THEN {ncols} WHEN 1 THEN 1 WHEN 2 THEN 0 ELSE 1 END AS BIGINT) AS n_cols,
       CAST(CASE c WHEN 0 THEN {ncols} WHEN 1 THEN 1 WHEN 2 THEN 0 ELSE 1 END AS BIGINT) AS header_text_cells,
       md5(CASE c WHEN 0 THEN {hdr_concat} WHEN 1 THEN {narr_t} WHEN 2 THEN '' ELSE {hid_t} END) AS header_md5,
       CASE WHEN c = 3 THEN 'skip_hidden' WHEN c = 2 THEN 'skip_empty'
            WHEN c = 0 THEN 'split_rows' ELSE 'single_doc' END AS decision,
       CAST(CASE WHEN c = 0 THEN doc_id % 7 + 5 WHEN c = 1 THEN 1 ELSE 0 END AS BIGINT) AS n_docs_planned,
       'xlsxplan-stdlib' AS parser
FROM base
"""


QUERIES["multimodal_xlsx_sheet_plan"] = multimodal_xlsx_sheet_plan
ORACLES["multimodal_xlsx_sheet_plan"] = _xlsx_plan_oracle_sql()
