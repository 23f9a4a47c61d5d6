"""Binary-file ingestion source — the reference's NAS media intake.

Reference parity: ``semantic search - ey prep/stage_00_pdf_to_markdown.py``
lists actual PDF files on the NAS share and reads their raw bytes
before any parsing, and ``catalog search/stage1_extract_nas_catalog.py``
walks the same tree for the catalog grain.  ``sources/filecatalog.py``
models that CATALOG grain (names/sizes/dates); this module models the
CONTENT intake: Spark's built-in ``binaryFile`` datasource reads each
file as one row ``(path, modificationTime, length, content)``,
parallelized BY FILE across executors — payload bytes land on executor
partitions, never the driver, so the scan shape survives a 100 TB
media tree (file-level splits are governed by
``spark.sql.files.maxPartitionBytes``; ``pathGlobFilter`` /
``recursiveFileLookup`` prune at planning time).

``media_intake_manifest`` then routes every payload through the SAME
stdlib sniff/parse kernels the in-table multimodal operators use
(``operators/multimodal.py``) in one Arrow-batched ``mapInPandas``
pass — the lake-ingest dispatch (``multimodal_sniff_router``) applied
to real files instead of planted table columns.  The in-table queries
run those kernels through the decode driver ``multimodal.decode_rows``;
this intake keeps its own pass because it emits one row per file, a
kernel that raises included (a quarantine row), where the driver skips
a payload that parses to None.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_binary_dir(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    recursive: bool = False,
) -> DataFrame:
    """One row per file: (path, modificationTime, length, content)."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    return reader.load(path)


_MANIFEST_SCHEMA = (
    "file_name string, n_bytes long, sniffed string, parsed_ok int,"
    " parse_error string, content_md5 string"
)


def manifest_transform(files: DataFrame) -> DataFrame:
    """(path, length, content) rows -> the sniffed/verified manifest.

    Stateless Arrow-batched mapInPandas — works identically on a batch
    ``binaryFile`` read and on the streaming file source
    (``streaming/media_intake.py``), which is what makes the
    batch == streaming parity bit-exact.
    """
    from ..operators import multimodal as mm

    parsers = {
        "wav": mm.parse_wav_header,
        "y4m": mm.parse_y4m_stream,
        "tiff": mm.parse_tiff_header,
        "png": mm.parse_png,
        "id3": mm.parse_id3,
        "jpeg": mm.parse_jpeg,
        "gif": mm.parse_gif,
        "flac": mm.parse_flac,
        "bmp": mm.parse_bmp,
        "zip": mm.parse_zip,
        "mp4": mm.parse_mp4,
        "tar": mm.parse_tar,
        "pdf": mm.parse_pdf,
        "ogg": mm.parse_ogg,
        "webp": mm.parse_webp_vp8l,
    }
    rows = files.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("file_name"),
        F.col("length").alias("n_bytes"),
        "content",
    )

    def fn(batches):
        import hashlib

        import pandas as pd

        for pdf in batches:
            rows = []
            for name, n, content in zip(
                pdf["file_name"], pdf["n_bytes"], pdf["content"]
            ):
                b = bytes(content)
                sniffed = mm.sniff_media(b)
                # The kernels are structural validators over UNTRUSTED
                # bytes: a payload that sniffs (magic matches) but is
                # malformed deeper in (e.g. a WAV fmt chunk declaring
                # bits < 8) may raise instead of returning None.  Either
                # way it is the same quarantine row — one corrupt file
                # must never kill the whole intake batch.
                ok, err = 0, None
                if sniffed in parsers:
                    try:
                        ok = 1 if parsers[sniffed](b) is not None else 0
                    except Exception as exc:  # noqa: BLE001 — quarantine, not crash
                        err = f"{type(exc).__name__}: {exc}"[:200]
                rows.append(
                    {
                        "file_name": name,
                        "n_bytes": int(n),
                        "sniffed": sniffed,
                        "parsed_ok": ok,
                        "parse_error": err,
                        "content_md5": hashlib.md5(b).hexdigest(),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "file_name",
                    "n_bytes",
                    "sniffed",
                    "parsed_ok",
                    "parse_error",
                    "content_md5",
                ],
            )

    return rows.mapInPandas(fn, _MANIFEST_SCHEMA)


def media_intake_manifest(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    recursive: bool = False,
) -> DataFrame:
    """Sniff + structurally verify every file under ``path``.

    Output: (file_name, n_bytes, sniffed, parsed_ok, content_md5) —
    ``sniffed`` from the magic-byte router (``sniff_media``), and
    ``parsed_ok`` = 1 only when the matching container kernel accepts
    the payload structurally (header fields, CRCs where the kernel
    checks them) — the accept/quarantine split a real intake runs
    before anything downstream touches the bytes.
    """
    return manifest_transform(read_binary_dir(spark, path, glob, recursive))


BYTE_CLASS_PREFIX = 4096  # header region; QC never scans whole payloads

_BYTE_FILE_SCHEMA = (
    "source_dir string, sniffed string, prefix_len long, printable long,"
    " control long, highbit long, nul long, lead_byte long,"
    " m0 long, m1 long, m2 long, m3 long"
)


def byte_class_profile(files: DataFrame) -> DataFrame:
    """Per (source dir, sniffed type) byte-class distribution of the
    intake — the Benford-style QC an ingest runs beside the manifest to
    catch a source that silently changed encoding, got truncated to
    NULs, or started shipping a different container than it sniffs as.

    Classes over a capped header prefix (``BYTE_CLASS_PREFIX`` bytes per
    file, so QC cost is O(files), never O(corpus bytes)): printable
    ASCII (0x20–0x7E), control (<0x20 excluding NUL), NUL, and high-bit
    (>=0x80) shares in basis points, the EXACT distinct-byte-value count
    (a 256-bit presence mask carried as four longs, merged with bit_or
    and popcounted), and the EXACT modal leading byte (max_by over the
    per-lead-byte counts, smallest byte on ties). A WAV source whose
    high-bit share collapses (text impostors), a "pdf" source whose NUL
    share spikes (truncated transfers), or a drifting modal lead byte
    are the classic intake regressions; thresholds belong to the
    caller, the profile is the artifact.

    Shape: one Arrow-batched ``mapInPandas`` pass emits per-FILE raw
    counts (payload bytes stay on executors), then plain keyed
    aggregations merge them exactly — no approximate partition-local
    merge. Works identically on the batch ``binaryFile`` read and the
    streaming file source. Reference parity: the NAS intake stages
    (``semantic search - ey prep/stage_00_pdf_to_markdown.py``,
    ``catalog search/stage1_extract_nas_catalog.py``) trust file
    extensions blindly; this is the content-grounded check they lack.
    """
    from ..operators import multimodal as mm

    rows = files.select(
        F.regexp_replace(F.col("path"), "/[^/]+$", "").alias("source_dir"),
        "content",
    )

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for src, content in zip(pdf["source_dir"], pdf["content"]):
                full = bytes(content)
                b = full[:BYTE_CLASS_PREFIX]
                masks = [0, 0, 0, 0]
                printable = control = highbit = 0
                for x in b:
                    masks[x >> 6] |= 1 << (x & 63)
                    if 0x20 <= x <= 0x7E:
                        printable += 1
                    elif x >= 0x80:
                        highbit += 1
                    elif x:
                        control += 1
                # signed-long safe: bit 63 of each word flips the sign,
                # which bit_or/bit_count handle; keep the raw two's
                # complement value
                masks = [m - (1 << 64) if m >= 1 << 63 else m for m in masks]
                out.append(
                    {
                        "source_dir": src,
                        "sniffed": mm.sniff_media(full),
                        "prefix_len": len(b),
                        "printable": printable,
                        "control": control,
                        "highbit": highbit,
                        "nul": b.count(0),
                        "lead_byte": b[0] if b else -1,
                        "m0": masks[0],
                        "m1": masks[1],
                        "m2": masks[2],
                        "m3": masks[3],
                    }
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "source_dir", "sniffed", "prefix_len", "printable",
                    "control", "highbit", "nul", "lead_byte",
                    "m0", "m1", "m2", "m3",
                ],
            )

    per_file = rows.mapInPandas(fn, _BYTE_FILE_SCHEMA)
    totals = per_file.groupBy("source_dir", "sniffed").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("prefix_len").alias("prefix_bytes"),
        F.expr("sum(printable) * 10000 div greatest(sum(prefix_len), 1)").alias("printable_bp"),
        F.expr("sum(control) * 10000 div greatest(sum(prefix_len), 1)").alias("control_bp"),
        F.expr("sum(highbit) * 10000 div greatest(sum(prefix_len), 1)").alias("highbit_bp"),
        F.expr("sum(nul) * 10000 div greatest(sum(prefix_len), 1)").alias("nul_bp"),
        F.expr(
            "bit_count(bit_or(m0)) + bit_count(bit_or(m1))"
            " + bit_count(bit_or(m2)) + bit_count(bit_or(m3))"
        ).cast("bigint").alias("distinct_bytes"),
    )
    lead_mode = (
        per_file.groupBy("source_dir", "sniffed", "lead_byte")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("source_dir", "sniffed")
        .agg(
            F.expr("max_by(lead_byte, struct(c, -lead_byte))").alias("lead_byte_mode")
        )
    )
    return totals.join(lead_mode, ["source_dir", "sniffed"])
