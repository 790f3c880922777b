"""File-format readers and sinks beyond the parquet catalog.

The reference has no file connectors at all — every source is a
PostgreSQL relation (SURVEY.md §2.2 'File formats / connectors:
ABSENT'). Spark gives the full surface; these helpers pin the
options that matter at scale:

* explicit schemas (never ``inferSchema`` on a 100 TB path — it
  triggers a full pre-scan);
* partitioned parquet writes (``partitionBy``) for downstream
  partition pruning;
* bucketed saves (``bucketBy``) so repeated joins on the bucket key
  skip their shuffle.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_csv(
    spark: SparkSession, path: str, schema: T.StructType, header: bool = True
) -> DataFrame:
    """CSV with a required explicit schema (no inference pre-scan)."""
    return spark.read.schema(schema).option("header", str(header).lower()).csv(path)


def read_json(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """JSON-lines with a required explicit schema."""
    return spark.read.schema(schema).json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — columnar like parquet, same pushdown/pruning path."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink (predicate pushdown + column pruning on re-read)."""
    df.write.mode(mode).orc(path)


def write_partitioned_parquet(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Partitioned parquet sink: downstream filters on the partition
    columns prune directories instead of scanning."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def save_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_col: "str | list[str]",
    n_buckets: int = 32,
    sort_col: Optional["str | list[str]"] = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table: joins/aggs on ``bucket_col`` between
    tables bucketed the same way run shuffle-free (SURVEY §2.4).

    For a shuffle-free JOIN the bucket columns must be ALL of the join
    keys (Spark's co-partition check,
    ``spark.sql.requireAllClusterKeysForCoPartition`` default true —
    a subset is not accepted), so multi-key joins need the full list.
    """
    bcols = [bucket_col] if isinstance(bucket_col, str) else list(bucket_col)
    writer = df.write.mode(mode).bucketBy(n_buckets, *bcols)
    if sort_col:
        scols = [sort_col] if isinstance(sort_col, str) else list(sort_col)
        writer = writer.sortBy(*scols)
    writer.saveAsTable(table)


# Extensions recognized by the media on-ramp; anything else still
# loads (payload stays opaque) with format "application/octet-stream".
_MEDIA_FORMATS = {
    "wav": "audio/wav",
    "ppm": "image/x-portable-pixmap",
    "y4m": "video/x-yuv4mpeg",
    "png": "image/png",
    "jpg": "image/jpeg",
    "jpeg": "image/jpeg",
    "mp3": "audio/mpeg",
    "flac": "audio/flac",
    "mp4": "video/mp4",
    "mkv": "video/x-matroska",
}


def read_media(
    spark: SparkSession,
    path: str,
    glob: Optional[str] = None,
    recursive: bool = False,
    spread: bool = True,
    partitioned: bool = False,
) -> DataFrame:
    """Read media files from disk into the standard media frame.

    The filesystem on-ramp for the multimodal family (SURVEY §2.11):
    ``binaryFile`` scan → one row per file with the same
    ``(media_id, payload, meta)`` shape the in-memory synth fixtures
    produce, so every downstream operator (decode_features,
    window_energy, sample_frames, resize_image) runs unchanged on
    real files. ``media_path`` is kept alongside for joins back to
    the source listing.

    ``path`` may itself be a glob (``/data/audio/*.wav``); ``glob``
    maps to ``pathGlobFilter`` (applied to filenames under a
    directory ``path``), ``recursive`` to ``recursiveFileLookup``.

    Scale notes (the 100 TB story):

    * many SMALL files — Spark packs multiple files per task using
      ``spark.sql.files.maxPartitionBytes`` (128 MB default) and
      ``openCostInBytes``, so a million 100 KB images does not mean a
      million tasks; with fewer files than cores, ``spread=True``
      round-robins them so decode parallelism isn't capped by the
      listing (same policy as textops.spread — a no-op at real scale).
    * one LARGE file is NOT split — ``binaryFile`` reads each file
      whole into one row. Cap per-file size upstream (shard long
      videos at ingest); a 10 GB single file would pin one task and
      one executor's memory.
    * ``media_id`` is ``xxhash64(path)`` — deterministic across runs
      and restarts, join-stable, and computed JVM-side.
    * ``partitioned=True`` reads a Hive-style media LAKE layout
      (``year=2024/month=3/clip.wav``): Spark's partition discovery
      appends the directory keys as columns on the media frame, and a
      filter on them PRUNES the listing to matching directories
      before a single byte of payload is read — the layout a 100 TB
      media lake needs so a one-month DECODE never lists the other
      119 months. Mutually exclusive with ``recursive`` (recursive
      lookup disables partition inference).
    """
    import os as _os
    import posixpath
    import re as _re

    def _load(p: str, g: "Optional[str]") -> DataFrame:
        reader = spark.read.format("binaryFile")
        if g:
            reader = reader.option("pathGlobFilter", g)
        if recursive:
            reader = reader.option("recursiveFileLookup", "true")
        return reader.load(p)

    if partitioned:
        if recursive:
            raise ValueError(
                "read_media: partitioned=True and recursive=True are"
                " mutually exclusive (recursiveFileLookup disables"
                " Spark's partition discovery)"
            )
        if any(c in path for c in "*?[{"):
            # a glob-expanded path makes EACH match its own discovery
            # root, so the partition key is consumed into the base
            # path and silently never appears as a column — the first
            # filter on it then fails UNRESOLVED_COLUMN on a valid
            # lake. Require the lake ROOT (prune with a filter on the
            # discovered columns, or filter filenames via glob=).
            raise ValueError(
                "read_media: partitioned=True needs the lake ROOT"
                f" path, not a glob ({path!r}) — partition discovery"
                " would consume the directory keys into the base"
                " path; filter on the discovered columns instead"
            )
        raw = _load(path, glob)
    else:
        # A FILENAME-shaped glob in the basename (has a dot extension:
        # '*.wav', 'm*.y4m') becomes pathGlobFilter on the parent
        # directory: same listing, but avoids the literal
        # getFileStatus probe Spark runs on the raw load() string (a
        # noisy logged FileNotFoundException for every glob path).
        # The fold is only a fast path, never a semantics change, so
        # it applies only where the two listings are provably
        # identical: non-recursively (pathGlobFilter on the PARENT
        # matches basenames at every depth, the Hadoop glob only
        # direct children), on LOCAL paths, and only when no
        # DIRECTORY matches the glob — pathGlobFilter lists nothing
        # inside matched directories, and with a MIX of matching
        # files and directories the old empty-listing retry never
        # fired, silently dropping the directories' files.
        head, tail = posixpath.split(path.rstrip("/"))
        folded = (
            glob is None
            and not recursive
            and bool(head)
            and "://" not in path  # only local paths are verifiable
            and not any(c in head for c in "*?[{")
            and any(c in tail for c in "*?[{")
            and bool(_re.search(r"\.[A-Za-z0-9]+$", tail))
        )
        if folded:
            import glob as _glob

            if any(_os.path.isdir(m) for m in _glob.glob(path)):
                folded = False
        if folded:
            raw = _load(head, tail)
            if not raw.inputFiles():  # nothing matched: unfold anyway
                raw = _load(path, None)
        else:
            raw = _load(path, glob)
    out = _media_frame(raw)
    if spread:
        from declarativeml_spark.operators.textops import spread as _spread

        target = _media_width(spark, raw)
        if target is not None and target < out.rdd.getNumPartitions():
            # TINY lake: the binaryFile scan fans even a handful of
            # KB-sized files across defaultParallelism partitions
            # (minPartitionNum), so every downstream Arrow decode
            # stage spawns a full-width Python worker pool for µs of
            # decode (r11 measurement: 48 files x ~100 KB -> 30-32
            # one-row tasks, the stage wall is worker spawn + numpy
            # import, not decode — guide §4.5/§2.3). Coalesce is
            # narrow (no exchange) and keeps whole files per task.
            out = out.coalesce(target)
        else:
            # real lake (or unverifiable listing): round-robin up to
            # cluster width exactly as before — a no-op at real scale
            out = _spread(out)
    return out


# per-task payload budget for the tiny-lake coalesce: one task per
# ~4 MiB of listed bytes keeps decode tasks sub-second while avoiding
# a 32-worker spawn storm for a few-MB fixture lake
_MEDIA_TASK_BYTES_DEFAULT = 4 << 20
_MEDIA_STAT_MAX_FILES = 4096


def _media_width(spark: SparkSession, raw: DataFrame) -> "Optional[int]":
    """Byte-derived target width for a media scan, or None when the
    listing cannot be sized cheaply (non-local paths, or more files
    than the driver should stat) — callers then keep the full-width
    spread. Driver-side only: the file index is already materialized
    by the load, and the stat loop is capped at
    ``_MEDIA_STAT_MAX_FILES`` local files."""
    import os as _os
    from urllib.parse import unquote, urlparse

    try:
        files = raw.inputFiles()
    except Exception:
        return None
    if not files or len(files) > _MEDIA_STAT_MAX_FILES:
        return None
    total = 0
    for f in files:
        u = urlparse(f)
        if u.scheme not in ("file", ""):
            return None
        try:
            total += _os.path.getsize(unquote(u.path))
        except OSError:
            return None
    budget = int(
        _os.environ.get(
            "DECLML_MEDIA_TASK_BYTES", str(_MEDIA_TASK_BYTES_DEFAULT)
        )
    )
    if budget <= 0:
        return None
    want = max(1, -(-total // budget))  # ceil
    return min(want, spark.sparkContext.defaultParallelism)


def _media_frame(raw: DataFrame) -> DataFrame:
    """Shape a binaryFile scan (path/modificationTime/length/content)
    into the standard media frame.
    Partition-discovery columns (a ``partitioned=True`` lake layout)
    ride along after ``meta``, so downstream filters on them keep
    pruning the scan."""
    from pyspark.sql import functions as F

    ext = F.lower(F.regexp_extract(F.col("path"), r"\.([A-Za-z0-9]+)$", 1))
    fmt = F.element_at(
        F.create_map(
            *[F.lit(x) for kv in _MEDIA_FORMATS.items() for x in kv]
        ),
        ext,
    )
    base = {"path", "modificationTime", "length", "content"}
    extras = [c for c in raw.columns if c not in base]
    clash = [c for c in extras if c in ("media_id", "media_path", "payload", "meta")]
    if clash:
        # a lake partition key named like an output column would emit
        # DUPLICATE columns — the read succeeds and the first
        # downstream reference dies AMBIGUOUS_REFERENCE; refuse at
        # read time with the actionable cause instead
        raise ValueError(
            f"media lake partition column(s) {clash} collide with the"
            " media frame's own output columns (media_id, media_path,"
            " payload, meta) — rename the partition directories"
        )
    return raw.select(
        F.xxhash64(F.col("path")).alias("media_id"),
        F.col("path").alias("media_path"),
        F.col("content").alias("payload"),
        F.struct(
            F.coalesce(fmt, F.lit("application/octet-stream")).alias("format"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.col("length").cast("long").alias("n_bytes"),
        ).alias("meta"),
        *[F.col(c) for c in extras],
    )


def warehouse_path(spark: SparkSession) -> str:
    """Local filesystem path of the session warehouse (the single
    place that strips the file:/file:// URI prefixes — callers that
    need to rmtree orphaned managed-table locations share this)."""
    from urllib.parse import unquote

    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    for prefix in ("file://", "file:"):
        if wh.startswith(prefix):
            # Spark stores a QUALIFIED URI: percent-decode it or a
            # warehouse dir containing spaces yields a %20 path that
            # os.path/shutil callers silently fail to find
            return unquote(wh[len(prefix):])
    return wh
