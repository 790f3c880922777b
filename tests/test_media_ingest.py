"""Real-file media ingestion (round-7 verdict asks #4 and #5).

Writes REAL WAV / PPM / Y4M container files to disk, reads them back
through the new binaryFile on-ramp (``sources/io.py::read_media`` and
its streaming twin), and asserts decode / resize / window results are
bit-equal to the in-memory synth twins the oracle-checked queries use.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from declarativeml_spark.operators import multimodal as M
from declarativeml_spark.sources.catalog import load_table
from declarativeml_spark.sources.io import read_media

N_DOCS = 8


def _docs(spark, smoke_dir):
    return (
        load_table(spark, smoke_dir, "documents")
        .orderBy("doc_id")
        .limit(N_DOCS)
        .selectExpr("doc_id", "text")
    )


def _write_files(rows, d, ext):
    os.makedirs(d, exist_ok=True)
    paths = {}
    for r in rows:
        p = os.path.join(d, f"m{r.media_id:06d}.{ext}")
        with open(p, "wb") as f:
            f.write(bytes(r.payload))
        paths[r.media_id] = p
    return paths


@pytest.fixture(scope="module")
def media_dir(spark, smoke_dir, tmp_path_factory):
    """One directory holding real WAV + PPM + Y4M files (same docs),
    plus a decoy the media globs must skip."""
    d = str(tmp_path_factory.mktemp("media"))
    docs = _docs(spark, smoke_dir)
    _write_files(
        M.synth_wav_from_text(docs).select("media_id", "payload").collect(),
        os.path.join(d, "wav"),
        "wav",
    )
    _write_files(
        M.synth_ppm_from_text(docs).select("media_id", "payload").collect(),
        os.path.join(d, "ppm"),
        "ppm",
    )
    _write_files(
        M.synth_y4m_from_text(docs).select("media_id", "payload").collect(),
        os.path.join(d, "y4m"),
        "y4m",
    )
    with open(os.path.join(d, "wav", "README.txt"), "w") as f:
        f.write("decoy: must not match *.wav")
    return d


def _by_doc(df, media):
    """Re-key a (media_id, ...) result to the fixture's doc ids via the
    filename, so file-path results can be compared to in-memory ones."""
    ids = media.select(
        "media_id",
        F.regexp_extract("media_path", r"m(\d+)\.\w+$", 1)
        .cast("long")
        .alias("doc_id"),
    )
    return df.join(ids, "media_id").drop("media_id")


def test_read_media_listing_and_meta(spark, media_dir):
    media = read_media(spark, os.path.join(media_dir, "wav"), glob="*.wav")
    rows = media.collect()
    assert len(rows) == N_DOCS  # decoy README.txt filtered by the glob
    assert set(media.columns) == {"media_id", "media_path", "payload", "meta"}
    for r in rows:
        assert r.meta.format == "audio/wav"
        assert r.meta.n_bytes == len(bytes(r.payload))
        assert r.media_id is not None


def test_read_media_glob_in_path_and_recursive(spark, media_dir):
    # glob folded into the basename
    via_glob = read_media(spark, os.path.join(media_dir, "ppm", "*.ppm"))
    assert via_glob.count() == N_DOCS
    # recursive lookup from the root sees all three modality dirs
    all_media = read_media(spark, media_dir, recursive=True)
    fmts = {
        r.format
        for r in all_media.select("meta.format").distinct().collect()
    }
    assert fmts == {
        "audio/wav",
        "image/x-portable-pixmap",
        "video/x-yuv4mpeg",
        "application/octet-stream",  # the .txt decoy: unmapped extension
    }
    assert all_media.count() == 3 * N_DOCS + 1


def _decoded_from_files(spark, media_dir, sub, ext, codec):
    media = read_media(spark, os.path.join(media_dir, sub), glob=f"*.{ext}")
    return _by_doc(M.decode_features(media, codec=codec), media)


def _decoded_in_memory(spark, smoke_dir, synth, codec):
    docs = _docs(spark, smoke_dir)
    return (
        M.decode_features(synth(docs), codec=codec)
        .withColumnRenamed("media_id", "doc_id")
    )


@pytest.mark.parametrize(
    "sub,ext,codec,synth,register",
    [
        ("wav", "wav", "wav", M.synth_wav_from_text, M.register_wav_codec),
        ("ppm", "ppm", "ppm", M.synth_ppm_from_text, M.register_ppm_codec),
        ("y4m", "y4m", "y4m", M.synth_y4m_from_text, M.register_y4m_codec),
    ],
)
def test_file_decode_equals_in_memory_twin(
    spark, smoke_dir, media_dir, sub, ext, codec, synth, register
):
    register()
    got = {
        r.doc_id: r.features
        for r in _decoded_from_files(spark, media_dir, sub, ext, codec).collect()
    }
    want = {
        r.doc_id: r.features
        for r in _decoded_in_memory(spark, smoke_dir, synth, codec).collect()
    }
    assert got == want


def test_file_window_energy_equals_in_memory(spark, smoke_dir, media_dir):
    M.register_wav_codec()
    media = read_media(spark, os.path.join(media_dir, "wav"), glob="*.wav")
    from_files = _by_doc(
        M.window_energy(media, codec="wav", window_samples=64), media
    )
    docs = _docs(spark, smoke_dir)
    in_mem = M.window_energy(
        M.synth_wav_from_text(docs), codec="wav", window_samples=64
    ).withColumnRenamed("media_id", "doc_id")
    key = lambda df: {
        (r.doc_id, r.window_id): r.energy for r in df.collect()
    }
    assert key(from_files) == key(in_mem)


def test_file_resize_equals_in_memory(spark, smoke_dir, media_dir):
    M.register_ppm_codec()
    media = read_media(spark, os.path.join(media_dir, "ppm"), glob="*.ppm")
    from_files = _by_doc(
        M.resize_image(media, width=3, height=3, codec="ppm"), media
    )
    docs = _docs(spark, smoke_dir)
    in_mem = M.resize_image(
        M.synth_ppm_from_text(docs), width=3, height=3, codec="ppm"
    ).withColumnRenamed("media_id", "doc_id")
    got = {r.doc_id: bytes(r.payload) for r in from_files.collect()}
    want = {r.doc_id: bytes(r.payload) for r in in_mem.collect()}
    assert got == want


def test_load_media_dsl_and_quoted_decode(spark, media_dir):
    from declarativeml_spark.engine import Engine

    eng = Engine(spark)
    wav_dir = os.path.join(media_dir, "wav")
    loaded = eng.execute(
        f"LOAD MEDIA FROM '{wav_dir}' GLOB '*.wav' AS clips_view"
    )
    assert loaded.count() == N_DOCS
    # the registered view serves a named DECODE ...
    via_view = eng.execute("DECODE clips_view USING wav")
    # ... and a quoted glob path decodes without any view at all
    via_path = eng.execute(f"DECODE '{wav_dir}/*.wav' USING wav")
    as_rows = lambda df: {
        r.media_id: r.features for r in df.collect()
    }
    assert as_rows(via_view) == as_rows(via_path)
    assert len(as_rows(via_view)) == N_DOCS


def test_load_media_dsl_rejects_bare_identifier():
    from declarativeml_spark.dsl.parser import parse

    with pytest.raises(Exception, match="single-quoted"):
        parse("LOAD MEDIA FROM some_table")


def test_directory_glob_is_not_folded(spark, media_dir):
    """A basename glob that matches DIRECTORIES must keep Hadoop glob
    semantics (expand into the matched dirs), not become a
    pathGlobFilter that would silently list zero files."""
    # media_dir holds wav/ ppm/ y4m/ subdirs; '/<root>/*' matches dirs
    via_dir_glob = read_media(spark, os.path.join(media_dir, "*"))
    # Hadoop expands the dir glob and lists each matched dir's files
    assert via_dir_glob.count() == 3 * N_DOCS + 1  # incl. the decoy
    # while a filename-shaped glob still folds (and still works)
    via_file_glob = read_media(spark, os.path.join(media_dir, "wav", "*.wav"))
    assert via_file_glob.count() == N_DOCS


def test_read_media_empty_and_no_match_contracts(spark, tmp_path):
    """Edge contracts for the on-ramp: an EMPTY directory lists zero
    rows; an explicit glob with zero matches lists zero rows
    (pathGlobFilter semantics); a PATH-glob with zero matches fails
    LOUDLY (Hadoop glob semantics — same as the un-folded load), so
    the fold fallback never converts a typo into silent emptiness."""
    empty = tmp_path / "empty_media"
    empty.mkdir()
    assert read_media(spark, str(empty)).count() == 0
    d = tmp_path / "has_files"
    d.mkdir()
    (d / "a.txt").write_text("decoy")
    assert read_media(spark, str(d), glob="*.wav").count() == 0
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        read_media(spark, str(d / "*.wav")).count()


def test_fused_resize_decode_empty_inputs(spark, smoke_dir):
    """The fused stage must survive EMPTY Arrow batches (a spread
    frame has more partitions than rows) and an empty frame — the
    dtype-inference trap empty pandas batches set for mapInPandas."""
    docs = (
        load_table(spark, smoke_dir, "documents")
        .orderBy("doc_id")
        .limit(5)
        .selectExpr("doc_id", "text")
    )
    M.register_ppm_codec()
    sparse = M.synth_ppm_from_text(docs).repartition(64)
    assert M.resize_decode_features(sparse, 4, 2, "ppm").count() == 5
    none = M.synth_ppm_from_text(docs.filter("doc_id < 0"))
    assert M.resize_decode_features(none, 4, 2, "ppm").count() == 0


# --- partitioned media lake (round-9 verdict ask #8) -----------------------


@pytest.fixture(scope="module")
def part_media_dir(spark, smoke_dir, tmp_path_factory):
    """WAV files under year=2024/month=<1 + doc_id % 4>/ — the
    Hive-style lake layout read_media(partitioned=True) discovers."""
    d = str(tmp_path_factory.mktemp("media_part"))
    docs = _docs(spark, smoke_dir)
    rows = M.synth_wav_from_text(docs).select("media_id", "payload").collect()
    for r in rows:
        sub = os.path.join(d, "year=2024", f"month={1 + r.media_id % 4}")
        _write_files([r], sub, "wav")
    return d


def test_partitioned_media_discovery_and_columns(spark, part_media_dir):
    media = read_media(spark, part_media_dir, glob="*.wav", partitioned=True)
    assert {"year", "month"} <= set(media.columns)
    rows = media.collect()
    assert len(rows) == N_DOCS
    for r in rows:
        assert r.year == 2024
        assert f"month={r.month}" in r.media_path


def test_partitioned_media_filter_prunes_listing(spark, part_media_dir):
    """The month filter must reach the scan as a PartitionFilter and
    the pruned frame must read ONLY that month's files."""
    media = read_media(spark, part_media_dir, glob="*.wav", partitioned=True)
    pruned = media.filter(F.col("month") == 1)
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    # the partition predicate must appear in the scan's PartitionFilters
    pf_line = next(
        line for line in plan.splitlines() if "PartitionFilters" in line
    )
    assert "month" in pf_line
    # inputFiles() reports the RELATION's listing (pre-pruning), so
    # the row-level check is on what actually came back
    paths = [r.media_path for r in pruned.select("media_path").collect()]
    assert paths and all("month=1" in p for p in paths)
    assert pruned.count() == media.filter("month = 1").count()


def test_partitioned_media_rejects_recursive(spark, part_media_dir):
    with pytest.raises(ValueError, match="mutually exclusive"):
        read_media(spark, part_media_dir, partitioned=True, recursive=True)


def test_load_media_partitioned_dsl(spark, part_media_dir):
    from declarativeml_spark import parse
    from declarativeml_spark.engine import Engine

    stmt = parse(
        f"LOAD MEDIA FROM '{part_media_dir}' GLOB '*.wav' PARTITIONED"
        " AS lake_media"
    )
    assert stmt.partitioned and not stmt.recursive
    eng = Engine(spark)
    df = eng.execute(
        f"LOAD MEDIA FROM '{part_media_dir}' GLOB '*.wav' PARTITIONED"
        " AS lake_media"
    )
    assert {"year", "month"} <= set(df.columns)
    assert spark.table("lake_media").count() == N_DOCS
    with pytest.raises(ValueError, match="mutually exclusive"):
        parse(
            f"LOAD MEDIA FROM '{part_media_dir}' RECURSIVE PARTITIONED"
        )


# --- round-10 io.py review-sweep regressions ---------------------------------


def test_glob_fold_reads_files_inside_matched_dirs(spark, tmp_path):
    """A glob matching a MIX of files and directories must read the
    directories' files too (the fold's empty-listing retry only
    caught the all-directories case — repro'd silent data loss)."""
    import os

    from declarativeml_spark.sources.io import read_media

    d = tmp_path / "corpus"
    (d / "b.v2").mkdir(parents=True)
    (d / "a.v2").write_bytes(b"RIFFxxxx")
    (d / "b.v2" / "c.dat").write_bytes(b"RIFFyyyy")
    media = read_media(spark, f"{d}/*.v2")
    names = sorted(os.path.basename(r.media_path) for r in media.collect())
    assert names == ["a.v2", "c.dat"]


def test_partitioned_glob_path_rejected(spark, tmp_path):
    from declarativeml_spark.sources.io import read_media

    with pytest.raises(ValueError, match="lake ROOT"):
        read_media(spark, f"{tmp_path}/year=202*", partitioned=True)


def test_partition_key_colliding_with_output_columns_rejected(
    spark, tmp_path
):
    from declarativeml_spark.sources.io import read_media

    d = tmp_path / "lake" / "media_id=7"
    d.mkdir(parents=True)
    (d / "clip.wav").write_bytes(b"RIFFzzzz")
    with pytest.raises(ValueError, match="collide"):
        read_media(spark, str(tmp_path / "lake"), partitioned=True).columns


def test_warehouse_path_percent_decodes(spark, monkeypatch):
    from declarativeml_spark.sources import io as io_mod

    class FakeConf:
        def get(self, k, default=None):
            return "file:/root/my%20repo/spark-warehouse"

    class FakeSession:
        conf = FakeConf()

    assert (
        io_mod.warehouse_path(FakeSession())
        == "/root/my repo/spark-warehouse"
    )
