"""Training-data pipeline operators, part 11 (round 10).

Three families, all converting toy-width coverage into the shapes a
100 TB deployment actually runs (round-9 verdict asks #3-#5):

* **Media-payload dedup** — the missing FIRST stage of the
  multimodal lake: exact byte-duplicate groups over real files'
  ``payload`` (md5 fingerprint, the ``dedup_exact`` shape), and
  perceptual near-dup via an 8×8 mean-threshold aHash over decoded
  PPM luma whose 64-bit signature reuses the SimHash quarter-band
  Hamming machinery VERBATIM
  (operators/dedup.py::hamming64_quarter_pairs).
* **Byte-fallback BPE** — full-coverage tokenization: bytes outside
  the ``\\p{L}\\p{N}`` word alphabet enter as GPT-2-style byte
  symbols, so no corpus mass is untokenizable (operators/bpe.py
  previously discarded punctuation/symbols/emoji as separators).
* **128-hash MinHash** — the calibrated deployment width: a 128-hash
  signature plane at the (r, b) split ``dedup_band_calibration``
  itself recommends, with exact-Jaccard parity on the
  candidate-gated pairs.

Reference parity: the reference has NO dedup/tokenizer/media
operators (it is spec-only — reference: README.md:87-89, "conceptual
and design stage"); this whole family is beyond-parity extension
surface per SURVEY.md §2.11, designed Spark-first. The media queries
build on the LOAD MEDIA lake machinery whose DSL shape extends the
reference's source grammar (reference: DSL.md source clauses), and
the serving measurement in streaming/serving.py targets the
reference's DEPLOY configuration numbers (reference: DSL.md:62-63).

Float/rounding conventions follow registry.py; byte-level parity
pins use md5 over engine-identical string constructions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from declarativeml_spark.queries.registry import query
from declarativeml_spark.sources.catalog import load_table

# ---------------------------------------------------------------------------
# Media lakes of REAL files on disk, one writer for every kind: the
# lowest <n> documents become files ``<prefix><fid>.<ext>`` with
# fid = 2·doc_id, and every doc_id % <copy_mod> == 0 document ALSO
# becomes a second file (fid = 2·doc_id + 1) built from a perturbed
# copy of its text — the re-ingested or lightly edited asset a real
# lake dedups. Payloads come from the per-row builders behind
# operators/multimodal.py's synth_*_from_text fixtures, so the files
# hold exactly the bytes those fixtures emit.


def _media_lake_dir(
    spark: SparkSession,
    sf_dir: str,
    prefix: str,
    ext: str,
    n: int,
    copy_mod: int,
    build,
    perturb,
    tag: str,
) -> str:
    """Content-addressed fixture dir holding one media lake (see the
    block comment above); ``tag`` names the builder geometry and the
    perturbation in the fixture key."""
    import os

    from declarativeml_spark.queries.fixtures import fixture_dir

    def write(d: str) -> None:
        rows = (
            load_table(spark, sf_dir, "documents")
            .orderBy("doc_id")
            .limit(n)
            .select("doc_id", "text")
            .collect()  # bounded: n rows, fixture-side
        )
        for r in rows:
            t = r.text or ""
            variants = [(r.doc_id * 2, t)]
            if r.doc_id % copy_mod == 0:
                variants.append((r.doc_id * 2 + 1, perturb(t)))
            for fid, vt in variants:
                with open(os.path.join(d, f"{prefix}{fid:08d}.{ext}"), "wb") as f:
                    f.write(build(vt))

    return fixture_dir(
        f"media_{ext}_lake", f"{sf_dir}|{ext}|{n}|c{copy_mod}|{tag}", write
    )


def _lake_files(spark: SparkSession, lake_dir: str, ext: str) -> DataFrame:
    """(file_id, payload) for every file of a media lake, the fid read
    back from the file name."""
    from declarativeml_spark.sources.io import read_media

    media = read_media(spark, lake_dir, glob=f"*.{ext}")
    return media.select(
        F.regexp_extract("media_path", rf"(\d+)\.{ext}$", 1)
        .cast("long")
        .alias("file_id"),
        "payload",
    )


def _hamming_histogram(sigs: DataFrame, radius: int) -> DataFrame:
    """Per-distance pair counts of a 64-bit quarter-signature plane:
    the candidate + exact-Hamming verify join of
    operators/dedup.py::hamming64_quarter_pairs, then (hamming,
    n_pairs, min_id_a). The plane persists: both sides of the band
    self-join read it."""
    from declarativeml_spark.operators.caching import track_persist
    from declarativeml_spark.operators.dedup import hamming64_quarter_pairs

    pairs = hamming64_quarter_pairs(
        track_persist(sigs), id_col="media_id", radius=radius
    )
    return pairs.groupBy("hamming").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.min("id_a").cast("long").alias("min_id_a"),
    )


# The PPM lake (the synth_ppm_from_text contract: channels (b, 255-b,
# 7b mod 256) per text byte, 8-wide rows); its copies are unperturbed
# byte duplicates.
_N_MEDIA_PPM = 48
_PPM_COPY_MOD = 3


def _media_ppm_lake_dir(spark: SparkSession, sf_dir: str) -> str:
    from declarativeml_spark.operators.multimodal import _ppm_synth_builder

    return _media_lake_dir(
        spark, sf_dir, "m", "ppm", _N_MEDIA_PPM, _PPM_COPY_MOD,
        _ppm_synth_builder(8), lambda t: t, "w8|exact_copy",
    )


# payload size closed form (synth_ppm_from_text, width 8): header
# "P6\n# synthesized from text\n8 <height>\n255\n" = 34 + len(str(h))
# bytes, then 3 bytes per pixel; n_pix = max(8, ceil(len/8)*8).
_PPM_NPIX = "GREATEST(8, CAST(ceil(length(text) / 8.0) * 8 AS BIGINT))"

_MEDIA_DEDUP_ORACLE = f"""
WITH t AS (SELECT doc_id, text FROM documents
           ORDER BY doc_id LIMIT {_N_MEDIA_PPM}),
s AS (SELECT doc_id, text, {_PPM_NPIX} AS n_pix,
             CASE WHEN doc_id % {_PPM_COPY_MOD} = 0 THEN 2 ELSE 1 END
                 AS copies
      FROM t)
SELECT CAST(MIN(doc_id) AS BIGINT) AS canonical_doc,
       CAST(SUM(copies) AS BIGINT) AS n_files,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(34 + length(CAST(n_pix // 8 AS VARCHAR)) + 3 * n_pix
            AS BIGINT) AS n_bytes
FROM s GROUP BY text, n_pix
"""


@query("media_dedup_exact", oracle=_MEDIA_DEDUP_ORACLE)
def media_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact byte-duplicate groups over a REAL media lake's payloads:
    ``read_media`` lists the PPM files, md5 of the raw payload is the
    group key (the ``dedup_exact`` shape — operators/dedup.py:65 —
    lifted from text to binary), and each group reports its canonical
    (min) doc, file count, distinct-doc count, and payload size. The
    oracle recomputes group structure and the exact on-disk byte size
    from the TEXT closed form, so a synth bug, a short write, a
    listing miss, or a fingerprint collision in the plumbing
    hash-fails.

    Scale: the only shuffle is on the 16-byte digest — payload bytes
    reduce to md5 inside the scan projection and never cross the
    wire; group sizes are the duplicate multiplicity, naturally
    bounded. This is the standard first pass over a 100 TB media
    lake (identical assets ingested twice), before any perceptual
    pass runs.
    """
    files = _lake_files(spark, _media_ppm_lake_dir(spark, sf_dir), "ppm").select(
        F.md5("payload").alias("fp"),
        F.floor(F.col("file_id") / 2).alias("doc_id"),
        F.length("payload").cast("long").alias("nb"),
    )
    return files.groupBy("fp").agg(
        F.min("doc_id").cast("long").alias("canonical_doc"),
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.count_distinct("doc_id").cast("long").alias("n_docs"),
        F.max("nb").cast("long").alias("n_bytes"),
    ).drop("fp")


# ---------------------------------------------------------------------------
# Perceptual near-dup over the same lake: 8x8 mean-threshold aHash of
# the decoded luma -> 64-bit signature as four 16-bit quarters ->
# quarter-band Hamming pairs (radius 3), machinery shared verbatim
# with dedup_simhash64_hamming. File ids are text-derivable
# (2*doc_id for the original, 2*doc_id+1 for the planted copy) so the
# brute-force oracle replays the full pair space and the hash gate
# proves banding completeness at the radius.

_PHASH_RADIUS = 3


def _phash_oracle() -> str:
    # byte at resampled grid cell k (row-major, i=k//8, j=k%8):
    # source row ys_i = ((2i+1)*h0)//16 (the _nn_index rule at
    # dst=8; no clamp needed since (2i+1)/16 < 1), col j (8->8 is
    # identity); h0 = n_pix // 8
    bexpr = (
        "CASE WHEN (((2 * (k // 8) + 1) * h0) // 16) * 8 + (k % 8)"
        " < length(text)"
        " THEN ascii(substr(text,"
        " CAST((((2 * (k // 8) + 1) * h0) // 16) * 8 + (k % 8) + 1"
        " AS INT), 1)) ELSE 0 END"
    )
    # integer luma of synth channels (b, 255-b, 7b mod 256)
    luma = "(299 * b + 587 * (255 - b) + 114 * ((7 * b) % 256)) // 1000"
    qexpr = (
        "CAST(list_sum(list_transform(range(16), j ->"
        " CASE WHEN lums[16 * {q} + j + 1] > m THEN 1 << j"
        " ELSE 0 END)) AS INT)"
    )
    qs = ", ".join(qexpr.format(q=q) + f" AS q{q}" for q in range(4))
    ham = " + ".join(
        f"bit_count(xor(a.q{q}, b.q{q}))" for q in range(4)
    )
    return f"""
    WITH t AS (SELECT doc_id, text FROM documents
               ORDER BY doc_id LIMIT {_N_MEDIA_PPM}),
    geo AS (SELECT doc_id, text, {_PPM_NPIX} // 8 AS h0 FROM t),
    lum AS (
        SELECT doc_id,
               list_transform(
                   list_transform(range(64), k -> {bexpr}),
                   b -> {luma}) AS lums
        FROM geo
    ),
    sig AS (
        SELECT doc_id, {qs}
        FROM (SELECT doc_id, lums, list_sum(lums) // 64 AS m FROM lum)
    ),
    files AS (
        SELECT doc_id * 2 AS fid, q0, q1, q2, q3 FROM sig
        UNION ALL
        SELECT doc_id * 2 + 1, q0, q1, q2, q3 FROM sig
        WHERE doc_id % {_PPM_COPY_MOD} = 0
    ),
    pairs AS (
        SELECT a.fid AS id_a, b.fid AS id_b, {ham} AS hamming
        FROM files a JOIN files b ON a.fid < b.fid
    )
    SELECT CAST(hamming AS BIGINT) AS hamming,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(MIN(id_a) AS BIGINT) AS min_id_a
    FROM pairs WHERE hamming <= {_PHASH_RADIUS}
    GROUP BY hamming
    """


@query("media_phash_hamming", oracle=_phash_oracle())
def media_phash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup pass over the media lake: every PPM file
    decodes through the REAL parser, resamples to 8×8 by the shared
    nearest-neighbor rule, and hashes to a 64-bit aHash (integer
    luma, floor-mean threshold — operators/multimodal.py::
    ahash64_quarters); the quarter columns ARE the radius-3
    pigeonhole bands, and the candidate + exact-Hamming verify join
    and histogram are :func:`_hamming_histogram`, the tail every
    media near-dup query shares (its join is
    ``hamming64_quarter_pairs``, also behind
    ``dedup_simhash64_hamming``). The brute-force oracle
    recomputes every signature from the text closed form and counts
    ALL in-radius pairs, so the hash gate proves both the decode
    arithmetic and banding completeness.

    Scale: signature extraction is a map-only Arrow stage (payloads
    never leave the executor; 4 ints per file exit Python); the pair
    join shuffles (band, value, id, quarters) slivers only. The
    planted duplicate copies surface as hamming-0 pairs — exactly
    what this pass exists to catch after exact dedup misses
    re-encoded assets.
    """
    from declarativeml_spark.operators.multimodal import ahash64_quarters

    files = _lake_files(spark, _media_ppm_lake_dir(spark, sf_dir), "ppm")
    return _hamming_histogram(
        ahash64_quarters(files, id_col="file_id"), _PHASH_RADIUS
    )


# ---------------------------------------------------------------------------
# Byte-fallback BPE coverage (round-9 verdict ask #4): the corpus is
# decorated with punctuation, symbols, multi-byte currency/ellipsis,
# emoji, accented-Latin words, CJK, and a Devanagari word with a
# combining vowel sign — every class the \p{L}\p{N} split previously
# DISCARDED. With byte fallback, 100% of the UTF-8 mass tokenizes:
# word runs through the learned merge chain, everything else as
# <0xHH> byte symbols (terminal, never merged — which is what keeps
# the 5 existing BPE queries' ASCII results byte-identical).

_BBC_ROUNDS = 6
# coalesce pins the NULL convention: Spark concat(NULL, s) yields
# NULL while DuckDB concat SKIPS NULL arguments and yields s — a NULL
# documents.text row would otherwise hash-diverge between engines
_BBC_AUG_DUCK = (
    "concat(coalesce(text, ''), ' «tête-à-tête» #', CAST(doc_id AS VARCHAR),"
    "'! (50% + €2,50)… 😀🚀 模型/मॉडल')"
)
_BBC_AUG_SPARK = _BBC_AUG_DUCK.replace("AS VARCHAR", "AS STRING")


def _bbc_oracle() -> str:
    from declarativeml_spark.operators.bpe import (
        bpe_byte_coverage_oracle_sql,
    )

    return bpe_byte_coverage_oracle_sql(
        _BBC_ROUNDS,
        table=f"(SELECT doc_id, {_BBC_AUG_DUCK} AS aug FROM documents) t",
        text_col="aug",
    )


@query("tokenizer_bpe_byte_coverage", oracle=_bbc_oracle())
def tokenizer_bpe_byte_coverage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Full-coverage tokenization audit (operators/bpe.py::
    bpe_byte_coverage_stats): learn <_BBC_ROUNDS> merges on the
    decorated corpus's word plane, then per document report word
    tokens, byte-fallback tokens (one per separator UTF-8 byte — the
    GPT-2-style byte alphabet), the byte-symbol alphabet actually
    used, an md5 pin on the exact fallback byte stream (uppercase-hex
    rendering verified byte-identical across engines), and the
    coverage ratio — exactly 1.0, asserted by BOTH engines' own
    accounting rather than claimed. A dropped byte, a hex-width slip,
    a regex class divergence at a non-ASCII boundary, or a merge-
    chain miscount all hash-fail.

    Scale: one word-type shuffle for learning; scoring is a single
    map pass (merge-chain fold + per-row regex/hex arithmetic) with
    only the per-doc partial agg moving — unchanged at 100 TB.
    """
    from declarativeml_spark.operators.bpe import bpe_byte_coverage_stats

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "aug", F.expr(_BBC_AUG_SPARK)
    )
    return bpe_byte_coverage_stats(
        docs, "doc_id", "aug", n_merges=_BBC_ROUNDS
    )


# ---------------------------------------------------------------------------
# MinHash at the CALIBRATED deployment width (round-9 verdict ask
# #5): dedup_band_calibration (pipeline8.py) evaluates the (r, b)
# splits of a 128-hash budget against this corpus's own pair-Jaccard
# distribution, and its table recommends r=8 rows x b=16 bands —
# measured at sf0.1: expected strong-pair (s>=0.3) recall 0.9998 with
# expected weak-pair (s<0.1) fire rate 1e-8, vs (4,32)'s 5e-4 false
# fires and (16,8)'s 1.9% recall loss. This query EXECUTES that
# recommendation: a full 128-minhash signature plane, 16 8-row
# bands, and the exact-Jaccard verify on every candidate-gated pair
# (threshold 0 — the banding gate itself is what is under test, so
# no similarity cutoff hides a banding bug).

_MH128_N = 128
_MH128_BANDS = 16


def _mh128_oracle() -> str:
    from declarativeml_spark.operators import textops as T
    from declarativeml_spark.queries.registry import sql_sround

    n, bands = _MH128_N, _MH128_BANDS
    rpb = n // bands
    groups = (n + 3) // 4
    toks = T.TOKENS_DUCK.format(text="text")
    shingles = T.SHINGLES_DUCK.format(toks="toks")
    mg = ", ".join(
        f"{T.minhash_md5_group_duck('shingles', g)} AS mg{g}"
        for g in range(groups)
    )
    mh = ", ".join(
        f"{T.minhash_slice_duck(f'mg{k // 4}', k % 4)} AS mh{k}"
        for k in range(n)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band_idx, concat({cols}) AS band_key"
        " FROM sigs".format(
            b=b,
            cols=", ".join(f"mh{b * rpb + r}" for r in range(rpb)),
        )
        for b in range(bands)
    )
    jac = sql_sround(
        "CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)"
        " / (len(sa.shingles) + len(sb.shingles)"
        " - len(list_intersect(sa.shingles, sb.shingles)))"
    )
    return f"""
    WITH d AS (SELECT doc_id, {toks} AS toks FROM documents),
    sh AS MATERIALIZED (SELECT doc_id, {shingles} AS shingles FROM d),
    g AS MATERIALIZED (SELECT doc_id, shingles, {mg} FROM sh),
    sigs AS MATERIALIZED (SELECT doc_id, {mh} FROM g),
    bands AS ({band_selects}),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    )
    SELECT c.id_a, c.id_b, {jac} AS jaccard
    FROM cand c
    JOIN sh sa ON sa.doc_id = c.id_a
    JOIN sh sb ON sb.doc_id = c.id_b
    """


@query("dedup_minhash128_pairs", oracle=_mh128_oracle())
def dedup_minhash128_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH at deployment width: 3-gram shingles → 128
    minhashes (one salted md5 per shingle per GROUP of 4 tables —
    32 md5 passes, the textops hash-amortization) → 16 bands of 8
    rows (the split dedup_band_calibration recommends for this
    corpus) → band-bucket equi-join → exact Jaccard on EVERY
    candidate pair, unthresholded. The DuckDB oracle replays all 128
    hashes and the banding, so the hash gate verifies exact-Jaccard
    parity of the candidate-gated pair set — both completeness (a
    pair Spark's banding missed would surface in the oracle set) and
    soundness (an extra pair hash-fails).

    Scale: the operators/dedup.py::minhash_plane path that
    dedup_minhash_lsh runs too — raw
    text shuffles once (spread), shingle/signature arrays never
    cross the wire, the candidate join moves (band_idx, 64-byte key,
    doc_id) slivers; r=8 banding keeps weak-pair false fires at the
    calibrated 1e-8, which is what makes the verify-join input (and
    so the whole pass) near-linear at 100 TB.
    """
    from declarativeml_spark.operators.dedup import minhash_pairs

    docs = load_table(spark, sf_dir, "documents")
    return minhash_pairs(
        docs,
        threshold=0.0,
        n_minhash=_MH128_N,
        bands=_MH128_BANDS,
    )


# ---------------------------------------------------------------------------
# Audio perceptual near-dup (round-10 verdict ask #3): completes the
# media dedup family — the WAV lake gets the same treatment the PPM
# lake got from media_phash_hamming, through the SAME quarter-band
# Hamming machinery (operators/dedup.py::hamming64_quarter_pairs,
# shared verbatim). Near-identical audio is PLANTED: every
# doc_id % <_WAV_COPY_MOD> == 0 file also exists as a copy with a
# small loud burst spliced into the middle (amplitude perturbation of
# ~one band), so the radius does real work — planted pairs land at
# small nonzero Hamming, not the trivial 0.

_N_MEDIA_WAV = 48
_WAV_COPY_MOD = 3
_AUDIO_RADIUS = 3


def _perturb_audio_text(t: str) -> str:
    """Python twin of the oracle's perturbation closed form: replace
    ``max(1, n // 64)`` characters starting at ``n // 2`` (≈ one time
    band) with ``'!'`` — a loud sample burst (|33 − 128| ≈ a space's
    amplitude) that nudges the affected band over the energy
    threshold without re-synthesizing the whole signal."""
    n = len(t)
    p0 = n // 2
    pl = max(1, n // 64)
    return t[:p0] + "!" * pl + t[p0 + pl :]


def _media_wav_lake_dir(spark: SparkSession, sf_dir: str) -> str:
    """The WAV lake: REAL RIFF/PCM files ``w<fid>.wav``, the copies
    perturbed by :func:`_perturb_audio_text`."""
    from declarativeml_spark.operators.multimodal import _wav_synth_builder

    return _media_lake_dir(
        spark, sf_dir, "w", "wav", _N_MEDIA_WAV, _WAV_COPY_MOD,
        _wav_synth_builder(8000), _perturb_audio_text, "perturb_mid",
    )


def _audio_fp_oracle() -> str:
    # per-character energy (the synth closed form, scale factor
    # dropped: sample = (byte-128)*256 squares to (byte-128)^2 * 2^16,
    # and the 64*be > total threshold is scale-invariant)
    esq = (
        "(ascii(substr(vt, CAST(i AS INT), 1)) - 128)"
        " * (ascii(substr(vt, CAST(i AS INT), 1)) - 128)"
    )
    # band k sums 1-based es indices [(k*n)//64 + 1, ((k+1)*n)//64]
    band = (
        "coalesce(list_sum(array_slice(e,"
        " CAST((k * n) // 64 AS BIGINT) + 1,"
        " CAST(((k + 1) * n) // 64 AS BIGINT))), 0)"
    )
    qexpr = (
        "CAST(list_sum(list_transform(range(16), j ->"
        " CASE WHEN 64 * bes[16 * {q} + j + 1] > total"
        " THEN 1 << j ELSE 0 END)) AS INT)"
    )
    qs = ", ".join(qexpr.format(q=q) + f" AS q{q}" for q in range(4))
    ham = " + ".join(f"bit_count(xor(a.q{q}, b.q{q}))" for q in range(4))
    return f"""
    WITH t AS (SELECT doc_id, coalesce(text, '') AS vt FROM documents
               ORDER BY doc_id LIMIT {_N_MEDIA_WAV}),
    variants AS (
        SELECT doc_id * 2 AS fid, vt FROM t
        UNION ALL
        SELECT doc_id * 2 + 1,
               concat(substr(vt, 1, p0), repeat('!', pl),
                      substr(vt, p0 + pl + 1))
        FROM (SELECT doc_id, vt, length(vt) // 2 AS p0,
                     greatest(1, length(vt) // 64) AS pl
              FROM t WHERE doc_id % {_WAV_COPY_MOD} = 0)
    ),
    es AS (
        SELECT fid, length(vt) AS n,
               list_transform(range(1, length(vt) + 1), i -> {esq}) AS e
        FROM variants
    ),
    be AS (
        SELECT fid, coalesce(list_sum(e), 0) AS total,
               list_transform(range(64), k -> {band}) AS bes
        FROM es
    ),
    sig AS (SELECT fid, {qs} FROM be),
    pairs AS (
        SELECT a.fid AS id_a, b.fid AS id_b, {ham} AS hamming
        FROM sig a JOIN sig b ON a.fid < b.fid
    )
    SELECT CAST(hamming AS BIGINT) AS hamming,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(MIN(id_a) AS BIGINT) AS min_id_a
    FROM pairs WHERE hamming <= {_AUDIO_RADIUS}
    GROUP BY hamming
    """


@query("media_audio_fingerprint_hamming", oracle=_audio_fp_oracle())
def media_audio_fingerprint_hamming(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Audio perceptual near-dup over the WAV lake: every file decodes
    through the REAL RIFF/PCM parser, fingerprints to a 64-bit
    band-energy signature (64 time bands, mean-energy threshold —
    operators/multimodal.py::audio_bandenergy64_quarters, the audio
    sibling of the image aHash), and the quarter columns feed
    :func:`_hamming_histogram`, the Hamming tail shared with
    ``media_phash_hamming``. The brute-force oracle recomputes every signature from the text
    closed form and counts ALL in-radius pairs, so the hash gate
    proves the decode arithmetic, the band-boundary integer rule, AND
    banding completeness at the radius.

    The planted copies are NOT byte-identical (a loud one-band burst
    is spliced mid-signal), so they surface at small nonzero Hamming
    — the re-encoded / lightly-edited asset class exact dedup
    misses, which is exactly what this pass exists to catch. The
    threshold rule is scale-invariant by construction, so a uniform
    gain change (the other classic re-encode artifact) lands at
    Hamming 0.

    Scale: signature extraction is a map-only Arrow stage (payloads
    never leave the executor; 4 ints per file exit Python); the pair
    join shuffles (band, value, id, quarters) slivers only.
    """
    from declarativeml_spark.operators.multimodal import (
        audio_bandenergy64_quarters,
    )

    files = _lake_files(spark, _media_wav_lake_dir(spark, sf_dir), "wav")
    return _hamming_histogram(
        audio_bandenergy64_quarters(files, id_col="file_id"), _AUDIO_RADIUS
    )


# ---------------------------------------------------------------------------
# Video perceptual near-dup: the third modality through the SAME
# quarter-band Hamming machinery — every Y4M file's sampled frames
# (every 4th, real FRAME-marker walk) sum into a temporal luma plane
# that aHashes to a 64-bit signature. The synth frames are 8x8 (one
# text byte per luma pixel), so each signature bit is an independent
# pixel cell and the planted two-character brightening perturbs 1-3
# bits — inside the radius, never the trivial 0.

_N_MEDIA_Y4M = 48
_Y4M_COPY_MOD = 3
_VIDEO_RADIUS = 3
_VIDEO_EVERY_N = 4
_Y4M_SIDE = 8  # synth frame geometry: 8x8 luma, 64 chars per frame


def _perturb_video_text(t: str) -> str:
    """Python twin of the oracle's closed form: brighten the first two
    characters to ``'~'`` (frame 0 is ALWAYS sampled, so the
    perturbation is guaranteed visible to the fingerprint; cells 0-1
    shift, flipping at most those two bits plus any mean-marginal
    cell)."""
    return "~~" + t[2:]


def _media_y4m_lake_dir(spark: SparkSession, sf_dir: str) -> str:
    """The Y4M lake: REAL YUV4MPEG2 containers ``v<fid>.y4m`` (8×8
    C420 frames), the copies brightened by
    :func:`_perturb_video_text`."""
    from declarativeml_spark.operators.multimodal import _y4m_synth_builder

    return _media_lake_dir(
        spark, sf_dir, "v", "y4m", _N_MEDIA_Y4M, _Y4M_COPY_MOD,
        _y4m_synth_builder(_Y4M_SIDE, _Y4M_SIDE), _perturb_video_text,
        f"{_Y4M_SIDE}x{_Y4M_SIDE}|brighten2",
    )


def _video_ahash_oracle() -> str:
    # 8x8 synth frames resample to the 8x8 grid as the IDENTITY
    # (_nn_index(8, 8) = range(8)), so grid cell p IS luma offset p:
    # cell value = sum over sampled frames f of text byte f*64 + p
    # (0 beyond the text — the synth zero-pads the final frame).
    fpp = _Y4M_SIDE * _Y4M_SIDE  # luma bytes per frame
    cell = (
        f"CASE WHEN f * {fpp} + p < n THEN"
        f" ascii(substr(vt, CAST(f * {fpp} + p + 1 AS INT), 1))"
        " ELSE 0 END"
    )
    # the exact aHash rule is v > total // 64 (FLOOR mean, matching
    # ahash64_quarters) — not the scale-free 64*v > total, which
    # differs when total % 64 != 0 and v == total // 64
    qv = (
        "CAST(SUM(CASE WHEN p // 16 = {q} AND v > total // 64"
        " THEN 1 << (p % 16) ELSE 0 END) AS INT)"
    )
    qs = ", ".join(qv.format(q=q) + f" AS q{q}" for q in range(4))
    ham = " + ".join(f"bit_count(xor(a.q{q}, b.q{q}))" for q in range(4))
    return f"""
    WITH t AS (SELECT doc_id, coalesce(text, '') AS vt FROM documents
               ORDER BY doc_id LIMIT {_N_MEDIA_Y4M}),
    variants AS (
        SELECT doc_id * 2 AS fid, vt FROM t
        UNION ALL
        SELECT doc_id * 2 + 1, concat('~~', substr(vt, 3)) FROM t
        WHERE doc_id % {_Y4M_COPY_MOD} = 0
    ),
    s AS (SELECT fid, vt, length(vt) AS n,
                 greatest(1, CAST(ceil(length(vt) / {fpp}.0) AS BIGINT))
                     AS nf
          FROM variants),
    cells AS (
        SELECT fid, p, SUM({cell}) AS v
        FROM s,
             unnest(range(nf)) AS uf(f),
             unnest(range({fpp})) AS up(p)
        WHERE f % {_VIDEO_EVERY_N} = 0
        GROUP BY fid, p
    ),
    tot AS (SELECT fid, SUM(v) AS total FROM cells GROUP BY fid),
    sig AS (
        SELECT c.fid, {qs}
        FROM cells c JOIN tot USING (fid)
        GROUP BY c.fid
    ),
    pairs AS (
        SELECT a.fid AS id_a, b.fid AS id_b, {ham} AS hamming
        FROM sig a JOIN sig b ON a.fid < b.fid
    )
    SELECT CAST(hamming AS BIGINT) AS hamming,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(MIN(id_a) AS BIGINT) AS min_id_a
    FROM pairs WHERE hamming <= {_VIDEO_RADIUS}
    GROUP BY hamming
    """


@query("media_video_ahash_hamming", oracle=_video_ahash_oracle())
def media_video_ahash_hamming(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Video perceptual near-dup over the Y4M lake — the third
    modality completing the media dedup family (images r10, audio +
    video r11): every container decodes through the REAL FRAME-marker
    walk, every 4th frame's luma plane sums into a temporal
    signature plane, and the 8×8 aHash (operators/multimodal.py::
    video_ahash64_quarters) feeds :func:`_hamming_histogram`, the
    Hamming tail shared with ``media_phash_hamming`` and
    ``media_audio_fingerprint_hamming``. The brute-force oracle recomputes every signature from the text
    closed form and counts ALL in-radius pairs, so the hash gate
    proves the frame walk, the sampling rule, the temporal sum, AND
    banding completeness at the radius.

    The planted copies brighten two pixels of frame 0 (always
    sampled), so they surface at small nonzero Hamming — the
    re-encoded / lightly-edited clip class exact dedup misses.

    Scale: decode + sample + hash fuse into one map-only Arrow stage
    (raw frames never leave the executor; 4 ints per file exit
    Python); the pair join shuffles (band, value, id, quarters)
    slivers only.
    """
    from declarativeml_spark.operators.multimodal import (
        video_ahash64_quarters,
    )

    files = _lake_files(spark, _media_y4m_lake_dir(spark, sf_dir), "y4m")
    return _hamming_histogram(
        video_ahash64_quarters(files, id_col="file_id", every_n=_VIDEO_EVERY_N),
        _VIDEO_RADIUS,
    )


# ---------------------------------------------------------------------------
# BPE at deployment width (round-10 verdict ask #4): 256 merges
# end-to-end — the per-round driver loop, the lineage-truncation
# discipline, and the Arrow mapInPandas scoring path (the >64-rule
# Catalyst cliff makes expression-fold scoring impossible at this
# width) all exercised at real size. The synthetic corpus has only
# 31 distinct words (merge ceiling ~89), so each document also
# contributes a separator-free GLUED rendition of its text, CHOPPED
# into 12-char words — a deterministic augmentation (the
# tokenizer_bpe_byte_coverage decoration pattern) that widens the
# word plane to ~9.5k types. Chopping is load-bearing: the apply
# fold is O(len²) per word (immutable array accumulators), so
# unchopped glued words of thousands of chars made every round
# quadratic in document length (measured: sf0.1 rounds at ~3.5 s vs
# the ~0.4 s compile floor). Training reads a DETERMINISTIC
# 500-document slice — the standard tokenizer-training SAMPLE (at
# 100 TB nobody trains BPE on the full corpus), and the one design
# choice that keeps the 256-round cost FLAT in SF: the word-type
# plane stays ~9.5k types at every scale factor, so the only cost is
# the driver loop's per-round floor, never data volume. The oracle
# replays the ENTIRE learning loop over the same slice with one
# recursive CTE (operators/bpe.py::bpe_deep_oracle_sql) — no
# unrolled chain, no pinned constants: a full hash gate, not a
# pinned twin.

_DEEP_MERGES = 256
_DEEP_SAMPLE = 500  # deterministic training slice (ORDER BY doc_id)
_DEEP_CKPT_EVERY = 1  # measured: fold stacking loses to per-round truncation
_DEEP_VOCAB_PARTS = 1  # ~9.5k word types; see bpe_learn_rules
# F.expr parses patterns through a Spark SQL string literal
# (backslashes DOUBLED); DuckDB takes them single, needs the 'g'
# flag (its regexp_replace is first-match-only by default, Java's
# replaceAll is global), and spells the backreference \\1 vs Java's $1
_DEEP_AUG_SPARK = (
    "concat(coalesce(text, ''), ' ', regexp_replace("
    "regexp_replace(coalesce(text, ''), '[^\\\\p{L}\\\\p{N}]+', ''),"
    " '(.{12})', '$1 '))"
)
_DEEP_AUG_DUCK = (
    "concat(coalesce(text, ''), ' ', regexp_replace("
    "regexp_replace(coalesce(text, ''), '[^\\p{L}\\p{N}]+', '', 'g'),"
    " '(.{12})', '\\1 ', 'g'))"
)


def _deep_oracle() -> str:
    from declarativeml_spark.operators.bpe import bpe_deep_oracle_sql

    sample = (
        f"(SELECT text FROM documents ORDER BY doc_id LIMIT {_DEEP_SAMPLE})"
    )
    return bpe_deep_oracle_sql(
        _DEEP_MERGES,
        table=f"(SELECT {_DEEP_AUG_DUCK} AS aug FROM {sample} s) t",
        text_col="aug",
    )


@query("tokenizer_bpe_deep_merges", oracle=_deep_oracle())
def tokenizer_bpe_deep_merges(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The BPE learner at deployment width: 256 greedy merge rounds
    over the augmented word plane of the deterministic 500-document
    training slice (operators/bpe.py::bpe_learn_rules — the exact
    loop the 6-merge oracle queries run, one lazy-checkpoint job per
    round), then the slice Arrow-scored with all 256 learned rules
    (operators/bpe.py::bpe_tokenize_map — the mapInPandas path that
    exists precisely because expression folds stop parsing past ~64
    rules; applying the table to the FULL corpus is the same
    memoized map the other BPE queries gate).

    Output: the full 256-row merge table, each row carrying the
    compression tail (final_tokens, final_vocab) computed FROM THE
    ARROW-SCORED TEXT — so the hash gate simultaneously proves
    (a) all 256 learned rules + counts against the oracle's
    recursive-CTE learning replay, (b) that Arrow scoring with the
    learned table reproduces the learner's final generation exactly
    (learn/score equivalence at full width), and (c) the curve tail.

    Scale: tokenizer training SAMPLES at any corpus size (the 100 TB
    shape: one bounded slice feeds the loop; the corpus pays only
    the scoring map). The 256 rounds run on a constant ~9.5k-type
    plane, so the cost is the driver loop's per-round floor — flat
    in SF by construction, priced in bench.py's notes.
    """
    from declarativeml_spark.operators.bpe import (
        bpe_learn_rules,
        bpe_tokenize_map,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .orderBy("doc_id")
        .limit(_DEEP_SAMPLE)
    )
    aug = docs.select(F.expr(_DEEP_AUG_SPARK).alias("aug"))
    rows = bpe_learn_rules(
        aug,
        "aug",
        _DEEP_MERGES,
        checkpoint_every=_DEEP_CKPT_EVERY,
        vocab_partitions=_DEEP_VOCAB_PARTS,
    )
    rules = [(lhs, rhs) for (_r, lhs, rhs, _m, _c) in rows]
    scored = bpe_tokenize_map(aug, "aug", rules)
    stats = scored.select(F.explode("tokens").alias("tok")).agg(
        F.count(F.lit(1)).cast("long").alias("final_tokens"),
        F.count_distinct("tok").cast("long").alias("final_vocab"),
    )
    mdf = spark.createDataFrame(
        rows,
        "merge_round long, lhs string, rhs string, merged string,"
        " pair_count long",
    )
    return mdf.crossJoin(F.broadcast(stats))
