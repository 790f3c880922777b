"""Multimodal columns: opaque binary payloads + typed metadata,
processed with Arrow-batched pandas iterators (``mapInPandas``).

Design (per the north-star brief): image/audio/video cells are
``BinaryType`` columns alongside a metadata struct (format, dims,
duration). Decode / feature-extract / resize / frame-sample run as
``mapInPandas`` batch functions — the Arrow boundary is the real,
tested part. Codecs:

* ``codec="fake"`` (default) — deterministic byte-level features so
  tests and oracles can verify the full distributed path;
* ``codec="wav"`` — a REAL dependency-free RIFF/PCM parser
  (:func:`decode_wav`, registered via :func:`register_wav_codec`):
  chunk walking, format validation, exact integer energy —
  oracle-checked end to end (multimodal_wav_features);
* ``codec="ppm"`` — a REAL dependency-free PPM (P6) image parser
  (:func:`decode_ppm`): comment-aware header scan, 8/16-bit samples,
  exact per-channel sums — oracle-checked (multimodal_ppm_stats);
  :func:`resize_image` does a real nearest-neighbor resample for it;
* other real codec names — raise ``NotImplementedError`` with the
  library they'd need (PIL/libav), at plan-build time, loudly;
  :func:`register_codec` is the plug-in point.

Scale notes: media blobs are large and skewed — the helpers can
round-robin repartition before the UDF (``balance_partitions``) so
one executor doesn't receive all the 4K videos while another gets
thumbnails. Decode peak memory is bounded per call by chunking rows
INSIDE the batch function (``batch_size``) — never by mutating the
session-wide Arrow conf, which would leak into every other query.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("format", T.StringType(), True),
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("n_bytes", T.LongType(), True),
                ]
            ),
            True,
        ),
    ]
)

_SUPPORTED_CODECS = {"fake"}
N_HISTOGRAM_BINS = 16

# User-registered decoders: the extension point that turns the
# fake-codec boundary into a plug, not a dead end. A decoder is a
# PICKLABLE callable ``decode(payload: bytes, meta: dict | None) ->
# list`` returning the per-item feature vector; it ships to executors
# inside the mapInPandas closure, so it must not capture a
# SparkSession or other driver-only state.
_CODECS: dict = {}


def register_codec(
    name: str,
    decode,
    feature_dtype: Optional[T.DataType] = None,
    resize=None,
    samples=None,
) -> None:
    """Register a real decoder under ``name`` for
    :func:`decode_features` (e.g. a PIL/libav-backed callable in an
    environment that has one).

    ``feature_dtype`` is the element type of the returned feature
    column (default ``array<long>``, matching the fake codec).
    ``resize`` is an optional picklable
    ``resize(payload: bytes, width: int, height: int) -> bytes``
    capability consumed by :func:`resize_image`; ``samples`` an
    optional picklable ``samples(payload: bytes) -> int64 ndarray``
    (decoded, channel-interleaved) consumed by :func:`window_energy`.
    Capabilities are per-codec, so each real codec brings its own
    implementation instead of patching name checks into the shared
    dispatch — and an operator asked for a capability the codec lacks
    fails loudly instead of running byte-level math on container
    bytes.
    """
    if name == "fake":
        raise ValueError("'fake' is the built-in deterministic stub; pick another name")
    if not callable(decode):
        raise TypeError(f"decode for codec {name!r} must be callable")
    for label, cap in (("resize", resize), ("samples", samples)):
        if cap is not None and not callable(cap):
            raise TypeError(f"{label} for codec {name!r} must be callable")
    _CODECS[name] = (
        decode,
        feature_dtype or T.ArrayType(T.LongType()),
        resize,
        samples,
    )


def unregister_codec(name: str) -> None:
    _CODECS.pop(name, None)


def _require_codec(codec: str, capability: str) -> None:
    if codec not in _SUPPORTED_CODECS and codec not in _CODECS:
        raise NotImplementedError(
            f"codec {codec!r} for {capability} needs an image/audio library"
            " (PIL / libav) that is not available in this environment;"
            " use codec='fake' for the deterministic byte-level stub, or"
            " register_codec(name, decode_fn) to plug a real decoder in"
        )


def attach_fake_media(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Derive a binary media column from text (UTF-8 bytes) + metadata.

    Test fixture: gives every documents row an opaque payload with the
    same shape a real ingest (image bytes + probed metadata) would have.
    """
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.select(
        F.col(id_col).alias("media_id"),
        payload.alias("payload"),
        F.struct(
            F.lit("fake/bytes").alias("format"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.length(payload).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def decode_features(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    codec: str = "fake",
    bins: int = N_HISTOGRAM_BINS,
    batch_size: Optional[int] = None,
    balance_partitions: Optional[int] = None,
) -> DataFrame:
    """Decode payloads to a feature vector via mapInPandas.

    Fake codec: a normalized ``bins``-bin histogram of byte values
    (byte // (256/bins)) — deterministic, so the distributed plumbing
    is verifiable against a SQL oracle.
    """
    # shipped dependency-free codecs register on demand, like
    # window_energy/resize_image do — without this, a fresh session's
    # decode_features(codec="wav") raised a "needs PIL/libav" error
    # for a codec this module itself implements (and it must happen
    # BEFORE the capability check, or the check still raises first)
    if codec == "wav":
        register_wav_codec()
    elif codec == "ppm":
        register_ppm_codec()
    elif codec == "y4m":
        register_y4m_codec()
    _require_codec(codec, "decode_features")
    if not 1 <= bins <= 256:
        raise ValueError(f"bins must be in [1, 256], got {bins}")
    width = 256 // bins
    custom = _CODECS.get(codec)
    feature_dtype = custom[1] if custom else T.ArrayType(T.LongType())
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("features", feature_dtype, True),
        ]
    )
    has_meta = "meta" in df.columns

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def _chunks(frames):
            # bound decode peak memory per yielded frame WITHOUT
            # mutating the session-wide Arrow batch conf (the old
            # conf.set at plan-BUILD time leaked into every other
            # query in the session, last builder winning)
            for pdf in frames:
                if batch_size and len(pdf) > batch_size:
                    for i in range(0, len(pdf), batch_size):
                        yield pdf.iloc[i : i + batch_size]
                else:
                    yield pdf

        for pdf in _chunks(it):
            feats = []
            metas = pdf["meta"] if (custom and has_meta) else None
            for pos, blob in enumerate(pdf[payload_col]):
                if custom:
                    meta = None
                    if metas is not None:
                        m = metas.iloc[pos]
                        meta = dict(m) if m is not None else None
                    feats.append(custom[0](bytes(blob) if blob is not None else b"", meta))
                    continue
                if blob is None or len(blob) == 0:
                    feats.append([0] * bins)
                    continue
                # clip: when bins does not divide 256, bytes above
                # bins*width would index bucket `bins` and bincount
                # (minlength only pads) would emit a ragged bins+1
                # vector for just those rows
                arr = np.minimum(
                    np.frombuffer(blob, dtype=np.uint8) // width, bins - 1
                )
                # integer counts, not ratios: exact under any hasher
                feats.append(np.bincount(arr, minlength=bins).tolist())
            yield pd.DataFrame({"media_id": pdf[id_col], "features": feats})

    # optional rebalance: worth one shuffle only when blob sizes are
    # skewed enough (4K video vs thumbnails) that task balance beats
    # the shuffle cost — off by default. Keyless repartition is
    # ROUND-ROBIN, spreading rows evenly regardless of size; the old
    # length-modulo hash key sent every identical-length large blob
    # to ONE partition (fixed-geometry videos all share a length),
    # recreating the exact skew it claimed to fix
    if balance_partitions:
        df = df.repartition(balance_partitions)
    return df.mapInPandas(batches, schema=out_schema)


def _resolve_resizer(codec: str, caller: str, width: int, height: int):
    """Shared resize-capability dispatch for resize_image and
    resize_decode_features: idempotent built-in auto-registration,
    capability check, dims validation — ONE definition, so the
    chained and fused forms cannot drift (a codec added to one path
    but not the other would silently break their tested
    equivalence). Returns the full codec entry."""
    if codec == "ppm":
        register_ppm_codec()
    elif codec == "y4m":
        register_y4m_codec()
    _require_codec(codec, caller)
    entry = _CODECS.get(codec)
    resizer = entry[2] if entry and len(entry) > 2 else None
    if resizer is None:
        # covers codec='fake' too (a built-in decoder, but no pixel
        # geometry to resize)
        raise NotImplementedError(
            f"codec {codec!r} has no registered resize capability;"
            " register_codec(name, decode, resize=fn) to add one"
            " (codec='ppm' ships a real resampler)"
        )
    if width < 1 or height < 1:
        raise ValueError(
            f"resize target must be positive, got {width}x{height}"
        )
    return entry


def resize_image(
    df: DataFrame, payload_col: str = "payload", width: int = 64, height: int = 64,
    codec: str = "real", id_col: str = "media_id",
) -> DataFrame:
    """Resize images to ``width × height``.

    Dispatches to the codec's registered ``resize`` capability (see
    :func:`register_codec`'s ``resize`` parameter) — ``ppm`` ships one
    (:func:`resize_ppm`: real nearest-neighbor resample in numpy,
    re-encoded P6), all inside the Arrow batch, map-only. A codec
    without the capability raises at plan-build time (``fake``
    payloads have no pixel geometry; PIL-class codecs aren't in this
    container).
    """
    entry = _resolve_resizer(codec, "resize_image", width, height)
    resizer = entry[2]
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("payload", T.BinaryType(), True),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pd.array(pdf[id_col], dtype="int64"),
                    "payload": pd.Series(
                        [
                            resizer(
                                bytes(b) if b is not None else b"",
                                width,
                                height,
                            )
                            for b in pdf[payload_col]
                        ],
                        dtype=object,
                    ),
                }
            )

    return df.mapInPandas(batches, schema=out_schema)


FRAME_BYTES = 16  # fake codec: one "frame" = 16 consecutive payload bytes


def sample_frames(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    every_n: int = 4,
    codec: str = "fake",
    frame_bytes: int = FRAME_BYTES,
) -> DataFrame:
    """Sample every ``every_n``-th frame of each video payload.

    ``codec="y4m"`` (the REAL path, :func:`decode_y4m`'s sibling):
    the payload is a genuine YUV4MPEG2 container; frames are found by
    walking the ``FRAME`` markers and each sampled frame comes back as
    its raw planar YUV bytes. ``codec="fake"`` treats the payload as
    a stream of fixed ``frame_bytes``-byte frames — kept as the
    codec-free smoke path. Output is (media_id, frame_no, frame) rows
    either way.

    Scale: mapInPandas keeps whole payloads executor-local — no
    shuffle; frame rows are emitted where the blob already lives, so
    a downstream per-frame feature step chains map-to-map.
    """
    if every_n < 1:
        raise ValueError(f"every_n must be >= 1, got {every_n}")
    if frame_bytes < 1:
        raise ValueError(f"frame_bytes must be >= 1, got {frame_bytes}")
    if codec == "y4m":
        register_y4m_codec()  # idempotent convenience
    _require_codec(codec, "sample_frames")
    if codec not in ("y4m", "fake"):
        # frame walking is a CONTAINER capability: y4m has real FRAME
        # markers and "fake" is the documented fixed-stride stub. Any
        # other registered codec (wav, ppm — no frame semantics)
        # would silently fall into the fixed-stride path and slice
        # container header bytes into garbage "frames"; fail loudly
        # like window_energy/resize_image do for missing capabilities
        raise NotImplementedError(
            f"sample_frames: codec {codec!r} has no frame-walking"
            " capability — only 'y4m' (real container frames) and"
            " 'fake' (fixed-stride stub) sample frames"
        )
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("frame_no", T.LongType(), False),
            T.StructField("frame", T.BinaryType(), True),
        ]
    )
    use_y4m = codec == "y4m"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, nos, frames = [], [], []
            for mid, blob in zip(pdf[id_col], pdf[payload_col]):
                if blob is None:
                    continue
                if use_y4m:
                    for f, frame in enumerate(_iter_y4m_frames(bytes(blob))):
                        if f % every_n == 0:
                            ids.append(mid)
                            nos.append(f)
                            frames.append(frame)
                    continue
                n_frames = len(blob) // frame_bytes
                for f in range(0, n_frames, every_n):
                    ids.append(mid)
                    nos.append(f)
                    frames.append(bytes(blob[f * frame_bytes : (f + 1) * frame_bytes]))
            yield pd.DataFrame(
                {
                    # explicit dtypes: an empty batch would otherwise
                    # infer object columns Arrow can't map to long
                    "media_id": pd.array(ids, dtype="int64"),
                    "frame_no": pd.array(nos, dtype="int64"),
                    "frame": pd.Series(frames, dtype=object),
                }
            )

    return df.mapInPandas(batches, schema=out_schema)


WINDOW_SAMPLES = 64  # one analysis window = 64 samples
WINDOW_BYTES = WINDOW_SAMPLES  # back-compat alias (fake: 1 byte = 1 sample)


def window_energy(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    codec: str = "fake",
    window_samples: int = WINDOW_SAMPLES,
    window_bytes: Optional[int] = None,
) -> DataFrame:
    """Per-window energy of an audio payload via mapInPandas, split
    into ``window_samples``-SAMPLE analysis windows (last window
    ragged); each window's energy is the exact integer sum of squared
    sample values. (``window_bytes`` is the deprecated alias from when
    only the byte-level fake path existed — for real codecs the unit
    is decoded samples, not bytes.)

    Real codecs window their DECODED samples via the registry's
    ``samples`` capability (``wav`` ships :func:`_parse_wav` —
    channel-interleaved int64 PCM); windowing raw container bytes
    would mix header bytes into the first window and split 16-bit
    samples, so a codec WITHOUT the capability fails loudly instead
    of silently squaring container bytes. ``codec="fake"`` keeps the
    byte-level stand-in (payload bytes as unsigned 8-bit samples) for
    codec-free plumbing tests.

    Scale: one row per (media, window) leaves the Python boundary —
    slim longs, never the payload. Energy stays in int64 (max
    window · 32768² per window), so no float drift crosses the
    engine boundary.
    """
    if window_bytes is not None:
        if window_samples != WINDOW_SAMPLES:
            raise ValueError(
                "pass window_samples OR the deprecated window_bytes"
                f" alias, not both (got {window_samples} and"
                f" {window_bytes})"
            )
        if window_bytes < 1:
            raise ValueError(
                f"window_bytes must be >= 1, got {window_bytes}"
            )
        window_samples = window_bytes
    if window_samples < 1:
        raise ValueError(f"window_samples must be >= 1, got {window_samples}")
    if codec == "wav":
        register_wav_codec()  # idempotent convenience
    _require_codec(codec, "window_energy")
    entry = _CODECS.get(codec)
    sampler = entry[3] if entry and len(entry) > 3 else None
    if codec != "fake" and sampler is None:
        raise NotImplementedError(
            f"codec {codec!r} has no registered samples capability;"
            " register_codec(name, decode, samples=fn) to add one"
            " (codec='wav' ships a real PCM sampler) — windowing raw"
            " container bytes would be silently wrong"
        )
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("window_id", T.LongType(), False),
            T.StructField("n_samples", T.LongType(), False),
            T.StructField("energy", T.LongType(), False),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            ids, wids, ns, es = [], [], [], []
            for mid, blob in zip(pdf[id_col], pdf[payload_col]):
                if blob is None or len(blob) == 0:
                    continue
                if sampler is not None:
                    arr = sampler(bytes(blob))
                else:
                    arr = np.frombuffer(blob, dtype=np.uint8).astype(np.int64)
                for w in range(0, len(arr), window_samples):
                    win = arr[w : w + window_samples]
                    ids.append(int(mid))
                    wids.append(w // window_samples)
                    ns.append(int(win.size))
                    es.append(int((win * win).sum()))
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "window_id": wids,
                    "n_samples": ns,
                    "energy": es,
                }
            )

    return df.mapInPandas(batches, schema=out_schema)


# ---------------------------------------------------------------------------
# Real codec #1: dependency-free WAV (RIFF/PCM) — retires the
# "codecs stubbed by design" footnote. Pure stdlib + numpy (no audio
# library), registered through the same register_codec boundary a
# PIL/libav decoder would use.


def _parse_wav(payload: bytes) -> tuple:
    """Shared RIFF/WAVE parse → ``(sample_rate, n_channels, bits,
    n_frames, samples)`` with ``samples`` the int64 array of all
    channel-interleaved PCM values (16-bit signed; 8-bit unsigned
    centered at 128 per the spec). Single source of truth for
    :func:`decode_wav` and :func:`window_energy`'s wav path."""
    import numpy as np

    if payload is None or len(payload) < 12:
        raise ValueError("not a RIFF/WAVE payload (too short)")
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload (bad magic)")
    fmt = data = None
    pos = 12
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        body = payload[pos + 8 : pos + 8 + size]
        if len(body) < size:
            raise ValueError(f"truncated {cid!r} chunk ({len(body)}/{size}B)")
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are 2-byte aligned
    if fmt is None or len(fmt) < 16:
        raise ValueError("missing or short fmt chunk")
    if data is None:
        raise ValueError("missing data chunk")
    audio_format = int.from_bytes(fmt[0:2], "little")
    n_channels = int.from_bytes(fmt[2:4], "little")
    sample_rate = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if audio_format != 1:
        raise ValueError(f"only PCM (format 1) supported, got {audio_format}")
    if bits not in (8, 16):
        raise ValueError(f"only 8/16-bit PCM supported, got {bits}")
    if n_channels < 1:
        raise ValueError(f"invalid channel count {n_channels}")
    frame = (bits // 8) * n_channels
    n_frames = len(data) // frame if frame else 0
    usable = data[: n_frames * frame]
    if bits == 16:
        samples = np.frombuffer(usable, dtype="<i2").astype(np.int64)
    else:
        samples = np.frombuffer(usable, dtype=np.uint8).astype(np.int64) - 128
    return sample_rate, n_channels, bits, n_frames, samples


def decode_wav(payload: bytes, meta: Optional[dict] = None) -> list:
    """Parse a RIFF/WAVE container and return
    ``[sample_rate, n_channels, bits, n_frames, energy]`` where
    ``energy`` is the exact integer sum of squared samples across all
    channels (16-bit PCM signed; 8-bit PCM unsigned, centered at 128
    per the WAV spec).

    A REAL parser, not a stub (:func:`_parse_wav`): walks word-aligned
    chunks (so LIST / INFO / junk chunks between fmt and data are
    skipped, as real encoders emit them), validates the PCM format
    tag, and rejects truncated containers loudly. Runs executor-side
    inside the Arrow ``mapInPandas`` batch (see
    :func:`decode_features`), so only the 5-long feature vector
    crosses the Python boundary per file.
    """
    sample_rate, n_channels, bits, n_frames, samples = _parse_wav(payload)
    energy = int((samples * samples).sum()) if samples.size else 0
    return [sample_rate, n_channels, bits, n_frames, energy]


def _wav_samples(payload: bytes):
    """The wav codec's ``samples`` capability: decoded
    channel-interleaved int64 PCM values (see :func:`_parse_wav`)."""
    return _parse_wav(payload)[4]


def register_wav_codec() -> None:
    """Idempotently register :func:`decode_wav` (+ the
    :func:`_wav_samples` windowing capability) as codec ``"wav"``."""
    if "wav" not in _CODECS:
        register_codec(
            "wav", decode_wav, T.ArrayType(T.LongType()), samples=_wav_samples
        )


def _synth_from_text(
    df: DataFrame, text_col: str, id_col: str, one
) -> DataFrame:
    """(media_id, payload) from a per-row container builder ``one(text)
    → bytes`` — the one Arrow scaffold behind every ``synth_*_from_text``
    fixture. Payloads build executor-side in the Arrow batch
    (mapInPandas, no shuffle)."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("payload", T.BinaryType(), True),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pd.array(pdf[id_col], dtype="int64"),
                    "payload": pd.Series(
                        [one(t) for t in pdf[text_col]], dtype=object
                    ),
                }
            )

    return df.select(id_col, text_col).mapInPandas(batches, schema=out_schema)


def _wav_synth_builder(sample_rate: int):
    """Per-row RIFF/PCM builder behind :func:`synth_wav_from_text`."""
    import numpy as np

    def one(text: Optional[str]) -> bytes:
        raw = (text or "").encode("utf-8")
        samples = (
            (np.frombuffer(raw, dtype=np.uint8).astype(np.int16) - 128)
            * 256
        ).astype("<i2").tobytes()
        fmt = (
            (1).to_bytes(2, "little")            # PCM
            + (1).to_bytes(2, "little")          # mono
            + sample_rate.to_bytes(4, "little")
            + (sample_rate * 2).to_bytes(4, "little")  # byte rate
            + (2).to_bytes(2, "little")          # block align
            + (16).to_bytes(2, "little")         # bits
        )
        body = (
            b"fmt " + len(fmt).to_bytes(4, "little") + fmt
            + b"data" + len(samples).to_bytes(4, "little") + samples
            + (b"\x00" if len(samples) & 1 else b"")
        )
        return (
            b"RIFF" + (4 + len(body)).to_bytes(4, "little") + b"WAVE"
            + body
        )

    return one


def synth_wav_from_text(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sample_rate: int = 8000,
) -> DataFrame:
    """Deterministic WAV fixture: each document's text becomes a REAL
    16-bit mono PCM RIFF container with one sample per character —
    ``sample[i] = (byte[i] − 128) · 256`` — so a SQL oracle can
    compute the decoder's expected output from the text alone while
    the Spark side must actually parse the container. Payloads build
    executor-side in the Arrow batch (mapInPandas, no shuffle)."""
    return _synth_from_text(df, text_col, id_col, _wav_synth_builder(sample_rate))


# ---------------------------------------------------------------------------
# Real codec #2: dependency-free PPM (P6) image decoder — the image
# sibling of decode_wav, through the same register_codec boundary.


def _parse_ppm_header(payload: bytes) -> tuple:
    """Shared P6 header scan → ``(width, height, maxval,
    pixel_offset)``; the single source of truth for both
    :func:`decode_ppm` and :func:`resize_ppm` (two divergent inline
    copies of a format parser is how resize-only bugs happen).

    Comment rules, stated precisely: ``#``-to-newline comments are
    accepted between header tokens AND between the maxval digits and
    the raster delimiter. After the last comment (or the maxval
    digits), exactly ONE whitespace byte delimits the raster — the
    netpbm reading; a ``#`` *after* that delimiter is pixel data
    (value 0x23), not a comment, since raster bytes are opaque."""
    if payload is None or len(payload) < 2 or payload[:2] != b"P6":
        raise ValueError("not a binary PPM (P6) payload")
    pos = 2
    fields: list[int] = []
    while len(fields) < 3:
        if pos >= len(payload):
            raise ValueError("truncated PPM header")
        c = payload[pos : pos + 1]
        if c.isspace():
            pos += 1
        elif c == b"#":  # comment runs to end of line
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
        elif c.isdigit():
            start = pos
            while (
                pos < len(payload) and payload[pos : pos + 1].isdigit()
            ):
                pos += 1
            fields.append(int(payload[start:pos]))
        else:
            raise ValueError(f"bad PPM header byte {c!r} at {pos}")
    width, height, maxval = fields
    if width < 1 or height < 1:
        raise ValueError(f"PPM dimensions {width}x{height} out of range")
    if not (0 < maxval < 65536):
        raise ValueError(f"PPM maxval {maxval} out of range")
    # comments may still stand between the maxval digits and the
    # raster-delimiting whitespace — consume EACH comment through its
    # newline and re-check, so consecutive comments all skip (the old
    # loop left pos ON the newline, could never iterate twice, and
    # read the second comment's bytes as raster)
    saw_comment = False
    while payload[pos : pos + 1] == b"#":
        saw_comment = True
        while pos < len(payload) and payload[pos : pos + 1] != b"\n":
            pos += 1
        pos += 1  # the comment's terminating newline
    if not saw_comment:
        pos += 1  # exactly ONE whitespace byte separates header and pixels
    return width, height, maxval, pos


def decode_ppm(payload: bytes, meta: Optional[dict] = None) -> list:
    """Parse a binary PPM (P6) image and return
    ``[width, height, maxval, sum_r, sum_g, sum_b]`` — exact integer
    per-channel sums, so a SQL oracle over synthesized pixels has a
    closed form and any parser bug (header offset, comment handling,
    interleave order) hash-fails.

    A REAL parser (header rules in :func:`_parse_ppm_header`):
    arbitrary whitespace between header tokens, comments between
    tokens and before the raster delimiter, loud truncation errors.
    16-bit maxval (two bytes per sample, big-endian) per the spec.
    """
    import numpy as np

    width, height, maxval, pos = _parse_ppm_header(payload)
    two_byte = maxval > 255
    need = width * height * 3 * (2 if two_byte else 1)
    data = payload[pos : pos + need]
    if len(data) < need:
        raise ValueError(
            f"truncated PPM pixel data ({len(data)}/{need}B)"
        )
    arr = np.frombuffer(
        data, dtype=(">u2" if two_byte else np.uint8)
    ).astype(np.int64).reshape(-1, 3)
    sums = arr.sum(axis=0)
    return [width, height, maxval, int(sums[0]), int(sums[1]), int(sums[2])]


def _nn_index(dst: int, src: int):
    """Nearest-neighbor source indices: ``floor((i + 0.5) * src/dst)``
    clamped to ``src - 1``. The ONE resample rule shared by
    :func:`resize_ppm` and :func:`resize_y4m` — two inline copies of
    an index rule is how resize-only bugs happen."""
    import numpy as np

    return np.minimum(
        ((np.arange(dst) + 0.5) * src / dst).astype(int), src - 1
    )


def resize_ppm(payload: bytes, width: int, height: int) -> bytes:
    """Nearest-neighbor P6 resample (the ``resize`` capability the
    ``ppm`` codec registers): one header scan, one numpy fancy-index —
    no per-channel sum pass, no second parse."""
    import numpy as np

    w0, h0, maxval, pos = _parse_ppm_header(payload)
    dt = ">u2" if maxval > 255 else np.uint8
    need = w0 * h0 * 3 * (2 if maxval > 255 else 1)
    if len(payload) - pos < need:
        raise ValueError(
            f"truncated PPM pixel data ({len(payload) - pos}/{need}B)"
        )
    px = np.frombuffer(payload, dtype=dt, count=w0 * h0 * 3, offset=pos).reshape(
        h0, w0, 3
    )
    ys, xs = _nn_index(height, h0), _nn_index(width, w0)
    out = px[ys][:, xs]
    return f"P6\n{width} {height}\n{maxval}\n".encode() + out.astype(dt).tobytes()


def register_ppm_codec() -> None:
    """Idempotently register :func:`decode_ppm` (+ the resize
    capability) as codec ``"ppm"``."""
    if "ppm" not in _CODECS:
        register_codec(
            "ppm", decode_ppm, T.ArrayType(T.LongType()), resize=resize_ppm
        )


def _ppm_synth_builder(width: int):
    """Per-row P6 builder shared by :func:`synth_ppm_from_text` and
    the fused :func:`synth_resize_decode_features` path — ONE
    definition, so the chained and fused forms cannot drift."""
    import numpy as np

    def one(text: Optional[str]) -> bytes:
        raw = np.frombuffer(
            (text or "").encode("utf-8"), dtype=np.uint8
        ).astype(np.int64)
        n_pix = max(width, ((len(raw) + width - 1) // width) * width)
        b = np.zeros(n_pix, dtype=np.int64)
        b[: len(raw)] = raw
        px = np.stack([b, 255 - b, (b * 7) % 256], axis=1).astype(
            np.uint8
        )
        height = n_pix // width
        header = (
            b"P6\n# synthesized from text\n"
            + f"{width} {height}\n255\n".encode()
        )
        return header + px.tobytes()

    return one


def synth_ppm_from_text(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    width: int = 8,
) -> DataFrame:
    """Deterministic PPM fixture: each document's text bytes become a
    REAL P6 image — pixels laid out row-major, channels
    ``(b, 255−b, (b·7) mod 256)`` per text byte ``b``, zero-padded to
    a whole number of ``width``-pixel rows (at least one row) — so a
    SQL oracle computes the decoder's expected channel sums from the
    text alone. Includes a header comment line, which the parser must
    skip. Builds executor-side in the Arrow batch (mapInPandas)."""
    return _synth_from_text(df, text_col, id_col, _ppm_synth_builder(width))


# ---------------------------------------------------------------------------
# Real codec #3: dependency-free Y4M (YUV4MPEG2) video decoder — the
# video sibling of decode_wav / decode_ppm, through the same
# register_codec boundary. Retires the last fake-codec modality:
# sample_frames(codec="y4m") walks real FRAME markers.

_Y4M_MAGIC = b"YUV4MPEG2"
# colorspace tag -> chroma plane size as a fraction of (W, H); the
# luma plane is always W*H bytes (8-bit only — Y4M has no 16-bit form)
_Y4M_CHROMA = {
    "420": (2, 2),  # C420 / C420jpeg / C420paldv / C420mpeg2
    "422": (2, 1),
    "444": (1, 1),
    "mono": None,
}
# accepted raw colorspace tags → geometry key (EXACT names only; the
# 420 variants differ in chroma SITING, which plane math ignores but
# re-encoders must preserve)
_Y4M_CS_KEYS = {
    "420": "420",
    "420jpeg": "420",
    "420paldv": "420",
    "420mpeg2": "420",
    "422": "422",
    "444": "444",
    "mono": "mono",
}


def _parse_y4m_header(payload: bytes) -> tuple:
    """Parse the YUV4MPEG2 stream header line → ``(width, height,
    fps_num, fps_den, y_size, c_size, pos, cs_tag)`` where ``pos`` is
    the offset of the first ``FRAME`` marker and ``cs_tag`` the raw
    colorspace tag (e.g. ``"420mpeg2"`` — its geometry KEY is
    ``_Y4M_CS_KEYS[cs_tag]``). The single source of truth for
    :func:`decode_y4m`, :func:`_iter_y4m_frames`,
    :func:`y4m_frame_stats`, and :func:`resize_y4m` — including the
    colorspace, so geometry is never re-inferred from plane sizes.

    Per the mjpegtools spec: the header is one ``\\n``-terminated line
    of space-separated parameters, each a single tag letter + value
    (``W`` width, ``H`` height, ``F`` fps num:den, ``C`` colorspace,
    ``I``/``A``/``X`` accepted and ignored). W and H are required;
    missing C means C420. Unknown tag letters are rejected loudly —
    silently skipping them is how parsers drift from encoders."""
    if payload is None or len(payload) < len(_Y4M_MAGIC):
        raise ValueError("not a YUV4MPEG2 payload (too short)")
    if not payload.startswith(_Y4M_MAGIC):
        raise ValueError("not a YUV4MPEG2 payload (bad magic)")
    eol = payload.find(b"\n", len(_Y4M_MAGIC))
    if eol < 0:
        raise ValueError("unterminated YUV4MPEG2 header line")
    width = height = None
    fps_num, fps_den = 25, 1
    cs_tag = "420"
    for tok in payload[len(_Y4M_MAGIC) : eol].split(b" "):
        if not tok:
            continue
        tag, val = chr(tok[0]), tok[1:].decode("ascii", "replace")
        if tag == "W":
            width = int(val)
        elif tag == "H":
            height = int(val)
        elif tag == "F":
            num, _, den = val.partition(":")
            fps_num, fps_den = int(num), int(den or "1")
            if fps_num < 1 or fps_den < 1:
                raise ValueError(f"bad Y4M frame rate {val!r}")
        elif tag == "C":
            # EXACT 8-bit colorspace names only: a lax prefix match
            # would read C420p10 / C444alpha (16-bit / 4-plane frames)
            # with 8-bit 3-plane geometry and then fail mid-stream
            # with a misleading FRAME-marker error
            if val.lower() not in _Y4M_CS_KEYS:
                raise ValueError(f"unsupported Y4M colorspace C{val}")
            cs_tag = val.lower()
        elif tag in ("I", "A", "X"):
            pass  # interlacing / pixel aspect / comment: no effect on planes
        else:
            raise ValueError(f"unknown Y4M header tag {tag!r}")
    if width is None or height is None or width < 1 or height < 1:
        raise ValueError(f"Y4M dimensions {width}x{height} out of range")
    sub = _Y4M_CHROMA[_Y4M_CS_KEYS[cs_tag]]
    if sub is None:
        c_size = 0
    else:
        sx, sy = sub
        if width % sx or height % sy:
            raise ValueError(
                f"Y4M {width}x{height} not divisible for C{cs_tag}"
            )
        c_size = (width // sx) * (height // sy)
    return (
        width,
        height,
        fps_num,
        fps_den,
        width * height,
        c_size,
        eol + 1,
        cs_tag,
    )


def _iter_y4m_frames(payload: bytes):
    """Yield each frame's raw planar bytes (Y then U then V) by
    walking the ``FRAME`` markers after the stream header. Truncated
    frames and bad markers raise loudly — a container that lies about
    its geometry must not decode to silently-short planes."""
    width, height, _, _, y_size, c_size, pos, _cs = _parse_y4m_header(
        payload
    )
    frame_size = y_size + 2 * c_size
    while pos < len(payload):
        if payload[pos : pos + 5] != b"FRAME":
            raise ValueError(f"expected FRAME marker at byte {pos}")
        eol = payload.find(b"\n", pos + 5)
        if eol < 0:
            raise ValueError("unterminated FRAME parameter line")
        body = payload[eol + 1 : eol + 1 + frame_size]
        if len(body) < frame_size:
            raise ValueError(
                f"truncated Y4M frame ({len(body)}/{frame_size}B)"
            )
        yield body
        pos = eol + 1 + frame_size


def decode_y4m(payload: bytes, meta: Optional[dict] = None) -> list:
    """Parse a YUV4MPEG2 container and return ``[width, height,
    fps_num, fps_den, n_frames, sum_y, sum_u, sum_v]`` — exact
    integer per-plane sample sums across all frames, so a SQL oracle
    over synthesized planes has a closed form and any parser bug
    (header offset, FRAME walk, plane split) hash-fails.

    A REAL parser: tag-validated header, marker-walked frames, loud
    truncation errors; C420*/C422/C444/Cmono plane geometry."""
    import numpy as np

    width, height, fps_num, fps_den, y_size, c_size, _, _cs = (
        _parse_y4m_header(payload)
    )
    n_frames = 0
    sum_y = sum_u = sum_v = 0
    for frame in _iter_y4m_frames(payload):
        arr = np.frombuffer(frame, dtype=np.uint8).astype(np.int64)
        sum_y += int(arr[:y_size].sum())
        sum_u += int(arr[y_size : y_size + c_size].sum())
        sum_v += int(arr[y_size + c_size :].sum())
        n_frames += 1
    return [width, height, fps_num, fps_den, n_frames, sum_y, sum_u, sum_v]


def register_y4m_codec() -> None:
    """Idempotently register :func:`decode_y4m` (+ the per-frame
    :func:`resize_y4m` resize capability) as codec ``"y4m"``."""
    if "y4m" not in _CODECS:
        register_codec(
            "y4m", decode_y4m, T.ArrayType(T.LongType()), resize=resize_y4m
        )


def y4m_frame_stats(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    every_n: int = 2,
) -> DataFrame:
    """Keyframe-sampling stats in ONE map stage: parse each Y4M
    container, keep every ``every_n``-th frame, and emit per-media
    ``(width, height, n_frames, n_sampled, sum_y_sampled,
    sum_uv_sampled)`` — the fused form of ``sample_frames(codec=
    'y4m') → per-frame sums`` for when only the aggregates are wanted.

    Scale: raw frame bytes never cross the Python boundary (7 longs
    per media do); zero shuffles — the container is decoded where the
    blob lives. Use :func:`sample_frames` when the frames themselves
    are the output.
    """
    if every_n < 1:
        raise ValueError(f"every_n must be >= 1, got {every_n}")
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("width", T.LongType(), False),
            T.StructField("height", T.LongType(), False),
            T.StructField("n_frames", T.LongType(), False),
            T.StructField("n_sampled", T.LongType(), False),
            T.StructField("sum_y_sampled", T.LongType(), False),
            T.StructField("sum_uv_sampled", T.LongType(), False),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            rows = {k.name: [] for k in out_schema.fields}
            for mid, blob in zip(pdf[id_col], pdf[payload_col]):
                if blob is None:
                    continue
                payload = bytes(blob)
                w, h, _, _, y_size, _, _, _cs = _parse_y4m_header(payload)
                n_frames = n_sampled = sum_y = sum_uv = 0
                for f, frame in enumerate(_iter_y4m_frames(payload)):
                    n_frames += 1
                    if f % every_n:
                        continue
                    n_sampled += 1
                    arr = np.frombuffer(frame, dtype=np.uint8).astype(np.int64)
                    sum_y += int(arr[:y_size].sum())
                    sum_uv += int(arr[y_size:].sum())
                for k, v in zip(
                    out_schema.fieldNames(),
                    (int(mid), w, h, n_frames, n_sampled, sum_y, sum_uv),
                ):
                    rows[k].append(v)
            yield pd.DataFrame(
                {k: pd.array(v, dtype="int64") for k, v in rows.items()}
            )

    return df.mapInPandas(batches, schema=out_schema)


Y4M_SYNTH_WIDTH = 4
Y4M_SYNTH_HEIGHT = 2
Y4M_SYNTH_U = 16  # constant chroma fill: a U/V plane-swap hash-fails
Y4M_SYNTH_V = 240


def _y4m_synth_builder(width: int, height: int):
    """Per-row YUV4MPEG2 builder shared by :func:`synth_y4m_from_text`
    and the fused :func:`synth_resize_decode_features` path — ONE
    definition, so the chained and fused forms cannot drift."""
    import numpy as np

    y_size = width * height
    c_size = (width // 2) * (height // 2)
    chroma = bytes([Y4M_SYNTH_U] * c_size) + bytes([Y4M_SYNTH_V] * c_size)
    header = f"YUV4MPEG2 W{width} H{height} F25:1 Ip A1:1 C420jpeg\n".encode()

    def one(text: Optional[str]) -> bytes:
        raw = (text or "").encode("utf-8")
        n_frames = max(1, -(-len(raw) // y_size))
        buf = np.zeros(n_frames * y_size, dtype=np.uint8)
        buf[: len(raw)] = np.frombuffer(raw, dtype=np.uint8)
        parts = [header]
        for f in range(n_frames):
            parts.append(b"FRAME\n")
            parts.append(buf[f * y_size : (f + 1) * y_size].tobytes())
            parts.append(chroma)
        return b"".join(parts)

    return one


def synth_y4m_from_text(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    width: int = Y4M_SYNTH_WIDTH,
    height: int = Y4M_SYNTH_HEIGHT,
) -> DataFrame:
    """Deterministic Y4M fixture: each document's text bytes become a
    REAL YUV4MPEG2 container — C420, ``width × height`` frames whose
    luma planes are consecutive ``width·height``-byte slices of the
    text (zero-padded final frame, at least one frame) and whose
    chroma planes are the constants ``U=16`` / ``V=240`` — so a SQL
    oracle computes the decoder's expected plane sums from the text
    alone while the Spark side must actually walk FRAME markers.
    Payloads build executor-side in the Arrow batch (mapInPandas)."""
    if width % 2 or height % 2:
        raise ValueError(f"C420 synth needs even dims, got {width}x{height}")
    return _synth_from_text(
        df, text_col, id_col, _y4m_synth_builder(width, height)
    )


def resize_y4m(payload: bytes, width: int, height: int) -> bytes:
    """Nearest-neighbor YUV4MPEG2 resample (the ``resize`` capability
    the ``y4m`` codec registers — the video sibling of
    :func:`resize_ppm`): every frame's Y plane resamples to
    ``width × height`` and each chroma plane to the colorspace's
    subsampled geometry, re-encoded as a valid C-equivalent container.
    One header scan; one numpy fancy-index per plane per frame."""
    import numpy as np

    w0, h0, fps_num, fps_den, y_size, c_size, _, cs_tag = _parse_y4m_header(
        payload
    )
    if width < 1 or height < 1:
        raise ValueError(f"resize target must be positive, got {width}x{height}")
    # the header parse is the single source of the chroma geometry;
    # the raw tag is PRESERVED in the output (the 420 variants differ
    # in chroma siting, which a re-encoder must not silently change)
    sub = _Y4M_CHROMA[_Y4M_CS_KEYS[cs_tag]]
    sx, sy = sub if sub is not None else (None, None)
    if sx is not None and (width % sx or height % sy):
        raise ValueError(
            f"resize target {width}x{height} not divisible for C{cs_tag}"
        )
    ys, xs = _nn_index(height, h0), _nn_index(width, w0)
    if sx is not None:
        cys = _nn_index(height // sy, h0 // sy)
        cxs = _nn_index(width // sx, w0 // sx)
    # rebuild the header by TOKEN SUBSTITUTION on the original line:
    # only W/H change; F, C, and the optional I (interlacing),
    # A (pixel aspect) and X (extension) parameters pass through
    # verbatim — a re-encoder must not silently relabel interlaced
    # anamorphic content as progressive square-pixel by omission
    hdr_end = payload.index(b"\n")
    out_tokens = []
    for tok in payload[:hdr_end].decode("ascii").split(" "):
        if tok.startswith("W") and tok != "W":
            out_tokens.append(f"W{width}")
        elif tok.startswith("H") and tok != "H":
            out_tokens.append(f"H{height}")
        else:
            out_tokens.append(tok)
    parts = [(" ".join(out_tokens) + "\n").encode()]
    for frame in _iter_y4m_frames(payload):
        arr = np.frombuffer(frame, dtype=np.uint8)
        y = arr[:y_size].reshape(h0, w0)
        parts.append(b"FRAME\n")
        parts.append(y[ys][:, xs].tobytes())
        if sx is not None:
            cw, ch = w0 // sx, h0 // sy
            for plane in (
                arr[y_size : y_size + c_size],
                arr[y_size + c_size :],
            ):
                p = plane.reshape(ch, cw)
                parts.append(p[cys][:, cxs].tobytes())
    return b"".join(parts)


def resize_decode_features(
    df: DataFrame,
    width: int,
    height: int,
    codec: str,
    payload_col: str = "payload",
    id_col: str = "media_id",
) -> DataFrame:
    """Fused resize → decode in ONE map stage: each payload is
    resampled by the codec's registered ``resize`` capability and
    immediately decoded to its feature vector inside the same Python
    pass — the ``y4m_frame_stats`` fusion pattern applied to the
    resize chain.

    Semantics are exactly ``decode_features(resize_image(df, …), …)``
    (same capability checks, same per-row calls — asserted equal in
    tests); the difference is purely physical: the chained form ships
    every intermediate container across the Arrow boundary twice
    (resize out, decode in), which at real payload sizes doubles the
    serialization bill. Here only slim feature rows exit Python. Use
    the chained form when the resized CONTAINERS are themselves the
    output.
    """
    entry = _resolve_resizer(codec, "resize_decode_features", width, height)
    resizer = entry[2]
    decode_fn, feature_dtype = entry[0], entry[1]
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("features", feature_dtype, True),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = [
                decode_fn(
                    resizer(
                        bytes(b) if b is not None else b"", width, height
                    ),
                    None,
                )
                for b in pdf[payload_col]
            ]
            yield pd.DataFrame({"media_id": pdf[id_col], "features": feats})

    return df.mapInPandas(batches, schema=out_schema)


def synth_resize_decode_features(
    df: DataFrame,
    codec: str,
    width: int,
    height: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    synth_width: Optional[int] = None,
    synth_height: Optional[int] = None,
) -> DataFrame:
    """Fully fused synth → resize → decode in ONE map stage: each
    document's text builds its container, resamples it and decodes the
    feature vector inside the same Python pass.

    Semantics are exactly ``resize_decode_features(synth_*_from_text(
    df, …), …)`` — the builders are shared verbatim
    (:func:`_ppm_synth_builder` / :func:`_y4m_synth_builder`) and the
    resize/decode dispatch is the same :func:`_resolve_resizer` entry,
    asserted equal in tests. The difference is purely physical: the
    chained form ships every synthesized container across the Arrow
    boundary twice (synth out, resize+decode in) through two separate
    Python worker stages; here only (id, text) enters Python and slim
    feature rows exit — at real payload sizes that halves the
    serialization bill and drops a whole Python stage (guide §4.1).
    Use the chained form when the containers themselves are needed.
    """
    if codec == "ppm":
        one = _ppm_synth_builder(8 if synth_width is None else synth_width)
    elif codec == "y4m":
        sw = Y4M_SYNTH_WIDTH if synth_width is None else synth_width
        sh = Y4M_SYNTH_HEIGHT if synth_height is None else synth_height
        if sw % 2 or sh % 2:
            raise ValueError(f"C420 synth needs even dims, got {sw}x{sh}")
        one = _y4m_synth_builder(sw, sh)
    else:
        raise NotImplementedError(
            f"synth_resize_decode_features knows no text-synth for"
            f" codec {codec!r} (ppm and y4m ship one)"
        )
    entry = _resolve_resizer(codec, "synth_resize_decode_features", width, height)
    decode_fn, feature_dtype, resizer = entry[0], entry[1], entry[2]
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("features", feature_dtype, True),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = [
                decode_fn(resizer(one(t), width, height), None)
                for t in pdf[text_col]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pd.array(pdf[id_col], dtype="int64"),
                    "features": feats,
                }
            )

    return df.select(id_col, text_col).mapInPandas(batches, schema=out_schema)


# ---------------------------------------------------------------------------
# Perceptual hashing: 8x8 mean-threshold average-hash (aHash) over
# PPM luma — the first stage of media near-dup detection (round-9
# verdict ask #3). The 64-bit signature comes out as four 16-bit
# quarter columns so the near-dup join reuses the SimHash quarter-band
# Hamming machinery VERBATIM (operators/dedup.py::
# hamming64_quarter_pairs).

# integer Rec.601-style luma in pure integer arithmetic — the SAME
# closed form a SQL oracle can evaluate from synthesized pixel values
_AHASH_SIDE = 8  # 8x8 grid -> 64 bits


def _quarters64(
    df: DataFrame, payload_col: str, id_col: str, bits
) -> DataFrame:
    """The one Arrow scaffold behind every 64-bit media signature:
    ``bits(payload)`` returns the 64 signature bits (a NULL payload
    arrives as ``b""``), and quarter ``q`` packs bits ``16q … 16q+15``
    with weight ``1 << j`` (j the in-quarter offset) into the int
    column ``q<q>`` — the layout ``hamming64_quarter_pairs`` consumes.
    Map-only; 4 ints per file cross the Python boundary."""
    import numpy as np

    out_schema = T.StructType(
        [T.StructField("media_id", T.LongType(), False)]
        + [T.StructField(f"q{q}", T.IntegerType(), True) for q in range(4)]
    )
    weights = 1 << np.arange(16, dtype=np.int64)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {"media_id": pd.array(pdf[id_col], dtype="int64")}
            qcols: list[list[int]] = [[] for _ in range(4)]
            for b in pdf[payload_col]:
                sig = np.asarray(
                    bits(bytes(b) if b is not None else b""), dtype=np.int64
                )
                for q in range(4):
                    qcols[q].append(
                        int((sig[16 * q : 16 * q + 16] * weights).sum())
                    )
            for q in range(4):
                rows[f"q{q}"] = pd.array(qcols[q], dtype="int32")
            yield pd.DataFrame(rows)

    return df.select(
        F.col(id_col).alias(id_col), payload_col
    ).mapInPandas(batches, schema=out_schema)


def ahash64_quarters(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
) -> DataFrame:
    """Per-file 64-bit aHash of a PPM payload as four 16-bit quarter
    columns ``q0``…``q3``.

    Pipeline per payload (all exact integer math so a DuckDB oracle
    replays it from the synth closed form, like multimodal_ppm_stats):

    1. parse the P6 header (:func:`_parse_ppm_header` — one shared
       parser, comment-aware);
    2. nearest-neighbor resample to 8x8 via the ONE index rule
       (:func:`_nn_index`, shared with :func:`resize_ppm`);
    3. integer luma ``(299·r + 587·g + 114·b) // 1000`` per cell;
    4. threshold at the floor mean (``sum // 64``): bit i (row-major
       cell i) is 1 iff ``luma_i > mean``;
    5. quarter q packs bits ``16q … 16q+15`` with weight ``1 << j``
       (j the in-quarter offset).

    Scale: map-only Arrow stage; payload bytes never leave the
    executor — 4 ints per file cross the Python boundary. The
    downstream banding join shuffles (band, value, id, quarters)
    slivers only, the simhash64 shuffle profile.
    """
    import numpy as np

    side = _AHASH_SIDE

    def bits(payload: bytes):
        w0, h0, maxval, pos = _parse_ppm_header(payload)
        dt = ">u2" if maxval > 255 else np.uint8
        need = w0 * h0 * 3 * (2 if maxval > 255 else 1)
        if len(payload) - pos < need:
            raise ValueError(
                f"truncated PPM pixel data"
                f" ({len(payload) - pos}/{need}B)"
            )
        px = np.frombuffer(
            payload, dtype=dt, count=w0 * h0 * 3, offset=pos
        ).reshape(h0, w0, 3)
        ys, xs = _nn_index(side, h0), _nn_index(side, w0)
        g = px[ys][:, xs].astype(np.int64)
        luma = (
            299 * g[..., 0] + 587 * g[..., 1] + 114 * g[..., 2]
        ) // 1000
        flat = luma.reshape(side * side)
        mean = int(flat.sum()) // (side * side)
        return flat > mean

    return _quarters64(df, payload_col, id_col, bits)


# ---------------------------------------------------------------------------
# Audio perceptual fingerprint: the WAV sibling of ahash64_quarters,
# through the SAME 64-bit quarter-column signature contract so the
# downstream pair machinery (operators/dedup.py::
# hamming64_quarter_pairs) is shared verbatim.

_AUDIO_BANDS = 64  # one bit per time band


def audio_bandenergy64_quarters(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
) -> DataFrame:
    """Per-file 64-bit band-energy fingerprint of a WAV payload as
    four 16-bit quarter columns ``q0``…``q3`` — the audio analogue of
    :func:`ahash64_quarters` (an 8×8 image grid becomes 64 time
    bands; the mean-luma threshold becomes a mean-band-energy
    threshold), emitting the exact signature layout
    ``hamming64_quarter_pairs`` consumes.

    Pipeline per payload (all exact integer math so a DuckDB oracle
    replays it from the synth closed form, like
    multimodal_wav_features):

    1. parse the RIFF/WAVE container with the ONE shared parser
       (:func:`_parse_wav` — chunk walking, PCM validation);
    2. time band ``k`` of 64 covers samples ``[k·n // 64,
       (k+1)·n // 64)`` — exact integer boundaries (when ``n < 64``
       the trailing bands are empty and contribute energy 0);
    3. band energy = sum of squared samples in the band (exact
       int64 — 16-bit samples square to ≤ 2³⁰, so even GB-long
       payloads stay far from overflow);
    4. bit ``k`` is 1 iff ``64 · band_energy_k > total_energy`` —
       the aHash floor-mean threshold rule without a division, and
       scale-INVARIANT: a uniform gain change (the classic
       re-encoded-asset perturbation) leaves every bit untouched;
    5. quarter ``q`` packs bits ``16q … 16q+15`` with weight
       ``1 << j`` (j the in-quarter offset).

    Scale: map-only Arrow stage — payload bytes never leave the
    executor; 4 ints per file cross the Python boundary. The
    downstream banding join shuffles (band, value, id, quarters)
    slivers only — the simhash64 shuffle profile.
    """
    import numpy as np

    nb = _AUDIO_BANDS

    def bits(payload: bytes):
        samples = _parse_wav(payload)[4]
        n = samples.size
        es = samples * samples
        cum = np.concatenate(([0], np.cumsum(es, dtype=np.int64)))
        edges = (np.arange(nb + 1, dtype=np.int64) * n) // nb
        be = cum[edges[1:]] - cum[edges[:-1]]
        return nb * be > int(cum[-1])

    return _quarters64(df, payload_col, id_col, bits)


def video_ahash64_quarters(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    every_n: int = 4,
) -> DataFrame:
    """Per-video 64-bit temporal aHash of a Y4M payload as four
    16-bit quarter columns ``q0``…``q3`` — the video analogue of
    :func:`ahash64_quarters`, emitting the exact signature layout
    ``hamming64_quarter_pairs`` consumes. Frame sampling and hashing
    fuse into ONE Arrow pass (the ``y4m_frame_stats`` shape): raw
    frames never leave the executor.

    Pipeline per payload (all exact integer math so a DuckDB oracle
    replays it from the synth closed form):

    1. parse the YUV4MPEG2 header and walk REAL ``FRAME`` markers
       (:func:`_parse_y4m_header` / :func:`_iter_y4m_frames` — the
       shared container machinery);
    2. keep every ``every_n``-th frame (frame 0 always sampled — the
       :func:`sample_frames` rule);
    3. SUM the sampled frames' luma planes pixelwise (exact int64 —
       the temporal average without the division, which the
       mean-threshold makes unnecessary);
    4. nearest-neighbor resample the sum plane to 8×8 via the ONE
       index rule (:func:`_nn_index`, shared with :func:`resize_y4m`;
       identity when the source is already 8×8);
    5. threshold at the floor mean (``sum // 64``): bit i (row-major
       cell i) is 1 iff ``cell_i > mean``; quarter q packs bits
       ``16q … 16q+15`` with weight ``1 << j``.

    Scale: map-only Arrow stage — payloads never leave the executor;
    4 ints per file cross the Python boundary. The downstream banding
    join shuffles (band, value, id, quarters) slivers only.
    """
    import numpy as np

    if every_n < 1:
        raise ValueError(f"every_n must be >= 1, got {every_n}")
    side = _AHASH_SIDE

    def bits(payload: bytes):
        w0, h0, _fn, _fd, y_size, _cs, _pos, _tag = _parse_y4m_header(payload)
        acc = np.zeros(y_size, dtype=np.int64)
        for f, frame in enumerate(_iter_y4m_frames(payload)):
            if f % every_n == 0:
                acc += np.frombuffer(
                    frame, dtype=np.uint8, count=y_size
                ).astype(np.int64)
        plane = acc.reshape(h0, w0)
        ys, xs = _nn_index(side, h0), _nn_index(side, w0)
        flat = plane[ys][:, xs].reshape(side * side)
        mean = int(flat.sum()) // (side * side)
        return flat > mean

    return _quarters64(df, payload_col, id_col, bits)
