"""Multimodal columns: image/audio/video as opaque ``binary`` columns with
typed metadata.

Since round 4 three codec lanes are REAL: PNG (pure-stdlib codec,
functions/png.py — decode/resize/re-encode), baseline JPEG (pure-numpy
codec, functions/jpeg.py — Huffman entropy decode + IDCT,
decode/resize), and WAV PCM audio (stdlib ``wave`` RIFF parser) — all
oracle-gated end-to-end. Formats the container genuinely cannot handle
(WebP/progressive JPEG/video) stay behind ``decode_image``'s PIL seam
with a precise NotImplementedError;
``fake_decode_features`` remains the deterministic stand-in those
pipeline-shape queries use (features derived from the bytes themselves,
so results are reproducible anywhere).

Kernel contract: every codec operator is a per-row kernel run by the
one batch driver :func:`_map_rows`. A kernel takes one input row —
``doc_id`` plus a blob (``bytes``) or a text, or only the id for the
``attach_synth_*`` encoders — and returns a list of output tuples in
the order of the operator's DDL schema constant, so 1→N fan-out is just
a longer list. The driver owns everything else: the Arrow batch loop of
a single ``mapInPandas``, the ``bytes()`` conversion and the output
frame. A fused ``synth_*`` operator is kernel composition,
``stats(i, encode(i))``, inside that one pass, so encoded blobs never
cross the JVM boundary. At 100 TB the binaries live in parquet/object
storage and the pass streams them partition by partition (no driver
transfer, memory bounded per batch by
spark.sql.execution.arrow.maxRecordsPerBatch); metadata-only queries
never touch the blob column thanks to parquet column pruning.
"""

from __future__ import annotations

import gzip
import hashlib
import io
import math
import re
import wave

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType

FEATURE_DIM = 8

DECODE_SCHEMA = (
    "doc_id long, byte_len long, width long, height long, channels long, "
    f"feature array<double>"
)

BLOB_SCHEMA = "doc_id long, media binary"


def _spread(df: DataFrame) -> DataFrame:
    """Repartition to the session's parallelism before codec work.

    Blob decode/encode is CPU-bound Python — and the testdata corpus is
    ONE parquet file, so without this every mapInPandas lane below
    inherits a single input partition and serializes the whole corpus
    onto one core (observed: 5000 decodes on 1 task of 32 at sf0.1).
    At real scale the input is many files and this is a near-no-op
    round-robin; the round trip is far cheaper than idling the
    cluster."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def _map_rows(df: DataFrame, kernel, schema: str) -> DataFrame:
    """Run ``kernel`` over every row of ``df`` in one ``mapInPandas``
    (module docstring: the kernel contract). Output column names come
    from ``schema``, a flat DDL list of ``name type`` fields."""
    names = [field.split()[0] for field in schema.split(",")]
    blobs = [isinstance(f.dataType, BinaryType) for f in df.schema.fields]

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            cols = [
                [bytes(v) for v in pdf[c]] if blob else pdf[c].tolist()
                for c, blob in zip(pdf.columns, blobs)
            ]
            yield pd.DataFrame(
                [out for row in zip(*cols) for out in kernel(*row)],
                columns=names,
            )

    return df.mapInPandas(gen, schema)


def attach_blob(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Make a binary 'media' column (UTF-8 bytes of the text — the
    testdata has no real media; the pipeline shape is what matters)."""
    return _spread(df).withColumn("media", F.encode(F.col(text_col), "UTF-8"))


def media_metadata(df: DataFrame, blob_col: str = "media") -> DataFrame:
    """Metadata-only projection: never decodes, prunes to the binary
    column's statistics where possible."""
    return df.select(
        "doc_id",
        F.octet_length(F.col(blob_col)).cast("long").alias("byte_len"),
        F.md5(F.col(blob_col)).alias("content_md5"),
    )


def decode_image(blob: bytes):
    """Real image decoder. PNG blobs decode through the pure-stdlib
    codec (functions/png.py — zlib inflate + numpy unfiltering) and
    baseline JPEGs through the pure-numpy codec (functions/jpeg.py —
    Huffman entropy decode + IDCT; 4:4:4/4:2:2/4:2:0); other formats
    (WebP, progressive JPEG, ...) still need PIL/libvips, absent from
    this container. Returns an (h, w[, channels]) uint8 numpy array."""
    from uts_spark.functions.png import _SIG, decode_png

    if bytes(blob[:8]) == _SIG:
        return decode_png(blob)
    if bytes(blob[:2]) == b"\xff\xd8":
        from uts_spark.functions.jpeg import decode_jpeg

        return decode_jpeg(blob)
    try:
        from PIL import Image  # noqa: F401
    except ImportError as exc:
        raise NotImplementedError(
            "non-PNG/JPEG image decoding requires PIL/pillow, not present "
            "in this container; PNG (functions/png.py) and baseline JPEG "
            "(functions/jpeg.py) decode natively"
        ) from exc
    raise NotImplementedError(
        "PIL present but non-PNG/JPEG decoder not wired yet"
    )


def _fake_features(payload: bytes) -> tuple[int, int, int, list[float]]:
    """Deterministic fake 'decode': dimensions + an 8-dim feature vector
    derived from the md5 of the bytes. Stands in for a real decoder with
    identical Spark-side shape (bytes → fixed-schema struct).

    Feature components are EXACT doubles ``(byte - 128) / 128`` (a
    power-of-two divisor, no rounding step) so an external SQL engine
    reproduces them bit-for-bit from ``md5`` hex — the earlier
    ``round(x, 6)`` hit Python-banker's vs SQL-half-away ties on every
    odd byte value."""
    digest = hashlib.md5(payload).digest()
    width = 64 + digest[0] % 192
    height = 64 + digest[1] % 192
    channels = 1 + digest[2] % 3
    feature = [(b - 128) / 128.0 for b in digest[4 : 4 + FEATURE_DIM]]
    return width, height, channels, feature


def fake_decode_features(df: DataFrame, blob_col: str = "media") -> DataFrame:
    """Decode pipeline shape: one output row per input row with decoded
    metadata + feature vector."""

    def kernel(doc_id, blob):
        return [(doc_id, len(blob), *_fake_features(blob))]

    return _map_rows(df.select("doc_id", blob_col), kernel, DECODE_SCHEMA)


RESIZE_SCHEMA = (
    "doc_id long, width long, height long, target_w long, target_h long, "
    "scale_x double, scale_y double, resized_bytes long"
)


def resize_images(
    df: DataFrame, target_w: int, target_h: int, blob_col: str = "media"
) -> DataFrame:
    """Resize pipeline shape: decode → scale → re-encode.
    The pixel work is STUBBED (no codecs in this container): source dims
    come from the deterministic fake decode and the output byte count is
    the exact post-resize buffer size ``target_w*target_h*channels`` —
    so schema and cost model are real, only the codec call is fake.
    Swap ``_fake_features`` for a PIL/libvips call to go live."""

    def kernel(doc_id, blob):
        w, h, c, _ = _fake_features(blob)
        return [(
            doc_id, w, h, target_w, target_h,
            target_w / w, target_h / h, target_w * target_h * c,
        )]

    return _map_rows(df.select("doc_id", blob_col), kernel, RESIZE_SCHEMA)


FRAME_SCHEMA = "doc_id long, frame_idx long, frame_ms long, feature array<double>"


def sample_frames(
    df: DataFrame,
    n_frames: int = 4,
    frame_interval_ms: int = 1000,
    blob_col: str = "media",
) -> DataFrame:
    """Video frame sampling shape: ONE blob row → ``n_frames`` output rows
    (the 1→N explode that distinguishes video from image pipelines), each
    with a frame timestamp and per-frame feature vector. Frame decode is
    STUBBED deterministically (md5 over blob+frame_idx); the Spark-side
    contract — fan-out, fixed schema — is the real thing. At 100 TB the
    fan-out multiplies rows, not bytes: only features leave the
    executor, frames are never materialized as columns."""

    def kernel(doc_id, blob):
        # printable per-frame salt (not a raw control byte) so a SQL
        # oracle can replay md5(blob || '#f' || i)
        return [
            (doc_id, i, i * frame_interval_ms,
             _fake_features(blob + f"#f{i}".encode())[3])
            for i in range(n_frames)
        ]

    return _map_rows(df.select("doc_id", blob_col), kernel, FRAME_SCHEMA)


HIST_SCHEMA = "doc_id long, bin long, n long, share double"


def byte_histogram(
    df: DataFrame, bins: int = 16, blob_col: str = "media"
) -> DataFrame:
    """Image-byte intensity histogram shape: each blob's bytes are binned
    into ``bins`` equal-width intensity buckets (the luminance-histogram /
    exposure-check step of an image QC pipeline), one output row per
    non-empty (doc, bin) with count and share. numpy ``bincount`` over the
    raw buffer — the whole blob is one vectorized pass, no per-byte Python.

    Like audio_energy_windows, the fake decode IS the identity (samples =
    blob bytes), so the operator is ORACLE-EXACT end-to-end: integer bin
    counts and an n/total double share the SQL gate reproduces
    bit-for-bit."""
    if bins < 1 or bins > 256 or 256 % bins:
        raise ValueError(
            f"bins must divide 256 (1..256), got {bins}: equal-width "
            "byte buckets require 256 % bins == 0"
        )
    shift = 256 // bins

    def kernel(doc_id, blob):
        cnt = np.bincount(np.frombuffer(blob, np.uint8) // shift, minlength=bins)
        tot = float(len(blob))
        return [
            (doc_id, int(b), int(cnt[b]), cnt[b] / tot)
            for b in np.nonzero(cnt)[0]
        ]

    return _map_rows(df.select("doc_id", blob_col), kernel, HIST_SCHEMA)


AUDIO_SCHEMA = (
    "doc_id long, widx long, energy long, rms double, is_silent boolean"
)


def audio_energy_windows(
    df: DataFrame, window: int = 256, silence_energy: int = 500_000,
    blob_col: str = "media",
) -> DataFrame:
    """Audio feature extraction shape: the blob is treated as a PCM
    sample stream and windowed into non-overlapping ``window``-sample
    frames; each frame emits integer energy (Σ sample²), RMS, and a
    silence flag — the 1→N fan-out + per-window reduction every audio
    pipeline (VAD, loudness normalization, silence trimming) starts
    with. Real decode is STUBBED like the image path (samples = raw
    bytes); the windowing and fan-out contract are the production
    shape.

    Because the fake samples are the blob bytes themselves, this
    operator is ORACLE-EXACT (integer energies, IEEE sqrt) — the one
    multimodal pipeline the DuckDB gate can hash-verify end-to-end
    rather than rows-only."""

    def kernel(doc_id, blob):
        rows = []
        for widx in range(len(blob) // window):
            energy = sum(b * b for b in blob[widx * window : (widx + 1) * window])
            rows.append((
                doc_id, widx, energy, math.sqrt(energy / float(window)),
                energy < silence_energy,
            ))
        return rows

    return _map_rows(df.select("doc_id", blob_col), kernel, AUDIO_SCHEMA)


PNG_STATS_SCHEMA = (
    "doc_id long, width long, height long, channels long, n_pixels long, "
    "sum_r long, sum_g long, sum_b long"
)


def _synth_png(doc_id: int) -> bytes:
    from uts_spark.functions.png import synth_png

    return synth_png(doc_id)


def attach_synth_png(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a REAL PNG blob per row (functions/png.synth_png: pixels
    are a closed form in the id, rows encoded with varying filters) —
    the image-corpus stand-in whose decoded statistics an external SQL
    oracle can recompute arithmetically. One encode per row,
    executor-side only."""
    return _map_rows(
        _spread(df.select(id_col)), lambda i: [(i, _synth_png(i))], BLOB_SCHEMA
    )


def _png_stats(doc_id, blob):
    from uts_spark.functions.png import decode_png

    px = decode_png(blob).astype(np.int64)
    h, w, ch = px.shape
    sums = px.sum(axis=(0, 1))
    return [(
        doc_id, w, h, ch, w * h,
        int(sums[0]),
        int(sums[1]) if ch > 1 else 0,
        int(sums[2]) if ch > 2 else 0,
    )]


def png_decode_stats(df: DataFrame, blob_col: str = "media") -> DataFrame:
    """REAL image decode: inflate + unfilter each PNG blob (pure-stdlib
    codec) and emit per-channel integer pixel sums — the honest version
    of fake_decode_features for the one format the container can always
    handle. Integer sums keep the oracle comparison exact; derived means
    are one double division computed identically in SQL."""
    return _map_rows(df.select("doc_id", blob_col), _png_stats, PNG_STATS_SCHEMA)


def synth_png_decode_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """attach_synth_png >> png_decode_stats, fused into one Python pass."""
    return _map_rows(
        _spread(df.select(id_col)), lambda i: _png_stats(i, _synth_png(i)),
        PNG_STATS_SCHEMA,
    )


PNG_RESIZE_SCHEMA = (
    "doc_id long, src_w long, src_h long, target_w long, target_h long, "
    "sum_r long, sum_g long, sum_b long, resized_len long"
)


def _png_resize(doc_id, blob, target_w: int, target_h: int):
    from uts_spark.functions.png import decode_png, encode_png, resize_nearest

    px = decode_png(blob)
    h, w = px.shape[:2]
    small = resize_nearest(px, target_w, target_h)
    sums = small.astype(np.int64).sum(axis=(0, 1))
    return [(
        doc_id, w, h, target_w, target_h,
        int(sums[0]), int(sums[1]), int(sums[2]), len(encode_png(small)),
    )]


def png_resize_stats(
    df: DataFrame, target_w: int, target_h: int, blob_col: str = "media"
) -> DataFrame:
    """REAL resize pipeline: decode PNG → nearest-neighbor resample
    (integer index map) → RE-ENCODE to PNG — the full
    decode/transform/encode loop the stubbed `resize_images` only
    modeled, now live for the stdlib-codec format. Emits per-channel
    integer sums of the RESIZED pixels (oracle recomputes them from the
    generative formula through the same integer index map) plus the
    re-encoded byte length (decode-side only; not oracle-compared —
    compressed size is a zlib implementation detail)."""
    return _map_rows(
        df.select("doc_id", blob_col),
        lambda i, b: _png_resize(i, b, target_w, target_h), PNG_RESIZE_SCHEMA,
    )


def synth_png_resize_stats(
    df: DataFrame, target_w: int, target_h: int, id_col: str = "doc_id"
) -> DataFrame:
    """attach_synth_png >> png_resize_stats, fused into one Python pass."""
    return _map_rows(
        _spread(df.select(id_col)),
        lambda i: _png_resize(i, _synth_png(i), target_w, target_h),
        PNG_RESIZE_SCHEMA,
    )


# ---------------------------------------------------------------------------
# REAL audio lane: RIFF/WAVE PCM through the stdlib `wave` parser — like
# the PNG lane, the decode step is genuine (an actual container format
# parsed by a real codec), and the synthetic waveform is a closed form
# the SQL oracle recomputes arithmetically.

WAV_WINDOW = 256

WAV_ENERGY_SCHEMA = (
    "doc_id long, widx long, n_samples long, framerate long, "
    "energy long, rms double"
)


def synth_wav(doc_id: int) -> bytes:
    """Mono 16-bit PCM WAV whose samples are a closed form in doc_id:
    s(i) = ((i*a + c0) % 2001) - 1000, n = 4000 + (doc_id*13) % 2000."""
    n = 4000 + (doc_id * 13) % 2000
    a = 1 + doc_id % 9
    c0 = doc_id % 777
    i = np.arange(n, dtype=np.int64)
    samples = ((i * a + c0) % 2001 - 1000).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(samples.tobytes())
    return buf.getvalue()


def attach_synth_wav(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a real RIFF/WAVE blob per row (executor-side)."""
    return _map_rows(
        _spread(df.select(id_col)), lambda i: [(i, synth_wav(i))], BLOB_SCHEMA
    )


def _decode_wav(blob: bytes) -> tuple[int, int, np.ndarray]:
    """(framerate, n_samples, int64 PCM) of a mono 16-bit WAV blob."""
    with wave.open(io.BytesIO(blob), "rb") as w:
        assert w.getnchannels() == 1 and w.getsampwidth() == 2
        n = w.getnframes()
        return (
            w.getframerate(), n,
            np.frombuffer(w.readframes(n), "<i2").astype(np.int64),
        )


def _wav_energy(doc_id, blob):
    framerate, n, pcm = _decode_wav(blob)
    rows = []
    for widx in range(n // WAV_WINDOW):
        frame = pcm[widx * WAV_WINDOW : (widx + 1) * WAV_WINDOW]
        energy = int((frame * frame).sum())
        rows.append((
            doc_id, widx, n, framerate, energy,
            math.sqrt(energy / float(WAV_WINDOW)),
        ))
    return rows


def wav_energy_windows(df: DataFrame, blob_col: str = "media") -> DataFrame:
    """REAL audio feature extraction: parse the RIFF container with the
    stdlib ``wave`` codec, window the decoded int16 PCM into
    non-overlapping WAV_WINDOW-sample frames, emit integer energy
    (Σ sample²) and IEEE RMS per frame — the honest upgrade of
    audio_energy_windows' bytes-as-samples stand-in. Trailing partial
    windows are dropped (the fixed-frame VAD convention)."""
    return _map_rows(
        df.select("doc_id", blob_col), _wav_energy, WAV_ENERGY_SCHEMA
    )


def synth_wav_energy_windows(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """attach_synth_wav >> wav_energy_windows, fused into one Python pass."""
    return _map_rows(
        _spread(df.select(id_col)), lambda i: _wav_energy(i, synth_wav(i)),
        WAV_ENERGY_SCHEMA,
    )


WAV_FEATURES_SCHEMA = (
    "doc_id long, n_samples long, duration_sec double, peak long, "
    "sum_abs long, zero_crossings long, total_variation long"
)


def _wav_clip(doc_id, blob):
    framerate, n, pcm = _decode_wav(blob)
    nn = np.abs(pcm)
    return [(
        doc_id,
        n,
        n / float(framerate),
        int(nn.max()) if n else 0,
        int(nn.sum()),
        int(((pcm[1:] >= 0) != (pcm[:-1] >= 0)).sum()) if n > 1 else 0,
        int(np.abs(np.diff(pcm)).sum()) if n > 1 else 0,
    )]


def wav_clip_features(df: DataFrame, blob_col: str = "media") -> DataFrame:
    """Per-CLIP audio features from the decoded PCM (the clip-level
    complement of wav_energy_windows' frame lane): peak |s|, Σ|s|
    (integer-exact), zero crossings (sign threshold at >= 0), and total
    variation Σ|s_i − s_{i−1}| — the standard cheap VAD/quality
    signals. All integers, so the oracle replays them bit-for-bit from
    the closed-form waveform."""
    return _map_rows(
        df.select("doc_id", blob_col), _wav_clip, WAV_FEATURES_SCHEMA
    )


def synth_wav_clip_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """attach_synth_wav >> wav_clip_features, fused into one Python pass."""
    return _map_rows(
        _spread(df.select(id_col)), lambda i: _wav_clip(i, synth_wav(i)),
        WAV_FEATURES_SCHEMA,
    )


GZIP_TEXT_SCHEMA = (
    "doc_id long, compressed_len long, n_chars long, n_tokens long, "
    "content_md5 string"
)


def _gzip(text: str) -> bytes:
    buf = io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as f:
        f.write(text.encode("utf-8"))
    return buf.getvalue()


def attach_gzip_text(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Compress each document's UTF-8 text with gzip (stdlib, mtime
    pinned to 0 so the member header — and thus every byte — is
    deterministic): the compressed-corpus ingestion shape (WARC/WET
    dumps, .jsonl.gz shards) where the engine receives OPAQUE compressed
    blobs, not text columns."""
    return _map_rows(
        _spread(df.select("doc_id", text_col)),
        lambda i, text: [(i, _gzip(text))], BLOB_SCHEMA,
    )


# ASCII \S+ to mirror the oracle's RE2 semantics exactly: Python
# str.split() breaks on UNICODE whitespace (NBSP etc.) while RE2's \s is
# ASCII-only — agreement must not depend on the corpus never containing
# a unicode space
_TOKEN = re.compile(rb"\S+")


def _gzip_stats(doc_id, blob):
    raw = gzip.decompress(blob)
    return [(
        doc_id, len(blob), len(raw.decode("utf-8")),
        len(_TOKEN.findall(raw)), hashlib.md5(raw).hexdigest(),
    )]


def gzip_text_stats(df: DataFrame, blob_col: str = "media") -> DataFrame:
    """REAL decompression lane: gunzip each blob (stdlib zlib) and emit
    plaintext statistics — length, whitespace token count, and the md5
    of the recovered bytes, so the oracle (which reads the ORIGINAL text
    column) proves the round trip bit-for-bit. Compressed bytes never
    leave the executor."""
    return _map_rows(
        df.select("doc_id", blob_col), _gzip_stats, GZIP_TEXT_SCHEMA
    )


def synth_gzip_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """attach_gzip_text >> gzip_text_stats, fused into one Python pass."""
    return _map_rows(
        _spread(df.select("doc_id", text_col)),
        lambda i, text: _gzip_stats(i, _gzip(text)), GZIP_TEXT_SCHEMA,
    )


JPEG_STATS_SCHEMA = (
    "doc_id long, width long, height long, n_pixels long, "
    "sum_px long, sum_sq long, min_px long, max_px long"
)


def _synth_jpeg(doc_id: int) -> bytes:
    from uts_spark.functions.jpeg import synth_jpeg

    return synth_jpeg(doc_id)


def attach_synth_jpeg(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a REAL JPEG blob per row (functions/jpeg.synth_jpeg:
    DC-only grayscale, quantized DC a closed form in the id — the one
    construction where a LOSSY codec still decodes to closed-form
    pixels). Executor-side only."""
    return _map_rows(
        _spread(df.select(id_col)), lambda i: [(i, _synth_jpeg(i))], BLOB_SCHEMA
    )


def _jpeg_stats(doc_id, blob):
    from uts_spark.functions.jpeg import decode_jpeg

    px = decode_jpeg(blob).astype(np.int64)
    h, w = px.shape
    return [(
        doc_id, w, h, w * h,
        int(px.sum()), int((px * px).sum()), int(px.min()), int(px.max()),
    )]


def jpeg_decode_stats(df: DataFrame, blob_col: str = "media") -> DataFrame:
    """REAL JPEG decode: full baseline pipeline (Huffman entropy decode,
    DC prediction, dequantize, IDCT, level shift) per blob via the
    pure-numpy codec, emitting integer pixel statistics an external SQL
    oracle can recompute from the generative formula."""
    return _map_rows(
        df.select("doc_id", blob_col), _jpeg_stats, JPEG_STATS_SCHEMA
    )


def synth_jpeg_decode_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """attach_synth_jpeg >> jpeg_decode_stats, fused into one Python pass."""
    return _map_rows(
        _spread(df.select(id_col)), lambda i: _jpeg_stats(i, _synth_jpeg(i)),
        JPEG_STATS_SCHEMA,
    )


JPEG_RESIZE_SCHEMA = (
    "doc_id long, src_w long, src_h long, target_w long, target_h long, "
    "sum_px long, min_px long, max_px long"
)


def _jpeg_resize(doc_id, blob, target_w: int, target_h: int):
    from uts_spark.functions.jpeg import decode_jpeg

    px = decode_jpeg(blob)
    h, w = px.shape[:2]
    ys = (np.arange(target_h) * h) // target_h
    xs = (np.arange(target_w) * w) // target_w
    small = px[np.ix_(ys, xs)].astype(np.int64)
    return [(
        doc_id, w, h, target_w, target_h,
        int(small.sum()), int(small.min()), int(small.max()),
    )]


def jpeg_resize_stats(
    df: DataFrame, target_w: int, target_h: int, blob_col: str = "media"
) -> DataFrame:
    """REAL JPEG resize pipeline: full baseline decode → nearest-
    neighbor resample via the integer index map src = (dst·src)//tgt →
    integer stats of the resized grayscale pixels (the oracle replays
    the index map on the generative block formula)."""
    return _map_rows(
        df.select("doc_id", blob_col),
        lambda i, b: _jpeg_resize(i, b, target_w, target_h), JPEG_RESIZE_SCHEMA,
    )


def synth_jpeg_resize_stats(
    df: DataFrame, target_w: int, target_h: int, id_col: str = "doc_id"
) -> DataFrame:
    """attach_synth_jpeg >> jpeg_resize_stats, fused into one Python pass."""
    return _map_rows(
        _spread(df.select(id_col)),
        lambda i: _jpeg_resize(i, _synth_jpeg(i), target_w, target_h),
        JPEG_RESIZE_SCHEMA,
    )
