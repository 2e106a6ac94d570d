"""Multimodal column plumbing (SURVEY.md §2.7).

Images / audio / video ride through the engine as opaque ``binary``
columns plus a typed metadata struct — the layout a 100 TB
training-data pipeline needs: the bytes never enter a shuffle key,
metadata predicates prune before any decode, and decode/feature
steps run as Arrow-batched ``mapInPandas`` over the partitioned
corpus.

The container has no media libraries (PIL/ffmpeg/torchcodec), but
every modality still decodes REAL bytes end-to-end via stdlib-only
codecs: images as uncompressed 24-bit BMP (:func:`decode_bmp24`) and
zlib-compressed PNG with all five scanline filters
(:func:`decode_png`), audio as PCM WAV RMS windows
(:func:`decode_wav_rms_windows`), video as YUV4MPEG2 frame streams
(:func:`decode_y4m`). The original hash-fake paths are kept as the
generic plumbing shape. Everything Spark-side — schema, batch
iteration, column pruning, partitioning — is real and tested.

Every per-row decode runs through :func:`python_lane.row_lane`: an
operator writes only the function from one input row to its output
tuples, in the order of the output schema.
"""

from __future__ import annotations

import hashlib
import math
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from postgres_s3_etl_spark.operators.graph import connected_components
from postgres_s3_etl_spark.operators.python_lane import row_lane

#: media(asset_id, media_type, width, height, duration_ms, payload)
MEDIA_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("media_type", StringType()),  # image | audio | video
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", IntegerType()),
        StructField("payload", BinaryType()),
    ]
)

FEATURE_DIM = 8

FEATURES_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", LongType()),
        StructField("payload_digest", StringType()),
        *[StructField(f"f{i}", LongType()) for i in range(FEATURE_DIM)],
    ]
)


def synth_media(spark: SparkSession, n: int = 64) -> DataFrame:
    """Deterministic synthetic media table (documents-derived bytes
    stand in for real image/audio payloads)."""
    rows = []
    for i in range(n):
        payload = hashlib.sha256(f"asset-{i}".encode()).digest() * (4 + i % 5)
        mt = ("image", "audio", "video")[i % 3]
        rows.append(
            (i, mt, 64 + i % 32, 48 + i % 24, 1000 + 10 * i, bytearray(payload))
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def _payload_digest(payload: bytes) -> str:
    """md5 of the payload's lowercase hex encoding. Hashing the hex
    form (not the raw bytes) keeps the digest recomputable by SQL
    engines whose md5() only accepts VARCHAR — the oracle builds the
    identical hex string and hashes it."""
    return hashlib.md5(payload.hex().encode()).hexdigest()


def _fake_features(payload: bytes) -> list[int]:
    """Deterministic stand-in for a real feature extractor: 8 ints
    from consecutive 16-bit slices of the payload digest."""
    h = _payload_digest(payload)
    return [int(h[4 * i : 4 * i + 4], 16) for i in range(FEATURE_DIM)]


def extract_features(media: DataFrame) -> DataFrame:
    """Decode + featurize in an Arrow-batched per-row lane.

    The binary column stays within the batch — no driver collect, no
    shuffle of payload bytes. A real decoder replaces
    ``_fake_features`` only.
    """

    def rows_of(aid, media_type, payload):
        p = bytes(payload)
        yield (aid, media_type, len(p), _payload_digest(p), *_fake_features(p))

    return row_lane(
        media.select("asset_id", "media_type", "payload"),
        rows_of,
        FEATURES_SCHEMA,
    )


def media_stats(features: DataFrame) -> DataFrame:
    """Per-media-type stats over extracted features — plain Spark agg
    once the Python boundary is behind us."""
    return (
        features.groupBy("media_type")
        .agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.sum("n_bytes").alias("total_bytes"),
            F.countDistinct("payload_digest").alias("n_distinct_payloads"),
            # sum/count spelled out (not avg()) so the division is the
            # single IEEE op the SQL oracle also performs.
            F.round(
                F.sum("f0").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_f0"),
        )
        .orderBy("media_type")
    )


def mm_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing entry (rows-only: media bytes are synthesized, no
    SQL-expressible oracle): synth media → mapInPandas featurize →
    per-type stats.

    Scope (round-7): with BMP/PNG/TIFF/PGM/GIF, baseline JPEG in
    gray + 4:4:4 color + 4:2:0 subsampled, grayscale progressive
    JPEG, y4m video, PCM WAV and G.711 μ-law all decoded by REAL
    stdlib(+numpy) codecs elsewhere in this module, this stub's
    fake-feature arm stands in only for formats with no
    in-container codec: H.264-class video and mp3/ogg audio
    (round 10 retired the last JPEG niches: AC-refinement scans and
    1x1 color progressive are real; only SUBSAMPLED progressive
    still returns None)."""
    return media_stats(extract_features(synth_media(spark, n=64)))


FRAME_INTERVAL_MS = 250

FRAMES_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_ts_ms", IntegerType()),
        StructField("frame_digest", StringType()),
    ]
)


def sample_frames(
    media: DataFrame, interval_ms: int = FRAME_INTERVAL_MS
) -> DataFrame:
    """Frame sampling as a 1→N ``mapInPandas`` expansion: each video
    asset yields one row per ``interval_ms`` of duration. The real
    decoder (ffmpeg/torchcodec seek-and-decode) is stubbed with a
    deterministic digest of (payload, frame index); the Spark-side
    shape — batch iteration, row expansion inside the Arrow batch,
    metadata-only pruning before Python — is the production plumbing.
    """

    def rows_of(asset_id, dur, payload):
        n_frames = max(int(dur) // interval_ms, 1)
        for i in range(n_frames):
            # md5 over the hex of (payload ++ frame-index-be32)
            # — same VARCHAR-hashable form as _payload_digest.
            digest = hashlib.md5(
                (bytes(payload) + i.to_bytes(4, "big")).hex().encode()
            )
            yield (int(asset_id), i, i * interval_ms, digest.hexdigest())

    # Metadata predicate prunes BEFORE the Python stage: only video
    # rows (and only the needed columns) cross the Arrow boundary.
    videos = media.where(F.col("media_type") == "video").select(
        "asset_id", "duration_ms", "payload"
    )
    return row_lane(videos, rows_of, FRAMES_SCHEMA)


#: Temporal sampling grid for mm_frame_sample: one sample every
#: 120 ms over 25 fps (40 ms/frame) y4m streams → every 3rd frame
#: index, deliberately co-prime-ish with mm_video_decode_y4m's
#: every-2nd rule so the two queries witness different frames.
FRAME_SAMPLE_INTERVAL_MS = 120
Y4M_FRAME_MS = 40  # F25:1 fixed by encode_y4m's header


def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL timestamp-driven frame sampling (the "give me a frame
    every N ms" production shape, vs mm_video_decode_y4m's
    every-Kth-index rule): synthesize genuine YUV4MPEG2 streams,
    decode them stdlib-only inside Arrow-batched mapInPandas, pick
    the frame at each FRAME_SAMPLE_INTERVAL_MS timestamp
    (frame_idx = ts // 40ms at 25 fps), and emit exact int64 Y-plane
    sums per sampled frame; per-asset rollup runs JVM-side. The
    oracle recomputes the sums from the closed-form plane pattern,
    so the ts→frame-index mapping and plane offsets are
    value-checked — no digests, no fakes (round-6 re-plumb of the
    former digest-stub entry; the generic ``sample_frames`` API
    retains the documented ffmpeg-arm stub for non-y4m codecs).

    Scale: payload bytes never shuffle; ~5 ints per sampled frame
    cross the Arrow boundary; the rollup is a codegen aggregate.
    """
    import numpy as np

    def rows_of(aid, payload):
        decoded = decode_y4m(bytes(payload))
        if decoded is None:
            return
        w, h, frames = decoded
        nf = len(frames)
        for ts in range(0, nf * Y4M_FRAME_MS, FRAME_SAMPLE_INTERVAL_MS):
            fi = ts // Y4M_FRAME_MS
            ysum = int(frames[fi][0].astype(np.int64).sum())
            yield (int(aid), nf, fi, ts, ysum)

    media = synth_y4m_media(spark).select("asset_id", "payload")
    per_frame = row_lane(
        media,
        rows_of,
        "asset_id bigint, n_stream_frames int, frame_idx int, "
        "frame_ts_ms int, sum_y bigint",
    )
    return (
        per_frame.groupBy("asset_id")
        .agg(
            F.max("n_stream_frames").alias("n_stream_frames"),
            F.count(F.lit(1)).cast("int").alias("n_sampled"),
            F.max("frame_ts_ms").alias("last_sample_ts_ms"),
            F.sum("sum_y").alias("sum_y_sampled"),
            # frame-0 witness: catches a ts→index off-by-one that a
            # symmetric sum would mask.
            F.sum(
                F.when(F.col("frame_idx") == 0, F.col("sum_y"))
                .otherwise(F.lit(0))
            ).alias("f0_y_sum"),
        )
        .orderBy("asset_id")
    )


AUDIO_WINDOW_MS = 500

WINDOWS_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("window_idx", IntegerType()),
        StructField("window_ts_ms", IntegerType()),
        StructField("level", LongType()),
    ]
)


def decode_wav_rms_windows(
    payload: bytes, window_ms: int
) -> list[int] | None:
    """REAL audio decode for PCM WAV payloads, zero extra deps:
    stdlib ``wave`` parses the container, numpy computes integer RMS
    per ``window_ms`` (multi-channel averaged to mono first). Returns
    None when the payload is not a RIFF/WAVE container (caller falls
    back to the digest stub) — only 16-bit PCM is handled, the format
    ``wave`` itself guarantees for sampwidth=2."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(bytes(payload))) as w:
        nch = w.getnchannels()
        if w.getsampwidth() != 2:
            return None
        rate = w.getframerate()
        raw = w.readframes(w.getnframes())
    samples = np.frombuffer(raw, dtype="<i2").astype(np.float64)
    if nch > 1:
        samples = samples.reshape(-1, nch).mean(axis=1)
    win = max(int(rate * window_ms / 1000), 1)
    levels = []
    for i in range(0, len(samples), win):
        seg = samples[i : i + win]
        levels.append(int(round(float(np.sqrt(np.mean(seg * seg))))))
    return levels or [0]


def window_audio(
    media: DataFrame, window_ms: int = AUDIO_WINDOW_MS
) -> DataFrame:
    """Audio windowing as a 1→N per-row expansion: each audio
    asset yields one row per ``window_ms`` of duration with a
    per-window level feature (RMS/loudness).

    PCM WAV payloads get a REAL decode (stdlib ``wave`` + numpy RMS —
    see :func:`decode_wav_rms_windows`); other formats fall back to a
    deterministic digest-derived level (mp3/ogg/etc. need
    ffmpeg/librosa, absent from this container). The Spark-side shape
    — metadata pruning before Python, in-batch row expansion,
    JVM-side aggregation after — is identical either way.
    """

    def rows_of(asset_id, dur, payload):
        levels = decode_wav_rms_windows(bytes(payload), window_ms)
        if levels is not None:
            for i, lvl in enumerate(levels):
                yield (int(asset_id), i, i * window_ms, lvl)
            return
        n_win = max(int(dur) // window_ms, 1)
        for i in range(n_win):
            digest = hashlib.md5(
                (bytes(payload) + i.to_bytes(4, "big")).hex().encode()
            ).hexdigest()
            yield (int(asset_id), i, i * window_ms, int(digest[:4], 16))

    audio = media.where(F.col("media_type") == "audio").select(
        "asset_id", "duration_ms", "payload"
    )
    return row_lane(audio, rows_of, WINDOWS_SCHEMA)


N_WAV_ASSETS = 48
WAV_RATE = 1000  # Hz — 1 sample/ms keeps the oracle series small


def _wav_sample(asset_id: int, k: int) -> int:
    """Closed-form int16 sample (mirrored by the SQL oracle):
    s(a, k) = ((7a + 13k) % 201) - 100 ∈ [-100, 100]."""
    return ((7 * asset_id + 13 * k) % 201) - 100


def encode_wav(asset_id: int, n_samples: int) -> bytes:
    """A real RIFF/WAVE container: mono 16-bit PCM at WAV_RATE with
    the closed-form sample pattern."""
    import io
    import wave

    import numpy as np

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(WAV_RATE)
        w.writeframes(
            np.fromiter(
                (_wav_sample(asset_id, k) for k in range(n_samples)),
                dtype="<i2",
                count=n_samples,
            ).tobytes()
        )
    return buf.getvalue()


def synth_wav_media(spark: SparkSession, n: int = N_WAV_ASSETS) -> DataFrame:
    """n real PCM WAV audio assets with deterministic samples."""
    rows = []
    for i in range(n):
        ns = 1000 + 10 * i  # 1.0–1.5 s at 1 kHz
        rows.append(
            (i, "audio", 0, 0, ns * 1000 // WAV_RATE,
             bytearray(encode_wav(i, ns)))
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def decode_wav_windows_exact(
    payload: bytes, window_ms: int
) -> list[tuple[int, int, int]] | None:
    """REAL audio decode with EXACT integer outputs: stdlib ``wave``
    parses the container; per ``window_ms`` window returns
    (n_samples, sum, sum-of-squares) as ints — loudness-proportional
    like RMS but with no float rounding for a value-hash oracle to
    disagree on. Mono 16-bit PCM only; returns None otherwise
    (including compressed format tags stdlib ``wave`` refuses, e.g.
    IMA-ADPCM's 0x11 — the router falls through to the ADPCM arm)."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    import io
    import wave

    import numpy as np

    try:
        with wave.open(io.BytesIO(bytes(payload))) as w:
            if w.getnchannels() != 1 or w.getsampwidth() != 2:
                return None
            rate = w.getframerate()
            raw = w.readframes(w.getnframes())
    except wave.Error:
        return None
    s = np.frombuffer(raw, dtype="<i2").astype(np.int64)
    win = max(int(rate * window_ms / 1000), 1)
    out = []
    for i in range(0, len(s), win):
        seg = s[i : i + win]
        out.append((len(seg), int(seg.sum()), int((seg * seg).sum())))
    return out or [(0, 0, 0)]


def mm_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio windowing end-to-end: synthesize genuine PCM WAV
    containers, parse them with stdlib ``wave`` inside Arrow-batched
    mapInPandas, emit exact int64 per-window energy stats
    (n/sum/ssq — the RMS numerator and denominator, kept integer so
    no engine can round differently), then aggregate per asset
    JVM-side. The oracle regenerates the closed-form sample pattern
    in SQL, value-checking container parsing, sample decoding, and
    the windowing rule (round-6 re-plumb of the former digest-level
    entry; the generic ``window_audio`` API keeps its real-WAV RMS
    path plus the documented ffmpeg-arm stub for mp3/ogg).

    Scale: payload bytes never shuffle; 5 ints per window cross the
    Arrow boundary; the per-asset rollup is a codegen aggregate.
    """

    def rows_of(aid, payload):
        wins = decode_wav_windows_exact(bytes(payload), AUDIO_WINDOW_MS)
        for i, (n, ssum, ssq) in enumerate(wins or ()):
            yield (int(aid), i, i * AUDIO_WINDOW_MS, n, ssum, ssq)

    media = synth_wav_media(spark).select("asset_id", "payload")
    per_win = row_lane(
        media,
        rows_of,
        "asset_id bigint, window_idx int, window_ts_ms int, "
        "n_samples bigint, sum_s bigint, ssq_s bigint",
    )
    return (
        per_win.groupBy("asset_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_windows"),
            F.max("window_ts_ms").alias("last_window_ts_ms"),
            F.sum("n_samples").alias("n_samples"),
            F.sum("sum_s").alias("sum_s"),
            F.sum("ssq_s").alias("ssq_s"),
            F.max("ssq_s").alias("peak_window_ssq"),
        )
        .orderBy("asset_id")
    )


#: Candidate DFT periods (in samples) probed per audio asset.
AUDIO_DFT_PERIODS = (8, 20, 50, 100)


def mm_audio_dft_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant-periodicity detection on REAL decoded audio: a
    single-frequency DFT power scan at fixed candidate periods —
    the pitch/hum detector of any audio-QC pass. The decode stays in
    Python (stdlib ``wave``), but what crosses Arrow is EXACT
    integers only: per (asset, period, residue) sums of samples
    (``cos(2πk/P)`` depends on k only through k mod P, so the DFT
    folds residue-first); the trigonometry then runs engine-side
    with DECIMAL(38,18)-pinned terms, mirrored verbatim in the
    oracle — the same cross-engine-trig contract as
    q_events_spectral_peaks.

    Scale: payload bytes never shuffle; ≤ Σ P residue rows per asset
    cross Arrow (178 here); the per-asset winner is one bounded
    window.
    """
    import io
    import wave

    import numpy as np

    def rows_of(aid, payload):
        with wave.open(io.BytesIO(bytes(payload))) as w:
            if w.getnchannels() != 1 or w.getsampwidth() != 2:
                return
            raw = w.readframes(w.getnframes())
        s = np.frombuffer(raw, dtype="<i2").astype(np.int64)
        n = len(s)
        for p in AUDIO_DFT_PERIODS:
            res = np.bincount(
                np.arange(n) % p, weights=s, minlength=p
            ).astype(np.int64)
            for r in range(p):
                yield (int(aid), n, p, r, int(res[r]))

    media = synth_wav_media(spark).select("asset_id", "payload")
    folded = row_lane(
        media,
        rows_of,
        "asset_id bigint, n_samples bigint, p int, r int, csum bigint",
    )
    phase = (
        F.lit(2.0 * math.pi)
        * F.col("r").cast("double")
        / F.col("p").cast("double")
    )
    terms = folded.select(
        "asset_id",
        "n_samples",
        "p",
        (F.col("csum").cast("double") * F.cos(phase))
        .cast("decimal(38,18)")
        .alias("ca"),
        (F.col("csum").cast("double") * F.sin(phase))
        .cast("decimal(38,18)")
        .alias("cb"),
    )
    powers = terms.groupBy("asset_id", "n_samples", "p").agg(
        F.sum("ca").alias("a"), F.sum("cb").alias("b")
    )
    pw = (
        F.col("a").cast("double") * F.col("a").cast("double")
        + F.col("b").cast("double") * F.col("b").cast("double")
    ) / (
        F.col("n_samples").cast("double")
        * F.col("n_samples").cast("double")
    )
    w = Window.partitionBy("asset_id").orderBy(
        F.desc("power"), F.asc("p")
    )
    f6 = lambda c: F.floor(c * 1e6) / 1e6  # noqa: E731
    return (
        powers.select(
            "asset_id", "n_samples", "p", f6(pw).alias("power")
        )
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") == 1)
        .select(
            "asset_id",
            "n_samples",
            F.col("p").alias("peak_period"),
            "power",
        )
        .orderBy("asset_id")
    )


#: Analysis bins for the mel filterbank: DFT periods (in samples) at
#: WAV_RATE = 1000 Hz, i.e. frequencies 1000/P Hz from 10 to 250 Hz.
#: Periods (not FFT bin indices) keep the residue fold cheap: the
#: per-asset Arrow traffic is Σ P rows regardless of signal length.
MEL_PERIODS = (4, 5, 6, 8, 10, 12, 16, 20, 25, 33, 50, 100)
N_MEL_FILTERS = 6


def mel_filter_weights() -> list[tuple[int, int, float]]:
    """The triangular mel filterbank as a LITERAL (filter, period,
    weight) list: N_MEL_FILTERS triangles with mel-equi-spaced edges
    spanning the MEL_PERIODS frequency range, weights rounded to 6
    decimals. mel(f) = 2595·log10(1 + f/700) runs only HERE, in
    Python at definition time — both engines consume the resulting
    constants, so no log10/libm crosses the engine boundary."""
    mel = lambda f: 2595.0 * math.log10(1.0 + f / 700.0)  # noqa: E731
    freqs = [WAV_RATE / p for p in MEL_PERIODS]
    lo, hi = mel(min(freqs)), mel(max(freqs))
    edges = [
        lo + (hi - lo) * i / (N_MEL_FILTERS + 1)
        for i in range(N_MEL_FILTERS + 2)
    ]
    out = []
    for m in range(N_MEL_FILTERS):
        left, center, right = edges[m], edges[m + 1], edges[m + 2]
        for p, f in zip(MEL_PERIODS, freqs):
            mf = mel(f)
            if left < mf <= center:
                w = (mf - left) / (center - left)
            elif center < mf < right:
                w = (right - mf) / (right - center)
            else:
                continue
            w = round(w, 6)
            if w > 0:
                out.append((m, p, w))
    return out


def _bin_powers(spark: SparkSession) -> DataFrame:
    """``(asset_id, p, power)`` — floor-6 DFT bin powers at the
    MEL_PERIODS frequencies via the residue-fold contract; the
    shared base of the mel/MFCC/flatness chain."""
    import io
    import wave

    import numpy as np

    def rows_of(aid, payload):
        with wave.open(io.BytesIO(bytes(payload))) as w:
            if w.getnchannels() != 1 or w.getsampwidth() != 2:
                return
            raw = w.readframes(w.getnframes())
        s = np.frombuffer(raw, dtype="<i2").astype(np.int64)
        n = len(s)
        for p in MEL_PERIODS:
            res = np.bincount(
                np.arange(n) % p, weights=s, minlength=p
            ).astype(np.int64)
            for r in range(p):
                yield (int(aid), n, p, r, int(res[r]))

    media = synth_wav_media(spark).select("asset_id", "payload")
    folded = row_lane(
        media,
        rows_of,
        "asset_id bigint, n_samples bigint, p int, r int, csum bigint",
    )
    phase = (
        F.lit(2.0 * math.pi)
        * F.col("r").cast("double")
        / F.col("p").cast("double")
    )
    terms = folded.select(
        "asset_id",
        "n_samples",
        "p",
        (F.col("csum").cast("double") * F.cos(phase))
        .cast("decimal(38,18)")
        .alias("ca"),
        (F.col("csum").cast("double") * F.sin(phase))
        .cast("decimal(38,18)")
        .alias("cb"),
    )
    powers = terms.groupBy("asset_id", "n_samples", "p").agg(
        F.sum("ca").alias("a"), F.sum("cb").alias("b")
    )
    f6 = lambda c: F.floor(c * 1e6) / 1e6  # noqa: E731
    pw = powers.select(
        "asset_id",
        "p",
        f6(
            (
                F.col("a").cast("double") * F.col("a").cast("double")
                + F.col("b").cast("double") * F.col("b").cast("double")
            )
            / (
                F.col("n_samples").cast("double")
                * F.col("n_samples").cast("double")
            )
        ).alias("power"),
    )
    return pw


def _mel_energies(spark: SparkSession) -> DataFrame:
    """``(asset_id, filter_id, n_bins, mel_energy)`` — the shared
    frame behind :func:`mm_audio_mel_energy` (see there for the
    cross-engine contract) and :func:`mm_audio_mfcc`."""
    f6 = lambda c: F.floor(c * 1e6) / 1e6  # noqa: E731
    pw = _bin_powers(spark)
    wts = spark.createDataFrame(
        mel_filter_weights(), "filter_id int, p int, w double"
    )
    return (
        pw.join(F.broadcast(wts), "p")
        .groupBy("asset_id", "filter_id")
        .agg(
            F.sum(
                (F.col("power") * F.col("w")).cast("decimal(38,18)")
            ).alias("esum"),
            F.count(F.lit(1)).cast("int").alias("n_bins"),
        )
        .select(
            "asset_id",
            "filter_id",
            "n_bins",
            f6(F.col("esum").cast("double")).alias("mel_energy"),
        )
    )


def mm_audio_mel_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mel-filterbank energies on REAL decoded audio — the standard
    speech-pipeline front-end feature (filterbank energies are what
    MFCC/ASR/audio-quality stacks consume) that the DFT family stops
    just short of. Extends :func:`mm_audio_dft_peak`'s residue-fold
    contract: the decode ships only exact integer (asset, period,
    residue) sums across Arrow; the trigonometry runs engine-side
    with DECIMAL(38,18)-pinned terms; the bin powers are floor-6
    truncated; and the filterbank application is one broadcast join
    against the LITERAL triangular weight matrix
    (:func:`mel_filter_weights`) with another exact DECIMAL sum —
    the weighted sum cannot fold in different orders across engines.

    Scale: payload bytes never shuffle; Σ MEL_PERIODS = 279 residue
    rows per asset cross Arrow; the filterbank is a ≤ |weights|-row
    broadcast; every aggregate is partial-aggregatable.
    """
    return _mel_energies(spark).orderBy("asset_id", "filter_id")


#: MFCC: number of cepstral coefficients kept (DCT-II of the log
#: mel energies over N_MEL_FILTERS bands).
N_MFCC = 4


def mfcc_dct_weights() -> list[tuple[int, int, float]]:
    """The DCT-II basis as a LITERAL (k, m, weight) list:
    w[k][m] = cos(π·k·(2m+1) / (2·M)) rounded to 6 decimals —
    like :func:`mel_filter_weights`, the trigonometry runs only HERE
    at definition time; both engines consume constants."""
    out = []
    for k in range(N_MFCC):
        for m in range(N_MEL_FILTERS):
            w = round(
                math.cos(math.pi * k * (2 * m + 1) / (2.0 * N_MEL_FILTERS)),
                6,
            )
            if w != 0.0:
                out.append((k, m, w))
    return out


def mm_audio_mfcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MFCC-style cepstral coefficients — the last step of the
    classic speech front-end (samples → DFT bins → mel filterbank →
    log → DCT-II): coefficient k = Σ_m ln(1 + E_m) · cos(π·k·(2m+1)
    / 2M) over the M mel-band energies of :func:`_mel_energies`.

    Cross-engine contract: the DCT basis is a LITERAL matrix
    (:func:`mfcc_dct_weights` — cos() runs once in Python), the log
    mel energies are floor-6 truncated before the basis multiply
    (ln() is the one libm call that crosses engines — same
    truncation discipline as the DFT family's cos/sin), and each
    basis term is DECIMAL(38,18)-pinned so the ≤M-term fold cannot
    reorder across engines.

    Scale: rides the mel-energy frame (bounded: assets × M rows);
    the DCT is an (M·K)-row broadcast join + one partial-
    aggregatable rollup.
    """
    f6 = lambda c: F.floor(c * 1e6) / 1e6  # noqa: E731
    logmel = _mel_energies(spark).select(
        "asset_id",
        F.col("filter_id").alias("m"),
        f6(F.log(F.lit(1.0) + F.col("mel_energy"))).alias("logmel"),
    )
    dct = spark.createDataFrame(
        mfcc_dct_weights(), "k int, m int, w double"
    )
    return (
        logmel.join(F.broadcast(dct), "m")
        .groupBy("asset_id", "k")
        .agg(
            F.sum(
                (F.col("logmel") * F.col("w")).cast("decimal(38,18)")
            ).alias("csum"),
            F.count(F.lit(1)).cast("int").alias("n_terms"),
        )
        .select(
            "asset_id",
            "k",
            "n_terms",
            f6(F.col("csum").cast("double")).alias("mfcc"),
        )
        .orderBy("asset_id", "k")
    )


N_TIFF_ASSETS = 36


def encode_tiff_gray(asset_id: int, w: int, h: int) -> bytes:
    """A real baseline-TIFF grayscale image (8-bit, uncompressed,
    strip-organized): alternating little/big-endian containers and,
    for every third asset, TWO strips with out-of-line offset/count
    arrays — exercising the byte-order branch, the IFD tag walk,
    SHORT vs LONG entry types, and strip reassembly. Pixels follow
    g=(7a+3x+11y)%256."""
    import struct

    e = "<" if asset_id % 2 == 0 else ">"
    px = bytes(
        (7 * asset_id + 3 * x + 11 * y) % 256
        for y in range(h)
        for x in range(w)
    )
    two_strips = asset_id % 3 == 0 and h >= 2
    rows_per_strip = (h + 1) // 2 if two_strips else h
    strips = [
        px[s * rows_per_strip * w : (s + 1) * rows_per_strip * w]
        for s in range((h + rows_per_strip - 1) // rows_per_strip)
    ]
    pos = 8
    strip_offsets, strip_counts = [], []
    for s in strips:
        strip_offsets.append(pos)
        strip_counts.append(len(s))
        pos += len(s)
    arrays = b""
    if len(strips) > 1:
        off_array_pos = pos
        arrays += b"".join(struct.pack(e + "I", o) for o in strip_offsets)
        cnt_array_pos = pos + 4 * len(strips)
        arrays += b"".join(struct.pack(e + "I", c) for c in strip_counts)
        pos += len(arrays)
    ifd_pos = pos

    def entry(tag, typ, count, value):
        if typ == 3 and count == 1:
            # SHORT inline values are LEFT-justified in the 4-byte
            # field in BOTH byte orders (TIFF 6.0 §2, "Value Offset")
            packed = struct.pack(e + "H", value) + b"\x00\x00"
            return struct.pack(e + "HHI", tag, typ, count) + packed
        return struct.pack(e + "HHII", tag, typ, count, value)

    entries = [
        entry(256, 3, 1, w),  # ImageWidth
        entry(257, 3, 1, h),  # ImageLength
        entry(258, 3, 1, 8),  # BitsPerSample
        entry(259, 3, 1, 1),  # Compression = none
        entry(262, 3, 1, 1),  # Photometric = BlackIsZero
        entry(273, 4, len(strips),
              strip_offsets[0] if len(strips) == 1 else off_array_pos),
        entry(277, 3, 1, 1),  # SamplesPerPixel
        entry(278, 3, 1, rows_per_strip),
        entry(279, 4, len(strips),
              strip_counts[0] if len(strips) == 1 else cnt_array_pos),
    ]
    ifd = (
        struct.pack(e + "H", len(entries))
        + b"".join(entries)
        + struct.pack(e + "I", 0)
    )
    header = (b"II" if e == "<" else b"MM") + struct.pack(
        e + "HI", 42, ifd_pos
    )
    return header + b"".join(strips) + arrays + ifd


def decode_tiff_gray(payload: bytes):
    """REAL baseline-TIFF decode: byte-order detection (II/MM), IFD
    tag walk with SHORT/LONG entry types, out-of-line strip
    offset/count arrays, and multi-strip reassembly. Returns an
    (h, w) uint8 array for 8-bit uncompressed single-sample images,
    None on anything else or any malformed structure."""
    import struct

    import numpy as np

    if len(payload) < 8 or payload[:2] not in (b"II", b"MM"):
        return None
    e = "<" if payload[:2] == b"II" else ">"
    magic, ifd_pos = struct.unpack_from(e + "HI", payload, 2)
    if magic != 42 or ifd_pos + 2 > len(payload):
        return None
    (n_entries,) = struct.unpack_from(e + "H", payload, ifd_pos)
    if ifd_pos + 2 + 12 * n_entries > len(payload):
        return None

    def read_values(typ, count, raw_off):
        size = 2 if typ == 3 else 4
        fmt = "H" if typ == 3 else "I"
        if size * count <= 4:
            base = raw_off
            return list(
                struct.unpack_from(e + fmt * count, payload, base)
            )
        (ptr,) = struct.unpack_from(e + "I", payload, raw_off)
        if ptr + size * count > len(payload):
            return None
        return list(struct.unpack_from(e + fmt * count, payload, ptr))

    tags = {}
    for i in range(n_entries):
        base = ifd_pos + 2 + 12 * i
        tag, typ, count = struct.unpack_from(e + "HHI", payload, base)
        if typ not in (3, 4):
            continue
        vals = read_values(typ, count, base + 8)
        if vals is None:
            return None
        tags[tag] = vals
    try:
        w, h = tags[256][0], tags[257][0]
        if (
            tags.get(258, [8])[0] != 8
            or tags.get(259, [1])[0] != 1
            or tags.get(277, [1])[0] != 1
        ):
            return None
        offsets, counts = tags[273], tags[279]
    except KeyError:
        return None
    if w <= 0 or h <= 0 or len(offsets) != len(counts):
        return None
    data = b""
    for o, c in zip(offsets, counts):
        if o + c > len(payload):
            return None
        data += payload[o : o + c]
    if len(data) != w * h:
        return None
    return np.frombuffer(data, dtype=np.uint8).reshape(h, w)


def synth_tiff_media(
    spark: SparkSession, n: int = N_TIFF_ASSETS
) -> DataFrame:
    """n real baseline-TIFF assets (mixed endianness, 1-2 strips)."""
    rows = []
    for i in range(n):
        w, h = 12 + i % 9, 9 + i % 7
        rows.append(
            (i, "image", w, h, 0, bytearray(encode_tiff_gray(i, w, h)))
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def mm_image_decode_tiff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL TIFF decode: baseline grayscale containers
    (both byte orders, single- and two-strip layouts with
    out-of-line offset arrays) parsed by the spec-correct IFD walk
    inside Arrow-batched mapInPandas, reduced to exact int64 pixel
    stats; the oracle regenerates the closed-form pattern —
    value-checking endian handling, tag typing, and strip
    reassembly.

    Scale: payload bytes never shuffle; 7 ints per asset cross the
    Arrow boundary.
    """
    import numpy as np

    def rows_of(aid, payload):
        img = decode_tiff_gray(bytes(payload))
        if img is None:
            return
        px = img.astype(np.int64)
        yield (
            int(aid),
            img.shape[1],
            img.shape[0],
            img.shape[0] * img.shape[1],
            int(px.sum()),
            int((px * px).sum()),
            int(px[0, :].sum()),
        )

    media = synth_tiff_media(spark).select("asset_id", "payload")
    return row_lane(
        media,
        rows_of,
        "asset_id bigint, width int, height int, n_px bigint, "
        "sum_g bigint, ssq_g bigint, row0_sum bigint",
    ).orderBy("asset_id")


def mm_audio_zero_crossings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-crossing rate on REAL decoded audio — the classic
    voiced/unvoiced & noisiness feature (high ZCR = noise/fricative,
    low = tone/voiced) that complements the energy windows and the
    DFT periodicity scan: count of consecutive-sample sign flips
    (zero counts as non-negative, the numpy ``signbit`` convention —
    fixed here and mirrored in SQL). Exact integers end to end.

    Scale: decode in Arrow-batched mapInPandas, 3 ints per asset out;
    the oracle recomputes sign flips from the closed-form samples
    with one lead() over the generated series.
    """
    import io
    import wave

    import numpy as np

    def rows_of(aid, payload):
        with wave.open(io.BytesIO(bytes(payload))) as wv:
            if wv.getnchannels() != 1 or wv.getsampwidth() != 2:
                return
            raw = wv.readframes(wv.getnframes())
        s = np.frombuffer(raw, dtype="<i2").astype(np.int64)
        neg = s < 0
        yield (int(aid), len(s), int((neg[1:] != neg[:-1]).sum()))

    media = synth_wav_media(spark).select("asset_id", "payload")
    f6 = lambda c: F.floor(c * 1e6) / 1e6  # noqa: E731
    return (
        row_lane(
            media,
            rows_of,
            "asset_id bigint, n_samples bigint, n_crossings bigint",
        )
        .select(
            "asset_id",
            "n_samples",
            "n_crossings",
            f6(
                F.col("n_crossings").cast("double")
                / (F.col("n_samples") - 1).cast("double")
            ).alias("zcr"),
        )
        .orderBy("asset_id")
    )


N_MULAW_ASSETS = 32
MULAW_RATE = 8000  # Hz — the G.711 telephony rate


def _mulaw_byte(asset_id: int, k: int) -> int:
    """Closed-form encoded μ-law byte (mirrored by the SQL oracle):
    u(a, k) = (11a + 17k) % 256."""
    return (11 * asset_id + 17 * k) % 256


def mulaw_expand(u: int) -> int:
    """G.711 μ-law byte → linear PCM16 (ITU-T G.711 expansion):
    complement, split into sign/exponent/mantissa, and expand by
    ``mag = ((8m + 132) << e) − 132`` (max 32124 at m=15, e=7).
    Sign convention: complemented bit 7 set ⇒ negative — fixed here
    and mirrored verbatim in the oracle."""
    u ^= 0xFF
    sign = (u >> 7) & 1
    e = (u >> 4) & 7
    m = u & 0x0F
    mag = ((8 * m + 132) << e) - 132
    return -mag if sign else mag


def alaw_expand(a: int) -> int:
    """G.711 A-law byte → linear PCM16 (ITU-T G.711 expansion):
    even-bit inversion (XOR 0x55), then sign/exponent/mantissa with
    ``mag = 16m + 8`` for e = 0 and ``(16m + 264) << (e−1)`` for
    e ≥ 1 (max 32256 at m=15, e=7). Sign convention: bit 7 of the
    inverted byte set ⇒ negative — fixed here and mirrored verbatim
    in the oracle."""
    a ^= 0x55
    sign = (a >> 7) & 1
    e = (a >> 4) & 7
    m = a & 0x0F
    mag = (16 * m + 8) if e == 0 else ((16 * m + 264) << (e - 1))
    return -mag if sign else mag


def _alaw_byte(asset_id: int, k: int) -> int:
    """Closed-form encoded A-law byte (mirrored by the SQL oracle)."""
    return (13 * asset_id + 19 * k) % 256


def encode_wav_alaw(asset_id: int, n_samples: int) -> bytes:
    """A real RIFF/WAVE container with fmt tag 6 (G.711 A-law,
    8-bit mono at the telephony rate) and the closed-form byte
    pattern."""
    import struct

    data = bytes(_alaw_byte(asset_id, k) for k in range(n_samples))
    fmt = struct.pack("<HHIIHH", 6, 1, MULAW_RATE, MULAW_RATE, 1, 8)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
        + (b"\x00" if len(data) & 1 else b"")
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav_alaw_exact(
    payload: bytes,
) -> tuple[int, int, int, int] | None:
    """REAL A-law decode with EXACT integer outputs: same manual
    RIFF walk as the μ-law twin, format tag must be 6 / mono /
    8-bit; returns (n_samples, Σpcm, Σpcm², max|pcm|) or None."""
    import struct

    if (
        len(payload) < 12
        or payload[:4] != b"RIFF"
        or payload[8:12] != b"WAVE"
    ):
        return None
    pos, fmt_ok, data = 12, False, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (ln,) = struct.unpack_from("<I", payload, pos + 4)
        if pos + 8 + ln > len(payload):
            return None
        chunk = payload[pos + 8 : pos + 8 + ln]
        if cid == b"fmt " and ln >= 16:
            tag, ch, _rate, _br, _ba, bits = struct.unpack_from(
                "<HHIIHH", chunk, 0
            )
            fmt_ok = tag == 6 and ch == 1 and bits == 8
        elif cid == b"data":
            data = chunk
        pos += 8 + ln + (ln & 1)
    if not fmt_ok or data is None:
        return None
    n = s = q = peak = 0
    for b in data:
        v = alaw_expand(b)
        n += 1
        s += v
        q += v * v
        peak = max(peak, abs(v))
    return (n, s, q, peak)


def synth_alaw_media(
    spark: SparkSession, n: int = N_MULAW_ASSETS
) -> DataFrame:
    """n real G.711 A-law WAV assets with deterministic bytes."""
    rows = []
    for i in range(n):
        ns = 400 + 8 * i
        rows.append(
            (i, "audio", 0, 0, ns * 1000 // MULAW_RATE,
             bytearray(encode_wav_alaw(i, ns)))
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def mm_audio_alaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL G.711 A-law decode end-to-end — the European-telephony
    sibling of ``mm_audio_mulaw`` (fmt tag 6, even-bit inversion,
    different expansion table): chunk-walked and expanded to linear
    PCM16 inside Arrow-batched mapInPandas, exact integer energy
    stats, oracle mirrors the ITU expansion verbatim. Together the
    pair covers both G.711 companding laws a telephony archive
    contains.

    Scale: payload bytes never shuffle; 5 ints per asset cross the
    Arrow boundary.
    """

    def rows_of(aid, payload):
        dec = decode_wav_alaw_exact(bytes(payload))
        if dec is not None:
            yield (int(aid),) + dec

    media = synth_alaw_media(spark).select("asset_id", "payload")
    return (
        row_lane(
            media,
            rows_of,
            "asset_id bigint, n_samples bigint, sum_pcm bigint, "
            "ssq_pcm bigint, peak_abs bigint",
        )
        .orderBy("asset_id")
    )


def encode_wav_mulaw(asset_id: int, n_samples: int) -> bytes:
    """A real RIFF/WAVE container with fmt tag 7 (G.711 μ-law,
    8-bit mono) — hand-rolled because stdlib ``wave`` only writes
    PCM containers."""
    import struct

    data = bytes(_mulaw_byte(asset_id, k) for k in range(n_samples))
    fmt = struct.pack(
        "<HHIIHH", 7, 1, MULAW_RATE, MULAW_RATE, 1, 8
    )
    body = (
        b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav_mulaw_exact(
    payload: bytes,
) -> tuple[int, int, int, int] | None:
    """REAL μ-law decode with EXACT integer outputs: manual RIFF
    chunk walk (stdlib ``wave`` rejects non-PCM), format tag must be
    7 / mono / 8-bit, each byte expands through :func:`mulaw_expand`;
    returns (n_samples, Σpcm, Σpcm², max|pcm|) or None on any
    malformed structure (bounds-checked — a truncated chunk skips
    the asset, never fails the task)."""
    import struct

    if (
        len(payload) < 12
        or payload[:4] != b"RIFF"
        or payload[8:12] != b"WAVE"
    ):
        return None
    pos, fmt_ok, data = 12, False, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (ln,) = struct.unpack_from("<I", payload, pos + 4)
        if pos + 8 + ln > len(payload):
            return None
        chunk = payload[pos + 8 : pos + 8 + ln]
        if cid == b"fmt " and ln >= 16:
            tag, ch, _rate, _br, _ba, bits = struct.unpack_from(
                "<HHIIHH", chunk, 0
            )
            fmt_ok = tag == 7 and ch == 1 and bits == 8
        elif cid == b"data":
            data = chunk
        pos += 8 + ln + (ln & 1)
    if not fmt_ok or data is None:
        return None
    n = s = q = peak = 0
    for b in data:
        v = mulaw_expand(b)
        n += 1
        s += v
        q += v * v
        peak = max(peak, abs(v))
    return (n, s, q, peak)


def synth_mulaw_media(
    spark: SparkSession, n: int = N_MULAW_ASSETS
) -> DataFrame:
    """n real G.711 μ-law WAV assets with deterministic bytes."""
    rows = []
    for i in range(n):
        ns = 400 + 8 * i
        rows.append(
            (i, "audio", 0, 0, ns * 1000 // MULAW_RATE,
             bytearray(encode_wav_mulaw(i, ns)))
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def mm_audio_mulaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL companded-audio decode end-to-end: G.711 μ-law WAV
    containers (fmt tag 7 — the telephony/callcenter archive format
    a training pipeline actually meets) are synthesized, chunk-walked
    and expanded to linear PCM16 inside Arrow-batched mapInPandas,
    emitting exact integer energy stats per asset. The oracle
    regenerates the closed-form encoded bytes in SQL and mirrors the
    ITU expansion formula — value-checking the container walk, the
    companding math, and the aggregation.

    Scale: payload bytes never shuffle; 5 ints per asset cross the
    Arrow boundary; the final ordering is a bounded asset-grain sort.
    """

    def rows_of(aid, payload):
        dec = decode_wav_mulaw_exact(bytes(payload))
        if dec is not None:
            yield (int(aid),) + dec

    media = synth_mulaw_media(spark).select("asset_id", "payload")
    return (
        row_lane(
            media,
            rows_of,
            "asset_id bigint, n_samples bigint, sum_pcm bigint, "
            "ssq_pcm bigint, peak_abs bigint",
        )
        .orderBy("asset_id")
    )


PATCH_PX = 16

PATCHES_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("px", IntegerType()),
        StructField("py", IntegerType()),
        StructField("patch_digest", StringType()),
    ]
)


def sample_patches(media: DataFrame, patch_px: int = PATCH_PX) -> DataFrame:
    """Vision-transformer-style patch grid as a 1→N per-row
    expansion: each image yields ceil(w/p) × ceil(h/p) patch rows.
    The real crop+embed (PIL/torchvision) is stubbed with a
    deterministic digest of (payload, px, py); the Spark-side shape
    — metadata pruning before Python, in-batch row expansion, no
    payload shuffle — is the production plumbing.
    """

    def rows_of(asset_id, w, h, payload):
        nx = -(-int(w) // patch_px)
        ny = -(-int(h) // patch_px)
        for py in range(ny):
            for px in range(nx):
                digest = hashlib.md5(
                    (
                        bytes(payload)
                        + px.to_bytes(4, "big")
                        + py.to_bytes(4, "big")
                    ).hex().encode()
                )
                yield (int(asset_id), px, py, digest.hexdigest())

    images = media.where(F.col("media_type") == "image").select(
        "asset_id", "width", "height", "payload"
    )
    return row_lane(images, rows_of, PATCHES_SCHEMA)


#: 8-px patches over the 16–23 × 12–16 BMP assets → a 2–3 × 2 grid
#: with ragged right/bottom edges (the partial-patch case a ViT
#: preprocessor must handle).
BMP_PATCH_PX = 8


def mm_image_patches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL ViT-style patch extraction: synthesize valid BMP files,
    decode them stdlib-only inside Arrow-batched mapInPandas, cut
    each image into a ceil(w/p) × ceil(h/p) grid of BMP_PATCH_PX
    patches (edge patches ragged, as in real preprocessing), and
    emit each patch's exact integer brightness (sum of R+G+B over
    its pixels); per-asset rollup runs JVM-side. The oracle
    recomputes per-patch sums from the closed-form pixel pattern
    grouped by (x div p, y div p) — so the decode, the grid
    arithmetic, and the ragged-edge handling are all value-checked
    (round-6 re-plumb of the former digest-stub entry; the generic
    ``sample_patches`` API keeps the documented PIL-arm stub).

    Scale: payload bytes never shuffle; 4 ints per patch cross the
    Arrow boundary; the rollup is a codegen aggregate.
    """
    import numpy as np

    def rows_of(aid, payload):
        img = decode_bmp24(bytes(payload))
        if img is None:
            return
        px = img.astype(np.int64).sum(axis=2)  # per-pixel r+g+b
        h, w = px.shape
        p = BMP_PATCH_PX
        for py in range(-(-h // p)):
            for gx in range(-(-w // p)):
                patch = px[py * p : (py + 1) * p, gx * p : (gx + 1) * p]
                yield (int(aid), gx, py, int(patch.sum()))

    media = synth_bmp_media(spark).select("asset_id", "payload")
    patches = row_lane(
        media, rows_of, "asset_id bigint, px int, py int, brightness bigint"
    )
    return (
        patches.groupBy("asset_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_patches"),
            (F.max("px") + 1).cast("int").alias("nx"),
            (F.max("py") + 1).cast("int").alias("ny"),
            F.sum("brightness").alias("total_brightness"),
            F.max("brightness").alias("peak_brightness"),
        )
        .orderBy("asset_id")
    )


def mm_payload_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload dedup at ingest: the same asset re-uploaded
    under a new id must collapse before feature extraction pays for
    it twice. The synthetic feed re-ingests every 7th asset with a
    fresh id; digests computed in the SAME Arrow-batched mapInPandas
    pass as featurization group exact byte-duplicates, and the
    rollup reports per-type duplication (the image-dedup step every
    multimodal training pipeline runs, with real hashes over the
    payload bytes — only the decode stays stubbed).

    Scale: payload bytes never shuffle (digest computed in-batch at
    the scan); the dedup shuffle carries 32-char digests; keeper
    choice is min(asset_id) per digest — the same keep-rule as the
    text CC keep-set.
    """
    base = synth_media(spark, n=64)
    reups = base.where(F.col("asset_id") % 7 == 0).select(
        (F.col("asset_id") + 64).alias("asset_id"),
        "media_type",
        "width",
        "height",
        "duration_ms",
        "payload",
    )
    feats = extract_features(base.unionByName(reups))
    groups = feats.groupBy("media_type", "payload_digest").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("asset_id").alias("keeper"),
    )
    return (
        groups.groupBy("media_type")
        .agg(
            F.sum("n").cast("bigint").alias("n_assets"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct_payloads"),
            F.sum(F.col("n") - 1).cast("bigint").alias("n_dup_assets"),
            F.max("n").cast("bigint").alias("max_dup_group"),
        )
        .orderBy("media_type")
    )


def mm_payload_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-entropy screen over raw media payloads — the corrupt /
    blank / padding-heavy asset detector every multimodal ingest
    runs before paying for decode (near-zero entropy = stuck bytes,
    ~8 bits = encrypted/compressed; both are triage signals). Real
    byte processing, no stub: Shannon entropy of each payload's
    byte histogram, rolled up per media type.

    Scale shape: the payload is hex-encoded and exploded to bytes
    ROW-LOCALLY in one JVM-side ``transform`` (no Python, and the
    binary itself never shuffles — only (asset, byte) pairs with
    map-side combine into 256-bucket counts). Entropy terms and the
    per-type average are summed as DECIMAL(38,18) — exact and
    order-independent, bit-equal to the SQL twin.
    """
    media = synth_media(spark, n=64).withColumn(
        "hx", F.lower(F.hex("payload"))
    )
    bytes_df = media.select(
        "asset_id",
        "media_type",
        F.explode(
            F.expr(
                "transform(sequence(0, cast(length(hx) / 2 as int) - 1),"
                " k -> substring(hx, 2 * k + 1, 2))"
            )
        ).alias("byte"),
    )
    counts = bytes_df.groupBy("asset_id", "media_type", "byte").agg(
        F.count(F.lit(1)).alias("c")
    )
    n = F.sum("c").over(Window.partitionBy("asset_id"))
    p = F.col("c").cast("double") / F.col("n").cast("double")
    per_asset = (
        counts.withColumn("n", n)
        .select(
            "asset_id",
            "media_type",
            ((-p) * F.log(p)).cast("decimal(38,18)").alias("term"),
        )
        .groupBy("asset_id", "media_type")
        .agg(F.sum("term").cast("double").alias("entropy"))
    )
    f6 = lambda c: F.floor(c * 1e6) / 1e6  # noqa: E731
    return (
        per_asset.groupBy("media_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_assets"),
            f6(
                F.sum(F.col("entropy").cast("decimal(38,18)")).cast(
                    "double"
                )
                / F.count(F.lit(1))
            ).alias("avg_entropy"),
            f6(F.min("entropy")).alias("min_entropy"),
            f6(F.max("entropy")).alias("max_entropy"),
        )
        .orderBy("media_type")
    )


#: Real image decode (round-5): uncompressed 24-bit BMP needs nothing
#: beyond stdlib ``struct`` + numpy, so ONE image modality decodes
#: real bytes end-to-end — valid BMP files are synthesized with a
#: closed-form pixel pattern, parsed by a real header/stride/
#: bottom-up-aware decoder inside mapInPandas, and the per-channel
#: integer stats are verified against a DuckDB oracle that computes
#: the same sums from the pixel formula directly. A decoder bug
#: (wrong stride padding, missed row flip, BGR/RGB swap) breaks the
#: hash — `row0_r_sum` is asymmetric in y precisely to catch a
#: missing bottom-up flip.
N_BMP_ASSETS = 64
_BMP_MAX_W = 16 + 7  # w = 16 + i % 8
_BMP_MAX_H = 12 + 4  # h = 12 + i % 5


def encode_bmp24(asset_id: int, w: int, h: int) -> bytes:
    """A real, viewer-openable 24-bit uncompressed BMP whose pixel
    (x, y) channels follow a closed-form pattern (top-down
    coordinates; the file stores rows bottom-up per the spec):
    b=(7a+3x+5y)%256, g=(11a+13x+17y)%256, r=(19a+23x+29y)%256."""
    import struct

    rows = []
    for y in range(h):
        row = bytearray()
        for x in range(w):
            row += bytes(
                (
                    (7 * asset_id + 3 * x + 5 * y) % 256,
                    (11 * asset_id + 13 * x + 17 * y) % 256,
                    (19 * asset_id + 23 * x + 29 * y) % 256,
                )
            )
        row += b"\x00" * ((-w * 3) % 4)  # 4-byte row stride padding
        rows.append(bytes(row))
    px = b"".join(reversed(rows))  # bottom-up storage
    off = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", off + len(px), 0, 0, off)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(px), 2835, 2835, 0, 0
    )
    return header + info + px


def decode_bmp24(payload: bytes):
    """REAL decode: parse BITMAPFILEHEADER + BITMAPINFOHEADER, honor
    the 4-byte row stride and bottom-up row order, return an
    (h, w, 3) uint8 array in BGR channel order (top-down), or None
    if the payload is not an uncompressed 24-bit BMP."""
    import struct

    import numpy as np

    if len(payload) < 54 or payload[:2] != b"BM":
        return None
    (off,) = struct.unpack_from("<I", payload, 10)
    size, w, h, _planes, bpp, comp = struct.unpack_from("<IiiHHI", payload, 14)
    if size != 40 or bpp != 24 or comp != 0 or h <= 0 or w <= 0:
        return None
    stride = (w * 3 + 3) // 4 * 4
    if len(payload) < off + stride * h:
        return None
    img = np.frombuffer(payload, dtype=np.uint8, count=stride * h, offset=off)
    # slice off padding, then flip bottom-up -> top-down
    return img.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)[::-1]


def synth_bmp_media(spark: SparkSession, n: int = N_BMP_ASSETS) -> DataFrame:
    """n real BMP image assets with deterministic dimensions/pixels."""
    rows = []
    for i in range(n):
        w, h = 16 + i % 8, 12 + i % 5
        rows.append(
            (i, "image", w, h, 0, bytearray(encode_bmp24(i, w, h)))
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


_BMP_STATS_SCHEMA = (
    "asset_id bigint, width int, height int, n_px bigint, "
    "sum_r bigint, sum_g bigint, sum_b bigint, "
    "ssq_r bigint, ssq_g bigint, ssq_b bigint, row0_r_sum bigint"
)


def mm_image_decode_bmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL image decode: synthesize valid BMP files,
    decode them with the stdlib parser inside Arrow-batched
    mapInPandas, and emit exact int64 per-channel pixel stats. The
    oracle recomputes the same sums from the closed-form pixel
    pattern — so header parsing, stride handling, the bottom-up
    flip, and BGR ordering are all value-checked, not stubbed.

    Scale: same plumbing as extract_features — payload bytes stay
    inside the Arrow batch, stats (11 ints/asset) are all that
    leaves Python; per-type rollups would run JVM-side after.
    """
    import numpy as np

    def rows_of(aid, payload):
        img = decode_bmp24(bytes(payload))
        if img is None:
            return
        px = img.astype(np.int64)
        b, g, r = px[:, :, 0], px[:, :, 1], px[:, :, 2]
        yield (
            int(aid),
            img.shape[1],
            img.shape[0],
            img.shape[0] * img.shape[1],
            int(r.sum()),
            int(g.sum()),
            int(b.sum()),
            int((r * r).sum()),
            int((g * g).sum()),
            int((b * b).sum()),
            int(r[0, :].sum()),  # top row — y-flip witness
        )

    media = synth_bmp_media(spark).select("asset_id", "payload")
    return row_lane(media, rows_of, _BMP_STATS_SCHEMA).orderBy("asset_id")


N_PGM_ASSETS = 40


def encode_pgm(asset_id: int, w: int, h: int) -> bytes:
    """A real binary-netpbm P5 grayscale image (maxval 255) whose
    pixel (x, y) follows g=(5a+11x+13y)%256; the header includes a
    comment line so the decoder's token walk is exercised on real
    structure, not just the happy path."""
    head = f"P5\n# synthetic asset {asset_id}\n{w} {h}\n255\n".encode()
    px = bytes(
        (5 * asset_id + 11 * x + 13 * y) % 256
        for y in range(h)
        for x in range(w)
    )
    return head + px


def _netpbm_header(payload: bytes, magic: bytes):
    """Shared binary-netpbm header walk (P5/P6): whitespace-and-
    comment tokenizer (the spec allows comments anywhere between
    tokens), maxval must fit one byte. Returns (w, h, pixel_offset)
    or None on any deviation — wrong magic, non-digit token,
    unterminated comment, 16-bit maxval."""
    if len(payload) < 2 or payload[:2] != magic:
        return None
    pos, toks = 2, []
    while len(toks) < 3 and pos < len(payload):
        c = payload[pos]
        if c in b" \t\r\n":
            pos += 1
        elif c == ord("#"):
            nl = payload.find(b"\n", pos)
            if nl < 0:
                return None
            pos = nl + 1
        else:
            end = pos
            while end < len(payload) and payload[end] not in b" \t\r\n#":
                end += 1
            tok = payload[pos:end]
            if not tok.isdigit():
                return None
            toks.append(int(tok))
            pos = end
    if len(toks) < 3 or pos >= len(payload):
        return None
    w, h, maxval = toks
    if w <= 0 or h <= 0 or not (0 < maxval < 256):
        return None
    return w, h, pos + 1  # +1: the whitespace byte ending the header


def decode_pgm(payload: bytes):
    """REAL decode of binary netpbm P5 (see :func:`_netpbm_header`);
    pixel payload must be exactly w·h bytes. Returns an (h, w) uint8
    array or None — malformed assets are skipped, never task
    failures."""
    import numpy as np

    hdr = _netpbm_header(bytes(payload), b"P5")
    if hdr is None:
        return None
    w, h, pos = hdr
    if len(payload) - pos != w * h:
        return None
    return np.frombuffer(payload, dtype=np.uint8, offset=pos).reshape(h, w)


def decode_ppm(payload: bytes):
    """REAL decode of binary netpbm P6 truecolor: same header walk,
    pixel payload exactly 3·w·h bytes of interleaved RGB. Returns an
    (h, w, 3) uint8 array or None."""
    import numpy as np

    hdr = _netpbm_header(bytes(payload), b"P6")
    if hdr is None:
        return None
    w, h, pos = hdr
    if len(payload) - pos != 3 * w * h:
        return None
    return np.frombuffer(payload, dtype=np.uint8, offset=pos).reshape(
        h, w, 3
    )


def encode_ppm(asset_id: int, w: int, h: int) -> bytes:
    """A real binary-netpbm P6 truecolor image (maxval 255), pixel
    (x, y) channels r=(7a+3x+5y)%256, g=(11a+13x+17y)%256,
    b=(19a+23x+29y)%256 — distinct per-channel coefficients so an
    interleave or channel-order bug breaks the per-channel sums.
    Header carries a comment line like the P5 twin."""
    head = f"P6\n# synthetic asset {asset_id}\n{w} {h}\n255\n".encode()
    px = bytes(
        v
        for y in range(h)
        for x in range(w)
        for v in (
            (7 * asset_id + 3 * x + 5 * y) % 256,
            (11 * asset_id + 13 * x + 17 * y) % 256,
            (19 * asset_id + 23 * x + 29 * y) % 256,
        )
    )
    return head + px


def synth_ppm_media(spark: SparkSession, n: int = N_PGM_ASSETS) -> DataFrame:
    """n real P6 truecolor assets with deterministic dimensions."""
    rows = []
    for i in range(n):
        w, h = 14 + i % 7, 10 + i % 6
        rows.append((i, "image", w, h, 0, bytearray(encode_ppm(i, w, h))))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def mm_image_decode_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL netpbm P6 truecolor decode (round-12, the
    color twin of ``mm_image_decode_pgm``): comment-bearing headers,
    spec-correct tokenizer, 3·w·h interleave contract — reduced to
    exact per-channel int64 sums (channel-order witness), the
    all-channel square sum, and the row-0 RGB sum (top-down
    witness); closed-form SQL oracle.

    Scale: payload bytes never shuffle; 8 ints per asset cross the
    Arrow boundary.
    """
    import numpy as np

    def rows_of(aid, payload):
        img = decode_ppm(bytes(payload))
        if img is None:
            return
        px = img.astype(np.int64)
        yield (
            int(aid),
            img.shape[1],
            img.shape[0],
            img.shape[0] * img.shape[1],
            int(px[:, :, 0].sum()),
            int(px[:, :, 1].sum()),
            int(px[:, :, 2].sum()),
            int((px * px).sum()),
            int(px[0, :, :].sum()),
        )

    media = synth_ppm_media(spark).select("asset_id", "payload")
    return row_lane(
        media,
        rows_of,
        "asset_id bigint, width int, height int, n_px bigint, "
        "sum_r bigint, sum_g bigint, sum_b bigint, ssq_rgb bigint, "
        "row0_sum bigint",
    ).orderBy("asset_id")


def synth_pgm_media(spark: SparkSession, n: int = N_PGM_ASSETS) -> DataFrame:
    """n real P5 grayscale assets with deterministic dimensions."""
    rows = []
    for i in range(n):
        w, h = 14 + i % 7, 10 + i % 6
        rows.append((i, "image", w, h, 0, bytearray(encode_pgm(i, w, h))))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def mm_image_decode_pgm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL netpbm decode: P5 grayscale containers with
    comment-bearing headers are synthesized, parsed by the
    spec-correct tokenizer inside Arrow-batched mapInPandas, and
    reduced to exact int64 pixel stats; the oracle regenerates the
    closed-form pixel pattern in SQL, value-checking the header
    walk, the payload-size contract, and the row order (row-0 sum
    is the top-down witness).

    Scale: payload bytes never shuffle; 7 ints per asset cross the
    Arrow boundary.
    """
    import numpy as np

    def rows_of(aid, payload):
        img = decode_pgm(bytes(payload))
        if img is None:
            return
        px = img.astype(np.int64)
        yield (
            int(aid),
            img.shape[1],
            img.shape[0],
            img.shape[0] * img.shape[1],
            int(px.sum()),
            int((px * px).sum()),
            int(px[0, :].sum()),
        )

    media = synth_pgm_media(spark).select("asset_id", "payload")
    return row_lane(
        media,
        rows_of,
        "asset_id bigint, width int, height int, n_px bigint, "
        "sum_g bigint, ssq_g bigint, row0_sum bigint",
    ).orderBy("asset_id")


def mm_image_hist_equalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL histogram equalization — the first contrast-normalizing
    transform of any vision preprocessing pipeline — on decoded P5
    assets, with the classic integer CDF remap
    ``eq(v) = ⌊(cdf(v) − cdf_min)·255 / (n_px − cdf_min)⌋`` (floor,
    not round: floor is identical integer arithmetic in every
    engine, so the oracle can re-derive every remapped pixel
    exactly). Emits per-asset stats of the original and equalized
    planes plus the dynamic-range witness (min/max of eq — a correct
    equalization always ends at 255).

    Scale: decode + histogram + remap are row-local inside
    Arrow-batched mapInPandas (256-bin bincount per asset); 7 ints
    per asset leave Python; the SQL oracle mirrors the CDF with one
    bounded window over value bins.
    """
    import numpy as np

    def rows_of(aid, payload):
        img = decode_pgm(bytes(payload))
        if img is None:
            return
        px = img.astype(np.int64).ravel()
        hist = np.bincount(px, minlength=256)
        cdf = hist.cumsum()
        cdf_min = int(cdf[hist.nonzero()[0][0]])
        n = int(px.size)
        denom = n - cdf_min
        if denom <= 0:  # constant image: map everything to 0
            eq = np.zeros_like(px)
        else:
            lut = (cdf - cdf_min) * 255 // denom
            eq = lut[px]
        yield (
            int(aid),
            n,
            int(px.sum()),
            int(eq.sum()),
            int((eq * eq).sum()),
            int(eq.min()),
            int(eq.max()),
        )

    media = synth_pgm_media(spark).select("asset_id", "payload")
    return row_lane(
        media,
        rows_of,
        "asset_id bigint, n_px bigint, sum_orig bigint, sum_eq bigint, "
        "ssq_eq bigint, min_eq bigint, max_eq bigint",
    ).orderBy("asset_id")


def mm_image_conv_edge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL 3×3 convolution — Sobel edge detection on decoded P5
    assets, the canonical first feature extractor of classical
    vision pipelines and the plumbing proof for any stencil kernel:
    per interior pixel, gx/gy from the two Sobel kernels and the L1
    gradient magnitude |gx|+|gy| (integer — no sqrt, so the oracle
    can recompute every cell exactly). Emits per-asset edge energy,
    peak gradient, and the count of strong-edge pixels (mag ≥ 255,
    a fixed literal threshold).

    Scale: the convolution is numpy slice arithmetic inside
    Arrow-batched mapInPandas (no Python per-pixel loop); 5 ints per
    asset leave Python; the oracle mirrors the stencil by evaluating
    the closed-form pixel pattern at all nine taps.
    """
    import numpy as np

    def rows_of(aid, payload):
        img = decode_pgm(bytes(payload))
        if img is None or img.shape[0] < 3 or img.shape[1] < 3:
            return
        p = img.astype(np.int64)
        gx = (
            (p[:-2, 2:] + 2 * p[1:-1, 2:] + p[2:, 2:])
            - (p[:-2, :-2] + 2 * p[1:-1, :-2] + p[2:, :-2])
        )
        gy = (
            (p[2:, :-2] + 2 * p[2:, 1:-1] + p[2:, 2:])
            - (p[:-2, :-2] + 2 * p[:-2, 1:-1] + p[:-2, 2:])
        )
        mag = np.abs(gx) + np.abs(gy)
        yield (
            int(aid),
            int(mag.size),
            int(mag.sum()),
            int(mag.max()),
            int((mag >= 255).sum()),
        )

    media = synth_pgm_media(spark).select("asset_id", "payload")
    return row_lane(
        media,
        rows_of,
        "asset_id bigint, n_interior bigint, edge_energy bigint, "
        "peak_grad bigint, n_strong bigint",
    ).orderBy("asset_id")


_RESIZE_STATS_SCHEMA = (
    "asset_id bigint, out_width int, out_height int, n_px_out bigint, "
    "sum_r bigint, sum_g bigint, sum_b bigint, row0_r_sum bigint, "
    "px00_r int, px00_g int, px00_b int"
)


def mm_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize: decode the synthesized BMPs with the real
    parser, then 2× box-filter downsample (each output pixel is the
    floor-average of its 2×2 source block, odd edges cropped) — the
    thumbnail/patch-prep step every vision-data pipeline runs before
    feature extraction. The oracle recomputes every downsampled
    pixel from the closed-form source pattern, so block alignment,
    the crop rule, channel order, and the floor-average rounding are
    all value-checked.

    Scale: identical plumbing to :func:`mm_image_decode_bmp` —
    payload bytes never leave the Arrow batch, the resize is numpy
    strided arithmetic inside ``mapInPandas``, and only 11 ints per
    asset reach the JVM. At 100 TB this is the embarrassingly
    parallel map stage of an image-prep job.
    """
    import numpy as np

    def rows_of(aid, payload):
        img = decode_bmp24(bytes(payload))
        if img is None:
            return
        h, w = img.shape[:2]
        h2, w2 = h // 2 * 2, w // 2 * 2
        p = img[:h2, :w2].astype(np.int64)
        down = (
            p[0::2, 0::2]
            + p[1::2, 0::2]
            + p[0::2, 1::2]
            + p[1::2, 1::2]
        ) // 4
        b, g, r = down[:, :, 0], down[:, :, 1], down[:, :, 2]
        yield (
            int(aid),
            down.shape[1],
            down.shape[0],
            down.shape[0] * down.shape[1],
            int(r.sum()),
            int(g.sum()),
            int(b.sum()),
            int(r[0, :].sum()),  # top row — flip witness
            int(r[0, 0]),
            int(g[0, 0]),
            int(b[0, 0]),
        )

    media = synth_bmp_media(spark).select("asset_id", "payload")
    return row_lane(media, rows_of, _RESIZE_STATS_SCHEMA).orderBy(
        "asset_id"
    )


#: Real PNG decode (round-5): PNG needs only stdlib ``zlib`` +
#: ``struct``, so the SECOND image codec decodes real compressed
#: bytes end-to-end — including all five scanline filter types
#: (None/Sub/Up/Average/Paeth; the encoder cycles ``y % 5`` so every
#: row exercises a different reconstruction path) and per-chunk CRC32
#: verification. The oracle recomputes the closed-form pixel sums in
#: SQL, so a wrong Paeth predictor, a missed filter byte, or a bad
#: CRC walk all break the value hash.
N_PNG_ASSETS = 48
_PNG_MAX_W = 12 + 7  # w = 12 + i % 8
_PNG_MAX_H = 8 + 6  # h = 8 + i % 7 (h >= 8 → all 5 filters appear)


def _paeth(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (spec §9.4): nearest of left/up/up-left
    to the linear estimate p = a + b - c, ties broken a, b, c."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def _png_pixels(asset_id: int, w: int, h: int):
    """Closed-form RGB pattern (mirrored by the SQL oracle):
    r=(5a+7x+11y)%256, g=(13a+17x+19y)%256, b=(23a+29x+31y)%256."""
    import numpy as np

    x = np.arange(w).reshape(1, w)
    y = np.arange(h).reshape(h, 1)
    return np.stack(
        [
            (5 * asset_id + 7 * x + 11 * y) % 256,
            (13 * asset_id + 17 * x + 19 * y) % 256,
            (23 * asset_id + 29 * x + 31 * y) % 256,
        ],
        axis=2,
    ).astype(np.int64)


def encode_png(asset_id: int, w: int, h: int) -> bytes:
    """A real, viewer-openable 8-bit RGB PNG (color type 2, no
    interlace). Scanline ``y`` is stored with filter type ``y % 5``,
    so the file exercises every PNG filter; pixels follow the
    closed-form pattern in :func:`_png_pixels`."""
    import struct
    import zlib

    import numpy as np

    raw_rows = _png_pixels(asset_id, w, h).reshape(h, w * 3)
    stride = w * 3
    prior = np.zeros(stride, dtype=np.int64)
    lines = []
    for y in range(h):
        raw = raw_rows[y]
        left = np.concatenate([np.zeros(3, dtype=np.int64), raw[:-3]])
        ft = y % 5
        if ft == 0:
            filt = raw
        elif ft == 1:
            filt = raw - left
        elif ft == 2:
            filt = raw - prior
        elif ft == 3:
            filt = raw - (left + prior) // 2
        else:
            ul = np.concatenate([np.zeros(3, dtype=np.int64), prior[:-3]])
            pred = np.fromiter(
                (
                    _paeth(int(left[i]), int(prior[i]), int(ul[i]))
                    for i in range(stride)
                ),
                dtype=np.int64,
                count=stride,
            )
            filt = raw - pred
        lines.append(bytes([ft]) + (filt % 256).astype(np.uint8).tobytes())
        prior = raw
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"".join(lines)))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(payload: bytes):
    """REAL decode: walk the chunk stream (verifying each CRC32),
    inflate the IDAT payload, and reconstruct scanlines by inverting
    whichever of the five PNG filters each row used. Returns
    ``(img, filters_seen)`` with ``img`` an (h, w, 3) array in RGB
    top-down order, or None for anything that isn't an 8-bit
    truecolor non-interlaced PNG.

    Sub/Average/Paeth reconstruction is inherently sequential in x
    (each byte depends on the just-reconstructed left neighbor), so
    those rows use a per-byte loop — the same data dependence every
    real PNG inflater has; rows are tiny here and the whole decode is
    per-asset work inside one Arrow batch.
    """
    import struct
    import zlib

    import numpy as np

    if len(payload) < 8 or payload[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    pos, idat, ihdr = 8, b"", None
    while pos + 12 <= len(payload):
        (ln,) = struct.unpack_from(">I", payload, pos)
        # A length field pointing past the payload is truncation or
        # corruption — skip the asset (return-None contract), don't
        # let unpack_from throw and fail the whole mapInPandas task.
        if pos + 12 + ln > len(payload):
            return None
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + ln]
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + ln)
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            return None
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + ln
    if ihdr is None:
        return None
    w, h, depth, ctype, comp, filt, inter = ihdr
    if depth != 8 or ctype != 2 or comp or filt or inter or not (w and h):
        return None
    try:
        # CRC-valid chunks can still wrap an undecompressable IDAT
        # stream (e.g. re-CRC'd corruption) — that's a skip, not a
        # task failure.
        raw = zlib.decompress(idat)
    except zlib.error:
        return None
    stride = w * 3
    if len(raw) != h * (stride + 1):
        return None
    out = np.zeros((h, stride), dtype=np.int64)
    prior = np.zeros(stride, dtype=np.int64)
    filters_seen: set[int] = set()
    for y in range(h):
        ft = raw[y * (stride + 1)]
        filters_seen.add(ft)
        line = np.frombuffer(
            raw, np.uint8, stride, y * (stride + 1) + 1
        ).astype(np.int64)
        if ft == 0:
            cur = line
        elif ft == 2:
            cur = (line + prior) % 256
        elif ft in (1, 3, 4):
            cur = np.zeros(stride, dtype=np.int64)
            for i in range(stride):
                left = int(cur[i - 3]) if i >= 3 else 0
                up = int(prior[i])
                ul = int(prior[i - 3]) if i >= 3 else 0
                if ft == 1:
                    pred = left
                elif ft == 3:
                    pred = (left + up) // 2
                else:
                    pred = _paeth(left, up, ul)
                cur[i] = (int(line[i]) + pred) % 256
        else:
            return None
        out[y] = cur
        prior = cur
    return out.reshape(h, w, 3), sorted(filters_seen)


def synth_png_media(spark: SparkSession, n: int = N_PNG_ASSETS) -> DataFrame:
    """n real zlib-compressed PNG assets, deterministic dims/pixels."""
    rows = []
    for i in range(n):
        w, h = 12 + i % 8, 8 + i % 7
        rows.append((i, "image", w, h, 0, bytearray(encode_png(i, w, h))))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


_PNG_STATS_SCHEMA = (
    "asset_id bigint, width int, height int, n_filter_types int, "
    "n_px bigint, sum_r bigint, sum_g bigint, sum_b bigint, "
    "ssq_r bigint, ssq_g bigint, ssq_b bigint, row0_r_sum bigint"
)


def mm_image_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL compressed-image decode: synthesize valid PNGs
    (all five scanline filters), decode them with the stdlib
    zlib-based parser inside Arrow-batched mapInPandas, emit exact
    int64 per-channel stats. The oracle recomputes the sums from the
    closed-form pixel pattern, so chunk walking, CRC verification,
    inflation, and every filter's inverse are value-checked.

    Scale: identical plumbing to the BMP decoder — payload bytes
    never leave the Arrow batch, 12 ints/asset cross to the JVM.
    """
    import numpy as np

    def rows_of(aid, payload):
        decoded = decode_png(bytes(payload))
        if decoded is None:
            return
        img, filters = decoded
        px = img.astype(np.int64)
        r, g, b = px[:, :, 0], px[:, :, 1], px[:, :, 2]
        yield (
            int(aid),
            img.shape[1],
            img.shape[0],
            len(filters),
            img.shape[0] * img.shape[1],
            int(r.sum()),
            int(g.sum()),
            int(b.sum()),
            int((r * r).sum()),
            int((g * g).sum()),
            int((b * b).sum()),
            int(r[0, :].sum()),
        )

    media = synth_png_media(spark).select("asset_id", "payload")
    return row_lane(media, rows_of, _PNG_STATS_SCHEMA).orderBy("asset_id")


#: Real video decode (round-5): YUV4MPEG2 ("y4m") is a public
#: uncompressed video container (plain-text stream header + FRAME
#: markers + raw planes) decodable with nothing beyond the stdlib —
#: so the THIRD modality decodes real bytes end-to-end and the module
#: docstring's "decoders are stubbed" era is over: image (BMP + PNG),
#: audio (PCM WAV), video (y4m) all parse real containers.
N_Y4M_ASSETS = 48
_Y4M_MAX_W = 12 + 5  # w = 12 + i % 6
_Y4M_MAX_H = 8 + 3  # h = 8 + i % 4
_Y4M_MAX_F = 4 + 4  # n_frames = 4 + i % 5
Y4M_SAMPLE_EVERY = 2  # sample frames t % 2 == 0


def _y4m_planes(asset_id: int, w: int, h: int, t: int):
    """Closed-form Y/U/V planes (mirrored by the SQL oracle):
    Y=(3a+5x+7y+11t)%256, U=(13a+2x+3y+5t)%256, V=(17a+4x+6y+9t)%256."""
    import numpy as np

    x = np.arange(w).reshape(1, w)
    y = np.arange(h).reshape(h, 1)
    return (
        (3 * asset_id + 5 * x + 7 * y + 11 * t) % 256,
        (13 * asset_id + 2 * x + 3 * y + 5 * t) % 256,
        (17 * asset_id + 4 * x + 6 * y + 9 * t) % 256,
    )


def encode_y4m(asset_id: int, w: int, h: int, n_frames: int) -> bytes:
    """A real YUV4MPEG2 stream: text header, then per frame a FRAME
    marker line followed by raw 4:4:4 Y, U, V planes (w*h bytes
    each, row-major top-down)."""
    import numpy as np

    parts = [f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 C444\n".encode()]
    for t in range(n_frames):
        yp, up, vp = _y4m_planes(asset_id, w, h, t)
        parts.append(
            b"FRAME\n"
            + yp.astype(np.uint8).tobytes()
            + up.astype(np.uint8).tobytes()
            + vp.astype(np.uint8).tobytes()
        )
    return b"".join(parts)


def decode_y4m(payload: bytes):
    """REAL decode: parse the YUV4MPEG2 stream header (W/H/C
    parameters), then walk FRAME markers (each may carry its own
    parameters up to the newline) extracting raw 4:4:4 planes.
    Returns ``(w, h, frames)`` with each frame a (3, h, w) uint8
    array, or None for anything that isn't an 8-bit C444 y4m."""
    import numpy as np

    magic = b"YUV4MPEG2 "
    if not payload.startswith(magic):
        return None
    nl = payload.find(b"\n")
    if nl < 0:
        return None
    w = h = None
    colorspace = "C420"  # the y4m default when no C tag is present
    for tok in payload[len(magic) : nl].split(b" "):
        # Malformed W/H tokens (b"W12x", bare b"W") must skip the
        # asset per the return-None contract, not raise ValueError
        # inside the mapInPandas task.
        if tok.startswith(b"W"):
            if not tok[1:].isdigit():
                return None
            w = int(tok[1:])
        elif tok.startswith(b"H"):
            if not tok[1:].isdigit():
                return None
            h = int(tok[1:])
        elif tok.startswith(b"C"):
            colorspace = tok.decode("ascii", "replace")
    if not w or not h or colorspace != "C444":
        return None
    plane, pos, frames = w * h, nl + 1, []
    while pos < len(payload):
        if payload[pos : pos + 5] != b"FRAME":
            return None
        fnl = payload.find(b"\n", pos)
        if fnl < 0 or len(payload) < fnl + 1 + 3 * plane:
            return None
        body = np.frombuffer(payload, np.uint8, 3 * plane, fnl + 1)
        frames.append(body.reshape(3, h, w))
        pos = fnl + 1 + 3 * plane
    return w, h, frames


def synth_y4m_media(spark: SparkSession, n: int = N_Y4M_ASSETS) -> DataFrame:
    """n real y4m video assets with deterministic dims/frames."""
    rows = []
    for i in range(n):
        w, h, nf = 12 + i % 6, 8 + i % 4, 4 + i % 5
        rows.append(
            (i, "video", w, h, nf * 40, bytearray(encode_y4m(i, w, h, nf)))
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


_Y4M_FRAME_SCHEMA = (
    "asset_id bigint, width int, height int, n_frames int, "
    "frame_idx int, sum_y bigint, ssq_y bigint, sum_u bigint, "
    "sum_v bigint, row0_y_sum bigint"
)


def mm_video_decode_y4m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL video decode + frame sampling: synthesize
    valid YUV4MPEG2 streams, decode them stdlib-only inside
    Arrow-batched mapInPandas, keep every ``Y4M_SAMPLE_EVERY``-th
    frame (the production seek-and-sample shape), emit exact int64
    per-plane stats per sampled frame, then aggregate per asset
    JVM-side. The oracle recomputes the same sums from the
    closed-form plane pattern, so header parsing, FRAME walking,
    plane offsets (``row0_y_sum`` is asymmetric in y and t to catch
    plane-order or frame-offset bugs), and the sampling rule are all
    value-checked.

    Scale: the 1→N frame expansion happens INSIDE the Arrow batch
    (payload bytes never shuffle); only ~6 ints per sampled frame
    cross to the JVM, and the per-asset rollup is a plain codegen
    aggregate.
    """
    import numpy as np

    def rows_of(aid, payload):
        decoded = decode_y4m(bytes(payload))
        if decoded is None:
            return
        w, h, frames = decoded
        for t in range(0, len(frames), Y4M_SAMPLE_EVERY):
            f = frames[t].astype(np.int64)
            yp, up, vp = f[0], f[1], f[2]
            yield (
                int(aid), w, h, len(frames), t,
                int(yp.sum()), int((yp * yp).sum()),
                int(up.sum()), int(vp.sum()),
                int(yp[0, :].sum()),
            )

    media = synth_y4m_media(spark).select("asset_id", "payload")
    per_frame = row_lane(media, rows_of, _Y4M_FRAME_SCHEMA)
    return (
        per_frame.groupBy("asset_id")
        .agg(
            F.max("width").alias("width"),
            F.max("height").alias("height"),
            F.max("n_frames").alias("n_frames"),
            F.count(F.lit(1)).cast("int").alias("n_sampled"),
            F.sum("sum_y").alias("sum_y"),
            F.sum("ssq_y").alias("ssq_y"),
            F.sum("sum_u").alias("sum_u"),
            F.sum("sum_v").alias("sum_v"),
            F.sum(
                F.when(F.col("frame_idx") == 0, F.col("row0_y_sum"))
                .otherwise(F.lit(0))
            ).alias("f0_row0_y_sum"),
        )
        .orderBy("asset_id")
    )


#: Real baseline JPEG (round-6): the "genuinely impossible" arm was
#: only impossible for a LIBRARY decode — the ITU T.81 baseline
#: process itself is stdlib+numpy territory. This codec is a real
#: grayscale baseline JPEG: spec-legal JFIF structure (SOI/APP0/DQT/
#: SOF0/DHT/SOS/EOI), canonical Huffman tables carried IN the file
#: (custom small tables — legal baseline, any viewer opens these),
#: byte-stuffed entropy stream, differential DC, run/size AC with
#: EOB/ZRL, dequantization, full 2-D float IDCT. The synthetic
#: images use constant 8x8 blocks with q_DC = 8, which the DCT
#: quantizes LOSSLESSLY (DC = 8·(v−128), AC = 0), so the decode is
#: exact and the SQL oracle recomputes pixel sums in closed form;
#: pytest additionally drives the AC/ZRL/negative-coefficient paths
#: with hand-built streams. Color 4:4:4 and subsampled 4:2:0 became
#: real in rounds 6-7; only progressive JPEG (SOF2) remains a
#: documented stub.
N_JPEG_ASSETS = 48

#: Canonical Huffman spec (BITS counts per length 1..16, then symbol
#: values) — DC: categories 0..11 all at length 4 (12 of the 16
#: 4-bit codes; the all-ones code stays unused per T.81). AC: EOB,
#: (run 0, sizes 1..4), (run 1, size 1), (run 2, size 1), ZRL — all
#: at length 4 (8 codes).
_JPEG_DC_BITS = [0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_JPEG_DC_VALS = list(range(12))
_JPEG_AC_BITS = [0, 0, 0, 8, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_JPEG_AC_VALS = [0x00, 0x01, 0x02, 0x03, 0x04, 0x11, 0x21, 0xF0]

_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

#: Quant table: q=8 everywhere — the DC entry makes constant blocks
#: lossless (8·(v−128) / 8 = v−128 exactly); AC entries are moot for
#: constant blocks and exercised by pytest's hand-built streams.
_JPEG_QTABLE = [8] * 64


def _huff_canonical(bits: list[int], vals: list[int]) -> dict:
    """symbol → (code, length) via T.81 Annex C code assignment."""
    out, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return out


class _BitWriter:
    """MSB-first bit stream with 0xFF byte stuffing (T.81 F.1.2.3)."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.buf.append(self.acc)
                if self.acc == 0xFF:
                    self.buf.append(0x00)
                self.acc, self.n = 0, 0

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.acc = (self.acc << pad) | ((1 << pad) - 1)  # 1-pad
            self.buf.append(self.acc)
            if self.acc == 0xFF:
                self.buf.append(0x00)
            self.acc, self.n = 0, 0
        return bytes(self.buf)


def _jpeg_category(v: int) -> int:
    """DC/AC magnitude category: bit length of |v| (0 for v == 0)."""
    return abs(v).bit_length()


def encode_jpeg_gray(asset_id: int, w: int, h: int) -> bytes:
    """A real grayscale baseline JFIF whose 8x8 blocks are constant:
    pixel value of block (bx, by) is (29a + 7·bx + 13·by) % 256.
    Constant blocks + q_DC = 8 make the lossy pipeline exact."""
    import struct

    assert w % 8 == 0 and h % 8 == 0
    dc_huf = _huff_canonical(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_huf = _huff_canonical(_JPEG_AC_BITS, _JPEG_AC_VALS)
    bw = _BitWriter()
    prev_dc = 0
    for by in range(h // 8):
        for bx in range(w // 8):
            v = (29 * asset_id + 7 * bx + 13 * by) % 256
            dc = v - 128  # quantized DC: 8·(v−128) / q_DC=8
            diff = dc - prev_dc
            prev_dc = dc
            s = _jpeg_category(diff)
            code, ln = dc_huf[s]
            bw.write(code, ln)
            if s:
                bits = diff if diff >= 0 else diff + (1 << s) - 1
                bw.write(bits, s)
            code, ln = ac_huf[0x00]  # EOB — all ACs zero
            bw.write(code, ln)
    scan = bw.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    # DQT body is zigzag-ordered per the spec; the table is uniform
    # so the reorder is the identity.
    dqt = seg(0xFFDB, bytes([0x00]) + bytes(_JPEG_QTABLE))
    sof = seg(0xFFC0, struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0]))
    dht = seg(
        0xFFC4,
        bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
        + bytes([0x10]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS),
    )
    sos = seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))
    app0 = seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    return (
        b"\xff\xd8" + app0 + dqt + sof + dht + sos + scan + b"\xff\xd9"
    )


def _idct_matrix():
    """8-point DCT-III basis A[x, u] = 0.5·c(u)·cos((2x+1)uπ/16)."""
    import numpy as np

    a = np.zeros((8, 8))
    for x in range(8):
        for u in range(8):
            c = (1.0 / np.sqrt(2.0)) if u == 0 else 1.0
            a[x, u] = 0.5 * c * np.cos((2 * x + 1) * u * np.pi / 16.0)
    return a


def decode_jpeg_baseline(payload: bytes):
    """REAL baseline JPEG decode, stdlib+numpy only: marker walk,
    DQT/DHT/SOF0/SOS parsing (multiple quant/Huffman tables),
    canonical Huffman reconstruction from the tables IN the file,
    byte-unstuffed MSB-first bit reading, per-component differential
    DC + run/size AC with EOB/ZRL, MCU-interleaved scan with per-
    component sampling factors (T.81 A.2.3), dezigzag,
    dequantization, full 2-D IDCT, level shift + clamp, and chroma
    upsampling by pixel replication back to full resolution. Handles
    1 component (grayscale) and 3 components at any sampling factors
    in {1, 2} — 4:4:4, 4:2:2, 4:4:0 and the ubiquitous 4:2:0 all
    decode. Returns an (ncomp, h, w) uint8 array of full-resolution
    component planes, or None for anything else — progressive JPEG
    (SOF2) stays a documented stub.
    """
    import struct

    import numpy as np

    if len(payload) < 4 or payload[:2] != b"\xff\xd8":
        return None
    pos = 2
    qtables: dict[int, list[int]] = {}
    hufs: dict[tuple[int, int], dict] = {}
    w = h = None
    # (component id, h sampling factor, v sampling factor, quant sel)
    comps: list[tuple[int, int, int, int]] = []
    scan_tables: dict[int, tuple[int, int]] = {}  # id -> (dc_id, ac_id)
    scan_order: list[int] = []  # component ids in SOS order
    scan_start = None
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            return None
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI before SOS
            return None
        (ln,) = struct.unpack_from(">H", payload, pos + 2)
        if pos + 2 + ln > len(payload):
            return None
        body = payload[pos + 4 : pos + 2 + ln]
        if marker == 0xDB:  # DQT — possibly several tables
            b = 0
            while b < len(body):
                pq, tq = body[b] >> 4, body[b] & 15
                if pq != 0 or b + 65 > len(body):
                    return None  # 16-bit precision unsupported
                qtables[tq] = list(body[b + 1 : b + 65])
                b += 65
        elif marker == 0xC0:  # SOF0 baseline
            prec, h, w, ncomp = struct.unpack_from(">BHHB", body, 0)
            if prec != 8 or ncomp not in (1, 3):
                return None
            if len(body) < 6 + 3 * ncomp:
                return None
            for ci in range(ncomp):
                cid = body[6 + 3 * ci]
                hc, vc = body[7 + 3 * ci] >> 4, body[7 + 3 * ci] & 15
                if hc not in (1, 2) or vc not in (1, 2):
                    return None  # factors beyond 2 unsupported
                if ncomp == 1 and (hc, vc) != (1, 1):
                    return None  # single-comp scans are 1x1 here
                comps.append((cid, hc, vc, body[8 + 3 * ci]))
        elif marker in (0xC1, 0xC2, 0xC3):  # other SOF processes
            return None
        elif marker == 0xC4:  # DHT — possibly several tables
            b = 0
            while b + 17 <= len(body):
                tc, th = body[b] >> 4, body[b] & 15
                bits = list(body[b + 1 : b + 17])
                nv = sum(bits)
                vals = list(body[b + 17 : b + 17 + nv])
                if len(vals) < nv:
                    return None
                hufs[(tc, th)] = _huff_canonical(bits, vals)
                b += 17 + nv
        elif marker == 0xDA:  # SOS
            ns = body[0]
            if ns != len(comps) or ns not in (1, 3):
                return None
            for si in range(ns):
                cid = body[1 + 2 * si]
                tb = body[2 + 2 * si]
                scan_tables[cid] = (tb >> 4, tb & 15)
                scan_order.append(cid)
            scan_start = pos + 2 + ln
            break
        pos += 2 + ln
    if scan_start is None or w is None or not w or not h or not comps:
        return None
    comp_by_id = {cid: qsel for cid, _, _, qsel in comps}
    factors = {cid: (hc, vc) for cid, hc, vc, _ in comps}
    plane_idx = {cid: i for i, (cid, _, _, _) in enumerate(comps)}
    qs_, dcs_, acs_ = {}, {}, {}
    for cid in scan_order:
        if cid not in comp_by_id or cid not in scan_tables:
            return None
        qsel = comp_by_id[cid]
        dc_id, ac_id = scan_tables[cid]
        if (
            qsel not in qtables
            or (0, dc_id) not in hufs
            or (1, ac_id) not in hufs
        ):
            return None
        qs_[cid] = np.array(qtables[qsel], dtype=np.float64)
        dcs_[cid] = {v: k for k, v in hufs[(0, dc_id)].items()}
        acs_[cid] = {v: k for k, v in hufs[(1, ac_id)].items()}

    # Byte-unstuff the entropy stream up to EOI.
    data = bytearray()
    p = scan_start
    while p < len(payload):
        byte = payload[p]
        if byte == 0xFF:
            if p + 1 >= len(payload):
                return None
            nxt = payload[p + 1]
            if nxt == 0x00:
                data.append(0xFF)
                p += 2
                continue
            if nxt == 0xD9:
                break
            return None  # restart markers unsupported
        data.append(byte)
        p += 1

    bitpos = 0
    nbits = len(data) * 8

    def read_bit():
        nonlocal bitpos
        if bitpos >= nbits:
            raise IndexError
        b = (data[bitpos >> 3] >> (7 - (bitpos & 7))) & 1
        bitpos += 1
        return b

    def read_huff(rev):
        code, ln = 0, 0
        while ln < 16:
            code = (code << 1) | read_bit()
            ln += 1
            sym = rev.get((code, ln))
            if sym is not None:
                return sym
        raise IndexError

    def read_extend(s):
        if s == 0:
            return 0
        v = 0
        for _ in range(s):
            v = (v << 1) | read_bit()
        return v if v >= (1 << (s - 1)) else v - (1 << s) + 1

    A = _idct_matrix()
    zz = np.array(_JPEG_ZIGZAG)
    hmax = max(hc for _, hc, _, _ in comps)
    vmax = max(vc for _, _, vc, _ in comps)
    # MCU grid covers the image at the maximum sampling factor; each
    # component contributes hc×vc blocks per MCU into its own plane
    # at its native (possibly subsampled) resolution (T.81 A.2.3).
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    planes = {
        cid: np.zeros((mcuy * vc * 8, mcux * hc * 8), dtype=np.uint8)
        for cid, (hc, vc) in factors.items()
    }
    prev_dc = {cid: 0 for cid in scan_order}

    def read_block(cid):
        coef = np.zeros(64, dtype=np.float64)
        s = read_huff(dcs_[cid])
        prev_dc[cid] += read_extend(s)
        coef[0] = prev_dc[cid]
        k = 1
        while k < 64:
            rs = read_huff(acs_[cid])
            if rs == 0x00:  # EOB
                break
            if rs == 0xF0:  # ZRL
                k += 16
                continue
            k += rs >> 4
            if k > 63:
                raise IndexError
            coef[k] = read_extend(rs & 15)
            k += 1
        f = np.zeros(64, dtype=np.float64)
        f[zz] = coef * qs_[cid]  # both in zigzag order
        block = A @ f.reshape(8, 8) @ A.T
        return np.clip(np.round(block + 128.0), 0, 255).astype(np.uint8)

    try:
        # Interleaved MCU walk, components in SOS order; within an
        # MCU a component's hc×vc blocks go in raster order (a
        # single-component 1x1 scan degenerates to the plain walk).
        for my in range(mcuy):
            for mx in range(mcux):
                for cid in scan_order:
                    hc, vc = factors[cid]
                    for dy in range(vc):
                        for dx in range(hc):
                            by, bx = my * vc + dy, mx * hc + dx
                            planes[cid][
                                by * 8 : by * 8 + 8,
                                bx * 8 : bx * 8 + 8,
                            ] = read_block(cid)
    except IndexError:
        return None  # truncated entropy stream
    # Upsample subsampled components back to full resolution by
    # pixel replication (the nearest-neighbor upsampler of T.81
    # A.1.1 note) and crop the block padding.
    out = np.zeros((len(comps), h, w), dtype=np.uint8)
    for cid, (hc, vc) in factors.items():
        p = planes[cid]
        if hc < hmax:
            p = np.repeat(p, hmax // hc, axis=1)
        if vc < vmax:
            p = np.repeat(p, vmax // vc, axis=0)
        out[plane_idx[cid]] = p[:h, :w]
    return out


def decode_jpeg_gray(payload: bytes):
    """Grayscale view of :func:`decode_jpeg_baseline`: (h, w) uint8
    array for single-component baseline JFIFs, else None."""
    planes = decode_jpeg_baseline(payload)
    if planes is None or planes.shape[0] != 1:
        return None
    return planes[0]


def decode_jpeg_color(payload: bytes):
    """Color view of :func:`decode_jpeg_baseline`: (3, h, w) uint8
    YCbCr planes for 3-component 4:4:4 baseline JFIFs, else None.
    RGB conversion is a separate explicit step (ycbcr_to_rgb) so the
    exact integer YCbCr planes stay available for oracle checks."""
    planes = decode_jpeg_baseline(payload)
    if planes is None or planes.shape[0] != 3:
        return None
    return planes


def ycbcr_to_rgb(planes):
    """JFIF YCbCr → RGB (BT.601 full-range constants), rounded and
    clamped — the standard conversion every JPEG viewer applies."""
    import numpy as np

    y = planes[0].astype(np.float64)
    cb = planes[1].astype(np.float64) - 128.0
    cr = planes[2].astype(np.float64) - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(
        np.round(np.stack([r, g, b])), 0, 255
    ).astype(np.uint8)


#: Silence-trim feed: real PCM WAVs with explicit leading/trailing
#: zero-sample pads around the closed-form body pattern.
N_TRIM_ASSETS = 48
#: |sample| must exceed this to count as signal; the pattern body
#: ranges ±100, so near-zero body samples shift the trim inward —
#: both engines apply the identical rule, so the boundary is
#: parity-checked, not assumed.
SILENCE_EPS = 2


def encode_wav_padded(asset_id: int, lead: int, body: int, tail: int) -> bytes:
    """A real mono 16-bit PCM WAV: ``lead`` zero samples, ``body``
    closed-form pattern samples (indexed by ABSOLUTE position k, so
    the oracle needs no offset bookkeeping), ``tail`` zeros."""
    import io
    import wave

    import numpy as np

    n = lead + body + tail
    s = np.zeros(n, dtype="<i2")
    for k in range(lead, lead + body):
        s[k] = _wav_sample(asset_id, k)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(WAV_RATE)
        w.writeframes(s.tobytes())
    return buf.getvalue()


def synth_padded_wav_media(
    spark: SparkSession, n: int = N_TRIM_ASSETS
) -> DataFrame:
    """n real padded WAV assets with deterministic pad/body sizes."""
    rows = []
    for i in range(n):
        lead, body, tail = 40 + 10 * (i % 5), 400 + 10 * i, 30 + 10 * (i % 4)
        ns = lead + body + tail
        rows.append(
            (i, "audio", 0, 0, ns * 1000 // WAV_RATE,
             bytearray(encode_wav_padded(i, lead, body, tail)))
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def _wav_read_samples(payload: bytes):
    """Mono 16-bit PCM samples as an int64 numpy array, or None."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(bytes(payload))) as w:
        if w.getnchannels() != 1 or w.getsampwidth() != 2:
            return None
        raw = w.readframes(w.getnframes())
    return np.frombuffer(raw, dtype="<i2").astype(np.int64)


def mm_audio_silence_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio silence trimming — the first preprocessing step of
    every speech/audio training pipeline: decode genuine PCM WAVs,
    find the first and last sample with |s| > SILENCE_EPS, and
    report exact integer trim bounds + trimmed-span energy per
    asset. The oracle regenerates the padded closed-form sample
    streams in SQL and applies the identical rule, so container
    parsing, sample decode, and the trim boundary (including body
    samples that fall inside the epsilon band and shift it) are all
    value-checked.

    Scale: payload bytes never shuffle; 5 ints per asset cross the
    Arrow boundary.
    """
    import numpy as np

    def rows_of(aid, payload):
        s = _wav_read_samples(bytes(payload))
        if s is None:
            return
        loud = np.flatnonzero(np.abs(s) > SILENCE_EPS)
        if len(loud):
            first, last = int(loud[0]), int(loud[-1])
            span = s[first : last + 1]
            yield (
                int(aid), len(s), first, last,
                last - first + 1,
                int((span * span).sum()),
            )
        else:
            yield (int(aid), len(s), -1, -1, 0, 0)

    media = synth_padded_wav_media(spark).select("asset_id", "payload")
    return row_lane(
        media,
        rows_of,
        "asset_id bigint, n_samples bigint, first_loud bigint, "
        "last_loud bigint, trimmed_len bigint, trimmed_ssq bigint",
    ).orderBy("asset_id")


#: Scene-cut detection feed: y4m streams whose plane pattern JUMPS
#: at a per-asset cut frame (the closed-form constant shifts by
#: +1000), so consecutive-frame SAD is small within a scene (the
#: pattern drifts +11/frame mod 256) and large across the cut.
N_SCENE_ASSETS = 48
SCENE_SHIFT = 1000
#: Per-pixel SAD threshold: within-scene average ≈ 21 (drift 11
#: plus wraparound), cross-scene average ≈ 85 (independent mod-256
#: patterns) — 50 separates them with margin. Applied identically
#: in the oracle, so the flag is engine-parity-checked either way.
SCENE_CUT_TAU_PER_PX = 50


def encode_y4m_scenes(
    asset_id: int, w: int, h: int, n_frames: int, cut_at: int
) -> bytes:
    """A real YUV4MPEG2 stream with a hard scene change: frames
    before ``cut_at`` use the closed-form planes of ``asset_id``,
    frames at/after use ``asset_id + SCENE_SHIFT``."""
    import numpy as np

    parts = [f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 C444\n".encode()]
    for t in range(n_frames):
        aa = asset_id + (SCENE_SHIFT if t >= cut_at else 0)
        yp, up, vp = _y4m_planes(aa, w, h, t)
        parts.append(
            b"FRAME\n"
            + yp.astype(np.uint8).tobytes()
            + up.astype(np.uint8).tobytes()
            + vp.astype(np.uint8).tobytes()
        )
    return b"".join(parts)


def synth_scene_media(
    spark: SparkSession, n: int = N_SCENE_ASSETS
) -> DataFrame:
    """n real y4m streams, each with one scene cut at 2 + i % 3."""
    rows = []
    for i in range(n):
        w, h, nf = 12 + i % 6, 8 + i % 4, 6 + i % 5
        rows.append(
            (i, "video", w, h, nf * Y4M_FRAME_MS,
             bytearray(encode_y4m_scenes(i, w, h, nf, 2 + i % 3)))
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def mm_video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video scene-cut detection — the segmentation step a
    video training pipeline runs before per-scene frame sampling:
    decode genuine y4m streams, compute the exact integer
    sum-of-absolute-differences (SAD) of consecutive Y planes inside
    Arrow-batched mapInPandas, and flag pairs whose SAD exceeds
    SCENE_CUT_TAU_PER_PX per pixel. Per-asset rollup (JVM-side):
    pair count, detected cuts, first cut index, exact total SAD.
    The oracle recomputes every SAD from the closed-form plane
    patterns — the decode, the consecutive-pair walk, and the
    threshold rule are all value-checked.

    Scale: payload bytes never shuffle; 3 ints per frame pair cross
    the Arrow boundary; the rollup is a codegen aggregate.
    """
    import numpy as np

    def rows_of(aid, payload):
        decoded = decode_y4m(bytes(payload))
        if decoded is None:
            return
        w, h, frames = decoded
        tau = SCENE_CUT_TAU_PER_PX * w * h
        for t in range(1, len(frames)):
            sad = int(
                np.abs(
                    frames[t][0].astype(np.int64)
                    - frames[t - 1][0].astype(np.int64)
                ).sum()
            )
            yield (int(aid), len(frames), t, sad, int(sad > tau))

    media = synth_scene_media(spark).select("asset_id", "payload")
    pairs = row_lane(
        media,
        rows_of,
        "asset_id bigint, n_frames int, t int, sad bigint, is_cut int",
    )
    return (
        pairs.groupBy("asset_id")
        .agg(
            F.max("n_frames").alias("n_frames"),
            F.count(F.lit(1)).cast("int").alias("n_pairs"),
            F.sum("is_cut").cast("int").alias("n_cuts"),
            F.coalesce(
                F.min(F.when(F.col("is_cut") == 1, F.col("t"))),
                F.lit(-1),
            ).cast("int").alias("first_cut_t"),
            F.sum("sad").alias("total_sad"),
        )
        .orderBy("asset_id")
    )


# --- block-matching motion estimation (round-13) -------------------

#: Motion-estimation feed geometry: every asset is MOTION_W×MOTION_H
#: 4:4:4 y4m whose Y content TRANSLATES by (MOTION_MVX, MOTION_MVY)
#: px/frame with wraparound, so full-search block matching has an
#: exact recoverable answer.
MOTION_W = 16
MOTION_H = 16
MOTION_FRAMES = 4
N_MOTION_ASSETS = 8
MOTION_BLOCK = 8
MOTION_RADIUS = 2
MOTION_MVX = 2
MOTION_MVY = 1


def _motion_pattern(asset_id: int, u, v):
    """Closed-form texture P_a(u, v) = (37u + 101v + 7uv + 13a) % 256
    — the cross term makes every translation distinguishable (no
    offset other than the true one zeroes the SAD). Mirrored by the
    SQL oracle."""
    return (37 * u + 101 * v + 7 * u * v + 13 * asset_id) % 256


def encode_y4m_motion(asset_id: int, n_frames: int = MOTION_FRAMES) -> bytes:
    """A real y4m stream whose frame t shows the pattern shifted by
    t·(MOTION_MVX, MOTION_MVY) with wraparound:
    Y_t(x, y) = P_a((x - MVX·t) mod W, (y - MVY·t) mod H); U/V flat
    128 (motion search reads luma only)."""
    import numpy as np

    w, h = MOTION_W, MOTION_H
    parts = [f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 C444\n".encode()]
    x = np.arange(w).reshape(1, w)
    y = np.arange(h).reshape(h, 1)
    flat = np.full((h, w), 128, np.uint8)
    for t in range(n_frames):
        u = (x - MOTION_MVX * t) % w
        v = (y - MOTION_MVY * t) % h
        yp = _motion_pattern(asset_id, u, v).astype(np.uint8)
        parts.append(b"FRAME\n" + yp.tobytes() + flat.tobytes() * 2)
    return b"".join(parts)


def synth_motion_media(
    spark: SparkSession, n: int = N_MOTION_ASSETS
) -> DataFrame:
    rows = [
        (
            a,
            "video",
            MOTION_W,
            MOTION_H,
            MOTION_FRAMES * Y4M_FRAME_MS,
            bytearray(encode_y4m_motion(a)),
        )
        for a in range(n)
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def mm_video_motion_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL block-matching MOTION ESTIMATION — the kernel behind
    keyframe selection, static-clip filtering, and temporal dedup in
    a video training-data pipeline (and the cost core of every
    MPEG-family encoder): decode genuine y4m streams, then for each
    consecutive frame pair and each MOTION_BLOCK² luma block run a
    full search over offsets (dx, dy) ∈ [-MOTION_RADIUS,
    MOTION_RADIUS]², scoring exact integer SAD against the previous
    frame sampled with wraparound; the argmin (ties → smallest dy,
    then dx) is the block's motion vector. Emits one row per (asset,
    frame pair, block) with the vector, its SAD, and the runner-up
    SAD (the reliability margin, Lowe-ratio style).

    The feed translates a cross-term texture by (MVX, MVY)=(2, 1)
    per frame, so every block's true vector is (-2, -1) at SAD 0
    with a strictly positive runner-up — the oracle recomputes ALL
    25 offset scores per block from the closed form, so the decode,
    the wraparound sampling, the |int - int| SAD math, and the
    tie-break rule are value-checked end to end.

    Scale: payload bytes never leave the scan partition; the search
    is NumPy-vectorized per pair inside Arrow-batched mapInPandas
    (25 rolled-plane SADs per pair, block-summed in one reshape);
    rows crossing the boundary are block-grain (4 per pair here),
    not pixel-grain. Reference parity: opaque binary columns
    through staged SQL (reference airflow/dags/*.py) — decode as a
    typed lane.
    """
    import numpy as np

    radius = MOTION_RADIUS
    blk = MOTION_BLOCK

    def rows_of(aid, payload):
        decoded = decode_y4m(bytes(payload))
        if decoded is None:
            return
        w, h, frames = decoded
        if w % blk or h % blk:
            return
        nbx, nby = w // blk, h // blk
        planes = [f[0].astype(np.int64) for f in frames]
        for t in range(1, len(planes)):
            cur, prev = planes[t], planes[t - 1]
            # best[key] per block, key = sad*25 + (dy+r)*5
            # + (dx+r): lexicographic (sad, dy, dx) argmin.
            best = None
            second = None
            for dy in range(-radius, radius + 1):
                for dx in range(-radius, radius + 1):
                    ref = np.roll(prev, (-dy, -dx), (0, 1))
                    sad = (
                        np.abs(cur - ref)
                        .reshape(nby, blk, nbx, blk)
                        .sum((1, 3))
                    )
                    key = sad * (
                        (2 * radius + 1) ** 2
                    ) + (dy + radius) * (2 * radius + 1) + (
                        dx + radius
                    )
                    if best is None:
                        best = key
                        second = np.full_like(sad, 2**62)
                    else:
                        second = np.where(
                            key < best,
                            # old best's SAD becomes runner-up
                            best // ((2 * radius + 1) ** 2),
                            np.minimum(
                                second,
                                key // ((2 * radius + 1) ** 2),
                            ),
                        )
                        best = np.minimum(best, key)
            span = (2 * radius + 1) ** 2
            for by in range(nby):
                for bx in range(nbx):
                    k = int(best[by, bx])
                    yield (
                        int(aid),
                        t,
                        by,
                        bx,
                        (k % (2 * radius + 1)) - radius,
                        ((k // (2 * radius + 1)) % (
                            2 * radius + 1
                        )) - radius,
                        k // span,
                        int(second[by, bx]),
                    )

    media = synth_motion_media(spark).select("asset_id", "payload")
    return row_lane(
        media,
        rows_of,
        "asset_id bigint, frame_idx int, block_row int, block_col int,"
        " mv_dx int, mv_dy int, best_sad bigint, second_sad bigint",
    ).orderBy("asset_id", "frame_idx", "block_row", "block_col")


def _motion_oracle() -> str:
    w, h, blk, r = MOTION_W, MOTION_H, MOTION_BLOCK, MOTION_RADIUS
    mvx, mvy = MOTION_MVX, MOTION_MVY

    def pat(a: str, u: str, v: str) -> str:
        # P_a(u, v) with u, v already wrapped to [0, w) / [0, h).
        return f"(37 * ({u}) + 101 * ({v}) + 7 * ({u}) * ({v}) + 13 * {a}) % 256"

    def ywrap(x: str, y: str, t: str, a: str) -> str:
        u = f"((({x}) - {mvx} * ({t})) % {w} + {w}) % {w}"
        v = f"((({y}) - {mvy} * ({t})) % {h} + {h}) % {h}"
        return pat(a, u, v)

    cur = ywrap("px.x", "px.y", "p.t", "a.a")
    prev = ywrap(
        f"((px.x + ox.dx) % {w} + {w}) % {w}",
        f"((px.y + oy.dy) % {h} + {h}) % {h}",
        "p.t - 1",
        "a.a",
    )
    return f"""
        WITH scores AS MATERIALIZED (
            SELECT a.a AS asset_id, p.t AS frame_idx,
                   px.y // {blk} AS block_row, px.x // {blk} AS block_col,
                   ox.dx, oy.dy,
                   CAST(SUM(ABS(CAST({cur} AS BIGINT)
                               - CAST({prev} AS BIGINT))) AS BIGINT)
                       AS sad
            FROM generate_series(0, {N_MOTION_ASSETS - 1}) a(a)
            CROSS JOIN generate_series(1, {MOTION_FRAMES - 1}) p(t)
            CROSS JOIN generate_series(-{r}, {r}) ox(dx)
            CROSS JOIN generate_series(-{r}, {r}) oy(dy)
            CROSS JOIN (
                SELECT xx.x AS x, yy.y AS y
                FROM generate_series(0, {w - 1}) xx(x)
                CROSS JOIN generate_series(0, {h - 1}) yy(y)
            ) px
            GROUP BY 1, 2, 3, 4, 5, 6
        ),
        ranked AS (
            SELECT *,
                   ROW_NUMBER() OVER (
                       PARTITION BY asset_id, frame_idx, block_row,
                                    block_col
                       ORDER BY sad, dy, dx
                   ) AS rk
            FROM scores
        )
        SELECT b.asset_id, b.frame_idx, b.block_row, b.block_col,
               b.dx AS mv_dx, b.dy AS mv_dy, b.sad AS best_sad,
               s.sad AS second_sad
        FROM ranked b JOIN ranked s
          USING (asset_id, frame_idx, block_row, block_col)
        WHERE b.rk = 1 AND s.rk = 2
        ORDER BY b.asset_id, b.frame_idx, b.block_row, b.block_col
    """


N_JPEG_COLOR_ASSETS = 48

#: Closed-form per-block component constants for the color assets
#: (mirrored by the SQL oracle): asymmetric in bx/by per plane so a
#: plane swap or MCU-order bug breaks the value hash.
_JPEG_COLOR_PLANES = (
    ("y", 23, 5, 7),
    ("cb", 11, 3, 2),
    ("cr", 19, 2, 3),
)


def encode_jpeg_color(asset_id: int, w: int, h: int) -> bytes:
    """A real 3-component 4:4:4 baseline JFIF with constant 8x8
    blocks per plane: component value of block (bx, by) is
    (ka·a + kx·bx + ky·by) % 256 per _JPEG_COLOR_PLANES. Uses TWO
    quant tables (0 = luma, 1 = chroma; both uniform 8 so constant
    blocks stay lossless) and TWO Huffman table pairs, so the
    multi-table DQT/DHT parse paths carry real weight. Scan is
    MCU-interleaved Y, Cb, Cr with independent DC predictors."""
    import struct

    assert w % 8 == 0 and h % 8 == 0
    dc_huf = _huff_canonical(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_huf = _huff_canonical(_JPEG_AC_BITS, _JPEG_AC_VALS)
    bw = _BitWriter()
    prev = {0: 0, 1: 0, 2: 0}
    for by in range(h // 8):
        for bx in range(w // 8):
            for ci, (_, ka, kx, ky) in enumerate(_JPEG_COLOR_PLANES):
                v = (ka * asset_id + kx * bx + ky * by) % 256
                dc = v - 128
                diff = dc - prev[ci]
                prev[ci] = dc
                s = _jpeg_category(diff)
                code, ln = dc_huf[s]
                bw.write(code, ln)
                if s:
                    bits = diff if diff >= 0 else diff + (1 << s) - 1
                    bw.write(bits, s)
                code, ln = ac_huf[0x00]
                bw.write(code, ln)
    scan = bw.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    dqt = seg(
        0xFFDB,
        bytes([0x00]) + bytes(_JPEG_QTABLE)
        + bytes([0x01]) + bytes(_JPEG_QTABLE),
    )
    sof = seg(
        0xFFC0,
        struct.pack(">BHHB", 8, h, w, 3)
        + bytes([1, 0x11, 0])   # Y  → quant table 0
        + bytes([2, 0x11, 1])   # Cb → quant table 1
        + bytes([3, 0x11, 1]),  # Cr → quant table 1
    )
    dht = seg(
        0xFFC4,
        bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
        + bytes([0x10]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS)
        + bytes([0x01]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
        + bytes([0x11]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS),
    )
    sos = seg(
        0xFFDA,
        bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]),
    )
    app0 = seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    return (
        b"\xff\xd8" + app0 + dqt + sof + dht + sos + scan + b"\xff\xd9"
    )


def synth_jpeg_color_media(
    spark: SparkSession, n: int = N_JPEG_COLOR_ASSETS
) -> DataFrame:
    """n real 4:4:4 color baseline JPEGs, deterministic planes."""
    rows = []
    for i in range(n):
        w, h = 16 + 8 * (i % 3), 16 + 8 * (i % 2)
        rows.append(
            (i, "image", w, h, 0, bytearray(encode_jpeg_color(i, w, h)))
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


N_JPEG_420_ASSETS = 48


def encode_jpeg_color_420(asset_id: int, w: int, h: int) -> bytes:
    """A real 3-component 4:2:0 baseline JFIF — the layout nearly
    every camera and web JPEG uses (Y at 2x2, Cb/Cr at 1x1, so each
    MCU covers a 16x16 pixel area with 4 Y blocks + 1 Cb + 1 Cr).
    Each 8x8 Y block is constant per _JPEG_COLOR_PLANES' y-formula
    at luma block coords; each chroma block is constant per MCU
    coords — so the lossy pipeline stays exact (q_DC = 8) and the
    decoded full-resolution planes have closed pixel forms: Y varies
    per 8x8, chroma is constant over each upsampled 16x16 area."""
    import struct

    assert w % 16 == 0 and h % 16 == 0
    dc_huf = _huff_canonical(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_huf = _huff_canonical(_JPEG_AC_BITS, _JPEG_AC_VALS)
    bw = _BitWriter()
    prev = {0: 0, 1: 0, 2: 0}

    def put_block(ci: int, v: int) -> None:
        dc = v - 128
        diff = dc - prev[ci]
        prev[ci] = dc
        s = _jpeg_category(diff)
        code, ln = dc_huf[s]
        bw.write(code, ln)
        if s:
            bits = diff if diff >= 0 else diff + (1 << s) - 1
            bw.write(bits, s)
        code, ln = ac_huf[0x00]  # EOB — all ACs zero
        bw.write(code, ln)

    (_, ka_y, kx_y, ky_y) = _JPEG_COLOR_PLANES[0]
    (_, ka_cb, kx_cb, ky_cb) = _JPEG_COLOR_PLANES[1]
    (_, ka_cr, kx_cr, ky_cr) = _JPEG_COLOR_PLANES[2]
    for my in range(h // 16):
        for mx in range(w // 16):
            # 4 Y blocks in raster order at luma block coords
            for dy in range(2):
                for dx in range(2):
                    bx, by = 2 * mx + dx, 2 * my + dy
                    put_block(0, (ka_y * asset_id + kx_y * bx + ky_y * by) % 256)
            put_block(1, (ka_cb * asset_id + kx_cb * mx + ky_cb * my) % 256)
            put_block(2, (ka_cr * asset_id + kx_cr * mx + ky_cr * my) % 256)
    scan = bw.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    dqt = seg(
        0xFFDB,
        bytes([0x00]) + bytes(_JPEG_QTABLE)
        + bytes([0x01]) + bytes(_JPEG_QTABLE),
    )
    sof = seg(
        0xFFC0,
        struct.pack(">BHHB", 8, h, w, 3)
        + bytes([1, 0x22, 0])   # Y  → 2x2 sampling, quant table 0
        + bytes([2, 0x11, 1])   # Cb → 1x1, quant table 1
        + bytes([3, 0x11, 1]),  # Cr → 1x1, quant table 1
    )
    dht = seg(
        0xFFC4,
        bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
        + bytes([0x10]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS)
        + bytes([0x01]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
        + bytes([0x11]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS),
    )
    sos = seg(
        0xFFDA,
        bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]),
    )
    app0 = seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    return (
        b"\xff\xd8" + app0 + dqt + sof + dht + sos + scan + b"\xff\xd9"
    )


def synth_jpeg_420_media(
    spark: SparkSession, n: int = N_JPEG_420_ASSETS
) -> DataFrame:
    """n real 4:2:0 color baseline JPEGs, deterministic planes."""
    rows = []
    for i in range(n):
        w, h = 32 + 16 * (i % 3), 32 + 16 * (i % 2)
        rows.append(
            (i, "image", w, h, 0, bytearray(encode_jpeg_color_420(i, w, h)))
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


_JPEG_420_STATS_SCHEMA = (
    "asset_id bigint, width int, height int, n_mcus int, "
    "sum_y bigint, sum_cb bigint, sum_cr bigint, "
    "row0_y_sum bigint, row0_cb_sum bigint"
)


def mm_image_decode_jpeg_420(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL 4:2:0 chroma-subsampled JPEG decode — the
    layout nearly every real-world JPEG uses. The generalized
    baseline decoder walks 6-block MCUs (4 Y + Cb + Cr), decodes the
    half-resolution chroma planes, and replicates them back to full
    resolution; sums run over the FULL-resolution planes, so the
    oracle's closed forms (Y per 8x8 luma block × 64; chroma per
    16x16 MCU area × 256) value-check the subsampled scan order, the
    per-component DC predictors, AND the upsampler. ``row0_cb_sum``
    is MCU-column-asymmetric to catch horizontal replication bugs.

    Scale: identical plumbing to every other decode — payload bytes
    never shuffle, 9 ints per asset cross to the JVM.

    Reference parity note: the reference pipeline (postgres-s3-ETL)
    has no media path at all; this family exists for the 100 TB
    training-data charter (SURVEY §2.7).
    """
    import numpy as np

    def rows_of(aid, payload):
        planes = decode_jpeg_color(bytes(payload))
        if planes is None:
            return
        px = planes.astype(np.int64)
        h, w = px.shape[1], px.shape[2]
        yield (
            int(aid), w, h, (h // 16) * (w // 16),
            int(px[0].sum()), int(px[1].sum()),
            int(px[2].sum()),
            int(px[0][0, :].sum()), int(px[1][0, :].sum()),
        )

    media = synth_jpeg_420_media(spark).select("asset_id", "payload")
    return row_lane(media, rows_of, _JPEG_420_STATS_SCHEMA).orderBy(
        "asset_id"
    )


_JPEG_COLOR_STATS_SCHEMA = (
    "asset_id bigint, width int, height int, n_blocks int, "
    "sum_y bigint, sum_cb bigint, sum_cr bigint, ssq_y bigint, "
    "row0_y_sum bigint"
)


def mm_image_decode_jpeg_color(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL color JPEG decode: 3-component 4:4:4 baseline
    JFIFs with two quant tables, two Huffman pairs, and an
    interleaved Y/Cb/Cr MCU scan with independent DC predictors —
    decoded by the same stdlib+numpy decoder inside Arrow-batched
    mapInPandas. Constant per-plane blocks quantize losslessly, so
    the oracle recomputes exact YCbCr integer sums in closed form
    (plane constants are asymmetric so a plane swap or MCU-order bug
    breaks the hash). The YCbCr→RGB conversion is value-checked in
    pytest (numpy-only — float round conventions differ between
    engines, so RGB stays out of the cross-engine hash on purpose).
    """
    import numpy as np

    def rows_of(aid, payload):
        planes = decode_jpeg_color(bytes(payload))
        if planes is None:
            return
        px = planes.astype(np.int64)
        h, w = px.shape[1], px.shape[2]
        yield (
            int(aid), w, h, (h // 8) * (w // 8),
            int(px[0].sum()), int(px[1].sum()),
            int(px[2].sum()), int((px[0] * px[0]).sum()),
            int(px[0][0, :].sum()),
        )

    media = synth_jpeg_color_media(spark).select("asset_id", "payload")
    return row_lane(media, rows_of, _JPEG_COLOR_STATS_SCHEMA).orderBy(
        "asset_id"
    )


def synth_jpeg_media(spark: SparkSession, n: int = N_JPEG_ASSETS) -> DataFrame:
    """n real grayscale baseline JPEGs with deterministic dims and
    constant-block pixel pattern (lossless by construction)."""
    rows = []
    for i in range(n):
        w, h = 16 + 8 * (i % 3), 16 + 8 * (i % 2)
        rows.append(
            (i, "image", w, h, 0, bytearray(encode_jpeg_gray(i, w, h)))
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


_JPEG_STATS_SCHEMA = (
    "asset_id bigint, width int, height int, n_blocks int, "
    "sum_px bigint, ssq_px bigint, row0_sum bigint"
)


def mm_image_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL JPEG decode: synthesize valid grayscale
    baseline JFIFs, decode them stdlib+numpy inside Arrow-batched
    mapInPandas (Huffman + differential DC + dequant + IDCT), emit
    exact int64 pixel stats, aggregate per asset. Constant 8x8
    blocks with q_DC = 8 quantize losslessly, so the oracle
    recomputes the sums from the closed-form block pattern — marker
    parsing, canonical Huffman reconstruction, bit unstuffing, DC
    prediction, and the IDCT's DC path are all value-checked
    (``row0_sum`` is by-asymmetric to catch block-order bugs). The
    AC/ZRL/negative-coefficient decode paths are driven by
    hand-built streams in tests/test_jpeg_decode.py.

    Scale: identical plumbing to the BMP/PNG decodes — payload bytes
    never shuffle, 7 ints per asset cross to the JVM.
    """
    import numpy as np

    def rows_of(aid, payload):
        img = decode_jpeg_gray(bytes(payload))
        if img is None:
            return
        px = img.astype(np.int64)
        yield (
            int(aid),
            img.shape[1],
            img.shape[0],
            (img.shape[0] // 8) * (img.shape[1] // 8),
            int(px.sum()),
            int((px * px).sum()),
            int(px[0, :].sum()),
        )

    media = synth_jpeg_media(spark).select("asset_id", "payload")
    return row_lane(media, rows_of, _JPEG_STATS_SCHEMA).orderBy("asset_id")


# --- IMA-ADPCM audio (WAV format tag 0x11) ---------------------------
#
# Round-11 (VERDICT r10 task 4): the last closable audio-codec gap.
# IMA-ADPCM is pure-stdlib-feasible — 4-bit delta nibbles + the
# public 89-entry step table (IMA "DVI4", also RFC 3551 §4.5.1) —
# so the decode arm is REAL: a spec-correct RIFF fmt-0x11 container
# parser + the exact integer state machine. The synthetic payloads
# carry CLOSED-FORM nibble streams and block headers (not an encoded
# PCM signal — ADPCM is lossy, so closed-form *input samples* would
# not round-trip), which makes the decoded output exactly computable
# by the SQL oracle: a recursive CTE replays the same state machine
# from the same closed forms. mp3/ogg remain documented ffmpeg gates.

IMA_STEP_TABLE: tuple[int, ...] = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17,
    19, 21, 23, 25, 28, 31, 34, 37, 41, 45,
    50, 55, 60, 66, 73, 80, 88, 97, 107, 118,
    130, 143, 157, 173, 190, 209, 230, 253, 279, 307,
    337, 371, 408, 449, 494, 544, 598, 658, 724, 796,
    876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358,
    5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899,
    15289, 16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
)
IMA_INDEX_TABLE: tuple[int, ...] = (
    -1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8,
)

ADPCM_BLOCK_ALIGN = 36  # 4-byte block header + 32 nibble-data bytes
ADPCM_SAMPLES_PER_BLOCK = 65  # header sample + 64 nibbles
N_ADPCM_ASSETS = 12

#: The IMA tables as SQL list literals (shared by both oracles).
_ADPCM_STEPS_SQL = "[" + ",".join(str(v) for v in IMA_STEP_TABLE) + "]"
_ADPCM_IDXS_SQL = "[" + ",".join(str(v) for v in IMA_INDEX_TABLE) + "]"


def _adpcm_nibble(asset_id: int, k: int) -> int:
    """Closed-form data nibble ``k`` (global index within the asset's
    nibble stream) — mirrored verbatim by the SQL oracle."""
    return (7 * asset_id + 13 * k) % 16


def _adpcm_pred0(asset_id: int, block: int) -> int:
    """Closed-form block-header predictor (= the block's sample 0)."""
    return ((7 * asset_id + 13 * block) % 201) - 100


def _adpcm_sidx0(asset_id: int, block: int) -> int:
    """Closed-form block-header step index."""
    return (5 * asset_id + 3 * block) % 89


def encode_wav_ima_adpcm(asset_id: int, n_blocks: int) -> bytes:
    """A real RIFF/WAVE IMA-ADPCM (fmt tag 0x11) container: mono,
    4-bit, ADPCM_BLOCK_ALIGN-byte blocks, spec-correct fmt extension
    (cbSize=2, wSamplesPerBlock) and fact chunk. Data nibbles and
    block headers come from the closed forms above; nibbles pack
    low-first (the IMA-in-WAV order)."""
    import struct

    data = bytearray()
    for b in range(n_blocks):
        data += struct.pack(
            "<hBB", _adpcm_pred0(asset_id, b), _adpcm_sidx0(asset_id, b), 0
        )
        for byte_i in range(ADPCM_BLOCK_ALIGN - 4):
            k = b * 2 * (ADPCM_BLOCK_ALIGN - 4) + 2 * byte_i
            data.append(
                _adpcm_nibble(asset_id, k)
                | (_adpcm_nibble(asset_id, k + 1) << 4)
            )
    n_samples = n_blocks * ADPCM_SAMPLES_PER_BLOCK
    byte_rate = (
        WAV_RATE * ADPCM_BLOCK_ALIGN + ADPCM_SAMPLES_PER_BLOCK - 1
    ) // ADPCM_SAMPLES_PER_BLOCK
    fmt = struct.pack(
        "<HHIIHHHH",
        0x11,
        1,
        WAV_RATE,
        byte_rate,
        ADPCM_BLOCK_ALIGN,
        4,
        2,
        ADPCM_SAMPLES_PER_BLOCK,
    )
    fact = struct.pack("<I", n_samples)
    out = bytearray()
    for tag, body in ((b"fmt ", fmt), (b"fact", fact), (b"data", bytes(data))):
        out += tag + struct.pack("<I", len(body)) + body
        if len(body) % 2:
            out += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(out)) + b"WAVE" + bytes(out)


def decode_wav_ima_adpcm(payload: bytes):
    """REAL IMA-ADPCM decode: parse the RIFF chunks (fmt tag 0x11,
    mono, 4-bit only — returns None otherwise), then run the exact
    integer IMA state machine per block: sample 0 is the header
    predictor; each nibble adds/subtracts the step-table delta
    (diff = step>>3 (+step if b2) (+step>>1 if b1) (+step>>2 if b0)),
    clamps the predictor to int16 and walks the step index by the
    index table. Returns a list of int samples trimmed to the fact
    count."""
    import struct

    p = bytes(payload)
    if len(p) < 12 or p[:4] != b"RIFF" or p[8:12] != b"WAVE":
        return None
    pos, fmt_ok, block_align, n_samples, data = 12, False, 0, None, None
    while pos + 8 <= len(p):
        tag = p[pos : pos + 4]
        (size,) = struct.unpack_from("<I", p, pos + 4)
        body = p[pos + 8 : pos + 8 + size]
        if tag == b"fmt " and size >= 16:
            wtag, nch, _rate, _br, block_align, bits = struct.unpack_from(
                "<HHIIHH", body, 0
            )
            fmt_ok = wtag == 0x11 and nch == 1 and bits == 4
        elif tag == b"fact" and size >= 4:
            (n_samples,) = struct.unpack_from("<I", body, 0)
        elif tag == b"data":
            data = body
        pos += 8 + size + (size % 2)
    if not fmt_ok or data is None or block_align < 5:
        return None
    samples: list[int] = []
    for off in range(0, len(data) - block_align + 1, block_align):
        pred, sidx, _ = struct.unpack_from("<hBB", data, off)
        sidx = max(0, min(88, sidx))
        samples.append(pred)
        for byte in data[off + 4 : off + block_align]:
            for nib in (byte & 0x0F, byte >> 4):
                step = IMA_STEP_TABLE[sidx]
                diff = step >> 3
                if nib & 4:
                    diff += step
                if nib & 2:
                    diff += step >> 1
                if nib & 1:
                    diff += step >> 2
                pred = pred - diff if nib & 8 else pred + diff
                pred = max(-32768, min(32767, pred))
                sidx = max(0, min(88, sidx + IMA_INDEX_TABLE[nib]))
                samples.append(pred)
    return samples[:n_samples] if n_samples is not None else samples


def synth_adpcm_media(spark: SparkSession, n: int = N_ADPCM_ASSETS) -> DataFrame:
    """IMA-ADPCM audio feed: asset ``a`` carries ``2 + a % 3`` blocks."""
    rows = []
    for a in range(n):
        nb = 2 + a % 3
        ns = nb * ADPCM_SAMPLES_PER_BLOCK
        rows.append(
            (
                a,
                "audio",
                0,
                0,
                ns * 1000 // WAV_RATE,
                bytearray(encode_wav_ima_adpcm(a, nb)),
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def mm_audio_adpcm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-asset exact integer stats of REAL IMA-ADPCM decodes —
    container parse + 4-bit state machine inside Arrow-batched
    mapInPandas, integer sums JVM-side. The oracle replays the same
    public state machine as a recursive CTE over the same closed-form
    nibble stream: container parsing, block walking, clamping, and
    the step-table arithmetic all have to agree for the hash to
    match.

    Scale: payload bytes stay in the scan partition; 3 ints per
    asset cross the Arrow boundary.
    """

    def rows_of(aid, payload):
        s = decode_wav_ima_adpcm(bytes(payload))
        if s is None:
            return
        yield (
            int(aid),
            len(s),
            sum(s),
            sum(v * v for v in s),
        )

    media = synth_adpcm_media(spark).select("asset_id", "payload")
    return (
        row_lane(
            media,
            rows_of,
            "asset_id bigint, n_samples bigint, s_sum bigint, "
            "energy bigint",
        )
        .orderBy("asset_id")
    )


def _adpcm_decode_oracle() -> str:
    """Recursive-CTE replay of the IMA state machine (see
    :func:`mm_audio_adpcm_decode`). One recursion level per nibble
    (64 levels); every (asset, block) advances in parallel per level.
    The step/index tables are inlined literals of the public IMA
    tables."""
    steps = _ADPCM_STEPS_SQL
    idxs = _ADPCM_IDXS_SQL
    nib_per_block = 2 * (ADPCM_BLOCK_ALIGN - 4)
    return f"""
        WITH RECURSIVE blocks AS MATERIALIZED (
            SELECT a.a AS asset_id, b.b AS blk
            FROM generate_series(0, {N_ADPCM_ASSETS - 1}) a(a)
            CROSS JOIN generate_series(0, 4) b(b)
            WHERE b.b < 2 + a.a % 3
        ),
        dec AS (
            SELECT asset_id, blk, 0 AS j,
                   CAST(((7 * asset_id + 13 * blk) % 201) - 100
                        AS BIGINT) AS pred,
                   (5 * asset_id + 3 * blk) % 89 AS sidx
            FROM blocks
            UNION ALL
            SELECT asset_id, blk, j + 1,
                   GREATEST(-32768, LEAST(32767,
                       pred + CASE WHEN nib & 8 > 0 THEN -diff
                                   ELSE diff END)),
                   GREATEST(0, LEAST(88, sidx + ({idxs})[nib + 1]))
            FROM (
                SELECT asset_id, blk, j, pred, sidx, nib,
                       (step >> 3)
                       + CASE WHEN nib & 4 > 0 THEN step ELSE 0 END
                       + CASE WHEN nib & 2 > 0 THEN step >> 1 ELSE 0 END
                       + CASE WHEN nib & 1 > 0 THEN step >> 2 ELSE 0 END
                           AS diff
                FROM (
                    SELECT asset_id, blk, j, pred, sidx,
                           (7 * asset_id
                            + 13 * (blk * {nib_per_block} + j)) % 16
                               AS nib,
                           ({steps})[sidx + 1] AS step
                    FROM dec WHERE j < {nib_per_block}
                )
            )
        )
        SELECT asset_id,
               CAST(COUNT(*) AS BIGINT) AS n_samples,
               CAST(SUM(pred) AS BIGINT) AS s_sum,
               CAST(SUM(pred * pred) AS BIGINT) AS energy
        FROM dec
        GROUP BY asset_id
        ORDER BY asset_id
    """


N_MIXED_ASSETS = 64


def synth_mixed_media(spark: SparkSession, n: int = N_MIXED_ASSETS) -> DataFrame:
    """A mixed-format feed like a real ingest sees: BMP and baseline
    JPEG images, PCM WAV audio, and y4m video interleaved by i % 4 —
    plus every (i % 10 == 9)-th asset an UNDECODABLE opaque payload
    labelled 'video' (the H.264-class stand-in: right metadata, no
    stdlib codec), so the router's skip path is exercised in-band."""
    rows = []
    for i in range(n):
        if i % 10 == 9:
            payload = hashlib.sha256(f"junk-{i}".encode()).digest() * 4
            rows.append((i, "video", 0, 0, 0, bytearray(payload)))
        elif i % 4 == 0:
            w, h = 16 + i % 8, 12 + i % 5
            rows.append(
                (i, "image", w, h, 0, bytearray(encode_bmp24(i, w, h)))
            )
        elif i % 4 == 1 and i % 8 == 5:
            # round-11: alternate audio assets are IMA-ADPCM (fmt
            # 0x11) — the router's RIFF arm must dispatch on the
            # format tag, not just the container magic
            nb = 2 + i % 3
            rows.append(
                (i, "audio", 0, 0,
                 nb * ADPCM_SAMPLES_PER_BLOCK * 1000 // WAV_RATE,
                 bytearray(encode_wav_ima_adpcm(i, nb)))
            )
        elif i % 4 == 1 and i % 16 == 1:
            # round-12: lossless-compressed audio assets are FLAC —
            # the router grows a fLaC-magic arm (real decode, CRC +
            # MD5 verified; see operators/flac_codec.py)
            from postgres_s3_etl_spark.operators.flac_codec import (
                FLAC_BLOCK,
                encode_flac,
            )

            nf = 2 + i % 3
            rows.append(
                (i, "audio", 0, 0,
                 nf * FLAC_BLOCK * 1000 // WAV_RATE,
                 bytearray(encode_flac(i, nf)))
            )
        elif i % 4 == 1:
            ns = 1000 + 10 * i
            rows.append(
                (i, "audio", 0, 0, ns * 1000 // WAV_RATE,
                 bytearray(encode_wav(i, ns)))
            )
        elif i % 4 == 2:
            w, h, nf = 12 + i % 6, 8 + i % 4, 4 + i % 5
            rows.append(
                (i, "video", w, h, nf * Y4M_FRAME_MS,
                 bytearray(encode_y4m(i, w, h, nf)))
            )
        elif (i // 4) % 2 == 0:
            w, h = 16 + 8 * (i % 3), 16 + 8 * (i % 2)
            rows.append(
                (i, "image", w, h, 0,
                 bytearray(encode_jpeg_gray(i, w, h)))
            )
        else:
            # round-7: alternate jpeg assets are 4:2:0 color — the
            # router's FFD8 arm must handle real-world subsampling
            w, h = 32 + 16 * (i % 3), 32 + 16 * (i % 2)
            rows.append(
                (i, "image", w, h, 0,
                 bytearray(encode_jpeg_color_420(i, w, h)))
            )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def mm_decode_router(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production decode front-door: ONE Arrow-batched
    mapInPandas pass that sniffs each payload's magic bytes and
    routes to the matching REAL stdlib codec — BM → decode_bmp24,
    FFD8 → decode_jpeg_gray (round-6: the baseline-JPEG arm became
    real and joined the router), RIFF/WAVE → wave for PCM or
    decode_wav_ima_adpcm for fmt-0x11 (round-11: dispatch on the
    format TAG, not just the container magic), fLaC → decode_flac
    (round-12: the lossless-audio arm, CRC + MD5 verified,
    operators/flac_codec.py), YUV4MPEG2 →
    decode_y4m — emitting per-asset exact integer content stats
    (units = pixels / samples / frame-pixels; main = Σ(r+g+b) /
    Σpx / Σs² / ΣY). Unrecognized formats (the H.264-class arm no
    stdlib codec can open) are SKIPPED and counted, never crash the
    task and never get fake features. The oracle recomputes every
    sum from the closed-form pixel/sample/plane/block patterns and
    the skip counts from the feed's construction rule.

    Scale: format dispatch is per-row inside the batch (no
    per-format shuffle or re-scan); payload bytes never leave the
    scan partition; 4 ints per asset cross to the JVM, and the
    per-type rollup is a codegen aggregate.
    """

    import numpy as np

    from postgres_s3_etl_spark.operators.flac_codec import decode_flac

    def rows_of(aid, mt, payload):
        p = bytes(payload)
        decoded, units, main = 0, 0, 0
        if p[:2] == b"BM":
            img = decode_bmp24(p)
            if img is not None:
                decoded = 1
                units = img.shape[0] * img.shape[1]
                main = int(img.astype(np.int64).sum())
        elif p[:2] == b"\xff\xd8":
            # one arm for gray, 4:4:4 AND 4:2:0 — the decoder
            # returns full-res planes; units/main read plane 0
            # (the luma), identical for every JPEG layout
            pl = decode_jpeg_baseline(p)
            if pl is not None:
                decoded = 1
                units = pl.shape[1] * pl.shape[2]
                main = int(pl[0].astype(np.int64).sum())
        elif p[:4] == b"RIFF" and p[8:12] == b"WAVE":
            wins = decode_wav_windows_exact(p, AUDIO_WINDOW_MS)
            if wins is not None:
                decoded = 1
                units = sum(n for n, _, _ in wins)
                main = sum(q for _, _, q in wins)
            else:
                # round-11: non-PCM RIFF -> the IMA-ADPCM arm
                s = decode_wav_ima_adpcm(p)
                if s is not None:
                    decoded = 1
                    units = len(s)
                    main = sum(v * v for v in s)
        elif p[:4] == b"fLaC":
            # round-12: lossless-compressed audio — real FLAC
            # subset decode (CRC-8/16 + PCM-MD5 verified)
            s = decode_flac(p)
            if s is not None:
                decoded = 1
                units = len(s)
                main = sum(v * v for v in s)
        elif p[:10] == b"YUV4MPEG2 ":
            dec = decode_y4m(p)
            if dec is not None:
                w, h, frames = dec
                decoded = 1
                units = len(frames) * w * h
                main = int(
                    sum(
                        int(f[0].astype(np.int64).sum())
                        for f in frames
                    )
                )
        yield (int(aid), str(mt), decoded, units, main)

    media = synth_mixed_media(spark).select(
        "asset_id", "media_type", "payload"
    )
    per_asset = row_lane(
        media,
        rows_of,
        "asset_id bigint, media_type string, decoded int, "
        "units bigint, main bigint",
    )
    return (
        per_asset.groupBy("media_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_assets"),
            F.sum("decoded").cast("bigint").alias("n_decoded"),
            F.sum("units").alias("total_units"),
            F.sum("main").alias("total_main"),
            F.max("main").alias("max_main"),
        )
        .orderBy("media_type")
    )


#: Real TGA (round-7): Truevision TARGA type-10 (RLE-compressed
#: 24-bit truecolor) — genuine run-length packets (RLE and raw,
#: greedy encoder), bottom-up row order, BGR pixel order. The pixel
#: pattern is constant over 4-pixel runs (x div 4 in the formulas)
#: so the encoder emits REAL RLE packets on every row and a packet
#: bug shifts whole runs — caught by the exact channel sums.
N_TGA_ASSETS = 48


def encode_tga_rle(asset_id: int, w: int, h: int) -> bytes:
    """A real type-10 RLE truecolor TGA, bottom-up rows, with pixel
    channels b,g,r = (5a+7(x div 4)+11y, 13a+17(x div 4)+19y,
    23a+29(x div 4)+31y) % 256."""
    import struct

    def px(x: int, y: int) -> bytes:
        q = x // 4
        return bytes(
            (
                (5 * asset_id + 7 * q + 11 * y) % 256,
                (13 * asset_id + 17 * q + 19 * y) % 256,
                (23 * asset_id + 29 * q + 31 * y) % 256,
            )
        )

    header = struct.pack(
        "<BBBHHBHHHHBB", 0, 0, 10, 0, 0, 0, 0, 0, w, h, 24, 0
    )
    out = bytearray(header)
    for y in range(h - 1, -1, -1):  # bottom-up file order
        x = 0
        while x < w:
            p = px(x, y)
            run = 1
            while x + run < w and run < 128 and px(x + run, y) == p:
                run += 1
            if run >= 2:
                out.append(0x80 | (run - 1))
                out.extend(p)
                x += run
            else:
                # accumulate a raw packet of non-repeating pixels
                start = x
                x += 1
                while (
                    x < w
                    and x - start < 128
                    and not (x + 1 < w and px(x, y) == px(x + 1, y))
                ):
                    x += 1
                out.append((x - start) - 1)
                for xi in range(start, x):
                    out.extend(px(xi, y))
    return bytes(out)


def decode_tga(payload: bytes):
    """REAL TGA decode, stdlib+numpy only: 18-byte header parse,
    type 2 (uncompressed) and type 10 (RLE) 24-bit truecolor, RLE
    and raw packets (runs may NOT span rows per spec — enforced),
    bottom-up/top-down origin handling. Returns an (h, w, 3) uint8
    BGR array or None for palette/16-bit/grayscale types."""
    import struct

    import numpy as np

    if len(payload) < 18:
        return None
    (idlen, cmap, itype, _cm1, _cm2, _cm3, _x0, _y0, w, h, depth,
     desc) = struct.unpack("<BBBHHBHHHHBB", payload[:18])
    if itype not in (2, 10) or depth != 24 or cmap != 0:
        return None
    pos = 18 + idlen
    n_px = w * h
    out = np.zeros((n_px, 3), dtype=np.uint8)
    i = 0
    if itype == 2:
        need = 3 * n_px
        if len(payload) < pos + need:
            return None
        out = np.frombuffer(
            payload[pos : pos + need], dtype=np.uint8
        ).reshape(n_px, 3).copy()
    else:
        row_left = w
        while i < n_px:
            if pos >= len(payload):
                return None
            hdr = payload[pos]
            pos += 1
            cnt = (hdr & 0x7F) + 1
            if cnt > row_left:
                return None  # packets must not span rows
            if hdr & 0x80:
                if pos + 3 > len(payload):
                    return None
                out[i : i + cnt] = np.frombuffer(
                    payload[pos : pos + 3], dtype=np.uint8
                )
                pos += 3
            else:
                if pos + 3 * cnt > len(payload):
                    return None
                out[i : i + cnt] = np.frombuffer(
                    payload[pos : pos + 3 * cnt], dtype=np.uint8
                ).reshape(cnt, 3)
                pos += 3 * cnt
            i += cnt
            row_left -= cnt
            if row_left == 0:
                row_left = w
    img = out.reshape(h, w, 3)
    if not desc & 0x20:  # bit 5 clear -> bottom-left origin
        img = img[::-1]
    return img


def synth_tga_media(spark: SparkSession, n: int = N_TGA_ASSETS) -> DataFrame:
    """n real RLE truecolor TGAs with deterministic run patterns."""
    rows = []
    for i in range(n):
        w, h = 24 + 4 * (i % 4), 16 + 3 * (i % 3)
        rows.append(
            (i, "image", w, h, 0, bytearray(encode_tga_rle(i, w, h)))
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


_TGA_STATS_SCHEMA = (
    "asset_id bigint, width int, height int, n_px bigint, "
    "sum_b bigint, sum_g bigint, sum_r bigint, row0_b_sum bigint"
)


def mm_image_decode_tga(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL RLE TGA decode: genuine run-length packets
    (the constant-over-4-pixel pattern makes every row a mix of RLE
    packets the encoder really emits), bottom-up row order and BGR
    channel order — decoded inside Arrow-batched mapInPandas to
    exact int64 channel sums. ``row0_b_sum`` reads the TOP row after
    the origin flip, so a forgotten bottom-up flip breaks the hash;
    asymmetric channel constants catch BGR/RGB swaps.

    Scale: identical plumbing to every other decode — payload bytes
    never shuffle, 8 ints per asset cross to the JVM.
    """
    import numpy as np

    def rows_of(aid, payload):
        img = decode_tga(bytes(payload))
        if img is None:
            return
        px = img.astype(np.int64)
        h, w = img.shape[0], img.shape[1]
        yield (
            int(aid), w, h, h * w,
            int(px[:, :, 0].sum()), int(px[:, :, 1].sum()),
            int(px[:, :, 2].sum()),
            int(px[0, :, 0].sum()),
        )

    media = synth_tga_media(spark).select("asset_id", "payload")
    return row_lane(media, rows_of, _TGA_STATS_SCHEMA).orderBy(
        "asset_id"
    )


#: Real AIFF (round-7): the big-endian PCM container (Apple/legacy
#: audio interchange) — FORM/AIFF IFF chunk walk, COMM with the
#: 80-bit IEEE-extended sample rate (a real extended-precision
#: parse, not a shortcut), SSND with offset/blockSize, big-endian
#: int16 frames. The byte-order mirror of the WAV family: one wrong
#: endianness and every sample value explodes, which the exact
#: closed-form sums catch.
N_AIFF_ASSETS = 48
AIFF_RATE = 1000


def _f80_encode(x: float) -> bytes:
    """IEEE 754 80-bit extended (AIFF sample-rate field): sign bit,
    15-bit biased exponent, 64-bit mantissa with EXPLICIT integer
    bit. Exact for the integer rates used here."""
    import struct

    if x == 0:
        return b"\x00" * 10
    n = int(x)
    e = n.bit_length() - 1  # floor(log2) for integer rates
    mant = n << (63 - e)  # explicit leading 1 at bit 63
    return struct.pack(">H", 16383 + e) + struct.pack(">Q", mant)


def _f80_decode(b: bytes) -> float:
    import struct

    (se,) = struct.unpack(">H", b[:2])
    (mant,) = struct.unpack(">Q", b[2:10])
    sign = -1.0 if se & 0x8000 else 1.0
    exp = (se & 0x7FFF) - 16383
    if mant == 0:
        return 0.0
    return sign * (mant / float(1 << 63)) * (2.0 ** exp)


def encode_aiff(asset_id: int, n_samples: int) -> bytes:
    """A real FORM/AIFF file: COMM (mono, 16-bit, 80-bit-extended
    rate) + SSND (offset 0, blockSize 0) with BIG-endian int16
    samples of the same closed-form pattern as the WAV family."""
    import struct

    import numpy as np

    frames = np.fromiter(
        (_wav_sample(asset_id, k) for k in range(n_samples)),
        dtype=">i2",
        count=n_samples,
    ).tobytes()
    comm = (
        b"COMM"
        + struct.pack(">I", 18)
        + struct.pack(">hIh", 1, n_samples, 16)
        + _f80_encode(float(AIFF_RATE))
    )
    ssnd = (
        b"SSND"
        + struct.pack(">I", 8 + len(frames))
        + struct.pack(">II", 0, 0)
        + frames
    )
    body = b"AIFF" + comm + ssnd
    return b"FORM" + struct.pack(">I", len(body)) + body


def decode_aiff(payload: bytes):
    """REAL AIFF decode, stdlib+numpy only: IFF chunk walk (COMM
    before or after SSND, unknown chunks skipped, odd-length pad
    bytes honored), 80-bit extended sample-rate parse, big-endian
    int16 PCM. Returns (rate_hz, samples int64 array) or None for
    compressed AIFC / non-16-bit / multi-channel files."""
    import struct

    import numpy as np

    if len(payload) < 12 or payload[:4] != b"FORM" or payload[8:12] != b"AIFF":
        return None
    pos = 12
    n_ch = n_frames = bits = None
    rate = None
    frames = None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (ln,) = struct.unpack(">I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + ln]
        if len(body) < ln:
            return None
        if cid == b"COMM":
            if ln < 18:
                return None
            n_ch, n_frames, bits = struct.unpack(">hIh", body[:8])
            rate = _f80_decode(body[8:18])
        elif cid == b"SSND":
            if ln < 8:
                return None
            off, _blk = struct.unpack(">II", body[:8])
            frames = body[8 + off :]
        pos += 8 + ln + (ln & 1)  # IFF chunks pad to even length
    if n_ch != 1 or bits != 16 or rate is None or frames is None:
        return None
    if n_frames is None or len(frames) < 2 * n_frames:
        return None
    samples = np.frombuffer(
        frames[: 2 * n_frames], dtype=">i2"
    ).astype(np.int64)
    return int(round(rate)), samples


def synth_aiff_media(spark: SparkSession, n: int = N_AIFF_ASSETS) -> DataFrame:
    """n real AIFF audio assets with deterministic samples."""
    rows = []
    for i in range(n):
        ns = 800 + 10 * i
        rows.append(
            (i, "audio", 0, 0, ns * 1000 // AIFF_RATE,
             bytearray(encode_aiff(i, ns)))
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


_AIFF_STATS_SCHEMA = (
    "asset_id bigint, rate_hz int, n_samples bigint, "
    "sum_s bigint, ssq_s bigint, min_s bigint, max_s bigint"
)


def mm_audio_decode_aiff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL AIFF decode: the big-endian PCM container
    with its 80-bit extended-float sample-rate field, decoded inside
    Arrow-batched mapInPandas to exact int64 sample stats — the
    byte-order mirror of the WAV family (one endianness slip and
    every sample explodes, which these exact sums catch). The chunk
    walk honors IFF odd-length padding and unknown-chunk skipping;
    compressed AIFC stays out of scope (loud None).

    Scale: identical plumbing to every decode — payload bytes never
    shuffle, 7 ints per asset cross to the JVM.
    """
    import numpy as np

    def rows_of(aid, payload):
        dec = decode_aiff(bytes(payload))
        if dec is None:
            return
        rate, s = dec
        yield (
            int(aid), rate, len(s),
            int(s.sum()), int((s * s).sum()),
            int(s.min()), int(s.max()),
        )

    media = synth_aiff_media(spark).select("asset_id", "payload")
    return row_lane(media, rows_of, _AIFF_STATS_SCHEMA).orderBy(
        "asset_id"
    )


#: Real progressive JPEG (round-7): the LAST JPEG stub retired. A
#: spec-legal SOF2 file with three scans — DC first pass at
#: successive-approximation Al=1, DC refinement (Ah=1→Al=0, one raw
#: bit per block), then the AC band 1..63 coded as EOBn run-length
#: codes — decoded by a real multi-scan progressive decoder
#: (coefficients accumulate across scans; IDCT once at the end).
#: Round 10 adds the AC successive-approximation REFINEMENT scan
#: (Ah>0 on AC bands, T.81 G.1.2.3) — correction bits on
#: nonzero-history coefficients, s=1 new-significance codes,
#: EOB-run refinement — driven by hand-built 4-scan streams in
#: pytest.
#: Constant blocks keep AC zero so pixels stay exact and the oracle
#: recomputes sums in closed form; the AC-first path with NONZERO
#: coefficients and long EOBRUN splits is driven by hand-built
#: streams in pytest. Scope: single-component (grayscale)
#: progressive (DC first/refine + AC first + AC refine) plus 1x1
#: color progressive (round 10); subsampled progressive returns
#: None — documented, loudly.
N_JPEG_PROG_ASSETS = 48

#: Progressive AC Huffman spec: EOBn run-length symbols (r<<4 for
#: r = 0..4 → EOB runs up to 31), two small coefficient symbols for
#: the pytest hand-built nonzero-AC streams, and ZRL — 8 codes, all
#: at length 4.
_JPEG_PROG_AC_BITS = [0, 0, 0, 8, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_JPEG_PROG_AC_VALS = [0x00, 0x10, 0x20, 0x30, 0x40, 0x01, 0x11, 0xF0]


def encode_jpeg_gray_progressive(asset_id: int, w: int, h: int) -> bytes:
    """A real grayscale progressive JFIF (SOF2, three scans): DC
    first at Al=1, DC refinement, AC 1..63 as one EOBn run. Blocks
    are constant with value (31a + 11bx + 3by) % 256 — DC quantizes
    losslessly at q=8, AC are all zero."""
    import struct

    assert w % 8 == 0 and h % 8 == 0
    dc_huf = _huff_canonical(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_huf = _huff_canonical(_JPEG_PROG_AC_BITS, _JPEG_PROG_AC_VALS)
    bw_, bh_ = w // 8, h // 8

    def block_dc(bx: int, by: int) -> int:
        return ((31 * asset_id + 11 * bx + 3 * by) % 256) - 128

    # Scan 1: DC first pass — diffs of (dc >> 1), arithmetic shift.
    s1 = _BitWriter()
    prev = 0
    for by in range(bh_):
        for bx in range(bw_):
            v = block_dc(bx, by) >> 1
            diff = v - prev
            prev = v
            s = _jpeg_category(diff)
            code, ln = dc_huf[s]
            s1.write(code, ln)
            if s:
                s1.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    # Scan 2: DC refinement — the low bit of each block's dc, raw.
    s2 = _BitWriter()
    for by in range(bh_):
        for bx in range(bw_):
            s2.write(block_dc(bx, by) & 1, 1)
    # Scan 3: AC band 1..63, all zero — one EOBn run over all
    # blocks (split only if > 32767; these assets never are).
    s3 = _BitWriter()
    nb = bw_ * bh_
    r = nb.bit_length() - 1  # EOBRUN = 2^r + extra, extra < 2^r
    code, ln = ac_huf[r << 4]
    s3.write(code, ln)
    if r:
        s3.write(nb - (1 << r), r)

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    dqt = seg(0xFFDB, bytes([0x00]) + bytes(_JPEG_QTABLE))
    sof = seg(0xFFC2, struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0]))
    dht = seg(
        0xFFC4,
        bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
        + bytes([0x10]) + bytes(_JPEG_PROG_AC_BITS)
        + bytes(_JPEG_PROG_AC_VALS),
    )
    sos1 = seg(0xFFDA, bytes([1, 1, 0x00, 0, 0, 0x01]))   # Ss=0 Se=0 Al=1
    sos2 = seg(0xFFDA, bytes([1, 1, 0x00, 0, 0, 0x10]))   # Ah=1 Al=0
    sos3 = seg(0xFFDA, bytes([1, 1, 0x10, 1, 63, 0x00]))  # AC 1..63
    app0 = seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    return (
        b"\xff\xd8" + app0 + dqt + sof + dht
        + sos1 + s1.flush()
        + sos2 + s2.flush()
        + sos3 + s3.flush()
        + b"\xff\xd9"
    )


def decode_jpeg_progressive_gray(payload: bytes):
    """Single-component view of :func:`decode_jpeg_progressive`:
    returns the (h, w) uint8 plane for grayscale SOF2 files, or None
    for color progressive (callers that can consume planes use the
    general decoder directly)."""
    planes = decode_jpeg_progressive(payload)
    if planes is None or planes.shape[0] != 1:
        return None
    return planes[0]


def decode_jpeg_progressive(payload: bytes):
    """REAL progressive JPEG decode (SOF2), stdlib+numpy only:
    multi-scan marker walk, per-scan SOS (Ss/Se/Ah/Al) dispatch — DC
    first pass (Huffman diffs, value << Al; MCU-interleaved across
    components when the scan lists several), DC
    successive-approximation refinement (one raw bit per block, +=
    bit << Al), AC first pass for any band (run/size with ZRL and
    EOBn run-length codes; single-component per T.81 G.1.1), AC
    successive-approximation refinement (correction bits, new
    significances, EOB-run refinement — T.81 G.1.2.3) — coefficients
    accumulate across scans; dequantize + IDCT once at EOI. Handles
    1 (grayscale) and 3 (YCbCr) components at 1x1 sampling; returns
    an (ncomp, h, w) uint8 array of component planes, or None for
    subsampled progressive / anything else out of scope.
    """
    import struct

    import numpy as np

    if len(payload) < 4 or payload[:2] != b"\xff\xd8":
        return None
    pos = 2
    qtables: dict[int, list[int]] = {}
    hufs: dict[tuple[int, int], dict] = {}
    w = h = None
    comp_q: dict[int, int] = {}     # component id -> quant selector
    comp_ix: dict[int, int] = {}    # component id -> plane index
    coefs = None                    # list of per-component (nb, 64)
    bw_ = bh_ = 0

    def scan_bits(start: int):
        """Byte-unstuffed bit reader from `start`; returns (read_bit,
        read_huff, read_bits, end_pos_fn)."""
        data = bytearray()
        p = start
        while p < len(payload):
            byte = payload[p]
            if byte == 0xFF:
                nxt = payload[p + 1] if p + 1 < len(payload) else None
                if nxt == 0x00:
                    data.append(0xFF)
                    p += 2
                    continue
                break  # next marker ends this scan's entropy data
            data.append(byte)
            p += 1
        state = {"bit": 0}
        nbits = len(data) * 8

        def read_bit():
            i = state["bit"]
            if i >= nbits:
                raise IndexError
            state["bit"] = i + 1
            return (data[i >> 3] >> (7 - (i & 7))) & 1

        def read_bits(n):
            v = 0
            for _ in range(n):
                v = (v << 1) | read_bit()
            return v

        def read_huff(rev):
            code, ln = 0, 0
            while ln < 16:
                code = (code << 1) | read_bit()
                ln += 1
                sym = rev.get((code, ln))
                if sym is not None:
                    return sym
            raise IndexError

        return read_bit, read_bits, read_huff, p

    def extend(v, s):
        return v if v >= (1 << (s - 1)) else v - (1 << s) + 1

    while pos + 2 <= len(payload):
        if payload[pos] != 0xFF:
            return None
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (ln,) = struct.unpack_from(">H", payload, pos + 2)
        body = payload[pos + 4 : pos + 2 + ln]
        if marker == 0xDB:
            b = 0
            while b < len(body):
                pq, tq = body[b] >> 4, body[b] & 15
                if pq != 0 or b + 65 > len(body):
                    return None
                qtables[tq] = list(body[b + 1 : b + 65])
                b += 65
        elif marker == 0xC2:  # SOF2 progressive
            prec, h, w, ncomp = struct.unpack_from(">BHHB", body, 0)
            if prec != 8 or ncomp not in (1, 3):
                return None
            for c in range(ncomp):
                cid, samp, qsel = body[6 + 3 * c : 9 + 3 * c]
                if samp != 0x11:
                    return None  # 1x1 sampling only (no MCU tiling)
                comp_q[cid] = qsel
                comp_ix[cid] = c
            bw_, bh_ = -(-w // 8), -(-h // 8)
            coefs = [
                np.zeros((bh_ * bw_, 64), dtype=np.int64)
                for _ in range(ncomp)
            ]
        elif marker == 0xC0:  # baseline SOF in a "progressive" call
            return None
        elif marker == 0xC4:
            b = 0
            while b + 17 <= len(body):
                tc, th = body[b] >> 4, body[b] & 15
                bits = list(body[b + 1 : b + 17])
                nv = sum(bits)
                hufs[(tc, th)] = _huff_canonical(
                    bits, list(body[b + 17 : b + 17 + nv])
                )
                b += 17 + nv
        elif marker == 0xDA:
            ns = body[0]
            if coefs is None or ns < 1 or ns > len(coefs):
                return None
            scomps = []  # (plane index, table byte) in scan order
            for c in range(ns):
                cid, tb = body[1 + 2 * c], body[2 + 2 * c]
                if cid not in comp_ix:
                    return None
                scomps.append((comp_ix[cid], tb))
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            ah, al = body[3 + 2 * ns] >> 4, body[3 + 2 * ns] & 15
            if ss > 0 and ns != 1:
                return None  # AC scans are single-component (G.1.1)
            read_bit, read_bits, read_huff, endp = scan_bits(pos + 2 + ln)
            try:
                if ss == 0 and ah == 0:
                    # DC first pass — MCU-interleaved over the scan's
                    # components (at 1x1 an MCU is one block of each)
                    revs = {
                        ci: {v: k for k, v in hufs[(0, tb >> 4)].items()}
                        for ci, tb in scomps
                    }
                    prev = {ci: 0 for ci, _ in scomps}
                    for bi in range(bh_ * bw_):
                        for ci, _tb in scomps:
                            s = read_huff(revs[ci])
                            prev[ci] += (
                                extend(read_bits(s), s) if s else 0
                            )
                            coefs[ci][bi, 0] = prev[ci] << al
                elif ss == 0 and ah > 0:
                    # DC refinement: one raw bit per block, MCU order
                    for bi in range(bh_ * bw_):
                        for ci, _tb in scomps:
                            if read_bit():
                                coefs[ci][bi, 0] += 1 << al
                elif ss > 0 and ah == 0:
                    # AC first pass over band [ss, se] with EOBRUN
                    ci, tb = scomps[0]
                    ac = coefs[ci]
                    rev = {v: k for k, v in hufs[(1, tb & 15)].items()}
                    eobrun = 0
                    for bi in range(bh_ * bw_):
                        if eobrun:
                            eobrun -= 1
                            continue
                        k = ss
                        while k <= se:
                            rs = read_huff(rev)
                            r, s = rs >> 4, rs & 15
                            if s == 0:
                                if r == 15:  # ZRL
                                    k += 16
                                    continue
                                eobrun = (1 << r) - 1
                                if r:
                                    eobrun += read_bits(r)
                                break
                            k += r
                            if k > se:
                                return None
                            ac[bi, k] = extend(read_bits(s), s) << al
                            k += 1
                else:
                    # AC successive-approximation refinement
                    # (T.81 G.1.2.3 / the libjpeg AC-refine MCU walk):
                    # every nonzero-HISTORY coefficient passed reads a
                    # correction bit (appended low bit, toward larger
                    # magnitude); s=1 codes place a newly significant
                    # ±(1<<Al) after a run of r zero-history
                    # coefficients; EOB(run) refines the remaining
                    # nonzero coefficients of the band in each covered
                    # block. Python's & on negative ints is two's
                    # complement, so the (coef & p1) already-has-bit
                    # test matches the C implementations exactly.
                    ci, tb = scomps[0]
                    ac = coefs[ci]
                    rev = {v: k for k, v in hufs[(1, tb & 15)].items()}
                    p1, m1 = 1 << al, -1 << al

                    def correct(bi, k):
                        c = int(ac[bi, k])
                        if read_bit() and (c & p1) == 0:
                            ac[bi, k] = c + (p1 if c >= 0 else m1)

                    eobrun = 0
                    for bi in range(bh_ * bw_):
                        if eobrun:
                            eobrun -= 1
                            for k in range(ss, se + 1):
                                if ac[bi, k]:
                                    correct(bi, k)
                            continue
                        k = ss
                        hit_eob = False
                        while k <= se:
                            rs = read_huff(rev)
                            r, s = rs >> 4, rs & 15
                            if s == 0 and r != 15:
                                eobrun = (1 << r) - 1
                                if r:
                                    eobrun += read_bits(r)
                                hit_eob = True
                                break
                            val = 0
                            if s:
                                if s != 1:
                                    return None  # spec: s == 1 only
                                val = p1 if read_bit() else m1
                            # advance past r zero-history coefficients
                            # (ZRL: r=15, val=0 -> skips 16), refining
                            # every nonzero-history one on the way
                            while k <= se:
                                if ac[bi, k]:
                                    correct(bi, k)
                                else:
                                    if r == 0:
                                        if val:
                                            ac[bi, k] = val
                                        k += 1
                                        break
                                    r -= 1
                                k += 1
                        if hit_eob:
                            for kk in range(k, se + 1):
                                if ac[bi, kk]:
                                    correct(bi, kk)
            except IndexError:
                return None
            pos = endp
            continue
        pos += 2 + ln
    if coefs is None or w is None:
        return None
    qsels = [None] * len(coefs)
    for cid, ci in comp_ix.items():
        if comp_q[cid] not in qtables:
            return None
        qsels[ci] = comp_q[cid]
    A = _idct_matrix()
    zz = np.array(_JPEG_ZIGZAG)
    out = np.zeros((len(coefs), bh_ * 8, bw_ * 8), dtype=np.uint8)
    for ci in range(len(coefs)):
        q = np.array(qtables[qsels[ci]], dtype=np.float64)
        for by in range(bh_):
            for bx in range(bw_):
                f = np.zeros(64, dtype=np.float64)
                f[zz] = coefs[ci][by * bw_ + bx].astype(np.float64) * q
                block = A @ f.reshape(8, 8) @ A.T
                out[ci, by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                    np.clip(np.round(block + 128.0), 0, 255).astype(
                        np.uint8
                    )
                )
    return out[:, :h, :w]


def synth_jpeg_progressive_media(
    spark: SparkSession, n: int = N_JPEG_PROG_ASSETS
) -> DataFrame:
    """n real grayscale progressive (SOF2) JPEGs."""
    rows = []
    for i in range(n):
        w, h = 16 + 8 * (i % 3), 16 + 8 * (i % 2)
        rows.append(
            (i, "image", w, h, 0,
             bytearray(encode_jpeg_gray_progressive(i, w, h)))
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


N_JPEG_PROG_COLOR_ASSETS = 48


def encode_jpeg_color_progressive(asset_id: int, w: int, h: int) -> bytes:
    """A real 3-component 4:4:4 progressive JFIF (SOF2, five scans):
    MCU-interleaved DC first pass at Al=1 with independent per-
    component predictors, interleaved DC refinement (one raw bit per
    block per component), then one all-zero AC band scan PER
    component (T.81 G.1.1: progressive AC scans are single-
    component). Plane constants are the baseline color encoder's
    (_JPEG_COLOR_PLANES — asymmetric, so plane/MCU-order bugs break
    the hash); two quant tables and two DC Huffman tables keep the
    multi-table parse paths live."""
    import struct

    assert w % 8 == 0 and h % 8 == 0
    dc_huf = _huff_canonical(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_huf = _huff_canonical(_JPEG_PROG_AC_BITS, _JPEG_PROG_AC_VALS)
    bw_, bh_ = w // 8, h // 8

    def block_dc(ci: int, bx: int, by: int) -> int:
        _, ka, kx, ky = _JPEG_COLOR_PLANES[ci]
        return ((ka * asset_id + kx * bx + ky * by) % 256) - 128

    # Scan 1: interleaved DC first pass at Al=1.
    s1 = _BitWriter()
    prev = {0: 0, 1: 0, 2: 0}
    for by in range(bh_):
        for bx in range(bw_):
            for ci in range(3):
                v = block_dc(ci, bx, by) >> 1
                diff = v - prev[ci]
                prev[ci] = v
                s = _jpeg_category(diff)
                code, ln = dc_huf[s]
                s1.write(code, ln)
                if s:
                    s1.write(
                        diff if diff >= 0 else diff + (1 << s) - 1, s
                    )
    # Scan 2: interleaved DC refinement — low bit, MCU order.
    s2 = _BitWriter()
    for by in range(bh_):
        for bx in range(bw_):
            for ci in range(3):
                s2.write(block_dc(ci, bx, by) & 1, 1)
    # Scans 3-5: per-component AC band 1..63, all zero -> one EOBn.
    nb = bw_ * bh_
    r = nb.bit_length() - 1
    ac_scans = []
    for _ci in range(3):
        sc = _BitWriter()
        code, ln = ac_huf[r << 4]
        sc.write(code, ln)
        if r:
            sc.write(nb - (1 << r), r)
        ac_scans.append(sc)

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    dqt = seg(
        0xFFDB,
        bytes([0x00]) + bytes(_JPEG_QTABLE)
        + bytes([0x01]) + bytes(_JPEG_QTABLE),
    )
    sof = seg(
        0xFFC2,
        struct.pack(">BHHB", 8, h, w, 3)
        + bytes([1, 0x11, 0])
        + bytes([2, 0x11, 1])
        + bytes([3, 0x11, 1]),
    )
    dht = seg(
        0xFFC4,
        bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
        + bytes([0x01]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
        + bytes([0x10]) + bytes(_JPEG_PROG_AC_BITS)
        + bytes(_JPEG_PROG_AC_VALS),
    )
    sos1 = seg(0xFFDA, bytes([3, 1, 0x00, 2, 0x10, 3, 0x10, 0, 0, 0x01]))
    sos2 = seg(0xFFDA, bytes([3, 1, 0x00, 2, 0x10, 3, 0x10, 0, 0, 0x10]))
    app0 = seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out = (
        b"\xff\xd8" + app0 + dqt + sof + dht
        + sos1 + s1.flush()
        + sos2 + s2.flush()
    )
    for cid, sc in zip((1, 2, 3), ac_scans):
        out += seg(0xFFDA, bytes([1, cid, 0x00, 1, 63, 0x00])) + sc.flush()
    return out + b"\xff\xd9"


def synth_jpeg_progressive_color_media(
    spark: SparkSession, n: int = N_JPEG_PROG_COLOR_ASSETS
) -> DataFrame:
    """n real color progressive (SOF2, 4:4:4) JPEGs. Dims differ
    from the baseline-color asset grid so the two operators' outputs
    (same plane constants by design) cannot silently alias."""
    rows = []
    for i in range(n):
        w, h = 16 + 8 * (i % 4), 16 + 8 * ((i // 2) % 2)
        rows.append(
            (i, "image", w, h, 0,
             bytearray(encode_jpeg_color_progressive(i, w, h)))
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def mm_image_decode_jpeg_progressive_color(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """End-to-end REAL color progressive JPEG decode — the last
    documented progressive niche retired: SOF2 YCbCr at 1x1 with an
    MCU-interleaved DC first pass (independent per-component
    predictors), interleaved DC refinement, and per-component AC
    band scans, decoded by the general multi-component progressive
    decoder. Constant per-plane blocks quantize losslessly, so the
    oracle recomputes exact YCbCr integer sums in closed form (the
    asymmetric plane constants make an interleave-order or plane-
    swap bug break the hash).

    Scale: identical plumbing to the other decodes — payload bytes
    never shuffle, 9 ints per asset cross to the JVM.
    """
    import numpy as np

    def rows_of(aid, payload):
        planes = decode_jpeg_progressive(bytes(payload))
        if planes is None or planes.shape[0] != 3:
            return
        px = planes.astype(np.int64)
        h, w = px.shape[1], px.shape[2]
        yield (
            int(aid), w, h, (h // 8) * (w // 8),
            int(px[0].sum()), int(px[1].sum()),
            int(px[2].sum()), int((px[0] * px[0]).sum()),
            int(px[0][0, :].sum()),
        )

    media = synth_jpeg_progressive_color_media(spark).select(
        "asset_id", "payload"
    )
    return row_lane(media, rows_of, _JPEG_COLOR_STATS_SCHEMA).orderBy(
        "asset_id"
    )


def mm_image_decode_jpeg_progressive(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """End-to-end REAL progressive JPEG decode — the multi-scan SOF2
    layout web encoders emit ("blurry-then-sharp"): DC successive
    approximation across two scans plus an EOBn-coded AC band,
    decoded by accumulating coefficients across scans and running
    the IDCT once. Constant blocks quantize losslessly, so the
    oracle recomputes exact pixel sums; a wrong shift/refinement bit
    would move EVERY pixel by a visible amount and break the hash.
    The AC-first path with nonzero coefficients and split EOBRUNs is
    driven by hand-built streams in pytest.

    Scale: identical plumbing to the other decodes — payload bytes
    never shuffle, 7 ints per asset cross to the JVM.
    """
    import numpy as np

    def rows_of(aid, payload):
        img = decode_jpeg_progressive_gray(bytes(payload))
        if img is None:
            return
        px = img.astype(np.int64)
        yield (
            int(aid), img.shape[1], img.shape[0],
            (img.shape[0] // 8) * (img.shape[1] // 8),
            int(px.sum()), int((px * px).sum()),
            int(px[0, :].sum()),
        )

    media = synth_jpeg_progressive_media(spark).select(
        "asset_id", "payload"
    )
    return row_lane(media, rows_of, _JPEG_STATS_SCHEMA).orderBy(
        "asset_id"
    )


#: Real GIF87a (round-7): full LZW — the dictionary-based codec
#: family (GIF/TIFF-LZW/Unix compress) none of the other decoders
#: cover. The encoder is a REAL LZW compressor (greedy longest-match
#: string table, CLEAR/EOI codes, LSB-first variable-width packing,
#: 12-bit cap with mid-stream table reset) and the decoder rebuilds
#: the table code-by-code including the KwKwK self-reference case,
#: so the pair exercises genuine dictionary growth on the synthetic
#: pixel pattern (which repeats heavily — exactly what LZW likes).
N_GIF_ASSETS = 48
_GIF_MIN_CODE_SIZE = 8  # 256-entry grayscale palette


def encode_gif_gray(asset_id: int, w: int, h: int) -> bytes:
    """A real GIF87a: 256-gray global palette, one non-interlaced
    image, pixels px(x, y) = (11a + 5x + 7y) % 256, LZW-compressed
    with a genuine string-table encoder."""
    import struct

    px = bytes(
        (11 * asset_id + 5 * x + 7 * y) % 256
        for y in range(h)
        for x in range(w)
    )
    clear = 1 << _GIF_MIN_CODE_SIZE
    eoi = clear + 1

    codes: list[tuple[int, int]] = []  # (code, width at emit time)

    def fresh_table():
        return {bytes([i]): i for i in range(clear)}

    table = fresh_table()
    next_code = eoi + 1
    width = _GIF_MIN_CODE_SIZE + 1
    codes.append((clear, width))
    cur = b""
    for b in px:
        nxt = cur + bytes([b])
        if nxt in table:
            cur = nxt
            continue
        codes.append((table[cur], width))
        table[nxt] = next_code
        next_code += 1
        # GIF width bump happens when next_code EXCEEDS the current
        # width's range; at 12 bits the table freezes until CLEAR.
        if next_code > (1 << width) and width < 12:
            width += 1
        if next_code >= (1 << 12):
            codes.append((clear, width))
            table = fresh_table()
            next_code = eoi + 1
            width = _GIF_MIN_CODE_SIZE + 1
        cur = bytes([b])
    if cur:
        codes.append((table[cur], width))
    codes.append((eoi, width))

    # LSB-first bit packing into 255-byte sub-blocks.
    acc = n = 0
    stream = bytearray()
    for code, cw in codes:
        acc |= code << n
        n += cw
        while n >= 8:
            stream.append(acc & 0xFF)
            acc >>= 8
            n -= 8
    if n:
        stream.append(acc & 0xFF)
    blocks = bytearray()
    for i in range(0, len(stream), 255):
        chunk = stream[i : i + 255]
        blocks.append(len(chunk))
        blocks.extend(chunk)
    blocks.append(0x00)

    palette = bytes(v for i in range(256) for v in (i, i, i))
    return (
        b"GIF87a"
        + struct.pack("<HHBBB", w, h, 0xF7, 0, 0)  # global table, 8-bit
        + palette
        + b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
        + bytes([_GIF_MIN_CODE_SIZE])
        + bytes(blocks)
        + b"\x3b"
    )


def decode_gif_gray(payload: bytes):
    """REAL GIF87a/89a decode, stdlib+numpy only: header + logical
    screen descriptor, global color table, extension-block skipping,
    image descriptor, and full LZW decompression (variable-width
    LSB-first codes, CLEAR table resets, KwKwK case, 12-bit cap).
    Returns an (h, w) uint8 array of palette-mapped gray values
    (palette r==g==b required), or None for interlaced/local-table/
    color-palette/other-shape GIFs — documented out of scope."""
    import struct

    import numpy as np

    if len(payload) < 13 or payload[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    w, h, packed, _bg, _ar = struct.unpack_from("<HHBBB", payload, 6)
    pos = 13
    if not packed & 0x80:
        return None  # global color table required here
    gct_n = 2 << (packed & 7)
    if pos + 3 * gct_n > len(payload):
        return None
    pal = payload[pos : pos + 3 * gct_n]
    if any(pal[3 * i] != pal[3 * i + 1] or pal[3 * i] != pal[3 * i + 2]
           for i in range(gct_n)):
        return None  # gray palettes only (r == g == b)
    gray = np.frombuffer(pal, dtype=np.uint8)[0::3]
    pos += 3 * gct_n
    # Skip extension blocks (0x21 label, then sub-blocks) to the
    # image descriptor.
    while pos < len(payload) and payload[pos] == 0x21:
        pos += 2
        while pos < len(payload) and payload[pos] != 0:
            pos += 1 + payload[pos]
        pos += 1
    if pos + 10 > len(payload) or payload[pos] != 0x2C:
        return None
    _l, _t, iw, ih, ipacked = struct.unpack_from("<HHHHB", payload, pos + 1)
    pos += 10
    if ipacked & 0xC0:
        return None  # local color table / interlace out of scope
    if (iw, ih) != (w, h):
        return None
    min_code = payload[pos]
    pos += 1
    if not 2 <= min_code <= 8:
        return None
    # Collect the LZW byte stream from the sub-blocks.
    data = bytearray()
    while pos < len(payload):
        ln = payload[pos]
        pos += 1
        if ln == 0:
            break
        data.extend(payload[pos : pos + ln])
        pos += ln
    clear, eoi = 1 << min_code, (1 << min_code) + 1

    out = bytearray()
    acc = nbits = dpos = 0
    width = min_code + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    prev: bytes | None = None

    def read_code():
        nonlocal acc, nbits, dpos
        while nbits < width:
            if dpos >= len(data):
                return None
            acc |= data[dpos] << nbits
            dpos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        return code

    while True:
        code = read_code()
        if code is None:
            return None  # truncated stream
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = min_code + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= len(table):
                return None
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]  # the KwKwK case
            table.append(entry)
        else:
            return None
        out.extend(entry)
        prev = entry
        if len(table) >= (1 << width) and width < 12:
            width += 1
    if len(out) != w * h:
        return None
    idx = np.frombuffer(bytes(out), dtype=np.uint8).reshape(h, w)
    return gray[idx]


def synth_gif_media(spark: SparkSession, n: int = N_GIF_ASSETS) -> DataFrame:
    """n real GIF87a images, deterministic gray pixel pattern."""
    rows = []
    for i in range(n):
        w, h = 20 + 4 * (i % 4), 14 + 3 * (i % 3)
        rows.append(
            (i, "image", w, h, 0, bytearray(encode_gif_gray(i, w, h)))
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


_GIF_STATS_SCHEMA = (
    "asset_id bigint, width int, height int, n_px bigint, "
    "sum_px bigint, ssq_px bigint, row0_sum bigint"
)


def mm_image_decode_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL GIF decode: genuine LZW compression on the
    encode side (string-table growth, variable-width codes, 12-bit
    resets) and genuine LZW decompression on the decode side, inside
    Arrow-batched mapInPandas; the decoded pixels are exact, so the
    oracle recomputes the pixel sums from the closed-form pattern —
    a value check of the entire dictionary machinery (one table
    entry wrong and every later pixel shifts). ``row0_sum`` is
    x-asymmetric to catch scan-order bugs.

    Scale: identical plumbing to the other decodes — payload bytes
    never shuffle, 7 ints per asset cross to the JVM.
    """
    import numpy as np

    def rows_of(aid, payload):
        img = decode_gif_gray(bytes(payload))
        if img is None:
            return
        px = img.astype(np.int64)
        yield (
            int(aid), img.shape[1], img.shape[0],
            img.shape[0] * img.shape[1],
            int(px.sum()), int((px * px).sum()),
            int(px[0, :].sum()),
        )

    media = synth_gif_media(spark).select("asset_id", "payload")
    return row_lane(media, rows_of, _GIF_STATS_SCHEMA).orderBy("asset_id")


#: Perceptual-hash dedup constants. 9x8 box grid -> 64-bit dHash
#: (8 row bytes); pigeonhole on the 8 row bytes: hamming <= 6 means
#: at most 6 differing BYTES, so any true near-dup pair shares >= 2
#: equal row bytes and the (row_pos, row_byte) equi-join has EXACT
#: recall (same guarantee family as dedup_simhash's 7-chunk split).

PHASH_GRID_X = 9
PHASH_GRID_Y = 8
PHASH_MAX_HAMMING = 6
N_PHASH_BASE = 40
PHASH_W, PHASH_H = 24, 16
PHASH_VARIANT_DELTA = 9
PHASH_TOP_PAIRS = 50


def _phash_base_pixel(a: int, x: int, y: int) -> int:
    """Closed-form synthetic luma for base asset ``a`` — enough
    per-asset structure that distinct bases land >= 8 hamming apart
    (verified at build time), so planted variants are the ONLY
    near-dups. Mirrored verbatim in the oracle SQL."""
    return (
        a * 37
        + ((a * a) % 101) * 3
        + (x * x % 97) * (1 + a % 7)
        + (y * y % 89) * (1 + a % 5)
        + (x * y) % 61
        + x * (a % 11)
    ) % 256


def encode_phash_pgm(asset_id: int, base: int, variant: bool) -> bytes:
    """Real P5 re-encode of base ``base``: the header comment carries
    the ASSET id, so even a pixel-identical variant differs bytewise
    (exact-digest dedup misses it; that is the gap this operator
    closes). Variants add a clamped brightness shift plus a sparse
    additive tweak — the classic 'slightly edited copy'."""
    head = f"P5\n# phash asset {asset_id}\n{PHASH_W} {PHASH_H}\n255\n"
    px = bytearray()
    for y in range(PHASH_H):
        for x in range(PHASH_W):
            g = _phash_base_pixel(base, x, y)
            if variant:
                g = min(255, g + PHASH_VARIANT_DELTA)
                if (x * 7 + y * 11) % 83 == 0:
                    g = min(255, g + 40)
            px.append(g)
    return head.encode() + bytes(px)


def synth_phash_media(spark: SparkSession) -> DataFrame:
    """N_PHASH_BASE distinct images + one near-dup variant for every
    4th base (variant asset_id = N_PHASH_BASE + base/4)."""
    rows = []
    for a in range(N_PHASH_BASE):
        rows.append(
            (a, "image", PHASH_W, PHASH_H, 0,
             bytearray(encode_phash_pgm(a, a, False)))
        )
    for b in range(0, N_PHASH_BASE, 4):
        vid = N_PHASH_BASE + b // 4
        rows.append(
            (vid, "image", PHASH_W, PHASH_H, 0,
             bytearray(encode_phash_pgm(vid, b, True)))
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def mm_image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate pairs via perceptual dHash + pigeonhole
    byte buckets — the 'which images are near-copies' question a
    100-TB image corpus asks first, which exact-digest
    ``mm_payload_dedup`` cannot answer (re-encodes and brightness
    edits change every byte). Text had 10+ near-dup operators;
    this is the image-side twin of ``dedup_simhash``
    (dedup.py:666 pigeonhole recipe).

    Per asset (row-local, inside the existing Arrow-batched decode
    lane): REAL P5 decode -> 9x8 integer box-mean downsample (cell
    of x is ``x*9 div w`` — a pure integer expression both engines
    evaluate identically) -> 64-bit dHash as 8 row bytes
    (bit cx set iff mean[cx+1] > mean[cx]). Only 8 small ints per
    asset cross the Arrow boundary; payload bytes never shuffle.

    Candidates meet ONLY inside a shared (row_pos, row_byte) bucket:
    hamming <= 6 implies <= 6 differing bytes of 8, so >= 2 buckets
    collide and recall is exact by pigeonhole — never all-pairs.
    Verified per candidate with bit_count(xor) over the 8 bytes.
    The oracle regenerates pixels from the closed form and
    brute-forces all pairs (sound because the pigeonhole candidate
    set provably contains every pair at hamming <= 6).

    The dHash itself lives in :func:`_phash_pairs` (single
    implementation, shared with ``mm_phash_cc_keepset``).
    """
    return (
        _phash_pairs(spark)
        .orderBy("hamming", "asset_a", "asset_b")
        .limit(PHASH_TOP_PAIRS)
    )


def _phash_pairs(spark: SparkSession) -> DataFrame:
    """The verified near-dup pair frame behind
    :func:`mm_image_phash_dedup` and :func:`mm_phash_cc_keepset` —
    decode → dHash row bytes → (row_pos, row_byte) pigeonhole bucket
    join → bit_count verify at PHASH_MAX_HAMMING."""
    import numpy as np

    def rows_of(aid, payload):
        img = decode_pgm(bytes(payload))
        if img is None:
            return
        h, w = img.shape
        if w < PHASH_GRID_X or h < PHASH_GRID_Y:
            return
        gxi = (np.arange(w) * PHASH_GRID_X) // w
        gyi = (np.arange(h) * PHASH_GRID_Y) // h
        cell = gyi[:, None] * PHASH_GRID_X + gxi[None, :]
        n_cells = PHASH_GRID_X * PHASH_GRID_Y
        sums = np.bincount(
            cell.ravel(),
            weights=img.astype(np.int64).ravel(),
            minlength=n_cells,
        ).astype(np.int64)
        cnts = np.bincount(cell.ravel(), minlength=n_cells)
        means = (sums // cnts).reshape(
            PHASH_GRID_Y, PHASH_GRID_X
        )
        rows = []
        for gy in range(PHASH_GRID_Y):
            byte = 0
            for cx in range(PHASH_GRID_X - 1):
                if means[gy, cx + 1] > means[gy, cx]:
                    byte |= 1 << cx
            rows.append(int(byte))
        yield (int(aid), rows)

    media = synth_phash_media(spark).select("asset_id", "payload")
    hashed = row_lane(media, rows_of, "asset_id bigint, rows array<int>")
    chunks = hashed.select(
        "asset_id",
        "rows",
        F.posexplode("rows").alias("pos", "rbyte"),
    ).localCheckpoint()
    a = chunks.alias("a")
    b = chunks.alias("b")
    hamming = F.expr(
        "aggregate(zip_with(a.rows, b.rows,"
        " (x, y) -> bit_count(x ^ y)),"
        " 0L, (s, v) -> s + cast(v as bigint))"
    )
    return (
        a.join(
            b,
            (F.col("a.pos") == F.col("b.pos"))
            & (F.col("a.rbyte") == F.col("b.rbyte"))
            & (F.col("a.asset_id") < F.col("b.asset_id")),
        )
        .select(
            F.col("a.asset_id").alias("asset_a"),
            F.col("b.asset_id").alias("asset_b"),
            hamming.alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= PHASH_MAX_HAMMING)
    )


#: Min-label rounds the SQL oracles of the pHash component queries
#: unroll. The engine runs :func:`graph.connected_components` to the
#: exact fixed point; the two agree while every component's diameter
#: is at most this, and a deeper component shows as a hash FAIL.
PHASH_CC_ROUNDS = 4


def mm_phash_cc_keepset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end image dedup keep-set: perceptual-hash near-dup
    pairs → connected components (exact min-label fixed point) → corpus
    keep/drop accounting — the image twin of ``dedup_cc_keepset``,
    and the number a storage/curation team actually acts on ("how
    many images survive near-dup collapse?").

    Scale shape: the pair frame is the pigeonhole bucket join
    (`_phash_pairs`); label propagation touches only EDGE nodes (a
    vanishing fraction of the corpus); isolated assets never enter
    the loop and are kept by definition.
    """
    pairs = _phash_pairs(spark)
    edges = (
        pairs.select(
            F.col("asset_a").alias("src"), F.col("asset_b").alias("dst")
        )
        .unionAll(
            pairs.select(
                F.col("asset_b").alias("src"),
                F.col("asset_a").alias("dst"),
            )
        )
        .distinct()
        .localCheckpoint()
    )
    labels = connected_components(edges, "mm_phash_cc_keepset")
    comp = labels.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    n_assets = synth_phash_media(spark).count()
    return comp.agg(
        F.lit(n_assets).cast("bigint").alias("n_assets"),
        F.count(F.lit(1)).cast("bigint").alias("n_dup_groups"),
        F.sum("sz").cast("bigint").alias("n_assets_in_dup_groups"),
        (F.lit(n_assets) - (F.sum("sz") - F.count(F.lit(1))))
        .cast("bigint")
        .alias("n_kept"),
        F.max("sz").cast("bigint").alias("max_component_size"),
    )


_PHASH_PAIRS_SQL = f"""assets AS (
        SELECT a AS asset_id, a AS base, FALSE AS is_variant
        FROM range(0, {N_PHASH_BASE}) t(a)
        UNION ALL
        SELECT {N_PHASH_BASE} + b // 4, b, TRUE
        FROM range(0, {N_PHASH_BASE}, 4) t(b)
    ),
    px AS (
        SELECT asset_id,
               x, y,
               CASE WHEN is_variant THEN
                   LEAST(255, LEAST(255, gbase + {PHASH_VARIANT_DELTA})
                       + CASE WHEN (x*7 + y*11) % 83 = 0
                              THEN 40 ELSE 0 END)
               ELSE gbase END AS g
        FROM (
            SELECT asset_id, is_variant, x, y,
                   (base*37 + ((base*base) % 101) * 3
                    + (x*x % 97) * (1 + base % 7)
                    + (y*y % 89) * (1 + base % 5)
                    + (x*y) % 61 + x * (base % 11)) % 256 AS gbase
            FROM assets,
                 range(0, {PHASH_W}) tx(x),
                 range(0, {PHASH_H}) ty(y)
        )
    ),
    cells AS (
        SELECT asset_id,
               (x * {PHASH_GRID_X}) // {PHASH_W} AS gx,
               (y * {PHASH_GRID_Y}) // {PHASH_H} AS gy,
               SUM(g) // COUNT(*) AS mean_g
        FROM px GROUP BY 1, 2, 3
    ),
    rbytes AS (
        SELECT a.asset_id, a.gy,
               SUM(CASE WHEN b.mean_g > a.mean_g
                        THEN 1 << a.gx ELSE 0 END) AS rbyte
        FROM cells a
        JOIN cells b ON a.asset_id = b.asset_id AND a.gy = b.gy
                     AND b.gx = a.gx + 1
        WHERE a.gx < {PHASH_GRID_X - 1}
        GROUP BY a.asset_id, a.gy
    ),
    pairs AS MATERIALIZED (
        SELECT CAST(a.asset_id AS BIGINT) AS asset_a,
               CAST(b.asset_id AS BIGINT) AS asset_b,
               CAST(SUM(bit_count(xor(a.rbyte, b.rbyte))) AS BIGINT)
                   AS hamming
        FROM rbytes a
        JOIN rbytes b ON a.gy = b.gy AND a.asset_id < b.asset_id
        GROUP BY 1, 2
        HAVING SUM(bit_count(xor(a.rbyte, b.rbyte)))
               <= {PHASH_MAX_HAMMING}
    )"""

_PHASH_ORACLE = f"""
    WITH {_PHASH_PAIRS_SQL}
    SELECT asset_a, asset_b, hamming
    FROM pairs
    ORDER BY hamming, asset_a, asset_b LIMIT {PHASH_TOP_PAIRS}
"""

def mm_audio_spectral_flatness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Spectral LOG-flatness (Wiener-entropy style tonality measure)
    per audio asset over the MEL_PERIODS DFT bins: mean(ln(1+p)) −
    ln(1 + mean(p)). Near 0 = flat/noise-like spectrum; strongly
    negative = tonal (energy concentrated in few bins) — the
    speech/music/noise triage signal of an audio-QC pass, expressed
    in log space so no exp() ever runs (two ln() calls are the only
    libm crossings, both behind the floor-6 truncation the DFT
    family already uses).

    Cross-engine: bin powers are the floor-6 ints-derived doubles of
    :func:`_bin_powers`; per-bin ln terms are floor-6 truncated and
    summed as DECIMAL (order-free); the bin count is a constant so
    the mean is one exact division.
    """
    f6 = lambda c: F.floor(c * 1e6) / 1e6  # noqa: E731
    nb = len(MEL_PERIODS)
    agg = _bin_powers(spark).groupBy("asset_id").agg(
        F.sum(
            f6(F.log(F.lit(1.0) + F.col("power"))).cast("decimal(38,6)")
        ).alias("slog"),
        F.sum(F.col("power").cast("decimal(38,6)")).alias("sp"),
        F.count(F.lit(1)).cast("int").alias("n_bins"),
    )
    flat = (
        F.col("slog").cast("double") / nb
        - F.log(F.lit(1.0) + F.col("sp").cast("double") / nb)
    )
    return agg.select(
        "asset_id",
        "n_bins",
        f6(F.col("sp").cast("double") / nb).alias("mean_power"),
        f6(flat).alias("log_flatness"),
    ).orderBy("asset_id")


#: SSIM stabilizers (Wang et al. 2004) at L = 255:
#: C1 = (0.01·255)², C2 = (0.03·255)². Literals in both engines.
SSIM_C1 = 6.5025
SSIM_C2 = 58.5225


def mm_image_ssim_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural similarity (SSIM, global window) for every
    phash-detected near-dup image pair — the verify-with-a-quality-
    metric stage a production image-dedup runs after candidate
    detection (hamming says "probably the same picture"; SSIM says
    HOW close, and separates brightness-tweaked re-encodes from
    genuinely different images that happened to collide).

    Plan: each decoded image becomes per-pixel rows (asset, x, y, g)
    — Arrow-batched, bounded by the synthetic asset set like every
    mm_* op; (x, y) come from the DECODED array shape, so the pair
    join below keys on true spatial position (the round-10 advisor
    flagged the previous flattened ravel index: it agreed with the
    oracle's (x, y) key only because every phash asset shares one
    width — differing widths would have silently compared misaligned
    pixels). The candidate pairs (broadcast — band-bounded) join the
    pixel frame twice on (asset, x, y) and reduce to exact BIGINT
    moment sums (n, Σx, Σy, Σx², Σy², Σxy); the SSIM formula then
    runs engine-side on doubles derived from exact integers — no
    rounding can differ across engines before the final floor-6.
    """
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                img = decode_pgm(bytes(payload))
                if img is None:
                    continue
                arr = img.astype(np.int64)
                ys, xs = np.indices(arr.shape)
                out.append(
                    pd.DataFrame(
                        {
                            "asset_id": np.int64(aid),
                            "x": xs.ravel().astype(np.int32),
                            "y": ys.ravel().astype(np.int32),
                            "g": arr.ravel(),
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True) if out else pd.DataFrame()

    media = synth_phash_media(spark).select("asset_id", "payload")
    px = media.mapInPandas(
        batches, "asset_id bigint, x int, y int, g bigint"
    )
    pairs = _phash_pairs(spark).select("asset_a", "asset_b", "hamming")
    pa = px.select(
        F.col("asset_id").alias("asset_a"),
        "x",
        "y",
        F.col("g").alias("ga"),
    )
    pb = px.select(
        F.col("asset_id").alias("asset_b"),
        "x",
        "y",
        F.col("g").alias("gb"),
    )
    sums = (
        F.broadcast(pairs)
        .join(pa, "asset_a")
        .join(pb, ["asset_b", "x", "y"])
        .groupBy("asset_a", "asset_b", "hamming")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("ga").cast("bigint").alias("sx"),
            F.sum("gb").cast("bigint").alias("sy"),
            F.sum(F.col("ga") * F.col("ga")).cast("bigint").alias("sxx"),
            F.sum(F.col("gb") * F.col("gb")).cast("bigint").alias("syy"),
            F.sum(F.col("ga") * F.col("gb")).cast("bigint").alias("sxy"),
        )
    )
    n = F.col("n").cast("double")
    mx = F.col("sx").cast("double") / n
    my = F.col("sy").cast("double") / n
    vx = F.col("sxx").cast("double") / n - mx * mx
    vy = F.col("syy").cast("double") / n - my * my
    cov = F.col("sxy").cast("double") / n - mx * my
    ssim = (
        (2.0 * mx * my + F.lit(SSIM_C1))
        * (2.0 * cov + F.lit(SSIM_C2))
    ) / (
        (mx * mx + my * my + F.lit(SSIM_C1))
        * (vx + vy + F.lit(SSIM_C2))
    )
    f6 = lambda c: F.floor(c * 1e6) / 1e6  # noqa: E731
    return sums.select(
        "asset_a",
        "asset_b",
        "hamming",
        f6(ssim).alias("ssim"),
    ).orderBy("asset_a", "asset_b")


#: Video near-dup detection: frame-level dHash. 12 base videos of 6
#: frames; every 3rd base gets a "re-encode" variant (brightness
#: shift + sparse tweak per frame). Validated at build time:
#: variant-vs-base frame hamming <= 1, cross-base frame hamming
#: >= 12 — planted re-encodes are the ONLY sub-threshold matches.
N_VPHASH_BASE = 12
VPHASH_FRAMES = 6
VPHASH_W, VPHASH_H = 24, 16
VPHASH_MIN_FRAMES = 4  # matched frames needed for a dup verdict


def _vphash_pixel(a: int, t: int, x: int, y: int) -> int:
    """Closed-form luma of frame ``t`` of base video ``a`` —
    quadratic x/y structure (a linear ramp would make every dHash
    identical) with the frame index mixed into the coefficients so
    frames differ within a video. Mirrored verbatim in SQL."""
    return (
        a * 37
        + ((a * a) % 101) * 3
        + (x * x % 97) * (1 + (a + t) % 7)
        + (y * y % 89) * (1 + a % 5)
        + (x * y) % 61
        + x * ((a + 2 * t) % 11)
        + t * 29
    ) % 256


def encode_vphash_y4m(asset_id: int, base: int, variant: bool) -> bytes:
    """Real C444 y4m of VPHASH_FRAMES frames: Y from
    :func:`_vphash_pixel` of ``base`` (variants add the clamped
    brightness shift + sparse tweak — a re-encode, bytewise
    different everywhere), U/V constant 128."""
    import numpy as np

    parts = [
        f"YUV4MPEG2 W{VPHASH_W} H{VPHASH_H} F25:1 Ip A1:1 C444\n".encode()
    ]
    uv = np.full((VPHASH_H, VPHASH_W), 128, dtype=np.uint8)
    for t in range(VPHASH_FRAMES):
        yp = np.zeros((VPHASH_H, VPHASH_W), dtype=np.uint8)
        for y in range(VPHASH_H):
            for x in range(VPHASH_W):
                g = _vphash_pixel(base, t, x, y)
                if variant:
                    g = min(255, g + PHASH_VARIANT_DELTA)
                    if (x * 7 + y * 11) % 83 == 0:
                        g = min(255, g + 40)
                yp[y, x] = g
        parts.append(b"FRAME\n" + yp.tobytes() + uv.tobytes() + uv.tobytes())
    return b"".join(parts)


def synth_vphash_media(spark: SparkSession) -> DataFrame:
    """N_VPHASH_BASE distinct videos + one re-encoded variant for
    every 3rd base (variant asset_id = N_VPHASH_BASE + base/3)."""
    rows = []
    for a in range(N_VPHASH_BASE):
        rows.append(
            (a, "video", VPHASH_W, VPHASH_H, 0,
             bytearray(encode_vphash_y4m(a, a, False)))
        )
    for b in range(0, N_VPHASH_BASE, 3):
        vid = N_VPHASH_BASE + b // 3
        rows.append(
            (vid, "video", VPHASH_W, VPHASH_H, 0,
             bytearray(encode_vphash_y4m(vid, b, True)))
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


_SSIM_ORACLE = f"""
    WITH {_PHASH_PAIRS_SQL},
    moments AS (
        SELECT p.asset_a, p.asset_b, p.hamming,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(a.g) AS BIGINT) AS sx,
               CAST(SUM(b.g) AS BIGINT) AS sy,
               CAST(SUM(a.g * a.g) AS BIGINT) AS sxx,
               CAST(SUM(b.g * b.g) AS BIGINT) AS syy,
               CAST(SUM(a.g * b.g) AS BIGINT) AS sxy
        FROM pairs p
        JOIN px a ON a.asset_id = p.asset_a
        JOIN px b ON b.asset_id = p.asset_b
                 AND b.x = a.x AND b.y = a.y
        GROUP BY 1, 2, 3
    )
    SELECT asset_a, asset_b, hamming,
           floor(((2.0 * (sx / CAST(n AS DOUBLE))
                       * (sy / CAST(n AS DOUBLE)) + {SSIM_C1!r})
                  * (2.0 * (sxy / CAST(n AS DOUBLE)
                            - (sx / CAST(n AS DOUBLE))
                              * (sy / CAST(n AS DOUBLE))) + {SSIM_C2!r}))
                 / (((sx / CAST(n AS DOUBLE)) * (sx / CAST(n AS DOUBLE))
                     + (sy / CAST(n AS DOUBLE)) * (sy / CAST(n AS DOUBLE))
                     + {SSIM_C1!r})
                    * ((sxx / CAST(n AS DOUBLE)
                        - (sx / CAST(n AS DOUBLE)) * (sx / CAST(n AS DOUBLE)))
                       + (syy / CAST(n AS DOUBLE)
                          - (sy / CAST(n AS DOUBLE)) * (sy / CAST(n AS DOUBLE)))
                       + {SSIM_C2!r}))
                 * 1e6) / 1e6 AS ssim
    FROM moments
    ORDER BY asset_a, asset_b
"""

_VPHASH_ORACLE = f"""
    WITH assets AS (
        SELECT a AS asset_id, a AS base, FALSE AS is_variant
        FROM range(0, {N_VPHASH_BASE}) t(a)
        UNION ALL
        SELECT {N_VPHASH_BASE} + b // 3, b, TRUE
        FROM range(0, {N_VPHASH_BASE}, 3) t(b)
    ),
    px AS (
        SELECT asset_id, t, x, y,
               CASE WHEN is_variant THEN
                   LEAST(255, LEAST(255, gbase + {PHASH_VARIANT_DELTA})
                       + CASE WHEN (x*7 + y*11) % 83 = 0
                              THEN 40 ELSE 0 END)
               ELSE gbase END AS g
        FROM (
            SELECT asset_id, is_variant, tf.t, x, y,
                   (base*37 + ((base*base) % 101) * 3
                    + (x*x % 97) * (1 + (base + tf.t) % 7)
                    + (y*y % 89) * (1 + base % 5)
                    + (x*y) % 61 + x * ((base + 2*tf.t) % 11)
                    + tf.t * 29) % 256 AS gbase
            FROM assets,
                 range(0, {VPHASH_FRAMES}) tf(t),
                 range(0, {VPHASH_W}) tx(x),
                 range(0, {VPHASH_H}) ty(y)
        )
    ),
    cells AS (
        SELECT asset_id, t,
               (x * {PHASH_GRID_X}) // {VPHASH_W} AS gx,
               (y * {PHASH_GRID_Y}) // {VPHASH_H} AS gy,
               SUM(g) // COUNT(*) AS mean_g
        FROM px GROUP BY 1, 2, 3, 4
    ),
    rbytes AS (
        SELECT a.asset_id, a.t, a.gy,
               SUM(CASE WHEN b.mean_g > a.mean_g
                        THEN 1 << a.gx ELSE 0 END) AS rbyte
        FROM cells a
        JOIN cells b ON a.asset_id = b.asset_id AND a.t = b.t
                     AND a.gy = b.gy AND b.gx = a.gx + 1
        WHERE a.gx < {PHASH_GRID_X - 1}
        GROUP BY a.asset_id, a.t, a.gy
    ),
    fpairs AS MATERIALIZED (
        SELECT CAST(a.asset_id AS BIGINT) AS asset_a, a.t AS frame_a,
               CAST(b.asset_id AS BIGINT) AS asset_b, b.t AS frame_b,
               CAST(SUM(bit_count(xor(a.rbyte, b.rbyte))) AS BIGINT)
                   AS hamming
        FROM rbytes a
        JOIN rbytes b ON a.gy = b.gy AND a.asset_id < b.asset_id
        GROUP BY 1, 2, 3, 4
        HAVING SUM(bit_count(xor(a.rbyte, b.rbyte)))
               <= {PHASH_MAX_HAMMING}
    )
    SELECT asset_a, asset_b,
           CAST(COUNT(*) AS BIGINT) AS n_frame_pairs,
           CAST(COUNT(DISTINCT frame_a) AS BIGINT) AS n_frames_a_matched,
           CAST(MIN(hamming) AS BIGINT) AS min_hamming,
           COUNT(DISTINCT frame_a) >= {VPHASH_MIN_FRAMES} AS is_dup
    FROM fpairs
    GROUP BY asset_a, asset_b
    ORDER BY asset_a, asset_b
"""


def mm_video_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-duplicate detection by FRAME-level perceptual
    hashing — the re-encoded/re-uploaded-video question an
    exact-digest pass cannot answer (a brightness tweak changes every
    byte of every frame). Per frame (row-local, Arrow-batched): REAL
    y4m decode → luma dHash (the mm_image_phash_dedup 9×8 box-mean
    recipe) → 8 small ints per frame cross Arrow. Candidate
    frame pairs meet ONLY inside a shared (row_pos, row_byte)
    pigeonhole bucket across DIFFERENT assets (hamming ≤ 6 of 8
    bytes ⇒ ≥ 2 equal bytes ⇒ ≥ 1 shared bucket — recall exact, no
    all-pairs), are verified with bit_count(xor), then roll up per
    asset pair: a pair is a duplicate VIDEO when ≥ VPHASH_MIN_FRAMES
    of its frames match. The oracle regenerates pixels in closed
    form and brute-forces all frame pairs (sound because pigeonhole
    recall is exact).
    """
    import numpy as np

    def rows_of(aid, payload):
        dec = decode_y4m(bytes(payload))
        if dec is None:
            return
        w, h, frames = dec
        if w < PHASH_GRID_X or h < PHASH_GRID_Y:
            return
        gxi = (np.arange(w) * PHASH_GRID_X) // w
        gyi = (np.arange(h) * PHASH_GRID_Y) // h
        cell = gyi[:, None] * PHASH_GRID_X + gxi[None, :]
        n_cells = PHASH_GRID_X * PHASH_GRID_Y
        cnts = np.bincount(cell.ravel(), minlength=n_cells)
        for t, fr in enumerate(frames):
            luma = fr[0].astype(np.int64)
            sums = np.bincount(
                cell.ravel(), weights=luma.ravel(),
                minlength=n_cells,
            ).astype(np.int64)
            means = (sums // cnts).reshape(
                PHASH_GRID_Y, PHASH_GRID_X
            )
            rows = []
            for gy in range(PHASH_GRID_Y):
                byte = 0
                for cx in range(PHASH_GRID_X - 1):
                    if means[gy, cx + 1] > means[gy, cx]:
                        byte |= 1 << cx
                rows.append(int(byte))
            yield (int(aid), t, rows)

    media = synth_vphash_media(spark).select("asset_id", "payload")
    hashes = row_lane(
        media, rows_of, "asset_id bigint, frame int, rows array<int>"
    ).localCheckpoint()
    buckets = hashes.select(
        "asset_id",
        "frame",
        F.posexplode("rows").alias("gy", "rbyte"),
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.gy") == F.col("b.gy"))
            & (F.col("a.rbyte") == F.col("b.rbyte"))
            & (F.col("a.asset_id") < F.col("b.asset_id")),
        )
        .select(
            F.col("a.asset_id").alias("asset_a"),
            F.col("a.frame").alias("frame_a"),
            F.col("b.asset_id").alias("asset_b"),
            F.col("b.frame").alias("frame_b"),
        )
        .distinct()
    )
    ra = hashes.select(
        F.col("asset_id").alias("asset_a"),
        F.col("frame").alias("frame_a"),
        F.col("rows").alias("rows_a"),
    )
    rb = hashes.select(
        F.col("asset_id").alias("asset_b"),
        F.col("frame").alias("frame_b"),
        F.col("rows").alias("rows_b"),
    )
    hamming = F.expr(
        "aggregate(zip_with(rows_a, rows_b,"
        " (x, y) -> bit_count(x ^ y)), 0, (s, v) -> s + v)"
    )
    matched = (
        F.broadcast(cands)
        .join(ra, ["asset_a", "frame_a"])
        .join(rb, ["asset_b", "frame_b"])
        .select(
            "asset_a",
            "frame_a",
            "asset_b",
            "frame_b",
            hamming.alias("hamming"),
        )
        .where(F.col("hamming") <= PHASH_MAX_HAMMING)
    )
    return (
        matched.groupBy("asset_a", "asset_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_frame_pairs"),
            F.countDistinct("frame_a")
            .cast("bigint")
            .alias("n_frames_a_matched"),
            F.min("hamming").cast("bigint").alias("min_hamming"),
        )
        .withColumn(
            "is_dup", F.col("n_frames_a_matched") >= VPHASH_MIN_FRAMES
        )
        .orderBy("asset_a", "asset_b")
    )


def _phash_cc_oracle() -> str:
    n_assets = N_PHASH_BASE + N_PHASH_BASE // 4
    label_ctes = ["""l0 AS MATERIALIZED (
        SELECT DISTINCT src AS node, src AS label FROM vp
    )"""]
    for k in range(1, PHASH_CC_ROUNDS + 1):
        label_ctes.append(f"""l{k} AS MATERIALIZED (
        SELECT l.node,
               LEAST(l.label, COALESCE(m.nl, l.label)) AS label
        FROM l{k - 1} l
        LEFT JOIN (
            SELECT e.dst AS node2, MIN(l2.label) AS nl
            FROM vp e JOIN l{k - 1} l2 ON e.src = l2.node
            GROUP BY e.dst
        ) m ON l.node = m.node2
    )""")
    chain = ",\n    ".join(label_ctes)
    return f"""
    WITH {_PHASH_PAIRS_SQL},
    vp AS MATERIALIZED (
        SELECT asset_a AS src, asset_b AS dst FROM pairs
        UNION ALL
        SELECT asset_b, asset_a FROM pairs
    ),
    {chain},
    comp AS (
        SELECT label, CAST(COUNT(*) AS BIGINT) AS sz
        FROM l{PHASH_CC_ROUNDS} GROUP BY label
    )
    SELECT CAST({n_assets} AS BIGINT) AS n_assets,
           CAST(COUNT(*) AS BIGINT) AS n_dup_groups,
           CAST(SUM(sz) AS BIGINT) AS n_assets_in_dup_groups,
           CAST({n_assets} - (SUM(sz) - COUNT(*)) AS BIGINT) AS n_kept,
           CAST(MAX(sz) AS BIGINT) AS max_component_size
    FROM comp
"""


#: Cross-modal pair dedup (round-14): caption length in words, the
#: verify threshold on exact word-3-gram jaccard, and the word seed
#: for the planted unrelated caption (any seed in 41..96 — outside
#: every base/variant seed class mod 97 — yields a caption sharing
#: no 3-gram with any other).
CROSSMODAL_NW = 12
CROSSMODAL_MIN_JAC = 0.5
CROSSMODAL_UNREL_SEED = 77


def _crossmodal_caption(cseed: int, paraphrase: bool) -> str:
    """Closed-form caption for seed ``cseed``: CROSSMODAL_NW words
    'w<(cseed·31 + k·17 + k² mod 13) mod 97>'; a paraphrase swaps
    the LAST word (word-3-gram jaccard 9/11 ≈ 0.818 vs the plain
    form — above the verify threshold, below exact-dup). Mirrored
    verbatim in the oracle SQL."""
    ws = [
        f"w{(cseed * 31 + k * 17 + (k * k) % 13) % 97}"
        for k in range(CROSSMODAL_NW)
    ]
    if paraphrase:
        ws[-1] = f"p{(cseed * 29 + 7) % 97}"
    return " ".join(ws)


def synth_caption_table(spark: SparkSession) -> DataFrame:
    """One caption per phash asset — the text side of the (image,
    caption) pairs. Planted classes: every image variant carries a
    PARAPHRASED caption ('both'-modality dup) except base 8's
    variant, which carries an unrelated caption (image_only); asset
    3 carries a paraphrase of asset 1's caption over a DIFFERENT
    image (caption_only)."""
    rows = []
    for a in range(N_PHASH_BASE):
        cs, p = (1, True) if a == 3 else (a, False)
        rows.append((a, _crossmodal_caption(cs, p)))
    for b in range(0, N_PHASH_BASE, 4):
        cs, p = (
            (CROSSMODAL_UNREL_SEED, False) if b == 8 else (b, True)
        )
        rows.append((N_PHASH_BASE + b // 4, _crossmodal_caption(cs, p)))
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def mm_pair_crossmodal_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CROSS-MODAL PAIR-LEVEL DEDUP — training pipelines dedup
    (image, caption) PAIRS, not modalities independently: the same
    image re-encoded with a paraphrased caption is one redundant
    SAMPLE, while the same image under a genuinely different caption
    (or one caption over different images) is signal worth keeping.
    Candidates surface when EITHER side collides — the image's
    pigeonhole phash buckets (`_phash_pairs`, recall-exact at
    hamming ≤ PHASH_MAX_HAMMING) OR the caption's MinHash band
    buckets (dedup.py `minhash_bands_for`) — then every candidate is
    verified on BOTH modalities (image: pigeonhole-verified hamming;
    caption: exact word-3-gram jaccard) and typed:

    - ``both`` — image near-dup AND caption jaccard ≥ threshold:
      the redundant-sample class; these edges drive the keep/drop
      clustering (min-label components to the exact fixed point).
    - ``image_only`` / ``caption_only`` — single-modality near-dups,
      REPORTED per pair (the curation audit trail) but never
      dropped.

    Output: one row per pair with its cluster, cluster size, typed
    partner counts, and the keep verdict (cluster representative =
    min pair id).

    Scale shape: both candidate generators are the existing bounded
    bucket joins (never all-pairs); verification touches candidate
    pairs only; label propagation touches only 'both'-edge nodes.
    """
    from postgres_s3_etl_spark.operators.dedup import (
        _shingles_expr,
        _words_col,
        minhash_bands_for,
    )

    caps = synth_caption_table(spark)
    bands = minhash_bands_for(caps)
    cap_cand = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b")
        )
        .distinct()
    )
    img = _phash_pairs(spark).select(
        F.col("asset_a").alias("a"),
        F.col("asset_b").alias("b"),
        F.lit(1).alias("img"),
    )
    cand = img.select("a", "b").union(cap_cand).distinct()
    shs = caps.select("doc_id", _words_col().alias("w")).select(
        "doc_id", _shingles_expr().alias("sh")
    )
    jac = (
        cand.join(
            shs.select(
                F.col("doc_id").alias("a"), F.col("sh").alias("sa")
            ),
            "a",
        )
        .join(
            shs.select(
                F.col("doc_id").alias("b"), F.col("sh").alias("sb")
            ),
            "b",
        )
        .select(
            "a",
            "b",
            (
                F.floor(
                    F.size(F.array_intersect("sa", "sb")).cast("double")
                    / F.size(F.array_union("sa", "sb"))
                    * 1e6
                )
                / 1e6
            ).alias("jac"),
        )
    )
    typed = (
        jac.join(img, ["a", "b"], "left")
        .select(
            "a",
            "b",
            F.when(
                F.col("img").isNotNull()
                & (F.col("jac") >= CROSSMODAL_MIN_JAC),
                F.lit("both"),
            )
            .when(F.col("img").isNotNull(), F.lit("image_only"))
            .when(
                F.col("jac") >= CROSSMODAL_MIN_JAC, F.lit("caption_only")
            )
            .alias("dup_type"),
        )
        .where(F.col("dup_type").isNotNull())
        .localCheckpoint()  # candidate-bounded; read by CC + counts
    )
    both = typed.where(F.col("dup_type") == "both")
    edges = (
        both.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionAll(
            both.select(F.col("b").alias("src"), F.col("a").alias("dst"))
        )
        .distinct()
        .localCheckpoint()
    )
    labels = connected_components(edges, "mm_pair_crossmodal_dedup")
    part = typed.select("a", "b", "dup_type").unionAll(
        typed.select(
            F.col("b").alias("a"), F.col("a").alias("b"), "dup_type"
        )
    )
    tcnt = lambda t: F.sum(  # noqa: E731
        F.when(F.col("dup_type") == t, 1).otherwise(0)
    ).cast("bigint")
    counts = part.groupBy(F.col("a").alias("pair_id")).agg(
        tcnt("both").alias("n_both"),
        tcnt("image_only").alias("n_img_only"),
        tcnt("caption_only").alias("n_cap_only"),
    )
    lab = (
        caps.select(F.col("doc_id").alias("pair_id"))
        .join(labels.withColumnRenamed("node", "pair_id"), "pair_id", "left")
        .select(
            "pair_id", F.coalesce("label", "pair_id").alias("cluster")
        )
    )
    csz = lab.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    return (
        lab.join(csz, "cluster")
        .join(counts, "pair_id", "left")
        .select(
            "pair_id",
            "cluster",
            "cluster_size",
            F.coalesce("n_both", F.lit(0)).cast("bigint").alias("n_both"),
            F.coalesce("n_img_only", F.lit(0))
            .cast("bigint")
            .alias("n_img_only"),
            F.coalesce("n_cap_only", F.lit(0))
            .cast("bigint")
            .alias("n_cap_only"),
            (F.col("pair_id") == F.col("cluster")).alias("keep"),
        )
        .orderBy("pair_id")
    )


def _crossmodal_oracle() -> str:
    from postgres_s3_etl_spark.operators.dedup import _bands_cte_sql

    t = CROSSMODAL_MIN_JAC
    label_ctes = [
        """l0 AS MATERIALIZED (
        SELECT DISTINCT src AS node, src AS label FROM vp
    )"""
    ]
    for k in range(1, PHASH_CC_ROUNDS + 1):
        label_ctes.append(
            f"""l{k} AS MATERIALIZED (
        SELECT l.node,
               LEAST(l.label, COALESCE(m.nl, l.label)) AS label
        FROM l{k - 1} l
        LEFT JOIN (
            SELECT e.dst AS node2, MIN(l2.label) AS nl
            FROM vp e JOIN l{k - 1} l2 ON e.src = l2.node
            GROUP BY e.dst
        ) m ON l.node = m.node2
    )"""
        )
    chain = ",\n    ".join(label_ctes)
    return f"""
    WITH {_PHASH_PAIRS_SQL},
    cassets AS (
        SELECT a AS doc_id,
               CASE WHEN a = 3 THEN 1 ELSE a END AS cseed,
               a = 3 AS para
        FROM range(0, {N_PHASH_BASE}) t(a)
        UNION ALL
        SELECT {N_PHASH_BASE} + b // 4,
               CASE WHEN b = 8 THEN {CROSSMODAL_UNREL_SEED} ELSE b END,
               b <> 8
        FROM range(0, {N_PHASH_BASE}, 4) t(b)
    ),
    caps AS MATERIALIZED (
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               array_to_string([
                   CASE WHEN para AND k = {CROSSMODAL_NW - 1}
                        THEN 'p' || CAST((cseed*29 + 7) % 97 AS VARCHAR)
                        ELSE 'w' || CAST((cseed*31 + k*17 + (k*k) % 13)
                                         % 97 AS VARCHAR) END
                   for k in generate_series(0, {CROSSMODAL_NW - 1})],
                   ' ') AS text
        FROM cassets
    ),
    {_bands_cte_sql(rel="caps")},
    capcand AS (
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        FROM bands x JOIN bands y
          ON x.band = y.band AND x.bucket = y.bucket
         AND x.doc_id < y.doc_id
    ),
    imgp AS (SELECT asset_a AS a, asset_b AS b FROM pairs),
    cand AS (
        SELECT DISTINCT a, b FROM (
            SELECT a, b FROM imgp UNION ALL SELECT a, b FROM capcand)
    ),
    jacs AS (
        SELECT c.a, c.b,
               floor(CAST(len(list_intersect(sa.shingles, sb.shingles))
                          AS DOUBLE)
                     / len(list_distinct(list_concat(sa.shingles,
                                                     sb.shingles)))
                     * 1e6) / 1e6 AS jac
        FROM cand c
        JOIN sh sa ON c.a = sa.doc_id
        JOIN sh sb ON c.b = sb.doc_id
    ),
    typed AS MATERIALIZED (
        SELECT a, b, dup_type FROM (
            SELECT j.a, j.b,
                   CASE WHEN i.a IS NOT NULL AND j.jac >= {t}
                            THEN 'both'
                        WHEN i.a IS NOT NULL THEN 'image_only'
                        WHEN j.jac >= {t} THEN 'caption_only' END
                       AS dup_type
            FROM jacs j
            LEFT JOIN imgp i ON j.a = i.a AND j.b = i.b)
        WHERE dup_type IS NOT NULL
    ),
    vp AS MATERIALIZED (
        SELECT a AS src, b AS dst FROM typed WHERE dup_type = 'both'
        UNION
        SELECT b, a FROM typed WHERE dup_type = 'both'
    ),
    {chain},
    part AS (
        SELECT a, dup_type FROM typed
        UNION ALL SELECT b, dup_type FROM typed
    ),
    counts AS (
        SELECT a AS pair_id,
               CAST(SUM(CASE WHEN dup_type = 'both'
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
               CAST(SUM(CASE WHEN dup_type = 'image_only'
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_img_only,
               CAST(SUM(CASE WHEN dup_type = 'caption_only'
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_cap_only
        FROM part GROUP BY a
    ),
    lab AS MATERIALIZED (
        SELECT p.doc_id AS pair_id,
               COALESCE(l.label, p.doc_id) AS cluster
        FROM caps p
        LEFT JOIN l{PHASH_CC_ROUNDS} l ON p.doc_id = l.node
    ),
    csz AS (
        SELECT cluster, CAST(COUNT(*) AS BIGINT) AS cluster_size
        FROM lab GROUP BY cluster
    )
    SELECT lb.pair_id, lb.cluster, cz.cluster_size,
           COALESCE(c.n_both, 0) AS n_both,
           COALESCE(c.n_img_only, 0) AS n_img_only,
           COALESCE(c.n_cap_only, 0) AS n_cap_only,
           lb.pair_id = lb.cluster AS keep
    FROM lab lb
    JOIN csz cz USING (cluster)
    LEFT JOIN counts c USING (pair_id)
    ORDER BY lb.pair_id
"""


QUERIES = {
    "mm_pair_crossmodal_dedup": mm_pair_crossmodal_dedup,
    "mm_image_phash_dedup": mm_image_phash_dedup,
    "mm_video_phash_dedup": mm_video_phash_dedup,
    "mm_image_ssim_pairs": mm_image_ssim_pairs,
    "mm_phash_cc_keepset": mm_phash_cc_keepset,
    "mm_image_decode_bmp": mm_image_decode_bmp,
    "mm_image_resize": mm_image_resize,
    "mm_image_decode_jpeg": mm_image_decode_jpeg,
    "mm_image_decode_jpeg_color": mm_image_decode_jpeg_color,
    "mm_video_scene_cuts": mm_video_scene_cuts,
    "mm_video_motion_estimate": mm_video_motion_estimate,
    "mm_audio_silence_trim": mm_audio_silence_trim,
    "mm_decode_router": mm_decode_router,
    "mm_audio_adpcm_decode": mm_audio_adpcm_decode,
    "mm_image_decode_png": mm_image_decode_png,
    "mm_video_decode_y4m": mm_video_decode_y4m,
    "mm_payload_entropy": mm_payload_entropy,
    "mm_decode_stub": mm_decode_stub,
    "mm_payload_dedup": mm_payload_dedup,
    "mm_frame_sample": mm_frame_sample,
    "mm_audio_windows": mm_audio_windows,
    "mm_audio_mulaw": mm_audio_mulaw,
    "mm_image_decode_pgm": mm_image_decode_pgm,
    "mm_image_decode_ppm": mm_image_decode_ppm,
    "mm_image_hist_equalize": mm_image_hist_equalize,
    "mm_image_conv_edge": mm_image_conv_edge,
    "mm_audio_dft_peak": mm_audio_dft_peak,
    "mm_audio_mel_energy": mm_audio_mel_energy,
    "mm_audio_mfcc": mm_audio_mfcc,
    "mm_audio_spectral_flatness": mm_audio_spectral_flatness,
    "mm_image_decode_tiff": mm_image_decode_tiff,
    "mm_audio_zero_crossings": mm_audio_zero_crossings,
    "mm_image_patches": mm_image_patches,
    "mm_image_decode_jpeg_420": mm_image_decode_jpeg_420,
    "mm_image_decode_gif": mm_image_decode_gif,
    "mm_image_decode_jpeg_progressive": mm_image_decode_jpeg_progressive,
    "mm_image_decode_jpeg_progressive_color": mm_image_decode_jpeg_progressive_color,
    "mm_audio_decode_aiff": mm_audio_decode_aiff,
    "mm_image_decode_tga": mm_image_decode_tga,
    "mm_audio_alaw": mm_audio_alaw,
}

#: The synthetic media and the stub decoders are pure functions of
#: public hashes (sha256 asset payloads, md5-of-hex digests), so the
#: oracle regenerates identical rows in SQL: payload hex is
#: repeat(sha256_hex, 4 + i%5) and every digest/feature derives from
#: md5 over that VARCHAR.
_HEX_NIBBLE = "strpos('0123456789abcdef', substr(payload_digest, {pos}, 1)) - 1"

_F0_SQL = (
    "CAST(4096 * ({n1}) + 256 * ({n2}) + 16 * ({n3}) + ({n4}) AS BIGINT)".format(
        n1=_HEX_NIBBLE.format(pos=1),
        n2=_HEX_NIBBLE.format(pos=2),
        n3=_HEX_NIBBLE.format(pos=3),
        n4=_HEX_NIBBLE.format(pos=4),
    )
)

def _bmp_down_channel(ka: int, kx: int, ky: int) -> str:
    """Floor-average of the 2×2 source block of BMP channel
    ``(ka*a + kx*x + ky*y) % 256`` at output pixel (ox, oy)."""
    terms = " + ".join(
        f"({ka} * a.asset_id + {kx} * (2 * gx.x + {dx})"
        f" + {ky} * (2 * gy.y + {dy})) % 256"
        for dy in (0, 1)
        for dx in (0, 1)
    )
    return f"({terms}) // 4"


def _mel_oracle_cte() -> str:
    """Shared CTE chain ending in ``mel(asset_id, filter_id, n_bins,
    mel_energy)`` — the SQL twin of :func:`_mel_energies`."""
    return f"""assets AS (
            SELECT i AS asset_id, 1000 + 10 * i AS ns
            FROM generate_series(0, {N_WAV_ASSETS - 1}) s(i)
        ),
        samples AS (
            SELECT a.asset_id, a.ns, k.k,
                   ((7 * a.asset_id + 13 * k.k) % 201) - 100 AS s
            FROM assets a
            CROSS JOIN generate_series(
                0, {1000 + 10 * (N_WAV_ASSETS - 1) - 1}) k(k)
            WHERE k.k < a.ns
        ),
        folded AS (
            SELECT asset_id, ns AS n_samples, p.p, k % p.p AS r,
                   CAST(SUM(s) AS BIGINT) AS csum
            FROM samples,
                 (SELECT unnest([{",".join(str(p) for p in MEL_PERIODS)}]) AS p) p
            GROUP BY asset_id, ns, p.p, k % p.p
        ),
        terms AS (
            SELECT asset_id, n_samples, p,
                   CAST(CAST(csum AS DOUBLE)
                        * cos({2.0 * math.pi!r} * CAST(r AS DOUBLE)
                              / CAST(p AS DOUBLE))
                        AS DECIMAL(38,18)) AS ca,
                   CAST(CAST(csum AS DOUBLE)
                        * sin({2.0 * math.pi!r} * CAST(r AS DOUBLE)
                              / CAST(p AS DOUBLE))
                        AS DECIMAL(38,18)) AS cb
            FROM folded
        ),
        agg AS (
            SELECT asset_id, n_samples, p,
                   CAST(SUM(ca) AS DOUBLE) AS a,
                   CAST(SUM(cb) AS DOUBLE) AS b
            FROM terms GROUP BY asset_id, n_samples, p
        ),
        pw AS (
            SELECT asset_id, p,
                   floor((a * a + b * b)
                         / (CAST(n_samples AS DOUBLE)
                            * CAST(n_samples AS DOUBLE)) * 1e6) / 1e6
                     AS power
            FROM agg
        ),
        melwts(filter_id, p, w) AS (
            VALUES {", ".join(f"({m}, {p}, {w!r})" for m, p, w in mel_filter_weights())}
        ),
        mel AS (
            SELECT pw.asset_id,
                   CAST(melwts.filter_id AS INT) AS filter_id,
                   CAST(COUNT(*) AS INT) AS n_bins,
                   floor(CAST(SUM(CAST(pw.power * melwts.w AS DECIMAL(38,18)))
                              AS DOUBLE) * 1e6) / 1e6 AS mel_energy
            FROM pw JOIN melwts ON pw.p = melwts.p
            GROUP BY pw.asset_id, melwts.filter_id
        )"""


# Router-oracle constant for the round-12 fLaC arm. Imported here
# (not at module top) purely for locality with its one consumer; the
# import is safe in either direction because flac_codec has no
# top-level dependency on this module.
from postgres_s3_etl_spark.operators.flac_codec import (  # noqa: E402
    FLAC_BLOCK as _FLAC_BLOCK,
)

ORACLES: dict[str, str] = {
    "mm_pair_crossmodal_dedup": _crossmodal_oracle(),
    "mm_image_phash_dedup": _PHASH_ORACLE,
    "mm_video_phash_dedup": _VPHASH_ORACLE,
    "mm_image_ssim_pairs": _SSIM_ORACLE,
    "mm_phash_cc_keepset": _phash_cc_oracle(),
    "mm_image_resize": f"""
        WITH assets AS (
            SELECT i AS asset_id, 16 + i % 8 AS w, 12 + i % 5 AS h
            FROM generate_series(0, {N_BMP_ASSETS - 1}) s(i)
        ),
        opx AS (
            SELECT a.asset_id, a.w // 2 AS ow, a.h // 2 AS oh,
                   gx.x AS ox, gy.y AS oy,
                   {_bmp_down_channel(19, 23, 29)} AS r,
                   {_bmp_down_channel(11, 13, 17)} AS g,
                   {_bmp_down_channel(7, 3, 5)} AS b
            FROM assets a
            CROSS JOIN generate_series(0, {_BMP_MAX_W // 2 - 1}) gx(x)
            CROSS JOIN generate_series(0, {_BMP_MAX_H // 2 - 1}) gy(y)
            WHERE gx.x < a.w // 2 AND gy.y < a.h // 2
        )
        SELECT asset_id,
               CAST(MAX(ow) AS INTEGER) AS out_width,
               CAST(MAX(oh) AS INTEGER) AS out_height,
               COUNT(*) AS n_px_out,
               SUM(r) AS sum_r, SUM(g) AS sum_g, SUM(b) AS sum_b,
               SUM(CASE WHEN oy = 0 THEN r ELSE 0 END) AS row0_r_sum,
               CAST(MAX(CASE WHEN ox = 0 AND oy = 0 THEN r END)
                    AS INTEGER) AS px00_r,
               CAST(MAX(CASE WHEN ox = 0 AND oy = 0 THEN g END)
                    AS INTEGER) AS px00_g,
               CAST(MAX(CASE WHEN ox = 0 AND oy = 0 THEN b END)
                    AS INTEGER) AS px00_b
        FROM opx
        GROUP BY asset_id
        ORDER BY asset_id
    """,
    "mm_image_decode_bmp": f"""
        WITH assets AS (
            SELECT i AS asset_id, 16 + i % 8 AS w, 12 + i % 5 AS h
            FROM generate_series(0, {N_BMP_ASSETS - 1}) s(i)
        ),
        px AS (
            SELECT a.asset_id, a.w, a.h, gx.x, gy.y,
                   (19 * a.asset_id + 23 * gx.x + 29 * gy.y) % 256 AS r,
                   (11 * a.asset_id + 13 * gx.x + 17 * gy.y) % 256 AS g,
                   (7 * a.asset_id + 3 * gx.x + 5 * gy.y) % 256 AS b
            FROM assets a
            CROSS JOIN generate_series(0, {_BMP_MAX_W - 1}) gx(x)
            CROSS JOIN generate_series(0, {_BMP_MAX_H - 1}) gy(y)
            WHERE gx.x < a.w AND gy.y < a.h
        )
        SELECT asset_id,
               CAST(MAX(w) AS INTEGER) AS width,
               CAST(MAX(h) AS INTEGER) AS height,
               COUNT(*) AS n_px,
               SUM(r) AS sum_r, SUM(g) AS sum_g, SUM(b) AS sum_b,
               SUM(r * r) AS ssq_r, SUM(g * g) AS ssq_g,
               SUM(b * b) AS ssq_b,
               SUM(CASE WHEN y = 0 THEN r ELSE 0 END) AS row0_r_sum
        FROM px
        GROUP BY asset_id
        ORDER BY asset_id
    """,
    "mm_image_decode_png": f"""
        WITH assets AS (
            SELECT i AS asset_id, 12 + i % 8 AS w, 8 + i % 7 AS h
            FROM generate_series(0, {N_PNG_ASSETS - 1}) s(i)
        ),
        px AS (
            SELECT a.asset_id, a.w, a.h, gx.x, gy.y,
                   (5 * a.asset_id + 7 * gx.x + 11 * gy.y) % 256 AS r,
                   (13 * a.asset_id + 17 * gx.x + 19 * gy.y) % 256 AS g,
                   (23 * a.asset_id + 29 * gx.x + 31 * gy.y) % 256 AS b
            FROM assets a
            CROSS JOIN generate_series(0, {_PNG_MAX_W - 1}) gx(x)
            CROSS JOIN generate_series(0, {_PNG_MAX_H - 1}) gy(y)
            WHERE gx.x < a.w AND gy.y < a.h
        )
        SELECT asset_id,
               CAST(MAX(w) AS INTEGER) AS width,
               CAST(MAX(h) AS INTEGER) AS height,
               CAST(LEAST(MAX(h), 5) AS INTEGER) AS n_filter_types,
               COUNT(*) AS n_px,
               SUM(r) AS sum_r, SUM(g) AS sum_g, SUM(b) AS sum_b,
               SUM(r * r) AS ssq_r, SUM(g * g) AS ssq_g,
               SUM(b * b) AS ssq_b,
               SUM(CASE WHEN y = 0 THEN r ELSE 0 END) AS row0_r_sum
        FROM px
        GROUP BY asset_id
        ORDER BY asset_id
    """,
    "mm_video_decode_y4m": f"""
        WITH assets AS (
            SELECT i AS asset_id, 12 + i % 6 AS w, 8 + i % 4 AS h,
                   4 + i % 5 AS nf
            FROM generate_series(0, {N_Y4M_ASSETS - 1}) s(i)
        ),
        px AS (
            SELECT a.asset_id, a.w, a.h, a.nf, t.t, gx.x, gy.y,
                   (3 * a.asset_id + 5 * gx.x + 7 * gy.y + 11 * t.t) % 256
                       AS yv,
                   (13 * a.asset_id + 2 * gx.x + 3 * gy.y + 5 * t.t) % 256
                       AS uv,
                   (17 * a.asset_id + 4 * gx.x + 6 * gy.y + 9 * t.t) % 256
                       AS vv
            FROM assets a
            CROSS JOIN generate_series(0, {_Y4M_MAX_F - 1}) t(t)
            CROSS JOIN generate_series(0, {_Y4M_MAX_W - 1}) gx(x)
            CROSS JOIN generate_series(0, {_Y4M_MAX_H - 1}) gy(y)
            WHERE t.t < a.nf AND t.t % {Y4M_SAMPLE_EVERY} = 0
              AND gx.x < a.w AND gy.y < a.h
        )
        SELECT asset_id,
               CAST(MAX(w) AS INTEGER) AS width,
               CAST(MAX(h) AS INTEGER) AS height,
               CAST(MAX(nf) AS INTEGER) AS n_frames,
               CAST(COUNT(DISTINCT t) AS INTEGER) AS n_sampled,
               SUM(yv) AS sum_y, SUM(yv * yv) AS ssq_y,
               SUM(uv) AS sum_u, SUM(vv) AS sum_v,
               SUM(CASE WHEN t = 0 AND y = 0 THEN yv ELSE 0 END)
                   AS f0_row0_y_sum
        FROM px
        GROUP BY asset_id
        ORDER BY asset_id
    """,
    "mm_payload_entropy": """
        WITH assets AS (
            SELECT i AS asset_id,
                   ['image', 'audio', 'video'][(i % 3) + 1] AS media_type,
                   repeat(sha256('asset-' || i), 4 + (i % 5)) AS hx
            FROM (SELECT unnest(generate_series(0, 63)) AS i)
        ),
        bytes AS (
            SELECT asset_id, media_type,
                   substr(hx, 2 * t.k + 1, 2) AS byte
            FROM assets,
                 unnest(generate_series(0,
                     CAST(length(hx) / 2 AS INT) - 1)) AS t(k)
        ),
        counts AS (
            SELECT asset_id, media_type, byte, COUNT(*) AS c
            FROM bytes GROUP BY asset_id, media_type, byte
        ),
        with_n AS (
            SELECT asset_id, media_type, c,
                   SUM(c) OVER (PARTITION BY asset_id) AS n
            FROM counts
        ),
        per_asset AS (
            SELECT asset_id, media_type,
                   CAST(SUM(CAST(
                       -(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                       * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                       AS DECIMAL(38,18))) AS DOUBLE) AS entropy
            FROM with_n GROUP BY asset_id, media_type
        )
        SELECT media_type,
               CAST(COUNT(*) AS BIGINT) AS n_assets,
               floor(CAST(SUM(CAST(entropy AS DECIMAL(38,18))) AS DOUBLE)
                     / COUNT(*) * 1e6) / 1e6 AS avg_entropy,
               floor(MIN(entropy) * 1e6) / 1e6 AS min_entropy,
               floor(MAX(entropy) * 1e6) / 1e6 AS max_entropy
        FROM per_asset GROUP BY media_type ORDER BY media_type
    """,
    # Asset ids 64+i are re-uploads of source i (i % 7 = 0); every
    # digest regenerates from the public-hash payload construction.
    "mm_payload_dedup": """
        WITH ids AS (
            SELECT i AS asset_id, i AS src
            FROM (SELECT unnest(generate_series(0, 63)) AS i)
            UNION ALL
            SELECT i + 64, i
            FROM (SELECT unnest(generate_series(0, 63)) AS i)
            WHERE i % 7 = 0
        ),
        m AS (
            SELECT asset_id,
                   CASE src % 3 WHEN 0 THEN 'image'
                                WHEN 1 THEN 'audio'
                                ELSE 'video' END AS media_type,
                   md5(repeat(sha256('asset-' || src), 4 + (src % 5)))
                       AS payload_digest
            FROM ids
        ),
        groups AS (
            SELECT media_type, payload_digest, COUNT(*) AS n
            FROM m GROUP BY media_type, payload_digest
        )
        SELECT media_type,
               CAST(SUM(n) AS BIGINT) AS n_assets,
               CAST(COUNT(*) AS BIGINT) AS n_distinct_payloads,
               CAST(SUM(n - 1) AS BIGINT) AS n_dup_assets,
               CAST(MAX(n) AS BIGINT) AS max_dup_group
        FROM groups
        GROUP BY media_type
        ORDER BY media_type
    """,
    # Round-6: real BMP patch grid — per-patch sums recomputed from
    # the closed-form pixel pattern grouped by (x div p, y div p).
    "mm_image_patches": f"""
        WITH assets AS (
            SELECT i AS asset_id, 16 + i % 8 AS w, 12 + i % 5 AS h
            FROM generate_series(0, {N_BMP_ASSETS - 1}) s(i)
        ),
        px AS (
            SELECT a.asset_id,
                   gx.x // {BMP_PATCH_PX} AS px,
                   gy.y // {BMP_PATCH_PX} AS py,
                   ((19 * a.asset_id + 23 * gx.x + 29 * gy.y) % 256)
                 + ((11 * a.asset_id + 13 * gx.x + 17 * gy.y) % 256)
                 + ((7 * a.asset_id + 3 * gx.x + 5 * gy.y) % 256) AS bright
            FROM assets a
            CROSS JOIN generate_series(0, {_BMP_MAX_W - 1}) gx(x)
            CROSS JOIN generate_series(0, {_BMP_MAX_H - 1}) gy(y)
            WHERE gx.x < a.w AND gy.y < a.h
        ),
        patches AS (
            SELECT asset_id, px, py, SUM(bright) AS brightness
            FROM px GROUP BY asset_id, px, py
        )
        SELECT asset_id,
               CAST(COUNT(*) AS INTEGER) AS n_patches,
               CAST(MAX(px) + 1 AS INTEGER) AS nx,
               CAST(MAX(py) + 1 AS INTEGER) AS ny,
               SUM(brightness) AS total_brightness,
               MAX(brightness) AS peak_brightness
        FROM patches
        GROUP BY asset_id
        ORDER BY asset_id
    """,
    "mm_decode_stub": f"""
        WITH assets AS (
            SELECT i,
                   ['image', 'audio', 'video'][(i % 3) + 1] AS media_type,
                   repeat(sha256('asset-' || i), 4 + (i % 5)) AS hex_payload
            FROM (SELECT unnest(generate_series(0, 63)) AS i)
        ),
        feats AS (
            SELECT i, media_type,
                   CAST(length(hex_payload) // 2 AS BIGINT) AS n_bytes,
                   md5(hex_payload) AS payload_digest
            FROM assets
        ),
        f0s AS (
            SELECT media_type, n_bytes, payload_digest, {_F0_SQL} AS f0
            FROM feats
        )
        SELECT media_type,
               COUNT(*) AS n_assets,
               CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
               COUNT(DISTINCT payload_digest) AS n_distinct_payloads,
               ROUND(CAST(SUM(f0) AS DOUBLE) / COUNT(*), 6) AS avg_f0
        FROM f0s
        GROUP BY media_type
        ORDER BY media_type
    """,
    # Round-6: real PCM WAV windowing — exact integer energy stats
    # recomputed from the closed-form sample pattern.
    "mm_audio_zero_crossings": f"""
        WITH assets AS (
            SELECT i AS asset_id, 1000 + 10 * i AS ns
            FROM generate_series(0, {N_WAV_ASSETS - 1}) s(i)
        ),
        samples AS (
            SELECT a.asset_id, a.ns, k.k,
                   (((7 * a.asset_id + 13 * k.k) % 201) - 100 < 0)
                     AS neg
            FROM assets a
            CROSS JOIN generate_series(
                0, {1000 + 10 * (N_WAV_ASSETS - 1) - 1}) k(k)
            WHERE k.k < a.ns
        ),
        flips AS (
            SELECT asset_id, ns,
                   CASE WHEN lead(neg) OVER (PARTITION BY asset_id
                                             ORDER BY k) <> neg
                        THEN 1 ELSE 0 END AS f
            FROM samples
        )
        SELECT asset_id,
               CAST(MAX(ns) AS BIGINT) AS n_samples,
               CAST(SUM(f) AS BIGINT) AS n_crossings,
               floor(CAST(SUM(f) AS DOUBLE)
                     / CAST(MAX(ns) - 1 AS DOUBLE) * 1e6) / 1e6 AS zcr
        FROM flips
        GROUP BY asset_id
        ORDER BY asset_id
    """,
    "mm_image_decode_tiff": f"""
        WITH assets AS (
            SELECT i AS asset_id, 12 + i % 9 AS w, 9 + i % 7 AS h
            FROM generate_series(0, {N_TIFF_ASSETS - 1}) s(i)
        ),
        px AS (
            SELECT a.asset_id, a.w, a.h, gy.y,
                   (7 * a.asset_id + 3 * gx.x + 11 * gy.y) % 256 AS g
            FROM assets a
            CROSS JOIN generate_series(0, 20) gx(x)
            CROSS JOIN generate_series(0, 15) gy(y)
            WHERE gx.x < a.w AND gy.y < a.h
        )
        SELECT asset_id,
               CAST(MAX(w) AS INTEGER) AS width,
               CAST(MAX(h) AS INTEGER) AS height,
               CAST(COUNT(*) AS BIGINT) AS n_px,
               CAST(SUM(g) AS BIGINT) AS sum_g,
               CAST(SUM(g * g) AS BIGINT) AS ssq_g,
               CAST(SUM(CASE WHEN y = 0 THEN g ELSE 0 END) AS BIGINT)
                   AS row0_sum
        FROM px
        GROUP BY asset_id
        ORDER BY asset_id
    """,
    "mm_audio_dft_peak": f"""
        WITH assets AS (
            SELECT i AS asset_id, 1000 + 10 * i AS ns
            FROM generate_series(0, {N_WAV_ASSETS - 1}) s(i)
        ),
        samples AS (
            SELECT a.asset_id, a.ns, k.k,
                   ((7 * a.asset_id + 13 * k.k) % 201) - 100 AS s
            FROM assets a
            CROSS JOIN generate_series(
                0, {1000 + 10 * (N_WAV_ASSETS - 1) - 1}) k(k)
            WHERE k.k < a.ns
        ),
        folded AS (
            SELECT asset_id, ns AS n_samples, p.p, k % p.p AS r,
                   CAST(SUM(s) AS BIGINT) AS csum
            FROM samples,
                 (SELECT unnest([{",".join(str(p) for p in AUDIO_DFT_PERIODS)}]) AS p) p
            GROUP BY asset_id, ns, p.p, k % p.p
        ),
        terms AS (
            SELECT asset_id, n_samples, p,
                   CAST(CAST(csum AS DOUBLE)
                        * cos({2.0 * math.pi!r} * CAST(r AS DOUBLE)
                              / CAST(p AS DOUBLE))
                        AS DECIMAL(38,18)) AS ca,
                   CAST(CAST(csum AS DOUBLE)
                        * sin({2.0 * math.pi!r} * CAST(r AS DOUBLE)
                              / CAST(p AS DOUBLE))
                        AS DECIMAL(38,18)) AS cb
            FROM folded
        ),
        agg AS (
            SELECT asset_id, n_samples, p,
                   CAST(SUM(ca) AS DOUBLE) AS a,
                   CAST(SUM(cb) AS DOUBLE) AS b
            FROM terms GROUP BY asset_id, n_samples, p
        ),
        pw AS (
            SELECT asset_id, n_samples, p,
                   floor((a * a + b * b)
                         / (CAST(n_samples AS DOUBLE)
                            * CAST(n_samples AS DOUBLE)) * 1e6) / 1e6
                     AS power,
                   ROW_NUMBER() OVER (
                       PARTITION BY asset_id
                       ORDER BY floor((a * a + b * b)
                                      / (CAST(n_samples AS DOUBLE)
                                         * CAST(n_samples AS DOUBLE))
                                      * 1e6) / 1e6 DESC, p ASC) AS rnk
            FROM agg
        )
        SELECT asset_id, n_samples,
               CAST(p AS INT) AS peak_period, power
        FROM pw WHERE rnk = 1
        ORDER BY asset_id
    """,
    "mm_audio_mel_energy": f"""
        WITH {_mel_oracle_cte()}
        SELECT asset_id, filter_id, n_bins, mel_energy
        FROM mel
        ORDER BY asset_id, filter_id
    """,
    "mm_audio_spectral_flatness": f"""
        WITH {_mel_oracle_cte()}
        SELECT asset_id,
               CAST(COUNT(*) AS INT) AS n_bins,
               floor(CAST(SUM(CAST(power AS DECIMAL(38,6))) AS DOUBLE)
                     / {len(MEL_PERIODS)} * 1e6) / 1e6 AS mean_power,
               floor((CAST(SUM(CAST(floor(ln(1.0 + power) * 1e6) / 1e6
                                    AS DECIMAL(38,6))) AS DOUBLE)
                          / {len(MEL_PERIODS)}
                      - ln(1.0 + CAST(SUM(CAST(power AS DECIMAL(38,6)))
                                      AS DOUBLE) / {len(MEL_PERIODS)}))
                     * 1e6) / 1e6 AS log_flatness
        FROM pw
        GROUP BY asset_id
        ORDER BY asset_id
    """,
    "mm_audio_mfcc": f"""
        WITH {_mel_oracle_cte()},
        logmel AS (
            SELECT asset_id, filter_id AS m,
                   floor(ln(1.0 + mel_energy) * 1e6) / 1e6 AS logmel
            FROM mel
        ),
        dct(k, m, w) AS (
            VALUES {", ".join(f"({k}, {m}, {w!r})" for k, m, w in mfcc_dct_weights())}
        )
        SELECT l.asset_id,
               CAST(d.k AS INT) AS k,
               CAST(COUNT(*) AS INT) AS n_terms,
               floor(CAST(SUM(CAST(l.logmel * d.w AS DECIMAL(38,18)))
                          AS DOUBLE) * 1e6) / 1e6 AS mfcc
        FROM logmel l JOIN dct d ON l.m = d.m
        GROUP BY l.asset_id, d.k
        ORDER BY asset_id, k
    """,
    "mm_image_conv_edge": f"""
        WITH assets AS (
            SELECT i AS asset_id, 14 + i % 7 AS w, 10 + i % 6 AS h
            FROM generate_series(0, {N_PGM_ASSETS - 1}) s(i)
        ),
        g AS (
            SELECT a.asset_id,
                   -- Sobel at interior (x, y): the nine taps are the
                   -- closed-form pixel pattern evaluated directly.
                   ((5*a.asset_id + 11*(gx.x+1) + 13*(gy.y-1)) % 256
                    + 2*((5*a.asset_id + 11*(gx.x+1) + 13*gy.y) % 256)
                    + (5*a.asset_id + 11*(gx.x+1) + 13*(gy.y+1)) % 256)
                   - ((5*a.asset_id + 11*(gx.x-1) + 13*(gy.y-1)) % 256
                      + 2*((5*a.asset_id + 11*(gx.x-1) + 13*gy.y) % 256)
                      + (5*a.asset_id + 11*(gx.x-1) + 13*(gy.y+1)) % 256)
                     AS gxv,
                   ((5*a.asset_id + 11*(gx.x-1) + 13*(gy.y+1)) % 256
                    + 2*((5*a.asset_id + 11*gx.x + 13*(gy.y+1)) % 256)
                    + (5*a.asset_id + 11*(gx.x+1) + 13*(gy.y+1)) % 256)
                   - ((5*a.asset_id + 11*(gx.x-1) + 13*(gy.y-1)) % 256
                      + 2*((5*a.asset_id + 11*gx.x + 13*(gy.y-1)) % 256)
                      + (5*a.asset_id + 11*(gx.x+1) + 13*(gy.y-1)) % 256)
                     AS gyv
            FROM assets a
            CROSS JOIN generate_series(1, 19) gx(x)
            CROSS JOIN generate_series(1, 14) gy(y)
            WHERE gx.x < a.w - 1 AND gy.y < a.h - 1
        )
        SELECT asset_id,
               CAST(COUNT(*) AS BIGINT) AS n_interior,
               CAST(SUM(abs(gxv) + abs(gyv)) AS BIGINT) AS edge_energy,
               CAST(MAX(abs(gxv) + abs(gyv)) AS BIGINT) AS peak_grad,
               CAST(SUM(CASE WHEN abs(gxv) + abs(gyv) >= 255
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_strong
        FROM g
        GROUP BY asset_id
        ORDER BY asset_id
    """,
    "mm_image_hist_equalize": f"""
        WITH assets AS (
            SELECT i AS asset_id, 14 + i % 7 AS w, 10 + i % 6 AS h
            FROM generate_series(0, {N_PGM_ASSETS - 1}) s(i)
        ),
        px AS (
            SELECT a.asset_id,
                   (5 * a.asset_id + 11 * gx.x + 13 * gy.y) % 256 AS v
            FROM assets a
            CROSS JOIN generate_series(0, 20) gx(x)
            CROSS JOIN generate_series(0, 15) gy(y)
            WHERE gx.x < a.w AND gy.y < a.h
        ),
        bins AS (
            SELECT asset_id, v, COUNT(*) AS cnt
            FROM px GROUP BY asset_id, v
        ),
        cdf AS (
            SELECT asset_id, v, cnt,
                   SUM(cnt) OVER (PARTITION BY asset_id ORDER BY v
                                  ROWS UNBOUNDED PRECEDING) AS c,
                   SUM(cnt) OVER (PARTITION BY asset_id) AS n,
                   FIRST_VALUE(cnt) OVER (PARTITION BY asset_id
                                          ORDER BY v) AS cdf_min
            FROM bins
        ),
        eq AS (
            SELECT asset_id, v, cnt, n,
                   CASE WHEN n - cdf_min <= 0 THEN 0
                        ELSE (c - cdf_min) * 255 // (n - cdf_min)
                   END AS e
            FROM cdf
        )
        SELECT asset_id,
               CAST(MAX(n) AS BIGINT) AS n_px,
               CAST(SUM(cnt * v) AS BIGINT) AS sum_orig,
               CAST(SUM(cnt * e) AS BIGINT) AS sum_eq,
               CAST(SUM(cnt * e * e) AS BIGINT) AS ssq_eq,
               CAST(MIN(e) AS BIGINT) AS min_eq,
               CAST(MAX(e) AS BIGINT) AS max_eq
        FROM eq
        GROUP BY asset_id
        ORDER BY asset_id
    """,
    "mm_image_decode_pgm": f"""
        WITH assets AS (
            SELECT i AS asset_id, 14 + i % 7 AS w, 10 + i % 6 AS h
            FROM generate_series(0, {N_PGM_ASSETS - 1}) s(i)
        ),
        px AS (
            SELECT a.asset_id, a.w, a.h, gy.y,
                   (5 * a.asset_id + 11 * gx.x + 13 * gy.y) % 256 AS g
            FROM assets a
            CROSS JOIN generate_series(0, 20) gx(x)
            CROSS JOIN generate_series(0, 15) gy(y)
            WHERE gx.x < a.w AND gy.y < a.h
        )
        SELECT asset_id,
               CAST(MAX(w) AS INTEGER) AS width,
               CAST(MAX(h) AS INTEGER) AS height,
               CAST(COUNT(*) AS BIGINT) AS n_px,
               CAST(SUM(g) AS BIGINT) AS sum_g,
               CAST(SUM(g * g) AS BIGINT) AS ssq_g,
               CAST(SUM(CASE WHEN y = 0 THEN g ELSE 0 END) AS BIGINT)
                   AS row0_sum
        FROM px
        GROUP BY asset_id
        ORDER BY asset_id
    """,
    "mm_image_decode_ppm": f"""
        WITH assets AS (
            SELECT i AS asset_id, 14 + i % 7 AS w, 10 + i % 6 AS h
            FROM generate_series(0, {N_PGM_ASSETS - 1}) s(i)
        ),
        px AS (
            SELECT a.asset_id, a.w, a.h, gy.y,
                   (7 * a.asset_id + 3 * gx.x + 5 * gy.y) % 256 AS r,
                   (11 * a.asset_id + 13 * gx.x + 17 * gy.y) % 256 AS g,
                   (19 * a.asset_id + 23 * gx.x + 29 * gy.y) % 256 AS b
            FROM assets a
            CROSS JOIN generate_series(0, 20) gx(x)
            CROSS JOIN generate_series(0, 15) gy(y)
            WHERE gx.x < a.w AND gy.y < a.h
        )
        SELECT asset_id,
               CAST(MAX(w) AS INTEGER) AS width,
               CAST(MAX(h) AS INTEGER) AS height,
               CAST(COUNT(*) AS BIGINT) AS n_px,
               CAST(SUM(r) AS BIGINT) AS sum_r,
               CAST(SUM(g) AS BIGINT) AS sum_g,
               CAST(SUM(b) AS BIGINT) AS sum_b,
               CAST(SUM(r * r + g * g + b * b) AS BIGINT) AS ssq_rgb,
               CAST(SUM(CASE WHEN y = 0 THEN r + g + b ELSE 0 END)
                    AS BIGINT) AS row0_sum
        FROM px
        GROUP BY asset_id
        ORDER BY asset_id
    """,
    "mm_audio_alaw": f"""
        WITH assets AS (
            SELECT i AS asset_id, 400 + 8 * i AS ns
            FROM generate_series(0, {N_MULAW_ASSETS - 1}) s(i)
        ),
        enc AS (
            SELECT a.asset_id,
                   xor((13 * a.asset_id + 19 * k.k) % 256, 85) AS u
            FROM assets a
            CROSS JOIN generate_series(
                0, {400 + 8 * (N_MULAW_ASSETS - 1) - 1}) k(k)
            WHERE k.k < a.ns
        ),
        pcm AS (
            -- ITU-T G.711 A-law expansion, mirrored from
            -- alaw_expand(): mag = 16m + 8 at e = 0, else
            -- (16m + 264)·2^(e−1); bit 7 of the inverted byte set
            -- ⇒ negative.
            SELECT asset_id,
                   CASE WHEN u // 128 = 1 THEN -1 ELSE 1 END
                   * CASE WHEN (u // 16) % 8 = 0
                          THEN 16 * (u % 16) + 8
                          ELSE (16 * (u % 16) + 264)
                               * CAST(power(2, (u // 16) % 8 - 1)
                                      AS BIGINT)
                     END AS v
            FROM enc
        )
        SELECT asset_id,
               CAST(COUNT(*) AS BIGINT) AS n_samples,
               CAST(SUM(v) AS BIGINT) AS sum_pcm,
               CAST(SUM(v * v) AS BIGINT) AS ssq_pcm,
               CAST(MAX(abs(v)) AS BIGINT) AS peak_abs
        FROM pcm
        GROUP BY asset_id
        ORDER BY asset_id
    """,
    "mm_audio_mulaw": f"""
        WITH assets AS (
            SELECT i AS asset_id, 400 + 8 * i AS ns
            FROM generate_series(0, {N_MULAW_ASSETS - 1}) s(i)
        ),
        enc AS (
            SELECT a.asset_id,
                   xor((11 * a.asset_id + 17 * k.k) % 256, 255) AS u
            FROM assets a
            CROSS JOIN generate_series(
                0, {400 + 8 * (N_MULAW_ASSETS - 1) - 1}) k(k)
            WHERE k.k < a.ns
        ),
        pcm AS (
            -- ITU-T G.711 expansion, mirrored from mulaw_expand():
            -- mag = (8m + 132)·2^e − 132; bit 7 of the complemented
            -- byte set ⇒ negative.
            SELECT asset_id,
                   CASE WHEN u // 128 = 1
                        THEN -((8 * (u % 16) + 132)
                               * CAST(power(2, (u // 16) % 8) AS BIGINT)
                               - 132)
                        ELSE ((8 * (u % 16) + 132)
                              * CAST(power(2, (u // 16) % 8) AS BIGINT)
                              - 132)
                   END AS v
            FROM enc
        )
        SELECT asset_id,
               CAST(COUNT(*) AS BIGINT) AS n_samples,
               CAST(SUM(v) AS BIGINT) AS sum_pcm,
               CAST(SUM(v * v) AS BIGINT) AS ssq_pcm,
               CAST(MAX(abs(v)) AS BIGINT) AS peak_abs
        FROM pcm
        GROUP BY asset_id
        ORDER BY asset_id
    """,
    "mm_audio_windows": f"""
        WITH audio AS (
            SELECT i AS asset_id, 1000 + 10 * i AS ns
            FROM generate_series(0, {N_WAV_ASSETS - 1}) s(i)
        ),
        samples AS (
            SELECT a.asset_id,
                   k.k // {WAV_RATE * AUDIO_WINDOW_MS // 1000} AS window_idx,
                   ((7 * a.asset_id + 13 * k.k) % 201) - 100 AS s
            FROM audio a
            CROSS JOIN generate_series(
                0, {1000 + 10 * (N_WAV_ASSETS - 1) - 1}) k(k)
            WHERE k.k < a.ns
        ),
        wins AS (
            SELECT asset_id, window_idx,
                   COUNT(*) AS n, SUM(s) AS sum_s, SUM(s * s) AS ssq_s
            FROM samples GROUP BY asset_id, window_idx
        )
        SELECT asset_id,
               CAST(COUNT(*) AS INTEGER) AS n_windows,
               CAST(MAX(window_idx) * {AUDIO_WINDOW_MS} AS INTEGER)
                   AS last_window_ts_ms,
               SUM(n) AS n_samples,
               SUM(sum_s) AS sum_s,
               SUM(ssq_s) AS ssq_s,
               MAX(ssq_s) AS peak_window_ssq
        FROM wins
        GROUP BY asset_id
        ORDER BY asset_id
    """,
    # Round-6: real y4m temporal sampling — every 120ms at 25fps →
    # frame indices t % 3 == 0, Y sums from the closed-form planes.
    "mm_frame_sample": f"""
        WITH assets AS (
            SELECT i AS asset_id, 12 + i % 6 AS w, 8 + i % 4 AS h,
                   4 + i % 5 AS nf
            FROM generate_series(0, {N_Y4M_ASSETS - 1}) s(i)
        ),
        px AS (
            SELECT a.asset_id, a.nf, t.t,
                   (3 * a.asset_id + 5 * gx.x + 7 * gy.y + 11 * t.t) % 256
                       AS yv
            FROM assets a
            CROSS JOIN generate_series(0, {_Y4M_MAX_F - 1}) t(t)
            CROSS JOIN generate_series(0, {_Y4M_MAX_W - 1}) gx(x)
            CROSS JOIN generate_series(0, {_Y4M_MAX_H - 1}) gy(y)
            WHERE t.t < a.nf
              AND t.t % {FRAME_SAMPLE_INTERVAL_MS // Y4M_FRAME_MS} = 0
              AND gx.x < a.w AND gy.y < a.h
        ),
        frames AS (
            SELECT asset_id, nf, t, SUM(yv) AS sum_y
            FROM px GROUP BY asset_id, nf, t
        )
        SELECT asset_id,
               CAST(MAX(nf) AS INTEGER) AS n_stream_frames,
               CAST(COUNT(*) AS INTEGER) AS n_sampled,
               CAST(MAX(t) * {Y4M_FRAME_MS} AS INTEGER)
                   AS last_sample_ts_ms,
               SUM(sum_y) AS sum_y_sampled,
               SUM(CASE WHEN t = 0 THEN sum_y ELSE 0 END) AS f0_y_sum
        FROM frames
        GROUP BY asset_id
        ORDER BY asset_id
    """,
    # Round-6: real baseline JPEG — constant 8x8 blocks quantize
    # losslessly (q_DC = 8), so pixel sums are closed-form.
    "mm_image_decode_jpeg": f"""
        WITH assets AS (
            SELECT i AS asset_id,
                   2 + (i % 3) AS bw, 2 + (i % 2) AS bh
            FROM generate_series(0, {N_JPEG_ASSETS - 1}) s(i)
        ),
        blocks AS (
            SELECT a.asset_id, a.bw, a.bh, gx.bx, gy.by,
                   (29 * a.asset_id + 7 * gx.bx + 13 * gy.by) % 256 AS v
            FROM assets a
            CROSS JOIN generate_series(0, 3) gx(bx)
            CROSS JOIN generate_series(0, 2) gy(by)
            WHERE gx.bx < a.bw AND gy.by < a.bh
        )
        SELECT asset_id,
               CAST(MAX(bw) * 8 AS INTEGER) AS width,
               CAST(MAX(bh) * 8 AS INTEGER) AS height,
               CAST(COUNT(*) AS INTEGER) AS n_blocks,
               SUM(v) * 64 AS sum_px,
               SUM(v * v) * 64 AS ssq_px,
               SUM(CASE WHEN by = 0 THEN v ELSE 0 END) * 8 AS row0_sum
        FROM blocks
        GROUP BY asset_id
        ORDER BY asset_id
    """,
    # Round-6: silence trim — the padded sample stream regenerated
    # in SQL (zeros outside [lead, lead+body), pattern inside,
    # indexed by absolute k), identical |s| > eps rule.
    "mm_audio_silence_trim": f"""
        WITH assets AS (
            SELECT i AS asset_id,
                   40 + 10 * (i % 5) AS lead,
                   400 + 10 * i AS body,
                   30 + 10 * (i % 4) AS tail
            FROM generate_series(0, {N_TRIM_ASSETS - 1}) s(i)
        ),
        samples AS (
            SELECT a.asset_id, a.lead + a.body + a.tail AS n, k.k,
                   CASE WHEN k.k < a.lead OR k.k >= a.lead + a.body
                        THEN 0
                        ELSE ((7 * a.asset_id + 13 * k.k) % 201) - 100
                   END AS s
            FROM assets a
            CROSS JOIN generate_series(
                0, {40 + 40 + 400 + 10 * (N_TRIM_ASSETS - 1) + 60 - 1}) k(k)
            WHERE k.k < a.lead + a.body + a.tail
        ),
        bounds AS (
            SELECT asset_id, MAX(n) AS n_samples,
                   COALESCE(MIN(CASE WHEN ABS(s) > {SILENCE_EPS}
                                     THEN k END), -1) AS first_loud,
                   COALESCE(MAX(CASE WHEN ABS(s) > {SILENCE_EPS}
                                     THEN k END), -1) AS last_loud
            FROM samples GROUP BY asset_id
        )
        SELECT b.asset_id,
               CAST(b.n_samples AS BIGINT) AS n_samples,
               CAST(b.first_loud AS BIGINT) AS first_loud,
               CAST(b.last_loud AS BIGINT) AS last_loud,
               CAST(CASE WHEN b.first_loud >= 0
                         THEN b.last_loud - b.first_loud + 1
                         ELSE 0 END AS BIGINT) AS trimmed_len,
               CAST(COALESCE(SUM(CASE WHEN s.k BETWEEN b.first_loud
                                           AND b.last_loud
                                      THEN s.s * s.s ELSE 0 END), 0)
                    AS BIGINT) AS trimmed_ssq
        FROM bounds b JOIN samples s USING (asset_id)
        GROUP BY b.asset_id, b.n_samples, b.first_loud, b.last_loud
        ORDER BY b.asset_id
    """,
    # Round-6: scene-cut detection — exact consecutive-frame Y-plane
    # SADs recomputed from the closed-form patterns with the scene
    # shift applied per side of the cut; threshold rule mirrored.
    "mm_video_motion_estimate": _motion_oracle(),
    "mm_video_scene_cuts": f"""
        WITH assets AS (
            SELECT i AS asset_id, 12 + i % 6 AS w, 8 + i % 4 AS h,
                   6 + i % 5 AS nf, 2 + i % 3 AS cut
            FROM generate_series(0, {N_SCENE_ASSETS - 1}) s(i)
        ),
        px AS (
            SELECT a.asset_id, a.nf, a.w, a.h, t.t,
                   ABS(
                     ((3 * (a.asset_id + CASE WHEN t.t >= a.cut
                            THEN {SCENE_SHIFT} ELSE 0 END)
                       + 5 * gx.x + 7 * gy.y + 11 * t.t) % 256)
                     -
                     ((3 * (a.asset_id + CASE WHEN t.t - 1 >= a.cut
                            THEN {SCENE_SHIFT} ELSE 0 END)
                       + 5 * gx.x + 7 * gy.y + 11 * (t.t - 1)) % 256)
                   ) AS ad
            FROM assets a
            CROSS JOIN generate_series(1, {6 + 4 - 1}) t(t)
            CROSS JOIN generate_series(0, {12 + 5 - 1}) gx(x)
            CROSS JOIN generate_series(0, {8 + 3 - 1}) gy(y)
            WHERE t.t < a.nf AND gx.x < a.w AND gy.y < a.h
        ),
        pairs AS (
            SELECT asset_id, nf, w, h, t, SUM(ad) AS sad
            FROM px GROUP BY asset_id, nf, w, h, t
        ),
        flagged AS (
            SELECT asset_id, nf, t, sad,
                   CASE WHEN sad > {SCENE_CUT_TAU_PER_PX} * w * h
                        THEN 1 ELSE 0 END AS is_cut
            FROM pairs
        )
        SELECT asset_id,
               CAST(MAX(nf) AS INTEGER) AS n_frames,
               CAST(COUNT(*) AS INTEGER) AS n_pairs,
               CAST(SUM(is_cut) AS INTEGER) AS n_cuts,
               CAST(COALESCE(MIN(CASE WHEN is_cut = 1 THEN t END), -1)
                    AS INTEGER) AS first_cut_t,
               SUM(sad) AS total_sad
        FROM flagged
        GROUP BY asset_id
        ORDER BY asset_id
    """,
    # Round-6: 4:4:4 color baseline JPEG — per-plane constant blocks
    # quantize losslessly; exact YCbCr sums in closed form.
    "mm_image_decode_jpeg_color": f"""
        WITH assets AS (
            SELECT i AS asset_id,
                   2 + (i % 3) AS bw, 2 + (i % 2) AS bh
            FROM generate_series(0, {N_JPEG_COLOR_ASSETS - 1}) s(i)
        ),
        blocks AS (
            SELECT a.asset_id, a.bw, a.bh, gx.bx, gy.by,
                   (23 * a.asset_id + 5 * gx.bx + 7 * gy.by) % 256 AS y,
                   (11 * a.asset_id + 3 * gx.bx + 2 * gy.by) % 256 AS cb,
                   (19 * a.asset_id + 2 * gx.bx + 3 * gy.by) % 256 AS cr
            FROM assets a
            CROSS JOIN generate_series(0, 3) gx(bx)
            CROSS JOIN generate_series(0, 2) gy(by)
            WHERE gx.bx < a.bw AND gy.by < a.bh
        )
        SELECT asset_id,
               CAST(MAX(bw) * 8 AS INTEGER) AS width,
               CAST(MAX(bh) * 8 AS INTEGER) AS height,
               CAST(COUNT(*) AS INTEGER) AS n_blocks,
               SUM(y) * 64 AS sum_y,
               SUM(cb) * 64 AS sum_cb,
               SUM(cr) * 64 AS sum_cr,
               SUM(y * y) * 64 AS ssq_y,
               SUM(CASE WHEN by = 0 THEN y ELSE 0 END) * 8 AS row0_y_sum
        FROM blocks
        GROUP BY asset_id
        ORDER BY asset_id
    """,
    # Round-7: 4:2:0 subsampled decode — Y per 8x8 luma block (×64),
    # chroma per 16x16 MCU area (×256, i.e. the full-res sums AFTER
    # replication upsampling), row0 sums column-asymmetric.
    "mm_image_decode_jpeg_420": f"""
        WITH assets AS (
            SELECT i AS asset_id,
                   2 + (i % 3) AS mw, 2 + (i % 2) AS mh
            FROM generate_series(0, {N_JPEG_420_ASSETS - 1}) s(i)
        ),
        yblocks AS (
            SELECT a.asset_id,
                   (23 * a.asset_id + 5 * gx.bx + 7 * gy.by) % 256 AS y,
                   gy.by
            FROM assets a
            CROSS JOIN generate_series(0, 7) gx(bx)
            CROSS JOIN generate_series(0, 5) gy(by)
            WHERE gx.bx < 2 * a.mw AND gy.by < 2 * a.mh
        ),
        ysum AS (
            SELECT asset_id, SUM(y) * 64 AS sum_y,
                   SUM(CASE WHEN by = 0 THEN y ELSE 0 END) * 8
                       AS row0_y_sum
            FROM yblocks GROUP BY asset_id
        ),
        cblocks AS (
            SELECT a.asset_id, a.mw, a.mh,
                   (11 * a.asset_id + 3 * gx.mx + 2 * gy.my) % 256 AS cb,
                   (19 * a.asset_id + 2 * gx.mx + 3 * gy.my) % 256 AS cr,
                   gy.my
            FROM assets a
            CROSS JOIN generate_series(0, 3) gx(mx)
            CROSS JOIN generate_series(0, 2) gy(my)
            WHERE gx.mx < a.mw AND gy.my < a.mh
        ),
        csum AS (
            SELECT asset_id,
                   CAST(MAX(mw) * 16 AS INTEGER) AS width,
                   CAST(MAX(mh) * 16 AS INTEGER) AS height,
                   CAST(COUNT(*) AS INTEGER) AS n_mcus,
                   SUM(cb) * 256 AS sum_cb,
                   SUM(cr) * 256 AS sum_cr,
                   SUM(CASE WHEN my = 0 THEN cb ELSE 0 END) * 16
                       AS row0_cb_sum
            FROM cblocks GROUP BY asset_id
        )
        SELECT c.asset_id, c.width, c.height, c.n_mcus,
               y.sum_y, c.sum_cb, c.sum_cr,
               y.row0_y_sum, c.row0_cb_sum
        FROM csum c JOIN ysum y USING (asset_id)
        ORDER BY c.asset_id
    """,
    # Round-7: progressive (SOF2) JPEG — same closed-form constant
    # blocks as the baseline gray suite, different plane constants;
    # a wrong successive-approximation shift or refinement bit moves
    # every pixel and breaks these sums.
    "mm_image_decode_jpeg_progressive_color": f"""
        WITH assets AS (
            SELECT i AS asset_id,
                   2 + (i % 4) AS bw, 2 + ((i // 2) % 2) AS bh
            FROM generate_series(0, {N_JPEG_PROG_COLOR_ASSETS - 1}) s(i)
        ),
        blocks AS (
            SELECT a.asset_id, a.bw, a.bh, gx.bx, gy.by,
                   (23 * a.asset_id + 5 * gx.bx + 7 * gy.by) % 256 AS y,
                   (11 * a.asset_id + 3 * gx.bx + 2 * gy.by) % 256 AS cb,
                   (19 * a.asset_id + 2 * gx.bx + 3 * gy.by) % 256 AS cr
            FROM assets a
            CROSS JOIN generate_series(0, 4) gx(bx)
            CROSS JOIN generate_series(0, 2) gy(by)
            WHERE gx.bx < a.bw AND gy.by < a.bh
        )
        SELECT asset_id,
               CAST(MAX(bw) * 8 AS INTEGER) AS width,
               CAST(MAX(bh) * 8 AS INTEGER) AS height,
               CAST(COUNT(*) AS INTEGER) AS n_blocks,
               SUM(y) * 64 AS sum_y,
               SUM(cb) * 64 AS sum_cb,
               SUM(cr) * 64 AS sum_cr,
               SUM(y * y) * 64 AS ssq_y,
               SUM(CASE WHEN by = 0 THEN y ELSE 0 END) * 8 AS row0_y_sum
        FROM blocks
        GROUP BY asset_id
        ORDER BY asset_id
    """,
    "mm_image_decode_jpeg_progressive": f"""
        WITH assets AS (
            SELECT i AS asset_id,
                   2 + (i % 3) AS bw, 2 + (i % 2) AS bh
            FROM generate_series(0, {N_JPEG_PROG_ASSETS - 1}) s(i)
        ),
        blocks AS (
            SELECT a.asset_id, a.bw, a.bh, gy.by,
                   (31 * a.asset_id + 11 * gx.bx + 3 * gy.by) % 256 AS v
            FROM assets a
            CROSS JOIN generate_series(0, 3) gx(bx)
            CROSS JOIN generate_series(0, 2) gy(by)
            WHERE gx.bx < a.bw AND gy.by < a.bh
        )
        SELECT asset_id,
               CAST(MAX(bw) * 8 AS INTEGER) AS width,
               CAST(MAX(bh) * 8 AS INTEGER) AS height,
               CAST(COUNT(*) AS INTEGER) AS n_blocks,
               SUM(v) * 64 AS sum_px,
               SUM(v * v) * 64 AS ssq_px,
               SUM(CASE WHEN by = 0 THEN v ELSE 0 END) * 8 AS row0_sum
        FROM blocks
        GROUP BY asset_id
        ORDER BY asset_id
    """,
    # Round-7: RLE TGA — channel sums over the run-constant pattern;
    # row0 reads the TOP row (post-flip), catching a missed
    # bottom-up origin flip; b/g/r constants asymmetric.
    "mm_image_decode_tga": f"""
        WITH assets AS (
            SELECT i AS asset_id,
                   24 + 4 * (i % 4) AS w, 16 + 3 * (i % 3) AS h
            FROM generate_series(0, {N_TGA_ASSETS - 1}) s(i)
        ),
        px AS (
            SELECT a.asset_id, a.w, a.h, gy.y,
                   (5 * a.asset_id + 7 * (gx.x // 4) + 11 * gy.y) % 256 AS b,
                   (13 * a.asset_id + 17 * (gx.x // 4) + 19 * gy.y) % 256 AS g,
                   (23 * a.asset_id + 29 * (gx.x // 4) + 31 * gy.y) % 256 AS r
            FROM assets a
            CROSS JOIN generate_series(0, 39) gx(x)
            CROSS JOIN generate_series(0, 21) gy(y)
            WHERE gx.x < a.w AND gy.y < a.h
        )
        SELECT asset_id,
               CAST(MAX(w) AS INTEGER) AS width,
               CAST(MAX(h) AS INTEGER) AS height,
               CAST(COUNT(*) AS BIGINT) AS n_px,
               CAST(SUM(b) AS BIGINT) AS sum_b,
               CAST(SUM(g) AS BIGINT) AS sum_g,
               CAST(SUM(r) AS BIGINT) AS sum_r,
               CAST(SUM(CASE WHEN y = 0 THEN b ELSE 0 END) AS BIGINT)
                   AS row0_b_sum
        FROM px
        GROUP BY asset_id
        ORDER BY asset_id
    """,
    # Round-7: AIFF — exact big-endian PCM sample stats from the
    # shared closed-form pattern s(a,k) = ((7a+13k)%201)−100.
    "mm_audio_decode_aiff": f"""
        WITH assets AS (
            SELECT i AS asset_id, 800 + 10 * i AS ns
            FROM generate_series(0, {N_AIFF_ASSETS - 1}) s(i)
        ),
        samples AS (
            SELECT a.asset_id, a.ns,
                   ((7 * a.asset_id + 13 * k.k) % 201) - 100 AS s
            FROM assets a
            CROSS JOIN generate_series(
                0, {800 + 10 * (N_AIFF_ASSETS - 1) - 1}) k(k)
            WHERE k.k < a.ns
        )
        SELECT asset_id,
               {AIFF_RATE} AS rate_hz,
               CAST(COUNT(*) AS BIGINT) AS n_samples,
               CAST(SUM(s) AS BIGINT) AS sum_s,
               CAST(SUM(s * s) AS BIGINT) AS ssq_s,
               CAST(MIN(s) AS BIGINT) AS min_s,
               CAST(MAX(s) AS BIGINT) AS max_s
        FROM samples
        GROUP BY asset_id
        ORDER BY asset_id
    """,
    # Round-7: GIF87a with real LZW — the decoded pixels are exact,
    # so the oracle recomputes the closed-form pattern sums; one
    # wrong dictionary entry would shift every later pixel and
    # break sum_px/ssq_px/row0_sum.
    "mm_image_decode_gif": f"""
        WITH assets AS (
            SELECT i AS asset_id,
                   20 + 4 * (i % 4) AS w, 14 + 3 * (i % 3) AS h
            FROM generate_series(0, {N_GIF_ASSETS - 1}) s(i)
        ),
        px AS (
            SELECT a.asset_id, a.w, a.h, gy.y,
                   (11 * a.asset_id + 5 * gx.x + 7 * gy.y) % 256 AS v
            FROM assets a
            CROSS JOIN generate_series(0, 31) gx(x)
            CROSS JOIN generate_series(0, 19) gy(y)
            WHERE gx.x < a.w AND gy.y < a.h
        )
        SELECT asset_id,
               CAST(MAX(w) AS INTEGER) AS width,
               CAST(MAX(h) AS INTEGER) AS height,
               CAST(COUNT(*) AS BIGINT) AS n_px,
               SUM(v) AS sum_px,
               SUM(v * v) AS ssq_px,
               SUM(CASE WHEN y = 0 THEN v ELSE 0 END) AS row0_sum
        FROM px
        GROUP BY asset_id
        ORDER BY asset_id
    """,
    # Round-6: the decode router — per-format closed-form content
    # sums, plus the junk arm's skip counts from the feed rule.
    "mm_audio_adpcm_decode": _adpcm_decode_oracle(),
    "mm_decode_router": f"""
        WITH RECURSIVE ids AS (
            SELECT i,
                   CASE WHEN i % 10 = 9 THEN 'junk'
                        WHEN i % 4 = 0 THEN 'bmp'
                        WHEN i % 4 = 1 AND i % 8 = 5 THEN 'adpcm'
                        WHEN i % 4 = 1 AND i % 16 = 1 THEN 'flac'
                        WHEN i % 4 = 1 THEN 'wav'
                        WHEN i % 4 = 2 THEN 'y4m'
                        ELSE 'jpeg' END AS kind
            FROM generate_series(0, {N_MIXED_ASSETS - 1}) s(i)
        ),
        adpcm_blocks AS MATERIALIZED (
            SELECT i, b.b AS blk
            FROM ids CROSS JOIN generate_series(0, 4) b(b)
            WHERE kind = 'adpcm' AND b.b < 2 + i % 3
        ),
        adpcm_dec AS (
            SELECT i, blk, 0 AS j,
                   CAST(((7 * i + 13 * blk) % 201) - 100 AS BIGINT)
                       AS pred,
                   (5 * i + 3 * blk) % 89 AS sidx
            FROM adpcm_blocks
            UNION ALL
            SELECT i, blk, j + 1,
                   GREATEST(-32768, LEAST(32767,
                       pred + CASE WHEN nib & 8 > 0 THEN -diff
                                   ELSE diff END)),
                   GREATEST(0, LEAST(88,
                       sidx + ({_ADPCM_IDXS_SQL})[nib + 1]))
            FROM (
                SELECT i, blk, j, pred, sidx, nib,
                       (step >> 3)
                       + CASE WHEN nib & 4 > 0 THEN step ELSE 0 END
                       + CASE WHEN nib & 2 > 0 THEN step >> 1 ELSE 0 END
                       + CASE WHEN nib & 1 > 0 THEN step >> 2 ELSE 0 END
                           AS diff
                FROM (
                    SELECT i, blk, j, pred, sidx,
                           (7 * i + 13 * (blk * {2 * (ADPCM_BLOCK_ALIGN - 4)}
                                          + j)) % 16 AS nib,
                           ({_ADPCM_STEPS_SQL})[sidx + 1] AS step
                    FROM adpcm_dec
                    WHERE j < {2 * (ADPCM_BLOCK_ALIGN - 4)}
                )
            )
        ),
        adpcm AS (
            SELECT i AS asset_id, 'audio' AS media_type, 1 AS decoded,
                   COUNT(*) AS units, SUM(pred * pred) AS main
            FROM adpcm_dec GROUP BY i
        ),
        bmp AS (
            SELECT d.i AS asset_id, 'image' AS media_type, 1 AS decoded,
                   COUNT(*) AS units,
                   SUM(((19 * d.i + 23 * gx.x + 29 * gy.y) % 256)
                     + ((11 * d.i + 13 * gx.x + 17 * gy.y) % 256)
                     + ((7 * d.i + 3 * gx.x + 5 * gy.y) % 256)) AS main
            FROM ids d
            CROSS JOIN generate_series(0, {_BMP_MAX_W - 1}) gx(x)
            CROSS JOIN generate_series(0, {_BMP_MAX_H - 1}) gy(y)
            WHERE d.kind = 'bmp'
              AND gx.x < 16 + d.i % 8 AND gy.y < 12 + d.i % 5
            GROUP BY d.i
        ),
        jpeg AS (
            SELECT d.i AS asset_id, 'image' AS media_type, 1 AS decoded,
                   64 * COUNT(*) AS units,
                   64 * SUM((29 * d.i + 7 * gx.bx + 13 * gy.by) % 256)
                       AS main
            FROM ids d
            CROSS JOIN generate_series(0, 3) gx(bx)
            CROSS JOIN generate_series(0, 2) gy(by)
            WHERE d.kind = 'jpeg' AND (d.i // 4) % 2 = 0
              AND gx.bx < 2 + d.i % 3 AND gy.by < 2 + d.i % 2
            GROUP BY d.i
        ),
        jpeg420 AS (
            -- alternate jpeg assets are 4:2:0 color: luma-plane sum
            -- over 2mw x 2mh constant 8x8 Y blocks, full-res units
            SELECT d.i AS asset_id, 'image' AS media_type, 1 AS decoded,
                   64 * COUNT(*) AS units,
                   64 * SUM((23 * d.i + 5 * gx.bx + 7 * gy.by) % 256)
                       AS main
            FROM ids d
            CROSS JOIN generate_series(0, 7) gx(bx)
            CROSS JOIN generate_series(0, 5) gy(by)
            WHERE d.kind = 'jpeg' AND (d.i // 4) % 2 = 1
              AND gx.bx < 2 * (2 + d.i % 3)
              AND gy.by < 2 * (2 + d.i % 2)
            GROUP BY d.i
        ),
        wav AS (
            SELECT d.i AS asset_id, 'audio' AS media_type, 1 AS decoded,
                   COUNT(*) AS units,
                   SUM((((7 * d.i + 13 * k.k) % 201) - 100)
                       * (((7 * d.i + 13 * k.k) % 201) - 100)) AS main
            FROM ids d
            CROSS JOIN generate_series(
                0, {1000 + 10 * (N_MIXED_ASSETS - 1) - 1}) k(k)
            WHERE d.kind = 'wav' AND k.k < 1000 + 10 * d.i
            GROUP BY d.i
        ),
        flac AS (
            -- round-12: FLAC decode is lossless, so the stats are
            -- the closed-form signal's — (2 + i%3) frames of
            -- FLAC_BLOCK samples s = ((7i + 13t) % 201) - 100
            SELECT d.i AS asset_id, 'audio' AS media_type, 1 AS decoded,
                   COUNT(*) AS units,
                   SUM((((7 * d.i + 13 * t.t) % 201) - 100)
                       * (((7 * d.i + 13 * t.t) % 201) - 100)) AS main
            FROM ids d
            CROSS JOIN generate_series(0, {4 * _FLAC_BLOCK - 1}) t(t)
            WHERE d.kind = 'flac' AND t.t < (2 + d.i % 3) * {_FLAC_BLOCK}
            GROUP BY d.i
        ),
        y4m AS (
            SELECT d.i AS asset_id, 'video' AS media_type, 1 AS decoded,
                   COUNT(*) AS units,
                   SUM((3 * d.i + 5 * gx.x + 7 * gy.y + 11 * t.t) % 256)
                       AS main
            FROM ids d
            CROSS JOIN generate_series(0, {_Y4M_MAX_F - 1}) t(t)
            CROSS JOIN generate_series(0, {_Y4M_MAX_W - 1}) gx(x)
            CROSS JOIN generate_series(0, {_Y4M_MAX_H - 1}) gy(y)
            WHERE d.kind = 'y4m' AND t.t < 4 + d.i % 5
              AND gx.x < 12 + d.i % 6 AND gy.y < 8 + d.i % 4
            GROUP BY d.i
        ),
        junk AS (
            SELECT i AS asset_id, 'video' AS media_type, 0 AS decoded,
                   0 AS units, 0 AS main
            FROM ids WHERE kind = 'junk'
        ),
        allrows AS (
            SELECT * FROM bmp UNION ALL SELECT * FROM jpeg
            UNION ALL SELECT * FROM jpeg420
            UNION ALL SELECT * FROM wav
            UNION ALL SELECT * FROM adpcm
            UNION ALL SELECT * FROM flac
            UNION ALL SELECT * FROM y4m UNION ALL SELECT * FROM junk
        )
        SELECT media_type,
               CAST(COUNT(*) AS BIGINT) AS n_assets,
               CAST(SUM(decoded) AS BIGINT) AS n_decoded,
               SUM(units) AS total_units,
               SUM(main) AS total_main,
               MAX(main) AS max_main
        FROM allrows
        GROUP BY media_type
        ORDER BY media_type
    """,
}
