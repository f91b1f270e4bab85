"""Audio QUALITY features + rules over decoded PCM — the audio-axis
analogue of the text quality scorer (operators/text.py): per-clip
signal statistics a training-data pipeline gates on before a clip is
allowed into a corpus.

Features (all computed from ONE decode of the payload, fused with the
SNR/transcript invariant so a pipeline wanting both pays a single
Python pass over `bytes`):

  clipping_ratio     fraction of samples at full scale (|x| >= 0.999)
  dc_offset          mean(x) — a miswired ADC shows up here
  rms_db             20*log10(rms) overall level
  silence_ratio      fraction of 20 ms frames with RMS below -60 dBFS
  dominant_freq_hz   argmax |rFFT| excluding DC — for the synthetic
                     recipe this must land on the f0 partial
                     (synth.reference_pcm: f0 = 200 + seed%1800 at
                     amplitude 0.6 vs f1 at 0.25), which makes the
                     FFT path analytically checkable (q65)
  spectral_flatness  geometric/arithmetic mean of the power spectrum
                     (excl. DC): ~1 for noise/silence, ~0 for tones

Rule tier (soft labels, reference-style value-echoing messages —
/root/reference/validators/core_models.py:169-202 pattern):
  audio_clipping(r)   clipping_ratio > 0.01
  audio_dc_offset(x)  |dc_offset| > 0.05
  audio_silent(r)     silence_ratio > 0.5

Scale notes: the UDF is the iterator pandas form (Arrow batches,
session-capped at 512 rows so binary batches fit executor memory);
per-row cost is O(n log n) for one rFFT of <= a few seconds of audio;
nothing but scalars leave the UDF, so no wide shuffle ever carries
PCM. Callers repartition before this stage exactly like
checks.run_audio_checks.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from data_validator_spark.audio import codecs, synth

CLIP_FULL_SCALE = 0.999
CLIPPING_MAX_RATIO = 0.01
DC_OFFSET_MAX = 0.05
SILENCE_FRAME_MS = 20
SILENCE_RMS_DBFS = -60.0
SILENCE_MAX_RATIO = 0.5

BANDWIDTH_ENERGY_FRAC = 0.995

_FEATURE_FIELDS = [
    ("clipping_ratio", T.DoubleType()),
    ("dc_offset", T.DoubleType()),
    ("rms_db", T.DoubleType()),
    ("silence_ratio", T.DoubleType()),
    ("dominant_freq_hz", T.DoubleType()),
    ("spectral_flatness", T.DoubleType()),
    ("bandwidth_hz", T.DoubleType()),
    ("effective_bits", T.DoubleType()),
    # BS.1770-4 K-weighted integrated loudness (audio/loudness.py);
    # NaN for clips shorter than one 400 ms block or fully gated out
    ("loudness_lufs", T.DoubleType()),
]

_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("decode_error", T.StringType()),
        T.StructField("snr_db", T.DoubleType()),
        T.StructField("container_sr", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("pcm_unsupported", T.BooleanType()),
    ]
    + [T.StructField(name, dt) for name, dt in _FEATURE_FIELDS]
)


def analyze_pcm(pcm: np.ndarray, sr_hz: int) -> dict[str, float]:
    """Pure-numpy feature extraction for one decoded clip (float32
    [-1, 1]). Deterministic: same samples -> same features."""
    x = np.asarray(pcm, dtype=np.float32)
    n = len(x)
    if n == 0:
        return {name: float("nan") for name, _ in _FEATURE_FIELDS}
    ax = np.abs(x)
    clipping = float(np.count_nonzero(ax >= CLIP_FULL_SCALE)) / n
    dc = float(x.mean())
    rms = float(np.sqrt(np.dot(x, x) / n))
    rms_db = 20.0 * np.log10(rms) if rms > 0 else float("-inf")

    frame = max(1, int(sr_hz * SILENCE_FRAME_MS / 1000))
    n_frames = n // frame
    if n_frames:
        fx = x[: n_frames * frame].reshape(n_frames, frame).astype(np.float64)
        frame_rms = np.sqrt(np.mean(fx * fx, axis=1))
        thresh = 10.0 ** (SILENCE_RMS_DBFS / 20.0)
        silence = float(np.count_nonzero(frame_rms < thresh)) / n_frames
    else:
        silence = float(rms < 10.0 ** (SILENCE_RMS_DBFS / 20.0))

    # effective bit depth: snap to the 16-bit grid and count the
    # trailing zero bits common to every nonzero sample — content
    # quantized to b bits then upconverted lands on multiples of
    # 2^(16-b), the classic bit-depth probe (ffprobe/sox behavior).
    # Properly dithered real 16-bit audio reports 16; digital silence
    # reports 0 by convention. Scale is 32767: every codec in this
    # engine maps int16 <-> float as v/32767 (codecs.py, flac.py).
    ints = np.round(x.astype(np.float64) * 32767.0).clip(-32768, 32767).astype(np.int32)
    nz = ints[ints != 0]
    if len(nz):
        min_tz = int(np.log2(np.min(nz & -nz)))
        eff_bits = 16 - min_tz
    else:
        eff_bits = 0

    spec = np.abs(np.fft.rfft(x.astype(np.float64)))
    power = spec * spec
    if len(power) > 1:
        body = power[1:]  # exclude DC from all spectral features
        k = int(np.argmax(body)) + 1
        dom = k * sr_hz / n
        am = float(body.mean())
        flatness = (
            float(np.exp(np.mean(np.log(body + 1e-30))) / (am + 1e-30))
            if am > 0
            else 1.0
        )
        total = float(body.sum())
        if total > 0:
            # effective bandwidth: lowest frequency below which
            # BANDWIDTH_ENERGY_FRAC of the (non-DC) energy lies — the
            # upsample detector's raw material (8 kHz content shipped
            # in a 48 kHz container rolls off at ~4 kHz, not ~24 kHz)
            k_bw = int(np.searchsorted(np.cumsum(body), BANDWIDTH_ENERGY_FRAC * total)) + 1
            bw = k_bw * sr_hz / n
        else:
            bw = 0.0
    else:
        dom, flatness, bw = 0.0, 1.0, 0.0
    from data_validator_spark.audio.loudness import integrated_lufs

    lufs = integrated_lufs(x, sr_hz)[0]
    return {
        "clipping_ratio": clipping,
        "dc_offset": dc,
        "rms_db": float(rms_db),
        "silence_ratio": silence,
        "dominant_freq_hz": float(dom),
        "spectral_flatness": flatness,
        "bandwidth_hz": float(bw),
        "effective_bits": float(eff_bits),
        "loudness_lufs": float(lufs),
    }


def make_audio_quality_udf(
    plugins: dict | None = None,
    inspectors: dict | None = None,
    embed_mels: int | None = None,
):
    """Build the fused quality UDF, optionally closing over `plugins`
    (codec -> decode callable) and `inspectors` (codec -> metadata
    inspect callable) — mirrors checks.make_audio_check_udf: the
    dicts ride the UDF closure to every python worker.

    embed_mels (opt-in): also emit the log-mel content `embedding`
    (audio/features.py, 2*embed_mels floats) from the SAME decode —
    a pipeline that validates AND content-dedups pays exactly one
    pass over the payload column."""
    schema = _RESULT_SCHEMA
    if embed_mels:
        schema = T.StructType(
            schema.fields
            + [T.StructField("embedding", T.ArrayType(T.FloatType()))]
        )

    @pandas_udf(schema)
    def _audio_quality_udf(
        it: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield _quality_batch(pdf, plugins, inspectors, embed_mels)

    return _audio_quality_udf


def _quality_batch(
    pdf: pd.DataFrame,
    plugins: dict | None,
    inspectors: dict | None = None,
    embed_mels: int | None = None,
) -> pd.DataFrame:
    """struct(clip_id, codec, sr_hz, bytes, skip) batch ->
    decode outcome + SNR invariant + quality features, ONE decode per
    row (the fused path: a pipeline running both the per-row invariant
    and quality gating pays a single pass over the payload column).
    skip=True rows pass through all-null with no decode attempt,
    mirroring checks.audio_check_udf."""
    feat_names = [name for name, _ in _FEATURE_FIELDS]
    n = len(pdf)
    out = {
        "decode_error": np.full(n, None, dtype=object),
        "snr_db": np.full(n, np.nan),
        "container_sr": np.full(n, -1, dtype=np.int64),
        "n_samples": np.full(n, -1, dtype=np.int64),
        "pcm_unsupported": np.zeros(n, dtype=bool),
    }
    if embed_mels:
        from data_validator_spark.audio import features

        emb = np.full(n, None, dtype=object)
    for name in feat_names:
        out[name] = np.full(n, np.nan)
    clip_ids = pdf["clip_id"].to_numpy()
    codec_col = pdf["codec"].to_numpy()
    payloads = pdf["bytes"].to_numpy()
    skips = pdf["skip"].to_numpy()
    outcomes = codecs.decode_batch(codec_col, payloads, plugins, skips)
    for i, res in enumerate(outcomes):
        if res is None:
            continue
        if isinstance(res, codecs.PcmUnsupportedError):
            # metadata tier: real container checks, no PCM features
            meta = codecs.inspect_metadata(
                codec_col[i], payloads[i], inspectors=inspectors
            )
            if meta is None:
                out["decode_error"][i] = (
                    "pcm decode unsupported, no metadata tier"
                )
            elif meta["error"] is not None:
                out["decode_error"][i] = meta["error"]
            else:
                out["pcm_unsupported"][i] = True
                in_sr = meta.get("input_sr") or 0
                if in_sr > 0:
                    out["container_sr"][i] = in_sr
                    if meta.get("duration_ms") is not None:
                        out["n_samples"][i] = int(round(
                            meta["duration_ms"] / 1000.0 * in_sr
                        ))
            continue
        if isinstance(res, codecs.CodecError):
            out["decode_error"][i] = str(res)
            continue
        pcm, sr = res
        out["container_sr"][i] = sr
        out["n_samples"][i] = len(pcm)
        ref = synth.reference_pcm(str(clip_ids[i]), int(sr), len(pcm))
        out["snr_db"][i] = codecs.snr_db(ref, pcm)
        for name, val in analyze_pcm(pcm, sr).items():
            out[name][i] = val
        if embed_mels:
            emb[i] = [
                float(v)
                for v in features.log_mel_embedding(pcm, sr, embed_mels)
            ]
    out["container_sr"] = pd.array(out["container_sr"], dtype="Int32")
    if embed_mels:
        out["embedding"] = emb
    return pd.DataFrame(out)


# default instance (no plugins) — the common path and the public name
audio_quality_udf = make_audio_quality_udf()


def quality_labels_expr(
    struct_name: str,
    clipping_max: float = CLIPPING_MAX_RATIO,
    dc_max: float = DC_OFFSET_MAX,
    silence_max: float = SILENCE_MAX_RATIO,
    upsample_min_ratio: float | None = None,
    min_effective_bits: int | None = None,
    lufs_min: float | None = None,
    lufs_max: float | None = None,
) -> Column:
    """';'-joined soft-tier quality labels (NULL when clean) over the
    named decode-result struct column — the same value-echoing shape
    the rule compiler emits, so plans fold it straight into
    `messages`. Shared by run_quality_checks and the fused
    checks.run_audio_checks(quality=True) path."""
    s = F.col(struct_name)
    decoded = s.getField("decode_error").isNull()
    # upsample detection is OPT-IN (upsample_min_ratio=None disables):
    # legitimate narrowband content (a tone, a sine-sweep fixture)
    # is spectrally indistinguishable from an upsample artifact, so
    # the threshold is a per-dataset policy, not a universal default.
    # bandwidth is measured vs the DECODED container rate — a clip
    # whose content fills its claimed sr_hz but not its real one is
    # precisely the defect.
    upsample = (
        F.when(
            decoded
            & (s.getField("container_sr") > 0)
            & (s.getField("silence_ratio") < 1.0)
            & (
                s.getField("bandwidth_hz")
                < F.lit(upsample_min_ratio) * s.getField("container_sr") / 2.0
            ),
            F.concat(
                F.lit("audio_upsampled("),
                F.round(
                    s.getField("bandwidth_hz")
                    / (s.getField("container_sr") / 2.0),
                    3,
                ).cast("string"),
                F.lit(")"),
            ),
        )
        if upsample_min_ratio is not None
        else F.lit(None).cast("string")
    )
    # low-bitdepth is opt-in for the same reason as upsample: whether
    # 8-bit provenance is a defect is a dataset policy. Silence
    # (effective_bits = 0 by convention) is the silence rule's job.
    low_depth = (
        F.when(
            decoded
            & (s.getField("effective_bits") > 0)
            & (s.getField("effective_bits") < F.lit(min_effective_bits)),
            F.concat(
                F.lit("audio_low_bitdepth("),
                s.getField("effective_bits").cast("int").cast("string"),
                F.lit(")"),
            ),
        )
        if min_effective_bits is not None
        else F.lit(None).cast("string")
    )
    # loudness bounds are opt-in like the other policies: the target
    # window is a corpus-normalization choice (speech ~-16..-23 LUFS),
    # not a universal constant. Unmeasurable clips (NaN/NULL: shorter
    # than one 400 ms block, or fully gated silence) are NOT flagged
    # here — the silence rule owns that defect class.
    lufs = s.getField("loudness_lufs")
    loud_rule = (
        F.when(
            decoded
            & lufs.isNotNull()
            & ~F.isnan(lufs)
            & ((lufs < F.lit(lufs_min)) | (lufs > F.lit(lufs_max))),
            F.concat(
                F.lit("audio_loudness_out_of_range("),
                F.round(lufs, 1).cast("string"),
                F.lit(")"),
            ),
        )
        if lufs_min is not None and lufs_max is not None
        else F.lit(None).cast("string")
    )
    labels = F.array(
        upsample,
        low_depth,
        loud_rule,
        F.when(
            decoded & (s.getField("clipping_ratio") > clipping_max),
            F.concat(
                F.lit("audio_clipping("),
                F.round(s.getField("clipping_ratio"), 3).cast("string"),
                F.lit(")"),
            ),
        ),
        F.when(
            decoded & (F.abs(s.getField("dc_offset")) > dc_max),
            F.concat(
                F.lit("audio_dc_offset("),
                F.round(s.getField("dc_offset"), 3).cast("string"),
                F.lit(")"),
            ),
        ),
        F.when(
            decoded & (s.getField("silence_ratio") > silence_max),
            F.concat(
                F.lit("audio_silent("),
                F.round(s.getField("silence_ratio"), 3).cast("string"),
                F.lit(")"),
            ),
        ),
    )
    joined = F.array_join(F.filter(labels, lambda c: c.isNotNull()), ";")
    return F.when(joined != "", joined)


def run_quality_checks(
    clips: DataFrame,
    skip_col: str | None = None,
    clipping_max: float = CLIPPING_MAX_RATIO,
    dc_max: float = DC_OFFSET_MAX,
    silence_max: float = SILENCE_MAX_RATIO,
    upsample_min_ratio: float | None = None,
    min_effective_bits: int | None = None,
    lufs_min: float | None = None,
    lufs_max: float | None = None,
    embed_mels: int | None = None,
) -> DataFrame:
    """Append quality feature columns + soft-tier labels. Input needs
    (clip_id, codec, sr_hz, bytes); output adds every feature column
    plus `_quality_labels` (';'-joined, NULL when clean). Delegates to
    the fused checks.run_audio_checks(quality=True) — ONE decode pass
    computes the SNR invariant and the features."""
    from data_validator_spark.audio.checks import run_audio_checks

    return run_audio_checks(
        clips,
        skip_col=skip_col,
        quality=True,
        clipping_max=clipping_max,
        dc_max=dc_max,
        silence_max=silence_max,
        upsample_min_ratio=upsample_min_ratio,
        min_effective_bits=min_effective_bits,
        lufs_min=lufs_min,
        lufs_max=lufs_max,
        embed_mels=embed_mels,
    )
