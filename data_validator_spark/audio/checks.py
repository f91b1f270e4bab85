"""Audio-payload validation stage (the graft's per-row invariant).

BASELINE.json input_hint: "decoded-PCM allclose (SNR>=30dB) +
transcript equality". This is the engine's only Python compute, kept
Arrow-batched (pandas UDF over binary series, never row-at-a-time
Python UDFs — SURVEY.md §2.11) with a minimal input projection:
(clip_id, codec, sr_hz, bytes). Everything downstream of the UDF
(labels, tiers, message appends) is Column expressions.

Scale notes:
  - Arrow batch size is capped session-wide (session.py caps both
    spark.sql.execution.arrow.maxRecordsPerBatch and the parquet
    columnar reader batch at 512 rows) so a batch of `bytes` payloads
    fits executor memory.
  - decode parallelism is decoupled from file layout: callers
    repartition before this stage (plans/validation.py uses a
    deterministic repartition so task retries are stable).
  - per-row work is O(samples); the UDF releases each batch promptly
    (no accumulation across batches).
  - the batch's FLAC rows decode together (codecs.decode_batch ->
    flac.decode_flac_batch), in chunks of about 4 MiB of payload so
    the batch-wide bit arrays stay bounded; the other rows decode one
    at a time as the loop reaches them.
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

SNR_MIN_DB = 30.0

# explicit StructType: a DDL string would be parsed at import time and
# require an active SparkSession
_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("decode_error", T.StringType()),
        T.StructField("snr_db", T.DoubleType()),
        T.StructField("container_sr", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("pcm_unsupported", T.BooleanType()),
    ]
)


def make_audio_check_udf(
    plugins: dict | None = None, inspectors: dict | None = None
):
    """Build the decode-check pandas UDF, optionally closing over
    `plugins` (codec -> decode callable) and `inspectors` (codec ->
    metadata-inspect callable): the dicts ride the UDF closure to
    every python worker — the same serialization path as all user
    code — so native decoders (libopus/libflac) and container
    inspectors plug in per-call with zero engine edits and no
    worker-side imports."""

    @pandas_udf(_RESULT_SCHEMA)
    def _audio_check_udf(
        it: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield _check_batch(pdf, plugins, inspectors)

    return _audio_check_udf


def _check_batch(
    pdf: pd.DataFrame,
    plugins: dict | None,
    inspectors: dict | None = None,
) -> pd.DataFrame:
    """Batch body of the decode-check UDF: struct(clip_id, codec,
    sr_hz, bytes, skip) batch -> (decode_error, snr_db, container_sr,
    n_samples, pcm_unsupported).

    skip=True rows pass through with all-null outcomes and NO decode
    attempt: the caller uses this for rows already diverted by a
    non-payload hard rule, so their payloads ride the one scan (their
    null-mask is still observed JVM-side) without costing any Python
    decode time.

    Metadata-tier codecs (PCM decode unsupported in-environment, e.g.
    opus without libopus): the REAL container inspection still runs —
    a malformed container is a decode_error exactly like any other
    corrupt payload — and a structurally-sound stream passes through
    with pcm_unsupported=True, container_sr from the container's
    declared rate, and n_samples implied by the container's declared
    duration (so duration-consistency checks stay real). snr_db stays
    null; the caller surfaces audio_codec_unsupported_pcm(<codec>)."""
    n = len(pdf)
    err = np.full(n, None, dtype=object)
    snr = np.full(n, np.nan)
    csr = np.full(n, -1, dtype=np.int64)
    nsm = np.full(n, -1, dtype=np.int64)
    unsup = np.zeros(n, dtype=bool)
    clip_ids = pdf["clip_id"].to_numpy()
    codecs_col = pdf["codec"].to_numpy()
    payloads = pdf["bytes"].to_numpy()
    skips = pdf["skip"].to_numpy()
    outcomes = codecs.decode_batch(codecs_col, payloads, plugins, skips)
    for i, res in enumerate(outcomes):
        if res is None:
            continue
        if isinstance(res, codecs.PcmUnsupportedError):
            meta = codecs.inspect_metadata(
                codecs_col[i], payloads[i], inspectors=inspectors
            )
            if meta is None:
                err[i] = "pcm decode unsupported, no metadata tier"
            elif meta["error"] is not None:
                err[i] = meta["error"]
            else:
                unsup[i] = True
                in_sr = meta.get("input_sr") or 0
                if in_sr > 0:
                    csr[i] = in_sr
                    if meta.get("duration_ms") is not None:
                        nsm[i] = int(round(
                            meta["duration_ms"] / 1000.0 * in_sr
                        ))
            continue
        if isinstance(res, codecs.CodecError):
            err[i] = str(res)
            continue
        pcm, sr = res
        csr[i] = sr
        nsm[i] = len(pcm)
        ref = synth.reference_pcm(str(clip_ids[i]), int(sr), len(pcm))
        snr[i] = codecs.snr_db(ref, pcm)
    return pd.DataFrame(
        {
            "decode_error": err,
            "snr_db": snr,
            "container_sr": pd.array(csr, dtype="Int32"),
            "n_samples": nsm,
            "pcm_unsupported": unsup,
        }
    )


# default instance (no plugins) — the common path and the public name
audio_check_udf = make_audio_check_udf()


def run_audio_checks(
    clips: DataFrame,
    snr_min: float = SNR_MIN_DB,
    snr_min_by_codec: dict[str, float] | None = None,
    skip_col: str | None = None,
    quality: bool = False,
    clipping_max: float | None = None,
    dc_max: float | None = None,
    silence_max: float | None = None,
    upsample_min_ratio: float | None = None,
    min_effective_bits: int | None = None,
    lufs_min: float | None = None,
    lufs_max: float | None = None,
    embed_mels: int | None = None,
    decoder_plugins: dict | None = None,
    inspector_plugins: dict | None = None,
) -> DataFrame:
    """Append audio-check outcome columns:

      audio_bytes_null     boolean (structured null-payload flag —
                           computed JVM-side, NOT parsed from the
                           decode error text, so rewording CodecError
                           messages can never reclassify missing
                           payloads)
      audio_decode_error   string  (hard-tier material)
      audio_snr_db         double
      _snr_label           `audio_snr_below_30db(x.x)` or NULL (soft)
      _container_sr_label  `bytes_sr_mismatch(sr)` or NULL (warning)
      _pcm_unsupported_label `audio_codec_unsupported_pcm(<codec>)`
                           or NULL (warning): the codec's container
                           passed its REAL metadata checks but PCM
                           decode is unavailable in-environment, so
                           the SNR invariant was not evaluated — the
                           honest outcome, never a synthetic pass

    The SNR label rounds to 1dp, echoing the offending value like the
    reference's `fast_rt_...s` labels (core_models.py:169-202).

    quality=True swaps in the FUSED quality UDF (audio/quality.py):
    the same single decode pass additionally yields the spectral/
    level features and a `_quality_labels` soft-tier column — a
    pipeline gating on both the invariant and quality never decodes
    twice.
    """
    if not quality:
        # these knobs only take effect on the fused quality pass —
        # silently ignoring them would hand a caller a loudness window
        # that never fires
        ignored = {
            "clipping_max": clipping_max,
            "dc_max": dc_max,
            "silence_max": silence_max,
            "upsample_min_ratio": upsample_min_ratio,
            "min_effective_bits": min_effective_bits,
            "lufs_min": lufs_min,
            "lufs_max": lufs_max,
            "embed_mels": embed_mels,
        }
        set_knobs = [k for k, v in ignored.items() if v is not None]
        if set_knobs:
            raise ValueError(
                "run_audio_checks: quality-only options "
                f"{set_knobs} require quality=True"
            )
    skip = F.col(skip_col) if skip_col else F.lit(False)
    if quality:
        from data_validator_spark.audio import quality as _q

        udf = (
            _q.make_audio_quality_udf(
                decoder_plugins, inspector_plugins, embed_mels
            )
            if decoder_plugins or inspector_plugins or embed_mels
            else _q.audio_quality_udf
        )
    else:
        udf = (
            make_audio_check_udf(decoder_plugins, inspector_plugins)
            if decoder_plugins or inspector_plugins
            else audio_check_udf
        )
    res = udf(
        F.struct(
            F.col("clip_id"),
            F.col("codec"),
            F.col("sr_hz"),
            F.col("bytes"),
            skip.alias("skip"),
        )
    )
    # the UDF result lands in one struct column that every output
    # below reads by field, so the Arrow stage runs once per row
    out = clips.withColumns(
        {"audio_bytes_null": F.col("bytes").isNull(), "_audio": res}
    )
    a = F.col("_audio")
    cols: dict = {}
    if quality:
        from data_validator_spark.audio.quality import (
            _FEATURE_FIELDS,
            CLIPPING_MAX_RATIO,
            DC_OFFSET_MAX,
            SILENCE_MAX_RATIO,
            quality_labels_expr,
        )

        cols.update({name: a.getField(name) for name, _ in _FEATURE_FIELDS})
        if embed_mels:
            cols["embedding"] = a.getField("embedding")
        cols["_quality_labels"] = quality_labels_expr(
            "_audio",
            clipping_max if clipping_max is not None else CLIPPING_MAX_RATIO,
            dc_max if dc_max is not None else DC_OFFSET_MAX,
            silence_max if silence_max is not None else SILENCE_MAX_RATIO,
            upsample_min_ratio=upsample_min_ratio,
            min_effective_bits=min_effective_bits,
            lufs_min=lufs_min,
            lufs_max=lufs_max,
        )
    # per-codec threshold override: the audio analogue of the
    # reference's per-task rt-bound overrides (core_models.py:169-202)
    # — lossy codecs legitimately bottom out below a lossless bar.
    # Compiles to a when-chain (static config, stays in codegen).
    thresh = F.lit(float(snr_min))
    for codec_name, lo in (snr_min_by_codec or {}).items():
        thresh = F.when(
            F.col("codec") == codec_name, F.lit(float(lo))
        ).otherwise(thresh)
    snr_name = f"audio_snr_below_{int(snr_min)}db"
    decoded = a.getField("decode_error").isNull()
    snr = a.getField("snr_db")
    csr = a.getField("container_sr")
    cols.update({
        "audio_decode_error": a.getField("decode_error"),
        "audio_snr_db": snr,
        # decoded length + container rate surface so downstream rules
        # (duration consistency, transcript plausibility) can use the
        # DECODED duration instead of trusting dur_ms metadata
        "audio_n_samples": a.getField("n_samples"),
        "audio_container_sr": csr,
        "_snr_label": F.when(
            decoded & (snr < thresh),
            F.concat(
                F.lit(snr_name + "("), F.round(snr, 1).cast("string"), F.lit(")")
            ),
        ),
        "_container_sr_label": F.when(
            decoded & F.col("sr_hz").isNotNull() & (csr != F.col("sr_hz")),
            F.concat(F.lit("bytes_sr_mismatch("), csr.cast("string"), F.lit(")")),
        ),
        "_pcm_unsupported_label": F.when(
            decoded & a.getField("pcm_unsupported"),
            F.concat(
                F.lit("audio_codec_unsupported_pcm("), F.col("codec"), F.lit(")")
            ),
        ),
    })
    return out.withColumns(cols).drop("_audio")


def duration_consistency_label(
    dur_ms: Column,
    n_samples: Column,
    container_sr: Column,
    tol_ms: float = 50.0,
) -> Column:
    """Metadata-vs-payload duration cross-check (pure Column expr over
    the decode UDF's outputs): the decoded payload implies a duration
    n_samples / container_sr * 1000; when the `dur_ms` metadata column
    disagrees by more than tol_ms, emit the value-echoing label
    `dur_ms_mismatch(<decoded_ms>)` (warning tier — metadata drift,
    not payload corruption). NULL when the row was not decoded
    (n_samples < 0 sentinel / null inputs), so diverted rows never
    produce phantom flags."""
    decoded_ms = n_samples.cast("double") / container_sr.cast("double") * 1000.0
    return F.when(
        dur_ms.isNotNull()
        & n_samples.isNotNull()
        & (n_samples >= 0)
        & container_sr.isNotNull()
        & (container_sr > 0)
        & (F.abs(decoded_ms - dur_ms.cast("double")) > tol_ms),
        F.concat(
            F.lit("dur_ms_mismatch("),
            F.round(decoded_ms, 1).cast("string"),
            F.lit(")"),
        ),
    )
