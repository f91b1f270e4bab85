"""The end-to-end clips validation plan.

Composes the engine's operators into the reference's lifecycle
(SURVEY.md §3.4): hard schema tier -> soft/warning metadata rules ->
uniqueness -> transcript winner-dedup + referential + equality ->
audio payload checks -> per-partition verdicts + column stats + drift.

Everything is lazy DataFrames; the caller (or the manifest runner)
decides what to materialize. Stage order matters for cost at scale:
rows failing metadata hard rules (missing/unknown codec, missing id)
are diverted BEFORE the audio stage so no Python time is spent on
undecodable rows; the payload itself is read exactly once (scan-side
decode; missing-payload detection happens there too) and is never
shuffled — see run_validation's docstring.

Building the plan is driver work: every DataFrame is analyzed eagerly
against the whole lineage and every Column call is a Py4J round trip.
So every label source (soft/warning rules, duplicate clip_id,
transcript reference, audio outcomes, plausibility) contributes a
label Column, and ONE projection at the end folds them into
validation_msg / warning_msg / valid in their fixed order. The
transcript reference is ONE left join against a lookup that carries
the winner transcript and the hit / multiple-completed flags
together (_ref_lookup).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_validator_spark.audio.checks import run_audio_checks
from data_validator_spark.operators import dedup, drift, stats
from data_validator_spark.rules import clip_rules
from data_validator_spark.rules.compiler import (
    hard_predicate,
    hard_violations,
    message_columns,
    split_hard,
)

ENTITY = "clip"


def _audio_invalid_cols() -> list:
    """Normalized error columns for the two hard violations the decode
    stage finds, per audio result row: bytes_missing (mirrors
    required('bytes') from clip_hard_rules; the label and echoed value
    match hard_violations' output for that rule), else
    audio_decode_failed with the decoder's error text."""
    missing = F.col("audio_bytes_null")

    def pick(if_missing: str, otherwise) -> Column:
        return F.when(missing, F.lit(if_missing)).otherwise(otherwise)

    return [
        F.lit(ENTITY).alias("entity"),
        pick("bytes_missing", F.lit("audio_decode_failed")).alias("rule"),
        F.lit("bytes").alias("invalid_key"),
        pick("null", F.col("audio_decode_error")).alias("invalid_value"),
        pick("audio payload", F.lit("decodable audio payload")).alias(
            "expected_value"
        ),
    ]


@dataclass(frozen=True)
class ValidationConfig:
    partition_col: str = "ingest_date"
    order_col: str = "ingest_seq"  # deterministic first-wins ordering
    check_audio: bool = True
    # opt-in: compute the audio QUALITY features + soft labels
    # (clipping / DC offset / silence — audio/quality.py) in the SAME
    # decode pass as the SNR invariant; adds the feature columns to
    # the validated output and folds quality labels into messages
    check_quality: bool = False
    # quality-tier policy knobs (only consulted when check_quality):
    # bandwidth below this fraction of the container Nyquist flags
    # audio_upsampled; effective bit depth below this flags
    # audio_low_bitdepth. None disables each rule (the defaults —
    # both are dataset policies, not universal thresholds).
    quality_upsample_min_ratio: float | None = None
    quality_min_effective_bits: int | None = None
    # integrated-loudness window (BS.1770 LUFS, audio/loudness.py via
    # the fused quality pass); both set -> out-of-window clips get the
    # audio_loudness_out_of_range soft label. None disables (default).
    quality_lufs_min: float | None = None
    quality_lufs_max: float | None = None
    # opt-in: emit the log-mel content embedding (audio/features.py,
    # 2*n floats) from the SAME fused decode — validate + content-
    # dedup in one payload pass. None disables (default).
    quality_embed_mels: int | None = None
    # opt-in: transcript <-> audio plausibility rules (operators/
    # plausibility.py): words-per-second window over the DECODED
    # duration (falls back to dur_ms when audio checks are off), and —
    # when check_quality also computed silence_ratio — the
    # speech-share-vs-transcript-length rule. Pure Column algebra over
    # scalars the single decode pass already produced.
    check_plausibility: bool = False
    wps_min: float = 0.5
    wps_max: float = 6.0
    speech_share_min: float = 0.3
    snr_min_db: float = 30.0
    # persist the post-audio row set (bytes already dropped) so the
    # fan-out actions (verdict rollup, violation write, stats) do not
    # re-run the decode stage once per action. Never caches `bytes`.
    persist: bool = False
    rule_version: str = clip_rules.RULE_VERSION
    # full profile (null rate / min-max / HLL / quantiles) over these:
    stats_specs: tuple[stats.ColumnSpec, ...] = (
        stats.ColumnSpec("dur_ms", "numeric", 0.0, 10_000.0, 50),
        stats.ColumnSpec("sr_hz", "categorical"),
        stats.ColumnSpec("codec", "categorical"),
        stats.ColumnSpec("transcript", "categorical"),
        stats.ColumnSpec("clip_id", "categorical"),
    )
    # drift histograms only over bounded-cardinality columns (a
    # histogram over clip_id/transcript would shuffle the keyspace):
    hist_specs: tuple[stats.ColumnSpec, ...] = (
        stats.ColumnSpec("dur_ms", "numeric", 0.0, 10_000.0, 50),
        stats.ColumnSpec("sr_hz", "categorical"),
        stats.ColumnSpec("codec", "categorical"),
    )


@dataclass
class ValidationResult:
    validated: DataFrame  # all soft-tier rows incl. flags/messages
    invalid: DataFrame  # hard side-channel (normalized error rows)
    partition_verdicts: DataFrame
    summary_stats: DataFrame
    histograms: DataFrame
    drift: DataFrame | None = None
    ref_winners: DataFrame | None = None
    # transcript-side referential integrity: reference rows whose
    # clip_id matches no clip (the other direction of the clip <->
    # transcript pair; the fixture injects these via p_ref_extra)
    orphan_transcripts: DataFrame | None = None
    # set by manifest.run_resumable: the (verdict + fingerprint) rows to
    # append to the checkpoint manifest — callers that write outputs
    # themselves record these LAST, so a crash can never mark a
    # partition done before its outputs landed
    manifest_rows: DataFrame | None = None
    # the exact DataFrames persist() was called on (cfg.persist=True);
    # unpersisting `validated` (a child plan) would be a silent no-op
    persisted: list[DataFrame] = field(default_factory=list)

    def unpersist(self) -> None:
        for df in self.persisted:
            df.unpersist()


def _ref_lookup(transcripts_ref: DataFrame) -> DataFrame:
    """Winner-selection over the reference transcript table, as ONE
    lookup keyed by clip_id:

      (clip_id, _ref_transcript, _ref_hit, _ref_multi)

    A winner row (one authoritative transcript per clip) has _ref_hit
    true and its transcript; a clip whose group hit the >=2-completed
    branch (no winner exists; clips referencing it inherit
    `multiple_completed_transcripts`, the J6 message-inheritance join
    of SURVEY.md §2.3) has _ref_multi true. The branch table makes the
    two sets disjoint, so one left join of the clips against this
    lookup carries the referential, inherited-dedup and equality
    inputs together.
    """
    w = dedup.winner_selection(
        transcripts_ref,
        keys=["clip_id"],
        complete_col="is_complete",
        time_col="updated_at",
        id_col="clip_id",
        suffixed_col="clip_id",  # losers get clip_id:dupN -> drop out of join
    )
    win = F.col("is_winner")
    return (
        w.filter(win | (F.col("dedup_msg") == "multiple_completed_transcripts"))
        .select(
            # ambiguous rows are all suffixed: recover the base id
            F.when(win, F.col("clip_id"))
            .otherwise(F.regexp_replace("clip_id", r":dup\d+$", ""))
            .alias("clip_id"),
            F.when(win, F.col("transcript")).alias("_ref_transcript"),
            F.when(win, F.lit(True)).alias("_ref_hit"),
            F.when(~win, F.lit(True)).alias("_ref_multi"),
        )
        .dropDuplicates(["clip_id"])
    )


def run_validation(
    clips: DataFrame,
    transcripts_ref: DataFrame | None = None,
    baseline_hist: DataFrame | None = None,
    cfg: ValidationConfig = ValidationConfig(),
) -> ValidationResult:
    """Payload-aware dataflow (the part that matters at 10^12 rows):

    The `bytes` column is read in exactly ONE map-only stage — scan ->
    hard filter -> minimal projection -> Arrow decode UDF -> small
    result columns — fused into the file scan, so the payload is NEVER
    shuffled. All cross-row machinery (dedup windows, winner-selection,
    referential joins) runs on a bytes-free projection and equi-joins
    the small audio results back on (clip_id, order_col). Before this
    split, the payload rode through every window/join shuffle
    (~4x full-table payload shuffles), which capped scaling.

    Input contract: (clip_id, order_col) must uniquely identify a row
    of `clips` — order_col is the deterministic dedup ordering AND the
    equi-join key attaching the audio results back to the bytes-free
    metadata branch, so duplicate (clip_id, order_col) pairs would
    cross-multiply that join. The fixture generator guarantees it
    (ingest_seq is a global row index); external job.py inputs must
    provide an equivalent ingestion sequence/rowid.
    """
    rules = clip_rules.all_clip_rules()
    id_cols = ["clip_id", cfg.order_col, cfg.partition_col]
    _persisted: list[DataFrame] = []
    nonbytes = [r for r in rules if r.invalid_key != "bytes"]
    nobytes = clips.drop("bytes")
    # labels from the non-rule sources, in message order; every one is
    # a NULL-or-nonempty string Column folded into the messages by the
    # single projection at the end of the plan
    soft_labels: list = [F.col("_dup_label")]
    warning_labels: list = []
    label_cols = ["_dup_label"]

    audio_res = None
    if cfg.check_audio:
        # ---- tier 1a: non-payload hard failures -> side-channel, from
        # a column-pruned scan that never touches `bytes`
        diverted = hard_predicate(nonbytes)
        invalid = hard_violations(nobytes, nonbytes, ENTITY, id_cols)

        # ---- scan-side decode: the ONLY read of `bytes` in the run —
        # scan -> minimal projection -> Arrow UDF -> small result
        # columns, fused into the file scan. ALL rows ride this one
        # scan; rows already diverted by a non-bytes hard rule carry
        # _skip_decode=true so the UDF spends no Python time on them,
        # but their payload null-mask is still observed JVM-side
        # (audio_bytes_null) — that is how a diverted row with a null
        # payload still earns its bytes_missing violation (side-channel
        # contract: one row per failed hard rule) without a second
        # payload scan.
        audio_in = clips.select(
            "clip_id",
            cfg.order_col,
            cfg.partition_col,
            "codec",
            "sr_hz",
            "bytes",
            diverted.alias("_skip_decode"),
        )
        audio_res = run_audio_checks(
            audio_in,
            snr_min=cfg.snr_min_db,
            skip_col="_skip_decode",
            quality=cfg.check_quality,
            upsample_min_ratio=cfg.quality_upsample_min_ratio,
            min_effective_bits=cfg.quality_min_effective_bits,
            lufs_min=cfg.quality_lufs_min,
            lufs_max=cfg.quality_lufs_max,
            embed_mels=cfg.quality_embed_mels,
        ).drop("codec", "sr_hz", "bytes")
        if cfg.persist:
            audio_res = audio_res.persist()
            _persisted.append(audio_res)

        # ---- tier 1b: bytes_missing and audio_decode_failed,
        # recovered from the decode stage via the structured
        # audio_bytes_null flag (never by matching the CodecError
        # message text; covers diverted rows too) and the decode error.
        # A decode failure is a hard-tier outcome discovered late; it
        # is sourced from audio_res (not v) so its violation survives
        # even though the dedup/ref joins run on v.
        audio_invalid = audio_res.filter(
            F.col("audio_bytes_null") | F.col("audio_decode_error").isNotNull()
        ).select(*id_cols, *_audio_invalid_cols())
        invalid = invalid.unionByName(audio_invalid)

        # bytes-free metadata branch joins the small audio results;
        # the join is inner on the unique (clip_id, order_col) key —
        # see the input contract in the docstring. Diverted and
        # null-payload rows drop out on the audio side.
        v = nobytes.join(
            audio_res.filter(
                ~F.col("_skip_decode") & ~F.col("audio_bytes_null")
            ).drop(cfg.partition_col, "_skip_decode"),
            ["clip_id", cfg.order_col],
            "inner",
        )
    else:
        v, invalid = split_hard(clips, rules, ENTITY, id_cols)
    # the message columns take this place in the output schema
    msg_after = v.columns

    # ---- uniqueness on clip_id (first occurrence wins, A3/A4)
    v = dedup.flag_duplicates(v, ["clip_id"], cfg.order_col)

    ref_winners = None
    orphan_transcripts = None
    if transcripts_ref is not None:
        # transcript-side referential integrity (J3's other direction):
        # reference rows pointing at no clip, from a bytes-free
        # clip-id projection (raw transcripts_ref rows carry base ids;
        # :dupN suffixing only happens inside winner_selection)
        orphan_transcripts = transcripts_ref.join(
            clips.select("clip_id"), "clip_id", "left_anti"
        )
        ref = _ref_lookup(transcripts_ref)
        ref_winners = ref.filter(F.col("_ref_hit")).select(
            "clip_id", "_ref_transcript"
        )
        v = v.join(ref, "clip_id", "left")
        multi = F.col("_ref_multi")
        ref_t = F.col("_ref_transcript")
        soft_labels += [
            # inherited dedup message (J6): clip references a transcript
            # group with >=2 completed rows -> no authoritative transcript
            F.when(multi, F.lit("multiple_completed_transcripts")),
            # referential: clip must have a transcript-side row (J3)
            F.when(
                multi.isNull() & F.col("_ref_hit").isNull(),
                F.lit("transcript_ref_missing"),
            ),
            # transcript equality vs the winning reference row
            F.when(
                ref_t.isNotNull()
                & F.col("transcript").isNotNull()
                & (F.trim("transcript") != "")
                & (F.col("transcript") != ref_t),
                F.lit("transcript_mismatch"),
            ),
        ]
        label_cols += ["_ref_transcript", "_ref_hit", "_ref_multi"]

    # ---- tier 3: audio-invariant outcomes (results precomputed in the
    # scan-side decode stage; only small columns are handled here)
    if cfg.check_audio:
        v = v.filter(F.col("audio_decode_error").isNull())
        # metadata-tier codecs (opus): container checks were REAL and
        # passed, but the SNR invariant could not be evaluated — an
        # honest warning (_pcm_unsupported_label), never a synthetic
        # pass (and never a hard fail: the clip may be perfectly fine)
        audio_soft = ["_snr_label"] + (["_quality_labels"] if cfg.check_quality else [])
        audio_warn = ["_container_sr_label", "_pcm_unsupported_label"]
        soft_labels += [F.col(c) for c in audio_soft]
        warning_labels += [F.col(c) for c in audio_warn]
        label_cols += audio_soft + audio_warn
    if cfg.check_plausibility:
        from data_validator_spark.operators.plausibility import (
            transcript_plausibility,
        )

        with_quality = cfg.check_audio and cfg.check_quality
        v = transcript_plausibility(
            v,
            "transcript",
            dur_ms_col="dur_ms",
            n_samples_col="audio_n_samples" if cfg.check_audio else None,
            container_sr_col="audio_container_sr" if cfg.check_audio else None,
            silence_ratio_col="silence_ratio" if with_quality else None,
            wps_min=cfg.wps_min,
            wps_max=cfg.wps_max,
            speech_share_min=cfg.speech_share_min,
        )
        plaus = ["_wps_label"] + (["_speech_label"] if with_quality else [])
        soft_labels += [F.col(c) for c in plaus]
        label_cols += plaus

    # ---- the one message projection: rule labels then every other
    # source's, in the order above; it also drops the label inputs.
    # bytes only survives here when check_audio is off;
    # audio_bytes_null is all-false on the validated side by now
    msgs = message_columns(rules, ENTITY, soft_labels, warning_labels)
    gone = set(label_cols) | {"bytes", "audio_bytes_null"}
    keep = [c for c in v.columns if c not in gone]
    v = v.select(
        *[c for c in keep if c in msg_after],
        *[col.alias(name) for name, col in msgs.items()],
        *[c for c in keep if c not in msg_after],
    )
    if cfg.persist:
        v = v.persist()
        _persisted.append(v)
        # violation rows are tiny but their lineage re-scans the full
        # input (incl. `bytes` for the required-field rule); caching
        # them keeps every downstream action scan-free
        invalid = invalid.persist()
        _persisted.append(invalid)

    # ---- per-partition verdicts (the reference's per-table stats
    # rollup, data_validation_pipeline.py:84-118, made per-partition)
    part = cfg.partition_col
    soft_counts = v.groupBy(part).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((~F.col(f"valid_{ENTITY}")).cast("long")).alias("n_soft_invalid"),
        F.sum((F.col(f"warning_msg_{ENTITY}") != "").cast("long")).alias("n_warnings"),
    )
    hard_counts = invalid.groupBy(part).agg(
        F.count_distinct(cfg.order_col).alias("n_hard_invalid")
    )
    verdicts = (
        soft_counts.join(hard_counts, part, "full_outer")
        .fillna(0, subset=["n_rows", "n_soft_invalid", "n_warnings", "n_hard_invalid"])
        .withColumns(
            {
                "status": F.when(
                    (F.col("n_hard_invalid") == 0) & (F.col("n_soft_invalid") == 0),
                    F.lit("pass"),
                ).otherwise(F.lit("fail")),
                "rule_version": F.lit(cfg.rule_version),
            }
        )
    )

    # ---- column stats + histograms (single-pass each, SURVEY §2.4 A5/A10/A11)
    summary = stats.profile(nobytes, list(cfg.stats_specs))
    hist = stats.histogram(nobytes, list(cfg.hist_specs))

    drift_df = None
    if baseline_hist is not None:
        drift_df = drift.drift_verdicts(baseline_hist, hist)

    return ValidationResult(
        validated=v,
        invalid=invalid,
        partition_verdicts=verdicts,
        summary_stats=summary,
        histograms=hist,
        drift=drift_df,
        ref_winners=ref_winners,
        orphan_transcripts=orphan_transcripts,
        persisted=_persisted,
    )
