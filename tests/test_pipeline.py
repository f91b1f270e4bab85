"""End-to-end ValidationPlan on the generated fixture vs golden flags
— the engine's analogue of the reference's VALIDATION_RULES.md truth
tables, exercised through the full pipeline."""

import pytest
from pyspark.sql import functions as F

from data_validator_spark.plans.validation import ValidationConfig, run_validation


@pytest.fixture(scope="module")
def result(spark, clips, transcripts_ref):
    r = run_validation(clips, transcripts_ref, cfg=ValidationConfig())
    r.validated.cache()
    r.invalid.cache()
    return r


def test_row_conservation(result, clips):
    total = clips.count()
    n_valid_side = result.validated.count()
    n_hard_rows = result.invalid.select("ingest_seq").distinct().count()
    assert n_valid_side + n_hard_rows == total


def test_decode_failures_diverted(result, golden):
    # truncated payloads + the real opus container plants (granule/TOC
    # inconsistency) both land in the hard audio_decode_failed tier
    exp = golden.filter("inj_corrupt or inj_opus_meta").count()
    got = result.invalid.filter(F.col("rule") == "audio_decode_failed").count()
    assert got == exp
    # and none of those rows remain in the validated side
    j = result.validated.join(golden.filter("inj_corrupt"), "ingest_seq", "left_semi")
    assert j.count() == 0


def test_snr_flags_match_golden(result, golden):
    j = result.validated.join(golden, "ingest_seq")
    missed = j.filter(
        F.col("inj_low_snr") & ~F.col("validation_msg_clip").contains("audio_snr_below_30db(")
    )
    assert missed.count() == 0
    false_pos = j.filter(
        ~F.col("inj_low_snr") & F.col("validation_msg_clip").contains("audio_snr_below_30db(")
    )
    assert false_pos.count() == 0
    # SNR is an informational number too
    assert j.filter(F.col("inj_low_snr")).agg(F.max("audio_snr_db")).collect()[0][0] < 30


def test_transcript_mismatch_and_ref_missing(result, golden):
    j = result.validated.join(golden, "ingest_seq")
    # mismatch only checkable when a winner ref row exists & transcript non-empty
    missed = j.filter(
        F.col("inj_transcript_mismatch")
        & ~F.col("inj_ref_missing")
        & ~F.col("validation_msg_clip").contains("transcript_mismatch")
    )
    assert missed.count() == 0
    ref_missed = j.filter(
        F.col("inj_ref_missing")
        & ~F.col("inj_dup")
        & ~F.col("validation_msg_clip").contains("transcript_ref_missing")
    )
    assert ref_missed.count() == 0


def test_duplicate_flags(result, golden):
    j = result.validated.join(golden, "ingest_seq")
    missed = j.filter(
        F.col("inj_dup") & ~F.col("validation_msg_clip").contains("duplicate_clip_id(")
    )
    assert missed.count() == 0


def test_partition_verdicts_consistent(result, clips):
    verd = result.partition_verdicts.collect()
    assert len(verd) == clips.select("ingest_date").distinct().count()
    for r in verd:
        assert r.status in ("pass", "fail")
        # fixture injects violations everywhere -> all partitions fail
        assert r.status == "fail"
        assert r.n_rows > 0 and r.rule_version == "clip-rules-v1"
    # totals line up with the validated side
    total_soft = sum(r.n_soft_invalid for r in verd)
    assert total_soft == result.validated.filter(~F.col("valid_clip")).count()


def test_bytes_never_in_output(result):
    assert "bytes" not in result.validated.columns


def test_clean_rows_stay_valid(result, golden, transcripts_ref):
    j = result.validated.join(golden, "ingest_seq")
    any_inj = None
    for c in [c for c in golden.columns if c.startswith("inj_") and c != "inj_dur_warn"]:
        any_inj = F.col(c) if any_inj is None else (any_inj | F.col(c))
    # clips whose transcript group hit the >=2-completed branch inherit
    # multiple_completed_transcripts (by design) — exclude them here
    ambiguous = (
        transcripts_ref.groupBy("clip_id")
        .agg(F.sum(F.col("is_complete").cast("int")).alias("nc"))
        .filter(F.col("nc") >= 2)
        .select("clip_id")
    )
    # warning-band durations (35-55s) are a soft over_max for mulaw's
    # stricter 30s override — those rows are injected, not clean
    any_inj = any_inj | (F.col("inj_dur_warn") & (F.col("codec") == "mulaw"))
    clean = j.filter(~any_inj).join(ambiguous, "clip_id", "left_anti")
    assert clean.count() > 0
    assert clean.filter(~F.col("valid_clip")).count() == 0


def test_ambiguous_ref_inherits_multi_message(result, transcripts_ref, golden):
    ambiguous = (
        transcripts_ref.groupBy("clip_id")
        .agg(F.sum(F.col("is_complete").cast("int")).alias("nc"))
        .filter(F.col("nc") >= 2)
        .select("clip_id")
    )
    n_amb = ambiguous.count()
    assert n_amb > 0  # fixture covers this branch
    hit = result.validated.join(ambiguous, "clip_id", "left_semi")
    missed = hit.filter(
        ~F.col("validation_msg_clip").contains("multiple_completed_transcripts")
    )
    assert missed.count() == 0


def test_orphan_transcripts_surfaced(result, clips, transcripts_ref):
    """Transcript-side referential integrity: the fixture injects
    orphan reference rows (p_ref_extra, 'clip-x...' ids); every one of
    them — and nothing else — lands in result.orphan_transcripts."""
    got = result.orphan_transcripts
    assert got is not None
    clip_ids = {r.clip_id for r in clips.select("clip_id").distinct().collect()}
    rows = got.collect()
    assert len(rows) > 0  # fixture covers this branch
    assert all(r.clip_id not in clip_ids for r in rows)
    exp = transcripts_ref.join(
        clips.select("clip_id").distinct(), "clip_id", "left_anti"
    ).count()
    assert len(rows) == exp


def test_quality_policy_knobs_flow_through_plan(spark, clips, transcripts_ref):
    # default quality: no upsample/bitdepth labels anywhere
    res = run_validation(
        clips, transcripts_ref, cfg=ValidationConfig(check_quality=True)
    )
    n_policy = res.validated.filter(
        F.col("validation_msg_clip").contains("audio_upsampled")
        | F.col("validation_msg_clip").contains("audio_low_bitdepth")
    ).count()
    assert n_policy == 0
    # with the knobs on, the columns exist and rules can fire (the
    # synthetic tonal fixture IS narrowband, so upsample fires)
    res2 = run_validation(
        clips,
        transcripts_ref,
        cfg=ValidationConfig(
            check_quality=True,
            quality_upsample_min_ratio=0.25,
            quality_min_effective_bits=12,
        ),
    )
    n_upsampled = res2.validated.filter(
        F.col("validation_msg_clip").contains("audio_upsampled(")
    ).count()
    assert n_upsampled > 0
    assert "bandwidth_hz" in res2.validated.columns
    assert "effective_bits" in res2.validated.columns


def test_loudness_window_knob_flows_through_plan(spark, clips, transcripts_ref):
    """quality_lufs_min/max gate the BS.1770 loudness computed in the
    SAME fused decode pass: default off (no labels), and an absurdly
    tight window flags every measurable clip while sub-400ms /
    silent clips (loudness NaN) are never flagged by this rule."""
    res = run_validation(
        clips, transcripts_ref, cfg=ValidationConfig(check_quality=True)
    )
    assert "loudness_lufs" in res.validated.columns
    assert (
        res.validated.filter(
            F.col("validation_msg_clip").contains(
                "audio_loudness_out_of_range"
            )
        ).count()
        == 0
    )
    res2 = run_validation(
        clips,
        transcripts_ref,
        cfg=ValidationConfig(
            check_quality=True, quality_lufs_min=-0.5, quality_lufs_max=0.0
        ),
    )
    flagged = res2.validated.filter(
        F.col("validation_msg_clip").contains("audio_loudness_out_of_range(")
    ).count()
    measurable = res2.validated.filter(
        F.col("loudness_lufs").isNotNull() & ~F.isnan("loudness_lufs")
    ).count()
    assert 0 < flagged <= measurable
