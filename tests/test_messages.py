"""Message identity: the exact validation_msg_clip / warning_msg_clip /
valid_clip of every row of a small fixture on which every label
source of run_validation fires somewhere — soft and warning rules,
duplicate clip_id, the three transcript-reference labels, the SNR,
sample-rate and opus pcm-unsupported audio labels, and (with
check_quality / check_plausibility) the quality, words-per-second and
speech-share labels. Label order inside a message is part of the
output contract, so the strings are compared whole."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pytest

from data_validator_spark.audio import codecs, synth
from data_validator_spark.plans import ValidationConfig, run_validation

SR = 8000


def _pcm(clip_id: str, ms: int = 2000) -> np.ndarray:
    return synth.reference_pcm(clip_id, SR, SR * ms // 1000)


def _rows():
    """(clip_id, codec, sr_hz, dur_ms, transcript, payload) per row,
    in ingest_seq order."""
    t = synth.reference_transcript
    many = " ".join(["word"] * 40)
    return [
        ("m-clean", "pcm16", SR, 2000, t("m-clean"), codecs.encode("pcm16", _pcm("m-clean"), SR)),
        # soft rules: dur under the default min, transcript empty; the
        # bad sr_hz also mismatches the container rate (warning)
        ("m-soft", "pcm16", 12345, 50, "", codecs.encode("pcm16", _pcm("m-soft"), SR)),
        # warning rule (dur_ms in (30 s, 60 s]) on a short payload
        ("m-long", "flac", SR, 40000, t("m-long"), codecs.encode("flac", _pcm("m-long"), SR)),
        # first occurrence fails decode (diverted), second is flagged
        ("m-dup", "pcm16", SR, 2000, t("m-dup"), codecs.encode("pcm16", _pcm("m-dup"), SR)[:40]),
        ("m-dup", "mulaw", SR, 2000, t("m-dup"), codecs.encode("mulaw", _pcm("m-dup"), SR)),
        ("m-dup", "pcm16", SR, 2000, t("m-dup"), codecs.encode("pcm16", _pcm("m-dup"), SR)),
        ("m-multi", "pcm16", SR, 2000, t("m-multi"), codecs.encode("pcm16", _pcm("m-multi"), SR)),
        ("m-noref", "pcm16", SR, 2000, t("m-noref"), codecs.encode("pcm16", _pcm("m-noref"), SR)),
        ("m-mismatch", "pcm16", SR, 2000, "not the reference", codecs.encode("pcm16", _pcm("m-mismatch"), SR)),
        ("m-lowsnr", "pcm16", SR, 2000, t("m-lowsnr"), codecs.encode("pcm16", _pcm("m-lowsnr#alt"), SR)),
        ("m-srmm", "pcm16", 16000, 2000, t("m-srmm"), codecs.encode("pcm16", _pcm("m-srmm"), SR)),
        ("m-opus", "opus", SR, 2000, t("m-opus"), codecs.encode("opus", _pcm("m-opus"), SR)),
        ("m-silent", "pcm16", SR, 2000, t("m-silent"), codecs.encode("pcm16", np.zeros(2 * SR, np.float32), SR)),
        ("m-clip", "pcm16", SR, 2000, t("m-clip"), codecs.encode("pcm16", np.clip(_pcm("m-clip") * 8, -1, 1), SR)),
        ("m-dc", "pcm16", SR, 2000, t("m-dc"), codecs.encode("pcm16", _pcm("m-dc") * 0.3 + 0.5, SR)),
        ("m-wps", "pcm16", SR, 2000, many, codecs.encode("pcm16", _pcm("m-wps"), SR)),
        # several sources on one row: soft rule, duplicate, missing
        # reference, SNR, quality, plausibility; sr mismatch (warning)
        ("m-all", "pcm16", SR, 2000, t("m-all"), codecs.encode("pcm16", _pcm("m-all"), SR)),
        ("m-all", "pcm16", 16000, 50, many, codecs.encode("pcm16", np.zeros(2 * SR, np.float32), SR)),
        # every warning source on one row
        ("m-warn", "opus", 16000, 40000, t("m-warn"), codecs.encode("opus", _pcm("m-warn"), SR)),
        # hard tier: unknown codec never reaches the validated side
        ("m-hard", "wav", SR, 2000, t("m-hard"), codecs.encode("pcm16", _pcm("m-hard"), SR)),
    ]


def _ref_rows():
    t0 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    ids = [r[0] for r in _rows() if r[0] not in ("m-noref", "m-multi", "m-all")]
    rows = [(cid, synth.reference_transcript(cid), t0, True) for cid in dict.fromkeys(ids)]
    rows += [
        ("m-multi", synth.reference_transcript("m-multi"), t0, True),
        ("m-multi", synth.reference_transcript("m-multi"), t0 + dt.timedelta(seconds=5), True),
    ]
    return rows


@pytest.fixture(scope="module")
def inputs(spark):
    clips = spark.createDataFrame(
        [
            (cid, bytearray(b), sr, dur, codec, tr, dt.date(2026, 1, 1 + i % 2), i)
            for i, (cid, codec, sr, dur, tr, b) in enumerate(_rows())
        ],
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, "
        "transcript string, ingest_date date, ingest_seq long",
    )
    ref = spark.createDataFrame(
        _ref_rows(),
        "clip_id string, transcript string, updated_at timestamp, is_complete boolean",
    )
    return clips, ref


# (ingest_seq, validation_msg_clip, warning_msg_clip, valid_clip),
# recorded from the per-label append implementation this projection
# replaced
EXPECTED_DEFAULT = [
    (0, '', '', True),
    (1, 'dur_ms_under_min(50);sr_hz_invalid(12345);transcript_empty', 'bytes_sr_mismatch(8000)', False),
    (2, '', 'dur_ms_suspicious_long(40000)', True),
    (4, 'duplicate_clip_id(m-dup)', '', False),
    (5, 'duplicate_clip_id(m-dup)', '', False),
    (6, 'multiple_completed_transcripts', '', False),
    (7, 'transcript_ref_missing', '', False),
    (8, 'transcript_mismatch', '', False),
    (9, 'audio_snr_below_30db(-3.0)', '', False),
    (10, '', 'bytes_sr_mismatch(8000)', True),
    (11, '', 'audio_codec_unsupported_pcm(opus)', True),
    (12, 'audio_snr_below_30db(0.0)', '', False),
    (13, 'audio_snr_below_30db(-1.9)', '', False),
    (14, 'audio_snr_below_30db(-2.2)', '', False),
    (15, 'transcript_mismatch', '', False),
    (16, 'transcript_ref_missing', '', False),
    (17, 'dur_ms_under_min(50);duplicate_clip_id(m-all);transcript_ref_missing;audio_snr_below_30db(0.0)', 'bytes_sr_mismatch(8000)', False),
    (18, '', 'dur_ms_suspicious_long(40000);bytes_sr_mismatch(8000);audio_codec_unsupported_pcm(opus)', True),
]

EXPECTED_QUALITY = [
    (0, '', '', True),
    (1, 'dur_ms_under_min(50);sr_hz_invalid(12345);transcript_empty', 'bytes_sr_mismatch(8000)', False),
    (2, '', 'dur_ms_suspicious_long(40000)', True),
    (4, 'duplicate_clip_id(m-dup)', '', False),
    (5, 'duplicate_clip_id(m-dup)', '', False),
    (6, 'multiple_completed_transcripts', '', False),
    (7, 'transcript_ref_missing', '', False),
    (8, 'transcript_mismatch', '', False),
    (9, 'audio_snr_below_30db(-3.0)', '', False),
    (10, '', 'bytes_sr_mismatch(8000)', True),
    (11, '', 'audio_codec_unsupported_pcm(opus)', True),
    (12, 'audio_snr_below_30db(0.0);audio_silent(1.0);speech_share_low(share=0.0,words=6)', '', False),
    (13, 'audio_snr_below_30db(-1.9);audio_clipping(0.859)', '', False),
    (14, 'audio_snr_below_30db(-2.2);audio_dc_offset(0.5)', '', False),
    (15, 'transcript_mismatch;transcript_rate_implausible(wps=20.0,words=40)', '', False),
    (16, 'transcript_ref_missing', '', False),
    (17, 'dur_ms_under_min(50);duplicate_clip_id(m-all);transcript_ref_missing;audio_snr_below_30db(0.0);audio_silent(1.0);transcript_rate_implausible(wps=20.0,words=40);speech_share_low(share=0.0,words=40)', 'bytes_sr_mismatch(8000)', False),
    (18, '', 'dur_ms_suspicious_long(40000);bytes_sr_mismatch(8000);audio_codec_unsupported_pcm(opus)', True),
]

EXPECTED_NO_AUDIO = [
    (0, '', '', True),
    (1, 'dur_ms_under_min(50);sr_hz_invalid(12345);transcript_empty', '', False),
    (2, 'transcript_rate_implausible(wps=0.15,words=6)', 'dur_ms_suspicious_long(40000)', False),
    (3, '', '', True),
    (4, 'duplicate_clip_id(m-dup)', '', False),
    (5, 'duplicate_clip_id(m-dup)', '', False),
    (6, 'multiple_completed_transcripts', '', False),
    (7, 'transcript_ref_missing', '', False),
    (8, 'transcript_mismatch', '', False),
    (9, '', '', True),
    (10, '', '', True),
    (11, '', '', True),
    (12, '', '', True),
    (13, '', '', True),
    (14, '', '', True),
    (15, 'transcript_mismatch;transcript_rate_implausible(wps=20.0,words=40)', '', False),
    (16, 'transcript_ref_missing', '', False),
    (17, 'dur_ms_under_min(50);duplicate_clip_id(m-all);transcript_ref_missing;transcript_rate_implausible(wps=800.0,words=40)', '', False),
    (18, 'transcript_rate_implausible(wps=0.15,words=6)', 'dur_ms_suspicious_long(40000)', False),
]


def _messages(res):
    rows = res.validated.select(
        "ingest_seq", "validation_msg_clip", "warning_msg_clip", "valid_clip"
    ).collect()
    return sorted(tuple(r) for r in rows)


def test_messages_default(inputs):
    clips, ref = inputs
    assert _messages(run_validation(clips, ref)) == EXPECTED_DEFAULT


def test_messages_quality_and_plausibility(inputs):
    clips, ref = inputs
    cfg = ValidationConfig(check_quality=True, check_plausibility=True)
    assert _messages(run_validation(clips, ref, cfg=cfg)) == EXPECTED_QUALITY


def test_messages_without_audio_checks(inputs):
    clips, ref = inputs
    cfg = ValidationConfig(check_audio=False, check_plausibility=True)
    assert _messages(run_validation(clips, ref, cfg=cfg)) == EXPECTED_NO_AUDIO
