"""Transcript <-> audio plausibility rules — the reference's
cross-field rule archetype (age from birth month/year + timestamp,
core_models.py:347-370) applied ACROSS the clip/transcript pair:

  words-per-second   words(transcript) / audio seconds outside
                     [wps_min, wps_max] -> soft label
                     `transcript_rate_implausible(wps=7.31,words=22)`
                     — conversational speech runs ~1.5-4 wps; a 40-word
                     transcript on a 2 s clip, or 3 words on a 30 s
                     clip, is a pairing defect (wrong transcript, wrong
                     payload, or truncated upload)
  speech share       1 - silence_ratio (the 20 ms-frame silence
                     fraction the fused quality pass already computes,
                     audio/quality.py) below speech_share_min while the
                     transcript has real content -> soft label
                     `speech_share_low(share=0.05,words=42)` — a long
                     transcript riding near-silent audio

Both are pure Column expressions over per-clip scalars that the SINGLE
decode pass already produced (audio_n_samples / audio_container_sr /
silence_ratio from audio/checks.py + audio/quality.py) — no new
payload scan, no UDF, stays in whole-stage codegen. Labels echo the
offending values like the reference's `fast_rt_...s` messages
(core_models.py:169-202).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_validator_spark.operators.text import token_count

WPS_MIN = 0.5
WPS_MAX = 6.0
SPEECH_SHARE_MIN = 0.3
MIN_WORDS = 3


def transcript_plausibility(
    df: DataFrame,
    transcript_col: str = "transcript",
    dur_ms_col: str | None = "dur_ms",
    n_samples_col: str | None = None,
    container_sr_col: str | None = None,
    silence_ratio_col: str | None = None,
    wps_min: float = WPS_MIN,
    wps_max: float = WPS_MAX,
    speech_share_min: float = SPEECH_SHARE_MIN,
    min_words: int = MIN_WORDS,
) -> DataFrame:
    """Append plausibility columns:

      words          long    whitespace token count (0 for null/empty)
      wps            double  words per audio second (null when no
                             usable duration or words < min_words)
      speech_share   double  1 - silence_ratio (only when
                             silence_ratio_col is given)
      _wps_label     soft label or null
      _speech_label  soft label or null (only when silence_ratio_col)

    Duration preference: the DECODED duration (n_samples_col /
    container_sr_col, both from the audio check pass) when present and
    valid, else the dur_ms_col metadata — a clip whose metadata lies
    about its length should be judged by what actually decoded.
    Transcripts under min_words never fire either rule (1-2 word
    clips legitimately pair with any duration).
    """
    words = token_count(F.col(transcript_col))
    dur_s = F.lit(None).cast("double")
    if dur_ms_col is not None and dur_ms_col in df.columns:
        dur_s = F.when(
            F.col(dur_ms_col).isNotNull() & (F.col(dur_ms_col) > 0),
            F.col(dur_ms_col).cast("double") / 1000.0,
        )
    if (
        n_samples_col is not None
        and container_sr_col is not None
        and n_samples_col in df.columns
    ):
        decoded_s = F.col(n_samples_col).cast("double") / F.col(
            container_sr_col
        ).cast("double")
        dur_s = F.when(
            F.col(n_samples_col).isNotNull()
            & (F.col(n_samples_col) > 0)
            & F.col(container_sr_col).isNotNull()
            & (F.col(container_sr_col) > 0),
            decoded_s,
        ).otherwise(dur_s)

    out = df.withColumns(
        {
            "words": words.cast("long"),
            "wps": F.when(
                (words >= min_words) & dur_s.isNotNull(),
                F.round(words.cast("double") / dur_s, 4),
            ),
        }
    )
    labels = {
        "_wps_label": F.when(
            F.col("wps").isNotNull()
            & ((F.col("wps") < wps_min) | (F.col("wps") > wps_max)),
            F.concat(
                F.lit("transcript_rate_implausible(wps="),
                F.round("wps", 2).cast("string"),
                F.lit(",words="),
                F.col("words").cast("string"),
                F.lit(")"),
            ),
        )
    }
    if silence_ratio_col is not None and silence_ratio_col in df.columns:
        share = F.when(
            F.col(silence_ratio_col).isNotNull(),
            F.round(1.0 - F.col(silence_ratio_col), 4),
        )
        labels["speech_share"] = share
        labels["_speech_label"] = F.when(
            (F.col("words") >= min_words)
            & share.isNotNull()
            & (share < speech_share_min),
            F.concat(
                F.lit("speech_share_low(share="),
                F.round(share, 2).cast("string"),
                F.lit(",words="),
                F.col("words").cast("string"),
                F.lit(")"),
            ),
        )
    return out.withColumns(labels)
