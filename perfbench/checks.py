"""Correctness checks on the outputs of each measured pass. They run
outside the timed region; each returns the list of failures it found."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class PassCounts:
    """What one validation pass produced, reduced to comparable counts."""

    n_validated: int
    # (partition value, n_rows, n_soft_invalid, n_warnings, n_hard_invalid)
    verdicts: tuple[tuple[str, int, int, int, int], ...]
    decode_failed: frozenset[int]  # ingest_seq of audio_decode_failed rows
    n_invalid_rows: int
    n_stats: int
    n_hist: int


def check_pass(c: PassCounts, n_input: int, n_partitions: int,
               expected_decode_failed: frozenset[int]) -> list[str]:
    """Row conservation, the decode failures the fixture planted, and one
    verdict per partition."""
    bad = []
    n_rows = sum(v[1] for v in c.verdicts)
    n_hard = sum(v[4] for v in c.verdicts)
    if n_rows != c.n_validated:
        bad.append(f"verdict n_rows sum {n_rows} != validated rows {c.n_validated}")
    if c.n_validated + n_hard != n_input:
        bad.append(f"validated {c.n_validated} + hard-invalid {n_hard} "
                   f"!= input rows {n_input}")
    if c.decode_failed != expected_decode_failed:
        missed = len(expected_decode_failed - c.decode_failed)
        extra = len(c.decode_failed - expected_decode_failed)
        bad.append(f"audio_decode_failed rows differ from the planted "
                   f"corrupt/opus-meta rows: {missed} missed, {extra} extra")
    parts = [v[0] for v in c.verdicts]
    if len(parts) != n_partitions or len(set(parts)) != n_partitions:
        bad.append(f"{len(parts)} verdict rows for {n_partitions} partitions")
    return bad


def check_repeat(first: PassCounts, later: PassCounts) -> list[str]:
    """Every pass of a run must produce the counts of its first pass."""
    return [] if later == first else [f"pass counts changed: {first} -> {later}"]


def check_partition(part: PassCounts, full: PassCounts, seqs: frozenset[int]) -> list[str]:
    """A pass over the first partition alone (ingest_seq `seqs`) must give
    that partition's verdict and decode failures of a pass over all of
    them: later partitions do not change how earlier rows validate."""
    bad = []
    row = [v for v in full.verdicts if v[0] == part.verdicts[0][0]]
    if row != list(part.verdicts):
        bad.append(f"partition {part.verdicts[0][0]}: verdict {part.verdicts} alone, "
                   f"{row} in the full pass")
    if part.decode_failed != full.decode_failed & seqs:
        bad.append(f"partition {part.verdicts[0][0]}: decode failures differ "
                   f"alone and in the full pass")
    return bad


def check_resume(full: PassCounts, written_validated: int, written_invalid_rows: int,
                 manifest_rows: tuple[tuple[str, int, int, int, int], ...],
                 unseen_dups: int) -> list[str]:
    """Backfill + daily outputs must equal one full run over all partitions,
    except that the daily run, validating the last partition alone, cannot
    flag the `unseen_dups` rows whose clip_id first occurs in an earlier
    partition: the last partition's soft-invalid count is lower by exactly
    that many."""
    bad = []
    last = full.verdicts[-1]
    expected = full.verdicts[:-1] + (
        (last[0], last[1], last[2] - unseen_dups, last[3], last[4]),)
    if written_validated != full.n_validated:
        bad.append(f"resumed validated rows {written_validated} != full run "
                   f"{full.n_validated}")
    if written_invalid_rows != sum(v[4] for v in full.verdicts):
        bad.append(f"resumed hard-invalid rows {written_invalid_rows} != full run "
                   f"{sum(v[4] for v in full.verdicts)}")
    if manifest_rows != expected:
        bad.append(f"manifest verdicts {manifest_rows} != expected {expected}")
    return bad
