import dataclasses

from checks import PassCounts, check_partition, check_pass, check_repeat, check_resume

VERDICTS = (("2026-01-01", 48, 3, 1, 2), ("2026-01-02", 49, 0, 0, 1))
GOOD = PassCounts(n_validated=97, verdicts=VERDICTS, decode_failed=frozenset({7, 42}),
                  n_invalid_rows=4, n_stats=5, n_hist=59)
PLANTED = frozenset({7, 42})


def test_a_correct_pass_passes():
    assert check_pass(GOOD, n_input=100, n_partitions=2,
                      expected_decode_failed=PLANTED) == []
    assert check_repeat(GOOD, GOOD) == []


def test_a_planted_miscount_fails_row_conservation():
    bad = dataclasses.replace(GOOD, n_validated=96)
    found = check_pass(bad, 100, 2, PLANTED)
    assert any("verdict n_rows sum" in f for f in found)
    assert any("input rows 100" in f for f in found)


def test_decode_failures_must_be_exactly_the_planted_rows():
    missed = dataclasses.replace(GOOD, decode_failed=frozenset({7}))
    assert check_pass(missed, 100, 2, PLANTED) == [
        "audio_decode_failed rows differ from the planted corrupt/opus-meta rows: "
        "1 missed, 0 extra"]


def test_one_verdict_per_partition():
    assert check_pass(GOOD, 100, 3, PLANTED) == ["2 verdict rows for 3 partitions"]


def test_passes_of_a_run_must_agree():
    assert check_repeat(GOOD, dataclasses.replace(GOOD, n_hist=58))


def test_resumed_outputs_must_equal_the_full_run():
    assert check_resume(GOOD, 97, 3, VERDICTS, unseen_dups=0) == []
    assert len(check_resume(GOOD, 96, 2, VERDICTS[:1], unseen_dups=0)) == 3


def test_only_the_unseen_duplicates_may_differ_on_the_daily_partition():
    daily_sees_less = VERDICTS[:1] + (("2026-01-02", 49, 0, 0, 1),)
    assert check_resume(dataclasses.replace(GOOD, verdicts=(
        VERDICTS[0], ("2026-01-02", 49, 2, 0, 1))), 97, 3, daily_sees_less,
        unseen_dups=2) == []
    # one soft flag missing beyond the unseen duplicates is a failure
    assert check_resume(dataclasses.replace(GOOD, verdicts=(
        VERDICTS[0], ("2026-01-02", 49, 3, 0, 1))), 97, 3, daily_sees_less,
        unseen_dups=2)


def test_a_partition_pass_must_match_the_full_pass():
    seqs = frozenset({7, 8, 9})
    part = dataclasses.replace(GOOD, n_validated=48, verdicts=VERDICTS[:1],
                               decode_failed=frozenset({7}))
    assert check_partition(part, GOOD, seqs) == []
    miscounted = dataclasses.replace(part, verdicts=(("2026-01-01", 47, 3, 1, 2),))
    assert len(check_partition(miscounted, GOOD, seqs)) == 1
    extra = dataclasses.replace(part, decode_failed=frozenset({7, 8}))
    assert len(check_partition(extra, GOOD, seqs)) == 1
