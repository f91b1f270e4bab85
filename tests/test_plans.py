"""Physical-plan assertions: the optimizations the engine's scale
story depends on must be visible in the executed plan, not assumed.

  - metadata-only stages never read the `bytes` payload column
    (parquet column pruning / ReadSchema)
  - partition-pruning predicates reach the scan (PushedFilters /
    partition filters)
  - the payload column never appears downstream of an Exchange
    (shuffle) in the validation plan
  - small dimension joins broadcast
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F

from data_validator_spark.plans.validation import ValidationConfig, run_validation
from data_validator_spark.operators import stats


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _scans(plan: str) -> list[str]:
    return [l for l in plan.splitlines() if "FileScan" in l or "Scan parquet" in l]


def test_stats_profile_prunes_payload(spark, clips):
    """The column profile must not read `bytes` — its ReadSchema is the
    small columns only."""
    df = stats.profile(
        clips.drop("bytes"), [stats.ColumnSpec("dur_ms", "numeric", 0, 10_000, 10)]
    )
    plan = _plan(df)
    scans = _scans(plan)
    assert scans, plan
    assert all("bytes" not in s for s in scans), scans


def test_validation_payload_never_shuffled(spark, clips, transcripts_ref):
    """In the full validation plan, `bytes` may appear in scans (the
    decode stage reads it) but never in any Exchange's output schema —
    the payload must not ride a shuffle."""
    res = run_validation(clips, transcripts_ref, cfg=ValidationConfig())
    plan = _plan(res.validated)
    # walk plan lines; Exchange nodes list their output schema inline
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "bytes" not in line, f"payload in shuffle: {line}"


def test_validation_reads_payload_once(spark, clips, transcripts_ref):
    """Exactly one scan in the validated-side plan includes `bytes` in
    its ReadSchema (the scan feeding the decode UDF)."""
    res = run_validation(clips, transcripts_ref, cfg=ValidationConfig())
    scans = _scans(_plan(res.validated))
    with_bytes = [s for s in scans if re.search(r"bytes", s)]
    assert len(with_bytes) == 1, scans


def test_partition_filter_pushed(spark, fixture_paths):
    """A partition-aligned predicate (the manifest's pruning predicate)
    must show up as a partition filter on the scan, not a post-scan
    Filter."""
    clips = spark.read.parquet(fixture_paths["clips"])
    df = clips.filter(F.col("ingest_date") == "2026-01-01").select("clip_id")
    plan = _plan(df)
    assert "PartitionFilters" in plan and "ingest_date" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0], plan


def test_predicate_pushdown_to_parquet(spark, fixture_paths):
    clips = spark.read.parquet(fixture_paths["clips"])
    df = clips.filter(F.col("sr_hz") == 16000).select("clip_id")
    plan = _plan(df)
    pushed = plan.split("PushedFilters")[1].split("]")[0] if "PushedFilters" in plan else ""
    assert "sr_hz" in pushed, plan


def _exchanges(df) -> list[tuple[str, list[str]]]:
    """[(partitioning_keys_str, output_column_names)] for every
    Exchange in the physical plan (tree walk — the toString form does
    not print Exchange output schemas)."""
    out: list[tuple[str, list[str]]] = []

    def walk(node):
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":  # AQE wrapper: descend into it
            walk(node.initialPlan())
            return
        if "Exchange" in name:
            cols = [
                node.output().apply(i).name()
                for i in range(node.output().size())
            ]
            out.append((node.outputPartitioning().toString(), cols))
        for i in range(node.children().size()):
            walk(node.children().apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def test_minhash_band_join_carries_no_signature_arrays(spark):
    """Shuffle discipline of the LSH candidate plan (VERDICT round-1
    item 7): the band-bucket join Exchanges (which scale with the
    banding explosion) and the pair-dedup Exchange must carry only
    ids/band/bucket — the 64-long signature arrays may ride ONLY the
    final re-join onto the (small) deduped pair set."""
    from data_validator_spark.operators import text_dedup

    df = spark.createDataFrame(
        [(i, f"tok{i} alpha beta gamma delta epsilon zeta eta theta") for i in range(30)],
        "doc_id long, text string",
    )
    cand = text_dedup.minhash_lsh_candidates(
        df, "doc_id", "text", n_hashes=32, bands=8, persist_signatures=False
    )
    exchanges = _exchanges(cand)
    band_exchanges = [
        (part, cols) for part, cols in exchanges if "band" in part or "bucket" in part
    ]
    # the pair-dedup shuffle partitions on BOTH ids; the later re-join
    # exchanges (partitioned on a single id) legitimately carry a sig
    dedup_exchanges = [
        (part, cols)
        for part, cols in exchanges
        if "id_a" in part and "id_b" in part
    ]
    assert band_exchanges, exchanges  # the banding shuffle exists
    for part, cols in band_exchanges + dedup_exchanges:
        assert not any(c.startswith(("_sig", "sig_a", "sig_b")) for c in cols), (
            part,
            cols,
        )


def test_embedding_near_dup_band_join_carries_no_vectors(spark):
    """Same discipline for the embedding near-dup plan: band-join and
    pair-dedup Exchanges must not carry the embedding arrays."""
    import math

    from data_validator_spark.operators import similarity

    df = spark.createDataFrame(
        [(i, [math.sin(0.3 * i + j) for j in range(8)]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    nd = similarity.embedding_near_dups(df, dim=8, threshold=0.9, n_planes=6, n_bands=3)
    exchanges = _exchanges(nd)
    band_exchanges = [
        (part, cols) for part, cols in exchanges if "band" in part or "bucket" in part
    ]
    assert band_exchanges, exchanges
    for part, cols in band_exchanges:
        assert not any(c.startswith(("_v", "va", "vb", "embedding")) for c in cols), (
            part,
            cols,
        )


def test_small_dim_join_broadcasts(spark, clips, transcripts_ref):
    """The transcript-winner join side is dim-sized here; Spark should
    pick a broadcast join somewhere in the validated plan (AQE or
    static) rather than shuffling the fact side for every ref join."""
    res = run_validation(clips, transcripts_ref, cfg=ValidationConfig())
    plan = _plan(res.validated)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_loudness_and_align_payload_never_shuffled(spark, clips):
    """The loudness/alignment report operators read `bytes` in the
    scan feeding their pandas UDF but must never put the payload into
    an Exchange — even when the caller aggregates downstream."""
    from data_validator_spark.audio.align import align_report
    from data_validator_spark.audio.loudness import loudness_report

    for op, out_col in (
        (loudness_report, "loudness_lufs"),
        (align_report, "aligned_snr_db"),
    ):
        # aggregate CONSUMES the UDF output, so the decode stage must
        # survive column pruning (a groupBy on an input column alone
        # lets Catalyst prune the UDF away entirely — also correct)
        df = op(clips).groupBy("codec").agg(F.avg(out_col))
        for keys, cols in _exchanges(df):
            assert "bytes" not in cols, (op.__name__, keys, cols)
        scans = _scans(_plan(df))
        assert any("bytes" in s for s in scans), (op.__name__, scans)
