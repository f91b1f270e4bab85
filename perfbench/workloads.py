"""The workloads: closed loops of one driver process, one client and one
Spark job at a time.

clips_mixed: a cold `run_validation` pass over the first ingest_date
partition in the fresh JVM, which starts the Python workers and warms
the JVM, then warm passes over all partitions until the measured time
is used up. A pass builds the plan (persist=True) and materializes the
five outputs in sequence, as bench.py does. The fixture is large enough
that decode is most of a warm pass; the cold pass covers one partition
because a full one would cost a run more than the measured pass does.

resume_daily: the job.py write path. A full reference pass (the cold
pass), one backfill of 7 of the 8 partitions, then daily runs of the 8th
partition, each followed by a re-run that must find nothing pending.
The first daily run is checked but not measured.

In a traced run, the warm passes (daily runs) alternate between tracing
on and off, starting with on; the per-layer numbers come from the traced
ones and the tracing overhead from comparing the two.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

import checks
from checks import PassCounts
from fixture_cache import du_bytes
from procfs import tree_peak_rss_mb
from tracing import Tracer

WORKLOADS = {
    "clips_mixed": ("clips", {"n_rows": 12_000, "n_partitions": 8, "max_synth_ms": 600,
                              "codec_probs": [0.50, 0.25, 0.15, 0.10]}),
    # short pcm16 clips: decode is nearly free, so plan build, per-row
    # overhead, shuffles, stats and the write path dominate
    "resume_daily": ("resume", {"n_rows": 4_000, "n_partitions": 8, "max_synth_ms": 50,
                                "codec_probs": [1.0, 0.0, 0.0, 0.0]}),
}
_PASS_ACTIONS = 7  # run_validation, five outputs, the decode-failure read-back


@dataclass
class Ops:
    """Attempted and failed actions and checks of one run."""

    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    failed: int = 0

    def check(self, found: list[str]) -> None:
        self.attempted += 1
        if found:
            self.failed += 1
            self.failures.extend(found)


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    ops: Ops
    paths: dict
    n_input: int
    n_partitions: int
    planted_decode_failed: frozenset
    work_dir: str
    walls: dict[str, list[float]] = field(default_factory=dict)  # traced/bare
    layer: dict[str, float] = field(default_factory=dict)  # per-layer values
    peak_rss_mb: float = 0.0
    rows_per_pass: int = 0  # input rows of one measured pass (daily run)


def _verdict_rows(rows) -> tuple:
    return tuple(sorted(
        (str(r["ingest_date"] if "ingest_date" in r else r["partition_value"]),
         int(r["n_rows"]), int(r["n_soft_invalid"]), int(r["n_warnings"]),
         int(r["n_hard_invalid"]))
        for r in rows))


def clips_pass(ctx: Ctx, clips, tr, pass_id: str, after=None,
               expect: tuple[int, int, frozenset] | None = None) -> tuple[float, PassCounts]:
    """One timed pass: (wall s, counts). `after(result)` runs untimed on
    its persisted outputs. `expect` is (input rows, partitions, planted
    decode failures) of `clips`; by default those of the whole fixture."""
    from pyspark.sql import functions as F

    from data_validator_spark.plans import ValidationConfig, run_validation

    span = ctx.tracer.span
    t0 = time.perf_counter()
    with span("pass", pass_id):
        with span("plans.validation.run_validation", pass_id):
            res = run_validation(clips, tr, cfg=ValidationConfig(persist=True))
        with span("result.validated", pass_id):
            n_valid = res.validated.count()
        with span("result.invalid", pass_id):
            n_invalid = res.invalid.count()
        with span("result.partition_verdicts", pass_id):
            verdicts = res.partition_verdicts.collect()
        with span("result.summary_stats", pass_id):
            n_stats = len(res.summary_stats.collect())
        with span("result.histograms", pass_id):
            n_hist = res.histograms.count()
    wall = time.perf_counter() - t0
    print(f"pass {pass_id}: {wall:.3f} s", file=sys.stderr, flush=True)
    failed = res.invalid.filter(F.col("rule") == "audio_decode_failed").select("ingest_seq")
    counts = PassCounts(
        n_validated=n_valid,
        verdicts=_verdict_rows(r.asDict() for r in verdicts),
        decode_failed=frozenset(int(r.ingest_seq) for r in failed.collect()),
        n_invalid_rows=n_invalid,
        n_stats=n_stats,
        n_hist=n_hist,
    )
    if after is not None:
        after(res)
    res.unpersist()
    ctx.ops.attempted += _PASS_ACTIONS
    ctx.ops.check(checks.check_pass(counts, *(expect or (
        ctx.n_input, ctx.n_partitions, ctx.planted_decode_failed))))
    return wall, counts


def _warm_loop(ctx: Ctx, seconds: float, body, min_passes: int = 1) -> list[float]:
    """Run `body(pass_id)` until `seconds` of measured wall are used and
    `min_passes` have run; a traced run alternates tracing and needs one
    of each. Peak RSS
    is read after the first warm unit, a point every run reaches with the
    same work done, so it does not grow with the number of passes."""
    alternate = ctx.tracer.enabled
    min_passes = max(min_passes, 2 if alternate else 1)
    walls: list[float] = []
    while sum(walls) < seconds or len(walls) < min_passes:
        i = len(walls)
        traced = alternate and i % 2 == 0
        ctx.tracer.enabled = traced
        pass_id = f"warm{i}"
        wall = body(pass_id)
        ctx.tracer.enabled = alternate
        ctx.walls.setdefault("traced" if traced else "bare", []).append(wall)
        if i == 0:
            ctx.peak_rss_mb = tree_peak_rss_mb()
        walls.append(wall)
    return walls


def _partitions(clips_dir: str) -> list[str]:
    return sorted(d.split("=", 1)[1] for d in os.listdir(clips_dir)
                  if d.startswith("ingest_date="))


def run_clips(ctx: Ctx, seconds: float) -> dict:
    import pyarrow.dataset as ds
    from pyspark.sql import functions as F

    clips = ctx.spark.read.parquet(ctx.paths["clips"])
    tr = ctx.spark.read.parquet(ctx.paths["transcripts_ref"])
    ctx.rows_per_pass = ctx.n_input
    day = _partitions(ctx.paths["clips"])[0]
    seqs = ds.dataset(os.path.join(ctx.paths["clips"], f"ingest_date={day}"),
                      format="parquet").to_table(columns=["ingest_seq"])["ingest_seq"]
    seqs = frozenset(seqs.to_pylist())
    ctx.layer["cold_pass_s"], cold = clips_pass(
        ctx, clips.filter(F.col("ingest_date").cast("string") == day), tr, "cold",
        expect=(len(seqs), 1, ctx.planted_decode_failed & seqs))
    first: list[PassCounts] = []  # counts of the first warm pass

    def body(pass_id: str) -> float:
        wall, counts = clips_pass(ctx, clips, tr, pass_id)
        ctx.ops.check(checks.check_partition(cold, counts, seqs))
        if first:
            ctx.ops.check(checks.check_repeat(first[0], counts))
        else:
            first.append(counts)
        return wall

    warm = _warm_loop(ctx, seconds, body)
    return {"clips_per_s": ctx.n_input / statistics.median(warm)}


def _resume_step(ctx: Ctx, step: str, src, tr, manifest, out: str, expect: list[str],
                 pass_id: str) -> float:
    """One job.py run: run_resumable(record=False), the four writes, then
    the manifest record. Returns its wall; checks what it found pending."""
    from data_validator_spark.plans import ValidationConfig
    from data_validator_spark.plans.manifest import pending_partitions, run_resumable

    span = ctx.tracer.span
    cfg = ValidationConfig(persist=True)
    if ctx.tracer.enabled and step == "daily":
        with span("plans.manifest.pending_partitions", pass_id + ".pending"):
            pending_partitions(ctx.spark, src, manifest, cfg)
    t0 = time.perf_counter()
    with span(f"resume.{step}", pass_id):
        with span("plans.manifest.run_resumable", pass_id):
            todo, res = run_resumable(ctx.spark, src, manifest, tr, None, cfg,
                                      record=False)
        ctx.ops.attempted += 1
        if res is not None:
            with span("write.validated", pass_id):
                res.validated.write.mode("append").parquet(f"{out}/validated")
            with span("write.invalid", pass_id):
                res.invalid.write.mode("append").parquet(f"{out}/invalid")
            with span("write.stats", pass_id):
                res.summary_stats.coalesce(1).write.mode("append").parquet(f"{out}/stats")
            with span("write.histograms", pass_id):
                res.histograms.coalesce(1).write.mode("append").parquet(
                    f"{out}/histograms")
            with span("plans.manifest.record", pass_id):
                manifest.record(res.manifest_rows)
            ctx.ops.attempted += 5
    wall = time.perf_counter() - t0
    print(f"{pass_id}: {wall:.3f} s", file=sys.stderr, flush=True)
    if res is not None:
        res.unpersist()
    ctx.ops.check([] if sorted(todo) == expect and (res is None) == (not expect)
                  else [f"{step}: pending {sorted(todo)}, expected {expect}"])
    return wall


def _unseen_duplicates(res, clips, last: str) -> int:
    """Rows of the last partition that a full run flags only as
    duplicate_clip_id of a clip first seen in an earlier partition. A
    daily run validates that partition alone, so it cannot flag them."""
    from pyspark.sql import functions as F

    date = F.col("ingest_date").cast("string")
    earlier = clips.filter(date < last).select("clip_id").distinct()
    only_dup = F.col("validation_msg_clip") == F.concat(
        F.lit("duplicate_clip_id("), F.col("clip_id"), F.lit(")"))
    return (res.validated.filter((date == last) & only_dup)
            .join(earlier, "clip_id", "left_semi").count())


def run_resume(ctx: Ctx, seconds: float) -> dict:
    """A full reference pass (the cold pass), one backfill of the first 7
    partitions, then daily runs until `seconds` of daily wall are used.
    Each daily run starts from a copy of the post-backfill manifest, sees
    the 8th partition pending, writes it, and is followed by a re-run
    that must find nothing pending."""
    from pyspark.sql import functions as F

    from data_validator_spark.plans import ValidationConfig, run_validation
    from data_validator_spark.plans.manifest import CheckpointManifest

    spark = ctx.spark
    clips = spark.read.parquet(ctx.paths["clips"])
    tr = spark.read.parquet(ctx.paths["transcripts_ref"])
    last = _partitions(ctx.paths["clips"])[-1]

    def count_unseen(res) -> None:
        ctx.layer["resume.unseen_dup_rows"] = _unseen_duplicates(res, clips, last)

    ctx.layer["cold_pass_s"], full = clips_pass(ctx, clips, tr, "cold",
                                                   after=count_unseen)
    ctx.ops.attempted += 1
    dates = [v[0] for v in full.verdicts]
    n_daily = full.verdicts[-1][1] + full.verdicts[-1][4]
    ctx.rows_per_pass = n_daily

    base = os.path.join(ctx.work_dir, "resume")
    shutil.rmtree(base, ignore_errors=True)
    backfill_out = os.path.join(base, "backfill")
    backfill_manifest = os.path.join(base, "manifest")
    backfill_src = clips.filter(F.col("ingest_date").cast("string").isin(dates[:-1]))
    ctx.layer["resume.backfill_s"] = _resume_step(
        ctx, "backfill", backfill_src, tr, CheckpointManifest(backfill_manifest),
        backfill_out, dates[:-1], "backfill")
    def body(pass_id: str) -> float:
        run_dir = os.path.join(base, pass_id)
        manifest = CheckpointManifest(os.path.join(run_dir, "manifest"))
        shutil.copytree(backfill_manifest, manifest.path)
        out = os.path.join(run_dir, "out")
        wall = _resume_step(ctx, "daily", clips, tr, manifest, out, dates[-1:],
                            pass_id + ".daily")
        _resume_step(ctx, "noop", clips, tr, manifest, out, [], pass_id + ".noop")
        written_valid = spark.read.parquet(
            f"{backfill_out}/validated", f"{out}/validated").count()
        written_hard = spark.read.parquet(
            f"{backfill_out}/invalid", f"{out}/invalid").select("ingest_seq").distinct().count()
        latest = manifest.latest(spark).collect()
        ctx.ops.attempted += 3
        ctx.ops.check(checks.check_resume(full, written_valid, written_hard,
                                          _verdict_rows(r.asDict() for r in latest),
                                          int(ctx.layer["resume.unseen_dup_rows"])))
        written = du_bytes(backfill_out) + du_bytes(out)
        ctx.layer["write.mb_per_input_mb"] = written / du_bytes(ctx.paths["clips"])
        shutil.rmtree(run_dir)
        return wall

    # The first daily run after the backfill pays one-off costs: it took
    # up to 1.6x the wall of the next, and when only two runs fit in
    # `seconds` it was half the median. So it runs checked but unmeasured,
    # and the median is over at least three.
    traced = ctx.tracer.enabled
    ctx.tracer.enabled = False
    body("prep")
    ctx.tracer.enabled = traced
    daily_walls = _warm_loop(ctx, seconds, body, min_passes=3)
    if ctx.tracer.enabled:
        # the plan construction a daily run pays, on its own: driver-only
        daily = clips.filter(F.col("ingest_date").cast("string") == dates[-1])
        with ctx.tracer.span("plans.validation.run_validation", "daily_plan"):
            run_validation(daily, tr, cfg=ValidationConfig(persist=False))
    ctx.layer["resume.daily_s"] = statistics.median(daily_walls)
    return {"clips_per_s": n_daily / ctx.layer["resume.daily_s"]}
