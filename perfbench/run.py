#!/usr/bin/env python3
"""The repository's clips-validation benchmark.

    python3 perfbench/run.py --workload clips_mixed --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The workload's fixture is generated
from --seed (and cached under .perfbench/fixtures), a Spark session
local[<cpus>] is built, and the workload runs for --seconds of measured
passes; every pass's outputs are checked. The last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"}, holding the
end-to-end metrics of BENCHMARK.json with --trace 0 and its per-layer
metrics with --trace 1. A traced run also writes its spans, self times
and per-phase Spark metrics to .perfbench/trace-<workload>-seed<n>.json.

Exit status: 0 when every check passed, 1 when a check or a Spark
action failed (the JSON line is still printed), 2 when the benchmark
cannot run here (no package source in the working directory, or no
disk for the fixture).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import audio_replay
import eventlog
import fixture_cache
import ledger
import procfs
import session_env
from tracing import Tracer
from workloads import WORKLOADS, Ctx, Ops, run_clips, run_resume


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def planted_decode_failed(golden_dir: str) -> frozenset:
    """ingest_seq of the rows the fixture planted as undecodable."""
    import pyarrow.dataset as ds

    t = ds.dataset(golden_dir, format="parquet").to_table(
        columns=["ingest_seq", "inj_corrupt", "inj_opus_meta"]).to_pydict()
    return frozenset(s for s, c, o in zip(t["ingest_seq"], t["inj_corrupt"],
                                          t["inj_opus_meta"]) if c or o)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "data_validator_spark", "__init__.py")):
        log("no data_validator_spark package in the working directory; "
            "run from the root of a checkout")
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    # before numpy or pyspark is imported
    session_env.configure_process(root)

    kind, fixture_cfg = WORKLOADS[args.workload]
    state = session_env.state_dir(root)
    try:
        paths, fixture_meta = fixture_cache.ensure_fixture(
            os.path.join(state, "fixtures"), fixture_cfg, args.seed,
            fixture_cache.generator_digest(root))
    except fixture_cache.FixtureError as e:
        log(str(e))
        return 2
    planted = planted_decode_failed(paths["golden"])
    cores = session_env.cores()
    ev_dir = os.path.join(state, "eventlog") if args.trace else None
    if ev_dir:
        shutil.rmtree(ev_dir, ignore_errors=True)
    log(f"{args.workload} seed={args.seed} local[{cores}] "
        f"heap={session_env.driver_heap_mb()}m trace={args.trace}")

    # setup: package import, session build, first trivial job
    t0 = time.perf_counter()
    from data_validator_spark.session import build_session

    spark = build_session(app_name=f"perfbench_{args.workload}", cores=cores,
                          extra_conf=session_env.spark_conf(root, ev_dir))
    build_s = time.perf_counter() - t0
    spark.range(1).count()
    setup_s = time.perf_counter() - t0

    jvm = session_env.jvm_pid()
    ctx = Ctx(spark=spark,
              tracer=Tracer(bool(args.trace), spark.sparkContext,
                            lambda: (procfs.tree_cpu_seconds(), procfs.read_mb(jvm))),
              ops=Ops(), paths=paths, n_input=fixture_cfg["n_rows"],
              n_partitions=fixture_cfg["n_partitions"], planted_decode_failed=planted,
              work_dir=os.path.join(state, "work"))
    e2e: dict[str, float] = {}
    try:
        e2e = (run_clips if kind == "clips" else run_resume)(ctx, args.seconds)
    except Exception:  # a failed Spark action fails the run, not the harness
        traceback.print_exc()
        ctx.ops.attempted += 1
        ctx.ops.failed += 1
        ctx.ops.failures.append("a Spark action raised")
    e2e["setup_s"] = setup_s
    app_id = spark.sparkContext.applicationId
    session_env.stop_session(spark)
    for msg in ctx.ops.failures:
        log(f"CHECK FAILED: {msg}")
    correct = ctx.ops.failed == 0

    values = e2e
    if args.trace and correct:
        values = layer_values(args, ctx, kind, cores, ev_dir, app_id, paths,
                              fixture_meta, build_s, state)
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in declared if m["name"] in values}
    missing = [m["name"] for m in declared if m["name"] not in values]
    if missing and correct:
        raise RuntimeError(f"declared metrics not measured: {missing}")
    print(json.dumps({"correct": correct, "attempted": ctx.ops.attempted,
                      "failed": ctx.ops.failed, "metrics": metrics}))
    return 0 if correct else 1


def layer_values(args, ctx, kind, cores, ev_dir, app_id, paths, fixture_meta,
                 build_s, state) -> dict[str, float]:
    spans = ctx.tracer.spans
    log_path = os.path.join(ev_dir, f"eventlog_v2_{app_id}")
    phases = eventlog.phase_metrics(eventlog.read_events(log_path))
    daily = None
    if kind == "resume":  # the daily step validates the last partition
        daily = sorted(d for d in os.listdir(paths["clips"])
                       if d.startswith("ingest_date="))[-1].split("=", 1)[1]
    values = ledger.per_layer(spans, phases, kind, cores, paths["clips"], daily)
    values.update(audio_replay.replay(paths["clips"]))
    values.update(ctx.layer)
    for k in ("resume.backfill_s", "resume.daily_s", "resume.unseen_dup_rows",
              "write.mb_per_input_mb"):
        values.setdefault(k, 0.0)
    walls = ctx.walls
    bare = statistics.median(walls["bare"])
    values["trace.overhead_frac"] = statistics.median(walls["traced"]) / bare - 1.0
    values["audio.decode_share"] = (
        values["audio.cpu_us_per_row"] * 1e-6 * ctx.rows_per_pass / (bare * cores))
    values["trace.eventlog_mb"] = fixture_cache.du_bytes(log_path) / eventlog.MB
    values["session.build_s"] = build_s
    values["peak_rss_mb"] = ctx.peak_rss_mb
    values["fixtures.write_s"] = fixture_meta["write_s"]
    values["fixtures.mb"] = fixture_meta["mb"]

    trace_file = os.path.join(state, f"trace-{args.workload}-seed{args.seed}.json")
    with open(trace_file, "w") as f:
        json.dump({"settings": {"cores": cores,
                                "driver_heap_mb": session_env.driver_heap_mb(),
                                "spark_conf": session_env.spark_conf(os.path.dirname(state))},
                   "spans": ledger.span_table(spans),
                   "phases": phases, "walls": walls, "metrics": values}, f, indent=1)
    log(f"trace -> {trace_file}")
    return values


if __name__ == "__main__":
    sys.exit(main())
