"""Per-layer metrics of a traced run, from its spans, its Spark event log
and the audio replay.

Each value is the median over the run's traced warm passes (for
resume_daily: its traced daily steps). A layer the workload does not
call reports 0.
"""

from __future__ import annotations

import statistics

import eventlog
from tracing import Span, ledger_gap_frac, self_times

RESULT_OUTPUTS = ("validated", "invalid", "partition_verdicts", "summary_stats",
                  "histograms")
WRITES = ("validated", "invalid", "stats", "histograms")


def bytes_column_mb(clips_dir: str, partition: str | None = None) -> float:
    """On-disk (compressed) size of the `bytes` column, from the parquet
    footers, optionally of one ingest_date partition."""
    import pyarrow.dataset as ds

    total = 0
    for frag in ds.dataset(clips_dir, format="parquet",
                           partitioning="hive").get_fragments():
        if partition is not None and f"ingest_date={partition}" not in frag.path:
            continue
        md = frag.metadata
        col = md.schema.names.index("bytes")
        total += sum(md.row_group(i).column(col).total_compressed_size
                     for i in range(md.num_row_groups))
    return total / eventlog.MB


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _by_pass(spans: list[Span]) -> dict[str, dict[str, Span]]:
    out: dict[str, dict[str, Span]] = {}
    for s in spans:
        out.setdefault(s.pass_id, {})[s.name] = s
    return out


def _root(spans: list[Span], pass_id: str) -> int:
    return next(i for i, s in enumerate(spans)
                if s.pass_id == pass_id and s.parent is None)


def _engine(phases: dict[str, dict[str, float]], pass_ids: list[str]) -> dict:
    keys = eventlog.TASK_METRICS + tuple(eventlog.PYTHON_METRICS.values())
    per_pass = []
    for pid in pass_ids:
        tot = dict.fromkeys(keys, 0.0)
        for desc, m in phases.items():
            if desc.startswith(pid + "/"):
                for k in keys:
                    tot[k] += m[k]
        per_pass.append(tot)
    return {k: _median(p[k] for p in per_pass) for k in keys}


def per_layer(spans: list[Span], phases: dict, kind: str, cores: int,
              clips_dir: str, daily_partition: str | None) -> dict[str, float]:
    passes = _by_pass(spans)
    warm = sorted(p for p in passes if p.startswith("warm"))
    measured = warm if kind == "clips" else [p for p in warm if p.endswith(".daily")]

    def wall(name: str, pass_ids=measured, suffix: str = "") -> float:
        return _median(passes[p + suffix][name].wall_s for p in pass_ids)

    out = dict.fromkeys(
        [f"result.{n}_s" for n in RESULT_OUTPUTS]
        + [f"result.{n}_cpu_s" for n in RESULT_OUTPUTS]
        + [f"write.{n}_s" for n in WRITES]
        + ["plans.manifest.record_s", "plans.manifest.run_resumable_s",
           "plans.manifest.pending_partitions_s", "plans.manifest.noop_s"], 0.0)
    if kind == "clips":
        for n in RESULT_OUTPUTS:
            out[f"result.{n}_s"] = wall(f"result.{n}")
            out[f"result.{n}_cpu_s"] = _median(
                passes[p][f"result.{n}"].cpu_s for p in measured)
        out["plans.validation.run_validation_s"] = wall("plans.validation.run_validation")
        scan_mb = bytes_column_mb(clips_dir)
    else:
        for n in WRITES:
            out[f"write.{n}_s"] = wall(f"write.{n}")
        out["plans.manifest.record_s"] = wall("plans.manifest.record")
        out["plans.manifest.run_resumable_s"] = wall("plans.manifest.run_resumable")
        out["plans.manifest.pending_partitions_s"] = wall(
            "plans.manifest.pending_partitions", suffix=".pending")
        out["plans.manifest.noop_s"] = _median(
            s.wall_s for s in spans if s.name == "resume.noop")
        out["plans.validation.run_validation_s"] = wall(
            "plans.validation.run_validation", ["daily_plan"])
        scan_mb = bytes_column_mb(clips_dir, daily_partition)

    roots = [_root(spans, p) for p in measured]
    out["cpu.util"] = _median(spans[r].cpu_s / (spans[r].wall_s * cores) for r in roots)
    out["ledger.gap_frac"] = _median(ledger_gap_frac(spans, r) for r in roots)
    engine = _engine(phases, measured)
    out.update(engine)
    out["scan.bytes_read_ratio"] = _median(spans[r].read_mb for r in roots) / scan_mb
    return out


def span_table(spans: list[Span]) -> list[dict]:
    """Every span with its self time, for the trace file."""
    return [dict(name=s.name, pass_id=s.pass_id, parent=s.parent, start=s.start,
                 end=s.end, wall_s=s.wall_s, self_s=st, cpu_s=s.cpu_s,
                 read_mb=s.read_mb)
            for s, st in zip(spans, self_times(spans))]
