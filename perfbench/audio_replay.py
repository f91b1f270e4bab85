"""Single-process replay of a fixed sample of a workload's own payloads
through the package's public audio functions, timing each call.

The sample is every k-th row by ingest_seq, so it is fixed by the
fixture seed. Outcomes follow the decode check's classes: `ok` decoded,
`pcm_unsupported` passed the container's metadata checks without a PCM
decoder, `error` failed either, and `skipped` has no payload or codec.
A codec absent from the sample reports 0.

`audio.cpu_us_per_row` is the replay's total time in these calls per
sampled row: the single-core audio cost of an average row, which the
benchmark scales to a pass to give decode's share of the pass.
"""

from __future__ import annotations

import time
from collections import defaultdict

SAMPLE_ROWS = 256
DECODED = ("pcm16", "flac", "mulaw")


def _sample(clips_dir: str, n: int):
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    table = ds.dataset(clips_dir, format="parquet").to_table(
        columns=["ingest_seq", "clip_id", "codec", "bytes"])
    table = table.take(pc.sort_indices(table, [("ingest_seq", "ascending")]))
    step = max(1, table.num_rows // n)
    return table.take(list(range(0, table.num_rows, step))[:n]).to_pylist()


def replay(clips_dir: str) -> dict[str, float]:
    from data_validator_spark.audio import codecs, synth

    ns = defaultdict(int)  # call kind -> total ns
    calls = defaultdict(int)
    outcomes = dict.fromkeys(("ok", "error", "pcm_unsupported", "skipped"), 0)
    flac_samples = 0

    def timed(kind, fn, *args):
        t0 = time.perf_counter_ns()
        try:
            return fn(*args)
        finally:
            ns[kind] += time.perf_counter_ns() - t0
            calls[kind] += 1

    rows = _sample(clips_dir, SAMPLE_ROWS)
    for row in rows:
        codec, payload = row["codec"], row["bytes"]
        if codec is None or payload is None:
            outcomes["skipped"] += 1
            continue
        try:
            pcm, sr = timed(f"decode.{codec}", codecs.decode, codec, payload)
        except codecs.PcmUnsupportedError:
            meta = timed(f"inspect.{codec}", codecs.inspect_metadata, codec, payload)
            ok = meta is not None and meta["error"] is None
            outcomes["pcm_unsupported" if ok else "error"] += 1
            continue
        except codecs.CodecError:
            outcomes["error"] += 1
            continue
        outcomes["ok"] += 1
        if codec == "flac":
            flac_samples += len(pcm)
        ref = timed("synth", synth.reference_pcm, row["clip_id"], int(sr), len(pcm))
        timed("snr", codecs.snr_db, ref, pcm)

    def mean_us(kind):
        return ns[kind] / calls[kind] / 1e3 if calls[kind] else 0.0

    out = {f"audio.decode_us.{c}": mean_us(f"decode.{c}") for c in DECODED}
    out["audio.inspect_us.opus"] = mean_us("inspect.opus")
    out["audio.flac.msamples_per_s"] = (
        flac_samples / (ns["decode.flac"] / 1e9) / 1e6 if ns["decode.flac"] else 0.0)
    out["audio.synth.reference_pcm_us"] = mean_us("synth")
    out["audio.snr_db_us"] = mean_us("snr")
    out.update({f"audio.outcomes.{k}": float(v) for k, v in outcomes.items()})
    out["audio.cpu_us_per_row"] = sum(ns.values()) / len(rows) / 1e3
    return out
