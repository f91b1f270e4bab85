#!/usr/bin/env python
"""FLAC decode bench: an LPC-heavy corpus and a FIXED-subframe corpus.

Our own encoder emits FIXED subframes (vectorized cumsum inversion),
so the ordinary bench never exercises _restore_lpc — but externally
produced (libFLAC) files are mostly LPC subframes. This tool
synthesizes such a corpus with encode_flac(lpc_order=), plus a
FIXED-subframe corpus shaped like the clips fixture (its sample-rate
mix, FIXED_CLIPS clips of FIXED_MS), and measures:

  1. for both corpora, single-process decode throughput of the batch
     decoder (flac.decode_flac_batch over groups of BATCH_ROWS
     payloads, the FLAC rows of one Arrow batch) against per-payload
     decode_flac, with an MD5 over all decoded PCM of each mode
     (bit-exact when equal) and the count of streams the batch path
     left to decode_flac;
  2. on the LPC corpus, the batched LPC restoration
     (_restore_lpc_batch, stacks same-shape subframes into one numpy
     recurrence) vs the per-subframe python kernel (_LPC_BATCH_MIN
     forced past every group size), plus the LPC-restore share of
     total decode time under each mode;
  3. the Spark path: run_audio_checks (full decode + MD5 + SNR vs
     reference) over the LPC corpus on local[N].

Usage: python tools/flac_lpc_bench.py [--clips 200] [--secs 20]
       [--order 8] [--cores 8] [--skip-spark]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402

# The FIXED corpus copies the clips_mixed workload: clips of at most
# max_synth_ms=600, and about 128 FLAC rows per Arrow batch (a 512-row
# batch at the default codec mix's 25% FLAC share).
FIXED_CLIPS = 1024
FIXED_MS = 600
BATCH_ROWS = 128


def build_corpus(n_clips: int, secs: float, sr: int, order: int):
    from data_validator_spark.audio import flac, synth

    rows = []
    for i in range(n_clips):
        cid = f"lpc-{i:05d}"
        pcm = synth.reference_pcm(cid, sr, int(secs * sr))
        rows.append((cid, flac.encode_flac(pcm, sr, lpc_order=order)))
    return rows


def build_fixed_corpus(n_clips: int, ms: int):
    """FIXED-subframe streams at the clips fixture's sample-rate mix."""
    from data_validator_spark.audio import flac, synth
    from data_validator_spark.fixtures.clips import _SR_CHOICES, _SR_PROBS

    rng = np.random.default_rng(0)
    rows = []
    for i in range(n_clips):
        cid = f"fixed-{i:05d}"
        sr = int(rng.choice(_SR_CHOICES, p=_SR_PROBS))
        pcm = synth.reference_pcm(cid, sr, int(ms * sr / 1000))
        rows.append((cid, flac.encode_flac(pcm, sr)))
    return rows


def batch_vs_payload(rows, batch_rows: int) -> dict:
    """Msamples/s of decode_flac_batch (groups of batch_rows payloads)
    and of per-payload decode_flac over the same corpus."""
    import hashlib

    from data_validator_spark.audio import flac

    payloads = [p for _, p in rows]
    out = {}
    for mode in ("per_payload", "batch"):
        md5 = hashlib.md5()
        n_samples = fallbacks = 0
        t0 = time.monotonic()
        if mode == "batch":
            decoded = []
            for lo in range(0, len(payloads), batch_rows):
                group = payloads[lo : lo + batch_rows]
                for p, got in zip(group, flac.decode_flac_batch(group)):
                    if got is None:
                        fallbacks += 1
                        got = flac.decode_flac(p)
                    decoded.append(got)
        else:
            decoded = [flac.decode_flac(p) for p in payloads]
        wall = time.monotonic() - t0
        for pcm, sr in decoded:
            md5.update(pcm.tobytes())
            md5.update(str(sr).encode())
            n_samples += len(pcm)
        out[mode] = {
            "wall_sec": round(wall, 3),
            "msamples_per_sec": round(n_samples / wall / 1e6, 2),
            "pcm_md5": md5.hexdigest(),
        }
        if mode == "batch":
            out[mode]["fallback_streams"] = fallbacks
    out["speedup"] = round(
        out["per_payload"]["wall_sec"] / out["batch"]["wall_sec"], 2
    )
    out["bit_exact"] = out["per_payload"]["pcm_md5"] == out["batch"]["pcm_md5"]
    return out


def timed_decode(rows, batch: bool) -> dict:
    """Decode every payload single-process; instrument the LPC-restore
    share by wrapping the restore entry points."""
    from data_validator_spark.audio import flac

    lpc_time = 0.0

    orig_batch = flac._restore_lpc_batch
    orig_single = flac._DeferredLpc.restore_single

    def timed_batch_fn(subs):
        nonlocal lpc_time
        t0 = time.monotonic()
        try:
            return orig_batch(subs)
        finally:
            lpc_time += time.monotonic() - t0

    def timed_single_fn(self):
        nonlocal lpc_time
        t0 = time.monotonic()
        try:
            return orig_single(self)
        finally:
            lpc_time += time.monotonic() - t0

    flac._restore_lpc_batch = timed_batch_fn
    flac._DeferredLpc.restore_single = timed_single_fn
    orig_min = flac._LPC_BATCH_MIN
    if not batch:
        flac._LPC_BATCH_MIN = 1 << 60  # force the per-subframe kernel
    n_samples = 0
    try:
        t0 = time.monotonic()
        for _cid, payload in rows:
            pcm, _sr = flac.decode_flac(payload)
            n_samples += len(pcm)
        wall = time.monotonic() - t0
    finally:
        flac._restore_lpc_batch = orig_batch
        flac._DeferredLpc.restore_single = orig_single
        flac._LPC_BATCH_MIN = orig_min
    return {
        "wall_sec": round(wall, 2),
        "msamples_per_sec": round(n_samples / wall / 1e6, 2),
        "clips_per_sec": round(len(rows) / wall, 1),
        "lpc_restore_sec": round(lpc_time, 2),
        "lpc_share": round(lpc_time / wall, 3),
    }


def spark_pass(rows, sr: int, cores: int) -> dict:
    from pyspark.sql import functions as F

    from data_validator_spark.audio.checks import run_audio_checks
    from data_validator_spark.session import build_session

    spark = build_session(
        cores=cores, extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    try:
        df = spark.createDataFrame(
            [(cid, "flac", sr, p) for cid, p in rows],
            "clip_id string, codec string, sr_hz int, bytes binary",
        ).repartition(cores * 2).cache()
        df.count()
        t0 = time.monotonic()
        agg = run_audio_checks(df).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("audio_decode_error").isNotNull().cast("long")).alias(
                "n_err"
            ),
            F.min("audio_snr_db").alias("min_snr"),
        ).collect()[0]
        wall = time.monotonic() - t0
    finally:
        spark.stop()
    return {
        "cores": cores,
        "wall_sec": round(wall, 2),
        "clips_per_sec": round(len(rows) / wall, 1),
        "n_decode_err": agg["n_err"],
        "min_snr_db": round(float(agg["min_snr"]), 1),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--clips", type=int, default=200)
    ap.add_argument("--secs", type=float, default=20.0)
    ap.add_argument("--sr", type=int, default=16000)
    ap.add_argument("--order", type=int, default=8)
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--skip-spark", action="store_true")
    args = ap.parse_args()

    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"

    print(
        f"synthesizing {args.clips} x {args.secs}s LPC(order={args.order}) "
        f"clips at {args.sr} Hz",
        file=sys.stderr, flush=True,
    )
    rows = build_corpus(args.clips, args.secs, args.sr, args.order)
    total_mb = sum(len(p) for _, p in rows) / 1e6

    single = timed_decode(rows, batch=False)
    batched = timed_decode(rows, batch=True)
    fixed = build_fixed_corpus(FIXED_CLIPS, FIXED_MS)
    out = {
        "clips": args.clips,
        "secs_per_clip": args.secs,
        "sr_hz": args.sr,
        "lpc_order": args.order,
        "corpus_mb": round(total_mb, 1),
        "frames_per_clip": int(np.ceil(args.secs * args.sr / 4096)),
        "decode_single_kernel": single,
        "decode_batched": batched,
        "batch_speedup": round(single["wall_sec"] / batched["wall_sec"], 2),
        "lpc_corpus_batch_decode": batch_vs_payload(rows, BATCH_ROWS),
        "fixed_corpus": {
            "clips": FIXED_CLIPS,
            "ms_per_clip": FIXED_MS,
            "corpus_mb": round(sum(len(p) for _, p in fixed) / 1e6, 1),
            **batch_vs_payload(fixed, BATCH_ROWS),
        },
    }
    if not args.skip_spark:
        out["spark_run_audio_checks"] = spark_pass(rows, args.sr, args.cores)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
