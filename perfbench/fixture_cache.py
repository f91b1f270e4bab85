"""Fixtures cached per (workload fixture config, seed).

The cache key also covers the source of the code that writes the
fixture (the package's `fixtures` and `audio` modules), so a checkout
whose generator differs never reuses another generator's fixture.

A missing fixture is generated by `fixtures.write_fixture` in a child
process with its own Spark session. The child writes into a temporary
directory and renames it into place after `meta.json`, which holds the
generation wall and size, so an interrupted generation never leaves a
fixture that looks complete. After it, the parent flushes the written
files to disk, so their writeback does not run during the measured
session.

Run as a script, this module is that child:
    python3 perfbench/fixture_cache.py <out_dir> '<fixture config json>'
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import session_env

MB = 1e6
_MEAN_SR_HZ = 25_544  # mean of the fixture's sample-rate mix


class FixtureError(RuntimeError):
    pass


GENERATOR_SOURCES = ("data_validator_spark/fixtures", "data_validator_spark/audio")


def generator_digest(root: str) -> str:
    """Hash of the .py files the fixture generator runs, by relative path."""
    h = hashlib.sha1()
    for top in GENERATOR_SOURCES:
        for dirpath, dirs, files in os.walk(os.path.join(root, top)):
            dirs.sort()
            for name in sorted(f for f in files if f.endswith(".py")):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, root).encode() + b"\0")
                with open(path, "rb") as f:
                    h.update(f.read() + b"\0")
    return h.hexdigest()


def cache_dir(cache_root: str, fixture_cfg: dict, seed: int, generator: str) -> str:
    key = json.dumps([fixture_cfg, generator], sort_keys=True)
    digest = hashlib.sha1(key.encode()).hexdigest()[:12]
    return os.path.join(cache_root, f"{digest}-seed{seed}")


def estimated_bytes(fixture_cfg: dict) -> int:
    """Upper estimate of the fixture's size on disk: every clip at the
    synthesis cap, stored as 16-bit PCM, plus 1 kB of metadata per row."""
    per_row = _MEAN_SR_HZ * fixture_cfg["max_synth_ms"] / 1000 * 2 + 1000
    return int(fixture_cfg["n_rows"] * per_row)


def du_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def ensure_fixture(cache_root: str, fixture_cfg: dict, seed: int,
                   generator: str) -> tuple[dict, dict]:
    """(table -> path, meta) for the fixture, generating it if absent.
    `generator` is the generator_digest of the checkout."""
    out = cache_dir(cache_root, fixture_cfg, seed, generator)
    if not os.path.exists(os.path.join(out, "meta.json")):
        os.makedirs(cache_root, exist_ok=True)
        need = estimated_bytes(fixture_cfg)
        free = shutil.disk_usage(cache_root).free
        if free < need:
            raise FixtureError(
                f"refusing to generate a ~{need / MB:.0f} MB fixture with "
                f"{free / MB:.0f} MB free")
        cfg = dict(fixture_cfg, seed=seed)
        # stdout goes to stderr: the parent's last stdout line is its result
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), out, json.dumps(cfg)],
            stdout=sys.stderr, timeout=170)
        if proc.returncode != 0:
            raise FixtureError(f"fixture generation exited {proc.returncode}")
        os.sync()
    with open(os.path.join(out, "meta.json")) as f:
        meta = json.load(f)
    paths = {t: os.path.join(out, t) for t in ("clips", "transcripts_ref", "golden")}
    return paths, meta


def _generate(out: str, cfg: dict) -> None:
    from data_validator_spark.fixtures import ClipsConfig, write_fixture
    from data_validator_spark.session import build_session

    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    spark = build_session(app_name="perfbench_fixture", cores=session_env.cores(),
                          extra_conf=session_env.spark_conf(os.getcwd()))
    try:
        t0 = time.perf_counter()
        write_fixture(spark, ClipsConfig(**dict(
            cfg, codec_probs=tuple(cfg["codec_probs"]))), tmp)
        write_s = time.perf_counter() - t0
    finally:
        session_env.stop_session(spark)
    meta = {"write_s": write_s, "mb": du_bytes(tmp) / MB, "config": cfg}
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


if __name__ == "__main__":
    session_env.configure_process(os.getcwd())
    _generate(sys.argv[1], json.loads(sys.argv[2]))
