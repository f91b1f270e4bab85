import pytest

import fixture_cache
import session_env


@pytest.mark.parametrize("total_kb, heap_mb", [
    (16_479_424, 2011),  # 15.7 GiB host
    (4_000_000, 1024),   # floor
    (134_217_728, 8192),  # 128 GiB host: cap
])
def test_driver_heap_is_an_eighth_of_memory(tmp_path, total_kb, heap_mb):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(f"MemTotal:       {total_kb} kB\nMemFree: 1 kB\n")
    assert session_env.driver_heap_mb(str(meminfo)) == heap_mb


def test_fixture_generation_is_refused_without_disk(tmp_path, monkeypatch):
    cfg = {"n_rows": 1000, "n_partitions": 8, "max_synth_ms": 600,
           "codec_probs": [1, 0, 0, 0]}
    need = fixture_cache.estimated_bytes(cfg)
    monkeypatch.setattr(fixture_cache.shutil, "disk_usage",
                        lambda p: type("U", (), {"free": need - 1})())
    with pytest.raises(fixture_cache.FixtureError, match="refusing"):
        fixture_cache.ensure_fixture(str(tmp_path), cfg, seed=3, generator="g")
    assert list(tmp_path.iterdir()) == []


def test_cache_key_separates_configs_and_seeds():
    a = {"n_rows": 10, "max_synth_ms": 50}
    assert fixture_cache.cache_dir("c", a, 1, "g") != fixture_cache.cache_dir("c", a, 2, "g")
    assert (fixture_cache.cache_dir("c", a, 1, "g")
            != fixture_cache.cache_dir("c", dict(a, n_rows=11), 1, "g"))


def _generator_tree(root, clips_src):
    for top in fixture_cache.GENERATOR_SOURCES:
        (root / top).mkdir(parents=True, exist_ok=True)
    (root / "data_validator_spark/fixtures/clips.py").write_text(clips_src)
    (root / "data_validator_spark/audio/codecs.py").write_text("ENC = 1\n")
    (root / "data_validator_spark/rules.py").write_text("unrelated = 1\n")


def test_cache_key_follows_the_generator_source(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    _generator_tree(a, "P_DUP = 0.01\n")
    _generator_tree(b, "P_DUP = 0.01\n")
    assert fixture_cache.generator_digest(str(a)) == fixture_cache.generator_digest(str(b))
    (b / "data_validator_spark/rules.py").write_text("unrelated = 2\n")
    assert fixture_cache.generator_digest(str(a)) == fixture_cache.generator_digest(str(b))
    (b / "data_validator_spark/fixtures/clips.py").write_text("P_DUP = 0.02\n")
    gen_a, gen_b = (fixture_cache.generator_digest(str(a)),
                    fixture_cache.generator_digest(str(b)))
    assert gen_a != gen_b
    cfg = {"n_rows": 10, "max_synth_ms": 50}
    assert fixture_cache.cache_dir("c", cfg, 1, gen_a) != fixture_cache.cache_dir("c", cfg, 1, gen_b)
    (b / "data_validator_spark/fixtures/clips.py").write_text("P_DUP = 0.01\n")
    (b / "data_validator_spark/audio/codecs.py").write_text("ENC = 2\n")
    assert fixture_cache.generator_digest(str(a)) != fixture_cache.generator_digest(str(b))
