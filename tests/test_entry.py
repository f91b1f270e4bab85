"""Driver-contract smoke: entry() + a sample of queries() at sf0.001."""

import sys

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


def test_entry_runs(spark):
    df = entry.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"o_orderpriority", "n_rows", "n_invalid"} <= set(df.columns)


def test_every_query_is_oracle_gated(spark):
    """Round-2 invariant: ZERO rows-only checks — every queries() entry
    carries a DuckDB oracle (hash-dependent operators via assertion
    oracles; see __spark_entry__ module docstring)."""
    qs = entry.queries()
    oracles = entry.oracle_sql()
    assert set(oracles) == set(qs), set(qs) - set(oracles)
    # every oracle-checked query name resolves to a callable
    assert all(callable(f) for f in qs.values())
    # sql strings reference only pre-registered views
    for sql in oracles.values():
        assert "read_parquet" not in sql


def test_newest_queries_are_in_the_driver_window():
    """The correctness gate samples the first 50 queries() entries
    (_DRIVER_WINDOW); the four highest-numbered queries must be among
    them."""
    names = list(entry.queries())
    newest = sorted(names, key=lambda n: int(n[1:].split("_")[0]))[-4:]
    assert len(entry._DRIVER_WINDOW) == 50
    assert names[:50] == entry._DRIVER_WINDOW
    assert set(newest) <= set(entry._DRIVER_WINDOW), newest


def test_sampled_queries_run_small(spark):
    qs = entry.queries()
    for name in ["q01_pricing_summary", "q15_winner_selection", "q25_cosine_topk"]:
        df = qs[name](spark, SF)
        assert df.count() > 0
