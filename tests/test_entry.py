"""Driver-contract smoke tests: entry() runs, queries()/oracle_sql() are
consistent, every query runs at sf0.001."""

from __future__ import annotations

import __spark_entry__ as entry_mod


def test_entry_returns_rows(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert "gas_price_avg" in df.columns


def test_oracle_keys_subset_of_queries():
    qs = set(entry_mod.queries())
    os_ = set(entry_mod.oracle_sql())
    assert os_ <= qs
    # since round 2 every registered query carries a DuckDB oracle
    assert qs - os_ == set()


def test_all_queries_run_at_sf0001(spark):
    for name, fn in entry_mod.queries().items():
        df = fn(spark, "/root/testdata/sf0.001")
        n = df.count()
        assert n >= 0, name


def test_scratch_dir_gates_leave_nothing_behind(spark):
    """A file-source stream gate's scratch dir is gone when the gate
    returns, and its result rows stay readable without it."""
    import os

    seen = []

    @entry_mod._in_scratch_dir
    def q_probe(spark, sf, tmp):
        seen.append(tmp)
        out = os.path.join(tmp, "sink")
        spark.range(5).write.parquet(out)
        return spark.read.parquet(out)

    df = q_probe(spark, "unused")
    assert not os.path.exists(seen[0])
    assert os.path.basename(seen[0]).startswith("probe_")
    assert sorted(r["id"] for r in df.collect()) == [0, 1, 2, 3, 4]
