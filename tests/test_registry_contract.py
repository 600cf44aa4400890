"""Driver-contract tests: smoke entry(), and every registered query
with an oracle hash-matches DuckDB at sf0.001 (fast) — the driver runs
the same comparison at sf0.01.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as spark_entry
from tests.oracle_utils import assert_matches_oracle


def test_entry_smoke(spark):
    df = spark_entry.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) > 0


def _query_names():
    return sorted(spark_entry.queries().keys())


@pytest.fixture(scope="module")
def built(spark, sf_dir):
    """``built(name)``: the query's DataFrame, built once for all three
    checks below instead of once per check. Only the last query is
    kept; ``conftest.py`` runs one query's checks back to back, so a
    builder that stages files or runs a live listener and stream runs
    once per query."""
    last: dict[str, object] = {}

    def build(name):
        if name not in last:
            last.clear()
            last[name] = spark_entry.queries()[name](spark, sf_dir)
        return last[name]

    return build


@pytest.mark.parametrize("name", _query_names())
def test_query_runs(built, name):
    df = built(name)
    assert df.count() >= 0


@pytest.mark.parametrize("name", _query_names())
def test_query_schema_has_no_complex_columns(built, name):
    """The driver's pandas canonicalizer hashes cell values — an
    array/map/struct column is unhashable and crashed it in round 4
    (`unhashable type: 'list'` on analytic_approx_percentile). Every
    registered query must therefore project complex types down to
    scalars before returning."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    df = built(name)
    bad = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not bad, f"{name} returns complex-typed columns {bad}"


@pytest.mark.parametrize(
    "name", [n for n in _query_names() if n in spark_entry.oracle_sql()]
)
def test_query_matches_oracle(built, sf_dir, name):
    assert_matches_oracle(built(name), spark_entry.oracle_sql()[name], sf_dir)


def test_bench_emits_driver_contract_json():
    """bench.py must print ONE parseable JSON line with the driver's
    required keys, whatever else lands on stdout/stderr."""
    import json
    import os
    import subprocess
    import sys

    env = dict(
        os.environ,
        BENCH_QUERIES="events_type_totals",
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_CPUS="4",
    )
    proc = subprocess.run(
        [sys.executable, "bench.py"],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-800:]
    line = proc.stdout.strip().splitlines()[-1]
    # The contract line must stay short: round 1's driver truncated a
    # ~5 KB queries-inline line and recorded "parsed": null. Per-query
    # timings therefore live in BENCH_LOCAL.json (queries_file).
    assert len(line) < 1000
    d = json.loads(line)
    assert {"metric", "value", "unit", "sf", "queries_file"} <= set(d)
    assert d["unit"] == "sec"
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, d["queries_file"])) as fh:
        local = json.load(fh)
    assert local["queries"]
