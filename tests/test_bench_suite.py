"""bench.py: the suite resolves through the queries() registry, and
its checksum sees duplicated rows but not row order."""

import bench
from pyspark.sql import functions as F

import __spark_entry__ as entry
from test_route import SF


def test_suite_resolves_to_registry_or_bench_only():
    registry = entry.queries()
    missing = [
        (b, r) for b, r in bench.SUITE
        if r not in registry and r not in bench.BENCH_ONLY
    ]
    assert missing == []


def test_round_subsets_are_in_suite():
    names = {b for b, _ in bench.SUITE}
    for key, members in bench.SUBSETS.items():
        assert set(members) <= names, key


def test_bench_names_unique():
    names = [b for b, _ in bench.SUITE]
    assert len(names) == len(set(names))


def test_checksum_counts_duplicates_ignores_order(spark):
    df = spark.createDataFrame(
        [(1, "a", {"k": 1}), (2, "b", {"k": 2}), (3, None, {})],
        "id long, s string, m map<string,int>",
    )
    base = bench.checksum(df)
    assert bench.checksum(df.orderBy(F.desc("id")).coalesce(1)) == base
    doubled = bench.checksum(df.unionAll(df.filter("id = 2")))
    assert doubled != base
    # the row hashes alone tell a doubled row from a dropped one; a
    # bit_xor cannot (x ^ x = 0)
    assert doubled[1] != bench.checksum(df.filter("id != 2"))[1]


def test_run_times_registry_and_bench_only(spark):
    steady, cold, sums = bench.run(spark, SF, ["pipe_route", "pipeline_native"])
    assert set(steady) == set(cold) == set(sums) == {"pipe_route", "pipeline_native"}
    assert all(t > 0 for t in [*steady.values(), *cold.values()])
    # both are the routed turns of sf0.001, one row per turn
    assert sums["pipe_route"][0] == sums["pipeline_native"][0] == 1000
    assert all(isinstance(s[1], int) for s in sums.values())
