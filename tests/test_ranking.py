"""Round-6 optimization internals: histogram positional selection and the
size-adaptive connected-components local path must agree exactly with the
exhaustive / distributed forms they replace."""

import random

import pytest
from pyspark.sql import functions as F


def _median_pair(n):
    return [(n + 1) // 2 - 1, n // 2 + 1 - 1]


class TestPositionalValues:
    def test_matches_python_sort_uniform(self, spark):
        from tilekiln_spark.operators.ranking import positional_values

        rng = random.Random(7)
        vals = [rng.uniform(-100, 100) for _ in range(5001)]
        df = spark.createDataFrame([(v,) for v in vals], "v double")
        got, m = positional_values(df, "v", _median_pair)
        s = sorted(vals)
        assert m == 5001
        assert got == [s[2500], s[2500]]

    def test_even_count_adjacent_ranks(self, spark):
        from tilekiln_spark.operators.ranking import positional_values

        vals = [float(x) for x in range(10)]
        df = spark.createDataFrame([(v,) for v in vals], "v double")
        got, m = positional_values(df, "v", _median_pair)
        assert (m, got) == (10, [4.0, 5.0])

    def test_forces_histogram_levels(self, spark):
        # collect_cap=8 forces real bisection levels over 2000 rows
        from tilekiln_spark.operators.ranking import positional_values

        rng = random.Random(3)
        vals = [rng.gauss(0, 1) for _ in range(2000)]
        df = spark.createDataFrame([(v,) for v in vals], "v double")
        got, m = positional_values(
            df, "v", lambda n: [0, n // 3, n - 1], buckets=16, collect_cap=8
        )
        s = sorted(vals)
        assert got == [s[0], s[2000 // 3], s[-1]]

    def test_duplicate_mass_short_circuits(self, spark):
        from tilekiln_spark.operators.ranking import positional_values

        vals = [1.5] * 5000 + [0.0, 99.0]
        df = spark.createDataFrame([(v,) for v in vals], "v double")
        got, m = positional_values(
            df, "v", lambda n: [0, n // 2, n - 1], buckets=8, collect_cap=4
        )
        assert got == [0.0, 1.5, 99.0]

    def test_empty_and_nulls(self, spark):
        from tilekiln_spark.operators.ranking import positional_values

        df = spark.createDataFrame([], "v double")
        assert positional_values(df, "v", _median_pair) == ([], 0)
        df2 = spark.createDataFrame([(None,), (2.0,), (None,)], "v double")
        got, m = positional_values(df2, "v", _median_pair)
        assert (m, got) == (1, [2.0, 2.0])


class TestConnectedComponentsAdaptive:
    def _pairs(self, spark, edges):
        return spark.createDataFrame(edges, "key_a long, key_b long")

    def test_local_equals_distributed(self, spark, monkeypatch, local_solve_log):
        from tilekiln_spark.operators import local_solve
        from tilekiln_spark.operators.dedup import connected_components

        rng = random.Random(11)
        # chains + cliques + singleton edge islands
        edges = []
        for c in range(30):
            base = c * 100
            for i in range(rng.randint(1, 8)):
                edges.append((base + i, base + i + 1))
        for c in range(10):
            base = 10_000 + c * 50
            ids = [base + i for i in range(5)]
            edges += [(a, b) for a in ids for b in ids if a < b]
        pairs = self._pairs(spark, edges)

        local = connected_components(pairs).collect()
        with monkeypatch.context() as m:
            m.setattr(local_solve, "MAX_LOCAL_ROWS", -1)
            dist = connected_components(pairs).collect()
        assert [d["path"] for d in local_solve_log()] == ["local", "distributed"]
        assert sorted((r["node"], r["component"]) for r in local) == sorted(
            (r["node"], r["component"]) for r in dist
        )
        # component label is the min node id of its component
        comp = {r["node"]: r["component"] for r in local}
        assert comp[3] == 0 and comp[10_000 + 4] == 10_000

    def test_empty_pairs(self, spark):
        from tilekiln_spark.operators.dedup import connected_components

        pairs = self._pairs(spark, [])
        out = connected_components(pairs)
        assert out.columns == ["node", "component"]
        assert out.count() == 0
