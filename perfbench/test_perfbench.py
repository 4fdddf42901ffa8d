"""Self-tests of the benchmark's own code at tiny sizes:

    python3 -m pytest perfbench -q
"""

import os
import sys
from contextlib import contextmanager

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

from checks import Checks, digest  # noqa: E402
from inputs import write_corpus, zipf_triples  # noqa: E402
from workloads import Ctx, _summary, closed_loop  # noqa: E402


def test_corpus_is_a_function_of_the_seed(tmp_path):
    a, b, c = (tmp_path / n for n in ("a.parquet", "b.parquet", "c.parquet"))
    gold_a = write_corpus(str(a), 3, 10, 20)
    gold_b = write_corpus(str(b), 3, 10, 20)
    gold_c = write_corpus(str(c), 4, 10, 20)
    assert a.read_bytes() == b.read_bytes()
    assert (gold_a.mentions, gold_a.triples) == (gold_b.mentions, gold_b.triples)
    assert a.read_bytes() != c.read_bytes()
    assert gold_a.mentions != gold_c.mentions


def test_zipf_graph_is_a_function_of_the_seed_and_meets_its_edge_target():
    a = zipf_triples(5, 3000, n_nodes=2000, chunk=1000)
    assert a.equals(zipf_triples(5, 3000, n_nodes=2000, chunk=1000))
    assert not a.equals(zipf_triples(6, 3000, n_nodes=2000, chunk=1000))
    s, o = a.column("subj").to_pylist(), a.column("obj").to_pylist()
    undirected = {(min(x, y), max(x, y)) for x, y in zip(s, o) if x != y}
    assert len(undirected) >= 3000
    assert len(s) > len(undirected)  # duplicates and reciprocal pairs occur


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    tmp = str(tmp_path_factory.mktemp("spark"))
    s = (
        SparkSession.builder.master("local[1]")
        .config("spark.local.dir", tmp)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


def test_digest_catches_one_perturbed_row_and_ignores_order(spark):
    rows = [(f"e{i}", i % 7, i * 0.5) for i in range(200)]
    ddl = "node string, k int, x double"
    d = digest(spark.createDataFrame(rows, ddl))
    assert d == digest(spark.createDataFrame(list(reversed(rows)), ddl).repartition(3))
    bad = list(rows)
    bad[117] = ("e117", 117 % 7, 58.5000001)
    assert digest(spark.createDataFrame(bad, ddl)) != d
    assert digest(spark.createDataFrame(rows[:-1], ddl)) != d


def test_checks_compare_repetitions_and_pins():
    c = Checks()
    c.same("op", "10:5", pinned="10:5")
    c.same("op", "10:5", pinned="10:5")
    assert c.ok
    c.same("op", "10:6")
    assert not c.ok
    p = Checks()
    p.same("op", "10:5", pinned="10:4")
    assert not p.ok


class _NoTracer:
    enabled = False

    @contextmanager
    def span(self, name, iteration=None):
        yield None


def test_a_raising_call_is_counted_not_fatal():
    ctx = Ctx("build", None, None, _NoTracer(), "", 0, seconds=0)
    n = [0]

    def flaky():
        n[0] += 1
        if n[0] == 2:
            raise RuntimeError("injected")
        return n[0]

    checked = []
    calls = closed_loop(ctx, [("a", flaky), ("b", flaky), ("c", flaky)], checked.append)
    assert [c.ok for c in calls] == [True, False, True]
    assert [c.out for c in checked] == [1, 3]
    s = _summary(calls, 1)
    assert (s["attempted"], s["failed"]) == (3, 1)
