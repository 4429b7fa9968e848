"""Tests of the benchmark itself (no Spark session needed).

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import re
import sys
from types import SimpleNamespace

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import cpgen, registry_oracle, run  # noqa: E402
from perfbench.tracing import PhaseStats, Tracer  # noqa: E402

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")


@pytest.fixture(scope="module")
def series():
    rng = np.random.default_rng(5)
    return cpgen.Series(np.round(rng.exponential(5000.0, 100_000)).astype(np.int64))


@pytest.fixture(scope="module")
def small_series():
    rng = np.random.default_rng(9)
    return cpgen.Series(np.round(rng.exponential(5000.0, 3_000)).astype(np.int64))


def test_interactive_stream_is_deterministic_per_seed(series):
    n_chains = len(cpgen.CHAIN_SCHEDULE)
    a = cpgen.interactive_stream(series, 7, n_chains)
    b = cpgen.interactive_stream(series, 7, n_chains)
    c = cpgen.interactive_stream(series, 8, n_chains)
    assert [q.text for q in a] == [q.text for q in b]
    assert [q.expected for q in a] == [q.expected for q in b]
    assert [q.text for q in a] != [q.text for q in c]
    prof = cpgen.stream_profile(a)
    assert prof == cpgen.stream_profile(b)
    # every action and every strategy occurs; chains repeat their
    # inputs 5 times in 6
    assert set(prof["action_share"]) == set(run.ACTIONS)
    assert set(prof["strategy_share"]) == set(run.STRATEGIES)
    assert prof["repeat_inputs_share"] == round(5 * n_chains / len(a), 4)
    assert [q.action for q in a] == list(cpgen.CHAIN_ACTIONS) * n_chains
    # the warm-up covers the strategies the set-up query does not, on
    # inputs no timed query uses
    warm = cpgen.warm_stream(series, 7)
    assert [q.text for q in warm] == [q.text for q in cpgen.warm_stream(series, 7)]
    assert sorted(q.strategy for q in warm) == ["pandas", "sparse"]
    assert not {q.inputs for q in warm} & {q.inputs for q in a}


def test_cp_check_flags_planted_wrong_rows(series):
    queries = cpgen.interactive_stream(series, 1, 1)
    for q in queries:
        good = list(q.expected)
        if q.action == "limit":
            good = good[: min(q.k, q.n_passing)]
        assert q.check(good), q.action
        if q.action != "limit":
            assert not q.check(good[1:]), q.action
        passing = set(q.expected)
        wrong = next(
            (x + d, lx) for (x, lx) in q.expected for d in range(1, 50)
            if (x + d, lx) not in passing
        )
        assert not q.check([wrong] + good[1:]), q.action
    limit = next(q for q in queries if q.action == "limit")
    # the arbitrary-subset contract still needs min(k, n) distinct rows
    rows = list(limit.expected)[: min(limit.k, limit.n_passing)]
    assert not limit.check(rows[:-1])
    assert not limit.check(rows[:-1] + rows[:1])


def test_oracle_cache_is_keyed_on_the_sql(tmp_path):
    pytest.importorskip("duckdb")
    import pyarrow as pa
    import pyarrow.parquet as pq

    sf_dir = tmp_path / "data"
    sf_dir.mkdir()
    pq.write_table(pa.table({"event_id": [1, 2, 3]}), str(sf_dir / "events.parquet"))
    cache = str(tmp_path / "oracle")

    def rows(sql):
        reg = {"w": SimpleNamespace(oracle=sql)}
        return registry_oracle.oracle_rows(cache, str(sf_dir), ["w"], reg)["w"]

    assert rows("SELECT count(*) FROM events") == [(3,)]
    assert rows("SELECT sum(event_id) FROM events") == [(6,)]
    assert len(os.listdir(cache)) == 2
    assert rows("SELECT count(*) FROM events") == [(3,)]
    assert len(os.listdir(cache)) == 2  # a hit adds no entry
    # a rebuilt dataset misses too
    pq.write_table(pa.table({"event_id": [1, 2, 3, 4]}), str(sf_dir / "events.parquet"))
    assert rows("SELECT count(*) FROM events") == [(4,)]


def test_dataset_is_deterministic(tmp_path):
    from perfbench import dataset

    a = dataset.ensure_dataset(str(tmp_path / "a"))
    b = dataset.ensure_dataset(str(tmp_path / "b"))
    verdicts = dataset.compare(a, b)
    assert set(verdicts) == {"customer", "documents", "embeddings", "events", "lineitem",
                             "nation", "orders", "part", "region", "supplier"}
    assert set(verdicts.values()) == {"equal"}
    ref = os.environ.get("PERFBENCH_REFERENCE_DATA")
    if ref:  # e.g. the sf0.1 directory that TESTDATA.md describes
        assert set(dataset.compare(a, ref).values()) == {"equal"}


def test_registry_check_flags_planted_wrong_rows():
    oracle = registry_oracle.normalise([(1, "a", 0.1 + 0.2), (2, None, 3.0)])
    assert registry_oracle.normalise([(2, None, 3.0), (1, "a", 0.3)]) == oracle
    assert registry_oracle.normalise([(2, None, 3.0), (1, "a", 0.31)]) != oracle
    assert registry_oracle.normalise([(1, "a", 0.3)]) != oracle


def _oracle_db(series):
    duckdb = pytest.importorskip("duckdb")
    con = duckdb.connect()
    values = series.cents / 100.0
    con.execute("CREATE TABLE events (event_id BIGINT, value DOUBLE)")
    con.executemany(
        "INSERT INTO events VALUES (?, ?)",
        [(i, float(v)) for i, v in enumerate(values)],
    )
    return con


def _sql_cons(q):
    kind = {"avg": "avg", "median": "median", "left": "left", "right": "right"}
    return [
        dict(kind=kind[c.kind], w=c.w, lo=c.lo, hi=c.hi, target=c.target.lower())
        for c in q.cons
    ]


def test_numpy_oracle_matches_cp_oracle_sql(small_series):
    from query_refinement_dsit_databases_2021_spark.workloads import cp_oracle

    con = _oracle_db(small_series)
    import random

    rng = random.Random(0)
    shapes = [
        ([("avg", None)], 120, 8),
        ([("left", 4), ("right", 3)], 100, 10),
        ([("avg", None), ("left", 2), ("right", 6)], 80, 12),
        ([("median", None), ("avg", None)], 60, 6),
    ]
    checked = 0
    for kinds, nx, nl in shapes:
        x0 = rng.randint(1, small_series.n - nx - nl - 40)
        for action in cpgen.CHAIN_ACTIONS:
            q = cpgen._query(small_series, rng, x0, x0 + nx - 1, 3, 3 + nl - 1, kinds, action)
            refined = q.refined
            sql = cp_oracle(
                q.x0, q.x1, q.l0, q.l1, _sql_cons(q),
                k=q.k if refined else None, refined=refined,
            )
            got = sorted((int(a), int(b)) for a, b in con.execute(sql).fetchall())
            assert got == list(q.expected), (action, q.text)
            checked += 1
    assert checked == 24


def test_metric_names_are_well_formed_and_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = [m["name"] for m in spec["end_to_end"]]
    layers = [m["name"] for m in spec["per_layer"]]
    for name in e2e + layers + [w["name"] for w in spec["workloads"]]:
        assert NAME_RE.fullmatch(name), name

    def op(i, kind, action=None, strategy=None):
        r = run.OpResult(i, kind, 1000.0 + i, 0.5 + 0.01 * i, action=action,
                         strategy=strategy, udf_size=100, n_rows=5, ok=True)
        r.phases["execute"] = PhaseStats(jobs=2, stages=3, tasks=4,
                                         job_intervals=[(1000.0 + i, 1000.2 + i)])
        return r

    untraced = [op(0, "all", "all", "window"), op(2, "sql_q3_topk_join")]
    traced = [op(1, "all", "all", "window"), op(3, "sql_q3_topk_join")]
    tracer = Tracer()
    got_e2e = run.end_to_end(untraced, [1.0, 2.0, 3.0], 10_000_000, 4.0, 12)
    got_layers = run.per_layer(untraced, traced, tracer, [{}, {}, {}], 3, 10_000_000, 1.0)
    assert list(got_e2e) == e2e
    assert sorted(got_layers) == sorted(layers)
    for name, (value, unit) in {**got_e2e, **got_layers}.items():
        assert NAME_RE.fullmatch(name), name
        assert isinstance(value, (int, float)) and np.isfinite(value), name
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    for name, (_, unit) in {**got_e2e, **got_layers}.items():
        assert units[name] == unit, name


def test_tree_cpu_counts_this_process():
    all0, jit0 = run._tree_cpu_s()
    t = __import__("time").process_time()
    while __import__("time").process_time() - t < 0.3:
        pass
    all1, jit1 = run._tree_cpu_s()
    assert all1 - all0 >= 0.2
    assert jit1 == jit0 == 0.0  # no JVM below this process


def test_self_time_subtracts_children():
    t = Tracer()
    with t.span("op"):
        with t.span("child"):
            pass
    t.spans[0].start, t.spans[0].end = 0.0, 10.0
    t.spans[1].start, t.spans[1].end = 2.0, 5.0
    st = t.self_times()
    assert st["op"] == pytest.approx(7.0)
    assert st["child"] == pytest.approx(3.0)


def test_oracle_ranks_at_engine_precision_where_cp_oracle_ties(tmp_path):
    """Seed 100, query 3 of the interactive stream: a relax query whose
    two candidates' RP differ by less than 1e-6. The engine (9-decimal
    ranking) admits (93341, 21); ``cp_oracle`` rounds to 6 decimals, the
    two tie, and its (x, lx) tie-break admits (92794, 14) instead."""
    duckdb = pytest.importorskip("duckdb")
    from perfbench import dataset
    from query_refinement_dsit_databases_2021_spark.workloads import cp_oracle

    sf_dir = dataset.ensure_dataset(str(tmp_path))
    series = cpgen.Series(dataset.events_cents(sf_dir))
    q = cpgen.interactive_stream(series, 100, len(cpgen.CHAIN_SCHEDULE))[3]
    assert q.action == "relax" and q.strategy == "window"
    assert (93341, 21) in q.expected and (92794, 14) not in q.expected

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet')")
    sql = cp_oracle(q.x0, q.x1, q.l0, q.l1, _sql_cons(q), k=q.k, refined=True)
    got = set(con.execute(sql).fetchall())
    assert got ^ set(q.expected) == {(93341, 21), (92794, 14)}
