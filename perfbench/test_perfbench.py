"""Self-tests of the benchmark; none of them starts Spark.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import inspect
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import datagen  # noqa: E402
import spec  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_same_seed_same_serve_stream_and_refresh_delta():
    assert workloads.serve_shapes(7) == workloads.serve_shapes(7)
    assert workloads.serve_stream(7, 500) == workloads.serve_stream(7, 500)
    assert workloads.serve_stream(7, 500) != workloads.serve_stream(8, 500)
    d7 = datagen.split_newest_month(datagen.star_schema(7, 0.01))[1]
    again = datagen.split_newest_month(datagen.star_schema(7, 0.01))[1]
    d8 = datagen.split_newest_month(datagen.star_schema(8, 0.01))[1]
    assert all(d7[t].equals(again[t]) for t in d7)
    assert not d7["lineitem"].equals(d8["lineitem"])


def test_serve_stream_repeats_shapes():
    stream = workloads.serve_stream(3, 200)
    assert len(set(stream)) < len(stream) / 4
    assert max(stream) < len(workloads.serve_shapes(3))


def test_star_schema_has_sf01_shape():
    t = datagen.star_schema(2, 1.0)
    rows = {k: v.num_rows for k, v in t.items()}
    assert rows == {"region": 5, "nation": 25, "customer": 15_000, "supplier": 1_000,
                    "part": 20_000, "orders": 150_000, "lineitem": 600_000}
    days = t["orders"].column("o_orderdate").to_numpy().astype("datetime64[D]")
    assert days.min() == datagen.FIRST_DAY and days.max() == datagen.LAST_DAY


def test_corpus_has_sf01_duplicates():
    docs = datagen.corpus(4, 5000, 2000)["documents"].column("text").to_pylist()
    assert sum(t.endswith(" dup") for t in docs) >= 250
    assert sum(t[:-4] in set(docs) for t in docs if t.endswith(" dup")) >= 250
    assert len(docs) - len(set(docs)) >= 8


def test_refresh_delta_is_the_newest_month():
    tables = datagen.star_schema(5, 0.01)
    history, delta = datagen.split_newest_month(tables)
    for t in ("orders", "lineitem"):
        assert history[t].num_rows + delta[t].num_rows == tables[t].num_rows
        assert delta[t].num_rows > 0
    months = delta["orders"].column("o_orderdate").to_numpy().astype("datetime64[M]")
    assert set(months) == {datagen.LAST_MONTH}


def test_metric_names_and_units():
    b = bench()
    names = [w["name"] for w in b["workloads"]]
    for m in b["end_to_end"] + b["per_layer"]:
        names.append(m["name"])
        assert UNIT.fullmatch(m["unit"]), m
    assert all(NAME.fullmatch(n) for n in names), names
    assert len(names) == len(set(names))
    assert all(NAME.fullmatch(n) for n in [*spec.END_TO_END, *spec.PER_LAYER])


def test_percentile_needs_ten_samples_beyond():
    for n in range(1, 1200):
        p = stats.tail_percentile(n)
        if p is None:
            assert n < 100
            continue
        values = list(range(n))
        beyond = sum(v > stats.percentile(values, p) for v in values)
        assert beyond >= stats.MIN_BEYOND, (n, p)
        higher = [q for q in stats.PERCENTILES if q > p]
        for q in higher:
            assert sum(v > stats.percentile(values, q) for v in values) < stats.MIN_BEYOND


def test_reasons_and_layer_map_recorded():
    b = bench()
    assert [w["name"] for w in b["workloads"]] == list(spec.LISTED)
    for w in b["workloads"]:
        assert w["why"] == spec.WORKLOADS[w["name"]]
    assert {m["name"]: (m["unit"], m["better"], m["bound"]) for m in b["end_to_end"]} \
        == spec.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} \
        == {k: v[0] for k, v in spec.per_layer().items()}
    pkg = os.path.join(ROOT, "dbt_jaffleshop_spark")
    for name, (_, moves, on) in spec.PER_LAYER.items():
        assert moves in spec.END_TO_END
        assert set(on) <= set(spec.WORKLOADS)
        layer = name.split(".")[:-1]
        if not layer or layer[0] in ("session", "trace"):
            continue  # whole-process numbers, not a module of the program
        path = os.path.join(pkg, *layer)
        assert os.path.isdir(path) or os.path.isfile(path + ".py"), name


def test_setup_bound_is_the_largest():
    bounds = {m["name"]: m["bound"] for m in bench()["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25


def test_tracing_keeps_fingerprints_and_restores():
    from dbt_jaffleshop_spark.plans import dag, state

    before = {n: state.model_fingerprint(dag.MODELS, n, None) for n in dag.MODELS}
    builders = {n: m.builder for n, m in dag.MODELS.items()}
    tracer = tracing.Tracer()
    tracing.install(tracer)
    try:
        wrapped = dag.MODELS["orders"].builder
        assert wrapped is not builders["orders"]
        assert inspect.getsource(wrapped) == inspect.getsource(builders["orders"])
        after = {n: state.model_fingerprint(dag.MODELS, n, None) for n in dag.MODELS}
        assert after == before
        assert tracer.counts["plans.state.fingerprint"] == len(dag.MODELS)
    finally:
        tracer.unpatch()
    assert {n: m.builder for n, m in dag.MODELS.items()} == builders


def test_nested_spans_of_one_name_count_once():
    tracer = tracing.Tracer()
    calls = []

    def fact(n):
        calls.append(n)
        return 1 if n <= 1 else n * traced(n - 1)

    traced = tracer.wrap("fact", fact)
    assert traced(5) == 120 and len(calls) == 5
    assert tracer.counts["fact"] == 1 and len(tracer.spans) == 1


def test_fails_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "build", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert out.returncode != 0
    assert "{" not in out.stdout
