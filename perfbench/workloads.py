"""The benchmark's workloads: set-up, the timed op, and output checks.

Each workload drives only the program's public functions
(``plans.dag.run_pipeline`` / ``read_mart``,
``models.materialization_context``, ``semantic.MetricQuery.to_df``, the
``llm`` operators) over inputs generated from the seed, and checks the
outputs against the DuckDB oracles the program ships.
"""

from __future__ import annotations

import os
import shutil
import sys
import threading
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

import duckdb
import numpy as np

import datagen
import stats

# star-schema rows as a share of sf0.1 (see datagen; README.md says
# why not 1.0); the corpus is sf0.1's size
STAR_SCALE = 0.04
CORPUS_DOCS = 5000
CORPUS_VECS = 2000
SERVE_CLIENTS = 2
# the marts serve holds in memory, the three the ad-hoc shapes read:
# each further mart would add 2-3 s of cold computation to every run's
# set-up, and the runs of all workloads must fit the benchmark's time
SERVE_MARTS = ("orders", "order_items", "customers")
SERVE_ADHOC_SHAPES = 8
ZIPF_S = 1.1
ROUND_TOP = 4
# untimed rounds of the stream sent in set-up: the JVM goes on compiling
# hot code for some 30 s of queries, and a median taken while latency
# still drifts down varied by 0.13-0.30 (quartile spread) between runs
SERVE_WARM_ROUNDS = 5
CURATE_OPS = (
    "dedup_exact", "dedup_minhash_pairs", "dedup_simhash",
    "dedup_embedding_lsh", "text_quality", "sim_topk_cosine", "sim_ivf_topk",
)
PAIR_OPS = ("dedup_minhash_pairs", "dedup_simhash", "dedup_embedding_lsh")


class Context:
    """What every workload shares: the session, the run's scratch
    directory, the seed and, on a traced run, the tracer."""

    def __init__(self, spark, work: str, seed: int) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.work = work
        self.seed = seed
        self.tracer = None  # installed after set-up on a traced run

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


class Op:
    """One timed op's outcome."""

    def __init__(self, seconds: float, ok: bool, layers: dict | None = None):
        self.seconds = seconds
        self.ok = ok
        self.layers = layers or {}


# ------------------------------------------------------------ helpers


def oracle(src_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for f in sorted(os.listdir(src_dir)):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                f"read_parquet('{os.path.join(src_dir, f)}')"
            )
    return con


def table_models() -> list[str]:
    from dbt_jaffleshop_spark.plans.dag import MODELS

    return [n for n, m in MODELS.items() if m.materialization == "table"]


def read_marts(spark, wh: str) -> dict:
    """Every mart of the warehouse, as the pipeline hands it downstream
    (derived partition columns dropped)."""
    from dbt_jaffleshop_spark.plans.dag import MODELS, read_mart

    return {
        n: read_mart(spark, wh, n).drop(*MODELS[n].partition_expr)
        for n in table_models()
    }


def _nat_to_none(df):
    """A null timestamp reaches pandas as ``None`` from Spark but as
    ``NaT`` from DuckDB, which ``canonical_rows`` renders differently;
    both are SQL NULL, so NaT is mapped to None."""
    from pandas.api.types import is_datetime64_any_dtype

    return df.assign(**{c: df[c].astype(object).where(df[c].notna(), None)
                        for c in df.columns if is_datetime64_any_dtype(df[c])})


def mismatch(got, want) -> list[str]:
    """``testing.parity``'s comparison — columns by name, canonical
    cells, rows as a multiset — with a linear-time report on mismatch,
    after ``_nat_to_none``."""
    from dbt_jaffleshop_spark.testing.parity import canonical_rows

    got, want = _nat_to_none(got), _nat_to_none(want)
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} != {sorted(want.columns)}"]
    a, b = Counter(canonical_rows(got)), Counter(canonical_rows(want))
    if a == b:
        return []
    return [f"{sum((a - b).values())} rows only in the output, "
            f"{sum((b - a).values())} only in the oracle"]


def check_warehouse(spark, wh: str, con) -> list[str]:
    """Every mart and saved-query export of ``wh`` against its DuckDB
    oracle over the same sources."""
    from dbt_jaffleshop_spark.plans.dag import read_mart
    from dbt_jaffleshop_spark.plans.exports import EXPORTS
    from dbt_jaffleshop_spark.queries.oracle_jaffle import jaffle_sql
    from dbt_jaffleshop_spark.semantic import SAVED_QUERIES

    problems = []
    for name, df in read_marts(spark, wh).items():
        problems += [f"{name}: {p}" for p in
                     mismatch(df.toPandas(), con.sql(jaffle_sql(name)).df())]
    for name, spec in EXPORTS.items():
        want = con.sql(SAVED_QUERIES[spec.saved_query].to_oracle_sql()).df()
        problems += [f"export {name}: {p}" for p in
                     mismatch(read_mart(spark, wh, name).toPandas(), want)]
    for p in problems:
        print(f"mismatch: {p}", file=sys.stderr)
    return problems


def canonical_rows_of(pdf) -> Counter:
    from dbt_jaffleshop_spark.testing.parity import canonical_rows

    return Counter(canonical_rows(pdf))


def statuses(results: dict) -> dict[str, str]:
    return {k: v["status"] for k, v in results.items()}


def files_bytes(root: str) -> dict[str, int]:
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


def written_bytes(before: dict[str, int], root: str) -> int:
    after = files_bytes(root)
    return sum(s for p, s in after.items() if before.get(p) != s)


def pipeline_layers(results: dict, wall: float) -> dict:
    """Per-layer numbers read from ``run_pipeline``'s per-model result."""
    from dbt_jaffleshop_spark.plans.dag import MODELS
    from dbt_jaffleshop_spark.plans.exports import EXPORTS

    secs = {k: v.get("seconds", 0.0) for k, v in results.items()}
    finish: dict[str, float] = {}
    for name in MODELS:  # MODELS is in registration (topological) order
        finish[name] = secs.get(name, 0.0) + max(
            (finish[d] for d in MODELS[name].depends_on), default=0.0)
    for name, spec in EXPORTS.items():
        finish[f"export:{name}"] = secs.get(f"export:{name}", 0.0) + finish[spec.depends_on]
    busy = sum(secs.values())
    tested = [n for n, v in results.items()
              if n in MODELS and v["status"] in ("ok", "test_failed")]
    return {
        "plans.dag.busy_s": busy,
        "plans.dag.critical_path_s": max(finish.values()),
        "plans.dag.overlap": busy / wall,
        "plans.dag.models_ok": sum(v["status"] == "ok" for v in results.values()),
        "plans.state.reused": sum(v["status"] == "reused" for v in results.values()),
        "testing.tests_run": sum(len(MODELS[n].tests) for n in tested),
        "testing.tests_failed": sum(
            sum(v.get("failures", {}).values()) for v in results.values()),
    }


def traced_layers(ctx: Context, op: int) -> dict:
    """Per-op numbers read from the tracer's spans."""
    t = ctx.tracer
    plan = [e - s for n, s, e, _, o in t.spans if n == "models.plan" and o == op]
    compile_ms = [1e3 * (e - s) for n, s, e, _, o in t.spans
                  if n == "semantic.compile" and o == op]
    scans = sum(1 for n, *_, o in t.spans if n == "sources.scan" and o == op)
    commits = sum(1 for n, *_, o in t.spans if n == "plans.acid.commit" and o == op)
    return {
        "models.plan_s": sum(plan),
        "sources.scans": scans,
        "plans.state.fingerprint_s": t.seconds("plans.state.fingerprint", op),
        "plans.acid.commits": commits,
        "plans.acid.commit_s": t.seconds("plans.acid.commit", op),
        "plans.acid.vacuum_s": t.seconds("plans.acid.vacuum", op),
        "semantic.compile_ms": stats.median(compile_ms) if compile_ms else 0.0,
    }


class JobWindow:
    """Spark jobs started between construction and ``counts()`` —
    meaningful for workloads that run one op at a time."""

    def __init__(self, ctx: Context) -> None:
        from tracing import last_job_id

        self.ctx = ctx
        self.first = last_job_id(ctx.sc) + 1 if ctx.tracer else 0

    def counts(self) -> dict:
        from tracing import job_counts, last_job_id

        if not self.ctx.tracer:
            return {}
        j, s, t, f = job_counts(self.ctx.sc, range(self.first, last_job_id(self.ctx.sc) + 1))
        return {"session.jobs": j, "session.stages": s, "session.tasks": t,
                "session.failed_tasks": f}


def serial_loop(ctx: Context, workload, seconds: float) -> list[Op]:
    """Closed loop with one client: ops back to back (each preceded by
    the workload's untimed ``before``) until ``seconds`` have passed."""
    ops: list[Op] = []
    deadline = time.perf_counter() + seconds
    while not ops or time.perf_counter() < deadline:
        workload.before(ctx)
        if ctx.tracer:
            ctx.tracer.op = len(ops)
        ops.append(workload.op(ctx, len(ops)))
    return ops


# ------------------------------------------------------------ build


class Build:
    """One op = a full ``run_pipeline`` into an empty warehouse, in a
    fresh session: the nightly job starts a new process, so the op
    includes the JVM and code-generation warm-up that job pays."""

    def setup(self, ctx: Context) -> None:
        tables = datagen.star_schema(ctx.seed, STAR_SCALE)
        self.src = ctx.path("src")
        self.source_bytes = datagen.write(tables, self.src)
        self.con = oracle(self.src)
        self.bad = False

    def before(self, ctx: Context) -> None:
        pass

    def op(self, ctx: Context, i: int) -> Op:
        from dbt_jaffleshop_spark.plans.dag import run_pipeline

        wh = ctx.path(f"wh{i}")
        jobs = JobWindow(ctx)
        t0 = time.perf_counter()
        results = run_pipeline(ctx.spark, self.src, wh)
        dt = time.perf_counter() - t0
        if i == 0:  # later ops redo the same work on the same inputs
            self.bad = bool(check_warehouse(ctx.spark, wh, self.con))
        failed = {k: s for k, s in statuses(results).items() if s != "ok"}
        if failed:
            print(f"statuses: {failed}", file=sys.stderr)
        ok = not self.bad and not failed
        layers = {}
        if ctx.tracer:
            written = sum(files_bytes(wh).values())
            layers = {**pipeline_layers(results, dt), **traced_layers(ctx, i),
                      **jobs.counts(), "plans.acid.bytes_written": written,
                      "plans.acid.write_amp": written / self.source_bytes}
        shutil.rmtree(wh)
        return Op(dt, ok, layers)


# ------------------------------------------------------------ refresh


class Refresh:
    """Set-up builds the warehouse without the newest month; one op
    lands that month and runs the incremental, state-aware pipeline.
    The pre-delta warehouse and sources are restored, untimed, before
    every op."""

    def setup(self, ctx: Context) -> None:
        from dbt_jaffleshop_spark.plans.dag import run_pipeline

        tables = datagen.star_schema(ctx.seed, STAR_SCALE)
        history, delta = datagen.split_newest_month(tables)
        self.src, self.full, self.hist = ctx.path("src"), ctx.path("full"), ctx.path("hist")
        self.wh, self.wh_base = ctx.path("wh"), ctx.path("wh_base")
        datagen.write(history, self.src)
        datagen.write(tables, self.full)
        self.delta_bytes = datagen.write(delta, ctx.path("delta"))
        os.makedirs(self.hist)
        for name in delta:
            shutil.copy2(os.path.join(self.src, f"{name}.parquet"), self.hist)
        self.con = oracle(self.full)
        built = statuses(run_pipeline(ctx.spark, self.src, self.wh))
        shutil.copytree(self.wh, self.wh_base)
        # warm-up refresh: its (untraced) per-model statuses are what
        # every timed refresh must reproduce, traced or not
        self.before(ctx)
        self.expected = statuses(self._refresh(ctx))
        self.bad = any(s != "ok" for s in built.values()) or any(
            s not in ("ok", "reused") for s in self.expected.values())

    def before(self, ctx: Context) -> None:
        shutil.rmtree(self.wh, ignore_errors=True)
        shutil.copytree(self.wh_base, self.wh)
        for f in os.listdir(self.hist):
            shutil.copy2(os.path.join(self.hist, f), self.src)

    def _refresh(self, ctx: Context) -> dict:
        from dbt_jaffleshop_spark.plans.dag import run_pipeline

        for f in os.listdir(self.hist):
            shutil.copy2(os.path.join(self.full, f), self.src)
        return run_pipeline(ctx.spark, self.src, self.wh,
                            incremental=True, state_aware=True)

    def op(self, ctx: Context, i: int) -> Op:
        before = files_bytes(self.wh) if ctx.tracer else {}
        jobs = JobWindow(ctx)
        t0 = time.perf_counter()
        results = self._refresh(ctx)
        dt = time.perf_counter() - t0
        if i == 0:  # later ops redo the same work on the same inputs
            self.bad |= bool(check_warehouse(ctx.spark, self.wh, self.con))
        same = statuses(results) == self.expected
        if not same:
            print(f"statuses differ from the untraced warm-up: {statuses(results)}",
                  file=sys.stderr)
        ok = not self.bad and same
        layers = {}
        if ctx.tracer:
            written = written_bytes(before, self.wh)
            layers = {**pipeline_layers(results, dt), **traced_layers(ctx, i),
                      **jobs.counts(), "plans.acid.bytes_written": written,
                      "plans.acid.write_amp": written / self.delta_bytes}
        return Op(dt, ok, layers)


# ------------------------------------------------------------ serve


def serve_shapes(seed: int) -> list[tuple]:
    """The shape pool: every saved query that reads one of
    ``SERVE_MARTS`` and joins no other mart, plus ``SERVE_ADHOC_SHAPES``
    generated ad-hoc requests (metric subset x group_by x time grain x
    optional date window). Shapes are plain tuples, so the pool and the
    stream drawn from it need no Spark."""
    from dbt_jaffleshop_spark.semantic import SAVED_QUERIES
    from dbt_jaffleshop_spark.semantic.jaffle_models import (
        CUSTOMERS_MODEL, ORDER_ITEMS_MODEL, ORDERS_MODEL)
    from dbt_jaffleshop_spark.semantic.model import GRAIN_OK

    rng = np.random.default_rng([seed, 3])
    saved = [n for n, q in SAVED_QUERIES.items() if q.model.mart in SERVE_MARTS
             and all(g.startswith("metric_time__") or "__" not in g for g in q.group_by)]
    shapes: list[tuple] = [("saved", name) for name in saved]
    models = [ORDERS_MODEL, ORDER_ITEMS_MODEL, CUSTOMERS_MODEL]
    months = np.arange(datagen.FIRST_MONTH, datagen.LAST_MONTH + 1)
    while len(shapes) < len(saved) + SERVE_ADHOC_SHAPES:
        m = models[rng.integers(0, len(models))]
        names = sorted(m.metrics)
        metrics = sorted(rng.choice(names, rng.integers(1, 4), replace=False).tolist())
        group_by = []
        if rng.random() < 0.7:
            group_by.append(f"metric_time__{GRAIN_OK[rng.integers(0, len(GRAIN_OK))]}")
        if rng.random() < 0.5:
            dims = sorted(m.dimensions)
            group_by.append(dims[rng.integers(0, len(dims))])
        needs_time = any(m.metrics[x].kind == "cumulative" or m.metrics[x].offset_inputs
                         for x in metrics)
        if needs_time and not any(g.startswith("metric_time__") for g in group_by):
            continue
        window = None
        if rng.random() < 0.5:
            a = int(rng.integers(0, len(months) - 3))
            b = a + int(rng.integers(1, 4))
            window = (str(months[a]) + "-01", str(months[b]) + "-01")
        shape = ("adhoc", m.name, tuple(metrics), tuple(group_by), window)
        if shape not in shapes:
            shapes.append(shape)
    return shapes


def serve_round(k: int) -> np.ndarray:
    """One round of a stream over ``k`` shapes, in pool order."""
    counts = np.maximum(1, np.rint(ROUND_TOP / np.arange(1, k + 1) ** ZIPF_S)).astype(int)
    return np.repeat(np.arange(k), counts)


def serve_stream(seed: int, n: int) -> list[int]:
    """``n`` indexes into ``serve_shapes(seed)``, sent in rounds. Shape
    ``r`` of the pool (saved queries first, then the ad-hoc ones) comes
    ``ROUND_TOP / r ** ZIPF_S`` times a round, rounded and at least
    once, and each round is in seeded order: popular shapes repeat, and
    a run of a few rounds sees the same mix whatever the seed, so its
    median latency does not hinge on which shape a seed made popular."""
    one_round = serve_round(len(serve_shapes(seed)))
    rng = np.random.default_rng([seed, 4])
    out: list[int] = []
    while len(out) < n:
        out += rng.permutation(one_round).tolist()
    return out[:n]


def metric_query(shape: tuple):
    from dbt_jaffleshop_spark.semantic import SAVED_QUERIES, MetricQuery
    from dbt_jaffleshop_spark.semantic import jaffle_models

    if shape[0] == "saved":
        return SAVED_QUERIES[shape[1]]
    _, model_name, metrics, group_by, window = shape
    model = {m.name: m for m in (jaffle_models.ORDERS_MODEL, jaffle_models.ORDER_ITEMS_MODEL,
                                 jaffle_models.CUSTOMERS_MODEL)}[model_name]
    where = None
    if window:
        t = model.agg_time_dimension
        where = f"{t} >= DATE '{window[0]}' AND {t} < DATE '{window[1]}'"
    return MetricQuery(model, list(metrics), list(group_by), where=where)


class Serve:
    """Read-only closed loop: ``SERVE_CLIENTS`` threads share the
    session and send the seeded query stream, each sending its next
    query when the last returns. Set-up computes the marts the shapes
    read once, holds them with ``models.base.cached`` and serves them
    through ``materialization_context``, as a BI server that keeps its
    marts in memory would; no warehouse is written. Set-up then sends
    the first ``SERVE_WARM_ROUNDS`` rounds of the stream, untimed, and
    checks each shape's first result against its oracle; every later
    result must equal those rows. The timed loop sends the rest."""

    def setup(self, ctx: Context) -> None:
        from dbt_jaffleshop_spark.models import materialization_context
        from dbt_jaffleshop_spark.models.base import cached
        from dbt_jaffleshop_spark.semantic import jaffle_models
        from dbt_jaffleshop_spark.semantic.model import SemanticModel
        from dbt_jaffleshop_spark.testing.parity import canonical_rows

        tables = datagen.star_schema(ctx.seed, STAR_SCALE)
        self.src = ctx.path("src")
        datagen.write(tables, self.src)
        bases = {m.mart: m.base for m in vars(jaffle_models).values()
                 if isinstance(m, SemanticModel) and m.mart in SERVE_MARTS}
        marts = {name: cached(name, base, ctx.spark, self.src)
                 for name, base in bases.items()}
        with ThreadPoolExecutor(SERVE_CLIENTS) as pool:
            list(pool.map(lambda df: df.count(), marts.values()))
            self.context = materialization_context(marts)
            self.context.__enter__()
            self.shapes = serve_shapes(ctx.seed)
            self.queries = [metric_query(s) for s in self.shapes]
            self.warm = SERVE_WARM_ROUNDS * len(serve_round(len(self.shapes)))
            warm = serve_stream(ctx.seed, self.warm)
            got = list(pool.map(
                lambda k: _nat_to_none(self.queries[k].to_df(ctx.spark, self.src).toPandas()),
                warm))
        first = {k: got[warm.index(k)] for k in range(len(self.shapes))}
        self.rows = [canonical_rows(first[k]) for k in range(len(self.shapes))]
        con = oracle(self.src)
        self.bad = {k for k, q in enumerate(self.queries)
                    if mismatch(first[k], con.sql(q.to_oracle_sql()).df())}
        self.bad |= {k for k, pdf in zip(warm, got) if canonical_rows(pdf) != self.rows[k]}
        con.close()
        for i in sorted(self.bad):
            print(f"mismatch: {self.shapes[i]}", file=sys.stderr)

    def close(self) -> None:
        from dbt_jaffleshop_spark.models.base import release_cached

        self.context.__exit__(None, None, None)
        release_cached()

    def run(self, ctx: Context, seconds: float) -> list[Op]:
        from dbt_jaffleshop_spark.testing.parity import canonical_rows

        stream = serve_stream(ctx.seed, 100_000)
        lock = threading.Lock()
        cursor = iter(range(self.warm, len(stream)))
        done: list[tuple] = []
        errors: list[BaseException] = []
        deadline = time.perf_counter() + seconds

        def client(cid: int) -> None:
            try:
                while time.perf_counter() < deadline:
                    with lock:
                        n = next(cursor)
                    q = self.queries[stream[n]]
                    if ctx.tracer:
                        ctx.sc.setJobGroup(f"q{n}", f"client {cid}")
                    t0 = time.perf_counter()
                    df = q.to_df(ctx.spark, self.src)
                    t1 = time.perf_counter()
                    pdf = df.toPandas()
                    t2 = time.perf_counter()
                    with lock:
                        done.append((n, stream[n], t0, t1, t2, pdf))
            except Exception as e:  # re-raised after the join
                errors.append(e)

        threads = [threading.Thread(target=client, args=(c,)) for c in range(SERVE_CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        self.wall = time.perf_counter() - (deadline - seconds)
        if errors:
            raise errors[0]
        ops = []
        counts: dict[int, set] = {}
        for n, shape, t0, t1, t2, pdf in done:
            ok = shape not in self.bad and canonical_rows(_nat_to_none(pdf)) == self.rows[shape]
            layers = {}
            if ctx.tracer:
                from tracing import job_counts

                j, s, t, f = job_counts(ctx.sc, ctx.sc.statusTracker().getJobIdsForGroup(f"q{n}"))
                counts.setdefault(shape, set()).add((j, s, t, f))
                layers = {"semantic.compile_ms": 1e3 * (t1 - t0),
                          "semantic.exec_ms": 1e3 * (t2 - t1),
                          "session.jobs": j, "session.stages": s,
                          "session.tasks": t, "session.failed_tasks": f}
            ops.append(Op(t2 - t0, ok, layers))
        if ctx.tracer:
            varied = sorted(self.shapes[k] for k, v in counts.items() if len(v) > 1)
            print(f"session counts repeated exactly for {len(counts) - len(varied)} of "
                  f"{len(counts)} shapes; varied: {varied}")
        return ops


# ------------------------------------------------------------ curate


class Curate:
    """One op = one pass of the seven corpus operators over
    ``documents`` and ``embeddings`` in the run's fresh session, as a
    curation job started per batch runs it; the first pass is checked
    after it is timed. A traced run also folds the held-back newest 10%
    of documents into a dedup index (built after the first pass and
    restored before every fold) with ``incremental_update``, timed on
    its own, outside the op."""

    def setup(self, ctx: Context) -> None:
        self.tables = datagen.corpus(ctx.seed, CORPUS_DOCS, CORPUS_VECS)
        self.src = ctx.path("src")
        datagen.write(self.tables, self.src)
        self.rows: dict | None = None
        self.fold_rows = None

    def _setup_fold(self, ctx: Context) -> None:
        from pyspark.sql import functions as F

        from dbt_jaffleshop_spark.llm import LLM_CATALOG
        from dbt_jaffleshop_spark.llm.dedup_incremental import build_dedup_index
        from dbt_jaffleshop_spark.sources import load_table

        docs = load_table(ctx.spark, "documents", self.src).select("doc_id", "text")
        thr = CORPUS_DOCS * 9 // 10
        self.delta = docs.where(F.col("doc_id") >= thr)
        self.delta_bytes = sum(len(t.encode()) for t in
                               self.tables["documents"].column("text").to_pylist()[thr:])
        self.idx_root, self.idx_base = ctx.path("index"), ctx.path("index_base")
        build_dedup_index(ctx.spark, docs.where(F.col("doc_id") < thr), self.idx_root)
        shutil.copytree(self.idx_root, self.idx_base)
        # the fold must equal a full dedup_clusters recompute, whose own
        # oracle check belongs to the program's tests
        self.fold_rows = canonical_rows_of(
            LLM_CATALOG["dedup_clusters"][0](ctx.spark, self.src).toPandas())

    def before(self, ctx: Context) -> None:
        pass

    def _pass(self, ctx: Context) -> tuple[dict, dict]:
        from dbt_jaffleshop_spark.llm import LLM_CATALOG

        out, secs = {}, {}
        for name in CURATE_OPS:
            t0 = time.perf_counter()
            out[name] = LLM_CATALOG[name][0](ctx.spark, self.src).toPandas()
            secs[name] = time.perf_counter() - t0
        return out, secs

    def check(self, out: dict) -> bool:
        """Each operator against its LLM_CATALOG oracle."""
        from dbt_jaffleshop_spark.llm import LLM_CATALOG

        con = oracle(self.src)
        bad = [n for n in CURATE_OPS if mismatch(out[n], con.sql(LLM_CATALOG[n][1]).df())]
        con.close()
        for n in bad:
            print(f"mismatch: {n}", file=sys.stderr)
        return not bad

    def _fold(self, ctx: Context) -> tuple[bool, dict]:
        from dbt_jaffleshop_spark.llm.dedup_incremental import DedupIndex, incremental_update

        shutil.rmtree(self.idx_root)
        shutil.copytree(self.idx_base, self.idx_root)
        before = files_bytes(self.idx_root)
        t0 = time.perf_counter()
        clusters = incremental_update(ctx.spark, self.delta, DedupIndex(self.idx_root)).toPandas()
        dt = time.perf_counter() - t0
        written = written_bytes(before, self.idx_root)
        ok = canonical_rows_of(clusters) == self.fold_rows
        if not ok:
            print("mismatch: incremental_update", file=sys.stderr)
        return ok, {"llm.incremental_update_s": dt, "plans.acid.bytes_written": written,
                    "plans.acid.write_amp": written / self.delta_bytes}

    def op(self, ctx: Context, i: int) -> Op:
        from dbt_jaffleshop_spark.testing.parity import canonical_rows

        jobs = JobWindow(ctx)
        t0 = time.perf_counter()
        out, secs = self._pass(ctx)
        dt = time.perf_counter() - t0
        rows = {n: canonical_rows(pdf) for n, pdf in out.items()}
        if self.rows is None:  # later passes must reproduce the checked rows
            self.rows = rows if self.check(out) else {}
        ok = rows == self.rows
        layers = {}
        if ctx.tracer:
            layers = {**{f"llm.{n}_s": s for n, s in secs.items()},
                      "llm.dup_pairs": sum(len(out[n]) for n in PAIR_OPS),
                      **jobs.counts()}
            if self.fold_rows is None:
                ctx.tracer.op = -1  # keep the index build out of op i's spans
                self._setup_fold(ctx)
                ctx.tracer.op = i
            fold_ok, fold = self._fold(ctx)
            ok = ok and fold_ok
            layers.update(fold, **traced_layers(ctx, i))
        return Op(dt, ok, layers)


WORKLOADS = {"build": Build, "refresh": Refresh, "serve": Serve, "curate": Curate}
