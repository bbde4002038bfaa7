"""What the benchmark measures and why: workload reasons, the metrics
with their units, and which end-to-end metric each per-layer metric
should move, on which workload. ``BENCHMARK.json`` at the repository
root mirrors this file; ``test_perfbench.py`` keeps the two in step."""

from __future__ import annotations

# name -> why
WORKLOADS = {
    "build": "nightly dbt build in a fresh session: full run_pipeline into an empty "
             "warehouse; plans.dag, models, plans.acid writes and testing, no serving or llm",
    "refresh": "daily catch-up: land the newest month, incremental state-aware "
               "run_pipeline; the only workload using plans.state and overwrite_partitions",
    "serve": "read-only closed loop of Zipf-skewed metric queries from 2 clients "
             "over a built warehouse; semantic layer, no writes",
    "curate": "LLM corpus pass: dedup, quality and similarity operators over "
              "documents and vectors; llm only, bypasses plans.dag and semantic",
}

# the workloads BENCHMARK.json lists. Every run starts a JVM whose
# warm-up costs 25-30 s, so a run takes 35-70 s on a 4-core host; the
# runs the benchmark is allowed must fit in its time, which leaves room
# for two. refresh also fails its correctness gate on the current
# program (README.md); curate and refresh stay runnable.
LISTED = ("build", "serve")

# name -> (unit, better, bound)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "op_p50_ms": ("ms", "lower", 0.24),
}

# per-layer metric -> (unit, the end-to-end metric it should move,
# the workloads on which it should move it)
PER_LAYER = {
    "plans.dag.busy_s": ("s", "op_p50_ms", ("build", "refresh")),
    "plans.dag.critical_path_s": ("s", "op_p50_ms", ("build", "refresh")),
    "plans.dag.overlap": ("ratio", "op_p50_ms", ("build", "refresh")),
    "plans.dag.models_ok": ("count", "op_p50_ms", ("build", "refresh")),
    "plans.state.reused": ("count", "op_p50_ms", ("refresh",)),
    "plans.state.fingerprint_s": ("s", "op_p50_ms", ("refresh",)),
    "plans.acid.commits": ("count", "op_p50_ms", ("build", "refresh", "curate")),
    "plans.acid.commit_s": ("s", "op_p50_ms", ("build", "refresh", "curate")),
    "plans.acid.vacuum_s": ("s", "op_p50_ms", ("build", "refresh")),
    "plans.acid.bytes_written": ("bytes", "op_p50_ms", ("build", "refresh", "curate")),
    "plans.acid.write_amp": ("ratio", "op_p50_ms", ("build", "refresh", "curate")),
    "models.plan_s": ("s", "op_p50_ms", ("build", "refresh")),
    "models.base.cache_hit_ratio": ("ratio", "op_p50_ms", ("build", "refresh")),
    "sources.scans": ("count", "op_p50_ms", ("build", "refresh", "curate")),
    "testing.tests_run": ("count", "op_p50_ms", ("build", "refresh")),
    "testing.tests_failed": ("count", "op_p50_ms", ("build", "refresh")),
    "semantic.compile_ms": ("ms", "op_p50_ms", ("serve",)),
    "semantic.exec_ms": ("ms", "op_p50_ms", ("serve",)),
    "llm.dedup_exact_s": ("s", "op_p50_ms", ("curate",)),
    "llm.dedup_minhash_pairs_s": ("s", "op_p50_ms", ("curate",)),
    "llm.dedup_simhash_s": ("s", "op_p50_ms", ("curate",)),
    "llm.dedup_embedding_lsh_s": ("s", "op_p50_ms", ("curate",)),
    "llm.text_quality_s": ("s", "op_p50_ms", ("curate",)),
    "llm.sim_topk_cosine_s": ("s", "op_p50_ms", ("curate",)),
    "llm.sim_ivf_topk_s": ("s", "op_p50_ms", ("curate",)),
    "llm.incremental_update_s": ("s", "op_p50_ms", ("curate",)),
    "llm.dup_pairs": ("count", "op_p50_ms", ("curate",)),
    "session.jobs": ("count", "op_p50_ms", ("build", "refresh", "serve", "curate")),
    "session.stages": ("count", "op_p50_ms", ("build", "refresh", "serve", "curate")),
    "session.tasks": ("count", "op_p50_ms", ("build", "refresh", "serve", "curate")),
    "session.failed_tasks": ("count", "op_p50_ms", ("build", "refresh", "serve", "curate")),
    "peak_rss_mb": ("MB", "op_p50_ms", ("build", "refresh", "serve", "curate")),
    "trace.op_p50_ms": ("ms", "op_p50_ms", ("build", "refresh", "serve", "curate")),
    "trace.bookkeeping_ms": ("ms", "op_p50_ms", ("build", "refresh", "serve", "curate")),
}


def per_layer(workload: str | None = None) -> dict:
    """The per-layer metrics of the listed workloads, which a traced run
    of any workload prints and BENCHMARK.json lists, and those of
    ``workload``."""
    on = {*LISTED, workload}
    return {k: v for k, v in PER_LAYER.items() if on & set(v[2])}
