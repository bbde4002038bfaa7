"""run_pipeline when a model raises while exports are queued."""

import os

import pytest

from dbt_jaffleshop_spark.plans import dag, exports


def test_model_exception_cancels_queued_exports(spark, sf_dir, tmp_path, monkeypatch):
    """An export queued behind a model that raises must not run: the
    failed run writes no export table. One worker makes the order
    deterministic: stg_customers lands first and queues its probe
    export behind the remaining staging models, then stg_orders raises."""
    probe = exports.ExportSpec(
        "probe_metrics", "sq_order_metrics_daily", "stg_customers", "test"
    )
    monkeypatch.setattr(exports, "EXPORTS", {probe.name: probe})

    def boom(spark, sf_dir):
        import time

        time.sleep(1.0)  # the main thread queues the probe export meanwhile
        raise RuntimeError("boom")

    monkeypatch.setattr(dag.MODELS["stg_orders"], "builder", boom)
    wh = str(tmp_path / "wh")
    with pytest.raises(RuntimeError, match="boom"):
        dag.run_pipeline(spark, sf_dir, warehouse_dir=wh, threads=1)
    assert not os.path.exists(os.path.join(wh, probe.name))
