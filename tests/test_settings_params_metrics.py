"""Settings / query params / user metrics (reference lib/settings.py,
query/params.py, query/metrics.py)."""

from __future__ import annotations

import json
import os

import pytest

from datachain_spark import chain as dc
from datachain_spark.chain import Settings, SettingsError


def test_param_reads_env_json(monkeypatch):
    from datachain_spark import params

    monkeypatch.setenv(params.PARAMS_ENV, '{"a": "1", "b": "two"}')
    params._reset_params_cache()
    assert params.param("a") == "1"
    assert params.param("b") == "two"
    assert params.param("missing", "dflt") == "dflt"
    with pytest.raises(TypeError):
        params.param(7)

    monkeypatch.setenv(params.PARAMS_ENV, "not json")
    params._reset_params_cache()
    with pytest.raises(ValueError):
        params.param("a")
    monkeypatch.setenv(params.PARAMS_ENV, '["a list"]')
    params._reset_params_cache()
    with pytest.raises(ValueError):
        params.param("a")
    params._reset_params_cache()


def test_metrics_set_get_and_job_persistence(monkeypatch, tmp_path):
    from datachain_spark import metrics

    metrics.metrics.clear()
    metrics.set("rows", 42)
    metrics.set("ok", True)
    assert metrics.get("rows") == 42
    with pytest.raises(KeyError):
        metrics.get("unset")
    with pytest.raises(TypeError):
        metrics.set(1, "x")
    with pytest.raises(ValueError):
        metrics.set("", "x")
    with pytest.raises(TypeError):
        metrics.set("bad", [1, 2])

    # job-scoped persistence: set() under a job id writes the dict
    monkeypatch.setattr(dc, "DEFAULT_CATALOG", str(tmp_path))
    monkeypatch.setenv(metrics.JOB_ID_ENV, "job-77")
    metrics.set("loss", 0.5)
    persisted = json.load(open(tmp_path / "jobs" / "job-77.json"))
    assert persisted["loss"] == 0.5 and persisted["rows"] == 42
    metrics.metrics.clear()


def test_settings_validation_errors():
    # the reference's dispatcher knobs are not settings here
    for knob in ("cache", "prefetch", "workers", "min_task_size"):
        with pytest.raises(SettingsError, match="unknown setting"):
            Settings().merged(**{knob: 1})
    with pytest.raises(SettingsError):
        Settings(parallel="8")
    with pytest.raises(SettingsError):
        Settings(parallel=True)  # bools are not worker counts
    with pytest.raises(SettingsError):
        Settings(namespace=7)
    with pytest.raises(SettingsError):
        Settings().merged(nonsense=1)
    s = Settings(parallel=8).merged(namespace="dev")
    assert s.parallel == 8 and s.namespace == "dev"


def test_settings_parallel_sizes_udf_stage(spark):
    """parallel=N really repartitions the UDF input: the mapped output has
    N partitions (the reference's worker-count analog)."""
    ch = dc.read_values(spark, x=list(range(100)))
    out = ch.settings(parallel=5).map(lambda x: x + 1, output={"y": int})
    assert out.df.rdd.getNumPartitions() == 5
    # settings survive further chaining
    out2 = ch.settings(parallel=3).filter(dc.C("x") > 10).map(lambda x: x * 2, output={"y": int})
    assert out2.df.rdd.getNumPartitions() == 3


def test_settings_namespace_project_qualify_save(spark, tmp_path):
    """settings(namespace=, project=) route bare save()/read_dataset names
    into the project (reference Settings.namespace/project)."""
    root = str(tmp_path / "catalog")
    ch = dc.read_values(spark, id=[1, 2])
    ch.catalog_root = root
    ch.settings(namespace="dev", project="etl").save("myds")
    assert dc.datasets(root) == ["dev.etl.myds"]
    got = dc.read_dataset(spark, "myds", catalog_root=root, namespace="dev", project="etl")
    assert sorted(got.to_values("id")) == [1, 2]
    # qualified names are left alone even with settings on
    ch.settings(namespace="dev", project="etl").save("prod.ml.other")
    assert "prod.ml.other" in dc.datasets(root)
