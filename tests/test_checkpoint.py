"""StageRunner crash safety: fault injection between the steps of a stage
write, then resume from the checkpoint directory."""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from easylink_spark.sources.checkpoint import StageRunner


def test_manifest_rewrite_is_atomic(spark, tmp_ckpt, monkeypatch):
    """A crash while a manifest is rewritten leaves the old manifest
    intact (never truncated JSON), and a rerun resumes from it."""
    src = tmp_ckpt + "/src"
    spark.range(20).write.parquet(src)
    ckpt = tmp_ckpt + "/ck"
    ran = []

    def fn():
        ran.append(1)
        return spark.read.parquet(src).selectExpr("id * 2 AS x")

    runner = StageRunner(spark, ckpt, config={"v": 1}, async_write=False)
    runner.source("src", src)
    runner.stage("s", fn, inputs=["src"])
    runner.flush()
    mpath = Path(ckpt) / "src._manifest.json"
    old = mpath.read_text()

    # a config change rewrites the source manifest; crash before the rename
    def crash(*a, **k):
        raise OSError("killed before rename")

    with monkeypatch.context() as m:
        m.setattr("os.replace", crash)
        with pytest.raises(OSError, match="killed before rename"):
            StageRunner(spark, ckpt, config={"v": 2}, async_write=False) \
                .source("src", src)
    assert mpath.read_text() == old
    assert json.loads(old)["stage"] == "src"

    rerun = StageRunner(spark, ckpt, config={"v": 1}, async_write=False)
    rerun.source("src", src)
    out = rerun.stage("s", fn, inputs=["src"])
    assert ran == [1], "the rerun must resume, not recompute"
    assert sorted(r.x for r in out.collect()) == [2 * i for i in range(20)]


@pytest.mark.parametrize("async_write", [False, True])
def test_no_stale_manifest_over_new_data(spark, tmp_ckpt, monkeypatch, async_write):
    """A recompute that dies between the table write and the new manifest
    must not leave the OLD manifest pointing at the NEW table: a rerun
    whose lineage matches the old manifest would return the wrong rows."""
    monkeypatch.setenv("EASYLINK_VALIDATE", "0")
    ckpt = tmp_ckpt + "/ck"
    calls = []

    def fn1():
        calls.append("fn1")
        return spark.range(10).selectExpr("id AS x")

    def fn2():
        calls.append("fn2")
        return spark.range(100, 103).selectExpr("id AS x")

    runner = StageRunner(spark, ckpt, async_write=async_write)
    runner.stage("s", fn1)
    runner.flush()

    def crash(*a, **k):
        raise OSError("killed before manifest")

    monkeypatch.setattr(runner, "_emit_manifest", crash)
    with pytest.raises((OSError, RuntimeError)):
        runner.stage("s", fn2, force=True)
        runner.flush()
    for df in runner._cached.values():  # the failed flush kept them
        df.unpersist()

    fresh = StageRunner(spark, ckpt, async_write=async_write)
    out = fresh.stage("s", fn1)
    assert calls == ["fn1", "fn2", "fn1"]
    assert sorted(r.x for r in out.collect()) == list(range(10))
    fresh.flush()
