"""Independent Spark actions submitted together (session.run_concurrently):
the helper itself, and its call sites in write_ms and load_ms — same
outputs, same tables and views, same job attribution as one action
after another, and no thread left behind on failure."""

from __future__ import annotations

import os
import threading
import time

import pytest
from pyspark.sql import functions as F

from xova_spark import session as S
from xova_spark.sources import ms_writer as W
from xova_spark.sources.ms_fixture import load_ms
from xova_spark.testing import assert_same_bag


def _serial(spark, thunks):
    return [t() for t in thunks]


def _run_serially(monkeypatch):
    """Swap the helper for the one-after-another loop it replaces, at
    both call sites (ms_writer binds it at import, load_ms at call)."""
    monkeypatch.setattr(S, "run_concurrently", _serial)
    monkeypatch.setattr(W, "run_concurrently", _serial)


def _frames(tables: dict) -> dict:
    return {n: df for n, df in tables.items() if not n.startswith("_")}


def test_run_concurrently_orders_results_and_waits_before_raising(spark):
    """Results come back in input order; a failing thunk's error is
    raised only once every other thunk has finished, and no thread
    outlives the call."""
    before = threading.active_count()
    done = []

    def slow(v):
        time.sleep(0.2)
        done.append(v)
        return v

    assert S.run_concurrently(
        spark, [lambda: slow(1), lambda: 2, lambda: slow(3)]
    ) == [1, 2, 3]

    def boom():
        raise ValueError("boom")

    done.clear()
    with pytest.raises(ValueError, match="boom"):
        S.run_concurrently(spark, [boom, lambda: slow("a"), lambda: slow("b")])
    assert sorted(done) == ["a", "b"]
    assert threading.active_count() == before
    assert S.run_concurrently(spark, []) == []


def test_run_concurrently_without_pinned_threads(spark, monkeypatch):
    """With PYSPARK_PIN_THREAD=false, inheritable_thread_target(session)
    returns the session itself; the helper then runs the bare thunks."""
    monkeypatch.setattr(S, "inheritable_thread_target", lambda session: session)
    assert S.run_concurrently(spark, [lambda: 1, lambda: 2]) == [1, 2]


def test_write_ms_jobs_keep_the_callers_job_group(spark, ms, tmp_path):
    """Every job the concurrent writes submit carries the caller's job
    group — what span tracing and stage metrics select jobs by."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    jobs = store.jobsList(None)
    first = jobs.head().jobId() if jobs.nonEmpty() else -1
    sc.setJobGroup("write-ms-group", "concurrent writes")
    try:
        W.write_ms(_frames(ms), os.path.join(str(tmp_path), "g.ms"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    bus.waitUntilEmpty()
    it = store.jobsList(None).iterator()
    groups = []
    while it.hasNext():
        job = it.next()
        if job.jobId() > first:
            g = job.jobGroup()
            groups.append(g.get() if g.isDefined() else None)
    assert len(groups) >= len(_frames(ms)), groups
    assert set(groups) == {"write-ms-group"}, groups


def test_write_ms_failure_waits_for_every_table(spark, ms, tmp_path):
    """A table whose plan raises fails write_ms with that error — after
    the other tables' writes have finished, with no manifest written
    and no thread left running."""
    path = os.path.join(str(tmp_path), "bad.ms")
    tables = {
        "broken": spark.range(4).select(
            F.raise_error(F.lit("broken-table")).alias("x")
        ),
        **_frames(ms),
    }
    before = threading.active_count()
    with pytest.raises(Exception, match="broken-table"):
        W.write_ms(tables, path)
    assert threading.active_count() == before
    assert not os.path.exists(os.path.join(path, "_schemas.json"))
    for name in _frames(ms):
        assert os.path.exists(os.path.join(path, name, "_SUCCESS")), name


def test_write_ms_concurrent_equals_serial(spark, ms, tmp_path, monkeypatch):
    """Every table written concurrently equals the one written serially,
    the manifest included."""
    from xova_spark.operators.timechannel import timechannel

    out = timechannel(ms, time_bin_secs=4.0, chan_bin_size=8)
    conc = os.path.join(str(tmp_path), "conc.ms")
    spans = W.write_ms_spans(out, conc)
    assert set(spans) == set(_frames(out))
    assert all(0 <= s <= e for s, e in spans.values())
    _run_serially(monkeypatch)
    ser = os.path.join(str(tmp_path), "ser.ms")
    W.write_ms(out, ser)
    assert W.load_manifest_schemas(conc) == W.load_manifest_schemas(ser)
    got, want = W.read_ms(spark, conc), W.read_ms(spark, ser)
    assert set(got) == set(want) == set(_frames(out))
    for name in want:
        assert_same_bag(got[name], want[name], name)


@pytest.mark.parametrize("layout", ["fixture", "write_ms"])
def test_load_ms_concurrent_matches_serial(
    spark, ms, ms_dir, tmp_path, monkeypatch, layout
):
    """load_ms opens the same tables with the same schemas and registers
    the same temp views as a serial open, on both layouts."""
    if layout == "write_ms":
        path = os.path.join(str(tmp_path), "layout.ms")
        W.write_ms({**_frames(ms), "_keywords": {"field": {"k": 1}}}, path)
    else:
        path = ms_dir

    def opened():
        t = load_ms(spark, path)
        frames = _frames(t)
        views = {n: spark.table(n).schema for n in frames}
        return (
            {n: df.schema for n, df in frames.items()},
            views,
            t.get("_keywords"),
        )

    conc = opened()
    _run_serially(monkeypatch)
    ser = opened()
    assert conc == ser
    assert set(conc[0]) >= {"ms_rows", "ms_vis", "field", "spw_meta"}
    assert conc[1] == conc[0]
