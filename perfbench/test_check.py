"""The benchmark's correctness check is not vacuous.

A written MS that the oracle matches passes; one altered ``vis_re``, one
dropped visibility row or one dropped main-table row fails, and an iteration
whose output fails counts in ``failed`` (the error rate's numerator).

    python3 -m pytest perfbench/test_check.py -q
"""

from __future__ import annotations

import glob
import multiprocessing
import os
import sys
from concurrent.futures import ProcessPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import oracle  # noqa: E402
import run  # noqa: E402


@pytest.fixture(scope="module", params=sorted(run.WORKLOADS))
def bench(request, tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench"))
    ms = os.path.join(work, "ms")
    spark = run.start_session(work)
    try:
        with ProcessPoolExecutor(
            1, mp_context=multiprocessing.get_context("spawn")
        ) as pool:
            b = run.Bench(request.param, ms, os.path.join(work, "oracle"), work,
                          pool, spark)
            b.input = oracle.make_ms(ms, seed=7, na=8, ntime=6)
            yield b
    finally:
        run.stop_session(spark)


def _rewrite_first_part(table_dir: str, edit) -> None:
    """Apply ``edit`` to the first non-empty parquet part under table_dir."""
    for path in sorted(glob.glob(os.path.join(table_dir, "**", "*.parquet"),
                                 recursive=True)):
        t = pq.read_table(path, partitioning=None)
        if t.num_rows:
            pq.write_table(edit(t), path)
            return
    raise AssertionError(f"no rows under {table_dir}")


def _alter_vis_re(t: pa.Table) -> pa.Table:
    i = t.schema.get_field_index("vis_re")
    vals = t.column(i).to_pylist()
    vals[0] += 1.0 / 1024
    return t.set_column(i, "vis_re", pa.array(vals, pa.float64()))


def _drop_last(t: pa.Table) -> pa.Table:
    return t.slice(0, t.num_rows - 1)


def _written(bench, name: str) -> str:
    out = os.path.join(bench.work, name)
    bench.lifecycle(out)
    return out


def test_oracle_matches_clean_output(bench):
    assert bench.verify(_written(bench, "clean"))


@pytest.mark.parametrize("table,edit", [
    ("ms_vis", _alter_vis_re),
    ("ms_vis", _drop_last),
    ("ms_rows", _drop_last),
], ids=["altered_vis_re", "dropped_vis_row", "dropped_main_row"])
def test_corrupted_output_fails(bench, table, edit):
    out = _written(bench, f"bad-{table}-{edit.__name__}")
    _rewrite_first_part(os.path.join(out, table), edit)
    assert not bench.verify(out)


def test_failed_iteration_counts(bench, monkeypatch):
    lifecycle = bench.lifecycle

    def corrupting(out):
        lifecycle(out)
        _rewrite_first_part(os.path.join(out, "ms_vis"), _alter_vis_re)
        return {}

    attempted, failed = bench.attempted, bench.failed
    assert bench.iterate()["ok"]
    monkeypatch.setattr(bench, "lifecycle", corrupting)
    res = bench.iterate()
    assert not res["ok"]
    assert (bench.attempted, bench.failed) == (attempted + 2, failed + 1)
