"""Averaging-engine tests: oracle differential + invariance properties.

Mirrors the reference's test strategy (SURVEY §5) and adds what it lacks:
golden-output differential tests against DuckDB, partition-count
invariance (the analogue of the reference's chunk-count invariance,
reference: xova/tests/test_averaging.py:29), and fault injection for the
check operators.
"""

from __future__ import annotations

import duckdb
import pytest

from pyspark.sql import functions as F

from xova_spark.operators import timechannel as tc
from xova_spark.operators.check import check_ms, check_spw
from xova_spark.queries import msdomain
from xova_spark.testing import assert_frames_match, assert_same_bag


@pytest.fixture(scope="module")
def ducon():
    return duckdb.connect()


@pytest.mark.parametrize("name", sorted(msdomain.REGISTRY))
def test_msdomain_oracle(spark, ducon, name):
    fn, sql = msdomain.REGISTRY[name]
    sdf = fn(spark, "").toPandas()
    odf = ducon.execute(sql).df()
    assert_frames_match(sdf, odf)


def test_repartition_invariance(spark, ms):
    """Result must not depend on the physical partitioning of the input
    (the reference's chunk-count invariance, test_averaging.py:29)."""
    base = tc.average_rows(ms["ms_rows"], 4.0).toPandas()
    shuffled = tc.average_rows(
        ms["ms_rows"].repartition(13, "ANTENNA2"), 4.0
    ).toPandas()
    assert_frames_match(base, shuffled, rtol=0, atol=0)


def test_fully_flagged_fallback(spark, ms):
    """Bins whose every row is flagged must fall back to all-row
    aggregates (A1a): EXPOSURE equals the plain sum, never null."""
    out = tc.average_rows(ms["ms_rows"], 4.0)
    flagged_bins = out.filter(F.col("FLAG_ROW")).toPandas()
    assert len(flagged_bins) > 0, "fixture should produce fully-flagged bins"
    assert flagged_bins["EXPOSURE"].notna().all()
    assert (flagged_bins["n_unflagged"] == 0).all()


def test_row_conservation(spark, ms):
    """Every input row lands in exactly one output bin."""
    out = tc.average_rows(ms["ms_rows"], 4.0).toPandas()
    assert out["n_rows"].sum() == ms["ms_rows"].count()


def test_vis_sample_conservation(spark, ms):
    out = tc.average_vis(ms["ms_vis"], tc.bin_map(ms["ms_rows"], 4.0), 16)
    n = out.agg(F.sum("n_samples")).collect()[0][0]
    assert n == ms["ms_vis"].count()


def test_check_ms_clean_and_injected(spark, ms):
    assert check_ms(ms).count() == 0
    # Injected violation: drop one channel's samples from one row.
    victim = ms["ms_rows"].select(F.min("row_id")).collect()[0][0]
    broken = dict(ms)
    broken["ms_vis"] = ms["ms_vis"].filter(
        ~((F.col("row_id") == victim) & (F.col("chan") == 3))
    )
    bad = check_ms(broken).toPandas()
    assert len(bad) == 1 and bad["row_id"].iloc[0] == victim


def test_check_spw_clean_and_injected(spark, ms):
    assert check_spw(ms).count() == 0
    broken = dict(ms)
    broken["spw_chans"] = ms["spw_chans"].withColumn(
        "CHAN_FREQ",
        F.when(F.col("chan") == 5, -F.col("CHAN_FREQ")).otherwise(
            F.col("CHAN_FREQ")
        ),
    )
    assert check_spw(broken).count() > 0


def test_field_selection_is_subset(spark, ms):
    full = tc.average_rows(ms["ms_rows"], 4.0).toPandas()
    sel = tc.average_rows(ms["ms_rows"], 4.0, fields=[0]).toPandas()
    assert set(sel["FIELD_ID"]) == {0}
    assert len(sel) == len(full[full["FIELD_ID"] == 0])


def test_spw_averaging_bandwidth_conserved(spark, ms):
    """Summed CHAN_WIDTH must be conserved by channel binning (A3)."""
    out_chans, out_meta = tc.average_spw(ms["spw_chans"], ms["spw_meta"], 16)
    orig = (
        ms["spw_chans"]
        .groupBy("SPECTRAL_WINDOW_ID")
        .agg(F.sum("CHAN_WIDTH").alias("bw"))
        .toPandas()
        .set_index("SPECTRAL_WINDOW_ID")["bw"]
    )
    new = out_meta.toPandas().set_index("SPECTRAL_WINDOW_ID")["TOTAL_BANDWIDTH"]
    for spw in orig.index:
        assert abs(orig[spw] - new[spw]) < 1e-6


def test_timechannel_pipeline_equals_lazy_composition(spark, ms):
    """timechannel() builds its main tables from one materialized cut
    of the binned row table; each table must equal the all-lazy
    composition of the component functions it replaces."""
    out = tc.timechannel(ms, time_bin_secs=4.0, chan_bin_size=8)
    bins = tc.bin_map(ms["ms_rows"], 4.0)
    out_chans, out_meta = tc.average_spw(ms["spw_chans"], ms["spw_meta"], 8)
    want = {
        "ms_rows": tc.average_rows(ms["ms_rows"], 4.0, with_row_id=True),
        "ms_weights": tc.average_weights(ms["ms_weights"], bins, keep_rep=True)
        .withColumnRenamed("rep", "row_id"),
        "ms_vis": tc.average_vis(ms["ms_vis"], bins, 8, keep_rep=True)
        .withColumnRenamed("rep", "row_id")
        .withColumnRenamed("chan_bin", "chan"),
        "spw_chans": out_chans,
        "spw_meta": out_meta,
    }
    for name, df in want.items():
        assert_same_bag(out[name], df, name)
