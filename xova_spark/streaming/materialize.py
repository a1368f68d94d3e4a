"""Incrementally-materialized rollup — the continuous-aggregate pattern.

``foreachBatch`` gives a streaming query an arbitrary batch-DataFrame
sink; here each micro-batch's partial aggregates MERGE into a
parquet-backed rollup table (read-merge-overwrite). This is the
hypertable continuous-aggregate / materialized-view-maintenance shape:
the stored table always holds the rollup of everything consumed so far,
and merging partials is valid because the aggregates carried are
decomposable (count/sum pairs; averages derive at read time).

Every store here (and the streaming registry entries' own stores) goes
through one merge, ``merge_batch``: read ``current``, union the batch's
partials, re-aggregate, write ``_staged``, then swap it in (``current``
-> ``_old``, ``_staged`` -> ``current``, drop ``_old``). Replay rule:
foreachBatch is at-least-once — after a restart Spark re-runs a batch
that was swapped in but never committed to the checkpoint, with the
same ``batch_id``. The id of the last merged batch is stored inside the
staged directory, so it swaps together with the data, and a batch whose
id is not newer is skipped. A crash between the two renames leaves
``_old`` without ``current``; the next merge restores ``_old`` rather
than starting from empty. A store written under one checkpoint only
merges batches of that checkpoint's query: a fresh checkpoint restarts
the ids at 0.

At real scale the overwrite becomes a transactional MERGE into a table
format with commit semantics (Delta/Iceberg); the plan shape — batch
partial agg, key-join merge, atomic swap — is identical.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xova_spark.operators import timechannel as tc

_BATCH_ID_FILE = "_batch_id"  # leading "_": the parquet reader skips it


def _last_batch_id(cur: str) -> int:
    try:
        with open(os.path.join(cur, _BATCH_ID_FILE)) as fh:
            return int(fh.read())
    except FileNotFoundError:
        return -1


def merge_batch(
    batch_id: int, out_dir: str, partial: DataFrame, keys: list[str], merge_aggs
) -> None:
    """Merge one micro-batch's ``partial`` into ``<out_dir>/current``:
    re-aggregate the union on ``keys`` with ``merge_aggs``, stage, swap
    (the replay rule in the module docstring)."""
    cur, tmp, old = (os.path.join(out_dir, d) for d in ("current", "_staged", "_old"))
    if os.path.exists(old):
        if os.path.exists(cur):
            shutil.rmtree(old)
        else:
            os.rename(old, cur)
    merged = partial
    if os.path.exists(cur):
        if batch_id <= _last_batch_id(cur):
            return
        merged = (
            partial.sparkSession.read.parquet(cur)
            .unionByName(partial)
            .groupBy(*keys)
            .agg(*merge_aggs)
        )
    # stage-then-swap: the reader never sees a half-written rollup
    merged.write.mode("overwrite").parquet(tmp)
    with open(os.path.join(tmp, _BATCH_ID_FILE), "w") as fh:
        fh.write(str(batch_id))
    if os.path.exists(cur):
        os.rename(cur, old)
    os.rename(tmp, cur)
    if os.path.exists(old):
        shutil.rmtree(old)


def _start(stream_df: DataFrame, checkpoint: str, on_batch):
    """Start ``on_batch(batch_df, batch_id)`` as an availableNow
    foreachBatch query; returns the handle."""
    return (
        stream_df.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _merge_into(batch_df: DataFrame, batch_id: int, out_dir: str, keys: list[str]):
    partial = batch_df.groupBy(*keys).agg(
        F.count("*").alias("n"), F.sum("value").alias("total")
    )
    merge_batch(batch_id, out_dir, partial, keys,
                [F.sum("n").alias("n"), F.sum("total").alias("total")])


def materialized_rollup(
    stream_df: DataFrame, out_dir: str, keys: list[str], checkpoint: str
):
    """Start the maintenance query (availableNow); returns the handle."""
    return _start(
        stream_df, checkpoint, lambda df, bid: _merge_into(df, bid, out_dir, keys)
    )


def read_rollup(spark, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, "current"))


# ---------------------------------------------------------------------------
# Streaming MS maintenance: the averaging pipeline as a continuously
# materialized output MS. Each micro-batch of visibility samples merges
# the A1a visibility partials (timechannel.vis_partials, keyed on
# (rep, chan_bin, corr) for both pipelines: the bin map's chan_fac gives
# BDA its ragged channel bins) into the stored table; the averaged
# columns — weighted means with the fully-flagged fallback — derive at
# read time from the merged partials. This is the reference's write path
# (app.py:107-116) turned into incremental maintenance the batch engine
# cannot express.


def _merge_vis_into(batch_df: DataFrame, batch_id: int, out_dir: str,
                    bins: DataFrame, chan_bin_size: int):
    partials = tc.vis_partials()
    partial = (
        tc.bin_samples(batch_df, bins, chan_bin_size, False)
        .groupBy(*tc.VIS_KEYS)
        .agg(*[c.alias(k) for k, c in partials.items()])
    )
    merge_aggs = [
        (F.bool_and(k) if k == "flag_all" else F.sum(k)).alias(k) for k in partials
    ]
    merge_batch(batch_id, out_dir, partial, tc.VIS_KEYS, merge_aggs)


def materialized_ms_vis(
    vis_stream: DataFrame,
    bins: DataFrame,
    out_dir: str,
    checkpoint: str,
    chan_bin_size: int = 16,
):
    """Start the MS-maintenance query (availableNow): every arriving
    visibility file merges into the partial store. ``bins`` is either
    pipeline's bin map (``chan_bin_size`` is unused when it carries
    BDA's chan_fac)."""
    return _start(
        vis_stream,
        checkpoint,
        lambda df, bid: _merge_vis_into(df, bid, out_dir, bins, chan_bin_size),
    )


def finalize_vis(spark, out_dir: str, bins: DataFrame) -> DataFrame:
    """Project the A1a averaged columns from the stored partials and
    re-attach the wide bin keys: the table
    ``timechannel.average_vis(..., keep_rep=True)`` returns for the same
    samples and bin map."""
    p = spark.read.parquet(os.path.join(out_dir, "current"))
    cols = tc.vis_columns({k: F.col(k) for k in tc.vis_partials()})
    return tc._reattach(
        p.select(*tc.VIS_KEYS, *cols.values()),
        bins,
        ["chan_bin", "corr", *tc.VIS_COLS],
        keep_rep=True,
    )


# ---------------------------------------------------------------------------
# Streaming CDC upsert: a changelog stream continuously materialized as
# its latest-state table (the streaming twin of queries/cdcq.py's
# cdc_changelog_compact). Each micro-batch compacts to one row per key
# (max_by over the (ts, id) event-time struct), then merges into the
# stored state with NEWER-WINS on the same ordering and ADDITIVE
# version counts — both operations are associative/commutative across
# batches, which is what makes the converged state equal the batch
# compaction regardless of how the changelog was chunked.

_CDC_KEYS = ["user_id", "event_type"]


def _cdc_merge_into(batch_df: DataFrame, batch_id: int, out_dir: str):
    ordk = F.struct(F.col("ts"), F.col("event_id"))
    partial = batch_df.groupBy(*_CDC_KEYS).agg(
        F.max_by("event_id", ordk).alias("last_event_id"),
        F.max_by("value", ordk).alias("last_value"),
        F.max_by(F.unix_micros("ts"), ordk).alias("last_ts_us"),
        F.count("*").alias("n_versions"),
    )
    ordk = F.struct(F.col("last_ts_us"), F.col("last_event_id"))
    merge_batch(batch_id, out_dir, partial, _CDC_KEYS, [
        F.max_by("last_event_id", ordk).alias("last_event_id"),
        F.max_by("last_value", ordk).alias("last_value"),
        F.max("last_ts_us").alias("last_ts_us"),
        F.sum("n_versions").alias("n_versions"),
    ])


def materialized_cdc_state(stream_df: DataFrame, out_dir: str, checkpoint: str):
    """Start the CDC latest-state maintenance query (availableNow)."""
    return _start(
        stream_df, checkpoint, lambda df, bid: _cdc_merge_into(df, bid, out_dir)
    )
