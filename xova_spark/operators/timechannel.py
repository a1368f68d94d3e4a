"""Fixed time-and-channel averaging — the reference's primary pipeline,
and the one home of the A1a averaging contract both pipelines share.

Re-expresses ``xova timechannel`` (reference: xova/apps/xova/averaging.py
:184-267, kernel call :251-255; CLI defaults arguments.py:127-132) as pure
DataFrame aggregation over the long layout: every africanus kernel column
becomes a built-in SQL aggregate in ONE ``groupBy().agg()`` per table —
no UDFs anywhere in the hot path.

Binning semantics ("same math" per SURVEY §7 hard-parts decision, not
bit-identical greedy bins): within each (FIELD_ID, DATA_DESC_ID,
SCAN_NUMBER) partition and per baseline (ANTENNA1, ANTENNA2),
``time_bin = floor((TIME - min(TIME) over partition+baseline) / time_bin_secs)``
and ``chan_bin = floor(chan / chan_bin_size)``.

Per-column averaging semantics (reference A1a, mirroring the
codex-africanus time_and_channel contract the reference delegates to):
- TIME: mean over ALL rows in bin;  INTERVAL: sum over ALL rows.
- EXPOSURE: sum over unflagged rows; TIME_CENTROID: EXPOSURE-weighted
  mean over unflagged rows; UVW: mean over unflagged rows — each falling
  back to the all-rows aggregate when the bin is fully flagged.
- WEIGHT: sum over unflagged; SIGMA: sqrt(sum(w²σ²))/sum(w) (weighted RMS).
- visibilities: WEIGHT_SPECTRUM-weighted mean over unflagged samples,
  falling back to the flagged samples when the output bin is fully
  flagged; FLAG out = all inputs flagged (averaging.py:225 convention).

That contract is written once, here, and bda.py and streaming/ use it:
``row_aggs`` (the row columns), ``vis_partials`` (the eleven
decomposable sums of one (rep, chan_bin, corr) group) with
``vis_columns`` (the weighted-mean-with-fallback projection over them),
and one ``average_vis`` whose channel divisor is the bin map's
per-baseline ``chan_fac`` for BDA and the constant ``chan_bin_size``
here. A batch aggregate projects straight over the eleven aggregate
expressions; the stream stores them, merges them per micro-batch and
projects at drain (streaming/materialize.py).

Scale design: the row aggregation is one shuffle keyed on
(partition, baseline) — the min-TIME window and the subsequent groupBy
share that hash partitioning (HashPartitioning on a key subset satisfies
the grouped distribution, so Catalyst inserts no second exchange). The
vis aggregation joins the big samples table to the (row_id -> bin) map —
broadcast when small, AQE shuffle-join otherwise — then aggregates in a
single shuffle. Skewed baselines are handled by AQE skew-join splitting.

The full pipeline, ``timechannel()``, is two steps around the
visibility aggregate. ``plan_timechannel`` takes ONE cut: an eager
``localCheckpoint`` of the binned row table with ``rep`` attached
(row-scale, far below the visibility table); left lazy, every written
table would replay the row-side plan (FLAG_ROW derivation, the min-TIME
window, the rep window) from the scans. ``assemble_timechannel`` builds
the output tables from the cut and an averaged visibility table: ms_rows
aggregates the cut and the weights bin map is a plain select of it.
``xova-spark stream`` calls the same two steps and hands the assembly
its drained stream partials instead of ``average_vis``. A checkpoint,
not ``persist``: it is not matched by plan in the session's cache
manager, so nothing outlives the command. The component functions
(assign_time_bins, bin_map, average_rows, average_*) stay lazy for the
registry entries, whose oracles and plan audits check the composed
single plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

PART_KEYS = ["FIELD_ID", "DATA_DESC_ID", "SCAN_NUMBER"]  # app.py:43 GROUP_COLS
BL_KEYS = ["ANTENNA1", "ANTENNA2"]
BIN_KEYS = PART_KEYS + BL_KEYS + ["time_bin"]
BIN_MAP_COLS = ("row_id", "rep", *BIN_KEYS, "FLAG_ROW")
VIS_KEYS = ["rep", "chan_bin", "corr"]
VIS_COLS = ["vis_re", "vis_im", "flag", "weight_sp", "sigma_sp", "n_samples"]

# Size gate for broadcasting the row -> bin map: ~64 bytes/row serialized,
# so 4M rows ~ 256 MB build side — comfortably under executor memory on
# the design-point cluster, far above the bench fixtures.
DEFAULT_MAP_BROADCAST_ROWS = 4_000_000


def planned_broadcast(df: DataFrame, limit_rows: int | None = None):
    """Size-GATED broadcast hint for tables that scale with the input
    (row -> bin maps, per-output-bin dims).

    An unconditional hint is a 100 TB driver OOM; NO hint makes AQE
    stage the big-table side through a shuffle write before its runtime
    conversion can kick in (6x slower at bench scale). So do what the
    reference does: an eager planning pass (its dataset_chunks computes
    chunk stats up front, chunking.py:281-285) — here one cheap count()
    of the ROW-scale map (3 orders of magnitude smaller than the sample
    table) decides. Small -> hint broadcast (single-shuffle plan);
    large -> plain join, AQE picks the strategy at 100 TB."""
    if map_fits_broadcast(df, limit_rows):
        return F.broadcast(df)
    return df


# Catalyst's plan-statistics estimate is trustworthy in ONE direction
# only: scan-derived plans carry (compressed) file bytes, so a SMALL
# estimate really is small — but join nodes multiply child stats, so a
# huge estimate may be garbage (measured: 3e18 "bytes" for a 2 MB BDA bin
# map). The estimate therefore only ever CONFIRMS fits (zero planning
# jobs); refusal always goes through the exact count. 8 bytes/row keeps
# a 10x parquet-compression surprise under the broadcast design point.
_EST_CONFIRM_BYTES_PER_ROW = 8


def map_fits_broadcast(df: DataFrame, limit_rows: int | None = None) -> bool:
    """The planning decision behind planned_broadcast, reusable when one
    decision covers several derived joins (average_vis hints BOTH its
    row-map and bin-dim sides from a single count).

    Two stages, cheapest first: (1) Catalyst's free plan-statistics
    estimate may CONFIRM a small map with no job at all (scan-derived
    maps at bench scale); (2) otherwise one exact count() — the path a
    genuinely large input takes, and its False verdict is what keeps
    100 TB plans hint-free. The full pipelines hand in a bin map cut
    from one materialized row table, so their counts are short jobs."""
    if limit_rows is None:
        limit_rows = DEFAULT_MAP_BROADCAST_ROWS
    if limit_rows <= 0:
        return False
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        if est <= limit_rows * _EST_CONFIRM_BYTES_PER_ROW:
            return True
    except Exception:  # noqa: BLE001 — stats unavailable; fall through to count
        pass
    return df.count() <= limit_rows


def _fallback(unflagged_expr, all_expr):
    """Aggregate over unflagged rows, falling back to all rows when the
    bin is fully flagged (null unflagged aggregate)."""
    return F.coalesce(unflagged_expr, all_expr)


def _sums(name: str, unfl, x) -> dict:
    """``x`` summed over the unflagged set (``<name>_u``) and over all
    (``<name>_a``): the pair every A1a fallback picks from."""
    return {f"{name}_u": F.sum(F.when(unfl, x)), f"{name}_a": F.sum(x)}


def _weight_sums(unfl, w, s) -> dict:
    """sum(w) and sum(w²σ²) pairs: the decomposable half of the A1a
    WEIGHT / SIGMA (weighted RMS) columns, per row or per sample."""
    return {**_sums("sw", unfl, w), **_sums("sw2s2", unfl, w * w * s * s)}


def row_aggs() -> list:
    """The A1a row columns of one output bin (ref averaging.py:184-267):
    TIME mean and INTERVAL sum over all rows; EXPOSURE sum,
    EXPOSURE-weighted TIME_CENTROID and UVW means over the unflagged
    rows, each falling back to all rows when the bin is fully flagged;
    FLAG_ROW = every row flagged. Callers add their own counts and
    pass-through columns."""
    fr = F.col("FLAG_ROW")
    unfl = ~fr
    return [
        F.avg("TIME").alias("TIME"),
        F.sum("INTERVAL").alias("INTERVAL"),
        _fallback(
            F.sum(F.when(unfl, F.col("EXPOSURE"))), F.sum("EXPOSURE")
        ).alias("EXPOSURE"),
        _fallback(
            F.sum(F.when(unfl, F.col("EXPOSURE") * F.col("TIME_CENTROID")))
            / F.sum(F.when(unfl, F.col("EXPOSURE"))),
            F.sum(F.col("EXPOSURE") * F.col("TIME_CENTROID")) / F.sum("EXPOSURE"),
        ).alias("TIME_CENTROID"),
        *[
            _fallback(F.avg(F.when(unfl, F.col(c))), F.avg(F.col(c))).alias(c)
            for c in ("u", "v", "w")
        ],
        F.bool_and(fr).alias("FLAG_ROW"),
    ]


def vis_partials() -> dict:
    """The eleven decomposable partial sums of one visibility group
    (name -> aggregate over its samples): sample counts, the weight,
    weighted-visibility and w²σ² sums over the unflagged and over all
    samples, and the all-flagged AND. Every one merges across
    micro-batches by plain sum, or AND for ``flag_all``."""
    fl, w = F.col("flag"), F.col("weight_sp")
    unfl = ~fl
    return {
        "n": F.count("*"),
        "n_unfl": F.count(F.when(unfl, F.lit(1))),
        **_sums("swre", unfl, w * F.col("vis_re")),
        **_sums("swim", unfl, w * F.col("vis_im")),
        **_weight_sums(unfl, w, F.col("sigma_sp")),
        "flag_all": F.bool_and(fl),
    }


def vis_columns(p: dict) -> dict:
    """The A1a averaged visibility columns (name -> aliased column),
    projected from the partials ``p`` (name -> column: the aggregates
    of vis_partials in one groupBy, or the merged stored sums):
    weighted means over the unflagged samples, over all samples when
    the group is fully flagged; FLAG = every sample flagged."""
    has_u = p["n_unfl"] > 0

    def pick(name):
        return F.when(has_u, p[f"{name}_u"]).otherwise(p[f"{name}_a"])

    sw = pick("sw")
    cols = {
        "vis_re": pick("swre") / sw,
        "vis_im": pick("swim") / sw,
        "flag": p["flag_all"],
        "weight_sp": sw,
        "sigma_sp": F.sqrt(pick("sw2s2")) / sw,
        "n_samples": p["n"],
    }
    return {k: c.alias(k) for k, c in cols.items()}


def select_rows(rows: DataFrame, fields, scans) -> DataFrame:
    """FIELD_ID / SCAN_NUMBER selection (averaging.py:218-221); None or
    empty selects everything."""
    if fields:
        rows = rows.filter(F.col("FIELD_ID").isin(fields))
    if scans:
        rows = rows.filter(F.col("SCAN_NUMBER").isin(scans))
    return rows


def assign_time_bins(rows: DataFrame, time_bin_secs: float) -> DataFrame:
    """P1+W1: add the time_bin column (floor of time offset per
    partition+baseline; ref chunking.py:125-157 greedy analogue)."""
    w = Window.partitionBy(*PART_KEYS, *BL_KEYS)
    return rows.withColumn(
        "time_bin",
        F.floor((F.col("TIME") - F.min("TIME").over(w)) / F.lit(time_bin_secs)).cast(
            "int"
        ),
    )


def average_rows(
    rows: DataFrame,
    time_bin_secs: float = 2.0,
    fields: list[int] | None = None,
    scans: list[int] | None = None,
    with_row_id: bool = False,
) -> DataFrame:
    """A1 row-level averaging (ref averaging.py:184-267)."""
    return average_binned_rows(
        assign_time_bins(select_rows(rows, fields, scans), time_bin_secs),
        with_row_id=with_row_id,
    )


def average_binned_rows(binned: DataFrame, with_row_id: bool = False) -> DataFrame:
    """A1a aggregation over rows that already carry a time_bin column
    (from assign_time_bins, or chunking.assign_greedy_bins for the
    bit-exact greedy variant).

    ``with_row_id`` adds row_id = min(input row_id) per bin — the same
    ``rep`` surrogate bin_map uses — so the written output satisfies the
    load_ms row-identity contract and can be re-opened, re-checked, and
    re-averaged like any input MS (the reference's average-then-check
    workflow, check.py:22-76)."""
    extra = [F.min("row_id").alias("row_id")] if with_row_id else []
    return binned.groupBy(*BIN_KEYS).agg(
        *extra,
        *row_aggs(),
        F.count(F.when(~F.col("FLAG_ROW"), F.lit(1))).alias("n_unflagged"),
        F.count("*").alias("n_rows"),
        # Constant ID columns pass through (ref averaging.py:117-136).
        *[
            F.any_value(F.col(c)).alias(c)
            for c in ("ARRAY_ID", "OBSERVATION_ID", "PROCESSOR_ID", "STATE_ID")
        ],
    )


def bin_map(rows: DataFrame, time_bin_secs: float = 2.0) -> DataFrame:
    """row_id -> output-bin key + row flag (the join key for the weights
    and visibility aggregations).

    ``rep`` = min(row_id) within the bin is a single-column surrogate
    for the 6-column bin key: the sample-level aggregations group on it
    instead of the wide key (narrower hash keys + shuffle rows, ~3x at
    bench scale) and re-attach the wide key afterwards by broadcasting
    the tiny rep -> keys dim. The window runs on the row table only."""
    return with_rep(assign_time_bins(rows, time_bin_secs)).select(*BIN_MAP_COLS)


def with_rep(binned: DataFrame) -> DataFrame:
    """Attach ``rep`` = min(row_id) within each output bin to a binned
    row table (one window over the row table, keyed on BIN_KEYS)."""
    return binned.withColumn(
        "rep", F.min("row_id").over(Window.partitionBy(*BIN_KEYS))
    )


def _reattach(
    agg: DataFrame,
    bins: DataFrame,
    tail_cols: list[str],
    keep_rep: bool = False,
    hint: bool = False,
) -> DataFrame:
    # The rep -> keys dim has one row per OUTPUT bin, which scales with
    # the input — the broadcast hint is applied only when the caller's
    # planning count said the map side fits (planned_broadcast).
    dim = bins.select("rep", *BIN_KEYS).distinct()
    head = ["rep", *BIN_KEYS] if keep_rep else BIN_KEYS
    joined = agg.join(F.broadcast(dim) if hint else dim, "rep")
    return joined.select(*head, *tail_cols)


def average_weights(
    weights: DataFrame,
    bins: DataFrame,
    keep_rep: bool = False,
    map_broadcast_rows: int | None = None,
    fits: bool | None = None,
) -> DataFrame:
    """WEIGHT/SIGMA per (bin, corr): sum of weights over unflagged rows;
    SIGMA = sqrt(sum(w²σ²))/sum(w) — weighted RMS (A1a).

    The row -> bin map has one entry per MS row; its join strategy is
    size-gated by one planning count (planned_broadcast): hinted
    broadcast when small, AQE's choice at 100 TB. ``fits`` is that
    decision when the caller has already made it for ``bins`` (the full
    pipelines decide once for both sample tables); None decides here."""
    if fits is None:
        fits = map_fits_broadcast(bins, map_broadcast_rows)
    narrow = bins.select("row_id", "rep", "FLAG_ROW")
    j = weights.join(F.broadcast(narrow) if fits else narrow, "row_id")
    p = _weight_sums(~F.col("FLAG_ROW"), F.col("WEIGHT"), F.col("SIGMA"))
    sum_w = _fallback(p["sw_u"], p["sw_a"])
    agg = j.groupBy("rep", "corr").agg(
        sum_w.alias("WEIGHT"),
        (F.sqrt(_fallback(p["sw2s2_u"], p["sw2s2_a"])) / sum_w).alias("SIGMA"),
    )
    return _reattach(agg, bins, ["corr", "WEIGHT", "SIGMA"], keep_rep, fits)


def bin_samples(
    vis: DataFrame, bins: DataFrame, chan_bin_size: int, hint: bool
) -> DataFrame:
    """Join the samples to the row -> bin map's ``rep`` and add
    chan_bin = floor(chan / divisor): the map's per-baseline
    ``chan_fac`` when it carries one (BDA's ragged channels), else the
    constant ``chan_bin_size``. ``hint`` broadcasts the map side."""
    ragged = "chan_fac" in bins.columns
    narrow = bins.select("row_id", "rep", *(["chan_fac"] if ragged else []))
    div = F.col("chan_fac") if ragged else F.lit(chan_bin_size)
    return vis.join(F.broadcast(narrow) if hint else narrow, "row_id").withColumn(
        "chan_bin", F.floor(F.col("chan") / div).cast("int")
    )


def average_vis(
    vis: DataFrame, bins: DataFrame, chan_bin_size: int = 16,
    keep_rep: bool = False,
    map_broadcast_rows: int | None = None,
    fits: bool | None = None,
) -> DataFrame:
    """Visibility averaging per (bin, chan_bin, corr), for both
    pipelines: weighted complex mean over unflagged samples with
    fully-flagged fallback (A1/A1a). One shuffle of the big table,
    keyed on the compact (rep, chan_bin, corr) surrogate; the channel
    bins are BDA's ragged ones when ``bins`` carries chan_fac
    (bin_samples). The row -> bin map join is size-gated (see
    average_weights, also for ``fits``); one planning decision covers
    both the map and dim sides."""
    if fits is None:
        fits = map_fits_broadcast(bins, map_broadcast_rows)
    agg = (
        bin_samples(vis, bins, chan_bin_size, fits)
        .groupBy(*VIS_KEYS)
        .agg(*vis_columns(vis_partials()).values())
    )
    return _reattach(agg, bins, ["chan_bin", "corr", *VIS_COLS], keep_rep, fits)


def sample_tables(
    tables: dict, bins: DataFrame, vis: DataFrame, fits: bool | None = None
) -> dict:
    """ms_weights (when the input has one) and ms_vis under the output
    contract: row_id = the bin's rep, chan = the channel bin. ``vis`` is
    average_vis(..., keep_rep=True) or its stream-drained twin; ``fits``
    is the broadcast decision for ``bins`` (average_weights)."""
    out = {}
    if "ms_weights" in tables:
        out["ms_weights"] = average_weights(
            tables["ms_weights"], bins, keep_rep=True, fits=fits
        ).withColumnRenamed("rep", "row_id")
    out["ms_vis"] = vis.withColumnsRenamed({"rep": "row_id", "chan_bin": "chan"})
    return out


def average_spw(
    spw_chans: DataFrame, spw_meta: DataFrame, chan_bin_size: int = 16
) -> tuple[DataFrame, DataFrame]:
    """A3: SPW channel metadata averaging (ref averaging.py:357-406):
    CHAN_FREQ mean per bin; CHAN_WIDTH/EFFECTIVE_BW/RESOLUTION summed;
    NUM_CHAN = ceil(nchan / bin)."""
    out_chans = (
        spw_chans.withColumn(
            "chan_bin", F.floor(F.col("chan") / F.lit(chan_bin_size)).cast("int")
        )
        .groupBy("SPECTRAL_WINDOW_ID", "chan_bin")
        .agg(
            F.avg("CHAN_FREQ").alias("CHAN_FREQ"),
            F.sum("CHAN_WIDTH").alias("CHAN_WIDTH"),
            F.sum("EFFECTIVE_BW").alias("EFFECTIVE_BW"),
            F.sum("RESOLUTION").alias("RESOLUTION"),
        )
        .withColumnRenamed("chan_bin", "chan")
    )
    out_meta = (
        out_chans.groupBy("SPECTRAL_WINDOW_ID")
        .agg(
            F.count("*").cast("int").alias("NUM_CHAN"),
            F.sum("CHAN_WIDTH").alias("TOTAL_BANDWIDTH"),
        )
        .join(
            spw_meta.select("SPECTRAL_WINDOW_ID", "REF_FREQUENCY"),
            "SPECTRAL_WINDOW_ID",
        )
    )
    return out_chans, out_meta


def plan_timechannel(
    tables: dict, time_bin_secs: float, fields, scans
) -> DataFrame:
    """Planning step: the cut — one eager localCheckpoint of the
    selected, time-binned row table with ``rep`` attached ("Scale
    design" in the module docstring)."""
    rows = select_rows(tables["ms_rows"], fields, scans)
    return with_rep(assign_time_bins(rows, time_bin_secs)).localCheckpoint(
        eager=True
    )


def assemble_timechannel(
    tables: dict,
    cut: DataFrame,
    vis: DataFrame,
    chan_bin_size: int,
    fits: bool | None = None,
) -> dict:
    """Assembly step: the output tables from the cut and the averaged
    visibility table ``vis`` (average_vis(..., keep_rep=True) form);
    ``fits`` is the broadcast decision for the cut's bin map."""
    out_chans, out_meta = average_spw(
        tables["spw_chans"], tables["spw_meta"], chan_bin_size
    )
    rewritten = {"ms_rows", "ms_weights", "ms_vis", "spw_chans", "spw_meta"}
    return {
        "ms_rows": average_binned_rows(cut, with_row_id=True),
        **sample_tables(tables, cut.select(*BIN_MAP_COLS), vis, fits),
        "spw_chans": out_chans,
        "spw_meta": out_meta,
        # S10 passthrough: every other table (known or unknown) verbatim.
        **{k: v for k, v in tables.items() if k not in rewritten},
    }


def timechannel(
    tables: dict,
    time_bin_secs: float = 2.0,
    chan_bin_size: int = 16,
    fields: list[int] | None = None,
    scans: list[int] | None = None,
) -> dict:
    """Full timechannel pipeline over a loaded MS (ref app.py:59-128):
    returns the averaged main-table parts + regenerated SPW tables.

    The output satisfies the SAME table contract load_ms reads — row
    identity (row_id = the bin's rep surrogate) on every main table,
    sample tables keyed (row_id, chan, corr) — so a written output can
    be re-opened, `check`-validated, and re-averaged exactly like the
    reference's own output MS (check.py:22-76 workflow). ALL subtables
    not rewritten by the pipeline pass through unchanged, including ones
    this engine knows nothing about (ref subtables.py:9-37 copies
    unknown subtables wholesale)."""
    cut = plan_timechannel(tables, time_bin_secs, fields, scans)
    bins = cut.select(*BIN_MAP_COLS)
    fits = map_fits_broadcast(bins)
    vis = average_vis(
        tables["ms_vis"], bins, chan_bin_size, keep_rep=True, fits=fits
    )
    return assemble_timechannel(tables, cut, vis, chan_bin_size, fits)
