"""Opt-in run profiling — the Spark analogue of the reference's dask
profiler hooks (reference: xova/apps/xova/app.py:35-40 imports
Profiler/CacheProfiler/ResourceProfiler + bokeh `visualize`, app.py:130-150
wraps compute when ``--boring`` is off).

A dask task-stream HTML makes no sense for a Catalyst engine; the
artifacts that DO are the query plans Catalyst actually chose and the
wall-clock of the one action. ``write_profile`` dumps, per output table,
the full queryExecution chain (parsed -> analyzed -> optimized ->
physical, including AQE's final plan markers) plus a ``profile.json``
with the write timing — enough to audit shuffle/broadcast decisions
after any run, with zero overhead when not requested. The tables are
written concurrently, so the timing is per table as a (start, end)
span, and profile.html draws the spans on one time axis: the overlap,
and which table finished last, are visible at a glance.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame


def write_profile(
    tables: dict,
    path: str,
    write_secs: float,
    write_spans_by_table: dict,
) -> None:
    """Dump ``<path>/<table>.plan.txt`` for every DataFrame in
    ``tables``, ``<path>/profile.json`` and a self-contained browsable
    ``<path>/profile.html`` (per-table plan-shape stats + collapsible
    full plans — the Catalyst-appropriate analogue of the reference's
    bokeh ``visualize`` artifact, with no plotting dependency).

    ``write_spans_by_table`` is write_ms_spans' ``{table: (start,
    end)}``. profile.json records the write total, each table's seconds
    (``write_secs_by_table`` — a table that replays shared lineage shows
    up there) and its span (``write_spans_by_table``). The writes
    overlap, so each table's seconds are at most the total but their
    sum is not."""
    os.makedirs(path, exist_ok=True)
    names, stats, plans = [], {}, {}
    for name, df in tables.items():
        if not isinstance(df, DataFrame):
            continue
        try:
            plan = df._jdf.queryExecution().toString()
        except Exception as e:  # noqa: BLE001 — profiling must never fail a run
            plan = f"<plan unavailable: {type(e).__name__}: {e}>"
        with open(os.path.join(path, f"{name}.plan.txt"), "w") as fh:
            fh.write(plan)
        names.append(name)
        plans[name] = plan
        try:
            from xova_spark import plans as PL

            stats[name] = PL.plan_stats(df)
        except Exception as e:  # noqa: BLE001
            stats[name] = {"error": f"{type(e).__name__}: {e}"}
    with open(os.path.join(path, "profile.json"), "w") as fh:
        json.dump(
            {
                "write_secs": round(write_secs, 3),
                "write_secs_by_table": {
                    n: round(e - s, 3) for n, (s, e) in write_spans_by_table.items()
                },
                "write_spans_by_table": {
                    n: [round(s, 3), round(e, 3)]
                    for n, (s, e) in write_spans_by_table.items()
                },
                "tables": sorted(names),
                "plan_stats": {
                    n: {k: v for k, v in s.items()
                        if isinstance(v, (int, str))}
                    for n, s in stats.items()
                },
            },
            fh,
            indent=1,
            sort_keys=True,
        )
    with open(os.path.join(path, "profile.html"), "w") as fh:
        fh.write(_render_html(
            sorted(names), stats, plans, write_secs, write_spans_by_table
        ))


def _render_html(names, stats, plans, write_secs: float, spans: dict) -> str:
    """One static HTML page: the plan-shape table every scale review
    starts from, with each table's write span as a bar on the shared
    write time axis, then each table's full Catalyst chain in a
    <details> fold."""
    import html as H

    axis = max([write_secs, *(e for _, e in spans.values())]) or 1.0
    rows = []
    for n in names:
        s = stats.get(n, {})
        if n in spans:
            start, end = spans[n]
            write = (
                "{:.3f}–{:.3f}s<div class='bar'><div style='margin-left:{:.1f}%;"
                "width:{:.1f}%'></div></div>".format(
                    start, end, 100 * start / axis,
                    max(100 * (end - start) / axis, 0.5),
                )
            )
        else:
            write = "—"
        rows.append(
            "<tr><td>{}</td><td>{}</td><td>{}</td><td>{}</td><td>{}</td>"
            "<td>{}</td></tr>".format(
                H.escape(n),
                s.get("exchanges", "—"),
                s.get("broadcast_joins", "—"),
                s.get("sortmerge_joins", "—"),
                s.get("codegen_spans", "—"),
                write,
            )
        )
    folds = "\n".join(
        "<details><summary>{}</summary><pre>{}</pre></details>".format(
            H.escape(n), H.escape(plans[n])
        )
        for n in names
    )
    return (
        "<!doctype html><meta charset='utf-8'><title>xova-spark profile</title>"
        "<style>body{font:14px system-ui;margin:2em;max-width:72em}"
        "table{border-collapse:collapse}td,th{border:1px solid #ccc;"
        "padding:.3em .6em;text-align:right}td:first-child,th:first-child"
        "{text-align:left}pre{background:#f6f6f6;padding:1em;overflow:auto}"
        "summary{cursor:pointer;margin:.4em 0;font-weight:600}"
        ".bar{width:16em;background:#eee}.bar div{height:.7em;"
        "background:#47a}</style>"
        f"<h1>xova-spark profile</h1><p>write: {write_secs:.3f}s</p>"
        "<table><tr><th>table</th><th>exchanges</th><th>broadcast joins</th>"
        "<th>sort-merge joins</th><th>codegen spans</th>"
        "<th>write span</th></tr>"
        + "".join(rows)
        + "</table><h2>Catalyst chains</h2>"
        + folds
    )
