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
after any run, with zero overhead when not requested.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame


def write_profile(
    tables: dict,
    path: str,
    write_secs: float,
    write_secs_by_table: dict,
) -> None:
    """Dump ``<path>/<table>.plan.txt`` for every DataFrame in
    ``tables``, ``<path>/profile.json`` (the write total and, per table,
    write_ms's seconds — a table that replays shared lineage shows up
    there), and a self-contained browsable
    ``<path>/profile.html`` (per-table plan-shape stats + collapsible
    full plans — the Catalyst-appropriate analogue of the reference's
    bokeh ``visualize`` artifact, with no plotting dependency)."""
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
                    n: round(t, 3) for n, t in write_secs_by_table.items()
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
        fh.write(_render_html(sorted(names), stats, plans, write_secs))


def _render_html(names, stats, plans, write_secs: float) -> str:
    """One static HTML page: the plan-shape table every scale review
    starts from, then each table's full Catalyst chain in a
    <details> fold."""
    import html as H

    rows = []
    for n in names:
        s = stats.get(n, {})
        rows.append(
            "<tr><td>{}</td><td>{}</td><td>{}</td><td>{}</td><td>{}</td></tr>".format(
                H.escape(n),
                s.get("exchanges", "—"),
                s.get("broadcast_joins", "—"),
                s.get("sortmerge_joins", "—"),
                s.get("codegen_spans", "—"),
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
        "summary{cursor:pointer;margin:.4em 0;font-weight:600}</style>"
        f"<h1>xova-spark profile</h1><p>write: {write_secs:.3f}s</p>"
        "<table><tr><th>table</th><th>exchanges</th><th>broadcast joins</th>"
        "<th>sort-merge joins</th><th>codegen spans</th></tr>"
        + "".join(rows)
        + "</table><h2>Catalyst chains</h2>"
        + folds
    )
