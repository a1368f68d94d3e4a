"""MS output sink — parquet-backed Measurement Set writes (S8-S11).

Re-expresses the reference's write path (reference: xova/apps/xova/
app.py:107-116 main+subtable writes, app.py:152-159 --force overwrite
guard, subtables.py:9-37 passthrough copy): one directory per MS, one
parquet dataset per table, the main row table partitioned by the
GROUP_COLS so partition-value filters (P1) become partition pruning on
re-read.

Scale design: the main table write is ``partitionBy(FIELD_ID,
DATA_DESC_ID)`` — low-cardinality directory keys (fields x ddids), with
SCAN_NUMBER left inside files to avoid tiny-file explosion at high scan
counts. AQE coalescing handles the reference's small-output compaction
(V2, averaging.py:39-77) for free.

The tables are written concurrently, one driver thread per table
(session.run_concurrently) — the reference's single
``dask.compute(*writes)`` (app.py:146). Most of them are metadata
tables whose write is a job of a few tasks; written one after another
they leave most cores idle, and the lazy visibility/weight/row
aggregates run inside their own writes. The main tables come first in
the dict, so under Spark's default FIFO scheduler their jobs, submitted
first, keep priority for task slots; at cluster scale the big jobs
still run first and the small ones fill the gaps. Concurrency is
bounded by the number of tables, so there is no knob: no thread count,
scheduler pool or conf to tune.
"""

from __future__ import annotations

import functools
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from xova_spark.session import run_concurrently

MAIN_PARTITION_COLS = ("FIELD_ID", "DATA_DESC_ID")

# Tables whose rows the averaging pipelines rewrite; everything else is
# passthrough (ref subtables.py:9-37 copies them wholesale).
MAIN_TABLES = ("ms_rows", "ms_weights", "ms_vis")

# Zone-map layout: sort within each write task before writing so parquet
# row-group min/max statistics become tight, disjoint ranges — a re-read
# with a TIME window or a row_id range then SKIPS whole row groups
# (tested at the source level in test_ms_datasource's stats skipping; at
# 100 TB this is the difference between touching one row group and
# scanning a file). sortWithinPartitions is a per-task local sort — no
# shuffle is added to the write.
SORT_WITHIN: dict[str, tuple[str, ...]] = {
    "ms_rows": ("SCAN_NUMBER", "TIME", "ANTENNA1", "ANTENNA2"),
    "ms_vis": ("row_id", "chan", "corr"),
    "ms_weights": ("row_id", "corr"),
}


class OutputExistsError(RuntimeError):
    pass


def check_writable(path: str, force: bool) -> None:
    """Refuse an existing output unless force (app.py:152-159)."""
    if os.path.exists(path) and not force:
        raise OutputExistsError(
            f"{path} exists. Use force=True to overwrite (ref --force)."
        )


def write_ms(tables: dict, path: str, force: bool = False) -> dict:
    """S8/S9/S10/S11: write every DataFrame in ``tables`` under
    ``path``; refuse to overwrite unless force (app.py:152-159).
    Returns ``{table: write seconds}``; the writes overlap, so the
    seconds may sum to more than the call took (write_ms_spans has
    each table's start and end).

    A ``_keywords`` entry (a plain JSON-able dict, keyed by table name)
    is persisted as ``<path>/_keywords.json`` — the parquet-layout
    analogue of the reference's table-keyword relink on passthrough
    subtables (subtables.py:35 putkeywords); load_ms restores it."""
    spans = write_ms_spans(tables, path, force)
    return {name: end - start for name, (start, end) in spans.items()}


def write_ms_spans(tables: dict, path: str, force: bool = False) -> dict:
    """write_ms, returning ``{table: (start, end)}``: each table's write
    in seconds from the start of the call. The tables are written
    concurrently (module docstring); the ``_schemas.json`` and
    ``_keywords.json`` files only after every write has succeeded."""
    check_writable(path, force)
    mode = "overwrite" if force else "errorifexists"
    frames = {n: df for n, df in tables.items() if isinstance(df, DataFrame)}
    t0 = time.perf_counter()

    def write(name: str, df: DataFrame) -> tuple[float, float]:
        start = time.perf_counter() - t0
        sort_cols = [c for c in SORT_WITHIN.get(name, ()) if c in df.columns]
        if sort_cols:
            df = df.sortWithinPartitions(*sort_cols)
        writer = df.write.mode(mode)
        if name == "ms_rows":
            part = [c for c in MAIN_PARTITION_COLS if c in df.columns]
            if part:
                writer = writer.partitionBy(*part)
        writer.parquet(os.path.join(path, name))
        return start, time.perf_counter() - t0

    spark = next(iter(frames.values())).sparkSession if frames else None
    spans = run_concurrently(
        spark, [functools.partial(write, n, df) for n, df in frames.items()]
    )
    if frames:
        # Schema manifest: df.schema.json() costs no job, and it is what
        # lets load_ms/read_ms re-open an EMPTY table — a partitioned
        # write of 0 rows leaves only _SUCCESS (no footer to infer
        # from), which must come back as a 0-row frame with the right
        # schema, not a silently missing table (empty selections are
        # routine at scale).
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, "_schemas.json"), "w") as fh:
            json.dump(
                {n: df.schema.json() for n, df in frames.items()},
                fh, indent=1, sort_keys=True,
            )
    keywords = tables.get("_keywords")
    if isinstance(keywords, dict):
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, "_keywords.json"), "w") as fh:
            json.dump(keywords, fh, indent=1, sort_keys=True)
    return dict(zip(frames, spans))


def load_manifest_schemas(path: str) -> dict:
    """The `_schemas.json` manifest write_ms leaves beside the tables
    (empty dict if absent / unreadable)."""
    try:
        with open(os.path.join(path, "_schemas.json")) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return {}


def read_table(spark: SparkSession, path: str, schema_json: str | None = None):
    """Read one parquet table, with its manifest schema when there is
    one: Spark then runs no schema-inference job, and an EMPTY table (a
    0-row partitioned write leaves no footer to infer from) comes back
    as a 0-row frame with its schema. Without a schema Spark infers it,
    and raises on a directory that is not a parquet dataset."""
    reader = spark.read
    if schema_json:
        reader = reader.schema(StructType.fromJson(json.loads(schema_json)))
    return reader.parquet(path)


def read_ms(spark: SparkSession, path: str) -> dict:
    """Load a written MS back into a table dict (inverse of write_ms),
    each table read with its manifest schema (see read_table)."""
    schemas = load_manifest_schemas(path)
    return {
        name: read_table(spark, os.path.join(path, name), schemas.get(name))
        for name in sorted(os.listdir(path))
        if os.path.isdir(os.path.join(path, name))
    }
