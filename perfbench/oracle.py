"""Seeded inputs and the DuckDB correctness check for the benchmark.

Both run in a worker process (see ``run.py``), so the numpy arrays of the
generator and DuckDB's memory never count in the peak RSS of the process
that drives Spark.

The check compares the written ``ms_vis``, joined to the written ``ms_rows``
by ``row_id``, with the registry's oracle SQL for the same averaging
(``ms_tc_vis`` for timechannel, ``bda_vis`` for BDA) with its fixture path
swapped for the benchmark's input. Every fixture value is a dyadic rational,
so both sides agree bit for bit and the comparison is an exact ``EXCEPT ALL``
in both directions.
"""

from __future__ import annotations

import os

# Output columns shared by the oracle SQL and the written MS, in that order.
VIS_COLUMNS = (
    "FIELD_ID", "DATA_DESC_ID", "SCAN_NUMBER", "ANTENNA1", "ANTENNA2",
    "time_bin", "chan_bin", "corr", "vis_re", "vis_im", "flag", "weight_sp",
    "sigma_sp", "n_samples",
)


def make_ms(ms_dir: str, seed: int, na: int, ntime: int) -> dict:
    """Write the seeded fixture MS (parquet layout) into ``ms_dir``;
    return its row and sample counts."""
    import pyarrow.parquet as pq

    from xova_spark.sources import ms_fixture

    os.makedirs(ms_dir, exist_ok=True)
    ms_fixture._generate(ms_dir, na=na, ntime=ntime, seed=seed)
    rows = pq.ParquetFile(os.path.join(ms_dir, "ms_rows.parquet")).metadata.num_rows
    vis = pq.ParquetFile(os.path.join(ms_dir, "ms_vis.parquet")).metadata.num_rows
    return {"rows": rows, "samples": vis}


def oracle_sql(kind: str, cache_dir: str) -> tuple[str, str, str]:
    """(fixture dir the SQL reads, oracle SQL, ms_rows column holding the
    input DATA_DESC_ID) for one averaging kind."""
    from xova_spark.sources import ms_fixture

    # The query packs build their default fixture when imported, under
    # DEFAULT_CACHE; point it inside the benchmark's working directory.
    ms_fixture.DEFAULT_CACHE = cache_dir
    if kind == "timechannel":
        from xova_spark.queries import msdomain

        return msdomain._DIR, msdomain.REGISTRY["ms_tc_vis"][1], "DATA_DESC_ID"
    from xova_spark.queries import bda

    # BDA re-mints DATA_DESC_ID per output channel count; the input id
    # survives as ORIG_DATA_DESC_ID.
    return bda._DIR, bda.REGISTRY["bda_vis"][1], "ORIG_DATA_DESC_ID"


def diff_counts(kind: str, ms_dir: str, out_dir: str, cache_dir: str) -> dict:
    """Count oracle rows missing from the output and output rows the
    oracle does not have (bag semantics), plus the oracle's row count."""
    import duckdb

    fixture_dir, sql, ddid = oracle_sql(kind, cache_dir)
    con = duckdb.connect()
    try:
        con.execute("SET threads = 2")
        con.execute("SET memory_limit = '1GB'")
        con.execute(f"SET temp_directory = '{os.path.join(cache_dir, 'duckdb')}'")
        con.execute(
            "CREATE TEMP TABLE want AS " + sql.replace(fixture_dir, ms_dir)
        )
        con.execute(f"""
            CREATE TEMP TABLE got AS
            SELECT CAST(r.FIELD_ID AS INTEGER) AS FIELD_ID,
                   CAST(r.{ddid} AS INTEGER) AS DATA_DESC_ID,
                   r.SCAN_NUMBER, r.ANTENNA1, r.ANTENNA2, r.time_bin,
                   v.chan AS chan_bin, v.corr, v.vis_re, v.vis_im, v.flag,
                   v.weight_sp, v.sigma_sp, v.n_samples
            FROM read_parquet('{out_dir}/ms_vis/*.parquet') v
            JOIN read_parquet('{out_dir}/ms_rows/**/*.parquet',
                              hive_partitioning = true) r USING (row_id)
        """)
        cols = ", ".join(VIS_COLUMNS)

        def missing(a: str, b: str) -> int:
            return con.execute(
                f"SELECT count(*) FROM (SELECT {cols} FROM {a} "
                f"EXCEPT ALL SELECT {cols} FROM {b})"
            ).fetchone()[0]

        return {
            "extra": missing("got", "want"),
            "missing": missing("want", "got"),
            "expected": con.execute("SELECT count(*) FROM want").fetchone()[0],
        }
    finally:
        con.close()
