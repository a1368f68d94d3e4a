"""Benchmark of the xova-spark CLI lifecycle on a seeded Measurement Set.

One run starts one ``local[4]`` Spark session, generates the input MS from
the seed, runs the workload's command once cold, then repeats it warm in a
closed loop (one caller, next iteration after the previous one ends) until
``--seconds`` of timed work and at least ``WARM_MIN`` warm iterations. An
iteration is what a user runs: ``xova-spark
timechannel|bda <ms> -o <out>`` (read, average, UVW post-pass, write the
output MS), then ``xova-spark check <out>`` (re-open and validate). Outside
the timed region every output is compared with the registry's DuckDB oracle;
an exception or a difference fails the iteration.

    python3 perfbench/run.py --workload ms_timechannel --seed 1 --seconds 10 --trace 0

With ``--trace 1`` warm iterations alternate between untraced ones and
traced ones that call each layer in turn, force its output and record a
span with the Spark stage metrics of its jobs (``spans.py``); the run then
prints per-layer metrics instead of end-to-end ones. The last line of
standard output is one JSON object. Metric definitions are in METRICS.md.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import ctypes  # noqa: E402
import json  # noqa: E402
import multiprocessing  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from concurrent.futures import ProcessPoolExecutor  # noqa: E402
from multiprocessing import resource_tracker  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import oracle  # noqa: E402

CORES = 4
DRIVER_MEM = "1g"
# 120 baselines x 24 times x 2 DDIDs: 5,760 rows, 368,640 samples.
NA, NTIME = 16, 24

# workload -> (CLI command, its flags). The BDA flags are the registry's
# bda_vis constants; the CLI defaults average nothing on this fixture.
WORKLOADS = {
    "ms_timechannel": ("timechannel", ["-t", "4", "-c", "16"]),
    "ms_bda": ("bda", ["-d", "0.95", "-fov", "0.315", "-t", "16", "-mc", "2"]),
}
KINDS = tuple(command for command, _ in WORKLOADS.values())
# Warm iterations a run makes at least, whatever --seconds says: the JVM
# is still compiling through the first few, and its peak RSS still rising.
WARM_MIN = 3
MB = float(1 << 20)


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set size of a process, from /proc."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tree_bytes(path: str) -> tuple[int, int]:
    """(bytes of every file under path, number of parquet data files)."""
    size = files = 0
    for base, _, names in os.walk(path):
        for name in names:
            size += os.path.getsize(os.path.join(base, name))
            files += name.endswith(".parquet")
    return size, files


def start_session(work: str):
    """The program's own session factory, with every scratch path inside
    the run's working directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts  # spark-submit's launcher JVM
    from xova_spark.session import get_spark

    return get_spark("xova-spark-app", cpus=CORES, extra_conf={
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        # A fixed-size heap: G1's adaptive growth otherwise sets how much of
        # it is resident at the end of a run, and peak RSS varied by 15%.
        "spark.driver.extraJavaOptions": f"{java_opts} -Xms{DRIVER_MEM}",
        "spark.ui.showConsoleProgress": "false",
    })


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM, which exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.close()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    # A later session in this process launches a JVM of its own.
    SparkContext._gateway = SparkContext._jvm = None


class Bench:
    """One run: one session, one seeded input MS, a loop of iterations."""

    def __init__(self, workload: str, ms: str, cache: str, work: str, pool, spark):
        self.command, self.flags = WORKLOADS[workload]
        self.ms = ms
        self.cache = cache  # the oracle's scratch directory
        self.work = work
        self.pool = pool
        self.spark = spark
        self.attempted = 0
        self.failed = 0
        self.input = None  # {"rows", "samples"} of the generated MS
        self.tracer = None

    def cmdline(self, out: str) -> list[str]:
        return [self.command, self.ms, "-o", out, *self.flags]

    def lifecycle(self, out: str) -> dict:
        """One user iteration: average and write the MS, then check it."""
        from xova_spark.app import Application

        with contextlib.redirect_stdout(sys.stderr):
            Application(self.cmdline(out), self.spark).execute()
            Application(["check", out], self.spark).execute()
        return {}

    def verify(self, out: str) -> bool:
        """Exact comparison of the written visibilities with the oracle."""
        diff = self.pool.submit(
            oracle.diff_counts, self.command, self.ms, out, self.cache
        ).result()
        ok = diff["extra"] == 0 and diff["missing"] == 0 and diff["expected"] > 0
        if not ok:
            print(f"perfbench: {out} differs from the oracle: {diff}", file=sys.stderr)
        return ok

    def iterate(self, traced: bool = False) -> dict:
        """Run, time and verify one iteration; the output is removed after.
        Returns wall seconds, output bytes, success and any layer metrics."""
        out = os.path.join(self.work, f"out-{self.attempted}")
        self.attempted += 1
        res = {"ok": False, "layers": {}}
        t0 = time.perf_counter()
        try:
            res["layers"] = (self.traced if traced else self.lifecycle)(out)
            res["wall"] = time.perf_counter() - t0
            res["bytes"] = tree_bytes(out)[0]
            res["ok"] = self.verify(out)
        except (Exception, SystemExit):  # a failed iteration is counted, not fatal
            res["wall"] = time.perf_counter() - t0
            traceback.print_exc()
        finally:
            shutil.rmtree(out, ignore_errors=True)
        self.failed += not res["ok"]
        print(f"perfbench: iteration {self.attempted} {'traced ' * traced}"
              f"{res['wall']:.3f} s ok={res['ok']}", file=sys.stderr)
        return res

    def traced(self, out: str) -> dict:
        """The lifecycle one layer at a time, each forced and in its own
        span: the calls Application.execute and the check command make."""
        from pyspark.sql import DataFrame

        from xova_spark.app import Application
        from xova_spark.operators.check import check_ms, check_spw
        from xova_spark.operators.uvw import fixms
        from xova_spark.sources.casa_ms import load_ms_auto
        from xova_spark.sources.ms_writer import write_ms
        from spans import Tracer

        if self.tracer is None:
            self.tracer = Tracer(self.spark)
        tr, spark = self.tracer, self.spark
        first = len(tr.spans)
        parent = f"iteration-{self.attempted}"
        app = Application(self.cmdline(out), spark)
        a = app.args
        gc0 = tr.jvm_gc_ms()
        t0 = time.perf_counter()
        with tr.span("sources.load_ms", parent):
            tables = load_ms_auto(spark, self.ms)
        with tr.span("app.prepare", parent):
            tables = app._prepare(tables)
            tables["ms_rows"] = tables["ms_rows"].localCheckpoint(eager=True)
        with tr.span(f"operators.{self.command}", parent):
            if self.command == "timechannel":
                from xova_spark.operators.timechannel import timechannel

                avg = timechannel(tables, time_bin_secs=a.time_bin_secs,
                                  chan_bin_size=a.chan_bin_size)
            else:
                from xova_spark.operators.bda import bda

                avg = bda(tables, decorrelation=a.decorrelation, max_fov=a.max_fov,
                          time_bin_secs=a.time_bin_secs or 1e9,
                          min_nchan=a.min_nchan)
            for name, df in avg.items():
                if isinstance(df, DataFrame) and df is not tables.get(name):
                    avg[name] = df.localCheckpoint(eager=True)
        with tr.span("operators.uvw.fixms", parent):
            avg["ms_rows"] = fixms(
                avg["ms_rows"], tables["antenna"], tables["field"]
            ).localCheckpoint(eager=True)
        with tr.span("sources.ms_writer.write_ms", parent):
            write_ms(avg, out)
        with tr.span("operators.check", parent):
            written = load_ms_auto(spark, out)
            bad = check_ms(written).count() + check_spw(written).count()
        total = time.perf_counter() - t0
        gc_s = (tr.jvm_gc_ms() - gc0) / 1e3
        if bad:
            raise RuntimeError(f"check found {bad} violations in {out}")
        samples_out = avg["ms_vis"].count()
        tr.collect()
        spans = {s["name"]: s for s in tr.spans[first:]}
        m = {"sources.load_ms.s": _dur(spans["sources.load_ms"])}
        prep = spans["app.prepare"]
        m["app.prepare.s"] = _dur(prep)
        m["app.prepare.shuffle_write_mb"] = prep["shuffle_write_mb"]
        for kind in KINDS:
            s = spans.get(f"operators.{kind}")
            for field in ("cpu_s", "gc_s", "shuffle_write_mb", "spill_mb", "tasks",
                          "task_s_max_over_median"):
                m[f"operators.{kind}.{field}"] = s[field] if s else 0
            m[f"operators.{kind}.s"] = _dur(s) if s else 0.0
            m[f"operators.{kind}.samples_out_per_in"] = (
                samples_out / self.input["samples"] if s else 0.0
            )
        m["operators.uvw.fixms.s"] = _dur(spans["operators.uvw.fixms"])
        size, files = tree_bytes(out)
        m["sources.ms_writer.write_ms.s"] = _dur(spans["sources.ms_writer.write_ms"])
        m["sources.ms_writer.write_ms.output_mb"] = size / MB
        m["sources.ms_writer.write_ms.files"] = files
        m["operators.check.s"] = _dur(spans["operators.check"])
        m["operators.check.input_mb"] = spans["operators.check"]["input_mb"]
        m["jvm.gc_s"] = gc_s
        m["trace.total_s"] = total
        return m


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


def _unit(name: str) -> str:
    """A per-layer metric's unit, from its name."""
    if name.endswith("_mb"):
        return "MB"
    if name.endswith((".tasks", ".files")):
        return "count"
    if name.endswith(("_per_in", "_over_median")):
        return "ratio"
    return "s"


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    work = os.path.join(HERE, "_work", f"run-{os.getpid()}")
    os.makedirs(work)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    spark = None
    try:
        with ProcessPoolExecutor(
            1, mp_context=multiprocessing.get_context("spawn")
        ) as pool:
            ms, cache = os.path.join(work, "ms"), os.path.join(work, "oracle")
            # The worker writes the input MS and imports the oracle's
            # query pack while the JVM starts.
            made = pool.submit(oracle.make_ms, ms, seed % 2**32, NA, NTIME)
            primed = pool.submit(oracle.oracle_sql, WORKLOADS[workload][0], cache)
            spark = start_session(work)
            ready = time.perf_counter() - T_START
            bench = Bench(workload, ms, cache, work, pool, spark)
            bench.input = made.result()
            primed.result()
            cold = bench.iterate()
            warm, traced = [], []
            timed = 0.0
            while timed < seconds or len(warm) + len(traced) < WARM_MIN:
                # A traced run alternates: untraced, traced, untraced, ...
                use_trace = trace and len(traced) < len(warm)
                res = bench.iterate(traced=use_trace)
                timed += res["wall"]
                (traced if use_trace else warm).append(res)
            if bench.tracer is not None:
                bench.tracer.write(sys.stderr)
            jvm_peak = vm_hwm_mb(spark.sparkContext._gateway.proc.pid)
            py_peak = vm_hwm_mb("self")
            print(f"perfbench: peak RSS JVM {jvm_peak:.1f} MB, Python {py_peak:.1f} MB",
                  file=sys.stderr)
            stop_session(spark)
            spark = None
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    good = [r for r in (traced if trace else warm) if r["ok"]]
    if not good:
        sys.exit(f"perfbench: every {'traced ' * trace}iteration failed")
    wall = statistics.median(
        [r["wall"] for r in warm if r["ok"]] or [r["wall"] for r in warm]
    )
    if trace:
        metrics = {
            k: {"value": statistics.median(r["layers"][k] for r in good),
                "unit": _unit(k)}
            for k in sorted(good[0]["layers"])
        }
        metrics["trace.overhead_s"] = {
            "value": metrics["trace.total_s"]["value"] - wall, "unit": "s"
        }
        samples = {"traced iterations": len(traced), "untraced iterations": len(warm)}
    else:
        metrics = {
            "wall_s": {"value": wall, "unit": "s"},
            "setup_s": {"value": ready + cold["wall"], "unit": "s"},
            "peak_rss_mb": {"value": jvm_peak + py_peak, "unit": "MB"},
            "output_mb": {"value": statistics.median(r["bytes"] for r in good) / MB,
                          "unit": "MB"},
        }
        samples = {"warm iterations": len(warm), "cold iterations": 1}
    attempted, failed = bench.attempted, bench.failed
    for name, m in metrics.items():
        print(f"{workload} {name} {m['value']:.4f} {m['unit']}")
    print(f"{workload} error_rate {failed / attempted:.4f} ratio "
          f"({failed} failed of {attempted} iterations)")
    print(f"{workload} samples: " + ", ".join(f"{k} {v}" for k, v in samples.items())
          + f"; input {bench.input['rows']} rows, {bench.input['samples']} samples")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants (Linux),
    so a process the JVM leaves behind when it exits can be waited for."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def child_pids() -> list[int]:
    """Processes whose parent is this one, from /proc."""
    me, pids = os.getpid(), []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:  # ended since the listing
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            pids.append(int(entry))
    return pids


def reap_children(grace: float = 10.0) -> None:
    """Stop every process this run started and wait until each has ended.

    The spawn pool's resource tracker only exits when its pipe closes, so
    it is stopped first; any other child (or adopted orphan) still running
    after ``grace`` seconds is killed."""
    resource_tracker._resource_tracker._stop()
    deadline = time.monotonic() + grace
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return  # no child left
        if pid:
            continue
        if time.monotonic() > deadline:
            for pid in child_pids():
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
        time.sleep(0.05)


def main(argv=None) -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "xova_spark")):
        sys.exit(f"perfbench: no xova_spark package in {ROOT}")
    adopt_orphans()
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        reap_children()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
