"""Run one benchmark workload and assemble its result line.

A run is: ``SETUPS`` timed set-ups (Spark session start, seeded input
generation, loading the input); then measured passes until their summed
time reaches ``--seconds`` (at least one).  The first measured pass is the
first of the session, as for a freshly submitted job; its outputs are
checked outside its timed sections.  With ``--trace 1`` a run makes one
set-up and hands over to the workload's ``trace``: a checked warm-up pass,
an untraced baseline, the traced pass and the direct layer calls.  The
result then carries the per-layer metrics instead of the end-to-end ones.
"""

from __future__ import annotations

import json
import os
import platform
import shutil
import statistics
import sys
import threading
import time

SETUPS = 3
DRIVER_MEMORY = "2g"
BLAS_VARS = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS")

# name -> unit; every workload's end-to-end result carries each of these
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_ms": "ms",
    "peak_rss_mb": "MB",
}


def cpu_count() -> int:
    """Cores this process may run on (``nproc`` without the OMP override)."""
    return len(os.sched_getaffinity(0))


def quantile(xs: list[float], q: float) -> float:
    """Linear-interpolated quantile (``q`` in [0, 1]) of a non-empty list."""
    ys = sorted(xs)
    pos = (len(ys) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(ys) - 1)
    return ys[lo] + (ys[hi] - ys[lo]) * (pos - lo)


class Checks:
    """Untimed correctness checks; every failure is kept with its reason."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failures: list[str] = []

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failures.append(f"{name}: {detail}" if detail else name)
        return ok

    def run(self, name: str, fn) -> bool:
        """``fn()`` returns ``(ok, detail)``; an exception is a failure."""
        try:
            ok, detail = fn()
        except Exception as e:  # noqa: BLE001 - a raising check is a failed check
            ok, detail = False, f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"
        return self.check(name, ok, detail)


def fingerprint(df, cols) -> tuple[int, int]:
    """(rows, sum of 64-bit row hashes): equal multisets of rows give equal
    fingerprints; a changed, missing or extra row changes the sum unless
    its hash collides."""
    from pyspark.sql import functions as F

    row = df.select(
        F.count(F.lit(1)), F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))
    ).collect()[0]
    return int(row[0]), int(row[1] or 0)


def same_rows(got, want, cols) -> tuple[bool, str]:
    """Multiset equality of two frames on ``cols``, by fingerprint."""
    g, w = fingerprint(got, cols), fingerprint(want, cols)
    return g == w, f"{g[0]} rows (hash sum {g[1]}) vs expected {w[0]} ({w[1]})"


class RssSampler:
    """Peak resident memory of this process and its live descendants (the
    JVM and the Python workers): at each sample, the sum of every live
    process's own high-water mark (``VmHWM``); the peak is the largest such
    sum.  Unlike a sum of current RSS, it does not depend on the instant the
    sampler looks at a short-lived peak."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
            children.setdefault(ppid, []).append(int(d))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/status") as f:
                    total += next(
                        int(line.split()[1]) * 1024 for line in f if line.startswith("VmHWM:")
                    )
            except (OSError, StopIteration):
                continue
        self.peak_bytes = max(self.peak_bytes, total)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


def start_spark(tmp_root: str, cpus: int, app: str):
    """The engine's own session factory, with every scratch path inside the
    run's temp root and the console progress bar off."""
    from streaming_downsampling_spark.session import get_spark

    jtmp = os.path.join(tmp_root, "java-tmp")
    os.makedirs(jtmp, exist_ok=True)
    spark = get_spark(
        app_name=app,
        cpus=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(tmp_root, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(tmp_root, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={jtmp}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def environment(cpus: int, seed: int, sizes: dict) -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "nproc": cpus,
        "master": f"local[{cpus}]",
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "seed": seed,
        "input_sizes": sizes,
        "blas_threads": {v: os.environ.get(v) for v in BLAS_VARS},
        "spark_driver_memory": os.environ.get("SPARK_DRIVER_MEMORY"),
    }


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """A progress line on stderr, stamped with the seconds since import."""
    print(f"[perfbench {time.perf_counter() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def run(workload_cls, seed: int, seconds: float, trace: bool, out_dir: str) -> dict:
    """Run one workload end to end; returns the result object."""
    cpus = cpu_count()
    os.makedirs(out_dir, exist_ok=True)
    tmp_root = os.path.join(out_dir, f"tmp-{os.getpid()}-{time.time_ns()}")
    os.makedirs(tmp_root)
    for v in BLAS_VARS:  # the engine's own pins, set before the JVM starts
        os.environ.setdefault(v, "1")
    # a driver heap cap keeps the run small and its peak RSS steady
    os.environ.setdefault("SPARK_DRIVER_MEMORY", DRIVER_MEMORY)
    wl = workload_cls(seed)
    checks = Checks()
    spark = None
    try:
        with RssSampler() as rss:
            setup_times = []
            # a traced run reports no set-up time: one set-up is enough
            for i in range(1 if trace else SETUPS):
                t0 = time.perf_counter()
                if spark is not None:
                    spark.stop()
                spark = start_spark(tmp_root, cpus, f"perfbench-{wl.name}")
                inputs = os.path.join(tmp_root, f"inputs-{i}")
                wl.setup(spark, inputs)
                setup_times.append(time.perf_counter() - t0)
                if i:
                    shutil.rmtree(os.path.join(tmp_root, f"inputs-{i - 1}"), ignore_errors=True)
            log(f"{wl.name}: set-ups {[round(t, 3) for t in setup_times]}")
            passes = []
            if trace:
                # the workload runs its own checked warm-up pass, then an
                # untraced baseline and the traced pass
                layers = wl.trace(spark, os.path.join(tmp_root, "trace"), cpus, checks)
                missed = wl.collector.incomplete
                checks.check(
                    f"{wl.name}.trace_stages",
                    not missed,
                    f"{len(missed)} stages not finished in the status store: {missed[:5]}",
                )
            else:
                while not passes or sum(p["pass_s"] for p in passes) < seconds:
                    scratch = os.path.join(tmp_root, f"pass-{len(passes)}")
                    # the first measured pass is the checked one: its outputs
                    # are verified outside its timed sections
                    passes.append(wl.run_pass(spark, scratch, None if passes else checks))
                log(f"{wl.name}: passes {[round(p['pass_s'], 3) for p in passes]}")
        ops = [o for p in passes for o in p["ops_ms"]]
        record = {
            "workload": wl.name,
            "environment": environment(cpus, seed, wl.sizes()),
            "samples": {
                "setups": len(setup_times),
                "passes": len(passes),
                "ops": len(ops),
            },
            "check_failures": checks.failures,
        }
        if trace:
            record["per_layer"] = layers
            wl.collector.write(
                os.path.join(out_dir, f"trace-{wl.name}-seed{seed}.json"), record
            )
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
        else:
            summary = {
                "setup_s": statistics.median(setup_times),
                "pass_s": statistics.median(p["pass_s"] for p in passes),
                "op_p50_ms": quantile(ops, 0.5),
                "peak_rss_mb": rss.peak_bytes / 2**20,
            }
            record["end_to_end"] = summary
            record["workload_figures"] = wl.figures(passes)
            metrics = {k: {"value": summary[k], "unit": u} for k, u in END_TO_END.items()}
            for k, v in {**summary, **record["workload_figures"]}.items():
                log(f"{wl.name}: {k} = {v:.6g}")
        with open(os.path.join(out_dir, f"result-{wl.name}-seed{seed}.json"), "w") as f:
            json.dump(record, f, indent=1)
        log(f"{wl.name}: samples {record['samples']}")
        for msg in checks.failures:
            log(f"{wl.name}: CHECK FAILED {msg}")
        return {
            "correct": not checks.failures,
            "attempted": checks.attempted + len(ops),
            "failed": len(checks.failures),
            "metrics": metrics,
        }
    finally:
        from pyspark import SparkContext

        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        shutil.rmtree(tmp_root, ignore_errors=True)
