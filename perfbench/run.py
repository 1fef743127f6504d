"""Seeded benchmark of the semadb_spark serving and maintenance paths.

Usage (from the root of a source checkout)::

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Workloads: ``serve`` and ``ingest_rw`` (see BENCHMARK.json), and
``spark_batch``, which also needs ``--sf DIR`` (the sf tables its gates
read, outside the checkout). ``--trace 1`` installs timing
wrappers and a Spark event log and reports per-layer metrics instead of
the end-to-end ones.

Every run works in a fresh directory under ``.perfbench_run/`` of the
checkout (TMPDIR, Spark local dirs, collections, event log) and removes it
at exit. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the line before it
records the run's provenance (seed, nproc, versions, source digest).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("serve", "ingest_rw", "spark_batch")


def percentile(values, q: float) -> float:
    import numpy as np

    return float(np.percentile(np.asarray(values, dtype=float), q)) if len(values) else 0.0


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


# The JVM heap for these inputs (a few MB of parquet): get_spark's default
# of 48g is more than the machine.
DRIVER_MEMORY = "1g"


def source_digest() -> str:
    h = hashlib.sha256()
    for base, dirs, files in sorted(os.walk(os.path.join(ROOT, "semadb_spark"))):
        dirs.sort()
        for fn in sorted(files):
            if fn.endswith(".py"):
                with open(os.path.join(base, fn), "rb") as f:
                    h.update(fn.encode() + b"\0" + f.read())
    return h.hexdigest()[:16]


def git_rev() -> str:
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "none"
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


class Run:
    """What one benchmark run shares across its phases: the isolated run
    directory, the Spark session, the sampler, the tracer and the op
    counters."""

    def __init__(self, args):
        self.args = args
        self.t0 = time.perf_counter()
        # any whole number is a valid --seed. It is folded into [0, 2**31):
        # build_vamana_index seeds numpy's legacy generator, which takes only
        # 0 <= seed < 2**32, and numpy's default_rng takes no negative seed
        self.seed = int(args.seed) % 2**31
        self.seconds = float(args.seconds)
        self.trace = bool(int(args.trace))
        self.cores = nproc()
        self.dir = os.path.join(
            ROOT, ".perfbench_run", f"{args.workload}-{self.seed}-{os.getpid()}"
        )
        self.tmp = os.path.join(self.dir, "tmp")
        os.makedirs(self.tmp)
        for var in ("TMPDIR", "TEMP", "TMP"):
            os.environ[var] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.dir, "spark-local")
        # spark-submit's short-lived launcher JVM would write hsperfdata to /tmp
        os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={self.tmp}"
        import multiprocessing.process
        import tempfile

        tempfile.tempdir = self.tmp
        # the serving pool's forkserver binds an AF_UNIX socket in
        # multiprocessing's temp dir, and a socket path may not exceed 107
        # bytes: under a deep checkout an absolute path fails with
        # "AF_UNIX path too long". The path relative to the checkout root,
        # the working directory, stays short.
        mp_dir = os.path.join(self.dir, "mp")
        os.makedirs(mp_dir)
        multiprocessing.process.current_process()._config["tempdir"] = \
            os.path.relpath(mp_dir, ROOT)
        self.spark = None
        self._gateway_proc = None
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.metrics: dict[str, tuple[float, str]] = {}
        self.layers: dict[str, tuple[float, str]] = {}
        self.wall: dict[str, float] = {}
        self.group_wall: dict[str, float] = {}
        self.extra: dict[str, float] = {}
        self.closers: list = []
        from procstat import Sampler, steal_seconds

        self.steal0 = steal_seconds()
        self.sampler = Sampler().start()

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    # -- ops -------------------------------------------------------------------
    def op(self, ok: bool, what: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)
        return ok

    def metric(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def layer(self, name: str, value: float, unit: str) -> None:
        self.layers[name] = (float(value), unit)

    # -- spark -----------------------------------------------------------------
    def start_spark(self):
        from semadb_spark import get_spark

        java_opts = f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData"
        conf = {
            "spark.local.dir": os.path.join(self.dir, "spark-local"),
            # a fixed, pre-touched heap: the JVM's resident size no longer
            # depends on when its heap happened to grow
            "spark.driver.extraJavaOptions":
                f"{java_opts} -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
            "spark.executor.extraJavaOptions": java_opts,
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            os.makedirs(self.path("events"))
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + self.path("events")
            conf["spark.eventLog.compress"] = "false"
        self.spark = get_spark(app_name=f"perfbench-{self.args.workload}",
                               cpus=self.cores, driver_memory=DRIVER_MEMORY,
                               extra_conf=conf)
        from pyspark import SparkContext

        self._gateway_proc = getattr(SparkContext._gateway, "proc", None)
        if self.trace:
            # a traced function captured inside a UDF closure travels with
            # its tracer; Python workers must be able to import it
            self.spark.sparkContext.addPyFile(os.path.join(HERE, "spans.py"))
        return self.spark

    def group(self, name: str):
        """Time a block of Spark calls as job group ``name``: its wall time
        adds to ``group_wall`` and, in traced runs, its Spark jobs carry
        the group id into the event log."""
        run = self

        class _Group:
            def __enter__(self):
                if run.trace and run.spark is not None:
                    run.spark.sparkContext.setJobGroup(name, name)
                self.t = time.perf_counter()
                return self

            def __exit__(self, *exc):
                self.dt = time.perf_counter() - self.t
                run.group_wall[name] = run.group_wall.get(name, 0.0) + self.dt
                if run.trace and run.spark is not None:
                    run.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

        return _Group()

    def phase(self, name: str):
        """Attribute the process tree's CPU time and peak memory of a block
        to phase ``name``."""
        run = self

        class _Phase:
            def __enter__(self):
                run.sampler.phase(name)
                self.t = time.perf_counter()

            def __exit__(self, *exc):
                run.sampler.phase(None)
                run.wall[name] = run.wall.get(name, 0.0) + time.perf_counter() - self.t

        return _Phase()

    def end_setup(self) -> None:
        """Set-up ends here: from process start to the first timed op."""
        self.metric("setup_s", time.perf_counter() - self.t0, "s")

    def tag(self, label, **attrs) -> None:
        """Label the spans this thread records next (traced runs)."""
        if self.tracer is not None:
            self.tracer.set_request(label, **attrs)

    def stop_spark(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:
                pass
        SparkContext._gateway = None
        SparkContext._jvm = None
        proc = self._gateway_proc
        if proc is not None:
            # the JVM exits when its stdin closes
            try:
                proc.stdin.close()
            except Exception:
                pass
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def close(self) -> None:
        """Stop everything the run started and remove its directory. Each
        step runs even when an earlier one fails: the run may be unwinding
        from an error or a SIGTERM in the middle of a Spark call."""
        import multiprocessing.forkserver as fs
        import multiprocessing.resource_tracker as rt

        steps = [*reversed(self.closers), self.stop_spark, self.sampler.stop]
        steps += [getattr(fs._forkserver, "_stop", None),
                  getattr(rt._resource_tracker, "_stop", None)]
        self.closers = []
        try:
            for step in steps:
                if step is None:
                    continue
                try:
                    step()
                except Exception as e:  # noqa: BLE001 - keep cleaning up
                    print(f"cleanup step {step!r} failed: {e!r}", file=sys.stderr)
        finally:
            shutil.rmtree(self.dir, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(self.dir))
            except OSError:
                pass


def provenance(run: Run) -> dict:
    import numpy
    import pyarrow
    import pyspark

    from procstat import steal_seconds

    return {
        "workload": run.args.workload, "seed": run.args.seed,
        "seed_used": run.seed, "seconds": run.seconds,
        "trace": int(run.trace), "nproc": run.cores, "git_rev": git_rev(),
        "source_digest": source_digest(), "python": sys.version.split()[0],
        "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__, "failures": run.failures,
        "extra_metrics": run.extra,
        "cpu_steal_s": round(steal_seconds() - run.steal0, 2),
        "wall_s": {k: round(v, 3) for k, v in run.wall.items()},
        "group_wall_s": {k: round(v, 3) for k, v in run.group_wall.items()},
    }


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default=None,
                    help="spark_batch only: directory of the sf tables")
    ap.add_argument("--trace-out", default=None,
                    help="traced runs: write the spans here as JSON lines")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "semadb_spark")):
        print(f"semadb_spark not found beside {HERE}; run from a source checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # relative paths (the multiprocessing temp dir) resolve against the root
    os.chdir(ROOT)
    # Spark's Python workers run this interpreter, whatever ``python`` or
    # ``python3`` on PATH would be
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    import importlib
    import signal

    # SIGTERM unwinds like an exception, so the cleanup below still runs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    workload = importlib.import_module(args.workload)
    t0 = time.perf_counter()
    run = Run(args)
    try:
        workload.run(run)
    finally:
        run.close()
    run.wall["total"] = time.perf_counter() - t0
    out = run.layers if run.trace else run.metrics
    print(json.dumps({"provenance": provenance(run)}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
