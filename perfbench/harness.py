"""Measurement harness shared by the workloads.

- ``Bench`` owns one run: its arguments, its scratch directories inside the
  checkout, the Spark session, the tracer and the op accounting.
- ``Tracer`` keeps spans (name, start, end, parent, run id) in memory and
  writes them out when the run ends; a disabled tracer records nothing.
- Timings are reported as medians over ops or passes, never as one sample.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

# A cached input is kept for this many seeds; older ones are deleted so a
# run over many seeds cannot fill the disk.
CACHE_KEEP = 6
# Set-ups after the timed window; ``setup_s`` is their median.
WARM_SETUPS = 3
SETTLE_S = 0.3


def cached(root: str, generate) -> dict:
    """The manifest of the input directory ``root``, calling
    ``generate(dir) -> manifest`` to write it on first use. A half-written
    input is never reused: the manifest is written last and the directory is
    promoted by rename."""
    manifest_path = os.path.join(root, "manifest.json")
    if not os.path.exists(manifest_path):
        tmp = root + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        manifest = generate(tmp)
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump(manifest, f, indent=1)
        shutil.rmtree(root, ignore_errors=True)
        os.rename(tmp, root)
    with open(manifest_path) as f:
        return json.load(f)


def noop(df) -> None:
    """Execute ``df`` fully into Spark's ``noop`` sink."""
    df.write.format("noop").mode("overwrite").save()


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def p90(xs: list[float]) -> float:
    if len(xs) < 2:
        return xs[0]
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


class Tracer:
    """Spans around calls into the engine's layers, kept in memory."""

    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        span = {"id": len(self.spans), "name": name, "run": self.run_id,
                "parent": self._stack[-1] if self._stack else None,
                "start": time.perf_counter(), "end": None}
        self.spans.append(span)
        self._stack.append(span["id"])
        try:
            yield
        finally:
            self._stack.pop()
            span["end"] = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus the
        time its children cover (children of one span never overlap)."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class Bench:
    """One run of one workload."""

    def __init__(self, root: str, workload: str, seed: int, seconds: int, trace: bool) -> None:
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.t_start = time.perf_counter()
        self.cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
        self.work = os.path.join(root, "perfbench", ".work")
        self.cache = os.path.join(self.work, "cache")
        self.scratch = os.path.join(self.work, f"run-{workload}")
        shutil.rmtree(self.scratch, ignore_errors=True)
        for d in ("tmp", "spark-local", "eventlog", "out"):
            os.makedirs(os.path.join(self.scratch, d))
        os.makedirs(self.cache, exist_ok=True)
        # Python workers import the engine from the checkout; temporary
        # files of this process and of the JVM stay inside the checkout.
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p)
        os.environ["TMPDIR"] = os.path.join(self.scratch, "tmp")
        self.tracer = Tracer(trace, f"{workload}-{seed}")
        self.spark = None
        self.build_times: list[float] = []
        self.setup_times: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def log(self, what: str) -> None:
        """Progress note on stderr, with seconds since the run started."""
        print(f"[{time.perf_counter() - self.t_start:7.1f}s] {self.workload}: {what}",
              file=sys.stderr, flush=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.scratch, "out", *parts)

    def evict_cache(self, prefix: str) -> None:
        entries = sorted(glob.glob(os.path.join(self.cache, prefix + "*")), key=os.path.getmtime)
        for old in entries[:-CACHE_KEEP]:
            shutil.rmtree(old, ignore_errors=True)

    # -- session ---------------------------------------------------------

    def build_session(self):
        """``session.build_session`` defaults plus ``local[$SPARK_GRAFT_CPUS]``.
        The only extra settings are scratch paths inside the checkout and, in
        a traced run, the event log."""
        from kinesis_logs_reader_spark.session import build_session

        tmp = os.path.join(self.scratch, "tmp")
        extra = {
            "spark.local.dir": os.path.join(self.scratch, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        }
        if self.trace:
            extra["spark.eventLog.enabled"] = "true"
            extra["spark.eventLog.dir"] = "file://" + os.path.join(self.scratch, "eventlog")
            extra["spark.eventLog.compress"] = "false"
        t0 = self.t_session = time.perf_counter()
        self.spark = build_session(app_name=f"perfbench-{self.workload}",
                                   master=f"local[{self.cpus}]", extra_conf=extra)
        self.build_times.append(time.perf_counter() - t0)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def setup(self, prepare):
        """One set-up: session build, ``prepare(spark)`` (plan construction)
        and the session's first job. Returns what ``prepare`` returns and
        records the time. The cold first executions of the workload's own
        ops are left to the warm-up, which is timed on its own.

        The first set-up of a run also launches the JVM, and the timed
        window runs in that first session. The warm set-ups
        (``warm_setups``) come after the window, because a Python UDF
        defined before a session restart keeps reporting to the stopped
        session."""
        self.stop_session()
        t0 = time.perf_counter()
        self.build_session()
        state = prepare(self.spark)
        self.spark.range(1).write.format("noop").mode("overwrite").save()
        self.setup_times.append(time.perf_counter() - t0)
        self.log(f"set-up {self.setup_times[-1]:.2f}s")
        return state

    def warm_setups(self, prepare) -> tuple[float, int]:
        """``WARM_SETUPS`` set-ups in the running JVM; returns their median
        and count. The first set-up, which launches the JVM, is left out:
        its time swings by seconds with the host's load and would make the
        median a pick between two or three unlike samples."""
        for _ in range(WARM_SETUPS):
            self.stop_session()
            # The stopped session's teardown (its Python workers, listener
            # bus and cleaner threads) finishes in the background; let it
            # end before the next set-up is timed.
            time.sleep(SETTLE_S)
            self.setup(prepare)
        warm = self.setup_times[1:]
        return median(warm), len(warm)

    def floor_ms(self, n: int = 15) -> float:
        """Median wall time of a 1-row noop job: the engine's per-job floor."""
        out = []
        for _ in range(n):
            t0 = time.perf_counter()
            self.spark.range(1).write.format("noop").mode("overwrite").save()
            out.append(time.perf_counter() - t0)
        return median(out) * 1000

    # -- ops ---------------------------------------------------------------

    def attempt(self, op, *args):
        """Run one op; an exception counts as a failed op and returns None."""
        self.attempted += 1
        try:
            return op(*args)
        except Exception:
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=3))
            return None

    def check(self, ok: bool, what: str) -> bool:
        """A correctness check is an op: a mismatch counts as failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"mismatch: {what}")
        return ok

    def warm_up(self, op, rounds: int) -> None:
        """Repeat ``op`` (untimed; it returns its duration) ``rounds`` times.

        Warm rounds keep getting faster long after the first (JIT): on a
        4-vCPU host, an analytics-mix pass went 3.9 -> 2.3 s over eleven
        passes and was still falling by about 2 % a pass, further than a run
        can afford to wait. A fixed number of rounds gives every run the same warm-up
        work, so the timed window starts at the same point of that curve.
        """
        durations = [op() for _ in range(rounds)]
        self.log(f"warm-up {[round(d, 2) for d in durations]}")

    # -- event log -----------------------------------------------------------

    def executor_metrics(self, wall_s: float) -> dict[str, float]:
        """Task totals from the event log of the traced phase (parsed after
        the session that wrote it has stopped)."""
        tot = {"tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
               "shuffle_read_bytes": 0, "shuffle_write_bytes": 0}
        for path in glob.glob(os.path.join(self.scratch, "eventlog", "**", "events_*"),
                              recursive=True):
            with open(path) as f:
                for line in f:
                    if '"SparkListenerTaskEnd"' not in line:
                        continue
                    m = json.loads(line).get("Task Metrics") or {}
                    tot["tasks"] += 1
                    tot["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    tot["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    tot["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    r = m.get("Shuffle Read Metrics") or {}
                    tot["shuffle_read_bytes"] += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
                    tot["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        tot["busy_share"] = tot["run_s"] / (wall_s * self.cpus) if wall_s > 0 else 0.0
        return {f"executor.{k}": v for k, v in tot.items()}

    # -- tracing overhead ------------------------------------------------

    def code_version(self) -> str:
        """A digest of the engine's and the benchmark's source files, so that
        untraced runs of other code are never compared with this one."""
        h = hashlib.sha256()
        for pkg in ("kinesis_logs_reader_spark", "perfbench"):
            for path in sorted(glob.glob(os.path.join(self.root, pkg, "**", "*.py"),
                                         recursive=True)):
                h.update(os.path.relpath(path, self.root).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
        return h.hexdigest()[:16]

    def record_e2e(self, metrics: dict[str, tuple[float, int]]) -> None:
        """Keep an untraced run's end-to-end values, tagged with the code
        version and the window length, for the traced run's overhead
        estimate."""
        with open(os.path.join(self.work, f"e2e-{self.workload}.jsonl"), "a") as f:
            f.write(json.dumps({"code": self.code_version(), "seconds": self.seconds,
                                "seed": self.seed,
                                "metrics": {k: v for k, (v, _) in metrics.items()}}) + "\n")

    def overhead_pct(self, name: str, traced: float) -> tuple[float, int]:
        """How much lower ``name`` (a higher-is-better rate) reads with
        tracing on than the median of the untraced runs made in this
        checkout with the same code and window length; 0 from 0 runs when
        there is none yet."""
        key = {"code": self.code_version(), "seconds": self.seconds}
        values = []
        with contextlib.suppress(OSError):
            with open(os.path.join(self.work, f"e2e-{self.workload}.jsonl")) as f:
                for line in f:
                    rec = json.loads(line)
                    if all(rec.get(k) == v for k, v in key.items()):
                        values.append(rec["metrics"][name])
        if not values:
            self.log("no untraced run of this code yet: tracing overhead not measured")
            return 0.0, 0
        untraced = median(values)
        return 100 * (untraced - traced) / untraced, len(values)

    # -- end of run ----------------------------------------------------------

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.stop_session()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        if self.trace:
            self.tracer.write(os.path.join(self.work, f"spans-{self.workload}-{self.seed}.jsonl"))
            total: dict[str, float] = {}
            for name in {s["name"] for s in self.tracer.spans}:
                total[name] = sum(self.tracer.durations(name))
            own = self.tracer.self_times()
            for name in sorted(total, key=total.get, reverse=True):
                print(f"span {name}: total {total[name]:.3f}s self {own[name]:.3f}s",
                      file=sys.stderr)


def emit(bench: Bench, metrics: dict[str, tuple[float, str, int]], correct: bool) -> None:
    """Print every metric by name with unit and sample count, then the
    one-line JSON result (the last line of stdout)."""
    for name, (value, unit, n) in metrics.items():
        print(f"{bench.workload} {name} = {value:.6g} {unit} (samples {n})")
    print(f"{bench.workload} ops attempted {bench.attempted} failed {bench.failed}")
    print(json.dumps({
        "correct": correct and bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()},
    }))
