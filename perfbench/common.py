"""Run context shared by the workloads: environment pinning, the Spark
session, timed and traced operations, correctness accounting and the
metric summary printed as the run's last line."""

from __future__ import annotations

import math
import os
import resource
import shutil
import statistics
import sys
import time
import traceback

from tracing import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def pin_environment(work: str) -> None:
    """Everything the engine and its Python workers write goes under
    ``work``; the session uses one core per CPU. Must run before the JVM
    starts, because the launcher and the workers inherit this environment."""
    for sub in ("tmp", "scratch", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(os.cpu_count() or 1),
        SPARK_GRAFT_SCRATCH=os.path.join(work, "scratch"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_DRIVER_MEM=os.environ.get("SPARK_GRAFT_DRIVER_MEM", "3g"),
        TMPDIR=os.path.join(work, "tmp"),
        PYTHONWARNINGS="ignore",
        # every JVM the launcher starts: temp files under ``work``, and no
        # hsperfdata file in the system temp dir
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp",
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_spark(work: str):
    from ethical_data_ingestion_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile, ``q`` in [0, 100]."""
    s = sorted(values)
    return s[max(0, math.ceil(q / 100.0 * len(s)) - 1)]


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value) of the highest whole percentile that leaves at
    least ten samples above it; (0, 0) with fewer than 20 samples."""
    n = len(values)
    if n < 20:
        return 0.0, 0.0
    q = math.floor(100.0 * (n - 10) / n)
    return float(q), percentile(values, q)


def dir_stats(path: str) -> tuple[int, float]:
    """(data files, MB) under ``path``, skipping hidden/underscore files."""
    files, size = 0, 0
    for base, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(base, n))
    return files, size / 1e6


class Ctx:
    """One benchmark run: the session, its tracer and every sample."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 small: bool, work: str) -> None:
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace, self.small, self.work = trace, small, work
        self.tracer = Tracer()
        self.spark = None
        self.attempted = 0
        self.failed = 0
        #: (kind, name, seconds, traced)
        self.samples: list[tuple[str, str, float, bool]] = []
        self.pinned_peak = 0.0
        self._ops = 0
        self._gc = None

    # -- correctness ---------------------------------------------------------
    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.fail(what)
        return ok

    # -- timed operations ----------------------------------------------------
    def op(self, kind: str, layer: str, build, name: str | None = None,
           lazy: bool = True, record: bool = True):
        """Run one operation and time it. With ``lazy``, ``build()`` returns
        a DataFrame (or a tuple of them) that is planned and collected inside
        the timed region, and the result is ``(columns, rows)`` per frame;
        otherwise ``build()`` does the work and its return value is the
        result. ``record=False`` (warm-up) keeps the sample out of the
        metrics. Returns None if the operation raised."""
        tr = self.tracer
        self.attempted += 1
        self._ops += 1
        op_id = f"{kind}-{self._ops}"
        traced = tr.enabled
        if traced:
            self.spark.sparkContext.setJobGroup(op_id, op_id)
            gc0 = self._gc_ms()
        t0 = time.perf_counter()
        try:
            with tr.span(layer, op_id):
                if not lazy:
                    out = build()
                else:
                    with tr.span(layer + ".plan"):
                        out = build()
                        frames = out if isinstance(out, tuple) else (out,)
                        if traced:
                            for f in frames:
                                f._jdf.queryExecution().executedPlan()
                    with tr.span(layer + ".exec"):
                        res = [(f.columns, [tuple(r) for r in f.collect()]) for f in frames]
                    out = tuple(res) if isinstance(out, tuple) else res[0]
            dt = time.perf_counter() - t0
        except Exception:  # noqa: BLE001 — a failing operation is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            self.fail(f"{kind} {name or ''} raised")
            return None
        if record:
            self.samples.append((kind, name or kind, dt, traced))
        if traced:
            self._spark_counters(op_id, gc0)
        return out

    def _gc_ms(self) -> float:
        if self._gc is None:
            mf = self.spark._jvm.java.lang.management.ManagementFactory
            self._gc = list(mf.getGarbageCollectorMXBeans())
        return float(sum(max(b.getCollectionTime(), 0) for b in self._gc))

    def _spark_counters(self, op_id: str, gc0: float) -> None:
        from ethical_data_ingestion_spark import materialize

        tr = self.tracer
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(op_id)
        stages = [s for j in jobs if (ji := st.getJobInfo(j)) for s in ji.stageIds]
        tasks = sum(si.numTasks for s in stages if (si := st.getStageInfo(s)))
        tr.count("spark.jobs", len(jobs))
        tr.count("spark.stages", len(stages))
        tr.count("spark.tasks", tasks)
        tr.count("spark.gc_ms", self._gc_ms() - gc0)
        tr.count("ops", 1)
        self.pinned_peak = max(self.pinned_peak, materialize.pinned_bytes(self.spark) / 1e6)

    # -- summaries -----------------------------------------------------------
    def untraced(self, kind: str | None = None) -> list[float]:
        return [s[2] for s in self.samples if not s[3] and (kind is None or s[0] == kind)]

    def peak_rss_mb(self) -> float:
        jvm_kb = 0
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (jvm_kb + own_kb) / 1024.0

    def overhead_pct(self) -> float:
        """Traced over untraced mean latency, per operation name, as the
        geometric mean of the ratios, in percent."""
        by: dict[tuple[str, bool], list[float]] = {}
        for _, name, dt, traced in self.samples:
            by.setdefault((name, traced), []).append(dt)
        logs = [math.log(statistics.fmean(by[(n, True)]) / statistics.fmean(by[(n, False)]))
                for (n, t) in by if t and (n, False) in by]
        return 100.0 * (math.exp(statistics.fmean(logs)) - 1.0) if logs else 0.0

    def result(self, setup_s: float, e2e: list[str], per_layer: dict[str, tuple[float, str]]) -> dict:
        lat = self.untraced()
        if self.trace:
            metrics = per_layer
        else:
            allm = {
                "setup_s": (setup_s, "s"),
                "op_p50_ms": (1000.0 * statistics.median(lat) if lat else 0.0, "ms"),
                "ops_per_s": (len(lat) / sum(lat) if lat else 0.0, "1/s"),
            }
            metrics = {k: allm[k] for k in e2e}
        return {
            "correct": self.failed == 0,
            "attempted": max(self.attempted, 1),
            "failed": self.failed,
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
        }


def cleanup(work: str, keep: tuple[str, ...] = ("spans.jsonl",)) -> None:
    """Remove the run's data, warehouse and scratch, keeping only ``keep``."""
    for name in os.listdir(work):
        if name in keep:
            continue
        p = os.path.join(work, name)
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
        else:
            os.remove(p)
