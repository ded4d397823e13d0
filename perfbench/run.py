"""Benchmark entry point: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload catalog_rw --seed 1 --seconds 6 --trace 0

Run from the repository root. The last stdout line is a JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. A
traced run runs untraced and traced cycles in ABBA order for twice
``--seconds`` (at least four cycles) and reports the traced/untraced
latency ratio as ``tracing.overhead_pct``. ``--small`` shrinks every input for the
self-test. See ``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import ROOT, Ctx, cleanup, pin_environment, start_spark  # noqa: E402

SETUP_REPS = 3


def workloads():
    from analytics_mix import AnalyticsMix
    from catalog_rw import CatalogRW
    from corpus_build_serve import CorpusBuildServe

    return {w.name: w for w in (CatalogRW, AnalyticsMix, CorpusBuildServe)}


def install_wrappers(tracer) -> None:
    """Spans and counters inside the package, around the calls the
    benchmark's operations make into each layer."""
    import ethical_data_ingestion_spark.registry  # noqa: F401 — imports every query module
    from ethical_data_ingestion_spark import (
        ann_store, catalog, cli, curate, export, io, materialize)
    from ethical_data_ingestion_spark.streaming import pipeline

    del ann_store, cli, curate  # imported so their bindings get patched
    tracer.wrap(catalog, "upsert_ignore", "catalog.upsert")
    tracer.wrap(export, "export", "export.write")
    tracer.wrap(pipeline, "run_available_now", "streaming.pipeline.drain")
    tracer.wrap(io, "load_table", "io.load_table",
                before=lambda a, k: tracer.count("io.load_table.calls"))
    tracer.wrap(materialize, "materialize", "materialize.pin")

    def shared_before(args, kwargs):
        key, spark = args[0], args[1]
        hit = materialize._SHARED.get(key)
        ok = hit is not None and hit[0] is spark
        tracer.count("materialize.shared_hits" if ok else "materialize.shared_misses")

    tracer.wrap(materialize, "shared", "materialize.shared", before=shared_before)
    tracer.wrap(
        materialize, "shared_get", "materialize.shared_get",
        after=lambda res, _: tracer.count(
            "materialize.shared_hits" if res is not None else "materialize.shared_misses"),
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — last resort: never leave the JVM behind
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--small", action="store_true", help="tiny inputs (self-test)")
    a = p.parse_args(argv)

    t_start = time.perf_counter()
    work = os.path.join(ROOT, ".perfbench", "runs",
                        f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    pin_environment(work)
    try:
        import ethical_data_ingestion_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package under test is missing: {e}", file=sys.stderr)
        return 2
    wl_cls = workloads().get(a.workload)
    if wl_cls is None:
        print(f"perfbench: unknown workload {a.workload!r}", file=sys.stderr)
        return 2

    ctx = Ctx(a.workload, a.seed, a.seconds, bool(a.trace), a.small, work)
    ctx.spark = start_spark(work)
    import ethical_data_ingestion_spark.registry  # noqa: F401
    start_s = time.perf_counter() - t_start
    try:
        wl = wl_cls(ctx)
        prep = []
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            wl.prepare(rep)
            prep.append(time.perf_counter() - t)
        t = time.perf_counter()
        if hasattr(wl, "load"):
            wl.load()
        load_s = time.perf_counter() - t
        t = time.perf_counter()
        if hasattr(wl, "prepare_checks"):
            wl.prepare_checks()
        phases = {"start": start_s, "prepare": sum(prep), "load": load_s,
                  "checks": time.perf_counter() - t}
        t = time.perf_counter()
        wl.warmup()
        phases["warmup"] = time.perf_counter() - t
        setup_s = start_s + statistics.median(prep) + load_s + phases["warmup"]

        if ctx.trace:
            install_wrappers(ctx.tracer)
            ctx.tracer.enabled = True
        t = time.perf_counter()
        if hasattr(wl, "cold"):
            wl.cold()
        phases["cold"] = time.perf_counter() - t
        window = a.seconds * (2 if ctx.trace else 1)
        min_cycles = max(getattr(wl, "min_cycles", 1), 4 if ctx.trace else 1)
        if ctx.trace:
            # JIT warm-up and the growing catalog make later cycles differ
            # from earlier ones: one more unrecorded cycle, then traced and
            # untraced cycles in ABBA order, keep that out of the ratio
            ctx.tracer.enabled = False
            wl.cycle(-1, record=False)
        # a workload whose cold phase dominates runs a fixed number of
        # cycles, so that its figures do not jump with the cycle count
        max_cycles = getattr(wl, "max_cycles", None)
        if max_cycles is not None:
            max_cycles = max(max_cycles, min_cycles)
        t0, i = time.perf_counter(), 0
        while i < min_cycles or (time.perf_counter() - t0 < window
                                 and (max_cycles is None or i < max_cycles)):
            ctx.tracer.enabled = ctx.trace and i % 4 in (1, 2)
            wl.cycle(i)
            i += 1
        ctx.tracer.enabled = False
        phases["loop"] = time.perf_counter() - t0
        print("perfbench: phases " + ", ".join(f"{k} {v:.1f}s" for k, v in phases.items())
              + f", {i} cycles", file=sys.stderr)
        for kind in sorted({s[0] for s in ctx.samples}):
            v = [s[2] for s in ctx.samples if s[0] == kind]
            print(f"perfbench: {kind} n={len(v)} p50={statistics.median(v):.3f}s "
                  f"max={max(v):.3f}s", file=sys.stderr)

        extra = wl.finish()
        extra["session.start_ms"] = 1000.0 * start_s
        extra["io.preresolve_ms"] = 1000.0 * load_s
        if ctx.trace:
            from metrics import per_layer

            out = ctx.result(setup_s, [], per_layer(ctx, extra))
            ctx.tracer.dump(os.path.join(work, "spans.jsonl"))
        else:
            from metrics import E2E

            out = ctx.result(setup_s, E2E, {})
    finally:
        ctx.tracer.unwrap_all()
        stop_spark(ctx.spark)
    cleanup(work)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
