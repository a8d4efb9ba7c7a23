"""Benchmark entry point.

    python3 perfbench/run.py --workload {build-merge,search,ingest-search}
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout.  The program under test is the
``tantivy_spark`` package next to this directory.  Prints a metric table,
then, as the last line of standard output, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Everything the run writes stays under ``perfbench/.work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(HERE, ".work")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _import_program():
    """Import tantivy_spark from this checkout, and only from it."""
    sys.path.insert(0, ROOT)
    import tantivy_spark

    where = os.path.dirname(os.path.abspath(tantivy_spark.__file__))
    if os.path.dirname(where) != ROOT:
        raise ImportError(f"tantivy_spark imported from {where}, not {ROOT}")


def _table(title: str, metrics: dict, units: dict) -> None:
    print(f"== {title}")
    for name, v in metrics.items():
        print(f"  {name:<34} {v:>16.4f} {units.get(name, '')}")


def main(argv: list[str] | None = None) -> int:
    from perfbench import env
    from perfbench.tracer import Tracer
    from perfbench.workloads import WORKLOADS, Ctx

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec = _spec()
    _import_program()
    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    machine = env.configure(work)

    with env.RssSampler() as rss:
        t0 = time.perf_counter()
        spark = env.start_session(machine["nproc"])
        session_s = time.perf_counter() - t0
        try:
            ctx = Ctx(spark=spark, tracer=Tracer(spark, enabled=False),
                      rss=rss, seed=args.seed, seconds=args.seconds,
                      work=work, trace=bool(args.trace))
            ctx.setup["session_s"] = session_s
            e2e, per_layer = WORKLOADS[args.workload](ctx)
        finally:
            env.stop_session(spark)
    e2e["setup_s"] = ctx.setup_s()
    e2e["peak_rss_mb"] = rss.peak_mb
    per_layer["memory.worker_peak_mb"] = rss.worker_peak_mb
    per_layer["trace.bookkeeping_ms"] = \
        1e3 * ctx.tracer.bookkeeping_s / max(1, len(ctx.tracer.spans))

    info = {"workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, **machine, **env.versions(),
            "loadavg": env.loadavg(), "setup_parts_s": ctx.setup,
            "errors": ctx.errors}
    units = {m["name"]: m["unit"]
             for m in spec["end_to_end"] + spec["per_layer"]}
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = per_layer if args.trace else e2e
    metrics = {m["name"]: {"value": float(source[m["name"]]), "unit": m["unit"]}
               for m in wanted if m["name"] in source}
    missing = [m["name"] for m in wanted if m["name"] not in source]
    if missing:
        raise RuntimeError(f"workload produced no value for {missing}")

    print(json.dumps(info, default=str))
    _table(f"{args.workload} end to end ({'traced' if args.trace else 'untraced'} run)",
           e2e, units)
    if args.trace:
        _table(f"{args.workload} per layer", per_layer, units)
        os.makedirs(os.path.join(WORK_ROOT, "spans"), exist_ok=True)
        path = os.path.join(WORK_ROOT, "spans",
                            f"{args.workload}-seed{args.seed}.json")
        ctx.tracer.dump(path, {"info": info, "end_to_end": e2e,
                               "per_layer": per_layer})
        print(f"spans written to {os.path.relpath(path, ROOT)}")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": ctx.failed == 0 and ctx.attempted > 0,
                      "attempted": ctx.attempted, "failed": ctx.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
