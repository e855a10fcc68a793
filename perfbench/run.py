"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Builds nothing: the package is imported
from the checkout's source.  Workloads are closed loops of one driver
process on ``local[<cores>]``; each issues its next wave or batch
only after the previous one has finished.

``--trace 0`` measures the end-to-end metrics; ``--trace 1`` measures the
per-layer metrics (and the tracing overhead) in a separate run.  The last
line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; the lines before it record the
box and the details behind each number.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
WORKLOADS = ("wave-crawl", "stream-growth")


def _spec() -> dict:
    with open(HERE.parent / "BENCHMARK.json") as f:
        return json.load(f)


def _fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _module(workload: str):
    if workload == "wave-crawl":
        from perfbench import wave_crawl as m
    else:
        from perfbench import stream_growth as m
    return m


def run_workload(sess, workload: str, seed: int, seconds: float, trace: bool, toy: bool) -> dict:
    """Run one workload on an open session and return the result record
    (metrics named as in BENCHMARK.json, plus details)."""
    from perfbench.tracing import Tracer

    mod = _module(workload)
    size = mod.TOY if toy else mod.Size()
    tracer = Tracer(sess.spark, trace)
    out = mod.run(sess, seed, seconds, tracer, size)
    ops = out["ops"]
    durs = ops.durations
    metrics: dict[str, dict] = {}
    if trace:
        out["layers"].setdefault("session.start_s", sess.start_s)
        for m in _spec()["per_layer"]:
            metrics[m["name"]] = {"value": float(out["layers"].get(m["name"], 0.0)), "unit": m["unit"]}
    else:
        from perfbench.common import median

        values = {
            "setup_s": out["setup_s"],
            "urls_per_cpu_s": sum(ops.units) / sum(ops.cpu) if ops.cpu else 0.0,
            "op_p50_cpu_s": median(ops.cpu) if ops.cpu else 0.0,
            "op_max_cpu_s": max(ops.cpu) if ops.cpu else 0.0,
        }
        for m in _spec()["end_to_end"]:
            if m["name"] in values:
                metrics[m["name"]] = {"value": float(values[m["name"]]), "unit": m["unit"]}
    correct = ops.failed == 0 and ops.attempted > 0
    return {
        "correct": correct,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": metrics,
        "windows": ops.windows,
        "detail": {
            "workload": workload,
            "samples": len(durs),
            "op_seconds": [round(d, 4) for d in durs],
            "op_cpu_seconds": [round(c, 3) for c in ops.cpu],
            "urls_per_s": sum(ops.units) / sum(durs) if durs else 0.0,
            "checks": ops.checks,
            **out["info"],
        },
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(HERE.parent))
    try:
        import pyspark  # noqa: F401

        import crawler_apple_podcast_spark  # noqa: F401
    except ImportError as e:
        _fail(f"cannot import the program under test from {HERE.parent}: {e}")

    from perfbench.common import (
        RssSampler,
        box_record,
        cpu_ticks,
        fresh_work_dir,
        remove_work_dir,
        start_session,
        stop_session,
    )

    box = box_record()
    ticks0 = cpu_ticks()
    work = fresh_work_dir(args.workload)
    sess = None
    sampler = None
    try:
        sess = start_session(work, f"perfbench-{args.workload}")
        if sess.jvm_pid is not None:
            sampler = RssSampler(sess.jvm_pid).start()
        result = run_workload(
            sess, args.workload, args.seed, args.seconds, bool(args.trace), toy=False
        )
        if sampler is not None:
            sampler.stop()
        if not args.trace:
            peak = sampler.peak_within(result.pop("windows")) if sampler else 0.0
            result["metrics"]["peak_rss_mb"] = {"value": peak, "unit": "MB"}
            order = [m["name"] for m in _spec()["end_to_end"]]
            result["metrics"] = {k: result["metrics"][k] for k in order}
        steal, total = (b - a for a, b in zip(ticks0, cpu_ticks()))
        box.update(cores_used=sess.cores, driver_heap_mb=sess.heap_mb, session_start_s=sess.start_s,
                   cpu_steal_share=round(steal / max(total, 1), 4))
    except Exception:
        traceback.print_exc()
        _fail("run aborted", 1)
    finally:
        if sampler is not None:
            sampler.stop()
        if sess is not None:
            stop_session(sess)
        remove_work_dir(work)

    print(json.dumps({"box": box, **result["detail"]}, default=str))
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    t0 = time.perf_counter()
    code = main()
    print(f"perfbench: total {time.perf_counter() - t0:.1f}s", file=sys.stderr)
    sys.exit(code)
