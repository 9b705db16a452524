"""Pipeline benchmark: one command per workload run.

    python3 pipebench/run.py --workload batch_json_actions --seed 1 --seconds 10 --trace 0

``--trace 0`` measures the end-to-end metrics with tracing off.
``--trace 1`` is the separate traced run: it reports the per-layer
metrics, prints self time per layer and writes its spans to
``.pipebench_work/trace-*.jsonl``.  The last line of standard output is
the result object ``{"correct", "attempted", "failed", "metrics"}``;
the line before it gives each metric's sample count.

Run from the root of a checkout: the benchmark imports the engine
(``file_d_spark``) from there and exits non-zero without a result when
it is missing.  See pipebench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import (  # noqa: E402
    ROOT,
    WORK,
    Session,
    log,
    Tracer,
    prepare_env,
    session_layer_metrics,
    setup_metrics,
)

#: size of the log workload a traced run measures besides its own, so
#: the traced run reports every layer without taking two runs' time
COMPANION_SCALE = 0.25
COMPANION_STREAM_S = 3.0


def workloads():
    import wl_batch
    import wl_corpus
    import wl_stream

    return {m.NAME: m for m in (wl_batch, wl_stream, wl_corpus)}


def untraced(sess: Session, name: str, seed: int, seconds: float) -> dict:
    res = workloads()[name].run(sess, seed, seconds)
    res["metrics"].update(setup_metrics(sess))
    return res


def traced(sess: Session, name: str, seed: int, seconds: float) -> dict:
    """Every layer, measured from outside: the named workload at full
    size, the other log workload at companion size, and the corpus
    chain (the ``functions`` layer) at full size."""
    import wl_batch
    import wl_corpus
    import wl_stream

    if name == wl_stream.NAME:
        sess.setup(wl_stream.prepare()[1], wl_stream.compile_stream)
    elif name == wl_corpus.NAME:
        sess.setup(wl_corpus.config(wl_corpus.prepare(seed)), wl_corpus.compile_chain)
    else:
        sess.setup(wl_batch.config(wl_batch.prepare(seed)), wl_batch.compile_chain)
    layers = session_layer_metrics(sess)

    batch_scale = 1.0 if name == wl_batch.NAME else COMPANION_SCALE
    stream_s = seconds if name == wl_stream.NAME else COMPANION_STREAM_S
    parts = [
        wl_batch.trace(sess, seed, batch_scale),
        wl_corpus.trace(sess, seed),
        wl_stream.trace(sess, seed, stream_s),
    ]
    for part in parts:
        layers.update(part["layers"])
    layers.update(wl_batch.trace_cores1(sess, seed, batch_scale))
    return {
        "correct": all(p["correct"] for p in parts),
        "attempted": sum(p["attempted"] for p in parts),
        "failed": sum(p["failed"] for p in parts),
        "info": parts[2]["info"],
        "metrics": layers,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="file_d_spark pipeline benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    names = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    if a.workload not in workloads():
        ap.error(f"unknown workload {a.workload!r}; known {sorted(workloads())}")

    prepare_env()
    import file_d_spark  # noqa: F401  (the engine under test; absent -> exit 1)

    tracer = Tracer(enabled=bool(a.trace))
    sess = Session(tracer)
    try:
        if a.trace:
            res = traced(sess, a.workload, a.seed, a.seconds)
        else:
            res = untraced(sess, a.workload, a.seed, a.seconds)
    finally:
        sess.close()
        log("session closed")

    metrics = res["metrics"]
    missing = [n for n in names if n not in metrics]
    if missing:
        raise SystemExit(f"benchmark produced no value for {missing}")
    correct = bool(res["correct"])
    for n in names:
        if not math.isfinite(metrics[n]["value"]):
            correct = False
            metrics[n]["value"] = -1.0
    if a.trace:
        path = os.path.join(WORK, f"trace-{a.workload}-s{a.seed}-{tracer.run_id}.jsonl")
        tracer.dump(path)
        print(json.dumps({"self_s": tracer.self_times(), "spans": os.path.relpath(path, ROOT)}))
    if "info" in res:
        print(json.dumps({"info": res["info"]}))
    print(json.dumps({"samples": {n: metrics[n]["samples"] for n in names}}))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": int(res["attempted"]),
                "failed": int(res["failed"]),
                "metrics": {n: {"value": metrics[n]["value"], "unit": metrics[n]["unit"]} for n in names},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
