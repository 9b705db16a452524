"""``batch_json_actions``: JSON log lines through the file input, the
``json`` decoder and a six-action chain into the ``devnull`` sink.

Nearly all of the work is in ``sources``, ``decoders`` and
``actions``; there is no state, no shuffle and no real write.
"""

from __future__ import annotations

import time

from common import (
    Session,
    cached_input,
    log,
    measure_passes,
    median,
    metric,
    pass_metrics,
    read_manifest,
)
from gen import BATCH_SCHEMA, EVENTS
from reference import batch_reference, spark_digest

NAME = "batch_json_actions"
MIN_PASSES = 5
#: repetitions of each pipeline prefix in the traced run
PREFIX_REPS = 3

#: the six-action chain, in config order, keyed by its metric name
ACTIONS = [
    ("discard", {"type": "discard", "do_if": {"op": "equal", "field": "level", "values": ["debug"]}}),
    (
        "mask",
        {
            "type": "mask",
            "masks": [{"re": r"(\d{4}) (\d{4}) (\d{4}) (\d{4})", "groups": [1, 2, 3]}],
            "process_fields": ["msg"],
        },
    ),
    ("modify", {"type": "modify", "route": "${service}/${level}"}),
    ("rename", {"type": "rename", "host": "node"}),
    ("json_extract", {"type": "json_extract", "field": "props", "extract_fields": ["region", "latency_ms"]}),
    ("remove_fields", {"type": "remove_fields", "fields": ["debug_blob", "props"]}),
]


def config(
    input_dir: str, n_actions: int = len(ACTIONS), decode: bool = True, files: str = "part-*.json"
) -> dict:
    """Pipeline config; ``decode=False`` reads raw lines (source only)."""
    settings = {"decoder": "json", "schema": BATCH_SCHEMA} if decode else {"decoder": "raw"}
    return {
        "settings": settings,
        "input": {"type": "file", "watching_dir": input_dir, "filename_pattern": files},
        "actions": [a for _, a in ACTIONS[:n_actions]],
        "output": {"type": "devnull"},
    }


def prepare(seed: int, scale: float = 1.0) -> str:
    return cached_input("batch", seed, ["--events", str(int(EVENTS * scale))])


def compile_chain(spark, pipe):
    return pipe.run_batch(spark)


def one_pass(sess: Session, cfg: dict, traced: bool = False):
    """Build the pipeline from its config and run it into the sink;
    returns (seconds, output frame)."""
    from file_d_spark import Pipeline

    tr = sess.tracer
    t0 = time.perf_counter()
    if traced:
        with tr.span("pass.batch"):
            with tr.span("config.from_dict"):
                pipe = Pipeline.from_dict(cfg)
            with tr.span("sources.build_source"):
                df = pipe.read(sess.spark)
            with tr.span("actions.apply"):
                df = pipe.apply(df)
            with tr.span("sinks.devnull"):
                pipe.write(df)
    else:
        pipe = Pipeline.from_dict(cfg)
        df = pipe.run_batch(sess.spark)
        pipe.write(df)
    return time.perf_counter() - t0, df


def run(sess: Session, seed: int, seconds: float) -> dict:
    input_dir = prepare(seed)
    n = read_manifest(input_dir)["events"]
    cfg = config(input_dir)
    small = config(input_dir, files="part-000.json")
    passes = measure_passes(
        sess,
        cfg,
        compile_chain,
        lambda: one_pass(sess, small),
        lambda: one_pass(sess, cfg),
        seconds,
        MIN_PASSES,
    )
    rss_mb = sess.peak_rss_mb()  # before the output check runs
    ok = spark_digest(passes[-1][1]) == batch_reference(input_dir)
    log("output checked")
    k = len(passes)
    return {
        "correct": ok,
        "attempted": k,
        "failed": 0 if ok else k,
        "metrics": {**pass_metrics(n, [dt for dt, _ in passes]), "peak_rss_mb": metric(rss_mb, "MB", 1)},
    }


def trace(sess: Session, seed: int, scale: float) -> dict:
    """Per-layer times by materialising pipeline prefixes: source only,
    + json decoder, + each action in turn.  Differences of adjacent
    prefix times are the layer times, so they add up to the full chain."""
    from file_d_spark import Pipeline

    input_dir = prepare(seed, scale)
    man = read_manifest(input_dir)
    n = man["events"]
    prefixes = [config(input_dir, 0, decode=False)] + [
        config(input_dir, k) for k in range(len(ACTIONS) + 1)
    ]
    full = prefixes[-1]
    for cfg in prefixes:  # warm-up
        one_pass(sess, cfg)
    times: list[list[float]] = [[] for _ in prefixes]
    for _ in range(PREFIX_REPS):
        for i, cfg in enumerate(prefixes):
            with sess.tracer.span("prefix", k=i):
                times[i].append(one_pass(sess, cfg)[0])
    t = [median(x) for x in times]
    # tracing overhead: full chain with and without spans, alternating
    plain, spanned = [], []
    for _ in range(PREFIX_REPS):
        plain.append(one_pass(sess, full)[0])
        spanned.append(one_pass(sess, full, traced=True)[0])
    plan_ms = []
    for _ in range(PREFIX_REPS):
        t0 = time.perf_counter()
        Pipeline.from_dict(full).run_batch(sess.spark)
        plan_ms.append((time.perf_counter() - t0) * 1e3)
    kept = Pipeline.from_dict(config(input_dir, 1)).run_batch(sess.spark).count()
    ok = spark_digest(Pipeline.from_dict(full).run_batch(sess.spark)) == batch_reference(input_dir)
    untraced = median(plain)
    out = {
        "sources.scan_s": metric(t[0], "s", PREFIX_REPS),
        "sources.scan_mb_per_s": metric(man["bytes"] / 1e6 / t[0], "MB/s", PREFIX_REPS),
        "decoders.json_decode_s": metric(t[1] - t[0], "s", PREFIX_REPS),
        "actions.plan_build_ms": metric(median(plan_ms), "ms", len(plan_ms)),
        "doif.discard_frac": metric(1 - kept / n, "frac", n),
        "trace.overhead_frac": metric((median(spanned) - untraced) / untraced, "frac", PREFIX_REPS),
        # prefix differences telescope to the last prefix's time; this
        # is how far that sum sits from an untraced full-chain pass
        "trace.layer_sum_gap_frac": metric((t[-1] - untraced) / untraced, "frac", PREFIX_REPS),
    }
    for i, (name, _) in enumerate(ACTIONS):
        out[f"actions.{name}_s"] = metric(t[i + 2] - t[i + 1], "s", PREFIX_REPS)
    return {"correct": ok, "attempted": 1, "failed": int(not ok), "layers": out}


def trace_cores1(sess: Session, seed: int, scale: float) -> dict:
    """Single-core (``local[1]``) baseline of the full chain."""
    input_dir = prepare(seed, scale)
    n = read_manifest(input_dir)["events"]
    cfg = config(input_dir)
    sess.start(cpus=1)
    try:
        one_pass(sess, config(input_dir, files="part-000.json"))
        dt = one_pass(sess, cfg)[0]
    finally:
        sess.start()
    return {"batch.cores1_events_per_s": metric(n / dt, "1/s", 1)}
