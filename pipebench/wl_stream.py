"""``stream_throttle``: daemon mode.  A separate generator process
writes JSON event files at a fixed open-loop rate; ``run_stream`` with
a processing-time trigger decodes them, throttles per ``service``
(stateful ``throttle_stream``), adds a field with ``modify`` and writes
through the ``file`` sink.

Latency runs from an event's due time (stamped by the generator) to
the commit of the sink batch that holds it.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import random
import subprocess
import sys
import time

from common import HERE, Session, fresh_dir, log, median, metric, pct
from gen_stream import HOT_KEY, TRIGGER_S, tick_events
from reference import stream_reference

NAME = "stream_throttle"
# The traffic is gen_stream's default: RATE = 8000 events/s, of which
# HOT_SHARE = 20 % go to the hot key.  A micro-batch of TRIGGER_S
# worth of them (~2.2 s on 4 cores) must fit inside the trigger
# interval, or batches fall behind the trigger grid, which Spark fires
# on multiples of TRIGGER_S since the epoch and the generator aligns to.

#: events per 1-s bucket the throttle admits per key; the non-hot keys
#: (RATE * (1 - HOT_SHARE) / SERVICES = 500/s each) never reach it
LIMIT = 1000
#: before the generator starts, one file of this many (non-hot) events
#: goes through the stream: the first micro-batch starts the Python
#: workers and compiles the plan, at several times a warm batch's cost
WARM_EVENTS = 500
WARM_ID = 10**9
#: events due in the generator's first seconds are left out of latency:
#: micro-batches keep getting faster while the JIT warms up
WARMUP_S = 6.0
DRAIN_TIMEOUT_S = 60.0
SCHEMA = "id long, due double, time string, service string, msg string"


def config(work: str) -> dict:
    return {
        "settings": {"decoder": "json", "schema": SCHEMA},
        "input": {"type": "file", "watching_dir": os.path.join(work, "in"), "filename_pattern": "ev-*.json"},
        "actions": [
            {
                "type": "throttle",
                "throttle_field": "service",
                "time_field": "time",
                "bucket_interval": "1s",
                "buckets_count": 60,
                "default_limit": LIMIT,
            },
            {"type": "modify", "tag": "${service}:${id}"},
        ],
        "output": {
            "type": "file",
            "path": os.path.join(work, "out"),
            "format": "json",
            "processing_time": f"{TRIGGER_S} seconds",
        },
    }


def compile_stream(spark, pipe):
    return pipe.apply(pipe.read_stream(spark))


def _epoch(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def sink_batches(out_dir: str) -> dict[int, dict]:
    """batch id -> {commit: epoch s, files: [paths]} from the file
    sink's ``_spark_metadata`` log.  Compaction files (``N.compact``)
    repeat earlier batches' entries, so each part file belongs to the
    first batch that lists it."""
    meta = os.path.join(out_dir, "_spark_metadata")
    logs = []
    for name in os.listdir(meta):
        if name.startswith("."):
            continue
        bid = name.split(".", 1)[0]
        if bid.isdigit():
            logs.append((int(bid), os.path.join(meta, name)))
    seen: set[str] = set()
    out: dict[int, dict] = {}
    for bid, path in sorted(logs):
        files = []
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                if not line.startswith("{"):
                    continue
                p = json.loads(line)["path"]
                if p not in seen:
                    seen.add(p)
                    files.append(p.replace("file://", "", 1))
        out[bid] = {"commit": os.stat(path).st_mtime, "files": files}
    return out


def duration(seconds: float) -> float:
    """Generator run time: warm-up plus the measured window, rounded up
    to whole trigger intervals, plus half an interval so the last file
    lands mid-way between two triggers."""
    return math.ceil((WARMUP_S + seconds) / TRIGGER_S) * TRIGGER_S + TRIGGER_S / 2


def prepare() -> tuple[str, dict]:
    work = fresh_dir("stream")
    os.makedirs(os.path.join(work, "in"))
    return work, config(work)


def run_stream(sess: Session, pipe, work: str, seed: int, seconds: float, traced: bool = False) -> dict:
    from file_d_spark.metrics import ProgressRing

    spark = sess.spark
    ring = ProgressRing(capacity=100_000)
    spark.streams.addListener(ring)
    tr = sess.tracer
    gen = None
    try:
        with tr.span("streaming.run_stream"):
            q = pipe.run_stream(spark, checkpoint_dir=os.path.join(work, "ck"), trigger_available_now=False)
        with tr.span("streaming.warm_up"):
            lines = tick_events(random.Random(seed), WARM_ID, WARM_EVENTS, round(time.time(), 6), 0.0)
            tmp = os.path.join(work, "in", ".ev-warmup.json.tmp")
            with open(tmp, "w", encoding="utf-8") as fh:
                fh.write("\n".join(lines) + "\n")
            os.replace(tmp, os.path.join(work, "in", "ev-warmup.json"))
            _wait_rows(ring, q, WARM_EVENTS)
        log("warm-up batch committed; generator starts")
        gen = subprocess.Popen(
            [
                sys.executable,
                os.path.join(HERE, "gen_stream.py"),
                "--out", os.path.join(work, "in"),
                "--seed", str(seed),
                "--duration", str(duration(seconds)),
            ],
            stdout=subprocess.PIPE,
            text=True,
        )
        gen_out, _ = gen.communicate()
        g = json.loads(gen_out.strip().splitlines()[-1])
        log(f"generator done: {g}")
        # stop only once Spark has committed every generated event:
        # stopping mid-batch aborts the writer
        drained = _wait_rows(ring, q, WARM_EVENTS + g["events"])
        log(f"drained={drained}")
        q.stop()
        log("query stopped")
        # before the checks, which read every input and output file
        rss_mb = sess.peak_rss_mb()
    finally:
        if gen is not None and gen.poll() is None:
            gen.kill()
            gen.wait()
        spark.streams.removeListener(ring)
    progress = list(ring.progress.get(str(q.id), []))
    res = analyse(work, g, progress, drained, traced, tr)
    res["metrics"]["peak_rss_mb"] = metric(rss_mb, "MB", 1)
    return res


def _wait_rows(ring, q, n: int) -> bool:
    """Wait until the query's committed batches hold ``n`` input rows."""
    deadline = time.time() + DRAIN_TIMEOUT_S
    while time.time() < deadline:
        if ring.totals(q.id)["numInputRows"] >= n:
            return True
        time.sleep(0.05)
    return False


def analyse(work: str, g: dict, progress: list[dict], drained: bool, traced: bool, tr) -> dict:
    ref = stream_reference(os.path.join(work, "in"), HOT_KEY, LIMIT)
    batches = sink_batches(os.path.join(work, "out"))
    start = {p["batchId"]: _epoch(p["timestamp"]) for p in progress}
    seen: set[int] = set()
    dups = 0
    hot = 0
    lat, wait, service = [], [], []
    first_due = g["first_due"]
    cutoff = first_due + WARMUP_S
    last_commit = first_due
    last_event_commit = None
    for bid, b in sorted(batches.items()):
        commit = b["commit"]
        for path in b["files"]:
            with open(path, encoding="utf-8") as fh:
                for line in fh:
                    ev = json.loads(line)
                    if ev["id"] in seen:
                        dups += 1
                        continue
                    seen.add(ev["id"])
                    if ev["service"] == HOT_KEY:
                        hot += 1
                    if ev["due"] >= g["last_due"]:
                        last_event_commit = commit
                    if ev["due"] >= cutoff:
                        lat.append(commit - ev["due"])
                        if bid in start:
                            wait.append(start[bid] - ev["due"])
                            service.append(commit - start[bid])
            last_commit = max(last_commit, commit)
    lost = len(ref["non_hot_ids"] - seen)
    hot_err = abs(hot - ref["hot_admitted"])
    # an undrained stream counts as one more failed operation
    failed = dups + lost + hot_err + (0 if drained else 1)
    ok = failed == 0 and ref["events"] == g["events"] + WARM_EVENTS and bool(lat)
    if not lat:
        lat = [float("nan")]
    drain = (last_event_commit or last_commit) - g["last_due"]
    res = {
        "correct": ok,
        "attempted": ref["events"],
        "failed": failed,
        "info": {
            "generator_late_s": g["generator_late_s"],
            "duplicates": dups,
            "lost_non_hot": lost,
            "hot_admitted": hot,
            "hot_expected": ref["hot_admitted"],
        },
        "metrics": {
            # open loop: this is mostly the offered rate (see README)
            "events_per_s": metric(g["events"] / (last_commit - first_due), "1/s", g["events"]),
            "latency_p50_s": metric(median(lat), "s", len(lat)),
            "latency_p99_s": metric(pct(lat, 99), "s", len(lat)),
            "drain_s": metric(drain, "s", 1),
        },
    }
    if traced:
        admitted = len(seen) - WARM_EVENTS
        data = [p for p in progress if p.get("numInputRows")]
        steady = [p for p in data if _epoch(p["timestamp"]) >= cutoff] or data
        res["layers"] = layer_metrics(data, steady, batches, wait, service, admitted, g, tr)
    return res


def layer_metrics(data, steady, batches, wait, service, delivered, g, tr) -> dict:
    def dur(key: str) -> list[float]:
        return [float(p["durationMs"].get(key, 0)) for p in steady]

    state = [p["stateOperators"][0] for p in steady if p.get("stateOperators")]
    for p in data:
        t0 = _epoch(p["timestamp"])
        tr.add("streaming.batch", t0, t0 + p["durationMs"]["triggerExecution"] / 1e3, batch=p["batchId"])
    sink_commit = []
    for b in batches.values():
        mtimes = [os.stat(f).st_mtime for f in b["files"] if os.path.exists(f)]
        if mtimes:
            sink_commit.append((b["commit"] - max(mtimes)) * 1e3)
    n = len(steady)
    busy_ms = sum(dur("triggerExecution"))
    return {
        "streaming.processed_rows_per_s": metric(
            sum(p["numInputRows"] for p in steady) / (busy_ms / 1e3) if busy_ms else 0, "1/s", n
        ),
        "sources.latest_offset_ms_p50": metric(median(dur("latestOffset")), "ms", n),
        "sources.get_batch_ms_p50": metric(median(dur("getBatch")), "ms", n),
        "actions.throttle_admit_frac": metric(delivered / g["events"], "frac", g["events"]),
        "streaming.batches": metric(len(data), "count", 1),
        "streaming.trigger_ms_p50": metric(median(dur("triggerExecution")), "ms", n),
        "streaming.trigger_ms_p99": metric(pct(dur("triggerExecution"), 99), "ms", n),
        "streaming.add_batch_ms_p50": metric(median(dur("addBatch")), "ms", n),
        "streaming.query_planning_ms_p50": metric(median(dur("queryPlanning")), "ms", n),
        "streaming.wal_commit_ms_p50": metric(median(dur("walCommit")), "ms", n),
        "streaming.state_rows": metric(state[-1]["numRowsTotal"] if state else 0, "count", 1),
        "streaming.state_mem_bytes": metric(state[-1]["memoryUsedBytes"] if state else 0, "bytes", 1),
        "streaming.state_commit_ms_p50": metric(
            median([s.get("commitTimeMs", 0) for s in state]) if state else 0, "ms", len(state)
        ),
        "streaming.wait_s_p50": metric(median(wait) if wait else 0, "s", len(wait)),
        "streaming.service_s_p50": metric(median(service) if service else 0, "s", len(service)),
        "sinks.commit_ms_p50": metric(median(sink_commit) if sink_commit else 0, "ms", len(sink_commit)),
        "stream.generator_late_s": metric(g["generator_late_s"], "s", 1),
    }


def file_write_s(sess: Session, work: str, reps: int = 2) -> float:
    """The stream's chain run as a batch over the inputs the stream
    just consumed, written through the ``file`` sink minus the same
    chain into ``devnull``: the sink's write cost."""
    from file_d_spark import Pipeline

    base = config(work)
    out = fresh_dir("stream-batch")
    file_cfg = dict(base, output={"type": "file", "path": out, "format": "json", "mode": "overwrite"})
    null_cfg = dict(base, output={"type": "devnull"})
    times: dict[str, list[float]] = {"file": [], "null": []}
    for i in range(reps + 1):
        for key, cfg in (("file", file_cfg), ("null", null_cfg)):
            t0 = time.perf_counter()
            pipe = Pipeline.from_dict(cfg)
            pipe.write(pipe.run_batch(sess.spark))
            if i:  # the first round is warm-up
                times[key].append(time.perf_counter() - t0)
    return median(times["file"]) - median(times["null"])


def run(sess: Session, seed: int, seconds: float) -> dict:
    work, cfg = prepare()
    pipe, _ = sess.setup(cfg, compile_stream)
    return run_stream(sess, pipe, work, seed, seconds)


def trace(sess: Session, seed: int, seconds: float) -> dict:
    from file_d_spark import Pipeline

    work, cfg = prepare()
    res = run_stream(sess, Pipeline.from_dict(cfg), work, seed, seconds, traced=True)
    with sess.tracer.span("sinks.file_write"):
        res["layers"]["sinks.file_write_s"] = metric(file_write_s(sess, work), "s", 2)
    return res
