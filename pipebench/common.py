"""Shared benchmark plumbing: checkout paths, environment, Spark
session lifecycle, set-up timing, input cache, peak RSS, statistics
and the in-memory span tracer."""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".pipebench_cache")
WORK = os.path.join(ROOT, ".pipebench_work")

#: set-ups per run; the first also launches the JVM
SETUPS = 5
#: seconds of full warm-up passes before a pass-based workload makes
#: its set-ups, and after them, before it measures
WARMUP_S = 8.0
SETTLE_S = 6.0
#: driver heap limit the benchmark gives Spark
DRIVER_MEMORY = "2g"
#: cached inputs kept per workload kind (oldest evicted first)
CACHE_KEEP = 4


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since start."""
    print(f"[pipebench +{time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env() -> None:
    """Keep every file Spark, the JVM and Python write inside the
    checkout, and pin the session shape before pyspark is imported."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # no hsperfdata file under the system /tmp
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # the driver JVM logs every collection (heap use after it) and where
    # it reserved the heap: see Session.peak_rss_mb
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Xlog:gc,gc+heap+coops=debug:file={gc_log('%p')}"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    # pandas-UDF workers inherit this: keeps stderr readable
    os.environ["PYTHONWARNINGS"] = "ignore::FutureWarning"
    os.environ.pop("OMP_NUM_THREADS", None)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def gc_log(pid) -> str:
    return os.path.join(WORK, f"gc-{pid}.log")


def fresh_dir(*parts: str) -> str:
    path = os.path.join(WORK, *parts)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------


def median(xs) -> float:
    return float(statistics.median(xs))


def pct(xs, q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sample."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(round(q / 100.0 * len(s) + 0.5)) - 1))
    return float(s[k])


def metric(value: float, unit: str, samples: int) -> dict:
    return {"value": float(value), "unit": unit, "samples": int(samples)}


def pass_metrics(records: int, passes: list[float]) -> dict:
    """End-to-end metrics of a workload measured in whole passes.  Every
    record of a pass is due when the pass starts and committed when it
    ends, so a record's latency is its pass time."""
    med = median(passes)
    k = len(passes)
    return {
        "events_per_s": metric(records / med, "1/s", k),
        "latency_p50_s": metric(med, "s", k),
        "latency_p99_s": metric(pct(passes, 99), "s", k),
        "drain_s": metric(med, "s", k),
    }


def measure_passes(sess: "Session", cfg: dict, compile_fn, small_pass, full_pass, seconds: float, min_passes: int):
    """The pass-based run: launch the JVM with the first set-up, warm up
    (one pass over a small input, then full passes for ``WARMUP_S``),
    make the other set-ups, settle with full passes for ``SETTLE_S``,
    then run full passes until ``seconds`` have passed.  Set-ups on a
    half-warm JIT read anywhere between one and two times the warm
    figure, and the first passes on a new session run slow, hence the
    order.  Returns the measured passes' results, each
    ``(seconds, output)``."""

    def passes_for(seconds: float) -> None:
        deadline = time.perf_counter() + seconds
        while True:
            full_pass()
            if time.perf_counter() >= deadline:
                break

    sess.setup(cfg, compile_fn, times=1)
    small_pass()
    passes_for(WARMUP_S)
    sess.setup(cfg, compile_fn, times=SETUPS - 1)
    passes_for(SETTLE_S)
    log("warmed up")
    out = []
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline or len(out) < min_passes:
        out.append(full_pass())
    log(f"{len(out)} passes measured: " + " ".join(f"{dt:.2f}" for dt, _ in out))
    return out


# --------------------------------------------------------------------------
# inputs
# --------------------------------------------------------------------------


def cached_input(kind: str, seed: int, args: list[str]) -> str:
    """Directory holding the generated input for (kind, seed, args).
    The generator runs as one process writing into a private temporary
    directory that is renamed into place when complete, so a cached
    directory is always whole."""
    code = b""
    for name in ("gen.py", "reference.py"):
        with open(os.path.join(HERE, name), "rb") as fh:
            code += fh.read()  # a changed generator or reference invalidates the cache
    key = hashlib.sha1(code + json.dumps([kind, args]).encode()).hexdigest()[:10]
    path = os.path.join(CACHE, f"{kind}-{key}-s{seed}")
    if os.path.isfile(os.path.join(path, "MANIFEST.json")):
        os.utime(path)
        return path
    os.makedirs(CACHE, exist_ok=True)
    tmp = os.path.join(CACHE, f".tmp-{uuid.uuid4().hex}")
    subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), kind, "--seed", str(seed), "--out", tmp, *args],
        check=True,
        stdout=subprocess.DEVNULL,
    )
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    _evict(kind)
    return path


def _evict(kind: str) -> None:
    dirs = [
        os.path.join(CACHE, d)
        for d in os.listdir(CACHE)
        if d.startswith(kind + "-")
    ]
    dirs.sort(key=os.path.getmtime, reverse=True)
    for d in dirs[CACHE_KEEP:]:
        shutil.rmtree(d, ignore_errors=True)


def read_manifest(path: str) -> dict:
    with open(os.path.join(path, "MANIFEST.json"), encoding="utf-8") as fh:
        return json.load(fh)


# --------------------------------------------------------------------------
# Spark session lifecycle
# --------------------------------------------------------------------------


class Session:
    """Owns the SparkSession, its JVM and the set-up measurements."""

    def __init__(self, tracer: "Tracer"):
        self.tracer = tracer
        self.spark = None
        self.jvm_pid = None
        self.gateway = None
        self.setup_s: list[float] = []
        self.get_spark_s: list[float] = []
        self.from_dict_ms: list[float] = []
        self.cold_start_s = 0.0

    def start(self, cpus: int | None = None):
        from file_d_spark import get_spark

        if self.spark is not None:
            self.spark.stop()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark("pipebench", cpus=cpus or cores())
        if self.gateway is None:
            self.gateway = self.spark.sparkContext._gateway
            self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        return self.spark

    def setup(self, cfg: dict, compile_fn, times: int = SETUPS) -> tuple:
        """Set up ``times`` times: (re)start the session, parse the
        pipeline config, compile the plan without running it.  Returns
        the last (pipeline, compiled) pair."""
        from file_d_spark import Pipeline

        out = None
        for _ in range(times):
            t0 = time.perf_counter()
            self.start()
            t1 = time.perf_counter()
            with self.tracer.span("config.from_dict"):
                pipe = Pipeline.from_dict(cfg)
            t2 = time.perf_counter()
            with self.tracer.span("actions.compile"):
                out = (pipe, compile_fn(self.spark, pipe))
            t3 = time.perf_counter()
            if not self.setup_s:
                self.cold_start_s = t1 - t0
            else:
                self.get_spark_s.append(t1 - t0)
            self.setup_s.append(t3 - t0)
            self.from_dict_ms.append((t2 - t1) * 1e3)
        log("set-ups so far: " + " ".join(f"{x:.2f}" for x in self.setup_s))
        return out

    def peak_rss_mb(self) -> float:
        """Peak memory of the driver: this Python process's peak resident
        set (VmHWM), plus the driver JVM's resident set outside its Java
        heap, plus the JVM's peak heap use after a collection.  The heap's
        own resident set is left out: it is how far the collector grew
        the heap, which varies from run to run far more than what the
        heap holds."""
        heap_base, heap_size, heap_peak = _gc_log_heap(gc_log(self.jvm_pid))
        off_heap = _rss_outside_kb(str(self.jvm_pid), heap_base, heap_base + heap_size)
        py = _vm_hwm_kb("self")
        log(
            f"memory MB: python {py / 1024:.0f}, jvm off-heap {off_heap / 1024:.0f}, "
            f"heap peak after gc {heap_peak / 1024:.0f}, jvm hwm {_vm_hwm_kb(str(self.jvm_pid)) / 1024:.0f}"
        )
        return (py + off_heap + heap_peak) / 1024.0

    def close(self) -> None:
        """Stop Spark and wait for the JVM (and with it the Python
        workers it forked) to exit."""
        if self.spark is not None:
            with contextlib.suppress(Exception):
                self.spark.stop()
        gw = self.gateway
        if gw is not None:
            with contextlib.suppress(Exception):
                gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                with contextlib.suppress(Exception):
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        if self.jvm_pid is not None:
            with contextlib.suppress(OSError):
                os.remove(gc_log(self.jvm_pid))


_UNIT_KB = {"B": 1 / 1024, "K": 1, "M": 1024, "G": 1024 * 1024}


def _gc_log_heap(path: str) -> tuple[int, int, int]:
    """(heap base address, heap size in bytes, peak heap use after a
    collection in kB) from a JVM log written with
    ``-Xlog:gc,gc+heap+coops=debug``."""
    base = size = peak = 0
    with open(path, encoding="utf-8", errors="replace") as fh:
        for line in fh:
            m = re.search(r"Heap address: 0x([0-9a-f]+), size: (\d+) MB", line)
            if m:
                base, size = int(m.group(1), 16), int(m.group(2)) << 20
                continue
            # "... Pause Young (Normal) (G1 Evacuation Pause) 301M->47M(1024M) 9.1ms"
            m = re.search(r"\d+[BKMG]->(\d+)([BKMG])\(\d+[BKMG]\)", line)
            if m:
                peak = max(peak, int(int(m.group(1)) * _UNIT_KB[m.group(2)]))
    if not size:
        raise RuntimeError(f"no heap address in {path}")
    return base, size, peak


def _rss_outside_kb(pid: str, lo: int, hi: int) -> int:
    """Resident kB of the mappings of ``pid`` that lie outside [lo, hi)."""
    total = 0
    inside = False
    with open(f"/proc/{pid}/smaps", encoding="ascii", errors="replace") as fh:
        for line in fh:
            head = line.split(" ", 1)[0]
            if "-" in head and ":" not in head:
                start, end = (int(x, 16) for x in head.split("-"))
                inside = start >= lo and end <= hi
            elif head == "Rss:" and not inside:
                total += int(line.split()[1])
    return total


def _vm_hwm_kb(pid: str) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def setup_metrics(sess: Session) -> dict:
    return {"setup_s": metric(median(sess.setup_s), "s", len(sess.setup_s))}


def session_layer_metrics(sess: Session) -> dict:
    return {
        "session.get_spark_s": metric(median(sess.get_spark_s), "s", len(sess.get_spark_s)),
        "session.cold_start_s": metric(sess.cold_start_s, "s", 1),
        "config.from_dict_ms": metric(median(sess.from_dict_ms), "ms", len(sess.from_dict_ms)),
    }


# --------------------------------------------------------------------------
# tracing
# --------------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written to
    JSONL when the run ends.  A disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "id": idx,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
        }
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        """Record a span measured elsewhere (e.g. from Spark progress)."""
        if self.enabled:
            self.spans.append(
                {
                    "id": len(self.spans),
                    "name": name,
                    "start": start,
                    "end": end,
                    "parent": self._stack[-1] if self._stack else None,
                    "run": self.run_id,
                    **attrs,
                }
            )

    def self_times(self) -> dict[str, float]:
        """Self time per layer (span name up to the first dot): a span's
        duration minus the part its child spans cover."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            layer = s["name"].split(".", 1)[0]
            own = (s["end"] - s["start"]) - child.get(s["id"], 0.0)
            out[layer] = out.get(layer, 0.0) + max(own, 0.0)
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")
