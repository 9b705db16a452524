"""``corpus_dedup``: seeded documents with planted exact duplicates,
near duplicates and junk through ``quality.gopher_keep``,
``dedup.exact_dedup``, ``dedup.minhash_lsh_pairs`` and
``dedup.dedup_clusters``, keeping the cluster representatives.

This is the only workload that exercises the ``functions`` layer
(shuffles, joins, connected components).
"""

from __future__ import annotations

import time

from common import Session, cached_input, measure_passes, metric, pass_metrics, read_manifest
from reference import corpus_reference

NAME = "corpus_dedup"
MIN_PASSES = 2
SCHEMA = "doc_id long, text string"


def config(input_dir: str, files: str = "docs-*.json") -> dict:
    return {
        "settings": {"decoder": "json", "schema": SCHEMA},
        "input": {"type": "file", "watching_dir": input_dir, "filename_pattern": files},
        "output": {"type": "devnull"},
    }


def prepare(seed: int) -> str:
    return cached_input("corpus", seed, [])


def keep(docs):
    """Documents that pass the Gopher quality rules (lazy)."""
    from pyspark.sql import functions as F

    from file_d_spark.functions import quality

    return docs.filter(quality.gopher_keep(F.col("text")))


def exact(kept):
    """One document per exact-duplicate group, with its text (lazy)."""
    from file_d_spark.functions import dedup

    survivors = dedup.exact_dedup(kept, "text", "doc_id").select("doc_id")
    return kept.join(survivors, "doc_id")


def compile_chain(spark, pipe):
    return exact(keep(pipe.read(spark)))


def one_pass(sess: Session, pipe) -> tuple[float, set[int]]:
    """The whole chain; returns (seconds, surviving doc ids)."""
    from file_d_spark import cachereg
    from file_d_spark.functions import dedup

    t0 = time.perf_counter()
    uniq = exact(keep(pipe.read(sess.spark)))
    pairs = dedup.minhash_lsh_pairs(uniq, "doc_id", "text")
    clusters = dedup.dedup_clusters(uniq, pairs, "doc_id")
    survivors = {r.doc_id for r in clusters.filter("is_representative").select("doc_id").collect()}
    dt = time.perf_counter() - t0
    cachereg.release()
    return dt, survivors


def run(sess: Session, seed: int, seconds: float) -> dict:
    from file_d_spark import Pipeline

    input_dir = prepare(seed)
    man = read_manifest(input_dir)
    want = corpus_reference(man)
    cfg = config(input_dir)
    pipe = Pipeline.from_dict(cfg)
    small = Pipeline.from_dict(config(input_dir, "docs-000.json"))
    passes = measure_passes(
        sess,
        cfg,
        compile_chain,
        lambda: one_pass(sess, small),
        lambda: one_pass(sess, pipe),
        seconds,
        MIN_PASSES,
    )
    rss_mb = sess.peak_rss_mb()
    failed = sum(got != want for _, got in passes)
    return {
        "correct": failed == 0,
        "attempted": len(passes),
        "failed": failed,
        "metrics": {**pass_metrics(man["docs"], [dt for dt, _ in passes]), "peak_rss_mb": metric(rss_mb, "MB", 1)},
    }


def trace(sess: Session, seed: int) -> dict:
    """Each function's time by materialising the chain stage by stage
    (each stage cached, so a stage's time excludes its inputs'), plus
    the LSH candidate count from the same call with threshold 0."""
    from file_d_spark import Pipeline, cachereg
    from file_d_spark.functions import dedup

    input_dir = prepare(seed)
    want = corpus_reference(read_manifest(input_dir))
    pipe = Pipeline.from_dict(config(input_dir))
    one_pass(sess, Pipeline.from_dict(config(input_dir, "docs-000.json")))  # warm-up
    one_pass(sess, pipe)
    tr = sess.tracer
    stage: dict[str, float] = {}

    def timed(name: str, fn):
        t0 = time.perf_counter()
        with tr.span(f"functions.{name}"):
            out = fn()
        stage[name] = time.perf_counter() - t0
        return out

    docs = pipe.read(sess.spark).cache()
    timed("scan", docs.count)
    kept = keep(docs).cache()
    timed("gopher_keep", kept.count)
    uniq = exact(kept).cache()
    timed("exact_dedup", uniq.count)

    def lsh():
        pairs = dedup.minhash_lsh_pairs(uniq, "doc_id", "text").cache()
        pairs.count()
        return pairs

    pairs = timed("minhash_lsh_pairs", lsh)
    clusters = dedup.dedup_clusters(uniq, pairs, "doc_id")
    survivors = timed(
        "dedup_clusters",
        lambda: {r.doc_id for r in clusters.filter("is_representative").select("doc_id").collect()},
    )
    verified = pairs.count()
    candidates = dedup.minhash_lsh_pairs(uniq, "doc_id", "text", threshold=0.0).count()
    for frame in (docs, kept, uniq, pairs):
        frame.unpersist()
    cachereg.release()
    ok = survivors == want
    return {
        "correct": ok,
        "attempted": 1,
        "failed": int(not ok),
        "layers": {
            "functions.gopher_keep_s": metric(stage["gopher_keep"], "s", 1),
            "functions.exact_dedup_s": metric(stage["exact_dedup"], "s", 1),
            "functions.minhash_lsh_pairs_s": metric(stage["minhash_lsh_pairs"], "s", 1),
            "functions.dedup_clusters_s": metric(stage["dedup_clusters"], "s", 1),
            "functions.candidate_pairs": metric(candidates, "count", 1),
            "functions.verified_pairs": metric(verified, "count", 1),
            "functions.lsh_precision": metric(verified / max(candidates, 1), "frac", candidates),
        },
    }
