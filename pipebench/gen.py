"""Seeded input generators for the pipeline benchmark.

Each generator is a pure function of its seed and traffic arguments:
the same arguments always produce byte-identical files.  Files are
written under a temporary name and renamed into place, so a reader
never sees a half-written input, and a finished input directory is
marked by a ``MANIFEST.json`` written last.

    python3 pipebench/gen.py batch  --seed 1 --out DIR [--events N --discard-share F]
    python3 pipebench/gen.py corpus --seed 1 --out DIR [--docs N --dup-share F ...]

The defaults are the sizes and shares the benchmark measures.  A batch
input also holds ``reference.json``, the chain's expected output digest
(see ``reference.py``), computed here so the benchmark process never
scans the input itself.

The open-loop stream generator lives in ``gen_stream.py`` because it
runs as its own process on a wall-clock schedule.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import string
import time

from reference import batch_reference_duckdb

# --------------------------------------------------------------------------
# shared helpers
# --------------------------------------------------------------------------


def write_atomic(path: str, data: str) -> None:
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(data)
    os.replace(tmp, path)


def write_manifest(out_dir: str, manifest: dict) -> None:
    write_atomic(os.path.join(out_dir, "MANIFEST.json"), json.dumps(manifest, sort_keys=True))


# --------------------------------------------------------------------------
# batch_json_actions: JSON log lines
# --------------------------------------------------------------------------

#: Spark DDL schema of one log line (the ``json`` decoder's schema)
BATCH_SCHEMA = (
    "ts string, level string, service string, host string, status int, "
    "msg string, trace_id string, props string, debug_blob string"
)

LEVELS = ["info", "warn", "error"]
REGIONS = ["eu-1", "eu-2", "us-1", "us-2", "ap-1"]
PAGES = ["cart", "search", "item", "checkout", "profile", "home"]
AGENTS = ["Mozilla/5.0 (X11; Linux x86_64)", "curl/8.5.0", "okhttp/4.12", "Go-http-client/2.0"]

EVENTS = 200_000
DISCARD_SHARE = 0.15
#: share of the messages that carry a card number (what ``mask`` rewrites)
CARD_SHARE = 0.3
BATCH_FILES = 8
SERVICES = 24
HOSTS = 200


def gen_batch(out_dir: str, seed: int, events: int = EVENTS, discard_share: float = DISCARD_SHARE) -> dict:
    """``events`` JSON log lines split over ``BATCH_FILES`` files, and
    the chain's reference digest over them.

    ``discard_share`` of the lines have ``level: debug`` (what the
    chain's ``discard`` drops)."""
    rnd = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    base_ms = 1_790_000_000_000 + rnd.randrange(86_400_000)
    per_file = -(-events // BATCH_FILES)
    n = 0
    for f in range(BATCH_FILES):
        lines = []
        for _ in range(min(per_file, events - n)):
            ms = base_ms + n * 3
            sec, milli = divmod(ms, 1000)
            level = "debug" if rnd.random() < discard_share else rnd.choice(LEVELS)
            uid = rnd.randrange(1, 10**6)
            if rnd.random() < CARD_SHARE:
                card = " ".join("%04d" % rnd.randrange(10_000) for _ in range(4))
                msg = f"user {uid} paid order {rnd.randrange(10**7)} with card {card} ok"
            else:
                msg = f"user {uid} opened /{rnd.choice(PAGES)} in {rnd.randrange(1, 900)} ms"
            # hand-formatted JSON: every value is plain ASCII without
            # quotes or backslashes, so no escaping is needed
            props = '{\\"region\\":\\"%s\\",\\"latency_ms\\":%d,\\"ua\\":\\"%s\\"}' % (
                rnd.choice(REGIONS),
                rnd.randrange(1, 5000),
                rnd.choice(AGENTS),
            )
            lines.append(
                '{"ts":"%s","level":"%s","service":"svc-%02d","host":"node-%03d",'
                '"status":%d,"msg":"%s","trace_id":"%016x","props":"%s","debug_blob":"%040x"}'
                % (
                    _iso(sec, milli),
                    level,
                    rnd.randrange(SERVICES),
                    rnd.randrange(HOSTS),
                    rnd.choice((200, 200, 200, 201, 204, 301, 404, 500)),
                    msg,
                    rnd.getrandbits(64),
                    props,
                    rnd.getrandbits(160),
                )
            )
            n += 1
        write_atomic(os.path.join(out_dir, "part-%03d.json" % f), "\n".join(lines) + "\n")
    write_atomic(os.path.join(out_dir, "reference.json"), json.dumps(list(batch_reference_duckdb(out_dir))))
    manifest = {
        "kind": "batch",
        "seed": seed,
        "events": events,
        "discard_share": discard_share,
        "bytes": sum(
            os.path.getsize(os.path.join(out_dir, p))
            for p in os.listdir(out_dir)
            if p.startswith("part-")
        ),
    }
    write_manifest(out_dir, manifest)
    return manifest


def _iso(sec: int, milli: int) -> str:
    return time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(sec)) + ".%03dZ" % milli


# --------------------------------------------------------------------------
# corpus_dedup: documents with planted duplicate clusters
# --------------------------------------------------------------------------

#: common English function words (the Gopher rule wants >= 2 distinct)
STOPWORDS = ["the", "of", "and", "to", "in", "is", "for", "on"]

DOCS = 1_500
DUP_SHARE = 0.15
NEAR_SHARE = 0.15
JUNK_SHARE = 0.1
DOC_WORDS = 100
#: words a near copy replaces (word-bigram Jaccard >= 0.9 at DOC_WORDS)
NEAR_EDITS = 2
CORPUS_FILES = 4


def _vocab(rnd: random.Random, size: int) -> list[str]:
    words = set()
    while len(words) < size:
        words.add("".join(rnd.choices(string.ascii_lowercase, k=rnd.randrange(4, 9))))
    return sorted(words)


def gen_corpus(
    out_dir: str,
    seed: int,
    docs: int = DOCS,
    dup_share: float = DUP_SHARE,
    near_share: float = NEAR_SHARE,
    junk_share: float = JUNK_SHARE,
) -> dict:
    """``docs`` documents: originals, exact copies of originals,
    near copies (``NEAR_EDITS`` words replaced, word-bigram Jaccard
    >= 0.9 to their origin) and junk documents that fail the Gopher
    quality rules, split over ``CORPUS_FILES`` files.  Every original
    has a smaller id than all of its copies, so the expected survivors
    are exactly the originals.
    Ids are shuffled across the file so copies are not adjacent to
    their origin."""
    rnd = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    vocab = _vocab(rnd, 20_000)
    n_junk = int(docs * junk_share)
    n_dup = int(docs * dup_share)
    n_near = int(docs * near_share)
    n_orig = docs - n_junk - n_dup - n_near

    def original() -> list[str]:
        words = []
        for i in range(DOC_WORDS):
            words.append(rnd.choice(STOPWORDS) if i % 7 == 3 else rnd.choice(vocab))
        return words

    def near(words: list[str]) -> list[str]:
        out = list(words)
        for pos in rnd.sample(range(len(out)), NEAR_EDITS):
            out[pos] = rnd.choice(vocab)
        return out

    def junk() -> str:
        kind = rnd.randrange(3)
        if kind == 0:  # too short
            return " ".join(rnd.choice(vocab) for _ in range(rnd.randrange(5, 30)))
        if kind == 1:  # symbol spam
            return " ".join("#" + rnd.choice(vocab) for _ in range(DOC_WORDS))
        return " ".join(str(rnd.randrange(10**6)) for _ in range(DOC_WORDS))  # no words

    # ids: originals take the lowest ids, copies and junk higher ones
    texts: list[tuple[int, str]] = []
    origins = []
    for i in range(n_orig):
        words = original()
        origins.append(words)
        texts.append((i, _to_text(words)))
    next_id = n_orig
    copies = ["dup"] * n_dup + ["near"] * n_near + ["junk"] * n_junk
    rnd.shuffle(copies)
    for kind in copies:
        if kind == "junk":
            texts.append((next_id, junk()))
        else:
            src = origins[rnd.randrange(n_orig)]
            texts.append((next_id, _to_text(src if kind == "dup" else near(src))))
        next_id += 1
    rnd.shuffle(texts)
    per_file = -(-len(texts) // CORPUS_FILES)
    for f in range(CORPUS_FILES):
        body = "\n".join(
            json.dumps({"doc_id": i, "text": t}, separators=(",", ":"))
            for i, t in texts[f * per_file : (f + 1) * per_file]
        )
        write_atomic(os.path.join(out_dir, "docs-%03d.json" % f), body + "\n")
    manifest = {
        "kind": "corpus",
        "seed": seed,
        "docs": docs,
        "originals": n_orig,
        "exact_dups": n_dup,
        "near_dups": n_near,
        "junk": n_junk,
    }
    write_manifest(out_dir, manifest)
    return manifest


def _to_text(words: list[str]) -> str:
    """Words as sentences of 12 words, one sentence per line."""
    lines = []
    for i in range(0, len(words), 12):
        chunk = words[i : i + 12]
        lines.append(" ".join(chunk).capitalize() + ".")
    return "\n".join(lines)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="kind", required=True)
    b = sub.add_parser("batch")
    b.add_argument("--events", type=int, default=EVENTS)
    b.add_argument("--discard-share", type=float, default=DISCARD_SHARE)
    c = sub.add_parser("corpus")
    c.add_argument("--docs", type=int, default=DOCS)
    c.add_argument("--dup-share", type=float, default=DUP_SHARE)
    c.add_argument("--near-share", type=float, default=NEAR_SHARE)
    c.add_argument("--junk-share", type=float, default=JUNK_SHARE)
    for p in (b, c):
        p.add_argument("--seed", type=int, required=True)
        p.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    if a.kind == "batch":
        m = gen_batch(a.out, a.seed, a.events, a.discard_share)
    else:
        m = gen_corpus(a.out, a.seed, a.docs, a.dup_share, a.near_share, a.junk_share)
    print(json.dumps(m))


if __name__ == "__main__":
    main()
