"""Independent references the benchmark checks Spark's outputs against.

None of this imports the engine: the batch reference is DuckDB SQL
over the generated files, the stream and corpus references are plain
Python over the generator's own inputs and ground truth.
"""

from __future__ import annotations

import glob
import json
import os

#: field separator and NULL marker of the canonical row string that
#: both sides hash (md5, first 15 hex digits, summed: order-free)
SEP = "\x1f"
NULL = "\x00"

#: the batch chain's output columns, in hashing order
BATCH_OUT_COLS = sorted(
    ["ts", "level", "service", "status", "msg", "trace_id", "route", "node", "region", "latency_ms"]
)


def spark_digest(df) -> tuple[int, int]:
    """(row count, order-free hash) of a Spark DataFrame's rows over
    ``BATCH_OUT_COLS`` — the same canonical form as
    :func:`batch_reference`."""
    from pyspark.sql import functions as F

    row = F.concat_ws(
        SEP, *[F.coalesce(F.col(c).cast("string"), F.lit(NULL)) for c in BATCH_OUT_COLS]
    )
    h = F.conv(F.substring(F.md5(row), 1, 15), 16, 10).cast("decimal(38,0)")
    n, s = df.agg(F.count(F.lit(1)), F.sum(h)).first()
    return int(n), int(s or 0)


def batch_reference(input_dir: str) -> tuple[int, int]:
    """The digest ``gen.py`` stored next to the batch input when it
    generated it (see :func:`batch_reference_duckdb`)."""
    with open(os.path.join(input_dir, "reference.json"), encoding="utf-8") as fh:
        n, s = json.load(fh)
    return n, s


def batch_reference_duckdb(input_dir: str) -> tuple[int, int]:
    """(row count, order-free hash) of the six-action chain, in DuckDB:
    discard debug lines, mask card groups 1-3, route = service/level,
    host -> node, region and latency_ms out of props, drop debug_blob
    and props."""
    import duckdb

    files = sorted(glob.glob(os.path.join(input_dir, "part-*.json")))
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    tmp = os.environ.get("TMPDIR", ".").replace("'", "''")
    con.execute(f"SET temp_directory = '{tmp}'")
    cols = {
        "ts": "VARCHAR",
        "level": "VARCHAR",
        "service": "VARCHAR",
        "host": "VARCHAR",
        "status": "INTEGER",
        "msg": "VARCHAR",
        "trace_id": "VARCHAR",
        "props": "VARCHAR",
        "debug_blob": "VARCHAR",
    }
    exprs = {
        "ts": "ts",
        "level": "level",
        "service": "service",
        "status": "CAST(status AS VARCHAR)",
        "msg": r"regexp_replace(msg, '(\d{4}) (\d{4}) (\d{4}) (\d{4})', '**** **** **** \4', 'g')",
        "trace_id": "trace_id",
        "route": "service || '/' || level",
        "node": "host",
        "region": "json_extract_string(props, '$.region')",
        "latency_ms": "json_extract_string(props, '$.latency_ms')",
    }
    row = f"concat_ws(chr(31), {', '.join(f'coalesce({exprs[c]}, chr(0))' for c in BATCH_OUT_COLS)})"
    n, s = con.execute(
        f"""
        SELECT count(*), sum(CAST(('0x' || substr(md5({row}), 1, 15)) AS BIGINT)::HUGEINT)
        FROM read_json(?, format='newline_delimited', columns={cols!r})
        WHERE level IS DISTINCT FROM 'debug'
        """,
        [files],
    ).fetchone()
    con.close()
    return int(n), int(s or 0)


def stream_reference(input_dir: str, hot_key: str, limit: int) -> dict:
    """What the throttled stream must deliver, from the generated files:
    every non-hot event, and for the hot key sum over 1-s buckets of
    min(n, limit)."""
    non_hot: set[int] = set()
    hot_per_bucket: dict[int, int] = {}
    events = 0
    for path in glob.glob(os.path.join(input_dir, "ev-*.json")):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                events += 1
                if ev["service"] == hot_key:
                    b = int(ev["due"] // 1)
                    hot_per_bucket[b] = hot_per_bucket.get(b, 0) + 1
                else:
                    non_hot.add(ev["id"])
    return {
        "events": events,
        "non_hot_ids": non_hot,
        "hot_events": sum(hot_per_bucket.values()),
        "hot_admitted": sum(min(n, limit) for n in hot_per_bucket.values()),
    }


def corpus_reference(manifest: dict) -> set[int]:
    """Planted ground truth: the originals (ids below ``originals``)
    are exactly the documents that must survive."""
    return set(range(manifest["originals"]))
