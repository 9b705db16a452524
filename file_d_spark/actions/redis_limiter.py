"""Shared (cross-pipeline) throttle limits backed by redis — the
reference's redis limiter mode
(/root/reference/plugin/action/throttle/redis_limiter.go:15-310).

Several pipeline deployments sharing one rate budget coordinate
through a KV store:

  * the LIMIT for a throttle key can be overridden centrally at
    ``<pipeline>_<field>_<value>_limit`` (or an explicit override
    key), either as a bare integer or as a JSON object with the limit
    under ``limiter_value_field`` and an optional distribution under
    ``limiter_distribution_field`` (redis_limiter.go:211-240,
    updateKeyLimit :242-277);
  * each deployment periodically pushes its per-bucket consumption
    with INCRBY on ``<prefix><bucketID>_<distrIdx>`` and reads back
    the post-increment total — the shared view of how much of the
    budget everyone together has used (syncLocalGlobalLimiters
    :146-185); bucket keys age out with per-bucket-age TTLs.

Spark mapping: the batch throttle is a window expression, so the
shared state is consulted at PLAN BUILD time (limit overrides fetched
once per batch — the analogue of the reference's periodic
updateKeyLimit tick) and consumption publishes AFTER materialization
via :func:`publish_usage` over the admitted frame's bounded
(key, bucket) aggregate.  Both touches are driver-side and bounded:
limits for at most ``max_tracked_values`` distinct keys (the
reference's limiters map is likewise per-value in-memory state),
counts for key×bucket groups of the batch.
"""

from __future__ import annotations

import json
import math
from dataclasses import dataclass, field


@dataclass
class ComplexDistribution:
    ratio: float
    limit: int


@dataclass
class LimitDistributions:
    """parseLimitDistribution output (distribution.go:34-89)."""

    field: list[str] = None
    idx_by_key: dict = None
    distributions: list[ComplexDistribution] = None
    def_distribution: ComplexDistribution = None
    enabled: bool = False

    def size(self) -> int:
        return len(self.distributions or [])

    def is_simple(self) -> bool:
        """No distributions -> plain per-key buckets."""
        return self.size() == 0


def parse_limit_distribution(cfg: dict, total_limit: int) -> LimitDistributions:
    """distribution.go:34-89 — per-ratio limits round(ratio*total);
    the default (unlisted values) distribution gets the remaining
    ratio rounded to 2 decimals."""
    f = cfg.get("field", "") if cfg else ""
    if not f:
        return LimitDistributions()
    ratios = cfg.get("ratios") or []
    selector = f.split(".")
    if not ratios:
        return LimitDistributions(field=selector, enabled=bool(cfg.get("enabled")))
    ld = LimitDistributions(
        field=selector,
        idx_by_key={},
        distributions=[],
        enabled=bool(cfg.get("enabled")),
    )
    ratio_sum = 0.0
    for i, r in enumerate(ratios):
        ratio = float(r.get("ratio", -1))
        if ratio < 0 or ratio > 1:
            raise ValueError("'ratio' value must be in range [0.0;1.0]")
        values = r.get("values") or []
        if not values:
            raise ValueError(f"empty 'values' in ratio #{i}")
        ratio_sum += ratio
        for v in values:
            if str(v) in ld.idx_by_key:
                raise ValueError(f"value '{v}' is duplicated in 'ratios' list")
            ld.idx_by_key[str(v)] = i
        ld.distributions.append(
            ComplexDistribution(ratio, int(round(ratio * total_limit)))
        )
    dif = 1 - ratio_sum
    if dif < -1e-9:
        raise ValueError("sum of ratios must be less than or equal to 1")
    def_ratio = math.floor(dif * 100 + 0.5) / 100
    ld.def_distribution = ComplexDistribution(
        def_ratio, int(round(def_ratio * total_limit))
    )
    return ld


def decode_key_limit_value(
    data: bytes | str, val_field: str, distr_field: str = ""
) -> tuple[int, dict]:
    """JSON limit payload decode (redis_limiter.go:211-240): the limit
    lives under ``val_field`` (bare number or quoted string); the
    optional distribution object under ``distr_field``."""
    if isinstance(data, bytes):
        data = data.decode()
    try:
        m = json.loads(data)
    except ValueError as e:
        raise ValueError(f"failed to unmarshal map: {e}") from e
    if not isinstance(m, dict):
        raise ValueError("failed to unmarshal map: not a JSON object")
    if val_field not in m:
        raise ValueError(f"no {val_field!r} key in map")
    raw = m[val_field]
    if isinstance(raw, bool) or not isinstance(raw, (int, str)):
        raise ValueError(f"limit value under {val_field!r} is not an integer")
    try:
        limit = int(str(raw).strip('"'))
    except ValueError as e:
        raise ValueError(f"limit value under {val_field!r}: {e}") from e
    distr: dict = {}
    if distr_field and distr_field in m:
        distr = m[distr_field]
        if not isinstance(distr, dict):
            raise ValueError(
                f"distribution value under {distr_field!r} is not an object"
            )
    return limit, distr


KEY_SUFFIX = "limit"


class RedisLimiter:
    """One throttle key's shared-limit view (redis_limiter.go:56-94).

    Key layout (redis_limiter.go:79-91):
      prefix    = <pipeline>_<throttle_field>_<value>_
      limit key = <prefix>limit            (unless overridden)
      buckets   = <prefix><bucketID>_<distrIdx>
    """

    def __init__(
        self,
        client,
        pipeline: str,
        throttle_field: str,
        throttle_value: str,
        default_limit: int,
        bucket_interval_s: float = 60.0,
        key_limit_override: str = "",
        val_field: str = "",
        distr_field: str = "",
        default_distribution: dict | None = None,
    ):
        self.client = client
        self.key_prefix = f"{pipeline}_{throttle_field}_{throttle_value}_"
        self.key_limit = key_limit_override or self.key_prefix + KEY_SUFFIX
        self.val_field = val_field
        self.distr_field = distr_field
        self.bucket_interval_s = bucket_interval_s
        self.limit = int(default_limit)
        self.distributions = parse_limit_distribution(
            default_distribution or {}, self.limit
        )
        self.last_distr_cfg: dict = default_distribution or {}
        self.last_error: Exception | None = None

    def update_key_limit(self) -> None:
        """Pull the central limit (updateKeyLimit, :242-277): missing
        key keeps the local default; malformed payloads raise."""
        data = self.client.get(self.key_limit)
        if data is None:
            return
        distr_cfg: dict = {}
        if self.val_field:
            limit, distr_cfg = decode_key_limit_value(
                data, self.val_field, self.distr_field
            )
        else:
            try:
                limit = int(data.decode() if isinstance(data, bytes) else data)
            except ValueError as e:
                raise ValueError(
                    f"failed to convert redis value to int64: {e}"
                ) from e
        self.limit = limit
        # empty cfg -> simple buckets; a present cfg (re)builds the
        # distributed ones — covers both recreate_* directions of the
        # reference test
        self.last_distr_cfg = distr_cfg
        self.distributions = parse_limit_distribution(distr_cfg, limit)

    def sync(
        self, bucket_values: dict[int, list[int]]
    ) -> dict[tuple[int, int], int]:
        """Push local consumption, pull shared totals
        (syncLocalGlobalLimiters, :146-185).

        ``bucket_values``: bucket id -> per-distribution increments
        (single-element lists for simple buckets).  Empty buckets are
        skipped.  Each subkey gets INCRBY + a TTL that grows with the
        bucket's index so old buckets age out first; returns
        (bucket_id, distr_idx) -> post-increment shared total.  A
        failing limit refresh is recorded, not raised (the reference
        logs and continues, :139-141)."""
        totals: dict[tuple[int, int], int] = {}
        ids = sorted(bucket_values)
        for idx, bucket_id in enumerate(ids):
            values = bucket_values[bucket_id]
            if not values or not any(values):
                continue
            for distr_idx, v in enumerate(values):
                subkey = f"{self.key_prefix}{bucket_id}_{distr_idx}"
                totals[(bucket_id, distr_idx)] = self.client.incrby(subkey, v)
                self.client.expire(
                    subkey, self.bucket_interval_s * (1 + idx)
                )
        try:
            self.update_key_limit()
            self.last_error = None
        except Exception as e:  # noqa: BLE001
            self.last_error = e
        return totals


# --------------------------------------------------------------------------
# limits file: offline snapshot of the centrally-fetched limits
# --------------------------------------------------------------------------

#: path -> monotonic time of the last snapshot write (the batch
#: analogue of the reference's saveLimitsCyclic goroutine: each
#: plan-build fetch is a tick, saves are rate-limited to the interval)
_LAST_LIMITS_SAVE: dict[str, float] = {}


def save_limits(path: str, lims_cfg: dict) -> None:
    """Atomic snapshot of the limiter limit configs
    (limiters_map.go:313-349): marshal to ``<path>.atomic.<rand8>``,
    fsync, rename over ``path``.  The file format mirrors the
    reference's ``limsCfg`` map — ``"<rule>:<value>" -> {key, kind,
    limit, distribution}`` — so snapshots interoperate."""
    import os
    import secrets

    tmp = f"{path}.atomic.{secrets.randbelow(10**8):08d}"
    with open(tmp, "w") as fh:
        json.dump(lims_cfg, fh, indent=2)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)


def load_limits(path: str) -> dict:
    """Startup load (limiters_map.go:362-409): missing file -> empty;
    a directory is an error; an empty file -> empty; malformed JSON
    raises ValueError."""
    import os

    if not os.path.exists(path):
        return {}
    if os.path.isdir(path):
        raise ValueError(f"file {path} is dir")
    with open(path) as fh:
        data = fh.read()
    if not data.strip():
        return {}
    try:
        m = json.loads(data)
    except ValueError as e:
        raise ValueError(f"can't unmarshal map: {e}") from e
    if not isinstance(m, dict):
        raise ValueError("can't unmarshal map: not a JSON object")
    return m


def _build_client(cfg: dict):
    if cfg.get("client") is not None:
        return cfg["client"]
    from file_d_spark.xredis import Options, new_client

    return new_client(
        Options(
            client_type=cfg.get("client_type", "base"),
            addrs=list(cfg.get("addrs", [])),
            id=cfg.get("id", ""),
            password=cfg.get("password", ""),
            read_timeout=float(cfg.get("read_timeout", 1.0)),
            write_timeout=float(cfg.get("write_timeout", 1.0)),
            max_retries=int(cfg.get("max_retries", 0)),
        )
    )


def fetch_limit_overrides(
    df,
    key_col: str,
    throttle_field: str,
    backend_cfg: dict,
    default_limit: int,
    bucket_interval_s: float,
    keys_are_limit_keys: bool = False,
) -> dict[str, int]:
    """Per-key limit overrides for a batch: the distinct throttle keys
    of the batch (bounded by ``max_tracked_values`` — beyond the cap
    keys keep the config limit, mirroring the reference's bounded
    in-memory limiters map), each looked up via its own limiter key.
    ``key_col`` is the frame column holding the key values;
    ``throttle_field`` the config field name embedded in the redis key
    prefix.  Driver-side: one bounded distinct + one GET per tracked
    key.

    ``keys_are_limit_keys`` serves ``limiter_key_field``
    (throttle.go:246,543-545): each tracked value IS the redis limit
    key verbatim — the naming-pattern prefix is bypassed, exactly the
    reference's per-event key override.

    With ``limits_file`` set in ``backend_cfg`` (throttle.go:286,
    limiters_map.go:300-409), the centrally-fetched limits are
    snapshotted to that JSON file (atomic tmp-then-rename, rate
    limited to ``limits_save_interval``, default 3s) and loaded back
    as the starting overrides on the next fetch — so a restart during
    a redis outage keeps the last known central limits instead of
    silently falling back to the config value.  When redis answers, its
    value wins over the file's, mirroring the reference's precedence.
    """
    from pyspark.sql import functions as F

    client = _build_client(backend_cfg)
    pipeline = backend_cfg.get("pipeline", "pipeline")
    cap = int(backend_cfg.get("max_tracked_values", 10000))
    values = backend_cfg.get("values")
    if values is None:
        rows = (
            df.select(F.col(key_col).cast("string").alias("k"))
            .where(F.col("k").isNotNull())
            .distinct()
            .limit(cap)
            .collect()
        )
        values = [r["k"] for r in rows]

    limits_file = str(backend_cfg.get("limits_file", "") or "")
    rule_letter = str(backend_cfg.get("rule_letter", "a"))
    kind = str(backend_cfg.get("kind", "count") or "count")
    file_cfg: dict = {}
    if limits_file:
        try:
            file_cfg = load_limits(limits_file)
        except ValueError:
            file_cfg = {}  # reference logs the parse failure and continues

    out: dict[str, int] = {}
    # seed from the loaded file so keys tracked in earlier batches but
    # absent from this one keep their persisted central limits (the
    # reference's limiters map persists across save ticks —
    # limiters_map.go:300-409); per-key rows below overwrite in place
    snapshot: dict = dict(file_cfg)
    for v in values:
        lim = RedisLimiter(
            client,
            pipeline,
            throttle_field,
            v,
            default_limit,
            bucket_interval_s=bucket_interval_s,
            key_limit_override=(
                v if keys_are_limit_keys
                else backend_cfg.get("key_limit_override", "")
            ),
            val_field=backend_cfg.get("limiter_value_field", ""),
            distr_field=backend_cfg.get("limiter_distribution_field", ""),
        )
        map_key = f"{rule_letter}:{v}"
        row = file_cfg.get(map_key)
        if isinstance(row, dict):
            try:
                lim.limit = int(row.get("limit"))
                lim.last_distr_cfg = (
                    row.get("distribution")
                    if isinstance(row.get("distribution"), dict)
                    else {}
                )
            except (TypeError, ValueError):
                pass  # malformed snapshot row: keep the config limit
        try:
            lim.update_key_limit()
        except Exception:  # noqa: BLE001
            # redis unreachable or malformed central value: the file
            # limit (if any) survives, else the config limit holds
            pass
        if lim.limit != default_limit:
            out[v] = lim.limit
        snapshot[map_key] = {
            "key": lim.key_limit,
            "kind": kind,
            "limit": lim.limit,
            "distribution": lim.last_distr_cfg or {},
        }
    if limits_file:
        _maybe_save_limits(limits_file, snapshot, backend_cfg)
    return out


def _maybe_save_limits(path: str, snapshot: dict, backend_cfg: dict) -> None:
    """Rate-limited snapshot write (saveLimitsCyclic,
    limiters_map.go:300-311): at most one write per
    ``limits_save_interval`` across fetches; write errors are
    swallowed like the reference's logged-and-continue."""
    import time

    from file_d_spark.xtime import parse_duration_s

    interval = parse_duration_s(backend_cfg.get("limits_save_interval", "3s"))
    now = time.monotonic()
    last = _LAST_LIMITS_SAVE.get(path)
    if last is not None and now - last < interval:
        return
    try:
        save_limits(path, snapshot)
        _LAST_LIMITS_SAVE[path] = now
    except OSError:
        pass


def publish_usage(
    admitted_df,
    key_field: str,
    time_field: str,
    backend_cfg: dict,
    bucket_interval_s: float,
) -> int:
    """Push a materialized batch's admitted counts to the shared
    counters: one (key, bucket) aggregate -> bounded collect -> INCRBY
    per group (the reference's sync loop, :146-185).  Returns the
    number of counters updated."""
    from pyspark.sql import functions as F

    client = _build_client(backend_cfg)
    pipeline = backend_cfg.get("pipeline", "pipeline")
    bucket_us = max(1, int(bucket_interval_s * 1e6))
    rows = (
        admitted_df.groupBy(
            F.col(key_field).cast("string").alias("k"),
            F.floor(F.unix_micros(F.col(time_field)) / F.lit(bucket_us)).alias(
                "b"
            ),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    for r in rows:
        lim = RedisLimiter(
            client,
            pipeline,
            key_field,
            r["k"],
            default_limit=0,
            bucket_interval_s=bucket_interval_s,
        )
        lim.sync({int(r["b"]): [int(r["n"])]})
    return len(rows)
