"""throttle limit_distribution: per-value ratio shares of the limit
(F5 fixture family)."""

from file_d_spark import Pipeline


def _kept_per_backend(spark, rows, schema, cfg):
    """Run one throttle config over the same rows twice: as they are
    (JVM fold) and with an extra map<string,string> column, which the
    schema routes to the Arrow replay.  Returns the sorted kept ``n``
    per backend and checks that only the map schema plans Python."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(rows, schema)
    frames = {
        "jvm": df,
        "arrow": df.withColumn("tags", F.create_map(F.lit("k"), F.col("k"))),
    }
    kept = {}
    for backend, frame in frames.items():
        out = Pipeline.from_dict({"actions": [cfg]}).apply(frame)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert ("FlatMapGroupsInPandas" in plan) == (backend == "arrow"), backend
        kept[backend] = sorted(r.n for r in out.collect())
    return kept


def test_throttle_limit_distribution(spark):
    rows = []
    for i in range(30):
        sev = "error" if i % 3 == 0 else ("warn" if i % 3 == 1 else "info")
        rows.append(("svc", f"2024-01-01T00:00:{i:02d}Z", sev, i))
    df = spark.createDataFrame(rows, "k string, time string, severity string, n long")
    p = Pipeline.from_dict(
        {
            "actions": [
                {
                    "type": "throttle",
                    "throttle_field": "k",
                    "time_field": "time",
                    "time_field_format": "rfc3339",
                    "bucket_interval": "1m",
                    "buckets_count": 100000,
                    "default_limit": 10,
                    "order_fields": ["n"],
                    "limit_distribution": {
                        "field": "severity",
                        "enabled": True,
                        "ratios": [
                            {"ratio": 0.5, "values": ["error"]},
                            {"ratio": 0.3, "values": ["warn"]},
                        ],
                    },
                }
            ]
        }
    )
    out = p.apply(df)
    counts = {r.severity: r.c for r in out.groupBy("severity").count().withColumnRenamed("count", "c").collect()}
    # limit 10, reserves: error 50% -> 5, warn 30% -> 3, default 20% -> 2.
    # Exact reference replay (in_memory_limiter.go getDistrData) over the
    # interleaved e,w,i sequence: info's 3rd event STEALS error's free
    # slot (default over reserve, error most free), then error's own
    # 5th event fills its last — error 4, warn 3, info 3.
    assert counts == {"error": 4, "warn": 3, "info": 3}
    assert sum(counts.values()) == 10  # the full limit is used


def test_throttle_distribution_steal_golden(spark):
    """throttle_test.go:848-944 TestThrottleWithDistribution, event for
    event: limit 12, error 0.5 -> 6, warn/info 0.3 -> 4, default -> 2;
    two default-group events steal free slots from 'warn,info' and
    'error'; expected survivors {error:5, info:2, warn:1, debug:3, "":1}."""
    levels = [
        "error", "info", "error", "", "debug", "error", "error", "debug",
        "warn", "error", "info", "debug", "info", "warn", "", "error", "debug",
    ]
    rows = [("pod_1", f"2024-01-01T00:00:00.{i:03d}Z", lvl, i) for i, lvl in enumerate(levels)]
    df = spark.createDataFrame(rows, "k8s_pod string, time string, level string, n long")
    p = Pipeline.from_dict(
        {
            "actions": [
                {
                    "type": "throttle",
                    "throttle_field": "k8s_pod",
                    "time_field": "time",
                    "time_field_format": "rfc3339nano",
                    "bucket_interval": "1s",
                    "buckets_count": 1,
                    "default_limit": 12,
                    "order_fields": ["n"],
                    "limit_distribution": {
                        "field": "level",
                        "enabled": True,
                        "ratios": [
                            {"ratio": 0.5, "values": ["error"]},
                            {"ratio": 0.3, "values": ["warn", "info"]},
                        ],
                    },
                }
            ]
        }
    )
    out = p.apply(df)
    counts = {}
    for r in out.collect():
        counts[r.level] = counts.get(r.level, 0) + 1
    assert counts == {"error": 5, "info": 2, "warn": 1, "debug": 3, "": 1}


def test_throttle_negative_limit_unlimited(spark):
    """throttle_test.go:153-181 TestThrottleNoLimit: rules with negative
    limits and a negative default admit every event."""
    from tests.test_actions import run_actions

    rows = [(i, f"pod{i % 3}", f"ns_{i % 2 + 1}", "2024-01-01T00:00:%02dZ" % (i % 60)) for i in range(200)]
    out = run_actions(
        spark,
        rows,
        "event_id long, k8s_pod string, k8s_ns string, time string",
        [
            {
                "type": "throttle",
                "throttle_field": "k8s_pod",
                "bucket_interval": "100ms",
                "buckets_count": 2,
                "default_limit": -20,
                "rules": [
                    {"limit": -2, "conditions": {"k8s_ns": "ns_1"}},
                    {"limit": -3, "conditions": {"k8s_ns": "ns_2"}},
                ],
            }
        ],
    )
    assert out.count() == 200


def test_distribution_config_validation(spark):
    """distribution_test.go Test_parseLimitDistribution error rows:
    out-of-range ratio, empty values, duplicated value, ratio sum > 1."""
    import pytest

    from tests.test_actions import run_actions

    rows = [("k", "2024-01-01T00:00:00Z", "error", 0)]
    schema = "k string, time string, severity string, n long"

    def run_dist(ratios):
        return run_actions(
            spark,
            rows,
            schema,
            [
                {
                    "type": "throttle",
                    "throttle_field": "k",
                    "time_field": "time",
                    "bucket_interval": "1m",
                    "buckets_count": 10,
                    "default_limit": 10,
                    "limit_distribution": {"field": "severity", "ratios": ratios},
                }
            ],
        ).count()

    with pytest.raises(Exception, match="range"):
        run_dist([{"ratio": 1.5, "values": ["error"]}])
    with pytest.raises(Exception, match="empty 'values'"):
        run_dist([{"ratio": 0.5, "values": []}])
    with pytest.raises(Exception, match="duplicated"):
        run_dist([
            {"ratio": 0.5, "values": ["error"]},
            {"ratio": 0.3, "values": ["error"]},
        ])
    with pytest.raises(Exception, match="sum of ratios"):
        run_dist([
            {"ratio": 0.8, "values": ["error"]},
            {"ratio": 0.7, "values": ["warn"]},
        ])
    # valid config still runs
    assert run_dist([{"ratio": 0.5, "values": ["error"]}]) == 1


def test_throttle_dist_backends_bit_parity(spark):
    """The r13 JVM aggregate()-fold replay and the Arrow applyInPandas
    replay are the SAME sequential admission (in_memory_limiter.go) —
    assert bit-equal survivors over a seeded adversarial corpus:
    multiple keys/buckets, a dist rule + a no-dist rule + a dist
    default, size kind on one rule, steal pressure, and a do_if gate
    (gated rows bypass both paths uncounted)."""
    import random

    rng = random.Random(13)
    sevs = ["error", "warn", "info", "debug", ""]
    rows = []
    for i in range(400):
        rows.append(
            (
                f"k{rng.randrange(3)}",
                f"2024-01-01T00:{rng.randrange(3):02d}:{rng.randrange(60):02d}Z",
                rng.choice(sevs),
                f"ns_{rng.randrange(3)}",
                "x" * rng.randrange(1, 30),
                i,
            )
        )
    schema = (
        "k string, time string, severity string, ns string,"
        " body string, n long"
    )
    cfg = {
        "type": "throttle",
        "throttle_field": "k",
        "time_field": "time",
        "time_field_format": "rfc3339",
        "bucket_interval": "1m",
        "buckets_count": 100000,
        "default_limit": 8,
        "order_fields": ["n"],
        "do_if": {
            "op": "not",
            "operands": [
                {"op": "equal", "field": "ns", "values": ["ns_2"]}
            ],
        },
        "rules": [
            {
                "limit": 6,
                "conditions": {"ns": "ns_0"},
                "limit_distribution": {
                    "field": "severity",
                    "enabled": True,
                    "ratios": [
                        {"ratio": 0.5, "values": ["error"]},
                        {"ratio": 0.3, "values": ["warn", "info"]},
                    ],
                },
            },
            {"limit": 120, "limit_kind": "size",
             "limit_size_field": "body", "conditions": {"ns": "ns_1"}},
        ],
        "limit_distribution": {
            "field": "severity",
            "enabled": True,
            "ratios": [{"ratio": 0.4, "values": ["error", "warn"]}],
        },
    }
    outs = _kept_per_backend(spark, rows, schema, cfg)
    assert outs["jvm"] == outs["arrow"]
    assert 0 < len(outs["jvm"]) < 400  # the throttle actually bit


def test_throttle_dist_backends_parity_more_shapes(spark):
    """Two more adversarial parity shapes for the fold vs Arrow
    (third r13 review round): (a) ratios summing to exactly 1.0 — a
    ZERO default reserve, so every default-group event steals from
    its first arrival, plus a negative-limit rule riding alongside;
    (b) size kind with zero-length fields — zero-cost events admit
    without consuming budget (the documented quadratic-caveat shape)
    interleaved with oversized events."""
    import random

    schema = (
        "k string, time string, severity string, ns string,"
        " body string, n long"
    )

    def corpus(seed, bodies):
        rng = random.Random(seed)
        sevs = ["error", "warn", "info", "debug", ""]
        return [
            (
                f"k{rng.randrange(2)}",
                f"2024-01-01T00:0{rng.randrange(2)}:{rng.randrange(60):02d}Z",
                rng.choice(sevs),
                f"ns_{rng.randrange(2)}",
                rng.choice(bodies),
                i,
            )
            for i in range(300)
        ]

    zero_reserve = {
        "type": "throttle",
        "throttle_field": "k",
        "time_field": "time",
        "time_field_format": "rfc3339",
        "bucket_interval": "1m",
        "buckets_count": 100000,
        "default_limit": 10,
        "order_fields": ["n"],
        "rules": [
            {"limit": -5, "conditions": {"ns": "ns_1"}},
        ],
        "limit_distribution": {
            "field": "severity",
            "enabled": True,
            "ratios": [
                {"ratio": 0.5, "values": ["error"]},
                {"ratio": 0.3, "values": ["warn"]},
                {"ratio": 0.2, "values": ["info"]},
            ],
        },
    }
    zero_size = {
        "type": "throttle",
        "throttle_field": "k",
        "time_field": "time",
        "time_field_format": "rfc3339",
        "bucket_interval": "1m",
        "buckets_count": 100000,
        "default_limit": 40,
        "limit_kind": "size",
        "limit_size_field": "body",
        "order_fields": ["n"],
        "limit_distribution": {
            "field": "severity",
            "enabled": True,
            "ratios": [{"ratio": 0.5, "values": ["error", "warn"]}],
        },
    }
    for name, cfg, bodies in (
        ("zero_reserve", zero_reserve, ["x"]),
        ("zero_size", zero_size, ["", "x" * 5, "x" * 60]),
    ):
        outs = _kept_per_backend(spark, corpus(7, bodies), schema, cfg)
        assert outs["jvm"] == outs["arrow"], name
        assert 0 < len(outs["jvm"]) < 300, name  # admission actually bit


def test_throttle_dist_jvm_plan_has_no_python(spark):
    """The default distribution backend must keep Python out of the
    plan (VERDICT r12 #4: the applyInPandas path previously needed a
    plan-guard allowance; the fold rewrite removes the need)."""
    from file_d_spark import Pipeline

    rows = [("k", f"2024-01-01T00:00:{i:02d}Z", ["error", "info"][i % 2], i)
            for i in range(20)]
    df = spark.createDataFrame(
        rows, "k string, time string, severity string, n long"
    )
    p = Pipeline.from_dict(
        {
            "actions": [
                {
                    "type": "throttle",
                    "throttle_field": "k",
                    "time_field": "time",
                    "time_field_format": "rfc3339",
                    "bucket_interval": "1m",
                    "buckets_count": 10,
                    "default_limit": 4,
                    "order_fields": ["n"],
                    "limit_distribution": {
                        "field": "severity",
                        "enabled": True,
                        "ratios": [{"ratio": 0.5, "values": ["error"]}],
                    },
                }
            ]
        }
    )
    plan = p.apply(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_throttle_dist_variant_schema_falls_back_to_arrow(spark):
    """Review r13: VariantType (like MapType) has no ordering, so the
    JVM fold's array_sort cannot plan over it — the backend gate must
    route such schemas to the Arrow replay instead of failing at plan
    build."""
    from pyspark.sql import functions as F

    from file_d_spark import Pipeline

    rows = [("k", f"2024-01-01T00:00:{i:02d}Z",
             ["error", "info"][i % 2], i, '{"a": 1}')
            for i in range(20)]
    df = spark.createDataFrame(
        rows, "k string, time string, severity string, n long, j string"
    ).withColumn("var", F.parse_json("j"))
    p = Pipeline.from_dict(
        {
            "actions": [
                {
                    "type": "throttle",
                    "throttle_field": "k",
                    "time_field": "time",
                    "time_field_format": "rfc3339",
                    "bucket_interval": "1m",
                    "buckets_count": 10,
                    "default_limit": 4,
                    "order_fields": ["n"],
                    "limit_distribution": {
                        "field": "severity",
                        "enabled": True,
                        "ratios": [{"ratio": 0.5, "values": ["error"]}],
                    },
                }
            ]
        }
    )
    out = p.apply(df)
    assert out.count() == 4  # the limiter still bites, via Arrow


def test_type_unorderable_is_a_whitelist():
    """Second review pass r13: the gate must fail CLOSED — any type
    Catalyst can't order (calendar intervals, future types) routes to
    Arrow, not just the maps/variants a blacklist happened to name."""
    from pyspark.sql import types as T

    from file_d_spark.actions.throttle import _type_unorderable

    assert _type_unorderable(T.CalendarIntervalType())
    assert _type_unorderable(T.MapType(T.StringType(), T.LongType()))
    assert _type_unorderable(
        T.StructType([T.StructField("v", T.VariantType())])
    )
    assert not _type_unorderable(
        T.StructType(
            [
                T.StructField("s", T.StringType()),
                T.StructField("a", T.ArrayType(T.DecimalType(10, 2))),
                T.StructField("t", T.TimestampType()),
            ]
        )
    )
