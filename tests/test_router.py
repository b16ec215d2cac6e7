"""Golden router semantics — generalizes the reference's only unit test
(router.test.cpp:8-22) plus the full rule matrix from router.hpp:70-115."""

from __future__ import annotations

from pyspark.sql import functions as F

from dsp_spark.config import PipelineConfig, RouterRule
from dsp_spark.operators.router import route, route_with_drops


def msgs_df(spark, rows):
    """rows: list of (id, properties-dict)."""
    return spark.createDataFrame(
        [(i, props, "orig-topic", bytearray(b"payload")) for i, props in rows],
        "id long, properties map<string,string>, topic string, value binary",
    )


HB = {"type": "heartbeat"}
DYN = {"type": "dyn"}
EMPTY: dict[str, str] = {}

ALLOW_HB = RouterRule("hb", 1, "type", "heartbeat", "include", "main", "heartbeats")
DENY_HB = RouterRule("nohb", 2, "type", "heartbeat", "exclude", "main", "others")
WILD = RouterRule("all", 3, "*", "*", "include", "main", "everything")


def routed_pairs(df):
    return sorted((r["id"], r["topic"]) for r in df.collect())


def test_allow_match_rewrites_subject(spark):
    out = route(msgs_df(spark, [(1, HB)]), [ALLOW_HB])
    assert routed_pairs(out) == [(1, "heartbeats")]


def test_allow_no_match_drops(spark):
    out = route(msgs_df(spark, [(1, DYN)]), [ALLOW_HB])
    assert routed_pairs(out) == []


def test_allow_missing_property_drops(spark):
    out = route(msgs_df(spark, [(1, EMPTY)]), [ALLOW_HB])
    assert routed_pairs(out) == []


def test_deny_equal_drops(spark):
    out = route(msgs_df(spark, [(1, HB)]), [DENY_HB])
    assert routed_pairs(out) == []


def test_deny_unequal_routes(spark):
    out = route(msgs_df(spark, [(1, DYN)]), [DENY_HB])
    assert routed_pairs(out) == [(1, "others")]


def test_deny_missing_property_routes(spark):
    # reference default_match: deny + missing key -> pass (router.hpp:107-115);
    # this is the router.test.cpp:8-22 case (empty message routed by deny rule)
    out = route(msgs_df(spark, [(1, EMPTY)]), [DENY_HB])
    assert routed_pairs(out) == [(1, "others")]


def test_wildcard_matches_everything(spark):
    out = route(msgs_df(spark, [(1, EMPTY), (2, HB)]), [WILD])
    assert routed_pairs(out) == [(1, "everything"), (2, "everything")]


def test_multicast_copies(spark):
    # heartbeat matches both the allow rule and the wildcard -> 2 copies
    out = route(msgs_df(spark, [(1, HB)]), [ALLOW_HB, WILD])
    assert routed_pairs(out) == [(1, "everything"), (1, "heartbeats")]


def test_rule_order_preserved_in_output(spark):
    out = route(msgs_df(spark, [(1, HB)]), [ALLOW_HB, WILD])
    rules = [r["rule"] for r in out.orderBy("rule").collect()]
    assert rules == ["all", "hb"]


def test_drop_accounting(spark):
    routed, dropped = route_with_drops(
        msgs_df(spark, [(1, HB), (2, DYN), (3, EMPTY)]), [ALLOW_HB]
    )
    assert routed_pairs(routed) == [(1, "heartbeats")]
    drops = sorted((r["id"], r["drop_type"]) for r in dropped.collect())
    assert drops == [(2, "not_needed"), (3, "not_needed")]


def test_empty_ruleset_drops_all(spark):
    routed, dropped = route_with_drops(msgs_df(spark, [(1, HB)]), [])
    assert routed.count() == 0
    assert dropped.count() == 1


def test_config_yaml_roundtrip():
    cfg = PipelineConfig.from_yaml(
        """
app: {topic: dev-test}
interfaces:
  southbound: {type: kafka, kafka: {topics: [dev-test], batchSize: 10}}
  northbound:
    - {name: main-nb, type: kafka}
  metrics: {port: 9555}
router:
  - name: hb
    priority: 2
    condition: {key: type, value: heartbeat}
    action: include
    destination: main-nb
    subject: heartbeats
  - name: all
    priority: 1
    condition: {key: '*', value: '*'}
    action: include
    destination: main-nb
    subject: everything
"""
    )
    assert cfg.app_topic == "dev-test"
    assert cfg.source.type == "kafka"
    assert cfg.sinks[0].name == "main-nb"
    assert cfg.metrics_port == 9555
    # sorted by priority
    assert [r.name for r in cfg.rules] == ["all", "hb"]
    assert cfg.rules[0].is_wildcard


def test_router_is_one_codegen_stage(spark):
    """No higher-order function (array_compact's filter lambda) in the
    executed plan, and the explode runs inside whole-stage codegen; also
    with the observation the pipeline attaches."""
    import re

    df = msgs_df(spark, [(1, HB), (2, DYN), (3, EMPTY)])
    for out in (route(df, [ALLOW_HB, DENY_HB, WILD]),
                route(df, [ALLOW_HB, DENY_HB, WILD], observe="routed_plan")):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "lambdafunction" not in plan and "ArrayFilter" not in plan, plan
        assert re.search(r"^[ +\-|:]*\*\(\d+\) Generate ", plan, re.M), plan
