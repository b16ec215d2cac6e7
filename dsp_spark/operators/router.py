"""Content router: ordered rules, allow/deny, multicast, drop accounting.

Re-expression of the reference router (reference: router.hpp:18-120;
route() 70-95, match() 100-105, default_match() 107-115, wildcard
19+118) as a single-pass DataFrame transform.

Semantics reproduced exactly (golden tests in tests/test_router.py
generalize the reference's router.test.cpp:8-22):

* rules are evaluated in priority order; EVERY matching rule emits a
  copy of the message with `topic` rewritten to the rule's subject
  (multicast, 0..N outputs per input);
* include: property[key] == value matches;
* exclude: property[key] != value matches; equal does not;
* missing property: include -> no match, exclude -> match;
* key == value == "*" matches everything;
* messages matching no rule are dropped and accounted with
  drop_type="not_needed" (reference: svc/handler.cpp:162-165).

Scale: ONE scan of the input regardless of rule count — the rule list
is compiled into an array with one slot per rule, holding the rule's
struct where it matches and null where it does not; the array is
exploded (`inline`) and the nulls are filtered out after it. No
higher-order function: `array_compact` is a `filter` with a lambda,
which takes the explode out of whole-stage codegen. No per-rule union
(which would rescan the source N times), no shuffle at all: routing is
embarrassingly parallel and the whole router is one codegen stage.
Works identically on batch and streaming frames.

`route(..., observe=name)` counts routed copies and unmatched messages
before the explode, in the job that consumes the frame (the Pipeline's
`routed` observation and drop counter).
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dsp_spark.config import RouterRule


def _rule_condition(rule: RouterRule) -> Column:
    if rule.is_wildcard:
        return F.lit(True)
    prop = F.col("properties").getItem(rule.key)
    if rule.action == "include":
        # missing property: null <=> value is false, so no match
        return prop.eqNullSafe(rule.value)
    # exclude: missing property matches (default_match, router.hpp:107-115)
    return prop.isNull() | (prop != rule.value)


def _explode(
    df: DataFrame, rules: list[RouterRule], flags: list[Column], other: list[str]
) -> DataFrame:
    """One row per matching rule, in rule order: an array with each
    rule's struct(topic=subject, rule, destination) where its flag is set
    and null where not, inlined into columns, null rows filtered out.
    Array, inline and filter all generate code, so the router is one
    codegen stage."""
    slots = F.array(
        *[
            F.when(
                flag,
                F.struct(
                    F.lit(r.subject).alias("topic"),
                    F.lit(r.name).alias("rule"),
                    F.lit(r.destination).alias("destination"),
                ),
            )
            for r, flag in zip(rules, flags)
        ]
    )
    return df.select(*other, F.inline(slots)).filter(F.col("rule").isNotNull())


def route(
    df: DataFrame, rules: list[RouterRule], observe: str | None = None
) -> DataFrame:
    """0..N routed copies per message; topic rewritten per matching rule.

    Output schema = input + `rule`, `destination` columns, with `topic`
    replaced by the matched rule's subject.

    With `observe`, the messages are observed under that name before the
    explode: `messages`, the number of routed copies, and `dropped`, the
    number of messages no rule matched. An empty rule set routes nothing
    and observes nothing.
    """
    if not rules:
        return df.limit(0).select(
            "*", F.lit("").alias("rule"), F.lit("").alias("destination")
        )
    other = [c for c in df.columns if c != "topic"]
    # one boolean column per rule, never null, all in one projection: so
    # codegen's subexpression elimination probes each property key the
    # rules test once per row, however many rules test it
    names = [f"__dsp_h{i}" for i in range(len(rules))]
    flagged = df.withColumns(dict(zip(names, map(_rule_condition, rules))))
    flags = [F.col(c) for c in names]
    if observe is not None:
        n_hits = reduce(operator.add, [flag.cast("int") for flag in flags])
        flagged = flagged.observe(
            observe,
            F.sum(n_hits).alias("messages"),
            F.sum((n_hits == 0).cast("int")).alias("dropped"),
        )
    return _explode(flagged, rules, flags, other)


def route_with_drops(
    df: DataFrame, rules: list[RouterRule]
) -> tuple[DataFrame, DataFrame]:
    """(routed, dropped) — dropped rows carry drop_type='not_needed'.

    The two frames share the scan when consumed via one foreachBatch
    (persist the batch first); kept separate so drop accounting can
    feed metrics without touching the hot path. A message is dropped
    when the OR of the rules' match flags is false.
    """
    if not rules:
        return (
            route(df, rules),
            df.withColumn("drop_type", F.lit("not_needed")),
        )
    matched = reduce(operator.or_, [_rule_condition(r) for r in rules])
    dropped = df.filter(~matched).withColumn("drop_type", F.lit("not_needed"))
    return route(df, rules), dropped
