"""The driver-side build tail (estimator.rule_base_from_raw) must equal,
bit for bit, the DataFrame algebra it replaces in fit(): costs,
R.weights_from_raw(resolve=True), R.merge_max / R.merge_avg and
min-support pruning, run by Spark on the SAME collected
R.raw_rule_stats aggregate."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL

COST_MATRIX = {0: 1.0, 1: 3.5, 2: 0.75}

CONFIGS = {
    "cs": dict(),
    "none": dict(cost_mode="none"),
    "cost_matrix": dict(cost_mode=COST_MATRIX),
    "buckets_max": dict(num_buckets=8, merge_policy="max"),
    "buckets_avg": dict(num_buckets=8, merge_policy="avg"),
    "buckets_avg_none": dict(num_buckets=3, merge_policy="avg", cost_mode="none"),
    "three_class": dict(three_class=True),
    "three_class_buckets_avg": dict(three_class=True, num_buckets=4, merge_policy="avg"),
    # threshold = the median cell coverage, so about half the rules go
    "min_support": dict(min_rule_support="median"),
    "min_support_buckets": dict(min_rule_support="median", num_buckets=5),
}


def _bits(rows) -> list[tuple]:
    """Exact comparison form: float.hex tells -0.0 from 0.0 and every
    last-ulp difference apart."""
    return sorted(tuple(r[:-1]) + (float(r[-1]).hex(),) for r in rows)


def _training(spark, three_class: bool):
    from chi_frbcs_bigdatacs_spark.sources.testdata import lineitem_clf

    df = lineitem_clf(spark, SF_SMALL)
    if three_class:
        # a third class from the same rows: many cells then hold three
        # candidate classes, so stot is a 3-term sum
        df = df.withColumn(
            "label",
            F.when(F.col("id") % 5 == 0, F.lit(2)).otherwise(F.col("label")),
        )
    return df


def _coverage(raw_rows, ants) -> dict[tuple, int]:
    """Training examples generating each cell (sum of n_gen)."""
    cov: dict[tuple, int] = {}
    for r in raw_rows:
        cell = tuple(r[a] for a in ants)
        cov[cell] = cov.get(cell, 0) + r["n_gen"]
    return cov


def _spark_rule_base(spark, raw, raw_rows, parts, keys, cfg, support) -> list:
    """The pre-driver fit() tail: the collected aggregate recreated as
    a local DataFrame and finished by the rules.py algebra."""
    from chi_frbcs_bigdatacs_spark.fuzzy import rules as R

    ants = [R.label_col(i) for i in range(len(parts.features))]
    counts: dict[tuple, int] = {}
    for r in raw_rows:
        k = (r["bucket"] if keys else None, r["label"])
        counts[k] = counts.get(k, 0) + r["n_gen"]
    crows = [{"bucket": b, "label": lab, "n": n} for (b, lab), n in counts.items()]
    local = spark.createDataFrame(raw_rows, schema=raw.schema)
    cost_col = R.cost_literal(crows, cfg.get("cost_mode", "cs"), bucketed=bool(keys))
    rules = R.weights_from_raw(local, parts, keys, resolve=True, cost_col=cost_col)
    if keys:
        merge = R.merge_max if cfg.get("merge_policy", "max") == "max" else R.merge_avg
        rules = merge(rules, ants)
    rows = [tuple(r) for r in rules.select(*ants, "cls", "weight").collect()]
    if support:
        cov = _coverage(raw_rows, ants)
        rows = [t for t in rows if cov[t[: len(ants)]] >= support]
    return rows


@pytest.mark.parametrize("name", sorted(CONFIGS))
def test_driver_weights_match_spark_algebra(spark, name):
    from chi_frbcs_bigdatacs_spark.fuzzy import rules as R
    from chi_frbcs_bigdatacs_spark.fuzzy.estimator import rule_base_from_raw
    from chi_frbcs_bigdatacs_spark.fuzzy.partitions import LINEITEM_CLF_PARTITIONS as P

    cfg = CONFIGS[name]
    df = _training(spark, cfg.get("three_class", False))
    fz = R.with_antecedent(R.fuzzify(df, P), P)
    keys: list[str] = []
    if cfg.get("num_buckets"):
        fz = fz.withColumn("bucket", (F.col("id") % cfg["num_buckets"]).cast("int"))
        keys = ["bucket"]
    raw = R.raw_rule_stats(fz, P, keys)
    raw_rows = raw.collect()
    if cfg.get("three_class"):
        assert {r["label"] for r in raw_rows} == {0, 1, 2}
    support = 0
    if cfg.get("min_rule_support"):
        ants = [R.label_col(i) for i in range(len(P.features))]
        cov = sorted(_coverage(raw_rows, ants).values())
        support = cov[len(cov) // 2]

    got = rule_base_from_raw(
        raw_rows,
        len(P.features),
        bucketed=bool(keys),
        cost_mode=cfg.get("cost_mode", "cs"),
        merge_policy=cfg.get("merge_policy", "max"),
        min_rule_support=support,
    )
    want = _spark_rule_base(spark, raw, raw_rows, P, keys, cfg, support)
    assert got, "empty rule base proves nothing"
    assert _bits(got) == _bits(want)
    if support:
        unpruned = rule_base_from_raw(
            raw_rows,
            len(P.features),
            bucketed=bool(keys),
            cost_mode=cfg.get("cost_mode", "cs"),
            merge_policy=cfg.get("merge_policy", "max"),
        )
        assert len(got) < len(unpruned), "threshold pruned nothing"


def test_fit_wires_params_into_driver_build(spark):
    """fit(collect_rules=True) passes cost_mode / num_buckets /
    merge_policy / min_rule_support through to the driver build: its
    rules equal the distributed build's (collect_rules=False)."""
    from chi_frbcs_bigdatacs_spark.fuzzy.estimator import ChiFRBCSClassifier
    from chi_frbcs_bigdatacs_spark.fuzzy.partitions import LINEITEM_CLF_PARTITIONS as P

    df = _training(spark, three_class=True)
    params = dict(
        parts=P,
        cost_mode=COST_MATRIX,
        num_buckets=4,
        merge_policy="avg",
        min_rule_support=2,
    )
    local = ChiFRBCSClassifier(**params).fit(df)
    dist = ChiFRBCSClassifier(collect_rules=False, **params).fit(df)
    try:
        want = [tuple(r) for r in dist.rules_dataframe.collect()]
    finally:
        dist.release()
    assert local.default_cls == dist.default_cls
    assert _bits(local.rules_rows) == _bits(want)


def test_weight_rounding_matches_spark_round(spark):
    """_spark_round is Spark's round(double, 6): HALF_UP on the
    shortest decimal string, and no negative zero."""
    from chi_frbcs_bigdatacs_spark.fuzzy.estimator import _spark_round

    vals = [
        0.0, -0.0, 1e-9, -1e-9, 4.9e-7, -4.9e-7, 5e-7, -5e-7, 0.1234565,
        -0.1234565, 0.0000015, 0.9999995, -0.9999995, 1.0, -1.0,
        2.0 / 3.0, -1.0 / 3.0, 0.3333335, 0.6666665, 0.1 + 0.2,
        0.5000005000000001, 0.4999994999999999,
    ]
    vals += [(k + 0.5) / 1e6 for k in range(-2000, 2000, 37)]
    vals += [((2 * k + 1) / 7) % 2 - 1 for k in range(500)]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i int, x double")
    got = {
        r["i"]: r["r"]
        for r in df.select("i", F.round("x", 6).alias("r")).collect()
    }
    for i, v in enumerate(vals):
        assert _spark_round(v).hex() == float(got[i]).hex(), (v, got[i])
