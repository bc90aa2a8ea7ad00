"""The numpy build pass (estimator.raw_rule_stats_numpy, behind fit()
with collect_rules=True) must equal R.raw_rule_stats — the JVM cell
explosion plus hash aggregate — bit for bit on the same input
partitioning: every (bucket, cell, class) key, every sraw double
(float.hex) and every n_gen count. And fit() must ignore unusable
training rows instead of adding them to shoulder cells."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL
from tests.test_pandas_scorer import _with_unusable_rows

CONFIGS = {
    "lineitem": dict(),
    # DECIMAL features reach the task as Python Decimals
    "decimal": dict(decimal=True, num_buckets=8),
    "nominal": dict(fixture="nominal"),
    "three_class": dict(three_class=True),
    "buckets": dict(three_class=True, num_buckets=8),
    "nominal_buckets": dict(fixture="nominal", num_buckets=8),
    "arrow_batches": dict(batch=64, num_buckets=3),
    # rows go in chunks of ceil(100 / 2^4) = 7
    "chunks": dict(batch=64, chunk_cells=100, three_class=True),
}


def _bits(rows) -> list[tuple]:
    """(keys..., sraw, n_gen) rows with sraw as float.hex."""
    return sorted(tuple(r[:-2]) + (float(r[-2]).hex(), r[-1]) for r in rows)


def _rule_bits(rows) -> list[tuple]:
    """(l1..ld, cls, weight) rules with the weight as float.hex."""
    return sorted(tuple(r[:-1]) + (float(r[-1]).hex(),) for r in rows)


def _fixture(spark, cfg):
    from chi_frbcs_bigdatacs_spark.fuzzy.partitions import (
        LINEITEM_CLF_PARTITIONS,
        ORDERS_CLF_NOMINAL_PARTITIONS,
    )
    from chi_frbcs_bigdatacs_spark.sources.testdata import lineitem_clf, orders_clf_nominal

    if cfg.get("fixture") == "nominal":
        df, parts = orders_clf_nominal(spark, SF_SMALL), ORDERS_CLF_NOMINAL_PARTITIONS
    else:
        df, parts = lineitem_clf(spark, SF_SMALL), LINEITEM_CLF_PARTITIONS
    if cfg.get("decimal"):
        df = df.select(
            "id", *[F.col(f.name).cast("decimal(12,2)") for f in parts.features], "label"
        )
    if cfg.get("three_class"):
        df = df.withColumn(
            "label", F.when(F.col("id") % 5 == 0, F.lit(2)).otherwise(F.col("label"))
        )
    if cfg.get("num_buckets"):
        # negative ids: Spark's % keeps the dividend's sign
        df = df.withColumn("id", F.when(F.col("id") % 7 == 1, -F.col("id")).otherwise(F.col("id")))
    return df, parts


def _stats(spark, monkeypatch, cfg):
    """(JVM rows, numpy rows, numpy per-task partial count) on the same
    cached 3-partition input, with the bound constants patched as cfg
    asks; the closure captures their values at call time."""
    from chi_frbcs_bigdatacs_spark.fuzzy import estimator as E
    from chi_frbcs_bigdatacs_spark.fuzzy import rules as R

    if "chunk_cells" in cfg:
        monkeypatch.setattr(E, "_CHUNK_CELLS", cfg["chunk_cells"])
    if "dense_slots" in cfg:
        monkeypatch.setattr(E, "_DENSE_SLOTS", cfg["dense_slots"])
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old_batch = spark.conf.get(conf)
    df, parts = _fixture(spark, cfg)
    # both sides read the same cached partitions in the same row order
    base = df.repartition(3).persist()
    try:
        if "batch" in cfg:
            spark.conf.set(conf, str(cfg["batch"]))
        nb = cfg.get("num_buckets")
        fz = R.with_antecedent(R.fuzzify(base, parts), parts)
        keys = []
        if nb:
            fz = fz.withColumn("bucket", (F.col("id") % nb).cast("int"))
            keys = ["bucket"]
        want = R.raw_rule_stats(fz, parts, keys)
        got = E.raw_rule_stats_numpy(base, parts, nb)
        assert got.schema.simpleString() == want.schema.simpleString()
        want_rows, got_rows = want.collect(), got.collect()
        n_partial = E._cell_partials(base, parts, nb).count()
    finally:
        spark.conf.set(conf, old_batch)
        base.unpersist()
    assert len(want_rows) > 20, "too few keys to prove anything"
    if nb:
        assert min(r["bucket"] for r in want_rows) < 0
    if cfg.get("three_class"):
        assert {r["label"] for r in want_rows} == {0, 1, 2}
    return want_rows, got_rows, n_partial


@pytest.mark.parametrize("name", sorted(CONFIGS))
def test_numpy_stats_match_jvm_aggregate(spark, monkeypatch, name):
    want_rows, got_rows, _ = _stats(spark, monkeypatch, CONFIGS[name])
    assert _bits(got_rows) == _bits(want_rows)


def test_numpy_stats_flush_past_slot_bound(spark, monkeypatch):
    """With room for one class's array (lineitem's span is 3^4 = 81), a
    task emits its partial at each new class and starts a new one:
    more partial rows, the same keys and counts, sums up to rounding."""
    cfg = dict(batch=64, three_class=True)
    _, _, n_whole = _stats(spark, monkeypatch, cfg)
    want_rows, got_rows, n_flushed = _stats(spark, monkeypatch, dict(cfg, dense_slots=100))
    assert n_flushed > n_whole
    want = {tuple(r[:-2]): (r["sraw"], r["n_gen"]) for r in want_rows}
    got = {tuple(r[:-2]): (r["sraw"], r["n_gen"]) for r in got_rows}
    assert got.keys() == want.keys()
    for k, (sraw, n_gen) in want.items():
        assert got[k][1] == n_gen
        assert got[k][0] == pytest.approx(sraw, rel=1e-12)


@pytest.mark.parametrize("fixture", ["lineitem", "embeddings", "nominal"])
def test_fit_ignores_unusable_rows(spark, fixture):
    """Rows with a NULL/NaN feature, an out-of-vocab nominal code or a
    NULL label change neither the rules nor the default class, and an
    input of only such rows is an empty training set."""
    from chi_frbcs_bigdatacs_spark.fuzzy import partitions as PT
    from chi_frbcs_bigdatacs_spark.fuzzy.estimator import ChiFRBCSClassifier
    from chi_frbcs_bigdatacs_spark.sources import testdata as T

    df, parts = {
        "lineitem": (T.lineitem_clf, PT.LINEITEM_CLF_PARTITIONS),
        "embeddings": (T.embeddings_clf, PT.EMBEDDINGS_CLF_PARTITIONS),
        "nominal": (T.orders_clf_nominal, PT.ORDERS_CLF_NOMINAL_PARTITIONS),
    }[fixture]
    df = df(spark, SF_SMALL)
    dirty, bad_ids = _with_unusable_rows(spark, df, parts)
    null_label = (
        dirty.filter(F.col("id") == bad_ids[-1])
        .withColumn("id", F.col("id") + 1)
        .withColumn("label", F.lit(None).cast("int"))
    )
    dirty = dirty.unionByName(null_label)
    bad = dirty.filter(F.col("id").isin(bad_ids) | F.col("label").isNull())
    # the numpy build, bucketed or not, and the JVM build
    for kw in (dict(), dict(num_buckets=4), dict(num_buckets=4, collect_rules=False)):
        clean = ChiFRBCSClassifier(parts=parts, **kw).fit(df)
        model = ChiFRBCSClassifier(parts=parts, **kw).fit(dirty)
        assert model.default_cls == clean.default_cls
        assert _rule_bits(model.rules_df(spark).collect()) == _rule_bits(
            clean.rules_df(spark).collect()
        )
        with pytest.raises(ValueError, match="empty training set"):
            ChiFRBCSClassifier(parts=parts, **kw).fit(bad)
    # fit_transform trains on the usable rows but scores every row
    est = ChiFRBCSClassifier(parts=parts)
    assert est.fit_transform(dirty).count() == dirty.count()
    est.release()


def test_fit_keeps_jvm_build_past_dense_slots(spark, monkeypatch):
    """A key span past _DENSE_SLOTS builds with R.raw_rule_stats on the
    repartitioned input, and gives the numpy build's rules."""
    from chi_frbcs_bigdatacs_spark.fuzzy import estimator as E
    from chi_frbcs_bigdatacs_spark.fuzzy.partitions import LINEITEM_CLF_PARTITIONS as P
    from chi_frbcs_bigdatacs_spark.sources.testdata import lineitem_clf

    df = lineitem_clf(spark, SF_SMALL)
    want = E.ChiFRBCSClassifier(parts=P).fit(df)
    monkeypatch.setattr(E, "_DENSE_SLOTS", 80)  # lineitem's span is 3^4 = 81
    called = []
    monkeypatch.setattr(E, "raw_rule_stats_numpy", lambda *a: called.append(a))
    got = E.ChiFRBCSClassifier(parts=P).fit(df)
    assert not called
    assert got.default_cls == want.default_cls
    assert _rule_bits(got.rules_rows) == _rule_bits(want.rules_rows)
