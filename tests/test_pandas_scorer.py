"""The numpy batch scorer (transform_pandas, behind transform() for WR
models with driver-resident rules) must agree prediction-for-
prediction with the cell-explosion broadcast equi-join
(transform(broadcast_rules=True)) — SURVEY §4: alternate physical
strategy, same semantics. Each input also carries rows the rule base
cannot match (NULL or NaN features, out-of-vocab nominal codes): both
scorers must give those rows the default class."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from tests.conftest import SF_SMALL

OUT_OF_VOCAB = 99


def _with_unusable_rows(spark, df, parts):
    """df plus, per feature, one copy of a real row with that feature
    NULL, and one with it NaN (numeric double) or out of vocab
    (nominal). Returns (frame, ids of the added rows)."""
    base = df.orderBy("id").first().asDict()
    next_id = df.agg(F.max("id")).first()[0] + 1
    types = dict(df.dtypes)
    extra = []
    for f in parts.features:
        bads = [None]
        if f.kind == "nominal":
            bads.append(OUT_OF_VOCAB)
        elif types[f.name] in ("double", "float"):
            bads.append(float("nan"))
        for bad in bads:
            extra.append({**base, "id": next_id + len(extra), f.name: bad})
    schema = StructType([StructField(s.name, s.dataType, True) for s in df.schema])
    added = spark.createDataFrame(
        [tuple(r[c] for c in df.columns) for r in extra], schema
    )
    return df.unionByName(added), [r["id"] for r in extra]


def _assert_scorers_agree(spark, df, parts):
    from chi_frbcs_bigdatacs_spark.fuzzy.estimator import ChiFRBCSClassifier

    model = ChiFRBCSClassifier(parts=parts).fit(df)
    scored, bad_ids = _with_unusable_rows(spark, df, parts)
    a = (
        model.transform(scored, broadcast_rules=True)
        .toPandas()
        .sort_values("id", ignore_index=True)
    )
    b = model.transform_pandas(scored).toPandas().sort_values("id", ignore_index=True)
    assert a.equals(b)
    bad = a[a["id"].isin(bad_ids)]
    assert len(bad) == len(bad_ids), "unusable rows must not be dropped"
    assert (bad["prediction"] == model.default_cls).all()
    # the unusable rows are not the only ones scored
    assert len(a) > len(bad_ids)


def test_pandas_scorer_matches_expression_path(spark):
    from chi_frbcs_bigdatacs_spark.fuzzy.partitions import LINEITEM_CLF_PARTITIONS
    from chi_frbcs_bigdatacs_spark.sources.testdata import lineitem_clf

    _assert_scorers_agree(spark, lineitem_clf(spark, SF_SMALL), LINEITEM_CLF_PARTITIONS)


def test_pandas_scorer_multiclass(spark):
    from chi_frbcs_bigdatacs_spark.fuzzy.partitions import EMBEDDINGS_CLF_PARTITIONS
    from chi_frbcs_bigdatacs_spark.sources.testdata import embeddings_clf

    _assert_scorers_agree(spark, embeddings_clf(spark, SF_SMALL), EMBEDDINGS_CLF_PARTITIONS)


def test_pandas_scorer_nominal(spark):
    from chi_frbcs_bigdatacs_spark.fuzzy.partitions import (
        ORDERS_CLF_NOMINAL_PARTITIONS,
    )
    from chi_frbcs_bigdatacs_spark.sources.testdata import orders_clf_nominal

    _assert_scorers_agree(
        spark, orders_clf_nominal(spark, SF_SMALL), ORDERS_CLF_NOMINAL_PARTITIONS
    )


def test_transform_scores_wr_with_numpy_and_ac_with_join(spark):
    """transform() picks the numpy scorer for a WR model with
    driver-resident rules, and the equi-join for AC or an explicit
    broadcast_rules request."""
    from chi_frbcs_bigdatacs_spark.fuzzy.estimator import ChiFRBCSClassifier
    from chi_frbcs_bigdatacs_spark.fuzzy.partitions import LINEITEM_CLF_PARTITIONS as P
    from chi_frbcs_bigdatacs_spark.sources.testdata import lineitem_clf

    df = lineitem_clf(spark, SF_SMALL)

    def plan(out):
        return out._jdf.queryExecution().executedPlan().toString()

    wr = ChiFRBCSClassifier(parts=P).fit(df)
    p = plan(wr.transform(df))
    assert "MapInPandas" in p and "Join" not in p, p[:800]
    p = plan(wr.transform(df, broadcast_rules=True))
    assert "BroadcastHashJoin" in p and "MapInPandas" not in p, p[:800]
    ac = ChiFRBCSClassifier(parts=P, frm="ac").fit(df)
    assert "BroadcastHashJoin" in plan(ac.transform(df))
