"""M3 — MLlib-style Estimator/Model packaging of the Chi-FRBCS-CS
learner, plus the performance-tuned fit/score paths used by bench.

Mirrors the reference's two-job lifecycle [FSS258 §4.1]: fit() is the
build job (E1), transform() is the map-only classify job (E2) with
the model broadcast to tasks (the Spark-native DistributedCache).

Physical tuning vs the plain spec functions in rules.py:
  - the build's one Spark job is the per-(cell, class) aggregate
    (<= data-touched L^d cells x classes rows), over the usable rows
    only. With collect_rules=True (the default) and a key span within
    _DENSE_SLOTS it is raw_rule_stats_numpy: one mapInPandas
    pass over the input's own partitions — the paper's map phase —
    runs the numpy membership core, enumerates each row's
    positive-membership cells and sums them into a per-task partial,
    so only the partials are shuffled; no fuzzify columns, no
    cell-explosion rows, no input repartition. The aggregate is
    collected and the rest of the build — CS costs, PCF-CS weights,
    conflict resolution, bucket fusion, min-support pruning — runs in
    plain Python on the driver (rule_base_from_raw), bit-identical to
    the DataFrame algebra in rules.py and the DuckDB oracle. The rule
    base never goes back through Spark.
  - collect_rules=False (or a wider key span) builds with
    rules.raw_rule_stats over the repartitioned input (codegen'd
    memberships, the <=2^d-per-row cell explosion, a JVM hash
    aggregate that can spill — what very high-d rule bases need);
    collect_rules=False also keeps the rule base distributed.
  - transform() of a WR model with driver-resident rules is the numpy
    batch scorer (transform_pandas): one map-only mapInPandas pass,
    the rules riding in the task closure. The cell-explosion
    broadcast equi-join (transform_fuzzified) is the one scorer for
    the AC FRM, for distributed rule bases, and for an explicit
    broadcast_rules request.
  - for very high-d problems construct the ESTIMATOR with
    collect_rules=False: fit() materializes the rule base as a
    persisted DataFrame instead and transform() broadcast-joins it.
    NOTE: "distributed" here bounds the DRIVER PYTHON process only —
    Spark's broadcast still materializes the rule base in the JVM;
    for rule bases too large to broadcast, transform(
    broadcast_rules=False) runs the same cell equi-join as a shuffle
    hash join (rules side is still the small side).
  - the join-path per-example argmax uses max(decimal key) hash
    aggregation (map-side combine, no sort shuffle) instead of a
    row_number window; the key encodes exactly the oracle's
    ORDER BY score DESC, l1..ld ASC, cls ASC tie-break.

Scoring policy for unusable feature values: a NULL or NaN feature
value, or an out-of-vocab nominal code, matches no label of that
feature, so the example matches no rule and takes the default class
— on both scorers.

Training policy for unusable rows (fit(), either build): a row with
a NULL or NaN feature, an out-of-vocab nominal code, a NULL label, or
(bucketed) a NULL id adds to no cell and to no class count — fit()
drops it before the build (_usable_rows). The spec functions in
rules.py and the DuckDB oracle do not filter: there a NULL numeric
value gets membership 1 on both shoulder labels (greatest/least skip
NULL); the fixtures are null-free.

Model persistence (O12): rules parquet + params JSON
[REF: mapreduce/MapredOutput.java, Builder.java | conf=M].
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import dataclass, field
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    IntegralType,
    StructField,
    StructType,
)

from chi_frbcs_bigdatacs_spark.functions import ordering as O
from chi_frbcs_bigdatacs_spark.fuzzy import rules as R
from chi_frbcs_bigdatacs_spark.fuzzy.partitions import FeatureSpec, FuzzyPartitions


# At most ONE fuzzified-training cache lives at a time, session-wide:
# every fit() first releases caches retained by previous fits (of any
# estimator instance — bench/sweep runs construct a fresh estimator
# per query). Unpersisting is always safe: lineage recomputes.
_RETAINED_FUZZ: list[DataFrame] = []


def _release_retained() -> None:
    while _RETAINED_FUZZ:
        _RETAINED_FUZZ.pop().unpersist()


# Auto-mode broadcast budget for the scoring join. A rule row in the
# broadcast HashedRelation costs ~8 bytes per antecedent/cls/weight
# field plus per-row structure overhead; 256 MiB keeps the broadcast
# comfortably inside a normal executor memory budget (Spark's hard
# broadcast ceiling is 8 GiB; the measured r7 A/B shows broadcast
# winning whenever it fits, so the budget — not a perf crossover —
# is the flip point).
AUTO_BROADCAST_BUDGET_BYTES = 256 << 20
_RULE_ROW_OVERHEAD_BYTES = 64


def estimated_rule_bytes(n_rules: int, n_features: int) -> int:
    """Broadcast-size estimate for a rule base: d antecedent labels +
    cls + weight at 8 bytes each, plus per-row overhead."""
    return n_rules * (8 * (n_features + 2) + _RULE_ROW_OVERHEAD_BYTES)


def should_broadcast_rules(
    n_rules: int,
    n_features: int,
    budget_bytes: int = AUTO_BROADCAST_BUDGET_BYTES,
) -> bool:
    """The auto-mode decision transform(broadcast_rules=None) applies:
    broadcast while the estimated rule-base size fits the budget,
    shuffle-hash past it."""
    return estimated_rule_bytes(n_rules, n_features) <= budget_bytes


def _feature_arrays(parts: FuzzyPartitions) -> list[tuple]:
    """Per feature (name, kind, L, peaks, half-width) for the numpy
    membership core; peaks and half-width are None on nominal
    features."""
    import numpy as np

    return [
        (f.name, f.kind, parts.labels_for(f), None, None)
        if f.kind == "nominal"
        else (f.name, f.kind, parts.labels_for(f), np.array(parts.peaks(f)), parts.half_width(f))
        for f in parts.features
    ]


def _memberships(x, kind, L, peaks, h):
    """n x L membership matrix of the float64 values x — the numpy
    core shared by the scorers and the build pass. Evaluates the
    identical IEEE chain as membership.memberships_array_col (pinned
    by the pandas-scorer and build-stats parity tests). A NaN value
    (NULL or NaN input) has no positive membership."""
    import numpy as np

    if kind == "nominal":
        # crisp indicator: mu = 1 iff encoded value == j
        return (x[:, None] == np.arange(L)[None, :]).astype(np.float64)
    m = np.empty((len(x), L))
    m[:, 0] = np.maximum(0.0, np.minimum(1.0, 1.0 - (x - peaks[0]) / h))
    for j in range(1, L - 1):
        m[:, j] = np.maximum(0.0, 1.0 - np.abs(x - peaks[j]) / h)
    m[:, L - 1] = np.maximum(0.0, np.minimum(1.0, 1.0 - (peaks[L - 1] - x) / h))
    return m


def _rule_arrays(rules_rows, d: int):
    """The positive-weight rules, sorted by (l1..ld, cls), as numpy
    arrays: 0-based antecedent labels (R x d), classes and weights."""
    import numpy as np

    rules = sorted(r for r in rules_rows if r[d + 1] > 0)
    rl = np.array([r[:d] for r in rules], dtype=np.int64).reshape(len(rules), d) - 1
    rcls = np.array([r[d] for r in rules], dtype=np.int64)
    rw = np.array([r[d + 1] for r in rules], dtype=np.float64)
    return rl, rcls, rw


def _mu_per_rule(pdf, feats, rl):
    """n x R membership-product matrix of transform_pandas and
    ac_per_example_pandas: the fuzzify + cell mu product chain."""
    import numpy as np

    mu = np.ones((len(pdf), rl.shape[0]))
    for k, (name, *spec) in enumerate(feats):
        m = _memberships(pdf[name].to_numpy(dtype=np.float64), *spec)
        mu = mu * m[:, rl[:, k]]
    return mu


# Bounds of the numpy build pass (raw_rule_stats_numpy). A task
# expands its rows in chunks of ceil(_CHUNK_CELLS / 2^d), so one chunk
# holds about _CHUNK_CELLS (row, cell) entries (a value has positive
# membership in at most 2 labels). It sums them into one dense array
# over the key span per class, at most _DENSE_SLOTS slots in all:
# fit() keeps the JVM build for a span past it, and a task that meets
# more classes than fit emits its partial and starts a new one.
_CHUNK_CELLS = 1 << 20
_DENSE_SLOTS = 1 << 20


def _key_span(parts: FuzzyPartitions, num_buckets: int | None) -> int:
    """Cell keys of one class: L^d cells, times the 2n-1 possible
    values of Spark's id % n when bucketed."""
    span = 1 if num_buckets is None else 2 * num_buckets - 1
    for f in parts.features:
        span *= parts.labels_for(f)
    return span


def _usable_rows(
    df: DataFrame, parts: FuzzyPartitions, num_buckets: int | None
) -> DataFrame:
    """The rows fit() trains on (the module docstring's training
    policy): every feature non-NULL and not NaN, a nominal one also a
    code in 0..L-1; a non-NULL label; and, bucketed, a non-NULL id."""
    ok = F.col("label").isNotNull()
    if num_buckets is not None:
        ok &= F.col("id").isNotNull()
    for f in parts.features:
        c = F.col(f.name)
        if f.kind == "nominal":
            ok &= c.isin(list(range(parts.labels_for(f))))
        else:
            ok &= c.isNotNull() & ~F.isnan(c)
    return df.where(ok)


def _chunk_cells(xs, feats, code):
    """Cell entries of one chunk, in the JVM explosion's order: per
    row, its positive-membership cells in lexicographic label order.
    xs are the chunk's float64 feature values and code the per-row
    start code (the bucket slot, or 0). Returns (row, cell code, mu,
    is_gen): mu is the product of the memberships in feature order and
    is_gen marks the row's argmax cell (first max per feature). A row
    with no positive membership on some feature yields no entry."""
    import numpy as np

    row = np.arange(len(code))
    mu = gen = None
    for x, (_, kind, L, peaks, h) in zip(xs, feats):
        m = _memberships(x, kind, L, peaks, h)
        pos = m > 0
        cnt = pos.sum(axis=1)
        lab = np.nonzero(pos)[1]  # positive labels, row-major
        c = cnt[row]
        rep = np.repeat(np.arange(len(row)), c)
        # the t-th positive label of row r sits at start(r) + t in lab
        first = np.cumsum(cnt) - cnt
        j = lab[np.arange(len(rep)) + np.repeat(first[row] - (np.cumsum(c) - c), c)]
        row = row[rep]
        code = code[rep] * L + j
        mk = m[row, j]
        is_max = j == m.argmax(axis=1)[row]
        mu = mk if mu is None else mu[rep] * mk
        gen = is_max if gen is None else gen[rep] & is_max
    return row, code, mu, gen


def raw_rule_stats_numpy(
    df: DataFrame, parts: FuzzyPartitions, num_buckets: int | None = None
) -> DataFrame:
    """R.raw_rule_stats straight from the raw input: ONE mapInPandas
    pass over the input's own partitions, then the same
    groupBy(keys, l1..ld, label).agg(sum(sraw), sum(n_gen)). No
    fuzzify columns, no cell explosion rows, no input shuffle — only
    the per-task partials (<= data-touched cells x classes rows) reach
    the exchange.

    Per task, rows go in chunks of ceil(_CHUNK_CELLS / 2^d): the
    _memberships core per feature, the argmax label per feature, the
    row's positive-membership cells with mu = the product in feature
    order. np.add.at sums each class's entries into a dense array over
    the key span in row order, the order the JVM partial aggregate
    sums in, so each key's sum is the same chain of IEEE additions. An
    untouched slot holds -0.0: -0.0 + mu equals the JVM's 0.0 + mu for
    every mu >= +0.0, and a touched slot never has its sign bit set.
    The partial is therefore bit-identical to the JVM partial
    aggregate of R.raw_rule_stats on the same partitioning (tests/
    test_build_stats.py), and so is the final aggregate. A task whose
    classes' arrays would pass _DENSE_SLOTS emits its partial and
    starts a new one; its sums then match up to rounding.

    The input holds fit()'s usable rows (_usable_rows): a NULL label,
    or a NULL id when bucketed, is not expected here; a NULL or NaN
    feature value matches no label and so adds to no cell. The bucket
    is Spark's (id % num_buckets).cast("int") — computed in the plan,
    since Spark's % keeps the dividend's sign. The chunk and slot
    bounds are read here, on the driver, so the task closure carries
    their values."""
    keys = [] if num_buckets is None else ["bucket"]
    ants = [R.label_col(i) for i in range(len(parts.features))]
    return (
        _cell_partials(df, parts, num_buckets)
        .groupBy(*keys, *ants, "label")
        .agg(F.sum("sraw").alias("sraw"), F.sum("n_gen").alias("n_gen"))
    )


def _cell_partials(
    df: DataFrame, parts: FuzzyPartitions, num_buckets: int | None
) -> DataFrame:
    """The per-task partials of raw_rule_stats_numpy, one frame per
    task (or more, past the slot bound)."""
    import numpy as np

    feats = _feature_arrays(parts)
    names = [f[0] for f in feats]
    Ls = [f[2] for f in feats]
    span = _key_span(parts, num_buckets)
    chunk = -(-_CHUNK_CELLS >> len(feats))
    max_classes = max(1, _DENSE_SLOTS // span)
    bucketed = num_buckets is not None
    keys = ["bucket"] if bucketed else []
    cols = [F.col(c) for c in names + ["label"]]
    if bucketed:
        cols.insert(0, (F.col("id") % num_buckets).cast("int").alias("bucket"))
    label_type = df.schema["label"].dataType
    int_label = isinstance(label_type, IntegralType)
    ants = [R.label_col(i) for i in range(len(feats))]

    def partial(acc):
        """The touched keys of the per-class (sraw, n_gen) arrays."""
        import pandas as pd

        touched = [np.flatnonzero(~np.signbit(sraw)) for sraw, _ in acc.values()]
        out = {
            "label": np.repeat(np.array(list(acc)), [len(t) for t in touched]),
            "sraw": np.concatenate([s[t] for (s, _), t in zip(acc.values(), touched)]),
            "n_gen": np.concatenate([g[t] for (_, g), t in zip(acc.values(), touched)]),
        }
        code = np.concatenate(touched)
        for a, L in zip(reversed(ants), reversed(Ls)):
            out[a] = (code % L + 1).astype(np.int32)
            code //= L
        if bucketed:
            out["bucket"] = (code - (num_buckets - 1)).astype(np.int32)
        return pd.DataFrame({c: out[c] for c in keys + ants + ["label", "sraw", "n_gen"]})

    def build(batches):
        import pandas as pd

        acc: dict = {}  # class -> (sraw, n_gen) over the key span
        for pdf in batches:
            xs = [pdf[c].to_numpy(dtype=np.float64) for c in names]
            start = (
                pdf["bucket"].to_numpy(np.int64) + (num_buckets - 1)
                if bucketed
                else np.zeros(len(pdf), np.int64)
            )
            labels = pdf["label"].to_numpy(np.int64 if int_label else None)
            for s in range(0, len(pdf), chunk):
                rows = slice(s, s + chunk)
                row, code, mu, gen = _chunk_cells([x[rows] for x in xs], feats, start[rows])
                lab = labels[rows][row]
                for c in pd.unique(lab).tolist():
                    if c not in acc:
                        if len(acc) == max_classes:
                            yield partial(acc)
                            acc = {}
                        acc[c] = (np.full(span, -0.0), np.zeros(span, np.int64))
                    sraw, n_gen = acc[c]
                    sel = lab == c
                    np.add.at(sraw, code[sel], mu[sel])
                    np.add.at(n_gen, code[sel & gen], 1)
        if acc:
            yield partial(acc)

    schema = ", ".join(
        [f"{c} int" for c in keys + ants]
        + [f"label {label_type.simpleString()}", "sraw double", "n_gen long"]
    )
    return df.select(*cols).mapInPandas(build, schema)


def ac_per_example_pandas(
    df: DataFrame, parts: FuzzyPartitions, rules_rows: list[tuple]
) -> DataFrame:
    """Per-EXAMPLE additive-combination score stats via the numpy
    membership core: emits (id, label, ssum, c1, ss2, chit) — the
    folds every AC metrics key aggregates — without the cell
    explosion, the broadcast rule join, or ANY exchange (each example
    is one input row, so both the per-class sums and the per-id folds
    over them stay inside the row's batch).

    Per class, cscore = round(sum of mu*weight over the class's rules
    with mu > 0, 9) — exactly the join path's contributing set; a
    class with no matched rule contributes nothing (the inner join's
    contract), and an example with no matched class emits no row.
    The per-id folds over the ROUNDED class scores:
      ssum = sum(cscore_c), ss2 = sum(cscore_c^2),
      c1 = cscore of class 1 (0.0 absent), chit = cscore of the
      true-label class (0.0 absent)
    summed in ascending class order — on the binary fixture these are
    <= 2-term IEEE additions (commutative, order-exact); round-9 and
    the checked-SF verifies cover the class sums themselves, whose
    join-path partial aggregation already summed in
    partition-arbitrary order."""
    import numpy as np

    rl, rcls, rw = _rule_arrays(rules_rows, len(parts.features))
    classes = sorted({int(c) for c in rcls})
    feats = _feature_arrays(parts)

    def score(batches):
        import pandas as pd

        for pdf in batches:
            n = len(pdf)
            if not n or not len(rw):
                continue
            mu = _mu_per_rule(pdf, feats, rl)
            contrib = np.where(mu > 0, mu * rw[None, :], 0.0)
            labs = pdf["label"].to_numpy(np.int64)
            ssum = np.zeros(n)
            ss2 = np.zeros(n)
            c1 = np.zeros(n)
            chit = np.zeros(n)
            any_matched = np.zeros(n, dtype=bool)
            for c in classes:
                sel = rcls == c
                matched = (mu[:, sel] > 0).any(axis=1)
                cs = np.where(
                    matched, np.round(contrib[:, sel].sum(axis=1), 9), 0.0
                )
                ssum = ssum + cs
                ss2 = ss2 + cs * cs
                if c == 1:
                    c1 = np.where(matched, cs, c1)
                chit = np.where(matched & (labs == c), cs, chit)
                any_matched |= matched
            if not any_matched.any():
                continue
            m = any_matched
            yield pd.DataFrame(
                {
                    "id": pdf["id"].to_numpy(np.int64)[m],
                    "label": labs[m].astype(np.int32),
                    "ssum": ssum[m],
                    "c1": c1[m],
                    "ss2": ss2[m],
                    "chit": chit[m],
                }
            )

    return df.mapInPandas(
        score,
        "id long, label int, ssum double, c1 double, ss2 double, chit double",
    )


def _rules_schema(d: int) -> StructType:
    return StructType(
        [StructField(f"l{i + 1}", IntegerType()) for i in range(d)]
        + [StructField("cls", IntegerType()), StructField("weight", DoubleType())]
    )


_WEIGHT_UNIT = Decimal(1).scaleb(-R.WEIGHT_DECIMALS)


def _spark_round(x: float) -> float:
    """Spark's round(double, WEIGHT_DECIMALS): HALF_UP on the double's
    shortest decimal string, converted back to the nearest double.
    Spark's decimal has no negative zero, hence the `+ 0.0`."""
    if not math.isfinite(x):
        return x
    return float(Decimal(repr(x)).quantize(_WEIGHT_UNIT, ROUND_HALF_UP)) + 0.0


def _best(cands):
    """O9 winner of (cls, weight) pairs: max weight, ties -> lowest cls."""
    return min(cands, key=lambda cw: (-cw[1], cw[0]))


def rule_base_from_raw(
    raw_rows,
    d: int,
    bucketed: bool = False,
    cost_mode: str | dict = "cs",
    merge_policy: str = "max",
    min_rule_support: int = 0,
) -> list[tuple]:
    """The build's tail on the driver: R.weights_from_raw(resolve=True)
    with R.cost_literal costs, then R.merge_max / R.merge_avg when
    bucketed, then min-support pruning — in plain Python over the
    collected R.raw_rule_stats rows ((bucket,) l1..ld, label, sraw,
    n_gen). Returns sorted (l1..ld, cls, weight) tuples, bit-identical
    to the DataFrame algebra:
      - cost = maxn / n per (bucket) scope, 1.0 for 'none', the dict
        value (default 1.0) for an explicit cost matrix;
      - s = cost * sraw; stot = sum of s over the cell's classes,
        added in ascending class order;
      - weight = round((2 s - stot) / stot, 6) on candidates with
        n_gen > 0 (_spark_round);
      - resolution and MAX fusion keep the max weight per cell, ties
        to the lowest class; AVE fusion divides the exact
        DECIMAL(18,6) sum of the bucket weights by their count."""
    counts: dict[tuple, int] = {}  # (bucket, class) -> examples
    cells: dict[tuple, list] = {}  # (bucket, cell) -> candidates
    o = 1 if bucketed else 0
    for r in raw_rows:
        b = r[0] if bucketed else None
        cell = tuple(r[o : o + d])
        label, sraw, n_gen = r[o + d :]
        counts[(b, label)] = counts.get((b, label), 0) + n_gen
        cells.setdefault((b, cell), []).append((label, sraw, n_gen))
    if isinstance(cost_mode, dict):
        cost = {k: float(cost_mode.get(k[1], 1.0)) for k in counts}
    elif cost_mode == "none":
        cost = dict.fromkeys(counts, 1.0)
    else:
        maxn: dict = {}
        for (b, _), n in counts.items():
            maxn[b] = max(maxn.get(b, 0), n)
        cost = {k: float(maxn[k[0]]) / float(n) for k, n in counts.items()}
    resolved: dict[tuple, list] = {}  # cell -> per-bucket (cls, weight)
    for (b, cell), cands in cells.items():
        cands.sort()
        s = [cost[(b, label)] * sraw for label, sraw, _ in cands]
        stot = 0.0
        for v in s:
            stot += v
        rules = [
            (label, _spark_round((2.0 * sv - stot) / stot))
            for (label, _, n_gen), sv in zip(cands, s)
            if n_gen > 0
        ]
        if rules:
            resolved.setdefault(cell, []).append(_best(rules))
    if bucketed and merge_policy != "max":
        for cell, per_bucket in resolved.items():
            sums: dict[int, list] = {}
            for c, w in per_bucket:
                acc = sums.setdefault(c, [Decimal(0), 0])
                acc[0] += Decimal(repr(w))
                acc[1] += 1
            resolved[cell] = [(c, float(t) / k) for c, (t, k) in sums.items()]
    out = [(*cell, *_best(per_bucket)) for cell, per_bucket in resolved.items()]
    if min_rule_support > 0:
        cov: dict[tuple, int] = {}
        for (_, cell), cands in cells.items():
            cov[cell] = cov.get(cell, 0) + sum(n for _, _, n in cands)
        out = [t for t in out if cov[t[:d]] >= min_rule_support]
    return sorted(out)


@dataclass
class ChiFRBCSModel:
    parts: FuzzyPartitions
    rules_rows: list[tuple] | None  # (l1..ld, cls, weight); None = distributed
    default_cls: int
    frm: str = "wr"  # 'wr' | 'ac'
    # collect_rules=False keeps the rule base as this persisted
    # DataFrame instead of driver-side rows — the scale path for
    # L^d-explosive models (L=5, d>=8) where the driver collect is the
    # bottleneck. transform() broadcast-joins it exactly as the
    # literal path does.
    rules_dataframe: DataFrame | None = field(default=None, repr=False)

    def rules_df(self, spark: SparkSession) -> DataFrame:
        if self.rules_dataframe is not None:
            return self.rules_dataframe
        return spark.createDataFrame(
            self.rules_rows, _rules_schema(len(self.parts.features))
        )

    def release(self) -> None:
        """Unpersist the distributed rule base (no-op for literal models)."""
        if self.rules_dataframe is not None:
            self.rules_dataframe.unpersist()

    # -- scoring --
    def rule_count(self) -> int:
        """Bounded driver scalar: literal models know it for free;
        distributed models count the persisted rule DataFrame."""
        if self.rules_rows is not None:
            return len(self.rules_rows)
        return self.rules_dataframe.count()

    def transform(
        self, df: DataFrame, broadcast_rules: bool | None = None
    ) -> DataFrame:
        """Score df -> (id, label, prediction). A WR model with
        driver-resident rules scores with the numpy batch scorer
        (transform_pandas): one map-only pass, no shuffle. The AC FRM,
        a distributed rule base, or an explicit broadcast_rules
        request take the cell equi-join (transform_fuzzified).

        Both give a row with a NULL or NaN feature the default class.
        fuzzify alone would not: Spark's greatest/least skip NULL and
        rank NaN highest, so the shoulder labels of such a value come
        out as membership 1. The join path therefore nulls the
        membership array of a NULL/NaN numeric value, which
        candidate_cells pads to the never-matching sentinel cell."""
        if self.frm == "wr" and self.rules_rows is not None and broadcast_rules is None:
            return self.transform_pandas(df)
        fuzz = R.fuzzify(df, self.parts)
        types = dict(df.dtypes)
        for f in self.parts.features:
            if f.kind != "numeric":
                continue  # crisp indicators are already all-zero
            x = F.col(f.name)
            bad = x.isNull()
            if types[f.name] in ("double", "float"):
                bad = bad | F.isnan(x)
            mus = R.mus_col(f.name)
            fuzz = fuzz.withColumn(mus, F.when(~bad, F.col(mus)))
        return self.transform_fuzzified(fuzz, broadcast_rules=broadcast_rules)

    def transform_fuzzified(
        self, fuzz: DataFrame, broadcast_rules: bool | None = None
    ) -> DataFrame:
        # NOTE on physical strategy (measured at sf0.1, local[32]):
        # plan-literal "map-only" scorers — dense slot-table lookup via
        # higher-order functions, per-rule unrolled array_max, and
        # greatest()+when-chain — were all benchmarked and LOSE to this
        # broadcast equi-join (1.7s join vs 3.8-38s literal variants):
        # HOF evaluation is interpreted, and per-rule expression
        # unrolling duplicates subtrees past what codegen/CSE absorbs.
        # The cell-explosion + broadcast hash join keeps everything in
        # whole-stage codegen with a map-side-combined final argmax.
        spark = fuzz.sparkSession
        ants = [R.label_col(i) for i in range(len(self.parts.features))]
        rules = self.rules_df(spark).filter(F.col("weight") > 0).withColumnRenamed(
            "cls", "r_cls"
        )
        # each example matches <= 2^d cells; LEFT broadcast HASH equi-join
        # on the cell key (no nested-loop join, example side never
        # shuffles). Cells with no positive-weight rule score -inf and
        # carry the default class, so the unmatched-example fallback
        # folds into the same argmax aggregation — no join-back of
        # predictions onto examples (saves a wide sort-merge join).
        # pad_unmatched keeps null/out-of-vocab examples in the output
        # (sentinel cell -> default class) instead of dropping them.
        # broadcast_rules=False is the rules-too-big-to-broadcast path
        # (L^d-explosive models whose rule base exceeds executor/driver
        # broadcast budgets): the SAME equi-join on the cell key runs
        # as a shuffle join instead — the cell explosion shuffles once
        # on (l1..ld), the rule base shuffles on the same key, and the
        # argmax aggregation below is unchanged, so results are
        # bit-identical (pinned by the classify_wr_bigmodel oracle).
        cells = R.candidate_cells(fuzz, self.parts, pad_unmatched=True)
        # AUTO mode (broadcast_rules=None, the default): pick the
        # physical strategy from the rule-base size estimate. The
        # measured guidance (NOTES r7 A/B at 8x/32x): broadcast
        # scoring beats the shuffle-hash fallback WHENEVER the rule
        # base fits (4.1x faster at 8x, narrowing to 1.6x at 32x), so
        # auto broadcasts up to the byte budget and falls back only
        # past it — the fallback trades a bounded constant factor for
        # removing the rule-base size ceiling entirely.
        if broadcast_rules is None:
            broadcast_rules = should_broadcast_rules(
                self.rule_count(), len(self.parts.features)
            )
        # the shuffle_hash hint keeps AQE from demoting the join back
        # to a broadcast when the fixture-scale rule base is tiny —
        # the whole point of the path is to exercise the plan that a
        # too-big-to-broadcast rule base would force
        rules_side = F.broadcast(rules) if broadcast_rules else rules.hint("shuffle_hash")
        scored = cells.join(rules_side, ants, "left")
        neg_inf = F.lit(float("-inf"))
        # argmax == ORDER BY score DESC, l1..ld ASC, cls ASC LIMIT 1,
        # encoded as max() of ONE decimal key (functions/ordering.py,
        # r12): max(struct(...)) planned as SortAggregate (struct
        # buffers aren't hash-aggregable), sorting every candidate row
        # (<= 2^d per example) inside each map task; the decimal key
        # keeps the identical order and plans as HashAggregate with
        # map-side combine — pinned by test_plans and bit-identical on
        # every classify_* oracle. Tie bases: cell labels are 0..L
        # (0 = pad sentinel), classes are capped by O.CLS_CAP.
        cls_tie = (
            F.coalesce(F.col("r_cls"), F.lit(self.default_cls)),
            O.CLS_CAP,
        )
        if self.frm == "wr":
            bases = [self.parts.labels_for(f) + 1 for f in self.parts.features]
            key = O.argmax_decimal_key(
                F.coalesce(F.col("mu") * F.col("weight"), neg_inf),
                [(F.col(a), b) for a, b in zip(ants, bases)] + [cls_tie],
            )
            return (
                scored.groupBy("id")
                .agg(F.max(key).alias("k"), F.max("label").alias("label"))
                .select(
                    "id",
                    "label",
                    O.decode_last_tie(F.col("k"), O.CLS_CAP).alias("prediction"),
                )
            )
        # ac: per-class additive scores, then argmax per example
        per_class = scored.groupBy("id", "r_cls").agg(
            F.round(F.sum(F.col("mu") * F.col("weight")), 9).alias("cscore"),
            F.max("label").alias("label"),
        )
        key = O.argmax_decimal_key(
            F.coalesce(F.col("cscore"), neg_inf), [cls_tie]
        )
        return (
            per_class.groupBy("id")
            .agg(F.max(key).alias("k"), F.max("label").alias("label"))
            .select(
                "id",
                "label",
                O.decode_last_tie(F.col("k"), O.CLS_CAP).alias("prediction"),
            )
        )

    # -- pandas/Arrow fast scorer (SURVEY §4: the path for high-d rule
    # bases where the per-cell explosion stops paying off) --
    def transform_pandas(self, df: DataFrame) -> DataFrame:
        """mapInPandas scorer: per Arrow batch, build the n x L
        membership matrix per feature in numpy, gather per rule,
        product, scale by weights, argmax with the same deterministic
        tie-break as the equi-join scorer (rules pre-sorted by
        antecedent labels then class; np.argmax takes the first max).
        Bit-identical to transform_fuzzified — numpy evaluates the
        identical IEEE expression chain (pinned by
        tests/test_pandas_scorer.py). A NULL/NaN feature or an
        out-of-vocab nominal code has no positive membership, so the
        row scores -inf everywhere and takes the default class.

        WHEN TO USE WHICH: transform() calls this for every WR model
        with driver-resident rules. Its cost is n * R (R = rule count)
        in one map-only pass, against the equi-join's 2^d-row cell
        explosion per example plus a groupBy(id) exchange (r13, sf0.1
        local[32]: d=4 7.0s join vs 1.6s numpy; d=8 4.2s vs 0.19s).
        The equi-join stays the scorer for the AC FRM and for rule
        bases kept off the driver (collect_rules=False): nothing
        rule-sized leaves the executors, and broadcast_rules=False
        runs it as a shuffle-hash join past the broadcast budget.
        Calling this on a distributed rule base collects it (with a
        warning). PARTITIONING TRAP (r13): scoring a raw low-split
        scan inherits its parallelism (3-partition sf0.1 scan: 25s vs
        7s at 32) — repartition a cold DataFrame first; fit_transform
        scores fit()'s repartitioned input and never hits this."""
        import numpy as np

        parts = self.parts
        d = len(parts.features)
        if self.rules_rows is None:
            # the numpy matmul path needs the rule arrays driver-side;
            # materialize once from the distributed rule base. This
            # intentionally defeats collect_rules=False's driver bound —
            # say so instead of silently collecting.
            import warnings

            warnings.warn(
                "transform_pandas on a distributed rule base collects it "
                "to the driver; use transform() to keep the rule base "
                "off the driver Python process",
                stacklevel=2,
            )
            self.rules_rows = [tuple(r) for r in self.rules_dataframe.collect()]
        rl, rcls, rw = _rule_arrays(self.rules_rows, d)
        feats = _feature_arrays(parts)
        default_cls = self.default_cls

        def score(batches):
            import pandas as pd

            for pdf in batches:
                n = len(pdf)
                if n == 0 or not len(rw):
                    yield pd.DataFrame(
                        {
                            "id": pdf["id"],
                            "label": pdf["label"],
                            "prediction": np.full(n, default_cls, dtype=np.int64),
                        }
                    )
                    continue
                mu = _mu_per_rule(pdf, feats, rl)
                scores = np.where(mu > 0, mu * rw[None, :], -np.inf)
                best = np.argmax(scores, axis=1)
                pred = np.where(
                    np.isneginf(scores[np.arange(n), best]), default_cls, rcls[best]
                )
                yield pd.DataFrame(
                    {"id": pdf["id"], "label": pdf["label"], "prediction": pred}
                )

        return df.mapInPandas(score, "id long, label int, prediction int")

    # -- persistence (O12) --
    def save(self, path: str) -> None:
        # active(), not getActiveSession(): the latter is thread-local
        # and None on a thread that has not touched a DataFrame yet
        spark = SparkSession.active()
        self.rules_df(spark).write.mode("overwrite").parquet(f"{path}/rules.parquet")
        meta = {
            "num_labels": self.parts.num_labels,
            "features": [
                {
                    "name": f.name,
                    "fmin": f.fmin,
                    "fmax": f.fmax,
                    "kind": f.kind,
                    "values": list(f.values),
                }
                for f in self.parts.features
            ],
            "default_cls": self.default_cls,
            "frm": self.frm,
        }
        os.makedirs(path, exist_ok=True)
        with open(f"{path}/params.json", "w") as fh:
            json.dump(meta, fh)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "ChiFRBCSModel":
        with open(f"{path}/params.json") as fh:
            meta = json.load(fh)
        parts = FuzzyPartitions(
            features=tuple(
                FeatureSpec(
                    f["name"],
                    f["fmin"],
                    f["fmax"],
                    f.get("kind", "numeric"),
                    tuple(f.get("values", ())),
                )
                for f in meta["features"]
            ),
            num_labels=meta["num_labels"],
        )
        d = len(parts.features)
        rows = [
            tuple(r)
            for r in spark.read.parquet(f"{path}/rules.parquet")
            .select(*[f"l{i + 1}" for i in range(d)], "cls", "weight")
            .collect()
        ]
        return cls(parts, rows, meta["default_cls"], meta["frm"])


@dataclass
class ChiFRBCSClassifier:
    """Params mirror the reference CLI: labels L (via parts), rule
    weight = PCF-CS, FRM in {WR, AC}, mapper-count emulation."""

    parts: FuzzyPartitions
    frm: str = "wr"
    cost_mode: str = "cs"  # 'cs' (PCF-CS [FSS258]) | 'none' (plain PCF [IJCIS8])
    num_buckets: int | None = None  # None = exact-global (invariant) mode
    merge_policy: str = "max"  # 'max' | 'avg' (O11 [IJCIS8])
    # Input partitions for the build. None: the numpy build
    # (collect_rules=True) reads the input's own partitions, while the
    # JVM build and fit_transform's cached input repartition to the
    # session default parallelism. Set it to spread an input with few,
    # large splits over more tasks.
    repartition: int | None = None
    collect_rules: bool = True  # False = keep the rule base distributed
    # Minimum-support rule pruning (the rulebase_prune_minsupport key
    # promoted to an estimator param, VERDICT r9 #7): rules whose
    # antecedent cell GENERATED fewer than this many training
    # examples (sum of n_gen over the cell — identical to the key's
    # fz.groupBy(ants).count() coverage, since each example's argmax
    # cell is counted exactly once) are dropped after conflict
    # resolution. 0 = keep everything (identity; property-pinned).
    # The trade is the key's measured compaction-vs-GM curve.
    min_rule_support: int = 0
    _base: DataFrame | None = field(default=None, repr=False)

    def fit(self, df: DataFrame, _retain_fuzz: bool = False) -> ChiFRBCSModel:
        """ONE heavy Spark job: the per-(cell, class) statistics
        ((bucket,) l1..ld, label, sraw, n_gen; <= data-touched L^d x
        classes rows). Class counts (= sum of generated-cell flags), CS
        costs, the default class, PCF weights, conflict resolution,
        bucket fusion and min-support pruning all derive from that tiny
        aggregate.

        Both builds train on the usable rows only (_usable_rows, the
        module docstring's training policy); an input with no usable
        row raises ValueError.

        With collect_rules=True (the default) and a key span within
        _DENSE_SLOTS, the statistics come from raw_rule_stats_numpy —
        one mapInPandas pass over the input's own partitions (the
        paper's map phase), then the per-task partials' aggregate — and
        are finished on the driver by rule_base_from_raw (plain Python,
        bit-identical to the weights_from_raw algebra; no second Spark
        job). The input is not repartitioned unless `repartition` is
        set or fit_transform asks for it. With collect_rules=False (or
        a wider key span) the statistics are R.raw_rule_stats over the
        repartitioned input — the JVM hash aggregate, which can spill.
        With collect_rules=False the rule base is then built
        distributed by R.weights_from_raw. The input is cached only
        when a later pass reads it again (fit_transform's
        resubstitution, or the distributed build)."""
        self.release()  # drop any cache pinned by a previous fit
        _release_retained()  # ... including by OTHER estimator instances
        numpy_build = (
            self.collect_rules
            and _key_span(self.parts, self.num_buckets) <= _DENSE_SLOTS
        )
        base = df
        if not numpy_build or self.repartition or _retain_fuzz:
            n = self.repartition or df.sparkSession.sparkContext.defaultParallelism
            base = df.repartition(n)
        cache_base = _retain_fuzz or not self.collect_rules
        if cache_base:
            base = base.persist()
        # fit_transform rescores every row of base, unusable ones too
        train = _usable_rows(base, self.parts, self.num_buckets)

        keys = [] if self.num_buckets is None else ["bucket"]
        ants = [R.label_col(i) for i in range(len(self.parts.features))]
        if numpy_build:
            raw = raw_rule_stats_numpy(train, self.parts, self.num_buckets)
        else:
            fz = R.with_antecedent(R.fuzzify(train, self.parts), self.parts)
            if keys:
                fz = fz.withColumn(
                    "bucket", (F.col("id") % self.num_buckets).cast("int")
                )
            raw = R.raw_rule_stats(fz, self.parts, keys)

        def _empty() -> ValueError:
            if cache_base:
                base.unpersist()
            return ValueError(
                "ChiFRBCSClassifier.fit: empty training set (no rows after "
                "validity filtering) — cannot derive costs or a default class"
            )

        glob: dict[int, int] = {}
        if self.collect_rules:
            raw_rows = raw.collect()  # THE heavy job; tiny result
            if not raw_rows:
                raise _empty()
            for r in raw_rows:
                glob[r["label"]] = glob.get(r["label"], 0) + r["n_gen"]
            rows: list[tuple] | None = rule_base_from_raw(
                raw_rows,
                len(ants),
                bucketed=bool(keys),
                cost_mode=self.cost_mode,
                merge_policy=self.merge_policy,
                min_rule_support=self.min_rule_support,
            )
            rdf: DataFrame | None = None
        else:
            # scale path: the aggregate stays a persisted DataFrame
            # (never on the driver); the rule base is materialized
            # distributed and scoring broadcast-joins it
            raw = raw.persist()
            crows = raw.groupBy(*keys, "label").agg(
                F.sum("n_gen").alias("n")
            ).collect()  # tiny; materializes the raw cache
            if not crows:
                raw.unpersist()
                raise _empty()
            for r in crows:
                glob[r["label"]] = glob.get(r["label"], 0) + r["n"]
            # O5 costs + O8/O9 (+O11 fusion) on the aggregate
            cost_col = R.cost_literal(crows, self.cost_mode, bucketed=bool(keys))
            rdf = R.weights_from_raw(
                raw, self.parts, keys, resolve=True, cost_col=cost_col
            )
            if keys:
                rdf = (
                    R.merge_max(rdf, ants)
                    if self.merge_policy == "max"
                    else R.merge_avg(rdf, ants)
                )
            rdf = rdf.select(*ants, "cls", "weight")
            if self.min_rule_support > 0:
                cov = raw.groupBy(*ants).agg(
                    F.sum("n_gen").alias("n_covered")
                )
                rdf = (
                    rdf.join(cov, ants)
                    .filter(F.col("n_covered") >= self.min_rule_support)
                    .select(*ants, "cls", "weight")
                )
            rdf = rdf.persist()
            rdf.count()
            raw.unpersist()
            rows = None
        default_cls = min(glob, key=lambda c: (-glob[c], c))
        if _retain_fuzz:
            self._base = base  # reusable for resubstitution scoring
            _RETAINED_FUZZ.append(base)
        elif cache_base:
            base.unpersist()
        return ChiFRBCSModel(
            self.parts, rows, default_cls, self.frm, rules_dataframe=rdf
        )

    def fit_transform(
        self, df: DataFrame, broadcast_rules: bool | None = None
    ) -> DataFrame:
        """Fit and score the same data (resubstitution): the training
        input cached by fit() feeds transform() directly, so scoring
        skips the input scan and repartition. transform() picks the
        scorer as usual — the numpy batch scorer for a WR model with
        driver-resident rules, the cell equi-join otherwise."""
        model = self.fit(df, _retain_fuzz=True)
        return model.transform(self._base, broadcast_rules=broadcast_rules)

    def release(self) -> None:
        """Unpersist the training-input cache retained by
        fit_transform (safe any time: lineage recomputes if needed)."""
        if self._base is not None:
            self._base.unpersist()
            self._base = None
