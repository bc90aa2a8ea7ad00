"""The benchmark workloads.

Each workload generates its inputs from the seed (gen.py), then runs
one iteration at a time through the engine's public functions, every
call wrapped as a span by the Tracer. Its job is its first
JOB_ITERATIONS iterations. An iteration returns its outputs as
{check key: normalised rows}; run.py compares every iteration against
the first one with the same key, and against the DuckDB oracle once,
after the timed window.

Why these two:
  chi_cv       - the paper's 5-fold CV (d=6, up to 729 rules), one fold
                 per iteration: the build job (fit on id % 5 != k),
                 then the broadcast cell-join scorer
                 (ChiFRBCSModel.transform) and metrics_binary on the
                 held-out fold. Build and scorer changes show here.
  llm_curation - the curation operators from the registry on two
                 generated corpus shards with planted duplicates, one
                 shard per iteration: the fuzzy layer does no work, so
                 classifier changes must read "no change"; shuffle
                 joins and iterative Lloyd jobs share session and
                 partition sizing with the classifier.
"""

from __future__ import annotations

import os
import statistics

import duckdb
from pyspark.sql import functions as F

import gen
from chi_frbcs_bigdatacs_spark.fuzzy import metrics as M
from chi_frbcs_bigdatacs_spark.fuzzy import oracle
from chi_frbcs_bigdatacs_spark.fuzzy import rules as R
from chi_frbcs_bigdatacs_spark.fuzzy.estimator import ChiFRBCSClassifier
from chi_frbcs_bigdatacs_spark.fuzzy.partitions import FeatureSpec, FuzzyPartitions
from chi_frbcs_bigdatacs_spark.plans.registry import get_registry

# every span the benchmark records, in BENCHMARK.json order; a
# workload that never calls one reports 0 for it
SPANS = (
    "fuzzy.estimator.fit",
    "fuzzy.estimator.transform_pandas",
    "fuzzy.estimator.transform",
    "fuzzy.metrics.metrics_binary",
    "fuzzy.rules.fuzzify",
    "fuzzy.rules.raw_rule_stats",
    "operators.dedup.dedup_exact",
    "operators.dedup_near.dedup_minhash",
    "operators.similarity.simsearch_topk_batch",
    "operators.similarity.simsearch_ivf_sq8",
    "streaming.neardup.stream_dedup_minhash",
)

def rows(df_or_rows) -> tuple:
    """Order-insensitive, hashable form of a result."""
    rs = df_or_rows.collect() if hasattr(df_or_rows, "collect") else df_or_rows
    return tuple(sorted(tuple(r) for r in rs))


def _noop_write(df) -> None:
    """Materialise every column of df without keeping the output."""
    df.write.format("noop").mode("overwrite").save()


class ChiCV:
    # one iteration is one fold; the job is one whole 5-fold CV
    JOB_ITERATIONS = 5

    def __init__(self, spark, seed: int, data_dir: str) -> None:
        self.spark = spark
        self.params = gen.CHI_PARAMS
        self.folds = self.params["folds"]
        self.paths = gen.write_inputs(seed, "chi_cv", data_dir)
        d = self.params["d"]
        self.parts = FuzzyPartitions(
            tuple(FeatureSpec(f"f{i + 1}", 0.0, 1.0) for i in range(d)),
            self.params["labels"],
        )
        self.df = spark.read.parquet(self.paths["clf"])
        cols = ", ".join(["id", *[f"f{i + 1}" for i in range(d)], "label"])
        self.fixture_sql = f"SELECT {cols} FROM read_parquet('{self.paths['clf']}')"
        self.extra: dict[str, float] = {}
        self.rule_counts: list[int] = []
        self.last_model = None

    def split(self, k: int):
        """The q_crossval split: train id % folds != k, held-out test
        spread to defaultParallelism."""
        train = self.df.filter(F.col("id") % self.folds != k)
        test = self.df.filter(F.col("id") % self.folds == k).repartition(
            self.spark.sparkContext.defaultParallelism
        )
        return train, test

    def iteration(self, tr, i: int) -> dict[str, tuple]:
        k = i % self.folds
        train, test = self.split(k)
        model = tr.call("fuzzy.estimator.fit", ChiFRBCSClassifier(parts=self.parts).fit, train)
        m = tr.call(
            "fuzzy.metrics.metrics_binary",
            lambda: M.metrics_binary(model.transform(test)).collect(),
        )
        self.rule_counts.append(model.rule_count())
        self.last_model = (k, model)
        return {f"fold{k}": rows(m)}

    def traced_extras(self, tr) -> None:
        """Standalone actions on the last fold: the build job's
        prefixes (fuzzify alone, then fuzzify + cell explosion + rule
        stats) and each scorer on its own."""
        k, model = self.last_model
        train, test = self.split(k)
        base = train.repartition(self.spark.sparkContext.defaultParallelism)
        tr.call("fuzzy.rules.fuzzify", _noop_write, R.fuzzify(base, self.parts))
        fz = R.with_antecedent(R.fuzzify(base, self.parts), self.parts)
        tr.call("fuzzy.rules.raw_rule_stats", lambda: R.raw_rule_stats(fz, self.parts).collect())
        cells = R.candidate_cells(fz, self.parts, gen_flag=True).count()
        self.extra["fuzzy.rules.raw_rule_stats.cell_rows_per_row"] = cells / train.count()
        tr.call("fuzzy.estimator.transform", _noop_write, model.transform(test))
        # the untimed first pass starts the pandas UDF workers, which
        # the timed iterations never use
        _noop_write(model.transform_pandas(test))
        tr.call("fuzzy.estimator.transform_pandas", _noop_write, model.transform_pandas(test))
        # matched (example, rule) pairs over the candidate cells the
        # join scorer evaluates
        ants = [R.label_col(i) for i in range(len(self.parts.features))]
        cand = R.candidate_cells(R.fuzzify(test, self.parts), self.parts, pad_unmatched=True)
        rules = model.rules_df(self.spark).filter(F.col("weight") > 0).select(*ants)
        matched = cand.join(F.broadcast(rules), ants).count()
        self.extra["fuzzy.estimator.score_useful_frac"] = matched / cand.count()
        self.extra["fuzzy.estimator.fit.rules"] = float(statistics.median_low(self.rule_counts))

    def check(self, con, observed: dict[str, tuple]) -> list[str]:
        want = con.execute(oracle.crossval_sql(self.fixture_sql, self.parts, self.folds)).fetchall()
        by_fold = {f"fold{r[0]}": rows([r[1:]]) for r in want}
        return [
            f"{key} {got} != oracle {by_fold[key]}"
            for key, got in observed.items()
            if got != by_fold[key]
        ]


class LlmCuration:
    """Registry entry points over generated documents/embeddings
    shards. One iteration runs the four batch operators over one
    shard; the job is one pass over all SHARDS. The streaming twin
    runs once per traced run only, on shard 0: one call takes about
    twice a whole batch iteration (two micro-batches of 32-partition
    pandas state updates), which the per-run time budget cannot
    carry."""

    BATCH = (
        ("operators.dedup.dedup_exact", "dedup_exact"),
        ("operators.dedup_near.dedup_minhash", "dedup_minhash"),
        ("operators.similarity.simsearch_topk_batch", "simsearch_topk_batch"),
        ("operators.similarity.simsearch_ivf_sq8", "simsearch_ivf_sq8"),
    )
    STREAM = ("streaming.neardup.stream_dedup_minhash", "stream_dedup_minhash")
    SHARDS = 2
    JOB_ITERATIONS = SHARDS

    def __init__(self, spark, seed: int, data_dir: str) -> None:
        self.spark = spark
        self.dirs = [os.path.join(data_dir, f"shard{k}") for k in range(self.SHARDS)]
        self.paths = [
            gen.write_inputs(seed, "llm_curation", d, shard=k) for k, d in enumerate(self.dirs)
        ]
        self.reg = get_registry()
        self.extra: dict[str, float] = {}
        self.stream_out: tuple | None = None

    def _run(self, tr, span: str, key: str, shard: int) -> tuple:
        return tr.call(span, lambda: rows(self.reg[key].fn(self.spark, self.dirs[shard])))

    def iteration(self, tr, i: int) -> dict[str, tuple]:
        k = i % self.SHARDS
        return {f"{key}@{k}": self._run(tr, span, key, k) for span, key in self.BATCH}

    def traced_extras(self, tr) -> None:
        span, key = self.STREAM
        self.stream_out = self._run(tr, span, key, 0)
        (s,) = tr.flush()
        for m, v in tr.stream_stats(s).items():
            self.extra[f"{span}.{m}"] = v

    def check(self, con, observed: dict[str, tuple]) -> list[str]:
        errs = []
        for k, paths in enumerate(self.paths):
            for name, path in paths.items():
                con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
            oracle = {key: rows(con.execute(self.reg[key].sql).fetchall()) for _, key in self.BATCH}
            for key, want in oracle.items():
                got = observed.get(f"{key}@{k}", want)
                if got != want:
                    errs.append(f"{key}@{k}: {len(got)} rows != oracle {len(want)} rows")
            # the stream twin must equal the batch dedup_minhash oracle
            if k == 0 and self.stream_out not in (None, oracle["dedup_minhash"]):
                errs.append("stream_dedup_minhash differs from the batch oracle")
        return errs


WORKLOADS = {"chi_cv": ChiCV, "llm_curation": LlmCuration}


def duckdb_connection() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
    return con
