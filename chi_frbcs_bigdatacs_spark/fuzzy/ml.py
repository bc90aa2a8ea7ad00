"""M3 — MLlib packaging: pyspark.ml Estimator/Model wrappers.

`ChiFRBCS` is a real `pyspark.ml.Estimator` (Params, copy/fit
contract, Pipeline-compatible) and `ChiFRBCSModel` a real
`pyspark.ml.Model` with MLReadable-style save/load (delegating to the
engine model's parquet+JSON persistence). They wrap the engine-level
dataclasses in estimator.py, which stay the SQL-oracle-able core.

Unlike typical MLlib classifiers the input is PLAIN COLUMNS (id,
f1..fd, label), not an assembled vector — a deliberate choice so
every intermediate of the algorithm remains relational and
DuckDB-checkable (SURVEY §7 M3).

Params mirror the reference CLI [FSS258 §4.2]: numLabels L,
ruleWeight (PCF-CS via costMode), frm in {wr, ac}, numBucketsEmulated.
"""

from __future__ import annotations

from pyspark.ml import Estimator, Model
from pyspark.ml.evaluation import Evaluator
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.ml.util import (
    DefaultParamsReader,
    DefaultParamsWriter,
    MLReadable,
    MLReader,
    MLWritable,
    MLWriter,
)
from pyspark.sql import DataFrame, SparkSession

from chi_frbcs_bigdatacs_spark.fuzzy.estimator import (
    ChiFRBCSClassifier as _EngineEstimator,
)
from chi_frbcs_bigdatacs_spark.fuzzy.estimator import ChiFRBCSModel as _EngineModel
from chi_frbcs_bigdatacs_spark.fuzzy.partitions import FeatureSpec, FuzzyPartitions


class _ChiParams(Params):
    numLabels = Param(
        Params._dummy(), "numLabels", "linguistic labels per feature (L)",
        typeConverter=TypeConverters.toInt,
    )
    frm = Param(
        Params._dummy(), "frm", "fuzzy reasoning method: wr | ac",
        typeConverter=TypeConverters.toString,
    )
    costMode = Param(
        Params._dummy(), "costMode", "cs | none (plain PCF)",
        typeConverter=TypeConverters.toString,
    )
    numBucketsEmulated = Param(
        Params._dummy(), "numBucketsEmulated",
        "reference mapper-count emulation (0 = exact-global)",
        typeConverter=TypeConverters.toInt,
    )
    featureRanges = Param(
        Params._dummy(), "featureRanges",
        "declared ranges as [name,min,max, name,min,max, ...] strings",
        typeConverter=TypeConverters.toListString,
    )


class ChiFRBCS(Estimator, _ChiParams):
    """Pipeline-compatible Chi-FRBCS(-CS) estimator."""

    def __init__(
        self,
        parts: FuzzyPartitions | None = None,
        numLabels: int = 3,
        frm: str = "wr",
        costMode: str = "cs",
        numBucketsEmulated: int = 0,
    ):
        super().__init__()
        self._setDefault(numLabels=3, frm="wr", costMode="cs", numBucketsEmulated=0)
        ranges = []
        if parts is not None:
            numLabels = parts.num_labels
            for f in parts.features:
                ranges += [f.name, repr(f.fmin), repr(f.fmax)]
        self._set(
            numLabels=numLabels,
            frm=frm,
            costMode=costMode,
            numBucketsEmulated=numBucketsEmulated,
            featureRanges=ranges,
        )

    def _parts(self) -> FuzzyPartitions:
        r = self.getOrDefault(self.featureRanges)
        feats = tuple(
            FeatureSpec(r[i], float(r[i + 1]), float(r[i + 2]))
            for i in range(0, len(r), 3)
        )
        return FuzzyPartitions(features=feats, num_labels=self.getOrDefault(self.numLabels))

    def _fit(self, dataset: DataFrame) -> "ChiFRBCSModel":
        nb = self.getOrDefault(self.numBucketsEmulated) or None
        eng = _EngineEstimator(
            parts=self._parts(),
            frm=self.getOrDefault(self.frm),
            cost_mode=self.getOrDefault(self.costMode),
            num_buckets=nb,
        )
        model = ChiFRBCSModel(eng.fit(dataset))
        model._resetUid(self.uid)
        return model


class _ChiModelWriter(MLWriter):
    """MLWriter so PipelineModel.save works: writes DefaultParams
    metadata (class name + uid, what PipelineModelReader dispatches
    on) alongside the engine model's rules parquet + params JSON."""

    def __init__(self, instance: "ChiFRBCSModel"):
        super().__init__()
        self.instance = instance

    def saveImpl(self, path: str) -> None:
        DefaultParamsWriter.saveMetadata(self.instance, path, self.sc)
        self.instance.engine.save(path)


class _ChiModelReader(MLReader):
    def load(self, path: str) -> "ChiFRBCSModel":
        metadata = DefaultParamsReader.loadMetadata(path, self.sc)
        spark = SparkSession.active()
        model = ChiFRBCSModel(_EngineModel.load(spark, path))
        model._resetUid(metadata["uid"])
        return model


class ChiFRBCSModel(Model, MLWritable, MLReadable):
    """Pipeline-compatible fitted model (rules + default class)."""

    def __init__(self, engine_model: _EngineModel):
        super().__init__()
        self.engine = engine_model

    def _transform(self, dataset: DataFrame) -> DataFrame:
        return self.engine.transform(dataset)

    @property
    def rules(self) -> list[tuple]:
        return self.engine.rules_rows

    def write(self) -> MLWriter:
        return _ChiModelWriter(self)

    @classmethod
    def read(cls) -> MLReader:
        return _ChiModelReader()

    def save(self, path: str) -> None:
        # direct engine-format save (no ml metadata); load() accepts
        # both layouts since the metadata rides in a sibling subdir
        self.engine.save(path)

    @classmethod
    def load(cls, spark_or_path, path: str | None = None) -> "ChiFRBCSModel":
        """Accepts load(spark, path) (engine style) or load(path)
        (pyspark.ml MLReadable style)."""
        if path is None:
            p = spark_or_path
            return cls.read().load(p)
        return cls(_EngineModel.load(spark_or_path, path))


class ChiFRBCSEvaluator(Evaluator):
    """pyspark.ml Evaluator over (label, prediction) outputs — the
    [FSS258 §4.3] imbalance metrics (acc/tpr/tnr/gm/auc; default GM,
    the paper's headline). Makes the estimator usable inside
    pyspark.ml.tuning.CrossValidator / TrainValidationSplit with
    standard param grids."""

    metricName = Param(
        Params._dummy(), "metricName", "acc | tpr | tnr | gm | auc",
        typeConverter=TypeConverters.toString,
    )

    def __init__(self, metricName: str = "gm"):
        super().__init__()
        self._setDefault(metricName="gm")
        self._set(metricName=metricName)

    def _evaluate(self, dataset: DataFrame) -> float:
        from chi_frbcs_bigdatacs_spark.fuzzy.metrics import metrics_binary

        row = metrics_binary(dataset.select("label", "prediction")).first()
        return float(row[self.getOrDefault(self.metricName)])

    def isLargerBetter(self) -> bool:
        return True
