"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

Run from the repository root.
"""

from __future__ import annotations

import json
import re
import sys
import time
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402

DECLARED = json.loads((ROOT / "BENCHMARK.json").read_text())
NAME = re.compile(r"[A-Za-z0-9_.-]+")


@pytest.mark.parametrize("workload", ["chi_cv", "llm_curation"])
def test_generator_is_reproducible_per_seed(tmp_path, workload):
    a = gen.digest(gen.write_inputs(7, workload, str(tmp_path / "a")))
    b = gen.digest(gen.write_inputs(7, workload, str(tmp_path / "b")))
    c = gen.digest(gen.write_inputs(8, workload, str(tmp_path / "c")))
    assert a == b
    assert a != c


def test_corpus_shards_differ(tmp_path):
    a = gen.digest(gen.write_inputs(7, "llm_curation", str(tmp_path / "a"), shard=0))
    b = gen.digest(gen.write_inputs(7, "llm_curation", str(tmp_path / "b"), shard=1))
    assert a != b


def test_generated_embeddings_are_unit_norm():
    import numpy as np

    v = np.array(gen.embeddings(3).column("embedding").to_pylist())
    assert np.allclose(np.linalg.norm(v, axis=1), 1.0, atol=1e-6)


def test_chi_table_is_imbalanced_but_learnable():
    t = gen.chi_table(5)
    assert 0.1 < t["label"].mean() < 0.3
    # the label depends on the features: positives sit higher
    feats = [f"f{i + 1}" for i in range(gen.CHI_PARAMS["d"])]
    assert t[t.label == 1][feats].sum(axis=1).mean() > t[t.label == 0][feats].sum(axis=1).mean()


def _declared(section: str) -> set[str]:
    return {m["name"] for m in DECLARED[section]}


def test_end_to_end_names_are_declared():
    names = run.end_to_end_metrics(1.0, 1.0, 1.0).keys()
    assert all(NAME.fullmatch(n) for n in names)
    assert set(names) == _declared("end_to_end")


def test_retained_mb_counts_live_heap_and_non_heap_only():
    import os

    mem = {
        f"{os.getpid()} python3": 60.0,
        "1 java": 3000.0,  # the JVM's VmHWM follows heap sizing: left out
        "2 python3": 40.0,  # a Python worker: left out
        "jvm G1 Old Gen": 1200.0,  # a peak: left out
        "jvm G1 Eden Space": 1800.0,
        "jvm Metaspace": 150.0,
        "jvm CodeHeap 'profiled nmethods'": 40.0,
        "jvm Compressed Class Space": 20.0,
        "jvm live G1 Old Gen": 90.0,
        "jvm live G1 Eden Space": 0.0,
    }
    assert run.retained_mb(mem) == 60.0 + 150.0 + 40.0 + 20.0 + 90.0


def test_per_layer_names_are_declared():
    import types

    import workloads

    stats = {m: 1.0 for m, _ in spans.SPAN_METRICS}
    done = [spans.Span(n, 0.0, 1.0, stats=stats) for n in workloads.SPANS]
    tracer = types.SimpleNamespace(done=done)
    wl = types.SimpleNamespace(extra={})
    names = run.layer_metrics(DECLARED, tracer, wl, [1.0], [1.0]).keys()
    assert all(NAME.fullmatch(n) and len(n) <= 64 for n in names)
    assert set(names) == _declared("per_layer")


def test_union_of_stage_intervals():
    assert spans._union_s([(0, 2), (1, 3), (5, 6)]) == 4
    assert spans._union_s([]) == 0


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    yield s
    s.stop()


def test_span_reader_reconciles_wall_time(spark):
    """A known job: 0.4 s of driver-side work, then one stage of two
    tasks that each sleep 0.5 s. The reader must account for the wall
    time as driver time plus stage-active time."""

    def sleepy(batches):
        import time as t

        for b in batches:
            t.sleep(0.5)
            yield b

    def job():
        time.sleep(0.4)
        return spark.range(0, 100, 1, 2).mapInPandas(sleepy, "id long").collect()

    tr = spans.Tracer(spark, traced=True)
    try:
        tr.call("warm", job)  # Python worker start-up is not what we test
        tr.flush()
        tr.call("known", job)
        (s,) = tr.flush()
    finally:
        tr.close()
    st = s.stats
    assert st["jobs"] == 1 and st["tasks"] == 2 and st["tasks_failed"] == 0
    assert st["wall_s"] == pytest.approx(st["driver_s"] + st["active_s"])
    assert 0.4 <= st["driver_s"] < st["wall_s"]
    assert 0.5 <= st["active_s"] <= st["wall_s"] - 0.4
    assert st["task_s"] >= 2 * 0.5
    assert st["slot_idle_s"] == pytest.approx(st["active_s"] * 2 - st["task_s"])
