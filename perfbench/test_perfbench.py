"""Self-tests of the benchmark, at tiny input sizes.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import flagship  # noqa: E402
import inputs  # noqa: E402
import pngfilter  # noqa: E402
import run  # noqa: E402
from dagli_spark.images.codec import decode_png  # noqa: E402
from spans import Tracer  # noqa: E402


# ------------------------------------------------------------ PNG filters

def _reference_row(flat: np.ndarray, y: int, f: int) -> list[int]:
    """Per-byte PNG filter math, one scanline (the spec's loop form)."""
    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)

    out = []
    for x in range(flat.shape[1]):
        cur = int(flat[y, x])
        a = int(flat[y, x - 3]) if x >= 3 else 0
        b = int(flat[y - 1, x]) if y else 0
        c = int(flat[y - 1, x - 3]) if (y and x >= 3) else 0
        pred = [0, a, b, (a + b) >> 1, paeth(a, b, c)][f]
        out.append((cur - pred) & 0xFF)
    return out


def test_filtered_rows_match_reference_math():
    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (6, 7, 3), dtype=np.uint8)
    rows = pngfilter.filtered_rows(img)
    flat = img.reshape(6, 21).astype(np.int32)
    for f in range(5):
        for y in range(6):
            assert rows[f, y].tolist() == _reference_row(flat, y, f)


@pytest.mark.parametrize("filters", [0, 1, 2, 3, 4, [0, 1, 2, 3, 4, 4, 3, 2],
                                     None])
def test_filtered_png_round_trips_through_codec(filters):
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (8, 9, 3), dtype=np.uint8)
    png = pngfilter.encode_png_filtered(img, filters)
    if filters is not None:
        want = np.broadcast_to(np.asarray(filters, np.uint8), (8,))
        assert np.array_equal(pngfilter.filter_types(png), want)
    assert np.array_equal(decode_png(png), img)


def test_adaptive_choice_uses_nonzero_filters_on_smooth_images():
    from dagli_spark import fixtures

    img = fixtures._make_pixels(3, 7, 32, 32)
    png = pngfilter.encode_png_filtered(img)
    assert set(pngfilter.filter_types(png).tolist()) - {0}
    assert np.array_equal(decode_png(png), img)


# ------------------------------------------------------------------ spans

def test_self_time_subtracts_children():
    tr = Tracer("t")
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer = tr.spans[0]
    inner = tr.spans[1]
    assert inner["parent"] == outer["id"]
    want = (outer["end"] - outer["start"]) - (inner["end"] - inner["start"])
    assert tr.self_time("outer") == pytest.approx(want)


# ------------------------------------------------------ Spark-backed tests

@pytest.fixture
def tiny(monkeypatch):
    """Tiny input sizes and a private work directory."""
    work = os.path.join(run.ROOT, ".perfbench", "selftest")
    monkeypatch.setattr(run, "WORK", work)
    monkeypatch.setattr(inputs, "FIXTURE_SIZES", (60, 8, 400, 200))
    monkeypatch.setattr(inputs, "PNG_QUOTA", {32: 2, 64: 2, 128: 1})
    return work


def _result(capsys) -> dict:
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", inputs.WORKLOADS)
def test_workload_runs_clean(tiny, capsys, workload):
    assert run.main(["--workload", workload, "--seed", "3",
                     "--seconds", "1", "--trace", "0"]) == 0
    res = _result(capsys)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 4
    assert set(res["metrics"]) == {"fv_per_s", "ckpt_cold_s",
                                   "ckpt_resume_s", "setup_s", "worker_pss_mb"}
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_planted_wrong_feature_fails(tiny, capsys, monkeypatch):
    from pyspark.sql import functions as F

    good = flagship.pipeline

    def planted(spark, paths):
        df = good(spark, paths)
        # label_lag1 off by 0.001 wherever it is defined
        return df.withColumn("feature_vector", F.transform(
            "feature_vector",
            lambda x, i: F.when(i == 1, x + F.lit(0.001)).otherwise(x)))

    monkeypatch.setattr(flagship, "pipeline", planted)
    assert run.main(["--workload", "pit_images", "--seed", "3",
                     "--seconds", "1", "--trace", "0"]) == 0
    res = _result(capsys)
    assert not res["correct"] and res["failed"] >= 1


def test_traced_run_reports_every_layer_metric(tiny, capsys):
    assert run.main(["--workload", "png_filtered", "--seed", "3",
                     "--seconds", "1", "--trace", "1"]) == 0
    res = _result(capsys)
    assert res["correct"]
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        want = {m["name"] for m in json.load(f)["per_layer"]}
    assert want <= set(res["metrics"])
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["window.hot_entities"] == 0  # 400 events: under the default
    assert m["decode.ok_ratio"] == 1.0
    assert m["asof.rows_out"] == m["asof.rows_in"] - m["window.rows"]


def test_event_log_attributes_stages_to_job_groups(tiny):
    run._prepare_env("1g")
    log_dir = os.path.join(tiny, "eventlog_toy")
    if os.path.isdir(log_dir):
        import shutil

        shutil.rmtree(log_dir)
    sess = run.Session(2)
    try:
        spark = sess.start(log_dir)
        sc = spark.sparkContext
        # RDD actions: one job each, with a known stage/task layout
        sc.setLocalProperty("spark.jobGroup.id", "a")
        sc.parallelize(range(100), 3).count()
        sc.setLocalProperty("spark.jobGroup.id", "b")
        sc.parallelize(range(100), 5).count()
        sc.parallelize(range(100), 4).map(lambda x: (x % 3, 1)) \
            .reduceByKey(lambda a, b: a + b, 2).count()
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.parallelize(range(10), 7).count()
        sess.stop()
        groups = eventlog.parse(eventlog.log_files(log_dir))
    finally:
        sess.shutdown()
    assert groups["a"]["jobs"] == 1 and groups["b"]["jobs"] == 2
    tasks = {g: sorted(len(ts) for ts in groups[g]["stages"].values())
             for g in ("a", "b", None)}
    assert tasks["a"] == [3]
    assert tasks["b"] == [2, 4, 5]  # the reduceByKey job has two stages
    assert tasks[None] == [7]
    b = eventlog.summarize(groups["b"])
    assert b["jobs"] == 2 and b["shuffle_bytes"] > 0
