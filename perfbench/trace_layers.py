"""The traced run: each flagship layer's public function called on stored
intermediate inputs, under its own span and Spark job group, with the
event log on.

Order of work:

1. untraced noop passes in the setup session; the fastest is the
   reference pass time, as ``fv_per_s`` uses it;
2. restart the session with the event log on, then two traced noop
   passes (the fastest is compared with the reference);
3. store the intermediates (event features, as-of output, assembled
   output) as parquet;
4. one span per layer call: scan, decode (+ the crossing-only variant),
   window (+ hot-entity detection), asof, assemble, audit, checkpoint
   miss and hit;
5. stop the session, parse the event log, attribute stages to layers.
"""

from __future__ import annotations

import inspect
import os
import time

import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

import eventlog
from flagship import noop, pipeline, tables
from spans import Tracer

# Layers whose self times make up a flagship pass (trace.coverage). The
# scan layer is left out: every other layer call reads its own inputs.
PASS_LAYERS = ("decode", "window", "window.detect", "asof", "assemble")
# job groups per layer for the Spark task statistics
LAYER_GROUPS = {
    "scan": ("scan",), "decode": ("decode",),
    "window": ("window", "window.detect"), "asof": ("asof",),
    "assemble": ("assemble",), "audit": ("audit",),
    "checkpoint": ("checkpoint.miss", "checkpoint.hit"),
}
SPARK_STATS = (("task_s", "s"), ("task_skew", "ratio"),
               ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes"),
               ("gc_s", "s"))


# the columns the flagship reads from each table
SCAN_COLUMNS = {
    "queries": ("entity_id", "asof_time", "qseq"),
    "image_events": ("entity_id", "image_id", "event_time", "label", "eseq"),
    "images": ("image_id", "bytes", "phash"),
}


def _column_bytes(path: str, cols) -> int:
    """Compressed on-disk bytes of ``cols`` over a parquet directory."""
    total = 0
    for f in os.listdir(path):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, f)).metadata
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for c in range(g.num_columns):
                ch = g.column(c)
                if ch.path_in_schema in cols:
                    total += ch.total_compressed_size
    return total


def _merge(groups: dict, names) -> dict:
    merged = {"jobs": 0, "stages": {}}
    for n in names:
        g = groups.get(n)
        if g:
            merged["jobs"] += g["jobs"]
            merged["stages"].update(g["stages"])
    return merged


def _tree_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def _timed_passes(fn, seconds: float) -> list[float]:
    out, t0 = [], time.perf_counter()
    while not out or time.perf_counter() - t0 < seconds:
        t = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t)
    return out


def run(sess, man: dict, checks, scratch: str, record: dict,
        seconds: float) -> dict:
    from dagli_spark.checkpoint import Checkpointer, checkpointed_northrule
    from dagli_spark.features.image_features import (
        DECODE_FIELDS,
        append_binary_features,
    )
    from dagli_spark.northrule import (
        asof_features,
        assemble_vector,
        detect_hot_entities,
        event_features,
        image_stats,
        leakage_audit,
    )
    from dagli_spark.plans.inspect import count_exchanges

    paths = man["paths"]
    rows = man["rows"]
    hot_min_rows = inspect.signature(event_features) \
        .parameters["hot_min_rows"].default

    # 1. untraced reference passes (event log off)
    spark = sess.spark
    untraced = _timed_passes(lambda: noop(pipeline(spark, paths)),
                             seconds / 4)

    # 2. event log on (same JVM, new context), then traced passes
    log_dir = os.path.join(scratch, "eventlog")
    t0 = time.perf_counter()
    spark = sess.restart(log_dir)
    restart_s = time.perf_counter() - t0
    sc = spark.sparkContext
    tracer = Tracer(os.path.basename(scratch), job_group=lambda name:
                    sc.setLocalProperty("spark.jobGroup.id", name))
    traced = []
    for _ in range(2):
        with tracer.span("pass") as s:
            noop(pipeline(spark, paths))
        traced.append(s["end"] - s["start"])

    # 3. stored intermediates
    q, e, i = tables(spark, paths)
    inter = {k: os.path.join(scratch, k) for k in ("feats", "asof", "out")}
    with tracer.span("prepare"):
        event_features(e, i).write.parquet(inter["feats"])
        asof_features(q, spark.read.parquet(inter["feats"])) \
            .write.parquet(inter["asof"])
        assemble_vector(spark.read.parquet(inter["asof"])) \
            .write.parquet(inter["out"])
    checks.attempted += 1
    checks.output("stored intermediates", inter["out"])

    # 4. layers
    with tracer.span("scan"):
        for table, cols in SCAN_COLUMNS.items():
            noop(spark.read.parquet(paths[table]).select(*cols))

    obs = Observation("decode")
    with tracer.span("decode"):
        noop(image_stats(e, i).observe(
            obs, F.count(F.lit(1)).alias("n"),
            F.count("px_mean_r").alias("ok")))
    dec = obs.get
    nulls = (None,) * len(DECODE_FIELDS)
    needed = e.select("image_id").distinct()
    to_decode = i.select("image_id", "bytes", "phash").join(
        F.broadcast(needed), "image_id")
    with tracer.span("decode.crossing"):
        noop(append_binary_features(to_decode, "bytes", DECODE_FIELDS,
                                     lambda s: [nulls] * len(s)))

    with tracer.span("window"):
        with tracer.span("window.detect"):
            hot = detect_hot_entities(e, hot_min_rows)
        win_df = event_features(e, i, with_pixels=False, hot_rows=hot)
        noop(win_df)
    window_exchanges = count_exchanges(win_df)

    feats = spark.read.parquet(inter["feats"])
    obs = Observation("asof")
    asof_df = asof_features(q, feats)
    with tracer.span("asof"):
        noop(asof_df.observe(
            obs, F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("__asof_matched_time").isNull(), 1))
            .alias("no_history")))
    aso = obs.get

    with tracer.span("assemble"):
        noop(assemble_vector(spark.read.parquet(inter["asof"])))

    with tracer.span("audit"):
        audit = leakage_audit(spark.read.parquet(inter["out"]))

    ck_root = os.path.join(scratch, "ckpt")
    with tracer.span("checkpoint.miss"):
        checkpointed_northrule(spark, paths, ck_root)
    with tracer.span("checkpoint.hit"):
        noop(checkpointed_northrule(spark, paths, ck_root))
    stage_s = {r["stage"]: r["wall_sec"]
               for r in Checkpointer(ck_root).metrics()
               if r["event"] == "computed"}
    ck_files, ck_bytes = _tree_stats(ck_root)

    # 5. event log
    sess.stop()
    groups = eventlog.parse(eventlog.log_files(log_dir))
    tracer.dump(os.path.join(scratch, "spans.jsonl"))
    record["spans"] = tracer.spans

    pass_s = min(untraced)
    layer_s = {name: tracer.self_time(name) for name in PASS_LAYERS}
    record["trace"] = {"untraced_pass_s": untraced, "traced_pass_s": traced,
                       "restart_s": restart_s, "pass_layers_self_s": layer_s,
                       "hot_entities": [r.asDict() for r in hot],
                       "audit": audit, "checkpoint_stage_s": stage_s}

    n_img = dec["n"]
    decode_s = tracer.wall("decode")
    crossing_s = tracer.wall("decode.crossing")
    m = {
        "setup.session_s": (record["setup"]["session_s"], "s"),
        "setup.warmup_s": (record["setup"]["warmup_s"], "s"),
        "setup.gen_s": (record["setup"]["gen_s"], "s"),
        "scan.s": (tracer.wall("scan"), "s"),
        "scan.rows": (sum(rows[t] for t in SCAN_COLUMNS), "count"),
        "scan.bytes": (sum(_column_bytes(paths[t], cols)
                           for t, cols in SCAN_COLUMNS.items()), "bytes"),
        "decode.s": (decode_s, "s"),
        "decode.images": (n_img, "count"),
        "decode.ok_ratio": (dec["ok"] / n_img if n_img else 0.0, "ratio"),
        "decode.crossing_s": (crossing_s, "s"),
        "decode.kernel_s": (decode_s - crossing_s, "s"),
        "decode.ms_per_image": (1000 * decode_s / n_img if n_img else 0.0,
                                "ms"),
        "window.s": (tracer.wall("window"), "s"),
        "window.rows": (rows["image_events"], "count"),
        "window.detect_s": (tracer.wall("window.detect"), "s"),
        "window.hot_entities": (len(hot), "count"),
        "window.exchanges": (window_exchanges, "count"),
        "asof.s": (tracer.wall("asof"), "s"),
        "asof.rows_in": (rows["queries"] + rows["image_events"], "count"),
        "asof.rows_out": (aso["n"], "count"),
        "asof.no_history_rows": (aso["no_history"], "count"),
        "asof.exchanges": (count_exchanges(asof_df), "count"),
        "assemble.s": (tracer.wall("assemble"), "s"),
        "audit.s": (tracer.wall("audit"), "s"),
        "audit.jobs": (eventlog.summarize(groups.get("audit"))["jobs"],
                       "count"),
        "checkpoint.miss_event_features_s":
            (stage_s.get("event_features", 0.0), "s"),
        "checkpoint.miss_asof_assemble_s":
            (stage_s.get("asof_assemble", 0.0), "s"),
        "checkpoint.hit_s": (tracer.wall("checkpoint.hit"), "s"),
        "checkpoint.jobs": (eventlog.summarize(
            groups.get("checkpoint.miss"))["jobs"] / 2, "count"),
        "checkpoint.files": (ck_files, "count"),
        "checkpoint.bytes_written": (ck_bytes, "bytes"),
    }
    task_total = wall_total = 0.0
    for layer, names in LAYER_GROUPS.items():
        st = eventlog.summarize(_merge(groups, names))
        for key, unit in SPARK_STATS:
            m[f"{layer}.{key}"] = (st[key], unit)
        task_total += st["task_s"]
        wall_total += sum(tracer.wall(n) for n in names if n != "window.detect")
    m["spark.core_util"] = (task_total / (sess.cores * wall_total), "ratio")
    m["trace.pass_s"] = (pass_s, "s")
    m["trace.coverage"] = (sum(layer_s.values()) / pass_s, "ratio")
    m["trace.overhead"] = (min(traced) / pass_s, "ratio")
    return m
