"""Independent correctness check of a flagship output.

The expected feature vectors come from DuckDB, replaying the SQL of
``__spark_entry__._northrule_features_oracle`` over the workload's own
parquet: plain SQL windows for the temporal features, the six pixel
statistics from the images table's stored single-image-oracle columns,
and an ASOF JOIN on the composite (event_time, eseq) key so that events
sharing a timestamp resolve to the highest ``eseq``, as the engine's
LOCF scan does.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

FEATURES = ["label", "label_lag1", "label_avg5", "cnt_1h", "session_id",
            "secs_since_prev", "hamming_prev", "px_mean_r", "px_mean_g",
            "px_mean_b", "px_std", "px_brightness", "px_edge_energy"]
PX = FEATURES[7:]
KEY = ["entity_id", "asof_us", "qseq"]
# eseq must stay below this for the composite as-of key to be exact
_ESEQ_SPAN = 10_000_000


def expected_sql(paths: dict) -> str:
    win = "PARTITION BY entity_id ORDER BY event_time, eseq"
    px = ", ".join(f"i.{c}" for c in PX)
    fv = ", ".join(f"COALESCE(m.{c}::DOUBLE, 'NaN'::DOUBLE)"
                   for c in FEATURES)
    return f"""
        WITH ev AS (
            SELECT e.entity_id, e.event_time, e.eseq, e.label, i.phash, {px}
            FROM '{paths["image_events"]}/*.parquet' e
            LEFT JOIN '{paths["images"]}/*.parquet' i USING (image_id)
        ),
        w1 AS (
            SELECT *,
                   epoch_us(event_time) // 1000000 AS epoch_s,
                   lag(label) OVER ({win}) AS label_lag1,
                   avg(label) OVER ({win}
                       ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS label_avg5,
                   COALESCE(CAST(bit_count(xor(phash, lag(phash) OVER ({win})))
                                 AS DOUBLE), -1.0) AS hamming_prev,
                   CASE WHEN lag(event_time) OVER ({win}) IS NULL
                          OR event_time > lag(event_time) OVER ({win})
                               + INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS is_new
            FROM ev
        ),
        w2 AS (
            SELECT *,
                   CAST(sum(is_new) OVER ({win}
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
                     AS DOUBLE) AS session_id,
                   COALESCE(CAST(epoch_s - lag(epoch_s) OVER ({win}) AS DOUBLE),
                            -1.0) AS secs_since_prev,
                   CAST(count(*) OVER (PARTITION BY entity_id ORDER BY epoch_s
                       RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
                     AS DOUBLE) AS cnt_1h,
                   epoch_us(event_time)::HUGEINT * {_ESEQ_SPAN} + eseq AS k
            FROM w1
        ),
        q AS (
            SELECT entity_id, epoch_us(asof_time) AS asof_us, qseq,
                   epoch_us(asof_time)::HUGEINT * {_ESEQ_SPAN}
                     + {_ESEQ_SPAN - 1} AS k
            FROM '{paths["queries"]}/*.parquet'
        )
        SELECT q.entity_id, q.asof_us, q.qseq, [{fv}] AS fv
        FROM q ASOF LEFT JOIN w2 m
          ON q.entity_id = m.entity_id AND q.k >= m.k
    """


def expected(paths: dict) -> pd.DataFrame:
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        return con.execute(expected_sql(paths)).df()
    finally:
        con.close()


def output_frame(parquet_dir: str) -> pd.DataFrame:
    """Key columns + feature vector of a flagship output written as
    parquet, read without Spark."""
    con = duckdb.connect()
    try:
        return con.execute(f"""
            SELECT entity_id, epoch_us(asof_time) AS asof_us, qseq,
                   feature_vector AS fv,
                   epoch_us(__asof_matched_time) AS matched_us
            FROM '{parquet_dir}/*.parquet'
        """).df()
    finally:
        con.close()


def compare(got: pd.DataFrame, want: pd.DataFrame, n_queries: int) -> list:
    """Problems found (empty = correct): row count against the query
    count, keys, leakage (matched event after the query time), and every
    feature-vector element at 4 decimal places (NaN equals NaN)."""
    problems = []
    if len(got) != n_queries:
        problems.append(f"{len(got)} output rows for {n_queries} queries")
    if "matched_us" in got:
        leaks = int((got["matched_us"] > got["asof_us"]).sum())
        if leaks:
            problems.append(f"{leaks} rows matched an event after asof_time")
    g = got.sort_values(KEY, ignore_index=True)
    w = want.sort_values(KEY, ignore_index=True)
    if len(g) != len(w) or not g[KEY].equals(w[KEY]):
        problems.append("output keys differ from the query keys")
        return problems
    a = np.array(g["fv"].tolist(), dtype=np.float64)
    b = np.array(w["fv"].tolist(), dtype=np.float64)
    if a.shape != b.shape:
        problems.append(f"vector shape {a.shape} != expected {b.shape}")
        return problems
    same = (np.abs(a - b) <= 5e-5) | (np.isnan(a) & np.isnan(b))
    bad = np.argwhere(~same)
    if len(bad):
        r, c = bad[0]
        problems.append(
            f"{len(bad)} feature elements differ; first: {FEATURES[c]} of "
            f"{tuple(g.loc[r, KEY])}: {a[r, c]!r} vs {b[r, c]!r}")
    return problems
