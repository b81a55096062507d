"""How the benchmark calls the engine: the flagship pipeline with the
engine's default options, the noop sink, and the checkpointed job."""

from __future__ import annotations


def tables(spark, paths: dict):
    """(queries, events, images) DataFrames of a workload's parquet."""
    return (spark.read.parquet(paths["queries"]),
            spark.read.parquet(paths["image_events"]),
            spark.read.parquet(paths["images"]))


def pipeline(spark, paths: dict):
    """The flagship with the engine's default options."""
    from dagli_spark.northrule import build_features

    return build_features(*tables(spark, paths))


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def checkpoint_job(spark, paths: dict, root: str, out: str):
    """``examples/northrule_job.py --checkpoint``'s sequence: checkpointed
    pipeline, output written as parquet, leakage audit of the read-back."""
    from dagli_spark.checkpoint import checkpointed_northrule
    from dagli_spark.northrule import leakage_audit

    df = checkpointed_northrule(spark, paths, root)
    df.write.mode("overwrite").parquet(out)
    return leakage_audit(spark.read.parquet(out))
