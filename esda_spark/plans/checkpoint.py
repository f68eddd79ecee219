"""Checkpoint/resume with per-partition lineage + metrics (north rule).

Every expensive stage can be materialized to Parquet alongside a
``_manifest.json`` recording row count, per-partition row counts, the
stage's input fingerprint, schema, and wall time.  Re-running a
pipeline skips stages whose manifest matches the requested fingerprint
— the 100 TB failure-recovery story: a killed job resumes from the
last completed stage instead of recomputing the lineage from scratch.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST = "_manifest.json"


def persisted_rdd_ids(sc) -> set:
    """Ids of the RDDs ``sc`` holds persisted (cache or local checkpoint)."""
    return set(sc._jsc.getPersistentRDDs().keySet().toArray())


def unpersist_rdds(sc, ids) -> None:
    """Free the blocks of the persisted RDDs in ``ids`` -- typically
    ``persisted_rdd_ids(sc) - before``: what a build materialized after
    a ``before`` snapshot and its output no longer reads."""
    jmap = sc._jsc.getPersistentRDDs()
    for rid in ids:
        jr = jmap.get(rid)
        if jr is not None:
            jr.unpersist()


def write_stage(
    df: DataFrame, path: str, fingerprint: str, partition_by: list[str] | None = None
) -> dict:
    """Materialize a stage + manifest; returns the manifest dict."""
    t0 = time.perf_counter()
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    out = df.sparkSession.read.parquet(path)
    per_part = (
        out.withColumn("_p", F.spark_partition_id())
        .groupBy("_p").count().collect()
    )
    manifest = {
        "fingerprint": fingerprint,
        "rows": int(sum(r["count"] for r in per_part)),
        "partitions": {int(r["_p"]): int(r["count"]) for r in per_part},
        "schema": out.schema.simpleString(),
        "wall_sec": round(time.perf_counter() - t0, 3),
        "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    with open(os.path.join(path, MANIFEST), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


def read_manifest(path: str) -> dict | None:
    p = os.path.join(path, MANIFEST)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def stage(
    spark: SparkSession,
    path: str,
    fingerprint: str,
    build,
    partition_by: list[str] | None = None,
) -> DataFrame:
    """Return the stage output, rebuilding only when the fingerprint
    changed (resume-from-checkpoint)."""
    m = read_manifest(path)
    if m is not None and m.get("fingerprint") == fingerprint:
        return spark.read.parquet(path)
    df = build()
    write_stage(df, path, fingerprint, partition_by)
    return spark.read.parquet(path)
