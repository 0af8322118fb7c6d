"""Checkpointed lineage / metrics / exact resume (SURVEY.md §2.9, §4.3).

The north rule requires: per-partition lineage + metrics tables enabling
exact resume. Mechanism (works on plain parquet; Iceberg-ready layout):

- work is keyed by deterministic url-hash *buckets* (pipeline.url_bucket),
  decoupled from task parallelism — bucket ids are stable across cluster
  sizes, so a run at N executors can be resumed at 4N;
- ONE job per (re)start processes every pending bucket-group: the pages
  source is scanned exactly once, triples are written with dynamic
  partition overwrite on ``bucket_group=`` (idempotent per group), and
  per-group input AND output counts come from two ``df.observe()``
  Observations on the same pass — no per-group filter/count re-scans and
  no read-back of the written partitions;
- the manifest is appended AFTER the data lands — manifest-last commit
  order means a crash can only lose uncommitted work (whose partitions the
  resume overwrites idempotently), never record phantom work;
- on restart, ``pending_groups`` collects the manifest's ``done`` group
  ids and subtracts them from ``range(n_groups)`` on the driver; only
  missing groups are recomputed (resume_filter op). A missing manifest
  is an empty Arrow local relation, so a first run reads nothing.

Dedup scope: triples are exact-deduped WITHIN a bucket group (the unit of
idempotent commit); the same (subj, pred, obj) observed in two groups is
two rows on disk. ``read_triples`` re-aggregates across groups by default
so consumers see the globally-deduped invariant.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from glre_spark.session import local_df

# batch_wall_ms is the wall clock of the WHOLE (re)start batch that
# committed the row (all groups share one job/pass), not a per-group time.
MANIFEST_SCHEMA = (
    "run_id string, bucket_group int, status string, input_rows long, "
    "triples long, batch_wall_ms long, committed_at timestamp"
)


def manifest_path(base: str) -> str:
    return os.path.join(base, "_manifest")


def _path_exists(spark: SparkSession, path: str) -> bool:
    """Hadoop ``FileSystem.exists``: works for local and URI paths alike."""
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()).exists(hpath)


def read_manifest(spark: SparkSession, base: str) -> DataFrame:
    """The manifest, typed MANIFEST_SCHEMA. A missing path (first run) is
    an empty local relation: no read is attempted, so nothing is logged
    and no job runs. Any read error of an existing manifest (corrupt
    files, permissions) surfaces: silently reporting zero completed
    groups would trigger a full-corpus recompute at scale and mask
    manifest corruption."""
    path = manifest_path(base)
    if not _path_exists(spark, path):
        return local_df(spark, [], MANIFEST_SCHEMA)
    return spark.read.schema(MANIFEST_SCHEMA).parquet(path)


def append_manifest_rows(
    spark: SparkSession,
    base: str,
    rows: list[tuple[str, int, str, int, int, int]],
) -> None:
    df = local_df(
        spark,
        rows,
        "run_id string, bucket_group int, status string, input_rows long, "
        "triples long, batch_wall_ms long",
    ).withColumn("committed_at", F.current_timestamp())
    df.coalesce(1).write.mode("append").parquet(manifest_path(base))


def pending_groups(spark: SparkSession, base: str, n_groups: int) -> list[int]:
    """Groups in ``range(n_groups)`` with no ``done`` manifest row. The
    done ids are collected (one row per committed group and run) and
    subtracted on the driver."""
    done = {
        r.bucket_group
        for r in read_manifest(spark, base)
        .filter("status = 'done'")
        .select("bucket_group")
        .collect()
    }
    return [g for g in range(n_groups) if g not in done]


def _group_counts(groups: list[int]) -> list:
    """Per-group row counts ``g<id>``, as Observation metrics."""
    return [F.count(F.when(F.col("bucket_group") == g, True)).alias(f"g{g}") for g in groups]


def _process_groups(
    spark: SparkSession,
    pages_g: DataFrame,
    base: str,
    run_id: str,
    groups: list[int],
) -> None:
    """One Spark job over all ``groups``: filter → build_triples (group-
    scoped dedup, bucket_group carried through the Arrow stage) → dynamic-
    partition-overwrite write → manifest append. Per-group input and
    output counts ride two Observations on the same pass (no extra scan,
    no read-back of the written partitions)."""
    from glre_spark.pipeline import build_triples

    if not groups:
        return
    t0 = time.time()
    part = pages_g.filter(F.col("bucket_group").isin([int(g) for g in groups]))
    obs_in, obs_out = Observation(f"lineage_in_{run_id}"), Observation(f"lineage_out_{run_id}")
    part = part.observe(obs_in, *_group_counts(groups))
    triples = build_triples(spark, part, group_col="bucket_group")
    triples = triples.observe(obs_out, *_group_counts(groups))
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            triples.write.mode("overwrite")
            .partitionBy("bucket_group")
            .parquet(os.path.join(base, "triples"))
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    # No try/except here: Spark 4.1 delivers both observations even when
    # the input is all-empty (probed: a collapsed/empty plan still yields
    # {'g..': 0} — see tests/test_resume.py::test_obs_failure_propagates).
    # Swallowing errors would silently commit zero counts to the manifest
    # on a genuine Py4J/runtime failure — the same silent-miscount shape
    # read_manifest guards against.
    in_rows, out_rows = obs_in.get, obs_out.get  # populated by the write above
    batch_wall_ms = int((time.time() - t0) * 1000)
    append_manifest_rows(
        spark,
        base,
        [
            (
                run_id,
                int(g),
                "done",
                int(in_rows[f"g{g}"]),
                int(out_rows[f"g{g}"]),
                batch_wall_ms,
            )
            for g in groups
        ],
    )


def _heal_torn_writes(base: str) -> list[str]:
    """Startup sweep for the crash window between the data write and the
    manifest append (manifest-last order): a job that died mid-write can
    leave committer staging dirs — ``_temporary`` inside the target, or
    ``.spark-staging-*`` siblings from dynamic partition overwrite —
    under ``triples``/``_manifest``. Readers already ignore
    underscore/dot-prefixed paths, so these are never a CORRECTNESS
    hazard (the uncommitted groups simply re-run); they are leaked disk
    that accumulates across crash/resume cycles and, at scale, slows
    file listing. Swept here because resume is the documented
    single-writer moment — nothing else may be appending. Returns the
    removed paths (logged by tests). Local-filesystem paths only; with a
    real Iceberg/Delta catalog the commit is transactional and orphan
    cleanup is the table service's job (VERDICT r5 next-round #7)."""
    import shutil

    removed: list[str] = []
    for target in (os.path.join(base, "triples"), manifest_path(base)):
        if not os.path.isdir(target):
            continue
        for name in os.listdir(target):
            if name == "_temporary" or name.startswith(".spark-staging"):
                full = os.path.join(target, name)
                try:
                    shutil.rmtree(full)
                except FileNotFoundError:
                    continue  # racing heal already removed it
                removed.append(full)
    return removed


def run_with_checkpoints(
    spark: SparkSession,
    pages: DataFrame,
    base: str,
    n_groups: int = 8,
    run_id: str | None = None,
    fail_after: int | None = None,
) -> str:
    """Process every pending bucket group in ONE pass over the pages source
    (manifest-last commit). ``fail_after`` commits only the first K pending
    groups, then raises (crash-injection for tests). Returns the run_id.
    Re-invoking with the same ``base`` resumes the missing groups."""
    from glre_spark.pipeline import url_bucket

    run_id = run_id or uuid.uuid4().hex[:12]
    _heal_torn_writes(base)
    pages_g = pages.withColumn(
        "bucket_group", F.pmod(url_bucket(F.col("url")), F.lit(n_groups)).cast("int")
    )
    todo = pending_groups(spark, base, n_groups)
    if fail_after is not None and fail_after < len(todo):
        _process_groups(spark, pages_g, base, run_id, todo[:fail_after])
        raise RuntimeError(f"injected failure before group {todo[fail_after]}")
    _process_groups(spark, pages_g, base, run_id, todo)
    return run_id


def read_triples(spark: SparkSession, base: str, dedup: bool = True) -> DataFrame:
    """Read the combined triple table. ``dedup=True`` (default) re-applies
    the exact (subj, pred, obj) dedup across bucket groups — group-scoped
    commits mean a triple witnessed in two groups is stored twice; the
    re-aggregation (max score, min url, sum n_sources) restores the global
    invariant build_triples guarantees."""
    from glre_spark.linking import dedup_triples

    df = spark.read.parquet(os.path.join(base, "triples"))
    if dedup:
        df = dedup_triples(df.drop("bucket_group"))
    return df
