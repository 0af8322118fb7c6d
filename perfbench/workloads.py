"""The benchmark's workloads. Each one generates its input with glre_spark.datagen,
runs one repetition of its program through the engine's public functions,
checks the outputs, and replays the program as a traced chain of calls cut
at layer boundaries.

kg_build's traced run also replays its pages as an availableNow stream
(stream_replay), which is where the streaming layer is measured: a
workload of its own would cost more run time than the benchmark has.

Every repetition writes into a fresh directory and removes it afterwards,
outside the timed part, so no repetition resumes or reads another's work.
Each repetition's output is collected into this process as a pandas frame
(over Arrow), which the checks compare row by row.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from glre_spark.datagen import PAGES_SCHEMA, gen_pages, pages_df
from glre_spark.inference import broadcast_weights, infer_stage_agg
from glre_spark.io import entity_table, sink_entities
from glre_spark.lineage import read_triples, run_with_checkpoints
from glre_spark.linking import (
    alias_dict_df, apply_name_clusters, cluster_names, dedup_triples, norm_name,
)
from glre_spark.operators import graphops
from glre_spark.operators.kgops import near_dup_keepers
from glre_spark.pipeline import (
    build_triples, eligible_pages, latest_per_url, predictions_to_triples, prepare_pages,
    url_bucket,
)
from glre_spark.streaming import (
    compact_stream_triples, read_pages_stream, read_stream_triples, stream_build_triples,
)

from tracing import GRAPH_OPS

WEB_SENTS = (12, 28)    # webpage-length pages
SHORT_SENTS = (2, 8)    # datagen's default short docs
N_GROUPS = 8            # lineage bucket groups, as run.py's default
# The model rounds scores to six decimals, and its batched forward pass sums
# in an order that depends on which documents share an Arrow batch, so a
# score can land on either side of a rounding boundary: one unit in the
# sixth decimal, which reads as up to 1.0000000000287557e-06 in binary.
FLOAT_TOL = 1.5e-6


def collect(df):
    return df.toPandas()


def compare(name: str, got, want) -> dict:
    """Row-by-row comparison of two collected outputs: the same number of
    rows, equal non-float columns, and every float cell within FLOAT_TOL
    of its counterpart (NULL only against NULL). Rows are matched by
    sorting both sides on every column, keys first. ``exact`` is False
    where a float cell differed at all; the report lists those."""
    detail = f"{len(got)} rows vs {len(want)}"
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return {"name": name, "ok": False, "exact": False, "detail": detail}
    floats = [c for c in want.columns if want[c].dtype.kind == "f"]
    keys = [c for c in want.columns if c not in floats]
    g = got.sort_values(keys + floats, ignore_index=True)
    w = want.sort_values(keys + floats, ignore_index=True)
    ok, max_diff = g[keys].equals(w[keys]), 0.0
    if ok and floats:
        gf, wf = g[floats].to_numpy(float), w[floats].to_numpy(float)
        nan = np.isnan(gf)
        ok = bool((nan == np.isnan(wf)).all())
        diff = np.abs(gf - wf)[~nan]
        max_diff = float(diff.max()) if diff.size else 0.0
        ok = ok and max_diff <= FLOAT_TOL
    return {"name": name, "ok": bool(ok), "exact": bool(ok) and max_diff == 0.0,
            "detail": f"{detail}, max float diff {max_diff:.3g}"}


def read_pages(spark, path):
    return spark.read.schema(PAGES_SCHEMA).parquet(path)


def composed_build(spark, tracer, pages, group_col=None, drop_near_dups=False,
                   cluster_entities=False):
    """pipeline.build_triples with the same arguments, as a chain of its
    public calls, each layer's output materialized inside its own span
    before the next call. The caller compares the result with the
    program's own output, so a drift between build_triples and this chain
    fails the run instead of timing another program. Returns the
    materialized intermediates for the layer counts."""
    extra = [group_col] if group_col else []
    parts = {}
    with tracer.span("pipeline"):
        docs = prepare_pages(pages, carry_cols=extra).localCheckpoint(eager=True)
        parts["docs"] = docs
    if drop_near_dups:
        with tracer.span("kgops.keepers"):
            keepers = near_dup_keepers(
                docs.select(F.col("url").alias("doc_id"),
                            F.col("html").cast("string").alias("text")),
                sketch_k=256,
            ).localCheckpoint(eager=True)
            keep_ids = keepers.filter(~F.col("is_dup")).select(F.col("doc_id").alias("url"))
            docs = docs.join(keep_ids, "url", "left_semi").localCheckpoint(eager=True)
        parts["keepers"] = keepers
    with tracer.span("inference"):
        preds = infer_stage_agg(
            docs, weights_bc=broadcast_weights(spark), extract_html=True,
            group_col=group_col, group_type="int",
        ).localCheckpoint(eager=True)
        parts["preds"] = preds
    with tracer.span("linking"):
        triples = dedup_triples(
            predictions_to_triples(preds, alias_dict_df(spark), group_col=group_col),
            extra_keys=extra,
        ).localCheckpoint(eager=True)
    if cluster_entities:
        with tracer.span("linking.cluster"):
            names = triples.select(F.col("subj").alias("name"), "n_sources").unionByName(
                triples.select(F.col("obj").alias("name"), "n_sources"))
            mapping = cluster_names(names, weight_col="n_sources").localCheckpoint(eager=True)
            triples = apply_name_clusters(triples, mapping).localCheckpoint(eager=True)
        parts["mapping"] = mapping
    parts["triples"] = triples
    return parts


def build_counts(spark, pages, parts) -> dict:
    """Layer counts from a composed build's materialized intermediates,
    taken after the traced wall."""
    preds = parts["preds"]
    pred_rows = preds.agg(F.sum("n_pred_rows")).first()[0] or 0
    rows_out = preds.count()
    names = preds.select(F.col("h_name").alias("name")).union(
        preds.select(F.col("t_name").alias("name"))).distinct()
    aliases = alias_dict_df(spark).select("alias_norm")
    n_names = names.count()
    hits = names.join(aliases, norm_name(F.col("name")) == aliases.alias_norm,
                      "left_semi").count()
    docs_out = parts["docs"].count()
    counts = {
        "pipeline.rows_in": pages.count(),
        "pipeline.rows_eligible": eligible_pages(pages).count(),
        "pipeline.rows_out": docs_out,
        "inference.docs_in": docs_out,
        "inference.pred_rows": pred_rows,
        "inference.rows_out": rows_out,
        "inference.collapse_ratio": rows_out / pred_rows if pred_rows else 0.0,
        "linking.alias_hit_frac": hits / n_names if n_names else 0.0,
        "linking.triples_out": parts["triples"].count(),
    }
    if "keepers" in parts:
        counts["kgops.keepers.docs_in"] = docs_out
        counts["kgops.keepers.dups_dropped"] = parts["keepers"].filter("is_dup").count()
        counts["inference.docs_in"] = docs_out - counts["kgops.keepers.dups_dropped"]
    if "mapping" in parts:
        m = parts["mapping"]
        counts["linking.cluster.names_in"] = m.count()
        counts["linking.cluster.names_merged"] = m.filter(
            F.col("name") != F.col("cluster_name")).count()
    return counts


class Workload:
    """Base: one input set under ``data_dir``; repetitions under ``out_dir``."""

    name = ""
    n_pages = 0
    conf: dict[str, str] = {}   # session settings the workload runs with

    def __init__(self, spark, seed: int, data_dir: str, out_dir: str):
        self.spark, self.seed = spark, seed
        self.data_dir, self.out_dir = data_dir, out_dir
        self.input_dir = ""
        self.pages_path = ""   # pages of the measured input (kernel sample)
        self.input_rows = 0    # pages (or documents) one repetition consumes
        self.reference = {}    # the warm-up repetition's collected outputs
        self.batches = []      # the traced run's micro-batch times
        for k, v in self.conf.items():
            spark.conf.set(k, v)

    # -- set-up -----------------------------------------------------------
    def generate(self, dest: str) -> int:
        """Write the input under ``dest``; return the number of input rows."""
        raise NotImplementedError

    def setup_input(self, dest: str) -> None:
        self.input_rows = self.generate(dest)
        self.input_dir = dest
        self.pages_path = os.path.join(dest, "pages")

    def warmup(self) -> None:
        """One untimed repetition on the measured input, so the timed ones
        start on compiled JVM code and warm Python workers. Its outputs are
        the reference every timed repetition's outputs must equal."""
        self.reference = dict(self.rep("warmup")["outputs"])

    # -- measured ---------------------------------------------------------
    def run_once(self, out: str) -> dict:
        """One repetition: {"wall_s", "outputs": {name: pandas frame}, ...}."""
        raise NotImplementedError

    def rep(self, i) -> dict:
        out = os.path.join(self.out_dir, f"rep{i}")
        try:
            return self.run_once(out)
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def traced(self, tracer) -> tuple[dict, list[dict]]:
        raise NotImplementedError


class KgBuild(Workload):
    """run.py's flagship chain minus synthesis."""

    name = "kg_build"
    n_pages = 480
    # The flagship's 8000 pages leave AQE several partitions per core
    # before the fused Arrow stage; at 480 pages the default 1 MiB minimum
    # coalesces it into one task. Scaling the minimum by the same 1/16
    # keeps the flagship's task fan-out at this size.
    conf = {"spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k"}

    def generate(self, dest):
        pages_df(self.spark, self.n_pages, seed=self.seed, sent_range=WEB_SENTS
                 ).write.parquet(os.path.join(dest, "pages"))
        return self.n_pages

    def run_once(self, out):
        spark = self.spark
        pages = read_pages(spark, self.pages_path)
        t0 = time.perf_counter()
        run_with_checkpoints(spark, pages, out, n_groups=N_GROUPS)
        sink_entities(spark, entity_table(read_triples(spark, out)),
                      os.path.join(out, "entities"))
        t1 = time.perf_counter()
        triples = collect(read_triples(spark, out))
        t2 = time.perf_counter()
        return {"wall_s": t1 - t0, "read_s": t2 - t1, "outputs": {"triples": triples}}

    def traced(self, tracer):
        spark = self.spark
        pages = read_pages(spark, self.pages_path)
        base = os.path.join(self.out_dir, "traced")
        # the same bucket_group column run_with_checkpoints derives
        pages_g = pages.withColumn(
            "bucket_group", F.pmod(url_bucket(F.col("url")), F.lit(N_GROUPS)).cast("int"))
        with tracer.span("kg_build"):
            parts = composed_build(spark, tracer, pages_g, group_col="bucket_group")
            # run_with_checkpoints calls build_triples inside, where no
            # public call can cut it: the lineage span holds one more
            # build plus the write path and manifest commit
            with tracer.span("lineage"):
                run_with_checkpoints(spark, pages, base, n_groups=N_GROUPS)
                written = read_triples(spark, base)
            with tracer.span("io"):
                sink_entities(spark, entity_table(written), os.path.join(base, "entities"))
        counts = build_counts(spark, pages, parts)
        n_files, n_bytes = 0, 0
        for sub in ("triples", "_manifest"):
            for dirpath, _, files in os.walk(os.path.join(base, sub)):
                for f in files:
                    if not f.startswith((".", "_")):
                        n_files += 1
                        n_bytes += os.path.getsize(os.path.join(dirpath, f))
        counts["lineage.files_written"] = n_files
        counts["lineage.bytes_written_mb"] = n_bytes / 2**20
        counts["io.entity_rows"] = spark.read.parquet(os.path.join(base, "entities")).count()
        # the composed chain must equal what run_with_checkpoints wrote,
        # which is build_triples(group_col="bucket_group") per group
        want = collect(read_triples(spark, base, dedup=False))
        got = collect(parts["triples"].select(*want.columns))
        shutil.rmtree(base, ignore_errors=True)
        checks = [compare("trace_equals_build_triples", got, want)]
        # the streaming layer runs on these pages in a span of its own
        stream_counts, self.batches, stream_checks = stream_replay(spark, tracer, self)
        counts.update(stream_counts)
        return counts, checks + stream_checks


class KgDedup(Workload):
    """A duplicate-heavy short-page corpus through
    build_triples(drop_near_dups=True, cluster_entities=True)."""

    name = "kg_dedup"
    n_pages = 200

    def generate(self, dest):
        spark = self.spark
        base = pages_df(spark, self.n_pages, seed=self.seed, sent_range=SHORT_SENTS)
        # byte-identical mirrors of about half the pages the pipeline keeps
        # (eligible, latest crawl of their url) under new urls;
        # "https://mirror-" sorts after "https://host", so the min-url
        # keeper is always the original and the mirror is the dup
        kept = latest_per_url(eligible_pages(base))
        mirrors = kept.filter(F.xxhash64("url", F.lit(self.seed)) % 2 == 0).withColumn(
            "url", F.regexp_replace("url", "^https://host", "https://mirror-host"))
        base.unionByName(mirrors).write.parquet(os.path.join(dest, "pages"))
        return read_pages(spark, os.path.join(dest, "pages")).count()

    def run_once(self, out):
        pages = read_pages(self.spark, self.pages_path)
        t0 = time.perf_counter()
        triples = collect(build_triples(self.spark, pages, drop_near_dups=True,
                                        cluster_entities=True))
        return {"wall_s": time.perf_counter() - t0, "outputs": {"triples": triples}}

    def mirror_recall(self, keepers) -> tuple[float, int]:
        """Planted mirrors the keeper marks as dups, over planted."""
        mirrors = keepers.filter(F.col("doc_id").startswith("https://mirror-"))
        planted = mirrors.count()
        dropped = mirrors.filter("is_dup").count()
        return (dropped / planted if planted else 0.0), planted

    def traced(self, tracer):
        spark = self.spark
        pages = read_pages(spark, self.pages_path)
        with tracer.span("kg_dedup"):
            parts = composed_build(spark, tracer, pages, drop_near_dups=True,
                                   cluster_entities=True)
        counts = build_counts(spark, pages, parts)
        recall, planted = self.mirror_recall(parts["keepers"])
        counts["kgops.keepers.mirror_recall"] = recall
        want = self.reference["triples"]
        got = collect(parts["triples"].select(*want.columns))
        return counts, [
            compare("trace_equals_build_triples", got, want),
            # the composed chain's keeper table is the one build_triples
            # computes; an untraced run never materializes it
            {"name": "mirror_recall_is_1", "ok": planted > 0 and recall == 1.0,
             "exact": True, "detail": f"{recall:.4f} of {planted} planted"},
        ]


class BatchTimes(StreamingQueryListener):
    """Per-micro-batch durations from the streaming progress events."""

    def __init__(self):
        self.batches = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        d = p.durationMs
        if p.numInputRows:
            self.batches.append({"query": str(p.id), "batch": p.batchId,
                                 "trigger_s": d.get("triggerExecution", 0) / 1e3,
                                 "add_batch_s": d.get("addBatch", 0) / 1e3})

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def write_stream_files(spark, dest: str, n_pages: int, seed: int, n_files: int) -> None:
    """The pages pages_df(n_pages, seed, WEB_SENTS) generates, as
    ``n_files`` parquet files with increasing modification times (the
    order the file source reads them in). A recrawl (odd id) and its
    original (the even id before it) land in different files and, at two
    files per trigger, in different micro-batches."""
    rows = pd.DataFrame(gen_pages(n_pages, seed=seed, sent_range=WEB_SENTS))
    doc = np.arange(len(rows))
    half = n_files // 2
    files = (doc % 2) * half + (doc // 2) % half
    staged = os.path.join(dest, "staged")
    os.makedirs(os.path.join(dest, "pages"))
    now = time.time() - 3600
    for f in range(n_files):
        path = os.path.join(staged, str(f))
        spark.createDataFrame(rows[files == f], PAGES_SCHEMA).coalesce(1).write.parquet(path)
        (name,) = [n for n in os.listdir(path) if n.endswith(".parquet")]
        target = os.path.join(dest, "pages", f"pages{f}.parquet")
        os.rename(os.path.join(path, name), target)
        os.utime(target, (now + f, now + f))
    shutil.rmtree(staged)


def stream_replay(spark, tracer, wl, n_files: int = 4, files_per_trigger: int = 2):
    """The streaming layer on a workload's pages: an availableNow
    catch-up with stream_build_triples, then compact_stream_triples and
    read_stream_triples, inside one span. Returns the layer counts, the
    per-trigger times, and the checks: the resolved stream must equal a
    one-shot build_triples over the same pages."""
    base = os.path.join(wl.out_dir, "stream")
    write_stream_files(spark, os.path.join(base, "input"), wl.n_pages, wl.seed, n_files)
    pages_path = os.path.join(base, "input", "pages")
    listener = BatchTimes()
    spark.streams.addListener(listener)
    try:
        with tracer.span("kg_stream"):
            with tracer.span("streaming"):
                out = os.path.join(base, "kg")
                stream_build_triples(
                    read_pages_stream(spark, pages_path, files_per_trigger=files_per_trigger),
                    out)
                log_rows = compact_stream_triples(spark, out)
                streamed = collect(read_stream_triples(spark, out))
        # progress events reach the listener after the query ends
        deadline = time.monotonic() + 5.0
        while len(listener.batches) < n_files // files_per_trigger and \
                time.monotonic() < deadline:
            time.sleep(0.05)
    finally:
        spark.streams.removeListener(listener)
    want = collect(build_triples(spark, read_pages(spark, pages_path)))
    shutil.rmtree(base, ignore_errors=True)
    trig = [b["trigger_s"] for b in listener.batches]
    counts = {
        "streaming.micro_batches": len(trig),
        "streaming.add_batch_s": sum(b["add_batch_s"] for b in listener.batches),
        "streaming.trigger_overhead_s": sum(b["trigger_s"] - b["add_batch_s"]
                                            for b in listener.batches),
        "streaming.batch_s_p50": statistics.median(trig) if trig else 0.0,
        "streaming.log_rows_before": log_rows["rows_before"],
        "streaming.log_rows_after": log_rows["rows_after"],
    }
    return counts, listener.batches, [compare("stream_equals_build_triples", streamed, want)]


class KgAnalytics(Workload):
    """The four graphops registry ops on a generated documents table."""

    name = "kg_analytics"
    n_pages = 2000

    def generate(self, dest):
        spark = self.spark
        path = os.path.join(dest, "pages")
        pages_df(spark, self.n_pages, seed=self.seed, sent_range=WEB_SENTS).write.parquet(path)
        # the registry ops read <sf_dir>/documents.parquet
        read_pages(spark, path).select(
            F.xxhash64("url", "warc_ts").alias("doc_id"), "text"
        ).write.parquet(os.path.join(dest, "documents.parquet"))
        return self.n_pages

    def run_once(self, out):
        op_s, outputs = {}, {}
        t0 = time.perf_counter()
        for name in GRAPH_OPS:
            t = time.perf_counter()
            outputs[name] = collect(getattr(graphops, name)(self.spark, self.input_dir))
            op_s[name] = time.perf_counter() - t
        return {"wall_s": time.perf_counter() - t0, "outputs": outputs, "op_s": op_s}

    def traced(self, tracer):
        got = {}
        with tracer.span("kg_analytics"):
            for name in GRAPH_OPS:
                with tracer.span(f"graphops.{name}"):
                    got[name] = collect(getattr(graphops, name)(self.spark, self.input_dir))
        return {}, [compare(f"traced_{name}_equals_warmup", got[name], self.reference[name])
                    for name in GRAPH_OPS]


WORKLOADS = {w.name: w for w in (KgBuild, KgDedup, KgAnalytics)}
