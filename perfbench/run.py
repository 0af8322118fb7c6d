"""KG-engine benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Run from the repository root. Set-up starts a Spark session on
local[nproc], generates the workload's input with glre_spark.datagen
(SETUP_REPEATS times; setup_s counts the median) and runs the workload's
program once on that input (warm-up). The measured part is a closed loop
with one client: repetitions of the program run back to back, each
starting when the previous one finished, until ``--seconds`` have passed
(and at least MIN_REPS times). The outputs are checked, and the last line
of standard output is one JSON object with the metrics BENCHMARK.json
names: the end-to-end ones with ``--trace 0``, the per-layer ones with
``--trace 1``. The line before it is the full report (run provenance,
every repetition, every check), which is also written under
.perfbench_run/results/ with the traced run's spans.

``--trace 1`` turns on the Spark event log, runs the same timed loop, and
then replays the program once as a chain of public calls cut at layer
boundaries, each call inside a span that labels its Spark jobs.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
import uuid

ROOT = os.getcwd()
MIN_REPS = 1
SETUP_REPEATS = 2       # datagen runs per set-up; setup_s takes the median
HARD_LIMIT_S = 150.0    # stop starting repetitions past this point
DRIVER_MEM = "1g"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(run_dir: str) -> None:
    """Keep every file the run writes inside ``run_dir``, one BLAS thread
    per process, and the engine importable by the Python workers."""
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(run_dir, "local")
    # The engine's default heap is 24g. On these inputs it lets the JVM
    # grow to 5-9 GB of resident memory and makes peak_rss_mb swing with
    # the collector's sizing; 1g holds them. The heap size is part of the
    # run's provenance.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)


def start_spark(run_dir: str, trace: bool, nproc: int):
    from glre_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark("perfbench", cores=nproc, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    # start the Python workers here, so their start-up counts as session
    # start and every datagen repetition runs on warm workers
    spark.range(0, nproc, 1, nproc).mapInPandas(lambda it: it, "id long").collect()
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM (it exits when its stdin
    closes) and wait for it and the Python workers it started."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def time_kernels(spark, wl, n_docs: int = 32, passes: int = 3) -> dict:
    """The fused stage's Python kernels, timed in this process on one
    thread over the workload's own pages: html → text, text → Doc, and
    the model's batched forward pass."""
    from pyspark.sql import functions as F

    from glre_spark.extract import extract_text
    from glre_spark.model import MODEL_SEED, GLREModel, build_weights
    from glre_spark.nlp import analyze
    from workloads import read_pages

    rows = (read_pages(spark, wl.pages_path).filter(F.col("lang") == "en")
            .select("url", "html").orderBy("url").limit(n_docs).collect())
    model = GLREModel(build_weights(MODEL_SEED))
    runs = {"extract": [], "nlp": [], "model": []}
    n_preds = 0
    for _ in range(passes):
        t0 = time.perf_counter()
        texts = [extract_text(r.html) for r in rows]
        t1 = time.perf_counter()
        docs = [analyze(r.url, t) for r, t in zip(rows, texts)]
        t2 = time.perf_counter()
        preds = model.predict_batch(docs)
        t3 = time.perf_counter()
        for k, v in zip(runs, (t1 - t0, t2 - t1, t3 - t2)):
            runs[k].append(v)
        n_preds = sum(len(p) for p in preds)
    n = max(len(rows), 1)
    out = {f"{k}.us_per_doc": statistics.median(v) * 1e6 / n for k, v in runs.items()}
    out["model.preds_per_doc"] = n_preds / n
    return out


def layer_metrics(tracer, desc_stats, counts) -> dict:
    """Per-layer metrics: each layer's self time from the spans, its task
    statistics from the event log, the layer counts, and the graphops
    per-op self times."""
    from tracing import GRAPH_OPS, LAYERS, STAT_KEYS, layer_of, layer_stats

    selfs = tracer.self_times()
    # a root span is the workload's program; a later root is a replay of
    # another program on the same input (kg_build's streaming replay)
    roots = [s for s in tracer.spans if s["parent"] is None]
    wall = roots[0]["end"] - roots[0]["start"]
    layer_self = {layer: 0.0 for layer in LAYERS}
    op_self = {op: 0.0 for op in GRAPH_OPS}
    for s in tracer.spans:
        if s["parent"] is None:
            continue
        layer_self[layer_of(s["name"])] += selfs[s["id"]]
        if s["name"].startswith("graphops."):
            op_self[s["name"].split(".", 1)[1]] += selfs[s["id"]]
    stats = layer_stats(desc_stats)
    m = dict(counts)
    for layer in LAYERS:
        m[f"{layer}.self_s"] = layer_self[layer]
        m.update({f"{layer}.{k}": stats[layer][k] for k in STAT_KEYS})
    inf = stats["inference"]
    m["inference.python_wait_s"] = inf["task_s"] - inf["cpu_s"]
    m.update({f"graphops.{op}.self_s": op_self[op] for op in GRAPH_OPS})
    m["graphops.max_task_records"] = stats["graphops"]["max_task_records"]
    m["trace.wall_s"] = wall
    m["trace.unattributed_s"] = sum(selfs[s["id"]] for s in roots)
    return m


def run(args, run_dir: str, spec: dict) -> tuple[dict, dict]:
    t_begin = time.perf_counter()
    import host

    nproc = len(os.sched_getaffinity(0))
    spark = start_spark(run_dir, bool(args.trace), nproc)
    session_s = time.perf_counter() - t_begin

    from tracing import Tracer, fold_event_log, layer_stats
    from workloads import WORKLOADS, compare

    data_dir, out_dir = os.path.join(run_dir, "data"), os.path.join(run_dir, "out")
    wl = WORKLOADS[args.workload](spark, args.seed, data_dir, out_dir)
    gen_s = []
    for k in range(SETUP_REPEATS):
        t = time.perf_counter()
        wl.setup_input(os.path.join(data_dir, f"input{k}"))
        gen_s.append(time.perf_counter() - t)
        if k:
            shutil.rmtree(os.path.join(data_dir, f"input{k - 1}"))
    t = time.perf_counter()
    wl.warmup()
    warmup_s = time.perf_counter() - t
    checks = [{"name": f"warmup_{name}_nonempty", "ok": len(df) > 0, "exact": True,
               "detail": f"{len(df)} rows"} for name, df in wl.reference.items()]
    setup_s = session_s + statistics.median(gen_s) + warmup_s

    pid = os.getpid()
    rss = host.PeakRss(pid)
    reps, burns, cpu_s, failed_reps = [], [], 0.0, 0
    steal0 = host.steal_s()
    t_loop = time.perf_counter()
    while (len(reps) + failed_reps < MIN_REPS
           or time.perf_counter() - t_loop < args.seconds):
        if time.perf_counter() - t_begin > HARD_LIMIT_S:
            break
        burns.append(host.burn_s())
        c0 = host.tree_cpu_s(pid)
        rss.resume()
        try:
            r = wl.rep(len(reps) + failed_reps)
        except Exception:
            traceback.print_exc()
            failed_reps += 1
            continue
        finally:
            rss.pause()
            cpu_s += host.tree_cpu_s(pid) - c0
        # every repetition's output must equal the warm-up's, row by row
        checks += [compare(f"rep{len(reps)}_{name}_equals_warmup", df, wl.reference[name])
                   for name, df in r.pop("outputs").items()]
        reps.append(r)
    steal = host.steal_s() - steal0
    peak_rss_mb = rss.peak_mb
    rss.close()

    walls = [r["wall_s"] for r in reps]
    untraced_median = host.median(walls)
    report = {
        "workload": args.workload,
        "provenance": {
            **host.provenance(ROOT, args.seed),
            "spark.driver.memory": spark.conf.get("spark.driver.memory"),
            "conf_overrides": wl.conf,
            "input_rows": wl.input_rows, "generated_pages": wl.n_pages,
            "repetitions": len(reps), "failed_repetitions": failed_reps,
            "host.burn_s": host.median(burns),
            "host.steal_s": steal,
            "load": "closed loop, one client",
        },
        "setup": {"session_s": session_s, "datagen_s": gen_s, "warmup_s": warmup_s,
                  "setup_s": setup_s},
        "rep_wall_s": walls,
        "docs_per_s": wl.input_rows / untraced_median if reps else 0.0,
        "cpu_s_per_kdoc": cpu_s / (wl.input_rows * max(len(reps), 1) / 1000),
        "peak_rss_mb": peak_rss_mb,
    }
    if reps and "op_s" in reps[0]:
        report["op_s_median"] = {
            op: host.median([r["op_s"][op] for r in reps]) for op in reps[0]["op_s"]}
    if reps and "read_s" in reps[0]:
        report["read_s"] = host.median([r["read_s"] for r in reps])

    if args.trace:
        tracer = Tracer(spark, uuid.uuid4().hex[:12])
        try:
            counts, tchecks = wl.traced(tracer)
        except Exception:
            traceback.print_exc()
            counts, tchecks = {}, [{"name": "traced_run_ran", "ok": False, "exact": False,
                                    "detail": "raised"}]
        checks += tchecks
        counts.update(time_kernels(spark, wl))
        if wl.batches:
            report["batches"] = wl.batches
        tracer.write(os.path.join(run_dir, "spans.json"))
    stop_spark(spark)
    left = host.wait_for_children(pid)
    if left:
        print(f"perfbench: processes still running: {left}", file=sys.stderr)

    if args.trace:
        desc = fold_event_log(os.path.join(run_dir, "eventlog"))
        metrics = layer_metrics(tracer, desc, counts)
        # how many tasks each layer's stages ran (the fused stage's fan-out)
        report["layer_tasks"] = {k: v["tasks"] for k, v in layer_stats(desc).items()}
        metrics.update({
            "session.start_s": session_s,
            "datagen.pages_per_s": wl.n_pages / statistics.median(gen_s),
            "warmup_s": warmup_s,
            "host.burn_s": host.median(burns),
            "trace.overhead_s": metrics["trace.wall_s"] - untraced_median,
        })
        report["spans"] = os.path.join(run_dir, "spans.json")
    else:
        metrics = {
            "setup_s": setup_s,
            "docs_per_s": report["docs_per_s"],
            "cpu_s_per_kdoc": report["cpu_s_per_kdoc"],
            "peak_rss_mb": peak_rss_mb,
        }

    attempted = len(reps) + failed_reps + len(checks)
    failed = failed_reps + sum(not c["ok"] for c in checks)
    report["checks"] = checks
    # passed with float cells off by one rounding unit (see workloads.FLOAT_TOL)
    report["inexact_matches"] = [c["name"] for c in checks if c["ok"] and not c["exact"]]
    report["error_rate"] = failed / attempted if attempted else 1.0
    declared = spec["per_layer" if args.trace else "end_to_end"]
    unknown = set(metrics) - {d["name"] for d in declared}
    if unknown:
        raise ValueError(f"metrics not declared in BENCHMARK.json: {sorted(unknown)}")
    result = {
        "correct": failed == 0 and bool(reps),
        "attempted": attempted,
        "failed": failed,
        "metrics": {d["name"]: {"value": metrics.get(d["name"], 0), "unit": d["unit"]}
                    for d in declared},
    }
    report["metrics"] = result["metrics"]
    return report, result


def main(argv=None) -> int:
    args = parse_args(argv)
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.isfile(os.path.join(ROOT, "glre_spark", "__init__.py"))
            and os.path.isfile(spec_path)):
        print("perfbench: run from the repository root: glre_spark/ or "
              "BENCHMARK.json not found", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_run")
    run_dir = os.path.join(
        base, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    prepare_env(run_dir)
    try:
        report, result = run(args, run_dir, spec)
        stem = os.path.join(results, os.path.basename(run_dir))
        if args.trace:
            shutil.move(report["spans"], stem + ".spans.json")
            report["spans"] = os.path.relpath(stem + ".spans.json", ROOT)
        with open(stem + ".json", "w") as f:
            json.dump(report, f, indent=1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(report))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
