"""Benchmark of the extraction job: ``plans.pipeline.run_pipeline`` followed
by ``plans.chunk_pipeline.run_chunk_indexing`` on ``local[nproc]``.

    python3 perfbench/run.py --workload bulk_mixed --seed 1 --seconds 15 --trace 0

Run from the repository root. Set-up (timed as ``setup_s``) builds the
session, generates the workload's corpus from ``--seed`` and stages it as
parquet (``resume_delta`` also builds its base warehouse), then runs the
timed job untimed to fork the Python workers and warm the JIT. Timed
jobs then repeat for ``--seconds``, each into a fresh warehouse
(``resume_delta``: a restored copy of the base), with Spark's cache cleared
and both heaps collected before each; every job's output is checked
against the pure-Python oracle outside the timed region. ``--trace 1`` adds
one traced run of the job layer by layer (see ``tracing.py``) and reports
the per-layer metrics instead; its spans go to ``.perfbench_traces/``.

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}`` with the metrics named in
BENCHMARK.json. The exit code is 1 when any document fails or differs from
the reference, and 2 when the engine cannot be imported.

Held-out seed: gains claimed against this benchmark should be re-checked
with ``--seed 90210``, a seed not used while the benchmark was tuned.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[0] = ROOT  # import this package as ``perfbench``, never by bare name

# fixed, pre-touched heap (session.py pre-touches a pinned heap), so GC
# behaviour and RSS do not follow the host's free memory; ample for both
# workloads
DRIVER_MEM = "1536m"
MB = 1024 * 1024


def _pin_environment(work: str) -> None:
    """Settings that the session would otherwise derive from the host's
    free memory and /dev/shm space, and every scratch file kept in the
    checkout."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local
    os.environ["SPARK_LOCAL_DIRS"] = local  # overrides spark.local.dir if set
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    # -UsePerfData: the JVM's perf-counter file would go to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"),
                    f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if p)


def _stop(spark) -> None:
    """Stop the session and its JVM, and wait for every process it forked."""
    from pyspark import SparkContext

    from perfbench.probes import descendants, wait_for_exit

    pids = descendants()
    gateway = SparkContext._gateway  # noqa: SLF001
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    wait_for_exit(pids)


def _metric_specs() -> dict[str, list[dict]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(args, work: str) -> tuple[dict, int, int]:
    from mivaa_pdf_extractor_spark.plans.chunk_pipeline import run_chunk_indexing
    from mivaa_pdf_extractor_spark.plans.pipeline import run_pipeline
    from mivaa_pdf_extractor_spark.session import build_session
    from mivaa_pdf_extractor_spark.sources.synthetic import INPUT_SCHEMA
    from mivaa_pdf_extractor_spark.sources.tables_io import Catalog

    from perfbench import check, probes, tracing, workloads

    slots = len(os.sched_getaffinity(0))
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse")}
    event_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(event_dir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})

    # ---------------------------------------------------------------- set-up
    t_setup = time.perf_counter()
    spark = build_session(app_name="perfbench", master=f"local[{slots}]",
                          extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t_setup
    try:
        t = time.perf_counter()
        wl = workloads.build(args.workload, args.seed)
        gen_s = time.perf_counter() - t
        t = time.perf_counter()
        docs_path = os.path.join(work, "documents")
        workloads.stage(wl.docs, docs_path, 2 * slots)
        stage_s = time.perf_counter() - t

        def read_docs(path=docs_path):
            return spark.read.schema(INPUT_SCHEMA).parquet(path)

        wh = os.path.join(work, "warehouse")
        base_wh = os.path.join(work, "base-warehouse")
        todo = wl.todo
        chunk_ids = [d["doc_id"] for d in todo] if wl.base_docs else None

        def fresh_catalog():
            shutil.rmtree(wh, ignore_errors=True)
            if wl.base_docs:
                shutil.copytree(base_wh, wh)
            return Catalog(spark, wh)

        def settle():
            """Between jobs: drop Spark's cache and collect both heaps, so
            one job's leftovers are not paid for inside the next."""
            spark.catalog.clearCache()
            gc.collect()
            spark.sparkContext._jvm.System.gc()  # noqa: SLF001

        if wl.base_docs:
            base_path = os.path.join(work, "base-documents")
            workloads.stage(wl.base_docs, base_path, 2 * slots)
            base = Catalog(spark, base_wh)
            run_pipeline(spark, read_docs(base_path), base)
            run_chunk_indexing(spark, base)
        # untimed warm-up passes of the timed job itself: the first passes
        # of a plan in a session are the slowest and the most variable (the
        # JIT compiles the plans' code paths)
        for i in range(wl.warmup_jobs):
            settle()
            warm = fresh_catalog()
            run_pipeline(spark, read_docs(), warm, run_id=f"warm-up{i}")
            run_chunk_indexing(spark, warm, doc_ids=chunk_ids)
        settle()
        setup_s = time.perf_counter() - t_setup

        ref = check.Reference(todo)
        n_todo, n_spans, n_text = (len(todo), workloads.span_count(todo),
                                   workloads.text_bytes(todo))

        # ------------------------------------------------------- timed jobs
        failed = attempted = 0
        reps: list[dict] = []
        while sum(r["run_s"] for r in reps) < args.seconds:
            catalog = fresh_catalog()
            before = probes.file_snapshot(wh)
            run_id = f"timed{len(reps)}"
            settle()
            with probes.RssSampler() as rss:
                t = time.perf_counter()
                res = run_pipeline(spark, read_docs(), catalog, run_id=run_id)
                run_chunk_indexing(spark, catalog, doc_ids=chunk_ids)
                run_s = time.perf_counter() - t
            spark.catalog.clearCache()
            _files, new_bytes = probes.new_files(wh, before)
            bad, n = check.check_outputs(catalog, ref, run_id)
            if res.docs_processed != n_todo:
                bad = max(bad, abs(res.docs_processed - n_todo))
            failed += bad
            attempted += n
            reps.append({"run_s": run_s,
                         "docs_per_s": n_todo / run_s,
                         "spans_per_s": n_spans / run_s,
                         "write_amp": new_bytes / n_text,
                         "peak_rss_mb": rss.peak / MB})
        e2e = {k: statistics.median(r[k] for r in reps) for k in reps[0]}
        e2e["setup_s"] = setup_s
        print(f"{args.workload} seed={args.seed}: {len(reps)} timed jobs, "
              f"{n_todo} docs / {n_spans} spans each; "
              f"failed_frac {failed / attempted:.6f} ({failed}/{attempted})")
        print("  run_s per job: " + " ".join(f"{r['run_s']:.3f}" for r in reps))
        if not args.trace:
            return e2e, failed, attempted

        # -------------------------------------------------------- traced run
        catalog = fresh_catalog()
        before = probes.file_snapshot(wh)
        tracer = tracing.Tracer(spark)
        settle()
        counts = tracing.traced_job(spark, tracer, read_docs(), catalog,
                                    os.path.join(work, "trace"), chunk_ids)
        files, new_bytes = probes.new_files(wh, before)
        bad, n = check.check_outputs(catalog, ref, tracer.run_id)
        failed += bad
        attempted += n
        counts.update({
            "session.start_s": session_s, "sources.gen_s": gen_s,
            "sources.stage_s": stage_s, "sources.docs": len(wl.docs),
            "sources.spans": workloads.span_count(wl.docs),
            "sources.text_mb": workloads.text_bytes(wl.docs) / MB,
            "catalog.files_written": files,
            "catalog.written_mb": new_bytes / MB,
            # both sides ran with the event log on: this is the cost of
            # running the layers one by one, with materialised outputs
            "trace.overhead_s": tracer.wall("job") - e2e["run_s"],
        })
    finally:
        _stop(spark)
    groups = tracing.read_event_log(event_dir)
    layers = tracing.layer_metrics(tracer, groups, slots, counts)
    shares = tracing.wall_shares(tracer)
    print("  traced wall shares: " + " ".join(
        f"{k}={v:.2f}" for k, v in sorted(shares.items(), key=lambda kv: -kv[1])))
    out = os.path.join(ROOT, ".perfbench_traces",
                       f"{args.workload}-seed{args.seed}-{tracer.run_id}.json")
    tracer.write(out, {"workload": args.workload, "seed": args.seed,
                       "layer_metrics": layers, "wall_shares": shares,
                       "job_groups": groups})
    print(f"  spans written to {os.path.relpath(out, ROOT)}")
    return layers, failed, attempted


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import mivaa_pdf_extractor_spark  # noqa: F401
        from perfbench import workloads
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}",
              file=sys.stderr)
        return 2

    spec = _metric_specs()
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _pin_environment(work)
    try:
        values, failed, attempted = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        raise RuntimeError(f"metrics not produced: {missing}")
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
               for m in wanted}
    for name, m in metrics.items():
        print(f"  {name:28s} {m['value']:14.4f} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
