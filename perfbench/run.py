"""miru_spark benchmark: one workload per invocation, one JSON result line.

    python3 perfbench/run.py --workload index_build --seed 1 --seconds 2 --trace 0

Run from the root of a source checkout. The program under test is the
``miru_spark`` package next to this directory; the benchmark sizes a local
Spark session to the machine, generates its inputs from ``--seed``, measures
for ``--seconds`` (every timed operation runs at least once), checks every
answer and prints, as the last stdout line,
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 1`` wraps the
program's layer functions, prints the per-layer metrics instead of the
end-to-end ones and writes ``.perfbench/trace/<workload>-s<seed>.json``.
Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

WORKLOADS = ("index_build", "serve")

# end-to-end metrics: name -> unit. Each workload reports every one; the
# per-workload meaning of the two shared slots is in WORKLOAD_SLOTS.
END_TO_END = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "throughput_per_s": "1/s",
    "peak_rss_mb": "MB",
    "index_bytes_per_input_byte": "ratio",
}
# (named metric, scale) behind latency_p50_ms and throughput_per_s
WORKLOAD_SLOTS = {
    "index_build": {"latency_p50_ms": ("fresh_s_p50", 1000.0),
                    "throughput_per_s": ("build_files_per_s", 1.0)},
    "serve": {"latency_p50_ms": ("serve_p50_ms", 1.0),
              "throughput_per_s": ("batch_qps", 1.0)},
}


def per_layer_names() -> list[str]:
    """Per-layer metrics printed by --trace 1, in order: every layer metric of
    both workloads (0 where a workload skips the layer). Call after main()
    has put the checkout on sys.path."""
    import gen
    import spans

    return [
        "session.start_s", "corpus.sha_s",
        "build.segments_s", "build.filters_s", "build.n_tokens", "build.n_postings",
        "build.partitions",
        "merge.s", "merge.segment_rows_in", "merge.merged_rows_out",
        "index.bytes.merged", "index.bytes.stats", "index.bytes.doc_meta",
        "index.bytes.doc_meta_local", "index.bytes.segments", "index.bytes.filters",
        "ingest.append_s", "ingest.refresh_s", "ingest.refresh.merge_s",
        "ingest.refresh.filters_s", "ingest.first_query_ms",
        "removal.apply_s", "removal.resolve_s", "removal.removed_docs",
        "local.queries", "local.removal_ms", "local.parse_ms", "local.expand_ms",
        "local.postings_ms", "local.filter_ms", "local.rank_ms",
        "local.posting_cache_hit_ratio", "local.wand_union", "local.wand_after_blockmax",
        "local.scored", "local.untraced_frac",
        *(f"local.class.{c}.p50_ms" for c in gen.CLASS_WEIGHTS),
        "codec.decode_ms", "codec.postings_decoded",
        "batch.plan_s", "batch.exec_s", "batch.merged_files_read", "batch.posting_rows",
        "batch.fanout_rows", "batch.agg_groups",
        "dist.plan_s", "dist.exec_s", "dist.merged_files_read", "dist.posting_rows",
        *(f"spark.{p}.{k}" for p in spans.SPARK_PHASES for k in spans.STAGE_METRICS),
        "trace.coverage", "trace.overhead_pct",
    ]


def unit_of(name: str) -> str:
    """Unit of a metric, end-to-end, named or per-layer, from its name."""
    if name.endswith(("_per_s", "_qps")):
        return "1/s"
    if name.endswith("_mb"):
        return "MB"
    if name in ("index_bytes_per_input_byte", "error_rate") or name.endswith(
            ("_ratio", "coverage", "_frac")):
        return "ratio"
    if name.startswith("index.bytes.") or name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith(("_s", "_s_p50")) or name == "merge.s":
        return "s"
    if name.endswith("_pct"):
        return "%"
    return "count"


def machine() -> dict:
    """Session sizing for this machine, from outside the library."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_gb = int(f.readline().split()[1]) // (1024 * 1024)
    return {"nproc": nproc, "driver_mem": f"{max(1, min(8, total_gb // 5))}g"}


def configure_env(m: dict) -> None:
    """Environment for the Spark JVM and its Python workers; must be set
    before pyspark launches the JVM."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(m["nproc"])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["MIRU_SPARK_DRIVER_MEM"] = m["driver_mem"]
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM the launch starts keeps its temp and perf-data files out of /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        [os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData",
         f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"]).strip()
    # Python workers import miru_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )


def host_probe() -> dict:
    """tools.host_probe readings, taken in a child process so that the
    probe's buffers stay out of this process's peak RSS."""
    code = ("import json; from tools.host_probe import probe; "
            "print(json.dumps(probe(size_mb=64, reps=2)))")
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True,
                         text=True, check=True, timeout=120)
    return json.loads(out.stdout.splitlines()[-1])


def peak_rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc/self/status")


class Run:
    """One invocation: session, tracer, time budget and the op ledger.
    ``attempted`` counts operations; one that raised or answered wrongly
    counts once in ``failed``."""

    def __init__(self, args, m: dict):
        import spans

        self.workload, self.seed, self.seconds = args.workload, args.seed, args.seconds
        self.traced = bool(args.trace)
        self.tracer = spans.Tracer() if self.traced else spans.NullTracer()
        self.nproc, self.driver_mem = m["nproc"], m["driver_mem"]
        self.work = WORK
        self.scratch = os.path.join(WORK, "runs", f"{args.workload}-{os.getpid()}")
        self.ops: list[list] = []
        self.errors: list[str] = []
        self.spark = None
        self.index_dir = None
        self.window_t0 = self.window_end = self.timed_t0 = None

    def path(self, name: str) -> str:
        return os.path.join(self.scratch, name)

    def op(self, kind: str) -> int:
        self.ops.append([kind, True])
        return len(self.ops) - 1

    def expect(self, op: int, ok: bool, msg: str) -> None:
        if not ok:
            self.ops[op][1] = False
            self.errors.append(msg)

    def reset_peak_rss(self) -> None:
        """Restart this process's VmHWM, so that peak_rss_mb leaves out
        input preparation."""
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")

    def start_setup(self) -> None:
        self.window_t0 = self.setup_t0 = time.perf_counter()

    def start_session(self):
        from miru_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedStages": "10000",
            "spark.ui.retainedJobs": "10000",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        }
        with self.tracer.span("session"):
            self.spark = get_spark("miru_perfbench", cores=self.nproc, extra_conf=conf)
        return self.spark

    def end_setup(self) -> float:
        self.timed_t0 = time.perf_counter()
        return self.timed_t0 - self.setup_t0

    def local_query(self, index_dir, query, op, lang_filter=None, repo_filter=None, time_range=None):
        """search_local, counted against ``op``; None when it raised."""
        from miru_spark.query import scorer

        kw = {"diag": {}} if self.traced else {}
        try:
            return scorer.search_local(index_dir, query, k=10, lang_filter=lang_filter,
                                       repo_filter=repo_filter, time_range=time_range, **kw)
        except Exception as e:  # noqa: BLE001 — a query that raises is a failed op
            self.expect(op, False, f"search_local({query!r}) raised {e!r}")
            return None

    def spark_query(self, kind: str, plan):
        """Plan (``plan()`` returns the program's DataFrame), then collect."""
        with self.tracer.span(f"{kind}.plan"):
            df = plan()
        with self.tracer.span(f"{kind}.exec"):
            rows = df.collect()
        if self.traced:
            import spans

            with self.tracer.span("bench.trace"):
                for k, v in spans.plan_metrics(df).items():
                    self.tracer.counts[f"{kind}.{k}"] += v
        return rows

    def stop(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        self.spark = None


def trace_overhead_pct(run, queries) -> float:
    """Traced vs untraced p50 of the same warm search_local calls, alternated
    query by query so drift hits both sides alike."""
    import numpy as np

    lat = {True: [], False: []}
    for i, (q, masks) in enumerate(queries):
        for enabled in ((False, True) if i % 2 == 0 else (True, False)):
            run.tracer.enabled = enabled
            t0 = time.perf_counter()
            run.local_query(run.index_dir, q, run.op("overhead"), **masks)
            lat[enabled].append(time.perf_counter() - t0)
    run.tracer.enabled = True
    on, off = lat[True], lat[False]
    return 100.0 * (float(np.median(on)) / float(np.median(off)) - 1.0)


def traced_layers(run, named: dict) -> tuple[dict, dict]:
    """Per-layer metrics of a traced run, plus the trace-file body."""
    import gen
    import spans
    import workloads

    window_s = run.window_end - run.window_t0
    cov = run.tracer.layer_metrics(window_s)
    layers = spans.derive(run.tracer)
    layers["ingest.first_query_ms"] = named.get("ingest.first_query_ms", 0.0)
    for c in gen.CLASS_WEIGHTS:
        layers[f"local.class.{c}.p50_ms"] = named.get(f"local.class.{c}.p50_ms", 0.0)
    for part in ("merged", "stats", "doc_meta", "doc_meta_local", "segments", "filters"):
        layers[f"index.bytes.{part}"] = workloads.dir_bytes(os.path.join(run.index_dir, part))
    layers["trace.coverage"] = cov["coverage"]
    if run.workload == "serve":
        log = gen.query_log(run.seed, workloads.N_DOCS, workloads.LOG_LENGTH)[:80]
        replay = [(q["query"], {"lang_filter": q["lang_filter"], "repo_filter": q["repo_filter"],
                                "time_range": q["time_range"]}) for q in log]
    else:
        replay = [(p["query"], {"lang_filter": p["lang_filter"]}) for p in workloads.PROBES] * 16
    layers["trace.overhead_pct"] = trace_overhead_pct(run, replay)
    layers.update(spans.spark_phase_metrics(run.spark, run.tracer))
    body = {
        "workload": run.workload,
        "seed": run.seed,
        "coverage": {**cov, "ok": cov["coverage"] >= 0.9},
        "layer_map": spans.LAYER_MAP,
        "per_layer": {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(layers.items())},
        "spans": [
            {"name": s.name, "parent": s.parent.name if s.parent else None,
             "start_s": s.t0 - run.window_t0, "dur_s": s.dur, "self_s": run.tracer.self_time(s)}
            for s in run.tracer.spans if s.t1 is not None
        ],
    }
    return layers, body


def result_line(run, named: dict, layers: dict) -> dict:
    """The final stdout object: end-to-end metrics untraced, per-layer
    metrics traced, each with its unit."""
    if run.traced:
        metrics = {k: {"value": layers[k], "unit": unit_of(k)} for k in per_layer_names()}
    else:
        vals = dict(named)
        for slot, (src, scale) in WORKLOAD_SLOTS[run.workload].items():
            vals[slot] = named[src] * scale
        metrics = {k: {"value": vals[k], "unit": u} for k, u in END_TO_END.items()}
    failed = sum(not ok for _, ok in run.ops)
    return {"correct": failed == 0, "attempted": len(run.ops), "failed": failed,
            "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "miru_spark", "__init__.py")):
        print(f"perfbench: no miru_spark package under {ROOT}; run from a source checkout",
              file=sys.stderr)
        return 2

    m = machine()
    configure_env(m)
    sys.path[:0] = [ROOT, HERE]
    import spans
    import workloads
    from tools.host_probe import BW_HEALTHY_GBPS

    run = Run(args, m)
    if run.traced:
        spans.install(run.tracer)
    probe_pre = host_probe()
    try:
        named = getattr(workloads, args.workload)(run)
        run.window_end = time.perf_counter()
        named["peak_rss_mb"] = peak_rss_mb()
        layers, trace_body = traced_layers(run, named) if run.traced else ({}, None)
    finally:
        run.stop()
        if run.traced:
            run.tracer.uninstall()
        shutil.rmtree(run.scratch, ignore_errors=True)
    probe_post = host_probe()
    named["error_rate"] = sum(not ok for _, ok in run.ops) / len(run.ops)
    healthy = min(probe_pre["bw_gbps"], probe_post["bw_gbps"]) >= BW_HEALTHY_GBPS

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": run.nproc, "driver_mem": run.driver_mem,
        "host_probe_pre": probe_pre, "host_probe_post": probe_post,
        "host_healthy": healthy, "named": named, "errors": run.errors[:20],
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    if trace_body is not None:
        os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
        with open(os.path.join(WORK, "trace", f"{args.workload}-s{args.seed}.json"), "w") as f:
            json.dump(trace_body, f)
        if not trace_body["coverage"]["ok"]:
            print(f"perfbench: layer self times cover {trace_body['coverage']['coverage']:.1%} "
                  "of the run, below 90%", file=sys.stderr)
    for e in run.errors[:20]:
        print(f"perfbench: wrong answer: {e}", file=sys.stderr)
    if not healthy:
        print(f"perfbench: host probe below {BW_HEALTHY_GBPS} GB/s: {probe_pre} / {probe_post}",
              file=sys.stderr)
    for k, v in sorted(named.items()):
        print(f"{k} {v} {unit_of(k)}")
    print(json.dumps(result_line(run, named, layers)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
