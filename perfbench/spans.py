"""Spans around the calls into each layer, for the traced run only.

The tracer wraps public functions of the program as module attributes, from
outside, and only between ``install()`` and ``uninstall()``. Spans stay in
memory; ``layer_metrics`` turns them into per-layer self times (a span's
duration minus the union of its children's intervals) and counts.

Spark engine numbers come from the status store after the run: each stage is
assigned to the innermost span on the driver thread whose wall-clock interval
contains the stage's submission time.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from collections import defaultdict

# span name -> (layer, Spark phase). Span names are also the prefixes of the
# per-layer metric names. "bench.*" spans are the benchmark's own work
# (input hand-over, answer checks); they count toward no layer.
SPAN_LAYERS = {
    "session": ("spark.session", "session"),
    "corpus.sha": ("corpus", "sha"),
    "build.index": ("index.build", "segments"),
    "build.filters": ("index.build", "filters"),
    "merge": ("index.merge", "merge"),
    "ingest.append": ("streaming.ingest", "segments"),
    "ingest.refresh": ("streaming.ingest", "refresh"),
    "removal.apply": ("index.removal", "removal"),
    "removal.resolve": ("index.removal", "removal"),
    "removal.mask": ("index.removal", None),
    "parser": ("query.parser", None),
    "local.search": ("query.scorer.local", None),
    "local.expand": ("query.scorer.local", None),
    "local.postings": ("query.scorer.local", None),
    "local.filter": ("query.scorer.local", None),
    "codec.decode": ("codec", None),
    "batch.plan": ("query.scorer.distributed", "batch"),
    "batch.exec": ("query.scorer.distributed", "batch"),
    "dist.plan": ("query.scorer.distributed", "dist"),
    "dist.exec": ("query.scorer.distributed", "dist"),
}
SPARK_PHASES = ("segments", "merge", "filters", "refresh", "batch", "dist")
STAGE_METRICS = ("executor_run_s", "executor_cpu_s", "input_bytes", "shuffle_write_bytes",
                 "spill_bytes", "tasks", "jobs")

# layer -> its per-layer metrics, the end-to-end metrics (on which workload)
# a change to it should move, and those it should leave unchanged
LAYER_MAP = {
    "corpus": {
        "metrics": ["corpus.sha_s"],
        "moves": ["throughput_per_s@index_build"],
        "unchanged": ["latency_p50_ms@serve"]},
    "index.build": {
        "metrics": ["build.segments_s", "build.filters_s", "build.n_tokens",
                    "build.n_postings", "build.partitions"],
        "moves": ["throughput_per_s@index_build", "latency_p50_ms@index_build (a little)"],
        "unchanged": ["latency_p50_ms@serve", "throughput_per_s@serve"]},
    "index.merge": {
        "metrics": ["merge.s", "merge.segment_rows_in", "merge.merged_rows_out"],
        "moves": ["throughput_per_s@index_build", "latency_p50_ms@index_build", "setup_s@serve"],
        "unchanged": ["latency_p50_ms@serve", "throughput_per_s@serve"]},
    "index on disk": {
        "metrics": ["index.bytes.*"],
        "moves": ["index_bytes_per_input_byte@*"],
        "unchanged": []},
    "streaming.ingest": {
        "metrics": ["ingest.append_s", "ingest.refresh_s", "ingest.refresh.merge_s",
                    "ingest.refresh.filters_s", "ingest.first_query_ms"],
        "moves": ["latency_p50_ms@index_build"],
        "unchanged": ["latency_p50_ms@serve", "throughput_per_s@serve"]},
    "index.removal": {
        "metrics": ["removal.apply_s", "removal.resolve_s", "removal.removed_docs",
                    "local.removal_ms"],
        "moves": ["latency_p50_ms@index_build", "latency_p50_ms@serve"],
        "unchanged": ["throughput_per_s@serve"]},
    "query.parser": {
        "metrics": ["local.parse_ms"],
        "moves": ["latency_p50_ms@serve"],
        "unchanged": ["throughput_per_s@index_build"]},
    "query.scorer (local)": {
        "metrics": ["local.expand_ms", "local.postings_ms", "local.posting_cache_hit_ratio",
                    "local.rank_ms", "local.filter_ms", "local.wand_union",
                    "local.wand_after_blockmax", "local.scored", "local.class.*.p50_ms",
                    "local.untraced_frac"],
        "moves": ["latency_p50_ms@serve", "peak_rss_mb@serve"],
        "unchanged": ["throughput_per_s@index_build", "throughput_per_s@serve"]},
    "codec": {
        "metrics": ["codec.decode_ms", "codec.postings_decoded"],
        "moves": ["latency_p50_ms@serve (tail: head-term and OR classes)"],
        "unchanged": ["throughput_per_s@serve (workers decode there)"]},
    "query.scorer (distributed)": {
        "metrics": ["batch.plan_s", "batch.exec_s", "dist.plan_s", "dist.exec_s",
                    "batch.merged_files_read", "batch.posting_rows", "batch.fanout_rows",
                    "batch.agg_groups", "dist.merged_files_read", "dist.posting_rows"],
        "moves": ["throughput_per_s@serve", "dist_p50_ms (trace file)"],
        "unchanged": ["latency_p50_ms@serve", "latency_p50_ms@index_build"]},
    "spark engine": {
        "metrics": [f"spark.{p}.{k}" for p in SPARK_PHASES for k in STAGE_METRICS],
        "moves": ["the end-to-end metric of the phase's workload"],
        "unchanged": ["the other workload"]},
}


class Span:
    __slots__ = ("name", "parent", "t0", "t1", "w0", "main", "children")

    def __init__(self, name, parent, main):
        self.name = name
        self.parent = parent
        self.main = main
        self.children: list[Span] = []
        self.w0 = time.time()
        self.t0 = time.perf_counter()
        self.t1 = None

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    def within(self, *names) -> bool:
        p = self.parent
        while p is not None:
            if p.name in names:
                return True
            p = p.parent
        return False


def _union(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Tracer:
    """Span recorder. Library threads (the posting loader's pool) attach
    their spans to the span open on the driver thread."""

    def __init__(self):
        self.spans: list[Span] = []
        self.enabled = True
        self._stack: list[Span] = []
        self._main = threading.main_thread()
        self._lock = threading.Lock()
        self._patches: list[tuple] = []
        self.counts: dict[str, float] = defaultdict(float)

    def open(self, name: str) -> Span:
        main = threading.current_thread() is self._main
        parent = self._stack[-1] if self._stack else None
        s = Span(name, parent, main)
        with self._lock:
            self.spans.append(s)
            if parent is not None:
                parent.children.append(s)
        if main:
            self._stack.append(s)
        return s

    def close(self, s: Span) -> None:
        s.t1 = time.perf_counter()
        if s.main:
            self._stack.pop()

    def span(self, name: str):
        return _SpanCtx(self, name)

    # ------------------------------------------------------------ patching
    def wrap(self, module, attr: str, name: str, after=None) -> None:
        """Replace ``module.attr`` with a spanning wrapper; ``after(result,
        args, kwargs)`` records counts."""
        orig = getattr(module, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            s = tracer.open(name)
            try:
                out = orig(*args, **kwargs)
            finally:
                tracer.close(s)
            if after is not None:
                # counting is the tracer's own work: a bench span keeps it
                # out of the caller's self time
                with tracer.span("bench.trace"):
                    after(out, args, kwargs)
            return out

        self._patches.append((module, attr, orig))
        setattr(module, attr, wrapper)

    def uninstall(self) -> None:
        for module, attr, orig in reversed(self._patches):
            setattr(module, attr, orig)
        self._patches.clear()

    # ------------------------------------------------------------- metrics
    def self_time(self, s: Span) -> float:
        return s.dur - _union(
            (max(c.t0, s.t0), min(c.t1, s.t1)) for c in s.children if c.t1 is not None
        )

    def layer_metrics(self, window_s: float) -> dict:
        """Self time per span name, per layer and coverage of the window."""
        by_name: dict[str, float] = defaultdict(float)
        by_layer: dict[str, float] = defaultdict(float)
        bench = 0.0
        for s in self.spans:
            if s.t1 is None:
                continue
            st = self.self_time(s)
            by_name[s.name] += st
            if s.name.startswith("bench."):
                bench += st
            else:
                by_layer[SPAN_LAYERS[s.name][0]] += st
        program_wall = window_s - bench
        # time outside every root span is the benchmark's own glue
        glue = window_s - _union((s.t0, s.t1) for s in self.spans
                                 if s.parent is None and s.t1 is not None)
        return {
            "self_s": dict(by_name),
            "layer_self_s": dict(by_layer),
            "bench_s": bench,
            "program_wall_s": program_wall,
            "coverage": 1.0 - glue / program_wall if program_wall > 0 else 0.0,
        }

    def phase_of(self, wall_ms: float) -> str:
        """Spark phase of the innermost driver-thread span open at ``wall_ms``."""
        best = None
        for s in self.spans:
            if not s.main or s.t1 is None:
                continue
            w1 = s.w0 + s.dur
            if s.w0 * 1000 <= wall_ms <= w1 * 1000 and (best is None or s.w0 >= best.w0):
                best = s
        while best is not None:
            if best.name.startswith("bench."):
                return "bench"
            phase = SPAN_LAYERS[best.name][1]
            if phase is not None:
                return phase
            best = best.parent
        return "other"


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name, self.s = tracer, name, None

    def __enter__(self):
        if self.tracer.enabled:
            self.s = self.tracer.open(self.name)
        return self.s

    def __exit__(self, *exc):
        if self.s is not None:
            self.tracer.close(self.s)
        return False


class NullTracer:
    """Stand-in for untraced runs: spans cost one method call."""

    enabled = False

    def span(self, name: str):
        return _NULL_CTX


class _NullCtx:
    def __enter__(self):
        return None

    def __exit__(self, *exc):
        return False


_NULL_CTX = _NullCtx()


# ------------------------------------------------------------------ Spark
def _opt_ms(opt) -> float | None:
    return float(opt.get().getTime()) if opt.isDefined() else None


def spark_phase_metrics(spark, tracer: Tracer) -> dict:
    """Per-phase stage-metric sums from the status store (the store is live
    with the UI disabled). Read once, after the run, within the retained
    stages window the session was configured with."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    stages = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
    out: dict[str, dict] = {p: dict.fromkeys(STAGE_METRICS, 0) for p in SPARK_PHASES}
    for i in range(stages.size()):
        st = stages.apply(i)
        t = _opt_ms(st.submissionTime())
        if t is None:
            continue
        m = out.get(tracer.phase_of(t))
        if m is None:
            continue
        m["executor_run_s"] += st.executorRunTime() / 1000.0
        m["executor_cpu_s"] += st.executorCpuTime() / 1e9
        m["input_bytes"] += int(st.inputBytes())
        m["shuffle_write_bytes"] += int(st.shuffleWriteBytes())
        m["spill_bytes"] += int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled())
        m["tasks"] += int(st.numTasks())
    jobs = store.jobsList(None)
    for i in range(jobs.size()):
        t = _opt_ms(jobs.apply(i).submissionTime())
        m = out.get(tracer.phase_of(t)) if t is not None else None
        if m is not None:
            m["jobs"] += 1
    return {f"spark.{p}.{k}": v for p, m in out.items() for k, v in m.items()}


def _children(node):
    kids = []
    for getter in ("children", "innerChildren"):
        seq = getattr(node, getter)()
        kids.extend(seq.apply(i) for i in range(seq.size()))
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        kids.append(node.executedPlan())
    elif "QueryStage" in name:
        kids.append(node.plan())
    return kids


def _metric(node, *names) -> int:
    """First of ``names`` the node defines (0 when none)."""
    for n in names:
        m = node.metrics().get(n)
        if m.isDefined():
            return int(m.get().value())
    return 0


def _rows(node) -> int:
    # MapInPandas counts its output as rows received back from Python
    return _metric(node, "numOutputRows", "pythonNumRowsReceived")


def plan_metrics(df) -> dict:
    """SQL metrics of a collected DataFrame's final adaptive plan: merged-index
    files read, decoded posting rows (the MapInPandas over the merged scan),
    rows out of the nearest join above the decode that adds ``query_id``
    (the batch fan-out), and groups out of the final aggregate."""
    jvm = df.sparkSession.sparkContext._jvm
    root = df._jdf.queryExecution().executedPlan()
    out = {"merged_files_read": 0, "posting_rows": 0, "fanout_rows": 0, "agg_groups": 0}
    seen = set()

    def reads_merged(node) -> bool:
        return node.nodeName().startswith("Scan") and "/merged" in node.toString()

    def has_merged_scan(node) -> bool:
        return reads_merged(node) or any(has_merged_scan(k) for k in _children(node))

    def walk(node, ancestors):
        ident = jvm.java.lang.System.identityHashCode(node)
        if ident in seen:
            return
        seen.add(ident)
        name = node.nodeName()
        if reads_merged(node):
            out["merged_files_read"] += _metric(node, "numFiles")
        if name == "MapInPandas" and has_merged_scan(node):
            out["posting_rows"] += _rows(node)
            for a in reversed(ancestors):
                if "Join" in a.nodeName() and "query_id" in a.output().toString():
                    out["fanout_rows"] += _rows(a)
                    break
        if name == "HashAggregate" and "partial_" not in node.simpleString(100):
            out["agg_groups"] = max(out["agg_groups"], _rows(node))
        for k in _children(node):
            walk(k, ancestors + [node])

    walk(root, [])
    return out


# ------------------------------------------------------------ install/derive
def install(tracer: Tracer) -> None:
    """Wrap the program's public functions for one traced run."""
    import pyarrow.dataset as pads

    from miru_spark import roaring
    from miru_spark.index import build, merge, removal
    from miru_spark.query import parser, scorer
    from miru_spark.streaming import ingest

    counts = tracer.counts

    def built(summary, args, kwargs):
        index_dir = args[2] if len(args) > 2 else kwargs["index_dir"]
        counts["build.n_tokens"] += summary["n_tokens"]
        counts["build.partitions"] += summary["partitions"]
        man = os.path.join(index_dir, "manifests")
        for name in os.listdir(man):
            with open(os.path.join(man, name)) as f:
                counts["build.n_postings"] += json.load(f)["n_postings"]

    def merged(summary, args, kwargs):
        index_dir = args[1] if len(args) > 1 else kwargs["index_dir"]
        counts["merge.segment_rows_in"] += pads.dataset(os.path.join(index_dir, "segments")).count_rows()
        counts["merge.merged_rows_out"] += pads.dataset(os.path.join(index_dir, "merged")).count_rows()

    def removed(n, args, kwargs):
        counts["removal.removed_docs"] += n

    def searched(out, args, kwargs):
        diag = kwargs.get("diag") or {}
        counts["local.queries"] += 1
        counts["local.wand_union"] += diag.get("union_size", 0)
        counts["local.wand_after_blockmax"] += diag.get("after_blockmax", 0)
        counts["local.scored"] += diag.get("scored", 0)

    tracer.wrap(build, "verify_sha256", "corpus.sha")
    tracer.wrap(build, "build_index", "build.index", after=built)
    tracer.wrap(build, "build_field_filters", "build.filters")
    tracer.wrap(ingest, "build_field_filters", "build.filters")
    tracer.wrap(merge, "merge_segments", "merge", after=merged)
    tracer.wrap(ingest, "append_batch", "ingest.append")
    tracer.wrap(ingest, "refresh", "ingest.refresh")
    tracer.wrap(removal, "remove_docs", "removal.apply", after=removed)
    tracer.wrap(removal, "resolve_keys_map", "removal.resolve")
    tracer.wrap(removal, "removed_array", "removal.mask")
    tracer.wrap(parser, "parse_query", "parser")
    tracer.wrap(scorer, "search_local", "local.search", after=searched)
    tracer.wrap(scorer, "expand_prefixes", "local.expand")
    tracer.wrap(scorer, "load_filter_bitmap", "local.filter")
    tracer.wrap(roaring, "and_array", "local.filter")

    # decode_postings is swapped in only while load_postings runs: the
    # distributed paths ship their own closure over it to Python workers,
    # which must never carry the tracer
    decode = scorer.decode_postings
    load = scorer.load_postings

    def traced_decode(db, tb):
        s = tracer.open("codec.decode")
        try:
            d, tf = decode(db, tb)
        finally:
            tracer.close(s)
        with tracer._lock:  # the loader's pool decodes terms concurrently
            counts["codec.postings_decoded"] += d.size
        return d, tf

    def traced_load(index_dir, terms):
        if not tracer.enabled:
            return load(index_dir, terms)
        gen = scorer._index_generation(index_dir)
        counts["local.terms_requested"] += len(terms)
        counts["local.terms_resident"] += sum(
            (index_dir, gen, t) in scorer._POSTING_CACHE for t in terms
        )
        s = tracer.open("local.postings")
        scorer.decode_postings = traced_decode
        try:
            return load(index_dir, terms)
        finally:
            scorer.decode_postings = decode
            tracer.close(s)

    tracer._patches.append((scorer, "load_postings", load))
    scorer.load_postings = traced_load


def _sum_self(tracer: Tracer, name: str, within=None, outside=None) -> float:
    total = 0.0
    for s in tracer.spans:
        if s.name != name or s.t1 is None:
            continue
        if within is not None and not s.within(within):
            continue
        if outside is not None and s.within(outside):
            continue
        total += tracer.self_time(s)
    return total


def derive(tracer: Tracer) -> dict:
    """Per-layer metrics from the spans and counts. ``local.*_ms`` and
    ``codec.decode_ms`` are per search_local call; ``*_s`` are run totals."""
    c = tracer.counts
    n_local = max(c["local.queries"], 1)

    def local_ms(name, within="local.search"):
        return 1000.0 * _sum_self(tracer, name, within=within) / n_local

    searches = [s for s in tracer.spans if s.name == "local.search" and s.t1 is not None]
    search_s = sum(s.dur for s in searches)
    out = {
        "session.start_s": _sum_self(tracer, "session"),
        "corpus.sha_s": _sum_self(tracer, "corpus.sha"),
        "build.segments_s": _sum_self(tracer, "build.index"),
        "build.filters_s": _sum_self(tracer, "build.filters", outside="ingest.refresh"),
        "build.n_tokens": c["build.n_tokens"],
        "build.n_postings": c["build.n_postings"],
        "build.partitions": c["build.partitions"],
        "merge.s": _sum_self(tracer, "merge"),
        "merge.segment_rows_in": c["merge.segment_rows_in"],
        "merge.merged_rows_out": c["merge.merged_rows_out"],
        "ingest.append_s": _sum_self(tracer, "ingest.append"),
        "ingest.refresh_s": _sum_self(tracer, "ingest.refresh"),
        "ingest.refresh.merge_s": _sum_self(tracer, "merge", within="ingest.refresh"),
        "ingest.refresh.filters_s": _sum_self(tracer, "build.filters", within="ingest.refresh"),
        "removal.apply_s": _sum_self(tracer, "removal.apply"),
        "removal.resolve_s": _sum_self(tracer, "removal.resolve"),
        "removal.removed_docs": c["removal.removed_docs"],
        "local.queries": c["local.queries"],
        "local.removal_ms": local_ms("removal.mask"),
        "local.parse_ms": local_ms("parser"),
        "local.expand_ms": local_ms("local.expand"),
        "local.postings_ms": local_ms("local.postings"),
        "local.filter_ms": local_ms("local.filter"),
        "local.rank_ms": local_ms("local.search", within=None),
        "local.posting_cache_hit_ratio": (
            c["local.terms_resident"] / c["local.terms_requested"] if c["local.terms_requested"] else 0.0
        ),
        "local.wand_union": c["local.wand_union"],
        "local.wand_after_blockmax": c["local.wand_after_blockmax"],
        "local.scored": c["local.scored"],
        "local.untraced_frac": (
            sum(tracer.self_time(s) for s in searches) / search_s if search_s else 0.0
        ),
        "codec.decode_ms": local_ms("codec.decode"),
        "codec.postings_decoded": c["codec.postings_decoded"],
    }
    for kind in ("batch", "dist"):
        out[f"{kind}.plan_s"] = _sum_self(tracer, f"{kind}.plan")
        out[f"{kind}.exec_s"] = _sum_self(tracer, f"{kind}.exec")
        for k in ("merged_files_read", "posting_rows", "fanout_rows", "agg_groups"):
            out[f"{kind}.{k}"] = c[f"{kind}.{k}"]
    del out["dist.fanout_rows"], out["dist.agg_groups"]
    return out
