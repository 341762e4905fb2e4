"""The serving workloads, their set-up, the traced extras and the
correctness pass.

Every workload is a closed loop driven from one client thread in one
process, over an index built from the seeded corpus in set-up, through
`Searcher.embedded()` (`LocalSearcher`, zero Spark jobs):

  embedded     predecode=True: postings decoded once at open, so parse,
               plan and the numpy evaluator are the whole latency
  wand_kernel  predecode=False: every request decodes its blocks and runs
               the per-shard WAND kernel that the Spark workers run

The traced wand_kernel run also replays the stream's first requests on
the Spark path: one `Searcher.search(q, k=10).collect()` at a time
through a `Searcher` with its shipped defaults and warm=True, on each
executor, and through `Searcher.submit` in rounds of 64 (= max_batch).
"""

from __future__ import annotations

import gc
import json
import os
import time
from typing import Dict, List, NamedTuple

import numpy as np

import checks
import inputs
import sparkenv
from tracing import Tracer, median

WORKLOADS = ("embedded", "wand_kernel")
PREDECODE = {"embedded": True, "wand_kernel": False}
N_DOCS = 2000
BATCH = 64  # Searcher.max_batch
K = 10
# the log's tail: the highest of these percentiles with at least ten
# samples beyond it (not a bounded metric)
TAIL_LADDER = (99.9, 99, 95, 90, 80, 75, 70, 60, 50)
# stream seeds differ per workload: same generator, different draws
STREAM_SALT = {"embedded": 3, "wand_kernel": 4}
WARM_SALT = 97
WARM = len(inputs.SHAPES)  # untimed warm-up requests: one per shape
REPLAY_SPARK = 3 * len(inputs.SHAPES)  # traced wand_kernel: Spark requests
REPLAY_ROUNDS = 3  # traced wand_kernel: Searcher.submit rounds of BATCH

# setup_s: process start to a serving searcher, without the benchmark's
# own corpus generation and warm-up traffic
SETUP_PHASES = ("setup.session_s", "setup.build_s", "reader.open_s", "local_serve.open_s")
BUILD_STAGES = ("doclens", "postings_flat", "terms", "stats", "segments", "file_index")
INDEX_COMPONENTS = ("doclens", "postings_flat", "terms", "segments")
SHAPED = (
    "parser.parse_us", "plans.plan_us", "exec.build_ms", "exec.collect_ms",
    "exec_df.search_ms", "exec_wand.search_ms", "exec_wand.kernel_ms",
    "eval_local.eval_us",
)
# (layer metric, span, scale) of each traced request's layers; the
# request's own span is local_serve.search
REQUEST_SPANS = {
    "embedded": (
        ("parser.parse_us", "parser.parse", 1e6),
        ("plans.plan_us", "plans.plan", 1e6),
        ("eval_local.evaluate_us", "eval_local.evaluate", 1e6),
        ("eval_local.top_k_us", "eval_local.top_k", 1e6),
    ),
    "wand_kernel": (
        ("parser.parse_us", "parser.parse", 1e6),
        ("plans.plan_us", "plans.plan", 1e6),
        ("pushdown.bounds_us", "pushdown.bounds", 1e6),
        ("exec_wand.kernel_ms", "exec_wand.kernel", 1e3),
        ("local_serve.select_us", "local_serve.search", 1e6),
    ),
}
# the Spark replay's own layers (parse and plan are spanned there too,
# so that exec.build excludes them, but reported from the loop)
SPARK_SPANS = (
    ("exec.build_ms", "exec.build", 1e3),
    ("exec.collect_ms", "exec.collect", 1e3),
)

END_TO_END = {
    "setup_s": "s",
    "p50_ms": "ms",
    "index_bytes_per_doc": "bytes",
}


def _per_layer_units() -> Dict[str, str]:
    u = {
        "setup.session_s": "s", "setup.generate_s": "s", "setup.build_s": "s",
        "reader.open_s": "s", "searcher.warmup_s": "s",
        "setup.warm_queries_s": "s",
        "process.peak_rss_mb": "MB", "searcher.cold_p50_ms": "ms",
        "pushdown.bounds_us": "us", "local_serve.select_us": "us",
        "spark.single_p50_ms": "ms",
        "local_serve.open_s": "s", "local_serve.resident_mb": "MB",
    }
    for st in BUILD_STAGES:
        u[f"builder.{st}_s"] = "s"
    u["builder.docs_per_s"] = "1/s"
    u["analysis.tokenize_mb_per_s"] = "MB/s"
    u["codec.encode_mb_per_s"] = "MB/s"
    u["codec.decode_mb_per_s"] = "MB/s"
    u["spark.build_jobs"] = "count"
    u["spark.build_tasks"] = "count"
    for c in INDEX_COMPONENTS:
        u[f"index.bytes.{c}"] = "bytes"
    for name in SHAPED:
        unit = name.rsplit("_", 1)[1]
        u[name] = unit
        for sh in inputs.SHAPES:
            u[f"{name}.{sh}"] = unit
    u.update({
        "reader.dict_scan_ratio": "ratio", "reader.dict_scan_terms": "count",
        "spark.jobs_per_query": "count", "spark.stages_per_query": "count",
        "spark.tasks_per_query": "count", "spark.floor_ms": "ms",
        "exec_wand.decoded_block_ratio": "ratio", "exec_wand.total_blocks": "count",
        "searcher.batch_size": "count", "searcher.batch_ms": "ms",
        "searcher.queue_wait_ms": "ms", "spark.tasks_per_batch": "count",
        "eval_local.evaluate_us": "us", "eval_local.top_k_us": "us",
        "local_serve.parse_plan_share": "ratio", "trace.coverage": "ratio",
        "trace.overhead_ms": "ms",
    })
    return u


PER_LAYER = _per_layer_units()
# layers inside a request, for the log's share-of-latency column
SHARE_LAYERS = (
    "parser.parse_us", "plans.plan_us", "eval_local.eval_us",
    "pushdown.bounds_us", "exec_wand.kernel_ms", "local_serve.select_us",
)


class Req(NamedTuple):
    rid: str
    query: inputs.Query
    start: float
    end: float
    traced: bool
    ok: bool


def _traced(i: int) -> bool:
    """Traced run: trace half the requests in the order T U U T, so a
    latency trend over the run does not bias the overhead estimate."""
    return i % 4 in (0, 3)


def _pct(xs: List[float], p: float) -> float:
    return float(np.percentile(np.asarray(xs), p)) if xs else 0.0


def _tail_pct(n: int) -> float:
    return next((p for p in TAIL_LADDER if n * (100 - p) / 100 >= 10), 50)


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 repo_root: str, work_dir: str, t_start: float):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace = trace
        self.repo_root, self.work_dir, self.t_start = repo_root, work_dir, t_start
        self.ix_dir = os.path.join(work_dir, "index")
        self.tracer = Tracer()
        self.setup: Dict[str, float] = {}
        self.layers: Dict[str, float] = {}
        self.reqs: List[Req] = []
        self.results: Dict[str, list] = {}  # query text -> rows per request
        self.batches: List[tuple] = []  # (rid, size, build_s, collect_s)
        self.errors: List[str] = []
        self.exceptions = 0

    # ------------------------------------------------------------ run
    def run(self) -> dict:
        from lucille_spark.index import IndexBuilder

        spark = sparkenv.start_session(self.repo_root, self.work_dir)
        try:
            self.spark, self.jg = spark, sparkenv.JobGroups(spark.sparkContext)
            self.setup["setup.session_s"] = time.perf_counter() - self.t_start
            self.env = sparkenv.environment(spark, self.repo_root)
            self._build(IndexBuilder)
            self._open()
            setup_s = sum(self.setup[k] for k in SETUP_PHASES)
            self._warm()
            stream = self.stream = self._stream()
            if self.trace:
                self._install_tracing()
            spark._jvm.System.gc()
            gc.collect()
            self._loop(stream)
            self.jg.set("post")
            self.tracer.unpatch_all()
            peak = sparkenv.peak_rss_mb(spark)
            usage = self._disk_usage()
            e2e = self._end_to_end(setup_s, peak, usage)
            if self.trace:
                self._traced_extras(usage)
            self._correctness()
            if self.trace:
                os.makedirs(os.path.join(self.work_dir, os.pardir, "spans"), exist_ok=True)
                self.tracer.dump(os.path.join(
                    self.work_dir, os.pardir, "spans",
                    f"{self.workload}-seed{self.seed}.jsonl"))
        finally:
            self.tracer.unpatch_all()
            sparkenv.stop_session(spark)
        return self._result(e2e)

    # ---------------------------------------------------------- set-up
    def _build(self, IndexBuilder) -> None:
        from lucille_spark.fixtures import generate_docs

        cores = sparkenv.nproc()
        t = time.perf_counter()
        self.docs = generate_docs(
            self.spark, N_DOCS, seed=self.seed, partitions=cores, with_ids=True
        ).persist()
        self.n_docs = self.docs.count()
        self.setup["setup.generate_s"] = time.perf_counter() - t
        self.jg.set("build")
        t = time.perf_counter()
        IndexBuilder(num_shards=cores, block_size=128).build(
            self.docs, self.ix_dir, id_col="doc_id",
            assume_partitioned=True, resume=False,
        )
        self.setup["setup.build_s"] = time.perf_counter() - t
        self.docs.unpersist()

    def _open_searcher(self, warm: bool):
        """-> `Searcher(warm=warm)`, with the `SparkIndex` open timed
        apart from the rest (the executors' warmup)."""
        import lucille_spark.searcher as searcher_mod

        tr = self.tracer
        self.jg.set("open")
        rid = f"open-{int(warm)}"
        with tr.request(rid, True) as req:
            tr.patch(searcher_mod, "SparkIndex", "reader.open")
            try:
                searcher = searcher_mod.Searcher(self.spark, self.ix_dir, warm=warm)
            finally:
                tr.unpatch_all()
        open_s = tr.self_times()[rid]["reader.open"]
        return searcher, open_s, req.dur - open_s

    def _open(self) -> None:
        """A cold `Searcher`, then `embedded(predecode=...)`."""
        self.searcher, self.setup["reader.open_s"], _ = self._open_searcher(warm=False)
        rss0, t = sparkenv.rss_mb(), time.perf_counter()
        self.local = self.searcher.embedded(predecode=PREDECODE[self.workload])
        self.setup["local_serve.open_s"] = time.perf_counter() - t
        self.setup["local_serve.resident_mb"] = sparkenv.rss_mb() - rss0

    def _warm(self) -> None:
        """WARM untimed requests from a pool of its own seed (so it does
        not pre-fill the plan caches with stream entries): every shape's
        first-use compilation before the timed loop."""
        t = time.perf_counter()
        s = self.seed * 1000 + WARM_SALT
        for q in inputs.make_stream(inputs.make_pool(s), s + 500, WARM):
            self.local.search(q.text, k=K)
        self.setup["setup.warm_queries_s"] = time.perf_counter() - t

    def _stream(self) -> List[inputs.Query]:
        s = self.seed * 1000 + STREAM_SALT[self.workload]
        pool = inputs.make_pool(s)
        return inputs.make_stream(pool, s + 500, max(4000, int(4000 * self.seconds)))

    # -------------------------------------------------------- tracing
    def _install_tracing(self) -> None:
        import lucille_spark.eval_local as eval_mod
        import lucille_spark.exec_wand as wand_mod
        import lucille_spark.index.reader as reader_mod
        import lucille_spark.pushdown as pushdown_mod

        tr = self.tracer
        tr.patch(reader_mod, "parse", "parser.parse")
        tr.patch(self.local.ix, "plan", "plans.plan")
        if self.workload == "embedded":
            tr.patch(eval_mod, "evaluate", "eval_local.evaluate")
            tr.patch(eval_mod, "top_k", "eval_local.top_k")
        else:
            # LocalSearcher imports these at each call; the kernel is the
            # closure _make_kernel returns
            tr.patch(pushdown_mod, "file_prune_bounds", "pushdown.bounds")
            tr.replace(wand_mod, "_make_kernel", lambda make: lambda *a, **kw: tr.wrap(
                "exec_wand.kernel", make(*a, **kw)))

    def _timed_search_many(self, orig):
        """Wrapper for the Searcher's executor `search_many`: spans
        around plan construction and around the batch's collect()."""
        tr, run = self.tracer, self

        class TimedFrame:
            def __init__(self, df, size, build_s):
                self.df, self.size, self.build_s = df, size, build_s

            def collect(self):
                t = time.perf_counter()
                with tr.span("exec.collect"):
                    rows = self.df.collect()
                run.batches.append((
                    tr.current_request(), self.size, self.build_s, time.perf_counter() - t
                ))
                return rows

        def search_many(queries, *a, **kw):
            t = time.perf_counter()
            with tr.span("exec.build"):
                df = orig(queries, *a, **kw)
            return TimedFrame(df, len(queries), time.perf_counter() - t)

        return search_many

    # ----------------------------------------------------------- loop
    def _record(self, rid, q, t0, t1, traced, rows) -> None:
        ok = rows is not None
        self.reqs.append(Req(rid, q, t0, t1, traced, ok))
        if ok:
            self.results.setdefault(q.text, []).append(checks.as_rows(rows))

    def _fail(self, q, e) -> None:
        self.exceptions += 1
        if len(self.errors) < 20:
            self.errors.append(f"EXCEPTION seed={self.seed} query={q.text!r}: {e!r}")

    def _loop(self, stream) -> None:
        """No job group per request: the loop runs no Spark job, and
        setting one costs a JVM round trip. The whole loop runs under
        one group, whose counters must read zero."""
        import lucille_spark.exec_wand as wand_mod

        tr, local = self.tracer, self.local
        self.jg.set("loop")
        wand_mod.reset_prune_stats()
        t_loop = time.perf_counter()
        for i, q in enumerate(stream):
            if time.perf_counter() - t_loop >= self.seconds:
                break
            rid = f"q{i}"
            traced = self.trace and _traced(i)
            with tr.request(rid, traced):
                t0 = time.perf_counter()
                try:
                    with tr.span("local_serve.search"):
                        out = local.search(q.text, k=K)
                except Exception as e:  # counted in error_rate
                    self._fail(q, e)
                    out = None
                t1 = time.perf_counter()
            rows = None if out is None else zip(out["doc_id"].tolist(), out["score"].tolist())
            self._record(rid, q, t0, t1, traced, rows)
        self.loop_s = time.perf_counter() - t_loop
        self.prune_stats = wand_mod.get_prune_stats()

    # ---------------------------------------------------- end-to-end
    def _disk_usage(self) -> dict:
        from lucille_spark.index.maintenance import disk_usage

        return disk_usage(self.spark, self.ix_dir)

    def _end_to_end(self, setup_s: float, peak: float, usage: dict) -> dict:
        lat = [(r.end - r.start) * 1e3 for r in self.reqs if r.ok and not r.traced]
        seen, cold = set(), []
        for r in self.reqs:
            if r.query.text not in seen:
                seen.add(r.query.text)
                if r.ok and not r.traced:
                    cold.append((r.end - r.start) * 1e3)
        done = sum(1 for r in self.reqs if r.ok)
        e2e = {
            "setup_s": setup_s,
            "p50_ms": median(lat),
            "qps": done / self.loop_s if self.loop_s > 0 else 0.0,
            "index_bytes_per_doc": usage["total_bytes"] / self.n_docs,
        }
        self.peak_rss_mb, self.cold_p50_ms = peak, median(cold)
        self.tail_pct = _tail_pct(len(lat))
        self.tail_ms = _pct(lat, self.tail_pct)
        beyond = len(lat) * (100 - self.tail_pct) / 100.0
        self.tail_note = f"p{self.tail_pct:g} over {len(lat)} requests ({beyond:.0f} beyond it)"
        self.cold_n = len(cold)
        return e2e

    # ------------------------------------------------- traced extras
    def _traced_extras(self, usage: dict) -> None:
        L = self.layers
        L.update(self.setup)
        L["process.peak_rss_mb"] = self.peak_rss_mb
        L["searcher.cold_p50_ms"] = self.cold_p50_ms
        self._build_layers(usage)
        self._request_layers()
        jobs = self.jg.counts("loop")[0]
        if jobs:
            self.errors.append(f"SPARK the loop ran {jobs} jobs; it should run none")
        self._dict_scan()
        if self.workload == "wand_kernel":
            ps = self.prune_stats
            L["exec_wand.total_blocks"] = ps["total_blocks"]
            L["exec_wand.decoded_block_ratio"] = (
                ps["decoded_blocks"] / ps["total_blocks"] if ps["total_blocks"] else 0.0)
            self.searcher, _, L["searcher.warmup_s"] = self._open_searcher(warm=True)
            self._replay_single()
            self._replay_executors()
            self._replay_batch()
            L["spark.floor_ms"] = L["exec.collect_ms"] - L["exec_wand.kernel_ms"]

    def _build_layers(self, usage: dict) -> None:
        L = self.layers
        with open(os.path.join(self.ix_dir, "manifest.jsonl")) as f:
            for line in f:
                e = json.loads(line)
                if e.get("status") == "done" and e["stage"] in BUILD_STAGES:
                    L[f"builder.{e['stage']}_s"] = float(e["secs"])
        L["builder.docs_per_s"] = self.n_docs / self.setup["setup.build_s"]
        jobs, _stages, tasks = self.jg.counts("build")
        L["spark.build_jobs"], L["spark.build_tasks"] = jobs, tasks
        for c in INDEX_COMPONENTS:
            L[f"index.bytes.{c}"] = usage["components"].get(c, 0)

    def _shaped(self, name: str, pairs: List[tuple]) -> None:
        """`pairs`: [(shape, value)] -> mean overall and per shape (a
        shape with no sample reads 0)."""
        L = self.layers
        L[name] = float(np.mean([v for _, v in pairs])) if pairs else 0.0
        for sh in inputs.SHAPES:
            vs = [v for s, v in pairs if s == sh]
            L[f"{name}.{sh}"] = float(np.mean(vs)) if vs else 0.0

    def _span_layers(self, spans, reqs) -> None:
        """Per-request self time of each layer span, as a mean per
        request so layers add up."""
        st = self.tracer.self_times()
        for name, span, scale in spans:
            self._shaped(name, [(r.query.shape, st[r.rid].get(span, 0.0) * scale) for r in reqs])

    def _request_layers(self) -> None:
        L, tr = self.layers, self.tracer
        traced = [r for r in self.reqs if r.traced and r.ok]
        self._span_layers(REQUEST_SPANS[self.workload], traced)
        st = tr.self_times()
        if self.workload == "embedded":
            own = ("local_serve.search", "eval_local.evaluate", "eval_local.top_k")
            self._shaped("eval_local.eval_us", [
                (r.query.shape, sum(st[r.rid].get(n, 0.0) for n in own) * 1e6)
                for r in traced])
        L["local_serve.parse_plan_share"] = median(
            (st[r.rid].get("parser.parse", 0.0) + st[r.rid].get("plans.plan", 0.0))
            / (r.end - r.start) for r in traced if r.end > r.start)
        L["trace.coverage"] = median(tr.coverage(r.rid, r.start, r.end) for r in traced)
        lat_t = [(r.end - r.start) * 1e3 for r in traced]
        lat_u = [(r.end - r.start) * 1e3 for r in self.reqs if r.ok and not r.traced]
        L["trace.overhead_ms"] = median(lat_t) - median(lat_u)
        self.traced_p50_ms, self.untraced_p50_ms = median(lat_t), median(lat_u)
        self.traced_mean_ms = float(np.mean(lat_t)) if lat_t else 0.0

    def _dict_scan(self) -> None:
        """Dictionary rows scanned / dictionary size over the stream's
        prefix and fuzzy plans, replayed with the reader's counters
        reset; a zero base means the expansion path kept no count."""
        from lucille_spark.index import reader as reader_mod

        qs = {r.query.text for r in self.reqs if r.query.shape in ("prefix", "fuzzy")}
        reader_mod.reset_dict_scan_stats()
        for text in sorted(qs):
            self.searcher.index.plan(text)
        st = reader_mod.dict_scan_stats()
        base = st["total_terms"]
        self.layers["reader.dict_scan_terms"] = base
        self.layers["reader.dict_scan_ratio"] = st["scanned_terms"] / base if base else 0.0

    def _replay(self) -> List[inputs.Query]:
        """The stream's first REPLAY_SPARK requests, which the loop
        also served."""
        return self.stream[:REPLAY_SPARK]

    def _replay_single(self) -> None:
        """The replayed requests one at a time through the Spark
        `Searcher` (shipped defaults, warm=True), each under its own job
        group, with spans around search() and collect()."""
        import lucille_spark.index.reader as reader_mod

        tr, s, L = self.tracer, self.searcher, self.layers
        tr.patch(reader_mod, "parse", "parser.parse")
        tr.patch(s.index, "plan", "plans.plan")
        reqs, counts = [], []
        try:
            for i, q in enumerate(self._replay()):
                rid = f"s{i}"
                self.jg.set(rid)
                with tr.request(rid, True):
                    t0 = time.perf_counter()
                    with tr.span("exec.build"):
                        df = s.search(q.text, k=K)
                    with tr.span("exec.collect"):
                        out = df.collect()
                    t1 = time.perf_counter()
                reqs.append(Req(rid, q, t0, t1, True, True))
                counts.append(self.jg.counts(rid))
                self.results.setdefault(q.text, []).append(
                    checks.as_rows((r["doc_id"], r["score"]) for r in out))
        finally:
            tr.unpatch_all()
        self._span_layers(SPARK_SPANS, reqs)
        L["spark.single_p50_ms"] = median((r.end - r.start) * 1e3 for r in reqs)
        jobs, stages, tasks = np.mean(np.array(counts), axis=0)
        L["spark.jobs_per_query"] = float(jobs)
        L["spark.stages_per_query"] = float(stages)
        L["spark.tasks_per_query"] = float(tasks)

    def _replay_executors(self) -> None:
        """The same requests on a fresh DataFrameExecutor and a fresh
        WandExecutor over the same SparkIndex, interleaved."""
        from lucille_spark.exec_df import DataFrameExecutor
        from lucille_spark.exec_wand import WandExecutor

        ix = self.searcher.index
        exs = {"exec_df": DataFrameExecutor(ix), "exec_wand": WandExecutor(ix)}
        times: Dict[str, List[tuple]] = {k: [] for k in exs}
        for i, q in enumerate(self._replay()):
            for name, ex in exs.items():
                self.jg.set(f"replay-{name}-{i}")
                t = time.perf_counter()
                out = ex.search(q.text, k=K).collect()
                times[name].append((q.shape, (time.perf_counter() - t) * 1e3))
                self.results.setdefault(q.text, []).append(
                    checks.as_rows((r["doc_id"], r["score"]) for r in out))
        for name, ts in times.items():
            self._shaped(f"{name}.search_ms", ts)

    def _replay_batch(self) -> None:
        """The stream's next REPLAY_ROUNDS * BATCH requests through
        `Searcher.submit`, in rounds of BATCH: the BATCH-th submit runs
        the round as one `search_many` job, timed by a wrapper on the
        executor's `search_many`."""
        tr, s = self.tracer, self.searcher
        tr.replace(s.executor, "search_many", self._timed_search_many)
        nxt = len(self.reqs)
        waits, tasks = [], []
        try:
            for rnd in range(REPLAY_ROUNDS):
                rid = f"b{rnd}"
                self.jg.set(rid)
                with tr.request(rid, True):
                    subs = [(q, time.perf_counter(), s.submit(q.text, k=K))
                            for q in self.stream[nxt + rnd * BATCH:nxt + (rnd + 1) * BATCH]]
                    done = [(q, t0, fut.result(120), time.perf_counter())
                            for q, t0, fut in subs]
                _, size, build_s, collect_s = self.batches[-1]
                waits += [(t1 - t0 - build_s - collect_s) * 1e3 for _, t0, _, t1 in done]
                for q, _, rows, _ in done:
                    self.results.setdefault(q.text, []).append(checks.as_rows(rows))
                tasks.append(self.jg.counts(rid)[2])
        finally:
            tr.unpatch_all()
        L = self.layers
        L["searcher.batch_size"] = float(np.mean([b[1] for b in self.batches]))
        L["searcher.batch_ms"] = float(np.mean([(b[2] + b[3]) * 1e3 for b in self.batches]))
        L["searcher.queue_wait_ms"] = median(waits)
        L["spark.tasks_per_batch"] = float(np.mean(tasks))

    # --------------------------------------------------- correctness
    def _correctness(self) -> None:
        """Outside every timed window: index check, then every result
        against the oracle over the same generated docs."""
        self.index_errors = checks.check_built_index(self.spark, self.ix_dir, self.n_docs)
        self.errors.extend(f"INDEX seed={self.seed} {e}" for e in self.index_errors)
        pdf = self.docs.toPandas()
        if self.trace:
            self._analysis_and_codec(pdf)
        oracle = checks.build_oracle(pdf)
        self.mismatches, msgs = checks.check_results(oracle, self.results, self.seed)
        self.errors.extend(msgs)

    def _analysis_and_codec(self, pdf) -> None:
        from lucille_spark import codec
        from lucille_spark.analysis import get_analyzer

        tok = get_analyzer("standard")
        texts = pdf["content"].tolist()
        mb = sum(len(t.encode()) for t in texts) / 1e6
        t = time.perf_counter()
        for text in texts:
            tok(text)
        self.layers["analysis.tokenize_mb_per_s"] = mb / (time.perf_counter() - t)
        flat = (
            self.spark.read.parquet(os.path.join(self.ix_dir, "postings_flat"))
            .select("term", "doc_id").toPandas()
            .sort_values(["term", "doc_id"])
        )
        ids = flat["doc_id"].to_numpy(dtype=np.int64)
        cuts = np.flatnonzero(flat["term"].to_numpy()[1:] != flat["term"].to_numpy()[:-1]) + 1
        gaps = [codec.delta_encode(g) for g in np.split(ids, cuts)]
        t = time.perf_counter()
        bufs = [codec.varbyte_encode(g) for g in gaps]
        enc_s = time.perf_counter() - t
        t = time.perf_counter()
        for b in bufs:
            codec.varbyte_decode(b)
        dec_s = time.perf_counter() - t
        mb = sum(len(b) for b in bufs) / 1e6
        self.layers["codec.encode_mb_per_s"] = mb / enc_s
        self.layers["codec.decode_mb_per_s"] = mb / dec_s

    # -------------------------------------------------------- output
    def _result(self, e2e: dict) -> dict:
        n_req = len(self.reqs)
        failed = self.exceptions + self.mismatches + (1 if self.index_errors else 0)
        attempted = n_req + 1  # every request plus the built-index check
        self.error_rate = failed / attempted
        if self.trace:
            metrics = {
                k: {"value": _num(self.layers.get(k, 0.0)), "unit": u}
                for k, u in PER_LAYER.items()
            }
        else:
            metrics = {
                k: {"value": _num(e2e[k]), "unit": u} for k, u in END_TO_END.items()
            }
        self.e2e = e2e
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }

    def summary_lines(self) -> List[str]:
        """Human-readable log: environment, stream, every metric by
        the name the documentation uses, with its unit."""
        w, e = self.workload, self.e2e
        out = [f"workload {w} seed {self.seed} seconds {self.seconds} trace {int(self.trace)}"]
        out.append("environment " + json.dumps(self.env, sort_keys=True))
        out.append(f"corpus docs {self.n_docs} (fixtures.generate_docs seed={self.seed})")
        props = inputs.stream_properties([r.query for r in self.reqs])
        out.append("stream " + json.dumps(props, sort_keys=True))
        pre = w
        out += [
            f"metric {pre}_p50_ms = {e['p50_ms']:.4f} ms",
            f"metric {pre}_p{self.tail_pct:g}_ms = {self.tail_ms:.4f} ms",
            f"metric {pre}_cold_p50_ms = {self.cold_p50_ms:.4f} ms",
            f"metric {pre}_qps = {e['qps']:.4f} queries/s",
            f"metric setup_s = {e['setup_s']:.4f} s",
            f"metric error_rate = {self.error_rate:.6f} failed/attempted",
            f"metric peak_rss_mb = {self.peak_rss_mb:.1f} MB",
            f"metric index_bytes_per_doc = {e['index_bytes_per_doc']:.2f} bytes",
        ]
        out.append(f"tail {self.tail_note}; cold requests {self.cold_n}")
        for k, v in sorted(self.setup.items()):
            out.append(f"setup {k} = {v:.4f}")
        if self.trace:
            mean = self.traced_mean_ms
            out.append(
                f"trace traced requests p50 {self.traced_p50_ms:.4f} ms mean "
                f"{mean:.4f} ms; untraced p50 {self.untraced_p50_ms:.4f} ms; "
                f"overhead {self.layers['trace.overhead_ms']:.4f} ms; "
                f"coverage {self.layers['trace.coverage']:.4f}"
            )
            for k, u in PER_LAYER.items():
                v = self.layers.get(k, 0.0)
                share = ""
                if mean > 0 and k in SHARE_LAYERS:
                    ms = v / 1e3 if u == "us" else v
                    share = f"  share {100.0 * ms / mean:.1f}% of mean request"
                out.append(f"layer {k} = {_num(v):.6g} {u}{share}")
        out.extend(self.errors)
        return out


def _num(v) -> float:
    v = float(v)
    return v if np.isfinite(v) else 0.0
