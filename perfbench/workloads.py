"""The two workloads, their output checks and their layer probes.

Timed end-to-end operations call only the engine's public entry
points: ``build_index``, ``SearchEngine.query``, ``cluster.query_sharded``,
``update_index``, ``delete_docs`` and ``compact_index``. Entry points
that a later change may delete (``build_sharded_segments``,
``shards_fresh``, ``search.wand``, ``SearchEngine.search(strategy=)``,
``DENSE_POSTINGS_CUTOFF``) are looked up at run time; when one is gone,
its step is skipped and its layer metric omitted.
"""

from __future__ import annotations

import contextlib
import importlib
import io
import os
import random
import re
import shutil
import statistics
import time
import traceback
from collections import defaultdict

import harness
import inputs

N_DOCS = 10_000  # base corpus of every workload
BATCH_DOCS = 500  # docs per refresh round
PROBE_DOCS = 400  # traced query runs: batch of the write probe
DELETES = 5  # urls tombstoned by the refresh round
BURST = 100  # driver bodies after the refresh round (and after compaction)
SHARDED_BURST = 2  # sharded bodies after each burst
DRIVER_SHARE = 0.7  # share of the query window on the driver engine
FINDABLE_CANDIDATES = 20  # written docs sampled for the freshness query
ORACLE_CHECKS = 1  # rank-identity checks against the DataFrame oracle
PROBE_EVERY = 8  # traced runs: layer probes on every 8th driver body
SCORE_TOL = 1e-9


def optional(module: str, name: str):
    """``module.name`` if the engine still has it, else None."""
    try:
        return getattr(importlib.import_module(module), name)
    except (ImportError, AttributeError):
        return None


def sanitize(label: str) -> str:
    return re.sub(r"[^a-z0-9]+", "_", label.lower()).strip("_")


class Run:
    """State of one benchmark run: counters, samples, spans, results."""

    def __init__(self, spark, work: str, seed: int, seconds: int, trace: bool):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.rng = random.Random(seed)
        self.spans = harness.Spans(trace)
        self.jobs = harness.JobCounter(spark)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.probe_errors: list[str] = []
        self.lat: dict[str, list[float]] = defaultdict(list)  # op -> seconds
        self.op_jobs: dict[str, list[int]] = defaultdict(list)  # op -> jobs
        self.cpu: dict[str, list[float]] = defaultdict(list)  # op -> CPU s
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.deleted_urls: set[str] = set()
        self.corpus = os.path.join(work, "corpus")
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        self.proc = harness.ProcSampler(int(jvm_pid))
        self.proc_stats: dict = {}

    # --- ops and checks -------------------------------------------------

    def call(self, op: str, fn, *args, jobs: bool = True, cpu=harness.tree_cpu_s, **kw):
        """One attempted operation: returns (result or None, seconds).
        A raise counts as a failed op and is reported, not re-raised.
        ``cpu`` reads the CPU seconds the op is charged with."""
        self.attempted += 1
        group = self.jobs.group(op) if jobs else contextlib.nullcontext({})
        with self.spans.span(op), group as box:
            c0 = cpu()
            t0 = time.perf_counter()
            try:
                res = fn(*args, **kw)
            except Exception:  # boundary: the run must go on and report
                res = None
                self._fail(op, traceback.format_exc(limit=3))
            dt = time.perf_counter() - t0
            dc = cpu() - c0
        if jobs:
            self.op_jobs[op].append(box["jobs"])
        if res is not None:
            self.lat[op].append(dt)
            self.cpu[op].append(dc)
        return res, dt

    def _fail(self, op: str, why: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(f"{op}: {why.strip()[-400:]}")

    def probe(self, fn, *args) -> None:
        """A traced-run layer probe. It is not one of the workload's
        ops: a probe that raises (say, the layer's API changed) loses
        its samples and is reported in the detail line, not counted."""
        try:
            fn(self, *args)
        except Exception:  # boundary: report and keep the run going
            if len(self.probe_errors) < 5:
                self.probe_errors.append(traceback.format_exc(limit=3).strip()[-400:])

    def check(self, op: str, ok: bool, why: str) -> bool:
        """A wrong result marks its op failed."""
        if not ok:
            self._fail(op, why)
        return ok

    def check_no_deleted(self, op: str, resp) -> None:
        if resp is None or not self.deleted_urls:
            return
        bad = [h["_id"] for h in resp["hits"]["hits"] if h["_id"] in self.deleted_urls]
        self.check(op, not bad, f"tombstoned urls in hits: {bad[:3]}")


def same_hits(a: dict, b: dict) -> str | None:
    """None when two ES responses carry the same total and page (ids in
    order, scores within SCORE_TOL); else what differs."""
    if a["hits"]["total"]["value"] != b["hits"]["total"]["value"]:
        return f"total {a['hits']['total']} != {b['hits']['total']}"
    ha, hb = a["hits"]["hits"], b["hits"]["hits"]
    ids_a, ids_b = [h["_id"] for h in ha], [h["_id"] for h in hb]
    if ids_a != ids_b:
        return f"ids {ids_a[:3]}... != {ids_b[:3]}..."
    for x, y in zip(ha, hb):
        if abs(float(x["_score"]) - float(y["_score"])) > SCORE_TOL:
            return f"score {x['_score']} != {y['_score']} for {x['_id']}"
    return None


# --- shared steps -------------------------------------------------------


def engine(index_dir: str):
    from job_searchengine_project_spark.search.engine import SearchEngine

    return SearchEngine(index_dir)


def build(run: Run, pages, out_dir: str, n_docs: int) -> tuple[float, float]:
    """Timed ``build_index``; returns its (wall, CPU) seconds. Traced
    runs also record the stage split from the engine's profile ticks."""
    from job_searchengine_project_spark.index.build import build_index

    ticks = io.StringIO()
    if run.trace:
        os.environ["JSE_BUILD_PROFILE"] = "1"
    try:
        with contextlib.redirect_stdout(ticks):
            res, dt = run.call("build", build_index, run.spark, pages, out_dir)
    finally:
        os.environ.pop("JSE_BUILD_PROFILE", None)
    if res is None:
        return dt, 0.0
    run.check("build", res.n_docs == n_docs, f"built {res.n_docs} of {n_docs} docs")
    seg = harness.dir_bytes(os.path.join(out_dir, "segments"))
    run.lat["bytes_per_posting"].append(seg / max(res.total_postings, 1))
    if run.trace:
        for line in ticks.getvalue().splitlines():
            m = re.match(r"\[build\] (.+): ([0-9.]+)s$", line)
            if m:
                run.lat[f"build.stage.{sanitize(m.group(1))}_s"].append(float(m.group(2)))
        run.lat["build.segment_bytes"].append(seg)
        for part in ("forward", "stored"):
            run.lat[f"build.{part}_bytes"].append(
                harness.dir_bytes(os.path.join(out_dir, part))
            )
        run.lat["build.n_terms"].append(res.n_terms)
        run.lat["build.total_postings"].append(res.total_postings)
    return dt, run.cpu["build"][-1]


def make_current(run: Run, index_dir: str) -> None:
    """Whatever the current API needs before a sharded query sees the
    index's latest state (today: derive the doc-range shards)."""
    derive = optional("job_searchengine_project_spark.index.sharded", "build_sharded_segments")
    if derive is None:
        return
    fresh = optional("job_searchengine_project_spark.index.sharded", "shards_fresh")
    if fresh is not None and fresh(index_dir):
        return
    run.call("derive", derive, run.spark, index_dir)


def sharded(run: Run, index_dir: str, body: dict, eng=None):
    """Timed ``query_sharded``, then the check that its hits equal the
    driver engine's."""
    from job_searchengine_project_spark.search.cluster import query_sharded

    resp, _ = run.call("sharded", query_sharded, run.spark, index_dir, body)
    check_sharded(run, index_dir, body, resp, eng)
    return resp


def check_sharded(run: Run, index_dir: str, body: dict, resp, eng=None) -> None:
    if resp is None:
        return
    want = (eng or engine(index_dir)).query(body)
    diff = same_hits(resp, want)
    run.check("sharded", diff is None, f"sharded != driver for {body}: {diff}")
    run.check_no_deleted("sharded", resp)


def sharded_slice(bodies: list) -> list:
    """The match bodies: a sharded bool body costs ~13 Spark jobs, so
    the sharded slice keeps to the fused match path."""
    return [b for b in bodies if "match" in b["query"]]


def driver_queries(run: Run, eng, bodies, deadline: float | None = None) -> None:
    """Closed loop, one client: each body after the previous answers.
    Traced runs alternate traced and untraced bodies (the tracing
    overhead) and probe the layers on every PROBE_EVERY-th body."""
    t0 = time.perf_counter()
    done = 0
    for i, body in enumerate(bodies):
        if deadline is not None and time.perf_counter() >= deadline:
            break
        traced = run.trace and i % 2 == 1
        if run.trace and not traced:
            run.spans.enabled = False
        t_call = time.perf_counter()
        try:
            resp, _ = run.call("query", eng.query, body, jobs=traced, cpu=time.process_time)
        finally:
            run.spans.enabled = run.trace
        if run.trace:  # the whole call: span and job-group costs included
            key = "query.traced" if traced else "query.untraced"
            run.lat[key].append(time.perf_counter() - t_call)
        if resp is not None:
            done += 1
            run.check(
                "query",
                len(resp["hits"]["hits"]) <= body.get("size", 10),
                "page longer than size",
            )
            run.check_no_deleted("query", resp)
        if run.trace and i % PROBE_EVERY == 0 and "match" in body["query"]:
            run.probe(probe_engine, eng, body)
    run.lat["query_qps"].append(done / max(time.perf_counter() - t0, 1e-9))


def oracle_checks(run: Run, index_dir: str, bodies) -> None:
    """Rank identity of ``SearchEngine.search`` against the DataFrame
    BM25 oracle, scores within SCORE_TOL, ties broken by doc_id."""
    from job_searchengine_project_spark.search.bm25 import bm25_topk_oracle

    eng = engine(index_dir)
    fwd = run.spark.read.parquet(os.path.join(index_dir, "forward"))
    n_eff = eng.n_docs - int(eng.stats.get("n_purged", 0))
    plain = [b for b in bodies if "match" in b["query"] and "from" not in b]
    for body in plain[:ORACLE_CHECKS]:
        terms = inputs.analyzed_terms(body)
        hits, _ = run.call("oracle", eng.search, terms, k=10, with_urls=False)
        if hits is None:
            continue
        t0 = time.perf_counter()
        want = bm25_topk_oracle(fwd, terms, k=10, n_docs=n_eff, avgdl=eng.avgdl).collect()
        run.lat["check.oracle_s"].append(time.perf_counter() - t0)
        got = [(h.doc_id, h.score) for h in hits]
        exp = [(int(r["doc_id"]), float(r["score"])) for r in want]
        ok = [d for d, _ in got] == [d for d, _ in exp] and all(
            abs(s - e) <= SCORE_TOL for (_, s), (_, e) in zip(got, exp)
        )
        run.check("oracle", ok, f"engine {got[:3]} != oracle {exp[:3]} for {terms}")


# --- layer probes (traced runs only) ------------------------------------


def probe_engine(run: Run, eng, body: dict) -> None:
    """Per-layer timings of one plain match body, taken by calling the
    layers the engine composes on the same terms, after the op."""
    from job_searchengine_project_spark.index import codec

    terms = inputs.analyzed_terms(body)
    with run.spans.span("probe.engine"):
        t0 = time.perf_counter()
        segs = eng.load_segments(terms)
        run.lat["engine.load_segments_ms"].append(1e3 * (time.perf_counter() - t0))
        run.lat["engine.segment_rows_read"].append(segment_rows(eng.index_dir, terms))
        t0 = time.perf_counter()
        arrays = {t: codec.decode_postings(e) for t, e in segs.items()}
        run.lat["codec.decode_ms"].append(1e3 * (time.perf_counter() - t0))
        run.lat["codec.postings_decoded"].append(sum(len(d) for d, _ in arrays.values()))
        t0 = time.perf_counter()
        hits = eng.search(terms, k=10, with_urls=False)
        run.lat["engine.search_ms"].append(1e3 * (time.perf_counter() - t0))
        cutoff = getattr(eng, "DENSE_POSTINGS_CUTOFF", None)
        dense = cutoff is not None and sum(e.count for e in segs.values()) > cutoff
        if cutoff is not None:
            run.lat["engine.dense_share"].append(float(dense))
        probe_kernels(run, eng, segs, arrays)
        if not dense:
            # SearchEngine.count raises on a dense body at the seed
            # (the exhaustive kernel's argpartition with k=0)
            t0 = time.perf_counter()
            eng.count(body)
            run.lat["engine.total_ms"].append(1e3 * (time.perf_counter() - t0))
        t0 = time.perf_counter()
        eng.fields_of_many([h.doc_id for h in hits])
        run.lat["engine.source_ms"].append(1e3 * (time.perf_counter() - t0))


def probe_kernels(run: Run, eng, segs: dict, arrays: dict) -> None:
    from job_searchengine_project_spark import BM25_B, BM25_K1
    from job_searchengine_project_spark.search.bm25 import idf

    n_eff = eng.n_docs - int(eng.stats.get("n_purged", 0))
    deleted = eng.tombstones
    exhaustive = optional("job_searchengine_project_spark.search.engine", "exhaustive_topk_arrays")
    if exhaustive is not None and arrays:
        t0 = time.perf_counter()
        exhaustive(
            arrays, idf_of=lambda t: float(idf(n_eff, segs[t].count)),
            dl_of=lambda d: eng.doclens[d], avgdl=eng.avgdl, k=10,
            k1=BM25_K1, b=BM25_B, deleted=deleted,
        )
        run.lat["engine.exhaustive_ms"].append(1e3 * (time.perf_counter() - t0))
    wand_topk = optional("job_searchengine_project_spark.search.wand", "wand_topk")
    cursor = optional("job_searchengine_project_spark.search.wand", "TermCursor")
    if wand_topk is not None and cursor is not None and segs:
        t0 = time.perf_counter()
        cursors = [cursor(term=t, enc=e, idf=float(idf(n_eff, e.count))) for t, e in segs.items()]
        wand_topk(cursors, eng.doclens, eng.avgdl, 10, k1=BM25_K1, b=BM25_B, deleted=deleted)
        run.lat["wand.topk_ms"].append(1e3 * (time.perf_counter() - t0))


def segment_rows(index_dir: str, terms: list[str]) -> int:
    """Segment rows (term generations) a pushdown read of ``terms``
    returns."""
    import pyarrow.dataset as pads

    ds = pads.dataset(os.path.join(index_dir, "segments"), partitioning="hive")
    return ds.count_rows(filter=pads.field("term").isin(terms))


def probe_inputs(run: Run, pages) -> None:
    """Tokenize and prepare, each called on its own, off the window."""
    from job_searchengine_project_spark.functions.tokenize import term_freqs_arrow_morph
    from job_searchengine_project_spark.index.prepare import prepare_docs

    batch = inputs.arrow_text_sample(run.corpus, 2_000)
    rates = []
    for _ in range(3):
        with run.spans.span("probe.tokenize"):
            t0 = time.perf_counter()
            n_tok = sum(
                int(sum(b.column("doclen").to_pylist())) for b in term_freqs_arrow_morph(iter([batch]))
            )
            rates.append(n_tok / (time.perf_counter() - t0))
    run.layer["tokenize.tokens_per_s"] = statistics.median(rates)
    out = os.path.join(run.work, "prepared")
    with run.spans.span("probe.prepare"), run.jobs.group("prepare"):
        t0 = time.perf_counter()
        prepare_docs(pages).write.mode("overwrite").parquet(out)
        run.layer["prepare.docs_s"] = time.perf_counter() - t0
    run.layer["prepare.rows_out"] = run.spark.read.parquet(out).count()
    shutil.rmtree(out, ignore_errors=True)


def files_state(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def bytes_written(before: dict, after: dict) -> int:
    return sum(sz for p, (sz, mt) in after.items() if before.get(p) != (sz, mt))


def update_round(run: Run, index_dir: str, batch, batch_docs: list) -> tuple[float, float]:
    """``update_index`` of one batch; returns its (wall, CPU) seconds."""
    from job_searchengine_project_spark.index.update import update_index

    before = files_state(index_dir) if run.trace else None
    res, dt = run.call("update", update_index, run.spark, batch, index_dir)
    if res is None:
        return dt, 0.0
    run.check("update", res.get("added_docs") == len(batch_docs), f"update result {res}")
    run.lat["update.docs_per_s"].append(len(batch_docs) / dt)
    if run.trace:
        run.lat["update.bytes_written"].append(bytes_written(before, files_state(index_dir)))
    return dt, run.cpu["update"][-1]


def delete_some(run: Run, index_dir: str, pool: list) -> None:
    from job_searchengine_project_spark.index.tombstone import delete_docs

    live = [u for u, _ in pool if u not in run.deleted_urls]
    urls = run.rng.sample(live, DELETES)
    res, _ = run.call("delete", delete_docs, run.spark, index_dir, urls)
    if res is not None:
        run.deleted_urls.update(urls)


def compact(run: Run, index_dir: str) -> None:
    from job_searchengine_project_spark.index.compact import compact_index

    before = files_state(index_dir) if run.trace else None
    run.call("compact", compact_index, run.spark, index_dir)
    if run.trace:
        run.lat["compact.bytes_rewritten"].append(bytes_written(before, files_state(index_dir)))


def write_probe(run: Run, index_dir: str, docs: list) -> None:
    """Traced query runs: one small update, delete and compaction, so
    every workload reports the write-path layers."""
    batch = inputs.doc_range(run.spark, run.corpus, N_DOCS, N_DOCS + PROBE_DOCS)
    update_round(run, index_dir, batch, docs[N_DOCS:])
    delete_some(run, index_dir, docs[:N_DOCS])
    compact(run, index_dir)


# --- set-up shared by all workloads -------------------------------------


def setup_corpus(run: Run, n_docs: int) -> list:
    """Generate the seeded corpus; returns every doc's (url, text)."""
    t0 = time.perf_counter()
    with run.spans.span("setup.corpus"):
        inputs.write_corpus(run.spark, run.corpus, n_docs, run.seed)
        docs = inputs.read_texts(run.corpus)
    run.lat["setup.corpus_s"].append(time.perf_counter() - t0)
    return docs


def vocab_bodies(run: Run, docs: list, n: int) -> tuple[inputs.Vocab, list]:
    vocab = inputs.Vocab([t for _, t in docs[:4_000]])
    return vocab, inputs.query_bodies(vocab, n, run.rng)


def ready(run: Run, index_dir: str, vocab: inputs.Vocab, docs: list) -> tuple[float, float]:
    """Make the sharded layout current and query it for one of ``docs``
    (just written); returns (wall, CPU) seconds until it answered. The
    answer must hold that doc."""
    from job_searchengine_project_spark.search.cluster import query_sharded

    url, body = vocab.findable_body(run.rng.sample(docs, FINDABLE_CANDIDATES))
    c0, t0 = harness.tree_cpu_s(), time.perf_counter()
    make_current(run, index_dir)
    resp, _ = run.call("sharded", query_sharded, run.spark, index_dir, body)
    took = time.perf_counter() - t0, harness.tree_cpu_s() - c0
    check_sharded(run, index_dir, body, resp)
    if resp is not None:
        urls = [h["_id"] for h in resp["hits"]["hits"]]
        run.check("sharded", url in urls, f"new doc {url} not findable")
    return took


def write_ready(run: Run, write: tuple[float, float], rdy: tuple[float, float]) -> None:
    """Record one write and its way to the sharded path: ``write`` and
    ``rdy`` are the (wall, CPU) seconds of the write call and of
    ``ready`` after it."""
    run.lat["shard_ready"].append(rdy[0])
    run.cpu["shard_ready"].append(rdy[1])
    run.lat["refresh"].append(write[0] + rdy[0])
    run.cpu["refresh"].append(write[1] + rdy[1])


def base_build(run: Run, vocab: inputs.Vocab, docs: list, index_dir: str) -> None:
    """Cold ``build_index`` of the base corpus, then the first sharded
    query."""
    pages = inputs.doc_range(run.spark, run.corpus, 0, N_DOCS)
    write = build(run, pages, index_dir, N_DOCS)
    write_ready(run, write, ready(run, index_dir, vocab, docs[:N_DOCS]))


def start_window(run: Run, t_setup0: float) -> None:
    run.lat["setup"].append(time.perf_counter() - t_setup0)
    run.cpu["setup"].append(harness.tree_cpu_s())
    run.proc.restart()


# --- workloads -----------------------------------------------------------


def w_query(run: Run, t_setup0: float) -> None:
    """Cold build of the base corpus and its first sharded query, then a
    warm closed loop of distinct ES bodies: the driver engine for
    DRIVER_SHARE of ``--seconds``, a sharded slice through
    ``query_sharded`` for the rest."""
    docs = setup_corpus(run, N_DOCS + (PROBE_DOCS if run.trace else 0))
    vocab, bodies = vocab_bodies(run, docs, 3_000)
    start_window(run, t_setup0)
    index_dir = os.path.join(run.work, "index")
    base_build(run, vocab, docs, index_dir)
    eng = engine(index_dir)
    t0 = time.perf_counter()
    driver_queries(run, eng, bodies[:2_000], deadline=t0 + DRIVER_SHARE * run.seconds)
    deadline = t0 + run.seconds
    for body in sharded_slice(bodies[2_000:]):
        if time.perf_counter() >= deadline:
            break
        sharded(run, index_dir, body, eng)
    finish(run, index_dir, bodies, docs)


def w_refresh(run: Run, t_setup0: float) -> None:
    """Cold build of the base corpus, then one freshness round: update,
    make the sharded path current and find a doc of the batch there,
    delete older docs, and a query burst over the two generations.
    Traced runs then compact and query once more. Non-positional (see
    README: positional compaction)."""
    docs = setup_corpus(run, N_DOCS + BATCH_DOCS)
    vocab, bodies = vocab_bodies(run, docs, 1_000)
    start_window(run, t_setup0)
    index_dir = os.path.join(run.work, "index")
    base_build(run, vocab, docs, index_dir)
    # this workload's write-to-searchable sample is the update's
    for samples in (run.lat, run.cpu):
        samples["shard_ready"].clear()
        samples["refresh"].clear()
    sbodies = sharded_slice(bodies[2 * BURST :])

    def burst(i: int) -> None:
        eng = engine(index_dir)
        driver_queries(run, eng, bodies[i * BURST : (i + 1) * BURST])
        for body in sbodies[i * SHARDED_BURST : (i + 1) * SHARDED_BURST]:
            sharded(run, index_dir, body, eng)

    batch_docs = docs[N_DOCS:]
    batch = inputs.doc_range(run.spark, run.corpus, N_DOCS, N_DOCS + BATCH_DOCS)
    write = update_round(run, index_dir, batch, batch_docs)
    write_ready(run, write, ready(run, index_dir, vocab, batch_docs))
    oracle_checks(run, index_dir, bodies[-20:])  # off-window: two generations
    delete_some(run, index_dir, docs[:N_DOCS])
    burst(0)
    if run.trace:
        # compaction rewrites the whole segment table: too slow for the
        # untraced run's time budget, so it is a traced-run layer only
        compact(run, index_dir)
        make_current(run, index_dir)
        burst(1)
    finish(run, index_dir, bodies, docs, wrote=True)


def finish(run: Run, index_dir: str, bodies, docs, wrote: bool = False) -> None:
    """Close the window, run the off-window checks and probes, and
    reduce the samples to the reported metrics."""
    run.proc_stats = run.proc.read()
    if not wrote:
        oracle_checks(run, index_dir, bodies[-20:])
    if run.trace:
        run.probe(probe_inputs, inputs.doc_range(run.spark, run.corpus, 0, N_DOCS))
        if not wrote:
            write_probe(run, index_dir, docs)
    med = statistics.median
    lat, cpu = run.lat, run.cpu
    q_cpu_ms = [1e3 * x for x in cpu["query"]]
    run.e2e = {
        "setup_s": cpu["setup"][0],
        "build_docs_per_cpu_s": N_DOCS / med(cpu["build"]),
        "index_bytes_per_posting": med(lat["bytes_per_posting"]),
        "shard_ready_cpu_s": med(cpu["shard_ready"]),
        "refresh_cpu_s": med(cpu["refresh"]),
        "query_cpu_p50_ms": med(q_cpu_ms),
        "query_cpu_p90_ms": harness.pctl(q_cpu_ms, 90),
        "sharded_cpu_p50_s": med(cpu["sharded"]),
    }
    if run.trace:
        layer_metrics(run, run.proc_stats)


def layer_metrics(run: Run, proc: dict) -> None:
    med = statistics.median
    lat, jobs = run.lat, run.op_jobs
    L = run.layer
    for name, vals in lat.items():
        if name.startswith(("build.", "engine.", "codec.", "wand.", "update.", "compact.")):
            L[name] = med(vals)
    q_ms = [1e3 * x for x in lat["query"]]
    L["wall.setup_s"] = lat["setup"][0]
    L["wall.build_docs_per_s"] = N_DOCS / med(lat["build"])
    L["wall.shard_ready_s"] = med(lat["shard_ready"])
    L["wall.refresh_s"] = med(lat["refresh"])
    L["wall.query_p50_ms"] = med(q_ms)
    L["wall.query_p90_ms"] = harness.pctl(q_ms, 90)
    L["wall.query_qps"] = med(lat["query_qps"])
    L["build.total_s"] = med(lat["build"])
    L["build.cpu_s"] = med(run.cpu["build"])
    L["build.spark_jobs"] = med(jobs["build"])
    if lat.get("derive"):
        L["sharded.derive_s"] = med(lat["derive"])
    L["cluster.query_ms"] = 1e3 * med(lat["sharded"])
    L["cluster.cpu_s_per_query"] = med(run.cpu["sharded"])
    L["cluster.spark_jobs_per_query"] = med(jobs["sharded"])
    L["engine.query_cpu_ms"] = 1e3 * med(run.cpu["query"])
    L["engine.query_spark_jobs"] = med(jobs["query"])
    L["update.s"] = med(lat["update"])
    L["update.cpu_s"] = med(run.cpu["update"])
    L["update.spark_jobs"] = med(jobs["update"])
    L["tombstone.delete_ms"] = 1e3 * med(lat["delete"])
    L["compact.s"] = med(lat["compact"])
    L["proc.steal_pct"] = proc["steal_pct"]
    L["proc.driver_rss_mb"] = proc["driver_rss_mb"]
    L["proc.jvm_rss_mb"] = proc["jvm_rss_mb"]
    if lat.get("engine.dense_share"):
        L["engine.dense_share"] = statistics.fmean(lat["engine.dense_share"])
    on, off = med(lat["query.traced"]), med(lat["query.untraced"])
    L["trace.overhead_pct"] = 100.0 * (on - off) / off


WORKLOADS = {"query": w_query, "refresh": w_refresh}


def detail(run: Run) -> dict:
    """Context printed next to every result: sample counts, tail
    percentiles, per-op Spark job counts, steal, first errors."""
    return {
        "samples": {k: harness.summary(v) for k, v in sorted(run.lat.items())},
        "cpu": {k: harness.summary(v) for k, v in sorted(run.cpu.items())},
        "spark_jobs_per_op": {k: harness.summary(v) for k, v in sorted(run.op_jobs.items())},
        "proc": run.proc_stats,
        "error_rate": run.failed / max(run.attempted, 1),
        "errors": run.errors,
        "probe_errors": run.probe_errors,
    }

