"""The benchmark's workloads.  Each is a closed loop with one client: every
call blocks the driver until its result is back, because concurrent jobs
from one driver would share the same ``local[nproc]`` cores.

search_single  one-query ``bm25_topk_wand(...).collect()`` requests against
               a warm IndexReader over an index with no deletes.
ingest         a fixed sequence: ``COMMITS`` commit cycles (``commit_batch``
               of new pages mixed with upserts of existing urls, then one
               query on a fresh reader), ``delete_by_query``, and the
               sampled check queries as one request on a fresh reader.

Both start the same way: the session, then ``SETUPS`` set-ups that each
generate the base corpus and build the base index from it.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import pandas as pd
import pyarrow.dataset as pads
from pyspark.sql import functions as F

from elasticsearch_data_import_handler_spark.functions import varbyte
from elasticsearch_data_import_handler_spark.operators.dedup import dedup_latest
from elasticsearch_data_import_handler_spark.operators.scoring import (
    bm25_topk, query_terms_df)
from elasticsearch_data_import_handler_spark.operators.textsearch import bool_query
from elasticsearch_data_import_handler_spark.operators.wand import bm25_topk_wand
from elasticsearch_data_import_handler_spark.plans.build import (
    IndexReader, build_index, commit_batch, delete_by_query, docs_versioned)
from elasticsearch_data_import_handler_spark.plans.state import BuildLock
from elasticsearch_data_import_handler_spark.sources.corpus import (
    PAGES_SCHEMA, synth_pages_pdf)

from inputs import (TermClasses, doc_len_quantiles, ingest_batches,
                    mix_summary, query_stream)
from tracing import Tracer

N_BASE = 1000          # base corpus pages
TAU = 500              # docs per salt shard: 1000 docs -> 2 shards
N_BUCKETS = 8
SETUPS = 2             # set-ups per run; setup_s reports their median
MIN_REQUESTS = 8       # search_single: requests per pass, at the least
COMMITS = 1            # ingest: commit cycles before the delete
COMMIT_NEW = 100       # per ingest commit: new urls ...
COMMIT_UPSERT = 100    # ... and newer versions of existing urls
CHECK_QUERIES = 16     # ingest: sampled queries checked after the delete
SCORE_TOL = 1e-6
DELETE_SELECT_ID = "dsel"  # request id of the stand-alone delete.select span
PHASES = ("doc_stats", "postings", "footer_count", "df_corrections",
          "stats_lexicon")


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    trace: bool
    session_s: float
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)

    def op_failed(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)
        traceback.print_exc(file=sys.stderr)


@dataclass
class Base:
    pages: pd.DataFrame
    index_dir: str
    n_docs: int
    gen_s: list[float]
    build_s: list[float]
    builds: list[dict]


def _median(xs) -> float:
    return float(statistics.median(xs))


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def set_up(ctx: Ctx) -> Base:
    """Generate the base corpus and build the base index, ``SETUPS`` times
    into fresh directories; the last index is the one the workload uses."""
    gen_s, build_s, builds = [], [], []
    for i in range(SETUPS):
        d = os.path.join(ctx.work, f"base{i}")
        t0 = time.perf_counter()
        pages = synth_pages_pdf(N_BASE, seed=ctx.seed)
        sdf = ctx.spark.createDataFrame(pages, schema=PAGES_SCHEMA)
        t1 = time.perf_counter()
        m = build_index(ctx.spark, sdf, d, tau=TAU, n_buckets=N_BUCKETS)
        t2 = time.perf_counter()
        gen_s.append(t1 - t0)
        build_s.append(t2 - t1)
        builds.append(m)
        if i + 1 < SETUPS:
            shutil.rmtree(d)
    return Base(pages, d, builds[-1]["n_docs"], gen_s, build_s, builds)


def setup_metrics(ctx: Ctx, base: Base) -> dict:
    text_bytes = sum(len(t.encode()) for t in base.pages["text"])
    return {
        "setup_s": ctx.session_s + _median(g + b for g, b in
                                           zip(base.gen_s, base.build_s)),
        "index_bytes_per_input_byte": _dir_bytes(base.index_dir) / text_bytes,
    }


def base_detail(base: Base) -> dict:
    return {
        "build_docs_per_s": _median(base.n_docs / b for b in base.build_s),
        "build_s": base.build_s, "corpus_gen_s": base.gen_s,
        "doc_len_quantiles": doc_len_quantiles(base.pages),
        "s_shards": base.builds[-1]["s_shards"], "n_buckets": N_BUCKETS,
        "n_docs": base.n_docs,
    }


def phase_metrics(results: list[dict]) -> dict:
    """Median per-phase seconds of commit_batch results (its ``timings``)."""
    out = {}
    for p in PHASES:
        out[f"build.{p}_s"] = _median(r["timings"][p] for r in results)
    out["build.other_s"] = _median(
        r["wall_ms"] / 1e3 - sum(r["timings"][p] for p in PHASES)
        for r in results)
    out["build.tombstones"] = _median(r["n_tombstones"] for r in results)
    return out


# --- one request -----------------------------------------------------------

def _timed(ctx: Ctx, what: str, fn) -> tuple[float, object]:
    """Run one client operation: count it, time it, and count it as failed
    if it raises (the loop goes on)."""
    ctx.attempted += 1
    t0 = time.perf_counter()
    try:
        out = fn()
    except Exception:  # noqa: BLE001 - a failed operation is counted
        ctx.op_failed(what)
        out = None
    return (time.perf_counter() - t0) * 1e3, out


def open_reader(ctx: Ctx, tracer: Tracer, index_dir: str) -> IndexReader:
    with tracer.span("reader.open"):
        r = IndexReader(ctx.spark, index_dir)
        r.lexicon()
        r.avgdl_value()
    return r


def wand_topk(ctx: Ctx, tracer: Tracer, reader: IndexReader,
              rows: list[tuple]) -> dict:
    """bm25_topk_wand over the query rows → {query_id: {rank: (doc, score)}}."""
    qterms = query_terms_df(ctx.spark, rows)
    with tracer.span("wand.call"):
        df = bm25_topk_wand(ctx.spark, reader, qterms=qterms)
    with tracer.span("wand.collect"):
        got = df.collect()
    out: dict = {}
    for r in got:
        out.setdefault(r["query_id"], {})[r["rank"]] = (r["doc_id"], r["score"])
    return out


def reference_topk(ctx: Ctx, pages: pd.DataFrame, queries,
                   delete_term: str | None = None) -> dict:
    """operators.scoring.bm25_topk over docs_versioned(dedup_latest(pages)),
    minus the documents delete_by_query removed."""
    sdf = ctx.spark.createDataFrame(pages, schema=PAGES_SCHEMA)
    docs = docs_versioned(dedup_latest(sdf))
    if delete_term is not None:
        docs = docs.filter(~F.array_contains("tokens", delete_term))
    qterms = query_terms_df(ctx.spark, [r for q in queries for r in q.rows()])
    out: dict = {}
    for r in bm25_topk(ctx.spark, docs, qterms=qterms, round_to=None).collect():
        out.setdefault(r["query_id"], {})[r["rank"]] = (r["doc_id"], r["score"])
    return out


def same_topk(got: dict, exp: dict) -> bool:
    """Identical ranks and doc ids, scores within SCORE_TOL."""
    return got.keys() == exp.keys() and all(
        got[k][0] == exp[k][0] and abs(got[k][1] - exp[k][1]) <= SCORE_TOL
        for k in got)


# --- per-layer counters read from the index and the codec ------------------

def postings_meta(index_dir: str, batches: list[int]) -> pd.DataFrame:
    """(term, salt, n_blocks) of every posting row of the given segments."""
    parts = []
    for b in batches:
        path = os.path.join(index_dir, "postings", f"batch={b}")
        if os.path.isdir(path):
            t = pads.dataset(path, format="parquet", partitioning="hive") \
                .to_table(columns=["term", "salt", "block_max_tf"]).to_pandas()
            parts.append(pd.DataFrame({
                "term": t["term"], "salt": t["salt"],
                "n_blocks": t["block_max_tf"].map(len)}))
    return pd.concat(parts, ignore_index=True)


def scan_counts(meta: pd.DataFrame, terms) -> dict:
    """What a query's postings scan hands the WAND scorer: posting rows,
    their blocks, and the (query, salt) groups they form."""
    rows = meta[meta["term"].isin(list(terms))]
    return {"wand.posting_rows_scanned": len(rows),
            "wand.blocks_scanned": int(rows["n_blocks"].sum()),
            "wand.groups_per_request": rows["salt"].nunique()}


def varbyte_rates(index_dir: str, n_rows: int = 256, min_s: float = 0.3) -> dict:
    """MB/s of the functions.varbyte decode and encode kernels over the
    ``n_rows`` largest posting rows of the benchmark's index (the rows with
    the most blocks, where the scorer spends its decode time)."""
    t = pads.dataset(os.path.join(index_dir, "postings"), format="parquet",
                     partitioning="hive").to_table(
        columns=["doc_ids_vb", "tfs_vb", "dls_vb"]).to_pylist()
    blobs = sorted(((r["doc_ids_vb"], r["tfs_vb"], r["dls_vb"]) for r in t),
                   key=lambda b: -sum(map(len, b)))[:n_rows]
    in_bytes = sum(sum(map(len, b)) for b in blobs)
    decoded = [varbyte.decode_posting_list(*b) for b in blobs]

    def rate(fn) -> float:
        reps, t0 = 0, time.perf_counter()
        while True:
            moved = fn()
            reps += 1
            el = time.perf_counter() - t0
            if el >= min_s:
                return moved * reps / el / 1e6

    def dec() -> int:
        for b in blobs:
            varbyte.decode_posting_list(*b)
        return in_bytes

    def enc() -> int:
        out = 0
        for d, tf, dl in decoded:
            e = varbyte.encode_posting_list(d, tf, dl, assume_sorted=True)
            out += len(e["doc_ids_vb"]) + len(e["tfs_vb"]) + len(e["dls_vb"])
        return out

    return {"varbyte.decode_mb_per_s": rate(dec),
            "varbyte.encode_mb_per_s": rate(enc)}


def request_layer_metrics(tracer: Tracer, counts: list[dict]) -> dict:
    """Medians over the traced one-query requests."""
    reqs = [s for s in tracer.spans if s["name"] == "request"]
    out = {
        "wand.call_ms": _median(tracer.self_ms("wand.call")),
        "wand.collect_ms": _median(tracer.self_ms("wand.collect")),
        "reader.open_ms": _median(tracer.self_ms("reader.open")),
        "wand.jobs_per_request": _median(s["jobs"] for s in reqs),
        "wand.stages_per_request": _median(s["stages"] for s in reqs),
        "wand.tasks_per_request": _median(s["tasks"] for s in reqs),
    }
    for key in ("wand.posting_rows_scanned", "wand.blocks_scanned",
                "wand.groups_per_request"):
        out[key] = _median(c[key] for c in counts)
    return out


def overhead_pct(before: list[float], traced: list[float], after: list[float],
                 skip: int) -> float:
    """Tracing overhead in percent: the traced replay's total latency over
    the mean of the untraced passes before and after it, on the same
    operations.  Averaging both sides cancels a warm-up trend; the first
    ``skip`` operations, which warm the JVM and Python workers, are left
    out."""
    untraced = (sum(before[skip:]) + sum(after[skip:])) / 2
    return (sum(traced[skip:]) / untraced - 1.0) * 100.0


def delete_select_s(ctx: Ctx, tracer: Tracer, index_dir: str, term: str) -> float:
    """The victim selection delete_by_query runs, timed on its own."""
    reader = IndexReader(ctx.spark, index_dir)
    with tracer.request(DELETE_SELECT_ID, "delete.select") as rec:
        bool_query(ctx.spark, reader, must=[term]).select("doc_id").collect()
    return rec["end"] - rec["start"]


# --- search_single ---------------------------------------------------------

@dataclass
class SearchPass:
    latency_ms: list[float] = field(default_factory=list)
    results: list[dict] = field(default_factory=list)


def search_pass(ctx: Ctx, tracer: Tracer, reader: IndexReader,
                queries: list, n: int | None) -> SearchPass:
    """Send one-query requests until ``ctx.seconds`` pass and at least
    MIN_REQUESTS were sent (or exactly ``n``, to replay an earlier pass)."""
    p = SearchPass()
    t_end = time.perf_counter() + ctx.seconds
    i = 0
    while (i < n) if n is not None else (i < MIN_REQUESTS
                                          or time.perf_counter() < t_end):
        if i == len(queries):
            queries.append(next(queries.stream))
        q = queries[i]

        def request():
            with tracer.request(f"q{i}"):
                return wand_topk(ctx, tracer, reader, q.rows()).get(q.qid, {})

        ms, got = _timed(ctx, f"request {i}", request)
        p.latency_ms.append(ms)
        p.results.append(got)
        i += 1
    return p


class QueryList(list):
    """Queries drawn so far from a seeded stream; a replay reuses them."""

    def __init__(self, stream):
        super().__init__()
        self.stream = stream


def run_search_single(ctx: Ctx) -> tuple[dict, dict, dict]:
    base = set_up(ctx)
    classes = TermClasses.of(base.pages)
    reader = IndexReader(ctx.spark, base.index_dir)
    queries = QueryList(query_stream(classes, ctx.seed))
    passes = [search_pass(ctx, Tracer(), reader, queries, None)]
    tracer = Tracer(ctx.spark)
    if ctx.trace:
        n = len(passes[0].latency_ms)
        passes += [search_pass(ctx, tracer, reader, queries, n),
                   search_pass(ctx, Tracer(), reader, queries, n)]

    exp = reference_topk(ctx, base.pages, queries)
    for p in passes:
        for i, got in enumerate(p.results):
            if got is not None and not same_topk(got, exp.get(queries[i].qid, {})):
                ctx.op_failed(f"request {i}: top-k differs from bm25_topk")

    # the first request also pays the cold start of the query path; it is
    # reported on its own and left out of the median
    lat = passes[0].latency_ms
    e2e = {**setup_metrics(ctx, base), "op_ms": _median(lat[1:])}
    detail = {
        "search_p50_ms": _median(lat[1:]), "search_n": len(lat) - 1,
        "search_ms": lat, "first_request_ms": lat[0],
        "search_qps_all": len(lat) / (sum(lat) / 1e3),
        "query_mix": mix_summary(queries), **base_detail(base),
    }
    layer = {}
    if ctx.trace:
        meta = postings_meta(base.index_dir, [0])
        counts = [scan_counts(meta, queries[i].terms)
                  for i in range(len(passes[1].latency_ms))]
        for _ in range(3):
            open_reader(ctx, tracer, base.index_dir)
        layer = {
            **phase_metrics(base.builds),
            "build.posting_rows": base.builds[-1]["n_posting_rows"],
            "build.postings_bytes": IndexReader(
                ctx.spark, base.index_dir).stats()["postings_bytes"],
            **request_layer_metrics(tracer, counts),
            "delete.select_s": delete_select_s(
                ctx, tracer, base.index_dir, classes.delete_term(ctx.seed)),
            **varbyte_rates(base.index_dir),
            "trace.overhead_pct": overhead_pct(
                lat, passes[1].latency_ms, passes[2].latency_ms, 1),
        }
    return e2e, layer, {"detail": detail, "tracer": tracer, "base": base}


# --- ingest ----------------------------------------------------------------

@dataclass
class IngestPass:
    commit_ms: list[float] = field(default_factory=list)
    commit_docs: list[int] = field(default_factory=list)
    commits: list[dict] = field(default_factory=list)
    visible_ms: list[float] = field(default_factory=list)
    visible: list[tuple] = field(default_factory=list)  # (query, committed)
    delete_ms: float = 0.0
    n_tombstones: int = 0
    checked_ms: float = 0.0
    checked: dict | None = None
    index_dir: str = ""

    def op_ms(self) -> list[float]:
        """Every operation's latency, in the order they were sent."""
        cycles = [x for cv in zip(self.commit_ms, self.visible_ms) for x in cv]
        return cycles + [self.delete_ms, self.checked_ms]


def ingest_pass(ctx: Ctx, tracer: Tracer, base: Base, batches: list,
                queries: list, checks: list, delete_term: str,
                index_dir: str) -> IngestPass:
    """``COMMITS`` commit cycles (a commit, then one query on a fresh
    reader), then delete_by_query, then the sampled check queries as one
    request on a fresh reader."""
    shutil.copytree(base.index_dir, index_dir)
    p = IngestPass(index_dir=index_dir)

    def commit(c: int, sdf):
        with tracer.request(f"commit{c}", "commit"), BuildLock(index_dir):
            return commit_batch(ctx.spark, sdf, index_dir, batch_id=c + 1,
                                tau=TAU, n_buckets=N_BUCKETS)

    def query(rid: str, rows: list, name: str = "request"):
        with tracer.request(rid, name):
            r = open_reader(ctx, tracer, index_dir)
            return r.state.committed_batches, wand_topk(ctx, tracer, r, rows)

    def delete():
        with tracer.request("delete", "delete_by_query"):
            return delete_by_query(ctx.spark, index_dir, must=[delete_term])

    for c in range(COMMITS):
        sdf = ctx.spark.createDataFrame(batches[c], schema=PAGES_SCHEMA)
        ms, m = _timed(ctx, f"commit {c}", lambda: commit(c, sdf))
        p.commit_ms.append(ms)
        if m is not None:
            p.commits.append(m)
            p.commit_docs.append(len(batches[c]))
        ms, out = _timed(ctx, f"query after commit {c}",
                         lambda: query(f"v{c}", queries[c].rows()))
        p.visible_ms.append(ms)
        if out is not None:
            p.visible.append((queries[c], list(out[0])))
    p.delete_ms, d = _timed(ctx, "delete_by_query", delete)
    p.n_tombstones = d["n_tombstones"] if d else 0
    p.checked_ms, out = _timed(ctx, "check request after the delete", lambda: query(
        "vdel", [r for q in checks for r in q.rows()], "check_request"))
    p.checked = out[1] if out else None
    return p


def check_ingest(ctx: Ctx, p: IngestPass, base: Base, batches: list,
                 checks: list, delete_term: str, exp_cache: dict) -> None:
    """The sampled queries sent after the delete, against bm25_topk over
    the active documents: every committed page's latest version, minus the
    deleted ones."""
    n = len(p.commits)
    if n not in exp_cache:
        pages = pd.concat([base.pages] + batches[:n], ignore_index=True)
        exp_cache[n] = reference_topk(ctx, pages, checks, delete_term)
    exp = exp_cache[n]
    ctx.attempted += len(checks)
    for q in checks:
        if p.checked is None or not same_topk(p.checked.get(q.qid, {}),
                                               exp.get(q.qid, {})):
            ctx.op_failed(f"ingest check query {q.qid}: top-k differs")


def run_ingest(ctx: Ctx) -> tuple[dict, dict, dict]:
    base = set_up(ctx)
    classes = TermClasses.of(base.pages)
    batches = ingest_batches(base.pages, COMMITS, COMMIT_NEW,
                             COMMIT_UPSERT, ctx.seed)
    stream = query_stream(classes, ctx.seed)
    queries = [next(stream) for _ in range(COMMITS)]
    checks_stream = query_stream(classes, ctx.seed, first_qid=500_000)
    checks = [next(checks_stream) for _ in range(CHECK_QUERIES)]
    delete_term = classes.delete_term(ctx.seed)

    tracer = Tracer(ctx.spark)
    passes = [ingest_pass(ctx, tr, base, batches, queries, checks, delete_term,
                          os.path.join(ctx.work, f"ingest{i}"))
              for i, tr in enumerate([Tracer()] + [tracer, Tracer()] * ctx.trace)]
    exp_cache: dict = {}
    for p in passes:
        check_ingest(ctx, p, base, batches, checks, delete_term, exp_cache)

    p0 = passes[0]
    e2e = {**setup_metrics(ctx, base), "op_ms": sum(p0.op_ms())}
    detail = {
        "commits": COMMITS, "commit_ms": p0.commit_ms,
        "commit_docs_per_s": sum(p0.commit_docs) / (sum(p0.commit_ms) / 1e3),
        "delete_s": p0.delete_ms / 1e3, "n_tombstones_deleted": p0.n_tombstones,
        "upsert_tombstones": [c["n_tombstones"] for c in p0.commits],
        "visible_query_ms": p0.visible_ms,
        "check_request_ms": p0.checked_ms, "delete_term": delete_term,
        "query_mix": mix_summary(queries + checks), **base_detail(base),
    }
    layer = {}
    if ctx.trace:
        p1 = passes[1]
        counts = [scan_counts(postings_meta(p1.index_dir, committed), q.terms)
                  for q, committed in p1.visible]
        reader = IndexReader(ctx.spark, p1.index_dir)
        layer = {
            **phase_metrics(p1.commits),
            "build.posting_rows": _median(c["n_posting_rows"] for c in p1.commits),
            "build.postings_bytes": reader.stats()["postings_bytes"],
            **request_layer_metrics(tracer, counts),
            "delete.select_s": delete_select_s(ctx, tracer, base.index_dir,
                                               delete_term),
            **varbyte_rates(base.index_dir),
            "trace.overhead_pct": overhead_pct(
                p0.op_ms(), p1.op_ms(), passes[2].op_ms(), 2),
        }
    return e2e, layer, {"detail": detail, "tracer": tracer, "base": base}


WORKLOADS = {"search_single": run_search_single, "ingest": run_ingest}
