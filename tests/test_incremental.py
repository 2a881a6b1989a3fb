"""M3: incremental snapshot indexing — two-batch build ≡ full rebuild,
resume skips committed batches, upserts tombstone old versions (SURVEY §5.2.5)."""

import shutil

import pytest
from pyspark.sql import functions as F

from elasticsearch_data_import_handler_spark.operators.wand import bm25_topk_wand
from elasticsearch_data_import_handler_spark.plans.build import (
    IndexReader,
    build_incremental,
    build_index,
    compact_index,
)
from elasticsearch_data_import_handler_spark.plans.state import read_lineage, read_state
from elasticsearch_data_import_handler_spark.sources.corpus import synth_pages

N_ROWS = 300
TAU = 100


def _topk(spark, index_dir):
    reader = IndexReader(spark, index_dir)
    return {(r["query_id"], r["rank"]): (r["doc_id"], round(r["score"], 9))
            for r in bm25_topk_wand(spark, reader).collect()}


@pytest.fixture(scope="module")
def full_and_incr(spark, tmp_path_factory):
    """Build the same corpus once fully and once as 2 batches."""
    full_dir = str(tmp_path_factory.mktemp("full"))
    incr_dir = str(tmp_path_factory.mktemp("incr"))
    pages = synth_pages(spark, N_ROWS, seed=42)
    build_index(spark, pages, full_dir, tau=TAU, n_buckets=4)
    b0 = synth_pages(spark, N_ROWS, seed=42, batches=2, batch=0)
    b1 = synth_pages(spark, N_ROWS, seed=42, batches=2, batch=1)
    # force the same shard count as the full build (computed from batch-0 size
    # it would halve; identical sharding isn't required for correctness but
    # keeps group sizes comparable)
    build_incremental(spark, [b0, b1], incr_dir, tau=TAU, n_buckets=4)
    yield full_dir, incr_dir
    shutil.rmtree(full_dir, ignore_errors=True)
    shutil.rmtree(incr_dir, ignore_errors=True)


def test_incremental_equals_full_rebuild(spark, full_and_incr):
    full_dir, incr_dir = full_and_incr
    full = _topk(spark, full_dir)
    incr = _topk(spark, incr_dir)
    assert set(full) == set(incr)
    for key in full:
        fd, fs = full[key]
        ed, es = incr[key]
        assert fd == ed, f"{key}: doc {ed} != {fd}"
        assert abs(fs - es) <= 1e-6, f"{key}: score {es} != {fs}"


def test_lexicon_driver_path_matches_distributed(spark, tmp_path, monkeypatch):
    """The per-commit lexicon generation has a data-sized dispatch: footer
    row counts below _LEXICON_DRIVER_MAX_ROWS → driver-side pyarrow group-sum
    (kills one Spark job of O(1) commit constant), above → distributed
    groupBy.  Both paths must produce the identical (term, df) table,
    including tombstone-driven df corrections."""
    from elasticsearch_data_import_handler_spark.plans import build as B

    def _lex(d):
        gen = B._latest_lexicon_gen(d, read_state(d).committed_batches)
        return {(r["term"], r["df"]) for r in
                spark.read.parquet(B._lexicon_gen_dir(d, gen)).collect()}

    b0 = synth_pages(spark, 200, seed=7, batches=2, batch=0)
    b1 = synth_pages(spark, 200, seed=7, batches=2, batch=1)

    drv_dir = str(tmp_path / "drv")
    build_incremental(spark, [b0, b1], drv_dir, tau=TAU, n_buckets=4)
    drv = _lex(drv_dir)

    monkeypatch.setattr(B, "_LEXICON_DRIVER_MAX_ROWS", 0)
    dist_dir = str(tmp_path / "dist")
    build_incremental(spark, [b0, b1], dist_dir, tau=TAU, n_buckets=4)
    dist = _lex(dist_dir)

    assert drv == dist and len(drv) > 0
    shutil.rmtree(drv_dir, ignore_errors=True)
    shutil.rmtree(dist_dir, ignore_errors=True)


def test_upserts_created_tombstones(spark, full_and_incr):
    """synth corpus re-emits 2% of urls with later warc_ts; when original and
    revision land in different batches the old version must be tombstoned."""
    _, incr_dir = full_and_incr
    reader = IndexReader(spark, incr_dir)
    # dup rows are appended at index >= N_ROWS, so i%2 differs from the
    # original for odd originals → cross-batch upserts exist
    assert reader.tombstones_df().count() > 0


def test_resume_skips_committed(spark, full_and_incr):
    _, incr_dir = full_and_incr
    b0 = synth_pages(spark, N_ROWS, seed=42, batches=2, batch=0)
    b1 = synth_pages(spark, N_ROWS, seed=42, batches=2, batch=1)
    before = _topk(spark, incr_dir)
    out = build_incremental(spark, [b0, b1], incr_dir, tau=TAU, n_buckets=4)
    assert all(r.get("skipped") for r in out)
    assert _topk(spark, incr_dir) == before  # idempotent re-run
    lin = read_lineage(incr_dir)
    assert set(lin["batch_id"]) == {0, 1}
    assert len(lin) == 2  # no duplicate lineage rows from the re-run


def test_resume_after_partial_commit(spark, tmp_path_factory):
    """Crash between batches: only batch 0 committed → re-run indexes batch 1
    only, and the result equals the uninterrupted 2-batch build."""
    d = str(tmp_path_factory.mktemp("partial"))
    b0 = synth_pages(spark, N_ROWS, seed=42, batches=2, batch=0)
    b1 = synth_pages(spark, N_ROWS, seed=42, batches=2, batch=1)
    build_incremental(spark, [b0], d, tau=TAU, n_buckets=4)  # "crash" after b0
    st = read_state(d)
    assert st.committed_batches == [0]
    out = build_incremental(spark, [b0, b1], d, tau=TAU, n_buckets=4)
    assert out[0].get("skipped") and not out[1].get("skipped")
    full_dir = str(tmp_path_factory.mktemp("full2"))
    build_index(spark, synth_pages(spark, N_ROWS, seed=42), full_dir,
                tau=TAU, n_buckets=4)
    got, exp = _topk(spark, d), _topk(spark, full_dir)
    assert set(got) == set(exp)
    for key in exp:
        assert got[key][0] == exp[key][0]
        assert abs(got[key][1] - exp[key][1]) <= 1e-6
    shutil.rmtree(d, ignore_errors=True)
    shutil.rmtree(full_dir, ignore_errors=True)


def test_compaction_preserves_results(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("compact"))
    b0 = synth_pages(spark, N_ROWS, seed=42, batches=2, batch=0)
    b1 = synth_pages(spark, N_ROWS, seed=42, batches=2, batch=1)
    build_incremental(spark, [b0, b1], d, tau=TAU, n_buckets=4)
    before = _topk(spark, d)
    reader = IndexReader(spark, d)
    assert reader.tombstones_df().count() > 0
    compact_index(spark, d)
    reader2 = IndexReader(spark, d)
    assert reader2.state.committed_batches == [2]  # new generation id
    assert reader2.tombstones_df() is None
    after = _topk(spark, d)
    assert set(before) == set(after)
    for key in before:
        assert before[key][0] == after[key][0]
        assert abs(before[key][1] - after[key][1]) <= 1e-6
    shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------------------
# Round-2 regression tests (ADVICE.md): multi-version upserts, crash-idempotent
# stats, uncommitted-artifact gating, crash-safe compaction, analyzer settings.

def _pages_df(spark, rows):
    """rows: list of (url, ts_str, text)."""
    import pandas as pd
    from elasticsearch_data_import_handler_spark.sources.corpus import PAGES_SCHEMA

    pdf = pd.DataFrame(
        [(u, pd.Timestamp(ts), f"<html><body>{t}</body></html>".encode(), t, "en")
         for u, ts, t in rows],
        columns=["url", "warc_ts", "html", "text", "lang"])
    return spark.createDataFrame(pdf, schema=PAGES_SCHEMA)


def test_three_version_upsert_and_reimport(spark, tmp_path_factory):
    """ADVICE high: a url updated across 3 batches (then re-imported) must
    keep exactly one active version, exact df (no double decrements — the
    old bug drove df to 0 and emptied the lexicon), and exact corpus stats."""
    from elasticsearch_data_import_handler_spark.plans.build import commit_batch

    d = str(tmp_path_factory.mktemp("threever"))
    u = "https://ex.com/a"
    commit_batch(spark, _pages_df(spark, [(u, "2026-01-01", "alpha beta"),
                                          ("https://ex.com/b", "2026-01-01", "beta gamma")]),
                 d, 0, tau=100, n_buckets=2)
    commit_batch(spark, _pages_df(spark, [(u, "2026-01-02", "alpha beta v2")]),
                 d, 1, tau=100, n_buckets=2)
    commit_batch(spark, _pages_df(spark, [(u, "2026-01-03", "alpha delta v3")]),
                 d, 2, tau=100, n_buckets=2)
    # re-import of the already-current version: must be a no-op
    m = commit_batch(spark, _pages_df(spark, [(u, "2026-01-03", "alpha delta v3")]),
                     d, 3, tau=100, n_buckets=2)
    assert m["n_docs"] == 0 and m["n_tombstones"] == 0
    reader = IndexReader(spark, d)
    tomb = reader.tombstones_df()
    active = reader.doc_stats().join(tomb, "doc_id", "left_anti") if tomb is not None \
        else reader.doc_stats()
    per_url = {r["url"]: r["n"] for r in
               active.groupBy("url").count().withColumnRenamed("count", "n").collect()}
    assert per_url == {u: 1, "https://ex.com/b": 1}
    lex = {r["term"]: r["df"] for r in reader.lexicon().collect()}
    # active docs: "alpha delta v3" and "beta gamma"
    assert lex.get("alpha") == 1 and lex.get("delta") == 1
    assert lex.get("beta") == 1 and lex.get("gamma") == 1
    assert "v2" not in lex  # tombstoned version's unique term fully removed
    cs = reader.corpus_stats().first()
    assert cs["n_docs"] == 2
    shutil.rmtree(d, ignore_errors=True)


def test_cstats_retry_idempotent_and_uncommitted_gated(spark, tmp_path_factory):
    """ADVICE medium ×2: (a) a delta file left by a crashed batch attempt is
    overwritten on retry and never double-applied; (b) artifacts from
    uncommitted batches (cstats deltas, df_corrections) are invisible."""
    from elasticsearch_data_import_handler_spark.plans.build import (
        _write_cstats_delta, _read_cstats, commit_batch)

    d = str(tmp_path_factory.mktemp("retry"))
    commit_batch(spark, _pages_df(spark, [("u1", "2026-01-01", "one two")]),
                 d, 0, tau=100, n_buckets=2)
    # simulate a crashed batch-1 attempt: delta written, state NOT advanced
    _write_cstats_delta(d, 1, 999, 999_999)
    st = read_state(d)
    assert st.committed_batches == [0]
    assert _read_cstats(d, st.committed_batches) == (1, 2)  # gated: garbage invisible
    # retry of batch 1 overwrites the garbage delta; totals stay exact
    commit_batch(spark, _pages_df(spark, [("u2", "2026-01-01", "three four five")]),
                 d, 1, tau=100, n_buckets=2)
    reader = IndexReader(spark, d)
    cs = reader.corpus_stats().first()
    assert (cs["n_docs"], cs["sum_dl"]) == (2, 5)
    # stray df_corrections from a crashed/renumbered batch: must not affect df
    import os
    import pandas as pd
    os.makedirs(f"{d}/df_corrections/batch=99", exist_ok=True)
    pd.DataFrame({"term": ["one"], "delta": [-100]}).to_parquet(
        f"{d}/df_corrections/batch=99/part-0.parquet")
    lex = {r["term"]: r["df"] for r in IndexReader(spark, d).lexicon().collect()}
    assert lex["one"] == 1
    shutil.rmtree(d, ignore_errors=True)


def test_kill_during_compaction_recovers(spark, tmp_path_factory):
    """ADVICE low: garbage new-generation dirs from a compaction that died
    before its state flip must be invisible, and a re-run must succeed."""
    import os
    d = str(tmp_path_factory.mktemp("killcompact"))
    b0 = synth_pages(spark, 100, seed=42, batches=2, batch=0)
    b1 = synth_pages(spark, 100, seed=42, batches=2, batch=1)
    build_incremental(spark, [b0, b1], d, tau=100, n_buckets=4)
    before = _topk(spark, d)
    # simulate the crash: partial new-generation dirs exist, state unchanged
    os.makedirs(f"{d}/postings/batch=2/bucket=0", exist_ok=True)
    with open(f"{d}/postings/batch=2/bucket=0/part-0.parquet", "wb") as f:
        f.write(b"not a parquet file")
    os.makedirs(f"{d}/doc_stats/batch=2", exist_ok=True)
    assert _topk(spark, d) == before  # uncommitted garbage invisible
    compact_index(spark, d)  # retry overwrites the partial generation
    assert _topk(spark, d) == before
    assert read_state(d).committed_batches == [2]
    shutil.rmtree(d, ignore_errors=True)


def test_compaction_takes_build_lock(spark, tmp_path_factory):
    """Compaction is a mutator like any commit: while another writer holds
    the index's BuildLock it must refuse to run (A7 abort) and leave the
    committed state untouched, instead of racing that writer for the next
    batch id and flipping the state over its batch."""
    from elasticsearch_data_import_handler_spark.plans.state import BuildLock

    d = str(tmp_path_factory.mktemp("compactlock"))
    b0 = synth_pages(spark, 60, seed=42, batches=2, batch=0)
    b1 = synth_pages(spark, 60, seed=42, batches=2, batch=1)
    build_incremental(spark, [b0, b1], d, tau=100, n_buckets=4)
    before = read_state(d).committed_batches
    with BuildLock(d):
        with pytest.raises(RuntimeError, match="locked"):
            compact_index(spark, d)
        assert read_state(d).committed_batches == before
    shutil.rmtree(d, ignore_errors=True)


def test_analyzer_settings_surface(spark, tmp_path_factory):
    """A8: per-index analyzer config (stopwords here) persists in state and
    changes the indexed terms; a conflicting override on a later batch fails."""
    import pytest as _pytest
    from elasticsearch_data_import_handler_spark.plans.build import commit_batch

    d = str(tmp_path_factory.mktemp("analyzer"))
    an = {"stopwords": ["the", "of"]}
    commit_batch(spark, _pages_df(spark, [("u1", "2026-01-01", "the king of spain")]),
                 d, 0, tau=100, n_buckets=2, analyzer=an)
    reader = IndexReader(spark, d)
    lex = {r["term"] for r in reader.lexicon().collect()}
    assert lex == {"king", "spain"}
    assert read_state(d).analyzer["stopwords"] == ["the", "of"]
    assert reader.doc_stats().first()["doc_len"] == 2  # stopwords excluded from dl
    # later batch: persisted analyzer reused implicitly
    commit_batch(spark, _pages_df(spark, [("u2", "2026-01-01", "the queen")]),
                 d, 1, tau=100, n_buckets=2)
    lex2 = {r["term"] for r in IndexReader(spark, d).lexicon().collect()}
    assert lex2 == {"king", "spain", "queen"}
    with _pytest.raises(ValueError, match="one analysis chain"):
        commit_batch(spark, _pages_df(spark, [("u3", "2026-01-01", "x")]),
                     d, 2, tau=100, n_buckets=2, analyzer={"stopwords": ["a"]})
    shutil.rmtree(d, ignore_errors=True)


def test_cstats_fold_bounds_file_reads(tmp_path_factory):
    """100 commits' corpus-stats deltas fold into cumulative checkpoints
    every _CSTATS_FOLD_EVERY commits: totals stay exact, the directory holds
    ≤ fold-window + 1 files, and a checkpoint written for a batch set that
    never got committed (crash before the state flip) is ignored."""
    import glob as _glob

    from elasticsearch_data_import_handler_spark.plans.build import (
        _CSTATS_FOLD_EVERY, _maybe_fold_cstats, _read_cstats,
        _write_cstats_ckpt, _write_cstats_delta)

    d = str(tmp_path_factory.mktemp("cstatsfold"))
    committed = []
    exp_n = exp_s = 0
    for b in range(100):
        _write_cstats_delta(d, b, b + 1, 10 * (b + 1))
        committed.append(b)
        _maybe_fold_cstats(d, committed)
        exp_n += b + 1
        exp_s += 10 * (b + 1)
    assert _read_cstats(d, committed) == (exp_n, exp_s)
    files = _glob.glob(f"{d}/corpus_stats/*.parquet")
    # one checkpoint + at most (fold window) uncovered deltas
    assert len(files) <= _CSTATS_FOLD_EVERY + 1, sorted(files)

    # crash-window property: a ckpt covering a batch that is NOT committed
    # must not be applied (its deltas were never folded away)
    _write_cstats_ckpt(d, committed + [999], 10**9, 10**9)
    assert _read_cstats(d, committed) == (exp_n, exp_s)


def test_commit_after_compaction_mixes_layouts(spark, tmp_path_factory):
    """A compacted generation and the commits after it share one doc_stats
    layout: compaction writes its active docs as the __t=d partition (no
    flat files), later upserts write __t=d plus __t=t tombstones.  Readers
    span the compacted and the new batch, and upserts against a compacted
    index must still tombstone."""
    import glob
    import os

    d = str(tmp_path_factory.mktemp("mixlayout"))
    b0 = synth_pages(spark, 120, seed=42, batches=2, batch=0)
    b1 = synth_pages(spark, 120, seed=42, batches=2, batch=1)
    build_incremental(spark, [b0, b1], d, tau=100, n_buckets=4)
    compact_index(spark, d)
    full = synth_pages(spark, 120, seed=42)   # re-import: newer versions win
    from elasticsearch_data_import_handler_spark.plans.build import commit_batch
    from elasticsearch_data_import_handler_spark.plans.state import BuildLock
    st = read_state(d)
    cb = max(st.committed_batches)
    assert os.path.isdir(f"{d}/doc_stats/batch={cb}/__t=d")
    assert glob.glob(f"{d}/doc_stats/batch={cb}/*.parquet") == []
    nb = cb + 1
    bump = full.withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 DAY"))
    with BuildLock(d):
        commit_batch(spark, bump.limit(40), d, nb, tau=100, n_buckets=4)
    reader = IndexReader(spark, d)
    assert os.path.isdir(f"{d}/doc_stats/batch={nb}/__t=d")
    assert reader.tombstones_df() is not None       # upsert tombstoned
    # doc_stats spans both batches; active doc count is unchanged
    tomb = reader.tombstones_df()
    active = reader.doc_stats().join(tomb, "doc_id", "left_anti")
    assert active.count() == 120
    assert len(_topk(spark, d)) > 0                 # index still queryable
    shutil.rmtree(d, ignore_errors=True)
