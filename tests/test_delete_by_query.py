"""delete_by_query: tombstone-commit semantics — after a delete, every
statistic (df, n_docs, avgdl) and every query result must equal an index
built WITHOUT the victims, and compaction must physically reclaim them."""

import shutil

import pytest
from pyspark.sql import functions as F

from elasticsearch_data_import_handler_spark.operators.textsearch import bool_query
from elasticsearch_data_import_handler_spark.operators.wand import bm25_topk_wand
from elasticsearch_data_import_handler_spark.plans.build import (
    IndexReader,
    build_index,
    compact_index,
    delete_by_query,
)
from elasticsearch_data_import_handler_spark.plans.state import read_lineage, read_state
from elasticsearch_data_import_handler_spark.sources.corpus import synth_pages


@pytest.fixture(scope="module")
def deleted_and_clean(spark, tmp_path_factory):
    """One index deleted-by-query, one built from the surviving pages."""
    del_dir = str(tmp_path_factory.mktemp("dbq"))
    clean_dir = str(tmp_path_factory.mktemp("dbq_clean"))
    pages = synth_pages(spark, 300, seed=42)
    build_index(spark, pages, del_dir, tau=100, n_buckets=4)

    reader = IndexReader(spark, del_dir)
    victims = {r["doc_id"] for r in
               bool_query(spark, reader, must=[["merge", "batch"]]).collect()}
    assert victims
    res = delete_by_query(spark, del_dir, must=[["merge", "batch"]])
    assert res["n_tombstones"] == len(victims)

    # the reference index: never contained the victims at all.  Keep the
    # SAME shard/stats layout by building from the same pages minus victims
    from elasticsearch_data_import_handler_spark.operators.dedup import (
        dedup_latest)
    from elasticsearch_data_import_handler_spark.plans.build import (
        docs_versioned)

    keep_urls = (docs_versioned(dedup_latest(pages))
                 .filter(~F.col("doc_id").isin(list(victims)))
                 .select("url"))
    build_index(spark, pages.join(keep_urls, "url"), clean_dir,
                tau=100, n_buckets=4)
    yield del_dir, clean_dir, victims
    shutil.rmtree(del_dir, ignore_errors=True)
    shutil.rmtree(clean_dir, ignore_errors=True)


def _topk(spark, d):
    return {(r["query_id"], r["rank"]): (r["doc_id"], round(r["score"], 6))
            for r in bm25_topk_wand(spark, IndexReader(spark, d)).collect()}


@pytest.mark.parametrize("k_mult", [1, 2])
def test_wand_candidates_carry_input_k(spark, deleted_and_clean, k_mult):
    """candidates=True returns (query_id, doc_id, score, k) with k taken
    from the scorer's input rows, on the plain path (clean index) and the
    tombstone-cogrouped path (deleted index) alike."""
    from elasticsearch_data_import_handler_spark.operators.scoring import (
        query_terms_df)

    del_dir, clean_dir, _ = deleted_and_clean
    qt = query_terms_df(spark)
    qt = qt.withColumn("k", (F.col("k") * k_mult).cast("int"))
    want = {r["query_id"]: r["k"] for r in qt.select("query_id", "k").collect()}
    for d, tombstoned in ((clean_dir, False), (del_dir, True)):
        reader = IndexReader(spark, d)
        assert (reader.tombstones_df() is not None) == tombstoned
        cand = bm25_topk_wand(spark, reader, qterms=qt, candidates=True)
        assert cand.columns == ["query_id", "doc_id", "score", "k"]
        rows = cand.collect()
        assert rows
        for r in rows:
            assert r["k"] == want[r["query_id"]], (d, r)


def test_delete_matches_clean_rebuild(spark, deleted_and_clean):
    del_dir, clean_dir, victims = deleted_and_clean
    got = _topk(spark, del_dir)
    want = _topk(spark, clean_dir)
    assert got == want  # ranks AND scores: df/n_docs/avgdl all corrected
    assert not any(doc in victims for doc, _ in got.values())


def test_delete_updates_stats_and_lineage(spark, deleted_and_clean):
    del_dir, clean_dir, _ = deleted_and_clean
    a = IndexReader(spark, del_dir).corpus_stats().first()
    b = IndexReader(spark, clean_dir).corpus_stats().first()
    assert (a["n_docs"], a["sum_dl"]) == (b["n_docs"], b["sum_dl"])
    st = read_state(del_dir)
    assert len(st.committed_batches) == 2  # build + delete batch
    assert "delete" in set(read_lineage(del_dir)["status"])
    # idempotent re-delete: nothing left to match, no new batch
    res = delete_by_query(spark, del_dir, must=[["merge", "batch"]])
    assert res["n_tombstones"] == 0 and res["batch_id"] is None
    assert len(read_state(del_dir).committed_batches) == 2


def test_reader_stats_surface(spark, deleted_and_clean):
    """ES _stats analog: totals reconcile with the gated readers, and the
    delete batch shows up as a segment with its tombstones counted."""
    del_dir, clean_dir, victims = deleted_and_clean
    st = IndexReader(spark, del_dir).stats()
    cs = IndexReader(spark, del_dir).corpus_stats().first()
    assert st["n_docs"] == cs["n_docs"]
    assert st["sum_doc_len"] == cs["sum_dl"]
    assert st["n_segments"] == len(st["committed_batches"]) == 2
    assert st["n_tombstones"] == len(victims)
    assert st["n_posting_rows"] > 0 and st["postings_bytes"] > 0
    assert st["n_position_rows"] == 0 and not st["has_positions"]


def test_compaction_reclaims_deleted(spark, deleted_and_clean):
    del_dir, clean_dir, victims = deleted_and_clean
    compact_index(spark, del_dir)
    reader = IndexReader(spark, del_dir)
    assert reader.tombstones_df() is None  # physically gone
    got = _topk(spark, del_dir)
    assert got == _topk(spark, clean_dir)


def _upsert_newer(spark, d):
    """An upsert commit (batch 1) whose batch tombstones older versions:
    every version of a fifth of the base urls, re-imported one day newer.
    Returns (run, n_tombstones, n_docs after the commit)."""
    from elasticsearch_data_import_handler_spark.plans.build import commit_batch
    from elasticsearch_data_import_handler_spark.plans.state import BuildLock

    newer = (synth_pages(spark, 200, seed=42)
             .filter(F.pmod(F.xxhash64("url"), F.lit(5)) == 0)
             .withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 DAY")))

    def run():
        with BuildLock(d):
            res = commit_batch(spark, newer, d, 1, tau=100, n_buckets=4)
        return res["n_tombstones"], res["batch_id"]

    n_docs = IndexReader(spark, d).corpus_stats().first()["n_docs"]
    return run, newer.select("url").distinct().count(), n_docs


def _delete_merge(spark, d):
    """delete_by_query on a term: returns (run, n_tombstones, n_docs after)."""
    def run():
        res = delete_by_query(spark, d, must=["merge"])
        return res["n_tombstones"], res["batch_id"]

    reader = IndexReader(spark, d)
    n_victims = bool_query(spark, reader, must=["merge"]).count()
    return run, n_victims, reader.corpus_stats().first()["n_docs"] - n_victims


@pytest.mark.parametrize("phase", ["_df_corrections_df", "_write_lexicon_gen"])
@pytest.mark.parametrize("op", ["delete_by_query", "commit_batch"])
def test_delete_crash_before_state_flip_is_invisible_then_retryable(
        spark, tmp_path_factory, monkeypatch, op, phase):
    """Kill a tombstoning commit (a delete, or an upsert commit) inside the
    shared commit tail — after its tombstones are written, before the state
    flip: readers (gated on committed state) must see NOTHING changed; the
    retry reuses the same batch id and lands exactly once."""
    import elasticsearch_data_import_handler_spark.plans.build as B

    d = str(tmp_path_factory.mktemp("dbq_crash"))
    build_index(spark, synth_pages(spark, 200, seed=42), d, tau=100,
                n_buckets=4)
    before = _topk(spark, d)
    prepare = _delete_merge if op == "delete_by_query" else _upsert_newer
    run, n_tombs, n_docs_after = prepare(spark, d)
    assert n_tombs > 0

    def boom(*a, **k):
        raise RuntimeError("injected crash")

    monkeypatch.setattr(B, phase, boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        run()
    monkeypatch.undo()

    # uncommitted tombstones are invisible: same state, same results
    st = read_state(d)
    assert st.committed_batches == [0]
    assert _topk(spark, d) == before
    assert IndexReader(spark, d).tombstones_df() is None

    # retry: same batch id, overwrite-idempotent artifacts, lands once
    assert run() == (n_tombs, 1)
    assert read_state(d).committed_batches == [0, 1]
    assert (read_lineage(d)["batch_id"] == 1).sum() == 1
    reader = IndexReader(spark, d)
    assert reader.corpus_stats().first()["n_docs"] == n_docs_after
    assert reader.tombstones_df().count() == n_tombs
    assert _topk(spark, d) != before
    shutil.rmtree(d, ignore_errors=True)
