"""Seeded benchmark inputs: base corpus, ingest batches, query mix.

Everything here is a pure function of the seed, so two runs with the same
seed send the engine byte-identical inputs.
"""

from __future__ import annotations

import random
from collections import Counter
from dataclasses import dataclass
from functools import cached_property

import numpy as np
import pandas as pd

from elasticsearch_data_import_handler_spark.functions.textanalysis import tokenize
from elasticsearch_data_import_handler_spark.sources.corpus import synth_pages_pdf

# The query mix: one cycle of query shapes (term count, with a stopword of
# df > 50% -- many blocks, so block-max pruning matters --, with a rare term
# of df <= 0.5%, no hits, k).  Every run sends the shapes in this order and
# the seed picks the terms, so runs with different seeds send the same mix.
SHAPES = (
    (1, False, False, False, 10),
    (2, True, False, False, 10),
    (3, False, True, False, 100),
    (2, False, False, True, 10),
    (4, True, True, False, 1),
    (1, False, True, False, 10),
    (3, True, False, False, 100),
    (2, False, False, False, 1),
    (4, False, False, False, 10),
    (1, True, False, False, 10),
)


@dataclass(frozen=True)
class Query:
    qid: int
    terms: tuple[str, ...]
    k: int
    has_stopword: bool
    has_rare: bool
    nohit: bool

    def rows(self) -> list[tuple[int, str, int]]:
        return [(self.qid, t, self.k) for t in self.terms]


def latest_versions(pages: pd.DataFrame) -> pd.DataFrame:
    """One row per url, the latest warc_ts winning (the engine's dedup rule
    for the corpora generated here, which never tie on warc_ts)."""
    return pages.sort_values("warc_ts", kind="stable").drop_duplicates(
        "url", keep="last")


@dataclass
class TermClasses:
    """Vocabulary of the base corpus split by document frequency."""
    n_docs: int
    df: dict[str, int]

    @classmethod
    def of(cls, pages: pd.DataFrame) -> "TermClasses":
        latest = latest_versions(pages)
        df: Counter = Counter()
        for text in latest["text"]:
            df.update(set(tokenize(text)))
        return cls(n_docs=len(latest), df=dict(df))

    def _with_df(self, lo: float, hi: float) -> list[str]:
        return sorted(t for t, c in self.df.items() if lo < c <= hi)

    @property
    def rare_max(self) -> int:
        return max(2, int(0.005 * self.n_docs))

    @cached_property
    def stop(self) -> list[str]:
        return self._with_df(self.n_docs / 2, self.n_docs)

    @cached_property
    def mid(self) -> list[str]:
        return self._with_df(self.rare_max, self.n_docs / 2)

    @cached_property
    def rare(self) -> list[str]:
        return self._with_df(0, self.rare_max)

    def delete_term(self, seed: int) -> str:
        """A term held by 1-3% of the base docs: delete_by_query on it
        tombstones a few dozen documents."""
        cands = self._with_df(0.01 * self.n_docs, 0.03 * self.n_docs)
        return random.Random(seed * 31 + 5).choice(cands)


def query_stream(classes: TermClasses, seed: int, first_qid: int = 0):
    """Endless seeded stream of queries cycling through SHAPES."""
    rng = random.Random(seed * 1_000_003 + first_qid)
    qid = first_qid
    while True:
        n, stop, rare, nohit, k = SHAPES[(qid - first_qid) % len(SHAPES)]
        if nohit:
            terms = [f"zzqnohit{rng.randrange(10**6)}" for _ in range(n)]
        else:
            terms = [rng.choice(classes.stop)] if stop else []
            if rare:
                terms.append(rng.choice(classes.rare))
            while len(terms) < n:
                t = rng.choice(classes.mid)
                if t not in terms:
                    terms.append(t)
        yield Query(qid, tuple(terms), k, stop, rare, nohit)
        qid += 1


def mix_summary(queries: list[Query]) -> dict:
    n = max(1, len(queries))
    terms = Counter(len(q.terms) for q in queries)
    ks = Counter(q.k for q in queries)
    return {
        "n_queries": len(queries),
        "share_stopword": sum(q.has_stopword for q in queries) / n,
        "share_rare": sum(q.has_rare for q in queries) / n,
        "share_nohit": sum(q.nohit for q in queries) / n,
        "term_count_share": {str(c): terms[c] / n for c in sorted(terms)},
        "k_share": {str(k): ks[k] / n for k in sorted(ks)},
    }


def doc_len_quantiles(pages: pd.DataFrame) -> dict:
    lens = np.array([len(tokenize(t)) for t in latest_versions(pages)["text"]])
    qs = np.quantile(lens, [0.1, 0.5, 0.9, 0.99])
    return {"p10": float(qs[0]), "p50": float(qs[1]), "p90": float(qs[2]),
            "p99": float(qs[3]), "max": int(lens.max())}


def ingest_batches(base: pd.DataFrame, n_batches: int, n_new: int,
                   n_upsert: int, seed: int) -> list[pd.DataFrame]:
    """Commit batches that each mix ``n_new`` unseen urls with ``n_upsert``
    newer versions of base urls (no url is upserted twice)."""
    fresh = synth_pages_pdf(n_batches * (n_new + n_upsert), seed=seed + 1,
                            dup_frac=0.0)
    urls = np.array(sorted(latest_versions(base)["url"]))
    rng = np.random.default_rng(seed + 7919)
    upsert_urls = rng.choice(urls, size=n_batches * n_upsert, replace=False)
    t_max = base["warc_ts"].max()
    out = []
    per = n_new + n_upsert
    for b in range(n_batches):
        batch = fresh.iloc[b * per:(b + 1) * per].copy().reset_index(drop=True)
        batch["url"] = ([f"https://ingest.example/b{b}/p/{j}" for j in range(n_new)]
                        + list(upsert_urls[b * n_upsert:(b + 1) * n_upsert]))
        batch["warc_ts"] = t_max + pd.Timedelta(days=b + 1)
        out.append(batch)
    return out
