"""Property-based BM25 parity: the Spark operator vs an independent
pure-Python implementation of rank_bm25 0.2.2's BM25Okapi formula
(the variant the reference depends on: memory_engine.py:224-232,
pyproject.toml:17) on random tiny corpora.

The oracle-parity suite pins Spark == DuckDB on fixed corpora; this
suite pins both == the published formula, for inline stats and for
the persisted lexical index alike, including the edge cases
hypothesis likes: every-doc-contains-the-term (negative IDF -> the
epsilon * average-IDF floor), repeated query terms (multiplicity
counts), and single-doc corpora.
"""

from __future__ import annotations

import math
import uuid

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from memories_spark.operators import bm25 as bm25_op
from memories_spark.operators import lexical_index
from memories_spark.session import local_frame

VOCAB = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]

corpus_strategy = st.lists(
    st.lists(st.sampled_from(VOCAB), min_size=1, max_size=10),
    min_size=1,
    max_size=8,
)
query_strategy = st.lists(st.sampled_from(VOCAB), min_size=1, max_size=4)


def okapi_reference(corpus: list[list[str]], query: list[str]) -> dict[int, float]:
    """rank_bm25 0.2.2 BM25Okapi, reimplemented from the published
    formula: idf = ln((N - df + 0.5) / (df + 0.5)); negative idfs are
    floored to eps * mean(all raw idfs); score sums idf * tf*(k1+1) /
    (tf + k1*(1 - b + b*dl/avgdl)) once per query token occurrence."""
    n = len(corpus)
    avgdl = sum(len(d) for d in corpus) / n
    df: dict[str, int] = {}
    for doc in corpus:
        for term in set(doc):
            df[term] = df.get(term, 0) + 1
    raw_idf = {t: math.log((n - f + 0.5) / (f + 0.5)) for t, f in df.items()}
    avg_idf = sum(raw_idf.values()) / len(raw_idf)
    idf = {
        t: (bm25_op.EPSILON * avg_idf if v < 0 else v) for t, v in raw_idf.items()
    }
    scores: dict[int, float] = {}
    for i, doc in enumerate(corpus):
        dl = len(doc)
        s = 0.0
        for term in query:  # multiplicity counts
            if term not in idf:
                continue
            tf = doc.count(term)
            if tf == 0:
                continue
            s += (
                idf[term]
                * tf
                * (bm25_op.K1 + 1)
                / (tf + bm25_op.K1 * (1 - bm25_op.B + bm25_op.B * dl / avgdl))
            )
        scores[i] = s
    return scores


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(corpus=corpus_strategy, query=query_strategy)
def test_bm25_matches_published_formula(spark, tmp_path, corpus, query):
    """Both stats shapes of ``bm25_scores`` — inline, and the persisted
    lexical index read back through ``query_stats`` — give the same
    rows bit for bit, and both match the published formula."""
    # one JVM-local frame feeds both paths: a Python-parallelized one
    # would respawn Python tasks in every stage of both plans
    docs = local_frame(
        spark, [(i, " ".join(doc)) for i, doc in enumerate(corpus)], "doc_id long, text string"
    )
    got = {
        r["id"]: r["score"]
        for r in bm25_op.bm25_scores(docs, "doc_id", "text", query).collect()
    }
    idx = str(tmp_path / uuid.uuid4().hex[:8])
    meta = lexical_index.build_lexical(spark, docs, "doc_id", "text", idx)
    stats = lexical_index.query_stats(
        spark, lexical_index.table_root(idx, meta), meta, query
    )
    indexed = {
        r["id"]: r["score"]
        for r in bm25_op.bm25_scores(docs, "doc_id", "text", query, stats=stats).collect()
    }
    assert indexed == got
    want = okapi_reference(corpus, query)
    # the operator only emits docs containing >=1 query term
    for i, s in want.items():
        if i in got:
            assert math.isclose(got[i], s, rel_tol=0, abs_tol=1e-6), (i, got[i], s)
        else:
            assert s == 0.0, (i, s)
