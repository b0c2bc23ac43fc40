"""Serving-layer hybrid_search tests over a seeded engine store."""

from __future__ import annotations

import pytest

from memories_spark.engine import MemoriesEngine
from memories_spark.extraction import mock_embed
from memories_spark.search import hybrid_search

NOW = "2024-06-01 12:00:00"


def _rec(text, source, **kw):
    return {"text": text, "source": source, "embedding": mock_embed(text), **kw}


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    # module-scoped: hybrid_search is a pure read, tests never mutate
    eng = MemoriesEngine(spark, str(tmp_path_factory.mktemp("search") / "store"))
    eng.add(
        [
            _rec("postgres connection pooling settings", "db/config"),          # 0
            _rec("postgres replication lag monitoring", "db/ops"),              # 1
            _rec("redis cache eviction policy", "cache/config"),                # 2
            _rec("frontend bundle size optimization", "web/perf"),              # 3
            _rec("postgres vacuum schedule tuning", "db/ops", archived=True),   # 4
            _rec("kafka topic retention settings", "stream/config"),           # 5
        ],
        NOW,
    )
    # a graph edge from a searchable row to an unrelated row
    eng.add_link(0, 3, "related_to", NOW)
    # feedback: row 2 is useful
    eng.log_feedback(2, "useful", NOW)
    return eng


def test_topk_and_ordering(engine):
    out = hybrid_search(engine, "postgres settings", k=3, now=NOW).collect()
    assert len(out) == 3
    scores = [r.rrf_score for r in out]
    assert scores == sorted(scores, reverse=True)
    assert all(r.match_type == "direct" for r in out)
    # postgres rows dominate
    assert {out[0].id, out[1].id} <= {0, 1, 5}


def test_archived_excluded_unless_requested(engine):
    ids = {r.id for r in hybrid_search(engine, "postgres vacuum", k=6, now=NOW).collect()}
    assert 4 not in ids
    ids2 = {
        r.id
        for r in hybrid_search(
            engine, "postgres vacuum", k=6, include_archived=True, now=NOW
        ).collect()
    }
    assert 4 in ids2


def test_source_prefix_filter(engine):
    out = hybrid_search(engine, "settings", k=6, source_prefix="db/", now=NOW).collect()
    assert {r.source for r in out} <= {"db/config", "db/ops"}


def test_k_clamped_to_corpus(engine):
    out = hybrid_search(engine, "postgres", k=500, now=NOW).collect()
    assert len(out) <= 5  # 6 rows minus 1 archived


def test_threshold_drops_low_similarity(engine):
    all_rows = hybrid_search(engine, "postgres connection pooling settings", k=6, now=NOW).collect()
    thresh = hybrid_search(
        engine, "postgres connection pooling settings", k=6, threshold=0.9, now=NOW
    ).collect()
    assert len(thresh) < len(all_rows)
    assert all(r.similarity is not None and r.similarity >= 0.9 for r in thresh)


def test_graph_support_annotation(engine):
    # tiny corpus: every row is a candidate, so the linked pair gets
    # additive graph support ("direct+graph"); unlinked rows stay
    # "direct"; unfilled reserved slots return to the direct list.
    out = hybrid_search(
        engine, "postgres connection pooling settings", k=4,
        graph_weight=0.1, auto_intent=False, now=NOW,
    ).collect()
    assert len(out) == 4
    by_type = {r.id: r.match_type for r in out}
    assert by_type.get(0) == "direct+graph"  # linked to 3, has PPR mass
    assert by_type.get(1) == "direct"        # no links


def test_graph_injection_reserved_slots(spark, tmp_path):
    # target row is OUTSIDE the candidate set (11 competitors, k=2 →
    # oversample 6) but linked from the top hit → injected via a
    # reserved slot with match_type "graph".
    eng = MemoriesEngine(spark, str(tmp_path / "ginj"))
    words = ["one", "two", "three", "four", "five", "six",
             "seven", "eight", "nine", "ten", "eleven"]
    recs = [_rec(f"postgres settings tuning option number {w}", "db") for w in words]
    recs.append(_rec("frontend bundle size optimization", "web"))  # id 11
    eng.add(recs, NOW)
    eng.add_link(0, 11, "related_to", NOW)
    out = hybrid_search(
        eng, "postgres settings tuning option", k=2,
        graph_weight=0.1, auto_intent=False, now=NOW,
    ).collect()
    by_type = {r.id: r.match_type for r in out}
    assert by_type.get(11) == "graph"


def test_graph_only_dropped_when_threshold(engine):
    out = hybrid_search(
        engine, "postgres connection pooling settings", k=4,
        graph_weight=0.1, threshold=0.5, auto_intent=False, now=NOW,
    ).collect()
    assert all(r.match_type != "graph" for r in out)


def test_feedback_boosts(engine):
    no_fb = hybrid_search(
        engine, "cache settings", k=6, feedback_weight=0.0, confidence_weight=0.0, now=NOW
    ).collect()
    with_fb = hybrid_search(
        engine, "cache settings", k=6, feedback_weight=0.4, confidence_weight=0.0, now=NOW
    ).collect()
    pos = lambda rows, mid: next(i for i, r in enumerate(rows) if r.id == mid)  # noqa: E731
    assert pos(with_fb, 2) <= pos(no_fb, 2)


def test_auto_intent_temporal_window(engine, spark, tmp_path):
    eng = MemoriesEngine(spark, str(tmp_path / "store2"))
    eng.add([_rec("deploy happened", "ops", document_at="2024-05-20 00:00:00")], "2024-05-20 10:00:00")
    eng.add([_rec("deploy planned", "ops", document_at="2024-06-01 09:00:00")], "2024-06-01 09:00:00")
    # NOW (2024-06-01) is a Saturday: "this week" -> since Mon 2024-05-27,
    # which excludes the May-20 row ("today" is deliberately NOT a
    # temporal form — the reference grammar has no such pattern)
    out = hybrid_search(eng, "deploy this week", k=5, now=NOW).collect()
    assert {r.id for r in out} == {1}


def test_empty_corpus(engine, spark, tmp_path):
    eng = MemoriesEngine(spark, str(tmp_path / "empty"))
    assert hybrid_search(eng, "anything", k=5, now=NOW).count() == 0


def test_graph_search_driver_actions_bounded(engine, monkeypatch):
    """Building a graph-path plan runs TWO driver actions and persists
    nothing: one collect of the direct rows and PPR's collect of the
    seeds and their edge ball; the merge then runs on the driver. An
    earlier path ran three count() actions, a later one a sizing
    first() plus one collect per PPR iteration, and another an eager
    localCheckpoint of the candidate sheet."""
    DF = type(engine.table("memories"))
    calls = {"count": 0, "first": 0, "collect": 0,
             "localCheckpoint": 0, "cache": 0, "persist": 0}
    orig = {k: getattr(DF, k) for k in calls}

    def tracked(name):
        def wrap(self, *a, **kw):
            calls[name] += 1
            return orig[name](self, *a, **kw)
        return wrap

    # the shared snapshot is pinned once per table version, not per search
    engine.serving_memories().count()
    for k in calls:
        monkeypatch.setattr(DF, k, tracked(k))
    # plan construction only — the result stays lazy
    out = hybrid_search(engine, "postgres settings", k=3, graph_weight=0.1,
                        auto_intent=False, now=NOW)
    monkeypatch.undo()
    assert calls == {"count": 0, "first": 0, "collect": 2,
                     "localCheckpoint": 0, "cache": 0, "persist": 0}, calls
    # and the plan still answers correctly
    rows = out.collect()
    assert len(rows) == 3


def test_graph_search_without_ball_edges_equals_direct(spark, tmp_path, monkeypatch):
    """Links that no seed reaches move no mass: the graph search
    returns the direct-only top-k (no row is linked, the graph-only
    list is empty)."""
    from memories_spark.operators import graph as graph_op

    eng = MemoriesEngine(spark, str(tmp_path / "noball"))
    words = ["one", "two", "three", "four", "five", "six", "seven", "eight"]
    recs = [_rec(f"postgres settings tuning option number {w}", "db") for w in words]
    recs += [_rec("frontend bundle size optimization", "web"),   # id 8
             _rec("kafka topic retention window", "stream")]      # id 9
    eng.add(recs, NOW)
    eng.add_link(8, 9, "related_to", NOW)

    balls = []
    real = graph_op.collect_ppr

    def spy(edges, seeds, **kw):
        ranks, ball = real(edges, seeds, **kw)
        balls.append(sum(len(v) for v in ball.values()))
        return ranks, ball

    monkeypatch.setattr(graph_op, "collect_ppr", spy)

    def search(graph_weight):
        return [tuple(r) for r in hybrid_search(
            eng, "postgres settings tuning option", k=1,
            graph_weight=graph_weight, auto_intent=False, now=NOW,
        ).collect()]

    direct = search(0.0)
    assert search(0.1) == direct
    assert balls == [0]  # the link is outside every seed's ball


# --- memory_timeline (reference mcp-server/index.js:262-330) -----------


def test_timeline_query_variants():
    from memories_spark.search import timeline_query_variants

    vs = timeline_query_variants("when did the migration finish")
    assert vs[0] == "when did the migration finish"
    assert len(vs) == 2 and "dated event" in vs[1]
    # trip-shaped queries add the travel-vocab variant (index.js:183-185)
    vt = timeline_query_variants("what trips did I take")
    assert len(vt) == 3 and "vacation" in vt[2]
    # empty query: the dated-event hint alone survives dedup
    assert timeline_query_variants("")


def test_timeline_chronological_with_unknown_dates_first(spark, tmp_path):
    """Timeline semantics (index.js:300-318): variant fan-out results
    are unioned, deduped on (id, source, anchor date), and sorted
    chronologically with UNKNOWN-date rows first (chronologicalValue
    maps an unparseable date to -Infinity, :163-167)."""
    from memories_spark.search import memory_timeline, release_caches

    eng = MemoriesEngine(spark, str(tmp_path / "tstore"))
    eng.add(
        [
            _rec("release shipped to production", "proj/log",
                 document_at="2024-03-10 09:00:00"),
            _rec("release postmortem written and completed", "proj/log",
                 document_at="2024-01-05 09:00:00"),
            _rec("release checklist drafted", "proj/log"),  # no document_at
            _rec("unrelated grocery notes", "home/misc",
                 document_at="2024-02-01 09:00:00"),
        ],
        NOW,
    )
    df = memory_timeline(eng, "release", k=10, auto_intent=False, now=NOW)
    rows = df.collect()
    release_caches(df)
    ids = [r.id for r in rows]
    assert set(ids) >= {0, 1, 2}
    assert len(ids) == len(set(ids))  # dedup across variants
    # chronological: the undated row (anchor = created_at NOW, which is
    # LATER than both document_at anchors) sorts after; among dated
    # rows the older document_at comes first
    pos = {r.id: i for i, r in enumerate(rows)}
    assert pos[1] < pos[0] < pos[2]
    assert [r.ord for r in rows] == list(range(1, len(rows) + 1))


def test_timeline_user_facts_only_filter(spark, tmp_path):
    """hasUserFact twin (index.js:169-175): a leading assistant: line
    excludes the row, a user: line anywhere includes it, plain prose
    passes — applied only when user_facts_only=True."""
    from memories_spark.search import memory_timeline, release_caches

    eng = MemoriesEngine(spark, str(tmp_path / "ustore"))
    eng.add(
        [
            _rec("user: the deploy pipeline finished friday", "chat/a"),
            _rec("assistant: you could consider a deploy pipeline",
                 "chat/a"),
            _rec("the deploy pipeline uses three stages", "docs/a"),
        ],
        NOW,
    )
    df_all = memory_timeline(eng, "deploy pipeline", k=10,
                             auto_intent=False, now=NOW)
    all_rows = df_all.collect()
    release_caches(df_all)
    assert {r.id for r in all_rows} == {0, 1, 2}
    facts = {r.id: r.user_fact for r in all_rows}
    assert facts == {0: True, 1: False, 2: True}

    df = memory_timeline(eng, "deploy pipeline", k=10, user_facts_only=True,
                         auto_intent=False, now=NOW)
    rows = df.collect()
    release_caches(df)
    assert {r.id for r in rows} == {0, 2}


def test_timeline_releases_all_variant_caches(spark, tmp_path):
    """memory_timeline runs one graph-path hybrid_search PER VARIANT;
    none of them persists a storage block, and a single release_caches
    on the merged result returns the snapshot refcount to zero."""
    from memories_spark.search import memory_timeline, release_caches

    eng = MemoriesEngine(spark, str(tmp_path / "rstore"))
    eng.add([_rec(f"note {i} about deploys", "proj/a") for i in range(6)], NOW)
    eng.serving_memories().count()  # warm the engine-scoped snapshot
    sc = spark.sparkContext

    def cached_ids():
        return {int(i.id()) for i in sc._jsc.sc().getRDDStorageInfo()}

    before = cached_ids()
    df = memory_timeline(eng, "deploys", k=5, auto_intent=False, now=NOW)
    df.collect()
    assert getattr(df, "_ms_snaps", None)
    made = cached_ids() - before
    assert not made, f"timeline made storage blocks: {sorted(made)}"
    release_caches(df)
    leaked = cached_ids() - before
    assert not leaked, f"timeline leaked storage blocks: {sorted(leaked)}"
    assert eng._snap_cur["refs"] == 0


# --- memory_evidence (reference mcp-server/index.js:352-420) ------------


def test_evidence_follow_ups_grammar():
    """Pure follow-up grammar (evidence_packet.py:67-88): the query
    itself plus latest/current/what-changed variants, prefix-skips,
    case-insensitive dedupe keeping first position, empty -> []."""
    from memories_spark.search import evidence_follow_ups

    assert evidence_follow_ups("postgres settings") == [
        "postgres settings",
        "latest postgres settings",
        "current postgres settings",
        "what changed about postgres settings",
    ]
    # prefix skip + whitespace collapse
    assert evidence_follow_ups("  Latest   pricing ") == [
        "Latest pricing",
        "current Latest pricing",
        "what changed about Latest pricing",
    ]
    assert evidence_follow_ups("what changed in the api")[0] == (
        "what changed in the api"
    )
    assert "what changed about what changed in the api" not in (
        evidence_follow_ups("what changed in the api")
    )
    assert evidence_follow_ups("") == []
    assert evidence_follow_ups("   ") == []


def test_evidence_packet_score_first_classification(spark, tmp_path):
    """Score-first rank key (no recency word): the top-score hit is
    the current answer; hits dated BEFORE it are older, AFTER it are
    supporting; older evidence -> medium confidence; reference
    reasons land in confidence_reasons (evidence_packet.py:92-161)."""
    from memories_spark.search import memory_evidence, release_caches

    eng = MemoriesEngine(spark, str(tmp_path / "estore"))
    eng.add(
        [
            _rec("alpha beta gamma delta", "proj/a",
                 document_at="2024-03-01 09:00:00"),   # top score
            _rec("alpha beta gamma", "proj/a",
                 document_at="2024-05-01 09:00:00"),   # dated AFTER current
            _rec("alpha beta", "proj/a",
                 document_at="2024-01-01 09:00:00"),   # dated BEFORE current
        ],
        NOW,
    )
    df = memory_evidence(eng, "alpha beta gamma delta", k=5,
                         auto_intent=False, now=NOW)
    rows = df.collect()
    release_caches(df)
    by_id = {r.id: r for r in rows}
    assert by_id[0].relation == "current" and by_id[0].rank == 1
    assert by_id[1].relation == "supporting"  # dated after current
    assert by_id[2].relation == "older"
    assert all(r.confidence_level == "medium" for r in rows)
    reasons = rows[0].confidence_reasons
    assert "Current candidate has a source date." in reasons
    assert any("older evidence" in x for x in reasons)
    assert any("is_latest" in x for x in reasons)
    # trail: current(1) + supporting(2) + older(3)
    assert by_id[0].trail_rank == 1
    assert by_id[1].trail_rank == 2
    assert by_id[2].trail_rank == 3
    assert [r.rank for r in rows] == [1, 2, 3]


def test_evidence_prefer_recency_flips_rank_key(spark, tmp_path):
    """A latest/current/... query ranks date-first (dated, date,
    score, is_latest): the newest dated hit beats a higher-similarity
    older one (evidence_packet.py:53-64)."""
    from memories_spark.search import memory_evidence, release_caches

    eng = MemoriesEngine(spark, str(tmp_path / "rstore"))
    eng.add(
        [
            _rec("alpha beta gamma delta", "proj/a",
                 document_at="2024-03-01 09:00:00"),   # higher score, older
            _rec("alpha beta gamma", "proj/a",
                 document_at="2024-05-01 09:00:00"),   # newest
        ],
        NOW,
    )
    df = memory_evidence(eng, "latest alpha beta gamma delta", k=5,
                         auto_intent=False, now=NOW)
    rows = df.collect()
    release_caches(df)
    by_rank = {r.rank: r for r in rows}
    assert by_rank[1].id == 1  # newest wins under prefer-recency
    assert by_rank[2].id == 0 and by_rank[2].relation == "older"
    assert all(r.confidence_level == "medium" for r in rows)


def test_evidence_archived_joins_older_list(spark, tmp_path):
    """An archived hit (include_archived=True) lands in the older
    LIST with relation 'archived' — and that list being non-empty is
    what makes confidence medium (evidence_packet.py:119-121,139-144)."""
    from memories_spark.search import memory_evidence, release_caches

    eng = MemoriesEngine(spark, str(tmp_path / "astore"))
    eng.add(
        [
            _rec("alpha beta gamma delta", "proj/a",
                 document_at="2024-03-01 09:00:00"),
            # same date as current: not 'older', classified archived
            _rec("alpha beta gamma", "proj/a", archived=True,
                 document_at="2024-03-01 09:00:00"),
        ],
        NOW,
    )
    df = memory_evidence(eng, "alpha beta gamma delta", k=5,
                         include_archived=True, auto_intent=False, now=NOW)
    rows = df.collect()
    release_caches(df)
    by_id = {r.id: r for r in rows}
    assert by_id[1].relation == "archived"
    assert all(r.confidence_level == "medium" for r in rows)


def test_evidence_packet_caps(spark, tmp_path):
    """supporting_memories caps at 5 (packet_rank null past the cap);
    the source/date trail caps at 10 (evidence_packet.py:146-157)."""
    from memories_spark.search import memory_evidence, release_caches

    eng = MemoriesEngine(spark, str(tmp_path / "cstore"))
    eng.add(
        [_rec(f"alpha beta note {i}", "proj/a",
              document_at="2024-03-01 09:00:00") for i in range(9)],
        NOW,
    )
    df = memory_evidence(eng, "alpha beta", k=9, auto_intent=False, now=NOW)
    rows = df.collect()
    release_caches(df)
    assert len(rows) == 9
    sup = [r for r in rows if r.relation == "supporting"]
    assert len(sup) == 8  # equal dates: never 'older' than current
    assert sorted(r.packet_rank for r in sup if r.packet_rank) == [1, 2, 3, 4, 5]
    assert sum(1 for r in sup if r.packet_rank is None) == 3
    assert all(r.trail_rank is not None for r in rows)  # 9 <= 10
    assert all(r.confidence_level == "high" for r in rows)  # no older list


def test_evidence_releases_everything(spark, tmp_path):
    """The packet's graph-path search persists no storage block, and
    one release_caches on the packet result returns the snapshot
    refcount to zero (the search borrows the pre-search pin)."""
    from memories_spark.search import memory_evidence, release_caches

    eng = MemoriesEngine(spark, str(tmp_path / "lstore"))
    eng.add([_rec(f"note {i} about deploys", "proj/a") for i in range(6)], NOW)
    eng.serving_memories().count()  # warm the engine-scoped snapshot
    sc = spark.sparkContext

    def cached_ids():
        return {int(i.id()) for i in sc._jsc.sc().getRDDStorageInfo()}

    before = cached_ids()
    df = memory_evidence(eng, "deploys", k=5, auto_intent=False, now=NOW)
    df.collect()
    assert getattr(df, "_ms_snaps", None)
    made = cached_ids() - before
    assert not made, f"memory_evidence made storage blocks: {sorted(made)}"
    release_caches(df)
    leaked = cached_ids() - before
    assert not leaked, f"memory_evidence leaked storage blocks: {sorted(leaked)}"
    assert eng._snap_cur["refs"] == 0


def test_evidence_races_mutations_soak(spark, tmp_path):
    """memory_evidence pins its anchor snapshot BEFORE the search
    (round-6 advice on memory_timeline, applied here from birth):
    race packet builds against a partition-rewriting delete — every
    call must complete, anchors and hits must come from one corpus
    state (pre or post), never a torn mix with null anchors for rows
    the search returned."""
    import threading

    from memories_spark.search import memory_evidence, release_caches

    eng = MemoriesEngine(spark, str(tmp_path / "estore"))
    eng.add(
        [_rec(f"alpha beta note {i}", "proj/a",
              document_at=f"2024-03-{i + 1:02d} 09:00:00") for i in range(12)],
        NOW,
    )
    victim = 0

    def run_packet():
        df = memory_evidence(eng, "alpha beta", k=6, auto_intent=False,
                             now=NOW)
        rows = df.collect()
        release_caches(df)
        # torn-state detector: every returned hit must carry its anchor
        assert all(r.anchor_ts is not None for r in rows), rows
        return tuple((r.rank, r.id, r.relation) for r in rows)

    pre = run_packet()
    results: list = []
    errors: list = []
    start = threading.Barrier(4)

    def worker():
        start.wait()
        for _ in range(3):
            try:
                results.append(run_packet())
            except Exception as e:  # noqa: BLE001 — the soak records it
                errors.append(f"{type(e).__name__}: {e}")

    threads = [threading.Thread(target=worker) for _ in range(3)]
    for t in threads:
        t.start()
    start.wait()  # delete rewrites proj/a's partition mid-race
    eng.delete([victim], NOW)
    for t in threads:
        t.join()

    post = run_packet()
    assert errors == [], errors
    allowed = {pre, post}
    bad = [r for r in results if r not in allowed]
    assert not bad, f"{len(bad)} torn packets: {bad[:2]} allowed={allowed}"
    assert victim not in {i for _, i, _ in post}


def test_hybrid_search_borrows_pinned_snapshot(spark, tmp_path):
    """A caller-pinned snapshot passed via snapshot= is BORROWED: the
    search reads exactly that corpus version (a row added after the
    pin is invisible), takes no ref of its own, and release_caches on
    its result leaves the caller's ref intact."""
    from memories_spark.search import release_caches

    eng = MemoriesEngine(spark, str(tmp_path / "bstore"))
    eng.add([_rec(f"alpha beta note {i}", "proj/a") for i in range(3)], NOW)
    v, mem = eng.serving_snapshot()
    try:
        eng.add([_rec("alpha beta note late", "proj/a")], NOW)  # bumps version
        df = hybrid_search(eng, "alpha beta", k=10, snapshot=(v, mem),
                           auto_intent=False, now=NOW)
        ids = {r.id for r in df.collect()}
        assert ids == {0, 1, 2}  # the post-pin row never appears
        assert getattr(df, "_ms_snap", "unset") is None  # no own ref
        release_caches(df)  # must NOT release the borrowed ref
        # and a fresh un-borrowed search sees the new corpus
        df2 = hybrid_search(eng, "alpha beta", k=10, auto_intent=False,
                            now=NOW)
        ids2 = {r.id for r in df2.collect()}
        release_caches(df2)
        assert 3 in ids2
    finally:
        eng._release_snapshot(v)


# --- candidate-sheet parity ----------------------------------------------


def _reference_direct(
    engine, query, k=8, vector_weight=0.7, recency_weight=0.0,
    feedback_weight=0.1, confidence_weight=0.1, source_prefix=None,
    since=None, until=None, threshold=None, include_archived=False,
    ann=False, lexical=False, finish=None,
):
    """The direct branch as five separate rank_signal lists fused by
    rrf_fuse (union → groupBy) and re-joined to the corpus — the
    composition hybrid_search's candidate sheet replaces. Returns the
    ordered (id, rrf_score, similarity, vector_rank, bm25_rank,
    match_type) rows, or ``finish(direct, mem, k, threshold)`` over the
    unlimited direct rows when given."""
    from pyspark.sql import functions as F

    from memories_spark import search as S
    from memories_spark.functions.decay import half_life_decay
    from memories_spark.functions.vectors import cosine_expr
    from memories_spark.operators import bm25 as bm25_op
    from memories_spark.operators import rrf as rrf_op
    from memories_spark.operators.temporal import temporal_filter

    version, mem = engine.serving_snapshot()
    try:
        if source_prefix is not None:
            mem = mem.filter(F.col("source").startswith(source_prefix))
        if not include_archived:
            mem = mem.filter(~F.coalesce(F.col("archived"), F.lit(False)))
        oversample = 3 * k
        qvec = [float(x) for x in mock_embed(query)]
        with_emb = mem.filter(F.col("embedding").isNotNull())
        if ann:
            meta = engine.vector_index_meta()
            if meta is not None and int(meta["version"]) == version:
                with_emb = with_emb.join(
                    engine.vector_candidates(qvec, meta), "id", "left_semi"
                )
        vec_scored = with_emb.select("id", F.round(
            cosine_expr(F.col("embedding"), F.array(*[F.lit(x) for x in qvec])), 6
        ).alias("sim"))
        vec_ranked = rrf_op.rank_signal(vec_scored, "id", "sim", limit=oversample)
        qterms = query.lower().split()
        stats = None
        if lexical and source_prefix is None and not include_archived:
            lmeta = engine.lexical_index_meta()
            if lmeta is not None and int(lmeta["version"]) == version:
                stats = engine.lexical_stats(qterms, meta=lmeta)
        bm = bm25_op.bm25_scores(mem, "id", "text", qterms, stats=stats)
        bm_ranked = rrf_op.rank_signal(bm, "id", "score", limit=oversample)
        cand = vec_ranked.select("id").union(bm_ranked.select("id")).distinct()
        now_col = F.lit(NOW).cast("timestamp")
        cmeta = cand.join(mem, "id")
        rec = cmeta.select("id", half_life_decay(
            F.coalesce(F.col("document_at"), F.col("created_at")),
            now_col, S.RECENCY_HL_DAYS).alias("s"))
        conf = cmeta.select("id", half_life_decay(
            F.coalesce(F.col("last_reinforced_at"), F.col("updated_at"),
                       F.col("created_at")),
            now_col, S.CONFIDENCE_HL_DAYS).alias("s"))
        fb = engine.feedback_net().filter(F.col("net") > 0)
        fb_scored = cand.join(fb, cand.id == fb.memory_id).select("id", "net")
        w = S._effective_weights(
            vector_weight, recency_weight, feedback_weight, confidence_weight
        )
        fused = rrf_op.rrf_fuse({
            "vector": (vec_ranked, w["vector"]),
            "bm25": (bm_ranked, w["bm25"]),
            "recency": (rrf_op.rank_signal(rec, "id", "s", limit=oversample),
                        w["recency"]),
            "feedback": (rrf_op.rank_signal(fb_scored, "id", "net", limit=oversample),
                         w["feedback"]),
            "confidence": (rrf_op.rank_signal(conf, "id", "s", limit=oversample),
                           w["confidence"]),
        })
        enriched = fused.join(
            mem.select("id", "text", "source", "document_at", "created_at"), "id"
        ).join(vec_scored.select("id", F.col("sim").alias("similarity")), "id", "left")
        if since or until:
            enriched = temporal_filter(
                enriched, F.coalesce(F.col("document_at"), F.col("created_at")),
                since=since, until=until,
            )
        if threshold is not None:
            enriched = enriched.filter(
                F.coalesce(F.col("similarity"), F.lit(-1.0)) >= threshold
            )
        if finish is not None:
            return finish(enriched, mem, k, threshold)
        rows = enriched.orderBy(F.desc("rrf_score"), F.asc("id")).limit(k).collect()
        return [(r.id, r.rrf_score, r.similarity, r.vector_rank, r.bm25_rank, "direct")
                for r in rows]
    finally:
        engine._release_snapshot(version)


_PARITY_WORDS = ["postgres", "cache", "deploy", "queue", "billing", "auth", "index"]


@pytest.fixture(scope="module")
def parity_store(spark, tmp_path_factory):
    """40 memories over two ingest dates with varied document dates,
    archived rows, rows without an embedding (BM25-only candidates),
    mixed feedback, a fresh lexical index and a coarse IVF index whose
    single probe leaves some candidates unscored."""
    eng = MemoriesEngine(spark, str(tmp_path_factory.mktemp("parity") / "store"))
    recs = []
    for i in range(40):
        a, b = _PARITY_WORDS[i % 7], _PARITY_WORDS[(i * 3 + 1) % 7]
        text = f"{a} {b} note {i} tuning {a} step {i % 4}"
        recs.append({
            "text": text,
            "source": f"{['proj/a', 'proj/b', 'misc'][i % 3]}/{i % 5}",
            "embedding": None if i % 13 == 5 else mock_embed(text),
            "document_at": None if i % 6 == 0 else f"2024-0{1 + i % 5}-1{i % 9} 08:00:00",
            "archived": i % 11 == 3,
        })
    eng.add(recs[:20], "2024-02-01 09:00:00")
    eng.add(recs[20:], NOW)
    eng.build_lexical_index()
    eng.build_vector_index(cells=4, nprobe=1)
    for mid, signal in [(1, "useful"), (1, "useful"), (8, "useful"), (15, "useful"),
                        (22, "useful"), (22, "not_useful"), (29, "not_useful"),
                        (36, "useful")]:
        eng.log_feedback(mid, signal, NOW)
    return eng


_PARITY_GRID = {
    "inline": {},
    "lexical": {"lexical": True},
    "ann": {"ann": True},
    "ann_lexical": {"ann": True, "lexical": True},
    "prefix": {"source_prefix": "proj/", "lexical": True},
    "archived": {"include_archived": True},
    "threshold": {"threshold": 0.35, "lexical": True},
    "since_until": {"since": "2024-02-01 00:00:00", "until": "2024-04-15 00:00:00"},
    "recency": {"recency_weight": 0.4, "feedback_weight": 0.3},
}


@pytest.mark.parametrize("opts", list(_PARITY_GRID.values()), ids=list(_PARITY_GRID))
def test_candidate_sheet_matches_fused_signal_lists(parity_store, opts):
    """hybrid_search's one-sheet plan returns the same ordered rows,
    scores, similarities and branch ranks as the five-list
    rank_signal + rrf_fuse composition, across the option grid."""
    from memories_spark.search import release_caches

    for query in ("postgres cache tuning", "deploy queue auth step"):
        df = hybrid_search(parity_store, query, k=8, auto_intent=False, now=NOW, **opts)
        got = [(r.id, r.rrf_score, r.similarity, r.vector_rank, r.bm25_rank,
                r.match_type) for r in df.collect()]
        release_caches(df)
        want = _reference_direct(parity_store, query, k=8, **opts)
        assert got == want, (query, got, want)
        assert got  # every grid point returns rows


def test_candidate_sheet_matches_on_empty_store(spark, tmp_path):
    eng = MemoriesEngine(spark, str(tmp_path / "empty"))
    for opts in ({}, {"lexical": True}):
        df = hybrid_search(eng, "anything at all", k=5, auto_intent=False, now=NOW, **opts)
        assert df.collect() == []
        assert _reference_direct(eng, "anything at all", k=5, **opts) == []


# --- graph-path merge parity ----------------------------------------------


def _reference_graph_merge(engine):
    """The Spark merge plan the driver-side graph merge replaced, as a
    ``_reference_direct`` finish: PPR as a frame, ``linked_nodes`` over
    the whole live adjacency, broadcast scalars, and the reserved-slot
    split counted inside the plan. Returns ordered (id, text, source,
    rrf_score, similarity, vector_rank, bm25_rank, match_type) rows."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from memories_spark import search as S
    from memories_spark.operators import graph as graph_op
    from memories_spark.session import local_frame

    cols = ["id", "text", "source", "rrf_score", "similarity",
            "vector_rank", "bm25_rank", "match_type"]

    def finish(enriched, mem, k, threshold):
        # the direct rows enter lineage-free, as the old checkpoint did
        direct = local_frame(
            mem.sparkSession,
            [tuple(r) for r in enriched.select(*cols[:-1]).collect()],
            "id long, text string, source string, rrf_score double, "
            "similarity double, vector_rank long, bm25_rank long",
        )
        wtop = Window.orderBy(F.desc("rrf_score"), F.asc("id"))
        edges = engine.table("links").filter(F.col("type") == "related_to")
        live = mem.select(F.col("id").alias("node_id"))
        edges = (
            edges.join(live, edges.from_id == live.node_id, "left_semi")
            .join(live, edges.to_id == F.col("node_id"), "left_semi")
            .select("from_id", "to_id")
        )
        seeds = direct.select(
            "id", F.round(F.col("rrf_score") * 1e12).cast("long").alias("sw_fp")
        ).filter(F.col("sw_fp") > 0)
        ppr = graph_op.personalized_pagerank(edges, seeds)
        if not ppr.collect():  # no seed: the direct top-k
            out = direct.withColumn("match_type", F.lit("direct"))
            return [tuple(r) for r in out.select(*cols).orderBy(
                F.desc("rrf_score"), F.asc("id")).limit(k).collect()]
        linked_nodes = graph_op.bidirectional(edges).select(
            F.col("from_id").alias("id")
        ).distinct()
        scalars = ppr.agg(F.max("r_fp").cast("double").alias("max_ppr")).crossJoin(
            direct.agg(F.max("rrf_score").alias("top_rrf"))
        )
        graph_term = (
            F.lit(S.GRAPH_CAP)
            * F.col("top_rrf")
            * (F.coalesce(F.col("r_fp"), F.lit(0)).cast("double") / F.col("max_ppr"))
        )
        dmerged = (
            direct.join(ppr.withColumnRenamed("id", "gid"), direct.id == F.col("gid"), "left")
            .join(linked_nodes.withColumn("_linked", F.lit(True)), "id", "left")
            .crossJoin(F.broadcast(scalars))
            .select(
                "id", "text", "source", "similarity", "vector_rank", "bm25_rank",
                (F.col("rrf_score") + F.when(F.col("_linked"), graph_term)
                 .otherwise(F.lit(0.0))).alias("rrf_score"),
                F.when(F.col("_linked") & (F.coalesce(F.col("r_fp"), F.lit(0)) > 0),
                       "direct+graph").otherwise("direct").alias("match_type"),
            )
        )
        gonly = (
            ppr.filter(F.col("r_fp") > 0)
            .join(direct.select("id"), "id", "left_anti")
            .crossJoin(F.broadcast(scalars))
            .join(mem.select("id", "text", "source"), "id")
            .select(
                "id", "text", "source",
                F.lit(None).cast("double").alias("similarity"),
                F.lit(None).cast("long").alias("vector_rank"),
                F.lit(None).cast("long").alias("bm25_rank"),
                graph_term.alias("rrf_score"),
                F.lit("graph").alias("match_type"),
            )
        )
        if threshold is not None:
            gonly = gonly.filter(F.lit(False))
        rmax = min(S.RESERVED_SLOTS, max(k - 1, 0))
        gtop = gonly.withColumn("rn", F.row_number().over(wtop)).filter(
            F.col("rn") <= rmax
        ).drop("rn")
        gcnt = gtop.agg(F.count("*").cast("int").alias("_gc"))
        dtop = (
            dmerged.withColumn("rn", F.row_number().over(wtop))
            .crossJoin(F.broadcast(gcnt))
            .filter(F.col("rn") <= F.lit(k) - F.col("_gc"))
            .drop("rn", "_gc")
        )
        out = (
            dtop.select(*cols).unionByName(gtop.select(*cols))
            .orderBy(F.desc("rrf_score"), F.asc("id")).limit(k)
        )
        return [tuple(r) for r in out.collect()]

    return finish


@pytest.fixture(scope="module")
def graph_store(spark, tmp_path_factory):
    """36 memories with 14 related_to links, some rows without an
    embedding, archived rows, feedback and a fresh lexical index. Rows
    32–35 are a chain seed(32) – 33 – 34 – 35 for the "zebra quartz"
    query: 33 and 34 are no candidates, and 35 has no embedding, so
    with vector_weight 1.0 it is a direct row with rrf_score 0 (no
    seed) exactly 3 hops from the seed."""
    eng = MemoriesEngine(spark, str(tmp_path_factory.mktemp("graph") / "store"))
    recs = []
    for i in range(32):
        a, b = _PARITY_WORDS[i % 7], _PARITY_WORDS[(i * 3 + 1) % 7]
        text = f"{a} {b} note {i} tuning {a} step {i % 4}"
        recs.append({
            "text": text,
            "source": f"{['proj/a', 'proj/b', 'misc'][i % 3]}/{i % 5}",
            "embedding": None if i % 9 == 4 else mock_embed(text),
            "document_at": None if i % 6 == 0 else f"2024-0{1 + i % 5}-1{i % 9} 08:00:00",
            "archived": i % 11 == 3,
        })
    recs += [
        _rec("zebra quartz anchor", "misc/z"),                            # 32
        {"text": "filler paragraph one", "source": "misc/z"},           # 33
        {"text": "filler paragraph two", "source": "misc/z"},           # 34
        {"text": "zebra quartz tail end", "source": "misc/z"},          # 35
    ]
    eng.add(recs[:16], "2024-02-01 09:00:00")
    eng.add(recs[16:], NOW)
    eng.add_links(
        [(i, (5 * i + 2) % 32, "related_to") for i in range(0, 32, 3)]
        + [(32, 33, "related_to"), (33, 34, "related_to"), (34, 35, "related_to")],
        NOW,
    )
    eng.build_lexical_index()
    for mid, signal in [(1, "useful"), (8, "useful"), (22, "not_useful")]:
        eng.log_feedback(mid, signal, NOW)
    return eng


_GRAPH_GRID = {
    "lexical": {"k": 8, "graph_weight": 0.2, "lexical": True},
    "k1": {"k": 1, "graph_weight": 0.3},
    "k3_recency": {"k": 3, "graph_weight": 0.1, "recency_weight": 0.4},
    "all_candidates": {"k": 20, "graph_weight": 0.2},
    "threshold": {"k": 8, "graph_weight": 0.2, "threshold": 0.3},
    "prefix": {"k": 8, "graph_weight": 0.2, "source_prefix": "proj/"},
    "since_archived": {"k": 8, "graph_weight": 0.2, "since": "2024-02-01 00:00:00",
                       "include_archived": True},
    "vector_only": {"k": 40, "graph_weight": 0.2, "vector_weight": 1.0,
                    "feedback_weight": 0.0, "confidence_weight": 0.0},
}


@pytest.mark.parametrize("opts", list(_GRAPH_GRID.values()), ids=list(_GRAPH_GRID))
def test_graph_merge_matches_spark_merge_plan(graph_store, opts):
    """The driver-side graph merge returns the same ordered rows, bit
    for bit, as the Spark merge plan it replaced, across the option
    grid: dangling seeds, k=1 (no reserved slot), fewer graph-only
    hits than reserved slots, the threshold carve-out, a source
    prefix, and a zero-weight direct row linked only through a ball
    edge's to_id."""
    from memories_spark.search import release_caches

    seen = set()
    for query in ("postgres cache tuning", "zebra quartz"):
        df = hybrid_search(graph_store, query, auto_intent=False, now=NOW, **opts)
        got = [tuple(r) for r in df.collect()]
        release_caches(df)
        want = _reference_direct(graph_store, query,
                                 finish=_reference_graph_merge(graph_store),
                                 **{o: v for o, v in opts.items() if o != "graph_weight"})
        assert got == want, (query, got, want)
        seen |= {r[-1] for r in got}
        if query == "zebra quartz" and opts.get("vector_weight") == 1.0:
            # row 35 is no seed (rrf_score 0) and 3 hops from seed 32:
            # its adjacency shows only as the to_id of a ball edge
            assert (35, "direct+graph") in {(r[0], r[-1]) for r in got}
    assert "direct+graph" in seen
