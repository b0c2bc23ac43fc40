"""Serving-side IVF vector index: build / probe / staleness fallback.

The engine-level analogue of the reference's Qdrant collection
(qdrant_store.py): an approximate index serves the vector branch;
exactness is restored by fallback whenever the index is stale.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from memories_spark.engine import MemoriesEngine
from memories_spark.extraction import mock_embed
from memories_spark.operators import ann_index
from memories_spark.search import hybrid_search, release_caches

NOW = "2024-06-01 12:00:00"
LATER = "2024-06-02 12:00:00"

_TOPICS = [
    "database", "cache", "queue", "metrics", "billing", "auth",
    "search", "deploy", "storage", "network", "email", "backup",
]


def _corpus(n=240):
    recs = []
    for i in range(n):
        t = _TOPICS[i % len(_TOPICS)]
        text = f"{t} note {i}: the {t} subsystem handles item {i % 7} with policy {i % 5}"
        recs.append(
            {"text": text, "source": f"corp/{t}", "embedding": mock_embed(text)}
        )
    return recs


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    eng = MemoriesEngine(spark, str(tmp_path_factory.mktemp("annserve") / "store"))
    eng.add(_corpus(), NOW)
    eng.build_vector_index(cells=16, nprobe=3)
    return eng


def test_index_layout_and_meta(store):
    idx = store._dir("_ann_index")
    meta = store.vector_index_meta()
    assert meta is not None
    assert meta["cells"] == 16 and meta["nprobe"] == 3
    assert meta["version"] == store.table_version()
    assert meta["folder_sigs"]  # per-folder identity pinned for refresh
    assert meta["gen"].startswith("g-")  # tables live in a generation
    # (part=folder, cell=cid) layout: folder swap for refresh,
    # cell pruning for probes
    assign = os.path.join(ann_index.table_root(idx, meta), "assign")
    parts = [e for e in os.listdir(assign) if e.startswith("part=")]
    assert parts == ["part=corp"]
    cells = [
        e for e in os.listdir(os.path.join(assign, parts[0])) if e.startswith("cell=")
    ]
    assert 2 <= len(cells) <= 16
    # every indexed row is assigned to exactly one cell
    n_assigned = store.spark.read.parquet(assign).count()
    assert n_assigned == store.count()


def test_driver_probe_matches_spark_assignment(store):
    """Probing with a STORED vector must name that vector's own cell
    first — the driver-side fixed-point math mirrors the build."""
    idx = ann_index.table_root(store._dir("_ann_index"))
    assign = {
        int(r.id): int(r.cell)
        for r in store.spark.read.parquet(os.path.join(idx, "assign")).collect()
    }
    rows = store.table("memories").orderBy("id").limit(5).collect()
    for r in rows:
        cells = ann_index.probe_cells(store.spark, idx, list(r.embedding), 1)
        assert cells[0] == assign[r.id], r.id


def test_ann_recall_floor_vs_exact(store):
    """Top-10 recall of the ANN-served vector branch vs the exact
    scan, over queries restating stored texts. nprobe=3 of 16 cells
    scans ~1/5 of the corpus; the floor is far under the measured
    value so it guards regressions, not corpus noise."""
    queries = [
        "the cache subsystem handles item 3",
        "billing subsystem policy",
        "metrics note subsystem handles",
        "storage subsystem handles item",
        "the auth subsystem policy",
    ]
    recalls = []
    for q in queries:
        exact = {r.id for r in hybrid_search(
            store, q, k=10, auto_intent=False, now=NOW,
            vector_weight=1.0, feedback_weight=0.0, confidence_weight=0.0,
        ).collect()}
        approx = {r.id for r in hybrid_search(
            store, q, k=10, auto_intent=False, now=NOW, ann=True,
            vector_weight=1.0, feedback_weight=0.0, confidence_weight=0.0,
        ).collect()}
        recalls.append(len(exact & approx) / len(exact))
    mean = sum(recalls) / len(recalls)
    assert mean >= 0.5, recalls


def test_stale_index_falls_back_to_exact(spark, tmp_path):
    """Any mutation bumps the table version; ann=True must then give
    EXACTLY the exact-scan results (fallback, not a stale index)."""
    eng = MemoriesEngine(spark, str(tmp_path / "store"))
    eng.add(_corpus(60), NOW)
    eng.build_vector_index(cells=8, nprobe=2)
    assert eng.vector_index_meta() is not None

    eng.add([{"text": "fresh cache fact about item 3",
              "source": "corp/cache",
              "embedding": mock_embed("fresh cache fact about item 3")}], LATER)
    assert eng.vector_index_meta() is None  # stale now

    q = "cache fact about item 3"
    with_ann = [r.id for r in hybrid_search(
        eng, q, k=5, auto_intent=False, now=LATER, ann=True).collect()]
    exact = [r.id for r in hybrid_search(
        eng, q, k=5, auto_intent=False, now=LATER).collect()]
    assert with_ann == exact
    # the new row (an exact restatement) is findable — nothing is
    # silently served from the pre-mutation index
    new_id = eng.table("memories").agg(F.max("id")).first()[0]
    assert new_id in with_ann

    # rebuild refreshes the index; ann serving resumes
    eng.build_vector_index(cells=8, nprobe=2)
    assert eng.vector_index_meta() is not None


def test_refresh_reassigns_without_retraining(spark, tmp_path):
    """refresh_vector_index(): after mutations, one assignment pass
    against the EXISTING centroids restores freshness — new rows are
    ANN-servable, deleted rows leave the assignment."""
    eng = MemoriesEngine(spark, str(tmp_path / "store"))
    eng.add(_corpus(60), NOW)
    eng.build_vector_index(cells=8, nprobe=3)
    cents_before = sorted(
        (int(r.cid), int(r.sd), float(r.c))
        for r in spark.read.parquet(
            os.path.join(ann_index.table_root(eng._dir("_ann_index")), "centroids")
        ).collect()
    )

    [new_id] = eng.add([{"text": "fresh cache fact about item 3",
                         "source": "corp/cache",
                         "embedding": mock_embed("fresh cache fact about item 3")}],
                       LATER)
    eng.delete([0])
    assert eng.vector_index_meta() is None  # stale

    meta = eng.refresh_vector_index()
    assert eng.vector_index_meta() is not None
    assert meta["version"] == eng.table_version()
    # centroids untouched (no retraining)...
    cents_after = sorted(
        (int(r.cid), int(r.sd), float(r.c))
        for r in spark.read.parquet(
            os.path.join(ann_index.table_root(eng._dir("_ann_index")), "centroids")
        ).collect()
    )
    assert cents_after == cents_before
    # ...but the assignment reflects the mutations
    assigned = {
        int(r.id)
        for r in spark.read.parquet(
            os.path.join(ann_index.table_root(eng._dir("_ann_index")), "assign")
        ).collect()
    }
    assert new_id in assigned and 0 not in assigned
    # and the new row is ANN-servable (its own cell is probed for a
    # near-verbatim query)
    hits = [r.id for r in hybrid_search(
        eng, "fresh cache fact about item 3", k=5, auto_intent=False,
        now=LATER, ann=True).collect()]
    assert new_id in hits


def test_probe_runs_zero_spark_jobs_after_warmup(store):
    """probe_cells memoizes the collected centroid table on the
    centroid files' identity: after the first probe of an index
    build, a probe is pure driver math — zero Spark jobs."""
    idx = ann_index.table_root(store._dir("_ann_index"))
    sc = store.spark.sparkContext
    qvec = mock_embed("cache subsystem policy")
    ann_index.probe_cells(store.spark, idx, qvec, 3)  # warm-up
    sc.setJobGroup("probe-gate", "probe must not submit jobs")
    try:
        cells = ann_index.probe_cells(store.spark, idx, qvec, 3)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(cells) == 3
    assert list(sc.statusTracker().getJobIdsForGroup("probe-gate")) == []


def _python_rdd_scans(plan) -> int:
    """Scans of a Python-evaluated RDD (a ``createDataFrame(list)``
    input) anywhere in a physical plan: through adaptive query
    stages, cached relations and subqueries."""
    name = plan.getClass().getSimpleName()
    if name == "RDDScanExec":
        return int("PythonRDD" in plan.rdd().toDebugString())
    kids = [plan.children().apply(i) for i in range(plan.children().size())]
    kids += [plan.subqueries().apply(i) for i in range(plan.subqueries().size())]
    if name == "AdaptiveSparkPlanExec":
        kids.append(plan.executedPlan())
    elif name.endswith("QueryStageExec"):
        kids.append(plan.plan())
    elif name == "InMemoryTableScanExec":
        kids.append(plan.relation().cachedPlan())
    return sum(_python_rdd_scans(k) for k in kids)


def test_indexed_search_serving_cost(spark, tmp_path):
    """A warm indexed search is one candidate-sheet plan: at most 6
    Spark jobs (the BM25 branch is one pass over the pruned postings),
    no persisted RDD, and no Python-evaluated input
    anywhere in its plan (query terms and empty tables such as the
    absent feedback log enter as JVM LocalRelations)."""
    eng = MemoriesEngine(spark, str(tmp_path / "store"))
    eng.add(_corpus(60), NOW)
    eng.build_lexical_index()
    sc = spark.sparkContext
    query = "cache subsystem policy item"

    def search():
        return hybrid_search(eng, query, k=10, auto_intent=False, now=NOW,
                             lexical=True, graph_weight=0)

    for _ in range(2):  # warm the snapshot and the JIT
        warm = search()
        warm.collect()
        release_caches(warm)
    before = set(sc._jsc.getPersistentRDDs().keys())
    sc.setJobGroup("serving-cost", "one warm indexed search")
    try:
        df = search()
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = list(sc.statusTracker().getJobIdsForGroup("serving-cost"))
    try:
        assert len(rows) == 10
        assert len(jobs) <= 6, f"{len(jobs)} Spark jobs for one search"
        assert set(sc._jsc.getPersistentRDDs().keys()) <= before
        assert _python_rdd_scans(df._jdf.queryExecution().executedPlan()) == 0
    finally:
        release_caches(df)


def test_indexed_search_plan_build_cost(spark, tmp_path):
    """Building a warm indexed search's plan (no action) stays within
    a bounded number of py4j round trips. The session factory turns
    PySpark's per-call DataFrame origin capture off — with it on,
    every ``F.*``/Column call costs about five extra round trips, and
    one warm plan build took ~2,700 commands against ~1,190 without."""
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()
    eng = MemoriesEngine(spark, str(tmp_path / "store"))
    eng.add(_corpus(60), NOW)
    eng.build_lexical_index()

    def search():
        return hybrid_search(eng, "cache subsystem policy item", k=10,
                             auto_intent=False, now=NOW, lexical=True,
                             graph_weight=0)

    for _ in range(2):  # warm the snapshot
        warm = search()
        warm.collect()
        release_caches(warm)
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = []

    def counting(command, *args, **kwargs):
        # release notices of garbage-collected JVM references ride the
        # same channel whenever Python's GC runs; they are not plan work
        if not command.startswith("m\nd\n"):
            sent.append(command)
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        df = search()
    finally:
        client.send_command = send
    release_caches(df)
    assert len(sent) <= 1300, f"{len(sent)} py4j commands to build one search"


def test_graph_search_serving_cost(spark, tmp_path):
    """A warm graph-path search (graph_weight > 0) over an indexed
    store with links: one collect of the direct rows, ONE collect of
    PPR's seed edge ball, and the <= k merged rows joined to the
    snapshot — at most 17 Spark jobs. It persists no RDD, neither
    during the call nor after release, and has no Python-evaluated
    input in its plan (the merged rows are a JVM LocalRelation)."""
    eng = MemoriesEngine(spark, str(tmp_path / "store"))
    eng.add(_corpus(60), NOW)
    eng.add_links([(i, (7 * i + 3) % 60, "related_to") for i in range(0, 60, 2)], NOW)
    eng.build_lexical_index()
    sc = spark.sparkContext
    query = "cache subsystem policy item"

    def search():
        return hybrid_search(eng, query, k=10, auto_intent=False, now=NOW,
                             lexical=True, graph_weight=0.2)

    def persisted():
        return set(sc._jsc.getPersistentRDDs().keys())

    for _ in range(2):  # warm the snapshot and the JIT
        warm = search()
        warm.collect()
        release_caches(warm)
    before = persisted()
    sc.setJobGroup("graph-serving-cost", "one warm graph search")
    try:
        df = search()
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = list(sc.statusTracker().getJobIdsForGroup("graph-serving-cost"))
    try:
        assert len(rows) == 10
        assert {r.match_type for r in rows} - {"direct"}  # the merge ran
        assert len(jobs) <= 17, f"{len(jobs)} Spark jobs for one graph search"
        assert persisted() <= before  # nothing persisted by the call
        assert _python_rdd_scans(df._jdf.queryExecution().executedPlan()) == 0
    finally:
        release_caches(df)
    assert persisted() <= before


def _assign_snapshot(idx: str) -> dict[str, tuple]:
    """part dir -> sorted (file, size, mtime) — byte-identity per
    folder. Resolves the ACTIVE generation each call (refresh
    publishes a new one; unchanged folders ride over as hardlinks, so
    name/size/mtime identity still proves untouched bytes)."""
    assign = os.path.join(ann_index.table_root(idx), "assign")
    snap = {}
    for part in os.listdir(assign):
        if not part.startswith("part="):
            continue
        files = []
        for root, _, names in os.walk(os.path.join(assign, part)):
            for n in names:
                if n.endswith(".parquet"):
                    p = os.path.join(root, n)
                    files.append((os.path.relpath(p, assign), os.path.getsize(p),
                                  os.path.getmtime(p)))
        snap[part] = tuple(sorted(files))
    return snap


def test_refresh_is_incremental_per_folder(spark, tmp_path):
    """The round-3 verdict gate: a refresh after a single-folder
    mutation (a) scans ONLY that folder's memories partitions
    (PartitionFilters, physical pruning), (b) rewrites ONLY that
    folder's assignment partition — every other folder's assignment
    files are untouched bytes — and (c) serves the new row."""
    eng = MemoriesEngine(spark, str(tmp_path / "store"))
    recs = []
    for i in range(120):
        t = _TOPICS[i % 6]
        text = f"{t} subsystem note {i} handles item {i % 7}"
        recs.append({"text": text, "source": f"{t}/x", "embedding": mock_embed(text)})
    eng.add(recs, NOW)
    eng.build_vector_index(cells=8, nprobe=3)
    idx = eng._dir("_ann_index")

    before = _assign_snapshot(idx)
    assert len(before) == 6  # one assignment partition per folder

    [new_id] = eng.add(
        [{"text": "fresh cache subsystem note about item 3", "source": "cache/x",
          "embedding": mock_embed("fresh cache subsystem note about item 3")}],
        LATER,
    )
    assert eng.vector_index_meta() is None  # stale

    # (a) the changed-folder scan physically prunes to that folder
    plan = eng._live_vectors(["cache"])._jdf.queryExecution().explainString(
        eng._live_vectors(["cache"])._sc._jvm.org.apache.spark.sql.execution
        .ExplainMode.fromString("formatted")
    )
    assert "PartitionFilters" in plan and "cache" in plan, plan

    meta = eng.refresh_vector_index()
    assert meta["version"] == eng.table_version()
    assert eng.vector_index_meta() is not None

    after = _assign_snapshot(idx)
    # (b) only the mutated folder's assignment partition changed
    assert after["part=cache"] != before["part=cache"]
    for part in before:
        if part != "part=cache":
            assert after[part] == before[part], part
    # (c) the new row is assigned and ANN-servable
    assigned = {
        int(r.id)
        for r in spark.read.parquet(
            os.path.join(ann_index.table_root(idx), "assign")
        ).collect()
    }
    assert new_id in assigned
    hits = [r.id for r in hybrid_search(
        eng, "fresh cache subsystem note about item 3", k=5, auto_intent=False,
        now=LATER, ann=True).collect()]
    assert new_id in hits


def test_refresh_drops_removed_folder_partitions(spark, tmp_path):
    eng = MemoriesEngine(spark, str(tmp_path / "store"))
    recs = []
    for i in range(60):
        t = _TOPICS[i % 3]
        text = f"{t} subsystem note {i}"
        recs.append({"text": text, "source": f"{t}/x", "embedding": mock_embed(text)})
    eng.add(recs, NOW)
    eng.build_vector_index(cells=4, nprobe=2)
    idx = eng._dir("_ann_index")

    eng.delete_by_prefix("cache/")
    eng.refresh_vector_index()
    parts = {
        e
        for e in os.listdir(os.path.join(ann_index.table_root(idx), "assign"))
        if e.startswith("part=")
    }
    assert parts == {"part=database", "part=queue"}
    assert eng.vector_index_meta() is not None


def test_refresh_to_empty_store_falls_back_to_exact(spark, tmp_path):
    """Deleting everything then refreshing must NOT leave a part-less
    assignment a reader would choke on: the meta is removed, the
    serving path takes the exact-scan fallback, and searches still
    run (advice r3: empty-refresh AnalysisException)."""
    eng = MemoriesEngine(spark, str(tmp_path / "store"))
    eng.add(
        [{"text": f"cache note {i}", "source": "cache/x",
          "embedding": mock_embed(f"cache note {i}")} for i in range(20)],
        NOW,
    )
    eng.build_vector_index(cells=4, nprobe=2)
    assert eng.delete_by_prefix("cache/") == 20
    out = eng.refresh_vector_index()
    assert out.get("empty") is True
    assert eng.vector_index_meta() is None
    rows = hybrid_search(eng, "cache note", k=5, auto_intent=False,
                         now=LATER, ann=True).collect()
    assert rows == []


def test_refresh_upgrades_legacy_cell_only_layout(spark, tmp_path):
    """An index written by the pre-(part,cell) layout (assignment
    partitioned by cell only, meta without folder signatures) must
    upgrade cleanly on refresh: the per-folder swap would otherwise
    mix cell= and part= dirs and Spark's partition discovery rejects
    the directory outright."""
    import json
    import shutil

    eng = MemoriesEngine(spark, str(tmp_path / "store"))
    eng.add(_corpus(60), NOW)
    eng.build_vector_index(cells=4, nprobe=2)
    idx = eng._dir("_ann_index")

    # retrofit the OLD layout: tables at the index ROOT (no generation
    # dir), assignment flattened part=corp/cell=N -> cell=N, meta
    # without folder_sigs or gen
    gen_root = ann_index.table_root(idx)
    assign = os.path.join(idx, "assign")
    os.makedirs(assign)
    for e in os.listdir(os.path.join(gen_root, "assign", "part=corp")):
        if e.startswith("cell="):
            os.rename(
                os.path.join(gen_root, "assign", "part=corp", e),
                os.path.join(assign, e),
            )
    os.rename(os.path.join(gen_root, "centroids"), os.path.join(idx, "centroids"))
    shutil.rmtree(gen_root)
    meta_path = os.path.join(idx, "meta.json")
    meta = json.loads(open(meta_path).read())
    meta.pop("folder_sigs", None)
    meta.pop("gen", None)
    open(meta_path, "w").write(json.dumps(meta))

    eng.add([{"text": "fresh cache fact", "source": "corp/cache",
              "embedding": mock_embed("fresh cache fact")}], LATER)
    out = eng.refresh_vector_index()
    assert out["version"] == eng.table_version()
    new_assign = os.path.join(ann_index.table_root(idx), "assign")
    entries = {e for e in os.listdir(new_assign) if "=" in e}
    assert entries == {"part=corp"}  # clean new layout, no stragglers
    n = spark.read.parquet(new_assign).count()
    assert n == 61
    hits = [r.id for r in hybrid_search(eng, "fresh cache fact", k=5,
                                        auto_intent=False, now=LATER,
                                        ann=True).collect()]
    assert len(hits) == 5


def test_refresh_handles_hive_escaped_folder_names(spark, tmp_path):
    """Folder values that Hive-escape in partition dir names (spaces,
    %, #) must round-trip through signature diffing and the
    per-folder assignment swap — a raw/escaped mismatch would either
    re-assign everything or drop the wrong partition."""
    eng = MemoriesEngine(spark, str(tmp_path / "store"))
    weird = ["my docs", "a%b", "c#d", "plain"]
    recs = []
    for i in range(80):
        f = weird[i % len(weird)]
        text = f"{f} note {i} about subsystem {i % 5}"
        recs.append({"text": text, "source": f"{f}/x", "embedding": mock_embed(text)})
    eng.add(recs, NOW)
    eng.build_vector_index(cells=4, nprobe=2)
    idx = eng._dir("_ann_index")
    meta = eng.vector_index_meta()
    assert set(meta["folder_sigs"]) == set(weird)

    before = _assign_snapshot(idx)
    [new_id] = eng.add(
        [{"text": "my docs fresh note about subsystem 1", "source": "my docs/x",
          "embedding": mock_embed("my docs fresh note about subsystem 1")}],
        LATER,
    )
    eng.refresh_vector_index()
    after = _assign_snapshot(idx)
    from urllib.parse import unquote

    changed = {p for p in before if after.get(p) != before[p]}
    # exactly the mutated folder's partition changed (dir names may or
    # may not be %-escaped depending on the char; unquote normalizes)
    assert {unquote(p[len("part="):]) for p in changed} == {"my docs"}
    assigned = {
        int(r.id)
        for r in spark.read.parquet(
            os.path.join(ann_index.table_root(idx), "assign")
        ).collect()
    }
    assert new_id in assigned and len(assigned) == 81

def test_refresh_never_disturbs_inflight_readers(spark, tmp_path):
    """Generation-publishing contract (round-5 review finding): a
    candidate plan bound to the active generation keeps executing
    correctly even after a mutation + refresh publish a new one — the
    previous generation is retained for one publish, so the old
    in-place folder swap's FileNotFound (or mixed-generation read)
    cannot happen."""
    eng = MemoriesEngine(spark, str(tmp_path / "store"))
    eng.add(_corpus(60), NOW)
    eng.build_vector_index(cells=4, nprobe=2)
    meta = eng.vector_index_meta()
    qvec = mock_embed("cache subsystem policy")

    cand = eng.vector_candidates(qvec, meta)  # plan bound to gen
    expected = sorted(int(r.id) for r in cand.collect())
    assert expected

    eng.add([{"text": "fresh cache fact", "source": "corp/cache",
              "embedding": mock_embed("fresh cache fact")}], LATER)
    eng.refresh_vector_index()

    got = sorted(int(r.id) for r in cand.collect())
    assert got == expected  # old generation intact through the publish

    # a NEW reader (fresh meta) sees the refreshed assignment
    meta2 = eng.vector_index_meta()
    assert meta2["gen"] != meta["gen"]
    idx = eng._dir("_ann_index")
    gens = [e for e in os.listdir(idx) if e.startswith("g-")]
    assert len(gens) == 2  # active + one retained for in-flight readers


def test_reader_survives_multiple_refreshes(spark, tmp_path):
    """Round-5 advice (medium): one-publish retention pushed the
    FILE_NOT_EXIST crash one refresh further out — a lazy plan bound
    to generation g0 survived one refresh, then a SECOND refresh
    rmtree'd g0 and the scan died. Displaced generations are now
    retained GEN_RETAIN publishes (hardlink dirs, not copies), so a
    reader survives a burst of refreshes; only generations older than
    the backstop are reclaimed."""
    from memories_spark.operators.ann_index import GEN_RETAIN

    eng = MemoriesEngine(spark, str(tmp_path / "store"))
    eng.add(_corpus(60), NOW)
    eng.build_vector_index(cells=4, nprobe=2)
    meta = eng.vector_index_meta()
    qvec = mock_embed("cache subsystem policy")

    cand = eng.vector_candidates(qvec, meta)  # plan bound to g0
    expected = sorted(int(r.id) for r in cand.collect())
    assert expected

    for i in range(4):  # four mutation+refresh publishes, reader idle
        eng.add([{"text": f"burst cache fact {i}", "source": "corp/cache",
                  "embedding": mock_embed(f"burst cache fact {i}")}], LATER)
        eng.refresh_vector_index()

    got = sorted(int(r.id) for r in cand.collect())
    assert got == expected  # g0 still fully readable after 4 publishes

    idx = eng._dir("_ann_index")
    meta_now = eng.vector_index_meta()
    gens = {e for e in os.listdir(idx) if e.startswith("g-")}
    assert meta["gen"] in gens  # the bound generation was retained
    assert set(meta_now.get("prev_gens", [])) | {meta_now["gen"]} == gens
    assert len(gens) <= GEN_RETAIN + 1


def test_rebuild_caps_fullcopy_generation_retention(spark, tmp_path):
    """Round-6 advice (low): refresh generations are hardlink-shared,
    but a REBUILD writes all-new data files — retaining GEN_RETAIN of
    those would stockpile up to ~9x the index in full copies. Repeated
    builds must cap displaced generations at GEN_RETAIN_REBUILD."""
    from memories_spark.operators.ann_index import GEN_RETAIN_REBUILD

    eng = MemoriesEngine(spark, str(tmp_path / "store"))
    eng.add(_corpus(30), NOW)
    idx = eng._dir("_ann_index")
    for _ in range(GEN_RETAIN_REBUILD + 3):
        eng.build_vector_index(cells=4, nprobe=2)
        gens = [e for e in os.listdir(idx) if e.startswith("g-")]
        assert len(gens) <= GEN_RETAIN_REBUILD + 1, gens
    meta = eng.vector_index_meta()
    assert len(meta.get("prev_gens", [])) <= GEN_RETAIN_REBUILD
    # the active generation always survives its own publish
    assert meta["gen"] in set(os.listdir(idx))


def test_centroid_probe_memo_thread_safe(spark, tmp_path):
    """Regression for the rounds-5/6 indexed-serving full-suite flake,
    finally NAMED by the loadtest error payloads: concurrent probes
    insert into the module-global centroid memo while its stale-prune
    loop iterates it — 'RuntimeError: dictionary changed size during
    iteration'. Two engines' probes hammer the memo from parallel
    threads while each iteration forces a re-insert (popping its own
    key) and seeds a fresh stale key for the prune loop to walk."""
    import threading

    from memories_spark.operators import ann_index as ai

    engines = []
    for name in ("a", "b"):
        eng = MemoriesEngine(spark, str(tmp_path / name))
        eng.add([{"text": f"{name} note {i}", "source": f"corp/{name}",
                  "embedding": mock_embed(f"{name} note {i}")}
                 for i in range(8)], NOW)
        eng.build_vector_index(cells=2, nprobe=1)
        engines.append(eng)
    qvec = [float(x) for x in mock_embed("probe text")]
    metas = [e.vector_index_meta() for e in engines]
    keys = [
        ai._memo_key(ai.table_root(e._dir("_ann_index"), m))
        for e, m in zip(engines, metas)
    ]

    errors: list[str] = []
    barrier = threading.Barrier(2)

    def worker(i: int) -> None:
        eng, meta, key = engines[i], metas[i], keys[i]
        barrier.wait()
        try:
            for j in range(20):
                ai._CENTROID_MEMO.pop(key, None)  # force a re-insert
                # a dead key for the prune loop to walk mid-iteration
                ai._CENTROID_MEMO.setdefault(f"/nonexistent/{i}/{j}", ((), {}))
                eng.vector_candidates(qvec, meta).count()
        except Exception as e:  # noqa: BLE001 — the soak records it
            errors.append(f"{type(e).__name__}: {e}")

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == [], errors


def test_rebuild_keeps_refresh_chain_for_inflight_readers(spark, tmp_path):
    """Round-7 review: the rebuild cap must apply per displaced
    generation's COST CLASS, not per publish kind — a rebuild after a
    refresh burst keeps the hardlink-cheap refresh chain (an in-flight
    reader may be bound anywhere in it) and caps only build-produced
    full copies."""
    eng = MemoriesEngine(spark, str(tmp_path / "store"))
    eng.add(_corpus(60), NOW)
    eng.build_vector_index(cells=4, nprobe=2)
    qvec = mock_embed("cache subsystem policy")

    # one refresh, then bind a reader to the refresh-produced gen
    eng.add([{"text": "chain fact 0", "source": "corp/cache",
              "embedding": mock_embed("chain fact 0")}], LATER)
    eng.refresh_vector_index()
    bound_meta = eng.vector_index_meta()
    assert bound_meta.get("gen_kind") == "refresh"
    cand = eng.vector_candidates(qvec, bound_meta)
    expected = sorted(int(r.id) for r in cand.collect())
    assert expected

    for i in range(1, 3):  # push the bound gen deeper into prev_gens
        eng.add([{"text": f"chain fact {i}", "source": "corp/cache",
                  "embedding": mock_embed(f"chain fact {i}")}], LATER)
        eng.refresh_vector_index()

    eng.build_vector_index(cells=4, nprobe=2)  # the REBUILD

    # the refresh-kind generation the reader is bound to survived
    meta_now = eng.vector_index_meta()
    assert bound_meta["gen"] in meta_now.get("prev_gens", [])
    assert meta_now["gen_kind"] == "build"
    got = sorted(int(r.id) for r in cand.collect())
    assert got == expected  # reader unharmed by the rebuild
