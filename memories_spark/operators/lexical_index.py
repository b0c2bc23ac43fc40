"""Engine-level persisted BM25 (lexical) index: build once, serve
query terms from pruned postings reads — the lexical twin of the IVF
vector index (``operators/ann_index.py``).

The reference keeps its BM25 index persistent between queries and
rebuilds it on writes (reference memory_engine.py:224-232, 619); the
inline serving path here instead re-derived term statistics from the
FULL corpus on every search — tokenize + explode + three shuffles per
query, the last full-corpus-per-query cost in the hot path. This
module hoists that work into a persisted index:

Layout (``<store>/_lexical_index/``): ``meta.json`` at the root names
the active immutable GENERATION dir (``g-<hex>/``) holding the two
per-folder tables — build/refresh publish a complete new generation
(hardlinking unchanged folders) and swap the meta atomically, so
in-flight readers bound to the previous generation (retained one
publish) never race a refresh; see the generation-publishing note in
``ann_index.py``. Inside a generation:

- ``postings/part=<folder>/`` — ``(id, term, tf, dl)`` partitioned by
  the store's folder and sorted by ``term`` within each file, so a
  query's ``In(term)`` predicate prunes row groups via parquet min/max
  stats. At 100 TB a 5-term query touches a handful of row groups per
  folder, not the corpus. Each row carries its document's length
  ``dl``, so the pruned read is all a query needs: a search scores
  BM25 in one pass over it, taking each term's df as its row count
  and ``dl`` off the row (see :func:`query_stats`).
- ``term_df/part=<folder>/`` — ``(term, df)``, the folder's document
  frequencies. A document lives in exactly one folder, so the
  vocabulary df is the sum of the folder partials.

``meta.json`` pins the table version, the per-folder file signatures,
each folder's ``(n, sum_dl)`` (documents with at least one token, and
their total length), the active generation name and the three BM25
corpus scalars of that generation: ``n``, ``avgdl`` and ``a`` (the
vocabulary-average raw IDF the epsilon floor uses, the exact
fixed-point mean of :func:`bm25_op.avg_raw_idf`). The scalars ride the
atomic meta swap with the generation they describe, so a reader never
pairs new postings with old scalars.

Maintenance (``refresh_lexical``): the engine diffs its per-folder
file signatures and re-tokenizes ONLY the changed folders (a
partition-pruned scan) in one pass that writes their postings and
``term_df`` partials and returns their ``(n, sum_dl)``; unchanged
folders' files are carried forward as hardlinks and removed folders
are dropped — the same O(changed data) catch-up as ``refresh_ivf``.
Every document mutation perturbs ``a`` (it averages over the whole
vocabulary), so ``a`` is re-derived by one aggregation over all
folders' ``term_df`` partials ending in a 1-row collect; ``n`` and
``avgdl`` are exact integer sums of the per-folder stats. No
unchanged folder's postings are read. A refresh after a write to one
folder costs 7 Spark jobs whatever the corpus size: 4 for the
tokenize pass (its cache, the postings write, the ``term_df`` write
and the folder-stats collect) and 3 for the ``a`` aggregation. A
refresh or build over several folders adds one shuffle job.

Staleness: the meta pins the store's table version; consumers compare
and fall back to the inline full-corpus build after any mutation, so
results are never silently stale. An emptied store refreshes to an
EMPTY index (all partitions dropped, ``n`` = 0) that serves exactly
what the inline build would — zero lexical rows — and resumes
incremental maintenance when documents return. The meta is always the
LAST artifact written (build and refresh rename a fully-populated tmp
dir into place before the meta swap), so a crashed build or refresh
can never leave a fresh-looking meta over missing tables.
"""

from __future__ import annotations

import os
import uuid
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from memories_spark.functions.texttools import tokens_expr
from memories_spark.operators import bm25 as bm25_op

# the meta.json + generation-publishing contract is shared by every
# persisted index (corrupt/missing meta reads as "no index" -> inline
# fallback; see the generation note in ann_index.py)
from memories_spark.operators.ann_index import (
    retain_generations,  # noqa: F401
    gc_generations,
    link_tree,
    new_gen_name,
    publish_meta,
    read_meta,
    table_root,
)

#: Root-level table dirs of the legacy pre-generation layout (GC'd one
#: publish after migration).
_TABLES = ("postings", "doc_stats", "term_idf", "corpus")

#: The per-folder tables of a generation.
_FOLDER_TABLES = ("postings", "term_df")

#: Partition value used when the caller supplies no part column.
DEFAULT_PART = "(all)"

_POSTINGS_SCHEMA = "id long, term string, tf long, dl long, part string"
_TERM_DF_SCHEMA = "term string, df long, part string"

FORMAT_VERSION = 3  # 3: per-folder term_df partials, BM25 scalars in the meta


def _with_part(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    cols = [F.col(id_col).alias("id"), F.col(text_col).alias("text")]
    part = (
        F.col("part") if "part" in docs.columns else F.lit(DEFAULT_PART)
    ).alias("part")
    return docs.select(*cols, part)


def _write_folders(
    docs: DataFrame, id_col: str, text_col: str, dest: str, n_folders: int
) -> dict[str, list[int]]:
    """One tokenize pass over ``docs`` (the ``n_folders`` folders
    being written) writes each folder's postings (term-sorted within
    each file, for row-group pruning of In(term)) and ``term_df``
    partial, and returns each folder's ``[n, sum_dl]``.

    The token rows are clustered by folder ONCE (the same
    ``tokens_expr`` split as :func:`bm25_op.tokenize_terms`): the tf
    aggregation, the ``dl`` window over each document and every
    per-folder output below then need no further shuffle. They are
    cached for the three outputs and released before returning, so
    the pass costs five Spark jobs (four for one folder)."""
    d = _with_part(docs, id_col, text_col)
    toks = d.select("part", "id", F.explode(tokens_expr("text")).alias("term"))
    # a single folder (the usual refresh) is clustered by one
    # partition without a shuffle; several are hash-partitioned by folder
    toks = toks.coalesce(1) if n_folders <= 1 else toks.repartition(n_folders, "part")
    tf = toks.groupBy("part", "id", "term").agg(F.count("*").alias("tf"))
    post = tf.withColumn(
        "dl", F.sum("tf").over(Window.partitionBy("part", "id"))
    ).persist()
    try:
        (
            post.sortWithinPartitions("part", "term")
            .select("id", "term", "tf", "dl", "part")
            .write.partitionBy("part")
            .parquet(os.path.join(dest, "postings"))
        )
        (
            post.groupBy("part", "term")
            .agg(F.count("*").alias("df"))
            .write.partitionBy("part")
            .parquet(os.path.join(dest, "term_df"))
        )
        rows = (
            post.groupBy("part")
            .agg(F.count_distinct("id").alias("n"), F.sum("tf").alias("sum_dl"))
            .collect()
        )
    finally:
        post.unpersist(blocking=True)
    return {r.part: [int(r.n), int(r.sum_dl)] for r in rows}


def _scalars(
    spark: SparkSession, root: str, folder_stats: dict[str, list[int]]
) -> dict:
    """The generation's BM25 corpus scalars ``n``, ``avgdl`` and ``a``.

    ``n`` and ``avgdl`` are the integer sums of the per-folder stats
    (``avgdl`` is the same double division the inline build does).
    ``a`` needs every term's vocabulary df: one aggregation over all
    folders' ``term_df`` partials, ending in a 1-row collect. An empty
    index has no vocabulary, so it skips Spark and serves nothing."""
    n = sum(s[0] for s in folder_stats.values())
    if n == 0:
        return {"n": 0, "avgdl": None, "a": None}
    sum_dl = sum(s[1] for s in folder_stats.values())
    df_tab = (
        spark.read.schema(_TERM_DF_SCHEMA)
        .parquet(os.path.join(root, "term_df"))
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
    )
    [row] = df_tab.agg(
        bm25_op.avg_raw_idf(bm25_op.raw_idf(F.lit(float(n)), F.col("df"))).alias("a")
    ).collect()
    return {"n": n, "avgdl": float(sum_dl) / n, "a": row.a}


def build_lexical(
    spark: SparkSession,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    index_dir: str,
    version: int = 0,
    folder_sigs: dict[str, str] | None = None,
) -> dict:
    """Full build: tokenize the whole corpus once, write every
    folder's postings and ``term_df`` partial, derive the scalars, pin
    version + folder signatures. ``docs`` may carry a ``part`` column
    (the store folder) for incremental maintenance.

    Every table lands in a tmp dir first, is renamed into place as a
    complete immutable GENERATION, and only then does the atomic meta
    swap publish it together with its scalars (see the
    generation-publishing note in ``operators/ann_index.py``): an
    interrupted build leaves the old index fully intact, and a
    concurrent reader bound to the previous generation keeps scoring
    against a complete, consistent index."""
    prev = read_meta(index_dir)
    os.makedirs(index_dir, exist_ok=True)
    gen = new_gen_name()
    tmp = os.path.join(index_dir, f".tmp-{uuid.uuid4().hex[:8]}")
    os.makedirs(tmp, exist_ok=True)
    stats = _write_folders(docs, id_col, text_col, tmp, len(folder_sigs or {}))
    meta = {
        "version": int(version),
        "format_version": FORMAT_VERSION,
        "folder_sigs": folder_sigs or {},
        "folder_stats": stats,
        **_scalars(spark, tmp, stats),
        "gen": gen,
    }
    keep = retain_generations(meta, prev, rebuild=True)
    os.rename(tmp, os.path.join(index_dir, gen))
    publish_meta(index_dir, meta)
    legacy = _TABLES if prev and prev.get("gen") else ()
    gc_generations(index_dir, keep, legacy)
    return meta


def refresh_lexical(
    spark: SparkSession,
    docs_changed: DataFrame | None,
    id_col: str,
    text_col: str,
    index_dir: str,
    version: int,
    changed: list[str],
    removed: list[str],
    folder_sigs: dict[str, str],
) -> dict:
    """Incremental catch-up: re-tokenize only ``changed`` folders
    (``docs_changed`` is the partition-pruned scan of exactly those)
    into their postings and ``term_df`` partials, drop ``removed``
    folders, leave every other folder's files untouched — then
    re-derive the scalars from all folders' ``term_df`` partials and
    pin them with the new version + signatures.

    A store that went EMPTY is just the all-folders-removed case:
    every partition is dropped, ``n`` goes to 0, and the meta stays
    pinned — serving from the empty-fresh index equals the inline
    build over the empty store (zero BM25 rows), and the NEXT refresh
    resumes incrementally when documents return (removing the meta
    here would strand maintenance on a ValueError).

    The refresh NEVER mutates the published generation: changed
    folders' tables are written fresh into a NEW generation dir,
    every unchanged folder's files are carried forward as hardlinks
    (same bytes, O(1) IO each), and the atomic meta swap publishes the
    generation with its scalars — in-flight readers bound to the
    previous generation (retained one publish) keep scoring against a
    complete, consistent index, never NEW postings paired with OLD
    scalars and never a partition rmtree'd out from under a running
    scan."""
    meta = read_meta(index_dir)
    if meta is None:
        raise ValueError(f"no lexical index at {index_dir} to refresh")

    # capture displaced cost kinds before mutating the meta (see
    # ann_index.retain_generations)
    prev_meta_before = {
        "gen": meta["gen"],
        "prev_gens": list(meta.get("prev_gens", [])),
        "gen_kind": meta.get("gen_kind", "refresh"),
        "prev_gen_kinds": dict(meta.get("prev_gen_kinds", {}) or {}),
    }
    touched = set(changed) | set(removed)
    if touched:
        cur_root = table_root(index_dir, meta)
        gen = new_gen_name()
        tmp = os.path.join(index_dir, f".tmp-{uuid.uuid4().hex[:8]}")
        stats = {f: s for f, s in meta["folder_stats"].items() if f not in touched}
        if changed and docs_changed is not None:
            stats.update(
                _write_folders(docs_changed, id_col, text_col, tmp, len(changed))
            )
        # carry every untouched folder forward as hardlinks
        for sub in _FOLDER_TABLES:
            os.makedirs(os.path.join(tmp, sub), exist_ok=True)
            for e in os.listdir(os.path.join(cur_root, sub)):
                if e.startswith("part=") and unquote(e[len("part="):]) not in touched:
                    link_tree(os.path.join(cur_root, sub, e), os.path.join(tmp, sub, e))
        meta.update(folder_stats=stats, **_scalars(spark, tmp, stats))
        os.rename(tmp, os.path.join(index_dir, gen))
        meta["gen"] = gen
    meta["version"] = int(version)
    meta["folder_sigs"] = dict(folder_sigs)
    keep = retain_generations(meta, prev_meta_before)
    publish_meta(index_dir, meta)
    gc_generations(index_dir, keep, _TABLES)
    return meta


def query_stats(
    spark: SparkSession, index_dir: str, meta: dict, query_terms: list[str]
) -> dict:
    """The stats :func:`bm25_op.bm25_scores` consumes, served from the
    generation at ``index_dir`` and the scalars of the ``meta`` that
    names it: the term-pruned ``postings(id, term, tf, dl)`` frame and
    the meta's ``n``, ``a`` and ``avgdl``.

    The postings read carries an ``In(term)`` predicate (row-group
    pruned via the term-sorted layout) and is the only file a search
    opens. Postings hold one row per ``(id, term)``, so a query term's
    row count there IS its vocabulary df, and each row carries its
    document's length ``dl``: ``bm25_scores`` derives both from this
    one frame in a single pass, and the O(corpus) document lengths
    stay out of the query path. Explicit schema so an index that went
    empty reads as zero rows, not a schema-inference failure."""
    postings = (
        spark.read.schema(_POSTINGS_SCHEMA)
        .parquet(os.path.join(index_dir, "postings"))
        .filter(F.col("term").isin(sorted(set(query_terms))))
        .select("id", "term", "tf", "dl")
    )
    return {"postings": postings, **{k: meta[k] for k in ("n", "a", "avgdl")}}
