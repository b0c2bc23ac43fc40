"""BM25 (Okapi) scoring as pure DataFrame algebra.

Reproduces the exact rank_bm25 0.2.2 ``BM25Okapi`` variant the
reference depends on (reference memory_engine.py:224-232,
pyproject.toml:17): k1=1.5, b=0.75 and the epsilon floor — IDFs are
``ln((N - df + 0.5) / (df + 0.5))`` and *negative* IDFs are replaced
by ``eps * average_idf`` with eps=0.25, where ``average_idf`` is the
mean IDF over the whole vocabulary (including the negatives).

Scale design: the reference rebuilds BM25 over the full corpus on
every write — O(N) per write. Here the term statistics are either
derived inline (:func:`build_term_stats`: ``terms``, ``doc_stats``,
corpus scalars, one shuffle each, joinable against any query set) or
read from the persisted lexical index (``operators/lexical_index.py``:
term-sorted postings pruned to the query terms, plus the corpus
scalars its meta pins), which is refreshed per changed folder instead
of rebuilt. :func:`bm25_scores` scores both shapes with one
fixed-point contribution.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from memories_spark.functions.hashing import fixed_point, unfix
from memories_spark.functions.texttools import tokens_expr
from memories_spark.session import local_frame

K1 = 1.5
B = 0.75
EPSILON = 0.25
SCORE_SCALE = 9  # fixed-point digits for order-independent score sums


IDF_SCALE = 12  # fixed-point digits for the vocabulary-average IDF


def tokenize_terms(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``(id, term, tf)`` postings from a document corpus — the only
    stage that touches raw text. Everything else in BM25 derives from
    this table, which is what the persisted lexical index stores."""
    # NOT spread_for_compute'd (measured): tokenize is one regex split
    # per row, and the BM25 stats fan-out runs its copies of this
    # subtree as concurrent independent stages — adding an exchange
    # here cost more (extra AQE round + shuffle) than the parallelism
    # repaid (isolated postings noop A/B: 0.74s -> 1.08s at sf0.1).
    toks = docs.select(
        F.col(id_col).alias("id"), F.explode(tokens_expr(text_col)).alias("term")
    )
    return toks.groupBy("id", "term").agg(F.count("*").alias("tf"))


def raw_idf(n: Column, df: Column) -> Column:
    """rank_bm25's unfloored IDF ``ln((N - df + 0.5) / (df + 0.5))``."""
    return F.log((n - df + F.lit(0.5)) / (df + F.lit(0.5)))


def avg_raw_idf(raw: Column) -> Column:
    """Aggregate: the vocabulary-average raw IDF ``a`` as an exact
    fixed-point integer mean at 1e12 (negatives included, rank_bm25
    semantics) — partition-order independent and identical in the
    DuckDB oracle."""
    return (
        F.sum(fixed_point(raw, IDF_SCALE)).cast("double")
        / F.count("*")
        / F.lit(float(10**IDF_SCALE))
    )


def floor_idf(raw: Column, a: Column) -> Column:
    """The epsilon floor: a negative raw IDF becomes ``eps * a``."""
    return F.when(raw < 0, F.lit(EPSILON) * a).otherwise(raw)


def build_term_stats(docs: DataFrame, id_col: str, text_col: str) -> dict[str, DataFrame]:
    """Tokenize and derive the global BM25 statistics in one lazy plan.

    Fully lazy — no driver actions. Scalar corpus statistics
    (N, avgdl, avg raw IDF) are 1-row DataFrames that downstream
    plans broadcast-cross-join, so scoring is ONE Spark job end to
    end. The vocabulary-average IDF is an exact fixed-point integer
    mean, making it partition-order independent and identical in the
    DuckDB oracle.

    ``dl`` (per-doc length) equals ``sum(tf)`` over the postings,
    which is just the token count — so doc lengths come from a
    shallow one-scan projection instead of the
    tokenize→explode→groupBy subtree. That removes one of the four
    postings-subtree consumers from the plan (smaller logical plan →
    cheaper per-invocation Catalyst analysis, one fewer tokenize
    stage at execution). The ``dl > 0`` filter keeps it
    value-identical: a doc with zero tokens has no postings rows and
    is therefore absent from the aggregated version too (and from
    ``corpus``'s N/avgdl).

    Returns ``terms(id, term, tf)``, ``doc_stats(id, dl)``,
    ``corpus(n, avgdl)``, ``raw_idf(term, raw_idf)`` (unfloored,
    vocabulary-wide) and ``avg_idf(a)``.
    """
    terms = tokenize_terms(docs, id_col, text_col)
    doc_stats = docs.select(
        F.col(id_col).alias("id"),
        F.size(tokens_expr(text_col)).cast("long").alias("dl"),
    ).filter(F.col("dl") > 0)
    # dl are BIGINTs: the sum is exact, so avg is engine-identical.
    corpus = doc_stats.agg(
        F.count("*").cast("double").alias("n"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )

    df_tab = terms.groupBy("term").agg(F.count("*").alias("df"))
    with_idf = df_tab.crossJoin(F.broadcast(corpus)).select(
        "term", raw_idf(F.col("n"), F.col("df")).alias("raw_idf")
    )
    avg_idf = with_idf.agg(avg_raw_idf(F.col("raw_idf")).alias("a"))
    # unfloored: bm25_scores applies the epsilon floor per
    # contribution row (see its inline branch)
    return {
        "terms": terms,
        "doc_stats": doc_stats,
        "corpus": corpus,
        "raw_idf": with_idf,
        "avg_idf": avg_idf,
    }


def bm25_scores(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    stats: dict | None = None,
) -> DataFrame:
    """Score every matching document for a bag of query terms.

    Returns ``(id, score)`` with ``score`` rounded from an exact
    fixed-point sum (order-independent across engines/partitionings).
    Query term multiplicity counts, like rank_bm25's per-token loop.

    ``stats`` comes in two shapes, both scored by the one fixed-point
    contribution below:

    - inline (:func:`build_term_stats`, the default): the query-term
      list joins the vocabulary's raw IDF first, the result
      broadcasts into the posting join, and the epsilon floor is
      applied per contribution row;
    - the persisted lexical index (:func:`lexical_index.query_stats`):
      the term-pruned ``postings(id, term, tf, dl)`` frame plus the
      generation's scalars ``n``, ``a`` and ``avgdl``.

    Plan shape of the lexical-index branch: ONE pass over the pruned
    postings. The query-term counts join as a broadcast LocalRelation,
    each term's df is ``count(*) over (partition by term)`` on those
    rows (postings hold one row per ``(id, term)``, so the count IS
    the vocabulary df), ``dl`` is read off the row itself, and the
    IDF takes ``n`` and ``a`` as literals. That is two shuffles — by
    term for the df, by id for the sum — and one postings scan.
    """
    spark = docs.sparkSession
    stats = stats or build_term_stats(docs, id_col, text_col)

    # query-term multiplicities counted on the driver: a JVM
    # LocalRelation broadcasts without a job, an aggregate over it
    # would cost a shuffle per search
    qcount = local_frame(
        spark, sorted(Counter(query_terms).items()), "term string, qtf long"
    )

    if "postings" in stats:
        contrib = (
            stats["postings"].join(F.broadcast(qcount), "term")
            .withColumn("df", F.count("*").over(Window.partitionBy("term")))
        )
        raw = raw_idf(F.lit(float(stats["n"])), F.col("df"))
        idf = floor_idf(raw, F.lit(stats["a"]))
        avgdl = F.lit(stats["avgdl"])
    else:
        # Inline stats: floor the IDF per contribution row instead of
        # a pre-floored vocabulary join — the vocabulary-mean branch
        # (avg_idf) broadcasts into the FINAL projection rather than
        # gating the query-term join, so the two full-vocabulary
        # aggregations overlap with the postings join instead of
        # running serially ahead of it.
        qidf = stats["raw_idf"].join(F.broadcast(qcount), "term")
        contrib = (
            stats["terms"].join(F.broadcast(qidf), "term")
            .join(stats["doc_stats"], "id")
            .crossJoin(F.broadcast(stats["corpus"].select("avgdl")))
            .crossJoin(F.broadcast(stats["avg_idf"]))
        )
        idf = floor_idf(F.col("raw_idf"), F.col("a"))
        avgdl = F.col("avgdl")

    contrib = contrib.select(
        "id",
        fixed_point(
            F.col("qtf")
            * idf
            * (F.col("tf") * (K1 + 1))
            / (F.col("tf") + K1 * (1 - B + B * F.col("dl") / avgdl)),
            SCORE_SCALE,
        ).alias("c"),
    )
    return contrib.groupBy("id").agg(unfix(F.sum("c"), SCORE_SCALE).alias("score"))


def bm25_sql(
    docs_view: str,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k: int | None = None,
    round_dp: int = 6,
) -> str:
    """DuckDB oracle SQL mirroring :func:`bm25_scores` exactly.

    The fixed-point trick makes the per-doc sum identical regardless
    of each engine's aggregation order.
    """
    qvals = ", ".join(f"('{t}')" for t in query_terms)
    limit = (
        f"ORDER BY score DESC, {id_col} ASC LIMIT {k}" if k else f"ORDER BY {id_col}"
    )
    return f"""
WITH toks AS (
  SELECT {id_col}, unnest(list_filter(regexp_split_to_array(lower(trim({text_col})), '\\s+'), t -> t != '')) AS term
  FROM {docs_view}
),
terms AS (SELECT {id_col}, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
doc_stats AS (SELECT {id_col}, CAST(sum(tf) AS BIGINT) AS dl FROM terms GROUP BY 1),
corpus AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM doc_stats),
dfreq AS (SELECT term, CAST(count(DISTINCT {id_col}) AS DOUBLE) AS df FROM terms GROUP BY 1),
rawidf AS (SELECT term, ln(((SELECT n FROM corpus) - df + 0.5) / (df + 0.5)) AS raw_idf FROM dfreq),
avgidf AS (
  SELECT (CAST(sum(CAST(round(raw_idf * 1e{IDF_SCALE}) AS BIGINT)) AS DOUBLE)
          / count(*)) / 1e{IDF_SCALE} AS a
  FROM rawidf
),
idf AS (
  SELECT term,
         CASE WHEN raw_idf < 0 THEN {EPSILON} * (SELECT a FROM avgidf) ELSE raw_idf END AS idf
  FROM rawidf
),
q AS (SELECT term, CAST(count(*) AS BIGINT) AS qtf FROM (VALUES {qvals}) v(term) GROUP BY 1),
contrib AS (
  SELECT t.{id_col},
         CAST(round((q.qtf * i.idf * (t.tf * ({K1} + 1))
              / (t.tf + {K1} * (1 - {B} + {B} * d.dl / (SELECT avgdl FROM corpus))))
              * 1e{SCORE_SCALE}) AS BIGINT) AS c
  FROM terms t
  JOIN q ON q.term = t.term
  JOIN idf i ON i.term = t.term
  JOIN doc_stats d ON d.{id_col} = t.{id_col}
)
SELECT {id_col}, round(CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) / 1e{SCORE_SCALE}, {round_dp}) AS score
FROM contrib
GROUP BY {id_col}
{limit}
"""
