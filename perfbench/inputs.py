"""Seeded input generation for the serving benchmark.

Everything a run feeds the program comes from here and is a pure
function of the seed: the memory corpus, the query list, the write
payloads, the memories to delete and the parquet tables the
batch plan reads. Generation happens before any timer
starts and needs no Spark.

The corpus mirrors the shape of the repository's synthetic test
tables: documents of 10-100 words drawn from a 30-word vocabulary,
sources ``src0``..``src19``, and 5% near-duplicates (a copy of an
earlier document with `` dup`` appended).
"""

from __future__ import annotations

import random

VOCAB = (
    "spark window merge table column vector stream value data small "
    "join filter big group hash customer sort order slow line part fast "
    "row the agg key query a scan batch"
).split()

N_SOURCES = 20
DUP_SHARE = 0.05
NOW = "2026-04-01 12:00:00"


def _text(rng: random.Random) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100)))


def documents(seed: int, n: int) -> list[dict]:
    """``n`` documents ``{doc_id, text, source, lang}``."""
    rng = random.Random(f"docs/{seed}")
    langs = ("en", "en", "en", "de", "es", "fr", "zh")
    docs: list[dict] = []
    for i in range(n):
        if docs and rng.random() < DUP_SHARE:
            text = rng.choice(docs)["text"] + " dup"
        else:
            text = _text(rng)
        docs.append({
            "doc_id": i,
            "text": text,
            "source": f"src{i % N_SOURCES}",
            "lang": rng.choice(langs),
        })
    return docs


def queries(seed: int, n: int) -> list[str]:
    """``n`` distinct three-term queries over the corpus vocabulary."""
    rng = random.Random(f"queries/{seed}")
    out: list[str] = []
    while len(out) < n:
        q = " ".join(rng.sample(VOCAB, 3))
        if q not in out:
            out.append(q)
    return out


def write_payloads(seed: int, n: int) -> list[dict]:
    """``n`` memories to add: text plus a source folder."""
    rng = random.Random(f"writes/{seed}")
    return [
        {"text": _text(rng), "source": f"src{rng.randrange(N_SOURCES)}"}
        for _ in range(n)
    ]


#: The ``mixed_rw`` warm-up, untimed: a delete and a search. It runs
#: the delete, refresh and snapshot-rebuild code before timing.
WARMUP = ("delete", "search")

#: One timed block of the ``mixed_rw`` schedule: a write, then three
#: searches. A run stops only at a block boundary, so every run has the
#: same op mix. The first search rebuilds the serving snapshot the
#: write made stale; the next two read it cached. Queries are used in
#: turn, so the third search repeats the first at the same table
#: version.
BLOCK = ("write", "search", "search", "search")

#: The writes of successive timed blocks. Every run times at least
#: one add; the warm-up has already run a delete.
WRITES = ("add", "delete")


def schedule(blocks: int) -> list[str]:
    """The timed ``mixed_rw`` op sequence. It is the same for every
    seed; the seed draws what it reads and writes."""
    return [
        WRITES[b % len(WRITES)] if kind == "write" else kind
        for b in range(blocks)
        for kind in BLOCK
    ]


def delete_victims(seed: int, n: int, k: int) -> list[int]:
    """``k`` distinct corpus positions out of ``n`` for the schedule's
    deletes, so every delete hits."""
    rng = random.Random(f"victims/{seed}")
    return rng.sample(range(n), k)


def write_plan_tables(seed: int, out_dir: str, n_docs: int, n_vecs: int) -> None:
    """The ``documents`` and ``embeddings`` parquet tables the batch
    plan reads, with the test tables' schemas."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = documents(seed, n_docs)
    pq.write_table(pa.table({
        "doc_id": pa.array([d["doc_id"] for d in docs], pa.int64()),
        "text": [d["text"] for d in docs],
        "lang": [d["lang"] for d in docs],
        "source": [d["source"] for d in docs],
        "n_chars": pa.array([len(d["text"]) for d in docs], pa.int64()),
    }), f"{out_dir}/documents.parquet")

    rs = np.random.default_rng(seed)
    emb = rs.standard_normal((n_vecs, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rs.integers(0, 10, n_vecs), pa.int32()),
    }), f"{out_dir}/embeddings.parquet")
