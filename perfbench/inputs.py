"""Seeded benchmark inputs.

Pages are a pure function of their integer id
(``graphlab_spark.sources.corpus.page_record``), so a seed only selects
the id range; the program under test receives the written tables and
nothing else. Documents for the dedup workload are drawn from a
seeded RNG. Every table is written with pyarrow before Spark starts,
so input generation never counts as set-up or measured work.
"""

from __future__ import annotations

import hashlib
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from graphlab_spark.sources import corpus

# ids reserved per seed: ranges of different seed slots never overlap
ID_SPAN = 1_000_000
# A page's warc_ts is its id in seconds after 2025-01-01, which must stay
# a valid timestamp (year 9999 at most), so ids stay below 2·10¹¹: a seed
# selects one of SEED_SLOTS ranges, and seeds equal modulo SEED_SLOTS
# share one.
SEED_SLOTS = 200_000

PAGES_ARROW = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)

DOCS_ARROW = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


def id_base(seed: int) -> int:
    """First id of the range of ``seed`` (any integer)."""
    return seed % SEED_SLOTS * ID_SPAN


def page_ids(seed: int, n: int) -> range:
    if n > ID_SPAN:
        raise ValueError(f"at most {ID_SPAN} pages per seed")
    return range(id_base(seed), id_base(seed) + n)


def heavy_pages(ids) -> list[dict]:
    return [corpus.page_record(i, heavy=True) for i in ids]


def write_table(rows: list[dict], schema: pa.Schema, path: str, n_files: int) -> None:
    """Write ``rows`` as ``n_files`` equal parquet files under ``path`` —
    the layout ``corpus.generate_pages`` gives a table written by Spark
    at ``defaultParallelism`` partitions."""
    os.makedirs(path, exist_ok=True)
    n_files = max(1, min(n_files, len(rows)))
    for k in range(n_files):
        part = rows[k * len(rows) // n_files:(k + 1) * len(rows) // n_files]
        pq.write_table(
            pa.Table.from_pylist(part, schema=schema),
            os.path.join(path, f"part-{k:05d}.parquet"),
        )


# ---------------------------------------------------------------- documents

_VOCAB = [f"w{k:04d}" for k in range(4000)]
TEMPLATE_TOKENS = 120
HOT_TAIL_TOKENS = 16


def documents(seed: int, n: int, hot_frac: float) -> list[dict]:
    """``n`` documents of random prose; a ``hot_frac`` share of them is a
    shared boilerplate template followed by a unique tail. Two such
    documents share the template's 118 token 3-shingles and differ in
    their tails' 16 each: Jaccard 118/150 ≈ 0.79, so they collide in LSH
    bands but fall below the 0.8 threshold, and most of them share the
    template's bucket in a 4-row band (the hot LSH bucket)."""
    rng = random.Random(f"docs:{seed}")
    template = " ".join(rng.choice(_VOCAB) for _ in range(TEMPLATE_TOKENS))
    base = id_base(seed)
    n_hot = int(n * hot_frac)
    hot = set(rng.sample(range(n), n_hot))
    rows = []
    for k in range(n):
        if k in hot:
            text = template + "".join(f" t{k}x{j}" for j in range(HOT_TAIL_TOKENS))
        else:
            text = " ".join(rng.choice(_VOCAB) for _ in range(40 + rng.randrange(80)))
        rows.append(
            {
                "doc_id": base + k,
                "text": text,
                "lang": "en",
                "source": ("crawl", "books", "wiki")[k % 3],
                "n_chars": len(text),
            }
        )
    return rows


def digest(rows: list[dict]) -> str:
    """Order-sensitive content digest of generated rows."""
    h = hashlib.blake2b(digest_size=16)
    for r in rows:
        h.update(repr(sorted(r.items())).encode())
    return h.hexdigest()
