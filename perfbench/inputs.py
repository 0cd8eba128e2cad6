"""Deterministic benchmark inputs, written as parquet inside a work dir.

The engine only ever sees the files written here: the ``documents`` and
``embeddings`` tables the LLM-operator queries read (same schemas as the
``__spark_entry__`` test data, one row group each), and the SampleItem
files staged for the ETL loop. Nothing reads shared test data, so a
bare checkout can run the benchmark.

The query tables come from a fixed seed, so their expected result
hashes can be recorded once (``expected.json``); the workload seed picks
the ETL backlog, each cycle's mutated and inserted keys, and the query
order per pass.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42

# Same shape as the sf0.01 test tables: a 30-word vocabulary, 5% of
# documents are an earlier document plus one extra token, and 64-d unit
# embeddings drawn around ten label centres.
VOCAB = (
    "a the data row column table key value join hash sort merge filter "
    "group agg window stream batch scan query spark vector line order "
    "part customer small big fast slow"
).split()
LANGS = ("en", "en", "es", "zh", "de", "fr")
DIM = 64
LABELS = 10

# Table sizes per preset: the benchmark runs at the oracle-gate size,
# the smoke test at a smaller one.
SIZES = {"sf0.01": (500, 500), "sf0.001": (200, 200)}


def write_query_tables(sf_dir: str, preset: str) -> None:
    """Write ``documents.parquet`` and ``embeddings.parquet``."""
    n_docs, n_vecs = SIZES[preset]
    rng = np.random.default_rng(TABLE_SEED)
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(VOCAB, size=int(rng.integers(8, 100)))
            texts.append(" ".join(words))
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n_docs), pa.int64()),
                "text": texts,
                "lang": [LANGS[int(x)] for x in rng.integers(0, len(LANGS), n_docs)],
                "source": [f"src{i % 20}" for i in range(n_docs)],
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        os.path.join(sf_dir, "documents.parquet"),
    )
    centres = rng.normal(size=(LABELS, DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, LABELS, n_vecs)
    vecs = rng.normal(size=(n_vecs, DIM)) + 1.2 * centres[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embedding = pa.ListArray.from_arrays(
        pa.array(np.arange(0, (n_vecs + 1) * DIM, DIM), pa.int32()),
        pa.array(vecs.ravel(), pa.float32()),
    )
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n_vecs), pa.int64()),
                "embedding": embedding,
                "label": pa.array(labels, pa.int32()),
            }
        ),
        os.path.join(sf_dir, "embeddings.parquet"),
    )


def _item_id(i: int) -> str:
    return f"item-{i:08d}"


def sample_items(keys: np.ndarray, tag: str, rng: np.random.Generator) -> pa.Table:
    """SampleItem rows for ``keys``; about 2% have a blank name or
    description so the transform's fallback branch runs."""
    n = len(keys)
    desc = [f"Sample item #{k} {tag}" for k in keys]
    name = [f"Item_{tag}_{k}" for k in keys]
    for i in np.flatnonzero(rng.random(n) < 0.01):
        desc[i] = None if i % 2 else "  "
    for i in np.flatnonzero(rng.random(n) < 0.01):
        name[i] = None if i % 2 else ""
    return pa.table(
        {
            "id": [_item_id(int(k)) for k in keys],
            "date": [f"10/{1 + int(k) % 28:02d}/2026 12:00:00" for k in keys],
            "desc": desc,
            "done": ["true"] * n,
            "name": name,
            "pr": ["Additional field info"] * n,
            "logical_partition": [f"Partition_{chr(65 + int(k) % 3)}" for k in keys],
        }
    )


class EtlFeed:
    """Seeded SampleItem files for the ETL loop.

    Files are named so that lexical order is staging order (``b`` for
    the backlog, ``m*`` for the cycles); the file stream source picks
    them up oldest first, and the expected end state takes the latest
    file per key.
    """

    def __init__(self, staging_dir: str, seed: int, backlog: int):
        self.dir = staging_dir
        self.rng = np.random.default_rng(seed)
        self.n_keys = backlog
        self.cycles = 0
        os.makedirs(staging_dir, exist_ok=True)

    def stage_backlog(self) -> None:
        keys = np.arange(self.n_keys)
        pq.write_table(sample_items(keys, "v0", self.rng), os.path.join(self.dir, "b.parquet"))

    def stage_mutation(
        self, update_share: float = 0.01, insert_share: float = 0.002
    ) -> tuple[int, int]:
        """Stage one cycle's file: updates of 1% of the backlog's keys plus
        new keys (50 + 10 docs on a 5,000-doc backlog, inside the reference
        generator's 10-200 docs per trigger). Returns (rows, bytes)."""
        backlog = self.n_keys
        updates = self.rng.choice(backlog, max(1, int(backlog * update_share)), replace=False)
        n_new = max(1, int(backlog * insert_share))
        inserts = np.arange(self.n_keys, self.n_keys + n_new)
        self.n_keys += n_new
        path = os.path.join(self.dir, f"m{self.cycles:04d}.parquet")
        self.cycles += 1
        keys = np.concatenate([updates, inserts])
        pq.write_table(sample_items(keys, f"c{self.cycles}", self.rng), path)
        return len(keys), os.path.getsize(path)

    def expected_silver_sql(self) -> str:
        """DuckDB SQL for silver's content columns: latest staged row per
        key, through the bronze transform's fallbacks and the silver
        column add."""
        return f"""
        WITH latest AS (
          SELECT * FROM read_parquet('{self.dir}/*.parquet', filename = true)
          QUALIFY row_number() OVER (PARTITION BY id ORDER BY filename DESC) = 1
        ), t AS (
          SELECT id, date AS source_date, done, pr,
            CASE WHEN "desc" IS NULL OR trim("desc") = ''
                 THEN 'Empty Description in source for item ' || id
                 ELSE "desc" END AS description,
            CASE WHEN name IS NULL OR trim(name) = ''
                 THEN 'Empty Name in source for item ' || id
                 ELSE name END AS name,
            'West Europe' AS update_location
          FROM latest
        )
        SELECT *, upper(name) AS name_upper FROM t
        """


SILVER_CONTENT_COLUMNS = [
    "id",
    "source_date",
    "description",
    "done",
    "name",
    "pr",
    "update_location",
    "name_upper",
]
