"""Seeded inputs for the benchmark.

Every table is generated here from the workload seed, in the shape of the
repository's testdata tables (``events``, ``documents``, ``embeddings``), so
the benchmark needs nothing outside its checkout. Sizes follow the testdata
scale factors: ``sf`` 0.1 gives 100k events over 1500 users and 100
products, 5000 documents and 2000 embeddings.

The replay corpus and the ratings history for the speed layer are derived
from the same generated events, with the review mapping that
``sources.tables.reviews_from_events`` documents.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.5, 0.125, 0.125, 0.125, 0.125)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
N_PRODUCTS = 100
NEAR_DUP_SHARE = 0.05
EMBEDDING_DIM = 64
# history replicas carry user ids shifted by multiples of this, far above
# any generated user id
USER_SHIFT = 1_000_000


def _sizes(sf: float) -> dict[str, int]:
    return {
        "events": int(round(1_000_000 * sf)),
        "users": max(15, int(round(15_000 * sf))),
        "documents": max(500, int(round(50_000 * sf))),
        "embeddings": max(500, int(round(20_000 * sf))),
    }


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write ``events``, ``documents`` and ``embeddings`` parquet files into
    ``out_dir``; returns the row count of each."""
    os.makedirs(out_dir, exist_ok=True)
    n = _sizes(sf)
    rng = np.random.default_rng(seed)

    # events: time-ordered, uniform users and products, exponential values
    ne = n["events"]
    start_us = int(dt.datetime(2024, 1, 1).timestamp() * 1_000_000)
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, ne)) + start_us
    k = rng.integers(0, N_PRODUCTS, ne)
    events = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n["users"], ne), pa.int64()),
            "event_type": pa.array(
                np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), ne)]
            ),
            "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
            "props": pa.array([f'{{"k": {int(x)}}}' for x in k]),
        }
    )
    pq.write_table(events, os.path.join(out_dir, "events.parquet"))

    # documents: word soup over a small vocabulary; a share of them are a
    # copy of an earlier document plus one token, the near duplicates the
    # dedup operators look for
    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i > 0 and rng.random() < NEAR_DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))
            texts.append(" ".join(VOCAB[w] for w in words))
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), nd, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(nd)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(documents, os.path.join(out_dir, "documents.parquet"))

    # embeddings: unit vectors with an unrelated label
    nv = n["embeddings"]
    x = rng.standard_normal((nv, EMBEDDING_DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
        }
    )
    pq.write_table(embeddings, os.path.join(out_dir, "embeddings.parquet"))
    return {"events": ne, "documents": nd, "embeddings": nv}


def reviews(sf_dir: str) -> np.ndarray:
    """The review rows ``(user_id, product_id, rating, ts)`` of the events
    table, as an int64/float64 structured array. Mirrors the mapping in
    ``sources.tables.reviews_from_events`` for the generated events, whose
    props always carry a product key and whose values are in range."""
    t = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    props = t.column("props").to_pylist()
    out = np.empty(
        t.num_rows,
        dtype=[("user_id", "i8"), ("product_id", "i8"), ("rating", "f8"), ("ts", "i8")],
    )
    out["user_id"] = t.column("user_id").to_numpy()
    out["product_id"] = [json.loads(p)["k"] for p in props]
    out["rating"] = np.floor(t.column("value").to_numpy()).astype(np.int64) % 5 + 1.0
    out["ts"] = t.column("ts").cast(pa.int64()).to_numpy() // 1_000_000
    return out


def replay_rows(reviews_arr: np.ndarray, n_events: int, seed: int) -> np.ndarray:
    """A seeded replay sample of ``n_events`` reviews in a seeded order.
    Half of the rows are copies of existing reviews (already in any history
    built from them, so the SADD screen drops them); the other half carry a
    different rating, so they are new set members."""
    rng = np.random.default_rng(seed + 7919)
    pick = rng.choice(len(reviews_arr), n_events, replace=False)
    rows = reviews_arr[pick].copy()
    fresh = rng.random(n_events) < 0.5
    rows["rating"][fresh] = (rows["rating"][fresh] % 5) + 1.0
    return rows


def write_replay_files(rows: np.ndarray, out_dir: str, per_file: int) -> list[str]:
    """Split replay rows into wire-format JSON-lines files of ``per_file``
    events, named in replay order; returns the file names."""
    os.makedirs(out_dir, exist_ok=True)
    names = []
    for i in range(0, len(rows), per_file):
        name = f"ev_{i // per_file:05d}.json"
        with open(os.path.join(out_dir, name), "w") as fh:
            for r in rows[i : i + per_file]:
                fh.write(
                    json.dumps(
                        {
                            "userId": int(r["user_id"]),
                            "productId": int(r["product_id"]),
                            "review": float(r["rating"]),
                            "timestamp": int(r["ts"]),
                        }
                    )
                    + "\n"
                )
        names.append(name)
    return names


def write_history(reviews_arr: np.ndarray, out_dir: str, replicas: int) -> int:
    """Pre-seed a ``user_ratings`` table: the distinct review set, replicated
    ``replicas`` times with user ids shifted by multiples of ``USER_SHIFT``
    (replica 0 unshifted). Returns the row count."""
    base = np.unique(
        np.stack(
            [
                reviews_arr["user_id"].astype(np.float64),
                reviews_arr["product_id"].astype(np.float64),
                reviews_arr["rating"],
            ],
            axis=1,
        ),
        axis=0,
    )
    os.makedirs(out_dir, exist_ok=True)
    for r in range(replicas):
        part = pa.table(
            {
                "user_id": pa.array(base[:, 0].astype(np.int64) + r * USER_SHIFT, pa.int64()),
                "product_id": pa.array(base[:, 1].astype(np.int64), pa.int64()),
                "rating": pa.array(base[:, 2], pa.float64()),
            }
        )
        pq.write_table(part, os.path.join(out_dir, f"part-history-{r:03d}.parquet"))
    return len(base) * replicas
