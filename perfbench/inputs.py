"""Deterministic inputs for the benchmark, written as parquet with pyarrow.

The datapipe and merge workloads need the ``documents``, ``embeddings``
and ``orders`` tables that the repository's tests read from an external
test-data directory. A benchmark run may only read its own checkout, so
this module generates tables with that data's schema and with the
distributions measured on its sf0.1 scale (5000 documents, 2000
embeddings, 150000 orders; the figures are in ``perfbench/README.md`` and
``perfbench/tests`` checks the generator against them):

- documents: 10-99 words drawn uniformly from the same 30-word
  vocabulary; 4.86 % are another document's text with `` dup`` appended
  (near-duplicates) and 0.16 % exact copies of an earlier document; lang
  41 % ``en`` and about 15 % each ``zh es fr de``; source
  ``src{doc_id % 20}``; ``n_chars`` is the text's length.
- embeddings: 64-dim unit vectors from an isotropic Gaussian, labels
  uniform over 0-9 and independent of the vector.
- orders: dense keys from 0, customers uniform over 0-14999, the three
  statuses and five priorities uniform, price uniform over 1000-500000,
  order date a whole day between 1995-01-01 and 2001-08-01.

The workloads use fewer rows than sf0.1 (see ``workloads.py``). The
table data uses a fixed generator seed; the run seed only chooses the
operation order and the CDC changesets, so runs with different seeds
measure the same data.
"""

from __future__ import annotations

import hashlib
import json
import os
from datetime import date

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
WORDS_MIN, WORDS_MAX = 10, 99
NEAR_DUP_RATE = 0.0486
EXACT_DUP_RATE = 0.0016
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.412, 0.151, 0.149, 0.148, 0.140]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
N_CUSTOMERS = 15_000
PRICE_RANGE = (1000.0, 500_000.0)
ORDER_DAYS = (date(1995, 1, 1).toordinal(), date(2001, 8, 1).toordinal() + 1)
EPOCH_ORD = date(1970, 1, 1).toordinal()

ORDERS_SCHEMA = pa.schema(
    [
        ("o_orderkey", pa.int64()),
        ("o_custkey", pa.int64()),
        ("o_orderstatus", pa.string()),
        ("o_totalprice", pa.float64()),
        ("o_orderdate", pa.timestamp("us")),
        ("o_orderpriority", pa.string()),
    ]
)


def fingerprint(obj) -> str:
    """Short stable hash of a JSON-able description of some inputs."""
    blob = json.dumps(obj, sort_keys=True).encode()
    return hashlib.sha256(blob).hexdigest()[:16]


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def documents(n: int) -> pa.Table:
    rng = np.random.default_rng(DATA_SEED)
    base = [
        " ".join(rng.choice(VOCAB, size=int(rng.integers(WORDS_MIN, WORDS_MAX + 1))))
        for _ in range(n)
    ]
    # Exact shares of near-duplicates and exact copies, at distinct places;
    # each near-duplicate copies a different document that is not one.
    perm = rng.permutation(np.arange(1, n))
    n_near, n_exact = round(NEAR_DUP_RATE * n), round(EXACT_DUP_RATE * n)
    near = set(perm[:n_near].tolist())
    exact = set(perm[n_near:n_near + n_exact].tolist())
    origins = iter(j for j in rng.permutation(n).tolist() if j not in near)
    texts: list[str] = []
    for i in range(n):
        if i in near:
            texts.append(base[next(origins)] + " dup")
        elif i in exact:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(base[i])
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(n: int, dim: int = 64) -> pa.Table:
    rng = np.random.default_rng(DATA_SEED + 1)
    x = rng.standard_normal((n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(x.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def _order_rows(rng, keys: np.ndarray) -> pa.Table:
    n = len(keys)
    days = rng.integers(*ORDER_DAYS, size=n) - EPOCH_ORD
    micros = days.astype(np.int64) * 86_400_000_000
    return pa.table(
        {
            "o_orderkey": pa.array(keys, pa.int64()),
            "o_custkey": pa.array(rng.integers(0, N_CUSTOMERS, n), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(STATUSES, n), pa.string()),
            "o_totalprice": pa.array(
                np.round(rng.uniform(*PRICE_RANGE, n), 2), pa.float64()
            ),
            "o_orderdate": pa.array(micros, pa.timestamp("us")),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n), pa.string()),
        },
        schema=ORDERS_SCHEMA,
    )


def orders(n: int) -> pa.Table:
    return _order_rows(np.random.default_rng(DATA_SEED + 2), np.arange(n))


def ensure_datapipe_tables(out_dir: str, n_docs: int, n_vecs: int) -> str:
    """Write documents/embeddings once per size; return the fingerprint."""
    fp = fingerprint({"docs": n_docs, "vecs": n_vecs, "seed": DATA_SEED, "v": 2})
    marker = os.path.join(out_dir, "_INPUTS_OK")
    if _marker_matches(marker, fp):
        return fp
    os.makedirs(out_dir, exist_ok=True)
    _write(documents(n_docs), os.path.join(out_dir, "documents.parquet"))
    _write(embeddings(n_vecs), os.path.join(out_dir, "embeddings.parquet"))
    _write_marker(marker, fp)
    return fp


def ensure_orders(out_dir: str, n_rows: int) -> str:
    """Write the merge target's base ``orders`` once per size; return its path."""
    fp = fingerprint({"orders": n_rows, "seed": DATA_SEED, "v": 2})
    path = os.path.join(out_dir, f"orders-{fp}.parquet")
    if not os.path.exists(path):
        os.makedirs(out_dir, exist_ok=True)
        _write(orders(n_rows), path)
    return path


class Changesets:
    """CDC changesets drawn from a seed, written one at a time on demand.

    Each changeset updates ``n_updates`` live keys, inserts ``n_inserts``
    fresh keys and deletes ``n_deletes`` other live keys, which is the
    contract ``apply_changeset`` states: upsert keys unique, upsert and
    delete keys disjoint. ``paths`` lists ``(upserts, deletes)`` parquet
    paths in apply order.
    """

    def __init__(self, out_dir: str, seed: int, n_base: int,
                 n_updates: int, n_inserts: int, n_deletes: int) -> None:
        self.out_dir = out_dir
        self.rng = np.random.default_rng([seed, 7])
        self.live = np.arange(n_base)
        self.next_key = n_base
        self.sizes = (n_updates, n_inserts, n_deletes)
        self.paths: list[tuple[str, str]] = []
        os.makedirs(out_dir, exist_ok=True)

    def write_next(self) -> int:
        """Write the next changeset; return its index in ``paths``."""
        n_updates, n_inserts, n_deletes = self.sizes
        live, rng = self.live, self.rng
        picked = rng.choice(len(live), size=n_updates + n_deletes, replace=False)
        upd, dele = live[picked[:n_updates]], live[picked[n_updates:]]
        fresh = np.arange(self.next_key, self.next_key + n_inserts)
        self.next_key += n_inserts
        i = len(self.paths)
        up_path = os.path.join(self.out_dir, f"cs{i:03d}_upserts.parquet")
        del_path = os.path.join(self.out_dir, f"cs{i:03d}_deletes.parquet")
        _write(_order_rows(rng, np.concatenate([upd, fresh])), up_path)
        _write(pa.table({"o_orderkey": pa.array(dele, pa.int64())}), del_path)
        keep = np.ones(len(live), bool)
        keep[picked[n_updates:]] = False
        self.live = np.concatenate([live[keep], fresh])
        self.paths.append((up_path, del_path))
        return i


def _marker_matches(path: str, fp: str) -> bool:
    try:
        with open(path) as f:
            return f.read().strip() == fp
    except FileNotFoundError:
        return False


def _write_marker(path: str, fp: str) -> None:
    with open(path, "w") as f:
        f.write(fp)
