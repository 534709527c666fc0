"""Seeded inputs for the benchmark workloads.

Everything a run reads is generated here from the workload seed, into the
run's temporary directory: the ten registry tables (same schemas and value
domains as the repository's TPC-H-shape fixture tables), a Gaussian-mixture
vector set with held-out query and insert vectors, and micro-batch files of
documents and events for the streaming sinks. The same seed always gives
byte-identical inputs.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
COLORS = "blue cold hot large new old red small".split()
NOUNS = "anvil bolt gear gizmo plate ring rod widget".split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.44, 0.14, 0.13, 0.15]

DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
EVENT_SCHEMA = pa.schema(
    [("user_id", pa.int64()), ("event_type", pa.string()), ("value", pa.float64())]
)


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: dt.date, span: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]")


def _texts(rng: np.random.Generator, n: int, dup_share: float, lo: int, hi: int) -> list[str]:
    """Random word sequences; a `dup_share` of them are near-duplicates of
    an earlier text (one to three word edits plus the marker word `dup`),
    so every dedup operator has real pairs to find."""
    out: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < dup_share:
            words = out[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            words.insert(int(rng.integers(0, len(words) + 1)), "dup")
        else:
            words = [WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(lo, hi + 1)))]
        out.append(" ".join(words))
    return out


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write the ten registry tables at scale factor `sf`."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(50, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(10, int(15_000 * sf))
    n_docs = max(50, int(50_000 * sf))
    n_emb = max(50, int(50_000 * sf))

    def ids(n):
        return pa.array(np.arange(n, dtype=np.int64))

    def pick(values, n, p=None):
        return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)].tolist())

    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": ids(n_cust),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": pick(SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": ids(n_supp),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": ids(n_part),
                "p_name": [
                    f"{COLORS[a]} {NOUNS[b]}"
                    for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": pick(PART_TYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": ids(n_ord),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
                "o_orderstatus": pick(["F", "O", "P"], n_ord),
                "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
                "o_orderdate": pa.array(_days(rng, dt.date(1995, 1, 1), 2404, n_ord)),
                "o_orderpriority": pick(PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
                "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
                "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
                "l_returnflag": pick(["A", "N", "R"], n_line),
                "l_linestatus": pick(["F", "O"], n_line),
                "l_shipdate": pa.array(_days(rng, dt.date(1995, 1, 2), 2499, n_line)),
            }
        ),
        "events": pa.table(
            {
                "event_id": ids(n_ev),
                "ts": pa.array(
                    np.datetime64("2024-01-01T00:00:00", "us")
                    + np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_ev)).astype("timedelta64[us]")
                ),
                "user_id": pa.array(rng.integers(0, n_users, n_ev)),
                "event_type": pick(EVENT_TYPES, n_ev),
                "value": np.round(np.minimum(rng.exponential(50.0, n_ev) + 0.01, 490.0), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
            }
        ),
    }
    texts = _texts(rng, n_docs, dup_share=0.05, lo=10, hi=99)
    tables["documents"] = pa.table(
        {
            "doc_id": ids(n_docs),
            "text": texts,
            "lang": pick(LANGS, n_docs, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_emb)
    emb = centers[labels] + rng.normal(scale=1.5, size=(n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table(
        {
            "vec_id": ids(n_emb),
            "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )
    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))


def vectors(seed: int, n_base: int, n_insert: int, n_query: int, dim: int = 64,
            n_clusters: int = 32, noise: float = 1.5):
    """Gaussian-mixture vectors: (base, inserts, queries) as float32 arrays.

    Cluster centres are unit-variance normals and each point adds `noise`
    times a unit normal, so clusters overlap enough that an approximate
    index misses some true neighbours (recall@10 stays below 1). Queries
    are drawn from the same mixture, not copied from the base set."""
    rng = np.random.default_rng([seed, 2])
    centers = rng.normal(size=(n_clusters, dim))

    def draw(n):
        return (centers[rng.integers(0, n_clusters, n)] + noise * rng.normal(size=(n, dim))).astype(
            np.float32
        )

    return draw(n_base), draw(n_insert), draw(n_query)


def write_stream_batches(out_dir: str, seed: int, n_batches: int, docs_per_batch: int,
                         events_per_batch: int, dup_share: float = 0.1) -> None:
    """One parquet file per micro-batch under `out_dir/docs` and
    `out_dir/events`. Document ids increase with arrival (the first-arrival
    sink's ingestion contract); a `dup_share` of documents near-duplicate an
    earlier one, possibly from an earlier batch."""
    rng = np.random.default_rng([seed, 3])
    texts = _texts(rng, n_batches * docs_per_batch, dup_share, lo=12, hi=60)
    for b in range(n_batches):
        lo = b * docs_per_batch
        _write(
            pa.table(
                {"doc_id": pa.array(np.arange(lo, lo + docs_per_batch, dtype=np.int64)),
                 "text": texts[lo:lo + docs_per_batch]},
                schema=DOC_SCHEMA,
            ),
            os.path.join(out_dir, "docs", f"batch-{b:05d}.parquet"),
        )
        _write(
            pa.table(
                {
                    "user_id": pa.array(rng.integers(0, 500, events_per_batch)),
                    "event_type": np.asarray(EVENT_TYPES, dtype=object)[
                        rng.integers(0, len(EVENT_TYPES), events_per_batch)
                    ].tolist(),
                    "value": np.round(rng.exponential(50.0, events_per_batch), 2),
                },
                schema=EVENT_SCHEMA,
            ),
            os.path.join(out_dir, "events", f"batch-{b:05d}.parquet"),
        )
