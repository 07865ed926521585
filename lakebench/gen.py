"""Seeded input generators for the benchmark.

Every generator takes a seed and writes its inputs below a directory it
is given. The same seed always gives byte-identical files: the arrays
come from ``numpy.random.default_rng(seed)`` in a fixed call order, and
parquet is written from Arrow tables (no pandas metadata, no wall-clock
fields). Each generator returns the ground truth the output checks need.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- query tables ---------------------------------------------------------
# Shapes follow the project's test tables: a TPC-H-like star schema plus
# events, documents and embeddings, with the same columns, types and value
# domains the registry queries and their DuckDB oracles expect.

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def write_query_tables(out_dir: str, seed: int, sf: float) -> dict:
    """Write the ten query tables at scale ``sf`` and return their row
    counts. Row counts scale like the project's test tables (lineitem =
    6M × sf); a few small dimensions keep a floor so every query has
    data to work on."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 20)
    n_part = max(int(200_000 * sf), 100)
    n_ord = max(int(1_500_000 * sf), 500)
    n_line = n_ord * 4
    n_events = max(int(1_000_000 * sf), 2_000)
    n_users = max(int(15_000 * sf), 50)
    n_docs = max(int(50_000 * sf), 200)
    n_vecs = max(int(20_000 * sf), 300)

    i32 = pa.int32()
    _write(
        pa.table(
            {
                "r_regionkey": pa.array(range(5), i32),
                "r_name": REGIONS,
            }
        ),
        os.path.join(out_dir, "region.parquet"),
    )
    _write(
        pa.table(
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
            }
        ),
        os.path.join(out_dir, "nation.parquet"),
    )
    _write(
        pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": _money(rng, -1000, 10000, n_cust),
                "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
            }
        ),
        os.path.join(out_dir, "customer.parquet"),
    )
    _write(
        pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": _money(rng, -1000, 10000, n_supp),
            }
        ),
        os.path.join(out_dir, "supplier.parquet"),
    )
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    _write(
        pa.table(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": names[rng.integers(0, len(names), n_part)],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": 900.0 + rng.integers(0, 1000, n_part) / 10.0,
            }
        ),
        os.path.join(out_dir, "part.parquet"),
    )
    _write(
        pa.table(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
                "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
                "o_totalprice": _money(rng, 1000, 500_000, n_ord),
                "o_orderdate": _ts(
                    _EPOCH_1995 + rng.integers(0, 2405, n_ord) * _US_PER_DAY
                ),
                "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
            }
        ),
        os.path.join(out_dir, "orders.parquet"),
    )
    _write(
        pa.table(
            {
                "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
                "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
                "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
                "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, 900, 105_000, n_line),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
                "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
                "l_shipdate": _ts(
                    _EPOCH_1995
                    + (1 + rng.integers(0, 2499, n_line)) * _US_PER_DAY
                ),
            }
        ),
        os.path.join(out_dir, "lineitem.parquet"),
    )
    ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _US_PER_DAY, n_events))
    _write(
        pa.table(
            {
                "event_id": np.arange(n_events, dtype=np.int64),
                "ts": _ts(ts),
                "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
                "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
                "value": np.round(rng.exponential(50.0, n_events), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
            }
        ),
        os.path.join(out_dir, "events.parquet"),
    )
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document, as in the test tables
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), k)]))
    _write(
        pa.table(
            {
                "doc_id": np.arange(n_docs, dtype=np.int64),
                "text": texts,
                "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
                "source": [f"src{i % 20}" for i in range(n_docs)],
                "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
            }
        ),
        os.path.join(out_dir, "documents.parquet"),
    )
    centers = rng.normal(0.0, 1.0, (10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_vecs)
    vecs = 0.14 * centers[labels] + rng.normal(0.0, 1.0 / 8.0, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(
        pa.table(
            {
                "vec_id": np.arange(n_vecs, dtype=np.int64),
                "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
                "label": labels.astype(np.int32),
            }
        ),
        os.path.join(out_dir, "embeddings.parquet"),
    )
    return {"lineitem": n_line, "orders": n_ord, "documents": n_docs}


# --- lake file tree -------------------------------------------------------

EXTENSIONS = [".pdf", ".txt", ".html", ".csv", ".eml", ".jpg"]
_MTIME0 = 1_700_000_000  # fixed base so mtimes never depend on the clock


def plan_tree(seed: int, n_files: int) -> dict:
    """The lake file tree before and after one leak update, as
    {key: (content seed, size, mtime)} maps plus the update's key sets.

    The update rewrites 5% of the files (new bytes, new size, a later
    mtime), adds 2% new files and deletes 1%."""
    rng = np.random.default_rng(seed)
    keys = [
        f"batch{int(rng.integers(0, 16)):02d}/doc_{i:05d}"
        f"{EXTENSIONS[int(rng.integers(0, len(EXTENSIONS)))]}"
        for i in range(n_files)
    ]
    sizes = rng.integers(512, 16 * 1024 + 1, n_files)
    mtimes = _MTIME0 + rng.integers(0, 86_400 * 30, n_files)
    initial = {
        k: (seed * 1_000_003 + i, int(sizes[i]), int(mtimes[i]))
        for i, k in enumerate(keys)
    }
    order = rng.permutation(n_files)
    n_rw, n_del = n_files * 5 // 100, n_files // 100
    n_new = n_files * 2 // 100
    rewritten = [keys[i] for i in order[:n_rw]]
    deleted = [keys[i] for i in order[n_rw : n_rw + n_del]]
    gone = set(deleted)
    updated = {k: v for k, v in initial.items() if k not in gone}
    for k in rewritten:
        cseed, size, mtime = initial[k]
        # a different size guarantees the metadata skip sees the change
        updated[k] = (cseed + 500_000, size + 1 + int(rng.integers(0, 512)), mtime + 86_400)
    added = [
        f"update/new_{j:05d}{EXTENSIONS[j % len(EXTENSIONS)]}" for j in range(n_new)
    ]
    for j, k in enumerate(added):
        updated[k] = (
            seed * 1_000_003 + n_files + j,
            int(rng.integers(512, 16 * 1024 + 1)),
            _MTIME0 + 86_400 * 31 + j,
        )
    return {
        "initial": initial,
        "updated": updated,
        "rewritten": rewritten,
        "added": added,
        "deleted": deleted,
    }


def _blob(content_seed: int, size: int) -> bytes:
    return np.random.default_rng(content_seed).bytes(size)


def write_tree(root: str, files: dict) -> None:
    """Write ``files`` below ``root`` with their planned bytes and mtimes."""
    for key, (cseed, size, mtime) in files.items():
        path = os.path.join(root, key)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as fh:
            fh.write(_blob(cseed, size))
        os.utime(path, (mtime, mtime))


def tree_truth(files: dict) -> dict:
    return {
        "file_count": len(files),
        "total_file_size": sum(size for _, size, _ in files.values()),
    }


# --- statement table ------------------------------------------------------

SCHEMATA = ["Company", "Document", "Email", "LegalEntity", "Person", "Vessel"]
PROPS = ["name", "country", "address", "email", "idNumber", "notes"]
DATASETS = ["leak_a", "leak_b", "leak_c", "leak_d"]


def _statements(rng: np.random.Generator, n: int, ent_lo: int, ent_hi: int,
                id_base: int) -> pa.Table:
    ents = rng.integers(ent_lo, ent_hi, n)
    props = rng.integers(0, len(PROPS), n)
    # few distinct values per (entity, prop), so the set union dedups
    vals = rng.integers(0, 4, n)
    seen = _EPOCH_2024 + rng.integers(0, 30 * _US_PER_DAY, n)
    canon = np.char.add("ent-", ents.astype(str))
    return pa.table(
        {
            "id": np.char.add("st-", np.arange(id_base, id_base + n).astype(str)),
            "canonical_id": canon,
            "entity_id": canon,
            "schema": np.array(SCHEMATA)[ents % len(SCHEMATA)],
            "prop": np.array(PROPS)[props],
            "value": [f"{PROPS[p]}-{e % 9973}-{v}" for p, e, v in zip(props, ents, vals)],
            "dataset": np.array(DATASETS)[rng.integers(0, len(DATASETS), n)],
            "origin": np.array(["ingest", "analyze"])[rng.integers(0, 2, n)],
            "first_seen": _ts(seen),
            "last_seen": _ts(seen + rng.integers(0, 7 * _US_PER_DAY, n)),
        }
    )


def write_statements(out_dir: str, seed: int, n_rows: int, n_entities: int) -> dict:
    """Write the base statement table A and a 5% increment B (half on
    existing entities, half on new ones) as parquet; return the entity
    counts of A and of A ∪ B."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    base = _statements(rng, n_rows, 0, n_entities, 0)
    n_inc = n_rows // 20
    inc = _statements(rng, n_inc, n_entities // 2, n_entities + n_entities // 20, n_rows)
    _write(base, os.path.join(out_dir, "statements.parquet"))
    _write(inc, os.path.join(out_dir, "increment.parquet"))
    ents_a = set(base.column("canonical_id").to_pylist())
    ents_ab = ents_a | set(inc.column("canonical_id").to_pylist())
    return {
        "rows": n_rows,
        "increment_rows": n_inc,
        "entities": len(ents_a),
        "entities_merged": len(ents_ab),
    }


def digest_dir(root: str, with_mtime: bool = False) -> str:
    """sha1 over every file's relative path and bytes (and mtime, when
    asked), in path order: equal digests mean byte-identical inputs."""
    h = hashlib.sha1()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            if with_mtime:
                h.update(str(int(os.stat(path).st_mtime)).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
