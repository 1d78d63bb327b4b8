"""Seeded input generator for the benchmark.

Writes the ten tables of ``TESTDATA.md`` (``region nation customer
supplier part orders lineitem events documents embeddings``) with the
exact parquet schemas of those TPC-H-ish test tables, from numpy and
pyarrow only: the Spark session under test never touches input
generation.

Every table is a directory ``<name>.parquet/`` of ``FILES`` parquet
files.  The seed fixes the row content, the row order inside the
directory (a permutation) and the cut points between the files; the
number of files is fixed so that the task count does not change with
the seed.  Each cut lies within ``CUT_JITTER`` of the table from an equal
split: Spark reads each small file as one task, and on 4 cores the
largest task sets a scan stage's time, so free cuts (one file could hold
70% of the rows) would let the seed change the pass time.

``copies > 1`` derives a bigger corpus the way ``tools/scale_probe.py``
does: ``documents``, ``events``, ``lineitem`` and ``orders`` are repeated
with every id column offset by the span of its own key space
(``l_orderkey`` by the ``o_orderkey`` span, since it references it), and
each document copy after the first gets its a-z alphabet rotated by a
seed-chosen, per-copy distinct amount, so shingles do not collide across
copies.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FILES = 4
CUT_JITTER = 0.04
_AZ = "abcdefghijklmnopqrstuvwxyz"
_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_ADJ = "blue cold hot large new old red small".split()
_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
_LANGS = (("en", 0.41), ("es", 0.15), ("zh", 0.15), ("fr", 0.15), ("de", 0.14))
_EPOCH = dt.datetime(1970, 1, 1)


def _days(d: dt.date) -> int:
    return (dt.datetime(d.year, d.month, d.day) - _EPOCH).days


def _ts_us(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int64) * 86_400_000_000, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf`` (the TESTDATA.md ratios)."""
    return {
        "customer": max(150, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1_500, int(1_500_000 * sf)),
        "lineitem": max(6_000, int(6_000_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _base_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n = row_counts(sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], c
        ),
    })
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, s),
    })
    p = n["part"]
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": rng.choice(names, p),
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, p)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], p
        ),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) * 0.1, 1),
    })
    o = n["orders"]
    d0, d1 = _days(dt.date(1995, 1, 1)), _days(dt.date(2001, 8, 1))
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], o),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, o),
        "o_orderdate": _ts_us(rng.integers(d0, d1 + 1, o)),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], o
        ),
    })
    li = n["lineitem"]
    s0, s1 = _days(dt.date(1995, 1, 2)), _days(dt.date(2001, 11, 4))
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["F", "O"], li),
        "l_shipdate": _ts_us(rng.integers(s0, s1 + 1, li)),
    })
    e = n["events"]
    t0 = (dt.datetime(2024, 1, 1) - _EPOCH).days * 86_400_000_000
    ts = np.sort(rng.integers(t0, t0 + 30 * 86_400_000_000, e))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(15, e * 3 // 200), e), pa.int64()),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    t["documents"] = _documents(rng, n["documents"])
    m = n["embeddings"]
    labels = rng.integers(0, 10, m)
    centers = rng.normal(0.0, 0.07 / 8, (10, 64))
    vec = centers[labels] + rng.normal(0.0, 0.125, (m, 64))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(
            list(vec.astype(np.float32)), pa.list_(pa.float32())
        ),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random texts over a 31-word vocabulary; exactly one document in
    twenty, at seed-chosen positions, is an earlier document plus the word
    ``dup`` (a near-duplicate), so the dedup work is alike across seeds."""
    dups = set(rng.choice(np.arange(1, n), n // 20, replace=False).tolist())
    texts: list[str] = []
    for i in range(n):
        if i in dups:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 91))
            texts.append(" ".join(rng.choice(_WORDS, k)))
    langs, probs = zip(*_LANGS)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(langs, n, p=probs),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })


def _offset(tab: pa.Table, col: str, by: int) -> pa.Table:
    i = tab.schema.get_field_index(col)
    shifted = pa.array(tab.column(col).to_numpy() + by, tab.schema.field(i).type)
    return tab.set_column(i, col, shifted)


# replicated table -> (its id column, the table whose row count is the span)
_ID_SPANS = {
    "documents": ("doc_id", "documents"),
    "events": ("event_id", "events"),
    "orders": ("o_orderkey", "orders"),
    "lineitem": ("l_orderkey", "orders"),
}


def _replicate(rng, t: dict[str, pa.Table], copies: int) -> dict[str, pa.Table]:
    rot = [0] + [int(r) for r in rng.choice(np.arange(1, 26), copies - 1, replace=False)]
    out = dict(t)
    for name, (col, span_of) in _ID_SPANS.items():
        parts = []
        for k in range(copies):
            c = _offset(t[name], col, k * t[span_of].num_rows)
            if name == "documents" and rot[k]:
                table = str.maketrans(_AZ, _AZ[rot[k]:] + _AZ[: rot[k]])
                i = c.schema.get_field_index("text")
                c = c.set_column(i, "text", pa.array(
                    [s.translate(table) for s in c.column("text").to_pylist()]
                ))
            parts.append(c)
        out[name] = pa.concat_tables(parts)
    return out


def _write(rng, tab: pa.Table, path: str) -> int:
    """Permute rows, cut into FILES near-equal seed-chosen slices, write;
    returns bytes."""
    os.makedirs(path)
    tab = tab.take(pa.array(rng.permutation(tab.num_rows)))
    n = tab.num_rows
    shares = np.arange(1, FILES) / FILES + rng.uniform(-CUT_JITTER, CUT_JITTER, FILES - 1)
    cuts = [int(x) for x in shares * n] if n >= FILES else []
    bounds = [0, *cuts, n]
    size = 0
    for k in range(len(bounds) - 1):
        f = os.path.join(path, f"part-{k:05d}.parquet")
        pq.write_table(tab.slice(bounds[k], bounds[k + 1] - bounds[k]), f)
        size += os.path.getsize(f)
    return size


def generate(out_dir: str, seed: int, sf: float, copies: int = 1) -> dict:
    """Write every table under ``out_dir`` (replaced if present) and return
    the manifest ``{table: {"rows": n, "bytes": b}}``, also saved as
    ``manifest.json``."""
    rng = np.random.default_rng(seed)
    tables = _base_tables(rng, sf)
    if copies > 1:
        tables = _replicate(rng, tables, copies)
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    manifest = {}
    for name, tab in tables.items():
        size = _write(rng, tab, os.path.join(tmp, f"{name}.parquet"))
        manifest[name] = {"rows": tab.num_rows, "bytes": size}
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump({"seed": seed, "sf": sf, "copies": copies, "tables": manifest}, fh)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.replace(tmp, out_dir)
    return manifest


def cached(cache_root: str, seed: int, sf: float, copies: int, keep: int = 4) -> tuple[str, dict]:
    """The generated input dir for (seed, sf, copies), made on first use.
    At most ``keep`` input sets stay cached; the oldest are removed."""
    key = f"sf{sf}-x{copies}-seed{seed}"
    out = os.path.join(cache_root, key)
    mpath = os.path.join(out, "manifest.json")
    if not os.path.exists(mpath):
        os.makedirs(cache_root, exist_ok=True)
        generate(out, seed, sf, copies)
        old = sorted(
            (os.path.getmtime(os.path.join(cache_root, d)), d)
            for d in os.listdir(cache_root) if d != key and not d.endswith(".tmp")
        )
        for _, d in old[: max(0, len(old) - keep + 1)]:
            shutil.rmtree(os.path.join(cache_root, d), ignore_errors=True)
    with open(mpath) as fh:
        return out, json.load(fh)["tables"]
