"""Versioned snapshot tables: a minimal lakehouse-style table format —
manifest-listed immutable parquet snapshots with time travel and
MERGE-upsert — built on nothing but parquet files and JSON manifests.

Layout under ``<path>/``:

- ``data/v{N}/part-*.parquet`` — each version's immutable data files
  (never rewritten, never appended to);
- ``_versions/v{N}.json`` — one manifest per version: schema fingerprint,
  row count, parent version, and the operation that produced it;
- the CURRENT version is simply the highest committed manifest —
  readers never consult a mutable pointer file, so a torn write of a
  new version is invisible until its manifest lands (manifest write is
  the atomic commit point: JSON is written to a temp name then
  ``os.replace``d, which is atomic on POSIX).

This is deliberately the 80% of Iceberg/Delta that analytics needs —
snapshot isolation for readers, time travel, audit trail, MERGE — with
none of the catalog machinery. At real scale the same design holds with
manifests in object storage: writers commit by PUT-if-absent on the
next version key; data files stay immutable so concurrent readers of
ANY version are never torn.

Every writer of a manifest chain — table, branch and snapshot index
(functions/vindex.py) — commits through one loop, :func:`_cas_commit`:
it reads the chain, skips a batch key that already committed, asks the
verb's ``attempt(head)`` for the next record and PUTs it if absent
(:func:`_commit`), retrying on conflict. Around it sit one carry rule
(``_TABLE_STATE_KEYS`` / :func:`_carry_table_meta`), one per-dir
sidecar builder (:func:`_dir_sidecars`: row counts, min/max stats,
Bloom files, KMV synopses) and one widen-only schema rule
(:func:`_widen_schema`).

Reference parity note: the reference engine has no persistence at all
(uts.ts:243 — an in-memory array); this whole module is north-star
surface.
"""

from __future__ import annotations

import functools
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession


def _versions_dir(path: str) -> str:
    return os.path.join(path, "_versions")


def _data_dir(path: str, version: int) -> str:
    return os.path.join(path, "data", f"v{version}")


def list_versions(path: str) -> list[dict]:
    """All committed manifests, ascending by version."""
    vdir = _versions_dir(path)
    if not os.path.isdir(vdir):
        return []
    out = []
    for name in os.listdir(vdir):
        if name.startswith("v") and name.endswith(".json"):
            with open(os.path.join(vdir, name)) as f:
                out.append(json.load(f))
    return sorted(out, key=lambda m: m["version"])


def current_version(path: str) -> int | None:
    versions = list_versions(path)
    return versions[-1]["version"] if versions else None


class VersionConflictError(ValueError):
    """Another writer committed this version first (optimistic
    concurrency): re-read the current version and retry — a file-add
    commit (append) can retry as-is; a rewrite commit (delete,
    compact) must recompute against the new current."""


def _commit(path: str, rec: dict, branch: str | None = None) -> None:
    """PUT-if-absent of one chain record: version ``rec["version"]``
    of the main chain, or head ``rec["seq"]`` of ``branch``. The one
    commit point of every writer (:func:`_cas_commit` drives it)."""
    if branch is None:
        rdir = _versions_dir(path)
        os.makedirs(rdir, exist_ok=True)
        # stamp commit wall time (ROADMAP r11 #1): age-based retention
        # (vacuum max_age_secs=) needs to know WHEN a version committed,
        # and file mtimes don't survive copies/replication. Replay-safe:
        # the stamp is an OUTPUT of the commit, never an input to any
        # plan; replication may pass its own committed_at through meta
        # to preserve source-side ages, so an existing stamp is kept.
        rec.setdefault("committed_at", round(time.time(), 3))
        final = os.path.join(rdir, f"v{rec['version']}.json")
        what = f"version {rec['version']}"
    else:
        rdir = _branch_dir(path, branch)
        final = os.path.join(rdir, f"h{rec['seq']}.json")
        what = f"branch {branch!r} head {rec['seq']}"
    conflict = VersionConflictError(
        f"versioned table {path}: {what} already committed "
        "(concurrent writer?)"
    )
    if os.path.exists(final):
        raise conflict
    # unique temp per writer, then a hard LINK to the final name: link
    # fails atomically with EEXIST if a racer landed between the check
    # above and here — the local-FS analog of object storage's
    # PUT-if-absent, and the reason index services can commit through
    # this table without any O_EXCL marker (VERDICT r8 #4). os.replace
    # would silently LAST-writer-win the race instead.
    tmp = os.path.join(rdir, f".commit-{os.getpid()}-{id(rec)}.tmp")
    with open(tmp, "w") as f:
        json.dump(rec, f, sort_keys=True)
    try:
        os.link(tmp, final)  # the atomic commit point
    except FileExistsError:
        raise conflict from None
    finally:
        os.remove(tmp)


_CAS_RETRIES = 5


def _cas_commit(path: str, attempt, *, branch: str | None = None,
                batch_key=None):
    """The optimistic-concurrency commit loop of every writer of a
    manifest chain (main, or ``branch``'s head chain). Each try reads
    the chain once. A record already carrying ``batch_key`` returns its
    id (version or seq) untouched: a replayed micro-batch, or the racer
    that beat us being our replayed twin. Otherwise ``attempt(head)``
    (head: the newest record, ``{}`` on an empty main chain) returns
    either the verb's early result or ``(dirs, operation, n_rows,
    meta)``, committed as the next record by PUT-if-absent. A conflict
    retries from the top: an append's attempt reuses the delta it
    already wrote (file adds commute), a rewrite's recomputes.
    ``batch_key`` is the key string, or a function of the chain (the
    index families' epoch-scoped key)."""
    id_of = "version" if branch is None else "seq"
    last: Exception | None = None
    for _ in range(_CAS_RETRIES):
        chain = list_versions(path) if branch is None else (
            _branch_records(path, branch)
        )
        key = batch_key(chain) if callable(batch_key) else batch_key
        if key is not None:
            hits = [r[id_of] for r in chain if r.get("batch_key") == key]
            if hits:
                return hits[-1]
        head = chain[-1] if chain else {}
        out = attempt(head)
        if not isinstance(out, tuple):
            return out
        dirs, operation, n_rows, meta = out
        if branch is None:
            parent = head.get("version")
            rec = {"version": 0 if parent is None else parent + 1,
                   "parent": parent}
        else:
            rec = {"seq": head["seq"] + 1, "base": head["base"]}
        rec.update({"operation": operation, "n_rows": n_rows,
                    "data_dirs": list(dirs), **meta})
        if key is not None:
            rec["batch_key"] = key
        try:
            _commit(path, rec, branch)
            return rec[id_of]
        except VersionConflictError as e:
            last = e
    raise last  # type: ignore[misc]


# stats ride the JSON manifest, so the stats column must round-trip
# through json.dump AND compare correctly against the literal read
# back — numeric / string / boolean only. date/timestamp/binary/decimal
# would raise TypeError at manifest-commit time, AFTER the data dir is
# written (orphan dir, failed snapshot) — refuse them before any write.
_JSON_STATS_PREFIXES = (
    "tinyint", "smallint", "int", "bigint", "float", "double",
    "string", "boolean",
)


def _check_stats_col(df: DataFrame, stats_col: str) -> None:
    typ = dict(df.dtypes).get(stats_col)
    if typ is not None and not typ.startswith(_JSON_STATS_PREFIXES):
        raise ValueError(
            f"stats_col {stats_col!r} has type {typ}, which does not "
            "round-trip through the JSON manifest (min/max stats need a "
            "numeric, string, or boolean column) — cast it first, e.g. "
            "a timestamp to bigint epoch"
        )


# Footer min/max is trusted ONLY for these parquet physical types:
# strings (BYTE_ARRAY) may be TRUNCATED in footers (writers cap binary
# stats length — a truncated value is a valid pruning BOUND but not the
# scan's exact value, and manifest stats must match the scan path
# bit-for-bit), and float/double footers exclude NaN while Spark's
# max() sorts NaN highest. Both fall back to the scan.
_FOOTER_STATS_PHYS = {"INT32", "INT64", "BOOLEAN"}


def _dir_footer_meta(ddir: str, stats_col: str | None = None):
    """Row count (exact for any schema) and, when trustworthy, the
    [min, max] of ``stats_col`` read from the just-written parquet
    FOOTERS — the write-side statistics every real table format
    records instead of re-scanning its own output (optimization r11,
    guide §1.2: the cheapest Spark job is the one not launched; each
    commit verb was paying a full read-back scan for numbers the
    footers already hold). Returns ``(n_rows, rng_or_None, have_rng)``
    or ``None`` when the dir cannot be footer-read at all (caller
    falls back to the Spark scan)."""
    import pyarrow.parquet as pq

    try:
        names = sorted(os.listdir(ddir))
    except OSError:
        return None
    n = 0
    lo = hi = None
    have = stats_col is not None
    try:
        for fn in names:
            if not fn.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(ddir, fn)).metadata
            n += md.num_rows
            if not have:
                continue
            for rgi in range(md.num_row_groups):
                rg = md.row_group(rgi)
                if rg.num_rows == 0:
                    continue
                c = next(
                    (
                        rg.column(i)
                        for i in range(rg.num_columns)
                        if rg.column(i).path_in_schema == stats_col
                    ),
                    None,
                )
                st = c.statistics if c is not None else None
                if (
                    c is None
                    or c.physical_type not in _FOOTER_STATS_PHYS
                    or st is None
                    or not st.has_min_max
                    # logical types (date/timestamp/decimal) surface as
                    # non-int python values — only plain ints/bools match
                    # the scan's JSON form exactly
                    or not isinstance(st.min, (bool, int))
                    or not isinstance(st.max, (bool, int))
                ):
                    have = False
                    break
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
    except Exception:
        return None
    return n, ([lo, hi] if (have and lo is not None) else None), have


def _dir_count(spark, ddir: str) -> int:
    """Exact row count of a data dir — parquet footers first (no Spark
    job), scan fallback."""
    meta = _dir_footer_meta(ddir)
    if meta is not None:
        return meta[0]
    return spark.read.parquet(ddir).count()


def _dir_stats(spark, ddir: str, stats_col: str):
    """(row count, [min, max] of ``stats_col``) of a data dir — the
    manifest-recorded file statistics that let erasure prune (same
    design as the snapshot indexes' id-range stats; values stay
    whatever JSON-serializable type the column holds). Empty dir ->
    None range (admits nothing). Answered from parquet footers when
    the stats column's physical type makes footer min/max exact
    (integers/booleans — see ``_FOOTER_STATS_PHYS``); strings/floats
    pay the one read-back scan as before."""
    from pyspark.sql import functions as F

    meta = _dir_footer_meta(ddir, stats_col)
    if meta is not None and meta[2]:
        n = meta[0]
        return n, (meta[1] if n else None)
    row = spark.read.parquet(ddir).agg(
        F.count(F.lit(1)).alias("n"),
        F.min(stats_col).alias("lo"),
        F.max(stats_col).alias("hi"),
    ).first()
    n = int(row["n"] or 0)
    return n, ([row["lo"], row["hi"]] if n else None)


# --- per-dir BLOOM sidecars (round 10): pruning for HASH-DISTRIBUTED keys ---
#
# Dir min/max stats prune erasure only when the key is CLUSTERED across
# dirs (id-ordered appends). The common GDPR takedown key is the
# opposite: a hash-like id uniformly spread over the keyspace, so every
# dir's [min, max] spans ~everything and stats admit ALL dirs — the
# pruned erasure silently degrades to a full rewrite. A per-dir Bloom
# filter prunes by CONTENT instead of range: a dir whose filter rejects
# every deleted key provably holds none of them (Blooms have no false
# negatives) and carries by reference; a false positive only costs a
# needless dir rewrite, never correctness.
#
# Format: ``<dir>/_BLOOM.json`` — column, m (bits, power of two),
# k (hash count), base64 bitmap. The sidecar lives INSIDE the data dir:
# Spark ignores ``_``-prefixed files during parquet discovery, the dir
# is immutable after commit, and every lifecycle verb (vacuum, orphan
# cleanup, branch retention) covers it for free because it travels with
# the dir. Hashing is the repo's portable two-lane md5 convention
# (Kirsch-Mitzenmacher double hashing: pos_i = (h1 + i*h2) mod m), so
# build and probe agree on any engine. 16 bits/row with k=11 gives
# fpp ~= 4.6e-4 — at 64 dirs and a 1k-id takedown batch, the expected
# extra rewrites stay well under one dir.

_BLOOM_BITS_PER_ROW = 16
_BLOOM_K = 11  # round(16 * ln 2)
_BLOOM_FILE = "_BLOOM.json"
# the bloom key's STRING form must agree between the JVM cast and
# python str() — integers and strings do, floats/timestamps don't
_BLOOM_KEY_TYPES = {"tinyint", "smallint", "int", "bigint", "string"}


def _check_bloom_col(df: DataFrame, bloom_col: str) -> None:
    typ = dict(df.dtypes).get(bloom_col)
    if typ is not None and typ not in _BLOOM_KEY_TYPES:
        raise ValueError(
            f"bloom_col {bloom_col!r} has type {typ}; per-dir Bloom "
            "sidecars support integer and string keys only (the key's "
            "canonical string form must be engine-independent) — cast "
            "the key first"
        )


def _bloom_m(n_rows: int) -> int:
    """Bitmap size for ``n_rows`` keys: next power of two at or above
    16 bits/row, floor 64 (an empty dir gets an all-zero 64-bit map
    that admits nothing)."""
    if n_rows <= 0:
        return 64
    return 1 << max(6, (n_rows * _BLOOM_BITS_PER_ROW - 1).bit_length())


def _bloom_lanes(key_str: str) -> tuple[int, int]:
    import hashlib

    h = hashlib.md5(key_str.encode("utf-8")).hexdigest()
    # two independent 60-bit lanes; h2 forced odd so the double-hash
    # walk covers the (power-of-two) bitmap
    return int(h[:15], 16), int(h[15:30], 16) | 1


def _bloom_lanes_i64(vals):
    """Vectorized two-lane mixer for INTEGER keys (numpy uint64
    splitmix64 finalizer, the SplittableRandom constant set). The
    filter's hash only has to agree between OUR build and OUR probe —
    never with an external engine — so integer keys skip the per-row
    md5 loop entirely: the fold/probe become numpy array passes
    (memory-bandwidth, not Python-loop). Returns (h1, h2) uint64
    arrays, h2 forced odd."""
    import numpy as np

    with np.errstate(over="ignore"):
        x = vals.astype(np.uint64)

        def mix(z):
            z = z + np.uint64(0x9E3779B97F4A7C15)
            z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
            z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
            return z ^ (z >> np.uint64(31))

        h1 = mix(x)
        h2 = mix(x ^ np.uint64(0xA5A5A5A5A5A5A5A5)) | np.uint64(1)
    return h1, h2


def _bloom_fold_positions(bits, keys, m: int, k: int, hash_kind: str):
    """OR the k bit positions of every key into ``bits`` (uint8[m/8]),
    in place."""
    import numpy as np

    if hash_kind == "splitmix64":
        h1, h2 = _bloom_lanes_i64(keys)
        mm = np.uint64(m)
        with np.errstate(over="ignore"):
            for i in range(k):
                pos = (h1 + np.uint64(i) * h2) % mm
                np.bitwise_or.at(
                    bits,
                    (pos >> np.uint64(3)).astype(np.int64),
                    (np.uint64(1) << (pos & np.uint64(7))).astype(np.uint8),
                )
    else:
        for s in keys:
            h1, h2 = _bloom_lanes(s)
            for i in range(k):
                p = (h1 + i * h2) % m
                bits[p >> 3] |= 1 << (p & 7)


def _write_dir_bloom(spark, ddir: str, col: str, n_rows: int) -> None:
    """Build the dir's Bloom sidecar with one delta-sized scan: each
    input partition folds its keys into a local m-bit bitmap inside an
    Arrow-batched kernel (one output row per partition, never a
    per-key shuffle), the driver ORs the partition bitmaps — driver
    cost is (partitions x m/8) bytes, independent of row count.
    Integer keys hash via the vectorized splitmix64 lanes, strings via
    the portable two-lane md5; the sidecar records which."""
    import base64

    import numpy as np
    from pyspark.sql import functions as F

    m = _bloom_m(n_rows)
    nbytes = m // 8
    typ = dict(spark.read.parquet(ddir).dtypes).get(col)
    is_int = typ in ("tinyint", "smallint", "int", "bigint")
    hash_kind = "splitmix64" if is_int else "md5"
    if n_rows > 0:
        k = _BLOOM_K

        def fold(batches):
            import pandas as pd

            bits = np.zeros(nbytes, dtype=np.uint8)
            for pdf in batches:
                keys = (
                    pdf["__k"].to_numpy(dtype=np.int64)
                    if is_int
                    else pdf["__k"]
                )
                _bloom_fold_positions(bits, keys, m, k, hash_kind)
            yield pd.DataFrame({"b": [bits.tobytes()]})

        src = (
            F.col(col).cast("long")
            if is_int
            else F.col(col).cast("string")
        )
        parts = (
            spark.read.parquet(ddir)
            .select(src.alias("__k"))
            .mapInPandas(fold, "b binary")
            .collect()
        )
        acc = np.zeros(nbytes, dtype=np.uint8)
        for r in parts:
            acc |= np.frombuffer(r["b"], dtype=np.uint8)
        payload = acc.tobytes()
    else:
        payload = bytes(nbytes)
    tmp = os.path.join(ddir, f".{_BLOOM_FILE}.tmp")
    with open(tmp, "w") as f:
        json.dump(
            {
                "col": col,
                "m": m,
                "k": _BLOOM_K,
                "hash": hash_kind,
                "b64": base64.b64encode(payload).decode("ascii"),
            },
            f,
        )
    os.replace(tmp, os.path.join(ddir, _BLOOM_FILE))


def _read_dir_bloom(ddir: str) -> dict | None:
    p = os.path.join(ddir, _BLOOM_FILE)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def _dirs_bloom_admit(
    spark, idf: DataFrame, key: str, dirs: list[str]
) -> list[bool] | None:
    """Per-dir admit flags for the deleted-ids frame against each dir's
    Bloom sidecar; None when any dir lacks a sidecar for ``key``
    (caller falls back to whatever other pruning input it has — a
    missing filter can only widen the rewrite, never lose a row).
    Cost: one Arrow-batched pass over the TAKEDOWN BATCH (never the
    table) with the bitmaps broadcast once; each partition emits one
    row of per-dir booleans."""
    import base64

    import numpy as np
    from pyspark.sql import functions as F

    metas = []
    for d in dirs:
        meta = _read_dir_bloom(d)
        if meta is None or meta.get("col") != key:
            return None
        metas.append(
            (
                int(meta["m"]),
                int(meta["k"]),
                meta.get("hash", "md5"),
                np.frombuffer(
                    base64.b64decode(meta["b64"]), dtype=np.uint8
                ),
            )
        )
    kinds = {t[2] for t in metas}
    if len(kinds) != 1:
        return None  # mixed hash kinds across dirs: fall back
    hash_kind = kinds.pop()
    bc = spark.sparkContext.broadcast(metas)
    ndirs = len(dirs)
    schema = ", ".join(f"h{j} boolean" for j in range(ndirs))

    def probe(batches):
        import pandas as pd

        ms = bc.value
        hit = np.zeros(ndirs, dtype=bool)
        for pdf in batches:
            if bool(hit.all()):
                break
            if hash_kind == "splitmix64":
                h1s, h2s = _bloom_lanes_i64(
                    pdf["__k"].to_numpy(dtype=np.int64)
                )
                with np.errstate(over="ignore"):
                    for j, (m, k, _, bits) in enumerate(ms):
                        if hit[j]:
                            continue
                        mm = np.uint64(m)
                        member = np.ones(len(h1s), dtype=bool)
                        for i in range(k):
                            pos = (h1s + np.uint64(i) * h2s) % mm
                            member &= (
                                (
                                    bits[
                                        (pos >> np.uint64(3)).astype(
                                            np.int64
                                        )
                                    ]
                                    >> (pos & np.uint64(7)).astype(np.uint8)
                                )
                                & np.uint8(1)
                            ).astype(bool)
                            if not member.any():
                                break
                        hit[j] = bool(member.any())
            else:
                for s in pdf["__k"]:
                    h1, h2 = _bloom_lanes(s)
                    for j, (m, k, _, bits) in enumerate(ms):
                        if hit[j]:
                            continue
                        if all(
                            (bits[p >> 3] >> (p & 7)) & 1
                            for p in ((h1 + i * h2) % m for i in range(k))
                        ):
                            hit[j] = True
                    if bool(hit.all()):
                        break
        yield pd.DataFrame({f"h{j}": [bool(hit[j])] for j in range(ndirs)})

    src = (
        F.col(key).cast("long")
        if hash_kind == "splitmix64"
        else F.col(key).cast("string")
    )
    row = (
        idf.select(src.alias("__k"))
        .mapInPandas(probe, schema)
        .agg(*[F.max(f"h{j}").alias(f"h{j}") for j in range(ndirs)])
        .first()
    )
    return [bool(row[f"h{j}"]) for j in range(ndirs)]


# --- per-dir KMV DISTINCT sketches (round 10 cont., r11 #1) -----------------
#
# Min/max stats prune by RANGE, Bloom sidecars prove ABSENCE; neither
# answers the planner questions a catalog is asked before any data
# moves: how many DISTINCT keys does this table hold, how many rows
# would this join produce, how many rows would this takedown touch?
# A K-Minimum-Values synopsis (Bar-Yossef et al. 2002) answers all
# three from the MANIFEST alone: each dir records the k smallest
# 60-bit portable hashes of its distinct key values (a few hundred
# bytes of JSON), and because every globally-smallest hash is also
# smallest within its own dir, the k smallest of the per-dir UNION are
# EXACTLY the k smallest over the whole table — the merged synopsis is
# identical to one computed in a single pass, regardless of how many
# appends/rewrites produced the dirs. Estimates are deterministic
# integer arithmetic (floor division on the repo's portable md5-60bit
# hash), so an external SQL engine reproduces them bit-for-bit.
#
# KMV is an ESTIMATOR, never a pruning proof: a key absent from the
# synopsis says nothing about a dir (contrast Bloom). Its consumers
# are planner decisions — join-size estimates, erasure-strategy
# choice (MOR vector vs copy-on-write), broadcast-vs-shuffle hints —
# where being off by a few percent is fine and scanning 100 TB to ask
# is not. MOR caveat: sketches describe the PHYSICAL dirs, so rows
# masked by outstanding deletion vectors still count until
# materialize folds them.

_KMV_K = 64
_KMV_SPACE = 1 << 60  # hash64 is uniform on [0, 2^60)


def _check_kmv_col(df: DataFrame, kmv_col: str) -> None:
    typ = dict(df.dtypes).get(kmv_col)
    if typ is not None and not (
        typ in ("tinyint", "smallint", "int", "bigint", "string")
    ):
        raise ValueError(
            f"kmv_col {kmv_col!r} has type {typ}; the portable-hash "
            "sketch needs a column whose string form agrees between "
            "engines (integers or strings) — cast it first"
        )


def _dir_kmv(spark, ddir: str, col: str, k: int) -> list[int]:
    """The k smallest distinct portable hashes of ``col`` in one dir —
    one narrow distinct-scan per commit (the same per-commit cost
    class as _dir_stats / _write_dir_bloom), driver-materialized as k
    ints on the manifest."""
    from pyspark.sql import functions as F

    from uts_spark.functions.hashing import hash64

    rows = (
        spark.read.parquet(ddir)
        .select(hash64(F.col(col).cast("string")).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(k)
        .collect()
    )
    return [int(r["h"]) for r in rows]


def kmv_merge(sketches, k: int) -> list[int]:
    """k smallest of the union — the lossless merge (see module
    comment: equals the single-pass synopsis of the union's rows)."""
    u: set[int] = set()
    for s in sketches:
        u.update(s)
    return sorted(u)[:k]


def kmv_estimate(sketch: list[int], k: int) -> int:
    """Distinct-count estimate, exact-integer form: fewer than k
    values means the synopsis saw every distinct hash (the count IS
    the answer, modulo 60-bit collisions); otherwise the classic
    (k-1) * SPACE / h_(k), floor-pinned so oracles reproduce it."""
    if len(sketch) < k:
        return len(sketch)
    return (k - 1) * _KMV_SPACE // sketch[k - 1]


def table_kmv(
    path: str, version: int | None = None, col: str | None = None
) -> tuple[list[int], int] | None:
    """The table-level merged synopsis at a version (latest if None),
    from the manifest alone — no data scan. None when the version
    carries no (complete) sketch set. ``col`` selects WHICH column's
    synopsis (ROADMAP r11 #4 — multi-key manifests): None or the
    primary ``kmv_col`` reads the classic ``dir_kmv``; any other name
    resolves from ``kmv_extra`` (the per-column secondary sketches a
    multi-column ``kmv_col=`` write records)."""
    versions = {m["version"]: m for m in list_versions(path)}
    if not versions:
        return None
    m = versions[max(versions) if version is None else version]
    dirs = _manifest_dirs(m)
    k = int(m.get("kmv_k", _KMV_K))
    if col is None or col == m.get("kmv_col"):
        if "kmv_col" not in m:
            return None
        dk = m.get("dir_kmv", {})
        if not set(dk) >= set(dirs):
            return None
        return kmv_merge([dk[d] for d in dirs], k), k
    dk = m.get("kmv_extra", {}).get(col)
    if dk is None or not set(dk) >= set(dirs):
        return None
    return kmv_merge([dk[d] for d in dirs], k), k


def kmv_cols_of(path: str, version: int | None = None) -> list[str]:
    """Every column the version carries a synopsis for (primary
    first) — the planner's 'which keys can I estimate?' lookup."""
    versions = {m["version"]: m for m in list_versions(path)}
    if not versions:
        return []
    m = versions[max(versions) if version is None else version]
    out = [m["kmv_col"]] if "kmv_col" in m else []
    out.extend(c for c in sorted(m.get("kmv_extra", {})) if c not in out)
    return out


def kmv_distinct(
    path: str, version: int | None = None, col: str | None = None
) -> int:
    """Estimated distinct count of a tracked column (default: the
    primary ``kmv_col``) from the manifest synopsis. Raises when the
    version has none for that column (an estimate silently computed
    from nothing would be a lie)."""
    got = table_kmv(path, version, col)
    if got is None:
        raise ValueError(
            f"versioned table {path}: no complete KMV synopsis for "
            f"{col if col is not None else 'the primary kmv_col'} at "
            f"version {version if version is not None else 'latest'} — "
            "opt in with kmv_col= at write/append time (a tuple "
            "tracks several columns)"
        )
    sketch, k = got
    return kmv_estimate(sketch, k)


def _kmv_intersect_est(
    sa: list[int], ka: int, sb: list[int], kb: int
) -> tuple[int, int]:
    """(estimated distinct keys in the intersection, estimated
    distinct keys in the union). Three regimes, all floor-pinned
    integers so an external engine reproduces them:

    - both sketches EXHAUSTIVE (fewer than k values = every distinct
      hash is present): intersection and union are exact set algebra;
    - one side exhaustive (the takedown-planner shape — a handful of
      victim keys against a big table): the big sketch is a uniform
      k-of-D sample of the table's distinct keys, so the hits it
      scores against the full small set scale by D/k (the union-merge
      form would truncate the small side's large hashes away and
      report 0);
    - both sampled: the standard KMV set algebra — merge to the union
      synopsis U at k = min(ka, kb), the fraction of U present in
      BOTH sketches estimates the Jaccard, scaled by the union
      estimate."""
    ea, eb = len(sa) < ka, len(sb) < kb
    if ea and eb:
        inter = len(set(sa) & set(sb))
        return inter, len(set(sa) | set(sb))
    if ea or eb:
        if ea:  # make sa the sampled side
            sa, ka, sb, kb = sb, kb, sa, ka
        hits = len(set(sa) & set(sb))
        da = kmv_estimate(sa, ka)
        d_inter = hits * da // ka
        return d_inter, da + len(sb) - d_inter
    k = min(ka, kb)
    u = kmv_merge([sa, sb], k)
    inter = len(set(u) & set(sa) & set(sb))
    du = kmv_estimate(u, k)
    return inter * du // k, du


def kmv_join_estimate(
    path_a: str,
    key_rows_a: int,
    path_b: str,
    key_rows_b: int,
    version_a: int | None = None,
    version_b: int | None = None,
    col_a: str | None = None,
    col_b: str | None = None,
) -> dict:
    """Estimated inner-equi-join output size between two KMV-tracked
    tables, from their MANIFESTS alone: distinct-key estimates for
    each side, intersection estimate via KMV set algebra, then
    rows ≈ D∩ · (rows_a / D_a) · (rows_b / D_b) — the uniform-
    frequency textbook estimator, floor-pinned. ``key_rows_*`` are
    the row counts participating in the join (pass the manifests'
    ``n_rows`` for whole-table joins). The planner question this
    answers at 100 TB: is the build side broadcastable, and is the
    output explosive — before any scan is scheduled."""
    ga = table_kmv(path_a, version_a, col_a)
    gb = table_kmv(path_b, version_b, col_b)
    if ga is None or gb is None:
        raise ValueError(
            "kmv_join_estimate: both tables need a complete KMV "
            f"synopsis for the join key (have: {path_a}"
            f"[{col_a or 'primary'}]={ga is not None}, {path_b}"
            f"[{col_b or 'primary'}]={gb is not None}) — a tuple "
            "kmv_col= tracks several columns"
        )
    (sa, ka), (sb, kb) = ga, gb
    da, db = kmv_estimate(sa, ka), kmv_estimate(sb, kb)
    d_inter, d_union = _kmv_intersect_est(sa, ka, sb, kb)
    est_rows = (
        d_inter * key_rows_a * key_rows_b // (da * db) if da and db else 0
    )
    return {
        "distinct_a": da,
        "distinct_b": db,
        "distinct_intersection": d_inter,
        "distinct_union": d_union,
        "est_join_rows": est_rows,
    }


def kmv_overlap_estimate(
    spark, path: str, keys: DataFrame, key: str,
    version: int | None = None,
) -> dict:
    """Estimated rows of the table matching a key frame (the takedown
    planner's question: how big would this erasure be?) — the table
    side comes from the manifest synopsis; the KEY FRAME side is
    sketched in one tiny distinct-scan of the frame itself (never the
    table). Returns estimated matching distinct keys and rows; the
    honest consumer treats it as advisory (KMV estimates, Bloom
    proves)."""
    from pyspark.sql import functions as F

    from uts_spark.functions.hashing import hash64

    got = table_kmv(path, version, key)
    if got is None:
        raise ValueError(
            f"versioned table {path}: no complete KMV synopsis for "
            f"{key!r} — opt in with kmv_col= at write/append time "
            f"(tracked: {kmv_cols_of(path, version)})"
        )
    st, kt = got
    versions = {m["version"]: m for m in list_versions(path)}
    m = versions[max(versions) if version is None else version]
    rows = (
        keys.select(hash64(F.col(key).cast("string")).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(kt)
        .collect()
    )
    sk = [int(r["h"]) for r in rows]
    d_table = kmv_estimate(st, kt)
    d_keys = kmv_estimate(sk, kt)
    d_inter, _ = _kmv_intersect_est(st, kt, sk, kt)
    n_rows = int(m.get("n_rows", 0))
    est_rows = d_inter * n_rows // d_table if d_table else 0
    return {
        "distinct_table": d_table,
        "distinct_keys": d_keys,
        "distinct_matching": d_inter,
        "est_matching_rows": est_rows,
    }


def _served_bytes_estimate(m: dict, n_rows: int) -> int | None:
    """Estimated bytes a reader SERVES from a manifest's dirs: on-disk
    parquet bytes scaled by n_rows over the physical row count (the
    dirs' recorded dir_rows sum) — merge-on-read masks mean bytes on
    disk can far exceed what a read materializes. None when a dir is
    unlistable (foreign filesystem) — the caller treats bytes as
    unknown and falls back to row counts."""
    total = 0
    for d in _manifest_dirs(m):
        p = d
        if p.startswith("file:"):
            p = _norm_dir(p)
        if not os.path.isdir(p):
            return None
        for name in os.listdir(p):
            if name.endswith(".parquet"):
                total += os.path.getsize(os.path.join(p, name))
    dir_rows = m.get("dir_rows", {})
    phys = (
        sum(dir_rows[d] for d in _manifest_dirs(m))
        if set(dir_rows) >= set(_manifest_dirs(m))
        else None
    )
    if phys and phys > 0 and n_rows <= phys:
        return total * n_rows // phys
    return total


def plan_join(
    path_a: str,
    path_b: str,
    version_a: int | None = None,
    version_b: int | None = None,
    broadcast_rows: int = 500_000,
    explode_factor: int = 4,
    key_a: str | None = None,
    key_b: str | None = None,
    broadcast_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """JOIN PLAN from MANIFESTS alone (the estimate→plan loop closed —
    refreshed r11 #1): decide the physical strategy for an inner
    equi-join of two versioned tables before any scan is scheduled,
    from each side's committed ``n_rows`` and (when both tables carry
    KMV synopses for the join key) the join-size estimate.
    ``key_a``/``key_b`` name the JOIN COLUMNS the estimate should use
    (ROADMAP r11 #4 — multi-key synopses: a tuple ``kmv_col=`` at
    write time records one sketch per column, so a second join key
    plans from the manifest without a re-scan); None keeps the
    primary-synopsis behavior, and a key with no sketch degrades the
    plan to row counts only (recorded by the absent ``estimate``).

    - ``strategy``: 'broadcast' when the smaller side's row count is
      within ``broadcast_rows`` (the build side named explicitly),
      else 'shuffle'. Row counts are manifest facts, not samples — the
      one statistic Spark's own size-based threshold has to INFER from
      file sizes, and gets wrong after filters.
    - ``explosive``: True when the KMV estimate says output rows
      exceed ``explode_factor`` × the larger input — the fan-out a
      planner wants to refuse or repartition for BEFORE the shuffle
      materializes it.

    Estimates are advisory (KMV contract); the returned dict records
    everything it used so the caller can log the decision."""
    versions_a = {m["version"]: m for m in list_versions(path_a)}
    versions_b = {m["version"]: m for m in list_versions(path_b)}
    if not versions_a or not versions_b:
        raise ValueError(
            f"plan_join: both tables need committed versions "
            f"({path_a}: {bool(versions_a)}, {path_b}: {bool(versions_b)})"
        )
    ma = versions_a[max(versions_a) if version_a is None else version_a]
    mb = versions_b[max(versions_b) if version_b is None else version_b]
    rows_a, rows_b = int(ma["n_rows"]), int(mb["n_rows"])
    build = "a" if rows_a <= rows_b else "b"
    # bytes guard (round 11 — the planned-join A/B exposed the
    # rows-only proxy's gap: a 60k-row dim of 1KB blobs is a 60MB
    # broadcast; row counts alone would ship it). Estimated SERVED
    # bytes of the build side = on-disk parquet bytes scaled by
    # n_rows / physical rows (merge-on-read masks shrink what a
    # broadcast actually ships — the anti-join applies first). Bytes
    # come from a file listing of the manifest dirs: metadata cost,
    # never a scan.
    bm, b_rows = (ma, rows_a) if build == "a" else (mb, rows_b)
    est_bytes = _served_bytes_estimate(bm, b_rows)
    plan = {
        "rows_a": rows_a,
        "rows_b": rows_b,
        "build_side": build,
        "est_build_bytes": est_bytes,
        "strategy": (
            "broadcast"
            if min(rows_a, rows_b) <= broadcast_rows
            and (est_bytes is None or est_bytes <= broadcast_bytes)
            else "shuffle"
        ),
        "explosive": False,
    }
    if (
        min(rows_a, rows_b) <= broadcast_rows
        and plan["strategy"] == "shuffle"
    ):
        plan["broadcast_refused"] = "build side exceeds broadcast_bytes"
    ga = table_kmv(path_a, version_a, key_a)
    gb = table_kmv(path_b, version_b, key_b)
    if ga is not None and gb is not None:
        est = kmv_join_estimate(
            path_a, rows_a, path_b, rows_b,
            version_a=version_a, version_b=version_b,
            col_a=key_a, col_b=key_b,
        )
        plan["estimate"] = est
        plan["explosive"] = (
            est["est_join_rows"] > explode_factor * max(rows_a, rows_b)
        )
    return plan


def join_versioned(
    spark: SparkSession,
    path_a: str,
    path_b: str,
    key_a: str,
    key_b: str | None = None,
    how: str = "inner",
    version_a: int | None = None,
    version_b: int | None = None,
    broadcast_rows: int = 500_000,
    explode_factor: int = 4,
    refuse_explosive: bool = False,
    broadcast_bytes: int = 128 * 1024 * 1024,
) -> DataFrame:
    """Equi-join two versioned tables with the physical strategy
    chosen by :func:`plan_join` — manifest row counts pick the
    broadcast side (an explicit ``F.broadcast`` hint, not a file-size
    guess), and a KMV-estimated explosive output either warns-by-plan
    (recorded in the plan dict) or refuses up front
    (``refuse_explosive=True``) instead of discovering the fan-out
    mid-shuffle. Plan-shape pinned in tests/test_sinks.py."""
    from pyspark.sql import functions as F

    plan = plan_join(
        path_a, path_b, version_a, version_b, broadcast_rows,
        explode_factor, key_a=key_a, key_b=key_b or key_a,
        broadcast_bytes=broadcast_bytes,
    )
    if refuse_explosive and plan["explosive"]:
        raise ValueError(
            f"join_versioned: estimated output "
            f"{plan['estimate']['est_join_rows']} rows exceeds "
            f"{explode_factor}x the larger input "
            f"({max(plan['rows_a'], plan['rows_b'])}) — likely a "
            "many-to-many key; repartition or aggregate first"
        )
    a = read_version(spark, path_a, version_a)
    b = read_version(spark, path_b, version_b)
    if plan["strategy"] == "broadcast":
        if plan["build_side"] == "a":
            a = F.broadcast(a)
        else:
            b = F.broadcast(b)
    if key_b is None or key_b == key_a:
        return a.join(b, key_a, how)
    return a.join(b, a[key_a] == b[key_b], how)


def suggest_erasure_mode(
    spark, path: str, keys: DataFrame, key: str,
    mor_below_frac: float = 0.02,
) -> str:
    """Takedown-strategy advisor off the manifest synopsis: 'mor'
    (commit a deletion vector — O(keys)) when the estimated touched
    fraction is below ``mor_below_frac``, else 'cow' (pruned
    copy-on-write — pay the rewrite now rather than letting masked
    debt grow past what one materialize amortizes). Advisory by
    construction; both verbs stay correct either way."""
    est = kmv_overlap_estimate(spark, path, keys, key)
    versions = {m["version"]: m for m in list_versions(path)}
    n = int(versions[max(versions)].get("n_rows", 0)) or 1
    return "mor" if est["est_matching_rows"] / n < mor_below_frac else "cow"


def write_snapshot(
    df: DataFrame,
    path: str,
    operation: str = "overwrite",
    meta: dict | None = None,
    stats_col: str | None = None,
    bloom_col: str | None = None,
    kmv_col: str | tuple[str, ...] | None = None,
    kmv_k: int = _KMV_K,
) -> int:
    """Write ``df`` as the table's next version; returns the version id.
    Data files are immutable — a snapshot never touches earlier
    versions' files, so readers pinned to any version are unaffected.
    ``meta`` rides on the manifest (index services store their config
    and corpus fingerprint there). ``stats_col`` opts into per-dir
    min/max statistics on the manifest — the input that lets
    :func:`delete_rows` rewrite only the dirs whose range admits a
    deleted key. ``bloom_col`` opts into per-dir Bloom sidecars (module
    comment above) — the pruning input for HASH-DISTRIBUTED erasure
    keys, where min/max ranges span everything and prune nothing; the
    two compose (both given: a dir rewrites only if range AND filter
    admit). ``kmv_col`` opts into per-dir KMV distinct sketches on the
    manifest (module comment above) — the planner-estimate input
    (distinct counts, join sizes, takedown sizing), never a pruning
    proof."""
    _check_reserved_cols(df, f"versioned table {path}: write_snapshot")
    if stats_col is not None:
        _check_stats_col(df, stats_col)
    if bloom_col is not None:
        _check_bloom_col(df, bloom_col)
    # kmv_col accepts a TUPLE (ROADMAP r11 #4): first column is the
    # primary synopsis (classic kmv_col/dir_kmv manifest keys — old
    # readers unchanged), the rest land per-column under kmv_extra so
    # a second join key plans from the manifest without a re-scan
    kmv_cols: tuple[str, ...] = ()
    if kmv_col is not None:
        kmv_cols = (
            (kmv_col,) if isinstance(kmv_col, str) else tuple(kmv_col)
        )
        for c in kmv_cols:
            _check_kmv_col(df, c)
    parent = current_version(path)
    version = 0 if parent is None else parent + 1
    ddir = _data_dir(path, version)
    df.write.mode("errorifexists").parquet(ddir)
    side = _dir_sidecars(
        df.sparkSession, {}, [], [ddir], {}, scol=stats_col,
        bcol=bloom_col, kcols=kmv_cols, kk=kmv_k,
    )
    _commit(
        path,
        {
            "version": version,
            "parent": parent,
            "operation": operation,
            "n_rows": side["dir_rows"][ddir],
            **_recordable_schema(df.schema),
            "data_dir": ddir,
            **side,
            **(meta or {}),
        },
    )
    return version


def _manifest_dirs(m: dict) -> list[str]:
    """A manifest's data directories: multi-dir (fast-append chains)
    or the classic single ``data_dir``."""
    return list(m.get("data_dirs", [m["data_dir"]] if "data_dir" in m else []))


def _norm_dir(p: str) -> str:
    """Normalize a data-dir path or ``file:`` URI to one comparable
    absolute form. Manifest dirs are stored exactly as the writer
    passed them (possibly RELATIVE); Spark's ``_metadata.file_path``
    is an absolute percent-encoded ``file:`` URI — comparing the raw
    strings matches NOTHING on a relative-path table, which made
    :func:`materialize_dvs` silently clear positional vectors without
    rewriting (resurrecting erased rows) and the CDF positional leg
    emit no delete images (ADVICE r10, high). Strip the scheme,
    percent-decode, and abspath BOTH sides before any equality."""
    if p.startswith("file:"):
        from urllib.parse import unquote, urlparse

        p = unquote(urlparse(p).path)
    return os.path.abspath(p)


_RESERVED_COLS = ("__file", "__pos")


def _check_reserved_cols(df: DataFrame, label: str) -> None:
    """``__file``/``__pos`` are the physical-address columns every
    masked read appends once a positional deletion vector exists
    (:func:`_scan_dirs` ``with_pos``); a user column with either name
    would collide into duplicate/ambiguous columns on the first such
    scan (ADVICE r10, low). Refuse at write time — the only moment
    the collision is cheap to fix."""
    bad = [c for c in df.columns if c in _RESERVED_COLS]
    if bad:
        raise ValueError(
            f"{label}: column name(s) {bad} are reserved for the "
            "positional-deletion-vector physical address (parquet "
            "_metadata file path / row index) — rename before writing"
        )


def _manifest_aux_dirs(m: dict) -> list[str]:
    """A manifest's NON-data auxiliary directories (index quantizer
    sidecars: frozen centroid/codebook tables the snapshot-index
    families record as manifest metadata). Never read as table data —
    tracked only so vacuum's liveness accounting covers them: an aux
    dir is removable exactly when no kept manifest still points at it,
    same rule as shared fast-append data dirs."""
    return list(m.get("aux_dirs", []))


def _write_delta_dir(df: DataFrame, path: str, sort_cols=()) -> str:
    """Write rows to a WRITER-UNIQUE immutable directory (not keyed by
    the target version): a commit retry after a conflict re-uses the
    already-written files — only the manifest race reruns, never the
    data job. ``sort_cols`` cluster-sorts rows so parquet row-group
    min/max stats prune selective scans (this format's stand-in for
    directory partitioning — manifests, not directory names, define
    membership). Sort columns absent from the frame are skipped:
    clustering is a stats optimization, never membership, and the
    index families pass family-default sort tuples that may name a
    default id column a custom-id build renamed."""
    import uuid

    ddir = os.path.join(path, "data", f"d-{uuid.uuid4().hex[:12]}")
    sort_cols = [c for c in sort_cols if c in df.columns]
    out = df.sortWithinPartitions(*sort_cols) if sort_cols else df
    out.write.mode("errorifexists").parquet(ddir)
    return ddir


def commit_version(
    path: str,
    data_dirs: list[str],
    operation: str,
    expected_parent: int | None,
    n_rows: int,
    meta: dict | None = None,
) -> int:
    """CAS commit primitive (VERDICT r8 #4): commit ``data_dirs`` as
    the next version IF AND ONLY IF the table's current version is
    still ``expected_parent`` — otherwise raise
    :class:`VersionConflictError` WITHOUT touching anything. Append
    commits retry by re-reading the parent chain (file adds commute);
    rewrite commits must recompute. The check+link pair is atomic:
    even if a racer lands between the parent check and the link, the
    link itself fails EEXIST, and the loop's next read refuses."""

    def attempt(head):
        parent = head.get("version")
        if parent != expected_parent:
            raise VersionConflictError(
                f"versioned table {path}: current version is {parent}, "
                f"writer expected {expected_parent} — re-read and retry"
            )
        return data_dirs, operation, n_rows, meta or {}

    return _cas_commit(path, attempt)


def _schema_fields(schema_str: str) -> dict[str, str]:
    """name -> simple-type map from a recorded ``simpleString`` schema
    (``struct<k:int,v:string>``). Nested angle brackets (arrays,
    structs) AND parenthesized type params (``decimal(10,2)``,
    ``char(n)``, ``varchar(n)``) are handled by depth-tracking the
    split — a comma inside either bracket kind never splits."""
    inner = schema_str.strip()
    if inner.startswith("struct<") and inner.endswith(">"):
        inner = inner[len("struct<"):-1]
    fields: dict[str, str] = {}
    depth, start = 0, 0
    parts = []
    for i, ch in enumerate(inner):
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(inner[start:i])
            start = i + 1
    if inner[start:]:
        parts.append(inner[start:])
    for p in parts:
        name, typ = p.split(":", 1)
        fields[name] = typ
    return fields


def _widen_schema(
    old: str | None, new_fields: dict[str, str], label: str,
    err: type = ValueError,
) -> tuple[str | None, bool]:
    """The widen-only schema rule of every append, staged append and
    publish: a delta may ADD columns (recorded after the old ones, in
    the old order), and one that DROPS a column or CHANGES a type is
    refused with ``err`` — silent narrowing is how a 100 TB table
    loses a column to one bad writer. Returns (widened schema, whether
    columns were added); ``(None, False)`` when ``old`` records no
    schema (pre-evolution manifests: the check is skipped)."""
    if not old:
        return None, False
    old_fields = _schema_fields(old)
    dropped = [c for c in old_fields if c not in new_fields]
    changed = [
        c for c in old_fields
        if c in new_fields and new_fields[c] != old_fields[c]
    ]
    faults = ([f"drops column(s) {dropped}"] if dropped else []) + (
        [f"changes type of "
         f"{ {c: (old_fields[c], new_fields[c]) for c in changed} }"]
        if changed else []
    )
    if faults:
        raise err(
            f"{label}: delta {' and '.join(faults)} — narrowing appends "
            "are refused (schema evolution only ADDS columns); rewrite "
            "via write_snapshot to narrow deliberately"
        )
    added = [c for c in new_fields if c not in old_fields]
    merged = {**old_fields, **{c: new_fields[c] for c in added}}
    return (
        "struct<" + ",".join(f"{c}:{t}" for c, t in merged.items()) + ">",
        bool(added),
    )


# The table STATE a commit that keeps the dir layout carries into the
# next record (a takedown, a fork, a replica's cursor skip): schema,
# the pruning/estimate opt-ins and their per-dir maps. Outstanding
# deletion vectors ride along unless the commit folds them. Commits
# that add or rewrite dirs recompute the maps (:func:`_dir_sidecars`).
_TABLE_STATE_KEYS = (
    "schema", "evolved",
    "stats_col", "dir_stats", "dir_rows", "bloom_col",
    "kmv_col", "kmv_k", "dir_kmv", "kmv_extra",
)


def _carry_table_meta(pm: dict, vectors: bool = True) -> dict:
    """The next record's carried state (``_TABLE_STATE_KEYS``, plus the
    ``dv``/``pdv`` vector lists unless ``vectors=False``). The one carry
    rule of the table side, twin of functions/vindex._carry_meta."""
    meta = {k: pm[k] for k in _TABLE_STATE_KEYS if k in pm}
    if vectors:
        meta.update({k: pm[k] for k in ("dv", "pdv") if pm.get(k)})
    return meta


def _kmv_cols(pm: dict, complete: bool = False) -> tuple[str, ...]:
    """The columns ``pm`` tracks KMV synopses for, primary first. With
    ``complete`` only synopses covering every dir count (a rewrite
    keeps no partial synopsis: an estimate from part of the table
    would be a lie)."""
    dirs = set(_manifest_dirs(pm))
    ok = (lambda dk: set(dk) >= dirs) if complete else (lambda dk: True)
    if "kmv_col" not in pm or not ok(pm.get("dir_kmv", {})):
        return ()
    return (pm["kmv_col"],) + tuple(
        c for c, dk in sorted(pm.get("kmv_extra", {}).items()) if ok(dk)
    )


def _opt_ins(
    pm: dict, fields, scol=None, bcol=None, kcols=None
) -> dict:
    """The sidecar opt-ins new dirs inherit from ``pm`` (explicit ones
    win), restricted to the columns ``fields`` holds — the keyword
    arguments of :func:`_dir_sidecars`."""
    scol = scol or pm.get("stats_col")
    bcol = bcol or pm.get("bloom_col")
    kcols = kcols or _kmv_cols(pm)
    return {
        "scol": scol if scol in fields else None,
        "bcol": bcol if bcol in fields else None,
        "kcols": (
            (kcols[0], *(c for c in kcols[1:] if c in fields))
            if kcols and kcols[0] in fields
            else ()
        ),
        "kk": int(pm.get("kmv_k", _KMV_K)),
    }


def _dir_sidecars(
    spark, pm: dict, kept: list[str], new: list[str], memo: dict,
    scol: str | None = None, bcol: str | None = None,
    kcols: tuple[str, ...] = (), kk: int = _KMV_K,
) -> dict:
    """The per-dir sidecar keys of a record whose dirs are ``kept``
    (carried by reference from ``pm``: their recorded values are
    reused) plus ``new`` (computed here): ``dir_rows`` always — the
    count comes from the write's own footers, and the planner's
    served-bytes estimate (plan_join broadcast_bytes guard) needs
    physical rows to discount merge-on-read masks — and, per opt-in,
    ``stats_col``/``dir_stats``, ``bloom_col`` (building each new dir's
    Bloom file unless it has one), ``kmv_col``/``kmv_k``/``dir_kmv``
    and ``kmv_extra``. ``memo`` keeps the new dirs' values across CAS
    retries (and can be pre-loaded: :func:`_sidecar_memo`), so a retry
    never re-scans a dir."""

    def pick(m: dict) -> dict:
        return {d: m[d] for d in kept if d in m}

    def stats(d):
        if ("stats", d, scol) not in memo:
            memo[("stats", d, scol)] = _dir_stats(spark, d, scol)
        memo.setdefault(("rows", d), memo[("stats", d, scol)][0])
        return memo[("stats", d, scol)][1]

    def rows(d):
        if ("rows", d) not in memo:
            memo[("rows", d)] = _dir_count(spark, d)
        return memo[("rows", d)]

    def kmv(d, c):
        if ("kmv", d, c, kk) not in memo:
            memo[("kmv", d, c, kk)] = _dir_kmv(spark, d, c, kk)
        return memo[("kmv", d, c, kk)]

    out: dict = {}
    if scol is not None:
        out["stats_col"] = scol
        out["dir_stats"] = {
            **pick(pm.get("dir_stats", {})), **{d: stats(d) for d in new}
        }
    out["dir_rows"] = {
        **pick(pm.get("dir_rows", {})), **{d: rows(d) for d in new}
    }
    if bcol is not None:
        for d in new:
            if _read_dir_bloom(d) is None:
                _write_dir_bloom(spark, d, bcol, rows(d))
        out["bloom_col"] = bcol
    if kcols:
        out.update({
            "kmv_col": kcols[0],
            "kmv_k": kk,
            "dir_kmv": {
                **pick(pm.get("dir_kmv", {})),
                **{d: kmv(d, kcols[0]) for d in new},
            },
        })
        if kcols[1:]:
            ex = pm.get("kmv_extra", {})
            out["kmv_extra"] = {
                c: {**pick(ex.get(c, {})), **{d: kmv(d, c) for d in new}}
                for c in kcols[1:]
            }
    return out


def _sidecar_memo(rec: dict, dirs: list[str]) -> dict:
    """A :func:`_dir_sidecars` memo pre-loaded with what ``rec`` (a
    branch head) already records for ``dirs`` — the publish re-scans
    only dirs staged before the opt-in."""
    memo: dict = {}
    kk = int(rec.get("kmv_k", _KMV_K))
    sketches = {
        **rec.get("kmv_extra", {}),
        **({rec["kmv_col"]: rec.get("dir_kmv", {})} if "kmv_col" in rec
           else {}),
    }
    for d in dirs:
        if d in rec.get("dir_rows", {}):
            n = memo[("rows", d)] = rec["dir_rows"][d]
            if rec.get("stats_col") and d in rec.get("dir_stats", {}):
                memo[("stats", d, rec["stats_col"])] = (
                    n, rec["dir_stats"][d],
                )
        for c, dk in sketches.items():
            if d in dk:
                memo[("kmv", d, c, kk)] = dk[d]
    return memo


def _staged_append(
    spark, df: DataFrame, path: str, label: str, sort_cols, memo: dict,
    head: dict, explicit: dict | None = None,
) -> tuple[list[str], int, dict]:
    """The shared body of a fast append onto ``head`` (a main manifest
    or a branch head): check the widen-only schema rule against the
    head BEFORE the delta write (a refused append leaves no dir), write
    the delta once (``memo`` keeps it across CAS retries), and compute
    its sidecars under the head's opt-ins (``explicit`` ones win).
    Returns (dirs, n_rows, meta) of the next record."""
    new_fields = _schema_fields(df.schema.simpleString())
    opts = _opt_ins(head, new_fields, **(explicit or {}))
    if opts["scol"] is not None:
        _check_stats_col(df, opts["scol"])
    if opts["bcol"] is not None:
        _check_bloom_col(df, opts["bcol"])
    for c in opts["kcols"]:
        _check_kmv_col(df, c)
    schema, added = _widen_schema(head.get("schema"), new_fields, label)
    if "ddir" not in memo:
        memo["ddir"] = _write_delta_dir(df, path, sort_cols)
    ddir = memo["ddir"]
    dirs = _manifest_dirs(head)
    side = _dir_sidecars(spark, head, dirs, [ddir], memo, **opts)
    # outstanding deletion vectors carry unchanged: the new dir is not
    # in any key vector's SCOPE, and positional vectors name other
    # files — appended rows are never masked even when they re-use an
    # erased key (or position shape)
    meta = {
        **side, **{k: head[k] for k in ("dv", "pdv") if head.get(k)},
    }
    if schema:
        meta.update({
            "schema": schema,
            "evolved": added or bool(head.get("evolved")),
        })
    return dirs + [ddir], head.get("n_rows", 0) + side["dir_rows"][ddir], meta


def append_snapshot(
    df: DataFrame,
    path: str,
    operation: str = "append",
    meta: dict | None = None,
    sort_cols=(),
    stats_col: str | None = None,
    bloom_col: str | None = None,
    kmv_col: str | tuple[str, ...] | None = None,
    batch_id: int | None = None,
    stream_id: str | None = None,
) -> int:
    """FAST APPEND (the Iceberg shape): write the delta to its own
    immutable directory once, then commit a manifest whose dir list =
    parent's dirs + the delta dir. Cost is delta-sized — the table is
    never rewritten. On a commit conflict the data job does NOT rerun:
    file adds commute, so the manifest commit simply retries against
    the new current (:func:`_cas_commit`).

    EXACTLY-ONCE ingest (round 9c — the loop the snapshot indexes
    already run, now on data tables): ``batch_id`` keys the commit —
    a replayed micro-batch finds its key on a committed manifest and
    returns that version BEFORE any data job runs. ``stream_id``
    namespaces the key (``s{id}b{bid}``) so two independent streams
    restarting at batch 0 never alias; pass it from the streaming
    query's own id in foreachBatch. The skip check happens before the
    delta write, so a replay costs one manifest listing, not a write.

    SCHEMA EVOLUTION (round 9c, :func:`_widen_schema`): a delta may ADD
    columns — the commit records the widened schema and flags the
    version ``evolved`` so :func:`read_version` merges parquet footers
    and back-fills old rows with NULL (exactly Iceberg/Delta
    add-column semantics, no rewrite of existing files). A delta that
    DROPS a column or CHANGES a type is refused loudly, before its
    delta is written. Manifests from before this feature carry no
    schema; appends against them skip the check (and the read stays
    non-merging).

    ``stats_col`` / ``bloom_col`` / ``kmv_col`` (each defaults to the
    parent's opt-in): record the delta dir's sidecars beside the
    parent's carried maps, keeping :func:`delete_rows` prunable and
    the KMV synopses complete across append chains."""
    label = f"versioned table {path}: append_snapshot"
    _check_reserved_cols(df, label)
    explicit = {
        "scol": stats_col,
        "bcol": bloom_col,
        "kcols": (kmv_col,) if isinstance(kmv_col, str) else kmv_col,
    }
    memo: dict = {}

    def attempt(pm):
        dirs, n_rows, side = _staged_append(
            df.sparkSession, df, path, label, sort_cols, memo, pm, explicit
        )
        return dirs, operation, n_rows, {**(meta or {}), **side}

    return _cas_commit(
        path, attempt,
        batch_key=None if batch_id is None else (
            f"s{stream_id}b{batch_id}" if stream_id else f"b{batch_id}"
        ),
    )


def read_version(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Read the table at ``version`` (time travel); latest if None.

    Versions flagged ``evolved`` (a fast-append added columns
    somewhere in their dir chain) read with parquet schema merging and
    project to the manifest's recorded column order — rows from
    pre-evolution dirs surface NULL in the added columns, and the
    column order is deterministic regardless of which file the reader
    lists first. Un-evolved versions read plain (no footer-merge
    cost)."""
    versions = list_versions(path)
    if not versions:
        raise ValueError(f"versioned table {path}: no committed versions")
    byv = {m["version"]: m for m in versions}
    if version is None:
        version = versions[-1]["version"]
    if version not in byv:
        raise ValueError(
            f"versioned table {path}: version {version} not found "
            f"(have {sorted(byv)})"
        )
    m = byv[version]
    return _read_dirs_masked(spark, m, _manifest_dirs(m))


@functools.lru_cache(maxsize=512)
def _parsed_schema(schema_str: str):
    """A manifest's recorded ``simpleString`` schema as a StructType,
    or None when absent/unparseable. Internal reads pass it to
    ``spark.read.schema(...)`` so Spark skips the footer
    schema-inference job it otherwise launches while BUILDING the plan
    (one job per ``spark.read.parquet`` call — measured in
    tools/lane_profile.py; optimization r11, guide §1.2). The parse
    result is a plain Python StructType, safe to cache across
    sessions."""
    if not schema_str:
        return None
    try:
        from pyspark.sql.types import _parse_datatype_string

        st = _parse_datatype_string(schema_str)
        # round-trip guard: only trust the parse when it reproduces the
        # recorded string exactly (names with separators would corrupt)
        return st if st.simpleString() == schema_str else None
    except Exception:
        return None


# positional deletion vectors are written as exactly these two columns
# (:func:`delete_rows_positional`): the parquet reader's file path and
# row index from ``_metadata``
_PDV_SCHEMA = "struct<__file:string,__pos:bigint>"


def _pdv_reader(spark: SparkSession):
    """Reader pre-loaded with the positional-vector schema, falling
    back to footer inference if the fixed literal ever fails to parse
    (e.g. a pyspark where the private parser moved) — the read must
    degrade, never raise at plan time."""
    st = _parsed_schema(_PDV_SCHEMA)
    return spark.read.schema(st) if st is not None else spark.read


def _recordable_schema(st) -> dict:
    """``{"schema": simpleString}`` when the string parses back to the
    SAME fields (names and types) as the true StructType — i.e. the
    recorded form is unambiguous and readers may trust
    :func:`_parsed_schema` — else ``{}``: a field name that embeds
    separator characters (``:`` ``,`` ``<`` ``>``) makes simpleString
    ambiguous (``k:int,v`` as a single bigint column records the same
    string as two clean columns), and a reader trusting the parse
    would silently return NULL-filled wrong columns. Omitting the
    record makes readers fall back to plain/mergeSchema reads — the
    pre-round-11 behavior for such names."""
    ss = st.simpleString()
    parsed = _parsed_schema(ss)
    if parsed is not None and [
        (f.name, f.dataType.simpleString()) for f in parsed.fields
    ] == [(f.name, f.dataType.simpleString()) for f in st.fields]:
        return {"schema": ss}
    return {}


def _scan_dirs(
    spark: SparkSession, m: dict, dirs: list[str], with_pos: bool = False
) -> DataFrame:
    """Scan a subset of a manifest's data dirs under the manifest's
    schema contract: evolved versions footer-merge and project to the
    recorded column order (NULL back-fill for pre-evolution rows),
    un-evolved versions read plain. The shared kernel of every dir
    reader (read_version, pruned point-lookup, pruned erasure, CDF
    fast path). ``with_pos`` appends the parquet reader's physical row
    address (``__file``, ``__pos`` from ``_metadata``) — the join key
    positional deletion vectors mask on; data files are immutable
    after commit, so the address is stable for the file's lifetime."""
    from pyspark.sql import functions as F

    pos_cols = (
        [
            F.col("_metadata.file_path").alias("__file"),
            F.col("_metadata.row_index").alias("__pos"),
        ]
        if with_pos
        else []
    )
    st = _parsed_schema(m.get("schema", ""))
    if st is not None:
        # the recorded schema read explicitly: identical to the
        # (mergeSchema + project) evolved path — evolution is
        # add-column-only with type changes refused at append, so
        # missing columns NULL-backfill and the column order is the
        # recorded one — and identical to the plain read for
        # un-evolved dirs (schema recorded from the written frame).
        # Zero footer-inference jobs at plan time (optimization r11).
        df = spark.read.schema(st).parquet(*dirs)
        return df.select("*", *pos_cols) if pos_cols else df
    if m.get("evolved") and m.get("schema"):
        df = spark.read.option("mergeSchema", "true").parquet(*dirs)
        return df.select(*_schema_fields(m["schema"]), *pos_cols)
    df = spark.read.parquet(*dirs)
    return df.select("*", *pos_cols) if pos_cols else df


def _apply_dv_masks(
    spark: SparkSession, recs: list[dict], df: DataFrame
) -> DataFrame:
    """Apply deletion-vector masks to a scanned frame: one broadcast
    anti-join per DISTINCT erasure key column — vectors sharing a key
    column union into a single key frame first, so read overhead is
    ~flat in the number of outstanding vectors (measured in
    tools/dv_smoke.py). Vectors are takedown-batch-sized by
    construction, hence the explicit broadcast."""
    from pyspark.sql import functions as F

    by_col: dict[str, list[dict]] = {}
    for r in recs:
        by_col.setdefault(r["key"], []).append(r)
    for kcol, grp in by_col.items():
        keys = _read_dv_keys(spark, grp, kcol)
        df = df.join(F.broadcast(keys), kcol, "left_anti")
    return df


def _read_dv_keys(spark: SparkSession, recs: list[dict], kcol: str):
    """The key frame of one key column's deletion vectors. Vectors
    commit with their key dtype recorded (``ktype``), so the read can
    pass an explicit schema and skip the plan-time footer inference
    job; pre-ktype vectors fall back to inference. No ``distinct()``:
    every vector dir is written from an already-distinct frame
    (:func:`delete_rows_mor` / the branch variant write
    ``ids.distinct()``), so the dedup exchange would be pure overhead
    — duplicates across SEVERAL vectors of the same key column are
    harmless to the anti-join and takedown-batch-sized."""
    types = {r.get("ktype") for r in recs}
    t = types.pop() if len(types) == 1 else None
    rd = spark.read
    if t:
        st = _parsed_schema(f"struct<{kcol}:{t}>")
        # trust the constructed string only when it parses back to
        # exactly this one column — a key name embedding separator
        # characters would mis-split (same ambiguity guarded by
        # _recordable_schema); inference fallback otherwise
        if st is not None and len(st.fields) == 1 and st.fields[0].name == kcol:
            rd = rd.schema(st)
    return rd.parquet(*[r["dir"] for r in recs]).select(kcol)


def _read_dirs_masked(
    spark: SparkSession, m: dict, dirs: list[str], with_pos: bool = False
) -> DataFrame:
    """Scan a subset of a manifest's dirs with the manifest's
    outstanding DELETION VECTORS applied (module comment at
    :func:`delete_rows_mor`). Each vector masks only the dirs in its
    recorded SCOPE (the table's dirs at the vector's commit), so rows
    appended after a takedown are never hidden by it even when they
    re-use an erased key: dirs are grouped by the set of vectors that
    scope them, each group anti-joins its vectors' keys, and the
    groups union back. No vectors -> the plain scan, zero overhead.

    POSITIONAL vectors (``pdv`` — per-file (file, row_index) pairs for
    tables with no natural key) need no scope grouping at all: file
    paths are unique and immutable, so a position pair can only ever
    match the row it named at commit time — one broadcast anti-join on
    the physical address masks every positional vector at once, and
    appended dirs are structurally unaffected (new files, new
    paths). ``with_pos=True`` keeps the physical address columns on
    the output (consumers that need to NAME rows — the positional
    delete verb and the positional CDF leg)."""
    recs = m.get("dv", [])
    pdv = m.get("pdv", [])
    if not recs and not pdv:
        return _scan_dirs(spark, m, dirs, with_pos=with_pos)
    use_pos = bool(pdv) or with_pos
    scopes = [set(r["scope"]) for r in recs]
    groups: dict[tuple, list[str]] = {}
    for d in dirs:
        ks = tuple(i for i, s in enumerate(scopes) if d in s)
        groups.setdefault(ks, []).append(d)
    parts = []
    for ks, ds in groups.items():
        part = _scan_dirs(spark, m, ds, with_pos=use_pos)
        if ks:
            part = _apply_dv_masks(spark, [recs[i] for i in ks], part)
        parts.append(part)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    if pdv:
        from pyspark.sql import functions as F

        # no distinct: each vector's addresses are unique by
        # construction (one row per masked physical row), and
        # duplicates across vectors are harmless to the anti-join
        pos = _pdv_reader(spark).parquet(
            *[r["dir"] for r in pdv]
        ).select("__file", "__pos")
        out = out.join(
            F.broadcast(pos), ["__file", "__pos"], "left_anti"
        )
    if use_pos and not with_pos:
        out = out.drop("__file", "__pos")
    return out


def merge_upsert(
    spark: SparkSession,
    path: str,
    delta: DataFrame,
    key: str,
    delete_col: str | None = None,
) -> int:
    """MERGE INTO semantics as a new snapshot: rows in ``delta`` replace
    same-``key`` rows of the current version (last-writer-wins at
    snapshot grain), new keys insert, and — when ``delete_col`` is given
    — delta rows with that boolean column true delete their key. The
    result is written as a NEW version (copy-on-write at table grain:
    the simplest correct MERGE; production formats narrow the rewrite
    to touched files, same semantics).

    The plan is one left-anti join (current minus touched keys) plus
    the filtered delta — both shuffle on the merge key only.

    Schema policy (same contract as :func:`append_snapshot`): a delta
    may ADD columns — untouched rows surface NULL in them and the new
    snapshot records the widened schema; a delta MISSING current
    columns is refused loudly (MERGE replaces whole rows, so a missing
    column would silently NULL it on every updated row — the
    narrowing hazard, caught at the boundary instead)."""
    cur = read_version(spark, path)
    if delete_col is not None:
        upserts = delta.filter(~delta[delete_col]).drop(delete_col)
    else:
        upserts = delta
    missing = [c for c in cur.columns if c not in upserts.columns]
    if missing:
        raise ValueError(
            f"versioned table {path}: merge delta is missing column(s) "
            f"{missing} — MERGE replaces whole rows; supply every "
            "current column (or rewrite via write_snapshot to narrow)"
        )
    touched = delta.select(key).distinct()
    kept = cur.join(touched, key, "left_anti")
    merged = kept.unionByName(upserts, allowMissingColumns=True)
    opts = _opt_ins((list_versions(path) or [{}])[-1], merged.columns)
    return write_snapshot(
        merged, path, operation="merge", stats_col=opts["scol"],
        bloom_col=opts["bcol"], kmv_col=opts["kcols"] or None,
        kmv_k=opts["kk"],
    )


def _admitting_dirs(spark, pm, idf, key: str) -> list[bool] | None:
    """Per-dir admit flags for an id frame against a manifest's pruning
    structures — the shared kernel of :func:`delete_rows` (rewrite only
    admitting dirs) and :func:`read_rows_for_ids` (scan only admitting
    dirs). Stats admit by range, Bloom sidecars admit by content; both
    present = intersection. None when the manifest has neither for
    ``key`` (caller treats every dir as admitting)."""
    from pyspark.sql import functions as F

    dirs = _manifest_dirs(pm)
    stats = pm.get("dir_stats", {})
    have_stats = pm.get("stats_col") == key and set(stats) >= set(dirs)
    have_bloom = pm.get("bloom_col") == key
    admit: list[bool] | None = None
    if have_stats:
        hit_row = idf.agg(
            *[
                F.max(
                    F.col(key).between(
                        F.lit(stats[d][0]), F.lit(stats[d][1])
                    )
                    if stats[d] is not None
                    else F.lit(False)
                ).alias(f"h{i}")
                for i, d in enumerate(dirs)
            ]
        ).first()
        admit = [bool(hit_row[f"h{i}"]) for i in range(len(dirs))]
    if have_bloom and (admit is None or any(admit)):
        # Bloom sidecars prune by CONTENT — the lever for hash-
        # distributed keys where every dir's range spans everything.
        b = _dirs_bloom_admit(spark, idf, key, dirs)
        if b is not None:
            admit = b if admit is None else [
                a and x for a, x in zip(admit, b)
            ]
    return admit


def read_rows_for_ids(
    spark: SparkSession,
    path: str,
    ids: DataFrame,
    key: str,
    version: int | None = None,
) -> DataFrame:
    """PRUNED POINT-LOOKUP — the read twin of :func:`delete_rows` and
    the GDPR right-of-access verb (a subject-access request is "read
    every row for these ids" over a table that is mostly NOT them):
    consult the pinned version's stats ranges and Bloom sidecars,
    scan ONLY the dirs that admit at least one requested id, and
    semi-join the id frame. On a hash-keyed table the Blooms cut the
    scan from every dir to the dirs that actually hold the subject's
    rows — same economics as the pruned erasure, read-only. Works at
    any pinned ``version`` (each manifest carries its own stats; dirs
    are immutable so their sidecars never go stale). Falls back to a
    full scan + semi-join when the manifest has no pruning structures
    for ``key`` — correct, just unpruned."""
    versions = {m["version"]: m for m in list_versions(path)}
    if not versions:
        raise ValueError(f"versioned table {path}: no committed versions")
    if version is None:
        version = max(versions)
    if version not in versions:
        raise ValueError(
            f"versioned table {path}: version {version} not found "
            f"(have {sorted(versions)})"
        )
    pm = versions[version]
    dirs = _manifest_dirs(pm)
    idf = ids.select(key)
    admit = _admitting_dirs(spark, pm, idf, key)
    use = dirs if admit is None else [
        d for d, a in zip(dirs, admit) if a
    ]
    if not use:
        return read_version(spark, path, version).limit(0)
    df = _read_dirs_masked(spark, pm, use)
    return df.join(idf, key, "left_semi")


def delete_rows(
    spark: SparkSession,
    path: str,
    ids: DataFrame,
    key: str,
    meta: dict | None = None,
) -> int:
    """ERASURE on a versioned data table. When the current manifest
    carries per-dir min/max stats FOR THE ERASURE KEY (``stats_col``
    opted in at write/append time), the rewrite PRUNES: one tiny agg
    over the deleted frame (never the table) marks each dir touched
    iff some deleted key falls inside its recorded range; untouched
    dirs carry into the new manifest by reference and only the touched
    dirs rewrite through the left-anti join — cost ∝ touched data,
    exactly the snapshot-index families' erasure shape
    (functions/vindex.vindex_delete), now on the data table too.
    Without stats (or with stats for a different column) it falls back
    to the table-grain copy-on-write rewrite.

    When the manifest carries ``bloom_col == key`` (per-dir Bloom
    sidecars, module comment above), dirs are additionally pruned by
    CONTENT: a dir whose filter rejects every deleted key carries by
    reference even when its min/max range admits — the case that
    matters for hash-distributed takedown keys, where range stats
    admit every dir and stats-only pruning degrades to a full rewrite.
    Both inputs present = intersection (range AND filter must admit).
    Bloom false positives cost a needless dir rewrite, never a leaked
    or lost row; false negatives don't exist.

    Earlier versions remain readable until vacuum — erase-then-vacuum
    is the complete GDPR sequence, and the index fan-out
    (functions/index_protocol.erase_everywhere over
    functions/vindex.vindex_delete) composes with this so
    indexes and the data copies they were built from forget
    together."""
    if not list_versions(path):
        raise ValueError(f"versioned table {path}: nothing to delete")
    idf = ids.select(key)

    def attempt(pm):
        if pm.get("dv") or pm.get("pdv"):
            # outstanding merge-on-read vectors (key-scoped or
            # positional): a copy-on-write rewrite would have to re-mask
            # every dir it carries by reference — materialize first
            # (itself a pruned, touched-dir-sized rewrite), then erase
            # against a vector-free manifest.
            materialize_dvs(spark, path)
            return delete_rows(spark, path, ids, key, meta)
        dirs = _manifest_dirs(pm)
        admit = _admitting_dirs(spark, pm, idf, key)
        if admit is None:
            # no pruning input for this key: table-grain copy-on-write
            kept = read_version(spark, path).join(idf, key, "left_anti")
            return write_snapshot(
                kept, path, operation="delete", meta=meta,
                stats_col=key if pm.get("stats_col") == key else None,
                bloom_col=key if pm.get("bloom_col") == key else None,
                kmv_col=_kmv_cols(pm) or None,
                kmv_k=int(pm.get("kmv_k", _KMV_K)),
            )
        touched = [d for d, a in zip(dirs, admit) if a]
        untouched = [d for d in dirs if d not in set(touched)]
        if not touched:
            return pm["version"]  # no dir admits a deleted key
        tdf = _scan_dirs(spark, pm, touched)
        ddir = _write_delta_dir(tdf.join(idf, key, "left_anti"), path)
        stats = pm.get("dir_stats", {})
        side = _dir_sidecars(
            spark, pm, untouched, [ddir], {},
            scol=key if pm.get("stats_col") == key
            and set(stats) >= set(dirs) else None,
            bcol=key if pm.get("bloom_col") == key else None,
            kcols=_kmv_cols(pm, complete=True),
            kk=int(pm.get("kmv_k", _KMV_K)),
        )
        dir_rows = pm.get("dir_rows", {})
        if set(dir_rows) >= set(touched):
            # manifest-recorded per-dir counts: the removed-rows
            # accounting is arithmetic, not a second scan
            n_touched = sum(dir_rows[d] for d in touched)
        else:
            n_touched = tdf.count()
        return (
            untouched + [ddir], "delete",
            pm["n_rows"] - n_touched + side["dir_rows"][ddir],
            {
                "pruned_dirs": len(untouched),
                **{k: pm[k] for k in ("schema", "evolved") if k in pm},
                **side,
                **(meta or {}),
            },
        )

    return _cas_commit(path, attempt)


# --- DELETION VECTORS: merge-on-read erasure (round 10 cont.) ---------------
#
# delete_rows is COPY-ON-WRITE: even pruned, a takedown of 10 ids pays
# one full rewrite of every admitting dir. The Delta deletion-vector /
# Iceberg equality-delete answer is MERGE-ON-READ: commit the deleted
# KEYS as a tiny sidecar frame and let readers anti-join it, deferring
# the rewrite until a compaction tick amortizes many takedowns at once.
# At 100 TB this is the difference between a takedown batch costing
# kilobytes (one key frame + one manifest) and costing the dirs it
# touches — the rewrite still happens, but once per MATERIALIZE, not
# once per takedown.
#
# A vector is a manifest record {dir, key, scope, n_masked}:
#   dir      — parquet dir holding one column (the erasure key values);
#   key      — the column it anti-joins on;
#   scope    — the table's data dirs at the vector's commit. Keys are
#              identity only within that snapshot: a row APPENDED after
#              the takedown legitimately re-uses an erased key and must
#              stay visible, so readers apply a vector only to its
#              scoped dirs (exactly why Delta's vectors are per-file —
#              ours are per-dir-set, the grain this format commits at);
#   n_masked — rows the vector hid at commit time (visible rows
#              matching the keys), so manifest n_rows stays exact
#              arithmetic, never a deferred scan.
#
# Readers (read_version, read_rows_for_ids, table_changes, CDC/
# replication consumers — all routed through _read_dirs_masked) see
# erased rows gone IMMEDIATELY; physical bytes persist until
# materialize_dvs + vacuum, the same two-step every erasure path in
# this repo documents. GDPR note: the vector itself stores the erased
# KEYS (like any tombstone log) — vacuum of the materialized-away
# vector dirs is what forgets those too.


def _dv_dirs(m: dict) -> list[str]:
    """A manifest's deletion-vector sidecar dirs — key-scoped AND
    positional (liveness accounting: vacuum and remove_orphans must
    keep them exactly as long as the manifest that references
    them)."""
    return [r["dir"] for r in m.get("dv", [])] + [
        r["dir"] for r in m.get("pdv", [])
    ]


def delete_rows_mor(
    spark: SparkSession,
    path: str,
    ids: DataFrame,
    key: str,
    meta: dict | None = None,
) -> int:
    """MERGE-ON-READ erasure (module comment above): commit the
    deleted keys as a DELETION VECTOR instead of rewriting any data
    dir. Write cost = the key frame (takedown-batch-sized) + one
    manifest; every read path applies the vector as a broadcast
    anti-join scoped to the dirs that existed at this commit. The
    exact-row accounting (``n_masked``) costs one PRUNED scan of the
    admitting dirs — the same stats/Bloom pruning delete_rows uses,
    reading instead of rewriting. A takedown whose keys match nothing
    visible commits nothing and returns the current version.

    Contrast :func:`delete_rows` (copy-on-write: pay the rewrite now,
    reads stay plain) — merge-on-read pays a small read-time
    anti-join until :func:`materialize_dvs` folds the accumulated
    vectors into one pruned rewrite. ``maybe_materialize_dvs`` is the
    measured trigger.

    Concurrency: vector commits do NOT blindly commute (a racer's
    vector may mask rows this takedown also targets, so ``n_masked``
    must be recounted under the new current's masks) — a CAS conflict
    therefore re-runs the pruned count against the new current and
    retries (:func:`_cas_commit`). The key frame is written once;
    only the count + manifest race reruns."""
    from pyspark.sql import functions as F

    if not list_versions(path):
        raise ValueError(f"versioned table {path}: nothing to delete")
    # (optimization r11, measured: an eager checkpoint of idf here was
    # NOT a win — the three reads are cheap relative to the added
    # materialization job; a caller with an expensive ids subquery
    # should checkpoint it before passing)
    idf = ids.select(key).distinct()
    memo: dict = {}

    def attempt(pm):
        dirs = _manifest_dirs(pm)
        admit = _admitting_dirs(spark, pm, idf, key)
        use = dirs if admit is None else [
            d for d, a in zip(dirs, admit) if a
        ]
        if not use:
            return pm["version"]  # no dir can hold a deleted key
        visible = _read_dirs_masked(spark, pm, use)
        n_masked = visible.join(F.broadcast(idf), key, "left_semi").count()
        if n_masked == 0:
            return pm["version"]  # stats/Bloom false positives only
        if "dvdir" not in memo:
            memo["dvdir"] = os.path.join(path, "data", f"dv-{_uuid_hex()}")
            idf.coalesce(1).write.mode("errorifexists").parquet(
                memo["dvdir"]
            )
        rec = {
            "dir": memo["dvdir"], "key": key, "scope": dirs,
            "n_masked": n_masked,
            # key dtype lets readers skip schema inference on the
            # vector dir (see _read_dv_keys)
            "ktype": idf.schema[0].dataType.simpleString(),
        }
        return dirs, "delete_mor", pm["n_rows"] - n_masked, {
            **_carry_table_meta(pm), "dv": pm.get("dv", []) + [rec],
            **(meta or {}),
        }

    return _cas_commit(path, attempt)


def delete_rows_positional(
    spark: SparkSession,
    path: str,
    predicate,
    meta: dict | None = None,
) -> int:
    """POSITIONAL merge-on-read erasure (ROADMAP r11 #3) — deletion
    for tables with NO natural key: the victims are addressed by
    physical position (parquet file path + row index from
    ``_metadata``), not by value, so duplicate rows and keyless
    schemas erase exactly. Iceberg's position deletes / Delta's
    per-file vectors are this shape; ours commits one sidecar frame of
    (``__file``, ``__pos``) pairs per takedown.

    ``predicate`` is a Column selecting the rows to erase from the
    CURRENT visible state (existing key + positional masks apply
    first, so re-deleting already-masked rows is a no-op). Write cost
    = the victim-address frame + one manifest; readers mask via one
    broadcast anti-join on the physical address
    (:func:`_read_dirs_masked`). No scope list is needed: file paths
    are unique and immutable, so appended dirs are structurally
    unaffected and a pinned read masks with its own version's
    vectors. Physical bytes persist until
    :func:`materialize_dvs` + vacuum — the repo-wide two-step erasure
    contract.

    Concurrency mirrors :func:`delete_rows_mor`: a CAS loss re-scans
    under the new current's masks (a racer may have hidden some of
    our victims; positions are stable, the COUNT is what must be
    exact) and retries."""
    if not list_versions(path):
        raise ValueError(f"versioned table {path}: nothing to delete")

    memo: dict = {}

    def attempt(pm):
        out = _positional_victims(
            spark, path, pm, predicate, "pdv", memo, meta
        )
        return pm["version"] if out is None else out

    return _cas_commit(path, attempt)


def _positional_victims(
    spark, path: str, head: dict, predicate, prefix: str, memo: dict,
    meta: dict | None = None,
):
    """One try of a positional takedown on ``head`` (a main manifest or
    a branch head): write the victims' physical addresses under the
    head's masks and return the next record, or None when the
    predicate matches nothing. A try that lost its CAS computed its
    frame under a stale head's masks (positions are stable, the COUNT
    is what must be exact), so every try rescans, and drops the
    previous try's frame first."""
    import shutil

    if "vdir" in memo:
        shutil.rmtree(memo.pop("vdir"), ignore_errors=True)
    dirs = _manifest_dirs(head)
    # visible state WITH positions: the shared masked-read kernel
    # (scope-grouped key masks + prior positional masks), keeping
    # the address columns for the victim frame
    scan = _read_dirs_masked(spark, head, dirs, with_pos=True)
    victims = scan.filter(predicate).select("__file", "__pos")
    vdir = os.path.join(path, "data", f"{prefix}-{_uuid_hex()}")
    victims.coalesce(1).write.mode("errorifexists").parquet(vdir)
    n_masked = _dir_count(spark, vdir)
    if n_masked == 0:
        shutil.rmtree(vdir)
        return None
    memo["vdir"] = vdir
    return dirs, "delete_positional", head["n_rows"] - n_masked, {
        **_carry_table_meta(head),
        "pdv": head.get("pdv", []) + [{"dir": vdir, "n_masked": n_masked}],
        **(meta or {}),
    }


def _uuid_hex() -> str:
    import uuid

    return uuid.uuid4().hex[:12]


def materialize_dvs(
    spark: SparkSession, path: str, meta: dict | None = None
) -> int:
    """Fold the current version's outstanding deletion vectors into
    the data: rewrite (anti-joined) ONLY the dirs that some vector
    scopes AND whose stats/Bloom structures admit at least one of that
    vector's keys — every other dir carries by reference, exactly
    :func:`delete_rows`'s pruned shape, amortized over every takedown
    since the last materialize. Commits a vector-free manifest with
    unchanged n_rows (readers saw the masked state all along; this
    changes physics, not content — pinned hash-exact in the oracle
    lane). No outstanding vectors -> no-op."""
    if not list_versions(path):
        raise ValueError(f"versioned table {path}: no committed versions")
    return _cas_commit(
        path, lambda pm: _materialize_attempt(spark, path, pm, meta)
    )


def _materialize_attempt(spark, path: str, pm: dict, meta: dict | None):
    """One try of :func:`materialize_dvs` against manifest ``pm``."""
    recs = pm.get("dv", [])
    pdv = pm.get("pdv", [])
    if not recs and not pdv:
        return pm["version"]
    dirs = _manifest_dirs(pm)
    touched_set: set[str] = set()
    for rec in recs:
        sc = [d for d in rec["scope"] if d in dirs]
        if not sc:
            continue
        kf = _read_dv_keys(spark, [rec], rec["key"])
        admit = _admitting_dirs(spark, pm, kf, rec["key"])
        if admit is None:
            touched_set.update(sc)
        else:
            amap = dict(zip(dirs, admit))
            touched_set.update(d for d in sc if amap[d])
    if pdv:
        # positional vectors name their files directly — the touched
        # dirs are exactly the parents of masked files (bounded by the
        # vectors' distinct-file lists, driver-side). Manifest dirs may
        # be RELATIVE while _metadata paths are absolute file: URIs —
        # normalize BOTH sides before comparing (ADVICE r10, high),
        # and REFUSE when a masked file's parent resolves to no
        # manifest dir: every rewrite verb folds vectors before
        # dropping dirs, so a non-match is bookkeeping corruption and
        # clearing the vector would silently resurrect its rows.
        dmap = {_norm_dir(d): d for d in dirs}
        files = {
            r["__file"]
            for r in _pdv_reader(spark)
            .parquet(*[r["dir"] for r in pdv])
            .select("__file").distinct().collect()
        }
        for f in files:
            d = dmap.get(_norm_dir(os.path.dirname(f)))
            if d is None:
                raise ValueError(
                    f"versioned table {path}: positional vector masks "
                    f"{f}, whose parent dir is not in the current "
                    "manifest — refusing to materialize (dropping the "
                    "vector would resurrect rows that were never "
                    "rewritten)"
                )
            touched_set.add(d)
    touched = [d for d in dirs if d in touched_set]
    untouched = [d for d in dirs if d not in touched_set]
    carried: dict = {
        "materialized_dvs": len(recs) + len(pdv),
        "pruned_dirs": len(untouched),
    }
    if touched:
        ndir = _write_delta_dir(_read_dirs_masked(spark, pm, touched), path)
        new_dirs = untouched + [ndir]
        carried.update({k: pm[k] for k in ("schema", "evolved") if k in pm})
        carried.update(_dir_sidecars(
            spark, pm, untouched, [ndir], {},
            scol=pm.get("stats_col"), bcol=pm.get("bloom_col"),
            kcols=_kmv_cols(pm, complete=True),
            kk=int(pm.get("kmv_k", _KMV_K)),
        ))
    else:
        # vectors masked nothing (all their rows were since rewritten
        # away) — just clear them
        new_dirs = dirs
        carried.update(_carry_table_meta(pm, vectors=False))
    return new_dirs, "materialize_dv", pm["n_rows"], {
        **carried, **(meta or {}),
    }


def maybe_materialize_dvs(
    spark: SparkSession,
    path: str,
    max_dvs: int = 16,
    max_masked_frac: float = 0.05,
) -> int | None:
    """MATERIALIZE trigger (the maybe_optimize analog for deletion
    vectors): fold when the current manifest carries more than
    ``max_dvs`` vectors OR the vectors mask more than
    ``max_masked_frac`` of the pre-delete row count; else None. Both
    knobs come from the measured curves (tools/dv_smoke.py, SCALE.md
    round 10): read overhead is ~flat in vector COUNT (vectors
    sharing a key column collapse into one broadcast anti-join), so
    the count knob only bounds manifest growth — the knob that pays
    is masked FRACTION, where the anti-join's probe work and the
    dead bytes read scale with what the vectors hide."""
    versions = {m["version"]: m for m in list_versions(path)}
    if not versions:
        return None
    pm = versions[max(versions)]
    recs = pm.get("dv", []) + pm.get("pdv", [])
    if not recs:
        return None
    masked = sum(r["n_masked"] for r in recs)
    frac = masked / max(1, pm["n_rows"] + masked)
    if len(recs) <= max_dvs and frac <= max_masked_frac:
        return None
    return materialize_dvs(spark, path)


def vacuum(
    path: str, keep_last: int = 2, max_age_secs: float | None = None
) -> list[int]:
    """Remove data files and manifests of all but the newest
    ``keep_last`` versions; returns the vacuumed version ids. Readers
    pinned to vacuumed versions will fail on next execution — exactly
    the retention contract real table formats document; keep_last >= 1
    always preserves the current version. Versions a NAMED REF points
    at (:func:`tag_version`) are always kept — a name is a retention
    promise, so expiring a tagged snapshot requires dropping the tag
    first (the Iceberg branch/tag retention rule).

    ``max_age_secs`` (ROADMAP r11 #1 — the compliance-window shape,
    Iceberg's ``expire_snapshots(older_than=, retain_last=)``):
    when given, a version beyond the ``keep_last`` floor expires ONLY
    if it is also older than the window — age measured from the
    manifest's ``committed_at`` wall-time stamp (every commit writes
    one; manifests predating the stamp fall back to the manifest
    file's mtime, an honest approximation for tables written before
    round 11). The two knobs compose as floor AND window: keep_last
    bounds how much history always survives, max_age_secs bounds how
    long the rest may linger."""
    import shutil

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    if max_age_secs is not None and max_age_secs < 0:
        raise ValueError("max_age_secs must be >= 0")
    versions = list_versions(path)
    reffed = set(_read_refs(path).values())
    doomed = [
        m for m in versions[:-keep_last] if m["version"] not in reffed
    ]
    if max_age_secs is not None:
        cutoff = time.time() - max_age_secs
        vdir = _versions_dir(path)

        def _age_ok(m: dict) -> bool:
            ts = m.get("committed_at")
            if ts is None:
                ts = os.path.getmtime(
                    os.path.join(vdir, f"v{m['version']}.json")
                )
            return ts <= cutoff

        doomed = [m for m in doomed if _age_ok(m)]
    kept = [m for m in versions if m not in doomed]
    # fast-append chains SHARE directories across versions (and the
    # snapshot-index families share quantizer sidecar dirs the same
    # way): a dir is removable only when no KEPT manifest references it
    kept_dirs = {
        d
        for m in kept
        for d in _manifest_dirs(m) + _manifest_aux_dirs(m) + _dv_dirs(m)
    }
    # live branches reference base + staged dirs by name — a fork is a
    # retention promise exactly like a tag (WAP: audit must be able to
    # read the branch until it's merged or dropped)
    for bname in list_branches(path):
        for r in _branch_records(path, bname):
            kept_dirs.update(r.get("data_dirs", []))
            kept_dirs.update(_dv_dirs(r))  # staged takedown vectors
    for m in doomed:
        for d in _manifest_dirs(m) + _manifest_aux_dirs(m) + _dv_dirs(m):
            if d not in kept_dirs:
                shutil.rmtree(d, ignore_errors=True)
        os.remove(os.path.join(_versions_dir(path), f"v{m['version']}.json"))
    return [m["version"] for m in doomed]


def remove_orphans(path: str, older_than_secs: float = 259_200) -> list[str]:
    """Remove data/quantizer directories REFERENCED BY NO manifest —
    the debris the optimistic-concurrency protocol legitimately
    produces (a rewrite retry writes a fresh delta dir per attempt; a
    recluster retry writes fresh quantizer sidecars; only the winning
    attempt's dirs reach a manifest) plus anything a crashed writer
    staged but never committed. The Iceberg ``remove_orphan_files``
    analog at this format's dir granularity.

    ``older_than_secs`` (default 3 days, Iceberg's default) is the
    liveness grace window: an IN-FLIGHT writer's delta dir is also
    unreferenced until its commit lands, so only dirs whose mtime
    predates the window are removed — a writer that stages and then
    commits within the window is never raced. Returns removed dirs.
    Never touches manifests; safe to run concurrently with readers
    (they resolve manifests, and every manifest-referenced dir is
    kept regardless of age)."""
    import time

    referenced: set[str] = set()
    for m in list_versions(path):
        referenced.update(_manifest_dirs(m))
        referenced.update(_manifest_aux_dirs(m))
        referenced.update(_dv_dirs(m))
    for bname in list_branches(path):
        for r in _branch_records(path, bname):
            referenced.update(r.get("data_dirs", []))
            referenced.update(_dv_dirs(r))  # staged takedown vectors
    removed: list[str] = []
    cutoff = time.time() - older_than_secs
    for sub in ("data", "quant"):
        root = os.path.join(path, sub)
        if not os.path.isdir(root):
            continue
        for name in sorted(os.listdir(root)):
            d = os.path.join(root, name)
            if d in referenced or not os.path.isdir(d):
                continue
            if os.path.getmtime(d) <= cutoff:
                import shutil

                shutil.rmtree(d, ignore_errors=True)
                removed.append(d)
    return removed


def optimize(
    spark: SparkSession,
    path: str,
    zorder_by: tuple[str, str] | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """OPTIMIZE as a new snapshot (VERDICT r5 #5): rewrite the CURRENT
    version's data — small files compacted to
    ``ceil(total_bytes / target_file_bytes)`` outputs and, when
    ``zorder_by=(x, y)`` is given, rows range-partitioned + sorted by
    the Morton z-value of the two columns (min/max-normalized to 16-bit
    buckets, functions/layout.z_value) — and commit it as the NEXT
    version with ``operation='optimize'``.

    Copy-on-write at table grain, like merge_upsert: earlier versions'
    files are never touched, so time travel to any pre-optimize version
    still reads the original layout (pinned in tests/test_sinks.py).
    The row multiset is EXACTLY preserved — optimize changes layout,
    never data. After a z-ordered optimize every file covers a small
    (x, y) rectangle, so min/max file statistics prune selective scans
    on either column (before/after files-read counts in SCALE.md
    "Round 6: versioned-table OPTIMIZE").

    At fleet scale the same two levers apply per partition directory
    (compaction is embarrassingly parallel across partitions) and the
    rewrite narrows to the files a clustering metric flags — the
    snapshot-commit protocol is unchanged.

    Outstanding DELETION VECTORS are materialized by the rewrite for
    free: the scan reads through :func:`read_version` (masked) and the
    compacted manifest is vector-free.

    Fast-append CHAINS are folded too (round 9c — the first cut read
    the single ``data_dir`` key and crashed on a chained manifest):
    the current version's whole dir list reads (schema-merged when
    evolved) and rewrites into one dir, exactly what
    :func:`maybe_optimize` triggers when a chain outgrows its
    measured knee."""
    cur = current_version(path)
    if cur is None:
        raise ValueError(f"versioned table {path}: nothing to optimize")
    manifest = {m["version"]: m for m in list_versions(path)}[cur]
    dirs = _manifest_dirs(manifest)
    parts = [
        os.path.join(d, f)
        for d in dirs
        for f in os.listdir(d)
        if f.endswith(".parquet")
    ]
    total = sum(os.path.getsize(p) for p in parts)
    n_out = max(1, -(-total // target_file_bytes))
    df = read_version(spark, path, cur)

    if zorder_by is not None:
        from pyspark.sql import functions as F

        from uts_spark.functions.layout import z_value

        xc, yc = zorder_by
        # NULL-safety (ADVICE r6, low): min/max are None on an empty
        # snapshot or an all-NULL cluster column (float(None) raised a
        # bare TypeError), and a row-level NULL in either column would
        # get a NULL __z that silently co-sorts all such rows. Clustering
        # demands orderable values — fail precisely instead.
        nulls = df.filter(
            F.col(xc).isNull() | F.col(yc).isNull()
        ).limit(1).count()
        if nulls:
            raise ValueError(
                f"optimize(zorder_by=({xc!r}, {yc!r})): cluster columns "
                "must be non-null; found NULL rows — filter or fill "
                "before z-ordering, or use plain compaction"
            )
        bounds = df.agg(F.min(xc), F.max(xc), F.min(yc), F.max(yc)).first()
        if any(v is None for v in bounds):
            # empty current snapshot: nothing to cluster — plain compact
            return write_snapshot(
                df.coalesce(n_out), path, operation="optimize",
                stats_col=manifest.get("stats_col"),
                bloom_col=manifest.get("bloom_col"),
            )
        lo_x, hi_x, lo_y, hi_y = [float(v) for v in bounds]

        def bucket(col: str, lo: float, hi: float):
            span = hi - lo
            if span <= 0:  # constant column: every row in bucket 0
                return F.lit(0).cast("long")
            return F.least(
                F.lit(65535),
                F.floor((F.col(col) - F.lit(lo)) / F.lit(span) * 65536)
                .cast("long"),
            )

        out = (
            df.withColumn(
                "__z", z_value(bucket(xc, lo_x, hi_x), bucket(yc, lo_y, hi_y))
            )
            .repartitionByRange(n_out, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
        )
    else:
        out = df.coalesce(n_out)
    return write_snapshot(
        out, path, operation="optimize",
        stats_col=manifest.get("stats_col"),
        bloom_col=manifest.get("bloom_col"),
        kmv_col=_kmv_cols(manifest) or None,
        kmv_k=int(manifest.get("kmv_k", _KMV_K)),
    )


def maybe_optimize(
    spark: SparkSession,
    path: str,
    max_dirs: int = 16,
    zorder_by: tuple[str, str] | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int | None:
    """OPTIMIZE trigger for DATA-table append chains (the
    vindex_maybe_compact analog on the lakehouse side): fold the
    chain when the current manifest references more than
    ``max_dirs`` directories, else do nothing (None). 16 is the
    DATA TABLE'S OWN measured knee (1M rows + 1k-row appended
    dirs, warm walls, SCALE.md round 9c): full-scan and selective
    reads are flat through 16 dirs (0.28-0.37s), 1.6x at 32, ~3x
    at 64, and one optimize restores the single-dir wall — the
    same chain-aging shape as the IVF probe, unlike the
    row-group-pruned LSH/minhash probes that stayed flat. Stats
    and schema carry through (the compacted dir re-records
    stats_col ranges; evolution collapses — the rewrite
    materializes the widened schema, so the new version reads
    without footer-merging)."""
    cur = current_version(path)
    if cur is None:
        return None
    manifest = {m["version"]: m for m in list_versions(path)}[cur]
    if len(_manifest_dirs(manifest)) <= max_dirs:
        return None
    return optimize(
        spark, path, zorder_by=zorder_by,
        target_file_bytes=target_file_bytes,
    )


def _refs_path(path: str) -> str:
    return os.path.join(path, "_refs.json")


def _read_refs(path: str) -> dict:
    p = _refs_path(path)
    if not os.path.exists(p):
        return {}
    with open(p) as f:
        return json.load(f)


def _write_refs(path: str, refs: dict) -> None:
    tmp = _refs_path(path) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(refs, f)
    os.replace(tmp, _refs_path(path))


def tag_version(
    path: str, name: str, version: int | None = None
) -> int:
    """Create/move a NAMED REF (the Iceberg tags/branches shape): a
    ref is a name -> version pointer stored beside the manifests, so
    consumers pin ``ref="prod"`` or ``ref="exp-42"`` instead of a raw
    version id — the pointer moves by a tag_version call, never by
    someone else's commit. Refs also participate in retention:
    :func:`vacuum` keeps every ref'd version alive regardless of
    ``keep_last`` (deleting a version someone has a name for is how
    'time travel' becomes 'data loss'). ``version=None`` tags the
    current version. Returns the tagged version."""
    versions = {m["version"] for m in list_versions(path)}
    if version is None:
        version = max(versions) if versions else None
    if version not in versions:
        raise ValueError(
            f"versioned table {path}: cannot tag version {version} "
            f"(have {sorted(versions)})"
        )
    refs = _read_refs(path)
    refs[name] = version
    _write_refs(path, refs)
    return version


def drop_tag(path: str, name: str) -> None:
    refs = _read_refs(path)
    if name not in refs:
        raise ValueError(
            f"versioned table {path}: no ref named {name!r} "
            f"(have {sorted(refs)})"
        )
    del refs[name]
    _write_refs(path, refs)


def read_ref(spark: SparkSession, path: str, name: str) -> DataFrame:
    """Read the table at a named ref (see :func:`tag_version`)."""
    refs = _read_refs(path)
    if name not in refs:
        raise ValueError(
            f"versioned table {path}: no ref named {name!r} "
            f"(have {sorted(refs)})"
        )
    return read_version(spark, path, refs[name])


def table_changes(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int | None = None,
    key: str | tuple | list | None = None,
    with_changed_columns: bool = False,
) -> DataFrame:
    """CHANGE DATA FEED between two committed versions — the Delta-CDF
    / Iceberg-changelog shape, and the reason a 100 TB lakehouse can
    feed incremental consumers: a downstream job that last saw
    ``from_version`` reads ONLY what changed, never the table.

    Returns the ``to_version`` schema plus a ``_change_type`` column:

    - ``insert`` — row (by ``key``) present in to, absent in from;
    - ``delete`` — present in from, absent in to;
    - ``update_preimage`` / ``update_postimage`` — key present in both
      with different non-key content (two rows per updated key, the
      CDF convention).

    Two physical strategies, chosen from the MANIFESTS alone:

    - **dir-diff fast path** (append-only histories): when from's dir
      list is a subset of to's, every change is an insert living in
      the added dirs — the result is a plain scan of those dirs, no
      join, no read of the unchanged data. This is why fast-appends
      commit dir lists instead of rewriting: the manifest IS the
      change log.
    - **key-diff join** (copy-on-write rewrites in the range): a
      full-outer join of the two versions on ``key``, comparing a
      content hash over the non-key columns. One shuffle on the key,
      bounded by the two versions' live rows. ``key`` is required on
      this path (without identity, delete+insert vs update is
      undecidable) and must be unique per version — duplicate keys
      raise rather than emit a cartesian diff. ``key`` may be a
      tuple/list of columns (COMPOSITE identity — uniqueness holds
      over the combination).
    """
    versions = {m["version"]: m for m in list_versions(path)}
    if to_version is None:
        to_version = max(versions) if versions else None
    for v in (from_version, to_version):
        if v not in versions:
            raise ValueError(
                f"versioned table {path}: version {v} not found "
                f"(have {sorted(versions)})"
            )
    from pyspark.sql import functions as F

    new = read_version(spark, path, to_version)
    if from_version == to_version:
        return new.withColumn("_change_type", F.lit("insert")).limit(0)
    # CONTENT-PRESERVING TAIL (round 11): optimize (compaction) and
    # materialize_dv (vector fold) rewrite PHYSICS, never content —
    # their own oracle lanes pin hash-identity across the commit. A
    # feed whose range ends in such commits diffs against the newest
    # content-CHANGING version instead, so a nightly compaction does
    # not force every CDC consumer off the manifest fast paths into a
    # table-sized key-diff (the trap Delta CDF consumers hit). The
    # walk is manifest-only; an entirely-preserving range is an empty
    # feed with no scan at all.
    eff_to = to_version
    while eff_to != from_version and versions[eff_to].get(
        "operation"
    ) in ("optimize", "materialize_dv"):
        parent = versions[eff_to].get("parent")
        if parent is None or parent not in versions or parent < from_version:
            break
        eff_to = parent
    if eff_to == from_version:
        return new.withColumn("_change_type", F.lit("insert")).limit(0)
    to_version = eff_to
    m_from, m_to = versions[from_version], versions[to_version]
    from_dirs = set(_manifest_dirs(m_from))
    to_dirs = _manifest_dirs(m_to)
    f_recs = m_from.get("dv", [])
    t_recs = m_to.get("dv", [])
    f_pdv = m_from.get("pdv", [])
    t_pdv = m_to.get("pdv", [])
    if (
        from_dirs.issubset(to_dirs)
        and f_recs == t_recs
        and f_pdv == t_pdv
    ):
        added = [d for d in to_dirs if d not in from_dirs]
        if not added:
            return new.withColumn("_change_type", F.lit("insert")).limit(0)
        # schema evolution in the range: the added dirs may carry
        # heterogeneous footers (narrow pre-evolution + widened) —
        # _scan_dirs merges footers and projects to the to-version's
        # recorded schema, exactly mirroring read_version, so the feed
        # honors the documented to_version-schema contract instead of
        # inheriting whichever footer Spark lists first. Deletion
        # vectors unchanged in the range still mask the added dirs
        # they scope (none, normally — appends postdate the vectors).
        scanned = _read_dirs_masked(spark, m_to, added)
        return scanned.withColumn("_change_type", F.lit("insert"))

    if (
        from_dirs.issubset(to_dirs)
        and f_recs == t_recs[: len(f_recs)]
        and f_pdv == t_pdv[: len(f_pdv)]
    ):
        return _mor_fast_feed(spark, m_from, m_to, new)

    if key is None:
        raise ValueError(
            f"versioned table {path}: versions {from_version}->{to_version} "
            "include a rewrite (dir lists or deletion-vector histories "
            "diverge) — pass key= to diff by row identity"
        )
    old = read_version(spark, path, from_version)
    return _key_diff_feed(
        old, new, key,
        f"versioned table {path}: versions {from_version}->{to_version}",
        with_changed_columns,
    )


def _mor_fast_feed(
    spark: SparkSession, m_from: dict, m_to: dict, new: DataFrame
) -> DataFrame:
    """MERGE-ON-READ fast-path change feed between two manifest-shaped
    records whose range is appends + NEW deletion vectors (caller
    guarantees from's dirs/vector lists are prefixes of to's) — the
    shared kernel of :func:`table_changes`' MOR range and
    :func:`branch_changes`' staged-takedown feed. Everything reads off
    the manifests, no full-outer join. Inserts = the added dirs under
    to's masks; deletes = rows visible at FROM that a NEW vector
    hides, found by a PRUNED scan of the dirs the new vectors scope
    (grouped so each row is read once — no duplicate images when two
    vectors match the same row). Netting is exact: a row inserted AND
    erased inside the range sits in an added dir under a masking
    vector, so it appears in neither leg — the two-version diff
    contract. New POSITIONAL vectors add a keyless delete leg:
    positions name their rows directly, so the images come from a
    semi-join on the physical address — no key= needed even though
    the table has no identity column."""
    from pyspark.sql import functions as F

    f_recs = m_from.get("dv", [])
    t_recs = m_to.get("dv", [])
    f_pdv = m_from.get("pdv", [])
    t_pdv = m_to.get("pdv", [])
    from_dirs = set(_manifest_dirs(m_from))
    to_dirs = _manifest_dirs(m_to)
    new_recs = t_recs[len(f_recs):]
    added = [d for d in to_dirs if d not in from_dirs]
    inserts = (
        _read_dirs_masked(spark, m_to, added)
        if added
        else new.limit(0)
    ).withColumn("_change_type", F.lit("insert"))
    from_dirs_l = _manifest_dirs(m_from)
    scopes = [set(r["scope"]) for r in new_recs]
    groups: dict[tuple, list[str]] = {}
    for d in from_dirs_l:
        ks = tuple(i for i, s in enumerate(scopes) if d in s)
        if ks:
            groups.setdefault(ks, []).append(d)
    del_parts = []
    for ks, ds in groups.items():
        vis = _read_dirs_masked(spark, m_from, ds)
        by_col: dict[str, list[dict]] = {}
        for i in ks:
            by_col.setdefault(new_recs[i]["key"], []).append(
                new_recs[i]
            )
        markers = []
        for j, (kcol, grp) in enumerate(sorted(by_col.items())):
            kf = _read_dv_keys(spark, grp, kcol)
            if len(grp) > 1:
                # unlike the anti-join sites, this marker join is a
                # LEFT join — duplicate keys across several vectors
                # of the same column would duplicate matched rows
                kf = kf.distinct()
            kf = kf.withColumn(f"__dvm{j}", F.lit(True))
            vis = vis.join(F.broadcast(kf), kcol, "left")
            markers.append(f"__dvm{j}")
        hit = markers[0]
        cond = F.col(hit).eqNullSafe(F.lit(True))
        for mk in markers[1:]:
            cond = cond | F.col(mk).eqNullSafe(F.lit(True))
        del_parts.append(vis.filter(cond).drop(*markers))
    new_pdv = t_pdv[len(f_pdv):]
    if new_pdv:
        # no distinct: addresses are unique within a vector by
        # construction, and the consumers below are a left_semi join
        # and a distinct-ed collect — duplicates across vectors are
        # harmless to both
        pos = _pdv_reader(spark).parquet(
            *[r["dir"] for r in new_pdv]
        ).select("__file", "__pos")
        # manifest dirs may be relative; _metadata paths are
        # absolute file: URIs — normalize both sides (ADVICE r10,
        # high: the raw-string compare emitted NO delete images on
        # a relative-path table). Files outside from's dirs are
        # fine here: rows appended in-range then erased net out.
        pfiles = {
            _norm_dir(os.path.dirname(r["__file"]))
            for r in pos.select("__file").distinct().collect()
        }
        pdirs = [d for d in from_dirs_l if _norm_dir(d) in pfiles]
        if pdirs:
            vis = _read_dirs_masked(
                spark, m_from, pdirs, with_pos=True
            )
            images = vis.join(
                F.broadcast(pos), ["__file", "__pos"], "left_semi"
            ).drop("__file", "__pos")
            # a row masked in-range by a positional vector AND
            # listed in a new key vector already has a delete
            # image from the key legs (a new vector's scope covers
            # every from-dir in this fast path) — anti-join it out
            # so accounting consumers never double-count (ADVICE
            # r10, low)
            key_by_col: dict[str, list[dict]] = {}
            for rec2 in new_recs:
                key_by_col.setdefault(rec2["key"], []).append(rec2)
            for kcol, grp2 in sorted(key_by_col.items()):
                kf = _read_dv_keys(spark, grp2, kcol)
                images = images.join(
                    F.broadcast(kf), kcol, "left_anti"
                )
            del_parts.append(images)
    if del_parts:
        dels = del_parts[0]
        for p in del_parts[1:]:
            dels = dels.unionByName(p)
        # align delete images under the to-version schema (NULL
        # back-fill for columns added in range, CDF convention)
        for c in new.columns:
            if c not in dels.columns:
                dels = dels.withColumn(
                    c, F.lit(None).cast(dict(new.dtypes)[c])
                )
        dels = dels.select(*new.columns).withColumn(
            "_change_type", F.lit("delete")
        )
        return inserts.select(
            *new.columns, "_change_type"
        ).unionByName(dels)
    return inserts.select(*new.columns, "_change_type")


def _key_diff_feed(
    old: DataFrame,
    new: DataFrame,
    key,
    label: str,
    with_changed_columns: bool = False,
) -> DataFrame:
    """The CDF key-diff kernel shared by :func:`table_changes`
    (rewrite ranges) and :func:`branch_changes` (overwrite branches):
    full-outer join on ``key`` with a NULL-safe content hash over the
    non-key columns, emitting insert/delete/update_preimage/
    update_postimage rows under the NEW side's schema (added columns
    NULL back-fill on old images — the Delta-CDF convention).
    ``key`` is one column name or a tuple/list of them (round 11 —
    COMPOSITE row identity: tables keyed by more than one column, and
    aggregate views keyed by their group columns, diff the same way;
    uniqueness is enforced over the combination)."""
    from pyspark.sql import functions as F

    keys = [key] if isinstance(key, str) else list(key)
    cols = new.columns
    dropped = [c for c in old.columns if c not in cols]
    if dropped:
        raise ValueError(
            f"{label}: the new side lacks column(s) {dropped} present "
            "on the old side — narrowing rewrites have no well-defined "
            "whole-row feed; diff the overlap explicitly"
        )
    added = [c for c in cols if c not in old.columns]
    if added:
        # schema evolution in range: align the old frame under the
        # widened schema (NULL pre-images for added columns — the
        # Delta-CDF convention), typed from the to-version's schema
        for c in added:
            old = old.withColumn(
                c, F.lit(None).cast(dict(new.dtypes)[c])
            )
        old = old.select(*cols)
    val_cols = [c for c in cols if c not in keys]
    # NULL-safe content hash over the non-key columns, in to-version
    # column order on both sides
    def rhash(df):
        return F.xxhash64(*[F.coalesce(df[c].cast("string"), F.lit("\x00")) for c in val_cols])

    o = old.select(*keys, *val_cols).alias("o")
    n = new.select(*keys, *val_cols).alias("n")
    for side, frame in (("old", o), ("new", n)):
        dup = frame.groupBy(*keys).count().filter(F.col("count") > 1).limit(1)
        if dup.count():
            raise ValueError(
                f"{label}: duplicate {key!r} on the {side} side — "
                "key-diff requires unique keys"
            )
    j = o.withColumn("__oh", rhash(o)).join(
        n.withColumn("__nh", rhash(n)), on=keys, how="full_outer"
    )
    inserts = (
        j.filter(F.col("__oh").isNull())
        .select(*keys, *[F.col(f"n.{c}") for c in val_cols])
        .withColumn("_change_type", F.lit("insert"))
    )
    deletes = (
        j.filter(F.col("__nh").isNull())
        .select(*keys, *[F.col(f"o.{c}") for c in val_cols])
        .withColumn("_change_type", F.lit("delete"))
    )
    upd = j.filter(
        F.col("__oh").isNotNull()
        & F.col("__nh").isNotNull()
        & (F.col("__oh") != F.col("__nh"))
    )
    pre = upd.select(*keys, *[F.col(f"o.{c}") for c in val_cols]).withColumn(
        "_change_type", F.lit("update_preimage")
    )
    post = upd.select(*keys, *[F.col(f"n.{c}") for c in val_cols]).withColumn(
        "_change_type", F.lit("update_postimage")
    )
    if not with_changed_columns:
        out = inserts.unionByName(deletes).unionByName(pre).unionByName(post)
        return out.select(*cols, "_change_type")
    # COLUMN-LEVEL granularity (opt-in — wide tables' consumers read
    # which columns moved without value-diffing the images): update
    # rows carry the sorted list of value columns whose old and new
    # cells differ (NULL-safe); inserts/deletes carry NULL — every
    # column is trivially "changed" there, and NULL keeps that case
    # distinguishable from an empty diff (impossible on updates).
    changed = F.array_sort(
        F.array_compact(
            F.array(
                *[
                    F.when(
                        ~F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}")),
                        F.lit(c),
                    )
                    for c in val_cols
                ]
            )
        )
    )
    nul = F.lit(None).cast("array<string>")
    out = (
        inserts.withColumn("_changed_columns", nul)
        .unionByName(deletes.withColumn("_changed_columns", nul))
        .unionByName(
            upd.withColumn("__cc", changed)
            .select(
                *keys, *[F.col(f"o.{c}") for c in val_cols], "__cc"
            )
            .withColumn("_change_type", F.lit("update_preimage"))
            .withColumnRenamed("__cc", "_changed_columns")
        )
        .unionByName(
            upd.withColumn("__cc", changed)
            .select(
                *keys, *[F.col(f"n.{c}") for c in val_cols], "__cc"
            )
            .withColumn("_change_type", F.lit("update_postimage"))
            .withColumnRenamed("__cc", "_changed_columns")
        )
    )
    return out.select(*cols, "_change_type", "_changed_columns")


# --- WRITABLE BRANCHES: the Iceberg write-audit-publish pattern -------------
#
# A branch is a SECOND manifest chain (``_branches/<name>/h{K}.json``,
# same hard-link CAS commit as the main chain) whose records reference
# data dirs from the SAME immutable pool. Staging a risky pipeline
# write on a branch costs exactly what a fast-append costs — the delta
# dir — while main readers see nothing until :func:`merge_branch`
# publishes: staged appends land on main as one commute-merge commit
# (main's dirs + the branch's added dirs; retried on CAS conflict like
# any append, because file adds commute); a branch that staged a
# REWRITE publishes fast-forward-only (main must not have moved since
# the fork — a rewrite does not commute with anything). This is WAP:
# Write (to the branch), Audit (read_branch — full query access to the
# staged state), Publish (merge_branch), with drop_branch as the
# abandon verb (staged dirs become remove_orphans debris).


def _branches_root(path: str) -> str:
    return os.path.join(path, "_branches")


def _branch_dir(path: str, name: str) -> str:
    if not name or "/" in name or name.startswith("."):
        raise ValueError(f"invalid branch name {name!r}")
    return os.path.join(_branches_root(path), name)


def list_branches(path: str) -> list[str]:
    root = _branches_root(path)
    if not os.path.isdir(root):
        return []
    return sorted(
        n for n in os.listdir(root)
        if os.path.isdir(os.path.join(root, n))
    )


def _branch_records(path: str, name: str) -> list[dict]:
    bdir = _branch_dir(path, name)
    if not os.path.isdir(bdir):
        raise ValueError(
            f"versioned table {path}: no branch named {name!r} "
            f"(have {list_branches(path)})"
        )
    out = []
    for fn in os.listdir(bdir):
        if fn.startswith("h") and fn.endswith(".json"):
            with open(os.path.join(bdir, fn)) as f:
                out.append(json.load(f))
    return sorted(out, key=lambda r: r["seq"])


def create_branch(
    path: str, name: str, from_version: int | None = None
) -> int:
    """Fork a branch at ``from_version`` (default: current main).
    Returns the base version. The fork itself is O(1) — the h0 record
    carries the base manifest's dir list BY REFERENCE, no data moves.
    The base version is retention-protected like a named ref: vacuum
    keeps every branch's referenced dirs alive until the branch is
    merged or dropped."""
    versions = {m["version"]: m for m in list_versions(path)}
    if not versions:
        raise ValueError(
            f"versioned table {path}: cannot branch an empty table"
        )
    base = max(versions) if from_version is None else from_version
    if base not in versions:
        raise ValueError(
            f"versioned table {path}: version {base} not found "
            f"(have {sorted(versions)})"
        )
    bm = versions[base]
    bdir = _branch_dir(path, name)
    if os.path.isdir(bdir) and any(
        f.startswith("h") for f in os.listdir(bdir)
    ):
        raise ValueError(
            f"versioned table {path}: branch {name!r} already exists"
        )
    os.makedirs(bdir, exist_ok=True)
    _commit(path, {
        "seq": 0,
        "base": base,
        "operation": "fork",
        "data_dirs": _manifest_dirs(bm),
        "n_rows": bm["n_rows"],
        # the base's state forks with it, outstanding merge-on-read
        # vectors included (round 11) — branch reads mask them via the
        # shared kernel, staged takedowns extend them, and the branch
        # feed diffs only the vectors staged PAST this prefix
        **_carry_table_meta(bm),
    }, branch=name)
    return base


def write_to_branch(
    df: DataFrame,
    path: str,
    name: str,
    operation: str = "append",
    meta: dict | None = None,
    sort_cols=(),
    batch_id: int | None = None,
    stream_id: str | None = None,
) -> int:
    """Stage a commit ON the branch; main is untouched. Returns the
    new branch head seq. ``operation="append"`` fast-appends (delta
    dir + head record referencing parent dirs + delta — the commits
    commute at merge time) with the main chain's rules: the widen-only
    schema check runs against the head before the delta is written,
    and the delta's sidecars follow the head's opt-ins (forked from the
    base), so staged takedowns keep their pruning after staged appends
    and the publish reuses them instead of re-scanning.
    ``operation="overwrite"`` replaces the branch content (publishable
    fast-forward-only).

    EXACTLY-ONCE streamed staging (round 10 — the streaming WAP
    pattern: a continuous job stages risky output on a branch, a
    gate audits, publish is one commit): ``batch_id``/``stream_id``
    key the staged record exactly like :func:`append_snapshot`'s
    manifest keys — a replayed micro-batch finds ``s{id}b{bid}`` on a
    committed branch record and returns that seq BEFORE any data
    write; the conflict retry re-checks the key so a racing replayed
    twin resolves instead of double-staging. Only ``append`` commits
    take keys (an overwrite branch replaces state — replaying one is
    not idempotent by content; refused loudly)."""
    if operation not in ("append", "overwrite"):
        raise ValueError(
            f"branch operation {operation!r} not supported "
            "(append | overwrite)"
        )
    if batch_id is not None and operation != "append":
        raise ValueError(
            "write_to_branch: batch_id keys apply to append "
            "staging only (an overwrite replay is not idempotent "
            "by content)"
        )
    spark = df.sparkSession
    label = f"versioned table {path} branch {name!r}"
    memo: dict = {}

    def attempt(head):
        if operation == "overwrite":
            if "ddir" not in memo:
                memo["ddir"] = _write_delta_dir(df, path, sort_cols)
            ddir = memo["ddir"]
            return [ddir], operation, _dir_count(spark, ddir), {
                **(meta or {}), **_recordable_schema(df.schema),
            }
        dirs, n_rows, side = _staged_append(
            spark, df, path, label, sort_cols, memo, head
        )
        if not head.get("schema"):
            side.update(_recordable_schema(df.schema))
        side.setdefault("evolved", bool(head.get("evolved")))
        return dirs, operation, n_rows, {**(meta or {}), **side}

    return _cas_commit(
        path, attempt, branch=name,
        batch_key=None if batch_id is None else (
            f"s{stream_id}b{batch_id}" if stream_id else f"b{batch_id}"
        ),
    )


def delete_rows_mor_branch(
    spark: SparkSession,
    path: str,
    name: str,
    ids: DataFrame,
    key: str,
) -> int:
    """Stage a MERGE-ON-READ erasure ON A BRANCH (round 11 — WAP for
    takedowns: a risky erasure stages as a deletion vector the branch
    alone applies, an auditor reads the masked branch and its keyless
    delete feed, publish folds the vector onto main as one commit).
    Semantics mirror :func:`delete_rows_mor` exactly — the deleted
    keys commit as a vector record scoped to the branch's dirs at
    stage time (rows appended to the branch LATER are never masked,
    even on key reuse), ``n_masked`` is counted against the branch's
    VISIBLE state (already-staged vectors apply first, so re-deleting
    is a no-op returning the head seq), and main is untouched until
    :func:`merge_branch`. Returns the new branch head seq.

    Concurrency: a CAS loss against a racing branch writer recounts
    under the new head's masks and retries — the vector frame is
    written once."""
    from pyspark.sql import functions as F

    if key not in ids.columns:
        raise ValueError(
            f"delete_rows_mor_branch: id frame has no column {key!r} "
            f"(have {ids.columns})"
        )
    idf = ids.select(key).distinct()
    memo: dict = {}

    def attempt(head):
        dirs = head["data_dirs"]
        # the fork record carries the base's stats/dir_rows, so a
        # pure-takedown branch prunes the n_masked count to admitting
        # dirs exactly like the main-chain verb; staged appends record
        # their dirs' sidecars under the same opt-ins
        admit = _admitting_dirs(spark, head, idf, key)
        use = dirs if admit is None else [
            d for d, a in zip(dirs, admit) if a
        ]
        if not use:
            return head["seq"]  # no dir can hold a deleted key
        visible = _read_dirs_masked(spark, head, use)
        if key not in visible.columns:
            raise ValueError(
                f"versioned table {path} branch {name!r}: no column "
                f"{key!r} to delete by (have {visible.columns})"
            )
        n_masked = visible.join(
            F.broadcast(idf), key, "left_semi"
        ).count()
        if n_masked == 0:
            return head["seq"]
        if "dvdir" not in memo:
            memo["dvdir"] = os.path.join(path, "data", f"bdv-{_uuid_hex()}")
            idf.coalesce(1).write.mode("errorifexists").parquet(
                memo["dvdir"]
            )
        return dirs, "delete_mor", head["n_rows"] - n_masked, {
            **_carry_table_meta(head),
            "dv": head.get("dv", []) + [{
                "dir": memo["dvdir"], "key": key, "scope": dirs,
                "n_masked": n_masked,
                "ktype": idf.schema[0].dataType.simpleString(),
            }],
        }

    return _cas_commit(path, attempt, branch=name)


def delete_rows_positional_branch(
    spark: SparkSession,
    path: str,
    name: str,
    predicate,
) -> int:
    """Stage a POSITIONAL merge-on-read erasure on a branch — the
    keyless leg of branch-staged takedowns (:func:`delete_rows_mor_branch`
    above; semantics mirror :func:`delete_rows_positional`): victims
    are addressed by physical (file, row-index) pairs selected by
    ``predicate`` over the branch's VISIBLE state, so keyless schemas
    and duplicate rows erase exactly, and rows appended later live in
    new files the positions structurally cannot name. Returns the new
    branch head seq; a predicate matching nothing commits nothing."""
    memo: dict = {}

    def attempt(head):
        out = _positional_victims(spark, path, head, predicate, "bpdv", memo)
        return head["seq"] if out is None else out

    return _cas_commit(path, attempt, branch=name)


def read_branch(
    spark: SparkSession, path: str, name: str, seq: int | None = None
) -> DataFrame:
    """Read the branch at its head (or a pinned ``seq``) — the AUDIT
    step of WAP: full query access to the staged state, same reader
    semantics as :func:`read_version` (footer-merge + projection when
    the staged chain evolved the schema)."""
    recs = {r["seq"]: r for r in _branch_records(path, name)}
    if seq is None:
        seq = max(recs)
    if seq not in recs:
        raise ValueError(
            f"versioned table {path}: branch {name!r} has no seq {seq} "
            f"(have {sorted(recs)})"
        )
    r = recs[seq]
    dirs = r["data_dirs"]
    if not dirs:
        raise ValueError(
            f"versioned table {path}: branch {name!r} seq {seq} is empty"
        )
    # the shared masked-dir kernel: staged deletion vectors (key and
    # positional) apply exactly as a main manifest's would; a branch
    # with no staged vectors reduces to the plain (footer-merged when
    # evolved) scan
    return _read_dirs_masked(spark, r, dirs)


def merge_branch(
    spark: SparkSession,
    path: str,
    name: str,
    meta: dict | None = None,
    drop: bool = True,
) -> int:
    """PUBLISH the branch onto main as one commit; returns the new
    main version. Staged appends COMMUTE: the published manifest is
    main's current dirs + the branch's added dirs (a concurrent main
    commit just retries the CAS — identical to fast-append conflict
    rules), with one guard: if main REWROTE (delete/compact/
    overwrite/merge) since the fork, the staged rows may include data
    main has since erased, so the merge refuses and the branch must
    be re-staged. A branch holding an ``overwrite`` publishes
    fast-forward-only (main head must still be the fork base).
    ``drop`` removes the branch pointer after publishing (its staged
    dirs are now owned by the main manifest). STAGED TAKEDOWNS publish
    like appends: the branch's deletion vectors fold into the new
    manifest merge-on-read (scoped to dirs the publish carries; main
    dirs appended since the fork are structurally outside every staged
    scope/position, so the commute rule is unchanged), and the
    rewrites guard keeps the n_rows netting exact — a main-side vector
    commit since the fork refuses like any other rewrite.

    Pruning and estimate structures SURVIVE an append publish: main's
    opt-ins (stats, Bloom, KMV synopses) and ``dir_rows`` carry, and
    the staged dirs' sidecars merge in (:func:`_dir_sidecars`) — the
    values the branch recorded at staging are reused, only dirs staged
    before main's opt-in are scanned, and nothing is computed for an
    opt-in main does not have. Overwrite publishes record no
    structures (the next stats-recording write restores them; pruning
    loss only, never correctness)."""
    recs = _branch_records(path, name)
    head = recs[-1]
    if head["operation"] == "fork":
        raise ValueError(
            f"versioned table {path}: branch {name!r} has no staged "
            "commits to publish"
        )
    base = head["base"]
    base_dirs = set(recs[0]["data_dirs"])
    staged_ops = {r["operation"] for r in recs[1:]}
    # staged takedowns publish like appends: the vectors fold into
    # main's manifest (scoped to dirs the publish carries), added_rows
    # nets the masked counts because delete records maintain n_rows.
    # Main-side vector commits since the fork land in the rewrites
    # guard below (their operation is not "append"), so the netting
    # can never double-count a row main also masked.
    commuting = staged_ops <= {"append", "delete_mor", "delete_positional"}
    added = [d for d in head["data_dirs"] if d not in base_dirs]
    added_rows = head["n_rows"] - recs[0]["n_rows"]
    head_fields = (
        _schema_fields(head["schema"]) if head.get("schema") else {}
    )
    vectors = {k: head[k] for k in ("dv", "pdv") if head.get(k)}
    memo = _sidecar_memo(head, added)
    label = f"versioned table {path}: branch {name!r} publish"

    def attempt(pm):
        if not commuting:
            if pm.get("version") != base:
                raise VersionConflictError(
                    f"versioned table {path}: branch {name!r} staged a "
                    f"rewrite at fork v{base} but main is at "
                    f"v{pm.get('version')} — rewrites publish "
                    "fast-forward-only"
                )
            return head["data_dirs"], op, head["n_rows"], {
                **({"schema": head["schema"]} if head.get("schema") else {}),
                **({"evolved": True} if head.get("evolved") else {}),
                **vectors, **(meta or {}),
            }
        rewrites = [
            m["operation"] for m in list_versions(path)
            if m["version"] > base and m["operation"] != "append"
        ]
        if rewrites:
            raise VersionConflictError(
                f"versioned table {path}: cannot publish branch "
                f"{name!r} — main ran {rewrites} since the fork at "
                f"v{base}; staged appends may reference erased or "
                "rewritten state. Re-stage against current main."
            )
        # widened schema = main's fields + the branch's staged adds
        schema = pm.get("schema")
        if schema and head_fields:
            schema, _ = _widen_schema(
                schema, head_fields, label, VersionConflictError
            )
        dirs = _manifest_dirs(pm)
        side = _dir_sidecars(
            spark, pm, dirs, added, memo, **_opt_ins(pm, head_fields)
        )
        evolved = bool(pm.get("evolved")) or bool(head.get("evolved"))
        return dirs + added, op, pm["n_rows"] + added_rows, {
            **({"schema": schema} if schema else {}),
            **({"evolved": True} if evolved else {}),
            # staged takedowns publish as main-chain deletion vectors
            # (scoped to dirs this manifest carries; main dirs added
            # since the fork are structurally outside every staged
            # scope/position — same commute rule as the data dirs)
            **vectors, **side, **(meta or {}),
        }

    op = f"merge_branch:{name}"
    version = _cas_commit(path, attempt)
    if drop:
        drop_branch(path, name)
    return version


def drop_branch(path: str, name: str) -> None:
    """Abandon (or clean up after publishing) a branch: removes the
    head chain only — staged-but-unpublished data dirs become
    unreferenced debris for :func:`remove_orphans`."""
    import shutil

    bdir = _branch_dir(path, name)
    if not os.path.isdir(bdir):
        raise ValueError(
            f"versioned table {path}: no branch named {name!r} "
            f"(have {list_branches(path)})"
        )
    shutil.rmtree(bdir)


def branch_changes(
    spark: SparkSession, path: str, name: str,
    key: str | tuple | list | None = None,
    with_changed_columns: bool = False,
) -> DataFrame:
    """What the branch HAS STAGED, as a change feed (the WAP audit's
    incremental view — reviewers read the staged delta, not the whole
    branch): for an append-only branch the staged rows are exactly the
    dirs the branch added beyond its fork base — a plain scan, no
    join, the same manifest-diff shape as the main chain's append-only
    :func:`table_changes`. An OVERWRITE branch diffs against the fork
    base by row identity (round 10 — the same key-diff kernel as
    table_changes' rewrite ranges): pass ``key``, get insert/delete/
    update images of what the staged rewrite would publish. Without a
    key an overwrite feed is refused loudly. A branch whose range is
    appends + STAGED TAKEDOWNS (:func:`delete_rows_mor_branch` /
    :func:`delete_rows_positional_branch`) feeds KEYLESSLY through
    the MOR fast-path kernel (:func:`_mor_fast_feed`) — pruned scans
    of the scoped dirs, delete images with no key column required.
    ``with_changed_columns`` adds the column-level diff to overwrite
    feeds exactly as :func:`table_changes` documents (insert-only and
    takedown feeds have no update images to annotate)."""
    from pyspark.sql import functions as F

    recs = _branch_records(path, name)
    head = recs[-1]
    staged_ops = {r["operation"] for r in recs[1:]}
    mor_ops = {"delete_mor", "delete_positional"}
    if staged_ops <= {"append"} | mor_ops and staged_ops & mor_ops:
        # staged TAKEDOWNS (round 11 — WAP erasure audit): the branch
        # range is appends + vectors staged PAST the fork record's
        # carried prefix (the fork may itself carry base vectors;
        # _mor_fast_feed diffs only the suffix), which is exactly
        # the MOR fast-path shape — inserts from the added dirs under
        # the staged masks, KEYLESS delete images from a pruned scan
        # of the dirs the staged vectors scope / the positions name.
        # The auditor reads what the publish would do to main without
        # a key column and without touching main.
        return _mor_fast_feed(
            spark, recs[0], head, read_branch(spark, path, name)
        )
    if staged_ops - {"append"}:
        if key is None:
            raise ValueError(
                f"versioned table {path}: branch {name!r} staged "
                f"{sorted(staged_ops - {'append'})} — an overwrite "
                "feed diffs by row identity; pass key= (or audit via "
                "read_branch)"
            )
        base_rec = recs[0]
        # the fork record may CARRY the base's deletion vectors
        # (vector-carrying forks, round 11) — the base side of the
        # diff must read masked, or every erased base row resurrects
        # as a phantom delete image in the audit feed
        base = _read_dirs_masked(spark, base_rec, base_rec["data_dirs"])
        staged = read_branch(spark, path, name)
        return _key_diff_feed(
            base, staged, key,
            f"versioned table {path}: branch {name!r} vs fork base",
            with_changed_columns,
        )
    base_dirs = set(recs[0]["data_dirs"])
    added = [d for d in head["data_dirs"] if d not in base_dirs]
    if not added:
        return read_branch(spark, path, name).withColumn(
            "_change_type", F.lit("insert")
        ).limit(0)
    st = _parsed_schema(head.get("schema", ""))
    if st is not None:
        # same equivalence as _scan_dirs: evolution is add-column-only,
        # so the recorded-schema read NULL-backfills exactly like
        # mergeSchema + project, with zero plan-time inference jobs
        scanned = spark.read.schema(st).parquet(*added)
    elif head.get("evolved") and head.get("schema"):
        scanned = spark.read.option("mergeSchema", "true").parquet(
            *added
        ).select(*_schema_fields(head["schema"]))
    else:
        scanned = spark.read.parquet(*added)
    return scanned.withColumn("_change_type", F.lit("insert"))


_VIEW_INT_TYPES = ("tinyint", "smallint", "int", "bigint")


def _view_minmax_merge(
    spark: SparkSession,
    merged: DataFrame,
    feed: DataFrame,
    src_path: str,
    src_v: int,
    group_cols: tuple[str, ...],
    min_cols: tuple[str, ...],
    max_cols: tuple[str, ...],
) -> DataFrame:
    """The HYBRID-IVM extrema step of :func:`maintain_agg_view`:
    merge insert-side extrema purely (``least``/``greatest``), detect
    REGRESSED groups (a delete image attains the group's current
    extremum — the one case min/max cannot maintain from the delta),
    and recompute ONLY those groups from the source. ``merged``
    arrives with the counts/sums already folded and the view's old
    extrema carried as ``__old_min_*`` / ``__old_max_*``; the output
    replaces them with the maintained ``min_*`` / ``max_*`` columns;
    the ``__overflow`` flag rides through.
    Cost: two group-sized aggregates of the feed, plus one source
    scan aggregating the regressed groups alone — skipped entirely
    (checked on the group-sized frame) when no extremum was hit."""
    from functools import reduce as _reduce
    from operator import and_ as _and

    from pyspark.sql import functions as F

    def nsj(a: DataFrame, b: DataFrame) -> DataFrame:
        aa, bb = a.alias("__l"), b.alias("__r")
        cond = _reduce(
            _and,
            [
                F.col(f"__l.{g}").eqNullSafe(F.col(f"__r.{g}"))
                for g in group_cols
            ],
        )
        keep = [c for c in b.columns if c not in group_cols]
        return aa.join(bb, cond, "left").select(
            "__l.*", *[F.col(f"__r.{c}") for c in keep]
        )

    ins = ("insert", "update_postimage")
    adds = feed.filter(F.col("_change_type").isin(*ins))
    dels = feed.filter(~F.col("_change_type").isin(*ins))
    add_mm = adds.groupBy(*group_cols).agg(
        *[F.min(c).alias(f"__a_min_{c}") for c in min_cols],
        *[F.max(c).alias(f"__a_max_{c}") for c in max_cols],
    )
    del_mm = dels.groupBy(*group_cols).agg(
        *[F.min(c).alias(f"__d_min_{c}") for c in min_cols],
        *[F.max(c).alias(f"__d_max_{c}") for c in max_cols],
    )
    regress = F.lit(False)
    for c in min_cols:
        regress = regress | (
            F.col(f"__d_min_{c}") <= F.col(f"__old_min_{c}")
        )
    for c in max_cols:
        regress = regress | (
            F.col(f"__d_max_{c}") >= F.col(f"__old_max_{c}")
        )
    m2 = nsj(nsj(merged, add_mm), del_mm).withColumn(
        "__regress", F.coalesce(regress, F.lit(False))
    )
    # group-sized pin BEFORE the regression probe, so the feed scan
    # behind it runs once, not once per downstream action
    m2 = m2.localCheckpoint(eager=True)
    rg = m2.filter(F.col("__regress")).select(*group_cols).distinct()
    need = rg.limit(1).count() > 0
    if need:
        src_now = read_version(spark, src_path, src_v)
        cond = _reduce(
            _and, [src_now[g].eqNullSafe(rg[g]) for g in group_cols]
        )
        recomp = src_now.join(rg, cond, "left_semi").groupBy(
            *group_cols
        ).agg(
            *[F.min(c).alias(f"__r_min_{c}") for c in min_cols],
            *[F.max(c).alias(f"__r_max_{c}") for c in max_cols],
        )
        m2 = nsj(m2, recomp)
    for c in min_cols:
        base = F.least(
            F.col(f"__old_min_{c}"), F.col(f"__a_min_{c}")
        )
        m2 = m2.withColumn(
            f"min_{c}",
            F.when(F.col("__regress"), F.col(f"__r_min_{c}"))
            .otherwise(base)
            if need
            else base,
        )
    for c in max_cols:
        base = F.greatest(
            F.col(f"__old_max_{c}"), F.col(f"__a_max_{c}")
        )
        m2 = m2.withColumn(
            f"max_{c}",
            F.when(F.col("__regress"), F.col(f"__r_max_{c}"))
            .otherwise(base)
            if need
            else base,
        )
    return m2.drop(
        *[c for c in m2.columns if c.startswith("__") and c != "__overflow"]
    )


def maintain_agg_view(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    group_cols: tuple[str, ...],
    sum_cols: tuple[str, ...] = (),
    key: str | tuple | list | None = None,
    min_cols: tuple[str, ...] = (),
    max_cols: tuple[str, ...] = (),
    sumsq_cols: tuple[str, ...] = (),
    up_to: int | None = None,
) -> int:
    """INCREMENTAL AGGREGATE VIEW maintained from the CHANGE FEED
    (round 11 — classic IVM over this table format's own CDF): keep a
    COUNT/SUM-per-group materialization of ``src_path`` current
    WITHOUT ever rescanning the source. First call seeds the view
    (one full aggregate at the source's current version); every later
    call reads ``table_changes(cursor → current)`` and applies signed
    deltas — insert/update_postimage add, delete/update_preimage
    subtract — merged into the view by one group-sized full-outer
    join. At 100 TB this is the difference between a nightly
    dashboard aggregate costing a table scan and costing the day's
    delta.

    The maintenance CURSOR rides the view's own manifest
    (``view_cursor``), so advance + cursor move are ONE atomic
    commit: a replayed tick (cursor already at the source's current)
    returns the committed version before reading anything — the
    exactly-once shape every consumer here uses. The view is a
    versioned table itself: time travel shows the aggregate as-of any
    tick, and vacuum applies.

    ``sum_cols`` must be integer-typed: +/- replay is EXACT on longs
    (a float view would drift under churn — refused loudly, the same
    reason the quirk aggregates route decimals through integer
    lanes). MOR/positional deletes need no ``key`` (the feed's fast
    paths emit delete images from the vectors); rewrite ranges
    (merge_upsert / CoW delete) require ``key=`` exactly as
    table_changes documents. A NEGATIVE maintained count means the
    feed and the view disagree (wrong cursor, foreign writer) —
    refused, never committed.

    ``min_cols`` / ``max_cols`` (round 11 cont.) maintain per-group
    extrema with HYBRID IVM — min/max is not self-maintainable under
    deletes (removing the attaining row leaves the new extremum
    unknowable from the view + delta alone), so: inserts merge purely
    (``least``/``greatest`` of old and the delta's extremum, any
    orderable type — no arithmetic, no integer restriction); a delete
    image that ATTAINS a group's current extremum marks the group
    REGRESSED, and only regressed groups recompute from the source
    (one source scan aggregating the regressed groups alone — zero
    extra cost on ticks where no delete touches an extremum, the
    common case). This is the classic distributive-vs-MIN/MAX split
    from the IVM literature, applied over this format's CDF.

    ``sumsq_cols`` maintains the per-group SUM OF SQUARES
    (``sumsq_<c>``) with the same signed integer-exact replay as
    sums — (n_rows, sum, sumsq) is the sufficient statistic for
    variance/stddev, so the full pushdown-aggregate family
    (COUNT/SUM/SUMSQ/MIN/MAX, hence AVG/VAR/STDDEV) maintains
    incrementally. Integer-typed like sums; the squares must fit a
    long (caller scales first if values exceed ~3e9). A maintained
    sum or sum of squares that overflows a long is refused with
    ``ValueError`` and nothing is committed, on seed and on tick,
    whatever ``spark.sql.ansi.enabled`` says.

    ``up_to`` bounds a tick to source version <= ``up_to`` (default:
    current) — the catch-up lever :func:`replicate` has: a view far
    behind a hot table advances in bounded slices instead of one
    history-sized feed, each slice its own atomic commit."""
    from functools import reduce as _reduce
    from operator import and_ as _and, or_ as _or

    from pyspark.sql import functions as F

    src_versions = {m["version"]: m for m in list_versions(src_path)}
    if not src_versions:
        raise ValueError(
            f"versioned table {src_path}: no committed versions"
        )
    src_v = max(src_versions)
    if up_to is not None:
        if up_to not in src_versions:
            raise ValueError(
                f"versioned table {src_path}: version {up_to} not found "
                f"(have {sorted(src_versions)})"
            )
        src_v = up_to
    sums = [f"sum_{c}" for c in sum_cols]
    mins = [f"min_{c}" for c in min_cols]
    maxs = [f"max_{c}" for c in max_cols]
    sumsqs = [f"sumsq_{c}" for c in sumsq_cols]
    mm = bool(min_cols or max_cols)

    def _check_int_types(df: DataFrame) -> None:
        types = dict(df.dtypes)
        bad = [
            c for c in (*sum_cols, *sumsq_cols)
            if types.get(c) not in _VIEW_INT_TYPES
        ]
        if bad:
            raise ValueError(
                f"maintain_agg_view: sum column(s) {bad} are not "
                "integer-typed — +/- delta replay is exact only on "
                "integers; snap floats to a fixed-point long first"
            )

    def _agg(df: DataFrame, sign=None) -> DataFrame:
        w = F.lit(1).cast("long") if sign is None else sign

        def v(c: str):
            return F.col(c).cast("long")

        # try_* arithmetic yields NULL on a long overflow whatever
        # spark.sql.ansi.enabled says (plain +/* wrap silently with ANSI
        # off); a NULL term or sum over non-NULL input flags the group
        terms = [
            (f"sum_{c}", c, F.try_multiply(w, v(c))) for c in sum_cols
        ] + [
            (f"sumsq_{c}", c, F.try_multiply(F.try_multiply(w, v(c)), v(c)))
            for c in sumsq_cols
        ]
        overflow = _reduce(
            _or,
            [
                (F.count(t) < F.count(c))
                | ((F.count(t) > 0) & F.try_sum(t).isNull())
                for _, c, t in terms
            ],
            F.lit(False),
        )
        return df.groupBy(*group_cols).agg(
            F.sum(w).alias("n_rows"),
            *[F.try_sum(t).alias(name) for name, _, t in terms],
            overflow.alias("__overflow"),
            # extrema only on the unsigned (seed / recompute) path —
            # the signed delta cannot express them (hybrid IVM below)
            *(
                [F.min(c).alias(f"min_{c}") for c in min_cols]
                + [F.max(c).alias(f"max_{c}") for c in max_cols]
                if sign is None
                else []
            ),
        )

    def _commit(view: DataFrame, operation: str, cursor: int | None,
                view_src: str, view_key) -> int:
        view = view.localCheckpoint(eager=True)  # group-sized
        min_rows, overflow = view.agg(
            F.min("n_rows"), F.max("__overflow")
        ).first()
        if overflow:
            raise ValueError(
                f"aggregate view {dst_path}: a maintained sum or sum of "
                "squares overflows a long — scale the column down first"
            )
        if min_rows is not None and min_rows < 0:
            raise ValueError(
                f"aggregate view {dst_path}: a maintained count went "
                f"NEGATIVE applying the feed {cursor}->{src_v} — the view "
                "and the source history disagree; reseed the view"
            )
        return write_snapshot(
            view.filter(F.col("n_rows") > 0).drop("__overflow"), dst_path,
            operation=operation,
            meta={
                "view_cursor": src_v,
                "view_src": view_src,
                "view_group": list(group_cols),
                "view_sums": list(sum_cols),
                "view_mins": list(min_cols),
                "view_maxs": list(max_cols),
                "view_sumsqs": list(sumsq_cols),
                **({"view_key": view_key} if view_key else {}),
            },
        )

    dst_versions = list_versions(dst_path)
    if not dst_versions:
        src_df = read_version(spark, src_path, src_v)
        _check_int_types(src_df)
        return _commit(_agg(src_df), "view_seed", None, src_path, key)
    vm = dst_versions[-1]
    if "view_cursor" not in vm:
        raise ValueError(
            f"versioned table {dst_path}: not an aggregate view "
            "(no view_cursor on its manifest)"
        )
    if (
        list(group_cols) != vm.get("view_group")
        or list(sum_cols) != vm.get("view_sums")
        or list(min_cols) != (vm.get("view_mins") or [])
        or list(max_cols) != (vm.get("view_maxs") or [])
        or list(sumsq_cols) != (vm.get("view_sumsqs") or [])
    ):
        raise ValueError(
            f"aggregate view {dst_path}: maintained columns are "
            f"group={vm.get('view_group')} sums={vm.get('view_sums')} "
            f"mins={vm.get('view_mins') or []} "
            f"maxs={vm.get('view_maxs') or []} "
            f"sumsqs={vm.get('view_sumsqs') or []} "
            "— a different aggregate needs its own view"
        )
    cursor = int(vm["view_cursor"])
    if cursor >= src_v:
        return vm["version"]  # replayed / already-ahead tick: no-op
    feed = table_changes(
        spark, src_path, cursor, src_v, key=key or vm.get("view_key")
    )
    sign = F.when(
        F.col("_change_type").isin("insert", "update_postimage"),
        F.lit(1).cast("long"),
    ).otherwise(F.lit(-1).cast("long"))
    delta = _agg(feed, sign=sign)
    mv = read_version(spark, dst_path)
    cond = _reduce(
        _and, [mv[g].eqNullSafe(delta[g]) for g in group_cols]
    )
    added = {
        s: F.try_add(
            F.coalesce(mv[s], F.lit(0)), F.coalesce(delta[s], F.lit(0))
        )
        for s in sums + sumsqs
    }
    merged = mv.join(delta, cond, "full_outer").select(
        *[
            F.coalesce(mv[g], delta[g]).alias(g)
            for g in group_cols
        ],
        (
            F.coalesce(mv["n_rows"], F.lit(0))
            + F.coalesce(delta["n_rows"], F.lit(0))
        ).alias("n_rows"),
        *[e.alias(s) for s, e in added.items()],
        _reduce(
            _or,
            [e.isNull() for e in added.values()],
            F.coalesce(delta["__overflow"], F.lit(False)),
        ).alias("__overflow"),
        *([mv[x].alias(f"__old_{x}") for x in mins + maxs] if mm else []),
    )
    if mm:
        merged = _view_minmax_merge(
            spark, merged, feed, src_path, src_v,
            group_cols, min_cols, max_cols,
        )
    return _commit(
        merged, "view_advance", cursor, vm.get("view_src", src_path),
        key or vm.get("view_key"),
    )


def read_view_asof(
    spark: SparkSession, view_path: str, src_version: int
) -> DataFrame:
    """Read an aggregate view AS OF a SOURCE version: the view's own
    versions each record the source cursor they materialize
    (``view_cursor``), so "the aggregate when the source was at v"
    resolves to the newest view tick whose cursor is <= ``src_version``
    — time travel indexed by the SOURCE's history instead of the
    view's. Exact when a tick landed on ``src_version``; otherwise
    the newest not-after state (ticks are checkpoints, not a
    continuous log), with the resolved cursor raised loudly when NO
    tick is old enough (the view was seeded later than the asked-for
    source version)."""
    versions = list_versions(view_path)
    if not versions or "view_cursor" not in versions[-1]:
        raise ValueError(
            f"versioned table {view_path}: not an aggregate view "
            "(no view_cursor on its manifest)"
        )
    eligible = [
        m for m in versions
        if "view_cursor" in m and int(m["view_cursor"]) <= src_version
    ]
    if not eligible:
        have = [int(m["view_cursor"]) for m in versions if "view_cursor" in m]
        raise ValueError(
            f"aggregate view {view_path}: no tick at or before source "
            f"version {src_version} (earliest maintained cursor: "
            f"{min(have)})"
        )
    best = max(eligible, key=lambda m: int(m["view_cursor"]))
    return read_version(spark, view_path, best["version"])


def advance_view(spark: SparkSession, view_path: str) -> int:
    """Advance an aggregate view entirely from ITS OWN manifest
    config (source path, group/sum columns, key) — the verb the
    catalog janitor calls: registered views refresh on the
    maintenance tick with no per-view configuration anywhere but the
    view itself."""
    versions = list_versions(view_path)
    if not versions or "view_cursor" not in versions[-1]:
        raise ValueError(
            f"versioned table {view_path}: not an aggregate view "
            "(no view_cursor on its manifest)"
        )
    vm = versions[-1]
    if "view_src" not in vm:
        raise ValueError(
            f"aggregate view {view_path}: manifest records no "
            "view_src — reseed with maintain_agg_view to adopt it"
        )
    return maintain_agg_view(
        spark, vm["view_src"], view_path,
        tuple(vm["view_group"]), tuple(vm["view_sums"]),
        key=vm.get("view_key"),
        min_cols=tuple(vm.get("view_mins") or ()),
        max_cols=tuple(vm.get("view_maxs") or ()),
        sumsq_cols=tuple(vm.get("view_sumsqs") or ()),
    )


def replicate(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    key: str | None = None,
    up_to: int | None = None,
) -> int:
    """INCREMENTAL REPLICATION src -> dst through the change feed (the
    DR / cross-region verb): advance the replica to src's ``up_to``
    (default: src current) paying CHANGE-sized cost, with the
    replication cursor committed ON the replica's manifest so the verb
    is idempotent and restart-safe — exactly the streaming CDC
    consumer's contract, packaged as a table-to-table primitive.

    Three strategies, picked per tick:

    - **seed** (empty dst): one full copy of ``src@up_to``, carrying
      the source's stats/bloom opt-ins so the replica prunes erasure
      the same way the primary does;
    - **append fast path** (cursor..up_to is append-only on src, read
      off the MANIFESTS): the feed is a plain scan of src's added dirs
      and the replica advances via :func:`append_snapshot` — delta
      write + manifest commit, the table never rewrites. No ``key``
      needed;
    - **key-diff apply** (rewrites in the range): one feed
      (:func:`table_changes`) + one left-anti join on ``key`` — dst
      minus (deleted + update-preimage keys) union (inserts +
      update-postimages). ``key`` required, as in the feed itself;
    - **cursor skip** (round 11): a range that is entirely
      optimize / materialize_dv commits upstream changed physics,
      never content — the replica advances its cursor in ONE metadata
      commit, no key, no read, no rewrite. A mixed range diffs
      against the newest content-changing version and records the
      original cursor (content identity covers the preserving tail).

    Safety rails: a dst whose current manifest carries no cursor (a
    table that was never seeded by replicate, or a replica someone
    wrote into directly) is REFUSED — silently merging onto diverged
    state is how replicas rot; re-seed deliberately instead. A cursor
    from a different ``src_path`` refuses too. ``cursor >= up_to``
    returns the current dst version untouched (replay no-op).

    Scale: seed is one table copy; every later tick costs the feed
    (append ranges: added-dirs scan; rewrite ranges: two-version key
    join) plus, on the apply path, one dst rewrite — never src-chain-
    length, never a full diff of histories. Schema evolution rides the
    feed (NULL back-fill under the widened schema)."""
    src_versions = {m["version"]: m for m in list_versions(src_path)}
    if not src_versions:
        raise ValueError(f"versioned table {src_path}: nothing to replicate")
    if up_to is None:
        up_to = max(src_versions)
    elif up_to not in src_versions:
        raise ValueError(
            f"versioned table {src_path}: version {up_to} not found "
            f"(have {sorted(src_versions)})"
        )
    sm = src_versions[up_to]
    dst_ms = list_versions(dst_path)
    meta = {"repl_cursor": up_to, "repl_src": src_path}
    if not dst_ms:
        df = read_version(spark, src_path, up_to)
        return write_snapshot(
            df, dst_path, operation="replicate-seed", meta=meta,
            stats_col=sm.get("stats_col"), bloom_col=sm.get("bloom_col"),
        )
    dm = dst_ms[-1]
    cursor = dm.get("repl_cursor")
    if cursor is None:
        raise ValueError(
            f"versioned table {dst_path}: current manifest carries no "
            "replication cursor — not a replica (or written into "
            "directly since); refuse rather than merge onto diverged "
            "state. Re-seed into a fresh path deliberately."
        )
    if dm.get("repl_src") != src_path:
        raise ValueError(
            f"versioned table {dst_path}: replica of "
            f"{dm.get('repl_src')!r}, not {src_path!r}"
        )
    if cursor >= up_to:
        return dm["version"]  # replay / already ahead: no-op
    # content-preserving upstream tail (round 11 — the table_changes
    # rewind applied to replication): an upstream range that is
    # entirely optimize/materialize_dv commits changed physics, not
    # content — the replica advances its CURSOR in one metadata
    # commit instead of demanding key= and rewriting itself
    eff = up_to
    while eff != cursor and src_versions[eff].get("operation") in (
        "optimize", "materialize_dv",
    ):
        parent = src_versions[eff].get("parent")
        if parent is None or parent not in src_versions or parent < cursor:
            break
        eff = parent
    if eff == cursor:
        return commit_version(
            dst_path,
            _manifest_dirs(dm),
            "replicate-skip",
            dm["version"],
            dm["n_rows"],
            {**_carry_table_meta(dm), **meta},
        )
    # mixed range: diff against the newest content-changing version;
    # the committed cursor (meta, built above) still records the
    # ORIGINAL up_to — the replica is current through the preserving
    # tail by content identity
    up_to = eff
    from_dirs = set(_manifest_dirs(src_versions[cursor]))
    to_dirs = _manifest_dirs(src_versions[up_to])
    # pure append = dirs only grew AND the deletion-vector history is
    # unchanged; a merge-on-read delete in the range has the same dir
    # list but a real delete feed, so it must take the apply path
    pure_append = (
        from_dirs <= set(to_dirs)
        and src_versions[cursor].get("dv", [])
        == src_versions[up_to].get("dv", [])
        # positional deletes are keyless at the SOURCE (positions name
        # rows directly) but the replica's files have different
        # positions — applying the feed still needs row identity
        and src_versions[cursor].get("pdv", [])
        == src_versions[up_to].get("pdv", [])
    )
    if not pure_append and key is None:
        raise ValueError(
            f"versioned table {src_path}: range {cursor}->{up_to} includes "
            "a rewrite or merge-on-read delete — pass key= so the replica "
            "can apply deletes by row identity"
        )
    feed = table_changes(
        spark, src_path, cursor, up_to, key=None if pure_append else key,
    )
    if pure_append:
        delta = feed.drop("_change_type")
        return append_snapshot(
            delta, dst_path, operation="replicate-append", meta=meta,
        )
    from pyspark.sql import functions as F

    cur = read_version(spark, dst_path)
    keys = [key] if isinstance(key, str) else list(key)
    gone = feed.filter(
        F.col("_change_type").isin("delete", "update_preimage")
    ).select(*keys)
    added = feed.filter(
        F.col("_change_type").isin("insert", "update_postimage")
    ).drop("_change_type")
    out = cur.join(gone, keys, "left_anti").unionByName(
        added, allowMissingColumns=True
    )
    return write_snapshot(
        out, dst_path, operation="replicate-apply", meta=meta,
        stats_col=dm.get("stats_col"), bloom_col=dm.get("bloom_col"),
    )
