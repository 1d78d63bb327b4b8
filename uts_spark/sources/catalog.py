"""A minimal CATALOG: name -> path resolution for versioned tables and
snapshot indexes — the one Iceberg/Delta ergonomic the versioned layer
deliberately left out until round 10 (VERDICT r9 missing #4): every
query addressed tables by filesystem path, which works for the writer
who created them and nobody else. A second consumer wants
``read_table(spark, cat, "docs_clean")``, not a path convention.

Design: ONE FILE PER ENTRY (``<catalog>/entries/<name>.json``),
committed with the same hard-link PUT-if-absent CAS the versioned
table's manifests use — so registration is atomic per name, a
collision is a loud error (never a silent overwrite), and the whole
catalog is object-storage-shaped: no read-modify-write of a central
file, no lock. ``alter`` moves a name by committing a bumped
generation file beside it (``<name>.g{N}.json``; highest generation
wins), preserving the no-overwrite property for plain ``register``.

Deliberately NOT here: schemas (the table's own manifest records its
schema — duplicating it in the catalog is how the two drift), stats,
and permissions. The catalog maps names to paths; everything else
lives with the data.

Reference parity note: the reference engine has no persistence or
naming layer at all (uts.ts:243 — an in-memory array keyed by a JS
object reference); this is north-star surface.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

_KINDS = ("table", "index", "view")  # view = an aggregate view
# (versioned.maintain_agg_view output) — a versioned table whose
# manifest carries its own maintenance config; the janitor advances it


def _entries_dir(catalog: str) -> str:
    return os.path.join(catalog, "entries")


def _gen_of(fn: str) -> tuple[str, int]:
    """entry filename -> (name, generation). ``<name>.json`` is
    generation 0; ``<name>.g{N}.json`` is generation N."""
    stem = fn[: -len(".json")]
    if ".g" in stem:
        name, g = stem.rsplit(".g", 1)
        if g.isdigit():
            return name, int(g)
    return stem, 0


def _cas_write(final: str, rec: dict) -> None:
    tmp = final + f".tmp-{os.getpid()}-{id(rec)}"
    with open(tmp, "w") as f:
        json.dump(rec, f, sort_keys=True)
    try:
        os.link(tmp, final)  # PUT-if-absent: the atomic commit point
    except FileExistsError:
        raise ValueError(
            f"catalog entry {os.path.basename(final)!r} already exists "
            "(concurrent or duplicate registration?) — use alter_entry "
            "to move a name"
        ) from None
    finally:
        os.remove(tmp)


def _current(catalog: str, name: str) -> dict | None:
    ed = _entries_dir(catalog)
    if not os.path.isdir(ed):
        return None
    best: tuple[int, str] | None = None
    for fn in os.listdir(ed):
        if not fn.endswith(".json"):
            continue
        n, g = _gen_of(fn)
        if n == name and (best is None or g > best[0]):
            best = (g, fn)
    if best is None:
        return None
    with open(os.path.join(ed, best[1])) as f:
        rec = json.load(f)
    rec["generation"] = best[0]
    return rec


def register_entry(
    catalog: str, name: str, path: str, kind: str = "table"
) -> None:
    """Bind ``name`` -> ``path``. Refuses an existing name loudly —
    re-pointing a name other readers resolve is :func:`alter_entry`'s
    job, never an accident."""
    if kind not in _KINDS:
        raise ValueError(f"unknown catalog kind {kind!r} (expected {_KINDS})")
    if not name or "/" in name or name.startswith("."):
        raise ValueError(f"invalid catalog name {name!r}")
    if _current(catalog, name) is not None:
        raise ValueError(
            f"catalog name {name!r} is already registered — use "
            "alter_entry to move it"
        )
    os.makedirs(_entries_dir(catalog), exist_ok=True)
    _cas_write(
        os.path.join(_entries_dir(catalog), f"{name}.json"),
        {"name": name, "path": path, "kind": kind},
    )


def alter_entry(catalog: str, name: str, path: str) -> int:
    """Move an EXISTING name to a new path by committing the next
    generation file (CAS — two racing alters: one wins, one gets the
    collision error and re-reads). Returns the new generation."""
    cur = _current(catalog, name)
    if cur is None:
        raise ValueError(f"catalog has no entry named {name!r}")
    g = cur["generation"] + 1
    _cas_write(
        os.path.join(_entries_dir(catalog), f"{name}.g{g}.json"),
        {
            "name": name, "path": path, "kind": cur["kind"],
            # a path move never silently drops the retention policy
            **(
                {"retention": cur["retention"]}
                if "retention" in cur else {}
            ),
        },
    )
    return g


def set_retention(
    catalog: str,
    name: str,
    keep_last: int | None,
    max_age_secs: float | None = None,
) -> int:
    """Attach (or clear, with both ``None``) a RETENTION POLICY to a
    catalog entry: the janitor (:func:`catalog_maintenance_tick`)
    vacuums this entry to its own policy on every tick —
    per-table retention as catalog metadata instead of a fleet-wide
    knob (refreshed r11 #6: vacuum was a manual, uniform decision;
    real tables have different compliance windows). The policy rides
    the entry's CAS generation chain like a path move, so two racing
    writers resolve the usual way, and vacuum's OWN protections
    (named refs, live branches, the current version) still override —
    a policy cannot expire a tagged snapshot. Returns the new
    generation.

    ``max_age_secs`` (ROADMAP r11 #1) adds the AGE window: versions
    older than the window expire down to the ``keep_last`` floor
    (``keep_last=None`` with an age window applies floor 1 — current
    version only is guaranteed). The two compose exactly as
    :func:`versioned.vacuum` documents: floor AND window."""
    if keep_last is not None and keep_last < 1:
        raise ValueError(
            f"set_retention: keep_last must be >= 1 (got {keep_last}) — "
            "the current version is never expirable"
        )
    if max_age_secs is not None and max_age_secs < 0:
        raise ValueError(
            f"set_retention: max_age_secs must be >= 0 (got {max_age_secs})"
        )
    cur = _current(catalog, name)
    if cur is None:
        raise ValueError(f"catalog has no entry named {name!r}")
    g = cur["generation"] + 1
    rec = {"name": name, "path": cur["path"], "kind": cur["kind"]}
    policy: dict = {}
    if keep_last is not None:
        policy["keep_last"] = keep_last
    if max_age_secs is not None:
        policy["max_age_secs"] = max_age_secs
    if policy:
        rec["retention"] = policy
    _cas_write(
        os.path.join(_entries_dir(catalog), f"{name}.g{g}.json"), rec
    )
    return g


def unregister_entry(catalog: str, name: str) -> None:
    cur = _current(catalog, name)
    if cur is None:
        raise ValueError(f"catalog has no entry named {name!r}")
    ed = _entries_dir(catalog)
    for fn in sorted(os.listdir(ed)):
        if fn.endswith(".json") and _gen_of(fn)[0] == name:
            os.remove(os.path.join(ed, fn))


def list_entries(catalog: str) -> list[dict]:
    ed = _entries_dir(catalog)
    if not os.path.isdir(ed):
        return []
    names = {_gen_of(fn)[0] for fn in os.listdir(ed) if fn.endswith(".json")}
    return sorted(
        (_current(catalog, n) for n in sorted(names)),
        key=lambda r: r["name"],
    )


def resolve(catalog: str, name: str) -> dict:
    cur = _current(catalog, name)
    if cur is None:
        have = [r["name"] for r in list_entries(catalog)]
        raise ValueError(
            f"catalog has no entry named {name!r} (have {have})"
        )
    return cur


def read_table(
    spark: SparkSession,
    catalog: str,
    name: str,
    version: int | None = None,
    ref: str | None = None,
    branch: str | None = None,
    snapshot: str | None = None,
) -> DataFrame:
    """``spark.table()``-style read through the catalog: resolve the
    name, then time-travel / ref / branch / catalog-snapshot semantics
    exactly as the path-addressed readers define them. At most one of
    ``version`` / ``ref`` / ``branch`` / ``snapshot`` (the last pins
    the MULTI-TABLE cut — equivalent to read_snapshot_table)."""
    pins = [p for p in (version, ref, branch, snapshot) if p is not None]
    if len(pins) > 1:
        raise ValueError(
            "pass at most one of version=, ref=, branch=, snapshot="
        )
    if snapshot is not None:
        return read_snapshot_table(spark, catalog, snapshot, name)
    rec = resolve(catalog, name)
    if rec["kind"] not in ("table", "view"):
        raise ValueError(
            f"catalog entry {name!r} is a {rec['kind']}, not a table — "
            "probe indexes through index_probe_by_name"
        )
    from uts_spark.sources.versioned import (
        read_branch,
        read_ref,
        read_version,
    )

    if ref is not None:
        return read_ref(spark, rec["path"], ref)
    if branch is not None:
        return read_branch(spark, rec["path"], branch)
    return read_version(spark, rec["path"], version)


def join_by_name(
    spark,
    catalog: str,
    name_a: str,
    name_b: str,
    key_a: str,
    key_b: str | None = None,
    **kwargs,
) -> DataFrame:
    """Manifest-planned join THROUGH THE CATALOG (VERDICT r10 #4 /
    ROADMAP r11 #3): resolve both names, then
    :func:`versioned.join_versioned` — the physical strategy
    (broadcast side, explosive refusal) comes from the tables'
    committed manifest statistics, so a consumer who only knows the
    NAMES still gets the CBO-grade plan. All join_versioned kwargs
    pass through (how=, version pins, broadcast_rows=,
    refuse_explosive=)."""
    from uts_spark.sources.versioned import join_versioned

    recs = {}
    for n in (name_a, name_b):
        r = resolve(catalog, n)
        if r["kind"] != "table":
            raise ValueError(
                f"catalog entry {n!r} is a {r['kind']}, not a table"
            )
        recs[n] = r
    return join_versioned(
        spark, recs[name_a]["path"], recs[name_b]["path"],
        key_a, key_b, **kwargs,
    )


def register_sql_views(
    spark,
    catalog: str,
    names: list[str] | None = None,
    broadcast_rows: int = 500_000,
) -> dict:
    """MANIFEST STATISTICS → THE SQL SURFACE (VERDICT r10 #4, the CBO
    integration for path tables): register every catalog table (or
    the given ``names``) as a temp view named after its entry, and
    attach a BROADCAST hint to views whose manifest ``n_rows`` is
    within ``broadcast_rows``. Hints survive into ``spark.sql``
    references of the view (the hint node lives in the view's plan),
    so SQL-surface joins get the manifest-informed build side even
    where Spark's own size threshold has to infer from file bytes —
    and mis-sizes filtered, wide, or masked tables. Path tables have
    no TBLPROPERTIES to carry ``spark.sql.statistics.numRows``; the
    hint-through-view is the injection point that exists for a
    DataFrame-defined relation, and the manifest row count is exact
    (a committed fact, not an estimate). Returns
    ``{name: {rows, hinted}}`` so the caller can log the decision;
    plan shape pinned in tests/test_sinks.py.

    Staleness contract: a view snapshots the CURRENT version at
    registration (the parquet file listing is resolved into the
    view's plan) — commits after registration are not visible through
    it. :func:`refresh_sql_views` is the cheap movers-only refresh
    (re-registers only names whose table advanced); re-calling this
    function refreshes everything unconditionally (idempotent
    createOrReplaceTempView)."""
    from uts_spark.sources.versioned import list_versions

    out = {}
    state = _sql_view_state(spark)
    for rec in list_entries(catalog):
        if rec["kind"] not in ("table", "view"):
            continue
        if names is not None and rec["name"] not in names:
            continue
        df = read_table(spark, catalog, rec["name"])
        versions = list_versions(rec["path"])
        n = int(versions[-1]["n_rows"])
        hinted = n <= broadcast_rows
        if hinted:
            df = df.hint("broadcast")
        df.createOrReplaceTempView(rec["name"])
        out[rec["name"]] = {"rows": n, "hinted": hinted}
        state[rec["name"]] = {
            "catalog": catalog,
            "path": rec["path"],
            "version": int(versions[-1]["version"]),
            "broadcast_rows": broadcast_rows,
        }
    return out


def _sql_view_state(spark) -> dict:
    """Session-scoped registry of what :func:`register_sql_views`
    registered (name -> {catalog, path, version, broadcast_rows}).
    Temp views live on the session, so their bookkeeping does too —
    a second session starts clean, exactly like its temp views."""
    st = getattr(spark, "_uts_sql_view_state", None)
    if st is None:
        st = {}
        spark._uts_sql_view_state = st
    return st


def refresh_sql_views(
    spark,
    catalog: str | None = None,
    names: list[str] | None = None,
) -> dict:
    """MOVERS-ONLY refresh of the session's registered SQL views
    (ROADMAP r12 #2 — the staleness contract's maintenance verb):
    for every view this session registered via
    :func:`register_sql_views` (optionally narrowed to one
    ``catalog`` and/or ``names``), re-resolve the entry through the
    catalog and re-register ONLY when something moved — the table
    committed a new version, or ``alter_entry`` re-pointed the name.
    Unmoved names cost one manifest listing (no plan rebuild, no
    re-registration); moved names are re-registered with the SAME
    ``broadcast_rows`` budget they were registered with, so the hint
    decision stays consistent and re-evaluates against the new row
    count. Returns ``{name: {"refreshed", "from", "to", "hinted"}}``
    (``hinted`` only on refreshed names). A name whose catalog entry
    was unregistered since registration is reported
    ``{"refreshed": False, "gone": True}`` — the temp view keeps
    serving its last registered snapshot (dropping a user's view is
    the user's call, not a refresh side effect)."""
    from uts_spark.sources.versioned import current_version

    state = _sql_view_state(spark)
    out = {}
    for name, st in sorted(state.items()):
        if catalog is not None and st["catalog"] != catalog:
            continue
        if names is not None and name not in names:
            continue
        rec = _current(st["catalog"], name)
        if rec is None or rec["kind"] not in ("table", "view"):
            out[name] = {"refreshed": False, "gone": True}
            continue
        v = current_version(rec["path"])
        if v is None:
            # re-pointed to a not-yet-seeded path: keep serving the
            # last registered snapshot, report instead of crashing
            # the janitor tick mid-loop
            out[name] = {"refreshed": False, "empty_history": True}
            continue
        if rec["path"] == st["path"] and v == st["version"]:
            out[name] = {"refreshed": False, "from": v, "to": v}
            continue
        rep = register_sql_views(
            spark, st["catalog"], names=[name],
            broadcast_rows=st["broadcast_rows"],
        )
        out[name] = {
            "refreshed": True,
            "from": st["version"],
            "to": state[name]["version"],
            "hinted": rep[name]["hinted"],
        }
    return out


def index_probe_by_name(
    spark,
    catalog: str,
    name: str,
    probe_input,
    version: int | None = None,
    **kwargs,
) -> DataFrame:
    """Probe a registered index by name through the index facade
    (family and config resolve from the index's own manifest)."""
    rec = resolve(catalog, name)
    if rec["kind"] != "index":
        raise ValueError(
            f"catalog entry {name!r} is a {rec['kind']}, not an index"
        )
    from uts_spark.functions.index_protocol import index_probe

    return index_probe(
        spark, rec["path"], probe_input, version=version, **kwargs
    )


# --- CONSISTENT MULTI-TABLE SNAPSHOTS (round 10 cont.) ----------------------
#
# A single versioned table gives snapshot isolation for free; a
# PIPELINE reads several. "Join orders@current with customers@current"
# is only meaningful if the two currents belong to the same instant —
# otherwise a writer landing between the two resolutions hands the
# reader a customer table from after the order table's cut (the classic
# cross-table torn read). A catalog snapshot is the multi-table commit
# the formats answer this with (Iceberg: catalog-level transactions):
# one named, immutable {table -> version} cut.
#
# Consistency WITHOUT a lock: optimistic double-read — capture every
# member's current version, re-read, accept only if nothing moved
# (retry otherwise). Object-storage-shaped like everything else here.
# Durability: the snapshot file is CAS-committed FIRST (claims the
# name atomically), then each member is TAGGED at its pinned version
# (`snap-<name>`) so vacuum's existing named-ref retention promise
# protects the cut; any tag failure rolls the snapshot back loudly.


def _snapshots_dir(catalog: str) -> str:
    return os.path.join(catalog, "snapshots")


def create_snapshot(
    catalog: str,
    snap: str,
    names: list[str] | None = None,
    max_retries: int = 5,
) -> dict:
    """Capture a CONSISTENT cross-table cut of the named tables
    (default: every ``kind="table"`` entry) as an immutable catalog
    snapshot. Returns the snapshot record
    ``{"name", "pins": {table_name: {"path", "version"}}}``.

    The cut is consistent in the optimistic sense: versions are read
    twice and accepted only when no member advanced in between —
    concurrent writers cost a retry, never a torn cut. Pinned
    versions are retention-protected by a ``snap-<snap>`` ref on each
    member (vacuum keeps ref'd versions), released by
    :func:`drop_snapshot`. The snapshot records member PATHS as of
    capture time: a later alter_entry re-pointing a name never
    changes what an existing snapshot means."""
    from uts_spark.sources.versioned import (
        current_version,
        drop_tag,
        tag_version,
    )

    if not snap or "/" in snap or snap.startswith("."):
        raise ValueError(f"invalid snapshot name {snap!r}")
    entries = [r for r in list_entries(catalog) if r["kind"] == "table"]
    if names is not None:
        have = {r["name"] for r in entries}
        missing = [n for n in names if n not in have]
        if missing:
            raise ValueError(
                f"catalog has no table entries named {missing} "
                f"(have {sorted(have)})"
            )
        entries = [r for r in entries if r["name"] in names]
    if not entries:
        raise ValueError("catalog snapshot over zero tables")

    def capture() -> dict:
        pins = {}
        for r in entries:
            v = current_version(r["path"])
            if v is None:
                raise ValueError(
                    f"catalog table {r['name']!r} has no committed "
                    "versions — nothing to pin"
                )
            pins[r["name"]] = {"path": r["path"], "version": v}
        return pins

    pins = capture()
    for _ in range(max_retries):
        again = capture()
        if again == pins:
            break
        pins = again
    else:
        raise ValueError(
            f"catalog snapshot {snap!r}: tables kept advancing across "
            f"{max_retries} capture attempts — quiesce writers or retry"
        )
    rec = {"name": snap, "pins": pins}
    os.makedirs(_snapshots_dir(catalog), exist_ok=True)
    final = os.path.join(_snapshots_dir(catalog), f"{snap}.json")
    try:
        _cas_write(final, rec)  # claims the snapshot name atomically
    except ValueError:
        raise ValueError(
            f"catalog snapshot {snap!r} already exists"
        ) from None
    tagged: list[str] = []
    try:
        for n, p in sorted(pins.items()):
            tag_version(p["path"], f"snap-{snap}", p["version"])
            tagged.append(n)
    except Exception:
        # roll back: a half-tagged snapshot must not survive
        for n in tagged:
            try:
                drop_tag(pins[n]["path"], f"snap-{snap}")
            except ValueError:
                pass
        os.remove(final)
        raise
    return rec


def list_snapshots(catalog: str) -> list[dict]:
    sd = _snapshots_dir(catalog)
    if not os.path.isdir(sd):
        return []
    names = {_gen_of(fn)[0] for fn in os.listdir(sd) if fn.endswith(".json")}
    return [resolve_snapshot(catalog, n) for n in sorted(names)]


def _snapshot_current(catalog: str, snap: str) -> tuple[dict, int] | None:
    """(record, generation) of a snapshot's highest generation file —
    same layout as catalog entries (``<snap>.json`` = g0,
    ``<snap>.g{N}.json``), so refresh replaces atomically by
    committing the NEXT generation instead of mutating a file."""
    sd = _snapshots_dir(catalog)
    if not os.path.isdir(sd):
        return None
    best = None
    for fn in os.listdir(sd):
        if not fn.endswith(".json"):
            continue
        name, g = _gen_of(fn)
        if name == snap and (best is None or g > best[1]):
            best = (fn, g)
    if best is None:
        return None
    with open(os.path.join(sd, best[0])) as f:
        return json.load(f), best[1]


def resolve_snapshot(catalog: str, snap: str) -> dict:
    cur = _snapshot_current(catalog, snap)
    if cur is None:
        have = sorted(
            {
                _gen_of(fn)[0]
                for fn in (
                    os.listdir(_snapshots_dir(catalog))
                    if os.path.isdir(_snapshots_dir(catalog))
                    else []
                )
                if fn.endswith(".json")
            }
        )
        raise ValueError(
            f"catalog has no snapshot named {snap!r} (have {have})"
        )
    return cur[0]


def refresh_snapshot(
    catalog: str, snap: str, max_retries: int = 5
) -> dict:
    """ADVANCE a named cut to the members' current versions in one
    atomic step: re-capture (same optimistic double-read as
    :func:`create_snapshot`, same member NAMES re-resolved through the
    catalog — an alter_entry since the last cut moves the member with
    it), CAS-commit the next GENERATION file (readers always see the
    old cut or the new one, never a gap or a torn mix), then move each
    member's retention tag to its new pin. Two racing refreshes: one
    wins the generation CAS, the other gets the collision and
    re-reads. A crash after the commit but before the tag moves
    over-retains (old pins stay tagged until the next refresh/drop) —
    never under-retains."""
    from uts_spark.sources.versioned import current_version, tag_version

    cur = _snapshot_current(catalog, snap)
    if cur is None:
        raise ValueError(f"catalog has no snapshot named {snap!r}")
    old, gen = cur
    names = sorted(old["pins"])

    def capture() -> dict:
        pins = {}
        for n in names:
            rec = resolve(catalog, n)
            v = current_version(rec["path"])
            if v is None:
                raise ValueError(
                    f"catalog table {n!r} has no committed versions"
                )
            pins[n] = {"path": rec["path"], "version": v}
        return pins

    pins = capture()
    for _ in range(max_retries):
        again = capture()
        if again == pins:
            break
        pins = again
    else:
        raise ValueError(
            f"catalog snapshot {snap!r}: tables kept advancing across "
            f"{max_retries} capture attempts — quiesce writers or retry"
        )
    rec = {"name": snap, "pins": pins}
    _cas_write(
        os.path.join(_snapshots_dir(catalog), f"{snap}.g{gen + 1}.json"),
        rec,
    )
    for n, p in sorted(pins.items()):
        tag_version(p["path"], f"snap-{snap}", p["version"])
    return rec


def publish_branches(
    spark,
    catalog: str,
    snap: str,
    stages: dict[str, str],
    drop: bool = True,
) -> dict:
    """MULTI-TABLE WAP (round 10): publish several tables' staged
    branches as ONE consumer-visible step. ``stages`` maps catalog
    table names to the branch staged on each. The verb:

    1. PREFLIGHTS every branch (exists, has staged commits, its main
       hasn't rewritten since the fork / fast-forward holds) — read
       only, so a doomed publish refuses BEFORE any table moves;
    2. merges each branch onto its main (per-table CAS commits);
    3. advances the named snapshot ``snap`` to the post-publish
       versions in one generation commit (created if absent).

    Atomicity contract, stated honestly: the per-table merges are
    INDIVIDUALLY atomic but sequential — a consumer reading main
    paths directly can observe table A published before table B. The
    all-or-nothing surface is the SNAPSHOT: consumers that read
    through ``read_snapshot_table(catalog, snap, ...)`` see every
    staged output appear together (the cut advances only after all
    merges landed) or not at all (any refusal leaves the cut where it
    was). This is the catalog-pointer-commit shape Nessie/Iceberg
    catalog transactions use — the pointer flip is the transaction.
    A racing main writer can still force a mid-sequence refusal
    (tables already merged stay merged, individually consistent, and
    the cut does not advance); re-stage and re-publish.

    Returns {"published": {name: version}, "snapshot": record}."""
    from uts_spark.sources.versioned import (
        _branch_records,
        list_branches,
        list_versions,
        merge_branch,
    )

    if not stages:
        raise ValueError("publish_branches with zero staged tables")
    resolved = {}
    for n, bname in sorted(stages.items()):
        rec = resolve(catalog, n)
        if rec["kind"] != "table":
            raise ValueError(
                f"catalog entry {n!r} is a {rec['kind']}, not a table"
            )
        resolved[n] = (rec["path"], bname)
    pre_snap = _snapshot_current(catalog, snap)
    if pre_snap is not None:
        missing = [n for n in stages if n not in pre_snap[0]["pins"]]
        if missing:
            raise ValueError(
                f"catalog snapshot {snap!r} does not pin staged "
                f"table(s) {missing} — recreate the snapshot with the "
                "full member set before publishing through it"
            )
    # read-only preflight: refuse BEFORE any table moves
    for n, (path, bname) in sorted(resolved.items()):
        if bname not in list_branches(path):
            raise ValueError(
                f"catalog table {n!r}: no branch named {bname!r}"
            )
        recs = _branch_records(path, bname)
        head = recs[-1]
        if head["operation"] == "fork":
            raise ValueError(
                f"catalog table {n!r}: branch {bname!r} has no staged "
                "commits to publish"
            )
        staged_ops = {r["operation"] for r in recs[1:]}
        versions = {m["version"]: m for m in list_versions(path)}
        cur = max(versions)
        # same commute set as merge_branch: staged takedowns publish
        # like appends (their vectors fold merge-on-read)
        if staged_ops <= {"append", "delete_mor", "delete_positional"}:
            moved = [
                versions[v]["operation"]
                for v in sorted(versions)
                if v > head["base"]
            ]
            bad = [op for op in moved if op != "append"]
            if bad:
                raise ValueError(
                    f"catalog table {n!r}: main ran {bad} since the "
                    f"fork at v{head['base']} — re-stage branch "
                    f"{bname!r} before publishing"
                )
        elif cur != head["base"]:
            raise ValueError(
                f"catalog table {n!r}: branch {bname!r} staged a "
                f"rewrite at fork v{head['base']} but main is at "
                f"v{cur} — rewrites publish fast-forward-only"
            )
    published = {}
    for n, (path, bname) in sorted(resolved.items()):
        published[n] = merge_branch(spark, path, bname, drop=drop)
    if pre_snap is None:
        rec = create_snapshot(catalog, snap, sorted(stages))
    else:
        rec = refresh_snapshot(catalog, snap)
    return {"published": published, "snapshot": rec}


def drop_snapshot(catalog: str, snap: str) -> None:
    """Release the snapshot: drop each member's retention tag, then
    every generation file. Members whose tag or table is already gone
    are skipped (idempotent cleanup), the file removal is not."""
    from uts_spark.sources.versioned import drop_tag

    rec = resolve_snapshot(catalog, snap)
    for p in rec["pins"].values():
        try:
            drop_tag(p["path"], f"snap-{snap}")
        except ValueError:
            pass
    sd = _snapshots_dir(catalog)
    for fn in sorted(os.listdir(sd)):
        if fn.endswith(".json") and _gen_of(fn)[0] == snap:
            os.remove(os.path.join(sd, fn))


def read_snapshot_table(
    spark: SparkSession, catalog: str, snap: str, name: str
) -> DataFrame:
    """Read one member of a catalog snapshot — every member read of
    the same snapshot composes into a cross-table-consistent query
    (the join both tables agreed on)."""
    from uts_spark.sources.versioned import read_version

    rec = resolve_snapshot(catalog, snap)
    if name not in rec["pins"]:
        raise ValueError(
            f"catalog snapshot {snap!r} does not pin {name!r} "
            f"(pins {sorted(rec['pins'])})"
        )
    p = rec["pins"][name]
    return read_version(spark, p["path"], p["version"])


def erase_by_names(
    spark,
    deleted_ids,
    catalog: str,
    names: list[str] | None = None,
    fingerprint: str = "",
    table_keys: dict[str, str] | None = None,
    table_mode: str = "cow",
    index_mode: str = "cow",
) -> list[dict]:
    """CATALOG-WIDE GDPR: one call erases a takedown batch from every
    named target (default: the WHOLE catalog) — tables and indexes
    dispatch by their registered kind, indexes by their manifest's
    family, through :func:`index_protocol.erase_everywhere`
    (pruned deletes, pruned self-audit, leaked must be 0). A table's
    erase key resolves from its manifest's ``stats_col`` (falling
    back to ``bloom_col`` — either opt-in marks the column the table
    prunes erasure on, the natural erasure key); tables with neither
    need an explicit ``table_keys[name]``. Each returned
    accounting dict carries the catalog ``name`` beside the facade's
    fields. ``table_mode="mor"`` / ``index_mode="mor"`` route table /
    snapshot-index targets through merge-on-read deletion vectors
    (O(keys) takedown latency; audit = pruned masked re-read of the
    erased ids; rewrite deferred to the maintenance tick, which folds
    vectors). This is the compliance verb a real pipeline wants: the
    catalog knows every holder of the ids, so nothing is forgotten by
    omission."""
    from uts_spark.functions.index_protocol import erase_everywhere
    from uts_spark.sources.versioned import list_versions

    entries = list_entries(catalog)
    if names is not None:
        have = {r["name"] for r in entries}
        missing = [n for n in names if n not in have]
        if missing:
            raise ValueError(
                f"catalog has no entries named {missing} "
                f"(have {sorted(have)})"
            )
        entries = [r for r in entries if r["name"] in names]
    index_paths, table_specs, order = [], [], {}
    for rec in entries:
        if rec["kind"] == "index":
            index_paths.append(rec["path"])
        else:
            key = (table_keys or {}).get(rec["name"])
            if key is None:
                ms = list_versions(rec["path"])
                # stats_col first, then bloom_col (round 10): either
                # opt-in marks the table's natural erasure key, and
                # delete_rows prunes by whichever structures exist
                key = (
                    (ms[-1].get("stats_col") or ms[-1].get("bloom_col"))
                    if ms else None
                )
            if key is None:
                raise ValueError(
                    f"catalog table {rec['name']!r} has neither stats_col "
                    "nor bloom_col on its manifest — pass table_keys={'"
                    f"{rec['name']}': '<key_col>'}}"
                )
            table_specs.append((rec["path"], key))
        order[rec["path"]] = rec["name"]
    acct = erase_everywhere(
        spark, deleted_ids, index_paths, table_specs,
        fingerprint=fingerprint, table_mode=table_mode,
        index_mode=index_mode,
    )
    return [{**a, "name": order[a["target"]]} for a in acct]


def stage_erasure_by_names(
    spark,
    deleted_ids,
    catalog: str,
    branch: str,
    names: list[str] | None = None,
    table_keys: dict[str, str] | None = None,
) -> list[dict]:
    """CATALOG-WIDE **STAGED** GDPR (round 11 — the WAP sibling of
    :func:`erase_by_names`): stage the takedown batch as MERGE-ON-READ
    deletion vectors on ``branch`` of every named table — main serves
    untouched until the audit approves and
    ``publish_branches(catalog, snap, {name: branch, ...})`` flips
    the cut. Per table: the branch is forked if absent (outstanding
    main vectors fork WITH it), the erase key resolves exactly as
    erase_by_names does (``table_keys`` override, else the manifest's
    stats_col/bloom_col opt-in), and the single-column id frame is
    renamed to that key. The auditor reads ``read_branch`` (masked)
    and ``branch_changes`` (keyless delete images). Index entries are
    reported ``staged=False`` — indexes have no branch
    concept, so indexes erase AT PUBLISH time via erase_by_names
    (run it right after the flip; the report says so explicitly
    rather than letting a compliance operator believe an index was
    staged). Returns one dict per entry:
    ``{name, staged, branch_seq?, n_masked?, reason?}``."""
    from uts_spark.sources.versioned import (
        _branch_records,
        create_branch,
        delete_rows_mor_branch,
        list_branches,
        list_versions,
    )

    if len(deleted_ids.columns) != 1:
        raise ValueError(
            "stage_erasure_by_names: pass a single-column id frame "
            f"(got columns {deleted_ids.columns})"
        )
    entries = list_entries(catalog)
    if names is not None:
        have = {r["name"] for r in entries}
        missing = [n for n in names if n not in have]
        if missing:
            raise ValueError(
                f"catalog has no entries named {missing} "
                f"(have {sorted(have)})"
            )
        entries = [r for r in entries if r["name"] in names]
    out = []
    for rec in entries:
        if rec["kind"] != "table":
            out.append({
                "name": rec["name"], "staged": False,
                "reason": (
                    f"{rec['kind']} entries have no branches — erase "
                    "at publish time via erase_by_names"
                ),
            })
            continue
        key = (table_keys or {}).get(rec["name"])
        if key is None:
            ms = list_versions(rec["path"])
            key = (
                (ms[-1].get("stats_col") or ms[-1].get("bloom_col"))
                if ms else None
            )
        if key is None:
            raise ValueError(
                f"catalog table {rec['name']!r} has neither stats_col "
                "nor bloom_col on its manifest — pass table_keys={'"
                f"{rec['name']}': '<key_col>'}}"
            )
        if branch not in list_branches(rec["path"]):
            create_branch(rec["path"], branch)
        before_seq = _branch_records(rec["path"], branch)[-1]["seq"]
        seq = delete_rows_mor_branch(
            spark, rec["path"], branch,
            deleted_ids.toDF(key), key,
        )
        # accounting from the COMMITTED vector record, never from
        # two head reads a concurrent branch writer could straddle;
        # an unchanged seq means the replay/no-op path (all victims
        # already masked) and staged nothing new
        if seq == before_seq:
            n_masked = 0
        else:
            committed = {
                r["seq"]: r
                for r in _branch_records(rec["path"], branch)
            }[seq]
            n_masked = committed["dv"][-1]["n_masked"]
        out.append({
            "name": rec["name"], "staged": True,
            "branch_seq": seq, "n_masked": n_masked,
        })
    return out


def sweep_snapshot_tags(catalog: str) -> list[tuple[str, str]]:
    """Drop ORPHANED snapshot retention tags: a ``snap-<name>`` ref on
    a registered table that no live snapshot generation still pins —
    the debris alter_entry leaves when it moves a member between a
    cut and its refresh (refresh re-tags the new path; the old path's
    tag would otherwise hold its version forever). Returns the
    (path, tag) pairs dropped. Never touches tags of live snapshots
    and never touches non-``snap-`` refs — user tags are user
    retention promises."""
    from uts_spark.sources.versioned import _read_refs, drop_tag

    live: dict[str, set[str]] = {}
    for s in list_snapshots(catalog):
        for p in s["pins"].values():
            live.setdefault(p["path"], set()).add(f"snap-{s['name']}")
    dropped: list[tuple[str, str]] = []
    for rec in list_entries(catalog):
        if rec["kind"] != "table":
            continue
        path = rec["path"]
        for tag in sorted(_read_refs(path)):
            if tag.startswith("snap-") and tag not in live.get(path, set()):
                drop_tag(path, tag)
                dropped.append((path, tag))
    return dropped


def catalog_maintenance_tick(
    spark,
    catalog: str,
    max_dirs: int | None = None,
    vacuum_keep_last: int | None = None,
    orphan_grace_secs: float = 259_200,
    refresh_views: bool = False,
) -> list[dict]:
    """CATALOG-WIDE MAINTENANCE — the nightly janitor: one call walks
    every registered entry and applies the three background chores a
    lakehouse accumulates, each one already measured and bounded:

    1. **chain-length OPTIMIZE trigger** — tables through
       :func:`versioned.maybe_optimize` (default 16 dirs, the data
       table's measured knee), indexes through
       :func:`vindex.vindex_maybe_compact` (``max_dirs=None`` resolves
       the per-family measured default off the index's own manifest:
       ivf/ivfpq 16, lsh/minhash 64). A healthy chain is a no-op.
       Tables first fold outstanding DELETION VECTORS through
       :func:`versioned.maybe_materialize_dvs` (count/fraction knobs)
       — merge-on-read takedowns defer their rewrite to exactly this
       tick, so the janitor is where that debt is paid.
    2. **vacuum** — per-entry RETENTION POLICIES first
       (:func:`set_retention` — an entry's own ``keep_last`` wins),
       then the tick-wide OPT-IN ``vacuum_keep_last`` for entries
       without a policy (expiring versions is a retention decision,
       not a janitor default; tags and live branches stay protected
       by vacuum's own rules either way).
    3. **orphan cleanup** — :func:`versioned.remove_orphans` with the
       3-day grace window (losing CAS racers' debris), plus one
       catalog-wide :func:`sweep_snapshot_tags` pass (orphaned
       ``snap-`` retention tags on paths a snapshot no longer pins).
    4. (opt-in, ``refresh_views=True``) **SQL-view refresh** — after
       the chores, :func:`refresh_sql_views` re-registers this
       session's moved views, so a long-lived SQL session's names
       track commits — including versions this very tick produced
       (view advances, compactions).

    Returns one report dict per entry: ``{name, kind, compacted,
    vacuumed, orphans_removed}`` (``compacted`` = the new version id,
    or None when the chain was under its knee). Scale: the walk costs
    manifest listings for healthy entries; work is only ever the
    chores' own documented costs, and each chore is an independent
    CAS commit — a racing writer just retries per the usual rules."""
    from uts_spark.functions.vindex import vindex_maybe_compact
    from uts_spark.sources.versioned import (
        advance_view,
        list_versions,
        maybe_materialize_dvs,
        maybe_optimize,
        remove_orphans,
        vacuum,
    )

    entries = list_entries(catalog)
    views = [r for r in entries if r["kind"] == "view"]
    if len(views) > 1:
        # CHAINED views (round 11 — a view maintained over another
        # view): advance ancestors first, or a dependent stays one
        # tick behind its source forever. Depth = number of registered
        # view ancestors on the view_src chain, read off manifests.
        # Paths normalize before comparing (a view maintained with an
        # absolute src but registered relative — or vice versa — must
        # still order; ADVICE r10's path-equality lesson).
        def _np(p: str) -> str:
            return os.path.abspath(p.removeprefix("file:"))

        by_path = {_np(r["path"]): r["name"] for r in views}
        depth = {}
        for r in views:
            d, seen, p = 0, set(), r["path"]
            while True:
                vm = list_versions(p)
                src = vm[-1].get("view_src") if vm else None
                if src is None or _np(src) not in by_path or _np(
                    src
                ) in seen:
                    break
                seen.add(_np(src))
                d += 1
                p = src
            depth[r["name"]] = d
        entries = [r for r in entries if r["kind"] != "view"] + sorted(
            views, key=lambda r: (depth[r["name"]], r["name"])
        )
    report = []
    for rec in entries:
        r = {
            "name": rec["name"],
            "kind": rec["kind"],
            "compacted": None,
            "vacuumed": [],
            "orphans_removed": 0,
        }
        if rec["kind"] == "index":
            from uts_spark.functions.vindex import vindex_maybe_materialize

            r["dv_materialized"] = vindex_maybe_materialize(
                spark, rec["path"]
            )
            r["compacted"] = vindex_maybe_compact(
                spark, rec["path"], max_dirs=max_dirs
            )
        else:
            if rec["kind"] == "view":
                # aggregate views ADVANCE on the tick (round 11 —
                # materialized views refreshed by the janitor): the
                # view's own manifest carries source + config, so
                # registration is the only setup. A source that
                # hasn't moved is a version no-op (reported None).
                before = len(list_versions(rec["path"]))
                v = advance_view(spark, rec["path"])
                r["view_advanced"] = (
                    v if len(list_versions(rec["path"])) > before
                    else None
                )
            r["dv_materialized"] = maybe_materialize_dvs(spark, rec["path"])
            kw = {} if max_dirs is None else {"max_dirs": max_dirs}
            r["compacted"] = maybe_optimize(spark, rec["path"], **kw)
        # per-entry retention policy beats the tick-wide knob; the
        # tick-wide knob applies only to entries WITHOUT a policy
        policy = rec.get("retention") or {}
        if policy:
            r["vacuumed"] = vacuum(
                rec["path"],
                keep_last=policy.get("keep_last", 1),
                max_age_secs=policy.get("max_age_secs"),
            )
            r["retention"] = "policy"
        elif vacuum_keep_last is not None:
            r["vacuumed"] = vacuum(rec["path"], keep_last=vacuum_keep_last)
        r["orphans_removed"] = len(
            remove_orphans(rec["path"], older_than_secs=orphan_grace_secs)
        )
        report.append(r)
    swept = sweep_snapshot_tags(catalog)
    if swept:
        report.append({
            "name": None, "kind": "catalog",
            "snapshot_tags_swept": len(swept),
        })
    if refresh_views:
        # AFTER the chores, so a view the tick itself advanced (or a
        # table it compacted) lands in this session's SQL views in
        # the same tick — the read-through the staleness contract
        # points long sessions at (ROADMAP r12 #2)
        ref = refresh_sql_views(spark, catalog)
        moved = sorted(n for n, r in ref.items() if r.get("refreshed"))
        report.append({
            "name": None, "kind": "catalog",
            "sql_views_refreshed": moved,
            "sql_views_checked": len(ref),
        })
    return report


def replicate_by_name(
    spark,
    catalog: str,
    src_name: str,
    dst_name: str,
    dst_path: str | None = None,
    key: str | None = None,
    up_to: int | None = None,
) -> int:
    """Catalog-level DR: advance (or seed) the replica ``dst_name``
    from ``src_name`` via :func:`versioned.replicate`. First call must
    pass ``dst_path`` — the replica is registered atomically under
    ``dst_name`` right after its seed commit; later calls resolve both
    names and pay change-sized cost. The registration order (seed,
    then register) means a racing reader either misses the name (not
    yet a table) or sees a fully-seeded replica — never a torn one."""
    from uts_spark.sources.versioned import replicate

    src = resolve(catalog, src_name)
    if src["kind"] != "table":
        raise ValueError(
            f"catalog entry {src_name!r} is a {src['kind']}, not a table"
        )
    cur = _current(catalog, dst_name)
    if cur is None:
        if dst_path is None:
            raise ValueError(
                f"catalog has no entry named {dst_name!r} — pass "
                "dst_path= to seed a new replica"
            )
        v = replicate(spark, src["path"], dst_path, key=key, up_to=up_to)
        register_entry(catalog, dst_name, dst_path)
        return v
    if dst_path is not None and dst_path != cur["path"]:
        raise ValueError(
            f"catalog entry {dst_name!r} already points at "
            f"{cur['path']!r}; not re-seeding at {dst_path!r} — "
            "unregister or alter the name first"
        )
    return replicate(spark, src["path"], cur["path"], key=key, up_to=up_to)
