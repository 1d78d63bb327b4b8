"""Property-based fidelity: a pure-python MODEL of the reference's
verified semantics (SURVEY §2.3-§2.5 — filter, interval grouping,
aggregate quirks) fuzzed against the Spark engine on random small series.

The model is written from the survey's semantic spec (zero-default mean,
NaN-poisoned sum, zero-clamped max/min, insertion-order last/map,
right-inclusive now-anchored bins, fill initials, newest-first), not from
the reference source. Values are integer-valued doubles so sums are exact
regardless of accumulation order.
"""

import math

import pytest

hypothesis = pytest.importorskip("hypothesis")
from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

from uts_spark import TSDB  # noqa: E402
from uts_spark.plans.groupers import interval  # noqa: E402

NOW = 1000
COLS = ("c1", "c2")


# -- the model ---------------------------------------------------------------

def model_filter(points, where):
    def match(pt):
        for col, atoms in (where or {}).items():
            atoms = atoms if isinstance(atoms, list) else [atoms]
            for a in atoms:
                if col not in pt or pt[col] is None:
                    return False  # missing column never matches
                v, t = pt[col], a["than"]
                if a["is"] == ">" and not v > t:
                    return False
                if a["is"] == "<" and not v < t:
                    return False
                if a["is"] == "=" and not v == t:
                    return False
        return True

    return [p for p in points if match(p)]


def model_agg(kind, col, pts):
    has = [p[col] for p in pts if col in p and p[col] is not None]
    missing = len(has) < len(pts)
    if kind == "mean":
        return sum(has) / len(has) if has else 0.0
    if kind == "sum":
        return float("nan") if missing else float(sum(has)) if has else 0.0
    if kind == "max":
        return float("nan") if missing else max([0.0] + [float(v) for v in has])
    if kind == "min":
        return float("nan") if missing else min([0.0] + [float(v) for v in has])
    if kind == "count_all":
        return len(pts)
    if kind == "count":
        return len(has)
    if kind == "last":
        if not pts:
            return None
        p = pts[-1]
        return p.get(col)
    if kind == "map":
        return [p.get(col) for p in pts]
    raise AssertionError(kind)


def model_interval_query(points, where, w, fill, now):
    flt = [p for p in model_filter(points, where) if p["time"] <= now]
    lower = None
    for col, atoms in (where or {}).items():
        if col != "time":
            continue
        atoms = atoms if isinstance(atoms, list) else [atoms]
        for a in atoms:
            if a["is"] == ">":
                lower = a["than"]
                break
        break
    if lower is None:
        if not flt:
            return []  # engine's documented divergence from the TypeError
        lower = min(p["time"] for p in flt)  # oldest point anchors the spine
    n = (now - lower) // w + 1
    bins = {i: [] for i in range(n)}
    for p in sorted(flt, key=lambda p: p["ingest_id"]):
        i = (now - p["time"]) // w
        if i in bins:
            bins[i].append(p)
    out = []
    for i in range(n):
        pts = bins[i]
        if not fill and not pts:
            continue
        out.append(
            {
                "start": now - (i + 1) * w,
                "mean": model_agg("mean", "c1", pts),
                "summ": model_agg("sum", "c1", pts),
                "mx": model_agg("max", "c1", pts),
                "mn": model_agg("min", "c1", pts),
                "cnt": model_agg("count", "c1", pts),
                "call": model_agg("count_all", "c1", pts),
                "last": model_agg("last", "c2", pts),
                "mp": model_agg("map", "c2", pts),
            }
        )
    out.sort(key=lambda r: -r["start"])
    return out


# -- strategies --------------------------------------------------------------

point_st = st.fixed_dictionaries(
    {"time": st.integers(0, 1100)},
    optional={
        "c1": st.integers(-5, 20).map(float),
        "c2": st.integers(-5, 20).map(float),
    },
)

atom_st = st.fixed_dictionaries(
    {"is": st.sampled_from([">", "<", "="]), "than": st.integers(-2, 15).map(float)}
)
time_atom_st = st.fixed_dictionaries(
    {"is": st.sampled_from([">", "<"]), "than": st.integers(0, 1000)}
)
where_st = st.fixed_dictionaries(
    {},
    optional={
        "c1": atom_st,
        "c2": st.lists(atom_st, min_size=1, max_size=2),
        "time": time_atom_st,
    },
)


def eq(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return abs(a - b) < 1e-9
    if isinstance(a, list):
        return len(a) == len(b) and all(eq(x, y) for x, y in zip(a, b))
    return a == b


METRICS = {
    "mean": TSDB.mean("c1"),
    "summ": TSDB.sum("c1"),
    "mx": TSDB.max("c1"),
    "mn": TSDB.min("c1"),
    "cnt": TSDB.count("c1"),
    "call": TSDB.count(),
    "last": TSDB.last("c2"),
    "mp": TSDB.map("c2"),
}


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    points=st.lists(point_st, min_size=0, max_size=25),
    where=where_st,
    w=st.sampled_from([50, 130, 300]),
    fill=st.booleans(),
)
def test_interval_query_matches_model(spark, points, where, w, fill):
    rows = [
        (i, p["time"], p.get("c1"), p.get("c2")) for i, p in enumerate(points)
    ]
    pts = [dict(p, ingest_id=i) for i, p in enumerate(points)]
    df = spark.createDataFrame(
        rows, "ingest_id long, time long, c1 double, c2 double"
    )
    from uts_spark.plans.tsdb import Series

    s = Series(df)
    got = [
        r.asDict()
        for r in s.query(
            METRICS, where=where or None, group=interval(w, fill=fill, now=NOW)
        ).collect()
    ]
    want = model_interval_query(pts, where, w, fill, NOW)
    assert len(got) == len(want), (got, want)
    for g, m in zip(got, want):
        assert g["start"] == m["start"], (got, want)
        for key in ("mean", "summ", "mx", "mn", "cnt", "call", "last", "mp"):
            assert eq(g[key], m[key]), (key, g, m)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(points=st.lists(point_st, min_size=0, max_size=25), where=where_st)
def test_global_query_matches_model(spark, points, where):
    rows = [
        (i, p["time"], p.get("c1"), p.get("c2")) for i, p in enumerate(points)
    ]
    pts = [dict(p, ingest_id=i) for i, p in enumerate(points)]
    df = spark.createDataFrame(
        rows, "ingest_id long, time long, c1 double, c2 double"
    )
    from uts_spark.plans.tsdb import Series

    s = Series(df)
    g = s.query(METRICS, where=where or None).collect()[0].asDict()
    flt = sorted(model_filter(pts, where), key=lambda p: p["ingest_id"])
    m = {
        "mean": model_agg("mean", "c1", flt),
        "summ": model_agg("sum", "c1", flt),
        "mx": model_agg("max", "c1", flt),
        "mn": model_agg("min", "c1", flt),
        "cnt": model_agg("count", "c1", flt),
        "call": model_agg("count_all", "c1", flt),
        "last": model_agg("last", "c2", flt),
        "mp": model_agg("map", "c2", flt),
    }
    for key in m:
        assert eq(g[key], m[key]), (key, g, m)


# -- derivative fuzz (SURVEY §2.4 A9 closed form) ---------------------------

def model_derivative(points, w):
    """The reference's fold (uts.ts:458-507), from the survey's verified
    spec: emission times E = {first + k·w : k ≥ 1, first + k·w < tlast}
    ∪ {tlast}; each point's delta accrues to the smallest e ∈ E with
    e ≥ t; gaps emit zero-change; empty/single-point → only the final
    flush (or nothing when empty)."""
    pts = sorted(points, key=lambda p: p["ingest_id"])
    if not pts:
        return []
    tfirst, tlast = pts[0]["time"], pts[-1]["time"]
    emissions = [tfirst + k * w for k in range(1, (tlast - tfirst) // w + 2)
                 if tfirst + k * w < tlast]
    emissions.append(tlast)
    acc = {e: 0.0 for e in emissions}
    prev = None
    for p in pts:
        if prev is not None:
            delta = p["v"] - prev
            e = min((x for x in emissions if x >= p["time"]), default=None)
            if e is not None:
                acc[e] += delta
        prev = p["v"]
    return [(e, acc[e]) for e in emissions]


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    times=st.lists(st.integers(0, 500), min_size=0, max_size=15),
    vals=st.lists(st.integers(-10, 10).map(float), min_size=15, max_size=15),
    w=st.sampled_from([40, 100, 230]),
)
def test_derivative_matches_model(spark, times, vals, w):
    # reference contract: points appended in nondecreasing time order
    times = sorted(times)
    pts = [
        {"ingest_id": i, "time": t, "v": v}
        for i, (t, v) in enumerate(zip(times, vals))
    ]
    rows = [(p["ingest_id"], p["time"], p["v"]) for p in pts]
    df = spark.createDataFrame(rows, "ingest_id long, time long, v double")

    from uts_spark.operators.derivative import derivative_rows

    got = [
        (r["time"], r["value"])
        for r in derivative_rows(df, "v", w, time_col="time",
                                 order_col="ingest_id").orderBy("time").collect()
    ]
    want = model_derivative(pts, w)
    assert got == want, (got, want, pts, w)


# -- as-of join vs pandas merge_asof ----------------------------------------
#
# pandas.merge_asof is the de-facto reference semantics for as-of joins;
# the union-window Spark plan (operators/joins.asof_join) must agree on
# random data for backward/forward x tolerance. Unique timestamps per key
# side-step merge_asof's intra-ts ordering ambiguity (the deterministic
# tie-break is covered by the golden tests).

import pandas as pd  # noqa: E402

from uts_spark.operators.joins import asof_join  # noqa: E402


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    data=st.data(),
    direction=st.sampled_from(["backward", "forward", "nearest"]),
    tolerance=st.sampled_from([None, 5, 50]),
)
def test_asof_join_matches_pandas_merge_asof(spark, data, direction, tolerance):
    n_keys = data.draw(st.integers(1, 3))
    left_rows, right_rows = [], []
    for k in range(n_keys):
        lts = data.draw(
            st.lists(st.integers(0, 200), min_size=0, max_size=8, unique=True)
        )
        rts = data.draw(
            st.lists(st.integers(0, 200), min_size=0, max_size=8, unique=True)
        )
        left_rows += [(f"k{k}", t) for t in lts]
        right_rows += [(f"k{k}", t, float(t * 10 + k)) for t in rts]
    if not left_rows or not right_rows:
        return
    left = spark.createDataFrame(left_rows, "key string, ts long")
    right = spark.createDataFrame(right_rows, "key string, ts long, v double")
    out = asof_join(
        left, right, on="key", left_time="ts", right_time="ts",
        right_payload=["v"], direction=direction, tolerance=tolerance,
    )
    got = {(r.key, r.ts): r.v_right for r in out.collect()}

    lp = pd.DataFrame(left_rows, columns=["key", "ts"]).sort_values("ts")
    rp = pd.DataFrame(right_rows, columns=["key", "ts", "v"]).sort_values("ts")
    exp_df = pd.merge_asof(
        lp, rp, on="ts", by="key", direction=direction,
        tolerance=tolerance,
    )
    exp = {
        (r.key, r.ts): (None if pd.isna(r.v) else r.v)
        for r in exp_df.itertuples()
    }
    assert got == exp


# -- PPJoin-style Jaccard pair filters vs brute force -----------------------
#
# ngram_jaccard_pairs stacks four prunings (prefix filter, size-ratio,
# positional bound, Vernica count bound) that must NEVER drop a true
# pair. Fuzz small corpora against an O(n^2) python brute force of the
# same shingle definition, for both prefix orders.

VOCAB = ["aa", "bb", "cc", "dd", "ee", "ff"]


def _brute_jaccard_pairs(docs, n, threshold):
    def shingles(text):
        toks = text.split()
        return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}

    out = {}
    for i, (ida, ta) in enumerate(docs):
        for idb, tb in docs[i + 1:]:
            sa, sb = shingles(ta), shingles(tb)
            if not sa or not sb:
                continue
            j = len(sa & sb) / len(sa | sb)
            if j >= threshold:
                out[(ida, idb)] = j
    return out


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    data=st.data(),
    threshold=st.sampled_from([0.3, 0.5, 0.8]),
)
def test_ngram_jaccard_pairs_match_brute_force(spark, data, threshold):
    from uts_spark.functions.dedup import ngram_jaccard_pairs

    n_docs = data.draw(st.integers(2, 8))
    docs = []
    for i in range(n_docs):
        toks = data.draw(
            st.lists(st.sampled_from(VOCAB), min_size=0, max_size=12)
        )
        docs.append((i, " ".join(toks)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            df, "text", "doc_id", n=3, threshold=threshold
        ).collect()
    }
    exp = _brute_jaccard_pairs(docs, 3, threshold)
    assert set(got) == set(exp)
    for k, j in exp.items():
        assert got[k] == pytest.approx(j, abs=1e-12)


# -- pointer-jumping connected components vs union-find ---------------------

def _uf_components(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min node id in the component
    label = {}
    for x in range(n_nodes):
        r = find(x)
        label.setdefault(r, min(i for i in range(n_nodes) if find(i) == r))
    return {x: label[find(x)] for x in range(n_nodes)}


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_connected_components_match_union_find(spark, data):
    from uts_spark.functions.clustering import connected_components

    n_nodes = data.draw(st.integers(2, 12))
    n_edges = data.draw(st.integers(1, 18))
    edges = [
        (
            data.draw(st.integers(0, n_nodes - 1)),
            data.draw(st.integers(0, n_nodes - 1)),
        )
        for _ in range(n_edges)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.node: r.component
        for r in connected_components(df).collect()
    }
    exp = _uf_components(n_nodes, edges)
    # spark output only covers nodes that appear in edges
    touched = {a for a, _ in edges} | {b for _, b in edges}
    assert got == {x: exp[x] for x in touched}


# ---------------------------------------------------------------------------
# lane_sum (two-long-lane exact sum) vs the decimal reference path


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.one_of(
            st.floats(
                min_value=-1e9,
                max_value=1e9,
                allow_nan=False,
                allow_infinity=False,
            ),
            st.just(0.0),
            st.just(-0.0),
            st.just(float("nan")),
        ),
        min_size=0,
        max_size=40,
    ),
    ngroups=st.integers(min_value=1, max_value=3),
)
def test_lane_sum_bit_equals_decimal_sum(spark, vals, ngroups):
    """lane_sum must be BIT-identical to stable_sum for every input the
    decimal path accepts — negatives, signed zero, NaN (decimal cast →
    NULL on both paths), empty groups — across arbitrary groupings."""
    import math as _math

    from uts_spark.operators.aggregates import lane_sum, stable_sum
    from pyspark.sql import functions as F

    rows = [(i % ngroups, v) for i, v in enumerate(vals)] or [(0, None)]
    df = spark.createDataFrame(rows, "g int, v double")
    got = (
        df.groupBy("g")
        .agg(
            lane_sum(F.col("v")).alias("lane"),
            stable_sum(F.col("v")).alias("dec"),
        )
        .collect()
    )
    for r in got:
        if r.lane is None or r.dec is None:
            assert r.lane is None and r.dec is None
        elif _math.isnan(r.dec):
            assert _math.isnan(r.lane)
        else:
            assert r.lane == r.dec, (r.g, r.lane, r.dec, r.lane - r.dec)
