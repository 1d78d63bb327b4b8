"""The one optimistic-concurrency commit loop (sources/versioned._cas_commit)
and what rides on it: the structural guard that no verb keeps a loop of
its own, the race matrix (every fast-append and merge-on-read writer
against one racing commit at the loop's commit seam, plus a replayed
batch key), the table carry rule across a WAP publish, the widen-only
schema check before the delta write, and the IVF fit recorded on the
write job."""

import ast
import json
import os
import re

import pytest
from pyspark.sql import functions as F

import uts_spark
import uts_spark.functions.vindex as vx
import uts_spark.sources.versioned as V


def test_one_cas_loop_structure():
    """Exactly one ``except VersionConflictError`` under uts_spark/ (the
    loop's), and no function of the table or index layer takes a
    retry count."""
    root = os.path.dirname(uts_spark.__file__)
    hits = []
    for d, _, files in os.walk(root):
        for fn in files:
            if fn.endswith(".py"):
                p = os.path.join(d, fn)
                with open(p) as f:
                    n = f.read().count("except VersionConflictError")
                hits += [os.path.relpath(p, root)] * n
    assert hits == ["sources/versioned.py"]
    for mod in (V, vx):
        with open(mod.__file__) as f:
            tree = ast.parse(f.read())
        takes = [
            node.name for node in ast.walk(tree)
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
            and "max_retries" in [
                a.arg for a in node.args.args + node.args.kwonlyargs
            ]
        ]
        assert takes == [], (mod.__name__, takes)


def _rows(spark, lo, hi):
    return spark.range(lo, hi).selectExpr(
        "CAST(id AS INT) AS k", "CAST(id * 3 AS LONG) AS v"
    )


def _emb(spark, lo, hi, dim=8):
    return spark.range(lo, hi).select(
        F.col("id").alias("vec_id"),
        F.array(*[
            F.sin(F.col("id") * F.lit(0.37 * (j + 1)) + F.lit(j))
            for j in range(dim)
        ]).alias("embedding"),
    )


def _canon(path: str, rec: dict) -> str:
    """A record with its writer-unique dir names replaced by labels
    (serial and raced runs write different uuids): data dirs by their
    position in the dir list, other dirs by first appearance; the
    commit stamp dropped."""
    labels = {d: f"<dir{i}>" for i, d in enumerate(rec["data_dirs"])}
    s = re.sub(
        re.escape(path) + r'/[^"]+',
        lambda m: labels.setdefault(m.group(0), f"<dir{len(labels)}>"),
        json.dumps(
            {k: v for k, v in rec.items() if k != "committed_at"},
            sort_keys=True,
        ),
    )
    return json.dumps(json.loads(s), sort_keys=True)


def _head(path: str, branch: str | None) -> dict:
    return (
        V.list_versions(path) if branch is None
        else V._branch_records(path, branch)
    )[-1]


def _race_cases(spark):
    """name -> (setup, racer, verb, branch, replayable). Each racer is
    an ordinary commit another writer lands first; the verb must end
    on the record the serial order (racer, then verb) produces."""
    ids = lambda lo, hi: spark.range(lo, hi).selectExpr(  # noqa: E731
        "CAST(id AS INT) AS k"
    )

    def table(path):
        V.write_snapshot(
            _rows(spark, 0, 300), path, stats_col="k", kmv_col="k"
        )

    def forked(path):
        table(path)
        V.create_branch(path, "b")

    def ivf(path):
        vx.ivf_vindex_build(_emb(spark, 0, 60), path, "f0", n_cells=4)

    def ivfpq(path):
        vx.ivfpq_vindex_build(
            _emb(spark, 0, 60), path, dim=8, fingerprint="f0",
            n_cells=4, m_sub=2, n_cent=4,
        )

    return {
        "main_append": (
            table,
            lambda p: V.append_snapshot(_rows(spark, 300, 320), p),
            lambda p: V.append_snapshot(_rows(spark, 400, 450), p,
                                        batch_id=7),
            None, True,
        ),
        "branch_append": (
            forked,
            lambda p: V.write_to_branch(_rows(spark, 300, 320), p, "b"),
            lambda p: V.write_to_branch(_rows(spark, 400, 450), p, "b",
                                        batch_id=7),
            "b", True,
        ),
        "main_key_mor": (
            table,
            lambda p: V.delete_rows_mor(spark, p, ids(50, 70), "k"),
            lambda p: V.delete_rows_mor(spark, p, ids(50, 100), "k"),
            None, False,
        ),
        "main_positional_mor": (
            table,
            lambda p: V.delete_rows_mor(spark, p, ids(0, 10), "k"),
            lambda p: V.delete_rows_positional(spark, p, F.col("k") % 7 == 0),
            None, False,
        ),
        "branch_key_mor": (
            forked,
            lambda p: V.delete_rows_mor_branch(spark, p, "b", ids(50, 70),
                                               "k"),
            lambda p: V.delete_rows_mor_branch(spark, p, "b", ids(50, 100),
                                               "k"),
            "b", False,
        ),
        "branch_positional_mor": (
            forked,
            lambda p: V.delete_rows_mor_branch(spark, p, "b", ids(0, 10),
                                               "k"),
            lambda p: V.delete_rows_positional_branch(
                spark, p, "b", F.col("k") % 7 == 0
            ),
            "b", False,
        ),
        "ivf_append": (
            ivf,
            lambda p: vx.ivf_vindex_append(_emb(spark, 60, 70), p, "f1"),
            lambda p: vx.ivf_vindex_append(_emb(spark, 70, 90), p, "f2",
                                           batch_id=3, record_fit=True),
            None, True,
        ),
        "ivfpq_append": (
            ivfpq,
            lambda p: vx.ivfpq_vindex_append(_emb(spark, 60, 70), p, "f1"),
            lambda p: vx.ivfpq_vindex_append(_emb(spark, 70, 90), p, "f2",
                                             batch_id=3, record_dist=True),
            None, True,
        ),
    }


@pytest.mark.parametrize("case", [
    "main_append", "branch_append", "main_key_mor", "main_positional_mor",
    "branch_key_mor", "branch_positional_mor", "ivf_append", "ivfpq_append",
])
def test_cas_race_matrix(spark, tmp_path, monkeypatch, case):
    setup, racer, verb, branch, replayable = _race_cases(spark)[case]

    serial = str(tmp_path / "serial")
    setup(serial)
    racer(serial)
    verb(serial)
    want = _canon(serial, _head(serial, branch))

    raced = str(tmp_path / "raced")
    setup(raced)
    real = V._commit
    fired = []

    def racing_commit(path, rec, br=None):
        if not fired:
            fired.append(rec)
            racer(path)  # lands first; our PUT below then conflicts
        return real(path, rec, br)

    monkeypatch.setattr(V, "_commit", racing_commit)
    got_id = verb(raced)
    monkeypatch.undo()
    assert fired, "the verb never reached the commit seam"
    head = _head(raced, branch)
    assert _canon(raced, head) == want
    assert got_id == head["version" if branch is None else "seq"]

    if replayable:
        # a replayed batch key returns the committed record and writes
        # nothing: no new record, no new dir
        n_dirs = len(os.listdir(os.path.join(raced, "data")))
        assert verb(raced) == got_id
        assert _head(raced, branch) == head
        assert len(os.listdir(os.path.join(raced, "data"))) == n_dirs


def test_wap_publish_carries_kmv_and_dir_rows(spark, tmp_path):
    """A WAP publish keeps main's KMV opt-in and per-dir row counts:
    the published synopsis equals the one a single write of the same
    rows records (the KMV merge is lossless), and ``dir_rows`` covers
    every dir. A main without the opt-in publishes no synopsis."""
    path = str(tmp_path / "wap_kmv")
    V.write_snapshot(_rows(spark, 0, 200), path, kmv_col=("k", "v"))
    V.create_branch(path, "b")
    V.write_to_branch(_rows(spark, 200, 260), path, "b")
    V.write_to_branch(_rows(spark, 260, 300), path, "b")
    V.merge_branch(spark, path, "b")
    pm = V.list_versions(path)[-1]

    ref = str(tmp_path / "ref")
    V.write_snapshot(_rows(spark, 0, 300), ref, kmv_col=("k", "v"))
    assert V.kmv_cols_of(path) == ["k", "v"]
    assert V.table_kmv(path) == V.table_kmv(ref)
    assert V.table_kmv(path, col="v") == V.table_kmv(ref, col="v")
    assert V.kmv_distinct(path) == V.kmv_distinct(ref)
    dirs = V._manifest_dirs(pm)
    assert len(dirs) == 3
    assert set(pm["dir_rows"]) == set(dirs)
    assert sum(pm["dir_rows"].values()) == pm["n_rows"] == 300

    plain = str(tmp_path / "wap_plain")
    V.write_snapshot(_rows(spark, 0, 200), plain)
    V.create_branch(plain, "b")
    V.write_to_branch(_rows(spark, 200, 260), plain, "b")
    V.merge_branch(spark, plain, "b")
    pm = V.list_versions(plain)[-1]
    assert "kmv_col" not in pm and "dir_kmv" not in pm
    assert set(pm["dir_rows"]) == set(V._manifest_dirs(pm))


def test_refused_narrowing_append_writes_no_dir(spark, tmp_path):
    """A column-dropping or retyping append is refused against the head
    read BEFORE the delta write, on main and on a branch: no new dir
    appears under data/ after any refusal."""
    path = str(tmp_path / "narrow")
    V.write_snapshot(_rows(spark, 0, 10), path)
    V.create_branch(path, "b")
    data = os.path.join(path, "data")
    before = sorted(os.listdir(data))
    dropped = _rows(spark, 10, 20).select("k")
    retyped = _rows(spark, 10, 20).selectExpr(
        "k", "CAST(v AS STRING) AS v"
    )
    for write in (
        lambda df: V.append_snapshot(df, path),
        lambda df: V.write_to_branch(df, path, "b"),
    ):
        with pytest.raises(ValueError, match="drops column") as drop:
            write(dropped)
        assert "changes type" not in str(drop.value)
        with pytest.raises(ValueError, match="changes type") as retype:
            write(retyped)
        assert "drops column" not in str(retype.value)
    assert sorted(os.listdir(data)) == before


def test_ivf_fit_observed_on_write_equals_read_back(
    spark, tmp_path, monkeypatch
):
    """The drift integers the build, a record_fit append and a
    recluster record on their write jobs (an Observation) equal, to
    the integer, the read-back computation over the rows on disk: each
    stored row's cosine to its cell's centroid, snapped. The
    observation sits above every exchange of the written frame, in the
    write's result stage, where a re-run task cannot count twice."""
    from uts_spark.functions.similarity import FIT_SCALE, cosine_stable

    plans = []
    write = vx._write_delta_dir

    def spy(df, *args, **kwargs):
        plans.append(
            df._jdf.queryExecution().executedPlan().toString().splitlines()
        )
        return write(df, *args, **kwargs)

    monkeypatch.setattr(vx, "_write_delta_dir", spy)

    def read_back(m, ddirs):
        cents = spark.read.parquet(m["centroids_dir"]).select(
            F.col("cent_id").alias("cell"), "__cv"
        )
        row = (
            spark.read.parquet(*ddirs)
            .join(F.broadcast(cents), "cell")
            .agg(
                F.sum(F.floor(
                    cosine_stable("embedding", "__cv") * F.lit(FIT_SCALE)
                    + F.lit(0.5)
                ).cast("long")).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .first()
        )
        return [int(row["s"]), int(row["n"])]

    path = str(tmp_path / "ivf_fit")
    vx.ivf_vindex_build(_emb(spark, 0, 80), path, "f0", n_cells=4)
    vx.ivf_vindex_append(_emb(spark, 80, 110), path, "f1", record_fit=True)
    vx.ivf_vindex_recluster(spark, path, fingerprint="f2")
    build, app, rec = V.list_versions(path)
    assert build["fit_ref"] == read_back(build, build["data_dirs"])
    assert [app["fit_sum"], app["fit_n"]] == read_back(
        app, app["data_dirs"][-1:]
    )
    assert app["fit_n"] == 30
    assert rec["fit_ref"] == read_back(rec, rec["data_dirs"])
    assert rec["fit_ref"][1] == 110
    assert len(plans) == 3
    for lines in plans:
        observed = [i for i, ln in enumerate(lines) if "CollectMetrics" in ln]
        shuffles = [i for i, ln in enumerate(lines) if "Exchange" in ln]
        assert observed and shuffles and observed[0] < min(shuffles)


def test_append_to_unbuilt_index_names_the_path(spark, tmp_path):
    """Every family's append to a path with no committed versions is
    refused with an error that names the path, and writes nothing."""
    path = str(tmp_path / "unbuilt")
    docs = spark.createDataFrame([(1, "a b c d e")], "doc_id INT, text STRING")
    emb = _emb(spark, 0, 4)
    for append in (
        lambda: vx.minhash_vindex_append(docs, "text", "doc_id", path),
        lambda: vx.lsh_vindex_append(emb, path, dim=8),
        lambda: vx.ivf_vindex_append(emb, path),
        lambda: vx.ivfpq_vindex_append(emb, path),
    ):
        with pytest.raises(ValueError, match=re.escape(f"{path}: no committed versions")):
            append()
    assert not os.path.exists(os.path.join(path, "data"))
