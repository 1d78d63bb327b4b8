"""Tests for the LLM-pipeline operators: dedup recall, ANN recall vs
brute force, fingerprint/simhash properties, multimodal plumbing."""

import pytest
from pyspark.sql import functions as F

from uts_spark.functions import multimodal as mm
from uts_spark.functions.dedup import (
    exact_canonical,
    hamming64,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash_band_pairs,
)
from uts_spark.functions.similarity import (
    cosine_topk,
    cosine_topk_blocked,
    lsh_topk,
)
from uts_spark.functions.text import fingerprint, lang_id, tokens

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_exact_dedup_flags_identical_texts(spark):
    df = spark.createDataFrame(
        [(1, "aa bb"), (2, "aa bb"), (3, "cc")], "doc_id long, text string"
    )
    out = {r["doc_id"]: (r["canonical_id"], r["is_dup"])
           for r in exact_canonical(df, "text", "doc_id").collect()}
    assert out == {1: (1, 0), 2: (1, 1), 3: (3, 0)}


def test_minhash_lsh_recall_vs_exact(docs):
    """LSH candidates must recover the high-jaccard pairs exact search
    finds (banding: 8 bands × 4 rows → ~P(j=0.8 caught) ≈ 1-(1-0.8^4)^8
    ≈ 0.99; verify on the planted near-dups)."""
    exact = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, "text", "doc_id", 3, 0.8).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs, "text", "doc_id", 3, 32, 8, 0.8).collect()
    }
    assert exact, "fixture should contain planted near-duplicates"
    recall = len(exact & lsh) / len(exact)
    assert recall >= 0.9, f"LSH recall {recall} too low ({len(exact)} true pairs)"
    assert lsh <= exact or all(p in exact for p in lsh)  # no false positives


def test_simhash_near_dups_have_small_hamming(spark, docs):
    """Planted near-dup pairs should sit closer in simhash space than
    random pairs on average."""
    near = ngram_jaccard_pairs(docs, "text", "doc_id", 3, 0.8)
    sh = simhash(docs, "text", "doc_id")
    a = sh.select(F.col("id").alias("id_a"), F.col("simhash").alias("ha"))
    b = sh.select(F.col("id").alias("id_b"), F.col("simhash").alias("hb"))
    near_d = (
        near.join(a, "id_a").join(b, "id_b")
        .select(hamming64(F.col("ha"), F.col("hb")).alias("d"))
        .agg(F.avg("d")).first()[0]
    )
    rand_d = (
        a.crossJoin(b).filter(F.col("id_a") + 7 == F.col("id_b"))
        .select(hamming64(F.col("ha"), F.col("hb")).alias("d"))
        .agg(F.avg("d")).first()[0]
    )
    assert near_d < rand_d / 2


def test_topk_blocked_matches_hof(emb):
    """The numpy-blocked top-k must be row-identical to the per-pair HOF
    plan — same floor-rounded math, same (cosine DESC, id ASC) tie-break,
    including exact cosine doubles."""
    anchors = emb.filter(F.col("vec_id") < 3)
    ref = sorted(
        map(tuple, cosine_topk(emb, anchors, k=5).collect())
    )
    got = sorted(
        map(tuple, cosine_topk_blocked(emb, anchors, k=5).collect())
    )
    assert got == ref


def test_ann_lsh_recall_vs_brute_force(emb):
    """The fixture embeddings are near-orthogonal (top cosine ≈ 0.5,
    θ≈65° → per-plane agreement ≈ 0.64), so the viable banding here is
    FEW planes × many tables: 0.64⁴ per table × 8 tables ≈ 0.77 expected
    recall. Real near-dup corpora (cosine>0.9) support 8-12 planes."""
    anchors = emb.filter(F.col("vec_id") < 3)
    exact = {
        (r["anchor_id"], r["neighbor_id"])
        for r in cosine_topk(emb, anchors, k=5).collect()
    }
    approx = {
        (r["anchor_id"], r["neighbor_id"])
        for r in lsh_topk(emb, anchors, dim=64, k=5, planes=4, tables=8).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"ANN recall {recall} vs brute force"


def test_simhash_band_pairs_recover_planted_dups(docs):
    """The banded-hamming pipeline should recover most planted
    high-jaccard near-dup pairs, and every emitted pair must satisfy the
    verification bound."""
    exact = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, "text", "doc_id", 3, 0.8).collect()
    }
    got = simhash_band_pairs(docs, "text", "doc_id", bands=4, max_hamming=6).collect()
    assert all(r["hamming"] <= 6 for r in got)
    pairs = {(r["id_a"], r["id_b"]) for r in got}
    assert exact, "fixture should contain planted near-duplicates"
    recall = len(exact & pairs) / len(exact)
    assert recall >= 0.6, f"simhash recall {recall} ({len(exact)} true pairs)"


def test_fingerprint_stability_and_collision(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog today"),
            (3, "completely different words entirely unrelated content here now"),
        ],
        "doc_id long, text string",
    )
    fps = {r["doc_id"]: r["fp"] for r in
           df.select("doc_id", fingerprint(F.col("text")).alias("fp")).collect()}
    assert fps[1] == fps[2]
    assert fps[1] != fps[3]


def test_lang_id_deterministic(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog of it is that"),
         (2, "der hund und die katze ist ein zu"),
         (3, "xyzzy qwerty plugh")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["l"] for r in
           df.select("doc_id", lang_id(F.col("text")).alias("l")).collect()}
    assert out == {1: "en", 2: "de", 3: "unknown"}


def test_multimodal_decode_shape(docs):
    out = mm.fake_decode_features(mm.attach_blob(docs))
    rows = out.limit(5).collect()
    assert out.count() == docs.count()
    for r in rows:
        assert r["byte_len"] > 0
        assert 64 <= r["width"] < 256 and 64 <= r["height"] < 256
        assert len(r["feature"]) == mm.FEATURE_DIM


def test_multimodal_decode_deterministic(docs):
    a = sorted(map(tuple, mm.fake_decode_features(mm.attach_blob(docs)).collect()))
    b = sorted(map(tuple, mm.fake_decode_features(mm.attach_blob(docs)).collect()))
    assert a == b


def test_real_decoder_is_stubbed():
    with pytest.raises(NotImplementedError):
        mm.decode_image(b"\x89PNG fake")


def test_ann_ivf_recall_vs_brute_force(emb):
    """IVF with a generous probe budget (4 of 8 cells = half the corpus
    scanned) must recover most exact neighbors; near-orthogonal fixture
    vectors make cell boundaries noisy, hence the modest floor."""
    from uts_spark.functions.similarity import ivf_topk

    anchors = emb.filter(F.col("vec_id") < 3)
    exact = {
        (r["anchor_id"], r["neighbor_id"])
        for r in cosine_topk(emb, anchors, k=5).collect()
    }
    approx = {
        (r["anchor_id"], r["neighbor_id"])
        for r in ivf_topk(emb, anchors, k=5, n_cells=8, n_probe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.4, f"IVF recall {recall} vs brute force"


def test_multimodal_resize_shape(docs):
    from uts_spark.functions import multimodal as mm

    out = mm.resize_images(mm.attach_blob(docs), 224, 224)
    rows = out.limit(5).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.target_w == 224 and r.target_h == 224
        assert r.resized_bytes == 224 * 224 * (r.resized_bytes // (224 * 224))
        assert 0 < r.scale_x and 0 < r.scale_y


def test_multimodal_frame_sample_fanout(docs):
    from uts_spark.functions import multimodal as mm

    n_docs = docs.count()
    out = mm.sample_frames(mm.attach_blob(docs), n_frames=4)
    assert out.count() == 4 * n_docs
    one_doc = out.filter(F.col("doc_id") == out.select(F.min("doc_id")).first()[0])
    rows = one_doc.orderBy("frame_idx").collect()
    assert [r.frame_idx for r in rows] == [0, 1, 2, 3]
    assert [r.frame_ms for r in rows] == [0, 1000, 2000, 3000]
    # per-frame features differ (frame-dependent decode), fixed dim
    assert rows[0].feature != rows[1].feature
    assert all(len(r.feature) == 8 for r in rows)


def test_ngram_jaccard_prefix_orders_agree(docs):
    """Any consistent global shingle order yields the same exact result:
    the cheap per-doc hash-order prefix must match the freq-order one."""
    a = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in ngram_jaccard_pairs(docs, "text", "doc_id", 3, 0.6).collect()
    }
    b = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in ngram_jaccard_pairs(
            docs, "text", "doc_id", 3, 0.6, prefix_order="hash"
        ).collect()
    }
    assert a == b and a


def test_ivf_cells_as_partition_column_prune(spark, emb, tmp_path):
    """The SCALE.md IVF claim, demonstrated: persist cell assignments as
    a partition column; probing a cell is then a directory-pruned scan
    (PartitionFilters), not a full read."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from uts_spark.sources.sinks import write_partitioned

    base = emb.select(
        "vec_id", "embedding",
        array_to_vector(F.col("embedding").cast("array<double>")).alias("__fv"),
    )
    model = KMeans(k=4, seed=7, maxIter=5, featuresCol="__fv",
                   predictionCol="cell").fit(base)
    assigned = model.transform(base).select("vec_id", "embedding", "cell")
    out = str(tmp_path / "ivf")
    write_partitioned(assigned, out, ["cell"])

    back = spark.read.parquet(out)
    probe = back.filter(F.col("cell") == 1)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "cell" in pf  # probe prunes directories, not rows
    assert probe.count() == assigned.filter(F.col("cell") == 1).count()


# ---------------------------------------------------------------------------
# connected components (functions/clustering.py)
# ---------------------------------------------------------------------------


def test_connected_components_transitive_chain(spark):
    from uts_spark.functions.clustering import connected_components

    # chain 1-2-3-4 plus clique {10,11,12} plus isolated edge (20,21)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "src long, dst long",
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_cluster_assignment_keeps_min_and_singletons(spark):
    from uts_spark.functions.clustering import cluster_assignment

    ids = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")
    pairs = spark.createDataFrame(
        [(2, 5), (5, 6)], "id_a long, id_b long"
    )
    rows = {r["doc_id"]: r for r in cluster_assignment(ids, pairs, "doc_id").collect()}
    assert rows[2]["cluster_id"] == 2 and rows[5]["cluster_id"] == 2
    assert rows[6]["cluster_id"] == 2 and not rows[6]["keep"]
    # singletons cluster with themselves and are kept
    for i in (1, 3, 4, 7):
        assert rows[i]["cluster_id"] == i and rows[i]["keep"]
    assert sum(1 for r in rows.values() if r["keep"]) == 5


def test_connected_components_max_rounds_guard(spark):
    import pytest as _pytest

    from uts_spark.functions.clustering import _jump_components

    # a 13-node path needs more than 2 pointer-jump rounds; the guard
    # at 2 must raise, not loop. The local union-find contraction has a
    # fixed level schedule and needs no convergence guard.
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12, 0, -1)], "src long, dst long"
    )
    with _pytest.raises(RuntimeError, match="converge"):
        _jump_components(edges, "src", "dst", 12, 4, max_rounds=2)


def _reference_components(edges):
    """Pure-Python union-find: the set of (node, min node id of its
    component) over every edge without a NULL endpoint."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a is None or b is None:
            continue
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:  # union by min: every root is its set's minimum
            parent[max(ra, rb)] = min(ra, rb)
    return {(x, find(x)) for x in parent}


def test_cc_union_find_matches_jump_and_multi_level(spark, monkeypatch):
    """Every connected_components path must label-match a pure-Python
    union-find: the one-task local union-find, the same contraction
    FORCED multi-level (edges-per-task shrunk so level 0 fans out and
    the fan-in levels actually run), and pointer jumping (forced by a
    zero union-find size cap) — on random graphs, worst-case chains, a
    self-loop and NULL endpoints."""
    import random

    from uts_spark.functions import clustering
    from uts_spark.functions.clustering import connected_components

    rng, rng300 = random.Random(7), random.Random(11)
    graphs = [
        [(rng.randrange(200), rng.randrange(200)) for _ in range(300)],
        [(rng300.randrange(300), rng300.randrange(300)) for _ in range(250)],
        [(i, i + 1) for i in range(60)],  # worst-case chains
        [(i, i + 1) for i in range(120)],
        [(5, 5), (7, 8)],  # self-loop + isolated edge
        # NULL-endpoint edges join nothing: no path may label their
        # other end or emit a NULL node
        [(1, 2), (3, None), (None, 4), (None, None), (2, 5)],
    ]
    paths = {
        "one-task uf": {},
        "multi-level uf": {"_UF_EDGES_PER_TASK": 40, "_UF_FAN_IN": 4},
        "jump": {"_UF_MAX_EDGES": 0},
    }
    for edges in graphs:
        df = spark.createDataFrame(edges, "src long, dst long")
        want = _reference_components(edges)
        assert want
        for path, consts in paths.items():
            for name, value in consts.items():
                monkeypatch.setattr(clustering, name, value)
            got = {
                (r.node, r.component)
                for r in connected_components(df).collect()
            }
            monkeypatch.undo()
            assert got == want, path


def test_contamination_counts_shared_distinct_shingles(spark):
    from uts_spark.functions.decontam import contamination

    ev = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            # shares two distinct 5-gram shingles with the eval doc
            (1, "a b the quick brown fox jumps over c d"),
            # no 5-token overlap
            (2, "completely unrelated text with many distinct words here"),
            # too short to have any 5-gram
            (3, "quick brown fox"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["n_shared"] for r in
           contamination(train, ev, "text", "doc_id", n=5).collect()}
    assert got == {1: 2}


def test_chunk_windows_overlap_and_short_docs(spark):
    from uts_spark.functions.text import chunk_windows

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(60))),  # 60 tokens
            (2, "a b c"),                               # shorter than one chunk
        ],
        "doc_id long, text string",
    )
    out = chunk_windows(docs, "text", "doc_id", size=32, overlap=8)
    rows = {(r["doc_id"], r["chunk_id"]): r for r in out.collect()}
    # doc 1: stride 24 -> chunks at 0, 24 (covers 24..55), 48 (48..59)
    assert sorted(k[1] for k in rows if k[0] == 1) == [0, 1, 2]
    assert rows[(1, 0)]["n_tokens"] == 32
    assert rows[(1, 0)]["chunk_text"].startswith("w0 w1 ")
    assert rows[(1, 1)]["chunk_text"].startswith("w24 ")
    assert rows[(1, 2)]["n_tokens"] == 12  # 48..59
    # consecutive chunks overlap by 8 tokens
    assert rows[(1, 0)]["chunk_text"].split()[-8:] == rows[(1, 1)]["chunk_text"].split()[:8]
    # short doc: exactly one (short) chunk
    assert rows[(2, 0)]["chunk_text"] == "a b c" and rows[(2, 0)]["n_tokens"] == 3
    assert sorted(k[1] for k in rows if k[0] == 2) == [0]


def test_redact_patterns(spark):
    from pyspark.sql import functions as F
    from uts_spark.functions.text import redact, redaction_count

    df = spark.createDataFrame(
        [("write bob.smith+x@mail.co or call 1234567 now 42",)], "t string"
    )
    r = df.select(
        redact(F.col("t")).alias("c"), redaction_count(F.col("t")).alias("n")
    ).collect()[0]
    assert r["c"] == "write <EMAIL> or call <NUM> now 42"
    assert r["n"] == 2


# --------------------------------------------------------------------------
# Corpus-statistical scoring: TF-IDF terms, unigram cross-entropy

def test_tfidf_top_terms_small(spark):
    from uts_spark.functions.text import tfidf_top_terms

    df = spark.createDataFrame(
        [
            (1, "apple apple banana"),
            (2, "banana cherry"),
            (3, "cherry cherry cherry durian"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_top_terms(df, "text", "doc_id", k=2)
    rows = {(r.doc_id, r.rnk): r for r in out.collect()}
    # doc 1: apple (tf=2, df=1) beats banana (tf=1, df=2)
    assert rows[(1, 1)].term == "apple" and rows[(1, 1)].tf == 2
    assert rows[(1, 2)].term == "banana"
    # doc 3: cherry tf=3 df=2 -> 3*ln(1.5); durian tf=1 df=1 -> ln(3)
    assert rows[(3, 1)].term == "cherry"
    assert rows[(3, 1)].tfidf == pytest.approx(3 * 0.405465, abs=1e-5)
    # ubiquitous term (df == n_docs) scores exactly 0
    import math
    for r in rows.values():
        assert r.tfidf == pytest.approx(
            r.tf * round(math.log(3 / r.df) * 1e6) / 1e6, abs=1e-12
        )


def test_unigram_xent_uniform_corpus(spark):
    from uts_spark.functions.text import unigram_xent
    import math

    # two docs, two tokens each, all four distinct -> p=1/4 everywhere,
    # xent == ln(4) for both docs
    df = spark.createDataFrame(
        [(1, "aa bb"), (2, "cc dd")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in unigram_xent(df, "text", "doc_id").collect()}
    for d in (1, 2):
        assert out[d].n_tokens == 2
        assert out[d].xent == pytest.approx(math.log(4), abs=1e-5)
    # skewed doc scores LOWER than rare-token doc against corpus stats
    df2 = spark.createDataFrame(
        [(1, "x x x x x x x x"), (2, "y z w v")], "doc_id long, text string"
    )
    o2 = {r.doc_id: r.xent for r in unigram_xent(df2, "text", "doc_id").collect()}
    assert o2[1] < o2[2]


def test_pca_project_invariants(spark, emb):
    from uts_spark.functions.similarity import pca_project

    out, ratios = pca_project(emb, k=4)
    # explained variance: descending, in (0,1], sums <= 1
    assert all(r > 0 for r in ratios) and sum(ratios) <= 1.0 + 1e-9
    assert ratios == sorted(ratios, reverse=True)
    rows = out.collect()
    assert len(rows) == emb.count()
    assert all(len(r.components) == 4 for r in rows)
    # projection is distance-preserving up to truncation: the component
    # variance along dim 0 must dominate dim 3 on real data
    import statistics
    c0 = statistics.pvariance([r.components[0] for r in rows])
    c3 = statistics.pvariance([r.components[3] for r in rows])
    assert c0 >= c3


def test_winnow_shared_span_guarantees_shared_fingerprint(spark):
    from uts_spark.functions.text import winnow_fingerprints, WINNOW_K, WINNOW_W

    span = "the quick brown fox jumps"          # >> k+w-1 chars
    docs = [
        (1, "aaa bbb ccc " + span + " ddd eee"),
        (2, "zzz yyy " + span + " xxx"),
        (3, "completely unrelated words qqq www"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    fp = winnow_fingerprints(df, "text", "doc_id").collect()
    by_doc = {}
    for r in fp:
        by_doc.setdefault(r.doc_id, set()).add(r.fp_hash)
    # the winnowing guarantee: a common substring of >= k+w-1 chars must
    # surface at least one common selected fingerprint
    assert len(span) >= WINNOW_K + WINNOW_W - 1
    assert by_doc[1] & by_doc[2]
    # positions stay within the doc
    assert all(1 <= r.fp_pos <= len(docs[r.doc_id - 1][1]) for r in fp)
    # short doc below k chars yields nothing rather than erroring
    tiny = spark.createDataFrame([(9, "abc")], "doc_id long, text string")
    assert winnow_fingerprints(tiny, "text", "doc_id").count() == 0


def test_chunk_udtf_matches_native_expression_path(spark, docs):
    """The python UDTF fallback must be row-identical to the native
    explode/slice chunker on real documents (SQL LATERAL application)."""
    from uts_spark.functions.text import chunk_windows
    from uts_spark.functions.udtfs import register_udtfs

    register_udtfs(spark)
    sample = docs.limit(20)
    sample.createOrReplaceTempView("udtf_docs")
    got = spark.sql(
        """
        SELECT d.doc_id, c.chunk_id, c.chunk_text, c.n_tokens
        FROM udtf_docs d, LATERAL chunk_windows_udtf(d.text) c
        """
    ).collect()
    exp = chunk_windows(sample, "text", "doc_id").collect()
    assert sorted(((r.doc_id, r.chunk_id, r.chunk_text, r.n_tokens) for r in got)) == \
           sorted(((r.doc_id, r.chunk_id, r.chunk_text, r.n_tokens) for r in exp))


def test_substring_dup_rate_known_overlaps(spark):
    from uts_spark.functions.text import substring_dup_rate

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 words
    docs = [
        (1, shared + " unique one tail words here now"),
        (2, "prefix words " + shared + " other ending text"),
        (3, "completely different content with no overlap at all present"),
        (4, "short doc"),  # < 8 words -> no shingles
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in substring_dup_rate(df, "text", "doc_id").collect()}

    # docs 1 and 2 share exactly the one 8-gram 'shared'; each has >0 rate
    assert out[1]["n_dup"] == 1 and out[2]["n_dup"] == 1
    assert 0 < out[1]["dup_rate"] < 1 and 0 < out[2]["dup_rate"] < 1
    assert out[1]["n_shingles"] == len(docs[0][1].split()) - 7
    # disjoint doc: zero dups; short doc: no shingles -> NULL rate
    assert out[3]["n_dup"] == 0 and out[3]["dup_rate"] == 0.0
    assert out[4]["n_shingles"] == 0 and out[4]["dup_rate"] is None


def test_bloom_contamination_no_false_negatives(spark):
    from uts_spark.functions.decontam import bloom_contamination

    ev = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon shared phrase here")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "prefix alpha beta gamma delta epsilon shared phrase here suffix"),
            (2, "totally different words with no overlap whatsoever in sight"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in bloom_contamination(train, ev, "text", "doc_id", n=5).collect()}
    # bloom must pass every exact hit (no false negatives), flag doc 1
    for r in out.values():
        assert r["n_bloom_pass"] >= r["n_exact_hits"]
    assert out[1]["contaminated"] and out[1]["n_exact_hits"] > 0
    assert not out[2]["contaminated"] and out[2]["n_exact_hits"] == 0


# ---------------------------------------------------------------------------
# Tiled all-pairs kernel: property test vs a local reference


def _ref_pairs(ids, vecs, threshold):
    """Driver-side reference of the integer-stable all-pairs cosine."""
    import numpy as np

    M = np.asarray(vecs, dtype=np.float64)
    nrm = np.sqrt(
        np.floor(M * M * 1e12 + 0.5).astype(np.int64).sum(axis=1) / 1e12
    )
    out = set()
    for i in range(len(ids)):
        for j in range(len(ids)):
            if ids[i] >= ids[j]:
                continue
            dot = (
                np.floor(M[i] * M[j] * 1e12 + 0.5).astype(np.int64).sum() / 1e12
            )
            cos = dot / (nrm[i] * nrm[j])
            if cos >= threshold:
                out.add((ids[i], ids[j], cos))
    return out


def test_tiled_pairs_match_reference_across_tile_counts(spark):
    """Triangle tiling must produce EXACTLY the all-pairs set for any
    tile count — every unordered pair lands in exactly one tile-pair
    group (cross pairs in (t_a,t_b), within-tile in (t,t)), with
    canonical id_a<id_b orientation and bit-identical cosines."""
    import random

    from uts_spark.functions.similarity import cosine_pairs_blocked

    rng = random.Random(7)
    ids = rng.sample(range(1000), 23)
    vecs = [[rng.uniform(-1, 1) for _ in range(5)] for _ in ids]
    ref = _ref_pairs(ids, vecs, threshold=0.2)
    df = spark.createDataFrame(
        list(zip(ids, vecs)), "vec_id long, embedding array<double>"
    )
    for n_tiles in (1, 2, 3, 8, 40):  # incl. more tiles than vectors
        got = {
            (r.id_a, r.id_b, r.cosine)
            for r in cosine_pairs_blocked(
                df, threshold=0.2, n_tiles=n_tiles, block=7
            ).collect()
        }
        assert got == ref, f"n_tiles={n_tiles}"


def test_exact_substring_spans_semantics(spark):
    """Two docs share an exact 20-word run; a third is unique. The span
    must be found with exact extents in both docs, the unique doc reads
    zero spans, and kept_hash equals the hash of the doc with the span
    words removed."""
    from uts_spark.functions.hashing import hash64
    from uts_spark.functions.text import exact_substring_spans

    shared = " ".join(f"tok{i}" for i in range(20))
    docs = [
        (1, f"alpha beta {shared} gamma delta"),
        (2, f"{shared} omega"),
        (3, "totally unique words " + " ".join(f"u{i}" for i in range(30))),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           exact_substring_spans(df, "text", "doc_id", L=15).collect()}
    # doc 1: span covers words 3..22 (1-based), 20 words
    assert out[1]["n_spans"] == 1 and out[1]["dup_words"] == 20
    assert out[1]["longest_span"] == 20 and out[1]["total_words"] == 24
    # doc 2: span at the start, 20 words of 21
    assert out[2]["n_spans"] == 1 and out[2]["dup_words"] == 20
    assert out[2]["total_words"] == 21
    # doc 3: clean
    assert out[3]["n_spans"] == 0 and out[3]["dup_words"] == 0
    assert out[3]["dup_rate"] == 0.0
    # removal proof: doc 2 keeps only "omega"
    [(h_omega,)] = spark.range(1).select(hash64(F.lit("omega"))).collect()
    assert out[2]["kept_hash"] == h_omega
    [(h1,)] = spark.range(1).select(
        hash64(F.lit("alpha beta gamma delta"))
    ).collect()
    assert out[1]["kept_hash"] == h1


def test_ann_index_probe_matches_recompute_lsh(spark, sf_dir):
    """The persisted-index probe must return exactly the recompute
    lsh_topk result at the same (planes, tables) config — persistence
    is a physical optimization, never a semantic one."""
    import uts_spark.registry as reg  # registry first: import trap
    from uts_spark.functions.similarity import lsh_topk
    from uts_spark.queries.llm_ops import (
        EMB_DIM,
        _ANN_IDX_PLANES,
        _ANN_IDX_TABLES,
    )

    similarity_ann_index_probe = reg.QUERIES["similarity_ann_index_probe"]

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    anchors = e.filter(F.col("vec_id") < 5)
    want = {
        (r.anchor_id, r.neighbor_id, r.rank, r.cosine)
        for r in lsh_topk(
            e, anchors, dim=EMB_DIM, k=10,
            planes=_ANN_IDX_PLANES, tables=_ANN_IDX_TABLES,
        ).collect()
    }
    got = {
        (r.anchor_id, r.neighbor_id, r.rank, r.cosine)
        for r in similarity_ann_index_probe(spark, sf_dir).collect()
    }
    assert got == want and got


def test_pq_adc_recall_floor(spark, sf_dir):
    """PQ/ADC top-10 vs exact L2 top-10. These synthetic embeddings are
    DIFFUSE (near-uniform random — the hardest case for any quantizer;
    cf. the 12x4 LSH collapse), so the floor is modest: PQ on real
    clustered embeddings recalls far higher. Also pins determinism:
    two runs return identical rows."""
    import numpy as np

    from uts_spark.functions.similarity import pq_adc_topk

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    anchors = e.filter(F.col("vec_id") < 5)
    pq1 = pq_adc_topk(e, anchors, dim=64, k=10).collect()
    pq2 = pq_adc_topk(e, anchors, dim=64, k=10).collect()
    assert {tuple(r) for r in pq1} == {tuple(r) for r in pq2}

    rows = e.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    M = np.stack([np.array(r.embedding, dtype=np.float64) for r in rows])
    recalls = []
    for a in range(5):
        av = M[ids == a][0]
        d2 = ((M - av) ** 2).sum(axis=1)
        d2[ids == a] = np.inf
        top = set(ids[np.argsort(d2, kind="stable")[:10]].tolist())
        got = {r.neighbor_id for r in pq1 if r.anchor_id == a}
        recalls.append(len(top & got) / 10)
    assert sum(recalls) / len(recalls) >= 0.1


def test_minimizer_guarantee_recall_is_one(spark, sf_dir):
    """The winnowing guarantee: every doc the exact L=15 span finder
    flags must also be flagged by k=8/w=8 minimizer anchors (recall
    EXACTLY 1.0), and thinning must be near 2/(w+1)."""
    from uts_spark.registry import QUERIES  # registry first: import trap

    [r] = QUERIES["text_substring_minimizer_eval"](spark, sf_dir).collect()
    assert r["recall"] == 1.0
    assert 0.1 < r["thin_ratio"] < 0.4
    assert r["n_exact_docs"] > 0


def test_ivf_index_probe_matches_recompute(spark, sf_dir):
    """Persisted-IVF probe == recompute ivf_topk_det at the same
    config — persistence is physical, never semantic."""
    import uts_spark.registry as reg  # registry first: import trap
    from uts_spark.functions.similarity import ivf_topk_det

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    anchors = e.filter(F.col("vec_id") < 5)
    want = {
        (r.anchor_id, r.neighbor_id, r.rank, r.cosine)
        for r in ivf_topk_det(e, anchors, k=10, n_cells=8, n_probe=3).collect()
    }
    got = {
        (r.anchor_id, r.neighbor_id, r.rank, r.cosine)
        for r in reg.QUERIES["similarity_ann_ivf_index_probe"](
            spark, sf_dir
        ).collect()
    }
    assert got == want and got


def test_lsh_index_probe_empty_anchors_returns_empty(spark, sf_dir, tmp_path):
    """An empty anchor set must return an empty frame, not a
    functools.reduce TypeError (ADVICE r5): the bucket filter is
    seeded with lit(False)."""
    from uts_spark.functions.vindex import lsh_vindex_build, lsh_vindex_probe

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(50)
    path = str(tmp_path / "lsh_idx")
    lsh_vindex_build(e, path, dim=64, planes=4, tables=2)
    empty = e.filter(F.col("vec_id") < 0)
    assert lsh_vindex_probe(spark, path, empty, k=5).count() == 0


def test_pq_adc_rejects_non_divisible_dim(spark, sf_dir):
    """dim % m_sub != 0 must fail fast, not silently drop trailing
    dimensions from encoding + distance (ADVICE r5)."""
    import pytest

    from uts_spark.functions.similarity import pq_adc_topk

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(20)
    with pytest.raises(ValueError, match="divisible by m_sub"):
        pq_adc_topk(e, e.limit(1), dim=64, m_sub=7)


def test_ann_index_path_keyed_by_content_fingerprint(spark, sf_dir, tmp_path):
    """Regenerating a dataset in place (same basename, different rows)
    must route probes to a DIFFERENT index path — the stale-index
    serving bug from ADVICE r5. Two same-basename datasets with
    different content get different fingerprints, hence different
    persisted-index directories."""
    import os

    import uts_spark.registry  # noqa: F401  (registry first: import trap)
    from uts_spark.queries.llm_ops import _emb_fingerprint, ann_index_path

    fp_full = _emb_fingerprint(spark, sf_dir)
    regen = tmp_path / os.path.basename(sf_dir.rstrip("/"))
    regen.mkdir()
    spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(40).write.parquet(
        str(regen / "embeddings.parquet")
    )
    fp_regen = _emb_fingerprint(spark, str(regen))
    assert fp_full != fp_regen
    p1, p2 = ann_index_path(sf_dir, fp_full), ann_index_path(str(regen), fp_regen)
    assert p1 != p2
    assert os.path.basename(sf_dir.rstrip("/")) in os.path.basename(p1)


def test_ivfpq_recall_at_least_pq_only(spark, sf_dir):
    """The composed IVF-PQ+rerank lane must recall at least as well as
    the PQ-only ADC scan (VERDICT r5 #4's done-bar): the exact re-rank
    recovers what quantization noise loses, and 3-of-8 probed cells
    keep enough of the true neighborhood on these diffuse embeddings."""
    import numpy as np

    import uts_spark.registry as reg  # registry first: import trap

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = e.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    M = np.stack([np.array(r.embedding, dtype=np.float64) for r in rows])

    def recall(result_rows):
        got = {}
        for r in result_rows:
            got.setdefault(r.anchor_id, set()).add(r.neighbor_id)
        recs = []
        for a in range(5):
            av = M[ids == a][0]
            d2 = ((M - av) ** 2).sum(axis=1)
            d2[ids == a] = np.inf
            top = set(ids[np.argsort(d2, kind="stable")[:10]].tolist())
            recs.append(len(top & got.get(a, set())) / 10)
        return sum(recs) / len(recs)

    r_pq = recall(reg.QUERIES["similarity_ann_pq_adc"](spark, sf_dir).collect())
    r_ivfpq = recall(
        reg.QUERIES["similarity_ann_ivfpq_probe"](spark, sf_dir).collect()
    )
    assert r_ivfpq >= r_pq, (r_ivfpq, r_pq)


def test_minhash_index_probe_matches_recompute(spark, sf_dir):
    """Persisted-index probe == the recompute band join on the same
    new x old quadrant at the same config — persistence is physical,
    never semantic (same contract as the ANN index probes)."""
    import uts_spark.registry as reg  # registry first: import trap
    from uts_spark.functions.dedup import (
        _band_bucket_rows,
        doc_shingle_arrays_portable,
        minhash_signatures_portable,
        pair_jaccard,
    )
    from uts_spark.queries.llm_ops import _MIDX_MOD, _MIDX_REM, _MIDX_THR

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    arrays = doc_shingle_arrays_portable(docs, "text", "doc_id", 3).cache()
    sig = minhash_signatures_portable(arrays, 32)
    bk = _band_bucket_rows(sig, 32, 8)
    a = bk.filter(F.col("id") % _MIDX_MOD == _MIDX_REM).select(
        F.col("id").alias("id_a"), "band", "bucket"
    )
    b = bk.filter(F.col("id") % _MIDX_MOD != _MIDX_REM).select(
        F.col("id").alias("id_b"), "band", "bucket"
    )
    cand = a.join(b, ["band", "bucket"]).select("id_a", "id_b").distinct()
    want = {
        (r.id_a, r.id_b)
        for r in pair_jaccard(cand, arrays)
        .filter(F.col("jaccard") >= _MIDX_THR)
        .collect()
    }
    got = {
        (r.id_new, r.id_old)
        for r in reg.QUERIES["dedup_minhash_index_probe"](spark, sf_dir).collect()
    }
    assert got == want


def test_minhash_index_append_roundtrip(spark):
    """The dedup service survives its second batch: batch-2 pairs
    against batch-1 docs exist ONLY via the appended index rows (sf0.01
    is the scale where such a pair occurs), and the flow is idempotent —
    a second run sees the bumped manifest fingerprint, skips the
    append, and returns the identical pair set (no duplicate index rows
    from re-appending)."""
    import uts_spark.registry as reg  # registry first: import trap
    from uts_spark.functions.dedup import index_manifest_read
    from uts_spark.queries.llm_ops import (
        _MIDX_MOD,
        _MIDX_REM,
        _frame_fingerprint,
        minhash_index_path,
    )

    sf01 = "/root/testdata/sf0.01"
    q = reg.QUERIES["dedup_minhash_index_append_probe"]
    first = {(r.id_new, r.id_old) for r in q(spark, sf01).collect()}
    assert any(old % _MIDX_MOD == _MIDX_REM for _, old in first), first
    second = {(r.id_new, r.id_old) for r in q(spark, sf01).collect()}
    assert first == second

    # the manifest chain landed on fp(base + batch1)
    docs = spark.read.parquet(f"{sf01}/documents.parquet")
    base = docs.filter(
        (F.col("doc_id") % 11 != 3) & (F.col("doc_id") % 11 != 7)
    )
    old = docs.filter(F.col("doc_id") % 11 != 7)
    path = minhash_index_path(
        sf01, _frame_fingerprint(base), k=32, bands=8, n=3
    ) + "_svc"
    m = index_manifest_read(path)
    assert m and m["fingerprint"] == _frame_fingerprint(old)


def test_ivf_append_equals_frozen_centroid_rebuild(spark, sf_dir, tmp_path):
    """Probe-after-append == probe of a FULL REBUILD that froze the
    same base centroids: appending never changes where a vector would
    have landed, it only skips re-sketching the base (VERDICT r6 #8).
    Both probes resolve their centroids from the manifest sidecar."""
    from uts_spark.functions.vindex import (
        ivf_vindex_append,
        ivf_vindex_build,
        ivf_vindex_probe,
    )
    from uts_spark.sources.versioned import read_version

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = e.filter(F.col("vec_id") % 10 != 7)
    batch = e.filter(F.col("vec_id") % 10 == 7)
    anchors = e.filter(F.col("vec_id") < 5)

    p_app = str(tmp_path / "app")
    ivf_vindex_build(base, p_app, n_cells=8)
    ivf_vindex_append(batch, p_app)

    p_re = str(tmp_path / "re")
    ivf_vindex_build(e, p_re, n_cells=8, centroid_src=base)

    key = lambda df: {  # noqa: E731
        (r["anchor_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
        for r in df.collect()
    }
    got = key(ivf_vindex_probe(spark, p_app, anchors, k=10, n_probe=3))
    want = key(ivf_vindex_probe(spark, p_re, anchors, k=10, n_probe=3))
    assert got == want and got
    # and the appended index actually contains the batch rows
    idx = read_version(spark, p_app)
    assert idx.count() == e.count()
    assert idx.filter(F.col("vec_id") % 10 == 7).count() == batch.count()


def test_minhash_index_delete_erases_matches(spark):
    """Erasure semantics, pinned against the append lane at sf0.01
    (where a batch-2 x batch-1 content pair exists): after deleting
    batch-1 from the index, exactly the pairs whose old side was a
    batch-1 doc disappear, every batch-2 x old pair survives, and a
    second run is a no-op (manifest chain)."""
    import uts_spark.registry as reg  # registry first: import trap

    sf01 = "/root/testdata/sf0.01"
    app = {
        (r.id_new, r.id_old)
        for r in reg.QUERIES["dedup_minhash_index_append_probe"](
            spark, sf01
        ).collect()
    }
    assert any(old % 11 == 3 for _, old in app)  # the pair to erase
    dele = {
        (r.id_new, r.id_old)
        for r in reg.QUERIES["dedup_minhash_index_delete_probe"](
            spark, sf01
        ).collect()
    }
    assert dele == {(n, o) for n, o in app if o % 11 != 3}
    again = {
        (r.id_new, r.id_old)
        for r in reg.QUERIES["dedup_minhash_index_delete_probe"](
            spark, sf01
        ).collect()
    }
    assert again == dele


def test_minhash_index_delete_sweeps_emptied_partitions(spark, sf_dir, tmp_path):
    """Deleting EVERY doc of an index must leave no live rows — the
    emptied-directory sweep (dynamic overwrite cannot clear a partition
    it writes zero rows into) actually fires."""
    from uts_spark.functions.dedup import (
        minhash_index_delete,
        minhash_index_write,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(40)
    path = str(tmp_path / "idx")
    minhash_index_write(docs, "text", "doc_id", path)
    removed = minhash_index_delete(spark, docs, "text", "doc_id", path)
    assert removed > 0
    import glob

    files = glob.glob(f"{path}/band=*/grp=*/*.parquet")
    live = (
        spark.read.parquet(path).count()
        if files
        else 0
    )
    assert live == 0, (removed, live)


def test_lsh_append_equals_rebuild(spark, sf_dir, tmp_path):
    """LSH append == full rebuild at the same config: hyperplanes are
    seed-derived, so the appended index's row multiset matches a fresh
    build over the grown corpus exactly."""
    import uts_spark.registry  # noqa: F401  (registry first: import trap)
    from uts_spark.functions.vindex import lsh_vindex_append, lsh_vindex_build
    from uts_spark.queries.llm_ops import EMB_DIM
    from uts_spark.sources.versioned import read_version

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = e.filter(F.col("vec_id") % 10 != 7)
    batch = e.filter(F.col("vec_id") % 10 == 7)
    p_app, p_re = str(tmp_path / "a"), str(tmp_path / "r")
    lsh_vindex_build(base, p_app, dim=EMB_DIM, planes=8, tables=2)
    lsh_vindex_append(batch, p_app, dim=EMB_DIM, planes=8, tables=2)
    lsh_vindex_build(e, p_re, dim=EMB_DIM, planes=8, tables=2)
    a = read_version(spark, p_app).drop("embedding")
    r = read_version(spark, p_re).drop("embedding")
    assert a.count() == r.count() and a.exceptAll(r).isEmpty()


def test_ivfpq_append_equals_frozen_quantizer_rebuild(spark, sf_dir, tmp_path):
    """IVF-PQ append == full rebuild with the same frozen quantizers:
    cells AND code arrays of appended vectors match what a rebuild
    (coarse centroids + PQ codebook both frozen from base) assigns."""
    import uts_spark.registry  # noqa: F401  (registry first: import trap)
    from uts_spark.functions.vindex import (
        ivfpq_vindex_append,
        ivfpq_vindex_build,
    )
    from uts_spark.queries.llm_ops import EMB_DIM
    from uts_spark.sources.versioned import read_version

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = e.filter(F.col("vec_id") % 10 != 7)
    batch = e.filter(F.col("vec_id") % 10 == 7)
    p_app, p_re = str(tmp_path / "a"), str(tmp_path / "r")
    ivfpq_vindex_build(base, p_app, dim=EMB_DIM, n_cells=8)
    ivfpq_vindex_append(batch, p_app)
    ivfpq_vindex_build(e, p_re, dim=EMB_DIM, n_cells=8, centroid_src=base)
    a = read_version(spark, p_app).select("vec_id", "cell", "codes")
    r = read_version(spark, p_re).select("vec_id", "cell", "codes")
    assert a.count() == r.count() == e.count()
    assert a.exceptAll(r).isEmpty()


def test_index_compact_preserves_probe_and_shrinks_files(spark, sf_dir, tmp_path):
    """Service lifecycle third verb: after several appends the index
    accumulates one file per touched partition per tick; compaction
    must shrink the file count while leaving probe results AND the
    frozen sidecars (manifest) byte-identical."""
    import uts_spark.registry  # noqa: F401  (registry first: import trap)
    from uts_spark.functions.dedup import (
        index_manifest_read,
        index_manifest_write,
        minhash_index_append,
        minhash_index_probe,
        minhash_index_write,
    )
    from uts_spark.sources.sinks import compact_partitioned

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    probe_batch = docs.filter(F.col("doc_id") % 10 == 9)
    old = docs.filter(F.col("doc_id") % 10 != 9)
    path = str(tmp_path / "idx")
    minhash_index_write(
        old.filter(F.col("doc_id") % 3 == 0), "text", "doc_id", path,
        fingerprint="seed",
    )
    for rem in (1, 2):
        minhash_index_append(
            old.filter(F.col("doc_id") % 3 == rem), "text", "doc_id", path
        )
    index_manifest_write(path, "after-appends", n=3, k=32, bands=8, n_grps=16)

    pairs = lambda: {  # noqa: E731
        (r.id_new, r.id_old)
        for r in minhash_index_probe(
            spark, path, probe_batch, old, "text", "doc_id"
        ).collect()
    }
    want = pairs()
    before, after = compact_partitioned(spark, path, ["band", "grp"])
    assert after < before, (before, after)
    assert pairs() == want
    m = index_manifest_read(path)
    assert m and m["fingerprint"] == "after-appends"


def test_privacy_generalize_dominates_suppression(spark, sf_dir):
    """The generalization ladder must (a) reproduce the pure-suppression
    baseline exactly in its baseline_suppression_rate column, (b) never
    suppress MORE than the baseline (widening a band can only grow k
    and l), and (c) account every row into exactly one level or the
    suppressed bucket."""
    import uts_spark.registry as reg  # registry first: import trap

    gen = {
        r["event_type"]: r
        for r in reg.QUERIES["privacy_generalize_release"](spark, sf_dir).collect()
    }
    sup = {
        r["event_type"]: r
        for r in reg.QUERIES["privacy_suppressed_release"](spark, sf_dir).collect()
    }
    assert set(gen) == set(sup)
    for et, g in gen.items():
        s = sup[et]
        assert abs(g["baseline_suppression_rate"] - s["suppression_rate"]) < 1e-12
        assert g["n_suppressed"] <= s["n_suppressed"], et
        parts = sum(g[f"n_l{j}"] for j in range(5)) + g["n_suppressed"]
        assert parts == g["n_rows"] == g["n_released"] + g["n_suppressed"]
        if g["n_released"]:
            assert g["avg_band_widening"] >= 1.0


def test_privacy_2d_ladder_dominates_1d(spark, sf_dir):
    """The 2-D ladder's extra axis can only help: it must suppress no
    more rows than the 1-D band-only ladder (both start at the same L0
    and the 2-D rungs are supersets in coarsening power), and its
    accounting must balance."""
    import uts_spark.registry as reg  # registry first: import trap

    d2 = {
        r["event_type"]: r
        for r in reg.QUERIES["privacy_generalize_2d_release"](
            spark, sf_dir
        ).collect()
    }
    d1 = {
        r["event_type"]: r
        for r in reg.QUERIES["privacy_generalize_release"](spark, sf_dir).collect()
    }
    assert set(d2) == set(d1)
    for et, g in d2.items():
        parts = sum(g[f"n_l{j}"] for j in range(5)) + g["n_suppressed"]
        assert parts == g["n_rows"] == g["n_released"] + g["n_suppressed"]
        if g["n_released"]:
            assert g["avg_band_widening"] >= 1.0
            assert g["avg_days_per_bucket"] >= 1.0
        # EMPIRICAL pin on this dataset (the two ladders' top rungs —
        # 800x1d vs 400x28d — are not nested, so no structural
        # guarantee exists): both release everything here
        assert g["n_suppressed"] <= d1[et]["n_suppressed"]


def test_quality_model_weights_reproduce_from_fit():
    """Weight provenance: the INTEGER weights frozen in llm_ops._QM_W
    must reproduce bit-for-bit from the deterministic offline fit
    (tools/fit_quality_model.py at sf0.01) — the model in the code is
    the model the fit produced, not hand-tuned numbers."""
    import uts_spark.registry  # noqa: F401  (registry first: import trap)
    from tools.fit_quality_model import fit
    from uts_spark.queries.llm_ops import _QM_W

    weights, stats = fit("/root/testdata/sf0.01")
    assert weights == _QM_W, (weights, _QM_W)
    assert stats["precision"] >= 0.9 and stats["recall"] >= 0.9


def test_quality_model_beats_coin_flip_against_gopher(spark, sf_dir):
    """The frozen logistic weights must actually separate: precision
    AND recall >= 0.9 against the Gopher pseudo-labels on the held-out
    sf0.001 corpus (weights were fit at sf0.01 — see
    tools/fit_quality_model.py; measured 0.975/0.975)."""
    import uts_spark.registry as reg  # registry first: import trap

    row = reg.QUERIES["text_quality_model_eval"](spark, sf_dir).first()
    assert row["precision"] >= 0.9, row
    assert row["recall"] >= 0.9, row


def test_minhash_index_config_mismatch_raises(spark, sf_dir, tmp_path):
    """A probe whose parameters disagree with the index manifest must
    raise, never silently drop pairs (ADVICE r6, medium)."""
    import pytest

    from uts_spark.functions.dedup import (
        minhash_index_probe,
        minhash_index_write,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    path = str(tmp_path / "idx")
    minhash_index_write(docs, "text", "doc_id", path, n=3, k=32, bands=8)
    with pytest.raises(ValueError, match="config mismatch"):
        minhash_index_probe(
            spark, path, docs.limit(5), docs, "text", "doc_id",
            n=3, k=32, bands=4,
        )


def test_index_compact_recovers_from_crashed_prior_run(spark, sf_dir, tmp_path):
    """compact_partitioned re-entrancy (ADVICE r7): a prior run that
    died BETWEEN its two renames leaves the index only at `path__old`
    (nothing at `path`); one that died after the second rename leaves a
    stale `__old` beside the live index. Both states must self-heal on
    the next invocation — same probe pairs, no OSError."""
    import os
    import shutil

    import uts_spark.registry  # noqa: F401  (registry first: import trap)
    from uts_spark.functions.dedup import (
        minhash_index_probe,
        minhash_index_write,
    )
    from uts_spark.sources.sinks import compact_partitioned

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    probe_batch = docs.filter(F.col("doc_id") % 10 == 9)
    old = docs.filter(F.col("doc_id") % 10 != 9)
    path = str(tmp_path / "idx")
    minhash_index_write(old, "text", "doc_id", path, fingerprint="seed")
    pairs = lambda: {  # noqa: E731
        (r.id_new, r.id_old)
        for r in minhash_index_probe(
            spark, path, probe_batch, old, "text", "doc_id"
        ).collect()
    }
    want = pairs()

    # state 1: crash between rename(path, old) and rename(tmp, path)
    os.rename(path, path + "__old")
    assert not os.path.exists(path)
    compact_partitioned(spark, path, ["band", "grp"])
    assert os.path.exists(path) and not os.path.exists(path + "__old")
    assert pairs() == want

    # state 2: crash after the second rename, before the rmtree —
    # stale __old (superseded copy) beside the live index
    shutil.copytree(path, path + "__old")
    compact_partitioned(spark, path, ["band", "grp"])
    assert not os.path.exists(path + "__old")
    assert pairs() == want


def test_index_tick_pending_marker_forces_rebuild(spark, sf_dir):
    """Append-vs-manifest atomicity (ADVICE r7): the append protocol is
    append-files THEN bump-manifest; a crash between them must not lead
    a re-run to re-append the batch (permanent row duplication). The
    tick writes a _PENDING marker first — index_state() reports the
    index untrusted while it exists, so the service lane rebuilds; and
    a successful tick clears it."""
    import json
    import os

    import uts_spark.registry as reg  # registry first: import trap
    from uts_spark.functions.dedup import index_state
    from uts_spark.queries.llm_ops import (
        _MIDX_BANDS,
        _MIDX_K,
        _MIDX_MOD,
        _MIDX_N,
        _MIDX_REM,
        _MIDX_REM2,
        _frame_fingerprint,
        minhash_index_path,
    )

    run = lambda: sorted(  # noqa: E731
        tuple(r) for r in reg.QUERIES["dedup_minhash_index_append_probe"](
            spark, sf_dir
        ).collect()
    )
    want = run()

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = docs.filter(
        (F.col("doc_id") % _MIDX_MOD != _MIDX_REM)
        & (F.col("doc_id") % _MIDX_MOD != _MIDX_REM2)
    )
    fp0 = _frame_fingerprint(base)
    cfg = dict(n=_MIDX_N, k=_MIDX_K, bands=_MIDX_BANDS)
    path = minhash_index_path(sf_dir, fp0, **cfg) + "_svc"
    assert os.path.exists(path), path
    # after a clean tick there is no marker and state == the manifest fp
    assert not os.path.exists(os.path.join(path, "_PENDING.json"))
    assert index_state(path) is not None

    # simulate the torn tick: marker present, manifest stale or not —
    # state must read None and the lane must rebuild + re-tick cleanly
    with open(os.path.join(path, "_PENDING.json"), "w") as fh:
        json.dump({"fingerprint": "torn"}, fh)
    assert index_state(path) is None
    n0 = sum(len(fs) for _, _, fs in os.walk(path))
    got = run()
    assert got == want
    assert not os.path.exists(os.path.join(path, "_PENDING.json"))
    # the rebuild did NOT double-append: file census is tick-shaped,
    # not monotonically grown from the torn state
    n1 = sum(len(fs) for _, _, fs in os.walk(path))
    assert n1 <= n0 + 1, (n0, n1)


def test_vector_index_delete_probes_erase_physically_and_idempotent(
    spark, sf_dir
):
    """VERDICT r7 #1: the three vector-index erasure lanes must (a)
    return no deleted vector in any neighbor list, (b) be idempotent
    on re-run (manifest fingerprint chain), and (c) have PHYSICALLY
    removed the erased ids from the current snapshot's index rows —
    the GDPR point is the bytes, not the query result."""
    import uts_spark.registry as reg  # registry first: import trap
    from uts_spark.queries.llm_ops import (
        _IVF_APP_MOD,
        _IVF_APP_REM,
        _emb_frame_fingerprint,
        ivf_index_path,
    )
    from uts_spark.sources.versioned import read_version

    for name in (
        "similarity_ann_lsh_delete_probe",
        "similarity_ann_ivf_delete_probe",
        "similarity_ann_ivfpq_delete_probe",
    ):
        rows = sorted(tuple(r) for r in reg.QUERIES[name](spark, sf_dir).collect())
        assert rows, name
        assert all(
            r[1] % _IVF_APP_MOD != _IVF_APP_REM for r in rows
        ), f"{name}: deleted vector still served as a neighbor"
        again = sorted(
            tuple(r) for r in reg.QUERIES[name](spark, sf_dir).collect()
        )
        assert again == rows, f"{name}: delete tick not idempotent"

    # physical erasure, pinned on the IVF family: the current
    # snapshot's dirs hold zero rem-7 rows after the delete tick
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    fp_full = _emb_frame_fingerprint(e)
    path = ivf_index_path(sf_dir, fp_full, n_cells=8) + "_ivfdel"
    idx = read_version(spark, path)
    left = idx.filter(F.col("vec_id") % _IVF_APP_MOD == _IVF_APP_REM).count()
    assert left == 0, f"{left} erased rows physically survive in {path}"
    # and the erasure did not over-delete: every surviving vector is
    # still indexed exactly once
    n_idx = idx.count()
    n_surv = e.filter(F.col("vec_id") % _IVF_APP_MOD != _IVF_APP_REM).count()
    assert n_idx == n_surv, (n_idx, n_surv)


def test_ivf_index_fit_monitors_drift_against_frozen_centroids(
    spark, tmp_path
):
    """VERDICT r7 #4: the service-side drift monitor. Build an IVF
    index over the base corpus, then append an UNDRIFTED batch and a
    DRIFTED batch (dyadic component shift) with ``record_fit``: each
    append commits its batch's fit ints against the frozen centroids
    on its manifest. The drifted batch must fit strictly worse than
    the undrifted one, and the measured 0.82-ratio policy against the
    build's ``fit_ref`` must flag it exactly as the registered monitor
    query does.

    Pinned at sf0.01 — the corpus the SCALE.md drift table and the
    0.82 threshold were measured on. (Fit under drift is a property of
    (shift direction, centroid geometry): on the sf0.001 corpus the
    same +0.5 shift happens to ALIGN with a frozen centroid and fit
    rises — which is correct monitor behavior: data that lands near an
    existing centroid is still well represented.)"""
    import uts_spark.registry  # noqa: F401  registry first: import trap
    from uts_spark.functions.vindex import ivf_vindex_append, ivf_vindex_build
    from uts_spark.queries.llm_ops import (
        _DRIFT_RECLUSTER_MILLI,
        _IVF_APP_MOD,
        _IVF_APP_REM,
        _drift_frames,
    )
    from uts_spark.sources.versioned import list_versions

    sf01 = "/root/testdata/sf0.01"
    e = spark.read.parquet(f"{sf01}/embeddings.parquet")
    base = e.filter(F.col("vec_id") % _IVF_APP_MOD != _IVF_APP_REM)
    path = str(tmp_path / "ivf_fit_idx")
    ivf_vindex_build(base, path, n_cells=8)

    batch_same = e.filter(F.col("vec_id") % _IVF_APP_MOD == _IVF_APP_REM)
    _, corpus_drifted = _drift_frames(e, 0.5)
    batch_drifted = corpus_drifted.filter(F.col("vec_id") >= 1_000_000)

    def mean_fit(batch):
        ivf_vindex_append(batch, path, record_fit=True)
        m = list_versions(path)[-1]
        return m["fit_sum"] / m["fit_n"]

    ref_sum, ref_n = list_versions(path)[-1]["fit_ref"]
    base_fit = ref_sum / ref_n
    fit_same = mean_fit(batch_same)
    fit_drifted = mean_fit(batch_drifted)

    assert fit_drifted < fit_same, (fit_drifted, fit_same)
    thr = base_fit * _DRIFT_RECLUSTER_MILLI / 1000.0
    assert fit_drifted < thr, "drifted batch must trip the re-cluster flag"
    assert fit_same > fit_drifted * 1.2, "separation should be material"


def test_append_drift_eval_frozen_loses_recall_at_moderate_drift(spark):
    """The headline drift measurement must reproduce at the corpus it
    was taken on (sf0.01): at drift 0.125 the frozen-centroid
    (appended) configuration trails the fresh rebuild in recall@10; at
    drift 0 the two arms are within sampling-noise distance (<= 0.1)."""
    import uts_spark.registry as reg

    rows = {
        (r["drift"], r["arm"]): r["recall_at_10"]
        for r in reg.QUERIES["similarity_ann_append_drift_eval"](
            spark, "/root/testdata/sf0.01"
        ).collect()
    }
    assert rows[(0.125, "appended_frozen")] < rows[(0.125, "rebuilt_fresh")]
    assert abs(rows[(0.0, "appended_frozen")] - rows[(0.0, "rebuilt_fresh")]) <= 0.1


def test_ivf_index_recluster_restores_fresh_quantizer(spark, tmp_path):
    """The drift policy's corrective verb: build over base, append a
    drifted batch (frozen centroids), then RECLUSTER — the rewritten
    index must probe exactly like a fresh build over the full corpus
    (fresh centroids), with a new centroid sidecar and the drift
    reference reset to the re-clustered corpus fit."""
    import uts_spark.registry  # noqa: F401  registry first: import trap
    from uts_spark.functions.vindex import (
        ivf_vindex_append,
        ivf_vindex_build,
        ivf_vindex_probe,
        ivf_vindex_recluster,
    )
    from uts_spark.queries.llm_ops import _drift_frames
    from uts_spark.sources.versioned import list_versions

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    base, corpus = _drift_frames(e, 0.5)
    batch = corpus.filter(F.col("vec_id") >= 1_000_000)
    anchors = corpus.filter(F.col("vec_id") < 5)

    # appended index (frozen base centroids), then recluster
    idx = str(tmp_path / "idx")
    ivf_vindex_build(base, idx, n_cells=8)
    ivf_vindex_append(batch, idx)
    before = list_versions(idx)[-1]
    ivf_vindex_recluster(spark, idx)
    after = list_versions(idx)[-1]
    assert after["operation"] == "recluster"
    assert after["centroids_dir"] != before["centroids_dir"]
    assert after["fit_ref"][1] == corpus.count()

    # reference: fresh one-shot build over the same corpus
    ref = str(tmp_path / "ref")
    ivf_vindex_build(corpus, ref, n_cells=8)

    got = sorted(map(tuple, ivf_vindex_probe(spark, idx, anchors).collect()))
    want = sorted(map(tuple, ivf_vindex_probe(spark, ref, anchors).collect()))
    assert got == want, "recluster must equal a fresh full-corpus build"


def test_quality_model_refit_gate_is_deterministic_and_strict():
    """ROADMAP r8: frozen weights swap ONLY on strictly-better held-out
    F1. The harness must be bit-deterministic across runs, its gate
    must equal the strict comparison it claims, and the shipped
    incumbent must clear a sane holdout floor (if this ever drops, the
    pseudo-labels or features drifted and the frozen weights are
    stale)."""
    import sys

    sys.path.insert(0, "tools")
    from refit_quality_model import refit

    a = refit("/root/testdata/sf0.01")
    b = refit("/root/testdata/sf0.01")
    assert a == b, "refit harness must be deterministic"
    best = max(a["f1_refit5"], a["f1_refit6_xent"])
    assert a["swap_recommended"] == (best > a["f1_incumbent"])
    assert a["f1_incumbent"] >= 0.9
    if a["swap_recommended"]:
        assert "candidate_weights" in a


def test_index_tick_enforces_single_writer(tmp_path):
    """Multi-writer safety: the pending marker is O_EXCL, so a second
    concurrent tick fails fast with IndexBusyError instead of both
    writers interleaving appends and stomping the manifest; after the
    first tick completes, the next one proceeds."""
    import pytest
    from uts_spark.functions.dedup import (
        IndexBusyError,
        index_state,
        index_tick,
    )

    idx = str(tmp_path / "idx")
    import os

    os.makedirs(idx)

    seen = []

    def work_outer():
        # while the outer tick holds the marker, a competitor must bounce
        with pytest.raises(IndexBusyError):
            index_tick(idx, "fp_competitor", lambda: seen.append("inner"))
        seen.append("outer")

    index_tick(idx, "fp1", work_outer)
    assert seen == ["outer"], "competitor work must never have run"
    assert index_state(idx) == "fp1"
    index_tick(idx, "fp2", lambda: seen.append("second"))
    assert seen == ["outer", "second"] and index_state(idx) == "fp2"


def test_index_version_pinned_reads_and_reset_semantics(spark, tmp_path):
    """Round 8 time travel: (a) a version-0-pinned probe of an
    appended index equals a probe of the never-appended index; (b) the
    replayed idempotent append does not duplicate its history line;
    (c) erasure appends a RESET census and older pins raise."""
    import os

    import pytest
    from uts_spark.functions.dedup import (
        index_files_at,
        index_history_versions,
        minhash_index_append_idempotent,
        minhash_index_delete,
        minhash_index_probe,
        minhash_index_write,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base = docs.filter(F.col("doc_id") % 11 == 0)
    b1 = docs.filter(F.col("doc_id") % 11 == 1)
    b2 = docs.filter(F.col("doc_id") % 11 == 2)
    cfg = dict(n=3, k=16, bands=4)

    idx = str(tmp_path / "idx")
    minhash_index_write(base, "text", "doc_id", idx, fingerprint="f0", **cfg)
    ref = str(tmp_path / "ref")  # never-appended twin
    minhash_index_write(base, "text", "doc_id", ref, fingerprint="f0", **cfg)

    minhash_index_append_idempotent(b1, "text", "doc_id", idx, 0, **cfg)
    # replay the same epoch: history must not grow a duplicate line
    minhash_index_append_idempotent(b1, "text", "doc_id", idx, 0, **cfg)
    recs = index_history_versions(idx)
    assert [r["version"] for r in recs] == [0, 1]

    def probe(path, old, **kw):
        return sorted(
            map(
                tuple,
                minhash_index_probe(
                    spark, path, b2, old, "text", "doc_id",
                    threshold=0.3, **cfg, **kw,
                ).collect(),
            )
        )

    pinned0 = probe(idx, base, version=0)
    never = probe(ref, base)
    assert pinned0 == never, "version-0 pin must hide the appended tick"
    both = docs.filter(F.col("doc_id") % 11 <= 1)
    assert probe(idx, both, version=1) == probe(idx, both)

    # erasure invalidates earlier pins
    n_files_before = len(index_files_at(idx, 1))
    minhash_index_delete(spark, b1, "text", "doc_id", idx, **cfg)
    recs = index_history_versions(idx)
    assert recs[-1]["reset"] and recs[-1]["version"] == 2
    with pytest.raises(ValueError, match="predates the rewrite"):
        index_files_at(idx, 1)
    assert len(index_files_at(idx, 2)) <= n_files_before
    assert os.path.exists(idx)


def test_ivf_append_idempotent_replay_converges(spark, tmp_path):
    """Exactly-once vector append: a replayed batch id converges to
    the same index as a single plain append — the replay finds its
    batch key on a committed manifest and commits nothing."""
    from uts_spark.functions.vindex import ivf_vindex_append, ivf_vindex_build
    from uts_spark.sources.versioned import list_versions, read_version

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = e.filter(F.col("vec_id") % 10 != 7)
    batch = e.filter(F.col("vec_id") % 10 == 7)

    p_plain, p_idem = str(tmp_path / "p"), str(tmp_path / "i")
    ivf_vindex_build(base, p_plain, n_cells=8)
    ivf_vindex_build(base, p_idem, n_cells=8)
    ivf_vindex_append(batch, p_plain)
    v = ivf_vindex_append(batch, p_idem, batch_id=0)
    assert ivf_vindex_append(batch, p_idem, batch_id=0) == v  # replay

    cols = ["vec_id", "cell"]
    a = sorted(map(tuple, read_version(spark, p_plain).select(*cols).collect()))
    b = sorted(map(tuple, read_version(spark, p_idem).select(*cols).collect()))
    assert a == b, "replayed idempotent append diverged from plain append"
    ms = list_versions(p_idem)
    assert [m["version"] for m in ms] == [0, 1]
    assert ms[-1]["batch_key"].endswith("b0")


def test_lsh_ivfpq_exactly_once_and_version_pins(spark, tmp_path):
    """The service matrix across the persisted vector families: LSH
    and IVF-PQ get the same batch-id-keyed exactly-once append (replay
    converges to the plain append's rows) and — for LSH —
    version-pinned probes (v0 hides the appended tick; a delete is a
    new version, and pins before it still read their own rows until
    vacuum)."""
    import uts_spark.registry  # noqa: F401  registry first: import trap
    from uts_spark.functions.vindex import (
        ivfpq_vindex_append,
        ivfpq_vindex_build,
        lsh_vindex_append,
        lsh_vindex_build,
        lsh_vindex_delete,
        lsh_vindex_probe,
    )
    from uts_spark.queries.llm_ops import EMB_DIM
    from uts_spark.sources.versioned import list_versions, read_version

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = e.filter(F.col("vec_id") % 10 != 7)
    batch = e.filter(F.col("vec_id") % 10 == 7)
    anchors = e.filter(F.col("vec_id") < 3)
    cfg = dict(dim=EMB_DIM, planes=4, tables=2)

    def rows(path, cols):
        return sorted(
            map(tuple, read_version(spark, path).select(*cols).collect())
        )

    # --- LSH: exactly-once + version pins ---
    lp, li = str(tmp_path / "lp"), str(tmp_path / "li")
    lsh_vindex_build(base, lp, **cfg)
    lsh_vindex_build(base, li, **cfg)
    lsh_vindex_append(batch, lp, **cfg)
    lsh_vindex_append(batch, li, batch_id=0, **cfg)
    lsh_vindex_append(batch, li, batch_id=0, **cfg)
    cols = ["vec_id", "table", "bucket"]
    assert rows(lp, cols) == rows(li, cols), "LSH replayed append diverged"
    assert [m["version"] for m in list_versions(li)] == [0, 1]

    def lprobe(path, **kw):
        return sorted(
            map(tuple, lsh_vindex_probe(spark, path, anchors, k=5, **kw).collect())
        )

    ref = str(tmp_path / "lref")
    lsh_vindex_build(base, ref, **cfg)
    assert lprobe(li, version=0) == lprobe(ref), "v0 pin must hide the tick"
    before_delete = lprobe(li)
    assert lprobe(li, version=1) == before_delete

    lsh_vindex_delete(spark, batch.select("vec_id"), li)
    assert list_versions(li)[-1]["operation"] == "delete"
    assert lprobe(li) == lprobe(ref)
    assert lprobe(li, version=1) == before_delete

    # --- IVF-PQ: exactly-once append replay converges ---
    pp, pi = str(tmp_path / "pp"), str(tmp_path / "pi")
    ivfpq_vindex_build(base, pp, dim=EMB_DIM, n_cells=8)
    ivfpq_vindex_build(base, pi, dim=EMB_DIM, n_cells=8)
    ivfpq_vindex_append(batch, pp)
    ivfpq_vindex_append(batch, pi, batch_id=0)
    ivfpq_vindex_append(batch, pi, batch_id=0)
    cols = ["vec_id", "cell", "codes"]
    assert rows(pp, cols) == rows(pi, cols), "IVF-PQ replayed append diverged"
    assert [m["version"] for m in list_versions(pi)] == [0, 1]


def test_ivfpq_recluster_refreshes_both_quantizers(spark, tmp_path):
    """The IVF-PQ corrective verb: after appending a drifted batch
    against frozen quantizers, recluster rewrites with fresh centroids
    AND a fresh codebook — probe equals a fresh one-shot build over
    the grown corpus, and the post-recluster corpus distortion (the new
    monitor reference) is below the drifted batch's distortion against
    the OLD codebook."""
    import uts_spark.registry  # noqa: F401  registry first: import trap
    from uts_spark.functions.vindex import (
        ivfpq_vindex_append,
        ivfpq_vindex_build,
        ivfpq_vindex_probe,
        ivfpq_vindex_recluster,
    )
    from uts_spark.queries.llm_ops import EMB_DIM, _drift_frames
    from uts_spark.sources.versioned import list_versions

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    base, corpus = _drift_frames(e, 0.5)
    batch = corpus.filter(F.col("vec_id") >= 1_000_000)
    anchors = corpus.filter(F.col("vec_id") < 5)

    idx = str(tmp_path / "idx")
    ivfpq_vindex_build(base, idx, dim=EMB_DIM, n_cells=8)
    ivfpq_vindex_append(batch, idx, record_dist=True)
    before = list_versions(idx)[-1]
    drifted_dist = before["dist_sum"] / before["dist_n"]

    ivfpq_vindex_recluster(spark, idx)
    after = list_versions(idx)[-1]
    assert after["centroids_dir"] != before["centroids_dir"]
    assert after["codebook_dir"] != before["codebook_dir"]
    new_sum, new_n = after["dist_ref"]
    assert new_n == corpus.count() and new_sum / new_n < drifted_dist

    ref = str(tmp_path / "ref")
    ivfpq_vindex_build(corpus, ref, dim=EMB_DIM, n_cells=8)
    got = sorted(map(tuple, ivfpq_vindex_probe(spark, idx, anchors).collect()))
    want = sorted(map(tuple, ivfpq_vindex_probe(spark, ref, anchors).collect()))
    assert got == want, "recluster must equal a fresh full-corpus build"


def test_facility_location_gains_monotone_and_distinct(spark):
    """Submodularity made visible: greedy facility-location marginal
    gains must be non-increasing, the selected ids distinct, and every
    gain non-negative."""
    import uts_spark.registry as reg

    rows = sorted(
        (r["rank"], r["id"], r["gain_n"])
        for r in reg.QUERIES["corpus_coreset_facility_location"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    )
    gains = [g for _, _, g in rows]
    ids = [i for _, i, _ in rows]
    assert len(set(ids)) == len(ids)
    assert all(g >= 0 for g in gains)
    assert all(a >= b for a, b in zip(gains, gains[1:])), gains


def test_dsir_select_prefers_target_like_docs(spark):
    """The DSIR ranking must actually prefer the target distribution:
    a clear majority of the selected top-50 should be docs the frozen
    quality model itself accepts (the score rewards target-like
    unigrams, so leakage of rejected docs should be rare), and
    importances must be ranked non-increasing."""
    import uts_spark.registry as reg
    from uts_spark.queries.llm_ops import _QM_W, _quality_model_features

    sf = "/root/testdata/sf0.01"
    sel = reg.QUERIES["corpus_dsir_select"](spark, sf).collect()
    imps = [r["importance_n"] for r in sorted(sel, key=lambda r: r["rnk"])]
    assert all(a >= b for a, b in zip(imps, imps[1:]))

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    w = _QM_W
    feats = _quality_model_features(docs)
    logit = (
        F.lit(w["w0"])
        + F.lit(w["x_len"]) * F.col("x_len")
        + F.lit(w["x_stop"]) * F.col("x_stop")
        + F.lit(w["x_mwl"]) * F.col("x_mwl")
        + F.lit(w["x_ttr"]) * F.col("x_ttr")
        + F.lit(w["x_rep"]) * F.col("x_rep")
    ).cast("long")
    passing = {
        r["doc_id"]
        for r in feats.filter(logit >= 0).select("doc_id").collect()
    }
    frac = sum(1 for r in sel if r["doc_id"] in passing) / len(sel)
    assert frac >= 0.8, f"only {frac:.2f} of DSIR top-50 are target-like"


# --------------------------------------------------------------------------
# Round 9: compaction x version pins, epoch-keyed batch reuse, recluster
# history carry, realized-pool coreset guard, empty-census pin errors.


def test_compaction_resets_version_history(spark, tmp_path):
    """VERDICT r8 #1 (the one defect found): compaction rewrites every
    data file under new part-* names, so it must append a RESET census
    line exactly like the erasure path — (a) a pinned probe at the
    post-compaction version is row-identical to an unpinned probe,
    (b) a pinned probe at any pre-compaction version raises the
    designed 'predates the rewrite' ValueError, never PATH_NOT_FOUND."""
    from uts_spark.functions.dedup import (
        index_files_at,
        index_history_versions,
        minhash_index_append_idempotent,
        minhash_index_probe,
        minhash_index_write,
    )
    from uts_spark.sources.sinks import compact_partitioned

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    base = docs.filter(F.col("doc_id") % 11 == 0)
    b1 = docs.filter(F.col("doc_id") % 11 == 1)
    b2 = docs.filter(F.col("doc_id") % 11 == 2)
    cfg = dict(n=3, k=16, bands=4)

    idx = str(tmp_path / "idx")
    minhash_index_write(base, "text", "doc_id", idx, fingerprint="f0", **cfg)
    minhash_index_append_idempotent(b1, "text", "doc_id", idx, 0, **cfg)
    assert [r["version"] for r in index_history_versions(idx)] == [0, 1]

    old_docs = docs.filter(F.col("doc_id") % 11 <= 1)

    def probe(**kw):
        return sorted(
            map(
                tuple,
                minhash_index_probe(
                    spark, idx, b2, old_docs, "text", "doc_id",
                    threshold=0.3, **cfg, **kw,
                ).collect(),
            )
        )

    want = probe()
    compact_partitioned(spark, idx, ["band", "grp"])

    recs = index_history_versions(idx)
    assert recs[-1]["version"] == 2 and recs[-1]["reset"]
    assert recs[-1].get("compaction") is True
    # (a) pin at the post-compaction version == unpinned
    assert probe(version=2) == probe() == want
    # (b) pre-compaction pins fail with the DESIGNED error
    for v in (0, 1):
        with pytest.raises(ValueError, match="predates the rewrite"):
            index_files_at(idx, v)


def test_batch_id_reuse_after_reset_is_epoch_keyed(spark, tmp_path):
    """ADVICE r8 (medium): a batch_id REUSED after a reset (a fresh
    stream restarting at bid 0 post-compaction/-erasure) must (a) open
    a NEW history line instead of rewriting the dead pre-reset one,
    and (b) publish under an epoch-qualified name so the staged
    kernel's sweep cannot delete the earlier generation's surviving
    b0-* files out of untouched partitions."""
    import glob
    import os

    from uts_spark.functions.dedup import (
        index_epoch,
        index_files_at,
        index_history_versions,
        minhash_index_append_idempotent,
        minhash_index_write,
    )
    from uts_spark.sources.sinks import compact_partitioned

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    base = docs.filter(F.col("doc_id") % 11 == 0)
    b1 = docs.filter(F.col("doc_id") % 11 == 1)
    b2 = docs.filter(F.col("doc_id") % 11 == 2)
    cfg = dict(n=3, k=16, bands=4)

    idx = str(tmp_path / "idx")
    minhash_index_write(base, "text", "doc_id", idx, fingerprint="f0", **cfg)
    assert index_epoch(idx) == 0
    minhash_index_append_idempotent(b1, "text", "doc_id", idx, 0, **cfg)
    # compaction's reset lands at version 2 -> epoch 2 (epochs are
    # keyed by the reset VERSION so they survive a history vacuum)
    compact_partitioned(spark, idx, ["band", "grp"])
    assert index_epoch(idx) == 2

    rows_before = spark.read.parquet(idx).count()
    # the restarted stream reuses batch_id 0 with DIFFERENT docs
    minhash_index_append_idempotent(b2, "text", "doc_id", idx, 0, **cfg)
    recs = index_history_versions(idx)
    # (a) a NEW line at version 3 — the dead pre-reset bid-0 line
    # (version 1) is untouched
    assert [r["version"] for r in recs] == [0, 1, 2, 3]
    assert recs[-1]["batch_id"] == 0 and not recs[-1]["reset"]
    assert recs[1]["batch_id"] == 0 and recs[1]["version"] == 1
    # (b) epoch-qualified publish names; no compacted file was swept
    pub = glob.glob(os.path.join(idx, "band=*", "grp=*", "e2b0-*.parquet"))
    assert pub, "epoch-2 publish names missing"
    assert spark.read.parquet(idx).count() > rows_before
    # the current-version census covers compacted files + the new tick
    latest = index_files_at(idx, 3)
    assert set(os.path.join(idx, r) for r in recs[-1]["files"]) <= set(latest)
    assert len(latest) > len(index_files_at(idx, 2))

    # replaying the SAME (epoch, batch_id) still converges: no new line
    minhash_index_append_idempotent(b2, "text", "doc_id", idx, 0, **cfg)
    assert [r["version"] for r in index_history_versions(idx)] == [0, 1, 2, 3]


def test_ivf_recluster_carries_version_history(spark, tmp_path):
    """ADVICE r8 (medium): re-cluster must CONTINUE the version chain
    — the recluster is the next version, and a reader holding a
    pre-recluster pin (including version 0) still reads that version's
    rows with that version's centroids instead of silently resolving
    onto the rewritten index."""
    from uts_spark.functions.vindex import (
        ivf_vindex_append,
        ivf_vindex_build,
        ivf_vindex_probe,
        ivf_vindex_recluster,
    )
    from uts_spark.sources.versioned import list_versions

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    base = e.filter(F.col("vec_id") % 10 != 7)
    batch = e.filter(F.col("vec_id") % 10 == 7)
    anchors = e.filter(F.col("vec_id") < 3)

    idx = str(tmp_path / "ivf")
    ivf_vindex_build(base, idx, n_cells=8)
    ivf_vindex_append(batch, idx, batch_id=0)

    def probe(**kw):
        return sorted(
            map(tuple, ivf_vindex_probe(spark, idx, anchors, k=5, **kw).collect())
        )

    pins = {v: probe(version=v) for v in (0, 1)}
    ivf_vindex_recluster(spark, idx)
    ms = list_versions(idx)
    assert [m["version"] for m in ms] == [0, 1, 2]
    assert ms[-1]["operation"] == "recluster"
    for v in (0, 1):
        assert probe(version=v) == pins[v], f"pin {v} moved"
    assert probe(version=2) == probe(), "post-recluster pin must match"


def test_coreset_realized_pool_guard(spark):
    """ADVICE r8 (low): when the CORPUS has fewer than k vectors the
    k<=pool guard passes but later rounds emit empty winners and the
    result silently shrinks below k rows — must raise instead."""
    from uts_spark.functions.similarity import coreset_facility_location

    e = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .filter(F.col("vec_id") < 3)
    )
    with pytest.raises(ValueError, match="realized candidate pool"):
        coreset_facility_location(e, k=6, pool=24)
    out = coreset_facility_location(e, k=3, pool=24).collect()
    assert [r["rank"] for r in sorted(out, key=lambda r: r.rank)] == [1, 2, 3]


def test_version_pin_empty_census_raises_descriptive(spark, tmp_path):
    """ADVICE r8 (low): a version whose census is EMPTY (empty build /
    empty-batch tick) must produce a descriptive error from the pinned
    probe path, not spark.read.parquet()'s opaque 'cannot infer
    schema' on zero paths."""
    import os

    from uts_spark.functions.dedup import (
        index_history_append,
        index_scan_at,
    )

    idx = str(tmp_path / "empty")
    os.makedirs(idx)
    index_history_append(idx, 0, [])  # an empty build's census
    with pytest.raises(ValueError, match="EMPTY file census"):
        index_scan_at(spark, idx, 0)


def test_index_history_vacuum_bounds_sidecar(spark, tmp_path):
    """VERDICT r8 #7: the history sidecar grows one line per tick
    forever; vacuum truncates to the records from the last reset on.
    Nothing reachable changes — the current version's census and
    probe results are identical, stale pins raise the SAME 'predates
    the rewrite' error (the reset line is retained), the epoch does
    not regress — and the dead lines are gone."""
    from uts_spark.functions.dedup import (
        index_epoch,
        index_files_at,
        index_history_vacuum,
        index_history_versions,
        minhash_index_append_idempotent,
        minhash_index_delete,
        minhash_index_write,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    base = docs.filter(F.col("doc_id") % 11 == 0)
    b1 = docs.filter(F.col("doc_id") % 11 == 1)
    b2 = docs.filter(F.col("doc_id") % 11 == 2)
    cfg = dict(n=3, k=16, bands=4)

    idx = str(tmp_path / "idx")
    minhash_index_write(base, "text", "doc_id", idx, fingerprint="f0", **cfg)
    minhash_index_append_idempotent(b1, "text", "doc_id", idx, 0, **cfg)
    minhash_index_delete(spark, b1, "text", "doc_id", idx, **cfg)  # reset v2
    minhash_index_append_idempotent(b2, "text", "doc_id", idx, 1, **cfg)
    assert [r["version"] for r in index_history_versions(idx)] == [0, 1, 2, 3]

    epoch_before = index_epoch(idx)
    census_before = index_files_at(idx, 3)
    removed = index_history_vacuum(idx)
    assert removed == 2  # versions 0 and 1 dropped
    assert [r["version"] for r in index_history_versions(idx)] == [2, 3]
    assert index_files_at(idx, 3) == census_before
    assert index_epoch(idx) == epoch_before
    for v in (0, 1):
        with pytest.raises(ValueError, match="predates the rewrite"):
            index_files_at(idx, v)
    # idempotent: second vacuum is a no-op
    assert index_history_vacuum(idx) == 0
    # no reset in history -> no-op by design
    from uts_spark.functions.dedup import index_history_append

    fresh = str(tmp_path / "fresh")
    import os

    os.makedirs(fresh)
    index_history_append(fresh, 0, ["a.parquet"])
    assert index_history_vacuum(fresh) == 0


def test_drift_control_loop_closed(spark, tmp_path):
    """VERDICT r8 #3: the ingest tick measures, records, and ACTS.
    (a) an in-distribution batch commits its fit ints on its manifest
    and does not recluster; (b) a drifted batch trips the 0.82 flag,
    the recluster runs as the next version, and the fit reference
    refreshes to the post-recluster corpus fit; (c) the loop keeps
    serving against the refreshed quantizer."""
    from uts_spark.functions.vindex import (
        ivf_vindex_build,
        ivf_vindex_ingest_tick,
    )
    from uts_spark.sources.versioned import list_versions

    def dvec_rows(ids, center_of):
        rows = []
        for vid in ids:
            v = [((vid * 31 + j * 7) % 16 - 8) / 16.0 for j in range(64)]
            v[center_of(vid)] += 8.0
            rows.append((vid, v))
        return rows

    base = spark.createDataFrame(
        dvec_rows(range(100), lambda i: i % 8),
        "vec_id long, embedding array<double>",
    )
    centers = spark.createDataFrame(
        [(9000 + k, [8.0 if j == k else 0.0 for j in range(64)])
         for k in range(8)],
        "vec_id long, embedding array<double>",
    )
    idx = str(tmp_path / "ivf")
    ivf_vindex_build(base, idx, n_cells=8, centroid_src=centers)
    s, n = list_versions(idx)[-1]["fit_ref"]
    assert n == 100

    # (a) in-distribution batch: stat recorded, NO corrective action
    good = spark.createDataFrame(
        dvec_rows(range(1000, 1020), lambda i: i % 8),
        "vec_id long, embedding array<double>",
    )
    out = ivf_vindex_ingest_tick(spark, good, idx, 0)
    assert not out["reclustered"] and out["fit_n"] == 20
    ms = list_versions(idx)
    assert ms[-1]["fit_n"] == 20
    assert not any(m["operation"] == "recluster" for m in ms)
    assert ms[-1]["fit_ref"] == [s, n], "ref must not re-baseline"

    # (b) drifted batch (clusters orthogonal to every frozen center)
    bad = spark.createDataFrame(
        dvec_rows(range(2000, 2020), lambda i: 56 + i % 8),
        "vec_id long, embedding array<double>",
    )
    out = ivf_vindex_ingest_tick(spark, bad, idx, 1)
    assert out["reclustered"]
    ms = list_versions(idx)
    assert ms[-1]["operation"] == "recluster"
    assert ms[-2]["fit_n"] == 20
    # flag arithmetic: the drifted batch's recorded mean is far below
    # 0.82 x the reference mean
    assert ms[-2]["fit_sum"] * n * 1000 < 820 * s * ms[-2]["fit_n"]
    new_ref = ms[-1]["fit_ref"]
    assert new_ref != [s, n]
    assert new_ref[1] == 140  # 100 base + 20 + 20 appended

    # (c) the loop keeps serving: a further in-distribution tick
    # against the REFRESHED quantizer does not flag
    more = spark.createDataFrame(
        dvec_rows(range(3000, 3010), lambda i: i % 8),
        "vec_id long, embedding array<double>",
    )
    out = ivf_vindex_ingest_tick(spark, more, idx, 2)
    assert not out["reclustered"]


def test_qm6_refit_gate_and_shipped_path(spark):
    """VERDICT r8 #5: the 6th feature (x_xent) through the shipped
    lane. (a) the refit harness still measures the 6-feature
    candidate and the swap gate holds (the tie is structural: the
    pseudo-labels are a function of the five features — see the
    _QM_W6 module comment); (b) the shipped comparison lane's pass5
    column IS the production model's decision, and the frozen
    candidate agrees with production on the overwhelming majority of
    docs (the flips are boundary docs, not a different model)."""
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from refit_quality_model import refit

    d = refit("/root/testdata/sf0.001")
    assert d["swap_recommended"] is False
    assert d["f1_refit6_xent"] == d["f1_incumbent"] == d["f1_refit5"]

    import uts_spark.registry as reg

    sf = "/root/testdata/sf0.001"
    cmp_rows = {
        r["doc_id"]: r
        for r in reg.QUERIES["text_quality_model6_compare"](
            spark, sf
        ).collect()
    }
    prod = {
        r["doc_id"]: r["model_pass"]
        for r in reg.QUERIES["text_quality_model_score"](spark, sf).collect()
    }
    assert all(cmp_rows[d_]["pass5"] == prod[d_] for d_ in prod)
    agree = sum(1 for r in cmp_rows.values() if r["agree"])
    assert agree / len(cmp_rows) >= 0.9, agree


def test_qm_xent_refit_swap_and_gate_eval(spark):
    """VERDICT r9 #3 acted on: (a) the de-circularized harness
    (--labels xent) reproduces the swap decision bit-for-bit at the
    fit corpus — gate PASSED, refit5 wins, and the candidate weights
    it prints are EXACTLY the reviewed-in _QM_W_XENT literals (the
    provenance chain from harness to shipped constant is testable);
    (b) the in-engine gate-eval lane's micro-F1 integers equal the
    harness's floats scaled — and the two models' F1s DIFFER, so the
    gate demonstrably discriminates now; (c) the scoring lane's
    incumbent column is the production model's decision verbatim."""
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from refit_quality_model import refit

    from uts_spark.queries.llm_ops import _QM_W_XENT

    d = refit("/root/testdata/sf0.01", "xent")
    assert d["swap_recommended"] is True
    assert d["best_candidate"] == "refit5"
    assert d["candidate_weights"] == _QM_W_XENT

    import uts_spark.registry as reg

    sf = "/root/testdata/sf0.01"
    rows = {
        r["model"]: r
        for r in reg.QUERIES["text_quality_model_xent_gate_eval"](
            spark, sf
        ).collect()
    }
    assert rows["incumbent"]["f1_micro"] == round(d["f1_incumbent"] * 1e6)
    assert rows["xent_refit5"]["f1_micro"] == round(d["f1_refit5"] * 1e6)
    assert rows["incumbent"]["f1_micro"] != rows["xent_refit5"]["f1_micro"]

    sc = {
        r["doc_id"]: r
        for r in reg.QUERIES["text_quality_model_xent_score"](
            spark, sf
        ).collect()
    }
    prod = {
        r["doc_id"]: r["model_pass"]
        for r in reg.QUERIES["text_quality_model_score"](spark, sf).collect()
    }
    assert all(sc[i]["gopher_model_pass"] == prod[i] for i in prod)
    assert all(
        r["agree"] == (r["xent_pass"] == r["gopher_model_pass"])
        for r in sc.values()
    )


def test_vindex_optimistic_concurrency_and_time_travel(spark, tmp_path):
    """VERDICT r8 #4: snapshot-committed index maintenance. (a) two
    writers race the same next manifest — exactly one lands, the
    loser gets VersionConflictError from the CAS, not a local-FS
    marker; (b) an append's retry re-commits its already-written
    delta against the new current WITHOUT rerunning the data job;
    (c) pre-delete versions stay readable (time travel) until vacuum
    removes them — erase-then-vacuum is the complete GDPR sequence;
    (d) compaction preserves probe results and the chain stays
    walkable."""
    import pytest
    from uts_spark.functions.vindex import (
        _rows,
        minhash_vindex_append,
        minhash_vindex_build,
        minhash_vindex_compact,
        minhash_vindex_delete,
        minhash_vindex_probe,
    )
    from uts_spark.sources.versioned import (
        VersionConflictError,
        _manifest_dirs,
        _write_delta_dir,
        commit_version,
        current_version,
        list_versions,
        read_version,
        vacuum,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    base = docs.filter(F.col("doc_id") % 11 == 0)
    b1 = docs.filter(F.col("doc_id") % 11 == 1)
    b2 = docs.filter(F.col("doc_id") % 11 == 2)
    probe_batch = docs.filter(F.col("doc_id") % 11 == 3)
    cfg = dict(n=3, k=16, bands=4)

    path = str(tmp_path / "vidx")
    minhash_vindex_build(base, "text", "doc_id", path, "f0", **cfg)
    assert current_version(path) == 0

    # (a)+(b): writer B stages its delta against parent 0, writer A
    # commits first; B's CAS at parent 0 conflicts, and the retry
    # (same staged dir, new parent) lands as the NEXT version
    rows_b = _rows(b2, "text", "doc_id", 3, 16, 4, 16)
    ddir_b = _write_delta_dir(rows_b, path)
    n_b = spark.read.parquet(ddir_b).count()
    parent_seen_by_b = current_version(path)
    minhash_vindex_append(b1, "text", "doc_id", path, "f1", **cfg)  # A wins
    with pytest.raises(VersionConflictError, match="re-read and retry"):
        commit_version(
            path,
            _manifest_dirs(list_versions(path)[0]) + [ddir_b],
            "append",
            parent_seen_by_b,
            n_b,
        )
    cur = current_version(path)
    dirs = _manifest_dirs(list_versions(path)[-1]) + [ddir_b]
    v = commit_version(path, dirs, "append", cur, n_b)  # B's retry
    assert v == cur + 1 == 2

    # (c): delete b1's docs as copy-on-write; the pre-delete snapshot
    # is STILL readable, then vacuum enforces erasure-for-real
    deleted = b1.select(F.col("doc_id").alias("id"))
    minhash_vindex_delete(spark, deleted, path, "f2", **cfg)
    assert current_version(path) == 3
    ids_v2 = {
        r["id"] for r in read_version(spark, path, 2).select("id").collect()
    }
    ids_v3 = {
        r["id"] for r in read_version(spark, path, 3).select("id").collect()
    }
    b1_ids = {r["doc_id"] for r in b1.select("doc_id").collect()}
    assert ids_v2 & b1_ids and not (ids_v3 & b1_ids)

    want = sorted(
        map(
            tuple,
            minhash_vindex_probe(
                spark, path, probe_batch,
                docs.filter(
                    (F.col("doc_id") % 11 != 3) & (F.col("doc_id") % 11 != 1)
                ),
                "text", "doc_id", threshold=0.3, **cfg,
            ).collect(),
        )
    )

    # (d): compact, probe identical, chain walkable, then vacuum
    minhash_vindex_compact(spark, path, "f3", **cfg)
    got = sorted(
        map(
            tuple,
            minhash_vindex_probe(
                spark, path, probe_batch,
                docs.filter(
                    (F.col("doc_id") % 11 != 3) & (F.col("doc_id") % 11 != 1)
                ),
                "text", "doc_id", threshold=0.3, **cfg,
            ).collect(),
        )
    )
    assert got == want
    assert [m["operation"] for m in list_versions(path)] == [
        "build", "append", "append", "delete", "compact"
    ]
    vacuum(path, keep_last=1)
    with pytest.raises(ValueError, match="not found"):
        read_version(spark, path, 2)
    # erased rows are now physically gone from every readable version
    assert not (
        {r["id"] for r in read_version(spark, path).select("id").collect()}
        & b1_ids
    )


def test_vindex_delete_prunes_by_dir_stats(spark, tmp_path):
    """Round-10 candidate pulled forward: erasure on the snapshot
    family rewrites ONLY dirs whose manifest id-range admits a
    deleted id. Build + two id-disjoint appends, delete ids from one
    append's range: the other dirs carry into the new manifest BY
    REFERENCE (same paths), the erased ids are gone, and a probe
    equals a from-scratch build without them."""
    from uts_spark.functions.vindex import (
        minhash_vindex_append,
        minhash_vindex_build,
        minhash_vindex_delete,
        minhash_vindex_probe,
    )
    from uts_spark.sources.versioned import (
        _manifest_dirs,
        list_versions,
        read_version,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    base = docs.filter(F.col("doc_id") % 11 == 0)
    b1 = docs.filter(F.col("doc_id") % 11 == 1)
    b2 = docs.filter(F.col("doc_id") % 11 == 2)
    probe_batch = docs.filter(F.col("doc_id") % 11 == 3)
    cfg = dict(n=3, k=16, bands=4)

    path = str(tmp_path / "vidx")
    minhash_vindex_build(base, "text", "doc_id", path, "f0", **cfg)
    minhash_vindex_append(b1, "text", "doc_id", path, "f1", **cfg)
    minhash_vindex_append(b2, "text", "doc_id", path, "f2", **cfg)
    pre = list_versions(path)[-1]
    pre_dirs = _manifest_dirs(pre)
    assert len(pre_dirs) == 3 and set(pre["dir_stats"]) == set(pre_dirs)

    # delete only b1's docs: doc_id % 11 == 1 ids interleave with the
    # other residues, so range pruning alone cannot skip base/b2 dirs
    # on OVERLAPPING ranges — but each dir's range is checked against
    # the ACTUAL deleted ids, so the count of touched dirs is exactly
    # the dirs whose [min, max] contains at least one deleted id
    deleted = b1.select(F.col("doc_id").alias("id"))
    minhash_vindex_delete(spark, deleted, path, "f3", **cfg)
    post = list_versions(path)[-1]
    post_dirs = _manifest_dirs(post)
    carried = set(pre_dirs) & set(post_dirs)
    assert post["operation"] == "delete"
    # interleaved residues overlap every range -> all three touched,
    # zero carried; the PRUNING claim needs disjoint ranges:
    assert post["pruned_dirs"] == len(carried)

    # now the disjoint-range case: append a batch re-keyed FAR above
    # every existing id, then delete ids only from that range
    far = b1.select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"), "text"
    )
    minhash_vindex_append(far, "text", "doc_id", path, "f4", **cfg)
    before = list_versions(path)[-1]
    before_dirs = _manifest_dirs(before)
    far_ids = far.select(F.col("doc_id").alias("id"))
    minhash_vindex_delete(spark, far_ids, path, "f5", **cfg)
    after = list_versions(path)[-1]
    after_dirs = _manifest_dirs(after)
    # every pre-existing dir carried by reference; only the far dir
    # was rewritten (to empty)
    assert set(before_dirs[:-1]) <= set(after_dirs)
    assert after["pruned_dirs"] == len(before_dirs) - 1
    got_ids = {
        r["id"] for r in read_version(spark, path).select("id").collect()
    }
    assert not (got_ids & {r["id"] for r in far_ids.collect()})

    # probe parity vs a from-scratch build over the surviving corpus
    surv = base.unionAll(b2.select(*base.columns))
    ref = str(tmp_path / "ref")
    minhash_vindex_build(surv, "text", "doc_id", ref, "rf", **cfg)
    old = docs.filter(
        (F.col("doc_id") % 11 == 0) | (F.col("doc_id") % 11 == 2)
    )

    def probe(p):
        return sorted(
            map(
                tuple,
                minhash_vindex_probe(
                    spark, p, probe_batch, old, "text", "doc_id",
                    threshold=0.3, **cfg,
                ).collect(),
            )
        )

    # (the interleaved delete above already removed b1; far ids too)
    assert probe(path) == probe(ref)


def test_ivf_vindex_append_reencodes_after_recluster(
    spark, emb, tmp_path, monkeypatch
):
    """The quantizer-pointer conflict rule (snapshot ANN families): an
    append encodes its batch against the CURRENT manifest's frozen
    centroids; when its CAS commit loses to a racing RECLUSTER, the
    staged delta is coded against a dead quantizer and must NOT land —
    the retry detects the moved pointer and RE-ENCODES. Injected race:
    a commit_version wrapper fires a real recluster once, just before
    the append's first commit attempt."""
    import uts_spark.functions.vindex as vx
    from uts_spark.functions.similarity import _ivf_assign
    from uts_spark.sources.versioned import (
        _manifest_dirs,
        commit_version as real_commit,
        list_versions,
        read_version,
    )

    base = emb.filter(F.col("vec_id") % 10 != 7)
    batch = emb.filter(F.col("vec_id") % 10 == 7)
    path = str(tmp_path / "ivf_race")
    vx.ivf_vindex_build(base, path, fingerprint="f0", n_cells=8)

    fired = {"n": 0}

    def racing_commit(p, dirs, op, parent, n_rows, meta=None):
        if op == "append" and fired["n"] == 0:
            fired["n"] = 1
            vx.ivf_vindex_recluster(spark, p, fingerprint="f0:r")
        return real_commit(p, dirs, op, parent, n_rows, meta)

    monkeypatch.setattr(vx, "commit_version", racing_commit)
    vx.ivf_vindex_append(batch, path, fingerprint="f0:r:a")
    monkeypatch.undo()

    ms = list_versions(path)
    assert [m["operation"] for m in ms] == ["build", "recluster", "append"]
    # the append carried the RECLUSTER's quantizer pointer forward
    assert ms[2]["centroids_dir"] == ms[1]["centroids_dir"]
    assert ms[2]["centroids_dir"] != ms[0]["centroids_dir"]
    # and its rows were RE-ENCODED against the fresh centroids: every
    # appended row's cell matches a fresh assignment
    cents_new = spark.read.parquet(ms[2]["centroids_dir"])
    want = {
        (r["vec_id"], r["cell"])
        for r in _ivf_assign(batch, cents_new, "vec_id", "embedding")
        .select("vec_id", "cell").collect()
    }
    got = {
        (r["vec_id"], r["cell"])
        for r in read_version(spark, path)
        .join(batch.select("vec_id"), "vec_id")
        .select("vec_id", "cell").collect()
    }
    assert got == want
    # the stale first-attempt delta never landed: final manifest is the
    # recluster's single dir + exactly one (re-encoded) delta
    assert len(_manifest_dirs(ms[2])) == 2
    assert set(_manifest_dirs(ms[1])) <= set(_manifest_dirs(ms[2]))


def test_ivfpq_vindex_quantizer_time_travel_and_vacuum(
    spark, emb, tmp_path
):
    """Time travel pins the QUANTIZER, not just the data: a pinned
    pre-recluster probe resolves its own manifest's sidecars (old
    centroids + old codebook over old rows) and returns exactly the
    pre-recluster result, even after the current version re-clustered
    AND re-encoded. vacuum removes the superseded version's data and
    sidecar dirs (aux_dirs liveness) while the kept version's survive;
    the vacuumed pin then fails cleanly."""
    import os

    import uts_spark.functions.vindex as vx
    from uts_spark.sources.versioned import list_versions, read_version, vacuum

    base = emb.filter(F.col("vec_id") % 10 != 3)
    anchors = emb.filter(F.col("vec_id") < 5)
    path = str(tmp_path / "ivfpq_tt")
    vx.ivfpq_vindex_build(base, path, dim=64, fingerprint="f0")
    pre = sorted(
        map(tuple, vx.ivfpq_vindex_probe(spark, path, anchors, k=10).collect())
    )
    vx.ivfpq_vindex_recluster(spark, path, fingerprint="f0:r")

    ms = list_versions(path)
    assert ms[1]["codebook_dir"] != ms[0]["codebook_dir"]
    pinned = sorted(
        map(
            tuple,
            vx.ivfpq_vindex_probe(spark, path, anchors, k=10, version=0)
            .collect(),
        )
    )
    assert pinned == pre

    vacuum(path, keep_last=1)
    # v0's sidecars are gone, v1's remain (shared-dir liveness rule)
    assert not os.path.exists(ms[0]["centroids_dir"])
    assert not os.path.exists(ms[0]["codebook_dir"])
    assert os.path.exists(ms[1]["centroids_dir"])
    assert os.path.exists(ms[1]["codebook_dir"])
    with pytest.raises(ValueError, match="not found"):
        read_version(spark, path, 0)
    # current probe still healthy after vacuum
    assert vx.ivfpq_vindex_probe(spark, path, anchors, k=10).count() > 0


def test_vindex_family_mismatch_fails_loudly(spark, emb, tmp_path):
    """Pointing one family's verbs at another family's snapshot index
    must raise a descriptive error, not write incompatible rows or
    probe garbage — the manifest records its family and every verb
    checks it."""
    import uts_spark.functions.vindex as vx

    base = emb.filter(F.col("vec_id") % 10 != 7)
    batch = emb.filter(F.col("vec_id") % 10 == 7)
    path = str(tmp_path / "fam")
    vx.ivf_vindex_build(base, path, fingerprint="f0", n_cells=8)
    with pytest.raises(ValueError, match="family"):
        vx.lsh_vindex_delete(spark, batch.select("vec_id"), path)
    with pytest.raises(ValueError, match="family"):
        vx.ivfpq_vindex_append(batch, path)
    with pytest.raises(ValueError, match="family"):
        vx.lsh_vindex_append(batch, path, dim=64)


def test_minhash_ingest_tick_skew_flag_and_cap(spark, docs, tmp_path):
    """The dedup ingest's closed skew loop (round-10 candidate #3): an
    organic batch records its collision integers on the history line
    and does NOT flag; a boilerplate flood (same slice, one template
    text) trips the measured 8x flag, the cap verb quarantines its
    mega-buckets (auditable under _quarantine), the history records a
    RESET with the hot-bucket count, and a probe with a boiler-texted
    doc finds NO candidates while a verbatim clone of an indexed doc
    still matches at jaccard 1.0."""
    from uts_spark.functions.dedup import (
        index_history_versions,
        minhash_coll_ref_init,
        minhash_coll_ref_read,
        minhash_index_probe,
        minhash_index_write,
        minhash_ingest_tick,
    )

    BOILER = "limited time offer click here to unsubscribe from this list"
    d = docs.select("doc_id", "text")
    base = d.filter(~F.col("doc_id").__mod__(11).isin(3, 7))
    b1 = d.filter(F.col("doc_id") % 11 == 3)
    boiler = d.filter(F.col("doc_id") % 11 == 7).select(
        "doc_id", F.lit(BOILER).alias("text")
    )
    path = str(tmp_path / "midx")
    cfg = dict(n=3, k=16, bands=4)
    minhash_index_write(base, "text", "doc_id", path, fingerprint="f0", **cfg)
    ref0 = minhash_coll_ref_init(spark, path)
    assert ref0["rows_total"] == ref0["rown"] > 0

    t1 = minhash_ingest_tick(spark, b1, "text", "doc_id", path, 0, **cfg)
    assert not t1["flagged"] and t1["capped_rows"] == 0 and t1["row_n"] > 0
    # rows_total advanced by the appended band rows
    assert (
        minhash_coll_ref_read(path)["rows_total"]
        == ref0["rows_total"] + t1["row_n"]
    )

    t2 = minhash_ingest_tick(spark, boiler, "text", "doc_id", path, 1, **cfg)
    assert t2["flagged"] and t2["capped_rows"] >= t2["row_n"]
    q = spark.read.parquet(str(tmp_path / "midx" / "_quarantine"))
    assert q.count() == t2["capped_rows"]
    # the live index retains NO row of any quarantined bucket
    live = spark.read.parquet(path)
    assert (
        live.join(
            q.select("band", "bucket").distinct(), ["band", "bucket"]
        ).count()
        == 0
    )
    recs = index_history_versions(path)
    assert recs[-1]["reset"] and recs[-1]["hot_buckets"] > 0
    by_bid = {r.get("batch_id"): r for r in recs if "batch_id" in r}
    assert by_bid[0]["coll_sum"] == t1["coll_sum"]
    assert by_bid[1]["coll_sum"] == t2["coll_sum"] > t1["coll_sum"]

    # probe: boiler-texted doc -> zero candidates (its buckets are
    # quarantined); verbatim clone of an indexed doc -> jaccard 1.0
    clone_src = base.limit(1)
    probe = clone_src.select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"), "text"
    ).unionByName(
        spark.createDataFrame([(20_000_000, BOILER)], "doc_id long, text string")
    )
    old = base.unionByName(b1).unionByName(boiler)
    got = minhash_index_probe(
        spark, path, probe, old, "text", "doc_id", threshold=0.5, **cfg
    ).collect()
    new_ids = {r["id_new"] for r in got}
    assert 20_000_000 not in new_ids
    src_id = clone_src.first()["doc_id"]
    assert any(
        r["id_new"] == src_id + 10_000_000
        and r["id_old"] == src_id
        and r["jaccard"] == 1.0
        for r in got
    )


def test_vindex_append_exactly_once_by_batch_key(spark, emb, tmp_path):
    """Snapshot-family streaming appends are EXACTLY-ONCE structurally
    (the Iceberg idempotent-commit shape): (a) replaying a batch_id
    returns the already-committed version and adds NO rows; (b) a
    non-append commit (seal / delete) opens a new epoch, so a fresh
    stream reusing batch_id 0 commits NEW data instead of aliasing the
    prior generation; (c) the replay skip happens before the data job
    (no new delta dir appears)."""
    import os

    import uts_spark.functions.vindex as vx
    from uts_spark.sources.versioned import list_versions, read_version

    base = emb.filter(F.col("vec_id") % 10 != 7)
    b1 = emb.filter(F.col("vec_id") % 10 == 7)
    path = str(tmp_path / "ivf_eo")
    vx.ivf_vindex_build(base, path, fingerprint="f0", n_cells=8)

    v1 = vx.ivf_vindex_append(b1, path, fingerprint="f1", batch_id=0)
    n_after = read_version(spark, path).count()
    n_dirs = len(os.listdir(os.path.join(path, "data")))
    # (a) replay: same version back, no rows, no new delta dir
    assert vx.ivf_vindex_append(b1, path, fingerprint="f1", batch_id=0) == v1
    assert read_version(spark, path).count() == n_after
    assert len(os.listdir(os.path.join(path, "data"))) == n_dirs
    ms = list_versions(path)
    assert ms[-1]["batch_key"] == "e0b0"

    # (b) a seal opens a new epoch; bid 0 reused commits NEW data
    vx.vindex_seal(path, "f1-sealed")
    b2 = b1.select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"), "embedding"
    )
    v3 = vx.ivf_vindex_append(b2, path, fingerprint="f2", batch_id=0)
    assert v3 > v1
    assert list_versions(path)[-1]["batch_key"].startswith("e")
    assert list_versions(path)[-1]["batch_key"] != "e0b0"
    assert read_version(spark, path).count() == n_after + b2.count()
    # and replaying the NEW generation's bid 0 is again a no-op
    assert vx.ivf_vindex_append(b2, path, fingerprint="f2", batch_id=0) == v3
    assert read_version(spark, path).count() == n_after + b2.count()


def test_ivf_vindex_ingest_tick_drift_loop(spark, tmp_path):
    """The snapshot drift loop with ALL monitor state on manifests:
    (a) build records fit_ref; (b) an in-distribution tick commits its
    fit ints WITH its data on one manifest, does not flag, carries
    fit_ref; (c) an orthogonal-cluster tick flags, reclusters, and the
    recluster manifest carries a RESET fit_ref; (d) replaying the
    flagged tick with the same (stream_id, batch_id) AFTER its own
    recluster is a no-op — the stream-id key survives the rewrite
    (epoch keys would double-fold the batch: the marker family's
    documented seam)."""
    import uts_spark.functions.vindex as vx
    from uts_spark.sources.versioned import list_versions, read_version

    def dvec(id_col, center_col):
        return F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda j: (
                ((id_col * 31 + j * 7) % 16 - 8).cast("double")
                / F.lit(16.0)
            )
            + F.when(j == center_col, F.lit(8.0)).otherwise(F.lit(0.0)),
        )

    base = spark.range(200).select(
        F.col("id").alias("vec_id"),
        dvec(F.col("id"), F.col("id") % 8).alias("embedding"),
    )
    good = spark.range(1000, 1040).select(
        F.col("id").alias("vec_id"),
        dvec(F.col("id"), F.col("id") % 8).alias("embedding"),
    )
    drifted = spark.range(2000, 2040).select(
        F.col("id").alias("vec_id"),
        dvec(F.col("id"), F.lit(56) + F.col("id") % 8).alias("embedding"),
    )
    centers = spark.range(8).select(
        (F.col("id") + F.lit(9000)).alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda j: F.when(
                j == F.col("id").cast("int"), F.lit(8.0)
            ).otherwise(F.lit(0.0)),
        ).alias("embedding"),
    )
    path = str(tmp_path / "ivf_tick")
    vx.ivf_vindex_build(
        base, path, fingerprint="f0", n_cells=8, centroid_src=centers
    )
    ref0 = list_versions(path)[-1]["fit_ref"]
    assert ref0[1] == 200 and ref0[0] > 0

    t1 = vx.ivf_vindex_ingest_tick(
        spark, good, path, 0, fingerprint="fi", stream_id="s1"
    )
    assert not t1["flagged"] and not t1["reclustered"]
    m1 = list_versions(path)[-1]
    assert m1["fit_n"] == 40 and m1["fit_ref"] == ref0
    assert m1["batch_key"] == "ss1b0"

    t2 = vx.ivf_vindex_ingest_tick(
        spark, drifted, path, 1, fingerprint="fi", stream_id="s1"
    )
    assert t2["flagged"] and t2["reclustered"] and not t2["replayed"]
    m2 = list_versions(path)[-1]
    assert m2["operation"] == "recluster"
    assert m2["fit_ref"] != ref0 and m2["fit_ref"][1] == 280
    n_after = read_version(spark, path).count()
    assert n_after == 280

    # (d) replay across the recluster: stream-id key found -> no-op
    t3 = vx.ivf_vindex_ingest_tick(
        spark, drifted, path, 1, fingerprint="fi", stream_id="s1"
    )
    assert t3["replayed"] and not t3["reclustered"]
    assert read_version(spark, path).count() == n_after
    assert list_versions(path)[-1]["operation"] == "recluster"


def test_vindex_migrate_marker_to_snapshot(spark, docs, emb, tmp_path):
    """Cross-protocol MIGRATION: a marker-protocol index becomes a
    snapshot index in one commit, without rebuilding from the corpus.
    (a) minhash: config carried from the marker manifest, snapshot
    probe row-identical to the marker probe, and the migrated index
    accepts snapshot verbs (append + pruned delete); (b) a vector-family
    source (the cell-partitioned layout of a marker IVF index) fails
    loudly — those families have no marker protocol to migrate from;
    (c) a source without its config manifest fails loudly."""
    import pytest as _pytest

    import uts_spark.functions.vindex as vx
    from uts_spark.functions.dedup import (
        index_manifest_write,
        minhash_index_probe,
        minhash_index_write,
    )
    from uts_spark.sources.versioned import list_versions

    d = docs.select("doc_id", "text")
    base = d.filter(F.col("doc_id") % 11 != 3)
    probe_batch = d.filter(F.col("doc_id") % 11 == 3)
    cfg = dict(n=3, k=16, bands=4)
    src = str(tmp_path / "marker_minhash")
    minhash_index_write(base, "text", "doc_id", src, fingerprint="f0", **cfg)
    index_manifest_write(src, "f0", n_grps=16, **cfg)

    dst = str(tmp_path / "snap_minhash")
    assert vx.vindex_migrate(spark, src, dst, fingerprint="f0") == 0
    m = list_versions(dst)[-1]
    assert m["family"] == "minhash" and m["bands"] == 4 and m["k"] == 16

    want = sorted(map(tuple, minhash_index_probe(
        spark, src, probe_batch, base, "text", "doc_id",
        threshold=0.3, **cfg,
    ).collect()))
    got = sorted(map(tuple, vx.minhash_vindex_probe(
        spark, dst, probe_batch, base, "text", "doc_id",
        threshold=0.3, **cfg,
    ).collect()))
    assert got == want and len(want) > 0
    # the migrated index is a full citizen: snapshot append + delete
    vx.minhash_vindex_append(
        probe_batch, "text", "doc_id", dst, fingerprint="f1", **cfg
    )
    removed = vx.minhash_vindex_delete(
        spark, probe_batch.select(F.col("doc_id").alias("id")), dst,
        fingerprint="f2", **cfg,
    )
    assert removed > 0

    # (b) a cell-partitioned vector source refuses
    isrc = str(tmp_path / "marker_ivf")
    emb.withColumn("cell", F.col("vec_id") % 8).write.partitionBy(
        "cell"
    ).parquet(isrc)
    with _pytest.raises(ValueError, match="not a marker minhash index"):
        vx.vindex_migrate(spark, isrc, str(tmp_path / "snap_ivf"))

    # (c) missing config manifest fails loudly (minhash shape)
    import os
    os.remove(os.path.join(src, "_INDEX_MANIFEST.json"))
    with _pytest.raises(ValueError, match="not\\s+recoverable|no\\s+"):
        vx.vindex_migrate(spark, src, str(tmp_path / "snap2"))


def test_vindex_maybe_compact_trigger(spark, emb, tmp_path):
    """The OPTIMIZE trigger: under the dir threshold it does nothing
    (returns None, no new version); past it, one family-dispatched
    compaction rewrites the chain into a single dir, preserves the
    probe result exactly, and the quantizer pointer + fit_ref carry
    forward."""
    import uts_spark.functions.vindex as vx
    from uts_spark.sources.versioned import _manifest_dirs, list_versions

    base = emb.filter(F.col("vec_id") % 10 != 7)
    bits = emb.filter(F.col("vec_id") % 10 == 7).limit(12)
    anchors = emb.filter(F.col("vec_id") < 5)
    path = str(tmp_path / "ivf_opt")
    vx.ivf_vindex_build(base, path, fingerprint="f0", n_cells=8)

    for i, row in enumerate(bits.collect()[:4]):
        one = spark.createDataFrame(
            [(row["vec_id"], row["embedding"])],
            "vec_id long, embedding array<float>",
        )
        vx.ivf_vindex_append(one, path, fingerprint="fi", batch_id=i)
    pm = list_versions(path)[-1]
    assert len(_manifest_dirs(pm)) == 5
    # under threshold: no-op
    assert vx.vindex_maybe_compact(spark, path, max_dirs=8) is None
    assert list_versions(path)[-1]["version"] == pm["version"]
    # max_dirs=None resolves the per-family MEASURED default off the
    # manifest (ivf -> 16; 5 dirs is under it): still a no-op
    assert vx._MAX_DIRS_DEFAULT["ivf"] == 16
    assert vx._MAX_DIRS_DEFAULT["lsh"] == 64  # measured-flat curve
    assert vx.vindex_maybe_compact(spark, path) is None
    assert list_versions(path)[-1]["version"] == pm["version"]

    pre = sorted(map(
        tuple, vx.ivf_vindex_probe(spark, path, anchors, k=10).collect()
    ))
    # past threshold: one compaction, chain -> 1 dir, probe identical
    v = vx.vindex_maybe_compact(spark, path, max_dirs=4, fingerprint="fc")
    assert v is not None
    cm = list_versions(path)[-1]
    assert cm["operation"] == "compact" and len(_manifest_dirs(cm)) == 1
    assert cm["centroids_dir"] == pm["centroids_dir"]
    assert cm["fit_ref"] == pm["fit_ref"]
    post = sorted(map(
        tuple, vx.ivf_vindex_probe(spark, path, anchors, k=10).collect()
    ))
    assert post == pre


def test_minhash_vindex_ingest_tick_skew_loop(spark, docs, tmp_path):
    """The snapshot dedup skew loop, monitor on manifests: (a) build
    commits coll_ref; (b) organic tick records its collision ints on
    the append manifest, no flag; (c) boilerplate tick flags, the cap
    rewrite quarantines the flood (quarantine dir on the manifest as
    an aux dir — protected from orphan cleanup), live index retains no
    hot-bucket row; (d) replaying the flagged tick (same stream_id +
    batch_id) after its own cap rewrite is a no-op."""
    import uts_spark.functions.vindex as vx
    from uts_spark.sources.versioned import (
        list_versions,
        read_version,
        remove_orphans,
    )

    BOILER = "act now exclusive deal free shipping on all orders today"
    d = docs.select("doc_id", "text")
    base = d.filter(~F.col("doc_id").__mod__(11).isin(3, 7))
    b1 = d.filter(F.col("doc_id") % 11 == 3)
    boiler = d.filter(F.col("doc_id") % 11 == 7).select(
        "doc_id", F.lit(BOILER).alias("text")
    )
    cfg = dict(n=3, k=16, bands=4)
    path = str(tmp_path / "midx_snap")
    vx.minhash_vindex_build(base, "text", "doc_id", path, "f0", **cfg)
    ref0 = list_versions(path)[-1]["coll_ref"]
    assert ref0[1] == list_versions(path)[-1]["n_rows"]

    t1 = vx.minhash_vindex_ingest_tick(
        spark, b1, "text", "doc_id", path, 0, fingerprint="fi",
        stream_id="s1", **cfg,
    )
    assert not t1["flagged"] and t1["capped_rows"] == 0
    m1 = list_versions(path)[-1]
    assert m1["coll_sum"] == t1["coll_sum"] and m1["coll_ref"] == ref0

    t2 = vx.minhash_vindex_ingest_tick(
        spark, boiler, "text", "doc_id", path, 1, fingerprint="fi",
        stream_id="s1", **cfg,
    )
    assert t2["flagged"] and t2["capped_rows"] >= t2["row_n"]
    m2 = list_versions(path)[-1]
    assert m2["operation"] == "cap" and m2["hot_buckets"] > 0
    q = spark.read.parquet(m2["quarantine_dir"])
    assert q.count() == t2["capped_rows"]
    live = read_version(spark, path)
    assert live.join(
        q.select("band", "bucket").distinct(), ["band", "bucket"]
    ).count() == 0
    # quarantine survives orphan cleanup (manifest-referenced aux dir)
    import os
    assert remove_orphans(path, older_than_secs=0) == [] or os.path.isdir(
        m2["quarantine_dir"]
    )
    assert os.path.isdir(m2["quarantine_dir"])

    # (d) replay across the cap rewrite: no-op, stats echoed back
    t3 = vx.minhash_vindex_ingest_tick(
        spark, boiler, "text", "doc_id", path, 1, fingerprint="fi",
        stream_id="s1", **cfg,
    )
    assert t3["replayed"] and t3["capped_rows"] == 0
    assert t3["coll_sum"] == t2["coll_sum"]
    assert read_version(spark, path).count() == live.count()


def test_ivfpq_vindex_ingest_tick_distortion_loop(spark, tmp_path):
    """The codebook-side drift loop on the snapshot IVF-PQ index:
    (a) build commits dist_ref (PQ distortion ints computed from the
    STORED codes); (b) an in-distribution tick records its distortion
    WITH its data and does not flag; (c) an orthogonal-cluster tick's
    distortion blows past the 1.3x flag, the corrective recluster
    refreshes BOTH quantizers and resets dist_ref; (d) replaying the
    flagged tick after its own recluster is a no-op."""
    import uts_spark.functions.vindex as vx
    from uts_spark.sources.versioned import list_versions, read_version

    def dvec(id_col, center_col):
        return F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda j: (
                ((id_col * 31 + j * 7) % 16 - 8).cast("double")
                / F.lit(16.0)
            )
            + F.when(j == center_col, F.lit(8.0)).otherwise(F.lit(0.0)),
        )

    base = spark.range(200).select(
        F.col("id").alias("vec_id"),
        dvec(F.col("id"), F.col("id") % 8).alias("embedding"),
    )
    good = spark.range(1000, 1040).select(
        F.col("id").alias("vec_id"),
        dvec(F.col("id"), F.col("id") % 8).alias("embedding"),
    )
    drifted = spark.range(2000, 2040).select(
        F.col("id").alias("vec_id"),
        dvec(F.col("id"), F.lit(56) + F.col("id") % 8).alias("embedding"),
    )
    path = str(tmp_path / "ivfpq_tick")
    vx.ivfpq_vindex_build(base, path, dim=64, fingerprint="f0")
    ref0 = list_versions(path)[-1]["dist_ref"]
    assert ref0[1] == 200

    t1 = vx.ivfpq_vindex_ingest_tick(
        spark, good, path, 0, fingerprint="fi", stream_id="s1"
    )
    assert not t1["flagged"] and not t1["reclustered"]
    m1 = list_versions(path)[-1]
    assert m1["dist_n"] == 40 and m1["dist_ref"] == ref0

    t2 = vx.ivfpq_vindex_ingest_tick(
        spark, drifted, path, 1, fingerprint="fi", stream_id="s1"
    )
    assert t2["flagged"] and t2["reclustered"]
    m2 = list_versions(path)[-1]
    assert m2["operation"] == "recluster"
    assert m2["codebook_dir"] != list_versions(path)[0]["codebook_dir"]
    assert m2["dist_ref"] != ref0 and m2["dist_ref"][1] == 280
    n_after = read_version(spark, path).count()
    assert n_after == 280

    t3 = vx.ivfpq_vindex_ingest_tick(
        spark, drifted, path, 1, fingerprint="fi", stream_id="s1"
    )
    assert t3["replayed"] and not t3["reclustered"]
    assert read_version(spark, path).count() == n_after


def test_index_history_changes_feed_and_reset_refusal(spark, tmp_path):
    """Marker-index CDF: the 0->1 feed is exactly the appended tick's
    rows (no join — history diff); a range crossing a RESET (erasure)
    refuses loudly; unknown versions and empty diffs behave."""
    import os
    import pytest as _pytest
    from pyspark.sql import functions as F

    from uts_spark.functions.dedup import (
        index_history_changes,
        index_manifest_write,
        index_tick,
        minhash_index_append_idempotent,
        minhash_index_delete,
        minhash_index_write,
    )

    SF = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    base = docs.filter(F.col("doc_id") % 7 != 0)
    b1 = docs.filter(F.col("doc_id") % 7 == 0)
    path = str(tmp_path / "mh_cdf")
    cfg = dict(n=3, k=32, bands=8)
    minhash_index_write(base, "text", "doc_id", path, fingerprint="f0", **cfg)
    index_manifest_write(path, "f0", **cfg)
    index_tick(
        path, "f1",
        lambda: minhash_index_append_idempotent(
            b1, "text", "doc_id", path, batch_id=0, **cfg
        ),
        **cfg,
    )

    feed = index_history_changes(spark, path, 0, 1)
    assert set(feed.select("_change_type").distinct().toPandas()[
        "_change_type"
    ]) == {"insert"}
    # feed ids == the appended batch's ids, 8 band rows per doc
    n_b1 = b1.count()
    assert feed.count() == n_b1 * 8
    assert index_history_changes(spark, path, 0, 0).count() == 0
    assert index_history_changes(spark, path, 1, 1).count() == 0

    with _pytest.raises(ValueError, match="unknown version"):
        index_history_changes(spark, path, 0, 99)

    # erasure appends a reset: feeds crossing it refuse
    minhash_index_delete(
        spark, b1.limit(5), "text", "doc_id", path, **cfg
    )
    with _pytest.raises(ValueError, match="reset"):
        index_history_changes(spark, path, 0)


def test_vindex_delete_mor_lifecycle(spark, emb, tmp_path):
    """MERGE-ON-READ erasure on the snapshot indexes: a deletion
    vector hides vectors from probes IMMEDIATELY (no dir rewrite —
    the manifest's dir list is unchanged), pinned probes at the
    pre-delete version still see them, a re-ingest of an erased id
    stays visible (scope rule), appends carry the vector, CoW delete
    materializes first, and materialize folds to a probe-identical
    vector-free manifest."""
    import uts_spark.functions.vindex as vx
    from uts_spark.sources.versioned import list_versions, read_version

    base = emb.filter(F.col("vec_id") % 10 != 7)
    path = str(tmp_path / "ivf_mor")
    vx.ivf_vindex_build(base, path, fingerprint="f0", n_cells=8)
    anchors = emb.filter(F.col("vec_id") < 3)
    pre = {
        (r.anchor_id, r.neighbor_id)
        for r in vx.ivf_vindex_probe(spark, path, anchors).collect()
    }
    victims = {r.neighbor_id for r in spark.createDataFrame(
        sorted(pre)[:5], "anchor_id long, neighbor_id long"
    ).collect()}
    kill = spark.createDataFrame(
        [(int(v),) for v in victims], "vec_id long"
    )

    v1 = vx.vindex_delete_mor(spark, kill, path, fingerprint="f1")
    pm = {m["version"]: m for m in list_versions(path)}[v1]
    assert pm["operation"] == "delete_mor" and len(pm["dv"]) == 1
    assert set(pm["data_dirs"]) == set(
        {m["version"]: m for m in list_versions(path)}[0]["data_dirs"]
    )
    post = {
        (r.anchor_id, r.neighbor_id)
        for r in vx.ivf_vindex_probe(spark, path, anchors).collect()
    }
    assert not ({n for _, n in post} & victims)
    # pinned probe at the pre-delete version still sees the victims
    pinned = {
        (r.anchor_id, r.neighbor_id)
        for r in vx.ivf_vindex_probe(
            spark, path, anchors, version=0
        ).collect()
    }
    assert pinned == pre

    # re-ingest one erased id: the new row is OUTSIDE the vector's
    # scope and must serve again; the append carries the vector
    back = emb.filter(F.col("vec_id") == sorted(victims)[0])
    vx.ivf_vindex_append(back, path, fingerprint="f2")
    pm = list_versions(path)[-1]
    assert len(pm.get("dv", [])) == 1
    assert read_version(spark, path).filter(
        F.col("vec_id") == sorted(victims)[0]
    ).count() == 1

    # materialize: probes identical, vectors gone, family meta intact
    served_before = {
        (r.anchor_id, r.neighbor_id)
        for r in vx.ivf_vindex_probe(spark, path, anchors).collect()
    }
    vm = vx.vindex_materialize_dvs(spark, path, fingerprint="f3")
    pm = {m["version"]: m for m in list_versions(path)}[vm]
    assert not pm.get("dv") and pm["operation"] == "materialize_dv"
    assert pm["family"] == "ivf" and "centroids_dir" in pm
    served_after = {
        (r.anchor_id, r.neighbor_id)
        for r in vx.ivf_vindex_probe(spark, path, anchors).collect()
    }
    assert served_before == served_after

    # CoW delete on a vector-carrying index materializes first
    vx.vindex_delete_mor(
        spark,
        spark.createDataFrame([(int(sorted(victims)[0]),)], "vec_id long"),
        path, fingerprint="f4",
    )
    assert list_versions(path)[-1].get("dv")
    vx.ivf_vindex_delete(
        spark,
        spark.createDataFrame([(9999999,)], "vec_id long"),
        path, fingerprint="f5",
    )
    assert not list_versions(path)[-1].get("dv")
    ops = [m["operation"] for m in list_versions(path)]
    assert "materialize_dv" in ops[-2:]


def test_vindex_delete_mor_minhash_and_compact(spark, docs, tmp_path):
    """The family-agnostic MOR verb on the minhash band index (id_col
    'id'), and compaction as implicit materialize: compact reads
    masked, commits vector-free, and probes agree."""
    import uts_spark.functions.vindex as vx
    from uts_spark.sources.versioned import list_versions

    base = docs.filter(F.col("doc_id") % 10 != 7).selectExpr(
        "doc_id AS id", "text"
    )
    path = str(tmp_path / "mh_mor")
    vx.minhash_vindex_build(base, "text", "id", path, fingerprint="m0")
    victims = sorted(r.id for r in base.select("id").collect())[:20]
    kill = spark.createDataFrame([(int(v),) for v in victims], "id long")
    v1 = vx.vindex_delete_mor(spark, kill, path, fingerprint="m1")
    pm = {m["version"]: m for m in list_versions(path)}[v1]
    assert pm["operation"] == "delete_mor" and pm["dv"][0]["key"] == "id"
    # verbatim clones of the ERASED docs: whatever near-dups the
    # corpus holds, no probe hit may name an erased id as its match
    gone = base.filter(F.col("id").isin(*victims)).selectExpr(
        "id + 1000000 AS id", "text"
    )
    hits = vx.minhash_vindex_probe(spark, path, gone, base, "text", "id")
    assert not ({r.id_old for r in hits.collect()} & set(victims))
    # compact = implicit materialize (reads masked, commits clean)
    vx.minhash_vindex_compact(spark, path, fingerprint="m2")
    pm = list_versions(path)[-1]
    assert not pm.get("dv") and pm["operation"] == "compact"
    hits2 = vx.minhash_vindex_probe(spark, path, gone, base, "text", "id")
    assert not ({r.id_old for r in hits2.collect()} & set(victims))


def test_ivf_vindex_filtered_probe(spark, emb, tmp_path):
    """Index-layer filtered ANN: metadata columns stored at build
    (manifest-recorded, appends keep them without restating), probe
    ``where`` pushed into the cell-pruned parquet scan (PushedFilters
    plan pin), results identical to the in-plan pre-filter
    (ivf_topk_det over the filtered corpus under the same frozen
    quantizer), and the filter composes with a deletion vector."""
    import uts_spark.functions.vindex as vx
    from uts_spark.functions.similarity import ivf_topk_det
    from uts_spark.sources.versioned import list_versions

    base = emb.filter(F.col("vec_id") % 10 != 7)
    batch = emb.filter(F.col("vec_id") % 10 == 7)
    path = str(tmp_path / "ivf_meta")
    vx.ivf_vindex_build(
        base, path, fingerprint="f0", n_cells=8, meta_cols=("label",)
    )
    assert list_versions(path)[-1]["meta_cols"] == ["label"]
    vx.ivf_vindex_append(batch, path, fingerprint="f1")
    anchors = emb.filter(F.col("vec_id") < 5)

    got = vx.ivf_vindex_probe(
        spark, path, anchors, k=10, n_probe=3,
        where=F.col("label") == 7,
    )
    # plan pin: the label predicate reaches the parquet scan
    # (formatted mode prints the full PushedFilters list — plain
    # toString truncates it past the cell isin values)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = got._jdf.queryExecution().explainString(mode)
    assert "EqualTo(label,7)" in plan

    want = ivf_topk_det(
        emb.filter(F.col("label") == 7), anchors,
        k=10, n_cells=8, n_probe=3, centroid_src=base,
    )
    assert sorted(
        (r.anchor_id, r.neighbor_id, r.rank) for r in got.collect()
    ) == sorted(
        (r.anchor_id, r.neighbor_id, r.rank) for r in want.collect()
    )

    # composes with merge-on-read erasure: a masked victim never
    # appears even when it passes the metadata filter
    victims = sorted(
        r.neighbor_id for r in got.filter("anchor_id = 0").collect()
    )[:2]
    vx.vindex_delete_mor(
        spark,
        spark.createDataFrame([(int(v),) for v in victims], "vec_id long"),
        path, fingerprint="f2",
    )
    got2 = vx.ivf_vindex_probe(
        spark, path, anchors, k=10, n_probe=3,
        where=F.col("label") == 7,
    )
    assert not (
        {r.neighbor_id for r in got2.collect()} & set(victims)
    )


def test_lsh_vindex_filtered_probe(spark, emb, tmp_path):
    """meta_cols on the snapshot LSH family: carried through the
    bucket pass (no extra shuffle), manifest-recorded for appends,
    probe ``where`` pushed into the bucket-pruned scan (PushedFilters
    plan pin), results identical to an index built over the filtered
    corpus (hyperplanes are corpus-independent)."""
    import uts_spark.functions.vindex as vx
    from uts_spark.sources.versioned import list_versions

    base = emb.filter(F.col("vec_id") % 10 != 7)
    batch = emb.filter(F.col("vec_id") % 10 == 7)
    path = str(tmp_path / "lsh_meta")
    vx.lsh_vindex_build(
        base, path, dim=64, fingerprint="f0", planes=8, tables=2,
        meta_cols=("label",),
    )
    assert list_versions(path)[-1]["meta_cols"] == ["label"]
    vx.lsh_vindex_append(batch, path, dim=64, fingerprint="f1",
                         planes=8, tables=2)
    anchors = emb.filter(F.col("vec_id") < 5)

    got = vx.lsh_vindex_probe(
        spark, path, anchors, k=10, where=F.col("label") == 7
    )
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = got._jdf.queryExecution().explainString(mode)
    assert "EqualTo(label,7)" in plan

    ref = str(tmp_path / "lsh_ref")
    vx.lsh_vindex_build(
        emb.filter(F.col("label") == 7), ref, dim=64, fingerprint="r0",
        planes=8, tables=2,
    )
    want = vx.lsh_vindex_probe(spark, ref, anchors, k=10)
    assert sorted(
        (r.anchor_id, r.neighbor_id, r.rank) for r in got.collect()
    ) == sorted(
        (r.anchor_id, r.neighbor_id, r.rank) for r in want.collect()
    )


def test_ivfpq_vindex_filtered_probe_and_recluster_carry(
    spark, emb, tmp_path
):
    """meta_cols on the snapshot IVF-PQ family — and the REWRITE
    carry: recluster re-derives both quantizers and re-encodes every
    row, so it must keep the metadata columns or the filtered-ANN
    schema would silently narrow (the seam this test pins; the fix
    threads meta_cols through both reclusters' make_rows)."""
    import uts_spark.functions.vindex as vx
    from uts_spark.sources.versioned import list_versions

    base = emb.filter(F.col("vec_id") % 10 != 7)
    batch = emb.filter(F.col("vec_id") % 10 == 7)
    path = str(tmp_path / "pq_meta")
    vx.ivfpq_vindex_build(
        base, path, dim=64, fingerprint="f0", n_cells=8, m_sub=8,
        n_cent=16, meta_cols=("label",),
    )
    vx.ivfpq_vindex_append(batch, path, fingerprint="f1")

    anchors = emb.filter(F.col("vec_id") < 5)
    got = vx.ivfpq_vindex_probe(
        spark, path, anchors, k=10, n_probe=3,
        where=F.col("label") == 7,
    )
    rows = got.collect()
    assert rows
    lbl = {
        r.label
        for r in emb.filter(
            F.col("vec_id").isin([int(x.neighbor_id) for x in rows])
        ).select("label").collect()
    }
    assert lbl == {7}

    # recluster: fresh quantizers, rows re-encoded — meta_cols survive
    # on the manifest AND in the rewritten rows; a filtered probe at
    # the new version still resolves the predicate
    vx.ivfpq_vindex_recluster(spark, path, fingerprint="f2")
    assert list_versions(path)[-1]["meta_cols"] == ["label"]
    got2 = vx.ivfpq_vindex_probe(
        spark, path, anchors, k=10, n_probe=3,
        where=F.col("label") == 7,
    ).collect()
    assert got2
    lbl2 = {
        r.label
        for r in emb.filter(
            F.col("vec_id").isin([int(x.neighbor_id) for x in got2])
        ).select("label").collect()
    }
    assert lbl2 == {7}


def test_ivf_vindex_recluster_carries_meta_cols(spark, emb, tmp_path):
    """The IVF recluster twin of the carry pin above (build+append was
    exercised by the round-10 lane; the rewrite path narrowed the
    schema before the fix)."""
    import uts_spark.functions.vindex as vx

    path = str(tmp_path / "ivf_meta_rc")
    vx.ivf_vindex_build(
        emb, path, fingerprint="f0", n_cells=8, meta_cols=("label",)
    )
    vx.ivf_vindex_recluster(spark, path, fingerprint="f1")
    anchors = emb.filter(F.col("vec_id") < 5)
    got = vx.ivf_vindex_probe(
        spark, path, anchors, k=10, n_probe=3,
        where=F.col("label") == 7,
    ).collect()
    assert got
    lbl = {
        r.label
        for r in emb.filter(
            F.col("vec_id").isin([int(x.neighbor_id) for x in got])
        ).select("label").collect()
    }
    assert lbl == {7}


def test_minhash_vindex_filtered_probe(spark, docs, tmp_path):
    """meta_cols on the snapshot MinHash family: metadata joined back
    onto the band rows at build, probe ``where`` restricts candidate
    OLD docs before the verify — identical to an index built over the
    filtered corpus (signatures are per-doc independent)."""
    import uts_spark.functions.vindex as vx
    from uts_spark.sources.versioned import list_versions

    path = str(tmp_path / "mh_meta")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    old = docs.filter(F.col("doc_id") % 5 != 0)
    vx.minhash_vindex_build(
        old, "text", "doc_id", path, fingerprint="f0",
        meta_cols=("lang",),
    )
    assert list_versions(path)[-1]["meta_cols"] == ["lang"]
    got = vx.minhash_vindex_probe(
        spark, path, new, old, "text", "doc_id",
        where=F.col("lang") == "en",
    )
    ref = str(tmp_path / "mh_ref")
    old_en = old.filter(F.col("lang") == "en")
    vx.minhash_vindex_build(old_en, "text", "doc_id", ref,
                            fingerprint="r0")
    want = vx.minhash_vindex_probe(
        spark, ref, new, old_en, "text", "doc_id"
    )
    assert sorted(
        (r.id_new, r.id_old) for r in got.collect()
    ) == sorted((r.id_new, r.id_old) for r in want.collect())


def test_vindex_maybe_materialize_trigger(spark, emb, tmp_path):
    """The index materialize trigger fires on either knob and stands
    down otherwise — and the catalog janitor runs it for registered
    snapshot indexes."""
    import uts_spark.functions.vindex as vx
    from uts_spark.sources.catalog import (
        catalog_maintenance_tick,
        register_entry,
    )
    from uts_spark.sources.versioned import list_versions

    path = str(tmp_path / "ivf_trig")
    vx.ivf_vindex_build(emb, path, fingerprint="t0", n_cells=8)
    small = emb.filter(F.col("vec_id") < 5).select("vec_id")
    vx.vindex_delete_mor(spark, small, path, fingerprint="t1")
    assert vx.vindex_maybe_materialize(spark, path) is None
    assert vx.vindex_maybe_materialize(spark, path, max_dvs=0) is not None
    assert not list_versions(path)[-1].get("dv")

    # fraction knob through the JANITOR
    big = emb.filter(F.col("vec_id") % 3 == 0).select("vec_id")
    vx.vindex_delete_mor(spark, big, path, fingerprint="t2")
    assert list_versions(path)[-1].get("dv")
    cat = str(tmp_path / "cat")
    register_entry(cat, "ivf", path, kind="index")
    report = {r["name"]: r for r in catalog_maintenance_tick(spark, cat)
              if r.get("name")}
    assert report["ivf"]["dv_materialized"] is not None
    assert not list_versions(path)[-1].get("dv")


def test_vindex_materialize_per_family_default(spark, emb, tmp_path):
    """The materialize trigger resolves the MEASURED per-family
    vector-count knee from the manifest (lsh folds at 8 — its light
    probe pays the largest relative anti-join tax; others inherit the
    table's 16)."""
    import uts_spark.functions.vindex as vx
    from uts_spark.sources.versioned import list_versions

    assert vx._MAX_DVS_DEFAULT == {"lsh": 8}

    small = emb.limit(200)
    p_lsh = str(tmp_path / "lsh_knee")
    vx.lsh_vindex_build(small, p_lsh, dim=64, fingerprint="f0",
                        planes=8, tables=2)
    p_ivf = str(tmp_path / "ivf_knee")
    vx.ivf_vindex_build(small, p_ivf, fingerprint="f0", n_cells=4)
    for i in range(9):
        ids = spark.createDataFrame([(int(i),)], "vec_id long")
        vx.vindex_delete_mor(spark, ids, p_lsh, fingerprint=f"d{i}")
        vx.vindex_delete_mor(spark, ids, p_ivf, fingerprint=f"d{i}")
    # 9 vectors, tiny masked fraction: lsh (knee 8) fires, ivf (16)
    # stands down
    assert vx.vindex_maybe_materialize(spark, p_ivf) is None
    assert len(list_versions(p_ivf)[-1]["dv"]) == 9
    assert vx.vindex_maybe_materialize(spark, p_lsh) is not None
    assert not list_versions(p_lsh)[-1].get("dv")


def test_ivf_vindex_meta_sort_layout(spark, emb, tmp_path):
    """meta_sort clusters rows by (cell, label, id): manifest-recorded,
    preserved by compaction (the rewrite resolves the sort from the
    manifest), results identical to the scattered layout, and the
    written files are physically label-clustered within cells."""
    import glob

    import pyarrow.parquet as pq
    import pytest as _pytest

    import uts_spark.functions.vindex as vx
    from uts_spark.sources.versioned import list_versions

    with _pytest.raises(ValueError, match="needs meta_cols"):
        vx.ivf_vindex_build(
            emb, str(tmp_path / "bad"), fingerprint="x", meta_sort=True
        )

    base = emb.filter(F.col("vec_id") % 10 != 7)
    batch = emb.filter(F.col("vec_id") % 10 == 7)
    anchors = emb.filter(F.col("vec_id") < 5)

    p = str(tmp_path / "sorted")
    vx.ivf_vindex_build(
        base, p, fingerprint="f0", n_cells=8, meta_cols=("label",),
        meta_sort=True,
    )
    assert list_versions(p)[-1]["meta_sort"] is True
    vx.ivf_vindex_append(batch, p, fingerprint="f1")
    vx.ivf_vindex_compact(spark, p, fingerprint="f2")
    assert list_versions(p)[-1]["meta_sort"] is True

    ref = str(tmp_path / "scattered")
    vx.ivf_vindex_build(
        base, ref, fingerprint="f0", n_cells=8, meta_cols=("label",)
    )
    vx.ivf_vindex_append(batch, ref, fingerprint="f1")
    got = vx.ivf_vindex_probe(
        spark, p, anchors, k=10, n_probe=3, where=F.col("label") == 7
    )
    want = vx.ivf_vindex_probe(
        spark, ref, anchors, k=10, n_probe=3, where=F.col("label") == 7
    )
    assert sorted(
        (r.anchor_id, r.neighbor_id, r.rank) for r in got.collect()
    ) == sorted(
        (r.anchor_id, r.neighbor_id, r.rank) for r in want.collect()
    )

    # physical layout: within every post-compaction file, rows are
    # non-decreasing by (cell, label) — the property row-group stats
    # prune on (measured at scale in tools/meta_sort_smoke.py)
    dirs = list_versions(p)[-1]["data_dirs"]
    files = [
        f for d in dirs for f in glob.glob(f"{d}/*.parquet")
    ]
    assert files
    for f in files:
        t = pq.read_table(f, columns=["cell", "label"])
        pairs = list(zip(t["cell"].to_pylist(), t["label"].to_pylist()))
        assert pairs == sorted(pairs)


def test_facade_probe_where_passthrough(spark, emb, tmp_path):
    """The protocol facade forwards filtered-ANN kwargs: a facade
    probe with where= equals the family verb's own filtered probe
    (second-refresh r11 #6 — the pass-through worked by construction;
    this pins it against a future facade signature change)."""
    import uts_spark.functions.vindex as vx
    from uts_spark.functions.index_protocol import index_probe

    path = str(tmp_path / "fac_meta")
    vx.ivf_vindex_build(
        emb, path, fingerprint="f0", n_cells=8, meta_cols=("label",)
    )
    anchors = emb.filter(F.col("vec_id") < 5)
    via_facade = index_probe(
        spark, path, anchors, k=10, n_probe=3,
        where=F.col("label") == 7,
    )
    direct = vx.ivf_vindex_probe(
        spark, path, anchors, k=10, n_probe=3,
        where=F.col("label") == 7,
    )
    assert sorted(
        (r.anchor_id, r.neighbor_id, r.rank) for r in via_facade.collect()
    ) == sorted(
        (r.anchor_id, r.neighbor_id, r.rank) for r in direct.collect()
    )


def test_meta_sort_layout_all_families(spark, emb, docs, tmp_path):
    """meta_sort generalized to LSH / IVF-PQ / minhash (VERDICT r10
    #3): manifest-recorded, preserved by compact AND erasure (every
    rewrite verb resolves the sort from the manifest), probe results
    identical to the scattered layout, files physically clustered by
    the family's sort prefix. Admit-fraction curves are measured in
    tools/meta_sort_smoke.py (SCALE.md round 11)."""
    import glob

    import pyarrow.parquet as pq
    import pytest as _pytest

    import uts_spark.functions.vindex as vx
    import uts_spark.registry  # noqa: F401 — safe import order first
    from uts_spark.queries.llm_ops import EMB_DIM
    from uts_spark.sources.versioned import list_versions

    for build, args in (
        (vx.lsh_vindex_build, dict(dim=EMB_DIM)),
        (vx.ivfpq_vindex_build, dict(dim=EMB_DIM)),
    ):
        with _pytest.raises(ValueError, match="needs meta_cols"):
            build(emb, str(tmp_path / "bad"), fingerprint="x",
                  meta_sort=True, **args)
    with _pytest.raises(ValueError, match="needs meta_cols"):
        vx.minhash_vindex_build(
            docs, "text", "doc_id", str(tmp_path / "bad"),
            fingerprint="x", meta_sort=True,
        )

    base = emb.filter(F.col("vec_id") % 10 != 7)
    batch = emb.filter(F.col("vec_id") % 10 == 7)
    anchors = emb.filter(F.col("vec_id") < 5)
    victims = spark.createDataFrame([(3,), (11,)], "vec_id long")

    # --- LSH: sort (table, bucket, label, id) ---
    p, ref = str(tmp_path / "lshS"), str(tmp_path / "lshR")
    for tgt, ms in ((p, True), (ref, False)):
        vx.lsh_vindex_build(
            base, tgt, dim=EMB_DIM, fingerprint="f0", planes=4,
            tables=2, meta_cols=("label",), meta_sort=ms,
        )
        vx.lsh_vindex_append(
            batch, tgt, dim=EMB_DIM, fingerprint="f1", planes=4, tables=2
        )
        vx.lsh_vindex_delete(spark, victims, tgt, fingerprint="f2")
    vx.lsh_vindex_compact(spark, p, fingerprint="f3")
    m = list_versions(p)[-1]
    assert m["meta_sort"] is True and m["meta_cols"] == ["label"]
    key = lambda df: sorted(
        (r.anchor_id, r.neighbor_id, r.rank) for r in df.collect()
    )
    assert key(
        vx.lsh_vindex_probe(spark, p, anchors, k=5,
                            where=F.col("label") == 7)
    ) == key(
        vx.lsh_vindex_probe(spark, ref, anchors, k=5,
                            where=F.col("label") == 7)
    )
    for f in [g for d in m["data_dirs"]
              for g in glob.glob(f"{d}/*.parquet")]:
        t = pq.read_table(f, columns=["table", "bucket", "label"])
        rows = list(zip(t["table"].to_pylist(), t["bucket"].to_pylist(),
                        t["label"].to_pylist()))
        assert rows == sorted(rows)

    # --- IVF-PQ: sort (cell, label, id) ---
    p, ref = str(tmp_path / "pqS"), str(tmp_path / "pqR")
    for tgt, ms in ((p, True), (ref, False)):
        vx.ivfpq_vindex_build(
            base, tgt, dim=EMB_DIM, fingerprint="f0", n_cells=4,
            m_sub=4, n_cent=8, meta_cols=("label",), meta_sort=ms,
        )
        vx.ivfpq_vindex_append(batch, tgt, fingerprint="f1")
        vx.ivfpq_vindex_delete(spark, victims, tgt, fingerprint="f2")
    vx.ivfpq_vindex_compact(spark, p, fingerprint="f3")
    m = list_versions(p)[-1]
    assert m["meta_sort"] is True
    assert key(
        vx.ivfpq_vindex_probe(spark, p, anchors, k=5, n_probe=2,
                              where=F.col("label") == 7)
    ) == key(
        vx.ivfpq_vindex_probe(spark, ref, anchors, k=5, n_probe=2,
                              where=F.col("label") == 7)
    )
    for f in [g for d in m["data_dirs"]
              for g in glob.glob(f"{d}/*.parquet")]:
        t = pq.read_table(f, columns=["cell", "label"])
        rows = list(zip(t["cell"].to_pylist(), t["label"].to_pylist()))
        assert rows == sorted(rows)

    # --- minhash: sort (band, grp, lang, bucket, id) ---
    dbase = docs.filter(F.col("doc_id") % 10 != 7)
    dbatch = docs.filter(F.col("doc_id") % 10 == 7)
    dnew = docs.filter(F.col("doc_id") % 25 == 0)
    dvic = spark.createDataFrame([(5,), (15,)], "id long")
    cfg = dict(n=3, k=16, bands=4, n_grps=4)
    p, ref = str(tmp_path / "mhS"), str(tmp_path / "mhR")
    for tgt, ms in ((p, True), (ref, False)):
        vx.minhash_vindex_build(
            dbase, "text", "doc_id", tgt, fingerprint="f0",
            meta_cols=("lang",), meta_sort=ms, **cfg,
        )
        vx.minhash_vindex_append(
            dbatch, "text", "doc_id", tgt, fingerprint="f1", **cfg
        )
        vx.minhash_vindex_delete(spark, dvic, tgt, fingerprint="f2", **cfg)
    vx.minhash_vindex_compact(spark, p, fingerprint="f3", **cfg)
    m = list_versions(p)[-1]
    assert m["meta_sort"] is True and m["meta_cols"] == ["lang"]
    pkey = lambda df: sorted(
        (r.id_new, r.id_old) for r in df.collect()
    )
    assert pkey(
        vx.minhash_vindex_probe(
            spark, p, dnew, docs, "text", "doc_id",
            threshold=0.3, where=F.col("lang") == "en", **cfg,
        )
    ) == pkey(
        vx.minhash_vindex_probe(
            spark, ref, dnew, docs, "text", "doc_id",
            threshold=0.3, where=F.col("lang") == "en", **cfg,
        )
    )
    for f in [g for d in m["data_dirs"]
              for g in glob.glob(f"{d}/*.parquet")]:
        t = pq.read_table(f, columns=["band", "grp", "lang", "bucket"])
        rows = list(zip(t["band"].to_pylist(), t["grp"].to_pylist(),
                        t["lang"].to_pylist(), t["bucket"].to_pylist()))
        assert rows == sorted(rows)


def test_cc_never_mutates_session_conf(spark):
    """VERDICT r10 quality note: connected_components used to narrow
    spark.sql.shuffle.partitions session-globally during the build —
    a concurrent query on the same session silently ran at the
    narrowed width. The width is now explicit per-plan repartitions;
    this pins (a) no conf.set of the shuffle knob during CC, and
    (b) a query running mid-CC on another thread sees the session
    width untouched."""
    import threading

    from uts_spark.functions.clustering import connected_components

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)

    set_calls = []
    orig_set = spark.conf.set

    def spy_set(k, v):
        if k == key:
            set_calls.append((k, v))
        return orig_set(k, v)

    # a co-tenant query polling the session width while CC runs
    seen = []
    stop = threading.Event()

    def poller():
        while not stop.is_set():
            seen.append(spark.conf.get(key))
            spark.range(0, 100).groupBy((F.col("id") % 7)).count().count()

    spark.conf.set = spy_set
    t = threading.Thread(target=poller, daemon=True)
    t.start()
    try:
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(0, 4000, 2)]
            + [(i, i + 2) for i in range(0, 4000, 4)],
            "src long, dst long",
        )
        comp = connected_components(edges)
        assert comp.count() > 0
    finally:
        stop.set()
        t.join(timeout=30)
        spark.conf.set = orig_set

    assert set_calls == []            # CC never touched the knob
    assert spark.conf.get(key) == before
    assert seen and all(v == before for v in seen)


def test_lsh_bucket_table_np_equals_agg(emb):
    """VERDICT r10 #6: the zero-shuffle mapInPandas LSH kernel (the
    default) and the crossJoin+groupBy shape produce EXACTLY the same
    (id, table, bucket) assignments — the fold-the-winner
    precondition (measured 4.5x at 1M vectors, tools/lsh_bucket_ab.py;
    SCALE.md round 11). keep_cols ride both shapes."""
    from uts_spark.functions.similarity import lsh_bucket_table

    def key(df):
        return sorted(
            (r.vec_id, r.table, r.bucket, r.label) for r in df.collect()
        )

    a = lsh_bucket_table(
        emb, 64, planes=8, tables=3, keep_cols=("label",), impl="agg"
    )
    b = lsh_bucket_table(
        emb, 64, planes=8, tables=3, keep_cols=("label",), impl="np"
    )
    assert key(a) == key(b)
    assert set(a.columns) == set(b.columns)


def test_vindex_age_retention_quantizer_sidecars(spark, emb, tmp_path):
    """Age-based retention composes with snapshot-index quantizer
    sidecars (round 11, r12 candidate #4 pulled forward): expiring an
    aged pre-recluster version removes ITS quantizer sidecar exactly
    when no kept manifest references it, and the surviving version
    still resolves its own frozen quantizer."""
    import json
    import os
    import time as _time

    import uts_spark.functions.vindex as vx
    import uts_spark.sources.versioned as V

    p = str(tmp_path / "aged_ivf")
    vx.ivf_vindex_build(emb, p, fingerprint="f0", n_cells=4)
    vx.ivf_vindex_recluster(spark, p, fingerprint="f1")
    ms = V.list_versions(p)
    q_old = ms[0]["centroids_dir"]
    q_new = ms[-1]["centroids_dir"]
    assert q_old != q_new and os.path.isdir(q_old)

    # young versions: the age window protects both
    assert V.vacuum(p, keep_last=1, max_age_secs=10**9) == []
    # age v0 past the window -> it expires, and its now-unreferenced
    # quantizer sidecar goes with it
    mp = os.path.join(V._versions_dir(p), "v0.json")
    with open(mp) as fh:
        m = json.load(fh)
    m["committed_at"] = _time.time() - 1000.0
    os.remove(mp)
    with open(mp, "w") as fh:
        json.dump(m, fh)
    assert V.vacuum(p, keep_last=1, max_age_secs=500) == [0]
    assert not os.path.isdir(q_old)
    assert os.path.isdir(q_new)
    # the survivor probes against its own frozen quantizer
    anchors = emb.filter(F.col("vec_id") < 3)
    got = vx.ivf_vindex_probe(spark, p, anchors, k=5, n_probe=2)
    assert got.count() > 0
