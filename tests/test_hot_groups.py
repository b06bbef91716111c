"""Hot-group caps in pair-generation dedup: a boilerplate shingle or an
n-times-duplicated document must not produce an O(m^2) pair explosion —
oversized groups are dropped, and the drop is observable (never silent)."""

import pytest
from pyspark.sql import Observation

from urbanistic_polygons_spark.operators.dedup import (
    minhash_lsh_pairs, ngram_jaccard_pairs,
)
from urbanistic_polygons_spark.operators.similarity import embedding_near_dup

BOILER = "all rights reserved copyright notice follows here"


def _docs(spark, n=40):
    # every doc shares the BOILER prefix (hot shingles, df = n); the tail
    # makes each doc distinct so full-signature buckets stay small
    rows = [(i, f"{BOILER} unique tail {i} alpha beta gamma delta", "en")
            for i in range(n)]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_ngram_jaccard_hot_shingle_capped(spark):
    docs = _docs(spark)
    obs = Observation("jac")
    pairs = ngram_jaccard_pairs(docs, threshold_permille=100,
                                max_group=8, observation=obs)
    n_pairs = pairs.count()
    got = obs.get
    assert got["dropped_groups"] > 0          # the boiler shingles
    assert got["dropped_members"] >= got["dropped_groups"] * 9
    # without the boiler shingles no pair reaches 10% Jaccard
    assert n_pairs == 0


def test_ngram_jaccard_uncapped_differs(spark):
    docs = _docs(spark)
    capped = ngram_jaccard_pairs(docs, threshold_permille=100,
                                 max_group=8).count()
    uncapped = ngram_jaccard_pairs(docs, threshold_permille=100,
                                   max_group=10_000).count()
    assert uncapped > capped  # the cap really dropped hot groups


def test_minhash_lsh_hot_bucket_capped(spark):
    # 30 byte-identical docs -> identical signatures -> every band bucket
    # holds all 30 members
    rows = [(i, "same exact duplicated text body here ok", "en")
            for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    obs = Observation("lsh")
    pairs = minhash_lsh_pairs(docs, k=16, bands=8, max_group=8,
                              observation=obs)
    assert pairs.count() == 0                 # all buckets over the cap
    got = obs.get
    assert got["dropped_groups"] == 8         # one per band
    assert got["dropped_members"] == 8 * 30


def test_embedding_near_dup_hot_bucket_capped(spark):
    # identical vectors all land in one bucket
    rows = [(i, [0.5, -0.25, 0.125, 1.0]) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    obs = Observation("emb")
    pairs = embedding_near_dup(emb, n_planes=4, max_bucket=8,
                               observation=obs)
    assert pairs.count() == 0
    got = obs.get
    assert got["dropped_buckets"] == 1
    assert got["dropped_members"] == 20


def test_embedding_near_dup_pairs_found(spark):
    # two identical + distinct others: the identical pair must surface with
    # the exact integer self-dot
    vecs = [(0, [0.5, 0.5, 0.5, 0.5]), (1, [0.5, 0.5, 0.5, 0.5]),
            (2, [-1.0, 0.3, -0.2, 0.9]), (3, [0.1, -0.8, 0.7, -0.3])]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    pairs = embedding_near_dup(emb, n_planes=2, min_dot=0).toPandas()
    match = pairs[(pairs.id_a == 0) & (pairs.id_b == 1)]
    assert len(match) == 1
    assert int(match.iloc[0]["dot"]) == 4 * 500 * 500


def test_near_dup_components(spark):
    from urbanistic_polygons_spark.operators.dedup import near_dup_components
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4),          # chain 1-2-3-4
         (10, 11),                         # pair
         (20, 21), (21, 22), (22, 20)],    # triangle
        "doc_a long, doc_b long")
    got = {(r.doc_id, r.component)
           for r in near_dup_components(pairs).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1),
                   (10, 10), (11, 10),
                   (20, 20), (21, 20), (22, 20)}

    # no pairs: no components, and the loop exits on its first round
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    assert near_dup_components(empty).count() == 0


def test_near_dup_components_string_ids(spark):
    """String ids (the face-GUID shape merge uses) get the same min-id
    semantics under string order, over a cycle, a triangle and a pair."""
    from pyspark.sql import functions as F

    from urbanistic_polygons_spark.operators.dedup import near_dup_components
    raw = [(0, 1), (1, 2), (2, 3), (3, 0),
           (10, 11), (11, 12), (10, 12),
           (20, 21)]
    spairs = spark.createDataFrame(raw, "doc_a long, doc_b long").select(
        F.format_string("n%02d", "doc_a").alias("doc_a"),
        F.format_string("n%02d", "doc_b").alias("doc_b"))
    got = {(r.doc_id, r.component)
           for r in near_dup_components(spairs).collect()}
    assert got == {("n00", "n00"), ("n01", "n00"), ("n02", "n00"),
                   ("n03", "n00"),
                   ("n10", "n10"), ("n11", "n10"), ("n12", "n10"),
                   ("n20", "n20"), ("n21", "n20")}


def test_near_dup_components_huge_ids(spark):
    """Ids at or above 2^62 (hashed 64-bit doc ids): the labels of five
    such nodes already sum past int64, so the loop must not aggregate
    them arithmetically."""
    from urbanistic_polygons_spark.operators.dedup import near_dup_components
    base = 1 << 62
    pairs = spark.createDataFrame(
        [(base + 4, base + 3), (base + 3, base + 2),   # chain
         (base + 1, base)],                            # pair
        "doc_a long, doc_b long")
    got = {(r.doc_id, r.component)
           for r in near_dup_components(pairs).collect()}
    assert got == {(base + 2, base + 2), (base + 3, base + 2),
                   (base + 4, base + 2),
                   (base, base), (base + 1, base)}


def _components_capped(spark):
    # a 300-node chain cannot converge in 2 rounds
    from pyspark.sql import functions as F

    from urbanistic_polygons_spark.operators.dedup import near_dup_components
    pairs = spark.range(299).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b"))
    out = near_dup_components(pairs, max_rounds=2)
    # the labels are not yet their component minimum
    assert out.filter(F.col("component") != 0).count() > 0


def _sssp_capped(spark):
    # a 4-hop chain still improves in round 1
    from urbanistic_polygons_spark.operators.graph_algos import sssp_int
    edges = spark.createDataFrame([(i, i + 1, 1) for i in range(4)],
                                  "src long, dst long, w long")
    out = sssp_int(edges, 0, max_rounds=1)
    assert {r.node: r.dist for r in out.collect()} == {0: 0, 1: 1}


_EDGE_SCHEMA = (
    "way_id long, seg long, tag_sig string, v1_lon double, v1_lat double, "
    "v2_lon double, v2_lat double, shape_pts string, min_lon double, "
    "min_lat double, max_lon double, max_lat double")


def _planarize_capped(spark):
    # two crossing edges split in round 1; the cap leaves no round to
    # confirm that the pieces are planar
    from urbanistic_polygons_spark.operators.planarize import planarize
    edges = spark.createDataFrame(
        [(1, 0, "1", 4.78, 51.26, 4.784, 51.264, None,
          4.78, 51.26, 4.784, 51.264),
         (2, 0, "2", 4.78, 51.264, 4.784, 51.26, None,
          4.78, 51.26, 4.784, 51.264)], _EDGE_SCHEMA)
    assert planarize(edges, max_rounds=1).count() == 4


def _prune_capped(spark):
    # a 4-edge chain merges in round 1 and again in round 2
    from urbanistic_polygons_spark.operators.graph_build import (
        prune_shape_points)
    edges = spark.createDataFrame(
        [(7, i, "7", float(i), 0.0, float(i + 1), 0.0, None,
          float(i), 0.0, float(i + 1), 0.0) for i in range(4)], _EDGE_SCHEMA)
    assert prune_shape_points(edges, max_rounds=1).count() < 4


_CAPPED = {"near_dup_components": _components_capped,
           "sssp_int": _sssp_capped,
           "planarize": _planarize_capped,
           "prune_shape_points": _prune_capped}


@pytest.mark.parametrize("name", list(_CAPPED))
def test_fixpoint_round_cap_warns(spark, name):
    """Every run-until-nothing-changes loop that hits its round cap warns
    instead of silently returning a non-converged result."""
    with pytest.warns(RuntimeWarning, match=f"{name} stopped at max_rounds="):
        _CAPPED[name](spark)


def _components_rounds(spark):
    from pyspark.sql import functions as F

    from urbanistic_polygons_spark.operators.dedup import near_dup_components
    pairs = spark.range(39).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b"))
    assert near_dup_components(pairs).filter("component != 0").isEmpty()


def _sssp_rounds(spark):
    from urbanistic_polygons_spark.operators.graph_algos import sssp_int
    edges = spark.createDataFrame([(i, i + 1, 1) for i in range(5)],
                                  "src long, dst long, w long")
    assert {r.node: r.dist for r in sssp_int(edges, 0).collect()} == {
        i: i for i in range(6)}


def _planarize_rounds(spark):
    # round 1 splits way 1 at way 3; re-writing way 1's shape point with
    # nine decimals lowers it by 4e-10, so in round 2 its piece crosses
    # way 2, whose top stopped 3e-10 above the parallel: round 3 confirms
    from urbanistic_polygons_spark.operators.planarize import planarize
    lat = 51.26
    edges = spark.createDataFrame(
        [(1, 0, "1", 4.780, lat, 4.782, lat, "4.781000000 51.2600000004",
          4.780, lat, 4.782, lat + 4e-10),
         (2, 0, "2", 4.7812, lat - 1e-3, 4.7812, lat + 3e-10, None,
          4.7812, lat - 1e-3, 4.7812, lat + 3e-10),
         (3, 0, "3", 4.7805, lat - 1e-3, 4.7805, lat + 1e-3, None,
          4.7805, lat - 1e-3, 4.7805, lat + 1e-3)], _EDGE_SCHEMA)
    out = planarize(edges).filter("way_id = 1").orderBy("seg").collect()
    assert [r.seg for r in out] == [0, 1, 2]
    assert [r.v1_lon for r in out] == pytest.approx([4.780, 4.7805, 4.7812])


def _prune_rounds(spark):
    edges = spark.createDataFrame(
        [(7, i, "7", float(i), 0.0, float(i + 1), 0.0, None,
          float(i), 0.0, float(i + 1), 0.0) for i in range(16)], _EDGE_SCHEMA)
    from urbanistic_polygons_spark.operators.graph_build import (
        prune_shape_points)
    assert prune_shape_points(edges).count() == 1


_ROUNDS = {"near_dup_components": _components_rounds,
           "sssp_int": _sssp_rounds,
           "planarize": _planarize_rounds,
           "prune_shape_points": _prune_rounds}


@pytest.mark.parametrize("name", list(_ROUNDS))
def test_fixpoint_round3_size_estimate_reset(spark, monkeypatch, name):
    """Every run-until-nothing-changes loop cuts its lineage with
    ``cut_lineage``: the state of round 3 estimates its size as
    ``spark.sql.defaultSizeInBytes``, not as an inherited estimate that
    a self-joining round would square."""
    from urbanistic_polygons_spark.plans import lineage
    states = []
    real = lineage.cut_lineage

    def recording(df, eager=True):
        states.append(real(df, eager))
        return states[-1]
    monkeypatch.setattr(lineage, "cut_lineage", recording)
    _ROUNDS[name](spark)
    assert len(states) >= 3, len(states)
    size = states[2]._jdf.queryExecution().optimizedPlan().stats() \
        .sizeInBytes()
    default = spark._jsparkSession.sessionState().conf().defaultSizeInBytes()
    assert int(str(size)) == int(default)


def test_winnow_fingerprints_semantics(spark):
    """Winnowing invariants: shared long runs of tokens produce shared
    fingerprints (plagiarism-detection property); disjoint texts share
    none; short docs fall back to a single hash."""
    from pyspark.sql import functions as F

    from urbanistic_polygons_spark.functions import text as X

    rows = [(1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "intro words alpha beta gamma delta epsilon zeta eta theta"),
            (3, "completely different content with other tokens here"),
            (4, "tiny doc")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    tok = d.select("doc_id", X.tokens(F.col("text")).alias("toks"))
    hs = tok.select("doc_id", X.winnow_token_hashes(F.col("toks")).alias("hs"))
    g = hs.select("doc_id", X.winnow_from_hashes(F.col("hs")).alias("grams"))
    fps = {r.doc_id: set(r.fps) for r in
           g.select("doc_id", X.winnow_windows(F.col("grams")).alias("fps"))
           .collect()}
    assert fps[1] & fps[2]           # shared run -> shared fingerprints
    assert not (fps[1] & fps[3])     # disjoint texts -> no overlap
    assert len(fps[4]) == 1          # < k tokens -> single-hash fallback


@pytest.mark.filterwarnings("error:near_dup_components stopped")
def test_near_dup_components_long_chain(spark):
    """A 10^4-node chain (diameter 10^4 — the
    propagate loop's worst case) converges within 16 rounds to the single
    component labeled by the minimum node id, without hitting the round
    cap."""
    from pyspark.sql import functions as F

    from urbanistic_polygons_spark.operators.dedup import near_dup_components

    pairs = spark.range(9999).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b"))
    out = near_dup_components(pairs, max_rounds=16).toPandas()
    assert len(out) == 10000
    assert set(out.doc_id) == set(range(10000))
    assert (out.component == 0).all()
