"""Scale-shape tests for the dedup operators (VERDICT r1 items 1 & 8).

These assert *candidate volume*, not just answers: at 10x duplicate density
the banded/DF-capped candidate joins must stay near-linear in the number of
true duplicate pairs, never quadratic in corpus size.
"""

import math

import pytest
from pyspark.sql import functions as F

from readability_spark.operators.dedup import (
    exact_duplicates,
    ngram_jaccard_pairs,
    simhash64,
    simhash64_near_pairs,
    with_injected_duplicates,
)

pytestmark = pytest.mark.spark

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.read.parquet(f"{SF}/documents.parquet").cache()
    yield df
    df.unpersist()  # a leaked cache swaps other tests' parquet scans for InMemoryTableScan


def test_simhash64_matches_injected_duplicates(spark, docs):
    # every injected copy (identical text) must come back at hamming 0
    dense = with_injected_duplicates(docs, every=1)  # 10x the default density
    pairs = simhash64_near_pairs(dense).collect()
    n = docs.count()
    exact = {(r.id_a, r.id_b) for r in pairs if r.hamming == 0}
    for d in docs.select("doc_id").collect():
        assert (d.doc_id, d.doc_id + 1_000_000) in exact
    # bounded candidates: near-linear in n, nowhere near the n^2 cross join
    assert len(pairs) < 10 * n


def test_simhash64_band_buckets_stay_small(spark, docs):
    """The 16-bit band keys must spread the corpus: no bucket may hold a
    macroscopic fraction of docs (the 8-bit variant's failure mode)."""
    sh = simhash64(with_injected_duplicates(docs, every=1))
    bands = sh.select(
        F.explode(
            F.array(
                (F.col("sim_hi") / 65536).cast("long"),
                F.col("sim_hi") % 65536,
                (F.col("sim_lo") / 65536).cast("long"),
                F.col("sim_lo") % 65536,
            )
        ).alias("key")
    )
    top = bands.groupBy("key").count().agg(F.max("count")).first()[0]
    n = sh.count()
    # identical injected copies necessarily share keys, and template-similar
    # synthetic docs legitimately collide on some bands — but the biggest
    # bucket must stay a sliver of the corpus, not a macroscopic pile-up
    assert top <= max(8, n // 10)


def test_ngram_jaccard_df_cap_bounds_candidates(spark, docs):
    dense = with_injected_duplicates(docs, every=1)
    n = dense.count()
    pairs = ngram_jaccard_pairs(dense).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    for d in docs.select("doc_id").collect():
        assert (d.doc_id, d.doc_id + 1_000_000) in found
    for r in pairs:
        if r.id_b == r.id_a + 1_000_000:
            assert r.jaccard == 1.0
    assert len(pairs) < 5 * n  # not quadratic


def test_ngram_jaccard_hot_shingle_is_dropped(spark):
    """A boilerplate shingle shared by every doc must not generate the
    all-pairs candidate explosion: docs sharing ONLY that shingle produce
    zero pairs under the DF cap."""
    rows = [(i, f"common boilerplate footer unique{i} a b c d e f g") for i in range(300)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = ngram_jaccard_pairs(docs, threshold=0.1, max_df=100)
    assert pairs.count() == 0


def test_exact_duplicates_id_list_capped(spark):
    rows = [(i, "the same text") for i in range(500)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    g = exact_duplicates(docs, max_ids=100).first()
    assert g.n_copies == 500  # true count retained
    assert len(g.doc_ids) == 100  # bounded payload
    assert g.doc_ids == sorted(g.doc_ids) and g.keep_id == 0


def test_connected_components_path_graph(spark):
    """A 64-node path (worst case for plain min-propagation: diameter 63)
    must converge to one component within the log-round budget — the
    star steps contract chains geometrically."""
    from readability_spark.operators.graph import cc_large_small_star

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "id_a long, id_b long"
    )
    out = cc_large_small_star(pairs).collect()
    assert len(out) == 64
    assert {r.cluster_id for r in out} == {0}


def test_connected_components_multi_component(spark):
    """Two triangles + one pair + transitive chain a~b~c: labels are the
    component minima and never leak across components."""
    from readability_spark.operators.graph import cc_large_small_star

    edges = [
        (1, 2), (2, 3), (1, 3),          # triangle {1,2,3}
        (10, 11), (11, 12), (10, 12),    # triangle {10,11,12}
        (20, 21),                        # pair {20,21}
        (30, 31), (31, 32),              # chain -> {30,31,32}
    ]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.doc_id: r.cluster_id for r in cc_large_small_star(pairs).collect()}
    assert got == {
        1: 1, 2: 1, 3: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
        30: 30, 31: 30, 32: 30,
    }


def test_near_dup_clusters_sizes(spark):
    """near_dup_clusters over injected duplicates: every cluster contains
    its own cluster_id (the survivor), sizes are consistent, and the
    transitive collapse keeps exactly one survivor per cluster."""
    from readability_spark.operators.dedup import near_dup_clusters

    docs = with_injected_duplicates(
        spark.read.parquet(f"{SF}/documents.parquet"), every=10
    )
    out = near_dup_clusters(docs).collect()
    assert out, "injected duplicates must produce at least one cluster"
    by_cluster: dict = {}
    for r in out:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, members in by_cluster.items():
        assert cid in {m.doc_id for m in members}  # survivor is a member
        assert all(m.cluster_size == len(members) for m in members)
        assert len(members) >= 2


def test_incremental_minhash_admission(spark):
    """Increment vs history: an exact copy of a history doc is rejected
    (max_jaccard 1.0), a disjoint-vocabulary doc is admitted with zero
    candidates, and the same doc run through the SELF-pair path agrees."""
    from readability_spark.operators.dedup import incremental_minhash_new

    hist_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    hist_b = "one two three four five six seven eight nine ten " * 3
    fresh = "crimson umber viridian ochre cobalt cerulean magenta sienna teal azure " * 3
    history = spark.createDataFrame(
        [(0, hist_a.strip()), (1, hist_b.strip())], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(100, hist_a.strip()), (101, fresh.strip())], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in incremental_minhash_new(new, history).collect()}
    assert not rows[100].is_new and rows[100].max_jaccard == 1.0
    assert rows[100].n_candidates >= 1
    assert rows[101].is_new and rows[101].n_candidates == 0
    assert rows[101].max_jaccard is None


def test_incremental_minhash_counts_all_candidates(spark):
    """max_jaccard reflects ALL bucket collisions, including sub-threshold
    ones (the verify join must not pre-filter)."""
    from readability_spark.operators.dedup import incremental_minhash_new

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    # shares a long prefix with base -> bucket collision likely, jaccard < 0.5
    partial = "alpha beta gamma delta epsilon zeta nu xi omicron pi rho sigma tau upsilon phi chi psi omega one two"
    history = spark.createDataFrame([(0, base)], "doc_id long, text string")
    new = spark.createDataFrame([(100, partial)], "doc_id long, text string")
    rows = {r.doc_id: r for r in incremental_minhash_new(new, history).collect()}
    r = rows[100]
    if r.n_candidates:  # collision happened -> verified but below threshold
        assert r.is_new and r.max_jaccard is not None and r.max_jaccard < 0.5
    else:  # no band collided -> admitted with no evidence
        assert r.is_new and r.max_jaccard is None


def test_simhash64_bucket_cap_is_exact_and_no_wider(spark, docs):
    """The hot-bucket refinement (r3 VERDICT item: per-(band,key) cap) must
    be lossless — pigeonhole over 4×12-bit sub-bands of the remaining 48
    bits guarantees every hamming<=3 pair survives — while never generating
    MORE candidates than the uncapped single-level join."""
    dense = with_injected_duplicates(docs, every=1)
    st_cold, st_hot = {}, {}
    # cap above any bucket size = the pre-r4 single-level behavior
    cold = simhash64_near_pairs(dense, bucket_cap=10**9, _stages=st_cold)
    # cap of 2 pushes every shared bucket through the refined path
    hot = simhash64_near_pairs(dense, bucket_cap=2, _stages=st_hot)
    cold_pairs = {(r.id_a, r.id_b, r.hamming) for r in cold.collect()}
    hot_pairs = {(r.id_a, r.id_b, r.hamming) for r in hot.collect()}
    assert hot_pairs == cold_pairs and cold_pairs  # exact, and non-trivial
    n_cold = st_cold["candidate_pairs"].count()
    n_hot = st_hot["candidate_pairs"].count()
    assert n_hot <= n_cold
    # the refinement must actually engage on this corpus (identical injected
    # copies guarantee buckets past a cap of 2)
    assert st_hot["hot_band_keys"].count() > 0


def test_simhash64_refinement_splits_band_equal_far_pairs(spark):
    """Docs equal in one 16-bit band but far in the remaining 48 bits are
    exactly the hot-bucket population that went quadratic pre-r4; with the
    cap they must produce ZERO candidates unless a 12-bit sub-band also
    matches. Build the population directly at the banding layer by driving
    simhash64 with single-token docs (one token = that token's md5 decides
    the full 64-bit hash), then check candidate counts via _stages."""
    import hashlib

    # find single tokens whose md5-derived sim_hi top-16 collide but whose
    # remaining 48 bits are pairwise distant (>3 bits)
    by_band: dict = {}
    for i in range(200000):
        tok = f"t{i}"
        h = hashlib.md5(tok.encode()).hexdigest()
        hi, lo = int(h[:8], 16), int(h[8:16], 16)
        by_band.setdefault(hi >> 16, []).append((tok, hi, lo))
        # single-token doc: every vote is decided by this one hash, so
        # sim_hi == hi and sim_lo == lo exactly
    group = max(by_band.values(), key=len)
    group = group[:40]
    assert len(group) >= 12

    def ham48(a, b):
        ra = ((a[1] & 0xFFFF) << 32) | a[2]
        rb = ((b[1] & 0xFFFF) << 32) | b[2]
        return bin(ra ^ rb).count("1")

    far = [t for t in group if all(ham48(t, u) > 3 for u in group if u is not t)]
    assert len(far) >= 8
    docs = spark.createDataFrame(
        [(i, t[0]) for i, t in enumerate(far)], "doc_id long, text string"
    )
    st: dict = {}
    out = simhash64_near_pairs(docs, bucket_cap=2, _stages=st)
    assert out.count() == 0  # none are true near-dups
    # uncapped, this bucket alone yields C(n,2) candidates; with the cap the
    # sub-band split must cut that down (any survivors share a 12-bit
    # sub-band by chance — allow a sliver, not the quadratic pile)
    n = len(far)
    uncapped = n * (n - 1) // 2
    assert st["candidate_pairs"].count() < uncapped // 2


def test_canonical_survivors_one_keeper_max_quality(spark):
    from readability_spark.operators.dedup import (
        canonical_survivors,
        with_injected_duplicates,
    )
    from readability_spark.operators.textstats import load_documents

    docs = with_injected_duplicates(load_documents(spark, "/root/testdata/sf0.001"))
    rows = canonical_survivors(docs).collect()
    assert rows
    by_cluster: dict = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, members in by_cluster.items():
        keepers = [m for m in members if m["keep"]]
        assert len(keepers) == 1, cid
        k = keepers[0]
        mx = max(m["quality"] for m in members)
        assert k["quality"] == mx
        # ties at max quality break toward the smallest doc_id
        assert k["doc_id"] == min(m["doc_id"] for m in members if m["quality"] == mx)
        assert all(m["keep_id"] == k["doc_id"] for m in members)
        assert all(m["cluster_size"] == len(members) for m in members)


def test_soft_dedup_weights_cover_corpus(spark):
    """Soft reweighting: every input doc appears exactly once; cluster
    members carry size^-alpha, uniques carry 1.0, and each cluster's total
    weight mass is size^(1-alpha) (== 1.0 at alpha=1)."""
    from readability_spark.operators.dedup import (
        near_dup_clusters,
        soft_dedup_weights,
        with_injected_duplicates,
    )

    docs = with_injected_duplicates(spark.read.parquet(f"{SF}/documents.parquet"))
    n_docs = docs.count()
    rows = soft_dedup_weights(docs, alpha=1.0).collect()
    assert len(rows) == n_docs
    assert len({r.doc_id for r in rows}) == n_docs
    clustered = {r.doc_id: r.cluster_size for r in near_dup_clusters(docs).collect()}
    assert clustered
    mass: dict = {}
    for r in rows:
        if r.doc_id in clustered:
            assert r.cluster_size == clustered[r.doc_id]
            assert r.weight == pytest.approx(
                math.floor(10000.0 / r.cluster_size + 0.5) / 10000.0, abs=1e-9
            )
            mass[r.cluster_size] = mass.get(r.cluster_size, 0.0) + r.weight
        else:
            assert r.cluster_size == 1
            assert r.weight == 1.0


def test_containment_finds_fragments_jaccard_misses(spark):
    from readability_spark.operators.dedup import (
        FRAG_OFFSET,
        ngram_containment_pairs,
        ngram_jaccard_pairs,
        with_injected_fragments,
    )
    from readability_spark.operators.textstats import load_documents

    docs = with_injected_fragments(load_documents(spark, "/root/testdata/sf0.001"))
    pairs = {
        (r["id_a"], r["id_b"]): (r["containment_a"], r["containment_b"])
        for r in ngram_containment_pairs(docs).collect()
    }
    frag_parents = [
        (r["doc_id"], r["doc_id"] - FRAG_OFFSET)
        for r in docs.filter(F.col("doc_id") >= FRAG_OFFSET).select("doc_id").collect()
    ]
    assert frag_parents
    found = 0
    for frag_id, parent in frag_parents:
        key = (parent, frag_id) if parent < frag_id else (frag_id, parent)
        if key in pairs:
            found += 1
            ca, cb = pairs[key]
            # the fragment's shingle set is a subset of its parent's:
            # the fragment-side containment is exactly 1.0
            assert max(ca, cb) == 1.0, (key, ca, cb)
    assert found >= len(frag_parents) * 0.9  # DF-capped discovery may miss a few
    # plain jaccard at the containment threshold misses these asymmetric
    # pairs (fragment is half the parent: J <= ~0.5 < 0.8)
    jac = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    frag_keys = {
        (min(a, b), max(a, b)) for a, b in frag_parents
    }
    assert not (jac & frag_keys)


def test_dedup_eval_recall_report(spark):
    from readability_spark.operators.dedup import (
        dedup_eval_recall,
        with_injected_duplicates,
    )
    from readability_spark.operators.textstats import load_documents

    docs = with_injected_duplicates(load_documents(spark, "/root/testdata/sf0.001"))
    row = dedup_eval_recall(docs).collect()[0]
    # exact copies share every shingle: all 16 minhashes collide, so every
    # injected pair is discovered — recall 1.0 on identical-copy truth
    assert row["n_truth"] > 0
    assert row["n_truth_found"] == row["n_truth"]
    assert row["recall"] == 1.0
    assert row["n_discovered"] >= row["n_truth"]
    assert row["n_extra"] == row["n_discovered"] - row["n_truth_found"]


def test_source_matrix_aggregates_pairs_exactly(spark):
    from readability_spark.operators.dedup import (
        minhash_lsh_pairs,
        near_dup_source_matrix,
        with_injected_duplicates,
    )

    docs = with_injected_duplicates(spark.read.parquet(f"{SF}/documents.parquet"))
    pairs = minhash_lsh_pairs(docs).collect()
    src = {r.doc_id: r.source for r in docs.select("doc_id", "source").collect()}
    expect: dict = {}
    for p in pairs:
        key = tuple(sorted((src[p.id_a], src[p.id_b])))
        n, tot = expect.get(key, (0, 0.0))
        expect[key] = (n + 1, tot + p.jaccard)
    got = {
        (r.source_lo, r.source_hi): r
        for r in near_dup_source_matrix(docs).collect()
    }
    assert set(got) == set(expect) and expect
    for key, (n, tot) in expect.items():
        assert got[key].n_pairs == n
        assert got[key].avg_jaccard == pytest.approx(
            math.floor(tot / n * 10000.0 + 0.5) / 10000.0, abs=1e-9
        )
    # injected copies share their parent's source: the diagonal is hot
    assert any(lo == hi for lo, hi in got)


def test_joint_near_dup_is_pair_intersection(spark, docs):
    # Joint multimodal near-dup must equal the exact dict-intersection of
    # the two modality pair sets, and every injected byte-identical copy
    # (identical in BOTH modalities) must appear with both hammings 0.
    from readability_spark.operators.dedup import DUP_OFFSET, joint_near_dup
    from readability_spark.operators.imaging import (
        image_near_dup,
        image_pixel_stats,
        synthesize_images,
    )

    small = docs.limit(80)
    text_pairs = simhash64_near_pairs(with_injected_duplicates(small))
    imgs = synthesize_images(small)
    copies = imgs.filter((F.col("doc_id") % 10) == 0).withColumn(
        "doc_id", F.col("doc_id") + DUP_OFFSET
    )
    image_pairs = image_near_dup(image_pixel_stats(imgs.unionByName(copies)))
    tmap = {(r.id_a, r.id_b): r.hamming for r in text_pairs.collect()}
    imap = {(r.id_a, r.id_b): r.hamming for r in image_pairs.collect()}
    got = {
        (r.id_a, r.id_b): (r.text_hamming, r.media_hamming)
        for r in joint_near_dup(text_pairs, image_pairs).collect()
    }
    expect = {k: (tmap[k], imap[k]) for k in tmap.keys() & imap.keys()}
    assert got == expect and expect
    copy_keys = [k for k in expect if k[1] - k[0] == DUP_OFFSET]
    assert copy_keys and all(got[k] == (0, 0) for k in copy_keys)


def test_pair_graph_clusters_union_find_parity(spark, docs):
    # The modality-agnostic cluster layer must agree with a pure-python
    # union-find over the collected image pair graph: same membership,
    # same min-id labels, same sizes.
    from readability_spark.operators.dedup import DUP_OFFSET, pair_graph_clusters
    from readability_spark.operators.imaging import (
        image_near_dup,
        image_pixel_stats,
        synthesize_images,
    )

    small = docs.limit(60)
    imgs = synthesize_images(small)
    copies = imgs.filter((F.col("doc_id") % 10) == 0).withColumn(
        "doc_id", F.col("doc_id") + DUP_OFFSET
    )
    pairs = image_near_dup(image_pixel_stats(imgs.unionByName(copies))).localCheckpoint()
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs.collect():
        ra, rb = find(r.id_a), find(r.id_b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want_label = {v: find(v) for v in parent}
    sizes = {}
    for v, c in want_label.items():
        sizes[c] = sizes.get(c, 0) + 1
    got = {r.doc_id: (r.cluster_id, r.cluster_size)
           for r in pair_graph_clusters(pairs).collect()}
    assert got == {v: (c, sizes[c]) for v, c in want_label.items()} and got


def test_hash64_cluster_edges_same_components_as_full_pairs(spark, docs):
    """The star-reduced edge set must yield byte-identical
    (doc_id, cluster_id, cluster_size) rows to clustering the full pair
    list — cliques contract to stars, cross-value pair floods to one rep
    edge, connectivity (and the node set) unchanged."""
    from readability_spark.operators.dedup import (
        hash64_cluster_edges,
        pair_graph_clusters,
        simhash64,
    )

    dense = with_injected_duplicates(docs, every=2)
    sig = simhash64(dense)
    full = pair_graph_clusters(simhash64_near_pairs(dense))
    reduced = pair_graph_clusters(hash64_cluster_edges(sig))
    rows_f = {tuple(r) for r in full.collect()}
    rows_r = {tuple(r) for r in reduced.collect()}
    assert rows_f == rows_r and rows_f
    # and the reduction is real: strictly fewer edges than pairs on a
    # corpus with injected identical-signature floods
    n_pairs = simhash64_near_pairs(dense).count()
    n_edges = hash64_cluster_edges(sig).count()
    assert n_edges <= n_pairs
