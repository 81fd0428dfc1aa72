"""Functional tests for the training-data operators: injected
near-duplicates must be found (MinHash/SimHash/Jaccard), clustered
embeddings must be retrieved (exact + LSH ANN), lang-id must classify
marker text."""

import pytest
from pyspark.sql import functions as F

BASE = ("the quick brown fox jumps over the lazy dog while the spark "
        "engine shuffles arrow batches across the cluster nodes during "
        "template extraction and capture alignment at web scale today")


@pytest.fixture(scope="module")
def docs(spark):
    near = BASE.replace("lazy dog", "sleepy dog")  # 1-phrase edit
    rows = [
        (1, BASE, "en", "s", len(BASE)),
        (2, near, "en", "s", len(near)),
        (3, BASE, "en", "s", len(BASE)),  # exact dup of 1
        (4, "completely different tiny text about nothing in particular "
            "with unrelated words like banana umbrella quantum raccoon "
            "pancake theory and several more filler tokens here now",
         "en", "s", 60),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")


def test_exact_dedup_groups(docs):
    from weakscraper_spark.operators.dedup import exact_dedup
    out = exact_dedup(docs).collect()
    groups = {r.canonical_id: r.n_members for r in out}
    assert groups[1] == 2          # docs 1 and 3 identical
    assert groups[2] == 1 and groups[4] == 1


def test_minhash_finds_near_dup(docs):
    from weakscraper_spark.operators.dedup import minhash_lsh_pairs
    pairs = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(docs).collect()}
    assert (1, 3) in pairs          # identical → all bands agree
    assert (1, 2) in pairs or (2, 3) in pairs  # near-dup caught
    assert not any(4 in p for p in pairs)      # unrelated not caught


def test_jaccard_scores(docs):
    from weakscraper_spark.operators.dedup import ngram_jaccard_pairs
    out = {(r.doc_a, r.doc_b): float(r.jaccard)
           for r in ngram_jaccard_pairs(docs, min_jaccard=0.3).collect()}
    assert out[(1, 3)] == 1.0
    assert 0.5 < out[(1, 2)] < 1.0
    assert (1, 4) not in out


def test_simhash_batch_twin_equals_scalar():
    """The vectorized batch kernel must be integer-identical to the
    per-doc reference on every shape: empty text, sub-k docs, heavy
    repetition, unicode case folding (r08 optimization guard)."""
    import random

    from weakscraper_spark.operators.dedup import (
        _simhash64, _simhash64_batch)
    rng = random.Random(7)
    texts = ["", "a", "a b", "a b c", "A b C a B c",
             "\u00dcber stra\u00dfe \u00dcBER STRASSE tok",
             " ".join(["dup"] * 50)]
    vocab = [f"tok{i}" for i in range(40)]
    texts += [" ".join(rng.choice(vocab)
                       for _ in range(rng.randint(0, 90)))
              for _ in range(150)]
    assert _simhash64_batch(texts) == [_simhash64(t) for t in texts]


def test_simhash_distances(docs):
    """Pure hash property: near-dup pair is much closer than the
    unrelated pair (measured: 14 vs 29 bits on this corpus)."""
    from weakscraper_spark.operators.dedup import simhash
    h = {r.doc: r.simhash for r in simhash(docs).collect()}
    ham = lambda a, b: bin((a ^ b) & (2**64 - 1)).count("1")  # noqa: E731
    assert h[1] == h[3]
    assert ham(h[1], h[2]) < ham(h[1], h[4]) - 5


def test_simhash_near_pairs(docs):
    """Banded retrieval: identical docs (hamming 0) are guaranteed by
    pigeonhole at max_hamming=3; unrelated docs must not pair."""
    from weakscraper_spark.operators.dedup import simhash_near_pairs
    pairs = {(r.doc_a, r.doc_b): r.hamming
             for r in simhash_near_pairs(docs, max_hamming=3).collect()}
    assert pairs[(1, 3)] == 0
    assert not any(4 in p for p in pairs)


def test_simhash_banding_recall_at_high_hamming(spark):
    """Recall guard (r01 bug): a pair at Hamming 6 whose differing
    bits straddle all four former 16-bit chunks must be found with
    max_hamming=8 — requires chunk count derived from max_hamming
    (k = max_hamming + 1), not a fixed 4-way split."""
    from weakscraper_spark.operators.dedup import simhash_band_pairs

    base = 0x0123456789ABCDEF
    flips = (1 << 0) | (1 << 17) | (1 << 18) | (1 << 33) \
        | (1 << 49) | (1 << 63)
    flipped = base ^ flips

    def signed(v):
        return v - (1 << 64) if v >= (1 << 63) else v

    sh = spark.createDataFrame(
        [(1, signed(base)), (2, signed(flipped))],
        "doc long, simhash long")
    pairs = {(r.doc_a, r.doc_b): r.hamming
             for r in simhash_band_pairs(sh, max_hamming=8).collect()}
    assert pairs == {(1, 2): 6}


def test_simhash_zero_bucket_dropped(spark):
    """Degenerate-bucket guard (VERDICT r02 #2): every doc shorter
    than shingle_k words hashes to simhash 0, so at corpus scale the
    zero bucket is ALL short/empty docs sharing all chunks — an O(c²)
    self-join on one key. drop_zero (default) must exclude them
    entirely while normal near-dups still pair; the oracle twin
    carries the same ``simhash <> 0`` filter."""
    from weakscraper_spark.operators.dedup import (
        simhash_band_pairs, simhash_near_pairs)
    shorts = [(i, "tiny doc", "en", "s", 8) for i in range(200)]
    normal = [(1000, BASE, "en", "s", len(BASE)),
              (1001, BASE.replace("lazy", "idle"), "en", "s", len(BASE))]
    df = spark.createDataFrame(
        shorts + normal,
        "doc_id long, text string, lang string, source string, "
        "n_chars long")
    pairs = {(r.doc_a, r.doc_b)
             for r in simhash_near_pairs(df, max_hamming=8).collect()}
    assert pairs == {(1000, 1001)}   # zero-bucket docs never pair
    # and the hazard is real: without the guard the 200 short docs
    # alone produce C(200,2) pairs
    from weakscraper_spark.operators.dedup import simhash
    raw = simhash_band_pairs(simhash(df), max_hamming=8,
                             drop_zero=False)
    assert raw.count() == 200 * 199 // 2 + 1


def test_simhash_bucket_cap_bounds_giant_cluster(spark):
    """Opt-in max_bucket: an exact-dup cluster above the cap produces
    no pairs (belongs to exact dedup) while sub-cap near-dups still
    pair — and recall stays exact for the remainder."""
    from weakscraper_spark.operators.dedup import simhash_near_pairs
    other = ("an entirely unrelated corpus of words about gardens "
             "rivers mountains recipes pottery and astronomy written "
             "for the bucket cap test with stable phrasing throughout")
    giant = [(i, BASE, "en", "s", len(BASE)) for i in range(20)]
    small = [(100, other, "en", "s", len(other)),
             (101, other.replace("pottery", "ceramics"), "en", "s",
              len(other))]
    df = spark.createDataFrame(
        giant + small,
        "doc_id long, text string, lang string, source string, "
        "n_chars long")
    pairs = {(r.doc_a, r.doc_b)
             for r in simhash_near_pairs(df, max_hamming=8,
                                         max_bucket=8).collect()}
    assert (100, 101) in pairs
    assert not any(a < 100 for a, _ in pairs)


def test_minhash_overcap_audit_lists_dropped_buckets(spark):
    """The bucket cap's side output (ADVICE r02): clusters the cap
    excludes from pairwise LSH are enumerable, not invisible."""
    from weakscraper_spark.operators.dedup import (
        minhash_lsh_pairs, minhash_overcap_buckets)
    giant = [(i, BASE, "en", "s", len(BASE)) for i in range(10)]
    df = spark.createDataFrame(
        giant, "doc_id long, text string, lang string, source string, "
               "n_chars long")
    audit = minhash_overcap_buckets(df, max_bucket=8).collect()
    # 10 identical docs share all 4 band buckets, each of size 10
    assert len(audit) == 4
    assert all(r.n_docs == 10 for r in audit)
    assert minhash_lsh_pairs(df, max_bucket=8).count() == 0


def test_overcap_canonicals_resolve_capped_clusters(spark):
    """The cap's coverage closure: docs in over-cap buckets collapse
    to a cluster canonical (min doc id), docs outside over-cap
    buckets don't appear — pairwise LSH + this = full coverage."""
    from weakscraper_spark.operators.dedup import (
        minhash_overcap_canonicals)
    giant = [(i, BASE, "en", "s", len(BASE)) for i in range(10)]
    other = [(100, "totally different words about pottery and rivers "
              "and gardens flowing through mountain valleys today",
              "en", "s", 90)]
    df = spark.createDataFrame(
        giant + other,
        "doc_id long, text string, lang string, source string, "
        "n_chars long")
    got = {r.doc: r.canonical_id
           for r in minhash_overcap_canonicals(df, max_bucket=8)
           .collect()}
    assert got == {i: 0 for i in range(10)}


def test_winnow_fingerprints_detect_containment(spark):
    """Winnowing guarantee: two docs sharing a long run of words share
    at least one selected fingerprint; unrelated docs share none;
    sub-shingle docs produce none."""
    from weakscraper_spark.operators.textstats import winnow_fingerprints
    shared = ("alpha beta gamma delta epsilon zeta eta theta iota "
              "kappa lambda mu")
    rows = [
        (1, f"intro words here {shared} closing remarks", "en", "s", 1),
        (2, f"{shared} and a completely different ending clause", "en",
         "s", 1),
        (3, "unrelated short text about pottery rivers gardens valleys "
            "and mountains", "en", "s", 1),
        (4, "two words", "en", "s", 1),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    fps = {}
    for r in winnow_fingerprints(df).collect():
        fps.setdefault(r.doc, set()).add(r.fp)
    assert fps[1] & fps[2]            # shared run → shared fingerprint
    assert not (fps[1] & fps[3])      # unrelated → disjoint
    assert 4 not in fps               # < shingle_k words → no grams
    assert all(len(v) >= 1 for v in fps.values())


def test_minhash_bucket_cap_drops_giant_cluster(spark):
    """max_bucket: a dup cluster larger than the cap produces NO LSH
    pairs (it belongs to exact dedup), while small clusters still
    pair — the guard that keeps the band self-join from going O(c²)
    on a boilerplate cluster."""
    from weakscraper_spark.operators.dedup import minhash_lsh_pairs
    giant = [(i, BASE, "en", "s", len(BASE)) for i in range(10)]
    small = [(100 + i, "tiny unrelated piece of text repeated verbatim "
              "across exactly two documents for the pair check",
              "en", "s", 90) for i in range(2)]
    df = spark.createDataFrame(
        giant + small,
        "doc_id long, text string, lang string, source string, "
        "n_chars long")
    pairs = {(r.doc_a, r.doc_b)
             for r in minhash_lsh_pairs(df, max_bucket=8).collect()}
    assert (100, 101) in pairs
    assert not any(a < 100 for a, _ in pairs)


@pytest.fixture(scope="module")
def clustered_emb(spark):
    """3 well-separated clusters of 8 vectors each in R^16."""
    import math
    rows = []
    for c in range(3):
        center = [math.cos(c * 2.1 + d) for d in range(16)]
        for j in range(8):
            noise = [0.05 * math.sin(7.3 * c + 1.7 * j + d)
                     for d in range(16)]
            vec = [center[d] + noise[d] for d in range(16)]
            rows.append((c * 8 + j, vec, c))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")


def test_cosine_topk_retrieves_cluster(clustered_emb):
    from weakscraper_spark.operators.similarity import cosine_topk
    q = clustered_emb.filter("vec_id in (0, 8, 16)").select(
        F.col("vec_id").alias("query_id"), "embedding")
    out = cosine_topk(clustered_emb, q, k=5).collect()
    for r in out:
        assert r.neighbor_id // 8 == r.query_id // 8, \
            f"neighbor {r.neighbor_id} of {r.query_id} not in cluster"


def test_lsh_ann_recall(clustered_emb):
    from weakscraper_spark.operators.similarity import (
        cosine_topk, lsh_cosine_topk)
    q = clustered_emb.filter("vec_id in (0, 8, 16)").select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = {(r.query_id, r.neighbor_id)
             for r in cosine_topk(clustered_emb, q, k=3).collect()}
    ann = {(r.query_id, r.neighbor_id)
           for r in lsh_cosine_topk(clustered_emb, q, k=3,
                                    n_planes=4, dim=16).collect()}
    # tight clusters land in one bucket: recall should be high
    assert len(ann & exact) / len(exact) >= 0.6


def test_cosine_near_pairs_exact(clustered_emb):
    """Exact embedding near-dup: same-cluster pairs (tight, cosine
    ~0.99) are all found; cross-cluster pairs stay below a high
    threshold."""
    from weakscraper_spark.operators.similarity import cosine_near_pairs
    pairs = {(r.id_a, r.id_b) for r in
             cosine_near_pairs(clustered_emb, threshold=0.95).collect()}
    same = {(a, b) for a, b in pairs if a // 8 == b // 8}
    assert len(same) == 3 * (8 * 7) // 2       # every in-cluster pair
    assert same == pairs                       # and nothing else


def test_srp_near_pairs_recall(clustered_emb):
    from weakscraper_spark.operators.similarity import (
        cosine_near_pairs, srp_cosine_near_pairs)
    exact = {(r.id_a, r.id_b) for r in
             cosine_near_pairs(clustered_emb, threshold=0.95).collect()}
    ann = {(r.id_a, r.id_b) for r in
           srp_cosine_near_pairs(clustered_emb, threshold=0.95,
                                 n_planes=4, dim=16).collect()}
    assert ann <= exact                        # no false positives
    assert len(ann) / len(exact) >= 0.6        # bounded recall


def test_srp_cap_excludes_degenerate_bucket(spark):
    """A degenerate dense cluster (identical vectors — the templated-
    web pathology) must be EXCLUDED from pairwise SRP candidates by
    the bucket cap instead of exploding the self-join O(cluster²),
    and must surface in the auditable overcap side output. The two
    genuinely-near vectors outside the hot bucket still pair up."""
    import math

    from weakscraper_spark.operators.similarity import (
        srp_cosine_near_pairs, srp_overcap_buckets)
    center = [math.cos(1.3 * d) + 0.2 for d in range(16)]
    anti = [-x for x in center]
    rows = ([(i, center) for i in range(200)]        # one hot bucket
            + [(1000, anti), (1001, anti)])          # opposite bucket
    df = spark.createDataFrame(rows,
                               "vec_id long, embedding array<float>")
    pairs = {(r.id_a, r.id_b)
             for r in srp_cosine_near_pairs(
                 df, threshold=0.95, n_planes=4, dim=16,
                 max_bucket=50).collect()}
    assert pairs == {(1000, 1001)}                  # hot bucket gone
    over = srp_overcap_buckets(df, n_planes=4, dim=16,
                               max_bucket=50).collect()
    assert len(over) == 1 and over[0].n_docs == 200
    # and with the cap disabled the degenerate pairs DO appear
    # (19900 of them) — the cap is what held them out
    uncapped = srp_cosine_near_pairs(
        df, threshold=0.95, n_planes=4, dim=16, max_bucket=None)
    assert uncapped.count() == 200 * 199 // 2 + 1


def test_lsh_topk_multi_probe_recovers_hamming1_neighbor(spark):
    """Multi-probe construction: corpus vector v and query u are built
    (least-squares against the actual deterministic planes) so their
    SRP signatures differ in EXACTLY bit 0. Single-probe finds
    nothing; multi_probe=1 probes the Hamming-1 bucket and recovers
    the neighbor."""
    import numpy as np

    from weakscraper_spark.operators.similarity import (
        _plane, lsh_cosine_topk)
    planes = np.array([_plane(42, p, 8) for p in range(4)])
    v = np.linalg.lstsq(planes, np.array([1., 1., 1., 1.]),
                        rcond=None)[0]
    u = np.linalg.lstsq(planes, np.array([-1., 1., 1., 1.]),
                        rcond=None)[0]
    assert ((planes @ v > 0) != (planes @ u > 0)).tolist() == [
        True, False, False, False]
    emb = spark.createDataFrame(
        [(1, [float(x) for x in v])],
        "vec_id long, embedding array<float>")
    q = spark.createDataFrame(
        [(100, [float(x) for x in u])],
        "query_id long, embedding array<float>")
    single = lsh_cosine_topk(emb, q, k=1, n_planes=4, dim=8,
                             multi_probe=0)
    assert single.count() == 0
    multi = lsh_cosine_topk(emb, q, k=1, n_planes=4, dim=8,
                            multi_probe=1).collect()
    assert [(r.query_id, r.neighbor_id, r.rank) for r in multi] == [
        (100, 1, 1)]


def test_lsh_topk_corpus_cap_drops_hot_bucket(spark):
    """The corpus-side bucket cap holds a degenerate cluster out of
    every probe: a query landing in the hot bucket sees no candidates
    from it (mirrored in the oracle twin), but still retrieves from
    probed sub-cap buckets via multi-probe."""
    import math

    from weakscraper_spark.operators.similarity import lsh_cosine_topk
    center = [math.cos(1.3 * d) + 0.2 for d in range(16)]
    rows = [(i, center) for i in range(100)]
    emb = spark.createDataFrame(rows,
                                "vec_id long, embedding array<float>")
    q = spark.createDataFrame([(500, center)],
                              "query_id long, embedding array<float>")
    capped = lsh_cosine_topk(emb, q, k=3, n_planes=4, dim=16,
                             max_bucket=50)
    assert capped.count() == 0
    uncapped = lsh_cosine_topk(emb, q, k=3, n_planes=4, dim=16,
                               max_bucket=None)
    assert uncapped.count() == 3


def test_ivf_ann_recall(clustered_emb):
    """IVF probe search recovers the exact top-k on well-separated
    clusters (the query's own cluster is always among its probed
    lists), and is deterministic across runs (sample + init + Lloyd
    are all hash-seeded, no RNG state)."""
    from weakscraper_spark.operators.similarity import (
        cosine_topk, ivf_topk)
    queries = clustered_emb.filter(F.col("vec_id") % 8 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = {(r.query_id, r.neighbor_id)
             for r in cosine_topk(clustered_emb, queries, k=3).collect()}
    got1 = {(r.query_id, r.neighbor_id)
            for r in ivf_topk(clustered_emb, queries, k=3, n_lists=6,
                              n_probe=3).collect()}
    got2 = {(r.query_id, r.neighbor_id)
            for r in ivf_topk(clustered_emb, queries, k=3, n_lists=6,
                              n_probe=3).collect()}
    assert got1 == got2                       # deterministic
    assert len(got1 & exact) / len(exact) >= 0.9   # recall bound


def test_semantic_dedup_prunes_planted_clusters(clustered_emb):
    """SemDeDup on the planted near-dup clusters, data-trained
    quantizer: recall vs the EXACT cosine baseline — no ε-similar
    pair survives with both members kept, every dropped doc really
    has an ε-neighbor, and each tight cluster keeps its lowest-
    centroid-sim member (the paper's keep rule)."""
    from weakscraper_spark.operators.similarity import (
        cosine_near_pairs, semantic_dedup)
    out = {r.vec_id: r for r in semantic_dedup(
        clustered_emb, threshold=0.95, n_lists=3, iters=8,
        max_cluster=None).collect()}
    assert len(out) == 24
    exact = {(r.id_a, r.id_b) for r in cosine_near_pairs(
        clustered_emb, threshold=0.95).collect()}
    kept = {i for i, r in out.items() if r.status == "kept"}
    dropped = {i for i, r in out.items() if r.status == "dropped"}
    assert kept | dropped == set(out)          # no overcap here
    # the dedup guarantee vs the exact baseline: an ε-similar pair
    # never survives whole
    for a, b in exact:
        assert not (a in kept and b in kept), (a, b)
    # nothing dropped without a real ε-neighbor (no overreach)
    exact_members = {x for p in exact for x in p}
    assert dropped <= exact_members
    # exactly one representative per planted cluster survives, and
    # it's the min-cent_sim member (keep-the-outlier rule)
    for c in range(3):
        members = [out[i] for i in range(c * 8, c * 8 + 8)]
        keep = [m for m in members if m.status == "kept"]
        assert len(keep) == 1
        assert keep[0].cent_sim == min(m.cent_sim for m in members)


def test_semantic_dedup_deterministic(clustered_emb):
    from weakscraper_spark.operators.similarity import semantic_dedup
    a = sorted((r.vec_id, r.cluster_id, r.status) for r in
               semantic_dedup(clustered_emb, threshold=0.95,
                              n_lists=3).collect())
    b = sorted((r.vec_id, r.cluster_id, r.status) for r in
               semantic_dedup(clustered_emb, threshold=0.95,
                              n_lists=3).collect())
    assert a == b


def test_semantic_dedup_overcap_cluster_audited(clustered_emb):
    """Clusters over the cap are EXCLUDED from pairwise pruning and
    surfaced as status='overcap' — the auditable-cap contract every
    candidate-generation path in this repo follows."""
    from weakscraper_spark.operators.similarity import semantic_dedup
    out = semantic_dedup(clustered_emb, threshold=0.95, n_lists=3,
                         iters=8, max_cluster=6).collect()
    assert {r.status for r in out} == {"overcap"}
    assert len(out) == 24


def test_clean_corpus_verdicts(spark):
    """Every verdict class fires with the documented precedence:
    quality beats dup reasons, exact-dup canonical keeps min id,
    near-dups keep the smaller doc of each LSH pair."""
    from weakscraper_spark.operators.corpus import clean_corpus
    near = BASE.replace("lazy dog", "sleepy dog")
    rows = [
        (1, BASE, "en", "s", len(BASE)),
        (2, BASE, "en", "s", len(BASE)),        # exact dup of 1
        (3, near, "en", "s", len(near)),        # near dup of 1
        (4, "tiny tiny tiny tiny tiny tiny tiny tiny tiny tiny",
         "en", "s", 40),                        # repetitive → quality
        (5, "an unrelated sentence about pottery rivers gardens "
            "valleys mountains recipes astronomy and weather patterns "
            "observed daily", "en", "s", 100),  # kept
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    got = {r.doc_id: (r.keep, r.reason)
           for r in clean_corpus(df, min_quality=0.25).collect()}
    assert got[1] == (True, "kept")
    assert got[2] == (False, "exact_dup")
    assert got[3] == (False, "near_dup")
    assert got[4] == (False, "quality")
    assert got[5] == (True, "kept")


def test_hash_sample_deterministic_and_stratified(spark):
    """The sample is identical across runs and partitionings (hash
    draw, no RNG), respects per-stratum fractions, and drops strata
    without a fraction."""
    from weakscraper_spark.operators.corpus import hash_sample
    rows = [(i, f"text {i}", "en" if i % 2 else "de", "s", 10)
            for i in range(400)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    s1 = {r.doc_id for r in hash_sample(
        df, "lang", {"en": 0.5}).collect()}
    s2 = {r.doc_id for r in hash_sample(
        df.repartition(7), "lang", {"en": 0.5}).collect()}
    assert s1 == s2                          # partitioning-invariant
    assert all(i % 2 for i in s1)            # 'de' (no fraction) dropped
    assert 60 <= len(s1) <= 140              # ~0.5 of 200 'en' docs


def test_bpe_ish_subtokens(spark):
    from weakscraper_spark.operators.textstats import with_token_count
    df = spark.createDataFrame(
        [(1, "don't count2 me-out!"), (2, ""), (3, "   ")],
        "doc_id long, text string")
    out = {r.doc_id: (r.n_tokens, r.n_subtokens)
           for r in with_token_count(df).collect()}
    # don ' t count 2 me - out !  → 9 subtokens
    assert out[1] == (3, 9)
    assert out[2][1] == 0 and out[3][1] == 0


def test_lang_id_markers(spark):
    from weakscraper_spark.operators.textstats import with_lang_id
    rows = [
        (1, "the cat sat on the mat and the dog is in the house"),
        (2, "el gato y el perro en la casa de los abuelos"),
        (3, "der hund und die katze sind mit dem ball im garten"),
        (4, "这是一个中文文本示例，用于测试语言识别功能的正确性。"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.predicted_lang
           for r in with_lang_id(df).collect()}
    assert out == {1: "en", 2: "es", 3: "de", 4: "zh"}


# ---------------------------------------------------------------------------
# paragraph dedup / repetition stats / contamination / url canon (r03)
# ---------------------------------------------------------------------------

def test_paragraph_dedup_keeps_first_occurrence(spark):
    from weakscraper_spark.operators.dedup import paragraph_dedup
    rows = [
        (1, "alpha beta\ncommon line\ngamma"),
        (2, "common line\ndelta"),          # 'common line' superseded
        (3, "common line"),                 # fully superseded
        (4, "same\nsame\nother"),           # within-doc duplicate too
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in paragraph_dedup(df).collect()}
    assert out[1].text_dedup == "alpha beta\ncommon line\ngamma"
    assert out[2].text_dedup == "delta"
    assert out[3].text_dedup == "" and out[3].n_kept == 0
    assert out[4].text_dedup == "same\nother"  # first 'same' kept
    assert out[4].n_pars == 3 and out[4].n_kept == 2


def test_paragraph_dedup_partitioning_invariant(spark):
    # first-occurrence = min(id, pos) over the corpus, independent of
    # physical layout
    from weakscraper_spark.operators.dedup import paragraph_dedup
    rows = [(i, f"shared\nuniq {i}") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(map(tuple, paragraph_dedup(df.repartition(1)).collect()))
    b = sorted(map(tuple, paragraph_dedup(df.repartition(7)).collect()))
    assert a == b
    assert dict((r[0], r[1]) for r in a)[0] == "shared\nuniq 0"


def test_repetition_stats_values(spark):
    from weakscraper_spark.operators.textstats import repetition_stats
    rows = [
        (1, "a b a b a b"),             # top 2-gram 'a b' x3
        (2, "one two three four five"), # no repetition
        (3, "x"),                       # shorter than any n-gram
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in repetition_stats(df).collect()}
    # doc1: chars=11, top 2-gram 'a b' count 3, len 3 -> 9/11
    assert abs(out[1].top_ngram_char_frac - round(9 / 11, 6)) < 1e-9
    assert out[2].top_ngram_char_frac < 0.5
    assert out[2].dup_ngram_char_frac == 0.0
    assert out[3].top_ngram_char_frac == 0.0
    assert out[3].n_words == 1


def test_repetition_dup_ngrams(spark):
    from weakscraper_spark.operators.textstats import repetition_stats
    text = "p q r s t " * 3  # 15 words; every 5-gram rotation repeats
    df = spark.createDataFrame([(1, text.strip())],
                               "doc_id long, text string")
    r = repetition_stats(df).collect()[0]
    assert r.dup_ngram_char_frac > 0.5


def test_contamination_counts_shared_shingles(spark):
    from weakscraper_spark.operators.corpus import contamination_overlap
    ev = spark.createDataFrame(
        [(100, "held out benchmark question about spark shuffles")],
        "doc_id long, text string")
    tr = spark.createDataFrame(
        [(1, "train doc mentions benchmark question about spark today"),
         (2, "totally unrelated words banana umbrella raccoon")],
        "doc_id long, text string")
    out = {r.doc_id: r.n_overlap for r in
           contamination_overlap(tr, ev).collect()}
    # shared 3-grams: 'benchmark question about', 'question about spark'
    assert out == {1: 2}


def test_contamination_eval_side_broadcast(spark):
    from weakscraper_spark.operators.corpus import contamination_overlap
    ev = spark.createDataFrame([(9, "a b c d")],
                               "doc_id long, text string")
    tr = spark.createDataFrame([(1, "a b c d e")],
                               "doc_id long, text string")
    plan = contamination_overlap(tr, ev)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_canonical_url_cases(spark):
    from weakscraper_spark.operators.urlnorm import canonical_url
    cases = [
        ("HTTPS://WWW.Ex.COM:443/A/b/?b=2&utm_source=x&a=1#frag",
         "https://ex.com/A/b?a=1&b=2"),
        ("http://ex.com:80", "http://ex.com/"),
        ("http://ex.com:8080/p", "http://ex.com:8080/p"),  # non-default
        ("https://ex.com/p///", "https://ex.com/p"),
        ("https://ex.com/?gclid=1&fbclid=2&ref=3", "https://ex.com/"),
        ("https://ex.com/p?z=1&y=2&x=3", "https://ex.com/p?x=3&y=2&z=1"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r.c for r in
           df.select(canonical_url("url").alias("c")).collect()]
    assert got == [want for _, want in cases]


def test_pdf_roundtrip_flatmap(spark):
    from weakscraper_spark.operators.pdf import (
        pdf_extract, render_fake_pdf)
    rows = [
        (1, render_fake_pdf(["page one text", "page two\nwith lines"])),
        (2, render_fake_pdf([])),                       # empty doc
        (3, b"%PDF-1.7 truncated junk, no objects"),    # broken -> status
        (4, b"GIF89a not a pdf"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    out = pdf_extract(df).collect()
    by_key = {(r.doc_id, r.page_no): r for r in out}
    assert by_key[(1, 0)].text == "page one text"
    assert by_key[(1, 1)].text == "page two\nwith lines"
    assert by_key[(1, 1)].n_lines == 2
    import json as _json
    boxes = _json.loads(by_key[(1, 1)].layout_json)
    assert [b["line"] for b in boxes] == [0, 1]
    assert boxes[1]["y"] == 708 and boxes[0]["y"] == 720
    # failed/empty blobs surface as exactly one status row each,
    # never raise, never vanish
    assert by_key[(2, -1)].status == "empty"
    assert by_key[(3, -1)].status == "error:PdfParse:ValueError"
    assert by_key[(4, -1)].status == "error:NotPdf"
    assert len(out) == 5  # 2 pages + 3 status rows


def test_pdf_real_kernel_roundtrip(spark):
    """REAL %PDF- bytes (spec-valid xref'd docs built by
    render_minimal_pdf — a construction path disjoint from the
    parser) round-trip byte-identically through the distributed
    flat map, FlateDecode and uncompressed both (VERDICT r03 #6)."""
    from weakscraper_spark.operators.pdf import (
        pdf_extract, render_minimal_pdf)
    pages_a = ["Alpha line one\nAlpha (line) two", "Second page"]
    pages_b = ["solo page with \\ backslash"]
    rows = [
        (1, render_minimal_pdf(pages_a, compress=True)),
        (2, render_minimal_pdf(pages_b, compress=False)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    out = {(r.doc_id, r.page_no): r for r in pdf_extract(df).collect()}
    assert all(r.status == "ok" for r in out.values())
    assert out[(1, 0)].text == pages_a[0]
    assert out[(1, 1)].text == pages_a[1]
    assert out[(2, 0)].text == pages_b[0]
    assert out[(1, 0)].n_lines == 2


def test_pdf_real_kernel_pure():
    """Driver-side kernel behaviors: page-tree ordering (kids listed
    out of object order still come back in tree order), TJ arrays,
    hex strings, octal escapes, unsupported-filter honesty."""
    from weakscraper_spark.operators.pdf import (
        _stream_text, parse_any_pdf, render_minimal_pdf)
    # TJ array with kerning numbers + hex string + octal escapes
    assert _stream_text(
        b"BT [(He) -20 (llo)] TJ T* <20776F726C64> Tj "
        b"(\\110\\151) Tj ET") == "Hello\n worldHi"
    # ' and " break lines
    assert _stream_text(b"BT (a) Tj (b) ' (c) \" ET") == "a\nb\nc"
    raw = render_minimal_pdf(["p0", "p1", "p2"], compress=False)
    st, pages = parse_any_pdf(raw)
    assert st == "ok" and pages == ["p0", "p1", "p2"]
    # indirect multi-digit /Length (r04 review: the lookahead used to
    # backtrack '50 0 R' into group '5') → delimiter fallback still
    # recovers the uncompressed stream
    import re as _re
    indirect = _re.sub(rb"/Length \d+", b"/Length 50 0 R",
                       render_minimal_pdf(["hello indirect"],
                                          compress=False))
    st, pages = parse_any_pdf(indirect)
    assert st == "ok" and pages == ["hello indirect"]
    # unsupported filter: affected pages degrade to "", doc survives
    st, pages = parse_any_pdf(
        render_minimal_pdf(["x", "y"]).replace(b"/Filter /FlateDecode",
                                               b"/Filter /LZWDecode"))
    assert st == "ok" and pages == ["", ""]


def test_pdf_plan_is_narrow_map(spark):
    from weakscraper_spark.operators.pdf import (
        pdf_extract, render_fake_pdf)
    df = spark.createDataFrame(
        [(1, render_fake_pdf(["x"]))], "doc_id long, blob binary")
    plan = pdf_extract(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_connected_components_transitive(spark):
    from weakscraper_spark.operators.graph import (
        connected_components, dedup_clusters)
    # two chains + an isolated pair: 1-2-3-4, 10-11, 20-21-22 (star)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (20, 22)],
        "doc_a long, doc_b long")
    cc = {r.node: r.component
          for r in connected_components(pairs).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                  20: 20, 21: 20, 22: 20}
    cl = {r.doc_id: (r.component, r.is_canonical)
          for r in dedup_clusters(pairs).collect()}
    assert cl[4] == (1, False) and cl[1] == (1, True)
    assert sum(1 for _, c in cl.items() if c[1]) == 3  # one per cluster


def test_connected_components_partitioning_invariant(spark):
    from weakscraper_spark.operators.graph import connected_components
    import random
    rng = random.Random(7)
    edges = [(i, i + 1) for i in range(0, 40, 2)]       # 20 pairs
    edges += [(rng.randrange(0, 40), rng.randrange(40, 60))
              for _ in range(10)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    a = sorted(map(tuple, connected_components(df.repartition(1)).collect()))
    b = sorted(map(tuple, connected_components(df.repartition(5)).collect()))
    assert a == b and len(a) > 0


def test_connected_components_star_matches_minprop(spark):
    """The O(log n) large-star/small-star variant produces the
    identical (node → min) labeling as min-propagation on a random
    multi-component graph (VERDICT r03 #8)."""
    import random
    from weakscraper_spark.operators.graph import connected_components
    rng = random.Random(11)
    edges = [(rng.randrange(0, 30), rng.randrange(0, 30))
             for _ in range(25)]
    edges += [(100 + i, 100 + i + 1) for i in range(6)]  # small chain
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    a = sorted(map(tuple, connected_components(df).collect()))
    b = sorted(map(tuple,
                   connected_components(df, algorithm="star").collect()))
    assert a == b and len(a) > 0


def test_connected_components_star_chain_logarithmic(spark):
    """A path of 2^7 = 128 nodes (diameter 127) closes within
    max_iter=10 alternations — min-propagation would need ~127
    rounds. This is the adversarial-diameter case the star variant
    exists for."""
    from weakscraper_spark.operators.graph import connected_components
    n = 128
    df = spark.createDataFrame([(i, i + 1) for i in range(n - 1)],
                               "doc_a long, doc_b long")
    cc = {r.node: r.component
          for r in connected_components(df, algorithm="star",
                                        max_iter=10).collect()}
    assert cc == {i: 0 for i in range(n)}


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir switches lineage truncation to reliable
    checkpoint() — same results both ways, files actually land in
    the durable dir (VERDICT r03 #7)."""
    import os
    from weakscraper_spark.operators.graph import connected_components
    df = spark.createDataFrame([(1, 2), (2, 3), (10, 11)],
                               "doc_a long, doc_b long")
    ckdir = str(tmp_path / "cc_ck")
    got = sorted(map(tuple,
                     connected_components(df,
                                          checkpoint_dir=ckdir).collect()))
    assert got == [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)]
    assert any(files for _, _, files in os.walk(ckdir))
    star = sorted(map(tuple,
                      connected_components(df, algorithm="star",
                                           checkpoint_dir=ckdir).collect()))
    assert star == got


def test_clean_corpus_transitive_closes_chains(spark):
    """transitive=True drops every non-canonical member of a duplicate
    CLUSTER (one survivor per component); the greedy default keeps any
    doc that never appears as doc_b. Build a chain a~b~c where (a,c)
    don't pair directly to show the difference is principled."""
    from weakscraper_spark.operators.corpus import clean_corpus
    base = BASE
    rows = [
        (1, base),
        (2, base.replace("lazy dog", "idle dog")),
        (3, base.replace("lazy dog", "idle dog")
             .replace("arrow batches", "arrow frames")),
        (50, "a very different document about gardens rivers pottery "
             "astronomy recipes and mountains with plenty of unique "
             "words to pass the quality gate easily " * 2),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    tr = {r.doc_id: r.reason
          for r in clean_corpus(df, transitive=True).collect()}
    assert tr[1] == "kept"
    assert tr[2] == "near_dup" and tr[3] == "near_dup"
    assert tr[50] == "kept"
    # exactly one survivor in the near-dup cluster
    assert sum(1 for v in tr.values() if v == "kept") == 2


def test_bm25_ranks_relevant_docs(spark):
    from weakscraper_spark.operators.search import bm25_scores
    rows = [
        (1, "spark spark spark shuffle"),       # dense in query terms
        (2, "spark and other words entirely"),  # one hit
        (3, "nothing relevant here at all"),    # no hits
        (4, "table table spark shuffle extra"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in
           bm25_scores(df, ["spark", "shuffle", "table"]).collect()}
    assert 3 not in out                      # non-matching doc absent
    assert out[1].n_hits == 2 and out[4].n_hits == 3
    assert out[4].score > out[2].score       # 3 terms beat 1 term
    assert out[1].score > out[2].score


def test_bm25_filters_before_shuffle(spark):
    """The corpus token explode must be filtered to the query terms
    BEFORE any exchange — the per-query shuffle is O(postings), not
    O(corpus tokens)."""
    import contextlib
    import io
    from weakscraper_spark.operators.search import bm25_scores
    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        bm25_scores(df, ["a"]).explain("formatted")
    txt = buf.getvalue()
    import re
    # every Generate (explode) node must be followed by a Filter on
    # term before the first Exchange in its chain: assert no plan
    # line shows an Exchange whose direct input is the Generate
    nodes = re.findall(r"^\s*[*+:\|-]*\s*\((\d+)\)\s+(\w+)", txt,
                       flags=re.M)
    ids = {int(i): n for i, n in nodes}
    gen_ids = [i for i, n in ids.items() if n == "Generate"]
    filt_ids = [i for i, n in ids.items() if n == "Filter"]
    assert gen_ids and any(f > g for g in gen_ids for f in filt_ids)


def test_bm25_no_corpus_width_join(spark):
    """Document length rides the postings rows (dl carried through
    the explode, VERDICT r03 #3) — the only joins left are the
    broadcast df_t/stats sides, so the plan must contain NO
    shuffle-based join against a corpus-width relation."""
    from weakscraper_spark.operators.search import bm25_scores
    df = spark.createDataFrame(
        [(i, "alpha beta gamma") for i in range(10)],
        "doc_id long, text string")
    plan = bm25_scores(df, ["alpha", "beta"]) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_crawl_schedule_waves_bound_parallelism(spark):
    from weakscraper_spark.operators.urlnorm import crawl_schedule
    urls = spark.createDataFrame(
        [(f"https://big.example.com/p/{i}",) for i in range(200)] +
        [(f"https://small.example.com/p/{i}",) for i in range(3)],
        "url string")
    out = crawl_schedule(urls, per_host=4).collect()
    big = [r for r in out if r.host == "big.example.com"]
    small = [r for r in out if r.host == "small.example.com"]
    assert len(big) == 200 and len(small) == 3
    # waves span ~ceil(200/4)=50 buckets; binomial slack allowed but
    # the max wave must land inside the host's wave space
    assert 0 <= max(r.wave for r in big) < 50
    assert all(r.wave == 0 for r in small)  # ceil(3/4)=1 wave
    assert all(0 <= r.slot < 4 for r in out)
    # deterministic and partitioning-independent
    again = {(r.url, r.wave, r.slot)
             for r in crawl_schedule(urls.repartition(7),
                                     per_host=4).collect()}
    assert {(r.url, r.wave, r.slot) for r in out} == again


def test_robots_semantics_direct():
    from weakscraper_spark.operators.robots import allowed_by
    # stdlib robotparser applies rules in FILE ORDER (first match
    # wins, not longest-match) — Allow must precede the broader
    # Disallow to take effect; that ordering semantics is the pinned
    # contract here
    txt = ("User-agent: *\nAllow: /private/ok\nDisallow: /private/\n"
           "User-agent: badbot\nDisallow: /")
    assert allowed_by(txt, "https://h/x") is True
    assert allowed_by(txt, "https://h/private/x") is False
    assert allowed_by(txt, "https://h/private/ok") is True
    assert allowed_by(txt, "https://h/x", agent="badbot") is False
    assert allowed_by(None, "https://h/private/x") is True
    assert allowed_by("", "https://h/private/x") is True


def test_robots_filter_reuses_passthrough_host(spark):
    """r04 review: feeding a host-carrying frame (e.g. another
    passthrough op's output) into robots_filter must neither crash
    on a duplicate host column nor re-parse the caller's host; NULL
    hosts get the '' sentinel and survive with allowed=true."""
    from weakscraper_spark.operators.robots import robots_filter
    df = spark.createDataFrame(
        [("https://a.com/x", "a.com", 7),
         ("garbage-url", None, 8)],
        "url string, host string, n_variants long")
    robots = spark.createDataFrame(
        [("a.com", "User-agent: *\nDisallow: /x")],
        "host string, robots_txt string")
    out = {r.url: r for r in robots_filter(df, robots).collect()}
    assert len(out) == 2
    assert out["https://a.com/x"].allowed is False   # caller's host used
    assert out["https://a.com/x"].n_variants == 7    # passthrough intact
    assert out["garbage-url"].host == ""             # sentinel, kept
    assert out["garbage-url"].allowed is True
    # chaining its FULL own output back in is also safe: the stale
    # allowed/crawl_delay flags are dropped and recomputed instead of
    # colliding in the stacked mapInPandas schema (ADVICE r04)
    again = {r.url: r for r in
             robots_filter(robots_filter(df, robots), robots).collect()}
    assert len(again) == 2
    assert again["https://a.com/x"].allowed is False
    assert again["https://a.com/x"].n_variants == 7


def test_robots_crawl_delay():
    from weakscraper_spark.operators.robots import delay_of
    txt = ("User-agent: badbot\nCrawl-delay: 30\n\n"
           "User-agent: *\nDisallow: /private/\nCrawl-delay: 2")
    assert delay_of(txt) == 2.0
    assert delay_of(txt, agent="badbot") == 30.0
    assert delay_of("User-agent: *\nDisallow: /x") is None
    assert delay_of(None) is None
    assert delay_of("") is None


def test_robots_filter_broadcast_and_audit(spark):
    from weakscraper_spark.operators.robots import robots_filter
    urls = spark.createDataFrame(
        [("https://a.com/private/1",), ("https://a.com/pub/1",),
         ("https://b.com/private/1",), ("https://c.com/x",)],
        "url string")
    robots = spark.createDataFrame(
        [("a.com", "User-agent: *\nDisallow: /private/"),
         ("b.com", "")],
        "host string, robots_txt string")
    out = {r.url: r.allowed for r in robots_filter(urls, robots).collect()}
    assert out == {"https://a.com/private/1": False,
                   "https://a.com/pub/1": True,
                   "https://b.com/private/1": True,   # empty policy
                   "https://c.com/x": True}           # no robots row
    plan = robots_filter(urls, robots)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_incremental_dedup_verdicts(spark):
    from weakscraper_spark.operators.dedup import incremental_dedup
    corpus = spark.createDataFrame(
        [(1, BASE), (2, "another corpus document with several words "
                        "about gardens rivers and mountains today")],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(100, BASE),                                   # exact dup of 1
         (101, BASE.replace("lazy dog", "idle dog")),   # near dup of 1
         (102, "a genuinely novel document mentioning pottery "
               "astronomy recipes telescopes and more unique words")],
        "doc_id long, text string")
    out = {r.doc_id: (r.verdict, r.match_id)
           for r in incremental_dedup(new, corpus).collect()}
    assert out[100] == ("exact_dup", 1)
    assert out[101] == ("near_dup", 1)
    assert out[102] == ("new", None)
    assert len(out) == 3   # every new doc gets a verdict row


def test_scrub_pii_redacts_and_counts(spark):
    from weakscraper_spark.operators.textstats import scrub_pii
    rows = [
        (1, "mail a.b+c@sub.ex.com and d@ex.org, ip 10.0.0.1, "
            "call +1 (555) 010-4242 ok"),
        (2, "clean text with no pii at all"),
        (3, "version 1.2.3 is not an ip and a@b is not an email"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in scrub_pii(df).collect()}
    assert (out[1].n_email, out[1].n_ip, out[1].n_phone) == (2, 1, 1)
    s = out[1].text_scrubbed
    assert "<EMAIL>" in s and "<IP>" in s and "<PHONE>" in s
    assert "@" not in s and "10.0.0.1" not in s and "4242" not in s
    assert out[2].text_scrubbed == rows[1][1]
    assert (out[3].n_email, out[3].n_ip) == (0, 0)
    assert "1.2.3" in out[3].text_scrubbed  # not over-redacted


def test_scrub_pii_counts_equal_redactions_on_overlap(spark):
    """A phone-shaped token inside an email local part is ONE
    redaction and ONE count (progressive-scrub counting, ADVICE
    r03) — n_email+n_ip+n_phone == placeholders emitted."""
    from weakscraper_spark.operators.textstats import scrub_pii
    df = spark.createDataFrame(
        [(1, "reach +15551234567@example.com today")],
        "doc_id long, text string")
    r = scrub_pii(df).collect()[0]
    assert (r.n_email, r.n_ip, r.n_phone) == (1, 0, 0)
    assert r.text_scrubbed == "reach <EMAIL> today"
    total = r.n_email + r.n_ip + r.n_phone
    placeholders = sum(r.text_scrubbed.count(p)
                       for p in ("<EMAIL>", "<IP>", "<PHONE>"))
    assert total == placeholders == 1


def test_crawl_schedule_keeps_unparseable_urls(spark):
    """NULL-host urls are never silently dropped: they get the ''
    sentinel host and real wave/slot rows (ADVICE r03)."""
    from weakscraper_spark.operators.urlnorm import crawl_schedule
    df = spark.createDataFrame(
        [("https://ok.example.com/a",), ("not a url at all",),
         ("http//broken",)], "url string")
    out = crawl_schedule(df, per_host=2).collect()
    assert len(out) == 3
    by_url = {r.url: r for r in out}
    assert by_url["not a url at all"].host == ""
    assert by_url["not a url at all"].wave >= 0
    assert by_url["https://ok.example.com/a"].host == "ok.example.com"


def test_pack_sequences_contiguous_and_invariant(spark):
    """Within every bin the doc intervals tile [0, total) with no
    gaps or overlaps in id order; boundary-spanning docs are flagged
    by seq_last > seq_first; placement is partitioning-invariant."""
    from weakscraper_spark.operators.corpus import pack_sequences
    rows = [(i, " ".join(["w"] * (5 + i % 40))) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = pack_sequences(df, seq_len=32, n_bins=3).collect()
    assert len(out) == 60
    by_bin: dict = {}
    for r in out:
        by_bin.setdefault(r.bin, []).append(r)
    assert len(by_bin) > 1
    for rows_b in by_bin.values():
        rows_b.sort(key=lambda r: r.doc_id)
        at = 0
        for r in rows_b:
            assert r.start_tok == at          # contiguous, no gaps
            assert r.end_tok == at + r.n_tokens
            assert r.seq_first == r.start_tok // 32
            assert r.seq_last == (r.end_tok - 1) // 32
            at = r.end_tok
    # docs longer than seq_len MUST span windows
    for r in out:
        if r.n_tokens > 32:
            assert r.seq_last > r.seq_first
    again = sorted(map(tuple, pack_sequences(
        df.repartition(7), seq_len=32, n_bins=3).collect()))
    assert again == sorted(map(tuple, out))


def test_line_frequency_filter_removes_all_copies(spark):
    """C4 rule vs paragraph_dedup: a line in >max_docs docs vanishes
    EVERYWHERE (no surviving first copy); rarer lines keep every
    occurrence, including within-doc repeats."""
    from weakscraper_spark.operators.dedup import (
        line_frequency_filter, paragraph_dedup)
    rows = [
        (1, "cookie banner\nreal content one"),
        (2, "cookie banner\nreal content two"),
        (3, "cookie banner\nunique text\nunique text"),
        (4, "only here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in
           line_frequency_filter(df, max_docs=2).collect()}
    # 'cookie banner' is in 3 docs -> gone everywhere
    assert out[1].text_kept == "real content one"
    assert out[2].text_kept == "real content two"
    # within-doc repeats of a 1-doc line are BOTH kept (frequency is
    # distinct-docs, not occurrences)
    assert out[3].text_kept == "unique text\nunique text"
    assert out[3].n_kept == 2 and out[3].n_lines == 3
    assert out[4].text_kept == "only here"
    # contrast: paragraph_dedup keeps the banner's first occurrence
    pd_out = {r.doc_id: r for r in paragraph_dedup(df).collect()}
    assert pd_out[1].text_dedup.startswith("cookie banner")


def test_paragraph_dedup_sep_is_literal(spark):
    """A regex-special separator ('.') splits literally (ADVICE r03:
    F.split takes a Java regex — the op escapes it)."""
    from weakscraper_spark.operators.dedup import paragraph_dedup
    df = spark.createDataFrame(
        [(1, "aa.bb.aa"), (2, "bb.cc")], "doc_id long, text string")
    out = {r.doc_id: r for r in
           paragraph_dedup(df, sep=".").collect()}
    assert out[1].n_pars == 3           # 'aa','bb','aa' — not 8 chars
    assert out[1].text_dedup == "aa.bb"  # second 'aa' deduped
    assert out[2].text_dedup == "cc"     # 'bb' first seen in doc 1


def test_compression_ratio_signal(spark):
    """Repetitive text compresses far below prose; empty/NULL rows
    get NULL ratio; exact byte counts pinned for a known string."""
    from weakscraper_spark.operators.textstats import (
        with_compression_ratio)
    import zlib
    prose = ("the quick brown fox jumps over the lazy dog while "
             "seventeen sparrows debate compression economics")
    rows = [(1, prose), (2, "spam " * 200), (3, ""), (4, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in with_compression_ratio(df).collect()}
    # repetitive must compress BETTER (lower ratio) than prose
    assert out[2].compression_ratio < 0.1 < out[1].compression_ratio
    assert out[1].compression_ratio > 0.5
    assert out[3].compression_ratio is None
    assert out[4].compression_ratio is None
    b = prose.encode("utf-8")
    assert out[1].n_raw_bytes == len(b)
    assert out[1].n_compressed_bytes == len(zlib.compress(b, 6))
    # the id column's type follows the input — a string url id must
    # work, not fail at Arrow conversion (ADVICE r04)
    sdf = spark.createDataFrame([("u/1", prose), ("u/2", "spam " * 50)],
                                "url string, text string")
    sout = {r.url: r for r in
            with_compression_ratio(sdf, id_col="url").collect()}
    assert sout["u/1"].n_raw_bytes == len(b)
    assert sout["u/2"].compression_ratio < sout["u/1"].compression_ratio
    from weakscraper_spark.operators.textstats import bigram_logprob
    common = "the spark engine shuffles the arrow batches"
    rows = [(i, common) for i in range(10)]          # typical docs
    rows.append((100, "zyx qwv plk mnb vcx asd"))    # gibberish
    rows.append((101, "x"))                          # unscorable
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in bigram_logprob(df).collect()}
    assert out[0].avg_logprob > out[100].avg_logprob
    assert out[101].n_bigrams == 0 and out[101].avg_logprob is None
    assert out[0].n_bigrams == 6


def test_tfidf_topk_keywords(spark):
    """A term unique to one doc must outscore corpus-wide terms in
    that doc; exact score pinned; ties break by term asc; min_len
    drops 1-char tokens; rn never exceeds k."""
    import math
    from weakscraper_spark.operators.search import tfidf_topk
    rows = [(1, "common words everywhere plus zebra zebra a"),
            (2, "common words everywhere plus other filler"),
            (3, "common words everywhere plus other filler")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = [r for r in tfidf_topk(df, k=2).collect()]
    top1 = {r.rn: r for r in out if r.doc_id == 1}
    assert top1[1].term == "zebra" and top1[1].tf == 2
    assert top1[1].score == 2 * (math.log(4 / 2) + 1)  # tf=2 df=1 N=3
    # 'a' (len 1) was filtered: doc 1's rank-2 is a real word, and
    # among the equal-scored corpus-wide terms the tie breaks asc
    assert top1[2].term == "common"
    assert all(r.rn <= 2 for r in out)


def test_tfidf_smoothing_keeps_universal_terms_positive(spark):
    """df = N terms keep a small positive idf (add-one smoothing), so
    a doc made ONLY of universal terms still yields ranked keywords
    ordered by tf."""
    from weakscraper_spark.operators.search import tfidf_topk
    rows = [(1, "aa aa aa bb"), (2, "aa bb"), (3, "aa bb bb")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r.doc_id, r.rn): r.term
           for r in tfidf_topk(df, k=2).collect()}
    assert out[(1, 1)] == "aa" and out[(3, 1)] == "bb"


def test_semantic_dedup_trained_on_degenerate_sample(spark):
    """r06-advice fix pinned: a (near-)identical training sample made
    farthest-first init pick index 0 repeatedly (all-equal best_sim →
    argmin ties to 0), silently collapsing every centroid to one
    point with duplicate `chosen` indices. With the chosen-mask, the
    TRAINED (centroids=None) path must survive an all-identical
    corpus: one cluster, pairwise keep-one, no crash, deterministic."""
    from weakscraper_spark.operators.similarity import semantic_dedup
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(12)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r for r in semantic_dedup(
        emb, threshold=0.95, n_lists=4, iters=3,
        max_cluster=None).collect()}
    assert len(out) == 12
    assert len({r.cluster_id for r in out.values()}) == 1
    kept = [i for i, r in out.items() if r.status == "kept"]
    assert len(kept) == 1    # identical docs: exactly one survives


def test_semantic_dedup_trained_keeps_core_outlier(spark):
    """Trained-quantizer path on a planted redundant CORE + one
    outlier per cluster (VERDICT r06 #7): the core is ε-redundant and
    collapses to one survivor; the outlier (below ε to everything) is
    kept alongside — SemDeDup prunes redundancy, not diversity."""
    import math

    from weakscraper_spark.operators.similarity import semantic_dedup

    def unit(theta, phi_axis):
        # 4-dim unit vectors: tight fan around axis phi_axis
        v = [0.0] * 4
        v[phi_axis] = math.cos(theta)
        v[(phi_axis + 1) % 4] = math.sin(theta)
        return v

    rows = []
    for c in range(2):                      # two separated clusters
        for j in range(6):                  # redundant core: ~1° fan
            rows.append((c * 10 + j, unit(0.002 * j, c)))
        # outlier ~25° off-axis: same cluster, below ε to the core
        rows.append((c * 10 + 9, unit(0.45, c)))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r for r in semantic_dedup(
        emb, threshold=0.97, n_lists=2, iters=8,
        max_cluster=None).collect()}
    for c in range(2):
        core = [out[c * 10 + j] for j in range(6)]
        assert sum(r.status == "kept" for r in core) == 1, c
        assert out[c * 10 + 9].status == "kept", c   # outlier kept
        # core + outlier share the trained cluster
        assert len({out[c * 10 + j].cluster_id
                    for j in range(6)} |
                   {out[c * 10 + 9].cluster_id}) == 1, c


def test_minhash_incremental_equals_full_recompute(spark):
    """The incremental path's contract: identical candidate set to a
    full recompute over old ∪ new, restricted to pairs touching the
    new batch — including the combined bucket cap."""
    from weakscraper_spark.operators.dedup import (
        minhash_band_store, minhash_incremental_pairs,
        minhash_lsh_pairs)
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
    new = docs.filter("doc_id % 3 = 0")
    old = docs.filter("doc_id % 3 != 0")
    inc = minhash_incremental_pairs(minhash_band_store(new),
                                    minhash_band_store(old))
    got = {(r.doc_a, r.doc_b): (r.n_bands, r.side)
           for r in inc.collect()}
    full = {(r.doc_a, r.doc_b): r.n_bands
            for r in minhash_lsh_pairs(docs).collect()
            if r.doc_a % 3 == 0 or r.doc_b % 3 == 0}
    assert {k: v[0] for k, v in got.items()} == full
    for (a, b), (_, side) in got.items():
        assert side == ("new_new" if a % 3 == 0 and b % 3 == 0
                        else "new_old"), (a, b)


def test_minhash_incremental_combined_cap_no_drift(spark):
    """A bucket that crosses the cap only when old and new COMBINE
    must be excluded (exactly as a full recompute would) — capping
    each side independently would let this week's half of a giant
    cluster flood the join."""
    from weakscraper_spark.operators.dedup import (
        minhash_band_store, minhash_incremental_pairs)
    rows = [(i, "alpha beta gamma delta epsilon zeta") for i in
            range(70)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    new_b = minhash_band_store(docs.filter("doc_id < 35"))
    old_b = minhash_band_store(docs.filter("doc_id >= 35"))
    # combined bucket = 70 docs > cap 64 → excluded entirely
    assert minhash_incremental_pairs(new_b, old_b,
                                     max_bucket=64).count() == 0
    # raise the cap and the full bipartite+new-new pair set appears
    n = minhash_incremental_pairs(new_b, old_b,
                                  max_bucket=128).count()
    assert n == 70 * 69 // 2 - 35 * 34 // 2   # all pairs minus old-old


def test_minhash_incremental_empty_new_batch(spark):
    from weakscraper_spark.operators.dedup import (
        minhash_band_store, minhash_incremental_pairs)
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e")],
        "doc_id long, text string")
    empty = docs.filter("doc_id < 0")
    assert minhash_incremental_pairs(
        minhash_band_store(empty), minhash_band_store(docs)).count() \
        == 0


def test_temperature_mix_limits(spark):
    """τ = 1 reproduces the natural distribution (every domain gets
    the SAME acceptance rate budget/Σtokens); τ → 0 approaches
    uniform token allocation (rate ∝ 1/tokens(d)); a tiny domain is
    taken whole (rate capped at 1); deterministic across runs."""
    from weakscraper_spark.operators.corpus import temperature_mix
    rows = ([(i, "big", "w " * 200) for i in range(40)] +
            [(100 + i, "mid", "w " * 100) for i in range(15)] +
            [(200, "tiny", "w w w")])
    df = spark.createDataFrame(rows, "doc_id long, lang string, "
                                     "text string")
    # τ=1: one global rate
    r1 = {r.lang: r.rate for r in temperature_mix(
        df, "lang", budget_tokens=3000, tau=1.0).select(
        "lang", "rate").distinct().collect()}
    assert len(set(r1.values())) == 1
    # τ=0: uniform shares → per-domain budget/3 tokens; tiny capped
    r0 = {r.lang: r.rate for r in temperature_mix(
        df, "lang", budget_tokens=3000, tau=0.0).select(
        "lang", "rate").distinct().collect()}
    assert r0["tiny"] == 1.0
    assert r0["big"] < r0["mid"] < 1.0
    # τ=0.5 sits between: big's rate above its τ=0 rate
    rh = {r.lang: r.rate for r in temperature_mix(
        df, "lang", budget_tokens=3000, tau=0.5).select(
        "lang", "rate").distinct().collect()}
    assert r0["big"] < rh["big"] < r1["big"]
    # deterministic kept set
    a = sorted(r.doc_id for r in temperature_mix(
        df, "lang", budget_tokens=3000).collect())
    b = sorted(r.doc_id for r in temperature_mix(
        df, "lang", budget_tokens=3000).collect())
    assert a == b
