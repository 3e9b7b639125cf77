"""Quality checks for the approximate dedup tiers: MinHash-LSH recall
against brute-force exact Jaccard, SimHash behavior on crafted near-dups."""

from __future__ import annotations

from pyspark.sql import functions as F

from database_migrator_spark.operators.dedup import (
    jaccard_tokens,
    minhash_near_duplicates,
    simhash_near_duplicates,
    tokens_of,
    word_shingles,
)
from database_migrator_spark.sources import table

from .conftest import SF_SMOKE

THRESHOLD = 0.6


def _exact_pairs(spark, docs, threshold):
    # truth on shingle sets — the similarity MinHash estimates
    t = docs.select(
        F.col("doc_id"), F.array_distinct(word_shingles(tokens_of("text"))).alias("toks")
    )
    a = t.select(F.col("doc_id").alias("a_id"), F.col("toks").alias("a_toks"))
    b = t.select(F.col("doc_id").alias("b_id"), F.col("toks").alias("b_toks"))
    return (
        a.join(b, F.col("a_id") < F.col("b_id"))
        .withColumn("jaccard", jaccard_tokens(F.col("a_toks"), F.col("b_toks")))
        .where(F.col("jaccard") >= threshold)
        .select("a_id", "b_id")
    )


def test_minhash_lsh_recall_and_precision(spark):
    docs = table(spark, SF_SMOKE, "documents")
    truth = {(r.a_id, r.b_id) for r in _exact_pairs(spark, docs, THRESHOLD).collect()}
    found = {
        (r.a_id, r.b_id)
        for r in minhash_near_duplicates(docs, threshold=THRESHOLD).collect()
    }
    # precision is exact by construction (candidates are verified with
    # exact Jaccard), so every found pair must be true
    assert found <= truth
    # LSH with 16 bands × 4 rows catches Jaccard ≥ 0.6 with p ≈ 0.9+;
    # require high recall on the real corpus (skip if corpus has no dups)
    if truth:
        recall = len(found) / len(truth)
        assert recall >= 0.8, f"recall {recall:.2f} over {len(truth)} true pairs"


def test_minhash_finds_crafted_near_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog again and again in the yard"
    rows = [
        (1, base),
        (2, base + " tonight"),  # near-dup of 1
        (3, "completely different content about spark query planning and shuffles"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r.a_id, r.b_id) for r in minhash_near_duplicates(df, threshold=0.6).collect()}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_simhash_crafted_near_duplicates(spark):
    base = (
        "spark executes declarative dataframe plans with catalyst and tungsten "
        "across many executors reading columnar parquet files efficiently"
    )
    rows = [
        (1, base),
        (2, base.replace("efficiently", "quickly")),  # 1-token change
        (3, "unrelated short text about cats and pianos and weather balloons"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = simhash_near_duplicates(df, max_hamming=7).collect()
    by_pair = {(r.a_id, r.b_id): r.hamming for r in pairs}
    assert (1, 2) in by_pair
    if (1, 3) in by_pair:
        assert by_pair[(1, 3)] > by_pair[(1, 2)]


def test_connected_components_chain_star_and_islands(spark):
    from database_migrator_spark.operators.dedup import connected_components

    edges = [
        # chain 1-2-3-4-5-6-7: diameter 6, the rounds=6 design limit
        (1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7),
        # star centered at 20
        (20, 21), (20, 22), (20, 23),
        # isolated pair
        (30, 31),
    ]
    df = spark.createDataFrame(edges, "a_id long, b_id long")
    got = {r.id: r.component for r in connected_components(df).collect()}
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1, 7: 1,
        20: 20, 21: 20, 22: 20, 23: 20,
        30: 30, 31: 30,
    }


def test_connected_components_path_graph_log_convergence(spark):
    """Adversarial chain shape: a 1000-node PATH graph has diameter 999,
    so plain min-propagation needs ~999 rounds — the pointer-jumping
    rounds must converge it within the default 15-round budget (actual:
    O(log diameter) ≈ 7)."""
    from database_migrator_spark.operators.dedup import connected_components

    n = 1000
    edges = [(i, i + 1) for i in range(n - 1)]
    df = spark.createDataFrame(edges, "a_id long, b_id long").repartition(8)
    got = {r.id: r.component for r in connected_components(df).collect()}
    assert got == {i: 0 for i in range(n)}


def test_leakage_safe_split_property(spark):
    """q115's contract, asserted directly at a scale the O(N²) oracle
    can't reach: (a) every verified near-dup pair lands in ONE split —
    zero train→test leakage; (b) the assignment is total; (c) a plain
    per-doc split (q93) would NOT have this property on the same pairs
    (the test is vacuous if the corpus has no cross-split-prone pair)."""
    from database_migrator_spark.operators.dedup import (
        documents_sketch,
        sketch_near_duplicates,
    )
    from database_migrator_spark.plans.registry import all_queries
    from database_migrator_spark.sources import table

    sf = "/root/testdata/sf0.01"
    out = all_queries()["q115_leakage_safe_split"].build(spark, sf)
    d = table(spark, sf, "documents")
    assert out.count() == d.count()  # total assignment
    pairs = sketch_near_duplicates(documents_sketch(spark, sf), bands=32, threshold=0.6)
    a = out.select(F.col("doc_id").alias("a_id"), F.col("split").alias("sa"))
    b = out.select(F.col("doc_id").alias("b_id"), F.col("split").alias("sb"))
    joined = pairs.join(a, "a_id").join(b, "b_id")
    assert joined.where(F.col("sa") != F.col("sb")).count() == 0  # no leakage
    # the naive per-doc split must split at least one near-dup pair,
    # otherwise this test proves nothing
    from database_migrator_spark.operators.textops import train_val_test_split

    naive = train_val_test_split(d).select("doc_id", "split")
    na = naive.select(F.col("doc_id").alias("a_id"), F.col("split").alias("sa"))
    nb = naive.select(F.col("doc_id").alias("b_id"), F.col("split").alias("sb"))
    leaked = pairs.join(na, "a_id").join(nb, "b_id").where(F.col("sa") != F.col("sb"))
    assert leaked.count() > 0


def test_incremental_neardup_equals_brute_force(spark):
    """q127's banded batch-vs-history path must equal the exact brute
    force (no batch doc kept that has a near-dup in history, none dropped
    without one) — the same no-subset-guard bar q66 meets for pairs."""
    from database_migrator_spark.operators.dedup import q127_incremental_neardup

    docs = table(spark, SF_SMOKE, "documents")
    sh = docs.select(
        "doc_id", F.array_distinct(word_shingles(tokens_of("text"))).alias("s")
    )
    hist = sh.where(F.col("doc_id") % 10 < 8).select(
        F.col("doc_id").alias("h_id"), F.col("s").alias("h_s")
    )
    batch = sh.where(F.col("doc_id") % 10 >= 8).select(
        F.col("doc_id").alias("b_id"), F.col("s").alias("b_s")
    )
    dup = (
        batch.crossJoin(hist)
        .where(jaccard_tokens(F.col("b_s"), F.col("h_s")) >= F.lit(0.6))
        .select("b_id")
        .distinct()
    )
    want = {
        r.b_id
        for r in batch.join(dup, "b_id", "left_anti").select("b_id").collect()
    }
    got = {r.doc_id for r in q127_incremental_neardup(spark, SF_SMOKE).collect()}
    assert got == want


def test_winnowing_guarantee_shared_run_yields_shared_fingerprint(spark):
    """The winnowing theorem: two documents sharing a run of >= w+k-1
    (= 6) tokens must share at least one fingerprint; disjoint-vocabulary
    documents share none."""
    from database_migrator_spark.operators.dedup import winnow_fingerprints

    shared = "alpha beta gamma delta epsilon zeta"  # 6-token shared run
    docs = spark.createDataFrame(
        [
            (1, f"intro one two {shared} tail xx yy"),
            (2, f"{shared} completely different ending here zz"),
            (3, "nothing in common with anything at all whatsoever"),
        ],
        "doc_id bigint, text string",
    )
    fps = winnow_fingerprints(docs).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["id"], set()).add(r["fp"])
    assert by_doc[1] & by_doc[2], "shared 6-token run must share a fingerprint"
    assert not (by_doc[1] & by_doc[3]) and not (by_doc[2] & by_doc[3])


def test_prefix_filter_join_is_exact_vs_brute_force(spark):
    """q162's prefix filter is EXACT, not probabilistic: on the smoke
    corpus, brute-force all-pairs shingle Jaccard >= 0.7 (computed in
    Python from collected shingle sets) must equal the query's pair set
    exactly — zero missed, zero extra."""
    from itertools import combinations

    from database_migrator_spark.operators.dedup import tokens_of, word_shingles
    from database_migrator_spark.plans.registry import all_queries
    from database_migrator_spark.sources import table
    from pyspark.sql import functions as F

    from .conftest import SF_SMOKE

    rows = (
        table(spark, SF_SMOKE, "documents")
        .select(
            "doc_id",
            F.array_distinct(word_shingles(tokens_of("text"))).alias("sh"),
        )
        .collect()
    )
    sets = {r["doc_id"]: set(r["sh"]) for r in rows}
    want = set()
    for a, b in combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        if union and 10 * inter >= 7 * union:
            want.add((a, b))
    got = {
        (r["doc_a"], r["doc_b"])
        for r in all_queries()["q162_prefix_filter_jaccard_join"]
        .build(spark, SF_SMOKE)
        .collect()
    }
    assert got == want


def test_containment_join_is_exact_vs_brute_force(spark):
    """q181's one-sided prefix filter is EXACT: brute-force all ordered
    pairs with |A∩B| >= 0.9|A| (from collected shingle sets) must equal
    the query's (inner, outer) set exactly — zero missed, zero extra,
    both directions of mutual pairs present."""
    from itertools import permutations

    from database_migrator_spark.operators.dedup import tokens_of, word_shingles
    from database_migrator_spark.plans.registry import all_queries
    from database_migrator_spark.sources import table
    from pyspark.sql import functions as F

    from .conftest import SF_SMOKE

    rows = (
        table(spark, SF_SMOKE, "documents")
        .select(
            "doc_id",
            F.array_distinct(word_shingles(tokens_of("text"))).alias("sh"),
        )
        .collect()
    )
    sets = {r["doc_id"]: set(r["sh"]) for r in rows}
    want = set()
    for a, b in permutations(sorted(sets), 2):
        if sets[a] and 10 * len(sets[a] & sets[b]) >= 9 * len(sets[a]):
            want.add((a, b))
    got = {
        (r["inner_doc"], r["outer_doc"])
        for r in all_queries()["q181_shingle_containment_join"]
        .build(spark, SF_SMOKE)
        .collect()
    }
    assert got == want


def test_neardup_triangles_match_python_closure(spark):
    """q182's degree-ordered oriented wedge join must count exactly the
    triangles a direct Python closure over the (already brute-force-
    verified, q66) pair list finds — orientation must not drop or
    double-count any triangle; wedge count is Σ C(d,2)."""
    from itertools import combinations

    from database_migrator_spark.operators.dedup import (
        documents_sketch,
        sketch_near_duplicates,
    )
    from database_migrator_spark.plans.registry import all_queries

    from .conftest import SF_SMOKE

    pairs = {
        (r["a_id"], r["b_id"])
        for r in sketch_near_duplicates(
            documents_sketch(spark, SF_SMOKE), bands=32, threshold=0.6
        ).collect()
    }
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want_tri = sum(
        1
        for u in adj
        for v, w in combinations(sorted(adj[u]), 2)
        if u < v and w in adj[v]
    )
    want_wedges = sum(len(ns) * (len(ns) - 1) // 2 for ns in adj.values())
    row = (
        all_queries()["q182_neardup_triangles"].build(spark, SF_SMOKE).collect()[0]
    )
    assert row["n_triangles"] == want_tri
    assert row["n_wedges"] == want_wedges
    assert row["n_edges"] == len(pairs)
    assert row["n_nodes"] == len(adj)


def test_md5_slot_signatures_match_pure_python(spark):
    """q210's engine-portable signature: Spark's (doc, j) min-of-md5-hex
    rows equal a pure-Python hashlib replay, and the slot-agreement
    estimate lands near exact Jaccard for a crafted near-dup pair."""
    import hashlib

    from database_migrator_spark.operators.dedup import md5_slot_signatures

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    texts = {
        1: base,
        2: base + " extra",  # high-Jaccard near-dup of 1
        3: "one two three four five six seven eight nine ten",
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    got = {
        (r["doc_id"], r["j"]): r["s12"]
        for r in md5_slot_signatures(docs, num_slots=16).collect()
    }

    def shingles(text):
        toks = text.lower().split()
        if len(toks) >= 3:
            return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
        return {" ".join(toks)}

    want = {}
    for i, t in texts.items():
        for j in range(16):
            want[(i, j)] = min(
                hashlib.md5(f"{j} {g}".encode()).hexdigest()[:12]
                for g in shingles(t)
            )
    assert got == want

    s1, s2 = shingles(texts[1]), shingles(texts[2])
    exact = len(s1 & s2) / len(s1 | s2)
    est = sum(1 for j in range(16) if want[(1, j)] == want[(2, j)]) / 16
    assert abs(est - exact) <= 0.3  # 16 slots: sd ~ sqrt(J(1-J)/16) ~ 0.12


def test_portable_lsh_pairs_superset_of_banded_truth(spark):
    """q234 (portable banded LSH): on the smoke corpus the verified pair
    set must (a) contain only true Jaccard>=0.6 pairs (soundness — the
    verify stage guarantees it) and (b) equal the brute-force truth
    RESTRICTED to pairs that share at least one of the 16 md5 band keys
    (completeness relative to the banding — LSH misses only pairs no
    band catches)."""
    from database_migrator_spark.operators.dedup import (
        minhash_near_duplicates_portable,
        tokens_of,
        word_shingles,
    )
    from database_migrator_spark.sources import table as _table

    from .conftest import SF_SMOKE

    d = _table(spark, SF_SMOKE, "documents")
    got = {
        (r.a_id, r.b_id): r.jaccard
        for r in minhash_near_duplicates_portable(d).collect()
    }
    sh = {
        r.doc_id: set(r.s)
        for r in d.select(
            "doc_id", F.array_distinct(word_shingles(tokens_of("text"))).alias("s")
        ).collect()
    }
    ids = sorted(sh)
    truth = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sh[a] & sh[b])
            union = len(sh[a] | sh[b])
            if union and 5 * inter >= 3 * union:
                truth[(a, b)] = inter / union
    # soundness: every emitted pair is true
    for pair, j in got.items():
        assert pair in truth and abs(truth[pair] - j) < 1e-12
    # completeness floor: at J>=0.6 with 16 bands x 4 rows the expected
    # per-pair catch probability is >=1-(1-0.6^4)^16 ~ 0.9; on the crafted
    # smoke corpus the banding should catch essentially all true pairs
    if truth:
        recall = len(got) / len(truth)
        assert recall >= 0.8, f"banded recall = {recall} over {len(truth)} true pairs"


def test_portable_simhash_equals_bruteforce_truth(spark):
    """q238 (portable SimHash): 4 x 12-bit bands are pigeonhole-COMPLETE
    for Hamming <= 3 (3 flips touch at most 3 of 4 bands), so unlike the
    probabilistic MinHash banding the emitted pair set must EQUAL the
    brute-force truth exactly — sketches, Hamming distances and
    shared-band counts recomputed in pure Python from md5."""
    import hashlib

    from database_migrator_spark.operators.dedup import simhash_hamming_portable
    from database_migrator_spark.sources import table as _table

    from .conftest import SF_SMOKE

    d = _table(spark, SF_SMOKE, "documents")
    got = {
        (r.a_id, r.b_id): (r.hamming, r.n_shared_bands)
        for r in simhash_hamming_portable(d).collect()
    }

    def sketch(text: str) -> int:
        toks = [t for t in text.lower().split() if t]
        sums = [0] * 48
        for t in toks:
            h = int(hashlib.md5(t.encode()).hexdigest()[:12], 16)
            for b in range(48):
                sums[b] += 2 * ((h >> b) & 1) - 1
        return sum(1 << b for b in range(48) if sums[b] > 0)

    sk = {
        r.doc_id: sketch(r.text)
        for r in d.select("doc_id", "text").collect()
        if r.text and r.text.split()
    }
    ids = sorted(sk)
    truth = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            x = sk[a] ^ sk[b]
            ham = bin(x).count("1")
            if ham <= 3:
                shared = sum(
                    1
                    for k in range(4)
                    if (sk[a] >> (12 * k)) & 4095 == (sk[b] >> (12 * k)) & 4095
                )
                truth[(a, b)] = (ham, shared)
    assert got == truth
    assert truth, "smoke corpus must exercise the near-dup path"
