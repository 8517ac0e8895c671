"""Text analysis + dedup operator tests."""

import pytest
from pyspark.sql import functions as F

from pyspark_data_drift_detector_spark.operators.dedup import (
    dedup_exact,
    embedding_neardup_pairs,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash,
    simhash_pairs,
)
from pyspark_data_drift_detector_spark.operators.text import (
    fingerprint,
    language_id,
    text_stats,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
        (3, "completely different content about spark engines and data"),
        (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (5, "der hund ist nicht der beste und die katze"),  # German
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_text_stats(docs):
    rows = {r["doc_id"]: r for r in text_stats(docs).collect()}
    r1 = rows[1]
    assert r1["n_tokens"] == 9
    assert r1["n_chars"] == 43
    assert r1["stopword_ratio"] == pytest.approx(2 / 9)  # 'the' twice
    assert 0.0 <= r1["quality_score"] <= 1.0
    assert r1["avg_word_len"] == pytest.approx((43 - 8) / 9)


def test_language_id(docs):
    rows = {r["doc_id"]: r for r in language_id(docs).collect()}
    assert rows[1]["detected_lang"] == "en"
    assert rows[5]["detected_lang"] == "de"


def test_fingerprint_whitespace_invariant(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, " hello   world ")],
        "doc_id long, text string",
    )
    fps = [r["fingerprint"] for r in fingerprint(df).orderBy("doc_id").collect()]
    assert fps[0] == fps[1] == fps[2]


def test_dedup_exact(docs):
    rows = {r["doc_id"]: r for r in dedup_exact(docs).collect()}
    assert rows[4]["is_duplicate"]
    assert rows[4]["survivor_id"] == 1
    assert not rows[1]["is_duplicate"]
    assert rows[1]["group_size"] == 2
    assert not rows[3]["is_duplicate"]


def test_jaccard_pairs(docs):
    pairs = {(r["id1"], r["id2"]): r["jaccard"] for r in jaccard_pairs(docs, threshold=0.5).collect()}
    assert pairs[(1, 4)] == pytest.approx(1.0)  # exact dup
    assert (1, 2) in pairs  # near-dup: 6 of 7 shingles shared → 6/8
    assert pairs[(1, 2)] == pytest.approx(6 / 8)
    assert (1, 3) not in pairs


def test_minhash_lsh_finds_near_dups(docs):
    pairs = {(r["id1"], r["id2"]) for r in minhash_lsh_pairs(docs, threshold=0.5).collect()}
    assert (1, 4) in pairs
    assert (1, 2) in pairs
    assert (1, 3) not in pairs


def test_simhash_near_dups(docs):
    sigs = {r["id"]: r["simhash"] for r in simhash(docs).collect()}
    assert sigs[1] == sigs[4]  # identical docs → identical signature
    pairs = {(r["id1"], r["id2"]): r["hamming"] for r in simhash_pairs(docs, max_distance=10).collect()}
    assert pairs[(1, 4)] == 0
    assert (1, 2) in pairs  # one word differs → small hamming distance


def test_embedding_neardup(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),  # near-dup of 1
        (3, [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = {(r["id1"], r["id2"]): r["cosine"] for r in embedding_neardup_pairs(df, threshold=0.95).collect()}
    assert (1, 2) in pairs
    assert pairs[(1, 2)] > 0.99
    assert (1, 3) not in pairs


def test_minhash_lsh_bucket_cap_drops_hot_bucket(spark):
    """max_bucket_size excludes degenerate mega-buckets from candidate
    generation (the quadratic-hot-bucket skew guard) while leaving normal
    near-dup pairs untouched."""
    from pyspark_data_drift_detector_spark.operators.dedup import minhash_lsh_pairs

    boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod"
    rows = [(i, boiler) for i in range(30)]  # one hot cluster: identical docs
    rows += [
        (100, "the quick brown fox jumps over the lazy dog near the river bank"),
        (101, "the quick brown fox jumps over the lazy dog near the river bend"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = minhash_lsh_pairs(docs, threshold=0.3)
    pairs = {(r["id1"], r["id2"]) for r in uncapped.collect()}
    assert (100, 101) in pairs
    assert sum(1 for a, b in pairs if a < 100 and b < 100) == 30 * 29 // 2

    capped = minhash_lsh_pairs(docs, threshold=0.3, max_bucket_size=10)
    cpairs = {(r["id1"], r["id2"]) for r in capped.collect()}
    # identical docs collide in EVERY band, so every one of their buckets
    # exceeds the cap and the quadratic cluster disappears...
    assert not any(a < 100 and b < 100 for a, b in cpairs)
    # ...while the ordinary near-dup pair (bucket size 2) survives
    assert (100, 101) in cpairs


def test_jaccard_shingle_df_cap(spark):
    """max_shingle_df drops non-discriminative boilerplate shingles from the
    self-join: pairs related ONLY through boilerplate vanish, genuinely
    similar pairs survive (with the documented bounded underestimate)."""
    from pyspark_data_drift_detector_spark.operators.dedup import jaccard_pairs

    tail = "all rights reserved contact us terms of service"
    rows = [
        (1, f"alpha beta gamma delta epsilon zeta {tail}"),
        (2, f"alpha beta gamma delta epsilon eta {tail}"),   # near-dup of 1
        (3, f"one two three four five six {tail}"),          # only boilerplate in common
        (4, f"seven eight nine ten eleven twelve {tail}"),   # only boilerplate in common
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = {(r["id1"], r["id2"]) for r in jaccard_pairs(docs, threshold=0.1).collect()}
    assert (1, 2) in uncapped
    assert (3, 4) in uncapped  # boilerplate shingles alone push these over

    capped = {(r["id1"], r["id2"]) for r in
              jaccard_pairs(docs, threshold=0.1, max_shingle_df=2).collect()}
    assert (1, 2) in capped
    assert (3, 4) not in capped


def test_neardup_clusters_and_survivors(spark):
    """A chain of pairs collapses into one cluster (min-id label), disjoint
    pairs stay separate, survivors = one per cluster + all unclustered."""
    from pyspark_data_drift_detector_spark.operators.dedup import (
        dedup_survivors,
        neardup_clusters,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)], "id1 long, id2 long"
    )
    clusters = {r["id"]: r["cluster_id"] for r in neardup_clusters(pairs).collect()}
    assert clusters == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in [1, 2, 3, 4, 10, 11, 20, 21, 22, 99]],
        "doc_id long, text string",
    )
    kept = sorted(
        r["doc_id"] for r in dedup_survivors(docs, neardup_clusters(pairs)).collect()
    )
    assert kept == [1, 10, 20, 99]


def test_neardup_clusters_pointer_jumping_log_convergence(spark, monkeypatch):
    """A 64-node chain needs 63 rounds of plain min-propagation but only
    ~log₂ 64 with pointer jumping — max_iter=10 must fully collapse it.
    Exhausting max_iter with labels still moving raises RuntimeWarning
    instead of silently splitting the component. The gate is forced to 0
    so the DISTRIBUTED loop (not the small-graph one-task path) is what
    this test exercises."""
    import warnings

    from pyspark_data_drift_detector_spark.operators import dedup as dedup_mod
    from pyspark_data_drift_detector_spark.operators.dedup import neardup_clusters

    monkeypatch.setattr(dedup_mod, "SMALL_COMPONENTS_EDGES", -1)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "id1 long, id2 long"
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        labels = {r["id"]: r["cluster_id"] for r in
                  neardup_clusters(chain, max_iter=10).collect()}
    assert set(labels.values()) == {0} and len(labels) == 64

    with pytest.warns(RuntimeWarning, match="max_iter"):
        neardup_clusters(chain, max_iter=1).collect()


def test_components_on_driver_match_distributed_loop(spark, monkeypatch):
    """The driver-side solve below the gate must label exactly like the
    distributed pointer-jumping loop: same rows, same min-id labels —
    on a shape mixing a long chain, disjoint pairs, a star, a
    duplicate/reversed edge and a NULL endpoint — and keep the id type."""
    from pyspark_data_drift_detector_spark.operators import dedup as dedup_mod
    from pyspark_data_drift_detector_spark.operators.dedup import neardup_clusters

    edges = (
        [(i, i + 1) for i in range(40)]           # chain 0..40
        + [(100, 101), (200, 201), (201, 202)]    # disjoint pairs
        + [(300, 301), (300, 302), (300, 303)]    # star
        + [(301, 300), (1, 0)]                    # reversed duplicates
        + [(400, None)]                           # NULL endpoint: a singleton
    )
    for id_type in ("bigint", "int"):
        pairs = spark.createDataFrame(edges, f"id1 {id_type}, id2 {id_type}")
        fast_df = neardup_clusters(pairs)
        assert [f.dataType.simpleString() for f in fast_df.schema] == [id_type, id_type]
        fast = {(r["id"], r["cluster_id"]) for r in fast_df.collect()}
        with monkeypatch.context() as m:
            m.setattr(dedup_mod, "SMALL_COMPONENTS_EDGES", -1)
            loop = {(r["id"], r["cluster_id"]) for r in neardup_clusters(pairs).collect()}
        assert fast == loop and len(fast) == 51
    assert neardup_clusters(spark.createDataFrame([], "id1 long, id2 long")).collect() == []


def _lsh_parity_docs(spark):
    """Seeded near-dup families plus the edge cases verification must
    survive: NULL and empty text, a one-token document, repeated tokens,
    exact duplicates and a boilerplate family big enough to fill a bucket."""
    import random

    rng = random.Random(20)
    vocab = [f"w{i}" for i in range(400)]
    rows, next_id = [], 0
    for _ in range(30):
        base = [rng.choice(vocab) for _ in range(rng.randint(8, 30))]
        for _ in range(rng.randint(1, 4)):
            words = [w for w in base if rng.random() > 0.1] or base
            rows.append((next_id, " ".join(words)))
            next_id += 1
    boiler = "all rights reserved contact us terms of service privacy policy"
    rows += [(next_id + i, boiler) for i in range(12)]
    next_id += 12
    rows += [
        (next_id, None), (next_id + 1, None),
        (next_id + 2, ""), (next_id + 3, "   "),
        (next_id + 4, "solo"), (next_id + 5, "solo"),
        (next_id + 6, "la la la la la la"), (next_id + 7, "la la la la"),
        (next_id + 8, "x y z x y z x y z"), (next_id + 9, "x y z x y z"),
    ]
    rng.shuffle(rows)
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_null_text_has_no_shingles(spark):
    """NULL text has no shingles, so a NULL-text document pairs with
    nothing; blank text keeps its one empty shingle, so blank documents
    pair with each other (the DuckDB oracle's ``unnest`` semantics)."""
    docs = spark.createDataFrame(
        [(1, None), (2, None), (3, ""), (4, "   "), (5, "a b c d"), (6, None)],
        "doc_id long, text string",
    )
    for pairs in (jaccard_pairs(docs, threshold=0.5), minhash_lsh_pairs(docs, threshold=0.5)):
        assert {(r["id1"], r["id2"]): r["jaccard"] for r in pairs.collect()} == {(3, 4): 1.0}


@pytest.mark.parametrize("hash_family", ["xxhash", "md5"])
@pytest.mark.parametrize("max_bucket_size", [None, 5])
def test_minhash_lsh_verify_matches_exact_jaccard_on_candidates(spark, hash_family, max_bucket_size):
    """The array verifier gives exact shingle Jaccard: on the LSH
    candidates, ``minhash_lsh_pairs`` equals ``jaccard_pairs`` restricted
    to those candidates, pair for pair and value for value."""
    docs = _lsh_parity_docs(spark)
    threshold = 0.4
    kw = dict(threshold=threshold, hash_family=hash_family, max_bucket_size=max_bucket_size)
    candidates = minhash_lsh_pairs(docs, verify=False, **kw)
    exact = {
        (r["id1"], r["id2"]): r["jaccard"]
        for r in jaccard_pairs(docs, threshold=threshold)
        .join(candidates, ["id1", "id2"], "left_semi")
        .collect()
    }
    verified = {(r["id1"], r["id2"]): r["jaccard"] for r in minhash_lsh_pairs(docs, **kw).collect()}
    assert len(exact) > 20
    assert verified.keys() == exact.keys()
    assert all(verified[p] == pytest.approx(exact[p], abs=1e-12) for p in exact)
    by_text = dict(docs.collect())
    assert all(verified[p] == 1.0 for p in verified if by_text[p[0]] == by_text[p[1]])


def test_embedding_neardup_lsh_recall(spark):
    """Banding recall guard (VERDICT r3 #5, the d13b026 band-width rule):
    on planted near-duplicates (cosine ≥ 0.95) the harness LSH knobs
    (n_planes=28, bands=4 → 7-bit band keys) must recover ≥70% of the
    exact ground truth at the same threshold. If a future knob change
    widens bands without scaling plane count (or vice versa), collision
    probability — and this recall — collapses."""
    import random

    from pyspark_data_drift_detector_spark.operators.dedup import (
        embedding_neardup_lsh,
        embedding_neardup_pairs,
    )

    rng = random.Random(11)
    rows = []
    for i in range(150):
        base = [rng.gauss(0, 1) for _ in range(64)]
        rows.append((i, base))
        if i < 30:  # plant a near-duplicate: tiny perturbation, cosine ≈ 0.99
            rows.append((1000 + i, [x + rng.gauss(0, 0.05) for x in base]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").cache()

    exact = {
        (r["id1"], r["id2"])
        for r in embedding_neardup_pairs(df, threshold=0.95, block_size=64).collect()
    }
    approx = {
        (r["id1"], r["id2"])
        for r in embedding_neardup_lsh(
            df, threshold=0.95, dim=64, n_planes=28, bands=4
        ).collect()
    }
    assert len(exact) >= 25  # the planted pairs are actually above threshold
    assert approx <= exact  # verification is exact → precision is 1.0
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.7, f"banding recall collapsed: {recall:.2f} over {len(exact)} pairs"


def test_dedup_survivors_by_policy(spark):
    """Highest score wins within a cluster, smallest id breaks ties,
    unclustered docs always survive."""
    from pyspark_data_drift_detector_spark.operators.dedup import dedup_survivors_by

    docs = spark.createDataFrame(
        [(1, 10), (2, 50), (3, 50), (4, 7), (9, 99)],
        "doc_id long, score long",
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4)],  # {1,2,3} one cluster, {4} alone
        "id long, cluster_id long",
    )
    kept = sorted(
        r["doc_id"] for r in dedup_survivors_by(docs, clusters, "score").collect()
    )
    # cluster {1,2,3}: 2 and 3 tie on score 50 → min id 2; singleton
    # cluster {4} keeps itself; 9 is unclustered → kept
    assert kept == [2, 4, 9]


def test_normalize_text_collapses_variants(spark):
    """Case/punctuation/whitespace variants of one document share one
    normalized content key; raw-byte dedup sees them as distinct."""
    from pyspark.sql import functions as F

    from pyspark_data_drift_detector_spark.operators.dedup import dedup_exact
    from pyspark_data_drift_detector_spark.operators.text import normalize_text_expr

    df = spark.createDataFrame(
        [
            (1, "The quick Brown Fox."),
            (2, "the  quick brown--fox!!"),
            (3, "THE QUICK\tBROWN FOX"),
            (4, "a genuinely different document"),
        ],
        "doc_id long, text string",
    )
    raw = dedup_exact(df)
    assert raw.filter(F.col("is_duplicate")).count() == 0

    normed = df.withColumn("text", normalize_text_expr(F.col("text")))
    assert set(
        r["text"] for r in normed.filter(F.col("doc_id") <= 3).collect()
    ) == {"the quick brown fox"}
    out = {r["doc_id"]: r for r in dedup_exact(normed).collect()}
    assert out[1]["group_size"] == 3 and out[1]["survivor_id"] == 1
    assert not out[1]["is_duplicate"]
    assert out[2]["is_duplicate"] and out[3]["is_duplicate"]
    assert out[4]["group_size"] == 1 and not out[4]["is_duplicate"]


def test_pack_documents_contiguous_fill(spark):
    """Packing semantics: contiguous fill in id order, straddling docs
    stay whole in the pack where they start, zero-token docs are
    assigned, token_col overrides the whitespace count, and the
    assignment is partitioning-independent."""
    from pyspark_data_drift_detector_spark.operators.text import (
        pack_documents,
        packing_stats,
    )

    # token counts by id order: 4, 3, 5, 2, 6, 1  (budget 8)
    # exclusive prefix: 0, 4, 7, 12, 14, 20 -> packs 0,0,0,1,1,2
    docs = spark.createDataFrame(
        [
            (1, "a b c d"),
            (2, "e f g"),
            (3, "h i j k l"),     # starts at 7 < 8: stays in pack 0 (overfills)
            (4, "m n"),
            (5, "o p q r s t"),
            (6, "u"),
        ],
        "doc_id long, text string",
    )
    packed = pack_documents(docs, budget=8)
    got = {r["doc_id"]: r["pack_id"] for r in packed.collect()}
    assert got == {1: 0, 2: 0, 3: 0, 4: 1, 5: 1, 6: 2}

    stats = {r["pack_id"]: r for r in packing_stats(packed, budget=8).collect()}
    assert stats[0]["pack_tokens"] == 12 and stats[0]["overflowed"]
    assert stats[0]["fill_ratio"] == pytest.approx(1.5)
    assert stats[1]["pack_tokens"] == 8 and not stats[1]["overflowed"]
    assert stats[2]["n_docs"] == 1 and stats[2]["pack_tokens"] == 1

    # layout independence: same assignment from a different partitioning
    got_re = {
        r["doc_id"]: r["pack_id"]
        for r in pack_documents(docs.repartition(7), budget=8).collect()
    }
    assert got_re == got

    # token_col path + a doc longer than the budget owns its overflow
    counted = spark.createDataFrame(
        [(1, 20), (2, 3)], "doc_id long, n long"
    )
    got_tc = {
        r["doc_id"]: r
        for r in pack_documents(counted, budget=8, token_col="n").collect()
    }
    assert got_tc[1]["pack_id"] == 0 and got_tc[1]["n_tokens"] == 20
    assert got_tc[2]["pack_id"] == 2  # next doc starts at floor(20/8)=2

    with pytest.raises(ValueError, match="budget"):
        pack_documents(docs, budget=0)


def test_dedup_incremental(spark, tmp_path):
    """Incremental ingest dedup: state hits, within-batch dups (smallest
    id kept), normalization-insensitive matching, and the streaming
    fingerprint state sink feeding the same decision."""
    from pyspark_data_drift_detector_spark.operators.dedup import (
        dedup_incremental,
    )
    from pyspark_data_drift_detector_spark.operators.text import fingerprint

    seen_docs = spark.createDataFrame(
        [(1, "Hello   World"), (2, "old news")], "doc_id long, text string"
    )
    seen = fingerprint(seen_docs)
    batch = spark.createDataFrame(
        [
            (10, "hello world"),    # normalization dup of state doc 1
            (11, "fresh content"),  # new
            (12, "fresh content"),  # within-batch dup of 11
            (13, "brand new"),      # new
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup_incremental(batch, seen).collect()}
    assert out[10]["dup_of_state"] and not out[10]["keep"]
    assert not out[11]["dup_of_state"] and not out[11]["dup_in_batch"]
    assert out[11]["keep"]
    assert out[12]["dup_in_batch"] and not out[12]["keep"]
    assert out[13]["keep"]

    # streaming state sink: appended fingerprints drive the same verdicts
    from pyspark_data_drift_detector_spark.streaming.state_tables import (
        fingerprint_state_sink,
    )

    stream_dir = tmp_path / "fp_ingest"
    seen_docs.write.parquet(str(stream_dir))
    stream = (
        spark.readStream.schema(seen_docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir))
    )
    sink = fingerprint_state_sink(str(tmp_path / "fp_state"))
    q = stream.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    q.awaitTermination(120)
    state = spark.read.parquet(str(tmp_path / "fp_state"))
    out2 = {
        r["doc_id"]: r["keep"]
        for r in dedup_incremental(batch, state).collect()
    }
    assert out2 == {k: v["keep"] for k, v in out.items()}


def test_dedup_incremental_null_text_passthrough(spark):
    """Review fix: NULL-text documents have no fingerprint — they must
    pass through (keep) rather than collapse into one 'duplicate' group."""
    from pyspark_data_drift_detector_spark.operators.dedup import (
        dedup_incremental,
    )
    from pyspark_data_drift_detector_spark.operators.text import fingerprint

    seen = fingerprint(
        spark.createDataFrame([(1, "known doc")], "doc_id long, text string")
    )
    batch = spark.createDataFrame(
        [(10, None), (11, None), (12, None), (13, "known doc")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup_incremental(batch, seen).collect()}
    for i in (10, 11, 12):
        assert out[i]["keep"], i
        assert not out[i]["dup_in_batch"] and not out[i]["dup_of_state"]
    assert not out[13]["keep"] and out[13]["dup_of_state"]


def test_neardup_incremental(spark, tmp_path):
    """Incremental near-dup vs MinHash-signature state: state hits,
    within-batch hits (earlier id), estimated-Jaccard threshold, exact
    duplicates estimate 1.0, NULL text passes through, and the streaming
    signature sink feeds the same decisions."""
    from pyspark_data_drift_detector_spark.operators.dedup import (
        minhash_signatures,
        neardup_incremental,
    )

    base = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away into the deep dark forest tonight").split()
    prior = spark.createDataFrame(
        [(1, " ".join(base)), (2, "completely different ancient text")],
        "doc_id long, text string",
    )
    state = minhash_signatures(prior)
    perturbed = " ".join(base[:-1] + ["today"])  # near-dup of doc 1
    batch = spark.createDataFrame(
        [
            (10, " ".join(base)),   # exact dup of state doc 1
            (11, perturbed),        # near-dup of state doc 1
            (12, perturbed),        # exact dup of 11 within the batch
            (13, "utterly unrelated fresh content nothing shared at all"),
            (14, None),             # NULL text: no signature, no matches
        ],
        "doc_id long, text string",
    )
    out = neardup_incremental(batch, state, threshold=0.5).collect()
    pairs = {(r["doc_id"], r["dup_id"]): r for r in out}
    assert (10, 1) in pairs and pairs[(10, 1)]["dup_source"] == "state"
    assert pairs[(10, 1)]["est_jaccard"] == 1.0
    assert (11, 1) in pairs and pairs[(11, 1)]["est_jaccard"] >= 0.5
    assert (12, 11) in pairs and pairs[(12, 11)]["dup_source"] == "batch"
    assert pairs[(12, 11)]["est_jaccard"] == 1.0
    assert not any(d in (13, 14) for d, _ in pairs)
    # batch pairs only point to EARLIER ids; no self-pairs
    assert all(dup < d for d, dup in pairs if pairs[(d, dup)]["dup_source"] == "batch")
    assert all(d != dup for d, dup in pairs)

    # streaming sink parity
    from pyspark_data_drift_detector_spark.streaming.state_tables import (
        minhash_state_sink,
    )

    ingest = tmp_path / "mh_ingest"
    prior.repartition(2).write.parquet(str(ingest))
    stream = (
        spark.readStream.schema(prior.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(ingest))
    )
    sink = minhash_state_sink(str(tmp_path / "mh_state"))
    q = stream.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    q.awaitTermination(120)
    streamed = spark.read.parquet(str(tmp_path / "mh_state"))
    key = lambda rows: sorted(
        (r["doc_id"], r["dup_id"], r["dup_source"], round(r["est_jaccard"], 9))
        for r in rows
    )
    assert key(neardup_incremental(batch, streamed, threshold=0.5).collect()) == key(out)


def test_neardup_incremental_bucket_cap(spark):
    """max_bucket_size drops boilerplate-hot buckets from candidate
    generation on the COMBINED state+batch table: with every doc identical
    a cap below the bucket size yields no candidates at all."""
    from pyspark_data_drift_detector_spark.operators.dedup import (
        minhash_signatures,
        neardup_incremental,
    )

    text = "same boilerplate words repeated across every single document here"
    prior = spark.createDataFrame(
        [(i, text) for i in range(6)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(100 + i, text) for i in range(4)], "doc_id long, text string"
    )
    state = minhash_signatures(prior)
    full = neardup_incremental(batch, state, threshold=0.5)
    assert full.count() == 4 * 6 + 4 * 3 // 2  # all state + batch pairs
    capped = neardup_incremental(
        batch, state, threshold=0.5, max_bucket_size=5
    )
    assert capped.count() == 0


def test_neardup_incremental_estimate_tracks_true_jaccard(spark):
    """The signature estimate must sit within the ±1/sqrt(num_hashes)
    resolution band of exact Jaccard on a mid-similarity pair."""
    from pyspark_data_drift_detector_spark.operators.dedup import (
        jaccard_pairs,
        minhash_signatures,
        neardup_incremental,
    )

    words = [f"w{i}" for i in range(60)]
    a = " ".join(words)
    b = " ".join(words[:55] + [f"x{i}" for i in range(5)])  # jaccard ≈ 0.84
    docs = spark.createDataFrame(
        [(1, a), (2, b)], "doc_id long, text string"
    )
    exact = jaccard_pairs(docs, threshold=0.0).collect()[0]["jaccard"]
    # 4-row bands so a ~0.84 pair collides w.p. ≈1 (0.84⁴ per band × 36
    # bands); all hashes are seeded, so this is deterministic once green.
    # 144 hashes, not 256: the statistical band only needs √n resolution,
    # and Catalyst/codegen time for the n-column signature expressions
    # dominated the whole test suite at 256 (~48s for this one test)
    state = minhash_signatures(docs.filter("doc_id = 1"), num_hashes=144)
    est = neardup_incremental(
        docs.filter("doc_id = 2"), state, threshold=0.0,
        num_hashes=144, bands=36,
    ).collect()[0]["est_jaccard"]
    assert abs(est - exact) <= 2 / (144 ** 0.5)  # 2 sigma


def test_containment_catches_excerpts_jaccard_misses(spark):
    """An 8-word excerpt inside a long document: containment ~1.0 while
    Jaccard is small (the asymmetric near-dup case); unrelated docs make
    no pair; min-set-size denominator and both sizes are reported."""
    from pyspark_data_drift_detector_spark.operators.dedup import (
        containment_pairs,
        jaccard_pairs,
    )

    long_text = " ".join(f"w{i}" for i in range(40))
    excerpt = " ".join(f"w{i}" for i in range(8))
    df = spark.createDataFrame(
        [(1, long_text), (2, excerpt), (3, "zz yy xx vv uu tt")],
        "doc_id long, text string",
    )
    out = {(r["id1"], r["id2"]): r
           for r in containment_pairs(df, threshold=0.5).collect()}
    assert set(out) == {(1, 2)}
    r = out[(1, 2)]
    # long doc: 38 distinct 3-gram shingles; excerpt: 6, all shared
    assert r["n1"] == 38 and r["n2"] == 6 and r["shared"] == 6
    assert r["containment"] == 1.0
    # jaccard on the same pair is 6/38 — far below any dedup threshold
    j = jaccard_pairs(df, threshold=0.0).filter("id1 = 1 AND id2 = 2")
    assert abs(j.collect()[0]["jaccard"] - 6 / 38) < 1e-12


def test_dedup_cluster_stats_panel(spark):
    """Hand-built clustering: histogram rows, the singleton row, the
    would-drop arithmetic, and shares; no singleton row on a fully
    clustered corpus."""
    from pyspark_data_drift_detector_spark.operators.dedup import (
        dedup_cluster_stats,
    )

    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in range(10)], "doc_id long, text string"
    )
    # clusters: {0,1,2} -> 0 ; {3,4} -> 3 ; 5..9 unclustered
    clusters = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0), (3, 3), (4, 3)], "id long, cluster_id long"
    )
    out = {r["cluster_size"]: r
           for r in dedup_cluster_stats(docs, clusters).collect()}
    assert set(out) == {1, 2, 3}
    assert out[3]["n_clusters"] == 1 and out[3]["n_docs"] == 3
    assert out[3]["would_drop"] == 2 and out[3]["corpus_share"] == 0.3
    assert out[2]["would_drop"] == 1
    assert out[1]["n_clusters"] == 5 and out[1]["would_drop"] == 0
    assert sum(r["n_docs"] for r in out.values()) == 10
    assert sum(r["would_drop"] for r in out.values()) == 3

    # fully clustered corpus: no singleton row
    full = dedup_cluster_stats(
        docs.filter("doc_id < 5"), clusters
    ).collect()
    assert all(r["cluster_size"] > 1 for r in full)


def test_fuzzy_dedup_incremental_hand_checked(spark):
    from pyspark_data_drift_detector_spark.operators.dedup import (
        fuzzy_dedup_incremental,
        fuzzy_state,
    )

    prior = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dot"),  # 1 edit of state
            (11, "a completely different document about spark"),
            (12, "a completely different document about spork"),  # 1 edit of 11
            (13, "Xhe quick brown fox jumps over the lazy dog"),  # prefix edit
        ],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: r
        for r in fuzzy_dedup_incremental(batch, fuzzy_state(prior)).collect()
    }
    assert rows[10].dup_of_state and not rows[10].dup_in_batch
    assert not rows[10].keep
    assert rows[11].keep and not rows[11].dup_of_state
    # earlier-id 11 makes 12 a batch dup; 11 itself stays kept
    assert rows[12].dup_in_batch and not rows[12].keep
    # documented blocking caveat: a prefix edit escapes the block
    assert rows[13].keep
    # state never shrinks recall: vetting the batch against prior+batch
    # state equals the flags above (append-only contract)
    assert len(rows) == 4
