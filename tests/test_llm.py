"""Unit tests for the LLM-data operators: shingle edge cases, exact dedup
on crafted duplicates, MinHash recall on known near-dups, multimodal
plumbing schema/batch shape.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_procesos_odo_spark.llm.dedup import (
    cc_bigstar,
    decontaminate,
    dedup_clusters,
    dedup_clusters_bigstar,
    exact_dedup,
    minhash_lsh_pairs,
    shingles,
    simhash60,
)
from etl_procesos_odo_spark.llm.multimodal import attach_payload, extract_features
from etl_procesos_odo_spark.llm.sampling import hash_sample
from etl_procesos_odo_spark.llm.similarity import cosine_topk, hyperplanes


def test_shingles_short_text_guard(spark):
    df = spark.createDataFrame(
        [("a b c d",), ("a b",), ("",), ("solo",)], "text string"
    )
    got = [r[0] for r in df.select(shingles("text", 3).alias("s")).collect()]
    assert got[0] == ["a b c", "b c d"]
    assert got[1] == [] and got[2] == [] and got[3] == []



def test_shingles_are_distinct_ngrams_all(spark):
    """One gram builder under both: for every k, ``shingles`` equals
    ``array_distinct(ngrams_all)`` and ``ngrams_all`` keeps repeats,
    over empty, null, shorter-than-k, exactly-k and repeated texts."""
    from etl_procesos_odo_spark.llm.dedup import ngrams_all

    texts = ["", None, "a", "a b", "a b c", "a b c d", "x x x x x x",
             "a b a b a b", "  a  b   c  "]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    for k in range(1, 5):
        rows = df.select(
            shingles("text", k).alias("s"),
            F.array_distinct(ngrams_all("text", k)).alias("d"),
            ngrams_all("text", k).alias("a"),
        ).collect()
        for t, r in zip(texts, rows):
            words = (t or "").split()
            grams = [" ".join(words[i:i + k])
                     for i in range(len(words) - k + 1)]
            assert r["s"] == r["d"], (k, t)
            assert r["a"] == grams, (k, t)


def test_exact_dedup_crafted(spark):
    df = spark.createDataFrame(
        [
            (1, "Hello  World"),
            (2, "hello world"),       # same after normalization
            (3, "different doc"),
        ],
        ["doc_id", "text"],
    )
    out = {r["keep_id"]: r["n_copies"] for r in exact_dedup(df, "text", "doc_id").collect()}
    assert out == {1: 2, 3: 1}


def test_minhash_finds_planted_near_dup(spark):
    base = " ".join(f"w{i}" for i in range(60))
    near = " ".join(f"w{i}" for i in range(59)) + " zz"   # ~0.95 jaccard
    far = " ".join(f"x{i}" for i in range(60))
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], ["doc_id", "text"]
    )
    pairs = minhash_lsh_pairs(df, "text", "doc_id", threshold=0.5).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1, 2)]
    assert pairs[0]["jaccard_sim"] > 0.9


def test_simhash_similar_docs_close(spark):
    base = " ".join(f"w{i}" for i in range(60))
    near = " ".join(f"w{i}" for i in range(59)) + " zz"
    far = " ".join(f"x{i}" for i in range(60))
    df = spark.createDataFrame([(1, base), (2, near), (3, far)], ["doc_id", "text"])
    sims = {r["doc_id"]: r["simhash"] for r in simhash60(df, "text", "doc_id").collect()}
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(sims[1], sims[2]) < ham(sims[1], sims[3])
    assert ham(sims[1], sims[2]) <= 10


def test_cosine_topk_self_similarity(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [1.0, 0.01, 0.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = cosine_topk(df, df.filter(F.col("vec_id") == 0), k=2).collect()
    assert [r["neighbor_id"] for r in out] == [3, 1]  # closest first
    assert out[0]["rank"] == 1 and out[0]["cos_sim"] > 0.999


def test_hyperplanes_deterministic():
    assert hyperplanes(8, 4, seed=42) == hyperplanes(8, 4, seed=42)
    assert hyperplanes(8, 4, seed=42) != hyperplanes(8, 4, seed=43)
    assert all(x in (-1.0, 1.0) for p in hyperplanes(8, 4) for x in p)


def test_multimodal_plumbing_schema(spark):
    df = spark.createDataFrame([(1, "abc"), (2, "defgh")], ["doc_id", "text"])
    media = attach_payload(df, "text", "doc_id")
    assert dict(media.dtypes)["payload"] == "binary"
    feats = extract_features(media).collect()
    by_id = {r["doc_id"]: r for r in feats}
    assert by_id[1]["n_bytes"] == 3 and by_id[2]["n_bytes"] == 5
    # deterministic fake decode: width from first byte, height from length
    assert by_id[1]["width"] == 16 + ord("a") % 64
    assert by_id[1]["height"] == 16 + 3 % 64
    assert set(extract_features(media).columns) == {
        "doc_id", "n_bytes", "width", "height", "n_frames",
    }


def test_dedup_clusters_transitive_chain(spark):
    # a≈b and b≈c but a,c share fewer shingles: transitivity must still
    # place all three in one cluster labeled by the min id; d is a singleton.
    words = [f"w{i}" for i in range(50)]
    a = " ".join(words)
    bw = list(words)
    bw[5], bw[6] = "CHANGED1", "CHANGED2"
    cw = list(bw)
    cw[30], cw[31] = "ALTERED1", "ALTERED2"
    # jaccard: a~b = b~c = 0.846 (edges at t=0.8); a~c = 0.714 (filtered)
    rows = [
        (10, a), (20, " ".join(bw)), (30, " ".join(cw)),
        (40, "completely unrelated words " * 8),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup_clusters(df, "text", "doc_id", threshold=0.8).collect()
    }
    assert got[10] == 10 and got[20] == 10 and got[30] == 10
    assert got[40] == 40
    # representatives = rows where doc_id == cluster_id
    assert sorted(k for k, v in got.items() if k == v) == [10, 40]


def test_cc_bigstar_long_chain_few_rounds(spark):
    # path graph of diameter 39: min-label propagation needs ~39 rounds;
    # large-star/small-star must finish within 8 alternations (O(log n)).
    # Mixed orientations and duplicate edges exercise canonicalization.
    edges = [(i + 1, i) if i % 3 else (i, i + 1) for i in range(39)]
    edges += [(0, 1), (50, 60), (60, 70), (70, 50)]  # dup + a 3-cycle
    df = spark.createDataFrame(edges, "u long, v long")
    got = {r["id"]: r["cluster_id"] for r in cc_bigstar(df, max_iter=8).collect()}
    assert got == {**{i: 0 for i in range(40)}, 50: 50, 60: 50, 70: 50}


def test_dedup_clusters_bigstar_matches_minlabel(spark):
    # both CC algorithms over the same LSH pair graph → identical labels
    words = [f"w{i}" for i in range(50)]
    a = " ".join(words)
    bw = list(words)
    bw[5], bw[6] = "CHANGED1", "CHANGED2"
    cw = list(bw)
    cw[30], cw[31] = "ALTERED1", "ALTERED2"
    rows = [
        (10, a), (20, " ".join(bw)), (30, " ".join(cw)),
        (40, "completely unrelated words " * 8),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    base = sorted(
        tuple(r) for r in dedup_clusters(df, "text", "doc_id", threshold=0.8).collect()
    )
    star = sorted(
        tuple(r)
        for r in dedup_clusters_bigstar(df, "text", "doc_id", threshold=0.8).collect()
    )
    assert base == star
    assert {t[0]: t[1] for t in star}[30] == 10  # transitive a-b-c chain held


def test_decontaminate_planted_overlap(spark):
    bench_text = "the quick brown fox jumps over the lazy dog tonight"
    rows_train = [
        (1, "intro words then " + bench_text + " plus a trailing tail"),
        (2, "nothing in common with anything else at all here"),
        (3, "quick brown fox appears"),  # 1 shared shingle < min_shared
    ]
    rows_bench = [(100, bench_text)]
    train = spark.createDataFrame(rows_train, ["doc_id", "text"])
    bench = spark.createDataFrame(rows_bench, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_bench_docs"], r["max_shared"])
        for r in decontaminate(
            train, bench, "text", "doc_id", k=3, min_shared=2, max_df=20
        ).collect()
    }
    assert set(got) == {1}
    assert got[1][0] == 1 and got[1][1] >= 2


def test_decontaminate_max_df_drops_boilerplate(spark):
    # the same boilerplate shingle in EVERY doc must be excluded by the
    # df cap, leaving no pair with >= min_shared evidence
    boiler = "all rights reserved worldwide"
    train = spark.createDataFrame(
        [(i, f"doc {i} body text {boiler}") for i in range(5)],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100, f"benchmark answer key {boiler}")], ["doc_id", "text"]
    )
    out = decontaminate(
        train, bench, "text", "doc_id", k=3, min_shared=1, max_df=3
    )
    assert out.count() == 0


def test_decontaminate_bloom_matches_exact_plan(spark):
    # the bloom prefilter is transparent: false positives die in the
    # exact verify join, so prefilter=True/False must be bit-identical
    from etl_procesos_odo_spark.llm.dedup import decontaminate_bloom

    bench_text = "the quick brown fox jumps over the lazy dog tonight"
    train = spark.createDataFrame(
        [
            (1, "intro words then " + bench_text + " plus a trailing tail"),
            (2, "nothing in common with anything else at all here"),
            (3, "quick brown fox appears"),
            (4, bench_text + " again " + bench_text),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100, bench_text), (101, "a second benchmark prompt entirely")],
        ["doc_id", "text"],
    )
    kw = dict(k=3, min_shared=2, bench_max_df=10)
    with_bloom = sorted(
        tuple(r)
        for r in decontaminate_bloom(
            train, bench, "text", "doc_id", prefilter=True, **kw
        ).collect()
    )
    exact = sorted(
        tuple(r)
        for r in decontaminate_bloom(
            train, bench, "text", "doc_id", prefilter=False, **kw
        ).collect()
    )
    assert with_bloom == exact
    assert [t[0] for t in with_bloom] == [1, 4]
    # a deliberately tiny, saturated bitmap (all probes collide) still
    # yields the exact answer — correctness never depends on the fpp
    saturated = sorted(
        tuple(r)
        for r in decontaminate_bloom(
            train, bench, "text", "doc_id", prefilter=True, m_bits=64, **kw
        ).collect()
    )
    assert saturated == exact


def test_decontaminate_bloom_empty_bench(spark):
    # degenerate input: no benchmark docs -> empty (all-zero) bitmap ->
    # every probe false -> empty result, same as the exact plan
    from etl_procesos_odo_spark.llm.dedup import decontaminate_bloom

    train = spark.createDataFrame(
        [(1, "some training text with enough words here")], ["doc_id", "text"]
    )
    bench = spark.createDataFrame([], "doc_id long, text string")
    assert (
        decontaminate_bloom(train, bench, "text", "doc_id").count() == 0
    )


def test_bloom_bitmap_no_false_negatives_and_bounded_fpp(spark):
    # the load-bearing bloom contract, tested on the real Spark path with
    # a seeded 5k-key set: every inserted key MUST pass the probe (false
    # negatives would silently drop true contamination evidence — the
    # verify join can only remove, never restore); disjoint non-keys may
    # pass only at a rate consistent with the m/n/k design point
    import numpy as np

    from etl_procesos_odo_spark.llm.dedup import (
        BLOOM_K,
        BLOOM_M_BITS,
        bloom_bitmap_bits,
        bloom_probe_filter,
    )

    rng = np.random.RandomState(7)
    keys = [f"key {rng.randint(10**9)} v{i}" for i in range(5000)]
    non_keys = [f"other {rng.randint(10**9)} w{i}" for i in range(5000)]
    kdf = spark.createDataFrame([(k,) for k in keys], ["g"])
    bits = bloom_bitmap_bits(kdf, "g", BLOOM_M_BITS, BLOOM_K)
    probe = bloom_probe_filter(F.col("g"), bits, BLOOM_M_BITS, BLOOM_K)
    assert kdf.filter(probe).count() == len(keys)  # zero false negatives
    ndf = spark.createDataFrame([(k,) for k in set(non_keys) - set(keys)], ["g"])
    fp = ndf.filter(probe).count()
    # design point: n=5k keys, m=2^21, k=3 -> fpp ~ (1-e^{-3n/m})^3 ~ 3e-7;
    # allow a huge margin — the assert is about ORDER, not the exact rate
    assert fp <= 50, fp


def test_streaming_decontaminate_mode_invariance(spark):
    # q156's claim IS mode-invariance: the streaming gate (file-source
    # stream -> bloom probe -> stateless stream-static join -> batch
    # rollup) must produce exactly the batch q155 result
    from etl_procesos_odo_spark.registry import registry

    qs = {q.name: q for q in registry()}
    sf = "/root/testdata/sf0.001"
    batch = sorted(
        tuple(r) for r in qs["q155_decontaminate_bloom"].spark_fn(spark, sf).collect()
    )
    streamed = sorted(
        tuple(r)
        for r in qs["q156_streaming_decontaminate"].spark_fn(spark, sf).collect()
    )
    assert streamed == batch
    assert len(batch) > 0  # non-vacuous at this sf


def test_hash_sample_deterministic_and_stratified(spark):
    df = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("zz").alias("lang"),
    )
    a = hash_sample(df, "doc_id", {"en": 0.5}, "lang", default_rate=0.0)
    b = hash_sample(df, "doc_id", {"en": 0.5}, "lang", default_rate=0.0)
    ra = sorted(r["doc_id"] for r in a.collect())
    assert ra == sorted(r["doc_id"] for r in b.collect())  # reproducible
    assert all(i % 2 == 0 for i in ra)  # zz stratum dropped entirely
    assert 0.4 < len(ra) / 1000 < 0.6  # ~50% of the en stratum
    # independent draw under a different salt
    rc = sorted(
        r["doc_id"]
        for r in hash_sample(
            df, "doc_id", {"en": 0.5}, "lang", default_rate=0.0, salt="s2"
        ).collect()
    )
    assert rc != ra


def test_repetition_metrics_crafted(spark):
    from etl_procesos_odo_spark.llm.text_analysis import repetition_metrics

    rows = [
        (1, "spam spam spam spam"),          # all dup words/2-grams/3-grams
        (2, "every word here differs now"),  # zero duplicates
        (3, ""),                             # degenerate
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    m = repetition_metrics(F.col("text"))
    got = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id", *[e.alias(n) for n, e in m.items()]
        ).collect()
    }
    assert got[1]["dup_word_frac"] == 0.75       # 4 words, 1 distinct
    assert got[1]["dup_2gram_frac"] == 1 - 1 / 3  # 3 grams, 1 distinct
    assert got[2]["dup_word_frac"] == 0.0
    assert got[2]["dup_3gram_frac"] == 0.0
    assert got[3]["dup_word_frac"] == 0.0        # empty text → 0, not null


def test_ivf_multiprobe_recall_never_worse(spark):
    from etl_procesos_odo_spark.llm.similarity import ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    best1 = {
        r["query_id"]: r["cos_sim"]
        for r in ivf_topk(emb, q, n_cells=16, k=1).collect()
    }
    best2 = {
        r["query_id"]: r["cos_sim"]
        for r in ivf_topk(emb, q, n_cells=16, k=1, nprobe=2).collect()
    }
    # probing a second cell can only add candidates: per-query best cosine
    # is monotone non-decreasing in nprobe
    assert set(best1) <= set(best2)
    for qid, s1 in best1.items():
        assert best2[qid] >= s1 - 1e-12


def test_pack_sequences_boundaries(spark):
    from etl_procesos_odo_spark.llm.packing import pack_sequences

    # tokens per doc: 6, 4, 3 in one stratum; budget 8
    # cum_before: 0, 6, 10 → packs 0, 0, 1; offsets 0, 6, 2
    rows = [
        (1, "a b c d e f", "en"),
        (2, "g h i j", "en"),
        (3, "k l m", "en"),
        (4, "x y", "es"),  # separate stratum restarts at pack 0
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    got = {
        r["doc_id"]: (r["pack_id"], r["offset_in_pack"])
        for r in pack_sequences(df, "doc_id", 8, "lang").collect()
    }
    assert got == {1: (0, 0), 2: (0, 6), 3: (1, 2), 4: (0, 0)}


def test_chunk_documents_overlap(spark):
    from etl_procesos_odo_spark.llm.packing import chunk_documents

    text = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame([(1, text), (2, "short"), (3, "")],
                               ["doc_id", "text"])
    out = chunk_documents(df, "text", "doc_id", chunk_tokens=4, overlap=2)
    rows = sorted(
        (r["doc_id"], r["chunk_idx"], r["chunk_text"]) for r in out.collect()
    )
    # doc 1: stride 2 → starts 0,2,4,6 (chunks of 4), last covers w6..w9
    assert [r[2] for r in rows if r[0] == 1] == [
        "w0 w1 w2 w3", "w2 w3 w4 w5", "w4 w5 w6 w7", "w6 w7 w8 w9",
    ]
    assert [r[2] for r in rows if r[0] == 2] == ["short"]
    assert not [r for r in rows if r[0] == 3]  # empty doc → no chunks


def test_simhash_pairs_exact_recall_vs_brute_force(spark):
    from etl_procesos_odo_spark.llm.dedup import (
        simhash60,
        simhash_neardup_pairs,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_neardup_pairs(
            docs, "text", "doc_id", max_hamming=3, bands=4
        ).collect()
    }
    sigs = {
        r["doc_id"]: r["simhash"]
        for r in simhash60(docs, "text", "doc_id").collect()
    }
    ids = sorted(sigs)
    brute = {
        (a, b): bin(sigs[a] ^ sigs[b]).count("1")
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    # pigeonhole: banded search must find EVERY pair within distance 3
    assert got == brute


def test_quantize_int8_range_and_zero_vector(spark):
    from etl_procesos_odo_spark.llm.similarity import quantize_int8

    rows = [(1, [1.0, -0.5, 0.25, 127.0]), (2, [0.0, 0.0, 0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r for r in quantize_int8(df).collect()}
    assert all(-127 <= x <= 127 for x in got[1]["q"])
    assert max(abs(x) for x in got[1]["q"]) == 127  # max component saturates
    assert got[1]["recon_cos"] > 0.999
    assert got[2]["scale"] == 0.0
    assert got[2]["q"] == [0, 0, 0, 0]
    assert got[2]["recon_cos"] is None


def test_collapsed_lsh_bucket_blowup_guard(spark):
    """A planted exact-dup cluster must contribute ONE row per band bucket
    (not n), no intra-cluster pairs, and pair weights must multiply back."""
    from etl_procesos_odo_spark.llm import dedup as D
    from pyspark.sql import functions as F

    words = [f"tok{i}" for i in range(40)]
    text_a = " ".join(words)
    bw = list(words)
    bw[3], bw[4] = "X1", "X2"
    text_b = " ".join(bw)  # near-dup of a
    rows = [(i, text_a) for i in range(30)]          # 30 exact copies of a
    rows += [(100 + i, text_b) for i in range(4)]    # 4 exact copies of b
    rows.append((500, "entirely different content " * 6))
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    out = D.minhash_lsh_pairs_collapsed(df, "text", "doc_id", threshold=0.5)
    got = {(r["id_a"], r["id_b"]): r["n_pairs"] for r in out.collect()}
    # single near-dup pair between the two group representatives (0, 100),
    # weighted by 30 x 4 underlying document pairs
    assert got == {(0, 100): 120}

    # the guard itself: the operator's band rows for the collapsed frame —
    # one row per (band, representative), so the 30-copy cluster cannot
    # hot-key a bucket
    reps = df.groupBy(D._digest("text")).agg(
        F.min("doc_id").alias("doc_id"), F.min_by("text", "doc_id").alias("text")
    )
    banded = D._band_rows(D._shingle_frame(reps, "text", "doc_id", 3), 12, 4)
    per_bucket = banded.groupBy("band_idx", "band_hash").count().collect()
    assert max(r["count"] for r in per_bucket) <= 2  # reps only, never 30


def test_multiprobe_recall_uplift(spark):
    """probe=2 must dominate probe=1: candidates are a superset, and
    recall@5 against the brute-force ground truth (q34 semantics) must not
    decrease — with the boundary-flip probing it strictly helps whenever a
    query's neighbors straddle its lowest-margin plane."""
    from etl_procesos_odo_spark.llm.similarity import (
        cosine_topk,
        lsh_bucket_topk,
        lsh_bucket_topk_multiprobe,
    )
    from etl_procesos_odo_spark.session import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, q, k=5).collect()
    }
    got1 = {
        (r["query_id"], r["neighbor_id"])
        for r in lsh_bucket_topk(emb, q, dim=64, k=5).collect()
    }
    got2 = {
        (r["query_id"], r["neighbor_id"])
        for r in lsh_bucket_topk_multiprobe(emb, q, dim=64, k=5, probe=2).collect()
    }
    r1 = len(got1 & truth) / len(truth)
    r2 = len(got2 & truth) / len(truth)
    assert r2 >= r1
    # probe=1 via the multiprobe entrypoint degenerates to lsh_bucket_topk
    got1b = {
        (r["query_id"], r["neighbor_id"])
        for r in lsh_bucket_topk_multiprobe(emb, q, dim=64, k=5, probe=1).collect()
    }
    assert got1b == got1


def test_asof_join_semantics(spark):
    from etl_procesos_odo_spark.operators.joins import asof_join

    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 20, 200.0), (2, 15, 999.0)],
        "k long, t long, v double",
    )
    left = spark.createDataFrame(
        [(101, 1, 5), (102, 1, 10), (103, 1, 25), (104, 3, 50)],
        "eid long, k long, t long",
    )
    got = {
        r["eid"]: r["last_v"]
        for r in asof_join(
            left, right, "k", "t", "t", {"v": "last_v"}
        ).collect()
    }
    assert got[101] is None        # before any right row
    assert got[102] == 100.0       # equal timestamp matches (>= semantics)
    assert got[103] == 200.0       # latest of two earlier rows
    assert got[104] is None        # key with no right rows at all

    # r13 advice: internal scaffolding names are reserved — a right_vals
    # column named _rts (or a left column named _k/_ts/...) must raise,
    # not silently build an ambiguous-getField plan
    import pytest

    with pytest.raises(ValueError, match="_rts"):
        asof_join(left, right.withColumnRenamed("v", "_rts"),
                  "k", "t", "t", {"_rts": "last_v"})
    with pytest.raises(ValueError, match="_side"):
        asof_join(left.withColumn("_side", left["eid"]), right,
                  "k", "t", "t", {"v": "last_v"})


def test_block_dedup_removes_repeated_blocks(spark):
    # doc 0 and doc 1 share an identical 8-word block; doc 1 keeps only
    # its unique block, and an empty doc survives with zero blocks.
    from etl_procesos_odo_spark.llm.dedup import block_dedup

    shared = "a b c d e f g h"
    rows = [
        (0, shared + " x1 x2 x3 x4 x5 x6 x7 x8"),
        (1, shared + " y1 y2 y3 y4 y5 y6 y7 y8"),
        (2, ""),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in block_dedup(df, "text", "doc_id").collect()}
    assert out[0]["n_blocks"] == 2 and out[0]["n_kept"] == 2
    assert out[1]["n_blocks"] == 2 and out[1]["n_kept"] == 1
    assert out[1]["text_dedup"] == "y1 y2 y3 y4 y5 y6 y7 y8"
    assert out[2]["n_blocks"] == 0 and out[2]["text_dedup"] is None


def test_mask_digit_runs(spark):
    from pyspark.sql import functions as F

    from etl_procesos_odo_spark.functions.text_fns import (
        count_digit_runs,
        mask_digit_runs,
    )

    df = spark.createDataFrame(
        [("Customer#000000042",), ("no digits",), ("ab12345 cd 99999999",)],
        ["s"],
    )
    got = df.select(
        mask_digit_runs("s").alias("m"), count_digit_runs("s").alias("n")
    ).collect()
    assert got[0]["m"] == "Customer#[ID]42" and got[0]["n"] == 1
    assert got[1]["m"] == "no digits" and got[1]["n"] == 0
    # 5-digit run is below the 4+2 minimum; 8-digit run is masked
    assert got[2]["m"] == "ab12345 cd [ID]99" and got[2]["n"] == 1


def test_kmeans_step_tightens_or_holds_cells(spark):
    # After one Lloyd iteration every vector's cosine to its centroid
    # must be >= its initial assignment's cosine on average (k-means
    # monotonicity holds exactly for squared-distance; for the cosine
    # variant we assert the weaker, still-diagnostic aggregate form).
    from etl_procesos_odo_spark.llm.similarity import (
        cosine,
        kmeans_lloyd_step,
    )
    from pyspark.sql import functions as F

    from etl_procesos_odo_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    out = kmeans_lloyd_step(emb, "vec_id", "embedding", n_cells=8)
    rows = out.agg(
        F.count("*").alias("n"),
        F.countDistinct("cell_next").alias("cells"),
        F.min("cos_next").alias("mn"),
    ).collect()[0]
    assert rows["n"] == emb.count()
    assert 1 <= rows["cells"] <= 8
    assert rows["mn"] is not None


def test_transform_media_matches_composed_ops(spark):
    """The fused single-pass transform (q62's plan shape) must return
    exactly what the composable resize ⋈ sample_frames pipeline returns —
    the fusion is a traffic optimization, never a semantic change."""
    from etl_procesos_odo_spark.llm.multimodal import (
        attach_payload,
        resize_images,
        sample_frames,
        transform_media,
    )
    from etl_procesos_odo_spark.session import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    media = attach_payload(docs, "text", "doc_id")
    fused = transform_media(media, 16, 16, 3)
    composed = (
        resize_images(media, 16, 16)
        .select("doc_id", "out_w", "out_h", "n_bytes_out")
        .join(sample_frames(media, 3), "doc_id")
    )
    cols = ["doc_id", "out_w", "out_h", "n_bytes_out", "n_frames", "sampled"]
    a = sorted(map(tuple, fused.select(*cols).collect()))
    b = sorted(map(tuple, composed.select(*cols).collect()))
    assert a == b and len(a) == docs.count()


def test_incremental_dedup_statuses(spark):
    """All three verdicts on a synthetic batch: exact_dup (normalized
    digest match beats its jaccard-1.0 LSH candidacy), near_dup (one
    token changed), unique (disjoint shingles). The generated documents
    table has no exact duplicates, so q102's oracle exercises only
    near_dup/unique — this pins the exact path."""
    from etl_procesos_odo_spark.llm.dedup import incremental_dedup

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "one two three four five six seven"),
            (3, "completely different corpus text here now"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (10, "alpha  beta GAMMA delta epsilon zeta"),  # == doc 1 after lower+ws-collapse
            (11, "one two three four five six EIGHT"),
            (12, "nothing shares any shingle with corpus docs"),
        ],
        "doc_id long, text string",
    )
    # normalized digest lowers + collapses whitespace, so doc 10 IS exact
    out = {
        r["new_id"]: (r["status"], r["match_id"])
        for r in incremental_dedup(new, corpus, "text", "doc_id").collect()
    }
    assert out[10] == ("exact_dup", 1)
    assert out[11][0] == "near_dup" and out[11][1] == 2
    assert out[12] == ("unique", None)


def test_quantized_rerank_ivf_full_probe_equals_exact(spark):
    """nprobe == n_cells probes every cell, so the IVF variant's stage-1
    candidate set equals the exact-scan variant's (every non-zero corpus
    vector lives in exactly one — probed — cell) and the outputs must be
    identical row-for-row. With nprobe=1 the result is a subset-ranked
    approximation but every cos_sim it reports is still the exact
    full-precision cosine."""
    from pyspark.sql import functions as F

    from etl_procesos_odo_spark.llm.similarity import (
        quantized_rerank_topk,
        quantized_rerank_topk_ivf,
    )
    from etl_procesos_odo_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    exact = sorted(map(tuple, quantized_rerank_topk(
        emb, q, "vec_id", "embedding", k=5, overfetch=4
    ).collect()))
    ivf = sorted(map(tuple, quantized_rerank_topk_ivf(
        emb, q, "vec_id", "embedding", k=5, overfetch=4, n_cells=4, nprobe=4
    ).collect()))
    assert ivf == exact and len(ivf) == 8 * 5

    narrow = quantized_rerank_topk_ivf(
        emb, q, "vec_id", "embedding", k=5, overfetch=4, n_cells=4, nprobe=1
    )
    got = narrow.collect()
    assert len(got) == 8 * 5
    from etl_procesos_odo_spark.llm.similarity import cosine

    chk = (
        narrow.alias("n")
        .join(emb.select(F.col("vec_id").alias("query_id"),
                         F.col("embedding").alias("qv")), "query_id")
        .join(emb.select(F.col("vec_id").alias("neighbor_id"),
                         F.col("embedding").alias("cv")), "neighbor_id")
        .select((F.abs(F.col("cos_sim") - cosine(F.col("qv"), F.col("cv")))
                 < 1e-12).alias("ok"))
    )
    assert all(r["ok"] for r in chk.collect())


def test_semantic_dedup_prunes_within_cluster(spark):
    """Two orthogonal clusters seeded by vecs 0/1; each has one
    near-duplicate member. The near-dups are pruned with dup_of = the
    lower-id original; originals stay kept; pruning never crosses the
    cluster boundary (v4 is cosine-close to nothing in ITS cluster)."""
    from etl_procesos_odo_spark.llm.similarity import semantic_dedup

    rows = [
        (0, [1.0, 0.0, 0.0]),     # seed cell 0
        (1, [0.0, 1.0, 0.0]),     # seed cell 1
        (2, [1.0, 0.05, 0.0]),    # near-dup of 0, cell 0
        (3, [0.05, 1.0, 0.0]),    # near-dup of 1, cell 1
        (4, [0.0, 0.7, 0.7]),     # cell 1 but cos(4,1)=0.7/0.99 < 0.95
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r["vec_id"]: (r["status"], r["dup_of"])
        for r in semantic_dedup(
            emb, "vec_id", "embedding", n_cells=2, threshold=0.95
        ).collect()
    }
    assert out[0] == ("kept", None)
    assert out[1] == ("kept", None)
    assert out[2] == ("pruned", 0)
    assert out[3] == ("pruned", 1)
    assert out[4] == ("kept", None)


def test_incremental_dedup_hot_band_cap(spark):
    """Adversarial skew: 40 corpus docs share one band (identical text ⇒
    identical signature ⇒ all 4 bands collide). With corpus_band_cap=8
    the band join sees ≤ cap corpus rows per (band_idx, band_hash) —
    bounded fan-out — while verdicts survive: the capped bucket keeps its
    LOWEST-id docs, so the best (min-id) match is still found, and the
    exact-digest path is uncapped by design."""
    from pyspark.sql import functions as F

    from etl_procesos_odo_spark.llm import dedup as D

    hot = [(i, "the same boilerplate sentence repeated everywhere online")
           for i in range(100, 140)]
    corpus = spark.createDataFrame(
        hot + [(2, "one two three four five six seven")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(10, "the same boilerplate sentence repeated everywhere online today"),
         (11, "one two three four five six eight")],
        "doc_id long, text string",
    )
    out = {
        r["new_id"]: (r["status"], r["match_id"])
        for r in D.incremental_dedup(
            new, corpus, "text", "doc_id", corpus_band_cap=8
        ).collect()
    }
    # doc 10 is a near-dup of the hot cluster; min-id retention makes 100
    # the deterministic best match even though 32 cluster members were
    # dropped from the bucket
    assert out[10] == ("near_dup", 100)
    assert out[11] == ("near_dup", 2)

    # the capped corpus band frame itself is bounded: the operator's own
    # corpus banding and cap, and no bucket exceeds the cap
    banded = D._band_rows(D._shingle_frame(corpus, "text", "doc_id", 3), 12, 4)
    capped = D.band_min_k(banded, 8)
    sizes = capped.groupBy("band_idx", "band_hash").count()
    assert sizes.agg(F.max("count")).collect()[0][0] <= 8
    # and the uncapped frame really was hot (sanity that the test bites)
    raw_sizes = banded.groupBy("band_idx", "band_hash").count()
    assert raw_sizes.agg(F.max("count")).collect()[0][0] == 40


def test_hard_negatives_band_and_determinism(spark):
    """q117: every mined negative's cosine sits inside [0.05, 0.25), at
    most n per anchor, rank is 1..n dense in cos_sim-desc order, and the
    result is bit-stable run-to-run (seedless — pure expressions)."""
    from etl_procesos_odo_spark.llm.similarity import hard_negatives_topk
    from etl_procesos_odo_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    anchors = emb.filter(F.col("vec_id") < 10)
    out = hard_negatives_topk(
        emb, anchors, band_lo=0.05, band_hi=0.25, n=5
    )
    rows = out.collect()
    assert rows, "band should be populated at sf0.001"
    assert all(0.05 <= r["cos_sim"] < 0.25 for r in rows)
    per_anchor = {}
    for r in rows:
        per_anchor.setdefault(r["anchor_id"], []).append(r)
    for recs in per_anchor.values():
        recs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in recs] == list(range(1, len(recs) + 1))
        assert len(recs) <= 5
        sims = [r["cos_sim"] for r in recs]
        assert sims == sorted(sims, reverse=True)
    again = sorted(map(tuple, out.collect()))
    assert again == sorted(map(tuple, rows))


def test_hard_negatives_ivf_full_probe_equals_exact(spark):
    """q118: with nprobe == n_cells every cell is probed, the candidate
    set equals the exact scan's (each corpus vector lives in exactly one
    probed cell), and the IVF-routed output must be identical
    row-for-row. With nprobe < n_cells the result is a subset whose
    cos_sim values are still exact and in-band."""
    from etl_procesos_odo_spark.llm.similarity import (
        hard_negatives_topk,
        hard_negatives_topk_ivf,
    )
    from etl_procesos_odo_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    anchors = emb.filter(F.col("vec_id") < 10)
    exact = sorted(map(tuple, hard_negatives_topk(
        emb, anchors, band_lo=0.05, band_hi=0.25, n=5
    ).collect()))
    full_probe = sorted(map(tuple, hard_negatives_topk_ivf(
        emb, anchors, band_lo=0.05, band_hi=0.25, n=5,
        n_cells=4, nprobe=4,
    ).collect()))
    assert full_probe == exact and exact

    narrow = hard_negatives_topk_ivf(
        emb, anchors, band_lo=0.05, band_hi=0.25, n=5,
        n_cells=4, nprobe=2,
    ).collect()
    assert all(0.05 <= r["cos_sim"] < 0.25 for r in narrow)
    exact_pairs = {(r[0], r[1]) for r in exact}
    # every narrow-probe candidate the exact scan also banded keeps the
    # identical cosine (the IVF route changes WHICH pairs form, never
    # the score of a pair that forms)
    exact_sims = {(r[0], r[1]): r[2] for r in exact}
    for r in narrow:
        key = (r["anchor_id"], r["negative_id"])
        if key in exact_pairs:
            assert abs(exact_sims[key] - r["cos_sim"]) < 1e-15


def test_heavy_hitters_null_keys_and_slack_guard(spark):
    """ADVICE r4: (a) a NULL-keyed heavy hitter must be emitted — the
    plain GROUP BY/HAVING oracle keeps a NULL group that the MG sketch
    path (pandas value_counts drops NaN) structurally cannot produce;
    (b) slack < 1 voids the superset guarantee and must raise."""
    import pytest as _pytest

    from etl_procesos_odo_spark.llm.sketches import heavy_hitters

    rows = [(None,)] * 40 + [("a",)] * 40 + [("b",)] * 5 + [
        (f"t{i}",) for i in range(15)
    ]
    df = spark.createDataFrame(rows, "k string").repartition(4)
    got = {r["k"]: r["cnt"] for r in heavy_hitters(df, "k", theta=0.2).collect()}
    assert got == {None: 40, "a": 40}

    # below-threshold nulls stay out
    df2 = spark.createDataFrame(
        [(None,)] * 2 + [("a",)] * 48, "k string"
    ).repartition(4)
    got2 = {r["k"]: r["cnt"] for r in heavy_hitters(df2, "k", theta=0.2).collect()}
    assert got2 == {"a": 48}

    with _pytest.raises(ValueError, match="slack"):
        heavy_hitters(df, "k", theta=0.5, slack=0.5)


def test_heavy_hitters_empty_input(spark):
    """ADVICE r5: on an EMPTY input the GROUP BY/HAVING oracle returns
    an empty frame — n_total=0 must not make threshold 0 and let the
    NULL branch emit a spurious (NULL, 0) row."""
    from etl_procesos_odo_spark.llm.sketches import heavy_hitters

    empty = spark.createDataFrame([], "k string")
    assert heavy_hitters(empty, "k", theta=0.2).collect() == []
    # all-null degenerate input still emits the legit NULL row
    nulls = spark.createDataFrame([(None,)] * 7, "k string")
    got = {r["k"]: r["cnt"] for r in heavy_hitters(nulls, "k", 0.5).collect()}
    assert got == {None: 7}


def test_source_quota_null_group_kept(spark):
    """ADVICE r4: a NULL group key forms one partition under the
    single-window oracle form — the split (count-join) form must keep it
    too (null-safe join), capped at the quota like any other group."""
    from etl_procesos_odo_spark.llm.sampling import source_quota

    rows = [(None, i, i) for i in range(5)] + [("x", 10 + i, 10 + i) for i in range(2)]
    df = spark.createDataFrame(rows, "src string, score long, id long")
    out = source_quota(df, "src", quota=3, order_col="score", id_col="id")
    by_src = {}
    for r in out.collect():
        by_src.setdefault(r["src"], set()).add(r["id"])
    assert by_src[None] == {2, 3, 4}   # top-3 by score within the NULL group
    assert by_src["x"] == {10, 11}


def test_bm25_empty_terms_raises(spark):
    import pytest as _pytest

    from etl_procesos_odo_spark.llm.text_analysis import bm25_topk

    df = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="terms"):
        bm25_topk(df, "text", "doc_id", terms=[])


def test_hybrid_rrf_lsh_parity_on_planted_neardups(spark):
    """q119 vs q112: the LSH route changes WHICH pairs enter the lexical
    pool (banded candidates only), never the score or relative order of
    a pair both variants rank. Planted near-dups of the query doc must
    band with it, take lexical ranks 1-2 in BOTH variants with identical
    fused ordering; the routed lexical pool must be a subset of the
    corpus (no invented candidates) with every surviving pair's
    jaccard > 0 (banding caught real shingle overlap here)."""
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    near1 = base.replace("today", "tonight")
    near2 = base.replace("quick", "swift")
    import random as _r

    rng = _r.Random(7)
    vocab = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
             "theta", "iota", "kappa", "lam", "mu", "nu", "xi", "omicron"]
    rows = [(0, base), (1, near1), (2, near2)] + [
        (i, " ".join(rng.choice(vocab) for _ in range(12)))
        for i in range(3, 30)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    vec_rows = [
        (i, [1.0 if j == i % 8 else 0.1 * ((i * 7 + j) % 5) for j in range(8)])
        for i in range(30)
    ]
    emb = spark.createDataFrame(vec_rows, "vec_id long, embedding array<double>")

    from etl_procesos_odo_spark.llm.similarity import hybrid_rrf_topk

    kw = dict(n_queries=1, pool=5, k=5, rrf_k=60)
    scan = {r["doc_id"]: r for r in hybrid_rrf_topk(docs, emb, **kw).collect()}
    lsh = {r["doc_id"]: r
           for r in hybrid_rrf_topk(docs, emb, lex_route="lsh", **kw).collect()}

    # the planted near-dups hold lexical ranks 1-2 under both routes
    for out in (scan, lsh):
        assert out[1]["rank_lex"] == 1 and out[2]["rank_lex"] == 2
    # and their fused relative order agrees across routes
    assert (scan[1]["rank"] < scan[2]["rank"]) == (lsh[1]["rank"] < lsh[2]["rank"])
    # routed lexical candidates are a subset: any doc holding a lexical
    # rank under LSH also holds one under the scan (which ranks everything
    # in-pool) OR was below the scan's pool cutoff — but it can never
    # carry a lexical rank BETTER than a scan-pool doc with higher jaccard
    assert lsh[1]["rank_lex"] <= scan[1]["rank_lex"]
    assert lsh[2]["rank_lex"] <= scan[2]["rank_lex"]


def test_band_min_k_equals_window_form(spark):
    """band_min_k's result set must be IDENTICAL to the row_number
    window form on adversarially skewed buckets (one hot bucket spanning
    partitions, several cold ones), including under repartitioning —
    min-k by id is partition-invariant."""
    import random as _r

    from pyspark.sql import Window

    from etl_procesos_odo_spark.llm.dedup import band_min_k

    rng = _r.Random(11)
    rows = [(i, 0, "hot") for i in range(200)] + [
        (1000 + i, rng.randint(0, 3), f"cold{rng.randint(0, 5)}")
        for i in range(60)
    ]
    banded = spark.createDataFrame(
        rows, "_id long, band_idx int, band_hash string"
    ).repartition(7)

    got = sorted(map(tuple, band_min_k(banded, 10).collect()))
    w = Window.partitionBy("band_idx", "band_hash").orderBy("_id")
    want = sorted(map(tuple, (
        banded.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= 10)
        .drop("_rk")
    ).collect()))
    assert got == want
    # the hot bucket really was trimmed to the cap
    hot = [t for t in got if t[2] == "hot"]
    assert len(hot) == 10 and {t[0] for t in hot} == set(range(10))


def test_band_min_k_null_band_key(spark):
    """ADVICE r5: the pandas-side partial trim must keep NULL-keyed band
    rows (dropna=False) — Spark's merge-side groupBy keeps NULL keys, so
    the window-form identity must hold on a null-keyed hot bucket too."""
    from pyspark.sql import Window

    from etl_procesos_odo_spark.llm.dedup import band_min_k

    rows = [(i, 0, None) for i in range(30)] + [
        (100 + i, 1, "cold") for i in range(5)
    ]
    banded = spark.createDataFrame(
        rows, "_id long, band_idx int, band_hash string"
    ).repartition(4)
    got = sorted(map(tuple, band_min_k(banded, 3).collect()))
    w = Window.partitionBy("band_idx", "band_hash").orderBy("_id")
    want = sorted(map(tuple, (
        banded.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= 3)
        .drop("_rk")
    ).collect()))
    assert got == want
    assert [t for t in got if t[2] is None] == [
        (0, 0, None), (1, 0, None), (2, 0, None)
    ]


def test_profile_columns_exact_knob(spark):
    """profile_columns(exact=True) is bit-identical to q114's fused
    exact profile; exact=False (approx_count_distinct / HLL++) keeps the
    schema and every exact column (nulls, min/max, n_rows) identical,
    with n_distinct within the advertised relative error."""
    from etl_procesos_odo_spark.operators.aggregates import profile_columns
    from etl_procesos_odo_spark.session import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    cols = ["event_id", "event_type", "ts", "user_id"]
    exact = {r["col_name"]: r.asDict() for r in
             profile_columns(ev, cols, exact=True).collect()}
    approx_df = profile_columns(ev, cols, exact=False, rsd=0.05)
    assert approx_df.columns == ["col_name", "n_rows", "n_nulls",
                                 "n_distinct", "min_repr", "max_repr"]
    approx = {r["col_name"]: r.asDict() for r in approx_df.collect()}
    assert set(exact) == set(approx) == set(cols)
    for c in cols:
        e, a = exact[c], approx[c]
        for f in ("n_rows", "n_nulls", "min_repr", "max_repr"):
            assert e[f] == a[f], (c, f, e[f], a[f])
        if e["n_distinct"]:
            rel = abs(a["n_distinct"] - e["n_distinct"]) / e["n_distinct"]
            assert rel < 0.15, (c, e["n_distinct"], a["n_distinct"])

    # the approx plan must not pay the multi-distinct Expand
    pe = profile_columns(ev, cols, exact=True)._jdf.queryExecution().executedPlan().toString()
    pa = approx_df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in pe and "Expand" not in pa


def test_range_join_binned_semantics(spark):
    """Crafted boundary cases for the binned range join: inclusive ends,
    intervals spanning multiple bins, points on bin edges, key
    separation, and equivalence to the naive BETWEEN join."""
    from etl_procesos_odo_spark.operators.joins import range_join_binned

    pts = spark.createDataFrame(
        [(1, 0.0, "a"), (2, 99.9, "a"), (3, 100.0, "a"), (4, 250.0, "a"),
         (5, 100.0, "b"), (6, 550.0, "a")],
        "pid long, t double, k string",
    ).select("pid", F.col("t").cast("timestamp").alias("t"), "k")
    ivs = spark.createDataFrame(
        [(10, 0.0, 100.0, "a"),      # inclusive both ends; spans 2 bins
         (11, 240.0, 560.0, "a"),    # spans 4 bins at w=100
         (12, 90.0, 110.0, "b")],    # other key
        "iid long, s double, e double, k string",
    ).select("iid", F.col("s").cast("timestamp").alias("s"),
             F.col("e").cast("timestamp").alias("e"), "k")

    got = sorted(
        (r["pid"], r["iid"])
        for r in range_join_binned(
            pts, ivs, on="k", point_ts="t", start_ts="s", end_ts="e",
            bin_seconds=100,
        ).collect()
    )
    naive = sorted(
        (r["pid"], r["iid"])
        for r in pts.join(
            ivs, on="k"
        ).filter((F.col("t") >= F.col("s")) & (F.col("t") <= F.col("e")))
        .collect()
    )
    assert got == naive
    assert got == [(1, 10), (2, 10), (3, 10), (4, 11), (5, 12), (6, 11)]


def test_ccnet_buckets_rank_common_register_first(spark):
    """Crafted corpus: docs made of corpus-common tokens must land in
    bucket 1 (head), rare-token docs in bucket 3 (tail), per language;
    scores are exact ratios of integer counts."""
    common = "the cat sat on the mat " * 5
    rare = "zyx qwv jkl pqr mno stu"
    mixed = "the cat zyx qwv sat on"
    rows = [(0, common, "en"), (1, mixed, "en"), (2, rare, "en"),
            (3, common, "en")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    from etl_procesos_odo_spark.registry import registry as _reg

    # reuse the registered plan body via a temp view-free direct call
    from etl_procesos_odo_spark.queries_llm import q122_ccnet_quality_buckets  # noqa: F401
    from pyspark.sql import Window
    from etl_procesos_odo_spark.llm.text_analysis import tokens

    f = docs.select("doc_id", "lang", tokens(F.col("text")).alias("w")).filter(F.size("w") > 0)
    tok = f.select("doc_id", "lang", F.explode("w").alias("t"))
    tf = tok.groupBy("t").agg(F.count(F.lit(1)).alias("cnt"))
    tot = tok.agg(F.count(F.lit(1)).alias("total_toks"))
    ds = (tok.join(tf, on="t").groupBy("doc_id", "lang")
          .agg(F.count(F.lit(1)).alias("n_tokens"), F.sum("cnt").alias("sum_cnt")))
    scored = ds.crossJoin(F.broadcast(tot)).select(
        "doc_id", "lang",
        ((F.col("sum_cnt").cast("double") / F.col("n_tokens").cast("double"))
         / F.col("total_toks").cast("double")).alias("score"))
    wb = Window.partitionBy("lang").orderBy(F.desc("score"), F.col("doc_id"))
    out = {r["doc_id"]: (r["bucket"], r["score"]) for r in
           scored.withColumn("bucket", F.ntile(3).over(wb).cast("long")).collect()}
    assert out[0][0] == 1 and out[3][0] in (1, 2)   # common docs at the head
    assert out[2][0] == 3                            # rare doc in the tail
    assert out[0][1] > out[1][1] > out[2][1]         # score strictly ordered


def test_ivf_trained_centroids_shape_and_routing(spark):
    """q123: kmeans_train_centroids returns (cell, centv) with <= n_cells
    rows and dim-length arrays; ivf_topk(centroids=...) returns exact
    cosines, and its assignment agrees with kmeans_train's cell_final
    (same trained table, same argmax)."""
    from etl_procesos_odo_spark.llm.similarity import (
        ivf_topk,
        kmeans_train,
        kmeans_train_centroids,
    )
    from etl_procesos_odo_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = kmeans_train_centroids(emb, n_cells=4, rounds=2)
    crows = cents.collect()
    assert 1 <= len(crows) <= 4
    assert all(len(r["centv"]) == 64 for r in crows)

    out = ivf_topk(
        emb, emb.filter(F.col("vec_id") < 5),
        n_cells=4, k=3, nprobe=1, centroids=cents,
    )
    rows = out.collect()
    assert rows and all(r["rank"] <= 3 for r in rows)

    # nprobe=1 query cells == kmeans_train's final assignment of those ids
    trained = {r["vec_id"]: r["cell_final"]
               for r in kmeans_train(emb, n_cells=4, rounds=2).collect()}
    for r in rows:
        assert trained[r["query_id"]] == r["cell"]


def test_consecutive_token_dedup_crafted(spark):
    """q125: runs collapse to one token, non-adjacent repeats survive,
    empty text yields zero counts; digest matches the cleaned string."""
    import hashlib

    from etl_procesos_odo_spark.llm.text_analysis import tokens as _tokens  # noqa: F401

    df = spark.createDataFrame(
        [(1, "a a a the cat cat sat a"), (2, ""), (3, "x y x y")],
        "doc_id long, text string",
    )
    g = df.select("doc_id", F.expr(
        "filter(split(trim(text), '\\\\s+'), x -> x != '')").alias("w"))
    out = {r["doc_id"]: r for r in g.select(
        "doc_id",
        F.size("w").cast("long").alias("n_tokens"),
        F.expr("CASE WHEN size(w) = 0 THEN array() ELSE "
               "transform(filter(sequence(1, size(w)), "
               "i -> CASE WHEN i = 1 THEN true "
               "ELSE element_at(w, i) != element_at(w, i - 1) END), "
               "i -> element_at(w, i)) END").alias("kept"),
    ).select(
        "doc_id", "n_tokens",
        (F.col("n_tokens") - F.size("kept")).cast("long").alias("n_removed"),
        F.array_join("kept", " ").alias("cleaned"),
    ).collect()}
    assert out[1]["cleaned"] == "a the cat sat a" and out[1]["n_removed"] == 3
    assert out[2]["n_tokens"] == 0 and out[2]["n_removed"] == 0
    assert out[3]["cleaned"] == "x y x y" and out[3]["n_removed"] == 0


def test_eval_split_exact_n_and_deterministic(spark):
    """q126: exactly min(5, stratum size) rows per (lang, source),
    identical across runs and repartitioning."""
    from etl_procesos_odo_spark.registry import registry as _r

    fn = {q.name: q.spark_fn for q in _r()}["q126_eval_split"]
    out1 = fn(spark, "/root/testdata/sf0.001").collect()
    out2 = fn(spark, "/root/testdata/sf0.001").collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))
    from collections import Counter

    sizes = Counter((r["lang"], r["source"]) for r in out1)
    assert sizes and all(n <= 5 for n in sizes.values())
    assert all(1 <= r["rank"] <= 5 for r in out1)


def test_batch_sessionize_gap_boundary(spark):
    """q127: a 29-min gap continues the session, a 31-min gap starts a
    new one; sessions count events and flag purchases correctly."""
    from etl_procesos_odo_spark.registry import registry as _r

    rows = [
        (1, 100, "view", 0.0),
        (2, 100, "click", 29 * 60.0),          # 29 min -> same session
        (3, 100, "purchase", 29 * 60.0 + 31 * 60.0),  # +31 min -> new
        (4, 200, "view", 0.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, t double"
    ).select("event_id", "user_id", "event_type",
             F.col("t").cast("timestamp").alias("ts"))
    ev.createOrReplaceTempView("_sess_ev")

    from pyspark.sql import Window

    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    m = ev.select(
        "user_id", "event_id", "event_type", "ts",
        F.lag("ts").over(wo).alias("prev_ts"),
    ).withColumn(
        "is_new",
        F.when(F.col("prev_ts").isNull()
               | (F.unix_micros("ts") - F.unix_micros("prev_ts")
                  > 1_800_000_000), F.lit(1)).otherwise(F.lit(0)),
    )
    s = m.withColumn(
        "session_seq",
        F.sum("is_new").over(
            wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).cast("long"),
    )
    agg = {(r["user_id"], r["session_seq"]): (r["n"], r["p"]) for r in
           s.groupBy("user_id", "session_seq").agg(
               F.count(F.lit(1)).alias("n"),
               F.max(F.when(F.col("event_type") == "purchase", 1)
                     .otherwise(0)).alias("p")).collect()}
    assert agg[(100, 1)] == (2, 0)   # view+click in session 1
    assert agg[(100, 2)] == (1, 1)   # purchase opens session 2
    assert agg[(200, 1)] == (1, 0)


def test_corpus_quantiles_exact_knob(spark):
    """q88's scale knob: exact=False (percentile_approx sketch) keeps
    the schema and exact columns identical and lands every quantile
    within the sketch's rank-error envelope of the exact value."""
    from etl_procesos_odo_spark.llm.text_analysis import corpus_quantiles
    from etl_procesos_odo_spark.session import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    exact = {r["lang"]: r.asDict() for r in
             corpus_quantiles(docs, exact=True).collect()}
    approx = {r["lang"]: r.asDict() for r in
              corpus_quantiles(docs, exact=False).collect()}
    assert set(exact) == set(approx)
    qcols = ["chars_p50", "chars_p90", "chars_p99", "tokens_p50", "tokens_p90"]
    for lang in exact:
        assert exact[lang]["n_docs"] == approx[lang]["n_docs"]
        for c in qcols:
            e, a = exact[lang][c], approx[lang][c]
            # approx returns an actual sample near the requested rank;
            # tolerance: 15% relative on these smooth distributions
            assert a == a and abs(a - e) <= max(0.15 * abs(e), 2.0), (lang, c, e, a)


def test_pagerank_star_graph(spark):
    """q134's kernel on a crafted star: the hub (pointed at by every
    spoke) must out-rank every spoke; symmetric edges conserve total
    mass (no dangling nodes), so ranks sum to ~1."""
    from etl_procesos_odo_spark.llm.dedup import pagerank_rounds

    spokes = list(range(1, 6))
    pairs = [(0, s) for s in spokes]
    edges = spark.createDataFrame(
        [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs],
        "src long, dst long",
    )
    ranks = {r["node"]: r["rank"]
             for r in pagerank_rounds(edges, rounds=3).collect()}
    assert set(ranks) == {0, *spokes}
    assert all(ranks[0] > ranks[s] for s in spokes)
    assert abs(sum(ranks.values()) - 1.0) < 1e-9
    # spokes are symmetric: identical ranks
    vals = {ranks[s] for s in spokes}
    assert len(vals) == 1


def test_duplicated_gram_stats_crafted(spark):
    """Occurrence-level duplicated-3-gram rate (q152's operator): within-
    and cross-doc repeats both count, short docs report 0 grams, the rate
    is an exact division."""
    from etl_procesos_odo_spark.llm.dedup import duplicated_gram_stats

    docs = spark.createDataFrame(
        [
            (1, "a b c a b c"),   # grams: abc, bca, cab, abc (abc twice)
            (2, "a b c x"),       # grams: abc, bcx (abc shared with d1)
            (3, "q r"),           # < 3 tokens -> no grams
        ],
        "doc_id long, text string",
    ).repartition(4)
    got = {
        r["doc_id"]: (r["n_grams"], r["n_dup_grams"], r["dup_rate"])
        for r in duplicated_gram_stats(docs, "text", "doc_id").collect()
    }
    # 'a b c' occurs 3x corpus-wide: d1's two occurrences and d2's one
    # are all duplicated; every other gram is unique
    assert got == {
        1: (4, 2, 0.5),
        2: (2, 1, 0.5),
        3: (0, 0, 0.0),
    }


def test_tfidf_cosine_pairs_exact(spark):
    """Exact all-pairs TF-IDF cosine (q154's operator): the planted
    near-dup pair is found (exact recall at threshold — no LSH banding
    gamble), unrelated docs are not, ids are ordered a < b, and the
    score matches an independent numpy recomputation from the same
    quantized weights bit-for-bit."""
    import math
    from collections import Counter

    from etl_procesos_odo_spark.llm.similarity import tfidf_cosine_pairs

    base = " ".join(f"w{i}" for i in range(40))
    near = " ".join(f"w{i}" for i in range(39)) + " zz"
    far = " ".join(f"x{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], ["doc_id", "text"]
    ).repartition(3)
    rows = tfidf_cosine_pairs(
        df, "text", "doc_id", threshold=0.5, max_df=50
    ).collect()
    assert [(r["id_a"], r["id_b"]) for r in rows] == [(1, 2)]

    # independent recompute with the same integer quantization
    def grams(text):
        w = text.split()
        return Counter(
            " ".join(w[i:i + 3]) for i in range(len(w) - 2)
        )
    docs = {1: grams(base), 2: grams(near), 3: grams(far)}
    dfc = Counter()
    for g in docs.values():
        dfc.update(g.keys())
    nd = 3

    def wq(tf, d):
        return round((tf * (2 * nd - 2 * d + 1) * 1000.0) / (2 * d + 1))
    w1 = {t: wq(c, dfc[t]) for t, c in docs[1].items()}
    w2 = {t: wq(c, dfc[t]) for t, c in docs[2].items()}
    dot = sum(w1[t] * w2[t] for t in set(w1) & set(w2))
    na = sum(v * v for v in w1.values())
    nb = sum(v * v for v in w2.values())
    want = float(dot) / (math.sqrt(float(na)) * math.sqrt(float(nb)))
    assert rows[0]["cos_sim"] == want
    # the rare trailing gram's high idf weight drags the near-dup cosine
    # well below its unweighted Jaccard (~0.95) — still far above threshold
    assert want > 0.8


def test_bloom_params_derivation():
    # the module defaults must DERIVE from the standard formulas, not be
    # asserted: n=2e5 eval-suite shingles at 1% target -> 256 KB / k=3
    from math import log

    from etl_procesos_odo_spark.llm.dedup import (
        BLOOM_K,
        BLOOM_M_BITS,
        bloom_fpp,
        bloom_params,
    )

    assert bloom_params(200_000, 0.01) == (BLOOM_M_BITS, BLOOM_K)
    m, k = bloom_params(200_000, 0.01, max_hashes=None)
    assert (m, k) == (BLOOM_M_BITS, 7)  # information-optimal k, uncapped
    # documented design-point rate of the capped default: ~1.6%
    assert abs(bloom_fpp(200_000, BLOOM_M_BITS, BLOOM_K) - 0.016) < 0.002
    # formula properties over a grid: power-of-two whole-word bitmaps,
    # sizes monotone in n and in 1/p, uncapped pair meets the target
    # within integer-k rounding slack
    prev_m = 0
    for n in (100, 10_000, 1_000_000):
        m_n, _ = bloom_params(n, 0.01, max_hashes=None)
        assert m_n >= prev_m and m_n % 64 == 0 and (m_n & (m_n - 1)) == 0
        prev_m = m_n
        for p in (0.1, 0.01, 0.001):
            m_p, k_p = bloom_params(n, p, max_hashes=None)
            assert k_p >= 1
            assert bloom_fpp(n, m_p, k_p) <= 2 * p
    # degenerate inputs
    assert bloom_params(0, 0.01) == (64, 1)
    import pytest

    with pytest.raises(ValueError):
        bloom_params(100, 1.5)


def test_decontaminate_bloom_nondefault_size_vs_oracle(spark):
    # oracle-prove a NON-default bloom_params-derived size: run q155's
    # exact shape at sf0.001 with (m, k) from bloom_params(5e4, 1e-3,
    # uncapped) and hash-compare against the DuckDB oracle — the bitmap
    # geometry must be transparent to the result at any size
    import duckdb

    from etl_procesos_odo_spark.llm.dedup import bloom_params, decontaminate_bloom
    from etl_procesos_odo_spark.registry import registry
    from etl_procesos_odo_spark.session import load_table

    m, k = bloom_params(50_000, 0.001, max_hashes=None)
    assert (m, k) != (1 << 21, 3)
    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    got = sorted(
        tuple(r)
        for r in decontaminate_bloom(
            docs.filter(F.col("doc_id") % 37 != 0),
            docs.filter(F.col("doc_id") % 37 == 0),
            "text",
            "doc_id",
            k=3,
            min_shared=2,
            bench_max_df=10,
            m_bits=m,
            n_hashes=k,
        ).collect()
    )
    oracle_sql = {q.name: q.oracle for q in registry()}[
        "q155_decontaminate_bloom"
    ]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    want = sorted(tuple(r) for r in con.sql(oracle_sql).fetchall())
    assert got == want and len(got) > 0


def test_fractional_df_caps_match_absolute(spark):
    # the corpus-scale ratio form of the df caps must select exactly the
    # absolute cap it derives to: frac*N == k  =>  identical results
    import pytest

    from etl_procesos_odo_spark.llm.dedup import decontaminate_bloom
    from etl_procesos_odo_spark.llm.similarity import tfidf_cosine_pairs

    docs = spark.createDataFrame(
        [
            (i, f"shared boilerplate words everywhere plus unique token{i} "
                f"and pair text {'alpha beta gamma delta' if i % 2 else 'x'}")
            for i in range(10)
        ],
        ["doc_id", "text"],
    )

    def pairs(cap):
        return sorted(
            tuple(r)
            for r in tfidf_cosine_pairs(
                docs, "text", "doc_id", threshold=0.1, max_df=cap
            ).collect()
        )

    assert pairs(0.5) == pairs(5)  # floor(0.5 * 10) == 5
    with pytest.raises(ValueError):
        pairs(1.5)

    bench = docs.filter(F.col("doc_id") < 4)
    train = docs.filter(F.col("doc_id") >= 4)

    def decon(cap):
        return sorted(
            tuple(r)
            for r in decontaminate_bloom(
                train, bench, "text", "doc_id",
                k=3, min_shared=1, bench_max_df=cap,
            ).collect()
        )

    assert decon(0.5) == decon(2)  # floor(0.5 * 4) == 2
    with pytest.raises(ValueError):
        decon(0.0)

    # r7-verdict item 5: decontaminate's combined-df cap accepts the same
    # fractional form (fraction of |train| + |bench|)
    from etl_procesos_odo_spark.llm.dedup import decontaminate

    def decon_exact(cap):
        return sorted(
            tuple(r)
            for r in decontaminate(
                train, bench, "text", "doc_id",
                k=3, min_shared=1, max_df=cap,
            ).collect()
        )

    assert decon_exact(0.4) == decon_exact(4)  # floor(0.4 * 10) == 4
    with pytest.raises(ValueError):
        decon_exact(1.0)


def test_tfidf_candidate_budget_cap(spark):
    """r13 (r12 verdict item 2): the candidate-budget df cap. The
    effective cap must be the largest df threshold C with
    Sum_{df<=C} C(df,2) <= budget — equivalent, by hand-derivation on a
    crafted df histogram, to an explicit max_df — a generous budget
    must be a no-op, the float form must mean budget-per-document, and
    the planted near-dup (df=2 terms, the last thing a shrinking budget
    touches) must survive an engaged cap."""
    import pytest

    from etl_procesos_odo_spark.llm.similarity import tfidf_cosine_pairs

    base = "alpha beta gamma delta epsilon zeta eta theta"
    near = "alpha beta gamma delta epsilon zeta eta zz"
    boiler = "boiler plate shared text common here"
    rows = [(1, base), (2, near)] + [
        (i, f"{boiler} uniq{i}") for i in range(3, 11)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"]).repartition(4)

    # threshold low enough that the weak boilerplate pairs (idf-crushed
    # cos ~0.0085) DO clear it when their df=8 terms survive — so a
    # wrongly-derived cap changes the visible result, not just the
    # internal candidate count
    def pairs(**kw):
        return sorted(
            tuple(r)
            for r in tfidf_cosine_pairs(
                docs, "text", "doc_id", threshold=0.005, max_df=50, **kw
            ).collect()
        )

    # df histogram: df=1 terms contribute 0 pairs, the five df=2 terms
    # (d1-d2 shared grams) contribute 5, the four df=8 boilerplate
    # grams contribute 4*28=112. budget=10 admits the df<=2 tier only
    # -> identical to an explicit max_df=2; the near-dup pair survives,
    # the 28 boilerplate pairs are capped away.
    capped = pairs(candidate_budget=10)
    explicit = sorted(
        tuple(r)
        for r in tfidf_cosine_pairs(
            docs, "text", "doc_id", threshold=0.005, max_df=2
        ).collect()
    )
    assert capped == explicit
    assert [(a, b) for a, b, _ in capped] == [(1, 2)]

    # a budget the whole corpus fits under changes nothing: all 8
    # boilerplate docs pair up again (C(8,2)=28) plus the near-dup
    full = pairs()
    assert len(full) == 29
    assert pairs(candidate_budget=10**9) == full
    # float = budget per document: 1.0 * 10 docs == absolute 10
    assert pairs(candidate_budget=1.0) == capped
    with pytest.raises(ValueError):
        pairs(candidate_budget=0.0)
    with pytest.raises(ValueError):
        pairs(candidate_budget=-2.0)


def test_substring_removal_crafted(spark):
    from etl_procesos_odo_spark.llm.dedup import remove_duplicated_grams

    boiler = "click here to subscribe now"  # 5 tokens, shared verbatim
    rows = [
        (0, f"alpha beta {boiler} gamma delta"),
        (1, f"epsilon zeta {boiler} eta theta iota"),
        (2, "unique words only appear once here today"),
        (3, "tiny doc"),  # shorter than k=5: returned intact
        (4, ""),  # empty: 0 words, '' out
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in remove_duplicated_grams(
            df, "text", "doc_id", k=5, min_count=2
        ).collect()
    }
    assert len(out) == 5
    # the shared 5-gram is removed from BOTH docs (every occurrence,
    # not keep-first), neighbors survive
    assert out[0]["text_clean"] == "alpha beta gamma delta"
    assert out[1]["text_clean"] == "epsilon zeta eta theta iota"
    assert out[0]["n_removed"] == 5 and out[0]["n_spans"] == 1
    assert out[1]["n_removed"] == 5 and out[1]["n_spans"] == 1
    # untouched docs come back verbatim with zero accounting
    assert out[2]["text_clean"] == rows[2][1] and out[2]["n_removed"] == 0
    assert out[3]["text_clean"] == "tiny doc" and out[3]["n_spans"] == 0
    assert out[4]["n_words"] == 0 and out[4]["text_clean"] == ""


def test_substring_removal_within_doc_and_merge(spark):
    from etl_procesos_odo_spark.llm.dedup import remove_duplicated_grams

    # one doc repeating its own 5-gram: within-doc counts toward
    # min_count, and the two occurrences are separate spans
    run = "a b c d e"
    df = spark.createDataFrame(
        [(0, f"{run} x {run} y"), (1, "totally different words here okay")],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in remove_duplicated_grams(
            df, "text", "doc_id", k=5, min_count=2
        ).collect()
    }
    assert out[0]["text_clean"] == "x y"
    assert out[0]["n_removed"] == 10 and out[0]["n_spans"] == 2
    # overlapping duplicated grams merge into ONE span: a doc fully
    # made of a repeated gram chain collapses to nothing
    df2 = spark.createDataFrame(
        [(0, f"{run} f"), (1, f"{run} f"), (2, "b c d e f shared tail")],
        ["doc_id", "text"],
    )
    out2 = {
        r["doc_id"]: r
        for r in remove_duplicated_grams(
            df2, "text", "doc_id", k=5, min_count=2
        ).collect()
    }
    # docs 0/1: grams 'a b c d e' and 'b c d e f' both duplicated,
    # covering all 6 tokens as one merged span
    assert out2[0]["text_clean"] == "" and out2[0]["n_spans"] == 1
    assert out2[1]["n_removed"] == 6
    assert out2[2]["text_clean"] == "shared tail"


def test_redact_pii_crafted(spark):
    from etl_procesos_odo_spark.llm.text_analysis import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@sub.example.org and x@y.io today"),
            (2, "server 192.168.0.1 called +1 555 0123 9876"),
            (3, "no pii here at all"),
            (4, ""),
            # a phone-lookalike digit run inside an email's local part
            # must NOT be counted as a phone: email is redacted first
            (5, "reach 0123456789@example.com please"),
        ],
        "id int, text string",
    )
    red = redact_pii("text")
    rows = {
        r["id"]: r
        for r in df.select(
            "id",
            red["n_email"].alias("n_email"),
            red["n_ip"].alias("n_ip"),
            red["n_phone"].alias("n_phone"),
            red["text_clean"].alias("clean"),
        ).collect()
    }
    assert (rows[1]["n_email"], rows[1]["n_ip"], rows[1]["n_phone"]) == (2, 0, 0)
    assert rows[1]["clean"] == "mail <EMAIL> and <EMAIL> today"
    assert (rows[2]["n_email"], rows[2]["n_ip"], rows[2]["n_phone"]) == (0, 1, 1)
    assert rows[2]["clean"] == "server <IP> called <PHONE>"
    assert rows[3]["clean"] == "no pii here at all"
    assert rows[4]["clean"] == ""
    assert (rows[5]["n_email"], rows[5]["n_phone"]) == (1, 0)
    assert rows[5]["clean"] == "reach <EMAIL> please"


def test_redact_pii_matches_duckdb_spans(spark):
    """The PII regexes must match byte-identical spans in both engines
    (java.util.regex vs RE2) — the q158 oracle contract, probed on
    crafted boundary cases rather than the injected corpus."""
    import duckdb

    from etl_procesos_odo_spark.llm.text_analysis import PII_RULES, redact_pii

    texts = [
        "a@b.co c@d.museum e@f.x",          # TLD length boundary (x: no)
        "1.2.3.4 999.999.999.999 1.2.3",    # not-quite IPs
        "+44 (0) 20-7946 0958 and 12345678",  # punctuation phone, 8-digit run
        "edge a@b.cd5.6.7.8",               # adjacent email/ip bytes
    ]
    red = redact_pii("text")
    got = (
        spark.createDataFrame([(t,) for t in texts], "text string")
        .select(red["text_clean"].alias("c"))
        .collect()
    )
    con = duckdb.connect()
    for t, g in zip(texts, got):
        expr = "?"
        for _, pat, tok in PII_RULES:
            expr = f"regexp_replace({expr}, '{pat}', '{tok}', 'g')"
        want = con.execute(f"SELECT {expr}", [t]).fetchone()[0]
        assert g["c"] == want, (t, g["c"], want)


def test_redact_pii_randomized_span_parity(spark):
    """Seeded fuzz over PII-adjacent fragments: Spark redaction must
    equal DuckDB redaction byte-for-byte on every composite, and
    redaction must be idempotent (replacement tokens contain no
    redactable bytes)."""
    import random

    import duckdb

    from etl_procesos_odo_spark.llm.text_analysis import PII_RULES, redact_pii

    rng = random.Random(158)
    frags = [
        "plain words", "a@b.io", "x.y@z.museum", "@nope", "user@@double",
        "1.2.3.4", "10.0.0.255.", "256.1.1.1", "1.2.3", "...", "@.",
        "+1 555 0100 200", "(01) 234-5678", "12345678", "+12",
        "a-b@c-d.ee", "9.9.9.9@host", "tail@x.yz",
    ]
    texts = [
        " ".join(rng.choice(frags) for _ in range(rng.randint(1, 8)))
        for _ in range(50)
    ]
    red = redact_pii("text")
    got = (
        spark.createDataFrame([(t,) for t in texts], "text string")
        .select(red["text_clean"].alias("c"))
        .collect()
    )
    red2 = redact_pii("c")
    got2 = (
        spark.createDataFrame([(r["c"],) for r in got], "c string")
        .select(red2["text_clean"].alias("c2"))
        .collect()
    )
    con = duckdb.connect()
    expr = "?"
    for _, pat, tok in PII_RULES:
        expr = f"regexp_replace({expr}, '{pat}', '{tok}', 'g')"
    for t, g, g2 in zip(texts, got, got2):
        want = con.execute(f"SELECT {expr}", [t]).fetchone()[0]
        assert g["c"] == want, (t, g["c"], want)
        assert g2["c2"] == g["c"], (t, g["c"], g2["c2"])


def test_hll_accuracy_bounded_state_and_partition_invariance(spark):
    """HLL estimate lands inside the theoretical error envelope
    (sigma = 1.04/sqrt(m)), per-group sketch state never exceeds m
    registers, the tiny-cardinality branch (linear counting) is sharp,
    and the result is BIT-identical under a different partition layout
    (register max is order- and layout-invariant)."""
    import math as _m

    from etl_procesos_odo_spark.llm.sketches import hll_cardinality

    rows = (
        [("big", i) for i in range(5000)]
        + [("mid", i) for i in range(200)]
        + [("tiny", i) for i in range(3)] * 4
    )
    df = spark.createDataFrame(rows, "grp string, k bigint")
    out = {
        r["grp"]: r
        for r in hll_cardinality(
            df, "k", {"grp": "grp"}, p=6
        ).collect()
    }
    m = 64
    sigma = 1.04 / _m.sqrt(m)
    for grp, n in (("big", 5000), ("mid", 200), ("tiny", 3)):
        r = out[grp]
        assert r["n_exact"] == n
        assert r["n_set"] <= m
        assert abs(r["rel_err"]) < 4 * sigma, (grp, r["rel_err"])
    # 3 distinct keys -> linear counting regime, much sharper than sigma
    assert abs(out["tiny"]["rel_err"]) < 0.2
    relaid = {
        r["grp"]: r
        for r in hll_cardinality(
            df.repartition(13, "k"), "k", {"grp": "grp"}, p=6
        ).collect()
    }
    for grp in out:
        assert relaid[grp]["hll_est"] == out[grp]["hll_est"]  # bit-equal
        assert relaid[grp]["raw_est"] == out[grp]["raw_est"]


def test_hll_bitexact_vs_duckdb_and_validation(spark):
    """The shared expression strings produce BIT-identical doubles in
    Spark and DuckDB on a cardinality wide enough to exercise the raw
    (non-linear-counting) branch; p outside [4, 16] raises."""
    import duckdb as _duck
    import pandas as _pd
    import pytest as _pytest

    from etl_procesos_odo_spark.llm.sketches import (
        hll_cardinality,
        hll_oracle_sql,
    )

    pdf = _pd.DataFrame(
        {
            "grp": ["a"] * 4000 + ["b"] * 300,
            "user_id": [i * 7 + 1 for i in range(4000)]
            + [i * 11 + 3 for i in range(300)],
        }
    )
    got = (
        hll_cardinality(
            spark.createDataFrame(pdf), "user_id", {"grp": "grp"}, p=6
        )
        .orderBy("grp")
        .collect()
    )
    con = _duck.connect()
    con.register("t", pdf)
    want = con.execute(
        hll_oracle_sql("t", "user_id", {"grp": "grp"}, p=6)
        + " ORDER BY grp"
    ).fetchall()
    assert len(got) == len(want) == 2
    for g, w in zip(got, want):
        assert g["grp"] == w[0]
        assert g["n_set"] == w[1]
        assert g["raw_est"] == w[2]  # bit-exact doubles
        assert g["hll_est"] == w[3]
        assert g["n_exact"] == w[4]
        assert g["rel_err"] == w[5]

    with _pytest.raises(ValueError, match="p must be"):
        hll_cardinality(spark.createDataFrame(pdf), "user_id", {"grp": "grp"}, p=3)


def test_line_dedup_corpus_semantics(spark):
    """First corpus-wide occurrence (by doc_id, line idx) of a repeated
    line survives; later copies are removed; fully-deduped docs reassemble
    to ''; a short tail line is its own line; counts are exact."""
    from etl_procesos_odo_spark.llm.dedup import line_dedup_corpus

    docs = spark.createDataFrame(
        [
            (0, "a b c d e f"),
            (1, "a b c x y z"),
            (2, "a b c"),
            (3, "p q r s"),
        ],
        "doc_id bigint, text string",
    )
    out = {
        r["doc_id"]: r
        for r in line_dedup_corpus(docs, line_words=3).collect()
    }
    assert out[0]["text_clean"] == "a b c d e f"
    assert (out[0]["n_lines"], out[0]["n_removed"]) == (2, 0)
    assert out[1]["text_clean"] == "x y z"
    assert (out[1]["n_lines"], out[1]["n_removed"]) == (2, 1)
    assert out[2]["text_clean"] == ""
    assert (out[2]["n_lines"], out[2]["n_removed"]) == (1, 1)
    # 4-word doc -> one full line + one 1-word tail line, both unique
    assert out[3]["text_clean"] == "p q r s"
    assert (out[3]["n_lines"], out[3]["n_removed"]) == (2, 0)


def test_streaming_hll_mode_invariance(spark):
    """q161's streaming register maintenance produces BIT-identical
    estimates to the batch sketch (q159 without the audit arm) on the
    same data — max-rho registers are associative/commutative, so
    micro-batch order cannot perturb them (the q155/q156 mode-invariance
    convention)."""
    from etl_procesos_odo_spark.llm.sketches import hll_cardinality
    from etl_procesos_odo_spark.queries_streaming_ml import (
        q161_streaming_hll,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    sf = "/root/testdata/sf0.001"
    streamed = {
        r["day"]: r for r in q161_streaming_hll(spark, sf).collect()
    }
    from etl_procesos_odo_spark.session import load_table

    batch = {
        r["day"]: r
        for r in hll_cardinality(
            load_table(spark, sf, "events"),
            "user_id",
            {"day": "cast(date_trunc('day', ts) as date)"},
            p=6,
            exact_audit=False,
        ).collect()
    }
    assert set(streamed) == set(batch) and len(streamed) > 0
    for day, s in streamed.items():
        b = batch[day]
        assert (s["n_set"], s["raw_est"], s["hll_est"]) == (
            b["n_set"],
            b["raw_est"],
            b["hll_est"],
        )


def test_hll_rollup_equals_direct(spark):
    """Sketch-union associativity: the weekly and all-time estimates
    derived by rolling up STORED daily registers are BIT-identical to
    direct estimates computed from the raw rows — the property that
    makes persisted sketch tables answer coarser rollups without
    rescans (exact distinct counts do not compose; registers do)."""
    from etl_procesos_odo_spark.llm.sketches import hll_cardinality
    from etl_procesos_odo_spark.queries_llm import q164_hll_rollup
    from etl_procesos_odo_spark.session import load_table

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    sf = "/root/testdata/sf0.001"
    rolled = {
        (r["level"], r["key"]): r
        for r in q164_hll_rollup(spark, sf).collect()
    }
    ev = load_table(spark, sf, "events")
    direct_week = {
        str(r["wk"]): r
        for r in hll_cardinality(
            ev,
            "user_id",
            {"wk": "cast(date_trunc('week', ts) as date)"},
            p=6,
            exact_audit=False,
        ).collect()
    }
    weeks = [k for (lvl, k) in rolled if lvl == "week"]
    assert set(weeks) == set(direct_week) and weeks
    for wk in weeks:
        assert (
            rolled[("week", wk)]["hll_est"] == direct_week[wk]["hll_est"]
        )
        assert rolled[("week", wk)]["n_set"] == direct_week[wk]["n_set"]
    direct_all = hll_cardinality(
        ev, "user_id", {"g": "'*'"}, p=6, exact_audit=False
    ).collect()[0]
    assert rolled[("all", "*")]["hll_est"] == direct_all["hll_est"]


def test_conjunctive_search_containment_and_short_docs(spark):
    """ALL-semantics: only docs containing every query term match; a
    query doc shorter than the sampled positions null-guards to fewer
    terms; duplicate sampled terms dedupe before counting (else
    n_matched could never reach n_terms)."""
    from etl_procesos_odo_spark.queries_llm import q166_conjunctive_search
    import os
    import tempfile

    docs = spark.createDataFrame(
        [
            # qid 0 -> terms at positions 1,3,5: alpha, beta, gamma
            (0, "alpha x beta y gamma z"),
            # qid 1 -> two words only: single term 'p' (position 1)
            (1, "p q"),
            (10, "gamma beta alpha filler"),          # all 3 -> match q0
            (11, "alpha beta only"),                  # missing gamma
            (12, "p r s"),                            # contains p -> q1
            # duplicate-position probe: positions 1,3,5 = dup dup dup
            (2, "dup x dup y dup z"),
            (13, "dup elsewhere"),                    # contains dup
        ],
        "doc_id bigint, text string",
    )
    with tempfile.TemporaryDirectory() as td:
        docs.withColumn(
            "lang", F.lit("en")
        ).withColumn("source", F.lit("s")).withColumn(
            "n_chars", F.length("text")
        ).coalesce(1).write.parquet(os.path.join(td, "documents.parquet"))
        got = {
            (r["qid"], r["doc_id"]): r["n_terms"]
            for r in q166_conjunctive_search(spark, td).collect()
        }
    q0_hits = {d for (q, d) in got if q == 0}
    assert q0_hits == {0, 10}  # self + the full-containment doc
    assert got[(0, 0)] == 3
    q1_hits = {d for (q, d) in got if q == 1}
    assert q1_hits == {1, 12}
    assert got[(1, 1)] == 1  # short doc -> 1 null-guarded term
    q2_hits = {d for (q, d) in got if q == 2}
    assert q2_hits == {2, 13} and got[(2, 13)] == 1  # deduped to 1 term


def test_leakage_safe_split_cluster_atomic(spark):
    """Every duplicate cluster lands wholly in one split; the naive
    per-document draw (the contamination channel this operator closes)
    demonstrably WOULD have straddled splits for at least one planted
    dup pair; fractions validation raises on non-cumulative input."""
    import pytest as _pytest

    from etl_procesos_odo_spark.llm.sampling import (
        hash_uniform,
        leakage_safe_split,
    )

    # 60 planted dup pairs (ids i and i+1000 share text) + 80 uniques
    rows = (
        [(i, f"dup text {i}") for i in range(60)]
        + [(i + 1000, f"dup text {i}") for i in range(60)]
        + [(i + 5000, f"unique text {i}") for i in range(80)]
    )
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = leakage_safe_split(docs).collect()
    by_cluster: dict = {}
    for r in out:
        by_cluster.setdefault(r["cluster_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_cluster.values())
    dup_clusters = [
        c for c, _ in by_cluster.items()
        if any(r["cluster_id"] == c and r["n_members"] == 2 for r in out)
    ]
    assert len(dup_clusters) == 60
    # contrast: the naive per-doc draw splits at least one pair
    naive = {
        r["doc_id"]: r["naive"]
        for r in docs.select(
            "doc_id",
            F.when(hash_uniform(F.col("doc_id"), "split1") < 0.8, "train")
            .when(hash_uniform(F.col("doc_id"), "split1") < 0.9, "val")
            .otherwise("test")
            .alias("naive"),
        ).collect()
    }
    straddled = sum(
        1 for i in range(60) if naive[i] != naive[i + 1000]
    )
    assert straddled > 0  # the leak exists without cluster keying

    with _pytest.raises(ValueError, match="fractions"):
        leakage_safe_split(
            docs, fractions=(("a", 0.5), ("b", 0.4), ("c", 1.0))
        )


def test_kmv_min_k_is_exact_bottom_k(spark):
    import random

    from etl_procesos_odo_spark.llm.sketches import kmv_min_k

    rnd = random.Random(7)
    rows = [("g%d" % (i % 3), rnd.randrange(1 << 60)) for i in range(2000)]
    df = spark.createDataFrame(rows, "grp string, h long")
    got = kmv_min_k(df, ["grp"], "h", k=16, stripes=4).collect()
    by_grp = {}
    for g, h in rows:
        by_grp.setdefault(g, set()).add(h)
    for g, hs in by_grp.items():
        want = sorted(hs)[:16]
        rows_g = sorted(
            [(r["rn"], r["h"]) for r in got if r["grp"] == g]
        )
        assert [h for _, h in rows_g] == want
        assert [rn for rn, _ in rows_g] == list(range(1, 17))


def test_kmv_estimate_accuracy_and_exact_regime(spark):
    from etl_procesos_odo_spark.llm.dedup import hash60
    from etl_procesos_odo_spark.llm.sketches import (
        kmv_estimate_expr,
        kmv_min_k,
    )

    # 5000 distinct keys in the estimation regime; 40 in the exact regime
    df = spark.range(5000).selectExpr(
        "'big' as grp", "cast(id as string) as key"
    ).unionByName(
        spark.range(40).selectExpr(
            "'small' as grp", "cast(id as string) as key"
        )
    ).select("grp", hash60(F.col("key")).alias("h"))
    sk = kmv_min_k(df, ["grp"], "h", k=128, stripes=8)
    est = (
        sk.groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n_set"), F.max("h").alias("hk"))
        .selectExpr("grp", kmv_estimate_expr(128) + " as est")
        .collect()
    )
    by = {r["grp"]: r["est"] for r in est}
    # k=128 => stderr ~ 1/sqrt(k-2) ~ 9%; allow 4 sigma
    assert abs(by["big"] - 5000) / 5000 < 0.36
    # short sketch: exact by construction
    assert by["small"] == 40.0


def test_kmv_pair_identity_and_disjoint(spark):
    """Identical sets give jacc_est exactly 1; disjoint sets exactly 0."""
    from etl_procesos_odo_spark.llm.dedup import hash60
    from etl_procesos_odo_spark.llm.sketches import kmv_min_k

    base = spark.range(1000).selectExpr("cast(id as string) as key")
    a = base.selectExpr("'a' as grp", "key")
    b = base.selectExpr("'b' as grp", "key")  # identical to a
    c = spark.range(1000, 2000).selectExpr(
        "'c' as grp", "cast(id as string) as key"
    )
    df = a.unionByName(b).unionByName(c).select(
        "grp", hash60(F.col("key")).alias("h")
    )
    sk = kmv_min_k(df, ["grp"], "h", k=64, stripes=4)
    rows = sk.collect()
    sa = {r["h"] for r in rows if r["grp"] == "a"}
    sb = {r["h"] for r in rows if r["grp"] == "b"}
    sc = {r["h"] for r in rows if r["grp"] == "c"}
    # identical inputs -> identical sketches; union sketch == either,
    # and every union-sketch member is in both => jacc_est = 64/64 = 1
    assert sa == sb
    union_ab = sorted(sa | sb)[:64]
    assert sum(1 for h in union_ab if h in sa and h in sb) == 64
    # disjoint inputs -> no union-sketch member is in both
    union_ac = sorted(sa | sc)[:64]
    assert sum(1 for h in union_ac if h in sa and h in sc) == 0


def _py_priorities(keys_weights, salt):
    import hashlib

    out = []
    for key, w in keys_weights:
        h = int(
            hashlib.md5((salt + str(key)).encode()).hexdigest()[:15], 16
        )
        u = float(h + 1) / 1.152921504606846976e18
        out.append((key, w, float(w) / u))
    return out


def test_priority_sample_matches_bruteforce(spark):
    import random

    from etl_procesos_odo_spark.llm.sampling import priority_sample

    rnd = random.Random(11)
    rows = [
        ("g%d" % (i % 2), i, rnd.randrange(1, 1000)) for i in range(300)
    ]
    df = spark.createDataFrame(rows, "grp string, key long, w long")
    k = 20
    got = priority_sample(df, ["grp"], "key", "w", k=k, salt="t1").collect()
    for g in ("g0", "g1"):
        pri = _py_priorities(
            [(key, w) for grp, key, w in rows if grp == g], "t1"
        )
        pri.sort(key=lambda t: (-t[2], t[0]))
        want_keys = {key for key, _, _ in pri[:k]}
        tau = pri[k][2]
        rows_g = [r for r in got if r["grp"] == g]
        assert {r["key"] for r in rows_g} == want_keys
        assert all(r["tau"] == tau for r in rows_g)
        # adjusted weight: max(w, tau); estimator: exact ints + n*tau
        heavy = sum(w for key, w, q in pri[:k] if float(w) >= tau)
        n_light = sum(1 for key, w, q in pri[:k] if float(w) < tau)
        want_est = float(heavy) + float(n_light) * tau
        assert all(r["est_total"] == want_est for r in rows_g)
        assert all(
            r["w_adj"] == max(float(r["w"]), tau) for r in rows_g
        )


def test_priority_sample_small_group_exact(spark):
    from etl_procesos_odo_spark.llm.sampling import priority_sample

    rows = [("a", i, 10 * (i + 1)) for i in range(5)]
    df = spark.createDataFrame(rows, "grp string, key long, w long")
    got = priority_sample(df, ["grp"], "key", "w", k=8).collect()
    assert len(got) == 5
    assert all(r["tau"] == 0.0 for r in got)
    assert all(r["w_adj"] == float(r["w"]) for r in got)
    assert all(r["est_total"] == float(sum(w for *_, w in rows)) for r in got)
    assert all(r["exact_total"] == sum(w for *_, w in rows) for r in got)


def test_priority_sample_estimator_unbiased_across_salts():
    """Pure-python check of the DLT estimator property on the exact
    arithmetic the operator uses: averaged over independent hash draws
    (salts), the subset-sum estimate converges to the true total."""
    import random

    rnd = random.Random(3)
    kw = [(i, rnd.randrange(1, 500)) for i in range(400)]
    true_total = sum(w for _, w in kw)
    k = 40
    ests = []
    for s in range(300):
        pri = _py_priorities(kw, "u%d" % s)
        pri.sort(key=lambda t: (-t[2], t[0]))
        tau = pri[k][2]
        est = sum(max(float(w), tau) for _, w, _ in pri[:k])
        ests.append(est)
    mean = sum(ests) / len(ests)
    assert abs(mean - true_total) / true_total < 0.03


def test_interleave_order_prefix_mix_bound(spark):
    """Stride interleave: every prefix of length L holds between
    floor(L*n_s/N) - 1 and ceil(L*n_s/N) + 1 docs of each stratum."""
    import math

    from etl_procesos_odo_spark.llm.packing import interleave_order

    rows = (
        [("a", i) for i in range(60)]
        + [("b", i + 1000) for i in range(30)]
        + [("c", i + 5000) for i in range(10)]
    )
    df = spark.createDataFrame(rows, "src string, id long")
    got = interleave_order(df, "src", "id").collect()
    n = {"a": 60, "b": 30, "c": 10}
    total = 100
    assert sorted(r["seq"] for r in got) == list(range(1, total + 1))
    order = [r["stratum"] for r in sorted(got, key=lambda r: r["seq"])]
    seen = {"a": 0, "b": 0, "c": 0}
    for pos, s in enumerate(order, start=1):
        seen[s] += 1
        for t in n:
            lo = math.floor(pos * n[t] / total) - 1
            hi = math.ceil(pos * n[t] / total) + 1
            assert lo <= seen[t] <= hi, (pos, t, seen[t], lo, hi)


def test_interleave_order_matches_single_window(spark):
    """The two-phase striped ranks equal the plain-window formulation."""
    from pyspark.sql import Window

    from etl_procesos_odo_spark.llm.dedup import hash60
    from etl_procesos_odo_spark.llm.packing import interleave_order

    rows = [("s%d" % (i % 4), i) for i in range(200)]
    df = spark.createDataFrame(rows, "src string, id long")
    got = {
        (r["stratum"], r["id"]): (r["r_src"], r["seq"])
        for r in interleave_order(df, "src", "id").collect()
    }
    h = hash60(F.concat(F.lit("il1"), F.col("id").cast("string")))
    base = df.withColumn("_h", h)
    w = Window.partitionBy("src").orderBy("_h", "id")
    ref = (
        base.withColumn("r", F.row_number().over(w))
        .withColumn("n", F.count("*").over(Window.partitionBy("src")))
        .withColumn(
            "pos",
            F.expr("(cast(r as double) - 0.5e0) / cast(n as double)"),
        )
        .withColumn(
            "seq",
            F.row_number().over(
                Window.orderBy("pos", "src", "id")
            ),
        )
        .collect()
    )
    assert got == {
        (r["src"], r["id"]): (r["r"], r["seq"]) for r in ref
    }


def test_cms_never_underestimates_and_merges(spark):
    import random
    from collections import Counter

    from etl_procesos_odo_spark.llm.sketches import (
        cms_point_estimates,
        cms_sketch,
    )

    rnd = random.Random(5)
    # zipf-ish stream over a key space larger than w to force collisions
    keys = [rnd.randrange(200) ** 2 % 97 for _ in range(3000)]
    truth = Counter(keys)
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    sk = cms_sketch(df, "k", d=4, w=32, salt="t")
    panel = spark.createDataFrame(
        [(k,) for k in sorted(truth)], "k long"
    )
    est = {
        r["k"]: r["est"]
        for r in cms_point_estimates(sk, panel, "k", 4, 32, "t").collect()
    }
    assert all(est[k] >= c for k, c in truth.items())
    # absent key: still >= 0 and bounded by the grid row minima
    # mergeability: sketch(A ++ B) == cellwise sum of sketch(A), sketch(B)
    a, b = keys[:1500], keys[1500:]
    ska = cms_sketch(
        spark.createDataFrame([(k,) for k in a], "k long"), "k", 4, 32, "t"
    )
    skb = cms_sketch(
        spark.createDataFrame([(k,) for k in b], "k long"), "k", 4, 32, "t"
    )
    merged = {
        (r["j"], r["cell"]): r["cnt"]
        for r in ska.unionByName(skb)
        .groupBy("j", "cell")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    }
    full = {(r["j"], r["cell"]): r["cnt"] for r in sk.collect()}
    assert merged == full


def test_cms_inner_product_bounds_join_size(spark):
    import random
    from collections import Counter

    from etl_procesos_odo_spark.llm.sketches import cms_sketch

    rnd = random.Random(9)
    a = [rnd.randrange(60) for _ in range(1000)]
    b = [rnd.randrange(60) for _ in range(800)]
    ca, cb = Counter(a), Counter(b)
    true_join = sum(ca[k] * cb[k] for k in ca if k in cb)
    ska = cms_sketch(
        spark.createDataFrame([(k,) for k in a], "k long"), "k", 4, 64, "t"
    )
    skb = cms_sketch(
        spark.createDataFrame([(k,) for k in b], "k long"), "k", 4, 64, "t"
    )
    ip = (
        ska.join(skb.withColumnRenamed("cnt", "c2"), ["j", "cell"])
        .groupBy("j")
        .agg(F.sum(F.col("cnt") * F.col("c2")).alias("s"))
        .agg(F.min("s").alias("est"))
        .collect()[0]["est"]
    )
    assert ip >= true_join  # never an underestimate
    assert ip <= true_join * 3  # and a useful bound at this w


def test_interleave_order_partition_invariant(spark):
    """The striped two-phase ranks must be identical under any input
    partitioning (the bit-identity claim in the q170 docstring)."""
    from etl_procesos_odo_spark.llm.packing import interleave_order

    rows = [("s%d" % (i % 3), i) for i in range(150)]
    df = spark.createDataFrame(rows, "src string, id long")
    base = {
        (r["stratum"], r["id"]): (r["r_src"], r["pos_key"], r["seq"])
        for r in interleave_order(df, "src", "id").collect()
    }
    for parts in (1, 7):
        got = {
            (r["stratum"], r["id"]): (r["r_src"], r["pos_key"], r["seq"])
            for r in interleave_order(
                df.repartition(parts), "src", "id"
            ).collect()
        }
        assert got == base


def test_ppjoin_exact_recall_vs_bruteforce(spark):
    """Prefix filtering must lose NO pair at the threshold — compare
    against brute-force all-pairs Jaccard on crafted docs, including
    near-dups whose shared grams are corpus-hot (the prefix filter
    must still catch them) and sub-threshold decoys."""
    from itertools import combinations

    from etl_procesos_odo_spark.llm.dedup import ppjoin_pairs

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, base + " lambda"),  # near dup (J = 8/9 of gram sets)
        (3, "one two three four five six seven eight nine ten"),
        (4, "one two three four five six seven eight nine eleven"),
        (5, "totally different words here make no overlap at all now"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["shared"]
        for r in ppjoin_pairs(df, "text", "doc_id", 4, 5).collect()
    }

    def grams(t):
        ws = t.split()
        return {" ".join(ws[i:i + 3]) for i in range(len(ws) - 2)}

    want = {}
    for (ia, ta), (ib, tb) in combinations(docs, 2):
        ga, gb = grams(ta), grams(tb)
        sh = len(ga & gb)
        if 5 * sh >= 4 * len(ga | gb):
            want[(ia, ib)] = sh
    assert want  # the crafted data must exercise the >= t branch
    assert got == want


def _cdc_ref(toks, window=4, divisor=16, mod=32768):
    """Independent Python replication of cdc_chunks (hashlib arbiter)."""
    import hashlib

    hs = [
        int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % mod
        for t in toks
    ]
    bpos = [
        j
        for j in range(window, len(toks) + 1)
        if (
            ((hs[j - 4] * mod + hs[j - 3]) * mod + hs[j - 2]) * mod
            + hs[j - 1]
        )
        % divisor
        == 0
    ]
    starts = [1] + [p + 1 for p in bpos]
    ends = bpos + [len(toks)]
    return [
        " ".join(toks[s - 1 : e])
        for s, e in zip(starts, ends)
        if s <= e
    ]


def test_cdc_chunks_match_hashlib_reference(spark):
    from etl_procesos_odo_spark.llm.packing import cdc_chunks

    import random

    rng = random.Random(7)
    vocab = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 120))))
        for i in range(25)
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = cdc_chunks(df, "text", "doc_id").collect()
    got: dict[int, list[str]] = {}
    for r in sorted(out, key=lambda r: (r["doc_id"], r["chunk_id"])):
        got.setdefault(r["doc_id"], []).append(r["chunk_text"])
        assert r["n_chunk_tokens"] == len(r["chunk_text"].split())
    for i, text in docs:
        assert got[i] == _cdc_ref(text.split()), i


def test_cdc_chunks_reassemble_and_edit_stability(spark):
    """The property the discipline exists for: (1) chunks reassemble the
    document exactly; (2) inserting ONE token at the front re-cuts only
    the chunks near the edit — every boundary past the edit window
    survives, so all later chunk texts are shared verbatim, whereas
    fixed-stride chunking shifts every subsequent chunk."""
    import random

    from etl_procesos_odo_spark.llm.packing import cdc_chunks

    rng = random.Random(11)
    vocab = ["lorem", "ipsum", "dolor", "sit", "amet", "sed", "quia"]
    toks = [rng.choice(vocab) for _ in range(300)]
    edited = ["INSERTED"] + toks
    df = spark.createDataFrame(
        [(0, " ".join(toks)), (1, " ".join(edited))], ["doc_id", "text"]
    )
    rows = cdc_chunks(df, "text", "doc_id").collect()
    chunks = {0: [], 1: []}
    for r in sorted(rows, key=lambda r: (r["doc_id"], r["chunk_id"])):
        chunks[r["doc_id"]].append(r["chunk_text"])
    # (1) reassembly
    assert " ".join(chunks[0]) == " ".join(toks)
    assert " ".join(chunks[1]) == " ".join(edited)
    # (2) edit stability: everything after the first shared boundary is
    # identical — compare the chunk lists from the tail
    tail0, tail1 = chunks[0][1:], chunks[1][1:]
    shared = 0
    while (
        shared < min(len(tail0), len(tail1))
        and tail0[-1 - shared] == tail1[-1 - shared]
    ):
        shared += 1
    # with ~19 expected chunks, all but the first O(1) must survive
    assert shared >= len(chunks[0]) - 2, (len(chunks[0]), shared)
    # contrast: fixed-stride chunking shares NO tail chunk after a
    # front insertion (every window shifts by one token)
    from etl_procesos_odo_spark.llm.packing import chunk_documents

    frows = chunk_documents(df, "text", "doc_id", 16, 0).collect()
    fixed = {0: [], 1: []}
    for r in sorted(frows, key=lambda r: (r["doc_id"], r["chunk_idx"])):
        fixed[r["doc_id"]].append(r["chunk_text"])
    assert fixed[0][-1] != fixed[1][-1]


def test_cdc_boundary_shift_property():
    """Hypothesis property for the CDC edit-stability THEOREM: inserting
    one token at 0-based index p leaves every boundary j <= p in place
    and shifts every boundary j >= p+4 (whose 4-token window lies
    entirely after the insertion) by exactly +1 — nothing else survives
    outside the 3-position affected zone. Runs on the pure-Python
    reference that test_cdc_chunks_match_hashlib_reference proves
    equal to the Spark operator, so the property transfers."""
    import hashlib

    from hypothesis import given, settings
    from hypothesis import strategies as st

    def boundaries(toks, window=4, divisor=16, mod=32768):
        hs = [
            int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % mod
            for t in toks
        ]
        return {
            j
            for j in range(window, len(toks) + 1)
            if (((hs[j - 4] * mod + hs[j - 3]) * mod + hs[j - 2]) * mod
                + hs[j - 1]) % divisor == 0
        }

    vocab = ["a", "b", "c", "d", "e", "f", "g", "h"]

    @settings(max_examples=80, deadline=None)
    @given(
        toks=st.lists(st.sampled_from(vocab), min_size=8, max_size=120),
        data=st.data(),
    )
    def prop(toks, data):
        p = data.draw(st.integers(min_value=0, max_value=len(toks)))
        x = data.draw(st.sampled_from(vocab))
        edited = toks[:p] + [x] + toks[p:]
        ba, bb = boundaries(toks), boundaries(edited)
        assert {j for j in ba if j <= p} == {j for j in bb if j <= p}
        assert {j + 1 for j in ba if j >= p + 4} == {
            j for j in bb if j >= p + 5
        }

    prop()


def test_scd2_matches_python_reference(spark):
    """Randomized (seeded) SCD2 arbiter: 300 observations over 12 keys
    with timestamp ties and NULL values, compared row-for-row against an
    independent itertools-based Python replication."""
    import datetime as dt
    import random
    from itertools import groupby

    from etl_procesos_odo_spark.operators.windows import scd2_build

    rng = random.Random(13)
    vals = ["A", "B", "C", None]
    rows = []
    for eid in range(300):
        rows.append((
            rng.randrange(12),
            dt.datetime(2024, 1, 1) + dt.timedelta(seconds=rng.randrange(40)),
            rng.choice(vals),
            eid,
        ))
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string, event_id long"
    )
    by_kv = lambda t: (t[0], t[4])  # (key, version) — unique, None-free
    got = sorted(
        (
            (r["user_id"], r["event_type"], r["valid_from_us"],
             r["valid_to_us"], r["version"], r["is_current"])
            for r in scd2_build(
                df, "user_id", "ts", "event_type", "event_id"
            ).collect()
        ),
        key=by_kv,
    )
    # reference: sort by (key, ts, eid), collapse consecutive equal
    # values (None == None collapses), LEAD/version/is_current
    exp = []
    key_fn = lambda r: r[0]
    for k, grp in groupby(sorted(rows, key=lambda r: (r[0], r[1], r[3])),
                          key=key_fn):
        g = list(grp)
        episodes = [g[0]]
        for r in g[1:]:
            if r[2] != episodes[-1][2] or (
                (r[2] is None) != (episodes[-1][2] is None)
            ):
                episodes.append(r)
        us = lambda t: int(t.replace(tzinfo=dt.timezone.utc).timestamp()
                           * 1_000_000)
        for i, r in enumerate(episodes):
            nxt = episodes[i + 1][1] if i + 1 < len(episodes) else None
            exp.append((k, r[2], us(r[1]),
                        us(nxt) if nxt else None, i + 1, nxt is None))
    assert got == sorted(exp, key=by_kv)


def test_scd2_oracle_sql_null_safe(spark):
    """ADVICE r8: the q202 oracle's collapse must be null-safe (IS
    DISTINCT FROM + lagged-constant first-row marker), matching
    scd2_build's eqNullSafe semantics — pinned here by running the
    REGISTERED oracle SQL in DuckDB on a NULL-bearing change log and
    comparing row-for-row against the operator."""
    import datetime as dt

    import duckdb

    from etl_procesos_odo_spark.operators.windows import scd2_build
    from etl_procesos_odo_spark.registry import registry

    T = lambda s: dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)
    rows = [
        (1, T(0), "A", 10),
        (1, T(10), None, 11),   # A -> NULL is a real episode change
        (1, T(20), None, 12),   # NULL -> NULL collapses
        (1, T(30), "A", 13),
        (2, T(0), None, 20),    # NULL first observation must survive
        (2, T(5), "B", 21),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string, event_id long"
    )
    got = sorted(
        (
            (r["user_id"], r["event_type"], r["valid_from_us"],
             r["valid_to_us"], r["version"], r["is_current"])
            for r in scd2_build(
                df, "user_id", "ts", "event_type", "event_id"
            ).collect()
        ),
        key=lambda t: (t[0], t[4]),
    )
    oracle = {q.name: q.oracle for q in registry()}["q202_scd2_build"]
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(
        "CREATE TABLE events (user_id BIGINT, ts TIMESTAMP, "
        "event_type VARCHAR, event_id BIGINT)"
    )
    con.executemany("INSERT INTO events VALUES (?, ?, ?, ?)", rows)
    exp = sorted(
        ((r[0], r[1], r[2], r[3], r[4], bool(r[5]))
         for r in con.sql(oracle).fetchall()),
        key=lambda t: (t[0], t[4]),
    )
    assert got == exp
    # both engines agree on the NULL-episode structure, not just shape
    assert [(u, v) for u, v, *_ in got] == [
        (1, "A"), (1, None), (1, "A"), (2, None), (2, "B")
    ]


def test_fractional_max_df_denominator_includes_shingleless_docs(spark):
    """r9 review: decontaminate's fractional cap denominator is the
    documented |train| + |bench| — including docs too short to yield a
    single k-shingle — keeping one fractional setting cap-equivalent
    with decontaminate_bloom/tfidf_cosine_pairs."""
    rows = [(i, "common shared shingle words here") for i in range(3)]
    rows += [(10 + i, f"unrelated solitary text body token{i}") for i in range(3)]
    rows += [(100 + i, "shorty") for i in range(4)]  # < k tokens: no shingle
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    train = docs.filter(F.col("doc_id") < 100)
    bench = docs.filter(F.col("doc_id") >= 100).union(
        spark.createDataFrame([(200, "common shared shingle words here")],
                              ["doc_id", "text"])
    )

    def decon(cap):
        return sorted(
            tuple(r)
            for r in decontaminate(
                train, bench, "text", "doc_id", k=3, min_shared=1,
                max_df=cap,
            ).collect()
        )

    # shared shingles have combined df = 4 (3 train + 1 bench docs).
    # |train| + |bench| = 6 + 5 = 11 -> floor(0.5 * 11) = 5: kept, pairs
    # found. Were the denominator only the 7 shingle-bearing docs, the
    # cap would be floor(0.5 * 7) = 3 and every shared shingle would be
    # filtered as boilerplate -> empty result.
    assert decon(0.5) == decon(5) and decon(5)
    assert decon(3) == []
    assert decon(0.5) != decon(3)


def test_materialize_branches_identical_results(spark, monkeypatch):
    """session.materialize picks its form from the master: an in-process
    master gets a localCheckpoint, any other master a reliable checkpoint
    written to the checkpoint directory, which survives executor loss.
    budget_waterfill (two materialised frames) must return identical
    rows under both, and only the cluster form writes checkpoint files."""
    import os

    from etl_procesos_odo_spark import session
    from etl_procesos_odo_spark.llm.sampling import budget_waterfill
    from etl_procesos_odo_spark.session import materialize

    stats = spark.createDataFrame(
        [("s1", 100, 1), ("s2", 50, 2), ("s3", 10, 5), ("s4", 1000, 1)],
        ["source", "cap", "weight"],
    )

    def run():
        return sorted(
            tuple(r)
            for r in budget_waterfill(
                stats, "source", "cap", "weight", 1, 2
            ).collect()
        )

    def checkpoint_files():
        d = spark.sparkContext.getCheckpointDir()
        if d is None:
            return set()
        root = d.removeprefix("file:")
        return {os.path.join(p, f) for p, _, fs in os.walk(root) for f in fs}

    assert session._in_process_master(spark)  # the test session is local[N]
    local_rows = run()
    before = checkpoint_files()
    local = materialize(stats.select("source"), eager=True)
    assert checkpoint_files() == before
    assert "LogicalRDD" in local._jdf.queryExecution().analyzed().toString()

    monkeypatch.setattr(session, "_in_process_master", lambda _spark: False)
    cluster_rows = run()
    before = checkpoint_files()
    reliable = materialize(stats.select("source"))  # eager in this branch
    assert checkpoint_files() - before
    assert "LogicalRDD" in reliable._jdf.queryExecution().analyzed().toString()

    assert local_rows == cluster_rows and local_rows


def test_cc_bigstar_cluster_branch_plan_stays_flat(spark, monkeypatch):
    """Under a non-local master each cc_bigstar round is a reliable
    checkpoint, so the returned plan does not grow with the round count
    (each round reads the previous edge set ~12 times; a lineage-keeping
    form would grow the plan geometrically over max_iter)."""
    from etl_procesos_odo_spark import session

    monkeypatch.setattr(session, "_in_process_master", lambda _spark: False)
    edges = [(i + 1, i) if i % 3 else (i, i + 1) for i in range(39)]
    df = spark.createDataFrame(edges, "u long, v long")

    def plan_lines(out):
        plan = out._jdf.queryExecution().analyzed().toString()
        return len(plan.splitlines())

    out = cc_bigstar(df, max_iter=8)
    assert {r["cluster_id"] for r in out.collect()} == {0}
    assert plan_lines(out) == plan_lines(cc_bigstar(df, max_iter=1))
