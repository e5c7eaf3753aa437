"""Training-data-pipeline operators: dedup family, similarity search,
text analysis."""

import math

import pytest
from pyspark.sql import functions as F

from osm_addr_bot_spark.datapipe import dedup as dd
from osm_addr_bot_spark.datapipe import similarity as sim
from osm_addr_bot_spark.datapipe import text as tx


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),     # exact dup of 1
        (3, "the quick brown fox leaps over the lazy dog"),     # near dup
        (4, "completely different content about spark engines"),
        (5, "the  QUICK  brown fox jumps over the lazy dog "),  # normalizes to 1
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(spark, docs):
    out = {r["doc_id"]: r for r in dd.exact_duplicates(docs).collect()}
    assert out[2]["canonical_doc_id"] == 1 and out[2]["is_duplicate"]
    assert out[5]["canonical_doc_id"] == 1 and out[5]["is_duplicate"]  # normalization
    assert not out[1]["is_duplicate"]
    assert not out[4]["is_duplicate"]


def test_word_shingles(spark):
    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    row = df.select(dd.word_shingles(F.col("text")).alias("s")).first()
    assert row["s"] == ["a b c", "b c d"]
    short = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    assert short.select(dd.word_shingles(F.col("text")).alias("s")).first()["s"] == ["a b"]


def test_minhash_lsh_finds_near_dups(spark, docs):
    sigs = dd.minhash_signatures(docs, num_hashes=16)
    rows = {r["doc_id"]: r["sig"] for r in sigs.collect()}
    assert rows[1] == rows[2]  # identical docs -> identical signatures
    shared_13 = sum(1 for a, b in zip(rows[1], rows[3]) if a == b)
    shared_14 = sum(1 for a, b in zip(rows[1], rows[4]) if a == b)
    assert shared_13 > shared_14  # near dup shares more minhashes

    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dd.lsh_candidate_pairs(sigs, bands=4, rows_per_band=4).collect()
    }
    assert (1, 2) in pairs and (1, 5) in pairs
    assert (1, 4) not in pairs and (2, 4) not in pairs


def test_ngram_jaccard(spark, docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dd.ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert 0.3 <= pairs[(1, 3)] < 1.0
    assert (1, 4) not in pairs


def test_simhash_near_pairs(spark, docs):
    fps = dd.simhash(docs, bits=32)
    vals = {r["doc_id"]: r["simhash"] for r in fps.collect()}
    assert vals[1] == vals[2] == vals[5]
    ham13 = bin(vals[1] ^ vals[3]).count("1")
    ham14 = bin(vals[1] ^ vals[4]).count("1")
    assert ham13 < ham14
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dd.simhash_near_pairs(fps, max_hamming=8, bits=32, bands=4).collect()
    }
    assert pairs[(1, 2)] == 0


def test_simhash_64bit_default(spark, docs):
    """64-bit default (r3): low word is the old 32-bit fingerprint
    exactly (bits 0-59 read the same md5 word), near-pairs honor the
    sign bit, and the derived banding keeps >= 8-bit bands."""
    fp64 = {r["doc_id"]: r["simhash"] for r in dd.simhash(docs).collect()}
    fp32 = {r["doc_id"]: r["simhash"] for r in dd.simhash(docs, bits=32).collect()}
    for d in fp32:
        assert fp64[d] & 0xFFFFFFFF == fp32[d]
    assert fp64[1] == fp64[2] == fp64[5]
    # default complete contract at 64 bits: max_hamming=6 -> bands
    # derived 7 -> rounded to 8 (divisor of 64) -> 8-bit band values
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dd.simhash_near_pairs(
            spark.createDataFrame(
                [(k, v) for k, v in fp64.items()], "doc_id long, simhash long"
            )
        ).collect()
    }
    assert pairs[(1, 2)] == 0 and pairs[(1, 5)] == 0
    assert (1, 4) not in pairs
    with pytest.raises(ValueError, match="bits"):
        dd.simhash(docs, bits=121)


def test_brute_force_and_lsh_topk(spark):
    import numpy as np

    rng = np.random.default_rng(5)
    vecs = rng.normal(size=(200, 16)).astype(float)
    q = list(vecs[7])  # query equals row 7 -> top1 must be vec 7
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    top = sim.brute_force_topk(df, q, k=5).collect()
    assert top[0]["vec_id"] == 7 and abs(top[0]["cosine"] - 1.0) < 1e-9

    # LSH: query's own vector shares its bucket by construction
    lsh = sim.lsh_topk(df, q, k=5, num_planes=4).collect()
    assert lsh and lsh[0]["vec_id"] == 7
    # LSH results are a subset of the full ranking's ids scored identically
    full = {r["vec_id"]: r["cosine"] for r in sim.brute_force_topk(df, q, k=200).collect()}
    for r in lsh:
        assert r["cosine"] == pytest.approx(full[r["vec_id"]], abs=1e-9)


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog is in a house"),
            (2, "der hund und die katze ist ein tier"),
            (3, "xyz qqq zzz"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["lang_pred"] for r in tx.lang_id(df).collect()}
    assert out == {1: "en", 2: "de", 3: "und"}


def test_quality_and_tokens(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today " * 3)],
        "doc_id long, text string",
    )
    q = tx.quality_features(df).first()
    assert q["n_tokens"] == 30
    assert q["quality"] >= 70  # long, clean, stopworded text scores high
    t = tx.token_counts(df).first()
    assert t["ws_tokens"] == 30
    assert t["bpe_ish_tokens"] >= 30


def test_fingerprints_stable(spark):
    df = spark.createDataFrame(
        [(1, "Some Text  Here"), (2, "some text here")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r["fingerprint"] for r in tx.fingerprints(df).collect()}
    assert out[1] == out[2]  # normalization collapses case/space


def test_ngram_jaccard_max_df_conservative(spark, docs):
    """The df cap only removes pairs (under-estimates), never adds."""
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dd.ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dd.ngram_jaccard_pairs(docs, threshold=0.3, max_df=2).collect()
    }
    assert set(capped) <= set(exact)
    for k, v in capped.items():
        assert v <= exact[k] + 1e-9


def test_ngram_jaccard_zipfian_stop_shingle_cap(spark):
    """Zipfian corpus: every doc opens with the same boilerplate phrase
    (a stop-shingle with df = n_docs). The default df cap must (a) keep
    the true near-dup pair, whose overlap includes rare shingles, and
    (b) only ever UNDER-estimate: capped pairs/values are a subset of /
    <= the exact ones."""
    boiler = "all rights reserved copyright notice legal"
    rows = [
        (i, f"{boiler} unique tail number {i} alpha beta gamma delta {i}")
        for i in range(1, 11)
    ]
    # true near dups: share the unique tail, differ by one word
    rows.append((20, f"{boiler} shared tail content epsilon zeta eta theta iota"))
    rows.append((21, f"{boiler} shared tail content epsilon zeta eta theta kappa"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dd.ngram_jaccard_pairs(df, threshold=0.2, max_df=None).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dd.ngram_jaccard_pairs(df, threshold=0.2, max_df=3).collect()
    }
    assert (20, 21) in exact and (20, 21) in capped  # rare overlap survives
    assert set(capped) <= set(exact)                 # no false positives
    for k, v in capped.items():
        assert v <= exact[k] + 1e-9                  # under-estimate only


def test_embedding_near_dups_lsh_blocked(spark):
    """(label, LSH-bucket) blocking: same-direction vectors share every
    hyperplane sign (one bucket) and pair up; the opposite-direction
    vector in the SAME label flips every sign into another bucket, so it
    never pairs — proving the block key is finer than label alone."""
    df = spark.createDataFrame(
        [
            (1, 0, [1.0, 0.2]), (2, 0, [1.0, 0.21]),   # near dups, same bucket
            (3, 0, [-1.0, -0.2]),                      # same label, opposite bucket
            (4, 1, [1.0, 0.2]),                        # other label
        ],
        "vec_id long, label int, embedding array<double>",
    )
    pairs = {(r["vec_a"], r["vec_b"]) for r in sim.embedding_near_dups(df, k=3).collect()}
    assert (1, 2) in pairs
    assert all(3 not in p and 4 not in p for p in pairs)
    # the physical join keys include the bucket (no within-label cross join)
    plan = sim.embedding_near_dups(df, k=3)._jdf.queryExecution().optimizedPlan().toString()
    assert "bucket" in plan


def test_simhash_width_metadata_guard(spark, docs):
    """ADVICE r3: 32-bit fingerprints banded as if 64-bit zero out the
    high bands and the candidate join degenerates toward all-pairs.
    simhash() stamps its width into the column metadata; near_pairs
    adopts it by default and refuses a contradicting explicit width."""
    fp32 = dd.simhash(docs, bits=32)
    # default bits adopts the metadata width - no degenerate banding
    pairs = dd.simhash_near_pairs(fp32, max_hamming=8, bands=4)
    assert (1, 2) in {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    with pytest.raises(ValueError, match="bits=32"):
        dd.simhash_near_pairs(fp32, max_hamming=8, bits=64)


# ------------------------------------------------------- dedup clustering
def test_connected_components_chains_and_groups(spark):
    # two components: a 4-node PATH (diameter 3 — forces multi-sweep
    # propagation, not just one-hop min) and a disjoint 2-clique;
    # doc 99 appears in no pair and must be absent from the output
    pairs = spark.createDataFrame(
        [(10, 20), (20, 30), (30, 40), (7, 8)], "doc_a long, doc_b long"
    )
    out = {r["doc_id"]: r for r in dd.connected_components(pairs).collect()}
    assert set(out) == {10, 20, 30, 40, 7, 8}
    assert all(out[d]["component"] == 10 for d in (10, 20, 30, 40))
    assert all(out[d]["component"] == 7 for d in (7, 8))
    assert {d for d, r in out.items() if r["is_rep"]} == {10, 7}


def test_connected_components_merges_through_shared_doc(spark):
    # pairs arriving in "wrong" min order: (5,6) and (2,6) share 6, so
    # all three collapse to component 2 even though 2 never pairs with 5
    pairs = spark.createDataFrame([(5, 6), (2, 6)], "doc_a long, doc_b long")
    rows = dd.connected_components(pairs).collect()
    assert {r["doc_id"]: r["component"] for r in rows} == {2: 2, 5: 2, 6: 2}


def test_connected_components_empty_and_maxiter(spark):
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    assert dd.connected_components(empty).count() == 0
    # a 5-node path has diameter 4: propagation cannot finish in 2 sweeps
    path = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dd.connected_components(path, max_iter=2)


# ------------------------------------------------------------- sampling
def test_sample_fraction_deterministic_and_salted(spark):
    from osm_addr_bot_spark.datapipe import sampling as smp

    docs = spark.range(0, 400).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"] for r in smp.sample_fraction(docs, 0.25).collect()}
    b = {r["doc_id"] for r in smp.sample_fraction(docs, 0.25).collect()}
    assert a == b                       # same salt -> identical sample
    # a larger fraction with the same salt STRICTLY CONTAINS the smaller
    # one (nested samples — the property backfills rely on)
    big = {r["doc_id"] for r in smp.sample_fraction(docs, 0.5).collect()}
    assert a < big
    other = {r["doc_id"] for r in smp.sample_fraction(docs, 0.25, salt="s2").collect()}
    assert a != other                   # new salt -> independent draw
    assert 0.15 < len(a) / 400 < 0.35   # near the nominal rate
    with pytest.raises(ValueError, match="fraction"):
        smp.sample_fraction(docs, 1.5)


def test_split_assign_partitions_every_row_once(spark):
    from osm_addr_bot_spark.datapipe import sampling as smp

    docs = spark.range(0, 300).withColumnRenamed("id", "doc_id")
    out = smp.split_assign(docs, {"train": 0.8, "val": 0.1, "test": 0.1}).collect()
    assert len(out) == 300 and all(r["split"] in {"train", "val", "test"} for r in out)
    counts = {s: sum(1 for r in out if r["split"] == s) for s in ("train", "val", "test")}
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]
    with pytest.raises(ValueError, match="sum to 1"):
        smp.split_assign(docs, {"train": 0.8, "val": 0.1})


def test_stratified_topn_exact_quota(spark):
    from osm_addr_bot_spark.datapipe import sampling as smp

    rows = [(i, "big" if i < 90 else "small") for i in range(100)]
    docs = spark.createDataFrame(rows, "doc_id long, grp string")
    out = smp.stratified_topn(docs, "grp", 5).collect()
    got = {}
    for r in out:
        got.setdefault(r["grp"], set()).add(r["doc_id"])
    assert len(got["big"]) == 5 and len(got["small"]) == 5
    # a group smaller than the quota is returned whole
    tiny = smp.stratified_topn(docs.filter("doc_id >= 97"), "grp", 5).collect()
    assert len(tiny) == 3


def test_connected_components_long_chain_sweeps_and_boundary(spark):
    # a 10-node path (diameter 9, >2x a typical band-collision clique
    # diameter): the min label travels one hop per sweep, so the last
    # label change lands on sweep 9 and sweep 10 observes zero changes.
    # Convergence exactly on the final allowed sweep must SUCCEED
    # (ADVICE r4: the old sum-equality test needed an extra sweep and
    # spuriously failed this case), and the changed-count detector is a
    # bounded 0/1 sum — overflow-proof where sum(label) is not.
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 10)], "doc_a long, doc_b long"
    )
    stats = {}
    out = dd.connected_components(path, max_iter=10, stats=stats)
    rows = out.collect()
    assert stats["sweeps"] == 10
    assert all(r["component"] == 1 for r in rows)
    assert {r["doc_id"] for r in rows if r["is_rep"]} == {1}
    # one sweep short: the final sweep still changes labels -> loud fail
    with pytest.raises(RuntimeError, match="did not converge"):
        dd.connected_components(path, max_iter=9)


def test_connected_components_empty_converges_immediately(spark):
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    stats = {}
    assert dd.connected_components(empty, stats=stats).count() == 0
    assert stats["sweeps"] == 1


# ------------------------------------------------------- corpus recipe
def test_corpus_dedup_keep_end_to_end(spark):
    from osm_addr_bot_spark.datapipe import recipes as rcp

    # docs 1/2/5 are one exact-dup group (identical after normalization
    # -> identical signatures -> collide in every band, knob-independent);
    # 4 and 6 touch nothing. Golden keep set: {1, 4, 6} -> 3 rows.
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (4, "completely different content about spark engines"),
        (5, "the  QUICK  brown fox jumps over the lazy dog "),
        (6, "a third unrelated document mentioning parquet files"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    stats = {}
    kept = rcp.corpus_dedup_keep(
        docs, num_hashes=8, bands=2, rows_per_band=4, stats=stats
    )
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 4, 6]
    assert kept.columns == docs.columns  # full payload survives the recipe
    assert stats["dropped"] == 2 and stats["groups"] == 1
    assert stats["sweeps"] >= 1

    # the sampled form is a subset of the kept set and deterministic
    s1 = {r["doc_id"] for r in rcp.corpus_dedup_keep(docs, fraction=0.6).collect()}
    s2 = {r["doc_id"] for r in rcp.corpus_dedup_keep(docs, fraction=0.6).collect()}
    assert s1 == s2 and s1 <= {1, 4, 6}


def test_corpus_dedup_keep_rejects_inconsistent_knobs(spark):
    from osm_addr_bot_spark.datapipe import recipes as rcp

    docs = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    with pytest.raises(ValueError, match="bands"):
        rcp.corpus_dedup_keep(docs, num_hashes=8, bands=3, rows_per_band=4)


def test_repetition_stats_bigrams(spark):
    df = spark.createDataFrame(
        [(1, "a b a b a c"), (2, "x y"), (3, "solo")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in tx.repetition_stats(df).collect()}
    # doc 1 bigrams: (a b)(b a)(a b)(b a)(a c) -> 5 total, 3 distinct, top=2
    r1 = out[1]
    assert r1["n_grams"] == 5 and r1["distinct_grams"] == 3 and r1["top_gram_cnt"] == 2
    assert r1["top_gram_frac"] == pytest.approx(0.4)
    assert r1["dup_gram_frac"] == pytest.approx(0.8)
    assert r1["gram_ttr"] == pytest.approx(0.6)
    # doc 2: a single bigram, nothing repeated
    r2 = out[2]
    assert r2["n_grams"] == 1 and r2["dup_gram_frac"] == 0.0 and r2["gram_ttr"] == 1.0
    # doc 3 has < gram_n tokens -> no grams -> absent by contract
    assert 3 not in out
    # unigram mode degenerates to plain token stats (9 tokens, 4 distinct: doc 1+2+3 separate)
    uni = {r["doc_id"]: r for r in tx.repetition_stats(df, gram_n=1).collect()}
    assert uni[1]["n_grams"] == 6 and uni[1]["distinct_grams"] == 3
    assert uni[3]["n_grams"] == 1
    with pytest.raises(ValueError, match="gram_n"):
        tx.repetition_stats(df, gram_n=0)


def test_scrub_pii_masks_and_counts(spark):
    df = spark.createDataFrame(
        [
            (1, "visit https://a.example.com/x?q=1 and http://b.org now"),
            (2, "mail john.doe+spam@ex-ample.co.uk please"),
            (3, "clean text only"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in tx.scrub_pii(df).collect()}
    assert out[1]["n_urls"] == 2 and out[1]["n_emails"] == 0
    assert out[1]["scrubbed"] == "visit <URL> and <URL> now"
    assert out[2]["n_emails"] == 1
    assert out[2]["scrubbed"] == "mail <EMAIL> please"
    assert out[3]["n_urls"] == 0 and out[3]["scrubbed"] == "clean text only"


def test_tfidf_top_terms(spark):
    df = spark.createDataFrame(
        [
            (1, "s1", "apple apple banana"),
            (2, "s1", "apple cherry"),
            (3, "s2", "banana banana banana"),
            (4, "s2", "dog"),
        ],
        "doc_id long, source string, text string",
    )
    out = tx.tfidf_top_terms(df, k=2).collect()
    by_rank = {(r["source"], r["rank"]): r for r in out}
    # N=4; df(apple)=2, df(banana)=2, df(cherry)=1, df(dog)=1
    assert by_rank[("s1", 1)]["term"] == "apple"  # tf=3, weight 3*ln(5/3)
    assert by_rank[("s1", 1)]["tf"] == 3 and by_rank[("s1", 1)]["df"] == 2
    assert by_rank[("s1", 1)]["weight"] == pytest.approx(round(3 * math.log(5 / 3), 4))
    assert by_rank[("s1", 2)]["term"] == "cherry"  # ln(5/2) beats banana's ln(5/3)
    assert by_rank[("s2", 1)]["term"] == "banana" and by_rank[("s2", 2)]["term"] == "dog"
    assert len(out) == 4


def test_group_percentiles_exact(spark):
    from osm_addr_bot_spark.datapipe import analytics as olap

    df = spark.createDataFrame(
        [("a", v) for v in (1, 2, 3, 4)] + [("b", 10)], "g string, v long"
    )
    out = {r["grp"]: r for r in olap.group_percentiles(df, "g", "v", (0.5, 0.9)).collect()}
    # linear interpolation at rank p*(n-1): [1,2,3,4] -> p50=2.5, p90=3.7
    assert out["a"]["p50"] == 2.5 and out["a"]["p90"] == 3.7
    assert out["b"]["p50"] == 10.0 and out["b"]["p90"] == 10.0


def test_pivot_counts_pinned_values(spark):
    from osm_addr_bot_spark.datapipe import analytics as olap

    df = spark.createDataFrame(
        [("a", "x"), ("a", "x"), ("a", "y"), ("b", "z")], "g string, c string"
    )
    out = {r["grp"]: r for r in olap.pivot_counts(df, "g", "c", ("x", "y", "miss")).collect()}
    assert out["a"]["x"] == 2 and out["a"]["y"] == 1 and out["a"]["miss"] == 0
    assert out["b"]["x"] == 0  # 'z' is outside the pinned list -> not a column
    assert set(out) == {"a", "b"}


def test_rollup_counts_levels(spark):
    from osm_addr_bot_spark.datapipe import analytics as olap

    df = spark.createDataFrame(
        [("a", "x", 1), ("a", "y", 2), ("b", "x", 4)], "s string, l string, v long"
    )
    rows = olap.rollup_counts(df, ("s", "l"), "v").collect()
    m = {(r["s"], r["l"], r["lvl"]): (r["n_rows"], r["sum_v"]) for r in rows}
    assert m[("a", "x", 0)] == (1, 1)
    assert m[("a", "ALL", 1)] == (2, 3)
    assert m[("b", "ALL", 1)] == (1, 4)
    assert m[("ALL", "ALL", 3)] == (3, 7)
    assert len(rows) == 3 + 2 + 1  # leaves + per-source subtotals + grand total


def test_winnow_fingerprints_guarantee(spark):
    df = spark.createDataFrame(
        [
            (1, "abcdefghijklmnop"),
            (2, "zz abcdefghijklmnop qq"),  # shares a >= w+k-1 char run with doc 1
            (3, "completely-other-text!!"),
            (4, "tiny"),  # shorter than the window+k-1 minimum -> no fingerprints
        ],
        "doc_id long, text string",
    )
    rows = tx.winnow_fingerprints(df, k=5, window=4).collect()
    by: dict[int, set] = {}
    for r in rows:
        by.setdefault(r["doc_id"], set()).add(r["fp"])
    assert 4 not in by
    assert by[1] & by[2]  # the winnowing guarantee: shared run -> shared fingerprint
    assert not (by[1] & by[3])
    assert len(rows) == sum(len(v) for v in by.values())  # per-doc distinct
    with pytest.raises(ValueError, match="k and window"):
        tx.winnow_fingerprints(df, k=0)


def test_winnow_overlap_pairs(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "xx the quick brown fox jumps over the lazy dog yy"),
            (3, "unrelated corpus entry covering catalyst plans"),
        ],
        "doc_id long, text string",
    )
    out = tx.winnow_overlap_pairs(df, min_shared=2, max_df=None).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r["shared_fps"] for r in out}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 2
    assert (1, 3) not in pairs and (2, 3) not in pairs
