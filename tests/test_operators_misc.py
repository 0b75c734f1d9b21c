"""Tests for operators not exercised by the query registry: the
two-table as-of join, emptiness guard, literal-map lookup, partitioned
JSON sink, the gated RDF reader, and the equivalence of the column-form
MinHash/SimHash signatures with their frame-form twins.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data___knowledge_graph_construction_with_llm_spark.functions.canonical import lookup_expr
from big_data___knowledge_graph_construction_with_llm_spark.operators.dedup import (
    minhash_signature,
    minhash_signatures,
    shingles,
    simhash64,
    simhash_signatures,
)
from big_data___knowledge_graph_construction_with_llm_spark.operators.relational import (
    asof_join,
    is_empty,
)
from big_data___knowledge_graph_construction_with_llm_spark.sources import rdf
from big_data___knowledge_graph_construction_with_llm_spark.sources.tabular import (
    write_partitioned_json,
)


def test_asof_join_nearest_leq(spark):
    left = spark.createDataFrame(
        [("u1", 10, "a"), ("u1", 25, "b"), ("u2", 5, "c")],
        "k string, lts int, tag string",
    )
    right = spark.createDataFrame(
        [("u1", 10, 1.0), ("u1", 20, 2.0), ("u1", 30, 3.0), ("u3", 1, 9.0)],
        "k string, rts int, px double",
    )
    out = asof_join(left, right, on="k", left_ts="lts", right_ts="rts", right_vals=["px"])
    got = {r["tag"]: r["px"] for r in out.collect()}
    assert got["a"] == 1.0  # equal ts is inclusive (<=)
    assert got["b"] == 2.0  # 20 is the latest <= 25
    assert got["c"] is None  # u2 has no right rows


def test_is_empty_guard(spark):
    df = spark.range(3)
    assert not is_empty(df)
    assert is_empty(df.filter("id > 99"))


def test_lookup_expr_literal_map(spark):
    df = spark.createDataFrame(
        [("Painted_By",), ("IS_RELATED_TO",), ("unknown_x",)], "rel string"
    )
    out = df.select(
        lookup_expr("rel", {"painted by": "created", "is related to": "isRelatedTo"}).alias("c")
    )
    assert [r["c"] for r in out.collect()] == ["created", "isRelatedTo", "unknown x"]


def test_write_partitioned_json(spark, tmp_path):
    df = spark.range(3).select(F.col("id"), F.lit("x").alias("v"))
    write_partitioned_json(df, str(tmp_path), "csv")
    write_partitioned_json(df, str(tmp_path), "csv")  # append mode
    back = spark.read.json(str(tmp_path / "csv"))
    assert back.count() == 6


def test_rdf_reader_works_without_rdflib():
    """The reader is no longer import-gated: the stdlib fallback parses
    the EDM subset (full coverage in tests/test_sources.py)."""
    rows = rdf.parse_rdfxml_rows(
        '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"'
        ' xmlns:skos="http://www.w3.org/2004/02/skos/core#">'
        '<rdf:Description rdf:about="http://ex.org/x">'
        '<skos:prefLabel xml:lang="en">X</skos:prefLabel>'
        "</rdf:Description></rdf:RDF>"
    )
    assert rows == [
        {"subject": "X", "predicate": "prefLabel", "object": "X", "lang": "en"}
    ]


def test_minhash_column_form_equals_agg_form(spark):
    """The row-local Arrow kernel of minhash_signatures is bit-identical
    to the JVM column form, at 16 and 64 hashes, including a NULL text
    (it hashes as one NULL shingle), an empty and a one-token doc, and a
    doc long enough to span thousands of shingles, over several
    partitions."""
    long_doc = " ".join(f"w{i % 97} x{i % 13}" for i in range(2000))
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "pack my box with five dozen liquor jugs"),
         (3, None),
         (4, "solitary"),
         (5, ""),
         (6, long_doc)],
        "doc_id int, text string",
    ).repartition(3)
    for num_hashes in (16, 64):
        col_form = df.select(
            "doc_id",
            minhash_signature(shingles("text", 3), num_hashes).alias("sig"),
        )
        agg_form = minhash_signatures(df, "doc_id", "text", num_hashes=num_hashes)
        a = {r["doc_id"]: list(r["sig"]) for r in col_form.collect()}
        b = {
            r["_id"]: [r[f"_m{i}"] for i in range(num_hashes)]
            for r in agg_form.collect()
        }
        assert a == b and len(b) == 6


def test_simhash_column_form_equals_agg_form(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "pack my box with five dozen liquor jugs")],
        "doc_id int, text string",
    )
    col_form = df.select("doc_id", simhash64("text").alias("s"))
    agg_form = simhash_signatures(df, "doc_id", "text")
    a = {r["doc_id"]: r["s"] for r in col_form.collect()}
    b = {r["_id"]: r["_sim"] for r in agg_form.collect()}
    assert a == b


def test_simhash_bands_follow_max_hamming(spark):
    """Pigeonhole recall: a pair within max_hamming must be found even
    when its differing bits are spread to defeat a fixed 4-band split."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.dedup import simhash_near_dup_pairs

    # construct two short docs and measure their true hamming distance
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta"),
         (2, "alpha beta gamma delta epsilon zeta eta iota")],
        "doc_id int, text string",
    )
    from big_data___knowledge_graph_construction_with_llm_spark.operators.dedup import simhash_signatures

    sigs = {r["_id"]: r["_sim"] for r in simhash_signatures(df, "doc_id", "text").collect()}
    d = bin(sigs[1] ^ sigs[2]).count("1")
    pairs = simhash_near_dup_pairs(df, "doc_id", "text", max_hamming=d).collect()
    assert [(p["id_a"], p["id_b"], p["hamming"]) for p in pairs] == [(1, 2, d)]


def test_simhash_max_hamming_zero(spark):
    """Radius 0 is one full-width band: exact-simhash pairs only, and the
    2⁶⁴-1 mask that used to blow up LongType must not be built."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.dedup import simhash_near_dup_pairs

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
         (3, "something else entirely here")],
        "doc_id int, text string",
    )
    pairs = simhash_near_dup_pairs(df, "doc_id", "text", max_hamming=0).collect()
    assert [(p["id_a"], p["id_b"], p["hamming"]) for p in pairs] == [(1, 2, 0)]


def test_bucket_cap_bounds_candidates(spark):
    """max_bucket must skip over-full buckets entirely (the skew backstop):
    20 identical docs land in one bucket per band — with a cap below 20
    they yield ZERO pairs, while a small planted pair elsewhere survives."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.dedup import (
        lsh_candidate_pairs,
        simhash_near_dup_pairs,
    )

    boiler = [(i, "the same boilerplate text repeated here") for i in range(20)]
    planted = [
        (100, "a unique document about distributed query planning"),
        (101, "a unique document about distributed query planning"),
    ]
    df = spark.createDataFrame(boiler + planted, "doc_id int, text string")
    for fn in (lsh_candidate_pairs, simhash_near_dup_pairs):
        capped = fn(df, "doc_id", "text", max_bucket=10).collect()
        assert [(p["id_a"], p["id_b"]) for p in capped] == [(100, 101)], fn.__name__
        uncapped = fn(df, "doc_id", "text").collect()
        # uncapped sees the quadratic boilerplate pairs the cap suppressed
        assert len(uncapped) == 20 * 19 // 2 + 1, fn.__name__


def test_salted_join_rejects_right_full(spark):
    import pytest as _pytest
    from big_data___knowledge_graph_construction_with_llm_spark.operators.relational import salted_join

    a = spark.range(3).withColumnRenamed("id", "k")
    b = spark.range(3).withColumnRenamed("id", "k")
    with _pytest.raises(ValueError, match="num_salts times"):
        salted_join(a, b, "k", how="full")


def test_lsh_bands_divisibility_check(spark):
    import pytest as _pytest
    from big_data___knowledge_graph_construction_with_llm_spark.operators.dedup import lsh_candidate_pairs

    df = spark.createDataFrame([(1, "a b c")], "doc_id int, text string")
    with _pytest.raises(ValueError, match="must divide"):
        lsh_candidate_pairs(df, "doc_id", "text", num_hashes=64, bands=10)


def test_pagerank_empty_edges(spark):
    from big_data___knowledge_graph_construction_with_llm_spark.operators.graph_algos import pagerank

    e = spark.createDataFrame([], "src string, dst string")
    assert pagerank(e, iterations=2).count() == 0


def test_hash_sample_deterministic_and_join_compatible(spark):
    """hash_sample must return the identical row set on every evaluation
    and partitioning, and sampling two tables by the same key must keep
    them join-compatible."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.sampling import (
        dataset_split,
        hash_sample,
    )

    df = spark.range(2000).withColumnRenamed("id", "k")
    s1 = {r["k"] for r in hash_sample(df, "k", 0.2).collect()}
    s2 = {r["k"] for r in hash_sample(df.repartition(7), "k", 0.2).collect()}
    assert s1 == s2
    assert 0.15 < len(s1) / 2000 < 0.25
    other = df.withColumn("v", F.col("k") * 2)
    o1 = {r["k"] for r in hash_sample(other, "k", 0.2).collect()}
    assert o1 == s1  # same keys survive in both tables
    # split is exhaustive and stable
    sp = dataset_split(df, "k")
    counts = {r["split"]: r["n"] for r in sp.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 2000
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]
    with __import__("pytest").raises(ValueError, match="fraction"):
        hash_sample(df, "k", 1.5)


def test_repetition_features(spark):
    """A heavily repetitive doc must score high on every signal; a
    normal doc low; degenerate docs get 0.0 (not null)."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.text import repetition_features

    df = spark.createDataFrame(
        [
            (1, "buy now buy now buy now buy now buy now\nbuy now\nbuy now"),
            (2, "a perfectly ordinary sentence with unique words only\nsecond line"),
            (3, " "),
        ],
        "doc_id int, text string",
    )
    got = {r["doc_id"]: r for r in repetition_features(df, "doc_id", "text").collect()}
    assert got[1]["dup_token_frac"] > 0.8
    assert got[1]["dup_line_frac"] > 0.3
    assert got[1]["top_bigram_frac"] > 0.5
    assert got[2]["dup_token_frac"] == 0.0
    assert got[2]["dup_line_frac"] == 0.0
    assert got[2]["top_bigram_frac"] < 0.2
    assert got[3]["top_bigram_frac"] == 0.0  # degenerate → 0.0, not null


def test_salted_join_spread_duplicates_row_identical(spark):
    """spread_duplicates routes exact-duplicate hot rows across salts;
    the join result must stay row-identical to the plain join."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.relational import salted_join

    hot = spark.createDataFrame([(0, "x")] * 50 + [(1, "y")], "k long, v string")
    dim = spark.createDataFrame([(0, 10), (1, 20)], "k long, dv int")
    plain = sorted(tuple(r) for r in hot.join(dim, "k").collect())
    for spread in (False, True):
        salted = sorted(
            tuple(r)
            for r in salted_join(
                hot, dim, "k", num_salts=4, spread_duplicates=spread
            ).collect()
        )
        assert salted == plain, f"spread_duplicates={spread}"


def test_pack_sequences_bounds_and_determinism(spark):
    """Every doc lands in exactly one bin; each bin's token total may
    exceed the budget only by the documented straddle bound; repartition
    does not change the assignment."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.sampling import pack_sequences

    rows = [(i, (i * 37 % 90) + 10) for i in range(200)]  # 10..99 tokens
    df = spark.createDataFrame(rows, "doc_id int, n_tokens int")
    packed = pack_sequences(df, "doc_id", "n_tokens", budget=256)
    out = packed.collect()
    assert len(out) == 200
    max_n = max(n for _, n in rows)
    sums = {}
    for r in out:
        sums[r["seq_id"]] = sums.get(r["seq_id"], 0) + r["n_tokens"]
        assert 0 <= r["offset_in_seq"] < 256
    assert all(s <= 256 + max_n - 1 for s in sums.values())
    # bins are dense: every seq_id below the max appears
    assert sorted(sums) == list(range(max(sums) + 1))
    again = {r["doc_id"]: r["seq_id"] for r in pack_sequences(
        df.repartition(7), "doc_id", "n_tokens", budget=256
    ).collect()}
    assert again == {r["doc_id"]: r["seq_id"] for r in out}


def test_pack_sequences_deterministic_with_duplicate_order_keys(spark):
    """order_col values repeat (all docs share one key): the id tie-break
    must make seq_id/offset stable across physical orderings."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.sampling import pack_sequences

    rows = [(i, 20, "same") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id int, n_tokens int, grp string")
    a = {
        r["doc_id"]: (r["seq_id"], r["offset_in_seq"])
        for r in pack_sequences(
            df, "doc_id", "n_tokens", budget=64, order_col="grp"
        ).collect()
    }
    b = {
        r["doc_id"]: (r["seq_id"], r["offset_in_seq"])
        for r in pack_sequences(
            df.repartition(13).sortWithinPartitions(F.col("doc_id").desc()),
            "doc_id",
            "n_tokens",
            budget=64,
            order_col="grp",
        ).collect()
    }
    assert a == b


def test_pack_sequences_prefix_partitions_param(spark):
    """Same bound with a different partition count; degenerate width-1
    (single global window) must give the exact sequential packing."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.sampling import pack_sequences

    rows = [(i, 10) for i in range(64)]
    df = spark.createDataFrame(rows, "doc_id int, n_tokens int")
    one = pack_sequences(df, "doc_id", "n_tokens", budget=100, prefix_partitions=1)
    got = {r["doc_id"]: (r["seq_id"], r["offset_in_seq"]) for r in one.collect()}
    # width 1: docs 0..63 in id order, 10 tokens each, 10 per 100-budget bin
    assert got == {i: (i // 10, (i % 10) * 10) for i in range(64)}
    wide = pack_sequences(df, "doc_id", "n_tokens", budget=100, prefix_partitions=256)
    sums = {}
    for r in wide.collect():
        sums[r["seq_id"]] = sums.get(r["seq_id"], 0) + 10
    assert all(s <= 100 + 10 - 1 for s in sums.values())
    import pytest

    with pytest.raises(ValueError, match="prefix_partitions"):
        pack_sequences(df, "doc_id", "n_tokens", budget=100, prefix_partitions=0)


def test_chunk_documents(spark):
    from big_data___knowledge_graph_construction_with_llm_spark.operators.sampling import (
        chunk_documents,
        pack_sequences,
    )

    rows = [(1, 250), (2, 100), (3, 0), (4, 99)]
    df = spark.createDataFrame(rows, "doc_id int, n_tokens int")
    out = chunk_documents(df, "n_tokens", budget=100)
    got = sorted(
        (r["doc_id"], r["chunk_idx"], r["chunk_start"], r["n_tokens"])
        for r in out.collect()
    )
    assert got == [
        (1, 0, 0, 100),
        (1, 1, 100, 100),
        (1, 2, 200, 50),
        (2, 0, 0, 100),
        (3, 0, 0, 0),
        (4, 0, 0, 99),
    ]
    # composition: chunk then pack -> no chunk exceeds the budget, so the
    # straddle overflow bound collapses to budget + budget - 1
    packed = pack_sequences(
        out.withColumn(
            "cid", F.concat_ws("#", F.col("doc_id"), F.col("chunk_idx"))
        ),
        "cid",
        "n_tokens",
        budget=100,
    )
    assert packed.count() == 6


def test_pii_counts_and_redaction(spark):
    """Golden PII detection/redaction: each category fires on its own
    shape, redaction replaces every match and leaves clean text alone."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.text import (
        pii_counts,
        redact_pii,
    )

    rows = [
        (1, "mail a.user+tag@sub.example.org and b@x.io today"),
        (2, "call +1 555 123 4567 or visit 192.168.0.1 now"),
        (3, "clean text with number 12345 and date 01/02/2026"),
        (4, "composite user7@example.com +44 20 7946 0958 10.0.3.7 end"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    c = pii_counts("text")
    got = {
        r["id"]: (r["e"], r["p"], r["i"], r["red"])
        for r in df.select(
            "id",
            c["email"].alias("e"),
            c["phone"].alias("p"),
            c["ipv4"].alias("i"),
            redact_pii("text").alias("red"),
        ).collect()
    }
    assert got[1] == (2, 0, 0, "mail [PII] and [PII] today")
    assert got[2] == (0, 1, 1, "call [PII] or visit [PII] now")
    assert got[3] == (0, 0, 0, "clean text with number 12345 and date 01/02/2026")
    assert got[4] == (1, 1, 1, "composite [PII] [PII] [PII] end")


def test_tfidf_top_terms(spark):
    """Hand-computed TF-IDF on a 2-doc corpus; deterministic tie order."""
    import math

    from big_data___knowledge_graph_construction_with_llm_spark.operators.text import tfidf_top_terms

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "a c")], "doc_id long, text string"
    )
    got = {
        (r["doc_id"], r["rank"]): (r["term"], r["tf"], r["tfidf"])
        for r in tfidf_top_terms(df, "doc_id", "text", k=2).collect()
    }
    idf_rare = round(math.log(3 / 2), 6)  # ln((1+2)/(1+1))
    # 'a' appears in both docs -> idf ln(3/3) = 0; rare terms win
    assert got[(1, 1)] == ("b", 1, idf_rare)
    assert got[(1, 2)] == ("a", 2, 0.0)
    assert got[(2, 1)] == ("c", 1, idf_rare)
    assert got[(2, 2)] == ("a", 1, 0.0)


def test_stratified_sample_exact_and_deterministic(spark):
    """Exactly n per stratum, stable across runs, subset-stable under
    appends (old members only displaced at the rank boundary)."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.sampling import stratified_sample

    rows = [(i, "s" + str(i % 3)) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    got = stratified_sample(df, "source", "doc_id", 5)
    per = {r["source"]: r["n"] for r in got.groupBy("source").count().withColumnRenamed("count", "n").collect()}
    assert per == {"s0": 5, "s1": 5, "s2": 5}
    again = sorted(r["doc_id"] for r in stratified_sample(df, "source", "doc_id", 5).collect())
    assert again == sorted(r["doc_id"] for r in got.collect())
    # asking for more than a stratum holds returns the whole stratum
    assert stratified_sample(df, "source", "doc_id", 100).count() == 60


def test_pq_encode_and_adc_knn(spark):
    """PQ roundtrip on two well-separated blobs: codes have m bytes in
    [0,k), ADC ranks a same-blob vector above cross-blob ones, and the
    whole path is deterministic."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.similarity import (
        knn_pq,
        pq_codebooks,
        pq_encode,
    )

    # blob A around (1,1,0,0), blob B around (0,0,1,1); 8 dims = 4+4
    def vec(base, i):
        eps = 0.01 * i
        return [b + eps for b in base] * 2  # dim 8

    a_base, b_base = [1.0, 1.0, 0.0, 0.0], [0.0, 0.0, 1.0, 1.0]
    rows = [(i, vec(a_base, i)) for i in range(10)] + [
        (100 + i, vec(b_base, i)) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = pq_codebooks(df, dim=8, m=2, k=4, iterations=2)
    enc = pq_encode(df, books, dim=8)
    codes = {r["vec_id"]: list(r["code"]) for r in enc.select("vec_id", "code").collect()}
    assert all(len(c) == 2 and all(0 <= x < 4 for x in c) for c in codes.values())
    # same-blob vectors share codes; cross-blob vectors don't
    assert codes[0] == codes[1]
    assert codes[0] != codes[100]

    got = [r["vec_id"] for r in knn_pq(enc, books, vec(a_base, 0), k=5).collect()]
    assert len(got) == 5
    assert all(g < 100 for g in got), got  # all hits from blob A
    again = [r["vec_id"] for r in knn_pq(enc, books, vec(a_base, 0), k=5).collect()]
    assert got == again

    import pytest

    with pytest.raises(ValueError):
        pq_codebooks(df, dim=8, m=3)


def test_pq_dim_validation(spark):
    """Mismatched query/encode dims raise instead of silently truncating
    the ADC distance sums."""
    import pytest

    from big_data___knowledge_graph_construction_with_llm_spark.operators.similarity import (
        knn_pq,
        pq_codebooks,
        pq_encode,
    )

    rows = [(i, [float(i % 3)] * 8) for i in range(12)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = pq_codebooks(df, dim=8, m=2, k=4, iterations=1)
    with pytest.raises(ValueError, match="codebooks expect"):
        knn_pq(pq_encode(df, books, dim=8), books, [0.0] * 6, k=3)
    with pytest.raises(ValueError, match="disagrees with the codebooks"):
        pq_encode(df, books, dim=6)
    with pytest.raises(ValueError, match="dims"):
        pq_codebooks(df, dim=16, m=2)  # vectors are 8-dim


def test_knn_ivf_pq_composition(spark):
    """IVF-PQ: coarse probe + ADC ranking returns same-blob neighbors
    and agrees with plain PQ on an easy dataset."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.similarity import (
        ivf_centroids,
        ivf_index,
        knn_ivf_pq,
        knn_pq,
        pq_codebooks,
        pq_encode,
    )

    def vec(base, i):
        return [b + 0.01 * i for b in base] * 2

    a_base, b_base = [1.0, 1.0, 0.0, 0.0], [0.0, 0.0, 1.0, 1.0]
    rows = [(i, vec(a_base, i)) for i in range(10)] + [
        (100 + i, vec(b_base, i)) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = ivf_centroids(df, k=2, iterations=2)
    books = pq_codebooks(df, dim=8, m=2, k=4, iterations=2)
    index = pq_encode(ivf_index(df, cents), books, dim=8)
    q = vec(a_base, 0)
    got = [r["vec_id"] for r in knn_ivf_pq(index, cents, books, q, k=5, n_probe=1).collect()]
    assert len(got) == 5 and all(g < 100 for g in got), got
    # with all clusters probed, IVF-PQ degenerates to exact PQ ranking
    full = [r["vec_id"] for r in knn_ivf_pq(index, cents, books, q, k=5, n_probe=2).collect()]
    plain = [r["vec_id"] for r in knn_pq(index, books, q, k=5).collect()]
    assert full == plain


def test_unigram_surprisal_hand_computed(spark):
    """2-doc corpus with hand-computed add-one unigram NLLs; rare-token
    docs score higher; a fixed external vocab scores OOV at the floor."""
    import math

    from big_data___knowledge_graph_construction_with_llm_spark.operators.text import unigram_surprisal

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "c"), (3, None)], "doc_id long, text string"
    )
    # corpus counts: a=2, b=1, c=1; N=4, V=3, denom=7
    got = {
        r["doc_id"]: (r["n_tokens"], r["mean_nll"])
        for r in unigram_surprisal(df, "doc_id", "text").collect()
    }
    nll = lambda c: -math.log((c + 1) / 7.0)  # noqa: E731
    assert got[1][0] == 3
    assert abs(got[1][1] - round((2 * nll(2) + nll(1)) / 3, 6)) < 1e-9
    assert abs(got[2][1] - round(nll(1), 6)) < 1e-9
    assert got[2][1] > got[1][1]  # rarer tokens -> more surprising
    assert got[3] == (0, None)  # null-text doc keeps its row, null score

    # fixed external vocab: 'z' is OOV -> add-one floor
    vocab = spark.createDataFrame([("a", 9)], "term string, n long")
    ext = {
        r["doc_id"]: r["mean_nll"]
        for r in unigram_surprisal(df, "doc_id", "text", vocab=vocab).collect()
    }
    floor = -math.log(1 / 10.0)  # N=9, V=1, denom=10
    assert abs(ext[2] - round(floor, 6)) < 1e-9


def test_pack_sequences_derives_prefix_partitions(spark):
    """prefix_partitions=None derives from input parallelism: power of
    two, in [32, 65536], ≥ 2x the input's partition count — and packing
    under the derived default matches an explicit value semantically."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.sampling import (
        derive_prefix_partitions,
        pack_sequences,
    )

    df = spark.range(100).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7 + 1).alias("n")
    )
    n_in = df.rdd.getNumPartitions()
    d = derive_prefix_partitions(df)
    assert d >= 32 and d <= 65536
    assert d & (d - 1) == 0               # power of two
    assert d >= min(65536, 2 * n_in)
    out = pack_sequences(df, "doc_id", "n", budget=16)  # derived default
    explicit = pack_sequences(df, "doc_id", "n", budget=16, prefix_partitions=d)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, explicit.collect()))


def test_incremental_dedup_against_fingerprint_store(spark):
    """Append-batch dedup touches only fingerprints: batch rows duplicate
    of the store OR of each other are dropped (min id wins), and the
    returned fingerprint delta is exactly what the store needs for the
    next batch to repeat the cycle."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.dedup import (
        content_fingerprints,
        incremental_dedup,
    )

    corpus = spark.createDataFrame(
        [(1, "alpha doc"), (2, "beta doc")], "doc_id long, text string"
    )
    store = content_fingerprints(corpus, "text", "doc_id")
    batch = spark.createDataFrame(
        [
            (10, "alpha doc"),    # dup of corpus -> dropped
            (11, "gamma doc"),    # new -> kept
            (12, "gamma doc"),    # within-batch dup -> dropped (11 wins)
            (13, "delta doc"),    # new -> kept
        ],
        "doc_id long, text string",
    )
    new_rows, new_fps = incremental_dedup(batch, store, "text", "doc_id")
    assert sorted(r["doc_id"] for r in new_rows.collect()) == [11, 13]
    # appending the delta makes the next identical batch a full no-op
    store2 = store.unionByName(new_fps)
    again, delta2 = incremental_dedup(batch, store2, "text", "doc_id")
    assert again.count() == 0 and delta2.count() == 0


def test_semantic_dedup_keeps_one_per_cluster(spark):
    """A≈B≈C chain collapses to min-id A even though A,C are not a
    verified pair themselves; unrelated docs survive untouched."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.dedup import semantic_dedup

    base = "the quick brown fox jumps over the lazy dog again and again ok"
    rows = [
        (1, base),
        (2, base + " x1"),            # ≈ 1
        (3, base + " x1 x2"),         # ≈ 2, chains to 1
        (7, "completely different text about spark dataframes and shuffles here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        r["doc_id"]
        for r in semantic_dedup(df, "doc_id", "text", threshold=0.5).collect()
    )
    assert got == [1, 7]


def test_incremental_dedup_matches_full_pass_on_texts(spark):
    """Invariant: corpus + incremental(batch) keeps exactly the same SET
    OF TEXTS as a full exact_dedup_by_hash over corpus ∪ batch. (Kept
    ids may differ: the full pass keeps the global min id, the
    incremental path keeps the already-stored corpus representative —
    first-seen-wins, which is what an append pipeline wants.)"""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.dedup import (
        content_fingerprints,
        exact_dedup_by_hash,
        incremental_dedup,
    )

    corpus = spark.createDataFrame(
        [(5, "alpha"), (6, "beta"), (7, "gamma")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(1, "alpha"), (2, "delta"), (3, "delta"), (4, "beta")],
        "doc_id long, text string",
    )
    full = exact_dedup_by_hash(
        corpus.unionByName(batch), "text", "doc_id"
    )
    new_rows, _ = incremental_dedup(
        batch, content_fingerprints(corpus, "text", "doc_id"), "text", "doc_id"
    )
    incr_texts = {
        r["text"] for r in corpus.unionByName(new_rows).collect()
    }
    assert incr_texts == {r["text"] for r in full.collect()}
    assert incr_texts == {"alpha", "beta", "gamma", "delta"}


def test_embedding_dedup_collapses_chain_to_min_id(spark):
    """Cosine chain A≈B≈C (one family via transitivity) keeps only the
    min id; an isolated vector with no pair survives even though it
    never enters the pair graph."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.similarity import embedding_dedup

    rows = [
        (1, "g", [1.0, 0.0, 0.0, 0.0]),
        (2, "g", [0.999, 0.045, 0.0, 0.0]),   # ≈ 1
        (3, "g", [0.996, 0.09, 0.0, 0.0]),    # ≈ 2, chains to 1
        (9, "g", [0.0, 0.0, 1.0, 0.0]),       # isolated
    ]
    df = spark.createDataFrame(rows, "vec_id long, label string, embedding array<double>")
    got = sorted(
        r["vec_id"]
        for r in embedding_dedup(
            df, threshold=0.995, block_cols=["label"], sign_dims=2, strict=True
        ).collect()
    )
    assert got == [1, 9]


def test_sample_mixture_rates_and_determinism(spark):
    """Per-domain cutoffs apply independently; absent domains use the
    default; membership is a pure function of the id (same rows kept on
    re-run and under repartitioning)."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.sampling import sample_mixture

    rows = [(i, "web" if i % 3 == 0 else ("books" if i % 3 == 1 else "junk"))
            for i in range(600)]
    df = spark.createDataFrame(rows, "doc_id long, domain string")
    out = sample_mixture(df, "domain", "doc_id", {"books": 1.0, "web": 0.3})
    by_dom = {
        r["domain"]: r["n"]
        for r in out.groupBy("domain").agg(F.count("*").alias("n")).collect()
    }
    assert by_dom.get("books") == 200            # rate 1.0 keeps all
    assert "junk" not in by_dom                  # default_rate 0.0 drops
    assert 20 <= by_dom.get("web", 0) <= 100     # ~30% of 200, hash-bound slack
    again = sample_mixture(
        df.repartition(7), "domain", "doc_id", {"books": 1.0, "web": 0.3}
    )
    assert sorted(r["doc_id"] for r in out.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )


def test_mixture_cutoff_rounds_not_truncates(spark):
    """A rate with no exact binary representation (0.29) must yield the
    nearest-bucket cutoff (2900), not the truncated one (2899): the kept
    set is exactly the rows whose hash bucket is < round(rate*buckets),
    and hash_sample agrees with the mixture path at the same rate."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.sampling import (
        hash_bucket,
        hash_sample,
        sample_mixture,
    )

    df = spark.createDataFrame(
        [(i, "web") for i in range(500)], "doc_id long, domain string"
    )
    kept = sorted(
        r["doc_id"]
        for r in sample_mixture(df, "domain", "doc_id", {"web": 0.29}).collect()
    )
    expect = sorted(
        r["doc_id"]
        for r in df.filter(hash_bucket(F.col("doc_id"), 10_000) < 2900).collect()
    )
    assert kept == expect
    assert kept == sorted(
        r["doc_id"] for r in hash_sample(df, "doc_id", 0.29).collect()
    )


def test_repeated_spans_ignore_blank_documents(spark):
    """Blank/whitespace-only docs contribute no spans even at
    span_tokens=1 (split of trimmed '' yields [''], which must not
    become an empty-string 'span'), so they are never reported as
    mutual boilerplate and score 0.0 boilerplate fraction."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.dedup import (
        boilerplate_fraction,
        repeated_spans,
    )

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "\t\n"), (4, "real shared"), (5, "real shared")],
        "doc_id long, text string",
    )
    hits = {
        r["span"]: r["n_docs"]
        for r in repeated_spans(df, "doc_id", "text", span_tokens=1).collect()
    }
    assert "" not in hits
    assert hits == {"real": 2, "shared": 2}
    frac = {
        r["doc_id"]: r["boilerplate_frac"]
        for r in boilerplate_fraction(df, "doc_id", "text", span_tokens=1).collect()
    }
    assert frac[1] == 0.0 and frac[2] == 0.0 and frac[3] == 0.0


def test_repeated_spans_finds_cross_doc_boilerplate(spark):
    """A shared licence block recurs across docs and is reported with
    its doc count; within-doc repetition alone does not count; marking
    maps hits back to exactly the docs containing them."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.dedup import (
        mark_repeated_spans,
        repeated_spans,
    )

    lic = "licensed under the apache license version two zero see notice"
    rows = [
        (1, lic + " alpha content one"),
        (2, lic + " beta content two"),
        (3, "unique text " + "self self self self self self self self self self"),
        (4, "entirely different document body with no shared block at all x"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    hits = repeated_spans(df, "doc_id", "text", span_tokens=8, min_docs=2)
    got = {r["span"]: r["n_docs"] for r in hits.collect()}
    assert any(s.startswith("licensed under") for s in got), got
    assert all(n == 2 for n in got.values())
    # doc 3's within-doc repetition is distinct-ed per doc -> no hit
    marked = mark_repeated_spans(df, "doc_id", "text", span_tokens=8, min_docs=2)
    assert sorted({r["doc_id"] for r in marked.collect()}) == [1, 2]


def test_repeated_spans_sample_mod_subsets_full(spark):
    """Winnowed output is a subset of the exhaustive output (hash-mod
    sampling only ever drops spans, never invents them)."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.dedup import repeated_spans

    base = "one two three four five six seven eight nine ten eleven twelve"
    df = spark.createDataFrame(
        [(1, base + " tail a"), (2, base + " tail b"), (3, "nothing shared here")],
        "doc_id long, text string",
    )
    full = {r["span"] for r in repeated_spans(df, "doc_id", "text", 4).collect()}
    sampled = {
        r["span"]
        for r in repeated_spans(df, "doc_id", "text", 4, sample_mod=3).collect()
    }
    assert sampled <= full and full


def test_boilerplate_fraction_values(spark):
    """A doc that is pure shared boilerplate scores 1.0; a doc that is
    boilerplate plus unique tail scores in (0,1); all-unique docs and
    docs too short to span score 0.0."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.dedup import boilerplate_fraction

    lic = "licensed under the apache license version two zero"  # 8 tokens
    rows = [
        (1, lic),                                   # exactly the block -> 1.0
        (2, lic + " plus a unique tail of words"),  # block + unique -> (0,1)
        (3, "a totally unique document body with no shared text at all"),
        (4, "too short"),                           # < span_tokens -> 0.0
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["boilerplate_frac"]
        for r in boilerplate_fraction(df, "doc_id", "text", span_tokens=8).collect()
    }
    assert got[1] == 1.0
    assert 0.0 < got[2] < 1.0
    assert got[3] == 0.0
    assert got[4] == 0.0
    assert set(got) == {1, 2, 3, 4}  # every input doc gets a row


def test_curate_boilerplate_gate(spark):
    """curate(max_boilerplate_frac=...) drops mostly-templated docs that
    survive every other stage (each page is unique as a whole); the
    min_docs bar (default 3) means a lone near-dup PAIR is never
    treated as boilerplate — pairs belong to near-dedup."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.curation import curate

    lic = "licensed under the apache license version two zero see notice file"
    rows = [
        (1, lic + " page one"),
        (2, lic + " page two"),
        (3, lic + " page three"),
        (4, "a genuinely unique article with enough tokens to pass the gates fine"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # near-dedup at 0.99 does NOT collapse the templated pages (tails
    # differ); the boilerplate gate is what must catch them — 3 pages
    # share the block, meeting the default boilerplate_min_docs=3
    out = curate(
        df, jaccard_threshold=0.99, max_boilerplate_frac=0.7,
        min_tokens=3, strict=True,
    )
    assert sorted(r["doc_id"] for r in out.collect()) == [4]

    # a plain near-dup pair sharing the same spans is NOT annihilated:
    # the gate runs after near-dedup and min_docs=3 exceeds a pair
    pair = spark.createDataFrame(
        [(1, lic + " same tail here"), (2, lic + " same tail here extra"),
         (3, "another genuinely unique article with plenty of tokens in it")],
        "doc_id long, text string",
    )
    out2 = curate(
        pair, jaccard_threshold=0.99, max_boilerplate_frac=0.5,
        min_tokens=3, strict=True,
    )
    assert sorted(r["doc_id"] for r in out2.collect()) == [1, 2, 3]


def test_repeated_spans_min_docs_validated(spark):
    import pytest as _pytest

    from big_data___knowledge_graph_construction_with_llm_spark.operators.dedup import repeated_spans

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="min_docs"):
        repeated_spans(df, "doc_id", "text", span_tokens=2, min_docs=1)


def test_embed_documents_contract_and_semantics(spark):
    """Encoder seam: all columns pass through with an array<float>
    appended; the default hash encoder is deterministic across
    partitionings and puts similar texts closer than dissimilar ones;
    a wrong-dim encoder fails loudly at the first batch."""
    import numpy as np
    import pytest as _pytest

    from big_data___knowledge_graph_construction_with_llm_spark.operators.embed import embed_documents
    from big_data___knowledge_graph_construction_with_llm_spark.operators.similarity import cosine

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over a lazy dog"),
        (3, "completely unrelated treatise on spark shuffle internals"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = embed_documents(df, "text", dim=32)
    assert out.columns == ["doc_id", "text", "embedding"]
    got = {r["doc_id"]: r["embedding"] for r in out.collect()}
    assert all(len(v) == 32 for v in got.values())
    again = {
        r["doc_id"]: r["embedding"]
        for r in embed_documents(df.repartition(3), "text", dim=32).collect()
    }
    assert got == again

    sims = (
        out.alias("a").join(out.alias("b"), F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("ia"), F.col("b.doc_id").alias("ib"),
            cosine(F.col("a.embedding"), F.col("b.embedding")).alias("c"),
        )
    )
    c = {(r["ia"], r["ib"]): r["c"] for r in sims.collect()}
    assert c[(1, 2)] > c[(1, 3)] and c[(1, 2)] > c[(2, 3)]

    def bad(texts):
        return np.zeros((len(texts), 7), dtype=np.float32)

    with _pytest.raises(Exception, match="output dim"):
        embed_documents(df, "text", encoder=bad, dim=32).collect()


def test_embed_to_ann_roundtrip(spark):
    """End-to-end: raw text -> embed_documents -> embedding_dedup finds
    the planted near-verbatim pair with no precomputed embeddings."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.embed import embed_documents
    from big_data___knowledge_graph_construction_with_llm_spark.operators.similarity import embedding_dedup

    base = "large scale training data pipelines need deduplication and careful mixing of sources"
    rows = [
        (1, base),
        (2, base + " indeed"),      # near-verbatim -> near-identical bag of words
        (3, "an entirely different document about rdf parsing and neo4j bulk loads"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    vecs = embed_documents(df, "text", dim=64).withColumn("_blk", F.lit(1))
    kept = embedding_dedup(
        vecs, threshold=0.9, block_cols=["_blk"], id_col="doc_id", sign_dims=2
    )
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 3]


def test_build_vocab_deterministic_ids(spark):
    """Ids rank by (count desc, token asc): frequency ties break
    lexically, min_count prunes, max_size truncates the id space."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.text import build_vocab

    df = spark.createDataFrame(
        [(1, "b a b c a b"), (2, "a c d")], "doc_id long, text string"
    )
    v = {r["token"]: (r["token_id"], r["count"])
         for r in build_vocab(df, "text").collect()}
    # b:4? no - b appears 3x, a 3x, c 2x, d 1x -> tie a/b broken lexically
    assert v == {"a": (0, 3), "b": (1, 3), "c": (2, 2), "d": (3, 1)}
    again = {r["token"]: r["token_id"]
             for r in build_vocab(df.repartition(5), "text").collect()}
    assert again == {t: i for t, (i, _) in v.items()}
    top2 = {r["token"] for r in build_vocab(df, "text", max_size=2).collect()}
    assert top2 == {"a", "b"}
    pruned = {r["token"] for r in build_vocab(df, "text", min_count=2).collect()}
    assert pruned == {"a", "b", "c"}


def test_encode_documents_order_and_oov(spark):
    """Token order survives the shuffle (position-sorted rebuild), OOV
    tokens map to oov_id and are counted, empty docs stay as empty
    arrays."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.text import (
        build_vocab,
        encode_documents,
    )

    df = spark.createDataFrame(
        [(1, "b a b c a b"), (2, "a c d")], "doc_id long, text string"
    )
    vocab = build_vocab(df, "text", max_size=3)  # a=0 b=1 c=2; d OOV
    enc = spark.createDataFrame(
        [(1, "c b a a"), (2, "d a d"), (3, ""), (4, "zz")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["token_ids"], r["n_oov"])
        for r in encode_documents(enc, vocab).collect()
    }
    assert got[1] == ([2, 1, 0, 0], 0)
    assert got[2] == ([-1, 0, -1], 2)
    assert got[3] == ([], 0)
    assert got[4] == ([-1], 1)


def test_text_to_ids_to_packed_sequences_roundtrip(spark):
    """End-to-end pretraining preprocessing: raw text -> vocab ->
    int-encoded docs -> sequence bins, with the encoded lengths driving
    the packer and every document landing in exactly one bin."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.sampling import pack_sequences
    from big_data___knowledge_graph_construction_with_llm_spark.operators.text import (
        build_vocab,
        encode_documents,
    )

    rows = [(i, " ".join(f"tok{j % 7}" for j in range(i + 2))) for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    vocab = build_vocab(df, "text")
    enc = encode_documents(df, vocab).withColumn("n_ids", F.size("token_ids"))
    lens = {r["doc_id"]: r["n_ids"] for r in enc.collect()}
    assert lens == {i: i + 2 for i in range(12)}  # encoding lost no tokens
    packed = pack_sequences(enc, "doc_id", "n_ids", budget=16)
    out = packed.collect()
    assert sorted(r["doc_id"] for r in out) == list(range(12))  # one bin each
    totals: dict[int, int] = {}
    for r in out:
        totals[r["seq_id"]] = totals.get(r["seq_id"], 0) + lens[r["doc_id"]]
    # documented overflow bound: budget + max doc len - 1
    assert all(t <= 16 + 13 - 1 for t in totals.values())
    assert len(totals) >= 2


def test_boilerplate_fraction_duplicate_id_rows(spark):
    """A document's own duplicate row is not 'another document': the hit
    decision counts DISTINCT ids per span, so same-id duplicates score
    0.0 (a windowed row count would have scored them 1.0)."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.dedup import boilerplate_fraction

    text = "a b c d e f g h unique tail one"
    df = spark.createDataFrame(
        [(1, text), (1, text), (2, "something entirely different and long enough here ok")],
        "doc_id long, text string",
    )
    got = {(r["doc_id"], r["boilerplate_frac"])
           for r in boilerplate_fraction(df, "doc_id", "text").collect()}
    assert got == {(1, 0.0), (2, 0.0)}


def test_excise_repeated_spans_removes_shared_block(spark):
    """The planted licence block vanishes from every doc containing it
    (exactly the block — per-doc unique text survives), untouched docs
    keep their text byte-identical, non-text columns pass through, and
    an all-boilerplate doc becomes an empty string, not a dropped row."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.dedup import (
        excise_repeated_spans,
    )

    lic = "licensed under the apache license version two zero see notice"  # 10 toks
    rows = [
        (1, "alpha intro " + lic + " alpha body ends here", "en"),
        (2, lic + " beta tail", "de"),
        (3, "completely unrelated document body with nothing shared", "fr"),
        (4, lic, "en"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r["doc_id"]: r for r in excise_repeated_spans(df, "doc_id", "text").collect()}
    assert out[1]["text"] == "alpha intro alpha body ends here"
    assert out[2]["text"] == "beta tail"
    assert out[3]["text"] == rows[2][1]
    assert out[4]["text"] == ""
    assert {r_id: out[r_id]["lang"] for r_id in out} == {1: "en", 2: "de", 3: "fr", 4: "en"}


def test_ngram_decontaminate_exact_13gram(spark):
    """A verbatim 13-gram quote of a benchmark doc flags the corpus doc
    (whole-doc Jaccard would never catch it); sharing only 12 tokens
    does not; min_hits=2 requires two distinct leaked grams."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.dedup import (
        ngram_decontaminate,
        ngram_leaks,
    )

    q = "what is the capital of the country directly north of spain answer me"  # 13
    q2 = "name every planet visible to the naked eye from earth tonight please now"  # 13
    bench = spark.createDataFrame([(q + " " + q2,)], "text string")
    corpus = spark.createDataFrame(
        [
            (1, "filler words " + q + " more filler"),              # 1 leak
            (2, "prefix " + " ".join(q.split()[:12]) + " suffix"),  # 12 of 13
            (3, q + " mid " + q2),                                  # 2 leaks
            (4, "nothing in common with the benchmark at all"),
        ],
        "doc_id long, text string",
    )
    leaks = {
        r["doc_id"]: r["n_hits"]
        for r in ngram_leaks(corpus, bench, "doc_id", "text").collect()
    }
    assert set(leaks) == {1, 3}
    assert leaks[1] >= 1 and leaks[3] >= 2
    kept = sorted(
        r["doc_id"]
        for r in ngram_decontaminate(corpus, bench, "doc_id", "text").collect()
    )
    assert kept == [2, 4]
    kept2 = sorted(
        r["doc_id"]
        for r in ngram_decontaminate(
            corpus, bench, "doc_id", "text", min_hits=2
        ).collect()
    )
    assert kept2 == [1, 2, 4]


def test_repeated_lines_and_excision(spark):
    """CCNet-style line dedup: a footer line shared across docs is
    detected and excised whole (inner whitespace of surviving lines
    preserved), within-doc repetition alone does not count, blank lines
    neither match nor vanish, and untouched docs pass through."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.dedup import (
        excise_repeated_lines,
        repeated_lines,
    )

    footer = "subscribe to our newsletter today"
    rows = [
        (1, "real  content one\n" + footer + "\n\nmore body text"),
        (2, footer + "\nsecond doc body"),
        (3, "self\nself\nself\nunique here"),       # within-doc only
        (4, "untouched document\n\nwith blanks"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    hits = {r["line"]: r["n_docs"] for r in repeated_lines(df, "doc_id", "text").collect()}
    assert hits == {footer: 2}
    out = {r["doc_id"]: r["text"] for r in excise_repeated_lines(df, "doc_id", "text").collect()}
    assert out[1] == "real  content one\n\nmore body text"   # double space kept
    assert out[2] == "second doc body"
    assert out[3] == rows[2][1]
    assert out[4] == rows[3][1]
    # trimmed-identity: padded copies of the footer still match
    df2 = spark.createDataFrame(
        [(1, "  " + footer + "  \nbody a"), (2, footer + "\nbody b")],
        "doc_id long, text string",
    )
    out2 = {r["doc_id"]: r["text"] for r in excise_repeated_lines(df2, "doc_id", "text").collect()}
    assert out2 == {1: "body a", 2: "body b"}


def test_normalized_exact_dedup_collapses_reformatted_copies(spark):
    """Fuzzy-exact dedup: case, punctuation, and whitespace variants of
    one text collapse to the min-id survivor (original text preserved),
    while genuinely different texts survive; byte-exact mode keeps all
    variants distinct; the incremental path honors the same identity."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.dedup import (
        content_fingerprints,
        dedup_normal_form,
        exact_dedup_by_hash,
        incremental_dedup,
    )

    rows = [
        (1, "Hello, World!  How are you?"),
        (2, "hello world how are you"),
        (3, "HELLO   world -- how are you??"),
        (4, "a different document entirely"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    norm = {r["doc_id"]: r["n"] for r in df.select("doc_id", dedup_normal_form("text").alias("n")).collect()}
    assert norm[1] == norm[2] == norm[3] == "hello world how are you"
    fuzzy = sorted(r["doc_id"] for r in exact_dedup_by_hash(df, "text", "doc_id", normalize=True).collect())
    assert fuzzy == [1, 4]
    exact = sorted(r["doc_id"] for r in exact_dedup_by_hash(df, "text", "doc_id").collect())
    assert exact == [1, 2, 3, 4]
    # survivor keeps its original punctuation
    kept = {r["doc_id"]: r["text"] for r in exact_dedup_by_hash(df, "text", "doc_id", normalize=True).collect()}
    assert kept[1] == rows[0][1]
    # incremental: a normalized store rejects a reformatted append
    store = content_fingerprints(df.filter("doc_id = 1"), "text", "doc_id", normalize=True)
    batch = spark.createDataFrame([(9, "hello; WORLD: how are you"), (10, "brand new text")], "doc_id long, text string")
    new_rows, new_fps = incremental_dedup(batch, store, "text", "doc_id", normalize=True)
    assert sorted(r["doc_id"] for r in new_rows.collect()) == [10]


def test_score_sample_weights_membership(spark):
    """Per-row keep probability equals the score: 1.0 keeps all, 0.0
    and NULL drop all, and membership is monotone in the score (raising
    a doc's score never drops it)."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.sampling import score_sample

    df = spark.createDataFrame(
        [(i, 1.0 if i < 100 else (0.0 if i < 200 else 0.5)) for i in range(600)]
        + [(900, None)],
        "doc_id long, score double",
    )
    kept = {r["doc_id"] for r in score_sample(df, "doc_id", "score").collect()}
    assert set(range(100)) <= kept                    # score 1.0 all kept
    assert not kept & set(range(100, 200))            # score 0.0 all dropped
    assert 900 not in kept                            # NULL drops
    mid = kept & set(range(200, 600))
    assert 100 <= len(mid) <= 300                     # ~half of 400, hash slack
    # monotone: raising every score to 1.0 keeps a superset
    all_one = {r["doc_id"] for r in score_sample(
        df.withColumn("score", F.lit(1.0)), "doc_id", "score").collect()}
    assert kept - {900} <= all_one


def test_select_to_token_budget_matches_reference(spark):
    """Best-first budget selection equals the in-memory sort-and-scan:
    docs in score-desc order (id tie-break) keep while their starting
    token offset is below the budget — the straddling doc is kept."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.sampling import (
        select_to_token_budget,
    )

    rows = [(i, (i * 37) % 100, 10 + (i * 13) % 50) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, score long, n long")

    ordered = sorted(rows, key=lambda r: (-r[1], r[0]))
    expect, acc = set(), 0
    for i, _, n in ordered:
        if acc < 3000:
            expect.add(i)
        acc += n

    got = {
        r["doc_id"]
        for r in select_to_token_budget(
            df, "doc_id", "n", "score", 3000, partitions=16
        ).collect()
    }
    assert got == expect
    # tiny budget keeps exactly the single best-scored doc
    top = select_to_token_budget(df, "doc_id", "n", "score", 1, partitions=16).collect()
    assert [r["doc_id"] for r in top] == [ordered[0][0]]


def test_select_to_token_budget_wide_partitions_broadcast_offsets(spark):
    """partitions > 1024 must NOT build the prefix-offset lookup as a
    wide literal array (one py4j round-trip per element at plan-build
    time) — the shared _fold_prefix_offsets helper switches to a
    broadcast-joined offsets table, the same fallback pack_sequences
    uses. Asserted on the executed plan AND on result parity with the
    narrow-partition run."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.sampling import (
        select_to_token_budget,
    )

    rows = [(i, (i * 37) % 4000, 10 + (i * 13) % 50) for i in range(4000)]
    df = spark.createDataFrame(rows, "doc_id long, score long, n long")

    wide = select_to_token_budget(df, "doc_id", "n", "score", 20_000, partitions=2048)
    plan = wide._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # offsets table joined, not inlined
    # the literal-array branch would show its element_at(array(...), _pid+1)
    # lookup in the plan; its absence pins the actual contract (a raw
    # comma count would break on unrelated plan-verbosity growth)
    assert "element_at" not in plan

    got = {r["doc_id"] for r in wide.collect()}
    narrow = {
        r["doc_id"]
        for r in select_to_token_budget(
            df, "doc_id", "n", "score", 20_000, partitions=16
        ).collect()
    }
    assert got == narrow and got  # same selected set either way


def test_funnel_ordered_steps(spark):
    """Funnel semantics: earliest-first chaining with strict order —
    a key completing out of order does not count, a stalled key keeps
    NULL later steps, and the within horizon cuts too-slow funnels
    without disqualifying their valid prefix."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.relational import (
        funnel_counts,
        funnel_times,
    )

    rows = [
        # u1 completes in order: view@10, cart@20, buy@30
        ("u1", 10, "view"), ("u1", 20, "cart"), ("u1", 30, "buy"),
        # u2 stalls after cart
        ("u2", 10, "view"), ("u2", 40, "cart"),
        # u3 out of order: buy before view
        ("u3", 5, "buy"), ("u3", 10, "view"),
        # u4 completes but too slowly for within=25: view@0, cart@10, buy@50
        ("u4", 0, "view"), ("u4", 10, "cart"), ("u4", 50, "buy"),
    ]
    df = spark.createDataFrame(
        rows, "user string, tsec long, event string"
    ).select("user", F.col("tsec").cast("timestamp").alias("ts"), "event")
    M = 1_000_000  # times are epoch micros
    t = {
        r["user"]: (r["t1"], r["t2"], r["t3"])
        for r in funnel_times(df, "user", "ts", "event", ["view", "cart", "buy"]).collect()
    }
    assert t["u1"] == (10 * M, 20 * M, 30 * M)
    assert t["u2"] == (10 * M, 40 * M, None)
    assert t["u3"] == (10 * M, None, None)
    assert t["u4"] == (0, 10 * M, 50 * M)
    c = {r["step"]: r["n_keys"] for r in funnel_counts(
        df, "user", "ts", "event", ["view", "cart", "buy"]).collect()}
    assert c == {1: 4, 2: 3, 3: 2}
    c25 = {r["step"]: r["n_keys"] for r in funnel_counts(
        df, "user", "ts", "event", ["view", "cart", "buy"], within_seconds=25).collect()}
    # horizon 25 cuts u2's cart (+30s) and u4's buy (+50s); their valid
    # prefixes still count
    assert c25 == {1: 4, 2: 2, 3: 1}


def test_cohort_retention_triangle(spark):
    """Retention triangle: keys belong to their first-activity cohort,
    re-activity lands in (cohort, elapsed) cells, distinct per period,
    and cell (c, 0) counts the whole cohort."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.relational import (
        cohort_retention,
    )

    d0, d7, d14 = "2024-01-01", "2024-01-08", "2024-01-15"
    rows = [
        ("a", d0), ("a", d0), ("a", d7), ("a", d14),   # w0 cohort, all weeks
        ("b", d0), ("b", d14),                          # w0 cohort, skips w1
        ("c", d7),                                      # w1 cohort, only w1
    ]
    df = spark.createDataFrame(rows, "user string, day string").select(
        "user", F.col("day").cast("timestamp").alias("ts")
    )
    got = {
        (str(r["cohort"])[:10], r["periods_since"]): r["n_active"]
        for r in cohort_retention(df, "user", "ts", "week").collect()
    }
    assert got == {
        (d0, 0): 2, (d0, 1): 1, (d0, 2): 2,
        (d7, 0): 1,
    }
    # month granularity smoke: both January actives fold into one cell
    gotm = {
        (str(r["cohort"])[:10], r["periods_since"]): r["n_active"]
        for r in cohort_retention(df, "user", "ts", "month").collect()
    }
    assert gotm == {("2024-01-01", 0): 3}


def test_repeated_span_hits_sharing_is_equivalent(spark):
    """The hits= sharing contract: boilerplate_fraction and
    excise_repeated_spans produce identical results whether detection
    runs internally or arrives precomputed via
    repeated_span_fingerprints."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.dedup import (
        boilerplate_fraction,
        excise_repeated_spans,
        repeated_span_fingerprints,
    )

    lic = "licensed under the apache license version two zero see notice"
    df = spark.createDataFrame(
        [(1, lic + " alpha body"), (2, lic + " beta body"), (3, "unique doc text")],
        "doc_id long, text string",
    )
    hits = repeated_span_fingerprints(df, "doc_id", "text", 8, 2)
    bf_own = sorted(map(tuple, boilerplate_fraction(df, "doc_id", "text").collect()))
    bf_shared = sorted(
        map(tuple, boilerplate_fraction(df, "doc_id", "text", hits=hits).collect())
    )
    assert bf_own == bf_shared
    ex_own = sorted(map(tuple, excise_repeated_spans(df, "doc_id", "text").collect()))
    ex_shared = sorted(
        map(tuple, excise_repeated_spans(df, "doc_id", "text", hits=hits).collect())
    )
    assert ex_own == ex_shared


def test_incremental_near_dedup_store_semantics(spark):
    """The steady-state near-dedup: appends verify against the at-rest
    store (text never re-read). Store-wins at FAMILY level — a batch doc
    near-dup of a store doc drops, and so does its whole batch-internal
    family; untainted batch families keep min-id; fresh docs land and
    extend the store for the next append."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.dedup import (
        incremental_near_dedup,
        near_dup_store,
    )

    base_doc = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16"
    corpus = spark.createDataFrame(
        [(1, base_doc), (2, "entirely different stored document body here ok")],
        "doc_id long, text string",
    )
    banded, shfps = near_dup_store(corpus, "doc_id", "text")
    batch1 = spark.createDataFrame(
        [
            (10, base_doc + " x1 x2"),          # near-dup of store doc 1
            (11, base_doc + " x1 x2 y1 y2"),    # near-dup of 10, not of 1 at 0.7
            (12, "a wholly fresh document with its own unique tokens one"),
            (13, "a wholly fresh document with its own unique tokens one two"),  # near-dup of 12
            (14, "completely unrelated new content nothing shared with anything"),
        ],
        "doc_id long, text string",
    )
    new_rows, nb, nf = incremental_near_dedup(
        batch1, banded, shfps, "doc_id", "text", threshold=0.7, strict=True
    )
    kept = sorted(r["doc_id"] for r in new_rows.collect())
    # 10 matched the store; 11 is in 10's family -> both gone (family
    # store-wins). 12/13 collapse to min-id 12. 14 fresh.
    assert kept == [12, 14]
    assert sorted(set(r["_id"] for r in nb.collect())) == [12, 14]
    assert sorted(set(r["_id"] for r in nf.collect())) == [12, 14]

    # append 2 dedups against base + append-1 survivors
    banded2, shfps2 = banded.unionByName(nb), shfps.unionByName(nf)
    batch2 = spark.createDataFrame(
        [
            (20, "a wholly fresh document with its own unique tokens one three"),  # ~12
            (21, "never seen before text completely novel in every way"),
        ],
        "doc_id long, text string",
    )
    new2, _, _ = incremental_near_dedup(
        batch2, banded2, shfps2, "doc_id", "text", threshold=0.7, strict=True
    )
    assert sorted(r["doc_id"] for r in new2.collect()) == [21]


def test_store_signatures_equal_text_signatures(spark):
    """The store's banding (signed from its shingle fingerprints) is
    identical to banding minhash_signatures over the text — so store
    and batch band into the same buckets."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.dedup import (
        _banded,
        minhash_signatures,
        near_dup_store,
    )

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "pack my box with five dozen liquor jugs"),
            (3, "sphinx of black quartz judge my vow"),
        ],
        "doc_id long, text string",
    )
    from_text = sorted(
        map(tuple, _banded(minhash_signatures(df, "doc_id", "text", 64), 64, 16).collect())
    )
    banded, _ = near_dup_store(df, "doc_id", "text")
    assert sorted(map(tuple, banded.collect())) == from_text
    assert len(from_text) == 3 * 16


def test_null_text_docs_make_no_lsh_candidates(spark):
    """A NULL text shingles to [NULL], one shared signature: NULL-text
    docs must not pair with each other in LSH, and semantic_dedup keeps
    every one of them (the verify could never confirm such a pair)."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.dedup import (
        lsh_candidate_pairs,
        semantic_dedup,
    )

    base = "the quick brown fox jumps over the lazy dog again and again ok"
    df = spark.createDataFrame(
        [(1, None), (2, None), (3, None), (4, None), (5, base), (6, base + " x1")],
        "doc_id long, text string",
    )
    pairs = [(r["id_a"], r["id_b"]) for r in lsh_candidate_pairs(df, "doc_id", "text").collect()]
    assert pairs == [(5, 6)]
    kept = sorted(
        r["doc_id"] for r in semantic_dedup(df, "doc_id", "text", threshold=0.5).collect()
    )
    assert kept == [1, 2, 3, 4, 5]


def test_scrub_repeated_spans_matches_standalone_pair(spark):
    # the one-pass gate+excise must be RESULT-IDENTICAL to
    # boilerplate_fraction + excise_repeated_spans sharing a hits
    # table, across the edge shapes: planted block, short doc, blank
    # doc, fully-boilerplate doc
    from big_data___knowledge_graph_construction_with_llm_spark.materialize import materialize
    from big_data___knowledge_graph_construction_with_llm_spark.operators.dedup import (
        boilerplate_fraction,
        excise_repeated_spans,
        repeated_span_fingerprints,
        scrub_repeated_spans,
    )

    boiler = "this content is licensed under the example public licence v1"
    rows = []
    for i in range(120):
        t = (
            f"doc {i} body alpha{i % 7} beta{i % 11} gamma delta epsilon "
            f"zeta eta theta iota word{i}"
        )
        if i % 5 == 0:
            t = t + " " + boiler
        if i % 29 == 0:
            t = "short doc"
        if i % 31 == 0:
            t = ""
        if i % 37 == 0:
            t = boiler
        rows.append((i, t))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    hits = materialize(repeated_span_fingerprints(df, "doc_id", "text", 8, 2))
    bf = {
        r["doc_id"]: r["boilerplate_frac"]
        for r in boilerplate_fraction(
            df, "doc_id", "text", 8, 2, hits=hits
        ).collect()
    }
    ex = {
        r["doc_id"]: r["text"]
        for r in excise_repeated_spans(
            df, "doc_id", "text", 8, 2, hits=hits
        ).collect()
    }
    got = {
        r["doc_id"]: r
        for r in scrub_repeated_spans(df, "doc_id", "text", 8, 2).collect()
    }
    assert set(got) == set(bf) == set(ex)
    for i, r in got.items():
        assert abs(r["boilerplate_frac"] - bf[i]) < 1e-12, i
        assert r["text"] == ex[i], i


def test_scrub_repeated_spans_single_span_explode(spark):
    # the whole point: ONE positional span explode feeds detection,
    # fraction and rebuild — the standalone pair + shared hits costs
    # three. Count Generate(posexplode(shingles...)) nodes fed by the
    # text column in the analyzed plan.
    from big_data___knowledge_graph_construction_with_llm_spark.operators.dedup import (
        scrub_repeated_spans,
    )

    df = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta eta theta tail{i}") for i in range(30)],
        "doc_id long, text string",
    )
    plan = (
        scrub_repeated_spans(df, "doc_id", "text", 8, 2)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    # the span explode ran ONCE inside materialize — every consumer in
    # the final plan reads the same LogicalRDD leaf, so the plan holds
    # ZERO shingle explodes and exactly one token posexplode (the
    # affected-docs rebuild)
    assert plan.count("slice(split(") == 0
    assert plan.count("posexplode") == 1
    assert plan.count("LogicalRDD") >= 3  # pos_spans reused + covered + hits


def test_bm25_hand_computed(spark):
    """Hand-computed BM25 (Lucene-shaped idf, k1=1.2, b=0.75) on a
    3-doc corpus; deterministic id tiebreak."""
    import math

    from big_data___knowledge_graph_construction_with_llm_spark.operators.text import bm25_topk

    df = spark.createDataFrame(
        [(1, "spark spark joins"), (2, "spark sql"), (3, "python pandas")],
        "doc_id long, text string",
    )
    got = [
        (r["id"], r["score"])
        for r in bm25_topk(df, "doc_id", "text", "spark joins", k=3).collect()
    ]
    n, avgdl = 3, 7 / 3
    idf_s = math.log(1 + (n - 2 + 0.5) / (2 + 0.5))
    idf_j = math.log(1 + (n - 1 + 0.5) / (1 + 0.5))

    def tfn(tf, dl):
        return tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))

    d1 = round(idf_s * tfn(2, 3) + idf_j * tfn(1, 3), 4)
    d2 = round(idf_s * tfn(1, 2), 4)
    assert got == [(1, d1), (2, d2)]
    with pytest.raises(ValueError, match="empty query"):
        bm25_topk(df, "doc_id", "text", "   ")


def test_bm25_indexed_at_rest_point_lookup(spark, tmp_path):
    """The steady-state retrieval shape: a text_index posting table
    written clustered + bloomed on term serves a BM25 query as a
    file-skipping point lookup — same answer as the one-shot corpus
    scan, opening a fraction of the index's files."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators import layout
    from big_data___knowledge_graph_construction_with_llm_spark.operators.text import (
        bm25_topk,
        bm25_topk_indexed,
        text_index,
    )

    docs = spark.range(400).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("term"),
            (F.col("id") / 4).cast("int").cast("string"),
            F.lit(" common filler"),
        ).alias("text"),
    )
    idx = text_index(docs, "doc_id", "text")
    root = f"{tmp_path}/bm25idx"
    layout.write_table(
        idx.repartitionByRange(8, "term").sortWithinPartitions("term"),
        root,
        bloom_cols=["term"],
        bloom_fpp=0.001,
    )
    postings = layout.read_table(
        spark, root, where=("term", "in", ["term3", "term77"])
    )
    got = bm25_topk_indexed(
        postings, "term3 term77", k=5, n_docs=400, avgdl=3.0
    )
    direct = bm25_topk(docs, "doc_id", "text", "term3 term77", k=5)
    assert [tuple(r) for r in got.collect()] == [
        tuple(r) for r in direct.collect()
    ]
    # the lookup opened only the files bloom/spans kept, not the index
    assert 0 < len(postings.inputFiles()) <= 3
    # auto-derived stats path (in-memory index): same scores
    auto = bm25_topk_indexed(idx, "term3 term77", k=5)
    assert [tuple(r) for r in auto.collect()] == [
        tuple(r) for r in direct.collect()
    ]


def test_bm25_max_df_hot_term_guard(spark):
    """max_df_frac drops stopword-grade terms from scoring (same
    result as querying without them) and refuses an all-hot query."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.text import bm25_topk

    rows = [(i, f"the filler{i} common") for i in range(20)]
    rows.append((99, "the rare common"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # 'the' df = 21/21 docs; 'rare' df = 1 — capping at 0.5 removes
    # exactly the hot term's contribution
    capped = bm25_topk(df, "doc_id", "text", "the rare", max_df_frac=0.5)
    only_rare = bm25_topk(df, "doc_id", "text", "rare")
    assert [tuple(r) for r in capped.collect()] == [
        tuple(r) for r in only_rare.collect()
    ]
    with pytest.raises(ValueError, match="max_df_frac"):
        bm25_topk(df, "doc_id", "text", "the common", max_df_frac=0.5)


def test_bm25_index_maintained_through_ingest_absorb(spark, tmp_path):
    """The DEPLOYMENT recipe pinned: maintain the posting index like
    any ingest table — land new docs' postings with landing_append,
    absorb incrementally, and bm25 over the live view (with stats
    recomputed at absorb time) equals a from-scratch rebuild."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators import layout
    from big_data___knowledge_graph_construction_with_llm_spark.operators.text import (
        bm25_topk,
        bm25_topk_indexed,
        text_index,
    )

    root = f"{tmp_path}/idx"
    corpus0 = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("term"),
            (F.col("id") / 4).cast("int").cast("string"),
            F.lit(" common filler"),
        ).alias("text"),
    )
    layout.write_table(text_index(corpus0, "doc_id", "text"), root)
    # two later batches land new docs' postings
    batches = [
        spark.range(200, 260).select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit("term"),
                (F.col("id") / 4).cast("int").cast("string"),
                F.lit(" common filler extra"),
            ).alias("text"),
        ),
        spark.range(260, 300).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("term3 bonus "), F.lit("filler")).alias("text"),
        ),
    ]
    for i, b in enumerate(batches):
        layout.landing_append(text_index(b, "doc_id", "text"), root, batch_id=i)
    layout.absorb_landing(spark, root, min_batches=1, incremental=True)
    live = layout.read_ingest_table(spark, root).select(
        "term", "id", "tf", "dl"
    )
    stats = (
        live.select("id", "dl")
        .distinct()
        .agg(F.count("*").alias("n"), F.avg("dl").alias("avgdl"))
        .collect()[0]
    )
    got = bm25_topk_indexed(
        live.filter(F.col("term").isin(["term3", "bonus"])),
        "term3 bonus",
        k=8,
        n_docs=stats["n"],
        avgdl=float(stats["avgdl"]),
    )
    full = corpus0.unionByName(batches[0]).unionByName(batches[1])
    want = bm25_topk(full, "doc_id", "text", "term3 bonus", k=8)
    assert [tuple(r) for r in got.collect()] == [
        tuple(r) for r in want.collect()
    ]


def test_bm25_hot_term_guard_absent_terms_empty_not_raise(spark):
    """A query whose terms are simply ABSENT from the corpus is a
    legitimate no-hit query: under max_df_frac it must return the
    empty top-k exactly like the unguarded path, not raise. Only
    'all present terms exceed the cap' keeps the refusal."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.text import bm25_topk

    rows = [(i, f"the filler{i} common") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    guarded = bm25_topk(df, "doc_id", "text", "zzz qqq", max_df_frac=0.5)
    assert guarded.collect() == []
    unguarded = bm25_topk(df, "doc_id", "text", "zzz qqq")
    assert unguarded.collect() == []
    # present-but-hot terms still refuse the corpus-sized scoring pass
    with pytest.raises(ValueError, match="max_df_frac"):
        bm25_topk(df, "doc_id", "text", "the common", max_df_frac=0.1)


def test_bm25_stats_sidecar_serving_and_batch(spark, tmp_path):
    """write_text_index lands (n_docs, avgdl) inside the generation's
    commit point; bm25_query_table serves from it with ZERO Spark
    stats jobs (the sidecar is one filesystem read, cached on the
    handle); bm25_topk_many scores every query in one pass and matches
    the per-query loop exactly."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators import layout
    from big_data___knowledge_graph_construction_with_llm_spark.operators.text import (
        bm25_query_table,
        bm25_topk,
        bm25_topk_indexed,
        bm25_topk_many,
        read_bm25_stats,
        write_text_index,
    )

    docs = spark.range(400).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("term"),
            (F.col("id") / 4).cast("int").cast("string"),
            F.lit(" common filler"),
        ).alias("text"),
    )
    root = f"{tmp_path}/idx"
    gen = write_text_index(docs, "doc_id", "text", root, shards=8, bloom_fpp=0.001)
    assert read_bm25_stats(spark, root) == (400, 3.0)
    sc = spark.sparkContext
    before = len(sc.statusTracker().getJobIdsForGroup(None))
    assert read_bm25_stats(spark, root, generation=gen) == (400, 3.0)
    assert len(sc.statusTracker().getJobIdsForGroup(None)) == before

    q = "term3 term77"
    direct = [tuple(r) for r in bm25_topk(docs, "doc_id", "text", q, k=5).collect()]
    got = [tuple(r) for r in bm25_query_table(spark, root, q, k=5).collect()]
    assert got == direct
    handle = layout.open_table(spark, root)
    hgot = [
        tuple(r) for r in bm25_query_table(spark, root, q, k=5, handle=handle).collect()
    ]
    assert hgot == direct
    assert handle._bm25_stats == (400, 3.0)  # cached: later queries read nothing
    handle.close()

    # batch form: one pass over the union of probed terms == per-query loop
    qs = [(0, "term3 term77"), (1, "common filler"), (2, "term1 absentzz")]
    queries = spark.createDataFrame(qs, "query_id long, query string")
    full_idx = layout.read_table(spark, root)
    many = bm25_topk_many(full_idx, queries, k=5, n_docs=400, avgdl=3.0)
    by_q: dict = {}
    for r in many.collect():
        by_q.setdefault(r["query_id"], []).append((r["id"], r["score"]))
    for qid, text in qs:
        want = [
            (r["id"], r["score"])
            for r in bm25_topk_indexed(
                full_idx, text, k=5, n_docs=400, avgdl=3.0
            ).collect()
        ]
        got_q = sorted(by_q.get(qid, []), key=lambda t: (-t[1], t[0]))
        assert got_q == want, f"query {qid}: batch != per-query"

    # max_df_frac in batch form: an all-hot query contributes no rows
    # (never raises for one bad query); the selective one still answers
    hotq = spark.createDataFrame(
        [(0, "common"), (1, "term3")], "query_id long, query string"
    )
    res = bm25_topk_many(
        full_idx, hotq, k=5, n_docs=400, avgdl=3.0, max_df_frac=0.5
    ).collect()
    qids = {r["query_id"] for r in res}
    assert qids == {1}


def test_refresh_bm25_stats_after_incremental_absorb(spark, tmp_path):
    """Incremental absorbs write delta generations WITHOUT a stats
    sidecar; refresh_bm25_stats retrofits one onto the live generation,
    after which serving is back to
    zero stats jobs — and a corrupt/torn sidecar reads as absence, not
    a crash."""
    from big_data___knowledge_graph_construction_with_llm_spark import fsutil
    from big_data___knowledge_graph_construction_with_llm_spark.operators import layout
    from big_data___knowledge_graph_construction_with_llm_spark.operators.text import (
        BM25_STATS_FILE,
        bm25_query_table,
        bm25_topk,
        read_bm25_stats,
        refresh_bm25_stats,
        text_index,
        write_text_index,
    )

    root = f"{tmp_path}/idx"
    corpus0 = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("term"),
            (F.col("id") / 4).cast("int").cast("string"),
            F.lit(" common filler"),
        ).alias("text"),
    )
    write_text_index(corpus0, "doc_id", "text", root, shards=4)
    assert read_bm25_stats(spark, root) == (100, 3.0)
    batch = spark.range(100, 140).select(
        F.col("id").alias("doc_id"),
        F.lit("term3 bonus filler extra").alias("text"),
    )
    layout.landing_append(text_index(batch, "doc_id", "text"), root, batch_id=0)
    layout.absorb_landing(spark, root, min_batches=1, incremental=True)
    # the delta generation the absorb committed has no sidecar
    assert read_bm25_stats(spark, root) is None
    stats = refresh_bm25_stats(spark, root)
    assert stats == (140, (100 * 3 + 40 * 4) / 140)
    assert read_bm25_stats(spark, root) == stats
    full = corpus0.unionByName(batch)
    want = [
        tuple(r) for r in bm25_topk(full, "doc_id", "text", "term3 bonus", k=8).collect()
    ]
    got = [
        tuple(r)
        for r in bm25_query_table(spark, root, "term3 bonus", k=8).collect()
    ]
    assert got == want
    # corrupt sidecar reads as absence (fallback recompute), never a crash
    gen = layout._resolve_table_generation(spark, root)
    fsutil.write_text(spark, f"{gen}/{BM25_STATS_FILE}", "{not json")
    assert read_bm25_stats(spark, root) is None
    got2 = [
        tuple(r)
        for r in bm25_query_table(spark, root, "term3 bonus", k=8).collect()
    ]
    assert got2 == want


def test_bm25_topk_many_empty_index_stats_fallback(spark):
    """The batch form's stats fallback on an EMPTY index (fresh table,
    all docs filtered) returns the empty top-k for every query — not a
    TypeError from float(None)."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.text import bm25_topk_many

    empty = spark.createDataFrame(
        [], "term string, id long, tf bigint, dl int"
    )
    qdf = spark.createDataFrame(
        [(0, "vector join")], "query_id long, query string"
    )
    assert bm25_topk_many(empty, qdf, k=5).collect() == []


def test_bm25_query_table_many_serving_parity(spark, tmp_path):
    """Batch serving against the at-rest index: per-query results equal
    the single-query serving path, the posting read file-skips to the
    UNION of the batch's terms, and the stats come from the sidecar
    (cached on the handle)."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators import layout
    from big_data___knowledge_graph_construction_with_llm_spark.operators.text import (
        bm25_query_table,
        bm25_query_table_many,
        write_text_index,
    )

    docs = spark.range(400).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("term"),
            (F.col("id") / 4).cast("int").cast("string"),
            F.lit(" common filler"),
        ).alias("text"),
    )
    root = f"{tmp_path}/idx"
    write_text_index(docs, "doc_id", "text", root, shards=8, bloom_fpp=0.001)
    qs = [(0, "term3 term77"), (1, "term12 common"), (2, "absentzz qqq")]
    qdf = spark.createDataFrame(qs, "query_id long, query string")
    many = bm25_query_table_many(spark, root, qdf, k=5)
    by_q: dict = {}
    for r in many.collect():
        by_q.setdefault(r["query_id"], []).append((r["id"], r["score"]))
    for qid, text in qs:
        if "absentzz" in text:
            assert qid not in by_q  # no-hit query: no rows, no raise
            continue
        want = [
            tuple(r) for r in bm25_query_table(spark, root, text, k=5).collect()
        ]
        got = sorted(by_q[qid], key=lambda t: (-t[1], t[0]))
        assert got == want, f"query {qid}"
    # handle path: parity + sidecar cached after the first batch
    handle = layout.open_table(spark, root)
    many_h = bm25_query_table_many(spark, root, qdf, k=5, handle=handle)
    a = sorted(tuple(r) for r in many.collect())
    b = sorted(tuple(r) for r in many_h.collect())
    assert a == b
    assert handle._bm25_stats == (400, 3.0)
    # the pruned read opens a fraction of the index's files
    postings = handle.read(
        where=("term", "in", ["common", "term12", "term3", "term77"])
    )
    assert 0 < len(postings.inputFiles()) < 8
    handle.close()
    with pytest.raises(ValueError, match="empty batch"):
        bm25_query_table_many(
            spark,
            root,
            spark.createDataFrame([(0, "   ")], "query_id long, query string"),
        )


def test_bm25_batch_unicode_tokenization_and_dup_id_guard(spark):
    """r14 ADVICE fixes on the batch BM25 forms: (a) batch queries
    tokenize by the SAME rule as the single-query path — Python
    str.split's Unicode whitespace — so a non-breaking-space query
    produces identical terms (and scores) in both forms; (b) a batch
    frame carrying duplicate query ids raises instead of silently
    summing two queries' contributions into one doubled-score row."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.text import (
        bm25_topk_indexed,
        bm25_topk_many,
        text_index,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta common"),
            (2, "alpha common filler"),
            (3, "beta gamma filler"),
            (4, "delta common filler"),
        ],
        "doc_id long, text string",
    )
    idx = text_index(docs, "doc_id", "text")
    # NBSP-separated query: Python str.split splits it, Java \\s+ does
    # not — single and batch must agree (on the SPLIT interpretation)
    q = "alpha\u00a0beta"
    want = [
        tuple(r)
        for r in bm25_topk_indexed(idx, q, k=4, n_docs=4, avgdl=3.0).collect()
    ]
    assert want  # the single form found both terms
    qdf = spark.createDataFrame([(0, q)], "query_id long, query string")
    got = sorted(
        ((r["id"], r["score"]) for r in
         bm25_topk_many(idx, qdf, k=4, n_docs=4, avgdl=3.0).collect()),
        key=lambda t: (-t[1], t[0]),
    )
    assert got == [t for t in want]
    # duplicate query ids: loud, not a doubled-score merge
    dup = spark.createDataFrame(
        [(7, "alpha"), (7, "beta")], "query_id long, query string"
    )
    with pytest.raises(ValueError, match="duplicate query_id"):
        bm25_topk_many(idx, dup, k=4, n_docs=4, avgdl=3.0)


def test_ngram_jaccard_prune_to_pairs_is_result_identical(spark):
    """r14: prune_to_pairs is a pure execution knob — the semi-join
    prune must not change a single pair's jaccard, including docs that
    appear only on one side of the pair list and docs absent from it."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    df = spark.createDataFrame(
        [
            (1, "a b c d e f"),
            (2, "a b c d e z"),
            (3, "totally different words here now"),
            (4, "a b c d e f"),
            (5, "unrelated filler never in any pair"),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 4), (2, 3)], "id_a long, id_b long"
    )
    plain = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, "doc_id", "text", pairs).collect()
    }
    pruned = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", pairs, prune_to_pairs=True
        ).collect()
    }
    assert plain == pruned
    # zero-intersection pairs don't surface (inner-join semantics,
    # unchanged from the pre-r14 shape)
    assert plain[(1, 4)] == 1.0 and (2, 3) not in plain


def test_with_lang_guess_matches_column_form(spark):
    """r14: the staged frame form must produce exactly the column
    form's guesses — same markers, same alphabetical tie-break, same
    'und' for marker-free and empty text."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.text import (
        lang_guess,
        with_lang_guess,
    )

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox and the lazy dog"),
            (2, "der hund und die katze sind im haus"),
            (3, "el perro y la casa de los gatos"),
            (4, "le chien et la maison des chats"),
            (5, "zzz qqq www"),
            (6, ""),
            (7, "the der el le"),  # 4-way tie -> alphabetical
        ],
        "doc_id long, text string",
    )
    col_form = {
        r["doc_id"]: r["g"]
        for r in df.select("doc_id", lang_guess("text").alias("g")).collect()
    }
    frame_form = {
        r["doc_id"]: r["guess"]
        for r in with_lang_guess(df, "text", keep=["doc_id"]).collect()
    }
    assert frame_form == col_form
