"""Deduplication operators for LLM-training-data pipelines (EXT surface).

Exact dedup generalizes the reference's ``drop_duplicates``
(``Art-Knowledge-Graph-AWS/ingestion/DataIngestionBatch.py:60``); the
near-dup family (MinHash+LSH, SimHash, n-gram Jaccard) is the 100 TB
extension. Hashing, shingling and verification are built-in functions —
``xxhash64``, higher-order array functions, ``array_intersect`` — so
they stay in the JVM / whole-stage codegen. The one Python leg is the
MinHash minima of :func:`_sign`: a single Arrow-batched ``mapInArrow``
kernel (numpy over list offsets, no per-row Python), so signatures need
no shuffle. No row-at-a-time Python UDFs anywhere in this module.

Each kernel has one implementation, shared by the batch path and the
at-rest near-dup store: :func:`_sign` signs text-derived and
store-derived hash arrays alike, :func:`_set_jaccard` verifies over
shingle strings or their stored fingerprints, :func:`_self_pairs` and
:func:`_cross_from_sides` are the only bucket joins, and
:func:`_excise_units` is the one token/line excision rebuild.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from big_data___knowledge_graph_construction_with_llm_spark.materialize import materialize

log = logging.getLogger(__name__)

# Mersenne primes for universal hashing (public-domain constants).
# The 31-bit prime is used wherever two hash-domain values are multiplied:
# (p31-1)^2 < 2^63, so the arithmetic never overflows int64 and the
# operators are safe under Spark's default ANSI mode.
_MERSENNE = (1 << 61) - 1
_P31 = (1 << 31) - 1


def exact_dedup(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Exact dedup on a column subset (hash-shuffle on the subset).

    At 100 TB, dedup on a long text column should hash the column first so
    the shuffle key is 8 bytes, not the document: that is what
    ``exact_dedup_by_hash`` does.
    """
    return df.dropDuplicates(cols) if cols else df.dropDuplicates()


def dedup_normal_form(col: str | F.Column) -> F.Column:
    """The fuzzy-exact dedup identity (CCNet-style): lowercase,
    punctuation → space, whitespace collapsed, trimmed. Catches
    trivially reformatted copies — case changes, punctuation variants,
    re-wrapped whitespace — that byte-exact identity keeps as distinct.
    NOT a linguistic normalizer (see ``functions.normalize`` for label/
    relation normalization); this exists only to widen the equality
    class ``content_fingerprints(..., normalize=True)`` hashes."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(c), r"\p{Punct}", " "), r"\s+", " "
        )
    )


def exact_dedup_by_hash(
    df: DataFrame,
    text_col: str,
    id_col: str,
    normalize: bool = False,
) -> DataFrame:
    """Keep one representative (min id) per distinct text.

    The fingerprint is (xxhash64, md5) = 192 bits: a single 64-bit hash
    has expected birthday collisions at corpus sizes this module targets
    (~40% chance of one at 2^32 docs), which would silently merge two
    DIFFERENT documents; at 192 bits the collision probability is
    negligible at any physical corpus size. The fingerprint definition
    is ``content_fingerprints`` — the SAME projection the incremental
    at-rest store uses, so a full-corpus pass and append-batch dedup
    can never disagree.

    Shape: ONE hash exchange of the rows keyed by the fingerprint,
    ``min_by`` keeping the min-id row per group — shuffle volume ≈ input
    at every scale (map-side partial aggregation trims it further where
    duplicates co-locate), and no join to turn into a sort-merge of the
    corpus past the broadcast threshold.

    Steady state at 100 TB should not run a full pass per batch:
    dedup appends against the at-rest fingerprint store
    (:func:`incremental_dedup`), which never re-reads or re-shuffles
    the corpus.

    ``normalize=True`` hashes :func:`dedup_normal_form` of the text
    instead of the raw bytes (fuzzy-exact dedup — reformatted copies
    collapse); survivors keep their ORIGINAL text.
    """
    t = dedup_normal_form(text_col) if normalize else F.col(text_col)
    keyed = df.withColumn("_h64", F.xxhash64(t)).withColumn(
        "_h128", F.md5(t.cast("string"))
    )
    return (
        keyed.groupBy("_h64", "_h128")
        .agg(F.min_by(F.struct(*df.columns), F.col(id_col)).alias("_keep"))
        .select("_keep.*")
    )


def shingles(text_col: str, n: int = 3) -> F.Column:
    """Token n-gram shingles of a text column as an array<string>.

    The token array is bound to a lambda variable via a one-element-array
    ``transform`` so it is evaluated ONCE per row. Referencing the
    ``split`` expression directly inside the per-shingle lambda would
    re-run the regex split for every shingle — O(tokens²) per document.
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")

    def _gen(t: F.Column) -> F.Column:
        k = F.greatest(F.size(t) - F.lit(n - 1), F.lit(1))
        return F.transform(
            F.sequence(F.lit(0), k - 1),
            lambda i: F.array_join(F.slice(t, i + 1, n), " "),
        )

    return F.flatten(F.transform(F.array(toks), _gen))


def minhash_signature(
    shingle_col: F.Column, num_hashes: int = 64, seed: int = 7
) -> F.Column:
    """MinHash signature (array<bigint>, length ``num_hashes``) as pure
    array expressions — per-row, zero shuffle.

    Universal hash family h_i(x) = (a_i * xxhash64(x) + b_i) mod p, with
    fixed (a_i, b_i) derived from ``seed`` so the signature is
    deterministic across runs and cluster sizes.

    NOTE: inlining the shingle pipeline into ``num_hashes`` array passes
    makes a huge codegen unit; for the hot path use
    ``minhash_signatures`` (one hash array per row, minima in an Arrow
    kernel) instead — same hash family, same output, far cheaper. This
    column form is kept for composability on already-small inputs and
    as the reference the tests pin ``minhash_signatures`` against.
    """
    rnd = _lcg_params(num_hashes, seed)
    base = F.transform(shingle_col, lambda s: F.pmod(F.xxhash64(s), F.lit(_P31)))
    sig = []
    for a, b in rnd:
        hashed = F.transform(
            base, lambda h: F.pmod(h * F.lit(a) + F.lit(b), F.lit(_P31))
        )
        sig.append(F.array_min(hashed))
    return F.array(*sig)


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    seed: int = 7,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signatures as ``(_id, _m0.._m{n-1})``, row-local — no
    shuffle, no aggregate plan.

    The JVM computes each document's shingle-hash array
    (``transform(shingles, pmod(xxhash64, P31))``); one Arrow kernel
    (``mapInArrow``) then takes all ``num_hashes`` minima of
    ``(a*h + b) mod P31`` with numpy over the list offsets
    (``minimum.reduceat``). Why not explode + ``groupBy(id)`` with
    ``num_hashes`` min-aggregates: that pays an exchange plus the
    planning of a 64-aggregate plan per call, which dominates at batch
    sizes (a few hundred docs), and per-row minima need no shuffle.

    Bit-identical to :func:`minhash_signature`: h, a, b < 2^31, so every
    product stays under 2^62 and int64 numpy arithmetic equals Spark's
    long arithmetic. A NULL text hashes as one NULL shingle (its
    ``shingles`` array is ``[NULL]``); a row whose hash array is empty
    or NULL yields no signature. One row out per row in: ids are
    expected unique, as every caller provides.
    """
    hashes = df.select(
        F.col(id_col).alias("_id"),
        F.transform(
            shingles(text_col, shingle_n),
            lambda s: F.pmod(F.xxhash64(s), F.lit(_P31)),
        ).alias("_h"),
    )
    return _sign(hashes, num_hashes, seed)


def _sign(hashes: DataFrame, num_hashes: int, seed: int) -> DataFrame:
    """MinHash signatures ``(_id, _m0.._m{n-1})`` of an ``(_id, _h)``
    frame of per-doc shingle-hash arrays (values in ``[0, P31)``) — the
    one signing kernel behind :func:`minhash_signatures` and the
    near-dup store."""
    schema = T.StructType(
        [hashes.schema["_id"]]
        + [T.StructField(f"_m{i}", T.LongType()) for i in range(num_hashes)]
    )
    return hashes.mapInArrow(
        _minhash_batches(_lcg_params(num_hashes, seed), schema.names), schema
    )


def _minhash_batches(params: list[tuple[int, int]], names: list[str]):
    """The ``mapInArrow`` body of :func:`minhash_signatures`: per Arrow
    batch, the row-wise minimum of every hash function over each row's
    slice of the flattened hash values."""

    def run(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            ids, hs = batch.column(0), batch.column(1)
            offs = hs.offsets.to_numpy()
            keep = np.diff(offs) > 0
            if hs.null_count:
                keep &= hs.is_valid().to_numpy(zero_copy_only=False)
            # reduceat over interleaved (start, end) bounds: the even
            # slots are exactly each kept row's [start, end) minimum, so
            # empty, NULL and sliced-away ranges never leak in; the
            # trailing sentinel keeps end == len(values) a valid index
            bounds = np.empty(2 * int(keep.sum()), dtype=np.int64)
            bounds[0::2] = offs[:-1][keep]
            bounds[1::2] = offs[1:][keep]
            vals = hs.values.to_numpy(zero_copy_only=False)
            buf = np.zeros(len(vals) + 1, dtype=np.int64)
            cols = [ids.filter(pa.array(keep))]
            for a, b in params:
                np.multiply(vals, a, out=buf[:-1])
                buf[:-1] += b
                np.remainder(buf[:-1], _P31, out=buf[:-1])
                mins = np.minimum.reduceat(buf, bounds)[0::2] if len(bounds) else bounds
                cols.append(pa.array(mins, pa.int64()))
            yield pa.RecordBatch.from_arrays(cols, names=names)

    return run


def _lcg_params(n: int, seed: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs via a splitmix-style integer sequence
    (pure arithmetic; no RNG objects so executors/driver always agree)."""
    out = []
    x = seed & 0xFFFFFFFFFFFFFFFF
    for _ in range(n):
        x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        z = x
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        z ^= z >> 31
        a = (z % (_P31 - 1)) + 1
        b = (z >> 13) % _P31
        out.append((a, b))
    return out


def _banded(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """Explode a ``(_id, _m0.._m{n-1})`` signature frame into
    ``(_id, band, bucket)`` rows; band bucket = xxhash64 over that band's
    signature columns directly — no array assembly/slicing needed."""
    rows_per_band = num_hashes // bands
    return sig.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[
                                F.col(f"_m{j}")
                                for j in range(
                                    b * rows_per_band, (b + 1) * rows_per_band
                                )
                            ]
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def _cap_buckets(
    banded: DataFrame, max_bucket: int | None, keys: list[str]
) -> DataFrame:
    """Drop rows in candidate buckets larger than ``max_bucket`` BEFORE the
    self-join — the skew backstop every banded-LSH deployment needs.

    A bucket of size s yields s·(s-1)/2 pairs: one boilerplate bucket of
    10⁶ docs is 5·10¹¹ pairs, which no verify stage survives. Capping
    skips such buckets entirely (bounding join output at
    ``buckets × max_bucket²/2``) and is the standard recall trade: docs in
    an over-full bucket are near-duplicates of *something* en masse and
    are better handled by the exact-dedup pass that precedes LSH.

    Shape: bucket sizes come from a partial-aggregated count (map-side
    combined — the shuffle carries one row per distinct bucket, not per
    doc), the OVERSIZED set is kept (tiny by definition: it is the
    pathology list), and the banded table anti-joins against its
    broadcast. No full-row window sort, no new shuffle of the corpus.
    """
    if max_bucket is None:
        return banded
    oversize = (
        banded.groupBy(*keys)
        .agg(F.count("*").alias("_bsz"))
        .filter(F.col("_bsz") > max_bucket)
        .select(*keys)
    )
    return banded.join(F.broadcast(oversize), keys, "left_anti")


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """MinHash-LSH near-duplicate candidate pairs.

    shingle → minhash signature → band → bucket-hash → self-equi-join on
    (band, bucket). The only shuffle is on the 16-byte (band, bucket) key;
    document text never moves. Output: ``(id_a, id_b)`` with
    ``id_a < id_b``, distinct.

    Scale note: band buckets are the classic skew point (boilerplate docs
    collapse into one bucket). AQE skew-join splitting handles moderate
    skew; ``max_bucket`` is the hard backstop — buckets above it are
    skipped before the join (see ``_cap_buckets``). Always set it at
    scale; ``None`` keeps exhaustive small-data semantics.
    """
    if num_hashes % bands:
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes}); a remainder "
            "would silently drop signature columns and change LSH recall"
        )
    # a NULL text shingles to [NULL]: every NULL-text doc would share one
    # signature and pair with every other in all bands, and the verify
    # can never confirm such a pair
    sig = minhash_signatures(
        df.filter(F.col(text_col).isNotNull()),
        id_col,
        text_col,
        num_hashes,
        shingle_n=shingle_n,
    )
    # materialized ONCE: the banded frame feeds the cap census and BOTH
    # sides of the self-join — lazily, the whole shingle→hash→signature
    # pipeline would re-run once per consumer (3x with a cap; measured
    # on the physical plan). Same pattern as decontaminate's raw_banded.
    banded = materialize(_banded(sig, num_hashes, bands))
    return _self_pairs(_cap_buckets(banded, max_bucket, ["band", "bucket"]))


def _self_pairs(banded: DataFrame) -> DataFrame:
    """Candidate pairs WITHIN one ``(_id, band, bucket)`` table: its
    self-equi-join on ``(band, bucket)`` as distinct ``(id_a, id_b)``
    with ``id_a < id_b``."""
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    max_bucket: int | None = None,
    validate_ids: bool = True,
) -> DataFrame:
    """Benchmark decontamination: drop corpus docs whose n-gram Jaccard
    with ANY benchmark doc reaches ``threshold`` — the standard eval-leak
    filter in LLM training-data pipelines.

    Shape: MinHash signatures for each side separately, then a
    CROSS-DATASET (band, bucket) equi-join — never a self-join, so no
    corpus-corpus candidates are generated only to be discarded, and the
    benchmark side is small enough that AQE turns the join into a
    broadcast. Exact n-gram-Jaccard verification runs on candidate DOCS
    only (a semi-join prunes the shingle pass to candidates — at 100 TB
    that is the difference between re-shingling the corpus and
    re-shingling a few thousand suspects), then a left-anti join drops
    confirmed leaks. Corpus text never shuffles: signatures and ids do.

    Requires non-negative corpus ids: benchmark rows are assigned ids in
    a disjoint range at or below ``-2^61`` so the pair columns stay
    id-typed and a negative corpus id is DETECTABLE after the union
    (anything in ``(-2^61, 0)`` must be an invalid corpus id — only a
    corpus id at or below ``-2^61`` could still masquerade, which no real
    id space reaches). ``validate_ids=True`` (default) enforces that for
    free: a column-pruned ``min(id)`` leg over the corpus rides the same
    census collect the skew cap needs (see below), so it costs no Spark
    job of its own. A detected violation raises after the signature
    materialization (the census is the next action) — pass False only
    if that error timing matters and the ids are known-valid.
    """
    corpus = docs.select(F.col(id_col), F.col(text_col))
    # synthetic bench ids ≤ -2^61: pmod ∈ [0, 2^61) → +2^61 → negate
    bench = benchmark.select(
        (-(F.pmod(F.xxhash64(F.col(text_col)), F.lit(1 << 61)) + F.lit(1 << 61))).alias(
            id_col
        ),
        F.col(text_col),
    )
    both_docs = corpus.unionByName(bench).filter(F.col(text_col).isNotNull())
    # ONE signature pipeline over the union (one codegen unit, one pass).
    # With a skew cap it is materialized HERE — before the cap split —
    # because the oversize census, blind-spot accounting AND the
    # candidate join all derive from it (3+ consumers; lazily the
    # shingle+hash pass would re-run per consumer). WITHOUT a cap (r14)
    # it stays lazy: the only consumer is the candidate cross-join,
    # whose own materialization computes both sides in ONE job — an
    # extra eager barrier here measured ~1s slower at sf0.1. The skew
    # cap counts and drops CORPUS rows only: benchmark rows are few and
    # exempt — capping them would silently blind the leak check for
    # every doc in that bucket (a recall loss that matters more in a
    # safety filter than in dedup). If a benchmark row lands in a capped
    # bucket its corpus partners are gone, so warn loudly.
    raw_banded = _banded(
        minhash_signatures(
            both_docs, id_col, text_col, num_hashes, shingle_n=shingle_n
        ),
        num_hashes,
        bands,
    )
    if max_bucket is not None:
        raw_banded = materialize(raw_banded)
    corpus_side = raw_banded.filter(F.col("_id") >= 0)
    bench_side = raw_banded.filter(F.col("_id") < 0)
    # ONE census collect does triple duty — (a) the oversize bucket keys
    # the cap needs, (b) the bench ids hashing into those buckets (the
    # blind-spot warning, exact), (c) the invalid-corpus-id guard — so
    # the blind-spot accounting and the id validation cost no Spark job
    # of their own (round 3 spent one action on each). The bucket leg
    # scans the MATERIALIZED banded frame; the validation leg scans the
    # corpus id column directly (column-pruned — and NOT the banded
    # frame, where a NULL-text row sheds no shingles and its invalid id
    # would go unseen); both run inside a single collect whose output is
    # the pathology list (tiny by definition) plus one validation row.
    from functools import reduce

    is_bench = F.col("_id") < F.lit(-(1 << 61) + 1)  # ids ≤ -2^61
    legs = []
    if max_bucket is not None:
        legs.append(
            raw_banded.groupBy("band", "bucket")
            .agg(
                F.sum(F.when(~is_bench, 1).otherwise(0)).alias("_n_corpus"),
                F.collect_set(F.when(is_bench, F.col("_id"))).alias("_bench_ids"),
            )
            .filter(F.col("_n_corpus") > max_bucket)
            .select("band", "bucket", "_bench_ids", F.lit(None).cast("long").alias("_bad_id"))
        )
    if validate_ids:
        legs.append(
            docs.agg(F.min(F.col(id_col)).alias("_m"))
            .select(
                F.lit(None).cast("int").alias("band"),
                F.lit(None).cast("long").alias("bucket"),
                F.lit(None).cast("array<long>").alias("_bench_ids"),
                F.when(F.col("_m") < 0, F.col("_m")).alias("_bad_id"),
            )
        )
    census = (
        reduce(lambda a, b: a.unionByName(b), legs).collect() if legs else []
    )
    bad = [r["_bad_id"] for r in census if r["_bad_id"] is not None]
    if bad:
        raise ValueError(
            f"decontaminate requires non-negative corpus ids in {id_col!r}: "
            f"found {bad[0]} — negative ids collide with the synthetic "
            "benchmark id range"
        )
    oversize_keys = [(r["band"], r["bucket"]) for r in census if r["band"] is not None]
    if oversize_keys:
        blind = {i for r in census for i in (r["_bench_ids"] or [])}
        if blind:
            log.warning(
                "decontaminate: %d benchmark doc(s) hash into buckets over "
                "max_bucket=%d — leaks hiding in those buckets are NOT "
                "detected; lower max_bucket only with an exact-dedup pass "
                "in front",
                len(blind),
                max_bucket,
            )
        # the keys are driver-local already, so downstream jobs broadcast
        # the tiny literal table instead of ever recomputing the census
        ov = raw_banded.sparkSession.createDataFrame(
            oversize_keys, "band int, bucket long"
        )
        corpus_side = corpus_side.join(
            F.broadcast(ov), ["band", "bucket"], "left_anti"
        )
    cross = materialize(_cross_from_sides(bench_side, corpus_side))
    # verification prunes to candidate docs INSIDE ngram_jaccard_pairs
    # (r14, prune_to_pairs=True over the materialized cross): the union
    # needs no explicit pre-prune, which used to re-embed the cross
    # subtree twice more in the verify plan
    both = corpus.unionByName(bench)
    verified = ngram_jaccard_pairs(
        both, id_col, text_col, cross, shingle_n, prune_to_pairs=True
    )
    leaked = (
        verified.filter(F.col("jaccard") >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return docs.join(leaked, id_col, "left_anti")


def _cross_from_sides(bench_side: DataFrame, corpus_side: DataFrame) -> DataFrame:
    """CROSS-dataset candidate pairs between two ``(_id, band, bucket)``
    tables on the (band, bucket) key — benchmark × corpus in
    :func:`decontaminate`, store × batch in
    :func:`incremental_near_dedup`; never a self-join of the union, so
    no corpus×corpus candidate is ever produced (at 10⁹ docs that
    difference is the whole cost). Plan-pinned in
    ``tests/test_plans.py::test_decontaminate_is_cross_dataset_only``.
    Output: ``(id_a=bench_side id, id_b=corpus_side id)``, distinct."""
    return (
        bench_side.withColumnRenamed("_id", "_bid")
        .join(corpus_side, ["band", "bucket"])
        .select(F.col("_bid").alias("id_a"), F.col("_id").alias("id_b"))
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    pairs: DataFrame,
    shingle_n: int = 3,
    prune_to_pairs: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard for given distinct candidate
    ``pairs (id_a, id_b)``.

    Verification stage after LSH, per pair: join each pair to its two
    docs' distinct-shingle arrays and compute ``size(array_intersect)``
    over ``|A| + |B| - ∩`` — two pair-sized joins against a doc-sized
    projection, no exploded shingle rows, no per-shingle join and no
    ``groupBy(id_a, id_b)``: a shingle-keyed join would move one row per
    shingle and pay three more exchanges at batch scale, where the
    pairs are few. Zero-intersection pairs are not returned. A
    NULL-text doc's only shingle is NULL, which intersects nothing, so
    such docs are filtered out before shingling.

    ``prune_to_pairs=True`` semi-joins ``df`` down to the ids appearing
    in ``pairs`` before shingling. Set it when ``pairs`` is already
    materialized and much smaller than ``df`` (decontaminate /
    semantic_dedup do) — at corpus scale that is the difference between
    re-shingling the corpus and re-shingling a few thousand suspects.
    Leave it off when ``pairs`` is itself a lazy pipeline over ``df``
    (an inline LSH pass): the prune would re-run that pipeline once
    more for the id set, which was measured ~2x the whole query.
    """
    p = pairs.select("id_a", "id_b")
    base = df.select(F.col(id_col).alias("_id"), F.col(text_col)).filter(
        F.col(text_col).isNotNull()
    )
    if prune_to_pairs:
        ids = (
            p.select(F.col("id_a").alias("_id"))
            .unionByName(p.select(F.col("id_b").alias("_id")))
            .distinct()
        )
        base = base.join(ids, "_id", "left_semi")
    return _set_jaccard(
        p,
        base.select(
            "_id", F.array_distinct(shingles(text_col, shingle_n)).alias("_sh")
        ),
    )


def _set_jaccard(pairs: DataFrame, sets: DataFrame) -> DataFrame:
    """The verify body shared by :func:`ngram_jaccard_pairs` and the
    near-dup store: Jaccard of ``(id_a, id_b)`` pairs over an
    ``(_id, set)`` frame of per-doc distinct-element arrays (shingle
    strings, or their 64-bit fingerprints), zero-intersection pairs
    dropped."""
    _, col = sets.columns
    inter = F.size(F.array_intersect("_sa", "_sb"))
    return (
        pairs.join(sets.select(F.col("_id").alias("id_a"), F.col(col).alias("_sa")), "id_a")
        .join(sets.select(F.col("_id").alias("id_b"), F.col(col).alias("_sb")), "id_b")
        .select("id_a", "id_b", inter.alias("_inter"), "_sa", "_sb")
        .filter(F.col("_inter") > 0)
        .select(
            "id_a",
            "id_b",
            # single int division — bit-identical across engines, no rounding
            (
                F.col("_inter")
                / (F.size("_sa") + F.size("_sb") - F.col("_inter"))
            ).alias("jaccard"),
        )
    )


def simhash64(text_col: str, shingle_n: int = 2) -> F.Column:
    """64-bit SimHash of a text column as array expressions (per-row, no
    shuffle). Near-duplicates differ in few bits (compare with
    ``bit_count(a ^ b) <= k``).

    The shingle-hash array is bound to a lambda variable via the
    one-element-array ``transform`` trick so it is computed ONCE per row;
    the 64 per-bit counter folds then walk that bound array. (``F.shiftright``
    takes a Python int, so the bit index must be a driver-side loop, not a
    ``sequence``/``zip_with`` column.) For the hot path use
    ``simhash_signatures`` — same output, explode + partial agg.
    """
    hashes = F.transform(
        F.array_distinct(shingles(text_col, shingle_n)), lambda s: F.xxhash64(s)
    )

    def _fold(hs: F.Column) -> F.Column:
        out = F.lit(0).cast("long")
        for i in range(64):
            cnt = F.aggregate(
                hs,
                F.lit(0).cast("long"),
                lambda acc, h: acc
                + (F.shiftright(h, i).bitwiseAND(F.lit(1)) * 2 - 1),
            )
            out = out.bitwiseOR(
                F.when(
                    cnt > 0, F.shiftleft(F.lit(1).cast("long"), i)
                ).otherwise(F.lit(0).cast("long"))
            )
        return out

    return F.element_at(F.transform(F.array(hashes), _fold), 1)


def simhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 2,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """SimHash per document as ``(id, _sim)`` via explode + partial agg —
    the 100 TB path.

    Explode distinct shingles, hash each once, then groupBy(id) with 64
    ``sum(±1)`` bit-counter aggregates (map-side combined); a final
    projection folds the 64 signs into one 64-bit long.

    ``hash_mode``: ``"xxhash64"`` (default — fastest JVM-side hash) or
    ``"md5"`` — 64 bits taken as two 32-bit halves of the md5 hex digest.
    md5 is the CROSS-ENGINE-PORTABLE mode: any engine with md5 (DuckDB,
    Trino, Postgres…) reproduces the identical simhash bit-for-bit, which
    is what lets ``q_simhash_dedup`` be verified against an independent
    SQL oracle. Both modes are pure built-in expressions; the signature
    semantics (bit = sign of the ±1 shingle-bit sum) are identical.
    """
    tok = df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.array_distinct(shingles(text_col, shingle_n))).alias("_s"),
    )
    if hash_mode == "md5":
        # hi = md5 hex[0:8], lo = hex[8:16]; bit i<32 reads lo, i>=32 reads
        # hi. md5 is materialized in its own projection so it is computed
        # once per shingle by construction, not by relying on codegen CSE.
        h = tok.select("_id", F.md5("_s").alias("_m")).select(
            "_id",
            F.conv(F.substring("_m", 1, 8), 16, 10).cast("long").alias("_hi"),
            F.conv(F.substring("_m", 9, 8), 16, 10).cast("long").alias("_lo"),
        )
        aggs = [
            F.sum(
                F.shiftright(
                    F.col("_lo") if i < 32 else F.col("_hi"), i % 32
                ).bitwiseAND(F.lit(1))
                * 2
                - 1
            ).alias(f"_b{i}")
            for i in range(64)
        ]
    elif hash_mode == "xxhash64":
        h = tok.select("_id", F.xxhash64("_s").alias("_h"))
        aggs = [
            F.sum(
                F.shiftright(F.col("_h"), i).bitwiseAND(F.lit(1)) * 2 - 1
            ).alias(f"_b{i}")
            for i in range(64)
        ]
    else:
        raise ValueError(f"hash_mode must be 'xxhash64' or 'md5', got {hash_mode!r}")
    counters = h.groupBy("_id").agg(*aggs)
    sim = F.lit(0).cast("long")
    for i in range(64):
        sim = sim.bitwiseOR(
            F.when(
                F.col(f"_b{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)
            ).otherwise(F.lit(0).cast("long"))
        )
    return counters.select("_id", sim.alias("_sim"))


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    max_bucket: int | None = None,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dup pairs blocked on simhash bit-bands.

    Pigeonhole guarantee: with ``max_hamming + 1`` bands, any pair within
    the requested hamming distance must share at least one exact band —
    so the band count is DERIVED from ``max_hamming``, never fixed (a
    fixed 4x16-bit split silently loses recall for ``max_hamming > 3``).

    Scale trade-off: larger ``max_hamming`` ⇒ more, narrower bands ⇒
    exponentially bigger candidate buckets (7 bands of 9-10 bits at
    radius 6 means ≤1024 buckets per band — at 10⁹ docs that is ~10⁶
    docs per bucket and a quadratic join). Two defenses, use both at
    scale: keep ``max_hamming ≤ 3`` so every band stays ≥16 bits, and
    set ``max_bucket`` — the hard cap that skips over-full buckets
    before the join (see ``_cap_buckets``); ``None`` keeps exhaustive
    small-data semantics. Same shuffle-on-small-key property as MinHash
    LSH either way.

    ``hash_mode`` passes through to ``simhash_signatures`` (``"md5"`` =
    cross-engine-portable bits for oracle verification).
    """
    n_bands = max_hamming + 1
    if not 1 <= n_bands <= 64:
        raise ValueError("max_hamming must be in [0, 63]")
    # split 64 bits into n_bands contiguous bands, widths as even as possible
    base_w, extra = divmod(64, n_bands)
    widths = [base_w + (1 if i < extra else 0) for i in range(n_bands)]
    offsets = [sum(widths[:i]) for i in range(n_bands)]

    def _band_bucket(i: int) -> F.Column:
        if widths[i] == 64:
            # max_hamming=0: one full-width band — the mask 2⁶⁴-1 does not
            # fit LongType, and no mask is needed; bucket on _sim directly
            return F.col("_sim")
        return (
            F.shiftright(F.col("_sim"), offsets[i])
            .bitwiseAND(F.lit((1 << widths[i]) - 1))
        )

    sigs = simhash_signatures(df, id_col, text_col, hash_mode=hash_mode)
    # materialized ONCE: the banded signature frame feeds the cap census
    # and BOTH self-join sides — lazily, the whole shingle→hash→64-counter
    # signature pipeline (the expensive part, especially in md5 mode)
    # would re-run once per consumer (3x with a cap; measured on the
    # physical plan). Same pattern as lsh_candidate_pairs.
    banded = materialize(
        sigs.select(
            "_id",
            "_sim",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("band"), _band_bucket(i).alias("bucket")
                        )
                        for i in range(n_bands)
                    ]
                )
            ).alias("bb"),
        ).select("_id", "_sim", "bb.band", "bb.bucket")
    )
    banded = _cap_buckets(banded, max_bucket, ["band", "bucket"])
    a, b = banded.alias("a"), banded.alias("b")
    hamming = F.bit_count(F.col("a._sim").bitwiseXOR(F.col("b._sim")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .filter(hamming <= max_hamming)
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            hamming.alias("hamming"),
        )
        .distinct()
    )


def content_fingerprints(
    df: DataFrame, text_col: str, id_col: str, normalize: bool = False
) -> DataFrame:
    """The at-rest fingerprint table ``(id, _h64, _h128)`` that makes
    dedup INCREMENTAL: store this (a few dozen bytes/doc) next to the
    corpus once, and every future append dedups against it without ever
    re-reading, re-hashing, or shuffling the existing documents — the
    layout decision DEPLOYMENT.md's table describes. Same 192-bit
    (xxhash64, md5) pair as ``exact_dedup_by_hash`` and for the same
    reason: 64 bits alone birthday-collides at ~2³² docs.

    ``normalize=True`` fingerprints :func:`dedup_normal_form` of the
    text (fuzzy-exact identity). The flag is part of the STORE's
    definition: a store built with it must be probed with it — mixing
    silently re-admits every reformatted duplicate, so pick one mode
    per store and record it next to the data."""
    t = dedup_normal_form(text_col) if normalize else F.col(text_col)
    return df.select(
        F.col(id_col),
        F.xxhash64(t).alias("_h64"),
        F.md5(t.cast("string")).alias("_h128"),
    )


def incremental_dedup(
    batch: DataFrame,
    fingerprints: DataFrame,
    text_col: str,
    id_col: str,
    normalize: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Dedup an APPEND batch against an existing corpus represented only
    by its ``content_fingerprints`` table: returns ``(new_rows,
    new_fingerprints)`` where ``new_rows`` are the batch rows that are
    duplicates of neither the existing corpus nor of each other (first
    id wins within the batch), and ``new_fingerprints`` is exactly the
    rows to append to the fingerprint store so the next batch repeats
    the cycle.

    Scale shape: the batch is hashed once; the join against the store is
    fingerprint-vs-fingerprint (16-byte keys — with the store bucketed
    on ``_h64`` at rest the shuffle is one-sided), and corpus text is
    never touched. This is the steady-state form of dedup at 100 TB:
    the full-corpus pass happens once; every day after is
    batch-sized work.

    ``normalize`` must match the mode the store was built with (see
    ``content_fingerprints`` — the flag is part of the store's
    definition).
    """
    bfp = content_fingerprints(batch, text_col, id_col, normalize=normalize)
    # within-batch: keep min id per fingerprint (same rule as the full op)
    keep = bfp.groupBy("_h64", "_h128").agg(F.min(id_col).alias(id_col))
    # against the store: drop fingerprints the corpus already has
    fresh = keep.join(
        fingerprints.select("_h64", "_h128"), ["_h64", "_h128"], "left_anti"
    )
    new_rows = batch.join(fresh.select(id_col), id_col, "left_semi")
    new_fps = fresh.select(id_col, "_h64", "_h128")
    return new_rows, new_fps


def _shingle_fps(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int
) -> DataFrame:
    """Per-doc DISTINCT shingle fingerprints ``(_id, _sf array<bigint>)``
    — the text-free representation the incremental near-dup store
    persists, one row per doc: ``pmod(_sf, P31)`` is exactly the hash
    array :func:`minhash_signatures` signs (min over the distinct set
    equals min over the multiset), and :func:`_set_jaccard` over ``_sf``
    is :func:`ngram_jaccard_pairs` with each shingle string replaced by
    its 64-bit fingerprint (a cross-doc fingerprint collision inflating
    an intersection is a ~n²/2⁶⁴ per-pair event, negligible at per-doc
    set sizes). NULL-text docs are dropped, as the text path drops
    them."""
    return df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("_id"),
        F.transform(
            F.array_distinct(shingles(text_col, shingle_n)), lambda x: F.xxhash64(x)
        ).alias("_sf"),
    )


def _store_banded(
    shfps: DataFrame, num_hashes: int, bands: int, seed: int, max_bucket: int | None
) -> DataFrame:
    """``(_id, band, bucket)`` rows of a shingle-fingerprint frame, signed
    by the same kernel as the text path and bucket-capped."""
    hashes = shfps.select(
        "_id", F.transform("_sf", lambda h: F.pmod(h, F.lit(_P31))).alias("_h")
    )
    return _cap_buckets(
        _banded(_sign(hashes, num_hashes, seed), num_hashes, bands),
        max_bucket,
        ["band", "bucket"],
    )


def near_dup_store(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 7,
    max_bucket: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Build the AT-REST NEAR-dup store for an (already near-deduped)
    corpus: ``(banded, shingle_fps)`` — the near-dup twin of
    ``content_fingerprints``' exact store, making near-dedup INCREMENTAL
    (:func:`incremental_near_dedup`): the corpus text is read once,
    ever; every append bands against the stored buckets and verifies
    against the stored shingle fingerprints.

    - ``banded``: ``(_id, band, bucket)`` — the rows
      :func:`lsh_candidate_pairs` bands the same text into; persist it
      partitioned (or bucketed) by ``(band, bucket)`` so an append's
      candidate join prunes to matching buckets instead of scanning the
      store.
    - ``shingle_fps``: ``(_id, _sf array<bigint>)`` — one row per doc,
      its distinct shingles' xxhash64 values (~8 bytes per distinct
      shingle); bucket by ``_id`` at rest so the verify stage's
      semi-join prunes.

    NULL-text docs get no store rows (they can match nothing).
    ``max_bucket`` caps pathological buckets AT BUILD (dropped from the
    at-rest banding — the oversize-bucket recall trade documented on
    ``_cap_buckets``). Appends cap their own buckets per batch; a
    bucket can still grow across MANY appends, so schedule a periodic
    store rebuild (standard LSH-store hygiene) when append volume is a
    large multiple of the base corpus."""
    if num_hashes % bands:
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes})"
        )
    shfps = _shingle_fps(df, id_col, text_col, shingle_n)
    return _store_banded(shfps, num_hashes, bands, seed, max_bucket), shfps


def incremental_near_dedup(
    batch: DataFrame,
    store_banded: DataFrame,
    store_shfps: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 7,
    max_bucket: int | None = None,
    max_iter: int = 20,
    strict: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """NEAR-dedup an APPEND batch against the :func:`near_dup_store` —
    the steady-state form of MinHash near-dedup, exactly as
    :func:`incremental_dedup` is for exact dedup: the stored corpus is
    represented only by its banded buckets + shingle fingerprints, its
    text is never re-read, and per-append work is batch-sized (plus the
    bucket-pruned store joins). Returns ``(new_rows, new_banded,
    new_shfps)`` — survivors and exactly their store rows to append.
    ``new_rows`` is materialized (the other two are semi-joins of
    materialized batch frames against it), so collecting any of the
    three, or chaining the next append onto them, never re-runs this
    append's candidate, verify and component plan.

    Keep semantics (STORE WINS, then family collapse): a batch doc
    verified ≥ ``threshold`` against ANY store doc is dropped, and so is
    every batch doc in the same batch-internal near-dup FAMILY as a
    store-matched doc (component-level store-wins — the full-pass
    outcome for that family is "the store's representative already
    covers it"); remaining families keep their min-id member. Chains
    that only exist across MULTIPLE appends (A lands today, B≈A
    tomorrow, C≈B next week with C≉B's stored family member) resolve
    per-append — the documented divergence from a monolithic full pass,
    same as any streaming near-dedup. A NULL-text batch doc matches
    nothing and survives, as in :func:`semantic_dedup`.

    Parameters must match the store's build (hash family, bands,
    shingle_n — they define the store, like ``normalize`` does for the
    exact store); ids must be unique across store ∪ batch."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.graph_algos import (
        keep_min_id_per_component,
        pair_components,
    )

    if num_hashes % bands:
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes})"
        )
    b_shfps = materialize(_shingle_fps(batch, id_col, text_col, shingle_n))
    banded_b = materialize(
        _store_banded(b_shfps, num_hashes, bands, seed, max_bucket)
    )
    # candidates: store × batch on the bucket key (cross-dataset — the
    # store never self-joins), plus batch-internal pairs
    cross = _cross_from_sides(store_banded, banded_b)
    # verify: store side pruned to candidate ids before its fps move
    store_cand_fps = store_shfps.join(
        cross.select(F.col("id_a").alias("_id")).distinct(), "_id", "left_semi"
    )
    v_cross = _set_jaccard(cross, b_shfps.unionByName(store_cand_fps)).filter(
        F.col("jaccard") >= threshold
    )
    v_self = materialize(
        _set_jaccard(_self_pairs(banded_b), b_shfps).filter(
            F.col("jaccard") >= threshold
        )
    )
    matched = v_cross.select(F.col("id_b").alias(id_col)).distinct()
    # component-level store-wins: taint whole batch families that touch
    # a store match, then min-id collapse of the untainted families
    comps = pair_components(
        v_self.select("id_a", "id_b"), max_iter=max_iter, strict=strict
    )
    tainted_comps = (
        comps.join(matched.withColumnRenamed(id_col, "id"), "id", "left_semi")
        .select("comp")
        .distinct()
    )
    tainted = (
        comps.join(tainted_comps, "comp", "left_semi")
        .select(F.col("id").alias(id_col))
        .unionByName(matched)
        .distinct()
    )
    clean = batch.join(tainted, id_col, "left_anti")
    clean_pairs = v_self.join(
        tainted.withColumnRenamed(id_col, "id_a"), "id_a", "left_anti"
    ).join(tainted.withColumnRenamed(id_col, "id_b"), "id_b", "left_anti")
    new_rows = materialize(
        keep_min_id_per_component(
            clean, clean_pairs, id_col, max_iter=max_iter, strict=strict
        )
    )
    keep_ids = new_rows.select(F.col(id_col).alias("_id"))
    new_banded = banded_b.join(keep_ids, "_id", "left_semi")
    new_shfps = b_shfps.join(keep_ids, "_id", "left_semi")
    return new_rows, new_banded, new_shfps


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    max_bucket: int | None = None,
    max_iter: int = 20,
    strict: bool = False,
) -> DataFrame:
    """Near-duplicate REMOVAL (not just pair detection): MinHash-LSH
    candidates → exact n-gram-Jaccard verify at ``threshold`` →
    connected components over the verified pair graph → keep the
    minimum id of every cluster. Returns the surviving rows.

    Components, not pairwise drops: near-duplication is transitive in
    practice (A≈B, B≈C ⇒ one boilerplate family) and pairwise "drop the
    larger id" can drop BOTH rows of a pair that chains (B of A−B, then
    C of B−C keeps nothing of B's family except A — fine — but with
    A−B and C−D∪B−C orderings a naive drop-list can also orphan
    clusters). The component minimum is deterministic and keeps exactly
    one representative per family, matching ``exact_dedup_by_hash``'s
    min-id rule. ``max_iter``/``strict`` pass through to
    ``connected_components`` (on its loop path, cluster chains longer
    than ``max_iter`` would split — strict makes that an error).

    Scale: pairs are LSH-blocked and capped (``max_bucket``), the
    component step runs on the PAIR graph (candidate-sized, not
    corpus-sized), and only ids shuffle in the cluster/keep joins.
    """
    from big_data___knowledge_graph_construction_with_llm_spark.operators.graph_algos import (
        keep_min_id_per_component,
    )

    # materialize the candidates: they feed the verify prune and the
    # intersection join, and recomputing them means re-running the
    # banded self-join per consumer
    cand = materialize(
        lsh_candidate_pairs(
            df, id_col, text_col, num_hashes, bands, shingle_n, max_bucket
        )
    )
    # verify only candidate docs (prune_to_pairs over the materialized
    # cand): at corpus scale the difference between re-shingling the
    # corpus and re-shingling a few thousand suspects
    pairs = ngram_jaccard_pairs(
        df, id_col, text_col, cand, shingle_n, prune_to_pairs=True
    ).filter(F.col("jaccard") >= threshold)
    return keep_min_id_per_component(
        df, pairs, id_col, max_iter=max_iter, strict=strict
    )


def _doc_spans(
    df: DataFrame, id_col: str, text_col: str, span_tokens: int, sample_mod: int
) -> DataFrame:
    """Shared span frame for the repeated-span family: per-doc DISTINCT
    token spans as ``(id, _s, _sh64, _sh128)``, optionally winnowed to
    hashes ≡ 0 mod ``sample_mod``. Span identity is the same 192-bit
    (xxhash64, md5) pair as ``content_fingerprints`` and for the same
    reason: distinct spans cross 2³² (the 64-bit birthday horizon) far
    sooner than documents do. Documents with fewer than ``span_tokens``
    tokens contribute NO spans (``shingles`` would otherwise pad them
    to one whole-text shingle, which is not a span of the requested
    length). Blank/whitespace-only documents contribute no spans either
    — without the explicit guard, ``split(trim(''), '\\s+')`` yields
    ``[""]``, so at ``span_tokens=1`` every blank doc would emit an
    empty-string "span" and blank docs would count as mutual
    boilerplate."""
    if span_tokens < 1:
        raise ValueError("span_tokens must be >= 1")
    if sample_mod < 1:
        raise ValueError("sample_mod must be >= 1")
    spans = (
        _span_docs(df, text_col, span_tokens)
        .select(
            F.col(id_col),
            F.explode(F.array_distinct(shingles(text_col, span_tokens))).alias("_s"),
        )
        .select(
            id_col,
            "_s",
            F.xxhash64("_s").alias("_sh64"),
            F.md5("_s").alias("_sh128"),
        )
    )
    if sample_mod > 1:
        spans = spans.filter(F.pmod("_sh64", F.lit(sample_mod)) == 0)
    return spans


def _span_docs(df: DataFrame, text_col: str, span_tokens: int) -> DataFrame:
    """The docs that have a ``span_tokens``-token span: non-blank and at
    least that many tokens long (see :func:`_doc_spans`)."""
    return df.filter(F.trim(F.col(text_col)) != "").filter(
        F.size(F.split(F.trim(F.col(text_col)), r"\s+")) >= span_tokens
    )


def _pos_spans(
    df: DataFrame, id_col: str, text_col: str, span_tokens: int
) -> DataFrame:
    """POSITIONAL span frame for excision: ``(id, pos, _sh64, _sh128)``,
    one row per span start (NOT distinct — positions matter here)."""
    return (
        _span_docs(df, text_col, span_tokens)
        .select(
            F.col(id_col),
            F.posexplode(shingles(text_col, span_tokens)).alias("pos", "_s"),
        )
        .select(
            id_col,
            "pos",
            F.xxhash64("_s").alias("_sh64"),
            F.md5("_s").alias("_sh128"),
        )
    )


def _covered(
    pos_spans: DataFrame, hit_fps: DataFrame, id_col: str, span_tokens: int
) -> DataFrame:
    """Token positions covered by at least one repeated span, as the
    ``(_rm_id, _rm_pos)`` removal frame :func:`_excise_units` takes."""
    return (
        pos_spans.join(hit_fps, ["_sh64", "_sh128"], "left_semi")
        .select(
            F.col(id_col).alias("_rm_id"),
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + span_tokens - 1)
            ).alias("_rm_pos"),
        )
        .distinct()
    )


def _excise_units(
    df: DataFrame,
    id_col: str,
    text_col: str,
    removed: DataFrame,
    units: F.Column,
    sep: str,
) -> DataFrame:
    """The one rebuild of the excision family: rewrite ``text_col`` of
    every doc in ``removed`` ``(_rm_id, _rm_pos)`` without those unit
    positions, where ``units`` splits the text into positional units
    (tokens or lines) and ``sep`` joins the survivors back. Only the
    AFFECTED docs' units shuffle; the rest pass through by id join,
    text unmoved. A doc with every unit removed becomes an empty
    string, kept so the caller decides whether to drop it."""
    # disjoint column names on `removed`: both sides of the anti-join
    # below descend from `df`, and same-named columns across a
    # self-join lineage trip Spark's ambiguity check
    affected = removed.select(F.col("_rm_id").alias(id_col)).distinct()
    unit_pos = df.join(affected, id_col, "left_semi").select(
        F.col(id_col), F.posexplode(units).alias("pos", "_unit")
    )
    kept = unit_pos.join(
        removed,
        (unit_pos[id_col] == removed["_rm_id"])
        & (unit_pos["pos"] == removed["_rm_pos"]),
        "left_anti",
    )
    rebuilt = affected.join(
        kept.groupBy(id_col).agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "_unit"))),
                    lambda s: s["_unit"],
                ),
                sep,
            ).alias("_new_text")
        ),
        id_col,
        "left",
    ).select(id_col, F.coalesce("_new_text", F.lit("")).alias("_new_text"))
    return (
        df.join(rebuilt, id_col, "left")
        .withColumn(text_col, F.coalesce("_new_text", F.col(text_col)))
        .drop("_new_text")
    )


def _require_min_docs(min_docs: int) -> None:
    if min_docs < 2:
        raise ValueError(
            f"min_docs must be >= 2 (a repeated span needs at least two "
            f"documents), got {min_docs}"
        )


def _repeated_from_spans(spans: DataFrame, id_col: str, min_docs: int) -> DataFrame:
    _require_min_docs(min_docs)
    return (
        spans.groupBy("_sh64", "_sh128")
        .agg(
            F.min("_s").alias("span"),
            F.countDistinct(id_col).alias("n_docs"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def repeated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span_tokens: int = 8,
    min_docs: int = 2,
    sample_mod: int = 1,
) -> DataFrame:
    """SUBSTRING-level duplication signal: token spans of length
    ``span_tokens`` that recur across at least ``min_docs`` (≥ 2)
    distinct documents — boilerplate, licence headers, templated
    passages — returned as ``(span, n_docs)``. Whole-document dedup
    (exact/MinHash/SimHash above) misses these entirely: two documents
    sharing one 50-token licence block are nowhere near any whole-doc
    similarity threshold, yet that block is duplicated training text.

    Scale shape: explode per-doc DISTINCT spans → 192-bit (xxhash64,
    md5) span fingerprint (same pair and same birthday rationale as
    ``content_fingerprints`` — distinct spans cross 2³² long before
    docs do) → one partial-aggregated ``count(distinct doc)`` per
    fingerprint. The shuffle carries (fingerprint, id) pairs plus one
    ``min(span)`` exemplar string per fingerprint — document text
    itself never shuffles. ``sample_mod > 1`` winnows
    deterministically: only spans with ``hash % sample_mod == 0`` are
    counted, cutting the explode volume by that factor; a repeated
    REGION of L tokens yields L − span_tokens + 1 overlapping spans, so
    it is detected with probability ≈ 1 − (1 − 1/m)^(L−span+1) — near 1
    for regions much longer than ``span_tokens × sample_mod`` but NOT
    guaranteed (this is sampling, not winnowing's min-in-window
    guarantee). Use ``mark_repeated_spans`` to map hits back to
    documents, or ``boilerplate_fraction`` for a doc-level gate.
    """
    return _repeated_from_spans(
        _doc_spans(df, id_col, text_col, span_tokens, sample_mod), id_col, min_docs
    ).select("span", "n_docs")


def boilerplate_fraction(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span_tokens: int = 8,
    min_docs: int = 2,
    sample_mod: int = 1,
    hits: DataFrame | None = None,
) -> DataFrame:
    """Per-document boilerplate share: ``(id, boilerplate_frac)`` where
    the fraction is (spans repeated across ≥ ``min_docs`` docs) / (all
    spans of the doc) — the doc-level gate for "mostly templated"
    content. Docs too short to produce a span get fraction 0.0 (they
    cannot be boilerplate-dominated by this measure).

    With ``sample_mod > 1`` BOTH numerator and denominator count only
    the hash-sampled spans, so the fraction stays an unbiased estimate
    of the exhaustive one.

    Scale shape: the (id, 192-bit fingerprint) span frame — span text
    never shuffles on this path — is materialized ONCE and feeds the
    hit aggregation, the per-doc totals, and the per-doc hit counts.
    The hit aggregation is a streaming hash-agg with
    ``countDistinct(id)`` — an O(1) counter per key, deliberately NOT a
    window: a licence span present in millions of docs must not pile
    its rows into one task's window buffer. ``countDistinct`` also
    makes the hit decision robust to duplicate same-id rows (a doc's
    own duplicate is not "another document"); the fraction itself is a
    ratio, so uniform row duplication cancels. (A localCheckpoint does
    not advertise its partitioning to downstream plans, so
    pre-repartitioning by fingerprint would only add a shuffle, not
    save the aggregation's — measured, not assumed.)

    ``hits`` (optional): a precomputed
    :func:`repeated_span_fingerprints` table (same ``span_tokens``,
    ``sample_mod``, and corpus) to share one detection pass across
    consumers; the per-doc span frame is still this call's own."""
    _require_min_docs(min_docs)
    spans = materialize(
        _doc_spans(df, id_col, text_col, span_tokens, sample_mod).drop("_s")
    )
    hit_marks = (
        spans.groupBy("_sh64", "_sh128")
        .agg(F.countDistinct(id_col).alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        if hits is None
        else hits
    ).select("_sh64", "_sh128", F.lit(1).alias("_hit"))
    # one left join marks each span as repeated-or-not, then a SINGLE
    # per-doc aggregation computes numerator and denominator together —
    # a separate totals pass would shuffle the corpus-scale span frame
    # by id a second time just to re-count what this groupBy already sees
    frac = (
        spans.join(hit_marks, ["_sh64", "_sh128"], "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("_n_spans"),
            F.sum(F.coalesce("_hit", F.lit(0))).alias("_n_rep"),
        )
        .select(
            id_col,
            (F.col("_n_rep") / F.col("_n_spans")).alias("boilerplate_frac"),
        )
    )
    return df.select(id_col).join(frac, id_col, "left").select(
        id_col, F.coalesce("boilerplate_frac", F.lit(0.0)).alias("boilerplate_frac")
    )


def mark_repeated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span_tokens: int = 8,
    min_docs: int = 2,
    sample_mod: int = 1,
) -> DataFrame:
    """Per-document view of :func:`repeated_spans`: ``(id, span,
    n_docs)`` for every document containing a cross-document repeated
    span — the input to span excision or doc-level filtering. The
    exploded span frame is materialized once and feeds both the hit
    table and the join back; the join key is the 192-bit span
    fingerprint."""
    spans = materialize(_doc_spans(df, id_col, text_col, span_tokens, sample_mod))
    hits = _repeated_from_spans(spans, id_col, min_docs)
    return (
        spans.join(hits, ["_sh64", "_sh128"])
        .select(id_col, "span", "n_docs")
        .distinct()
    )


def repeated_span_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span_tokens: int = 8,
    min_docs: int = 2,
    sample_mod: int = 1,
) -> DataFrame:
    """The repeated-span DETECTION table alone: ``(_sh64, _sh128)``
    fingerprints of spans shared by ≥ ``min_docs`` docs — no exemplar
    string, no per-doc mapping. Compute it ONCE (and ``materialize`` it)
    when several consumers need the same detection — the
    gate-then-excise combination of :func:`boilerplate_fraction` and
    :func:`excise_repeated_spans` is the canonical case: each would
    otherwise re-run the corpus-wide explode + aggregation pass. Pass
    the result via their ``hits=`` parameter."""
    _require_min_docs(min_docs)
    return (
        _doc_spans(df, id_col, text_col, span_tokens, sample_mod)
        .drop("_s")
        .groupBy("_sh64", "_sh128")
        .agg(F.countDistinct(id_col).alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("_sh64", "_sh128")
    )


def excise_repeated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span_tokens: int = 8,
    min_docs: int = 2,
    hits: DataFrame | None = None,
) -> DataFrame:
    """Completes the repeated-span family (detect → mark → EXCISE):
    rewrite ``text_col`` with every cross-document repeated span removed
    — the boilerplate/licence-header scrub step of a curation pipeline.
    A token position is excised iff it is covered by at least one
    ``span_tokens``-window shared by ≥ ``min_docs`` docs, so an L-token
    repeated region (L ≥ span_tokens) is removed exactly: its interior
    windows are all repeated, while windows straddling its boundary mix
    in per-doc unique tokens and are not.

    Scale shape: repeated-span detection is the usual fingerprint
    aggregation (text never shuffles); only then do the AFFECTED
    documents — pruned by a semi-join, typically a small corpus
    fraction — have their token positions shuffled for the rebuild.
    Untouched documents pass through by id join, text unmoved.
    Rebuilt text is single-space joined (original inter-token
    whitespace is not preserved for affected docs — the tokenizer
    downstream does not care); a fully-boilerplate doc becomes an
    empty string, kept so the caller decides whether to drop it.

    ``hits`` (optional): a precomputed
    :func:`repeated_span_fingerprints` table (same ``span_tokens`` and
    corpus, and built with ``sample_mod=1`` — a sampled hits table
    silently excises only the sampled subset of repeated spans; sampling
    is a detection-estimate knob, not an excision one) — skips this
    call's own detection pass when another consumer already paid for
    it."""
    _require_min_docs(min_docs)
    hit_fps = (
        hits.select("_sh64", "_sh128")
        if hits is not None
        else repeated_span_fingerprints(
            df, id_col, text_col, span_tokens, min_docs
        )
    )
    covered = materialize(
        _covered(
            _pos_spans(df, id_col, text_col, span_tokens), hit_fps, id_col, span_tokens
        )
    )
    return _excise_units(
        df, id_col, text_col, covered, F.split(F.trim(F.col(text_col)), r"\s+"), " "
    )


def scrub_repeated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span_tokens: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Gate + excision in ONE corpus pass: every ``df`` column with
    ``text_col`` scrubbed of cross-document repeated spans, plus the
    per-document ``boilerplate_frac`` — result-identical (pinned by
    test) to :func:`boilerplate_fraction` + :func:`excise_repeated_spans`
    sharing a :func:`repeated_span_fingerprints` table, but the corpus
    is span-exploded ONCE instead of three times. A single materialized
    POSITIONAL span frame ``(id, pos, 192-bit fp)`` feeds all three
    derivations:

    - detection: ``countDistinct(id)`` per fingerprint (positional
      duplicates collapse in the counter, so the distinct-span frame
      the standalone detector builds is not needed);
    - the fraction: ``countDistinct(struct(fp))`` per doc reproduces
      the standalone gate's distinct-span numerator/denominator off
      the duplicated positional rows;
    - the rebuild: covered positions via the usual
      semi-join → ``sequence`` explode, only AFFECTED docs' tokens
      shuffle.

    Span text still never shuffles (fingerprints only); the extra cost
    over one standalone operator is just the positional frame's
    ``pos`` column. Prefer this whenever BOTH the gate value and the
    scrubbed text are wanted (``q_token_count``'s shape); keep the
    standalone operators when only one is."""
    _require_min_docs(min_docs)
    pos_spans = materialize(_pos_spans(df, id_col, text_col, span_tokens))
    hit_marks = materialize(
        pos_spans.groupBy("_sh64", "_sh128")
        .agg(F.countDistinct(id_col).alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("_sh64", "_sh128")
    )
    frac = (
        pos_spans.join(
            hit_marks.select("_sh64", "_sh128", F.lit(1).alias("_hit")),
            ["_sh64", "_sh128"],
            "left",
        )
        .groupBy(id_col)
        .agg(
            F.countDistinct(F.struct("_sh64", "_sh128")).alias("_n_spans"),
            F.countDistinct(
                F.when(F.col("_hit") == 1, F.struct("_sh64", "_sh128"))
            ).alias("_n_rep"),
        )
        .select(
            id_col,
            (F.col("_n_rep") / F.col("_n_spans")).alias("boilerplate_frac"),
        )
    )
    # covered stays LAZY (r14): its two consumers (the affected-id
    # distinct and the kept anti-join) recompute it cheaply from the
    # two materialized inputs above, while checkpointing the 8x
    # position-exploded frame was measured ~1.8s slower at sf0.1
    return (
        _excise_units(
            df,
            id_col,
            text_col,
            _covered(pos_spans, hit_marks, id_col, span_tokens),
            F.split(F.trim(F.col(text_col)), r"\s+"),
            " ",
        )
        .join(frac, id_col, "left")
        .withColumn(
            "boilerplate_frac",
            F.coalesce("boilerplate_frac", F.lit(0.0)),
        )
    )


def _doc_lines(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Positional line frame for the line-dedup family: ``(id, pos,
    _line, _lh64, _lh128)`` — one row per newline-split line, identity
    = 192-bit fingerprint of the TRIMMED line (leading/trailing
    whitespace is presentation, not content), positions preserved for
    the excision rebuild. Blank lines carry NULL fingerprints so they
    never match anything (a blank line repeated everywhere is not
    boilerplate worth removing — and removing it would reflow docs)."""
    t = F.trim(F.col("_line"))
    return (
        df.select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "_line"),
        )
        .withColumns(
            {
                "_lh64": F.when(t != "", F.xxhash64(t)),
                "_lh128": F.when(t != "", F.md5(t)),
            }
        )
    )


def repeated_lines(
    df: DataFrame, id_col: str, text_col: str, min_docs: int = 2
) -> DataFrame:
    """LINE-level duplication signal (the CCNet-style granularity):
    trimmed lines recurring across at least ``min_docs`` distinct
    documents — navigation chrome, cookie banners, footer boilerplate —
    as ``(line, n_docs)``. Sits between whole-doc dedup (misses shared
    lines entirely) and token-span detection (:func:`repeated_spans`,
    which finds repeats ANYWHERE in the token stream but needs a span
    length; lines are the natural unit when the format has them).
    Within-doc repetition counts once (``countDistinct`` doc); blank
    lines never count. Shuffle carries line fingerprints + one
    exemplar, never document text."""
    _require_min_docs(min_docs)
    return (
        _doc_lines(df, id_col, text_col)
        .filter(F.col("_lh64").isNotNull())
        .groupBy("_lh64", "_lh128")
        .agg(
            F.min(F.trim("_line")).alias("line"),
            F.countDistinct(id_col).alias("n_docs"),
        )
        .filter(F.col("n_docs") >= min_docs)
        .select("line", "n_docs")
    )


def excise_repeated_lines(
    df: DataFrame, id_col: str, text_col: str, min_docs: int = 2
) -> DataFrame:
    """Rewrite ``text_col`` with cross-document repeated lines removed —
    the line-granular twin of :func:`excise_repeated_spans`, and the
    cheaper one when the format has lines: lines are removed whole, so
    the rebuild is a per-doc re-join of SURVIVING lines (original line
    text preserved byte-for-byte, including inner whitespace) and only
    AFFECTED documents' lines ever shuffle. Blank lines are kept as-is;
    a doc whose every non-blank line is boilerplate keeps its blank
    skeleton (or becomes empty), and untouched docs pass through with
    text unmoved."""
    _require_min_docs(min_docs)
    hit_fps = (
        _doc_lines(df, id_col, text_col)
        .filter(F.col("_lh64").isNotNull())
        .select(id_col, "_lh64", "_lh128")
        .distinct()
        .groupBy("_lh64", "_lh128")
        .agg(F.count("*").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("_lh64", "_lh128")
    )
    marked = materialize(
        _doc_lines(df, id_col, text_col)
        .join(hit_fps, ["_lh64", "_lh128"], "left_semi")
        .select(F.col(id_col).alias("_rm_id"), F.col("pos").alias("_rm_pos"))
    )
    return _excise_units(
        df, id_col, text_col, marked, F.split(F.col(text_col), "\n"), "\n"
    )


def ngram_leaks(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 13,
    min_hits: int = 1,
) -> DataFrame:
    """EXACT-n-gram contamination report: ``(id, n_hits)`` for corpus
    docs sharing at least ``min_hits`` distinct ``n``-token grams with
    the benchmark — the GPT-3/PaLM-style decontamination criterion,
    complementing :func:`decontaminate`'s whole-doc Jaccard: a 13-gram
    verbatim quote of one eval question sits far below any document
    similarity threshold yet is a leak.

    Scale shape: both sides reduce to DISTINCT 192-bit span
    fingerprints (the :func:`repeated_spans` machinery — text never
    shuffles); the benchmark side is one small distinct fingerprint
    set, so AQE broadcasts the semi-join, and the per-doc hit count is
    a partial-aggregated ``count``. Docs shorter than ``n`` tokens
    produce no spans and can never be flagged — by construction they
    cannot contain an n-gram."""
    if min_hits < 1:
        raise ValueError(f"min_hits must be >= 1, got {min_hits}")
    bench_fps = (
        _doc_spans(
            benchmark.select(F.lit(0).alias(id_col), F.col(text_col)),
            id_col,
            text_col,
            n,
            1,
        )
        .select("_sh64", "_sh128")
        .distinct()
    )
    corpus_spans = _doc_spans(
        docs.select(id_col, text_col), id_col, text_col, n, 1
    )
    return (
        corpus_spans.join(bench_fps, ["_sh64", "_sh128"], "left_semi")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hits"))
        .filter(F.col("n_hits") >= min_hits)
    )


def ngram_decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 13,
    min_hits: int = 1,
) -> DataFrame:
    """Drop corpus docs flagged by :func:`ngram_leaks` (exact shared
    n-gram with the benchmark). Anti-join on id only — the corpus text
    never moves.

    When combining with the Jaccard :func:`decontaminate` pass, do NOT
    chain this over its output (``ngram_decontaminate(clean, …)``
    consumes the lazy Jaccard DAG twice — span extraction + anti-join —
    re-running its verify pipeline). The leak classes are independent:
    run :func:`ngram_leaks` against the ORIGINAL corpus and anti-join
    both id sets — identical kept set, one pass each (the composition
    ``q_decontaminate`` uses; ~30% faster at sf0.1)."""
    return docs.join(
        ngram_leaks(docs, benchmark, id_col, text_col, n, min_hits).select(id_col),
        id_col,
        "left_anti",
    )
