"""Deduplication operators for training-data pipelines (SURVEY §2.3).

Five tiers, cheapest to richest; every one is a pure DataFrame plan:

1. exact_dedup          — fingerprint (md5 of normalized text) groupBy
2. ngram_jaccard_pairs  — exact Jaccard over word-shingle sets
3. minhash_lsh_pairs    — MinHash signatures + LSH banding (the scale
                          path: candidates come from an equi-join on
                          band keys, never an all-pairs comparison)
4. simhash_pairs        — 32-bit SimHash + Hamming-distance radius
5. embedding_near_dup   — cosine similarity over the embedding column

The reference's only dedup is first-seen-wins by key at the search
merge (src/coordinator/handler.py:183,201-206) — covered by
`dedup_by_key` here; the rest is the north-star extension surface.

Scale notes: exact/minhash/simhash dedup are each ONE shuffle on a
derived key (fingerprint / band key / simhash prefix) — at 100 TB the
all-pairs variants (ngram_jaccard_pairs, embedding all-pairs) are
correctness oracles for small slices, while LSH banding and bucketed
cosine are the production paths. Representative picking is min-id per
cluster: `dedup_clusters` counts the candidate graph's edges and, up to
`CC_ONE_TASK_MAX_EDGES`, resolves it in one numpy task (a handful of
Spark jobs in all); only wider graphs pay the distributed label loop,
whose rounds each cost a few jobs.
"""

from __future__ import annotations

from distributed_vector_database_spark.functions.localrel import local_df
from distributed_vector_database_spark.plans.explain import plan_size_bytes
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType
from pyspark.sql.window import Window

from distributed_vector_database_spark.functions.hashing import (
    hamming64,
    minhash_bands,
)
from distributed_vector_database_spark.functions.materialize import (
    materialize,
    release,
)
from distributed_vector_database_spark.functions.text import (
    fingerprint,
    shingles_from_tokens,
    tokenize,
)


def ensure_parallelism(df: DataFrame, id_col: str) -> DataFrame:
    """Spread a narrow input across the cluster before compute-heavy
    per-row work. A small corpus read from one parquet file arrives as
    ONE partition — every downstream hash/shingle expression would run
    single-core. At 100 TB inputs arrive well-partitioned and this is a
    no-op; locally it buys full parallelism for one tiny shuffle.

    The width probe uses the optimizer's size ESTIMATE (driver-side
    catalog/plan metadata, no job, no RDD materialization — a df.rdd
    probe would build the whole RDD lineage on every dedup call just to
    read a number): scan partitions ~ sizeInBytes / maxPartitionBytes.
    Unknown-size inputs (the 8-EB sentinel, or a failed probe) count as
    wide, which is the no-op side — never an extra shuffle of a big input."""
    size = plan_size_bytes(df)
    if size is None:
        return df
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    raw = str(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b"))
    max_bytes = int(raw.lower().rstrip("b")) if raw.lower().rstrip("b").isdigit() else 128 * 1024 * 1024
    if max(1, -(-size // max_bytes)) < target:
        return df.repartition(target, id_col)
    return df


def dedup_by_key(df: DataFrame, key_col: str, order_col: str) -> DataFrame:
    """First-wins dedup by key with a deterministic order (the
    reference's seen_keys guard, src/coordinator/handler.py:201-206,
    made deterministic via an explicit ordering column)."""
    w = Window.partitionBy(key_col).orderBy(order_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def exact_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup via content fingerprint: one row per distinct
    normalized text, keeping the min id as representative and the
    duplicate count. One hash shuffle on the fingerprint."""
    return (
        docs.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("rep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs (id_a < id_b, jaccard ≥ t).

    Plan: explode distinct shingles → self-equi-join on shingle (so only
    docs sharing ≥1 shingle ever meet — no cross join) → per-pair
    intersection count → Jaccard from per-doc set sizes. This is the
    exact oracle; minhash_lsh_pairs is its approximation at scale."""
    return (
        _shingle_pair_counts(docs, n, id_col, text_col)
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _shingle_pair_counts(
    docs: DataFrame, n: int, id_col: str, text_col: str
) -> DataFrame:
    """(id_a < id_b, inter, size_a, size_b) for every doc pair sharing
    at least one n-gram shingle — the exact-pair pipeline shared by the
    Jaccard and containment scorers (shared-shingle equi self-join, so
    no cross join ever).

    The shingle relation is referenced three times (sizes + both join
    sides); it is materialized via localCheckpoint rather than cache()
    because checkpoint blocks are GC-managed (released once the result
    goes unreachable) while a CacheManager entry pins executor storage
    for the life of the session — the leak class fixed in
    graph.pagerank this round."""
    sh = (
        ensure_parallelism(docs, id_col)
        .withColumn("__toks", tokenize(text_col))  # staged: no-CSE rule
        .select(
            F.col(id_col).alias("id"),
            F.array_distinct(shingles_from_tokens("__toks", n)).alias(
                "shingles"
            ),
        )
        .localCheckpoint(eager=True)
    )
    sizes = sh.select("id", F.size("shingles").alias("set_size"))
    exploded = sh.select("id", F.explode("shingles").alias("shingle"))
    pairs = (
        exploded.alias("a")
        .join(exploded.alias("b"), "shingle")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return pairs.join(
        sizes.withColumnRenamed("id", "id_a").withColumnRenamed(
            "set_size", "size_a"
        ),
        "id_a",
    ).join(
        sizes.withColumnRenamed("id", "id_b").withColumnRenamed(
            "set_size", "size_b"
        ),
        "id_b",
    )


def ngram_containment_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact n-gram CONTAINMENT near-dup pairs: containment =
    |A ∩ B| / min(|A|, |B|) — the asymmetric dual of ngram_jaccard_pairs
    for sub/superset duplication. A short doc pasted inside a long one
    has tiny Jaccard (the union is dominated by the long doc) but
    containment ~1; quote-heavy and concatenated training documents are
    exactly this failure mode, so the dedup stack needs both measures.

    Same never-all-pairs plan as ngram_jaccard_pairs (shared-shingle
    equi self-join → per-pair intersection → sizes by join); both
    scores are emitted so callers can see WHY a pair matched.
    Returns (id_a < id_b, containment, jaccard), containment ≥ t."""
    return (
        _shingle_pair_counts(docs, n, id_col, text_col)
        .withColumn(
            "containment",
            F.round(
                F.col("inter") / F.least("size_a", "size_b"), 6
            ),
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.col("size_a") + F.col("size_b") - F.col("inter")),
                6,
            ),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment", "jaccard")
    )


def jaccard_verify(
    candidates: DataFrame,
    docs: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact n-gram Jaccard computed ONLY for given candidate pairs
    (id_a, id_b) — the verification tier of two-tier dedup.

    Cost is O(candidates), never O(n²): the shingle arrays hydrate via
    two equi-joins keyed by the candidate ids (Catalyst broadcasts the
    candidate side when it is small, leaving the corpus unshuffled)."""
    sh = docs.withColumn("__toks", tokenize(text_col)).select(
        F.col(id_col).alias("__id"),
        F.array_distinct(shingles_from_tokens("__toks", n)).alias("__sh"),
    )
    return (
        candidates.select("id_a", "id_b")
        .join(sh.select(F.col("__id").alias("id_a"), F.col("__sh").alias("__sh_a")), "id_a")
        .join(sh.select(F.col("__id").alias("id_b"), F.col("__sh").alias("__sh_b")), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("__sh_a", "__sh_b"))
                / F.size(F.array_union("__sh_a", "__sh_b")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs_scale(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    num_perm: int = 16,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_cap: int | None = None,
) -> DataFrame:
    """Two-tier exact-verified near-dup pairs: MinHash-LSH banding
    proposes candidates (the only corpus-wide shuffle, O(collisions)),
    exact n-gram Jaccard verifies just those pairs.

    Same output contract as ngram_jaccard_pairs but sub-quadratic:
    recall follows the LSH S-curve (identical docs collide in every band
    → recall 1.0 for exact duplicates; near the threshold it is
    governed by (bands, rows-per-band)). ngram_jaccard_pairs stays the
    small-slice oracle; this is the 100 TB path."""
    cand = minhash_lsh_pairs(
        docs,
        num_perm=num_perm,
        bands=bands,
        id_col=id_col,
        text_col=text_col,
        shingle_n=n,
        bucket_cap=bucket_cap,
    )
    return jaccard_verify(
        cand, docs, threshold=threshold, n=n, id_col=id_col, text_col=text_col
    )


def minhash_signatures(
    docs: DataFrame,
    num_perm: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """The MinHash signature table: (id, sig: array<long>[num_perm]).

    explode -> hash once -> num_perm partial-min aggregates. The
    expression form (hashing.minhash_signature) re-evaluates the md5
    subtree once per permutation (Catalyst doesn't CSE across lambda
    bodies) — num_perm x the md5 cost; this shape hashes each shingle
    exactly once and the mins combine map-side, which is also the
    right plan at 100 TB (the shuffle carries one num_perm-long row
    per doc, not the shingle sets).

    This is the table a production pipeline PERSISTS: incremental
    dedup (minhash_lsh_pairs_incremental) band-joins each new batch
    against it without ever re-shingling the corpus."""
    from distributed_vector_database_spark.functions.hashing import (
        MINHASH_PERMS,
        MINHASH_PRIME,
        hash32,
    )

    exploded = (
        ensure_parallelism(docs, id_col)
        .withColumn("__toks", tokenize(text_col))  # staged: no-CSE rule
        .select(
            F.col(id_col).alias("id"),
            F.explode(
                F.array_distinct(shingles_from_tokens("__toks", shingle_n))
            ).alias("s"),
        )
        .select("id", hash32("s").alias("h"))
    )
    return (
        exploded.groupBy("id")
        .agg(
            *[
                F.min((F.lit(a) * F.col("h") + F.lit(b)) % MINHASH_PRIME).alias(f"m{j}")
                for j, (a, b) in enumerate(MINHASH_PERMS[:num_perm])
            ]
        )
        .select(
            "id", F.array(*[F.col(f"m{j}") for j in range(num_perm)]).alias("sig")
        )
    )


def _sig_match(num_perm: int):
    return F.round(
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                lambda eq: eq,
            )
        )
        / F.lit(float(num_perm)),
        6,
    )


def _band_explode(sigs: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    return sigs.select(
        "id",
        "sig",
        F.explode(minhash_bands("sig", bands, rows_per_band)).alias("bk"),
    ).select(
        "id", "sig", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key")
    )


def minhash_lsh_pairs_incremental(
    new_docs: DataFrame,
    corpus_sigs: DataFrame,
    num_perm: int = 16,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """Continual-ingest near-dup: candidate pairs between a NEW batch
    and an already-signed corpus, plus pairs within the batch.

    `corpus_sigs` is the persisted output of minhash_signatures (id,
    sig) — the corpus is never re-shingled; each batch costs
    O(|batch| shingles + band collisions). Returns (id_a, id_b,
    sig_match) with the usual id_a < id_b orientation; at least one
    side of every pair is from the new batch. Ids must be disjoint
    from corpus ids (enforce upstream with a key allocator)."""
    rows_per_band = num_perm // bands
    new_sigs = minhash_signatures(
        new_docs, num_perm=num_perm, id_col=id_col, text_col=text_col,
        shingle_n=shingle_n,
    ).cache()
    b_new = _band_explode(new_sigs, bands, rows_per_band)
    b_corpus = _band_explode(corpus_sigs, bands, rows_per_band)
    cross = (
        b_new.alias("a")
        .join(b_corpus.alias("b"), ["band", "band_key"])
        .filter(F.col("a.id") != F.col("b.id"))
        .select(
            F.least("a.id", "b.id").alias("id_a"),
            F.greatest("a.id", "b.id").alias("id_b"),
            # sig arrays travel with the band rows; re-fetch not needed
            F.when(F.col("a.id") < F.col("b.id"), F.col("a.sig"))
            .otherwise(F.col("b.sig"))
            .alias("sig_a"),
            F.when(F.col("a.id") < F.col("b.id"), F.col("b.sig"))
            .otherwise(F.col("a.sig"))
            .alias("sig_b"),
        )
    )
    within = (
        b_new.alias("a")
        .join(b_new.alias("b"), ["band", "band_key"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
    )
    return (
        cross.unionByName(within)
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", _sig_match(num_perm).alias("sig_match"))
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    num_perm: int = 16,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via MinHash + LSH banding.

    sig = minhash_signature(shingles); split into `bands` bands of
    num_perm/bands rows; docs sharing any full band collide. The join is
    an equi-join on (band, band_key) — the only shuffle — so cost is
    O(collisions), not O(n²). Returns distinct candidate pairs with the
    fraction of matching signature positions as `sig_match`.

    `bucket_cap` is the skew escape hatch for web-scale corpora, where
    one giant cluster of near-identical boilerplate (a license header,
    an error page) can put millions of docs in ONE band bucket and the
    self-join's B² pairs on a single reducer. Buckets larger than the
    cap emit STAR edges instead — every member paired with the bucket's
    min-id representative, O(B) pairs — which preserves connected
    components (all members stay linked through the rep), so
    `dedup_clusters` over the pairs is unchanged; only the exhaustive
    within-bucket pair list is given up, and only for outlier buckets."""
    rows_per_band = num_perm // bands
    # r14 (guide §2.3/§2.4): pair GENERATION moves ids, not payloads.
    # The r13 band SELF-join shuffled the banded table twice with the
    # full num_perm-long signature on every exploded band row (2 x
    # bands x sig bytes per doc). One groupBy(band, band_key) over an
    # ids-ONLY projection (band_key is derived from sig BEFORE the
    # exchange, so the sig column is projected away — §2.3 "project
    # before the exchange") collects the sorted member-id array; i<j
    # positions in it are exactly the a.id < b.id pairs the self-join
    # produced. Signatures are attached AFTERWARD to the (few
    # relative to band rows) distinct candidate pairs from the cached
    # signature table. Shuffle bytes: bands x 8B per doc for pair-gen
    # plus 2 x sig per doc for the attach joins — vs 2 x bands x
    # (sig + 8B) before. An all-payload groupBy variant (collect
    # struct<id, sig>) was measured 2x SLOWER than the self-join at
    # sf0.1 (interpreted higher-order pair explosion over heavy
    # structs); this ids-only form beats both.
    sigd = minhash_signatures(
        docs, num_perm=num_perm, id_col=id_col, text_col=text_col, shingle_n=shingle_n
    ).cache()  # three consumers: band explode + both attach joins
    banded = _band_explode(sigd, bands, rows_per_band).select(
        "band", "band_key", "id"
    )
    members = banded.groupBy("band", "band_key").agg(
        F.array_sort(F.collect_list("id")).alias("__ids")
    )
    full = members if bucket_cap is None else members.filter(
        F.size("__ids") <= bucket_cap
    )
    cand = full.select(
        F.explode(
            F.flatten(
                F.transform(
                    "__ids",
                    lambda x, i: F.transform(
                        F.slice("__ids", i + F.lit(2), F.size("__ids")),
                        lambda y: F.struct(
                            x.alias("id_a"), y.alias("id_b")
                        ),
                    ),
                )
            )
        ).alias("__p")
    ).select("__p.id_a", "__p.id_b")
    if bucket_cap is not None:
        # star edges for the capped buckets: rep = min(id) = the sorted
        # array's head, so (rep, id) respects the id_a < id_b pair
        # convention
        star = (
            members.filter(F.size("__ids") > bucket_cap)
            .select(
                F.explode(
                    F.transform(
                        F.slice(F.col("__ids"), 2, F.size("__ids")),
                        lambda y: F.struct(
                            F.element_at("__ids", 1).alias("id_a"),
                            y.alias("id_b"),
                        ),
                    )
                ).alias("__p")
            )
            .select("__p.id_a", "__p.id_b")
        )
        cand = cand.unionByName(star)
    cand = cand.dropDuplicates(["id_a", "id_b"])
    return (
        cand.join(
            sigd.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a")),
            "id_a",
        )
        .join(
            sigd.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b")),
            "id_b",
        )
        .select("id_a", "id_b", _sig_match(num_perm).alias("sig_match"))
    )


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_cap: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs within a Hamming radius.

    Candidate generation uses the standard bit-block trick: split the
    60-bit simhash into (max_hamming+1) blocks; by pigeonhole, any pair
    within the radius shares at least one exact block → equi-join on
    (block_idx, block_value), then exact Hamming verify. One shuffle.

    Scale: 60 sketch bits (not 32 — see hashing.SIMHASH_BITS for why not
    64) give 15-bit blocks at the default radius: 32768 join values per
    block, so bucket sizes track actual near-dup density instead of the
    ~n/256 floor a 32-bit sketch imposes — candidates stay ~O(dups), not
    O(n²/2^block_bits). `bucket_cap` is the same skew hatch as
    minhash_lsh_pairs: a block bucket larger than the cap (mass-produced
    boilerplate hashing to one block value) emits O(B) star edges to its
    min-id rep instead of B² pairs; members within the radius of the rep
    stay linked for `dedup_clusters`, and only the exhaustive
    within-bucket pair list is given up, only for outlier buckets."""
    from distributed_vector_database_spark.functions.hashing import (
        SIMHASH_BITS,
        hash60,
    )

    nblocks = max_hamming + 1
    block_bits = SIMHASH_BITS // nblocks
    nbits = block_bits * nblocks  # use only whole blocks of the sketch
    # explode tokens -> hash once -> partial-sum bit votes (same
    # rationale as minhash_lsh_pairs: the expression form pays nbits x
    # md5; this is one hash per token + map-side combinable sums)
    toks = ensure_parallelism(docs, id_col).select(
        F.col(id_col).alias("id"), F.explode(tokenize(text_col)).alias("t")
    ).select("id", hash60("t").alias("h"))
    # bit b's ±1 vote sum is positive  ⟺  2*(count of 1s) > n_tokens:
    # summing the raw bit (no CASE) plus one shared count is measurably
    # cheaper codegen than nbits conditional sums. The nbits sums and
    # the signature are SQL strings: one parse each, where composing
    # them from Column functions costs ~11 driver↔JVM calls per bit
    votes = toks.groupBy("id").agg(
        F.count(F.lit(1)).alias("__ntok"),
        *[F.expr(f"sum((h >> {b}) & 1) AS v{b}") for b in range(nbits)],
    )
    sh_expr = F.expr(
        " + ".join(f"IF(v{b} * 2 > __ntok, {2**b}L, 0L)" for b in range(nbits))
    )
    # r14 (guide §2.3/§2.4, the r13 mining pattern): the old block
    # SELF-join shuffled the signature table twice (once per join side,
    # re-evaluating the cached subtree per side) plus a broadcast
    # build. ONE groupBy(blk, blk_val) collecting the id-sorted member
    # array replaces it: same bucket membership, i<j positions in the
    # sorted array are exactly the a.id < b.id pairs the self-join
    # produced, exploded with JVM higher-order functions — no Python,
    # no second shuffle, no cache (the signature table now has a
    # single consumer). The collect buffer per bucket is O(bucket
    # size) — identical to the rows the self-join shuffled into one
    # task for the same bucket, while the B² explosion stays behind
    # `bucket_cap` exactly as before.
    sh = votes.select("id", sh_expr.alias("sh"))
    blocks = sh.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftright(F.col("sh"), i * block_bits)
                        .bitwiseAND(F.lit((1 << block_bits) - 1))
                        .alias("blk_val"),
                    )
                    for i in range(nblocks)
                ]
            )
        ).alias("b"),
    ).select("id", "sh", F.col("b.blk").alias("blk"), F.col("b.blk_val").alias("blk_val"))
    # ids are distinct within a bucket (one row per id per block), so
    # array_sort on struct<id, sh> orders by id
    members = blocks.groupBy("blk", "blk_val").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("id"), F.col("sh")))
        ).alias("__ms")
    )

    def _pairs_from(arr_col):
        return F.explode(
            F.flatten(
                F.transform(
                    arr_col,
                    lambda x, i: F.transform(
                        F.slice(arr_col, i + F.lit(2), F.size(arr_col)),
                        lambda y: F.struct(
                            x["id"].alias("id_a"),
                            y["id"].alias("id_b"),
                            x["sh"].alias("sh_a"),
                            y["sh"].alias("sh_b"),
                        ),
                    ),
                )
            )
        )

    full = members if bucket_cap is None else members.filter(
        F.size("__ms") <= bucket_cap
    )
    cand = full.select(_pairs_from(F.col("__ms")).alias("__p")).select(
        "__p.id_a", "__p.id_b", "__p.sh_a", "__p.sh_b"
    )
    if bucket_cap is not None:
        # star edges for capped buckets: rep = min(id) = the sorted
        # array's head, so (rep, member) respects the id_a < id_b
        # orientation; still Hamming-verified below like every other
        # candidate. No window, no sh re-join: the collected array
        # already carries every member's signature.
        star = (
            members.filter(F.size("__ms") > bucket_cap)
            .select(
                F.explode(
                    F.transform(
                        F.slice(F.col("__ms"), 2, F.size("__ms")),
                        lambda y: F.struct(
                            F.element_at("__ms", 1)["id"].alias("id_a"),
                            y["id"].alias("id_b"),
                            F.element_at("__ms", 1)["sh"].alias("sh_a"),
                            y["sh"].alias("sh_b"),
                        ),
                    )
                ).alias("__p")
            )
            .select("__p.id_a", "__p.id_b", "__p.sh_a", "__p.sh_b")
        )
        cand = cand.unionByName(star)
    return (
        cand.dropDuplicates(["id_a", "id_b"])
        .select(
            "id_a",
            "id_b",
            hamming64(F.col("sh_a"), F.col("sh_b")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


# widest canonical edge set (both directions of every candidate pair,
# deduplicated) that dedup_clusters resolves in ONE task instead of the
# distributed label loop. On local[4] (random small components plus one
# 10%-of-pairs path) one task won at every size timed: 1.5 s vs 6.0 s
# at 10^4 edges, 0.7 s vs 10.8 s at 10^5, 3.4 s vs 41.9 s at 10^6. Memory
# sets the bound: the task's peak grows by ~90 MB at 10^6 edges and
# ~275 MB at 2x10^6.
CC_ONE_TASK_MAX_EDGES = 1_000_000


def _min_labels(a, b, n: int):
    """label[i] = the smallest node code in i's connected component, for
    codes 0..n-1 joined by the edges (a[k], b[k]) (int numpy arrays).

    Min-hooking plus pointer jumping on a shrinking edge list: every
    root hooks onto the smallest root across its edges, jumping then
    points every node straight at its root, and each edge is replaced
    by its two roots, dropping the ones now inside one tree. Labels
    only ever decrease and stay inside their component, so a root is
    its tree's minimum; the loop ends when no edge joins two trees."""
    import numpy as np

    label = np.arange(n, dtype=np.int64)
    while a.size:
        np.minimum.at(label, a, b)
        np.minimum.at(label, b, a)
        while True:
            jumped = label[label]
            if np.array_equal(jumped, label):
                break
            label = jumped
        a, b = label[a], label[b]
        cross = a != b
        a, b = a[cross], b[cross]
    return label


def _components_in_one_task(batches):
    """mapInArrow body over ALL of dedup_clusters' (src, dst) edges in
    one partition: one (id, rep_id) row per endpoint, rep_id = the min
    id of its component. Ids are coded by their rank among the sorted
    distinct endpoints, so any orderable id type keeps Spark's min; a
    null endpoint labels nothing and comes out as one (null, null) row,
    as the loop path's label table holds it."""
    import pyarrow as pa
    import pyarrow.compute as pc

    batches = list(batches)
    if not batches:
        return
    table = pa.Table.from_batches(batches)
    src = table.column("src").combine_chunks()
    dst = table.column("dst").combine_chunks()
    # edges hold both directions of every pair: the non-null srcs are
    # every endpoint
    nodes = pc.unique(src.drop_null())
    nodes = nodes.take(pc.sort_indices(nodes))
    both = pc.and_(src.is_valid(), dst.is_valid())
    a = pc.index_in(src.filter(both), value_set=nodes).to_numpy()
    b = pc.index_in(dst.filter(both), value_set=nodes).to_numpy()
    ids = nodes
    reps = nodes.take(pa.array(_min_labels(a, b, len(nodes))))
    if src.null_count:
        ids = pa.concat_arrays([ids, pa.nulls(1, ids.type)])
        reps = pa.concat_arrays([reps, pa.nulls(1, reps.type)])
    yield pa.RecordBatch.from_arrays([ids, reps], names=["id", "rep_id"])


def dedup_clusters(
    all_ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "id",
    max_iterations: int = 20,
    reliable: bool | None = None,
) -> DataFrame:
    """Resolve near-dup candidate pairs into clusters: every id gets the
    MIN id of its connected component as `rep_id` (singletons represent
    themselves) — the cluster-pick step after MinHash/SimHash candidate
    generation (SURVEY §2.3 / Phase 5).

    The pairs are first canonicalized into a cached edge table (both
    directions, distinct) and counted; the exact count picks the path,
    so scanned and derived pair plans (minhash_lsh_pairs, whose size
    estimate is unknown) choose alike:

    - up to `CC_ONE_TASK_MAX_EDGES` edges: ONE task holds every edge
      and resolves the graph in numpy (`_min_labels`: min-hooking plus
      pointer jumping). Exact on any topology; the labels are
      materialized once, with no round limit and no per-round jobs.
    - above it, the distributed loop: min-label propagation + pointer
      doubling per round. Propagation alone converges in
      O(component diameter) rounds — fine for the small dense clusters
      near-dup workloads mostly produce, but a scale cliff for the
      long similarity CHAINS that boilerplate / template corpora create
      at 100 TB (a 10k-doc chain would need 10k rounds). Each round
      therefore also shortcuts rep_id <- rep(rep_id) (one self-join of
      the label table), which halves label-chain depth: convergence is
      O(log n) rounds when ids grow along a chain (the hash-to-min /
      pointer-jumping argument — Kiveris et al., "Connected Components
      in MapReduce and Beyond", gives the same bound for star
      operations); a chain whose ids are shuffled along it converges
      far slower. Each round is two joins + one aggregate on |edge
      endpoints| rows; labels are materialized per round to keep the
      lineage (and thus task closures) constant-size at scale, and the
      superseded round's blocks are released. `max_iterations` caps
      this loop's rounds and applies on this path only.

    `reliable` picks the materialization mode of the labels on both
    paths (functions/materialize.py): executor-local by default,
    durable checkpoint files when True or when dynamic allocation is
    on — same durability switch as the iterative graph operators.
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .distinct()
        .cache()
    )
    # only nodes that touch an edge get labels — in a dedup workload
    # that's a tiny fraction of the corpus, so both paths run on |edge
    # endpoints|, and the (huge) singleton majority joins back in one
    # anti-join at the end with rep=self
    if edges.count() <= CC_ONE_TASK_MAX_EDGES:
        id_type = edges.schema["src"].dataType
        labels = materialize(
            edges.coalesce(1).mapInArrow(
                _components_in_one_task,
                StructType(
                    [StructField("id", id_type), StructField("rep_id", id_type)]
                ),
            ),
            reliable,
        )
        edge_nodes = labels.select("id")
    else:
        labels, edge_nodes = _label_loop(edges, max_iterations, reliable)
    # the returned plan reads only the materialized edge_nodes and
    # labels, never the edge cache
    edges.unpersist()
    singletons = (
        all_ids.select(F.col(id_col).alias("id"))
        .join(edge_nodes, "id", "left_anti")
        .select("id", F.col("id").alias("rep_id"))
    )
    return labels.unionByName(singletons)


def _label_loop(
    edges: DataFrame, max_iterations: int, reliable: bool | None
) -> tuple[DataFrame, DataFrame]:
    """dedup_clusters' distributed path: (labels, edge_nodes), both
    materialized, from min-label propagation + pointer doubling."""
    # localCheckpoint, not cache: the returned plan's singleton anti-join
    # references edge_nodes, and a cached lineage still embeds the whole
    # candidate-pair (sketch) plan in every consumer — checkpointing the
    # small endpoint set keeps the final composed plan constant-size
    edge_nodes = materialize(
        edges.select(F.col("src").alias("id")).distinct(), reliable
    )
    labels = edge_nodes.select("id", F.col("id").alias("rep_id"))
    superseded = None
    for it in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("rep_id").alias("nbr_rep"))
        )
        # the changed flag rides the SAME select as the label update —
        # no old-vs-new join per round (r2 VERDICT #6); the convergence
        # probe is then one tiny agg over the checkpointed label set,
        # and it only runs every 2nd round (labels are monotone
        # non-increasing, so overshooting by one round is harmless)
        prop = labels.join(
            neighbor_min, labels["id"] == neighbor_min["src"], "left"
        ).select(
            "id",
            F.least(
                F.col("rep_id"), F.coalesce(F.col("nbr_rep"), F.col("rep_id"))
            ).alias("rep_id"),
            (
                F.coalesce(F.col("nbr_rep"), F.col("rep_id")) < F.col("rep_id")
            ).alias("__chg"),
        )
        # pointer doubling: rep_id <- rep(rep_id). rep_id is always a
        # node id in this label set (it's a min over node ids), so the
        # self-join resolves every pointer; chains halve in depth each
        # round, giving O(log n) total rounds on path-shaped components
        reps = prop.select(
            F.col("id").alias("__rid"), F.col("rep_id").alias("__rrep")
        )
        new_labels = materialize(
            prop.join(reps, prop["rep_id"] == reps["__rid"], "left").select(
                "id",
                F.coalesce("__rrep", "rep_id").alias("rep_id"),
                (
                    F.col("__chg")
                    | (F.coalesce("__rrep", "rep_id") < F.col("rep_id"))
                ).alias("__chg"),
            ),
            reliable,
        )
        # the previous round's labels were last read by this round's
        # materialization (edge_nodes, round 0's input, stays)
        if superseded is not None:
            release(superseded)
        superseded = new_labels
        labels = new_labels.select("id", "rep_id")
        # r13: probe EVERY round (was every 2nd). The probe is a
        # limit-1 scan over the just-checkpointed label blocks —
        # metadata-cheap at any scale — while the round it saves is
        # two joins plus a full label materialization. Worst case
        # (convergence after an odd round count) the old cadence paid
        # one whole extra round to save R/2 tiny probes.
        if new_labels.filter(F.col("__chg")).limit(1).count() == 0:
            break
    return labels, edge_nodes


def dedup_clusters_incremental(
    labels: DataFrame,
    new_pairs: DataFrame,
    new_ids: DataFrame | None = None,
    id_col: str = "id",
    max_iterations: int = 20,
    reliable: bool | None = None,
) -> DataFrame:
    """Continual-ingest clustering: fold a NEW batch of duplicate
    pairs (and optionally new singleton ids) into a persisted
    (id, rep_id) labeling — the output of dedup_clusters — WITHOUT
    re-running connected components over the full pair history.

    Correctness rests on star-graph equivalence: a labeling is
    connectivity-equivalent to its star edges (id — rep_id), so CC
    over (stars ∪ batch pairs) equals CC over (all historical pairs ∪
    batch pairs). Cost rests on component hydration: only the
    components the batch TOUCHES are re-resolved — batch endpoints →
    their reps (broadcast semi join) → every member of those
    components; untouched labels pass through verbatim. Per-batch
    cost is O(|batch| + Σ touched component sizes), never the corpus
    — the same incremental economics as minhash_incremental /
    record_link_incremental. A new edge can merge two old components
    (both hydrate; the global min id wins) or attach a brand-new id
    (its own id may become the new rep if smaller).

    Giant-component caveat: ONE batch edge into a mega-component
    hydrates that component in full — correct, but the fold's cost is
    then that component's mass, not the batch's. The fold logs the
    touched mass per call (cheap counts on already-materialized
    checkpoints) so ingest loops can watch for it; the real
    mitigation is UPSTREAM: the `bucket_cap` star-edge hatch in
    minhash_lsh_dedup bounds how large any near-dup component can
    grow in the first place, and a 500k-member worst case measures
    ~linear in the mass, not the corpus (tools/giant_component_smoke
    .py, SCALE.md).

    Parity is pinned by test: fold(labels(P1), P2) ==
    dedup_clusters(all, P1 ∪ P2) for chains that cross batches."""
    pairs = new_pairs.select(
        F.col("id_a").cast("long"), F.col("id_b").cast("long")
    )
    ends = materialize(
        pairs.select(F.col("id_a").alias("id"))
        .unionByName(pairs.select(F.col("id_b").alias("id")))
        .distinct(),
        reliable,
    )
    # reps of every touched OLD component (batch-bounded)
    touched_reps = materialize(
        labels.join(F.broadcast(ends), "id", "left_semi")
        .select("rep_id")
        .distinct(),
        reliable,
    )
    # hydrate those components in full: their stars must re-resolve
    # together (a merge can relabel every member)
    touched = materialize(
        labels.join(F.broadcast(touched_reps), "rep_id", "left_semi"),
        reliable,
    )
    # giant-component watch: both frames are eager checkpoints, so
    # these counts are metadata-cheap; a touched mass far above the
    # batch size means an edge landed in a mega-component and this
    # fold pays that component's mass (see docstring caveat)
    import logging as _logging

    _log = _logging.getLogger(__name__)
    if _log.isEnabledFor(_logging.INFO):
        _log.info(
            "dedup_clusters_incremental: %d touched components, "
            "touched mass %d",
            touched_reps.count(),
            touched.count(),
        )
    star_pairs = touched.filter(F.col("id") != F.col("rep_id")).select(
        F.col("id").alias("id_a"), F.col("rep_id").alias("id_b")
    )
    # batch endpoints with no old label are NEW ids (or old singletons
    # — labelings store those as rep=self, so they arrive via touched)
    fresh = ends.join(labels.select("id"), "id", "left_anti")
    # new_ids already present in the persisted labeling must NOT enter
    # the resolve scope: an already-labeled id whose component the
    # batch does not touch would otherwise be emitted twice — once via
    # `untouched` with its old rep and once from `resolved` as
    # rep=self (its component's star edges are never hydrated). Same
    # anti-join discipline as `fresh`.
    scope_ids = (
        touched.select("id")
        .unionByName(fresh)
        .unionByName(
            new_ids.select(F.col(id_col).alias("id")).join(
                labels.select("id"), "id", "left_anti"
            )
            if new_ids is not None
            else fresh.limit(0)
        )
        .distinct()
    )
    resolved = dedup_clusters(
        scope_ids,
        star_pairs.unionByName(pairs),
        max_iterations=max_iterations,
        reliable=reliable,
    )
    untouched = labels.join(
        F.broadcast(touched_reps), "rep_id", "left_anti"
    ).select("id", "rep_id")
    return untouched.unionByName(resolved.select("id", "rep_id"))


def embedding_near_dup(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_rows: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (id_a < id_b, cosine ≥ t).

    Exact all-pairs, executed as a BLOCKED distributed matrix multiply:
    assign each vector to a block, replicate every row once per block
    PAIR it participates in, and compute each block×block cosine
    submatrix with one vectorized numpy matmul inside an applyInPandas
    group. This is the classic distributed GEMM shape — n² work spread
    as (n/b)² independent block tasks, each a dense BLAS call.

    Block size is bounded: `block_rows` (default sized so one block's
    float64 matrix is ~64 MB) caps the rows per group, so a group is a
    many-row Arrow-batched pandas frame that always fits in executor
    memory — there is NO collect_list of a block into a single row, so
    no 2 GB row limit and no fixed block count; n_blocks grows with the
    corpus. The n² work itself is inherent to the exact tier — at 100 TB
    use embedding_near_dup_at_scale (LSH prefilter → exact verify on
    candidates only); this kernel is the correctness oracle."""
    import math

    import numpy as np
    import pandas as pd

    # one sizing job: the row count and the vector width together
    size = emb.agg(
        F.count(F.lit(1)).alias("n"), F.max(F.size(F.col(vec_col))).alias("d")
    ).first()
    n = size["n"]
    if n == 0:
        return emb.sparkSession.createDataFrame(
            [], "id_a long, id_b long, cosine double"
        )
    if block_rows is None:
        dim = size["d"] or 1
        # one block side ≈ 64 MB of float64s; floor keeps tiny-dim
        # corpora from degenerating into a single giant block task
        block_rows = max(1024, (64 << 20) // (int(dim) * 8))
    n_blocks = max(1, math.ceil(n / block_rows))
    # small corpora: still fan out across cores (replication cost is
    # trivial below block_rows, and the GEMM parallelizes)
    n_blocks = max(n_blocks, min(8, math.ceil(n / 256)))
    t = float(threshold)

    # each row goes to every block pair (pa, pb) that involves its own
    # block: explode over the partner block index. side 0 = the row
    # plays the pa role, side 1 = the pb role; diagonal groups carry
    # each row once (side 0) and the kernel mirrors them.
    expanded = (
        ensure_parallelism(emb.filter(F.col(vec_col).isNotNull()), id_col)
        .select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("v"),
            F.pmod(F.col(id_col), F.lit(n_blocks)).alias("blk"),
        )
        .select(
            "id",
            "v",
            "blk",
            F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("partner"),
        )
        .select(
            "id",
            "v",
            F.least("blk", "partner").alias("pa"),
            F.greatest("blk", "partner").alias("pb"),
            F.when(F.col("blk") == F.least("blk", "partner"), F.lit(0))
            .otherwise(F.lit(1))
            .alias("side"),
        )
    )

    def block_cosine(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "id_a": pd.Series(dtype="int64"),
                "id_b": pd.Series(dtype="int64"),
                "cosine": pd.Series(dtype="float64"),
            }
        )
        if pdf.empty:
            return empty
        diag = pdf["pa"].iat[0] == pdf["pb"].iat[0]
        a = pdf[pdf["side"] == 0]
        b = a if diag else pdf[pdf["side"] == 1]
        if a.empty or b.empty:
            return empty
        ids_a = a["id"].to_numpy()
        ids_b = b["id"].to_numpy()
        ma = np.stack([np.asarray(v) for v in a["v"].to_numpy()])
        mb = ma if diag else np.stack([np.asarray(v) for v in b["v"].to_numpy()])
        na = np.linalg.norm(ma, axis=1)
        nb = na if diag else np.linalg.norm(mb, axis=1)
        denom = np.outer(na, nb)
        with np.errstate(invalid="ignore", divide="ignore"):
            cos = np.where(denom == 0.0, 0.0, (ma @ mb.T) / denom)
        cos = np.round(cos, 6)
        ia, ib = np.nonzero(cos >= t)
        if diag:
            # diagonal block: emit the upper triangle only
            keep = ids_a[ia] < ids_b[ib]
            lo, hi = ids_a[ia][keep], ids_b[ib][keep]
            vals = cos[ia, ib][keep]
        else:
            # off-diagonal: every hit is unique to this block pair;
            # normalize to (min_id, max_id)
            lo = np.minimum(ids_a[ia], ids_b[ib])
            hi = np.maximum(ids_a[ia], ids_b[ib])
            vals = cos[ia, ib]
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cosine": vals})

    return expanded.groupBy("pa", "pb").applyInPandas(
        block_cosine, schema="id_a long, id_b long, cosine double"
    )


def _train_spherical_centroids(
    unit: DataFrame,
    n: int,
    n_clusters: int,
    train_sample: int,
    lloyd_iters: int,
    seed: int,
    assign_dim: int | None,
):
    """Train the coarse spherical-k-means quantizer on a bounded sample
    (driver-side Lloyd, FAISS-style — codebook statistics converge long
    before the full corpus). Returns (cent_list, proj_list): centroid
    rows as plain lists (they ride closures) and the optional JL
    projection matrix when `assign_dim` shrinks the assignment space.
    `unit` must be the (id, v) projection with non-null vectors."""
    import numpy as np

    sample = unit.select("v")
    if n > train_sample:
        sample = sample.sample(fraction=train_sample / n, seed=seed)
    smat = np.asarray([r["v"] for r in sample.collect()], dtype=np.float64)
    if smat.shape[0] == 0:
        # Bernoulli sampling can return zero rows on a small corpus —
        # fall back to a bounded deterministic prefix
        smat = np.asarray(
            [r["v"] for r in unit.select("v").limit(min(n, train_sample)).collect()],
            dtype=np.float64,
        )
    snorm = np.linalg.norm(smat, axis=1, keepdims=True)
    snorm[snorm == 0.0] = 1.0
    smat = smat / snorm
    proj_list = None
    if assign_dim is not None and 0 < assign_dim < smat.shape[1]:
        from distributed_vector_database_spark.functions.vector import (
            rademacher_matrix,
        )

        proj_list = rademacher_matrix(smat.shape[1], int(assign_dim), seed)
        pm = np.asarray(proj_list, dtype=np.float64)
        smat = smat @ pm.T
        pn = np.linalg.norm(smat, axis=1, keepdims=True)
        pn[pn == 0.0] = 1.0
        smat = smat / pn
    rng = np.random.default_rng(seed)
    k_eff = min(n_clusters, smat.shape[0])
    cent = smat[rng.choice(smat.shape[0], size=k_eff, replace=False)]
    for _ in range(lloyd_iters):
        # spherical k-means step: assign by max cosine, re-mean, renorm
        assign = np.argmax(smat @ cent.T, axis=1)
        for ci in range(k_eff):
            members = smat[assign == ci]
            if len(members):
                m = members.mean(axis=0)
                nm = np.linalg.norm(m)
                cent[ci] = m / nm if nm > 0 else cent[ci]
    return cent.tolist(), proj_list


def _probe_assign_clusters(
    unit: DataFrame,
    cent_list: list,
    proj_list: list | None,
    probe: int,
    probe_margin: float | None = None,
) -> DataFrame:
    """Assign every (id, v) row to nearby centroids with one
    Arrow-batched matmul → (cluster, id, v) rows. A pair is compared
    iff the two share an assigned centroid.

    Fixed mode (probe_margin=None): exactly `probe` nearest centroids
    per row — probe >= 2 catches cluster-boundary pairs, but recall
    DECAYS as the centroid count grows with the corpus (a fixed probe
    covers a shrinking fraction of the boundary; the sf1 gate measured
    0.59 recall at 10x with probe=3 where sf0.1 gave 0.99+).

    Adaptive mode (probe_margin set): each row is assigned to its
    nearest centroid PLUS every centroid whose cosine-to-row is within
    `probe_margin` of the best, capped at `probe`. Interior points
    (one dominant centroid) stay at 1 assignment; only genuine
    boundary points — exactly where missed pairs live — fan out. Cost
    adapts to the data instead of the knob, and recall holds as the
    cluster count scales."""
    import numpy as np
    import pandas as pd

    # clamp to the number of centroids actually TRAINED (k_eff can be
    # < requested when the bounded sample is small): argpartition with
    # kth >= k_eff would raise in every executor
    probe = max(1, min(int(probe), len(cent_list)))
    margin = None if probe_margin is None else float(probe_margin)

    def assign_probe(batches):
        cmat = np.asarray(cent_list, dtype=np.float64)  # (k, d or d')
        pmat = (
            np.asarray(proj_list, dtype=np.float64)
            if proj_list is not None
            else None
        )
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack([np.asarray(v) for v in pdf["v"].to_numpy()])
            norms = np.linalg.norm(mat, axis=1, keepdims=True)
            norms[norms == 0.0] = 1.0
            mat_n = mat / norms
            if pmat is not None:
                mat_n = mat_n @ pmat.T
                pn = np.linalg.norm(mat_n, axis=1, keepdims=True)
                pn[pn == 0.0] = 1.0
                mat_n = mat_n / pn
            sims = mat_n @ cmat.T  # (rows, k)
            if probe == len(cent_list):
                top = np.argsort(-sims, axis=1)[:, :probe]
            else:
                top = np.argpartition(-sims, probe - 1, axis=1)[:, :probe]
            if margin is None:
                ids = np.repeat(pdf["id"].to_numpy(), probe)
                vs = pdf["v"].to_numpy().repeat(probe)
                clusters = top.ravel()
            else:
                cand = np.take_along_axis(sims, top, axis=1)
                keep = cand >= cand.max(axis=1, keepdims=True) - margin
                rows_ix, cols_ix = np.nonzero(keep)
                clusters = top[rows_ix, cols_ix]
                ids = pdf["id"].to_numpy()[rows_ix]
                vs = pdf["v"].to_numpy()[rows_ix]
            yield pd.DataFrame(
                {"cluster": clusters.astype("int32"), "id": ids, "v": vs}
            )

    return unit.mapInPandas(
        assign_probe, schema="cluster int, id long, v array<double>"
    )


def embedding_cluster_model(
    emb: DataFrame,
    target_cluster_rows: int = 4096,
    train_sample: int = 100_000,
    lloyd_iters: int = 8,
    seed: int = 42,
    assign_dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Public model hook for continual ingest: train the coarse
    quantizer ONCE on the base corpus and reuse it for every later
    batch (embedding_cluster_assign / embedding_near_dup_incremental).
    Returns (cent_list, proj_list) — plain lists, trivially
    picklable/persistable."""
    unit = emb.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    n = unit.count()
    if n == 0:
        raise ValueError("cannot train a cluster model on an empty corpus")
    n_clusters = max(1, -(-n // int(target_cluster_rows)))
    return _train_spherical_centroids(
        unit, n, n_clusters, train_sample, lloyd_iters, seed, assign_dim
    )


def embedding_cluster_assign(
    emb: DataFrame,
    model,
    probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_margin: float | None = None,
) -> DataFrame:
    """Probe-assign a corpus (or batch) against a FROZEN cluster model
    → the (cluster, id, v) table embedding_near_dup_incremental joins
    batches against. Persist this for the base corpus; per-batch cost
    is one matmul pass over the batch only. `probe_margin` switches to
    adaptive boundary fan-out (see _probe_assign_clusters)."""
    cent_list, proj_list = model
    unit = emb.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    return _probe_assign_clusters(
        unit, cent_list, proj_list, probe, probe_margin
    )


_NEAR_DUP_CHUNK = 4096


def _triangle_pairs_kernel(t: float, chunk: int = _NEAR_DUP_CHUNK):
    """Upper-triangle chunked-GEMM cosine kernel over ONE group —
    shared by the batch at-scale path and (for the within-batch leg)
    the incremental path."""
    import numpy as np
    import pandas as pd

    def cluster_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "id_a": pd.Series(dtype="int64"),
                "id_b": pd.Series(dtype="int64"),
                "cosine": pd.Series(dtype="float64"),
            }
        )
        if len(pdf) < 2:
            return empty
        # sort by id so chunks tile the upper triangle cleanly: within
        # the diagonal chunk ga<gb dedups; across chunks (j0 > i0) every
        # right id already exceeds every left id
        pdf = pdf.sort_values("id")
        ids = pdf["id"].to_numpy()
        mat = np.stack([np.asarray(v) for v in pdf["v"].to_numpy()])
        norms = np.linalg.norm(mat, axis=1)
        out = []
        # chunk both sides so the cos submatrix stays ~chunk² doubles
        # regardless of cluster size (skewed clusters can't OOM a task)
        for i0 in range(0, len(ids), chunk):
            mi = mat[i0 : i0 + chunk]
            ni = norms[i0 : i0 + chunk]
            for j0 in range(i0, len(ids), chunk):
                mj = mat[j0 : j0 + chunk]
                nj = norms[j0 : j0 + chunk]
                denom = np.outer(ni, nj)
                with np.errstate(invalid="ignore", divide="ignore"):
                    cos = np.where(denom == 0.0, 0.0, (mi @ mj.T) / denom)
                cos = np.round(cos, 6)
                ia, ib = np.nonzero(cos >= t)
                ga, gb = ids[i0 + ia], ids[j0 + ib]
                keep = ga < gb
                if keep.any():
                    out.append(
                        pd.DataFrame(
                            {
                                "id_a": np.minimum(ga, gb)[keep],
                                "id_b": np.maximum(ga, gb)[keep],
                                "cosine": cos[ia, ib][keep],
                            }
                        )
                    )
        return pd.concat(out) if out else empty

    return cluster_pairs


def embedding_near_dup_at_scale(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_cluster_rows: int = 4096,
    probe: int | float = 2,
    train_sample: int = 100_000,
    lloyd_iters: int = 8,
    seed: int = 42,
    assign_dim: int | None = None,
    probe_margin: float | str | None = None,
) -> DataFrame:
    """The 100 TB path for embedding near-dup: coarse k-means
    clustering → EXACT cosine GEMM within each cluster only (the
    SemDeDup shape — Abbas et al. 2023 run k-means then pairwise
    cosine inside clusters; FAISS's coarse-quantizer + exact-rerank is
    the same idea).

    1. Train k ≈ n/target_cluster_rows centroids on a bounded sample
       of L2-normalized vectors (driver-side Lloyd, FAISS-style —
       codebook statistics converge long before the full corpus).
    2. Assign every vector to its `probe` nearest centroids with one
       Arrow-batched matmul — a pair is compared iff the two share an
       assigned centroid, so `probe` ≥ 2 catches cluster-boundary
       pairs. A FIXED probe covers a shrinking boundary fraction as
       the centroid count grows with the corpus (the sf1 gate measured
       recall 0.99+ → 0.59 going 31 → 312 clusters at probe=3);
       `probe_margin` switches to adaptive fan-out — every centroid
       within the margin of a row's best, capped at `probe` — so
       interior rows stay at one assignment, boundary rows (where the
       missed pairs live) take more, and recall holds at any scale.
       Scale-aware knobs: a FLOAT probe in (0,1) means a FRACTION of
       the trained cluster count (cap grows with the corpus instead
       of being a constant; floor 4 so tiny corpora keep headroom),
       and probe_margin="auto" derives the margin from the threshold
       as 0.6·(1−t) — tight thresholds (true near-dups, the SemDeDup
       case: every cos≥0.99 pair was found even at the failing fixed
       probe) fan out barely at all; only genuinely wide-radius
       requests pay wide probing. Measured (probe=0.2, margin=auto,
       t=0.35): recall 0.996/1.0/0.990/0.978 at sf0.001/0.01/0.1/sf1
       — flat across a 1000× corpus range — at ~1/5 the exact cost at
       sf1; cos≥0.99 band recall 1.0 throughout.
    3. Inside each centroid group, the same chunked-GEMM cosine kernel
       as the exact oracle: upper-triangle, round(cos, 6) ≥ t,
       (min_id, max_id) orientation. A pair sharing several centroids
       is deduped at the end.

    Cost: one count + one bounded sample collect + n·k assignment
    flops + Σ cluster² verify flops — vs the oracle's inherent n².
    Every emitted pair is exact (no false positives); pairs whose
    endpoints share no assigned centroid are missed, the standard
    recall trade of coarse clustering (recall-tested in
    tests/test_dedup.py).

    `assign_dim` (optional) runs steps 1-2 in a JL-projected space
    (functions/vector.py::rademacher_matrix, applied in-kernel): the
    n·k assignment flops shrink by d/assign_dim while step 3 still
    verifies EXACT full-dimension cosines — candidates get slightly
    fuzzier, emitted pairs stay exact. The knob for when assignment,
    not verification, dominates (high d, many centroids).

    Why not MLlib approxSimilarityJoin here: BucketedRandomProjection
    LSH amplifies across tables by OR only (one projection per table),
    so on high-dimensional corpora without cluster structure every
    bucket is huge and the candidate join goes quadratic — it OOMs at
    1M uniform vectors where this path runs in seconds
    (tools/scale_smoke.py).

    Continual ingest: train once via embedding_cluster_model, persist
    embedding_cluster_assign's output, and feed new batches to
    embedding_near_dup_incremental — O(batch x cluster density) per
    batch, the corpus never re-clustered."""
    t = float(threshold)
    if not -1.0 <= t <= 1.0:
        raise ValueError("cosine threshold must be in [-1, 1]")
    unit = emb.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    # count NON-NULL vectors: an all-null corpus must hit the empty
    # early-return, not crash centroid training on an empty sample
    n = unit.count()
    if n == 0:
        return emb.sparkSession.createDataFrame(
            [], "id_a long, id_b long, cosine double"
        )
    n_clusters = max(1, -(-n // int(target_cluster_rows)))
    if n_clusters == 1:
        # the whole corpus fits one verify group: the exact kernel IS
        # the scale path (recall 1 by construction)
        return embedding_near_dup(emb, t, id_col=id_col, vec_col=vec_col)

    cent_list, proj_list = _train_spherical_centroids(
        unit, n, n_clusters, train_sample, lloyd_iters, seed, assign_dim
    )
    if isinstance(probe, float) and 0.0 < probe < 1.0:
        import math

        probe = max(4, math.ceil(probe * len(cent_list)))
    if probe_margin == "auto":
        # 0.6·(1−t): measured across sf0.001→sf1 fixtures at t=0.35
        # (margin 0.4) → recall 0.996/1.0/0.990/0.978; tight
        # thresholds get proportionally tight margins (t=0.95 → 0.03)
        probe_margin = 0.6 * (1.0 - t)
    assigned = _probe_assign_clusters(
        unit, cent_list, proj_list, int(probe), probe_margin
    )
    pairs = assigned.groupBy("cluster").applyInPandas(
        _triangle_pairs_kernel(t), schema="id_a long, id_b long, cosine double"
    )
    # a pair sharing several probed centroids is found several times
    return pairs.dropDuplicates(["id_a", "id_b"])


def embedding_near_dup_incremental(
    batch: DataFrame,
    corpus_assigned: DataFrame,
    model,
    threshold: float = 0.95,
    probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Continual-ingest SemDeDup: near-dup pairs TOUCHING a new batch
    against a corpus whose cluster assignments are already persisted
    (embedding_cluster_assign under the same frozen model) — the
    embedding analog of minhash_lsh_pairs_incremental.

    Per cluster (cogrouped, with the corpus first FILTERED to the
    batch's probed cluster ids — collected driver-side, <= |batch| x
    probe values, so the isin predicate pushes into the corpus scan
    and untouched clusters never shuffle or deserialize): one chunked
    batch x corpus GEMM plus the upper-triangle batch x batch kernel.
    Emitted pairs are exact cosines; equals the full at-scale
    recompute over corpus ∪ batch (same model) restricted to
    batch-touching pairs — pinned in tests. Cost is O(|batch| x
    cluster density), the corpus is never re-clustered or re-compared
    against itself.

    Caller contract: batch ids are new (disjoint from the corpus);
    a re-ingested id would pair with its own old row."""
    import numpy as np
    import pandas as pd

    t = float(threshold)
    if not -1.0 <= t <= 1.0:
        raise ValueError("cosine threshold must be in [-1, 1]")
    b_assigned = embedding_cluster_assign(
        batch, model, probe=probe, id_col=id_col, vec_col=vec_col
    )
    # the batch probes at most |batch| x probe clusters — prune the
    # corpus to exactly those before the cogroup, otherwise every
    # corpus cluster shuffles and Arrow-deserializes per batch just to
    # return an empty frame (O(|corpus|) instead of the promised
    # O(|batch| x cluster density)). Driver-side collect is bounded
    # and the isin predicate reaches a parquet-backed corpus scan.
    b_assigned = b_assigned.localCheckpoint(eager=True)
    probed = [
        r["cluster"]
        for r in b_assigned.select("cluster").distinct().collect()
    ]
    corpus_assigned = corpus_assigned.filter(F.col("cluster").isin(probed))
    triangle = _triangle_pairs_kernel(t)
    chunk = _NEAR_DUP_CHUNK

    def pair_batch(corp_pdf: pd.DataFrame, bat_pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "id_a": pd.Series(dtype="int64"),
                "id_b": pd.Series(dtype="int64"),
                "cosine": pd.Series(dtype="float64"),
            }
        )
        if bat_pdf.empty:
            return empty
        out = []
        bb = triangle(bat_pdf)
        if len(bb):
            out.append(bb)
        if not corp_pdf.empty:
            bmat = np.stack([np.asarray(v) for v in bat_pdf["v"].to_numpy()])
            bids = bat_pdf["id"].to_numpy()
            bn = np.linalg.norm(bmat, axis=1)
            cids_all = corp_pdf["id"].to_numpy()
            cvs = corp_pdf["v"].to_numpy()
            for j0 in range(0, len(cids_all), chunk):
                cmat = np.stack([np.asarray(v) for v in cvs[j0 : j0 + chunk]])
                cn = np.linalg.norm(cmat, axis=1)
                denom = np.outer(bn, cn)
                with np.errstate(invalid="ignore", divide="ignore"):
                    cos = np.where(denom == 0.0, 0.0, (bmat @ cmat.T) / denom)
                cos = np.round(cos, 6)
                ia, ib = np.nonzero(cos >= t)
                if len(ia):
                    ga, gb = bids[ia], cids_all[j0 + ib]
                    out.append(
                        pd.DataFrame(
                            {
                                "id_a": np.minimum(ga, gb),
                                "id_b": np.maximum(ga, gb),
                                "cosine": cos[ia, ib],
                            }
                        )
                    )
        return pd.concat(out) if out else empty

    pairs = (
        corpus_assigned.groupBy("cluster")
        .cogroup(b_assigned.groupBy("cluster"))
        .applyInPandas(pair_batch, schema="id_a long, id_b long, cosine double")
    )
    return pairs.dropDuplicates(["id_a", "id_b"])



def _strict_windows(toks, k: int):
    """Positions 1..len-k+1 of strict k-token windows (empty when the
    document is shorter than k) — unlike shingles_from_tokens, a short
    document does NOT degrade to one whole-doc shingle, because span
    removal must never flag a sub-k document as a duplicated span.
    `toks` must be a staged column (the no-CSE-across-lambdas rule)."""
    return F.when(
        F.size(toks) < k, F.array().cast("array<int>")
    ).otherwise(F.sequence(F.lit(1), F.size(toks) - (k - 1)).cast("array<int>"))


def _window_grams(
    docs: DataFrame, k: int, id_col: str | None, text_col: str = "text"
) -> DataFrame:
    """([id_col,] pos, gram) for every strict k-token window — the ONE
    place the gram expression lives. The persisted gram state, the
    incremental batch probe, the bucket router, and the purge
    subtraction all derive from this helper, so their hashes cannot
    drift apart (they previously carried five verbatim copies)."""
    staged = docs.withColumn("__toks", tokenize(text_col))
    head = [F.col(id_col)] if id_col else []
    return staged.select(
        *head,
        F.explode(_strict_windows(F.col("__toks"), k)).alias("pos"),
        F.col("__toks"),
    ).select(
        *([id_col] if id_col else []),
        "pos",
        F.md5(F.concat_ws(" ", F.slice("__toks", F.col("pos"), k))).alias("gram"),
    )


def _strip_flagged(
    docs: DataFrame,
    flagged_positions: DataFrame,
    k: int,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Drop every token covered by a flagged (id, pos) k-window and
    rebuild the text — the shared reconstruction half of batch and
    incremental span removal. The exists() probe is O(flagged) per
    token; tokens/flags are staged columns (no-CSE rule)."""
    flagged = flagged_positions.groupBy(id_col).agg(
        F.sort_array(F.collect_list("pos")).alias("__flags")
    )
    staged = (
        docs.withColumn("__toks", tokenize(text_col))
        .join(flagged, id_col, "left")
        .withColumn("__flags", F.coalesce("__flags", F.array().cast("array<int>")))
    )
    kept = F.filter(
        "__toks",
        lambda t, i: ~F.exists(
            "__flags", lambda q: (q <= i + 1) & (i + 1 < q + F.lit(k))
        ),
    )
    return staged.select(
        id_col,
        F.concat_ws(" ", kept).alias("clean_text"),
        (F.size("__toks") - F.size(kept)).cast("long").alias("n_removed_tokens"),
    )


def duplicate_span_windows(
    docs: DataFrame, k: int = 8, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, pos, gram_md5) for every k-token window whose gram
    occurs MORE THAN ONCE corpus-wide — the distributed analogue of the
    suffix-array pass in exact substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): a
    gram seen twice anywhere marks both occurrences as duplicated
    span material.

    Plan shape: stage tokens once -> posexplode strict windows (the
    corpus-sized map pass) -> ONE hash shuffle on the md5 of the gram
    (16-byte keys, not k-word strings) -> a count window flags grams
    with global multiplicity >= 2. Output is sized by the DUPLICATED
    mass, not the corpus."""
    wins = _window_grams(docs, k, id_col, text_col)
    counts = Window.partitionBy("gram")
    return (
        wins.withColumn("__n", F.count(F.lit(1)).over(counts))
        .filter(F.col("__n") >= 2)
        .select(id_col, "pos", "gram")
    )


def duplicate_span_report(
    docs: DataFrame, k: int = 8, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document duplicated-span pressure: how many of the doc's
    k-token windows belong to a gram repeated anywhere in the corpus.
    The triage number that decides whether span-level dedup is worth
    running on a source. One extra shuffle on doc_id over
    duplicate_span_windows; n_windows comes from the same staged scan."""
    staged = docs.withColumn("__toks", tokenize(text_col))
    totals = staged.select(
        F.col(id_col), F.size(_strict_windows(F.col("__toks"), k)).alias("n_windows")
    )
    dups = (
        duplicate_span_windows(docs, k, id_col, text_col)
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_dup_windows"))
    )
    return (
        totals.join(dups, id_col, "left")
        .select(
            id_col,
            F.col("n_windows").cast("long").alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).cast("long").alias("n_dup_windows"),
            F.round(
                F.coalesce("n_dup_windows", F.lit(0))
                / F.greatest("n_windows", F.lit(1)),
                6,
            ).alias("dup_ratio"),
        )
    )


def remove_duplicate_spans(
    docs: DataFrame, k: int = 8, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Span-level dedup: every occurrence of a corpus-duplicated
    k-token gram EXCEPT the globally first (min (doc_id, pos)) is
    flagged, and all tokens covered by a flagged window are dropped;
    the canonical occurrence survives, so each duplicated span keeps
    exactly one copy corpus-wide — the semantics of Lee et al.'s
    ExactSubstr dedup, windowed to k-token granularity so it
    distributes as ONE gram shuffle instead of a suffix array.

    Reconstruction is a map pass: flagged positions are collected per
    doc (bounded by the doc's window count), each token keeps iff no
    flagged window covers it. The exists() probe is O(flagged) per
    token — worst case O(len^2) for a fully-duplicated doc, bounded in
    practice by duplicated mass; tokens/flags are both staged columns.

    Output text is rebuilt from the tokenizer's lowercased tokens
    (same contract as collapse_repetitions)."""
    flagged_positions = (
        duplicate_span_windows(docs, k, id_col, text_col)
        .withColumn(
            "__rk",
            F.row_number().over(
                Window.partitionBy("gram").orderBy(id_col, "pos")
            ),
        )
        .filter(F.col("__rk") > 1)
        .select(id_col, "pos")
    )
    return _strip_flagged(docs, flagged_positions, k, id_col, text_col)


def span_gram_state(
    docs: DataFrame, k: int = 8, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The persisted state for incremental span dedup: (gram, n) for
    EVERY k-token window gram in the corpus — exact substring dedup
    inherently needs the full gram multiset (a gram unique today is a
    duplicate the moment a new batch repeats it). 16-byte md5 keys +
    a count: proportional to corpus token mass, one partial-agg
    shuffle to build, additive to maintain."""
    return (
        _window_grams(docs, k, None, text_col)
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def remove_duplicate_spans_incremental(
    batch: DataFrame,
    state: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    materialize_windows: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Continual-ingest span dedup: clean a NEW batch against an
    already-ingested corpus without ever re-windowing the corpus.
    Returns (cleaned_batch, state_delta) where state_delta is the
    batch's own (gram, n) table — merge it into the persisted state
    additively (groupBy gram / sum n) exactly like the BM25
    term_stats fold.

    Equivalence contract (tested): when batch ids are allocated ABOVE
    all corpus ids, the cleaned batch is bit-identical to running
    remove_duplicate_spans on corpus+batch and keeping the batch's
    rows — a batch window is flagged iff its gram exists anywhere in
    the corpus (the corpus occurrence is the canonical, smaller id) or
    repeats within the batch behind a smaller (doc_id, pos).

    Per-batch cost: O(|batch| windows) + an equi-join against the
    state keyed by the BATCH's grams (left-semi probe; at scale the
    state is bucketed by gram so the probe prunes) — the corpus text
    is never touched.

    materialize_windows (r13, guide §2.4/§5): the window-gram relation
    feeds the state probe, the within-batch repeat window AND the
    state delta; a caller that actions `cleaned` and `delta`
    separately (the streaming fold writes each) re-tokenizes and
    re-windows the batch once per action. True localCheckpoints the
    (batch-sized) window table so it is computed exactly once —
    per-batch state, never corpus-sized, so the materialization
    respects the incremental-cost contract."""
    wins = _window_grams(batch, k, id_col, text_col)
    if materialize_windows:
        wins = wins.localCheckpoint(eager=True)
    counts = Window.partitionBy("gram")
    order = Window.partitionBy("gram").orderBy(id_col, "pos")
    in_corpus = wins.join(state.select("gram"), "gram", "left_semi").select(
        id_col, "pos"
    )
    within = (
        wins.withColumn("__n", F.count(F.lit(1)).over(counts))
        .withColumn("__rk", F.row_number().over(order))
        .filter((F.col("__n") >= 2) & (F.col("__rk") > 1))
        .select(id_col, "pos")
    )
    flagged_positions = in_corpus.unionByName(within).dropDuplicates(
        [id_col, "pos"]
    )
    cleaned = _strip_flagged(batch, flagged_positions, k, id_col, text_col)
    delta = (
        wins.groupBy("gram").agg(F.count(F.lit(1)).alias("n"))
    )
    return cleaned, delta


def span_state_write(
    state: DataFrame, path: str, n_buckets: int = 64
) -> None:
    """Persist a span gram state bucketed by crc32(gram) % n_buckets —
    `{path}/state/bucket=H/` — so an incremental batch probe reads
    only the buckets its own grams hash to (partition-pruned, same
    layout discipline as the BM25 posting buckets). At 100 TB the
    state is the corpus's full gram multiset; bucketing is what keeps
    per-batch probes proportional to the BATCH."""
    (
        state.withColumn(
            "bucket", F.pmod(F.crc32(F.col("gram")), F.lit(n_buckets)).cast("int")
        )
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(f"{path}/state")
    )
    local_df(
        state.sparkSession, [(int(n_buckets),)], "n_buckets int"
    ).write.mode("overwrite").parquet(f"{path}/meta")


def span_state_probe(
    spark, path: str, batch: DataFrame, k: int = 8,
    id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """The pruned-state view for one batch: bucket-restricted rows of
    the persisted gram state covering (at least) the batch's own
    grams. Bucket values are computed FROM THE BATCH (driver-side
    collect of ≤n_buckets ints), so the scan prunes to matching
    bucket directories and serving cost follows the batch, not the
    corpus. Feed the result to remove_duplicate_spans_incremental as
    its `state`."""
    n_buckets = spark.read.parquet(f"{path}/meta").first()["n_buckets"]
    buckets = [
        r["b"]
        for r in _window_grams(batch, k, None, text_col)
        .select(
            F.pmod(F.crc32(F.col("gram")), F.lit(n_buckets)).cast("int").alias("b")
        )
        .distinct()
        .collect()
    ]
    state = spark.read.parquet(f"{path}/state")
    if not buckets:
        return state.filter(F.lit(False)).select("gram", "n")
    return state.filter(F.col("bucket").isin(buckets)).select("gram", "n")


def select_canonical(
    members: DataFrame,
    scores: DataFrame,
    id_col: str = "id",
    rep_col: str = "rep_id",
    quality_col: str = "quality",
) -> DataFrame:
    """Quality-aware canonical selection per near-dup cluster: real
    pipelines keep the BEST copy of a duplicate group, not an
    arbitrary one — `dedup_clusters`' rep_id is the MIN id (a label,
    chosen for CC convergence), so this second step picks the member
    with the highest quality score (tie -> smallest id) as the row to
    keep, and flags everything else as droppable.

    `members` is dedup_clusters' (id, rep_id); `scores` carries
    (id, quality) — doc_stats' quality or any model score. One
    broadcast-or-shuffle equi-join on id plus ONE hash shuffle on
    rep_id for the window; clusters are tiny by construction
    (duplicate groups), so the window never skews. At 100 TB this is
    the same single-shuffle shape as the clustering step it follows.

    Returns (id, rep_id, canonical_id, is_canonical)."""
    from pyspark.sql.window import Window

    scored = members.join(
        scores.select(
            F.col(id_col), F.col(quality_col).alias("__q")
        ),
        id_col,
        "left",
    )
    w = Window.partitionBy(rep_col).orderBy(
        F.desc_nulls_last("__q"), F.asc(id_col)
    )
    return scored.withColumn(
        "canonical_id", F.first(id_col).over(w)
    ).select(
        id_col,
        rep_col,
        "canonical_id",
        (F.col(id_col) == F.col("canonical_id")).alias("is_canonical"),
    )


def record_link(
    left: DataFrame,
    right: DataFrame,
    threshold: float = 0.5,
    num_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    best_only: bool = True,
) -> DataFrame:
    """Cross-catalog record linkage (entity resolution): block with
    MinHash-LSH bands ACROSS two tables, verify candidates with exact
    n-gram Jaccard, and (by default) keep each left record's single
    best right-side match — the Fellegi-Sunter block→compare→decide
    pipeline, built from the same signature/banding machinery the
    intra-corpus dedup persists.

    Differences from dedup: candidates pair (left × right) with no
    id ordering (the catalogs are different tables, same-id pairs are
    legitimate matches), and the decision step is argmax-per-left
    (jaccard DESC, right id ASC) rather than connected components.

    100 TB shape: each side shuffles once into signatures (one
    num_perm-long row per record), the band join is equi-keyed, and
    the exact verify touches candidates only — two bounded hydration
    joins, never a catalog cross join."""
    rpb = num_perm // bands
    b_l = _band_explode(
        minhash_signatures(left, num_perm, id_col, text_col, shingle_n),
        bands, rpb,
    ).select(F.col("id").alias("id_a"), "band", "band_key")
    b_r = _band_explode(
        minhash_signatures(right, num_perm, id_col, text_col, shingle_n),
        bands, rpb,
    ).select(F.col("id").alias("id_b"), "band", "band_key")
    cand = b_l.join(b_r, ["band", "band_key"]).select("id_a", "id_b").distinct()

    def _sh(df: DataFrame, out_id: str, out_sh: str) -> DataFrame:
        return (
            df.withColumn("__toks", tokenize(text_col))  # staged: no-CSE
            .select(
                F.col(id_col).alias(out_id),
                F.array_distinct(
                    shingles_from_tokens("__toks", shingle_n)
                ).alias(out_sh),
            )
        )

    inter = F.size(F.array_intersect("__sh_a", "__sh_b"))
    union = F.size("__sh_a") + F.size("__sh_b") - inter
    scored = (
        cand.join(_sh(left, "id_a", "__sh_a"), "id_a")
        .join(_sh(right, "id_b", "__sh_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(inter / union.cast("double"), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    if not best_only:
        return scored.orderBy("id_a", "id_b")
    w = Window.partitionBy("id_a").orderBy(F.desc("jaccard"), F.asc("id_b"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .orderBy("id_a")
    )


def record_link_incremental(
    new_left: DataFrame,
    right_sigs: DataFrame,
    right_docs: DataFrame,
    threshold: float = 0.5,
    num_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    best_only: bool = True,
) -> DataFrame:
    """Continual-ingest record linkage: link a NEW batch of left-catalog
    records against an already-signed right catalog — `right_sigs` is
    the persisted minhash_signatures output, so the right catalog is
    never re-shingled; each batch costs O(|batch| shingles + band
    collisions + verified candidates), the minhash-incremental
    economics applied to the Fellegi-Sunter pipeline. Decision and
    verification semantics are identical to record_link (exact Jaccard
    on candidates only; argmax-per-left with (jaccard DESC, right id)
    ties).

    The only right-side text touched is the candidates' (bounded
    hydration join for verification) — at 100 TB the right catalog
    contributes signature rows and candidate hydrations, never a
    scan."""
    rpb = num_perm // bands
    b_l = _band_explode(
        minhash_signatures(
            new_left, num_perm, id_col, text_col, shingle_n
        ),
        bands, rpb,
    ).select(F.col("id").alias("id_a"), "band", "band_key")
    b_r = _band_explode(right_sigs, bands, rpb).select(
        F.col("id").alias("id_b"), "band", "band_key"
    )
    # the BATCH side broadcasts: incremental semantics bound the batch
    # (bands × |batch| band rows, a few MB at 50k docs), while the
    # signed right catalog is corpus-sized — a plain equi join would
    # re-shuffle every right band row on every batch. Broadcasting
    # turns candidate generation into one map-side pass over the right
    # signatures (measured 1.5x -> 5x+ vs full recompute at 1M right
    # x 50k batch, tools/record_link_smoke.py --incremental).
    # candidates are batch-bounded (|batch| x band collisions) — pin
    # them once: the set is consumed twice below (right-side hydration
    # prune + the verify join) and its lineage spans the corpus-sized
    # band pass
    cand = (
        b_r.join(F.broadcast(b_l), ["band", "band_key"])
        .select("id_a", "id_b")
        .distinct()
        .localCheckpoint()
    )

    def _sh(df: DataFrame, out_id: str, out_sh: str) -> DataFrame:
        return (
            df.withColumn("__toks", tokenize(text_col))  # staged: no-CSE
            .select(
                F.col(id_col).alias(out_id),
                F.array_distinct(
                    shingles_from_tokens("__toks", shingle_n)
                ).alias(out_sh),
            )
        )

    inter = F.size(F.array_intersect("__sh_a", "__sh_b"))
    union = F.size("__sh_a") + F.size("__sh_b") - inter
    # hydrate ONLY the candidate right docs before shingling: without
    # this prune the verify join's _sh(right_docs) branch tokenizes
    # and shingles the whole right catalog every batch — the exact
    # O(right) cost the persisted signatures exist to avoid (measured
    # at 1M right x 50k batch: 19 s -> 9 s,
    # tools/record_link_smoke.py --incremental)
    hyd = right_docs.join(
        F.broadcast(
            cand.select(F.col("id_b").alias(id_col)).distinct()
        ),
        id_col,
        "left_semi",
    )
    scored = (
        cand.join(_sh(new_left, "id_a", "__sh_a"), "id_a")
        .join(_sh(hyd, "id_b", "__sh_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(inter / union.cast("double"), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    if not best_only:
        return scored.orderBy("id_a", "id_b")
    w = Window.partitionBy("id_a").orderBy(F.desc("jaccard"), F.asc("id_b"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .orderBy("id_a")
    )


def edit_distance_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_cols: tuple[str, ...] = ("lang", "source"),
    length_col: str = "n_chars",
    band_width: int = 32,
    max_dist: int = 8,
) -> DataFrame:
    """Blocked edit-distance (Levenshtein) near-duplicate pairs.

    Contract: ALL pairs sharing every block_cols value with
    |len_a - len_b| <= max_dist (a free exact lower bound on edit
    distance) and levenshtein <= max_dist. Emits (id_a, id_b, dist)
    with id_a < id_b. Length BANDING is pure implementation, not
    semantics: each doc replicates to buckets floor(len/band_width)
    and +1, so any pair within max_dist of length (<= band_width)
    lands in a common bucket — boundary-straddling pairs are NOT
    missed, unlike single-band blocking. A pair with equal bands
    would meet in two buckets; keeping only the bucket equal to the
    greater band emits each pair exactly once.

    100 TB shape: the self-join is keyed by (block_cols, bucket) —
    one shuffle; all-pairs work happens only within a block+bucket,
    bounded by the blocking keys (same discipline as the MinHash band
    join). The length-delta pre-filter runs before the O(len*d)
    levenshtein, and levenshtein runs JVM-side with the max_dist
    threshold argument (Spark >= 3.5 banded algorithm, early exit).
    Caveat: block size is the cost driver — a uniform-length corpus
    under a low-cardinality block key degrades to in-block all-pairs
    (inherent to blocked edit-distance); choose block_cols with
    domain-level cardinality (source/domain/shard) there, or run the
    MinHash tier first and feed only its candidate clusters here.

    Requires band_width >= max_dist (asserted) for the two-bucket
    completeness argument.
    """
    if band_width < max_dist:
        raise ValueError("band_width must be >= max_dist for completeness")
    band = F.floor(F.col(length_col) / band_width)
    slim = docs.select(
        id_col,
        text_col,
        length_col,
        *block_cols,
        band.alias("__band"),
        F.explode(F.array(band, band + 1)).alias("__bucket"),
    )
    keys = [*block_cols, "__bucket"]
    a = slim.select(
        *keys,
        F.col(id_col).alias("id_a"),
        F.col(text_col).alias("__ta"),
        F.col(length_col).alias("__la"),
        F.col("__band").alias("__ba"),
    )
    b = slim.select(
        *keys,
        F.col(id_col).alias("id_b"),
        F.col(text_col).alias("__tb"),
        F.col(length_col).alias("__lb"),
        F.col("__band").alias("__bb"),
    )
    return (
        a.join(b, keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.col("__bucket") == F.greatest("__ba", "__bb"))
        .filter(F.abs(F.col("__la") - F.col("__lb")) <= max_dist)
        .select(
            "id_a",
            "id_b",
            F.levenshtein(F.col("__ta"), F.col("__tb"), max_dist).alias("dist"),
        )
        .filter((F.col("dist") >= 0) & (F.col("dist") <= max_dist))
    )
