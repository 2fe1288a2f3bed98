"""Deterministic sampling / splitting — training-data-pipeline staples
(SURVEY §2.3 adjacent): content-stable holdout splits and stratified
samples that reproduce bit-identically across engines and runs.

Randomness comes from the md5-derived hash32 of the key (not
rand()/TABLESAMPLE), so membership is a pure function of the key:
re-running at 100 TB, on a different cluster, or in the DuckDB oracle
yields the same split — the property a train/test split must have.
Both operators are single-scan, shuffle-free (the stratified one pays
one window shuffle on the stratum key).
"""

from __future__ import annotations

from distributed_vector_database_spark.functions.localrel import local_df
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from distributed_vector_database_spark.functions.hashing import hash32


def hash_sample(
    df: DataFrame, key_col: str, rate_pct: int, partition_count: int = 100
) -> DataFrame:
    """Keep rows whose hash32(key) % partition_count < rate_pct — a
    deterministic ~rate_pct% sample keyed on content identity."""
    return df.filter(hash32(key_col) % partition_count < rate_pct)


def train_test_split(
    df: DataFrame, key_col: str, test_pct: int = 10
) -> tuple[DataFrame, DataFrame]:
    """Deterministic (train, test) split by key hash; disjoint and
    exhaustive by construction."""
    bucket = hash32(key_col) % 100
    return df.filter(bucket >= test_pct), df.filter(bucket < test_pct)


def stratified_sample(
    df: DataFrame, stratum_col: str, key_col: str, n_per_stratum: int
) -> DataFrame:
    """At most n rows per stratum, chosen by hash order (deterministic,
    unbiased w.r.t. any column correlated with the key): row_number over
    (stratum, hash32(key)) ≤ n."""
    w = Window.partitionBy(stratum_col).orderBy(hash32(key_col), key_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n_per_stratum)
        .drop("__rn")
    )


def _persist_unless_cached(df: DataFrame) -> tuple[DataFrame, bool]:
    """(`df` persisted, True) — or (`df`, False) when the caller already
    cached it: Spark matches caches by plan, so unpersisting any
    equivalent frame afterwards would drop the caller's cache too."""
    level = df.storageLevel
    if level.useMemory or level.useDisk:
        return df, False
    return df.persist(), True


def select_by_token_budget(
    df: DataFrame,
    token_budget: int,
    order_col: str = "quality",
    tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
    partitions: int | None = None,
) -> DataFrame:
    """Budgeted corpus selection: take documents in descending
    `order_col` order (ties broken by `id_col`) while the running token
    total stays within `token_budget` — 'give me the best N-token
    training mix'. Output keeps the input columns plus `cum_tokens`
    (the running total including the row itself, so the boundary is
    auditable).

    A naive global-order cumsum is a single-partition window — the
    classic scale cliff. This is the distributed prefix-sum instead:

    1. range-repartition on (order desc, id) so partition i holds a
       contiguous slice of the global order;
    2. one O(P)-row pass computes per-partition token totals, whose
       running sum gives each partition's starting offset (driver-side
       arithmetic over P numbers, not data);
    3. partitions whose offset already exceeds the budget are DROPPED
       before the window runs — the cumsum only ever scans the winning
       prefix of the corpus;
    4. within each surviving partition, a partition-local window adds
       offset + local cumsum. All windows run in parallel; the one
       exchange they pay (hash on the partition label) moves only the
       surviving prefix — data volume is bounded by the budget, never
       the corpus.

    Deterministic regardless of sampled range boundaries: the global
    (order desc, id) order is total, and offsets are exact."""
    if token_budget < 0:
        raise ValueError("token_budget must be >= 0")
    spark = df.sparkSession
    p = partitions or spark.sparkContext.defaultParallelism
    # r14 (guide §1.2/§6): repartitionByRange runs a SEPARATE sampling
    # job over the child to sketch range boundaries, so an expensive
    # input (per-doc tokenize/quality annotation) was evaluated twice —
    # once for the sample, once for the exchange. Persist the input:
    # the sampling job fills the cache, the exchange reads it.
    df, owned = _persist_unless_cached(df)
    ranged = df.repartitionByRange(
        p, F.desc(order_col), F.asc(id_col)
    ).withColumn("__pid", F.spark_partition_id())
    ranged = ranged.persist()
    try:
        totals = (
            ranged.groupBy("__pid")
            .agg(F.sum(tokens_col).alias("__t"))
            .collect()
        )
        offset = 0
        offsets = []
        for r in sorted(totals, key=lambda r: r["__pid"]):
            offsets.append((r["__pid"], offset))
            offset += int(r["__t"] or 0)
        # prune partitions that start past the budget — the window
        # below never touches the corpus tail
        live = [(pid, off) for pid, off in offsets if off < token_budget]
        if not live:
            return ranged.limit(0).drop("__pid").withColumn(
                "cum_tokens", F.lit(0).cast("long")
            )
        off_df = F.broadcast(
            local_df(spark, live, ["__pid", "__offset"])
        )
        w = Window.partitionBy("__pid").orderBy(
            F.desc(order_col), F.asc(id_col)
        )
        out = (
            ranged.join(off_df, "__pid")
            .withColumn(
                "cum_tokens",
                (
                    F.col("__offset")
                    + F.sum(tokens_col).over(w)
                ).cast("long"),
            )
            .filter(F.col("cum_tokens") <= token_budget)
            .drop("__pid", "__offset")
        )
        # materialize before unpersisting the ranged layout the plan
        # depends on (localCheckpoint keeps the result partitioned)
        return out.localCheckpoint(eager=True)
    finally:
        ranged.unpersist()
        if owned:
            df.unpersist()


def select_by_token_budget_grouped(
    df: DataFrame,
    budgets: "int | dict",
    group_col: str = "source",
    order_col: str = "quality",
    tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
    partitions: int | None = None,
) -> DataFrame:
    """Per-GROUP budgeted selection — the domain-cap step of dataset
    curation ('at most X tokens of web, Y of code, best quality
    first'): within each group_col value, take documents in descending
    order_col order (ties to id_col) while that group's running token
    total stays within its budget. `budgets` is one int (same cap per
    group) or a {group: cap} dict (absent groups get 0 — an explicit
    allowlist). Output keeps input columns plus `cum_tokens` (running
    total WITHIN the group, boundary-auditable).

    Same distributed prefix-sum as select_by_token_budget, generalized
    to grouped offsets: range-repartition on (group, order desc, id)
    so each partition holds a contiguous slice of ONE OR TWO groups'
    orders; an O(P·G_boundary)-row driver pass turns per-(partition,
    group) totals into exact per-group starting offsets; partitions
    whose offset already exceeds their group's cap are dropped before
    any window runs; local windows per (partition, group) add offset +
    local cumsum. A giant group spreads across many range partitions —
    no per-group single-reducer window, which is the naive
    `Window.partitionBy(group)` cliff this exists to avoid.

    NULL groups are dropped up front: a null can never match the
    equi-join that applies its offset (so it would silently bypass
    every cap), and the driver-side offset sort would die comparing
    None with real group values — budgets are an allowlist, and NULL
    is never on it."""
    if isinstance(budgets, int):
        if budgets < 0:
            raise ValueError("budget must be >= 0")
    else:
        if any(v < 0 for v in budgets.values()):
            raise ValueError("budgets must be >= 0")
    df = df.filter(F.col(group_col).isNotNull())
    spark = df.sparkSession
    p = partitions or spark.sparkContext.defaultParallelism
    # r14: persist the input so repartitionByRange's boundary-sampling
    # job doesn't re-run the (expensive) annotation upstream — see
    # select_by_token_budget.
    df, owned = _persist_unless_cached(df)
    ranged = df.repartitionByRange(
        p, F.asc(group_col), F.desc(order_col), F.asc(id_col)
    ).withColumn("__pid", F.spark_partition_id())
    ranged = ranged.persist()
    try:
        totals = (
            ranged.groupBy("__pid", group_col)
            .agg(F.sum(tokens_col).alias("__t"))
            .collect()
        )

        def bud(g) -> int:
            if isinstance(budgets, int):
                return budgets
            return int(budgets.get(g, 0))

        acc: dict = {}
        live = []
        for r in sorted(totals, key=lambda r: (r[group_col], r["__pid"])):
            g = r[group_col]
            off = acc.get(g, 0)
            # keep partitions at off == budget too: the window filter
            # (cum_tokens <= budget) still rejects every token-bearing
            # row, but a ZERO-token row landing exactly at the
            # boundary has cum_tokens == budget and must survive,
            # matching the SQL-oracle semantics (r9 ADVICE)
            if off <= bud(g):
                live.append((r["__pid"], g, off, bud(g)))
            acc[g] = off + int(r["__t"] or 0)
        if not live:
            return ranged.limit(0).drop("__pid").withColumn(
                "cum_tokens", F.lit(0).cast("long")
            )
        gtype = dict(df.dtypes)[group_col]
        off_df = F.broadcast(
            local_df(
                spark,
                live,
                f"__pid int, {group_col} {gtype}, "
                "__offset long, __budget long",
            )
        )
        w = Window.partitionBy("__pid", group_col).orderBy(
            F.desc(order_col), F.asc(id_col)
        )
        out = (
            ranged.join(off_df, ["__pid", group_col])
            .withColumn(
                "cum_tokens",
                (F.col("__offset") + F.sum(tokens_col).over(w)).cast(
                    "long"
                ),
            )
            .filter(F.col("cum_tokens") <= F.col("__budget"))
            .drop("__pid", "__offset", "__budget")
        )
        return out.localCheckpoint(eager=True)
    finally:
        ranged.unpersist()
        if owned:
            df.unpersist()


def _enumerate_positions(
    df: DataFrame,
    order_cols: list,
    out_col: str,
    partitions: int | None,
) -> DataFrame:
    """Distributed prefix-sum enumeration: 1-based `out_col` positions
    in the total order of `order_cols` (column NAMES already on df —
    callers stage any derived sort keys first). Range-repartition on
    the order, O(P) driver offsets from per-partition counts, parallel
    partition-local row_number + offset — never a single-partition
    global window. Empty input returns an empty frame with out_col
    attached. The one shared enumeration body behind
    deterministic_shuffle and curriculum_order (they previously
    carried verbatim copies; parity pinned by
    test_curriculum_order_stages_and_intra_stage_shuffle)."""
    spark = df.sparkSession
    p = partitions or spark.sparkContext.defaultParallelism
    order = [F.asc(c) for c in order_cols]
    ranged = (
        df.repartitionByRange(p, *order)
        .withColumn("__pid", F.spark_partition_id())
        .persist()
    )
    try:
        counts = ranged.groupBy("__pid").agg(
            F.count(F.lit(1)).alias("__c")
        ).collect()
        offset = 0
        live = []
        for r in sorted(counts, key=lambda r: r["__pid"]):
            live.append((r["__pid"], offset))
            offset += int(r["__c"])
        if not live:
            return df.limit(0).withColumn(
                out_col, F.lit(0).cast("long")
            )
        off_df = F.broadcast(
            local_df(spark, live, ["__pid", "__offset"])
        )
        w = Window.partitionBy("__pid").orderBy(*order)
        out = (
            ranged.join(off_df, "__pid")
            .withColumn(
                out_col,
                (F.col("__offset") + F.row_number().over(w)).cast("long"),
            )
            .drop("__pid", "__offset")
        )
        return out.localCheckpoint(eager=True)
    finally:
        ranged.unpersist()


def deterministic_shuffle(
    df: DataFrame,
    key_col: str = "doc_id",
    seed: str = "0",
    partitions: int | None = None,
) -> DataFrame:
    """Global training-order randomization with an auditable position:
    every row gets `shuffle_pos` (1-based) in the total order
    md5(key || seed) — content-stable (the same corpus shuffles
    identically on any cluster, and in the SQL oracle) and re-seedable
    (a new seed is a fresh epoch permutation, no state carried).

    Enumeration is distributed with the same prefix-sum shape as
    select_by_token_budget: range-repartition on the hash, O(P) driver
    offsets from per-partition counts, parallel partition-local
    row_number + offset — never a single-partition global window."""
    h = F.md5(F.concat(F.col(key_col).cast("string"), F.lit(str(seed))))
    return _enumerate_positions(
        df.withColumn("__h", h), ["__h", key_col], "shuffle_pos", partitions
    ).drop("__h")


def curriculum_order(
    df: DataFrame,
    score_col: str = "quality",
    n_stages: int = 4,
    key_col: str = "doc_id",
    seed: str = "0",
    partitions: int | None = None,
) -> DataFrame:
    """Curriculum training order: stage documents easy->hard by score
    percentile cutpoints, with a deterministic content-stable shuffle
    WITHIN each stage — the curriculum-learning data-prep step ('feed
    low-perplexity docs first, random order inside each difficulty
    band'). Returns the input columns plus `stage` (1-based, stage 1 =
    lowest scores) and `curriculum_pos` (global 1-based training
    position; stages are contiguous).

    Stages come from VALUE cutpoints (exact interpolated percentiles
    at i/n_stages, computed over the 6dp-rounded score so the SQL
    oracle's quantile_cont agrees bit-for-bit), not from a global
    ntile — Spark's ntile is a single-partition window at corpus
    scale, and value cutpoints keep stage membership stable when rows
    are added elsewhere in the distribution. Intra-stage order is
    md5(key||seed) — the deterministic_shuffle contract, re-seedable
    per epoch.

    Enumeration is the same distributed prefix-sum as
    deterministic_shuffle, ordered by (stage, hash, key): range-
    repartition, O(P) driver offsets from per-partition counts,
    parallel local row_number + offset — never a global window."""
    if n_stages < 1:
        raise ValueError("n_stages must be >= 1")
    score6 = F.round(F.col(score_col).cast("double"), 6)
    if n_stages == 1:
        cuts: list[float] = []
    else:
        qs = [i / n_stages for i in range(1, n_stages)]
        arr = ",".join(str(q) for q in qs)
        res = (
            df.select(score6.alias("__s"))
            .agg(F.expr(f"percentile(__s, array({arr}))"))
            .first()[0]
        )
        # percentile over zero rows is NULL: an empty corpus has no
        # cutpoints (the enumeration below returns the empty frame)
        cuts = [] if res is None else [round(float(c), 6) for c in res]
    stage = F.lit(1)
    for c in cuts:
        stage = stage + F.when(score6 > F.lit(c), 1).otherwise(0)
    h = F.md5(F.concat(F.col(key_col).cast("string"), F.lit(str(seed))))
    staged = df.withColumn("stage", stage.cast("int")).withColumn("__h", h)
    return _enumerate_positions(
        staged, ["stage", "__h", key_col], "curriculum_pos", partitions
    ).drop("__h")


def mixture_sample(
    df: DataFrame,
    stratum_col: str,
    key_col: str,
    rates_pct: dict[str, int],
    default_pct: int = 0,
    partition_count: int = 100,
) -> DataFrame:
    """Per-stratum deterministic sampling — the pretraining data-MIXING
    primitive: up/down-weight sources or languages by giving each
    stratum its own keep rate (e.g. {"en": 80, "de": 40}, rest
    `default_pct`). Same content-stable hash membership as hash_sample,
    so the mixture reproduces bit-identically at any scale and in the
    SQL oracle; a single shuffle-free scan (the rate lookup is a CASE
    expression, not a join)."""
    for s, r in rates_pct.items():
        if not 0 <= r <= partition_count:
            raise ValueError(f"rate for {s!r} must be in [0, {partition_count}]")
    rate = F.lit(int(default_pct))
    for s, r in rates_pct.items():
        rate = F.when(F.col(stratum_col) == s, F.lit(int(r))).otherwise(rate)
    return df.filter(hash32(key_col) % partition_count < rate)


def temperature_rates(
    df: DataFrame,
    stratum_col: str,
    alpha: float = 0.5,
    partition_count: int = 1000,
) -> DataFrame:
    """Per-stratum keep rates for temperature-scaled mixing (the
    multilingual-pretraining reweighting rule: sampling probability
    proportional to share^alpha, so alpha=1 is natural proportions and
    alpha->0 flattens toward uniform-over-strata). The rarest stratum
    is pegged at partition_count (keep everything) and every other
    stratum is downsampled by (n_min/n_s)^(1-alpha) — the only way to
    hit temperature proportions without UPsampling, which a filter
    cannot do.

    Rates derive from integer stratum counts only (floor of a product
    of correctly-rounded doubles), so the same corpus yields the same
    rates on any engine. The corpus is aggregated ONCE; the
    over-strata min is a window over the handful of count rows — keyed
    by a non-foldable constant so the single partition is deliberate,
    not a planner warning (a separate counts.agg(min) branch would
    re-run the corpus aggregation subtree)."""
    counts = df.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("__n"))
    one_part = F.pmod(F.crc32(F.col(stratum_col).cast("string")), F.lit(1))
    # floor CLAMPED to >= 1: a single mis-detected stray document would
    # otherwise make n_min = 1 and floor every major stratum's rate to
    # ZERO (head languages silently vanish); the floor of temperature
    # mixing is "keep at least 1/partition_count", never "drop"
    return (
        counts.withColumn("__nmin", F.min("__n").over(Window.partitionBy(one_part)))
        .select(
            stratum_col,
            F.greatest(
                F.floor(
                    F.lit(float(partition_count))
                    * F.pow(F.col("__nmin") / F.col("__n"), F.lit(1.0 - alpha))
                ),
                F.lit(1),
            )
            .cast("int")
            .alias("rate"),
        )
    )


def temperature_sample(
    df: DataFrame,
    stratum_col: str,
    key_col: str,
    alpha: float = 0.5,
    partition_count: int = 1000,
) -> DataFrame:
    """Temperature mixture sampling: derive per-stratum rates from the
    corpus itself (temperature_rates), then keep rows by the same
    content-stable hash membership as hash_sample/mixture_sample.

    Plan: one tiny stratum-count aggregate, broadcast-joined back, one
    shuffle-free filter scan — the corpus is read twice but never
    shuffled; rates are data-derived, so re-running after ingest
    reflects the new mixture with zero configuration."""
    rates = temperature_rates(df, stratum_col, alpha, partition_count)
    return (
        df.join(F.broadcast(rates), stratum_col)
        .filter(hash32(key_col) % partition_count < F.col("rate"))
        .drop("rate")
    )


def sample_negatives(
    df: DataFrame,
    k: int = 4,
    key_col: str = "doc_id",
    seed: str = "0",
    partitions: int | None = None,
) -> DataFrame:
    """Random negative pairing for contrastive training data: each row
    gets `k` pseudo-random partners drawn without coordination —
    (anchor_id, neg_id, slot). The classic embedding-training prep
    step (in-batch negatives are biased by batch composition; corpus-
    level uniform negatives need exactly this join).

    Mechanics: deterministic_shuffle assigns every row a content-
    stable position in [1, n]; negative j of the row at position p
    sits at position 1 + (md5-derived offset(p, j)) mod (n-1) skipped
    past p — uniform over the OTHER rows, collision-free with the
    anchor by construction, and reproducible on any cluster and in a
    SQL oracle. One equi-join on position (the corpus never
    cross-joins); degenerate n=1 corpora emit nothing."""
    pos = deterministic_shuffle(df, key_col, seed=seed, partitions=partitions)
    n_row = pos.agg(F.max("shuffle_pos").alias("__n"))
    anchors = pos.select(
        F.col(key_col).alias("anchor_id"), F.col("shuffle_pos").alias("__p")
    ).crossJoin(F.broadcast(n_row))
    slots = anchors.filter(F.col("__n") > 1).select(
        "anchor_id",
        "__p",
        "__n",
        F.explode(F.array(*[F.lit(j) for j in range(k)])).alias("slot"),
    )
    # offset in [0, n-2] hashed from (position, slot, seed); adding 1
    # past the anchor's own position wraps to a uniform draw over the
    # other n-1 positions
    off = F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(":", F.col("__p"), F.col("slot"), F.lit(str(seed)))
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long"),
        F.col("__n") - 1,
    )
    target = F.pmod(F.col("__p") + off, F.col("__n")) + 1
    wanted = slots.select(
        "anchor_id", "slot", target.alias("shuffle_pos")
    )
    return (
        wanted.join(pos.select(F.col(key_col).alias("neg_id"), "shuffle_pos"), "shuffle_pos")
        .select("anchor_id", "neg_id", F.col("slot").cast("int").alias("slot"))
    )


def leakage_safe_split(
    members: DataFrame,
    test_pct: int = 10,
    id_col: str = "id",
    rep_col: str = "rep_id",
    salt: str = "split",
) -> DataFrame:
    """Train/test assignment at NEAR-DUP-CLUSTER granularity: every
    member of a duplicate cluster lands in the same split, so the eval
    set can never contain a near-copy of a training document — the
    leakage guard a plain per-document train_test_split cannot give
    (two near-identical docs hash independently and straddle the
    boundary ~2*test_pct% of the time).

    Input is dedup_clusters' (id, rep_id) frame; membership is decided
    by hash32(rep_id:salt) % 100 — the same content-stable discipline
    as hash_sample, so growing the corpus never moves an existing
    cluster between splits and a re-run is bit-identical. Zero extra
    shuffles on top of the clustering: one map expression.

    Returns (id, rep_id, split) with split in {'train', 'test'}."""
    if not 0 <= test_pct <= 100:
        raise ValueError("test_pct must be in [0, 100]")
    bucket = hash32(
        F.concat(F.col(rep_col).cast("string"), F.lit(":" + salt))
    ) % 100
    return members.select(
        F.col(id_col),
        F.col(rep_col),
        F.when(bucket < test_pct, F.lit("test"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


def epoch_mixture(
    docs: DataFrame,
    weights: dict,
    budget_tokens: int,
    max_epochs: int = 4,
    id_col: str = "doc_id",
    source_col: str = "source",
    token_col: str = "n_tokens",
) -> DataFrame:
    """Epoch-budgeted corpus mixing — the pretraining primitive behind
    "repeat wikipedia 3x": each source gets a share of `budget_tokens`
    proportional to its weight, expressed as an EPOCH COUNT over that
    source (capped at `max_epochs` — repeating a small high-quality
    source past a few epochs stops helping), and every document is
    emitted once per full epoch plus a content-stable hash draw for
    the fractional epoch.

    epochs_s = min(max_epochs, budget*w_s/sum(w) / token_mass_s);
    a doc appears floor(epochs_s) times (epoch = 1..floor), and one
    more time iff hash32(id || ":" || source || ":epoch") % 1e6 <
    frac(epochs_s)*1e6 — the LITERAL suffix ":epoch", not the epoch
    number: the fractional draw is made exactly once per (id, source)
    regardless of how many full epochs precede it, so the hashed
    string needs no epoch-varying part (and the driver oracle pins
    this exact formula)
    — so growing the corpus or re-running never changes an existing
    doc's epoch list (the same content-stable discipline as
    hash_sample / deterministic_shuffle).

    Plan: the per-source token mass is an aggregate (tiny — one row
    per source) collected and broadcast back as a literal map; the
    expansion is posexplode(sequence(1, full_s)) + one hash filter —
    zero shuffles beyond the one mass aggregation, output rows carry
    (id, source, epoch). At 100 TB the mass table is KB-sized and the
    expansion is embarrassingly parallel."""
    if budget_tokens <= 0:
        raise ValueError("budget_tokens must be positive")
    if max_epochs < 1:
        raise ValueError("max_epochs must be >= 1")
    total_w = float(sum(weights.values()))
    if total_w <= 0:
        raise ValueError("weights must sum to a positive value")
    mass = {
        r[source_col]: r["__mass"]
        for r in docs.groupBy(source_col)
        .agg(F.sum(token_col).alias("__mass"))
        .collect()
    }
    full_map, frac_map = {}, {}
    for src, m in mass.items():
        w = float(weights.get(src, 0.0))
        if w <= 0 or not m:
            full_map[src], frac_map[src] = 0, 0
            continue
        epochs = min(
            float(max_epochs), budget_tokens * (w / total_w) / float(m)
        )
        full_map[src] = int(epochs)
        # floor(x+0.5), not round(): Python rounds half-to-even while
        # SQL rounds half-away — the same 6dp discipline as elsewhere
        frac_map[src] = int((epochs - int(epochs)) * 1_000_000 + 0.5)
    full_expr = F.create_map(
        *[F.lit(x) for kv in full_map.items() for x in kv]
    )[F.col(source_col)]
    frac_expr = F.create_map(
        *[F.lit(x) for kv in frac_map.items() for x in kv]
    )[F.col(source_col)]
    base = docs.select(id_col, source_col).withColumn(
        "__full", F.coalesce(full_expr, F.lit(0))
    ).withColumn("__frac", F.coalesce(frac_expr, F.lit(0)))
    whole = base.filter(F.col("__full") >= 1).select(
        id_col,
        source_col,
        F.explode(F.sequence(F.lit(1), F.col("__full"))).alias("epoch"),
    )
    extra = base.filter(
        hash32(
            F.concat(
                F.col(id_col).cast("string"),
                F.lit(":"),
                F.col(source_col),
                F.lit(":epoch"),
            )
        )
        % 1_000_000
        < F.col("__frac")
    ).select(
        id_col, source_col, (F.col("__full") + F.lit(1)).alias("epoch")
    )
    return whole.unionByName(extra)


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    n: int,
    key_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis
    A-ES, 2006): each row draws an exponential arrival key
    -ln(u)/w from a content-stable uniform u = hash32(key‖seed), and
    the n smallest keys win — provably a weight-proportional
    without-replacement draw, the distributed form of the priority
    sampling every curation pipeline needs ('take 1M docs favoring
    high quality, no duplicates, reproducibly').

    Zero-or-negative weights are excluded (they can never win a
    weighted draw). A fresh `seed` is a fresh epoch draw over the same
    corpus — same reproducibility contract as deterministic_shuffle /
    sample_negatives.

    100 TB shape: one map pass computes keys, ONE
    TakeOrderedAndProject keeps n rows (per-partition top-n + driver
    merge — no sort, no shuffle of the corpus); deterministic
    tie-break on the key column."""
    u = (
        hash32(F.concat(F.col(key_col).cast("string"), F.lit(f"|{seed}")))
        + F.lit(0.5)
    ) / F.lit(float(2**32))
    es = -F.log(u) / F.col(weight_col).cast("double")
    return (
        df.filter(F.col(weight_col).cast("double") > 0)
        .withColumn("__es", es)
        .orderBy("__es", key_col)
        .limit(int(n))
        .drop("__es")
    )


def weighted_sample_grouped(
    df: DataFrame,
    weight_col: str,
    n_per_group: int,
    group_col: str = "lang",
    key_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Per-GROUP weighted sampling without replacement — 'k docs per
    language, weight-proportional, reproducible': the grouped form of
    weighted_sample, same Efraimidis–Spirakis arrival keys
    (-ln(hash-uniform)/weight, content-stable under `seed`), the
    n_per_group smallest keys winning WITHIN each group_col value.

    100 TB shape, three bounds at once: (1) the naive
    Window.partitionBy(group) serializes each group into one reducer
    — a giant group melts a task — so selection is TWO-STAGE: each
    group's local top-n inside every input partition first (a window
    over (partition_id, group): a giant group spreads over all P
    tasks), then the global per-group window over the <= P·n
    survivors. Same answer, because a group's global top-n is a
    subset of the union of its per-partition top-n's. (2) Both
    windows run over a THREE-column projection (key, group, arrival
    key) — the selection shuffle never carries payload columns; the
    winners' full rows come back via one bounded semi join (the same
    candidates-then-hydrate discipline as heavy_hitters /
    record_link_incremental). (3) Zero/negative weights are excluded
    up front, as in weighted_sample. `key_col` must be unique (it is
    the A-ES identity and the hydration key)."""
    if n_per_group <= 0:
        raise ValueError("n_per_group must be positive")
    u = (
        hash32(F.concat(F.col(key_col).cast("string"), F.lit(f"|{seed}")))
        + F.lit(0.5)
    ) / F.lit(float(2**32))
    es = -F.log(u) / F.col(weight_col).cast("double")
    keyed = (
        df.filter(F.col(weight_col).cast("double") > 0)
        .select(key_col, group_col, es.alias("__es"))
        .withColumn("__pid", F.spark_partition_id())
    )
    local = Window.partitionBy("__pid", group_col).orderBy(
        F.asc("__es"), F.asc(key_col)
    )
    survivors = (
        keyed.withColumn("__lr", F.row_number().over(local))
        .filter(F.col("__lr") <= n_per_group)
        .drop("__lr", "__pid")
    )
    final = Window.partitionBy(group_col).orderBy(
        F.asc("__es"), F.asc(key_col)
    )
    winners = (
        survivors.withColumn("__r", F.row_number().over(final))
        .filter(F.col("__r") <= n_per_group)
        .select(key_col)
    )
    return df.join(winners, key_col, "left_semi")
