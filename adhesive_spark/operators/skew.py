"""Skew-aware join: explicit key salting.

AQE's skew-join split (enabled in build_spark) handles sort-merge skew
at runtime, but only AFTER a straggler partition materializes, and not
for broadcast-ineligible aggregations feeding the join. Explicit salting
bounds the worst partition up front: the skewed (probe) side gets a
random salt in [0, n); the build side is replicated n× with every salt
value; the join key becomes (key, salt). Shuffle width per key drops by
n at the cost of replicating the build side n× — the standard trade for
whale keys (a celebrity user, an empty-string join key).

Result is IDENTICAL to the unsalted join (verified by oracle q48) —
salting is pure physical rewriting, which is why it belongs in the
operator library rather than in user queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    skewed: DataFrame,
    build: DataFrame,
    on: str | list[str],
    *,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Join ``skewed`` (large, hot-keyed) to ``build`` (smaller) on
    ``on``, spreading each hot key over ``n_salts`` shuffle partitions.

    ``how`` supports inner/left; the build side is replicated, so right/
    full joins would duplicate unmatched build rows — rejected.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    keys = [on] if isinstance(on, str) else list(on)

    # DETERMINISTIC salt: a rand(seed)-derived salt is the
    # SPARK-38388 hazard class — a fetch failure re-runs map tasks,
    # re-run tasks can see rows in a different order, and rand() then
    # assigns DIFFERENT salts, silently duplicating or dropping join
    # rows.  Hashing the whole row is retry-stable (same row ⇒ same
    # salt) and spreads a hot key exactly as well unless the hot key's
    # rows are exact duplicates across every column — in which case
    # they are one logical row and no salt scheme separates them.
    salted = skewed.withColumn(
        "__salt",
        F.pmod(
            F.xxhash64(*[F.col(c) for c in skewed.columns]),
            F.lit(n_salts),
        ).cast("int"),
    )
    replicated = build.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    out = salted.join(replicated, keys + ["__salt"], how)
    return out.drop("__salt")


def skew_profile(
    df: DataFrame,
    key,
    *,
    target_rows: int = 1_000_000,
    label: str | None = None,
) -> DataFrame:
    """Pre-flight skew diagnostic for a join/aggregation key: one row
    with the exact key-count distribution facts a planner needs BEFORE
    shuffling 100 TB on that key — total rows, distinct keys, the
    heaviest key's row count, the median key's row count (median-low,
    deterministic on ties), ``skew_x100`` (max/median, ×100, integer)
    and ``suggested_salts`` = ceil(max_key_rows / target_rows), the salt
    fan-out that bounds the worst post-salt partition at ``target_rows``
    (feed it straight to :func:`salted_join`).

    Scale shape: the per-key count is a map-side-combined hash agg (one
    shuffle, linear); the summary then funnels the DISTINCT-KEY counts
    — not the rows — through one window partition. That is exact and
    fine up to ~10^8 keys; beyond that production swaps the median for
    an approx-quantile sketch, which changes no output column names.
    All arithmetic is integer (``div``), so the result is engine-exact
    for the DuckDB oracle.
    """
    from pyspark.sql import Window

    keys = [key] if isinstance(key, str) else list(key)
    name = label or ",".join(keys)
    cnts = df.groupBy(*keys).agg(F.count("*").alias("cnt"))
    one = Window.partitionBy(F.lit(1))
    ranked = cnts.select(
        "cnt",
        F.row_number()
        .over(Window.partitionBy(F.lit(1)).orderBy("cnt", *keys))
        .alias("rn"),
        F.count("*").over(one).alias("n_keys"),
        F.sum("cnt").over(one).alias("n_rows"),
        F.max("cnt").over(one).alias("max_key_rows"),
    )
    return ranked.where(F.col("rn") == F.expr("(n_keys + 1) div 2")).select(
        F.lit(name).alias("key_name"),
        F.col("n_rows"),
        F.col("n_keys"),
        F.col("max_key_rows"),
        F.col("cnt").alias("median_key_rows"),
        F.expr("(max_key_rows * 100) div cnt").alias("skew_x100"),
        F.expr(f"(max_key_rows + {target_rows - 1}) div {target_rows}").alias(
            "suggested_salts"
        ),
    )


def join_cardinality_profile(
    left: DataFrame,
    right: DataFrame,
    key,
    *,
    label: str | None = None,
) -> DataFrame:
    """Pre-flight for the OTHER join disaster (skew_profile covers the
    hot-key wait; this covers the many-to-many BLOWUP): the EXACT
    output cardinality of ``left ⋈ right ON key`` — Σ_k n_left(k) ·
    n_right(k) — computed from two per-key counts and one narrow join,
    long before anyone shuffles the real rows.  One output row with the
    predicted rows, the worst single key's fan-out, and how many keys
    fan out past 1 000 — the numbers that veto an accidental
    non-key equi-join at 100 TB while it is still a metadata query."""
    keys = [key] if isinstance(key, str) else list(key)
    name = label or ",".join(keys)
    lc = left.groupBy(*keys).agg(F.count("*").alias("nl"))
    rc = right.groupBy(*keys).agg(F.count("*").alias("nr"))
    per_key = lc.join(rc, keys).select(
        (F.col("nl") * F.col("nr")).alias("fanout")
    )
    return per_key.agg(
        F.lit(name).alias("key_name"),
        F.count("*").alias("n_matching_keys"),
        F.sum("fanout").alias("predicted_join_rows"),
        F.max("fanout").alias("max_key_fanout"),
        F.count_if(F.col("fanout") > 1000).alias("keys_over_1000"),
    )


def salted_sweep(
    df: DataFrame,
    key_cols: list[str],
    sweep,
    *,
    salt_cols: list[str],
    n_salts: int = 32,
    width: int | None = None,
) -> DataFrame:
    """Divide-and-merge rescue for a per-key window SWEEP at degenerate
    key spaces: run the sweep per (key, salt) so no single window
    partition sorts a whale key's full row set, then sweep the per-salt
    partials per key.

    ``sweep(frame, part_cols)`` must be HIERARCHICALLY MERGEABLE: it
    returns rows that are valid INPUT rows to the same sweep (closure
    under partial evaluation), and sweeping any partition of the rows
    followed by sweeping the union of the partials must equal sweeping
    the rows directly. Interval islands are the canonical instance
    (merged islands re-merge; additive measures ride along as sums —
    see ``asof._islands``); running max/min per key shares the
    property. Rank- or gap-dependent sweeps (row_number, lag deltas)
    are NOT mergeable — don't route them here.

    The salt is a deterministic hash of ``salt_cols``, not ``rand()``:
    a task retry reassigns identically, where a random salt feeding a
    shuffle risks the classic lost/duplicated-row nondeterministic-
    repartition bug. Pick ``salt_cols`` with high cardinality WITHIN a
    whale key (an interval's endpoints, an event's timestamp); rows
    carrying identical salt_col values land in one salt, so an
    exact-duplicate flood should instead be collapsed upstream —
    duplicates never change a mergeable sweep's result.

    Scale: the spilling sort is per SHUFFLE PARTITION, not per window
    key group, so salting alone changes nothing — at
    ``spark.sql.shuffle.partitions`` = 32, a 1 B-row input still sorts
    31 M rows per task whatever the group cardinality (measured: the
    salt-only first cut ran 361 s at the 10 000× rung, SLOWER than the
    260.7 s plain sweep it was meant to rescue). The rescue is salt
    **plus an explicit-width exchange**: the salt raises group
    cardinality from |keys| to |keys|·n_salts so the groups CAN spread,
    and the pinned-width repartition on (key, salt) spreads them —
    pass 1 then sorts ~rows/width per task, below the external-sort
    cliff (~6.7 M rows/partition). The width is pinned, not AQE-sized,
    as in dedup.minhash_base_and_bands (an AQE-sized user exchange
    coalesces below the width the downstream stage needs); the window
    reuses the exchange (same clustering), so pass 1 still costs ONE
    shuffle of the input. Pass 2 shuffles only the partials (≤ islands,
    typically ≪ rows). Default ``width`` = n_salts × shuffle.partitions.
    """
    if n_salts < 2:
        raise ValueError(f"n_salts must be >= 2, got {n_salts}")
    if width is None:
        width = n_salts * int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
    salted = df.withColumn(
        "__salt", F.pmod(F.xxhash64(*salt_cols), F.lit(int(n_salts)))
    ).repartition(int(width), *key_cols, "__salt")
    partial = sweep(salted, list(key_cols) + ["__salt"]).drop("__salt")
    return sweep(partial, list(key_cols))


def rendezvous_bucket(key, n_buckets: int, *, salt: str = "hrw"):
    """Highest-random-weight (rendezvous) bucket assignment for ``key``
    (Thaler & Ravishankar 1998): each bucket scores the key with an
    independent portable hash; the key lives in the argmax bucket.

    THE property mod-N sharding lacks: growing n → n+1 moves ONLY the
    ~1/(n+1) of keys the new bucket wins (every old bucket's score is
    unchanged), where ``hash % n`` reshuffles ~1 − 1/(n+1) of the
    corpus. At 100 TB that is the difference between topping up a
    bucketed layout and rewriting it (q364 measures both).

    In-row: one ``transform`` over the bucket spine, no row
    multiplication, no shuffle. Deterministic tie-break by encoding
    ``hv·64 + b`` (unique per bucket since hv < 2³²); hence
    ``n_buckets ≤ 64``. Engine-portable by construction — the DuckDB
    twin is ``list_max(list_transform(range(0, n), b -> h32(...)·64 +
    b)) % 64``.
    """
    if not 1 <= n_buckets <= 64:
        raise ValueError(f"n_buckets must be in [1, 64], got {n_buckets}")
    from adhesive_spark.operators.dedup import portable_hash32

    scored = F.transform(
        F.sequence(F.lit(0), F.lit(n_buckets - 1)),
        lambda b: portable_hash32(
            F.concat(
                F.lit(f"{salt}:"), b.cast("string"), F.lit(":"), key
            )
        )
        * F.lit(64)
        + b,
    )
    return (F.array_max(scored) % F.lit(64)).cast("long")
