"""Corpus-curation operators for training-data pipelines: PII
redaction, stratified/deterministic sampling, per-domain caps, and
benchmark-contamination detection.

These extend the north-star pipeline surface (SURVEY §2.3) past dedup
and similarity: the steps between "raw crawl" and "training corpus"
that a 100 TB pipeline runs after dedup. All hot paths are built-in
expressions (JVM-side, codegen); shuffles are keyed and bounded; the
only joins are equi-joins.

The reference engine has no relational operators at all (it is a
function-factory demo, src/fusion.rs:22-80); this module is pure
extension surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from adhesive_spark.sources.registry import materialize

#: PII patterns deliberately restricted to syntax shared verbatim by
#: Java regex (Spark) and RE2 (DuckDB) so the redaction is
#: engine-reproducible: no backrefs, no lookaround.
PII_PATTERNS: dict[str, str] = {
    # local@domain.tld
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    # US-style 3-3-4 phone with -/. separators
    "phone": r"\d{3}[-.]\d{3}[-.]\d{4}",
    # SSN-style 3-2-4 (disjoint from the 3-3-4 phone shape)
    "ssn": r"\d{3}-\d{2}-\d{4}",
    # dotted-quad IP
    "ip": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}

#: Application order is part of the contract: earlier patterns consume
#: their text before later ones see it (an email's digits can't later
#: match as a phone).
PII_ORDER = ("email", "phone", "ssn", "ip")


def pii_counts(col) -> dict[str, Column]:
    """Occurrence count per PII class, counted SEQUENTIALLY in
    :data:`PII_ORDER` — each class is counted on the text with earlier
    classes already redacted, so the counts reconcile exactly with the
    tags :func:`redact_pii` substitutes (a phone-shaped substring inside
    an email is part of the email, not a phantom phone)."""
    out: dict[str, Column] = {}
    cur = col
    for name in PII_ORDER:
        out[name] = F.regexp_count(cur, F.lit(PII_PATTERNS[name]))
        cur = F.regexp_replace(cur, PII_PATTERNS[name], f"<{name.upper()}>")
    return out


def redact_pii(col) -> Column:
    """Text with every PII match replaced by its ``<CLASS>`` tag, applied
    in :data:`PII_ORDER`."""
    out = col
    for name in PII_ORDER:
        out = F.regexp_replace(out, PII_PATTERNS[name], f"<{name.upper()}>")
    return out



def md5_bucket(key, buckets: int = 10000) -> Column:
    """THE house sampling bucket: first 16 bits of md5(key-as-string)
    mod ``buckets`` — deterministic, engine-portable (DuckDB twin:
    ``CAST(('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 4)) AS BIGINT)
    % buckets``), and shared by every rate/threshold sampler so the
    "bucket < threshold" sets NEST across thresholds (the q209 ladder
    guarantee). One definition — a prefix-width change lands everywhere
    at once."""
    return (
        F.conv(F.substring(F.md5(key.cast("string")), 1, 4), 16, 10)
        .cast("long")
        % buckets
    )


def stratified_hash_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    rates: dict[str, float],
    *,
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic stratified sampling: keep a row iff its key's
    md5-derived bucket (16-bit prefix mod 10000) falls under the
    stratum's rate×10000 threshold.

    Unlike ``sampleBy`` (seeded RNG over partition order), the kept set
    is a pure function of the KEY — stable across runs, engines,
    repartitionings, and incremental reruns, which is what makes a
    training-data sample reproducible and resumable. One scan, no
    shuffle; the rate map is a literal CASE chain (strata counts are
    small by definition).
    """
    bucket = md5_bucket(F.col(key_col))
    threshold = F.lit(int(default_rate * 10000))
    for stratum, rate in sorted(rates.items()):
        threshold = F.when(
            F.col(strata_col) == stratum, F.lit(int(rate * 10000))
        ).otherwise(threshold)
    return df.where(bucket < threshold)


def mixture_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    target_fracs: dict[str, float],
    *,
    target_total: int,
) -> DataFrame:
    """Curriculum-mixing sampler: downsample each stratum so the output
    approximates ``target_total`` rows mixed in ``target_fracs``
    proportions (e.g. 60% web / 30% books / 10% code), regardless of the
    strata's raw sizes.

    The per-stratum keep rate is ``min(1, target_frac·target_total /
    stratum_count)``, computed IN-QUERY from one aggregate joined back
    (broadcast — strata counts are tiny by definition), then applied
    with the md5-key bucket of :func:`stratified_hash_sample` — fully
    deterministic and engine-reproducible; no driver-side collect.
    A stratum smaller than its target keeps everything (rate clamps to
    1; the mixer cannot invent data)."""
    counts = df.groupBy(strata_col).agg(F.count("*").alias("__n"))
    targets = F.create_map(
        *[
            x
            for s, frac in sorted(target_fracs.items())
            for x in (F.lit(s), F.lit(float(frac)))
        ]
    )
    rates = counts.select(
        F.col(strata_col),
        F.least(
            F.lit(1.0),
            F.coalesce(targets[F.col(strata_col)], F.lit(0.0))
            * F.lit(float(target_total))
            / F.col("__n"),
        ).alias("__rate"),
    )
    bucket = md5_bucket(F.col(key_col))
    return (
        df.join(F.broadcast(rates), strata_col)
        .where(bucket < F.floor(F.col("__rate") * 10000))
        .drop("__rate")
    )


def cap_per_group(
    df: DataFrame,
    group_col: str,
    order_cols: list,
    k: int,
) -> DataFrame:
    """Keep at most ``k`` rows per group by a deterministic ranking
    (the per-domain cap every crawl-derived corpus applies so one hub
    domain can't dominate training). One keyed shuffle + in-partition
    top-k; ``order_cols`` must be a total order for reproducibility.
    Adds the 1-based ``rank`` column."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(group_col).orderBy(*order_cols)
    return (
        df.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def contamination_pairs(
    train: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n: int = 8,
    min_overlap: int = 1,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """Benchmark-contamination detection: (train_id, bench_id) pairs
    sharing ≥ ``min_overlap`` word ``n``-grams, with the overlap count
    and the fraction of the benchmark doc's shingles found in the train
    doc (``containment`` — the decontamination decision metric; Jaccard
    is wrong here because train docs are much longer).

    Plan shape: explode both sides to (id, shingle), df-cap the train
    side's hot shingles (same trick as
    :func:`adhesive_spark.operators.dedup.ngram_jaccard_pairs`), then
    ONE equi-join on the shingle — shuffle is bounded by shingle
    frequency, never all-pairs. The benchmark side is small by nature;
    Spark broadcasts it under AQE when it fits.
    """
    from adhesive_spark.operators.dedup import word_shingles
    from adhesive_spark.sources.registry import ensure_parallelism

    from pyspark.sql.window import Window

    t = ensure_parallelism(train, id_col).select(
        F.col(id_col).alias("train_id"),
        F.explode(word_shingles(F.col(text_col), n)).alias("shingle"),
    )
    if max_shingle_df is not None:
        # df-cap as a count window inside ONE shingle-keyed exchange
        # (the ngram_jaccard_pairs shape): the separate frequency
        # aggregate + join-back re-ran the train-side explode — the
        # operator's CPU bound — a second time; the window value is the
        # identical per-shingle occurrence count
        t = (
            t.repartition("shingle")
            .withColumn(
                "__df", F.count("*").over(Window.partitionBy("shingle"))
            )
            .where(F.col("__df") <= max_shingle_df)
            .drop("__df")
        )
    # the bench side is small by nature but consumed twice (sizes +
    # the shingle join) — materialize its explode once
    b = materialize(
        bench.select(
            F.col(id_col).alias("bench_id"),
            F.explode(word_shingles(F.col(text_col), n)).alias("shingle"),
        ),
        "bounded",
    )
    bench_sizes = b.groupBy("bench_id").agg(F.count("*").alias("bench_n_sh"))
    overlap = (
        t.join(b, "shingle")
        .groupBy("train_id", "bench_id")
        .agg(F.count("*").alias("n_common"))
        .where(F.col("n_common") >= min_overlap)
    )
    from adhesive_spark.operators.text import fround

    return (
        overlap.join(bench_sizes, "bench_id")
        .select(
            "train_id",
            "bench_id",
            "n_common",
            fround(F.col("n_common") / F.col("bench_n_sh"), 4).alias(
                "containment"
            ),
        )
    )


def systematic_pps_sample(
    df: DataFrame,
    weight_col: str,
    group_col: str,
    id_col: str,
    *,
    k: int = 10,
) -> DataFrame:
    """Systematic PPS (probability-proportional-to-size) sampling: per
    group, pick ~``k`` rows with inclusion probability proportional to
    ``weight_col`` — the survey-statistics workhorse for building
    weighted training mixtures ("sample documents proportional to token
    count") without any floating point.

    Rows are laid on a line in a deterministic hash order, each
    occupying a segment of its weight; a pick lands wherever the
    cumulative weight crosses one of k evenly spaced boundaries:
    ``(cum·k) div W  >  ((cum−w)·k) div W``.  All BIGINT — exact on
    every engine, no pow/log/libm in sight, so the sample is
    bit-reproducible (the float alternative, A-ES u^(1/w) priorities,
    rank-flips on last-ulp libm differences across engines).  A row
    heavier than W/k is picked once (certainty unit); total picks per
    group are ≤ k and = k when no such whale exists.

    Shuffle shape: ONE hash shuffle on the group key; both window
    passes (cumulative weight, group total) and the boundary filter
    run inside that partitioning.
    """
    from pyspark.sql.window import Window

    w_ord = Window.partitionBy(group_col).orderBy(
        F.md5(F.col(id_col).cast("string")), id_col
    )
    w_all = Window.partitionBy(group_col)
    wv = F.col(weight_col).cast("long")
    cum = F.sum(wv).over(
        w_ord.rowsBetween(Window.unboundedPreceding, 0)
    )
    total = F.sum(wv).over(w_all)
    out = df.select(
        group_col,
        id_col,
        wv.alias("weight"),
        cum.alias("__cum"),
        total.alias("__w"),
    )
    lo = F.expr(f"((__cum - weight) * {k}) div __w")
    hi = F.expr(f"(__cum * {k}) div __w")
    return (
        out.where(hi > lo)
        .select(
            group_col,
            id_col,
            "weight",
            hi.cast("int").alias("pick_slot"),
        )
    )


def temperature_mixture(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    *,
    weight_col: str | None = None,
) -> DataFrame:
    """Temperature-0.5 mixture flattening (the multilingual/LLM data-
    mixing rule: sampled mass ∝ raw mass^T): each stratum keeps rate
    ``sqrt(smallest_mass / own_mass)`` — the smallest source keeps
    everything, a 100× larger one keeps 10%, so the sampled corpus's
    source shares are the square roots of the raw shares
    (renormalized), boosting the tail without upsampling.

    T is fixed at 0.5 deliberately: sqrt is IEEE-correctly-rounded on
    every engine, so the rates — and with the md5-key bucket, the kept
    SET — are bit-reproducible; a general ``pow(m, T)`` rides libm and
    can differ in the last ulp across engines (the same reason
    :func:`systematic_pps_sample` avoids A-ES priorities).

    One aggregate (strata masses, broadcast back with the broadcast
    1-row minimum), one scan-side filter — no shuffle of the corpus.
    """
    from pyspark.sql.window import Window

    w = F.col(weight_col).cast("long") if weight_col else F.lit(1).cast("long")
    mass = df.groupBy(strata_col).agg(F.sum(w).alias("__m"))
    # global-window min over the tiny per-stratum table: a separate
    # min-aggregate subtree re-ran the whole mass pass (2 corpus scans
    # where the algorithm needs 1 pre-pass + 1 filter pass)
    rates = mass.select(
        strata_col,
        F.sqrt(
            F.min("__m").over(Window.partitionBy()) / F.col("__m")
        ).alias("__rate"),
    )
    bucket = md5_bucket(F.col(key_col))
    return (
        df.join(F.broadcast(rates), strata_col)
        .where(bucket < F.floor(F.col("__rate") * 10000))
        .drop("__rate")
    )


def k_anonymity_screen(
    df: DataFrame, quasi_cols: list, k: int = 10
) -> DataFrame:
    """Privacy release gate: group the table by its quasi-identifier
    combination and flag equivalence classes smaller than ``k`` — the
    k-anonymity criterion (Sweeney 2002, public formulation): a row in
    a class of size < k is re-identifiable by joining the quasi-
    identifiers against an external dataset, so a corpus slice is only
    releasable once every class reaches k (suppress or generalize the
    rest).

    ``quasi_cols`` may contain column names or derived Columns (e.g.
    a bucketed length — generalization IS the standard fix, so the
    screen accepts the generalized expressions directly).

    Output: one row per equivalence class — the quasi values,
    ``class_n`` and ``at_risk`` — so the caller can either gate
    (``at_risk`` count must be 0) or route risky classes to
    suppression.  ONE hash aggregate on the quasi key; at 100 TB that
    is the same shuffle a groupBy-count costs, and the skew profile is
    the corpus's own (AQE handles hot classes).
    """
    return df.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).alias("class_n"),
        (F.count(F.lit(1)) < F.lit(k)).alias("at_risk"),
    )


def apply_masking_policy(df: DataFrame, policies: dict) -> DataFrame:
    """Column-level masking policies (governance layer: what a
    row/column access policy engine applies before data leaves the
    platform). ``policies`` maps column → kind; unlisted columns pass
    through unchanged, so the call site reads as the policy document:

    - ``"hash"`` — md5-prefix pseudonym (8 hex chars): referentially
      stable (joins/groupBys on the masked column still work — the
      point of pseudonymization) but irreversible; portable across
      engines, unlike xxhash.
    - ``"partial"`` — keep first and last character, star the middle
      (the call-center display form);
    - ``"null"`` — full redaction to NULL of the same type;
    - ``("bucket", width)`` — numeric generalization to the lower
      bucket edge (the k-anonymity fix applied as a mask).

    Pure projection: zero shuffles, pushdown-transparent, safe to
    compose under any query."""
    cols = []
    for c in df.columns:
        pol = policies.get(c)
        if pol is None:
            cols.append(F.col(c))
        elif pol == "hash":
            cols.append(
                F.substring(F.md5(F.col(c).cast("string")), 1, 8).alias(c)
            )
        elif pol == "partial":
            s = F.col(c).cast("string")
            cols.append(
                F.when(F.length(s) <= 2, F.lit("**"))
                .otherwise(
                    F.concat(
                        F.substring(s, 1, 1),
                        F.repeat(F.lit("*"), F.length(s) - 2),
                        s.substr(F.length(s), F.lit(1)),
                    )
                )
                .alias(c)
            )
        elif pol == "null":
            cols.append(F.lit(None).cast(dict(df.dtypes)[c]).alias(c))
        elif isinstance(pol, tuple) and pol[0] == "bucket":
            width = pol[1]
            cols.append(
                (F.floor(F.col(c) / F.lit(width)) * F.lit(width)).alias(c)
            )
        else:
            raise ValueError(f"unknown masking policy for {c}: {pol!r}")
    return df.select(*cols)
