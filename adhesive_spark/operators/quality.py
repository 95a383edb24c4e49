"""Data-quality operators: column profiling and referential integrity.

A 100 TB training pipeline gates ingest on exactly these checks; both
are single-pass / single-shuffle shapes:

- :func:`column_profile` — ONE wide aggregate over the table computing
  null count, distinct count, and numeric min/max per column, then
  unpivoted to long form (column, metrics). One scan; the distinct
  counts ride the same aggregate (Catalyst plans the expand).
- :func:`fk_orphans` — child rows whose foreign key has no parent
  (left-anti join on the key); returns the violating keys with
  occurrence counts so the report is actionable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from adhesive_spark.sources.registry import materialize

_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


def column_profile(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """(column, n_rows, n_null, n_distinct, vmin, vmax) per column —
    vmin/vmax as double for numeric columns, NULL otherwise (string
    min/max formatting is engine-specific and excluded by design)."""
    fields = {f.name: f.dataType for f in df.schema.fields}
    cols = cols or list(fields)
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        is_num = isinstance(fields[c], _NUMERIC)
        aggs.append(
            F.sum(F.col(c).isNull().cast("long")).alias(f"__null_{c}")
        )
        aggs.append(F.count_distinct(F.col(c)).alias(f"__dist_{c}"))
        aggs.append(
            (F.min(F.col(c).cast("double")) if is_num else F.lit(None).cast("double")).alias(f"__min_{c}")
        )
        aggs.append(
            (F.max(F.col(c).cast("double")) if is_num else F.lit(None).cast("double")).alias(f"__max_{c}")
        )
    wide = df.agg(*aggs)
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col("__n").alias("n_rows"),
                F.col(f"__null_{c}").alias("n_null"),
                F.col(f"__dist_{c}").alias("n_distinct"),
                F.col(f"__min_{c}").alias("vmin"),
                F.col(f"__max_{c}").alias("vmax"),
            )
            for c in cols
        ]
    )
    return wide.select(F.explode(per_col).alias("p")).select("p.*")


def fk_orphans(
    child: DataFrame,
    parent: DataFrame,
    child_key: str,
    parent_key: str | None = None,
) -> DataFrame:
    """Foreign keys in ``child`` with no matching ``parent`` row:
    (key value, n_rows). NULL keys are excluded (SQL FK semantics)."""
    parent_key = parent_key or child_key
    keys = parent.select(F.col(parent_key).alias(child_key)).distinct()
    return (
        child.where(F.col(child_key).isNotNull())
        .join(keys, child_key, "left_anti")
        .groupBy(child_key)
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


def expectation_report(
    df: DataFrame,
    rules: list[tuple],
    *,
    parents: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """Declarative expectation suite (dbt-test / Great-Expectations
    style): evaluate a list of rules and return one row per rule —
    ``(rule, n_violations, passed)`` — so ingest can gate on
    ``passed = false`` rows.

    Rule forms (tuples, first element is the kind):

    - ``("not_null", col)``
    - ``("accepted_values", col, [v, ...])`` — NULL passes (pair with
      not_null to forbid it), matching dbt semantics
    - ``("in_range", col, lo, hi)`` — inclusive bounds, NULL passes
    - ``("matches", col, regex)`` — NULL passes
    - ``("unique", col)`` — violations = non-null rows beyond the first
      per value (``count(col) - count(distinct col)``)
    - ``("fk", col, parent_name, parent_key)`` — parent looked up in
      ``parents``; violations = non-null child keys with no parent

    Scale shape: every row-level rule AND every unique rule folds into
    ONE wide aggregate over a single scan (distinct partials ride
    Catalyst's Expand); each fk rule adds one anti-join aggregate whose
    build side is the DISTINCT parent key (broadcastable for dimension
    tables).  The union of one-row results is driver-free.
    """
    parents = parents or {}
    aggs: list = []
    labels: list[str] = []
    fk_reports: list[DataFrame] = []
    for rule in rules:
        kind, col = rule[0], rule[1]
        if kind == "not_null":
            pred = F.col(col).isNull()
        elif kind == "accepted_values":
            pred = F.col(col).isNotNull() & ~F.col(col).isin(*rule[2])
        elif kind == "in_range":
            lo, hi = rule[2], rule[3]
            pred = F.col(col).isNotNull() & (
                (F.col(col) < F.lit(lo)) | (F.col(col) > F.lit(hi))
            )
        elif kind == "matches":
            pred = F.col(col).isNotNull() & ~F.col(col).rlike(rule[2])
        elif kind == "unique":
            labels.append(f"unique({col})")
            aggs.append(
                (F.count(F.col(col)) - F.count_distinct(F.col(col))).alias(
                    f"__v{len(labels) - 1}"
                )
            )
            continue
        elif kind == "fk":
            parent_name, parent_key = rule[2], rule[3]
            orphans = fk_orphans(
                df, parents[parent_name], col, parent_key
            ).agg(F.coalesce(F.sum("n_rows"), F.lit(0)).alias("n_violations"))
            fk_reports.append(
                orphans.select(
                    F.lit(f"fk({col}->{parent_name}.{parent_key})").alias(
                        "rule"
                    ),
                    F.col("n_violations").cast("long"),
                    (F.col("n_violations") == 0).alias("passed"),
                )
            )
            continue
        else:
            raise ValueError(f"unknown expectation kind: {kind}")
        labels.append(f"{kind}({col})")
        aggs.append(
            F.sum(pred.cast("long")).alias(f"__v{len(labels) - 1}")
        )
    out: DataFrame | None = None
    if aggs:
        wide = df.agg(*aggs)
        rows = F.array(
            *[
                F.struct(
                    F.lit(lbl).alias("rule"),
                    F.coalesce(F.col(f"__v{i}"), F.lit(0))
                    .cast("long")
                    .alias("n_violations"),
                    (F.coalesce(F.col(f"__v{i}"), F.lit(0)) == 0).alias(
                        "passed"
                    ),
                )
                for i, lbl in enumerate(labels)
            ]
        )
        out = wide.select(F.explode(rows).alias("r")).select("r.*")
    for rep in fk_reports:
        out = rep if out is None else out.unionByName(rep)
    if out is None:
        raise ValueError("no rules given")
    return out


def fd_violations(df: DataFrame, lhs: str, rhs: str) -> DataFrame:
    """Approximate-functional-dependency audit for ``lhs → rhs``
    (public g3 error measure: the minimum rows to delete so the FD
    holds exactly): one row —

    - ``n_lhs`` distinct determinant values,
    - ``n_violating_groups`` lhs values mapping to >1 rhs value,
    - ``n_violating_rows`` rows outside the per-lhs majority rhs
      (= the g3 numerator; ties resolve to any majority, the COUNT is
      tie-invariant),
    - ``holds`` — exact-FD boolean.

    The schema-drift / dirty-dimension detector: run over each claimed
    dimension hierarchy per ingest.  Two keyed aggregates — (lhs, rhs)
    counts then a per-lhs fold — shuffle width is the distinct pair
    set, never the table."""
    pairs = df.where(F.col(lhs).isNotNull()).groupBy(lhs, rhs).agg(
        F.count(F.lit(1)).alias("__n")
    )
    per = pairs.groupBy(lhs).agg(
        F.sum("__n").alias("__total"),
        F.max("__n").alias("__majority"),
        F.count(F.lit(1)).alias("__n_rhs"),
    )
    return per.agg(
        F.count(F.lit(1)).alias("n_lhs"),
        F.sum((F.col("__n_rhs") > 1).cast("long")).alias(
            "n_violating_groups"
        ),
        F.sum(F.col("__total") - F.col("__majority")).alias(
            "n_violating_rows"
        ),
        (F.sum((F.col("__n_rhs") > 1).cast("long")) == 0).alias("holds"),
    )


def table_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    *,
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Audit diff of two versions of a keyed table (the dbt-audit /
    reconciliation shape): one row per differing key with
    ``change_type`` ∈ added | removed | changed and the list of
    ``changed_cols`` (NULL-safe comparison — NULL→value and value→NULL
    both count as changes; unchanged keys are omitted).

    ONE full-outer join on the key — at 100 TB this is the minimal
    reconciliation cost, and pre-bucketed tables co-locate it to zero
    extra shuffles. ``compare_cols`` defaults to every shared non-key
    column. The key join itself is null-safe too: a NULL-keyed row
    matches its NULL-keyed counterpart (one row per side, primary-key
    uniqueness assumed) instead of surfacing as a spurious
    removed+added pair."""
    if compare_cols is None:
        shared = set(old.columns) & set(new.columns)
        compare_cols = [
            c for c in old.columns if c in shared and c not in keys
        ]
    o = old.select(
        *[F.col(k).alias(f"__ok_{k}") for k in keys],
        F.lit(True).alias("__in_old"),
        *[F.col(c).alias(f"__o_{c}") for c in compare_cols],
    )
    nw = new.select(
        *[F.col(k).alias(f"__nk_{k}") for k in keys],
        F.lit(True).alias("__in_new"),
        *[F.col(c).alias(f"__n_{c}") for c in compare_cols],
    )
    cond = None
    for k in keys:
        eq = F.col(f"__ok_{k}").eqNullSafe(F.col(f"__nk_{k}"))
        cond = eq if cond is None else (cond & eq)
    j = o.join(nw, cond, "full_outer").select(
        *[
            F.coalesce(F.col(f"__ok_{k}"), F.col(f"__nk_{k}")).alias(k)
            for k in keys
        ],
        "__in_old",
        "__in_new",
        *[F.col(f"__o_{c}") for c in compare_cols],
        *[F.col(f"__n_{c}") for c in compare_cols],
    )
    changed_cols = F.filter(
        F.array(
            *[
                F.when(
                    ~F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}")),
                    F.lit(c),
                )
                for c in compare_cols
            ]
        ),
        lambda x: x.isNotNull(),
    )
    change_type = (
        F.when(F.col("__in_old").isNull(), F.lit("added"))
        .when(F.col("__in_new").isNull(), F.lit("removed"))
        .when(F.size(changed_cols) > 0, F.lit("changed"))
    )
    return (
        j.withColumn("change_type", change_type)
        .where(F.col("change_type").isNotNull())
        .select(
            *keys,
            "change_type",
            F.when(
                F.col("change_type") == "changed", changed_cols
            ).otherwise(F.array().cast("array<string>")).alias("changed_cols"),
        )
    )


def exact_quantile_ladder(
    df,
    key_col: str,
    val_col: str,
    quants: list[tuple[str, int, int]],
):
    """EXACT order statistics per key without a global sort — the
    two-phase histogram algorithm: bin values (1000-unit buckets),
    walk the per-key cumulative histogram to the bucket holding each
    requested k = ceil(num/den · n), then rank ONLY inside candidate
    buckets. ``quants`` are (name, numerator, denominator) integer
    rationals; ``val_col`` must already be an integer column (quantize
    floats upstream). Returns (key, quantile, n_rows, value).

    At 100 TB the second phase touches a ~1/buckets fraction of the
    data; everything else is one hash aggregate. The spine is a
    broadcast literal."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    spark = df.sparkSession
    binned = df.select(
        key_col, F.col(val_col).alias("__v")
    ).withColumn("__bin", F.expr("__v div 1000"))
    hist = binned.groupBy(key_col, "__bin").agg(F.count("*").alias("__c"))
    w = Window.partitionBy(key_col).orderBy("__bin")
    cum = hist.withColumn("__cum", F.sum("__c").over(w)).withColumn(
        "__before", F.col("__cum") - F.col("__c")
    )
    totals = hist.groupBy(key_col).agg(
        F.sum("__c").cast("long").alias("n_rows")
    )
    spine = spark.createDataFrame(
        list(quants), "quantile string, num long, den long"
    )
    targets = materialize(
        cum.join(totals, key_col)
        .crossJoin(F.broadcast(spine))
        .withColumn("__k", F.expr("(n_rows * num + den - 1) div den"))
        .where(
            (F.col("__cum") >= F.col("__k"))
            & (F.col("__before") < F.col("__k"))
        )
        .select(
            key_col,
            "__bin",
            "quantile",
            "n_rows",
            (F.col("__k") - F.col("__before")).alias("__off"),
        ),
        # Materialize the (tiny: |keys|·|quants| rows) target list ONCE.
        # Without this the whole phase-1 subtree — a FULL histogram pass
        # over the input — is re-evaluated for each of its three
        # consumers (targets, cand, the final join): q231's executed
        # plan held 10 FileScans of events. The list is the same
        # cardinality class the code already broadcasts (cand), so no
        # new scale assumption.
        "bounded",
    )
    # phase 2 ranks ONLY the candidate buckets: semi-join the raw rows
    # to the (tiny, broadcast) target-bucket list BEFORE the window, so
    # the sort touches a ~|quants|/|buckets| fraction of the data
    cand = targets.select(key_col, "__bin").distinct()
    in_bin = binned.join(F.broadcast(cand), [key_col, "__bin"])
    w2 = Window.partitionBy(key_col, "__bin").orderBy("__v")
    ranked = in_bin.withColumn("__rn", F.row_number().over(w2))
    return (
        # broadcast keeps `ranked` inside its window partitioning — the
        # final attach costs no exchange and no sort
        ranked.join(F.broadcast(targets), [key_col, "__bin"])
        .where(F.col("__rn") == F.col("__off"))
        .select(
            key_col,
            "quantile",
            "n_rows",
            F.col("__v").alias("value"),
        )
    )
