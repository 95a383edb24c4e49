"""Reference implementations the operator equality tests compare against.

Each function is a second formulation of a package operator, written
with different Spark machinery: pure-Catalyst higher-order functions, a
broadcast crossJoin, or a ``max(struct)`` aggregate. The package ships
one faster engine per operator; these references were measured slower
(figures in each docstring) and live here so the tests can check the
package's engine bit-for-bit against them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from adhesive_spark.operators.dedup import (
    _MERSENNE,
    _perm_coeffs,
    portable_hash32,
    word_shingles,
)
from adhesive_spark.operators.similarity import cosine
from adhesive_spark.sources.registry import ensure_parallelism


# --- MinHash signatures (dedup.minhash_base_and_bands) -----------------------


def _coeff_array(num_perm: int, seed: int = 42):
    """The permutation coefficients as ONE literal array<struct<a,b>>
    column, so the whole signature is a single nested higher-order
    expression — NOT num_perm copies of the transform. 64 unrolled
    copies were observed to produce a codegen unit whose first-run
    Janino+JIT compile cost tens of seconds; the HOF form is a loop in
    one tiny compiled class with identical per-row work."""
    return F.array(
        *[
            F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
            for a, b in _perm_coeffs(num_perm, seed)
        ]
    )


def minhash_signature_from_base(base_col, num_perm: int = 64, seed: int = 42):
    """Array<long> MinHash signature over an already-materialized column
    of base hashes (array<long>).

    ``base_col`` MUST be a plain column reference (cached/projected), not
    a subtree: it is referenced inside the per-coefficient lambda, so an
    inline expression would be re-evaluated num_perm times.
    """
    return F.transform(
        _coeff_array(num_perm, seed),
        lambda c: F.array_min(
            F.transform(
                base_col, lambda h: (h * c["a"] + c["b"]) % _MERSENNE
            )
        ),
    )


def minhash_signature(
    col,
    num_perm: int = 64,
    shingle_n: int = 3,
    seed: int = 42,
):
    """Array<long> MinHash signature, entirely in built-in expressions.

    The shingle set is hashed ONCE (portable md5-prefix hash) into a
    named lambda variable (so it is NOT recomputed per permutation);
    each permutation is an affine transform (a*h+b) mod M₃₁ over the
    base hashes."""
    shingles = word_shingles(col, shingle_n)
    base = F.transform(shingles, lambda s: F.pmod(portable_hash32(s), F.lit(_MERSENNE)))
    # Bind base once via a single-element transform scope: the outer
    # lambda variable `bs` is evaluated once per row, then reused by all
    # num_perm inner scans.
    return F.element_at(
        F.transform(
            F.array(base),
            lambda bs: minhash_signature_from_base(bs, num_perm, seed),
        ),
        1,
    )


def minhash_base_hof(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    num_perm: int = 64,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """The ``base`` frame (id, shingles, sig) of
    ``dedup.minhash_base_and_bands``, with the signature computed by
    :func:`minhash_signature_from_base` over the same materialized base
    hashes. 1.9× slower than the package's Arrow kernel on the full
    1.5 M-doc signature stage (61.1 s vs 32.8 s, STRESS.md)."""
    hashed = df.select(
        F.col(id_col).alias("id"),
        word_shingles(F.col(text_col), shingle_n).alias("shingles"),
    ).withColumn(
        "base",
        F.transform(
            "shingles", lambda s: F.pmod(portable_hash32(s), F.lit(_MERSENNE))
        ),
    ).localCheckpoint(eager=True)
    sig = minhash_signature_from_base(F.col("base"), num_perm, seed)
    return hashed.select("id", "shingles", sig.alias("sig"))


# --- exact kNN (similarity.knn_bruteforce) ------------------------------------


def knn_bruteforce_hof(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k as a broadcast crossJoin of the corpus with the
    query block, scored by the higher-order-function fold in
    ``similarity.cosine``. 4× slower than the package's Arrow kernel at
    the 1000× ladder rung (2 M × 25 pairs: 32.8 s vs 8.1 s)."""
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).cast("array<double>").alias("__qvec"),
    )
    scored = ensure_parallelism(corpus, id_col).select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__cvec")
    ).crossJoin(F.broadcast(q)).select(
        query_id_col,
        id_col,
        F.round(cosine(F.col("__cvec"), F.col("__qvec")), 6).alias("sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("sim").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "sim", "rank")
    )


# --- k-means assignment (clustering._assign) ----------------------------------


def assign_hof(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment as a broadcast crossJoin + cosine +
    ``max(struct(sim, -cid))`` aggregate per vector (map-side
    combined); ties resolve to the lowest cid. vectors: (vec_id, v);
    centroids: (cid, cv) → (vec_id, v, cid)."""
    scored = vectors.crossJoin(F.broadcast(centroids)).select(
        "vec_id",
        "v",
        F.struct(
            F.round(
                cosine(
                    F.col("v").cast("array<double>"),
                    F.col("cv").cast("array<double>"),
                ),
                6,
            ).alias("sim"),
            (-F.col("cid")).alias("neg_cid"),
        ).alias("__cand"),
    )
    return (
        scored.groupBy("vec_id")
        .agg(F.first("v").alias("v"), F.max("__cand").alias("__best"))
        .select("vec_id", "v", (-F.col("__best.neg_cid")).alias("cid"))
    )


# --- CDC apply (incremental.apply_cdc) ----------------------------------------


def apply_cdc_agg(
    log: DataFrame,
    key_cols: list[str],
    seq_cols: list[str],
    op_col: str = "op",
    *,
    delete_op: str = "delete",
) -> DataFrame:
    """Latest-op-per-key as one ``max(struct(seq..., payload))``
    aggregate, then drop keys whose winning op is ``delete_op``.

    Sounds like the map-combine win, but a struct-max plans as
    SortAggregate (no mutable hash buffer for structs): partial AND
    final phases sort the full log by key — 5× SLOWER than the
    package's window at the 1000× rung (179.2 s vs 34.5 s over 100 M
    rows). Winners are identical: struct null ordering equals the
    window's DESC NULLS LAST, and unique ``seq_cols`` mean the payload
    never decides a comparison. Restriction the window does not share:
    the payload rides inside the comparison struct, so every payload
    column must be ORDERABLE — a map-typed column fails analysis — and
    were ``seq_cols`` ever non-unique per key the payload would act as
    an implicit tiebreaker."""
    # The partial combine runs INSIDE the scan stage — on a
    # single-split input (compacted file, or the stress harness's
    # map-side explode) the whole pre-shuffle reduction would
    # serialize in one task. No-op when input splits >= cores.
    log = ensure_parallelism(log)
    payload_cols = [c for c in log.columns if c not in key_cols]
    best = log.groupBy(*key_cols).agg(
        F.max(
            F.struct(
                *[F.col(c) for c in seq_cols],
                F.struct(*[F.col(c) for c in payload_cols]).alias("__row"),
            )
        ).alias("__best")
    )
    latest = best.select(
        *key_cols,
        *[F.col(f"__best.__row.{c}").alias(c) for c in payload_cols],
    ).select(*log.columns)
    return latest.where(
        ~F.coalesce(F.col(op_col) == F.lit(delete_op), F.lit(False))
    )


# --- Gopher repetition rules (training_queries.gopher_repetition_report) -----


def gopher_repetition_report_hof(docs: DataFrame) -> DataFrame:
    """q281's per-source Gopher fail counters with each lane's gram
    masses computed by built-in higher-order aggregates instead of the
    package's Arrow kernel: ~7× lower whole-box throughput, 9.1× more
    per-doc cost at the 1000× rung (STRESS.md)."""
    from adhesive_spark.operators.text import normalize_text, tokens

    docs = ensure_parallelism(docs).select(
        "doc_id",
        "source",
        F.length(normalize_text(F.col("text"))).cast("long").alias(
            "n_chars"
        ),
        tokens(F.col("text")).alias("toks"),
    )

    # ENTIRELY IN-ROW per-document metric: each lane's grams are built,
    # SORTED, and run-length-scanned inside one higher-order aggregate
    # per n — equal grams are adjacent after the sort, so one linear
    # pass yields the top-run mass (max cnt·len) and the duplicated-run
    # mass (Σ cnt·len where cnt ≥ 2). NO gram rows are ever exploded or
    # shuffled; the only shuffle in the whole query is the source
    # rollup. toks is bound once per row via the single-element
    # transform scope (house pattern — a raw tokens(col) argument would
    # be re-inlined per element by CollapseProject, O(len²)/doc).
    def _run_masses(grams):
        """(top_mass, dup_mass) over a sorted gram array via one
        aggregate: acc carries the current run (prev, cnt) and the two
        masses; finish folds the final run in."""
        sg = F.array_sort(grams)
        init = F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("long").alias("cnt"),
            F.lit(0).cast("long").alias("top"),
            F.lit(0).cast("long").alias("dup"),
        )

        def close_run(acc):
            mass = acc["cnt"] * F.length(acc["prev"]).cast("long")
            return (
                F.greatest(acc["top"], mass),
                acc["dup"]
                + F.when(acc["cnt"] >= 2, mass).otherwise(F.lit(0).cast("long")),
            )

        def step(acc, g):
            top2, dup2 = close_run(acc)
            return F.when(
                g == acc["prev"],
                F.struct(
                    acc["prev"].alias("prev"),
                    (acc["cnt"] + 1).alias("cnt"),
                    acc["top"].alias("top"),
                    acc["dup"].alias("dup"),
                ),
            ).otherwise(
                F.struct(
                    g.alias("prev"),
                    F.lit(1).cast("long").alias("cnt"),
                    top2.alias("top"),
                    dup2.alias("dup"),
                )
            )

        def finish(acc):
            top2, dup2 = close_run(acc)
            return F.struct(top2.alias("top"), dup2.alias("dup"))

        return F.aggregate(sg, init, step, finish)

    def _lane_masses(toks):
        def lane(n):
            k = F.size(toks) - (n - 1)
            grams = F.when(
                k >= 1,
                F.transform(
                    F.sequence(F.lit(0), k - 1),
                    lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
                ),
            ).otherwise(F.array().cast("array<string>"))
            return _run_masses(grams)

        return F.struct(
            *[lane(n).alias(f"m{n}") for n in (2, 3, 4, 5, 6, 7)]
        )

    masses = F.element_at(
        F.transform(F.array(F.col("toks")), _lane_masses), 1
    )
    base = docs.select("doc_id", "source", "n_chars", masses.alias("m"))
    fails = base.select(
        "source",
        *[
            (
                F.expr(f"m.m{n}.top * 1000000 div greatest(n_chars, 1L)")
                > F.lit(thr)
            )
            .cast("int")
            .alias(f"fail_top{n}")
            for n, thr in ((2, 200000), (3, 180000), (4, 160000))
        ],
        *[
            (
                F.expr(f"m.m{n}.dup * 1000000 div greatest(n_chars, 1L)")
                > F.lit(thr)
            )
            .cast("int")
            .alias(f"fail_dup{n}")
            for n, thr in ((5, 150000), (6, 140000), (7, 130000))
        ],
    )
    return fails.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        *[
            F.sum(f"fail_top{n}").cast("long").alias(f"fail_top{n}")
            for n in (2, 3, 4)
        ],
        *[
            F.sum(f"fail_dup{n}").cast("long").alias(f"fail_dup{n}")
            for n in (5, 6, 7)
        ],
    )
