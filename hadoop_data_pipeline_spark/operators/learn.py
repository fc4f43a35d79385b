"""Learned quality filtering: a distributed batch perceptron over
hashed bag-of-words features.

Extends the reference's heuristic data-quality gate family
(reference `jobs/data_quality.py:1-120` — fixed rule checks) the way
production LLM pipelines (CCNet, LLaMA, GPT-3 appendix A) extend
heuristic gates with a learned fastText-style linear classifier: a
weak deterministic heuristic provides labels, a linear model over
hashed bag-of-words generalizes it, and the learned scores drive the
keep/drop decision.

Everything is INTEGER-EXACT by construction so the unrolled training
loop is bit-identical across engines (the fixed-point PageRank
precedent, `queries_catalog.py` `_pagerank_sql`):

- features: token -> first-7-hex-of-md5 -> bigint -> ``% N_FEATURES``
  (hashing trick, Weinberger et al. 2009) — integer ids;
- feature values: raw token counts (bigint);
- labels: ``+1`` if ``2 * n_distinct_tokens > n_tokens`` else ``-1``
  (the repetition heuristic as an integer cross-multiplication — no
  float ratio anywhere);
- model: batch perceptron with lr=1 — per epoch, every misclassified
  doc (margin ``y * (w.x + b) <= 0``) contributes ``y * x`` to the
  weight update and ``y`` to the bias update. Weights, dots, margins
  and scores are all bigint sums, so 3 unrolled epochs admit an exact
  DuckDB value-hash oracle. Epoch 1 starts from ``w = 0, b = 0``:
  every margin is 0, every doc is misclassified, so the first update
  needs no join at all.

Scale design (the 100 TB shape — MLlib's iterative-training pattern,
not a lazy unrolled lineage):

- the sparse doc x feature matrix ``xf`` is built with ONE exchange
  (an explicit ``repartition(doc_id)`` BEFORE the explode, so the
  count aggregate and every later per-doc operation are
  partitioning-aligned) and persisted once — the corpus text is
  scanned exactly once per training run;
- the model is ``n_features + 1`` integers. Each epoch SYNCS it
  through the driver as a bounded collect (<= ``n_features`` rows —
  exactly how MLlib gradient descent collects ``treeAggregate``
  gradients per iteration) and re-applies it to ``xf`` as a literal
  MAP expression. Corpus-sized work per epoch is two
  partitioning-aligned passes over the persisted ``xf`` (margin
  aggregate; misclassified-join + per-feature delta aggregate) with
  map-side partial aggregation — nothing corpus-sized ever shuffles
  after the initial repartition, and no corpus-sized frame is ever
  collected;
- keeping the per-epoch model driver-side (instead of a chain of
  persisted 64-row frames) keeps the physical plan LINEAR in epochs:
  a lazy unrolled lineage re-prints (and, un-persisted, re-derives)
  the whole prefix 2^epochs times — the exact failure class the r11
  pagerank scan-count audit exists to catch.
"""

from __future__ import annotations

from itertools import chain

from pyspark.sql import DataFrame, SparkSession, functions as F

from hadoop_data_pipeline_spark.functions import dual
from hadoop_data_pipeline_spark.session import local_frame

#: Hashed bag-of-words dimensionality. Small on purpose: the fixture
#: vocabulary is ~40 words and the oracle unrolls joins per epoch;
#: the operator takes ``n_features`` for real use.
N_FEATURES = 64

#: Default number of batch-perceptron epochs (unrolled in the oracle).
EPOCHS = 3


def feature_expr(tok_col: str, dialect: str, n_features: int = N_FEATURES) -> str:
    """Hashing-trick feature id: md5-derived bigint mod n_features,
    identical text semantics in both engines."""
    return f"CAST({dual.md5_int(tok_col, dialect)} % {n_features} AS INT)"


def label_expr(toks_col: str, dialect: str) -> str:
    """Weak heuristic label: +1 (diverse) when distinct tokens exceed
    half the token count, else -1 (repetitive). Integer
    cross-multiplication — no float ratio, so the label is exact."""
    nd = dual.arr_size(dual.arr_distinct(toks_col, dialect), dialect)
    n = dual.arr_size(toks_col, dialect)
    return f"(CASE WHEN {nd} * 2 > {n} THEN 1 ELSE -1 END)"


def _staged_xf(
    df: DataFrame, col: str, id_col: str, n_features: int
) -> DataFrame:
    """The persisted sparse doc x feature count matrix
    (doc_id, y, f, cnt), hash-partitioned by doc_id."""
    from hadoop_data_pipeline_spark.operators.queries import (
        scatter_small_scan,
    )

    # Scatter before the tokenize projection (it evaluates map-side,
    # below the doc_id exchange); all downstream sums are bigint, so
    # partial-merge order cannot move a result (see
    # queries.scatter_small_scan).
    staged = scatter_small_scan(df).selectExpr(
        f"{id_col} AS doc_id", f"{dual.tokens(col, dual.SPARK)} AS __tk"
    )
    lab = staged.selectExpr(
        "doc_id", f"{label_expr('__tk', dual.SPARK)} AS y", "__tk"
    )
    feat = feature_expr("__tok", dual.SPARK, n_features)
    return (
        lab.repartition("doc_id")
        .select("doc_id", "y", F.explode("__tk").alias("__tok"))
        .selectExpr("doc_id", "y", f"{feat} AS f")
        .groupBy("doc_id", "y", "f")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .persist()
    )


def _weight_map_col(w: dict[int, int]):
    """The driver-side model as a literal MAP expression (f -> w).
    Bounded by n_features, so the literal stays tiny at the default
    n_features=64. CEILING NOTE (ADVICE r12): the literal map is
    O(n_features) per epoch in plan size and driver memory — fine
    to ~10^4 features, wrong for fastText-scale 2^20+ vocabularies,
    where the model should instead live in a small weights DataFrame
    broadcast-joined on the feature id (same arithmetic, plan-size
    O(1)). The literal form is kept here because it preserves exact
    integer semantics in a single projection and the catalog's
    feature space is hash-bounded."""
    if not w:
        return F.create_map()
    return F.create_map(
        *[F.lit(x) for x in chain.from_iterable(w.items())]
    )


def _dots(xf: DataFrame, w: dict[int, int]) -> DataFrame:
    """Per-doc margin dot products against a literal weight map:
    (doc_id, y, dot). Partitioning-aligned with ``xf`` (grouped on
    doc_id only), so no exchange."""
    wf = F.coalesce(
        F.element_at(_weight_map_col(w), F.col("f")), F.lit(0)
    ).cast("long")
    return (
        xf.withColumn("__wx", F.col("cnt") * wf)
        .groupBy("doc_id")
        .agg(F.first("y").alias("y"), F.sum("__wx").alias("dot"))
    )


def _train(xf: DataFrame, epochs: int) -> tuple[dict[int, int], int]:
    """Run the batch-perceptron epochs over a staged ``xf`` frame.
    Returns the model as a driver-side (weights dict, bias) — at most
    n_features + 1 integers; every collect below is bounded by
    n_features + 1 rows.

    Driver-sync budget: ONE collect per epoch (r16; was two). The
    per-feature delta frame and the 1-row bias delta union into one
    job — the bias rides as the sentinel ``f = -1`` row (impossible
    as a real feature id: ``feature_expr`` maps into [0, n_features),
    and the same sentinel the returned model already uses). Each
    removed collect was a full driver round trip + job submission
    between strictly sequential epochs, pure latency on the training
    critical path at ANY corpus size."""
    f_type = xf.schema["f"].dataType
    sentinel = F.lit(-1).cast(f_type).alias("f")

    def _apply(rows, w, b):
        for r in rows:
            f, d = int(r["f"]), int(r["dw"] or 0)
            if f == -1:
                b += d
            else:
                w[f] = w.get(f, 0) + d
        return b

    # Epoch 1: w = 0, b = 0 -> margin 0 everywhere -> every doc
    # misclassified; the update is a plain aggregate, no join. The
    # bias branch re-reads the persisted xf — two cache scans inside
    # one job instead of two sequential jobs.
    wrows = xf.groupBy("f").agg(
        F.sum(F.col("y") * F.col("cnt")).cast("long").alias("dw")
    )
    brow = (
        xf.groupBy("doc_id")
        .agg(F.first("y").alias("y"))
        .agg(F.sum("y").cast("long").alias("dw"))
        .select(sentinel, "dw")
    )
    w: dict[int, int] = {}
    b = _apply(wrows.unionByName(brow).collect(), w, 0)
    for _ in range(epochs - 1):
        mis = (
            _dots(xf, w)
            .where(F.col("y") * (F.col("dot") + F.lit(b)) <= 0)
            .select("doc_id", F.col("y").alias("__my"))
        )
        # Per-feature weight deltas: misclassified doc ids joined back
        # onto xf — both sides hash-partitioned by doc_id (mis derives
        # from a doc_id-grouped aggregate over xf), so neither side
        # exchanges; the grouped result is <= n_features rows. Bias
        # delta (each misclassified doc's y exactly once — mis is
        # doc-level) unions in as the f = -1 row: one collect total.
        dw = (
            xf.join(mis, "doc_id")
            .groupBy("f")
            .agg(F.sum(F.col("__my") * F.col("cnt")).cast("long").alias("dw"))
        )
        db = mis.agg(F.sum("__my").cast("long").alias("dw")).select(
            sentinel, "dw"
        )
        b = _apply(dw.unionByName(db).collect(), w, b)
    return w, b


def perceptron_weights(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    epochs: int = EPOCHS,
    n_features: int = N_FEATURES,
) -> DataFrame:
    """Train and return the model as (f, w) rows — one row per feature
    that occurs in the corpus, plus the bias as the ``f = -1`` row."""
    xf = _staged_xf(df, col, id_col, n_features)
    w, b = _train(xf, epochs)
    xf.unpersist()
    spark = SparkSession.getActiveSession() or df.sparkSession
    rows = sorted(w.items()) + [(-1, b)]
    return local_frame(spark, rows, "f int, w bigint")


def perceptron_doc_scores(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    epochs: int = EPOCHS,
    n_features: int = N_FEATURES,
) -> DataFrame:
    """Train, then score every document with the final model:
    (doc_id, y, score, predicted) where score = w.x + b (bigint) and
    predicted = sign(score) with 0 mapped to -1 (a zero margin counts
    as misclassified during training, so the tie goes the same way at
    inference). One more partitioning-aligned pass over the staged
    matrix — the corpus text itself is still scanned exactly once.

    Cache lifetime: ``xf`` stays persisted DELIBERATELY — the
    returned frame derives from it lazily, so unpersisting here (the
    way ``perceptron_weights`` does after its last driver sync) would
    recompute the whole staging pipeline at materialization. The
    returned frame carries the cache via ``_with_cached_deps``:
    one-shot drivers release it with clearCache-per-query; iterative
    callers must ``queries.unpersist_deps(result)`` after
    materializing (the r13 verdict's enforcement ask)."""
    from hadoop_data_pipeline_spark.operators.queries import (
        _with_cached_deps,
    )

    xf = _staged_xf(df, col, id_col, n_features)
    w, b = _train(xf, epochs)
    out = _dots(xf, w).selectExpr(
        "doc_id",
        "y",
        f"cast(dot + {b} as bigint) AS score",
        f"(CASE WHEN dot + {b} > 0 THEN 1 ELSE -1 END) AS predicted",
    )
    return _with_cached_deps(out, xf)


def perceptron_oracle_sql(
    dialect: str,
    epochs: int = EPOCHS,
    n_features: int = N_FEATURES,
    output: str = "scores",
    table: str = "documents",
) -> str:
    """The unrolled-epoch ANSI-SQL equivalent (DuckDB oracle). Epoch 1
    is the no-join full-batch update; epochs 2..N each add the
    dot/misclassified/delta/update CTE quartet. All-bigint arithmetic
    makes the result hash-identical to the Spark plan."""
    d = dialect
    tk = dual.tokens("text", d)
    feat = feature_expr("tok", d, n_features)
    parts = [
        f"t AS (SELECT doc_id, {tk} AS tk FROM {table})",
        (
            "lab AS (SELECT doc_id,"
            f" {label_expr('tk', d)} AS y, tk FROM t)"
        ),
        "ex AS (SELECT doc_id, y, unnest(tk) AS tok FROM lab)",
        (
            f"xf AS (SELECT doc_id, y, {feat} AS f,"
            " CAST(count(*) AS BIGINT) AS cnt"
            f" FROM ex GROUP BY doc_id, y, {feat})"
        ),
        "docs AS (SELECT doc_id, y FROM xf GROUP BY doc_id, y)",
        (
            "w1 AS (SELECT f, CAST(sum(y * cnt) AS BIGINT) AS w"
            " FROM xf GROUP BY f)"
        ),
        "b1 AS (SELECT CAST(sum(y) AS BIGINT) AS b FROM docs)",
    ]
    for e in range(2, epochs + 1):
        p = e - 1
        parts += [
            (
                f"dots{e} AS (SELECT x.doc_id, x.y,"
                " sum(x.cnt * w.w) AS dot"
                f" FROM xf x JOIN w{p} w ON x.f = w.f"
                " GROUP BY x.doc_id, x.y)"
            ),
            (
                f"mis{e} AS (SELECT d.doc_id, d.y"
                f" FROM dots{e} d, b{p}"
                f" WHERE d.y * (d.dot + b{p}.b) <= 0)"
            ),
            (
                f"dw{e} AS (SELECT x.f, sum(m.y * x.cnt) AS dw"
                f" FROM xf x JOIN mis{e} m ON x.doc_id = m.doc_id"
                " GROUP BY x.f)"
            ),
            (
                f"w{e} AS (SELECT coalesce(w.f, dw.f) AS f,"
                " CAST(coalesce(w.w, 0) + coalesce(dw.dw, 0) AS BIGINT)"
                f" AS w FROM w{p} w FULL JOIN dw{e} dw ON w.f = dw.f)"
            ),
            (
                f"b{e} AS (SELECT CAST(b{p}.b +"
                f" coalesce((SELECT sum(y) FROM mis{e}), 0)"
                f" AS BIGINT) AS b FROM b{p})"
            ),
        ]
    final_w, final_b = f"w{epochs}", f"b{epochs}"
    ctes = ",\n    ".join(parts)
    if output == "weights":
        return f"""
    WITH {ctes}
    SELECT CAST(f AS INT) AS f, CAST(w AS BIGINT) AS w FROM {final_w}
    UNION ALL
    SELECT -1 AS f, CAST(b AS BIGINT) AS w FROM {final_b}
    """
    return f"""
    WITH {ctes},
    fdots AS (
        SELECT x.doc_id, x.y, sum(x.cnt * w.w) AS dot
        FROM xf x JOIN {final_w} w ON x.f = w.f
        GROUP BY x.doc_id, x.y
    )
    SELECT d.doc_id, d.y,
           CAST(d.dot + b.b AS BIGINT) AS score,
           (CASE WHEN d.dot + b.b > 0 THEN 1 ELSE -1 END) AS predicted
    FROM fdots d, {final_b} b
    """
