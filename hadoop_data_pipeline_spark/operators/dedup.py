"""Deduplication operators for a training-data pipeline (north-star
extension): exact, MinHash+LSH near-dup, SimHash, n-gram Jaccard —
all deterministic, all oracle-checkable, no Python UDFs.

All shingle/hash arrays follow dual.py's STAGING RULE: materialized
once per row via chained projections, then every minhash/band/Jaccard
expression references the staged column. (Inlining the tokenizer into
per-element lambdas re-runs the regex split once per array index —
a ~100x per-row blowup we measured before staging.)

Scale design (the part that matters at 100 TB)
----------------------------------------------
* Exact dedup is a hash-aggregate on md5(text) — never on the raw
  text (shuffling full document bodies would dominate the job).
* MinHash+LSH: signatures are computed in a single projection pass
  (Catalyst expressions, codegen'd). Banding explodes each doc into
  N_BANDS (band_id, band_key) rows; the self-join shuffles only
  ``(doc_id, band_key)`` and the verify join only the 28-bit
  shingle-hash arrays — NOT the document text. Candidate pairs are
  verified with exact Jaccard; thresholding happens inside the join
  stage. Skewed buckets (boilerplate shingles) are AQE's skew-join
  problem, and pathological bucket sizes can be capped with a count
  filter before the join.
* SimHash: one projection -> 28-bit signature; near-dup = equal
  signature (or small Hamming distance via band-split on the bits).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hadoop_data_pipeline_spark.functions import dual
from hadoop_data_pipeline_spark.session import local_frame

#: Jaccard from a staged intersection size and the two set sizes:
#: |A ∪ B| = |A| + |B| - |A ∩ B| (the arrays are distinct sets), so
#: only ONE array traversal per pair.
JACCARD_FROM_SIZES = (
    "round(cast(__i as double)"
    " / cast(nullif(n_a + n_b - __i, 0) as double), 6)"
)


def _size_ratio_prefilter(threshold: float):
    """Provably lossless candidate prune: jaccard <= min(n)/max(n), so
    pairs with min(n) < threshold * max(n) can never reach the
    threshold. Evaluated on staged integer sizes — no array work."""
    return F.expr(
        f"cast(least(n_a, n_b) as double)"
        f" >= {threshold} * cast(greatest(n_a, n_b) as double)"
    )


def exact_dedup(df: DataFrame, cols: Sequence[str], id_col: str) -> DataFrame:
    """Keep one deterministic survivor (min id) per duplicate group.
    Groups on md5 of the concatenated key columns so the shuffle moves
    32-byte digests, not document bodies."""
    key = F.md5(F.concat_ws("", *[F.col(c) for c in cols]))
    return (
        df.withColumn("__key", key)
        .groupBy("__key")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
        .withColumnRenamed("__key", "content_key")
    )


def staged_shingle_hashes(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    extra_cols: Sequence[str] = (),
) -> DataFrame:
    """(id, extra..., __sh) with the shingle-hash array staged.

    The input is scattered to the session's minimum parallelism first
    (``queries.scatter_small_scan``): tokenize+shingle+hash is the
    family's most expensive per-row stage, and a small single-split
    scan otherwise runs it on one core (r16 measurement:
    ``ngram_jaccard_pairs_lang`` 6.0 -> 4.2 s warm at sf0.1 from this
    alone). No-op at production split counts. Everything downstream of
    the staging is partitioning-order-safe: integer shingle hashes,
    min/count aggregates, and Jaccard ratios derived from integer
    sizes."""
    from hadoop_data_pipeline_spark.operators.queries import (
        scatter_small_scan,
    )

    return dual.stage_spark_shingle_hashes(
        scatter_small_scan(df), text_col, [id_col, *extra_cols]
    )


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document MinHash signature (k = len(dual.MINHASH_AB)) over
    distinct word bigrams."""
    staged = staged_shingle_hashes(df, text_col, id_col)
    return staged.selectExpr(
        id_col,
        *[
            f"{dual.minhash_from_hashes('__sh', k, dual.SPARK)} AS mh{k}"
            for k in range(len(dual.MINHASH_AB))
        ],
    )


def _banded(sig: DataFrame, id_col: str) -> DataFrame:
    """Explode a signature frame into (id, band_id, band_key) rows.
    band_key is the md5 of the band's minhash values."""
    bands = []
    for b in range(dual.N_BANDS):
        cols_in_band = [
            f"mh{b * dual.BAND_ROWS + r}" for r in range(dual.BAND_ROWS)
        ]
        key = "md5(concat_ws('_', " + ", ".join(cols_in_band) + "))"
        bands.append(f"struct({b} AS band_id, {key} AS band_key)")
    arr = "array(" + ", ".join(bands) + ")"
    return sig.selectExpr(id_col, f"inline({arr})")


def _pairs_from_banded(banded: DataFrame, id_col: str) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing >= 1 band bucket, via ONE
    keyed exchange: group the banded rows per (band_id, band_key)
    into the bucket's id list and expand each bucket's ordered pairs
    in a codegen'd projection. The bucket SELF-JOIN form shuffles the
    banded frame twice for the same pair set (measured ~25% slower
    at sf0.1, and 2x the exchanged bytes). The collect_list buffer is
    bounded by the bucket size — documents agreeing on a whole band —
    i.e. by the corpus's largest near-duplicate cluster, the same m
    that makes either form emit O(m^2) pairs; the buffer is the O(m)
    side of that, and Spark's ObjectHashAggregate spills under
    pressure."""
    buckets = (
        banded.groupBy("band_id", "band_key")
        .agg(F.collect_list(id_col).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    pair = (
        "flatten(transform(ids, x -> transform(filter(ids, y -> y > x), "
        "y -> struct(x AS id_a, y AS id_b))))"
    )
    return (
        buckets.select(F.explode(F.expr(pair)).alias("p"))
        .select("p.*")
        .distinct()
    )


def lsh_candidate_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing >= 1 LSH band."""
    sig = minhash_signatures(df, text_col, id_col)
    return _pairs_from_banded(_banded(sig, id_col), id_col)


def near_dup_pairs_minhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.2,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs with exact Jaccard verification.

    Pipeline: staged hashes -> signatures -> banding -> bucket
    self-join -> distinct candidates -> join the hash arrays back ->
    exact Jaccard >= threshold. The staged hash frame feeds both the
    signature and the verification sides (one tokenize pass).
    """
    # Persist the staged hash arrays: they feed the signature side AND
    # both verification sides — without the cache the tokenize/shingle/
    # hash pipeline runs three times. ~k ints per doc; spills to disk
    # if a 100 TB corpus outgrows executor memory (default level).
    staged = staged_shingle_hashes(df, text_col, id_col).persist()
    from hadoop_data_pipeline_spark.operators.queries import (
        _with_cached_deps,
    )

    return _with_cached_deps(
        _near_dup_pairs_from_staged(staged, id_col, threshold), staged
    )


def _near_dup_pairs_from_staged(
    staged: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Pair pipeline over an already-staged (and caller-persisted)
    shingle-hash frame — lets composites like :func:`dedup_clusters`
    own the cache lifetime and release it once the pairs are consumed."""
    sig = staged.selectExpr(
        id_col,
        *[
            f"{dual.minhash_from_hashes('__sh', k, dual.SPARK)} AS mh{k}"
            for k in range(len(dual.MINHASH_AB))
        ],
    )
    cand = _pairs_from_banded(_banded(sig, id_col), id_col)
    a = staged.selectExpr(
        f"{id_col} AS id_a", "__sh AS sh_a", "size(array_distinct(__sh)) AS n_a"
    )
    b = staged.selectExpr(
        f"{id_col} AS id_b", "__sh AS sh_b", "size(array_distinct(__sh)) AS n_b"
    )
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .where(_size_ratio_prefilter(threshold))
        .withColumn("__i", F.expr("size(array_intersect(sh_a, sh_b))"))
        .selectExpr("id_a", "id_b", f"{JACCARD_FROM_SIZES} AS jaccard")
        .where(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_cols: Sequence[str] = ("lang",),
    threshold: float = 0.15,
    max_doc_freq: int | None = 1000,
    presieve_hot: bool = False,
) -> DataFrame:
    """Blocked n-gram Jaccard via an inverted index: explode distinct
    shingle hashes into (hash, id) postings, GROUP the postings per
    (block, hash) into a bounded doc list, expand each list's ordered
    pairs in one codegen'd projection, and COUNT per pair — that
    count IS the intersection size, so no per-pair array traversal
    ever happens. |A ∪ B| = n_a + n_b - |A ∩ B| closes the Jaccard
    arithmetic (requires ``threshold > 0``, which a Jaccard threshold
    always is in practice).

    Scale shape: ONE keyed exchange of the postings (the per-hash
    groupBy) plus the partial-agg'd pair-count — the earlier
    posting SELF-JOIN form shuffled the postings twice and planned a
    third exchange for the pair count; grouped pair-expansion
    measured 6.6 -> 5.2 s at sf0.1 with an identical result set. The
    size-ratio prune (jaccard <= min(n)/max(n), provably lossless)
    runs INSIDE the pair lambda, so hopeless pairs never reach the
    pair-count exchange.

    ``max_doc_freq`` is the hot-shingle guard — THE failure mode of
    inverted-index Jaccard at corpus scale: a boilerplate shingle
    with document frequency d contributes O(d^2) pairs. Lists past
    the cap are dropped (standard IR practice — such shingles carry
    no discriminating signal; intersections shrink, so the reported
    jaccard is a lower bound for affected pairs). Pass ``None`` for
    exact uncapped semantics. Two enforcement modes:

    - default: the cap filters on the grouped list SIZE. The dropped
      list is still materialized once in the aggregation buffer
      (partial lists per map task, merged at reduce; Spark's
      ObjectHashAggregate falls back to sort-based spill under
      memory pressure, so a mega-hot shingle degrades, not OOMs).
    - ``presieve_hot=True``: a separate df-count pass anti-joins hot
      shingles out of the postings BEFORE any list is built —
      reduce-side memory is then strictly bounded by the cap. Costs
      a second aggregation over the postings (measured ~8.4 vs
      ~5.2 s at sf0.1): the right trade only when the df
      distribution is adversarial (web boilerplate, license
      headers) — at 100 TB run the sieve; its hot list has at most
      n_postings / max_doc_freq entries, so it broadcasts.
    """
    if threshold <= 0:
        raise ValueError("inverted-index Jaccard requires threshold > 0")
    staged = staged_shingle_hashes(df, text_col, id_col, extra_cols=block_cols)
    posts = staged.selectExpr(
        id_col,
        *block_cols,
        "size(array_distinct(__sh)) AS n",
        "explode(array_distinct(__sh)) AS __h",
    )
    if presieve_hot and max_doc_freq is not None:
        posts = posts.persist()
        hot = (
            posts.groupBy(*block_cols, "__h")
            .agg(F.count(F.lit(1)).alias("__df"))
            .where(F.col("__df") > max_doc_freq)
            .select(*block_cols, "__h")
        )
        posts = posts.join(F.broadcast(hot), [*block_cols, "__h"], "left_anti")
    grouped = (
        posts.groupBy(*block_cols, "__h")
        .agg(
            F.collect_list(
                F.struct(F.col(id_col).alias("id"), F.col("n").alias("n"))
            ).alias("ds")
        )
        .where(F.size("ds") >= 2)
    )
    if max_doc_freq is not None and not presieve_hot:
        grouped = grouped.where(F.size("ds") <= max_doc_freq)
    pair_expr = (
        "flatten(transform(ds, x -> "
        "transform(filter(ds, y -> y.id > x.id AND "
        f"cast(least(x.n, y.n) as double)"
        f" >= {threshold} * cast(greatest(x.n, y.n) as double)), "
        "y -> struct(x.id AS id_a, x.n AS n_a, y.id AS id_b, y.n AS n_b))))"
    )
    pairs = grouped.select(
        *block_cols, F.explode(F.expr(pair_expr)).alias("p")
    ).select(*block_cols, "p.*")
    return (
        pairs.groupBy("id_a", "id_b", *block_cols, "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("__i"))
        .selectExpr("id_a", "id_b", *block_cols, f"{JACCARD_FROM_SIZES} AS jaccard")
        .where(F.col("jaccard") >= threshold)
    )


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """28-bit SimHash per document from the staged token-hash array.
    Input scattered for the same reason as
    :func:`staged_shingle_hashes` (integer fold — order-safe)."""
    from hadoop_data_pipeline_spark.operators.queries import (
        scatter_small_scan,
    )

    staged = dual.stage_spark_token_hashes(
        scatter_small_scan(df), text_col, [id_col]
    )
    return staged.selectExpr(
        id_col, f"{dual.simhash_from_hashes('__th', dual.SPARK)} AS simhash"
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """SimHash near-duplicates: pairs whose 28-bit signatures differ in
    <= ``max_hamming`` bits.

    Candidates come from banding the signature into ``n_bands`` nibble
    keys: by pigeonhole, <= ``n_bands - 1`` flipped bits leave at least
    one band identical, so for ``max_hamming < n_bands`` the candidate
    set is LOSSLESS and verification (bit_count of xor) is exact — the
    result equals the full quadratic scan without ever forming it.
    """
    if max_hamming >= n_bands:
        raise ValueError("losslessness needs max_hamming < n_bands")
    # Persist the signature frame: the self-join below would otherwise
    # re-run the whole tokenize+hash+fold pipeline for BOTH sides. Two
    # ints per document — cacheable at any corpus size (at production
    # scale, write signatures to a table once instead).
    sig = simhash_signatures(df, text_col, id_col).persist()
    bits_per_band = dual.SIMHASH_BITS // n_bands
    mask = (1 << bits_per_band) - 1
    bands = sig.selectExpr(
        id_col,
        "simhash",
        f"""inline(array({", ".join(
            f"struct({b} AS band_id, shiftright(simhash, {b * bits_per_band}) & {mask} AS band_key)"
            for b in range(n_bands)
        )}))""",
    )
    # Same single-shuffle bucket-expansion as _pairs_from_banded; the
    # signature rides along in the bucket struct so the Hamming test
    # runs inside the pair lambda and over-distance pairs never reach
    # the distinct exchange.
    buckets = (
        bands.groupBy("band_id", "band_key")
        .agg(
            F.collect_list(
                F.struct(
                    F.col(id_col).alias("id"), F.col("simhash").alias("sh")
                )
            ).alias("ds")
        )
        .where(F.size("ds") >= 2)
    )
    pair = (
        "flatten(transform(ds, x -> transform(filter(ds, y -> y.id > x.id "
        f"AND bit_count(x.sh ^ y.sh) <= {max_hamming}), "
        "y -> struct(x.id AS id_a, y.id AS id_b, "
        "bit_count(x.sh ^ y.sh) AS hamming))))"
    )
    out = (
        buckets.select(F.explode(F.expr(pair)).alias("p"))
        .select("p.*")
        .distinct()
    )
    from hadoop_data_pipeline_spark.operators.queries import (
        _with_cached_deps,
    )

    return _with_cached_deps(out, sig)


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 20,
    driver_edge_limit: int = 2_000_000,
) -> DataFrame:
    """Resolve near-dup PAIRS into duplicate CLUSTERS: each node gets
    the minimum reachable node id as its cluster label (connected
    components). Returns (id_col, cluster_id).

    Two execution strategies, chosen by measured pair count — the same
    bounded adaptivity as a broadcast-join threshold:

    * **Driver union-find** when the pair graph has at most
      ``driver_edge_limit`` edges: collect the (id_a, id_b) pairs
      (ids only, never payloads), run path-compressed union-find in
      milliseconds, ship the node->min-label mapping back as a
      DataFrame. Near-dup pair graphs are usually tiny relative to
      the corpus (pairs are the OUTPUT of aggressive LSH blocking),
      so this path covers most real runs; 2M edges is tens of MB on
      the driver — comfortably bounded.
    * **Distributed hash-min with shortcutting** otherwise (set
      ``driver_edge_limit=0`` to force it): the logarithmic-round
      MapReduce CC shape (Rastogi et al. 2012, "Finding Connected
      Components in Map-Reduce in Logarithmic Rounds"). Every round
      each node v takes the min over its own and its graph-neighbors'
      labels (plain hash-min), its label node's freshly stepped label
      (downward shortcut), and the stepped labels of every node
      currently pointing at v (upward shortcut). The bidirectional
      exchange is what plain hash-min and one-way label-of-label
      jumping both lack — hooking onto a new smaller label resets a
      one-way jump chain, so those stay O(diameter) in practice
      (measured: 21 and 16 rounds on a diameter-24 near-dup graph)
      while this form converges in O(log n) (measured: 8). Rounds
      are the expensive unit at scale — each is a constant number of
      hash joins + aggregates — and ``localCheckpoint`` truncates
      lineage so the plan doesn't grow with iterations.

    Both strategies iterate over PAIR-PARTICIPATING nodes only:
    isolated nodes (the vast majority of a deduped corpus) never
    enter the loop and are labeled with their own id by a single
    final left join against ``nodes``.

    Labels are the node ids THEMSELVES (any orderable type — numeric
    or string ids both work; min-label propagation only needs a total
    order), so ``cluster_id`` is always the minimum reachable id and
    stays in id space. No numeric cast: a cast would silently turn
    non-numeric string ids into NULL labels. The downward-shortcut
    join is always total: a label is by construction some node's id,
    so every label row finds its target.
    """
    half = pairs.selectExpr("id_a", "id_b").distinct()
    id_type = nodes.schema[id_col].dataType.simpleString()

    if driver_edge_limit > 0:
        # Single-job bounded probe: collect at most limit+1 edges. If
        # the limit wasn't hit we have the WHOLE edge set (limit larger
        # than the data returns everything), so the driver path never
        # needs a separate count() pass over the expensive LSH+verify
        # pipeline — one job instead of two.
        probe = half.limit(driver_edge_limit + 1).collect()
        if len(probe) <= driver_edge_limit:
            map_df = local_frame(
                nodes.sparkSession,
                _driver_union_find(probe),
                f"__n {id_type}, __l {id_type}",
            )
            return nodes.join(
                F.broadcast(map_df), nodes[id_col] == map_df.__n, "left"
            ).select(
                id_col, F.coalesce("__l", F.col(id_col)).alias("cluster_id")
            )

    # Distributed path: the edge frame is read every round, so NOW the
    # persist pays for itself.
    half = half.persist()
    edges = (
        half.selectExpr("id_a AS src", "id_b AS dst")
        .unionByName(half.selectExpr("id_b AS src", "id_a AS dst"))
        .persist()
    )
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    ).localCheckpoint()
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = labels.join(
            neighbor_min, labels.node == neighbor_min.src, "left"
        ).select(
            "node",
            F.least(
                "label", F.coalesce("nbr_label", F.col("label"))
            ).alias("s"),
            F.col("label").alias("__old"),
        )
        # Downward shortcut: v reads its label node's stepped label.
        down = stepped.select(
            F.col("node").alias("__dn"), F.col("s").alias("__ds")
        )
        # Upward shortcut: nodes pointing at w push their min to w.
        up = stepped.groupBy(F.col("__old").alias("__un")).agg(
            F.min("s").alias("__us")
        )
        best = F.least(
            "s", "__ds", F.coalesce("__us", F.col("s"))
        )
        # Lazy checkpoint + full-scan convergence aggregate = ONE Spark
        # job per round (an eager checkpoint plus a separate count
        # would be two). The sum-aggregate touches every partition, so
        # the checkpoint is guaranteed fully materialized — a
        # short-circuiting limit(1) probe would leave partitions
        # unmaterialized and let lineage regrow across rounds.
        updated = (
            stepped.join(down, stepped.__old == down.__dn)
            .join(up, stepped.node == up.__un, "left")
            .select(
                "node",
                best.alias("label"),
                (best < F.col("__old")).alias("__changed"),
            )
        ).localCheckpoint(eager=False)
        changed = updated.agg(
            F.sum(F.col("__changed").cast("int")).alias("n")
        ).collect()[0]["n"]
        labels = updated.drop("__changed")
        if not changed:
            break
    # Isolated nodes rejoin here, labeled with their own id.
    return nodes.join(
        labels, nodes[id_col] == labels.node, "left"
    ).select(
        id_col, F.coalesce("label", F.col(id_col)).alias("cluster_id")
    )


def _driver_union_find(pair_rows) -> list[tuple]:
    """Path-compressed union-find over collected (id_a, id_b) rows.
    Returns (node, min_component_id) for every pair-participating node
    — identical output to the distributed loop by construction."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in pair_rows:
        ra, rb = find(r[0]), find(r[1])
        if ra != rb:
            parent[ra] = rb
    comp_min: dict = {}
    for x in parent:
        r = find(x)
        if r not in comp_min or x < comp_min[r]:
            comp_min[r] = x
    return [(x, comp_min[find(x)]) for x in parent]


def dedup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Full near-dup resolution: MinHash+LSH pairs -> connected
    components -> (doc, cluster, is_canonical) where the canonical
    survivor is the cluster's min id — what a training-data pipeline
    actually keeps.

    Owns the staged-hash cache: :func:`connected_components` runs its
    edge-probe job eagerly, so by the time it returns the cache has
    done its work and is released here instead of leaking across
    queries (repeated invocations were accumulating cached frames and
    causing GC-driven run-to-run variance at sf0.1). On the distributed
    CC fallback the first materialization of the edge frame recomputes
    the tokenize pipeline up to 3x within that one job — an accepted
    trade for not holding the cache through the iterative loop."""
    staged = staged_shingle_hashes(df, text_col, id_col).persist()
    pairs = _near_dup_pairs_from_staged(staged, id_col, threshold)
    comps = connected_components(pairs, df.select(id_col), id_col)
    staged.unpersist()
    return comps.select(
        id_col,
        "cluster_id",
        (F.col(id_col) == F.col("cluster_id")).alias("is_canonical"),
    )


def clean_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    min_quality: float = 0.5,
    langs: Sequence[str] = ("en", "de"),
    threshold: float = 0.5,
    keep_cols: Sequence[str] = (),
) -> DataFrame:
    """The composite a training-data pipeline actually runs: quality
    floor -> language allowlist -> exact dedup (min-id survivor) ->
    near-dup cluster resolution keeping canonical docs only. Returns
    (id, lang, *keep_cols) of the retained corpus — ``keep_cols``
    (any subset of the persisted survivor frame's columns, e.g. the
    text) lets a composite caller consume the survivors DIRECTLY
    instead of re-scanning the corpus and semi-joining the returned
    ids back (r17: ``prepare_training_shards`` dropped a whole
    documents scan + exchange this way); the default () output is
    unchanged.

    Stage shapes: scoring/filtering are shuffle-free projections;
    exact dedup is a window-min over md5 digests; near-dup is the
    MinHash+LSH + connected-components path. Each stage strictly
    shrinks the data before the next, more expensive one — the
    ordering IS the optimization.

    The ``exact`` survivors frame is PERSISTED: three consumers
    evaluate it (the shingle-hash staging inside
    :func:`dedup_clusters`, the connected-components node frame, and
    the final canonical join), and each un-cached evaluation re-runs
    the scan + quality projection + md5-window shuffle — at 100 TB
    that is two whole extra corpus passes. MEMORY_AND_DISK spills
    rather than recomputes (the frame carries full text). The cache
    must outlive the returned lazy plan; looping callers release it
    with :func:`~hadoop_data_pipeline_spark.operators.queries.unpersist_deps`
    after materializing.
    """
    from pyspark.sql import Window

    from hadoop_data_pipeline_spark.operators import text as tx
    from hadoop_data_pipeline_spark.operators.queries import (
        _with_cached_deps,
    )

    from hadoop_data_pipeline_spark.operators.queries import (
        scatter_small_scan,
    )

    staged = scatter_small_scan(df).selectExpr(
        id_col, text_col, lang_col,
        f"{dual.tokens(text_col, dual.SPARK)} AS __toks",
    )
    scored = staged.selectExpr(
        id_col, text_col, lang_col,
        f"{tx.quality_score_expr(text_col, '__toks', dual.SPARK)} AS __q",
    )
    filtered = scored.where(
        (F.col("__q") >= min_quality) & F.col(lang_col).isin(*langs)
    )
    w = Window.partitionBy("__key")
    exact = (
        filtered.withColumn("__key", F.md5(F.col(text_col)))
        .withColumn("__keep", F.min(id_col).over(w))
        .where(F.col(id_col) == F.col("__keep"))
        .select(id_col, text_col, lang_col)
        .persist()
    )
    clusters = dedup_clusters(exact, text_col, id_col, threshold)
    out = (
        exact.join(
            clusters.where(F.col("is_canonical")).select(id_col), id_col
        )
        .select(id_col, lang_col, *keep_cols)
    )
    return _with_cached_deps(out, exact)


def dedup_within_doc(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """WITHIN-document repetition removal (C4/Gopher-style cleanup):
    drop repeated units inside each document, keeping first
    occurrences in order. Unit = whitespace token here; the same shape
    applies to lines/sentences/paragraphs by swapping the split regex.

    Pure per-row projection — zero shuffle at any corpus size; the
    ordered-distinct is the mirrored index-lambda form so the DuckDB
    oracle is bit-identical (see ``dual.ordered_distinct``). Returns
    (id, n_units, n_unique_units, dedup_ratio, text_dedup).
    """
    from hadoop_data_pipeline_spark.operators.queries import (
        scatter_small_scan,
    )

    staged = scatter_small_scan(df).selectExpr(
        id_col, f"{dual.tokens(text_col, dual.SPARK)} AS __toks"
    )
    uniq = staged.selectExpr(
        id_col,
        "__toks",
        f"{dual.ordered_distinct('__toks', dual.SPARK)} AS __uniq",
    )
    return uniq.selectExpr(
        id_col,
        "size(__toks) AS n_units",
        "size(__uniq) AS n_unique_units",
        "round(cast(size(__uniq) as double)"
        " / cast(nullif(size(__toks), 0) as double), 6) AS dedup_ratio",
        "concat_ws(' ', __uniq) AS text_dedup",
    )


def simhash_dup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Documents sharing an identical SimHash (near-dup clusters)."""
    sig = simhash_signatures(df, text_col, id_col)
    return (
        sig.groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("min_doc_id"))
        .where(F.col("n_docs") > 1)
    )


def incremental_near_dup(
    new_df: DataFrame,
    index_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.2,
) -> DataFrame:
    """Incremental NEAR-dup dedup: LSH-probe a new ingestion batch
    against an already-indexed corpus, never re-pairing the corpus
    with itself. A new document survives iff it has no verified
    near-duplicate (Jaccard >= threshold) in the index AND none among
    LOWER-id documents of its own batch (first-occurrence-survives,
    the same convention as the exact `curation.incremental_dedup`).
    Ids must be disjoint across the two inputs. Returns surviving
    (id,) rows.

    Scale shape: candidate generation joins the NEW batch's band keys
    against the index's band keys; the only self-join is new x new —
    nothing anywhere is quadratic in the index. This in-plan variant
    derives the index bands from the index frame (for oracle
    checkability) and verifies against the full staged union — ONE
    lazy plan, no caches, no eager jobs; Catalyst's ReuseExchange
    dedupes the shared band shuffle, and side `a` reads the new batch
    only (id_new is always a new-batch id). Measured at sf0.1 this
    single-plan form beats both a persist-based and a
    checkpoint-fragmented version (~3.0 s vs 5.6-9.7 s) because the
    whole probe fuses into one job. The PRODUCTION daily-ingest form —
    stored band-key parquet, candidate-proportional verification — is
    :func:`incremental_near_dup_against_index` / :func:`write_band_index`.
    """
    staged_new = staged_shingle_hashes(new_df, text_col, id_col)
    staged_idx = staged_shingle_hashes(index_df, text_col, id_col)
    bands_idx = _banded(_minhash_sig(staged_idx, id_col), id_col)
    cand = _probe_candidates(staged_new, bands_idx, id_col)
    # Verify against the full staged union: at batch scale the verify
    # join shuffles only the ~k-int hash arrays, and keeping the plan
    # single-pass beats semi-joining the corpus down to candidates
    # (which must evaluate the band joins twice). The against-index
    # variant makes the opposite trade — see its docstring.
    a = staged_new.selectExpr(
        f"{id_col} AS id_new", "__sh AS sh_a",
        "size(array_distinct(__sh)) AS n_a",
    )
    b = staged_new.unionByName(staged_idx).selectExpr(
        f"{id_col} AS id_other", "__sh AS sh_b",
        "size(array_distinct(__sh)) AS n_b",
    )
    dropped = _verify_dropped(cand, a, b, id_col, threshold)
    return new_df.select(id_col).join(dropped, id_col, "left_anti")


def _minhash_sig(staged: DataFrame, id_col: str) -> DataFrame:
    return staged.selectExpr(
        id_col,
        *[
            f"{dual.minhash_from_hashes('__sh', k, dual.SPARK)} AS mh{k}"
            for k in range(len(dual.MINHASH_AB))
        ],
    )


def _probe_candidates(
    staged_new: DataFrame, bands_idx: DataFrame, id_col: str
) -> DataFrame:
    """Candidate (id_new, id_other) pairs for an incremental probe:
    a new-batch document pairs with every index document in its band
    bucket, and with LOWER-id new-batch documents (first-occurrence
    convention). One keyed exchange: the new and index band frames
    union with a side tag, group per (band_id, band_key), and each
    bucket expands its new x (index ∪ lower-id new) pairs in a
    codegen'd projection — the same single-shuffle shape as
    :func:`_pairs_from_banded`, generalized to two sides. The earlier
    form ran two bucket joins (new x idx, new x new) plus the union
    distinct; nothing here is quadratic in the index either way (an
    idx-idx pair is never emitted)."""
    bands_new = _banded(_minhash_sig(staged_new, id_col), id_col)
    tagged = bands_new.withColumn("__new", F.lit(True)).unionByName(
        bands_idx.withColumn("__new", F.lit(False))
    )
    buckets = (
        tagged.groupBy("band_id", "band_key")
        .agg(
            F.collect_list(
                F.struct(F.col(id_col).alias("id"), F.col("__new").alias("nw"))
            ).alias("ds")
        )
        .where(F.size("ds") >= 2)
    )
    pair = (
        "flatten(transform(filter(ds, x -> x.nw), x -> "
        "transform(filter(ds, y -> (NOT y.nw) OR y.id < x.id), "
        "y -> struct(x.id AS id_new, y.id AS id_other))))"
    )
    return (
        buckets.select(F.explode(F.expr(pair)).alias("p"))
        .select("p.*")
        .distinct()
    )


def _verify_dropped(
    cand: DataFrame,
    a: DataFrame,
    b: DataFrame,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs: size-ratio
    prefilter (provably lossless), one array_intersect per surviving
    pair, distinct dropped new-batch ids."""
    return (
        cand.join(a, "id_new")
        .join(b, "id_other")
        .where(_size_ratio_prefilter(threshold))
        .withColumn("__i", F.expr("size(array_intersect(sh_a, sh_b))"))
        .where(F.expr(f"{JACCARD_FROM_SIZES} >= {threshold}"))
        .select(F.col("id_new").alias(id_col))
        .distinct()
    )


def write_band_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "overwrite",
) -> None:
    """Persist the LSH band-key index of a corpus (or of one ingested
    batch, with ``mode="append"``) as parquet ``(doc_id, band_id,
    band_key)`` — the production half of the incremental near-dup
    story: each run writes the band keys of the documents it ADMITTED,
    and the next run probes the stored index instead of re-shingling
    the corpus (reference analogue: the pending-file ledger in
    `jobs/finance_itsc_pipeline.py:32-56` — persist the small derived
    state, never re-derive it from the raw data).

    Layout: partitioned by ``band_id`` (N_BANDS directories) so a
    probe that band-joins per band prunes to 1/N of the index files;
    within a partition the rows are just (doc_id, band_key) —
    16 bytes + a 32-char digest per row, ~N_BANDS rows per document,
    a ~1e-4 fraction of a 100 TB corpus. For repeated daily probes at
    the top scale, bucketing the stored index BY band_key (see
    `sources/bucketing.py`) removes the index-side shuffle from every
    future probe.
    """
    bands = _banded(
        _minhash_sig(staged_shingle_hashes(df, text_col, id_col), id_col),
        id_col,
    )
    bands.write.mode(mode).partitionBy("band_id").parquet(path)


def read_band_index(spark, path: str, id_col: str = "doc_id") -> DataFrame:
    """Load a persisted band index, restoring the column shape
    ``(doc_id, band_id, band_key)`` that the probe join expects
    (partitionBy moves band_id to the directory level; select it back
    into position and cast — partition columns read back as the
    discovered type)."""
    return spark.read.parquet(path).select(
        id_col,
        F.col("band_id").cast("int").alias("band_id"),
        "band_key",
    )


def write_band_index_bucketed(
    df: DataFrame,
    table: str,
    n_buckets: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist the band index as a catalog table BUCKETED by
    ``band_key`` — the top-scale layout `write_band_index`'s docstring
    promises: the probe join then reads the index with NO index-side
    exchange (bucket i joins bucket i directly), so each daily probe
    shuffles only the NEW batch's band keys, never the
    corpus-sized index. Bucket count fixes probe parallelism; sort
    within buckets makes the sort-merge side sort-free."""
    from hadoop_data_pipeline_spark.sources.bucketing import write_bucketed

    bands = _banded(
        _minhash_sig(staged_shingle_hashes(df, text_col, id_col), id_col),
        id_col,
    )
    write_bucketed(
        bands, table, ["band_key"], n_buckets,
        sort_cols=["band_key"], path=path, mode=mode,
    )


def probe_candidates_bucketed(
    spark, staged_new: DataFrame, index_table: str, id_col: str = "doc_id"
) -> DataFrame:
    """Candidate (id_new, id_other) pairs against a BUCKETED index
    table. Here the JOIN form is deliberately kept for the cross side
    (grouping the union per bucket — the `_probe_candidates` shape —
    would re-exchange the stored index and throw the bucketing away):
    the bucketed scan carries hashpartitioning(band_key), so the
    sort-merge join exchanges ONLY the new batch's band keys. The
    join key is ``band_key`` alone (the bucket column); ``band_id``
    equality is a post-join filter — same candidate set, since a
    cross-band key collision also implies identical minhash band
    values. The within-batch half still uses the single-shuffle
    grouped expansion (the new batch has no stored layout)."""
    bands_new = _banded(_minhash_sig(staged_new, id_col), id_col)
    idx = spark.table(index_table)
    cross = (
        bands_new.withColumnRenamed(id_col, "id_new")
        .withColumnRenamed("band_id", "__bid_new")
        .join(idx.withColumnRenamed(id_col, "id_other"), "band_key")
        # band_id equality in ARITHMETIC form, deliberately: a plain
        # == gets pushed into the join as a second equi-key, and the
        # planner then disables the bucketed scan because the join
        # keys no longer equal the bucket column ("Bucketed: false
        # (disabled by query planner)" — observed). The non-equi form
        # stays a post-join condition, keeping band_key the sole join
        # key and the index side exchange-free.
        .where(F.expr("__bid_new - band_id = 0"))
        .select("id_new", "id_other")
    )
    within = (
        _pairs_from_banded(bands_new, id_col)
        .withColumnRenamed("id_a", "id_other")
        .withColumnRenamed("id_b", "id_new")
    )
    return cross.unionByName(within).distinct()


def incremental_near_dup_against_index(
    new_df: DataFrame,
    index_df: DataFrame,
    band_index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.2,
) -> DataFrame:
    """:func:`incremental_near_dup` probing a STORED band index (the
    frame :func:`read_band_index` returns) instead of deriving the
    index side's band keys in-plan. Identical survivor semantics —
    pinned by a round-trip test — with the trades flipped for the
    100 TB daily-ingest shape:

    * the index side of the band join is a parquet SCAN of the stored
      (doc_id, band_id, band_key) frame — the corpus text is never
      re-shingled for candidate generation;
    * verification shingles ONLY candidate documents: the corpus is
      semi-joined down to candidate ids before its text is touched
      (AQE broadcasts the small candidate-id side, so the corpus scan
      never shuffles its text). The candidate subtree is consequently
      referenced twice in the plan — cheap here, because its inputs
      are the tiny band-index scan and the new batch, not a
      corpus-wide shingle pipeline (which is why the in-plan variant
      makes the opposite trade; see :func:`incremental_near_dup`).
    """
    staged_new = staged_shingle_hashes(new_df, text_col, id_col)
    cand = _probe_candidates(staged_new, band_index, id_col)
    return _survivors_from_candidates(
        new_df, index_df, staged_new, cand, text_col, id_col, threshold
    )


def _survivors_from_candidates(
    new_df: DataFrame,
    index_df: DataFrame,
    staged_new: DataFrame,
    cand: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """Candidate-proportional verification shared by the probe
    variants: re-shingle only candidate partners, verify exact
    Jaccard, anti-join dropped ids off the new batch."""
    a = staged_new.selectExpr(
        f"{id_col} AS id_new", "__sh AS sh_a",
        "size(array_distinct(__sh)) AS n_a",
    )
    other_ids = cand.select(F.col("id_other").alias(id_col)).distinct()
    b_src = (
        new_df.select(id_col, text_col)
        .unionByName(index_df.select(id_col, text_col))
        .join(other_ids, id_col, "left_semi")
    )
    b = staged_shingle_hashes(b_src, text_col, id_col).selectExpr(
        f"{id_col} AS id_other", "__sh AS sh_b",
        "size(array_distinct(__sh)) AS n_b",
    )
    dropped = _verify_dropped(cand, a, b, id_col, threshold)
    return new_df.select(id_col).join(dropped, id_col, "left_anti")


def incremental_near_dup_against_bucketed_index(
    spark,
    new_df: DataFrame,
    index_df: DataFrame,
    index_table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.2,
) -> DataFrame:
    """:func:`incremental_near_dup_against_index` probing the
    BUCKETED index table (:func:`write_band_index_bucketed`) — the
    top-scale daily-ingest shape: the index side of the candidate
    join reads its bucketed layout with no exchange, so per probe the
    only corpus-sized work is a bucket-local scan; identical survivor
    semantics (pinned by the bucketed roundtrip test)."""
    # Persist the new batch's staged hashes: the plan references them
    # three times (cross-join bands, within-batch bands, verify side
    # `a`) — the same multi-reference shape near_dup_pairs_minhash
    # caches; without it the tokenize/shingle/hash pipeline runs
    # three times per probe. Default storage level; lifetime is the
    # session's (clearCache between daily runs).
    staged_new = staged_shingle_hashes(new_df, text_col, id_col).persist()
    cand = probe_candidates_bucketed(spark, staged_new, index_table, id_col)
    return _survivors_from_candidates(
        new_df, index_df, staged_new, cand, text_col, id_col, threshold
    )


def cross_doc_substring_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
) -> DataFrame:
    """EXACT cross-document substring duplication (the
    train-data-dedup shape of Lee et al., "Deduplicating Training Data
    Makes Language Models Better": find verbatim token spans shared
    across documents). Per document: how many of its distinct
    ``window``-token spans also appear verbatim in at least one OTHER
    document, and the duplicated fraction. ``window`` defaults to 8
    for the fixture corpus; production exact-substring dedup uses
    40-50 tokens.

    Returns (id, n_windows, n_shared_windows, dup_fraction).

    Scale shape: spans never leave the row as text — each document's
    distinct spans become 16-byte BINARY md5 digests in one
    projection (the exact_dedup discipline, narrowed further:
    unhex(md5) shuffles 16 bytes, not a 32-char hex string and never
    50-token spans). The explode emits (id, digest); the duplicated-digest
    set comes from one partial-agg'd count per digest (>= 2 docs,
    since per-doc spans are distinct); membership joins back on the
    digest key. Two keyed exchanges total (digest, then id), both
    integer/digest-width. No suffix array is materialized — the
    fixed-window digest join IS the scalable form of the suffix-array
    intersection for a fixed minimum match length.
    """
    staged = df.selectExpr(
        id_col, f"{dual.tokens(text_col, dual.SPARK)} AS __toks"
    ).selectExpr(
        id_col,
        f"{dual.shingles_from_tokens('__toks', dual.SPARK, n=window)}"
        " AS __w",
    )
    # Persist the digest arrays: three consumers (posts feeds both the
    # shared-set and per-doc sides, totals is a third) — the same
    # project-collapse barrier remove_shared_substrings documents;
    # without it the tokenize->shingle->md5 chain re-evaluates per
    # consumer.
    digests = staged.selectExpr(
        id_col,
        f"{dual.transform('__w', 's -> unhex(md5(s))', dual.SPARK)} AS __d",
    ).persist()
    posts = digests.selectExpr(id_col, "explode(__d) AS digest")
    shared = (
        posts.groupBy("digest")
        .agg(F.count(F.lit(1)).alias("__n_docs"))
        .where(F.col("__n_docs") >= 2)
        .select("digest")
    )
    per_doc = (
        posts.join(shared, "digest")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_windows"))
    )
    totals = digests.selectExpr(id_col, "size(__d) AS n_windows")
    return (
        totals.join(per_doc, id_col, "left")
        .select(
            id_col,
            "n_windows",
            F.coalesce("n_shared_windows", F.lit(0)).alias(
                "n_shared_windows"
            ),
            F.round(
                F.coalesce("n_shared_windows", F.lit(0))
                / F.expr("cast(nullif(n_windows, 0) as double)"),
                6,
            ).alias("dup_fraction"),
        )
    )


def remove_shared_substrings(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
) -> DataFrame:
    """EXACT substring SCRUB — the removal half of Lee et al.'s
    exact-substring dedup: every token covered by a ``window``-token
    span that appears verbatim in >= 2 DISTINCT documents is dropped
    from all of them, and the surviving tokens are reassembled. (The
    fraction-level signal lives in :func:`cross_doc_substring_stats` /
    the `dup_ngram_fraction` catalog query; this operator performs the
    edit.) Returns (id, n_tokens, n_removed, text_clean).

    Scale shape: windows travel as 16-byte binary md5 digests with
    their start POSITION — (id, pos, digest) rows, never text. The shared-digest
    set is one partial-agg'd distinct-doc count; covered starts come
    back per document as a small int array (bounded by tokens/1), and
    the coverage test + token filter + reassembly are one zero-shuffle
    projection over the staged token array. Three keyed exchanges
    (digest, digest, id) of digest/int-width rows — the fixed-window
    digest join standing in for the suffix-array intersection at a
    fixed minimum match length.

    The staged (tokens, windows) frame is persisted BEFORE the
    explode — the same barrier `dup_ngram_fraction` documents:
    project-collapse otherwise inlines the tokenize->window->md5 chain
    into the Generate, where it leaves whole-stage codegen and
    re-evaluates per consumer (measured 15-17 s fused vs ~2 s with
    the barrier at sf0.1). Tokens + window structs are a few KB per
    document; the default storage level spills to disk if a 100 TB
    corpus outgrows executor memory.
    """
    size = "size(__toks)"
    win = (
        f"CASE WHEN {size} < {window} THEN "
        f"cast(array() as array<struct<pos:int,digest:binary>>) ELSE "
        f"transform(sequence(1, {size} - {window - 1}), i -> "
        f"struct(cast(i as int) AS pos, "
        f"unhex(md5(concat_ws(' ', slice(__toks, i, {window})))) AS digest)) END"
    )
    staged = (
        df.selectExpr(
            id_col, f"{dual.tokens(text_col, dual.SPARK)} AS __toks"
        )
        .selectExpr(id_col, "__toks", f"{win} AS __wd")
        .persist()
    )
    posts = staged.selectExpr(id_col, "inline(__wd)")
    shared = (
        posts.groupBy("digest")
        .agg(F.countDistinct(id_col).alias("__nd"))
        .where(F.col("__nd") >= 2)
        .select("digest")
    )
    covered = (
        posts.join(shared, "digest")
        .groupBy(id_col)
        .agg(F.collect_list("pos").alias("__starts"))
    )
    joined = staged.join(covered, id_col, "left").selectExpr(
        id_col,
        "__toks",
        "coalesce(__starts, cast(array() as array<int>)) AS __starts",
    )
    # Covered-position SET, not a per-token scan over __starts: the
    # old filter-in-filter form was O(n_tokens x n_starts) per row —
    # a fully-duplicated 100k-token document (every start shared) made
    # that 10^10 lambda evaluations in ONE row (r6 verdict hazard).
    # Each shared start covers exactly `window` positions, so the
    # expansion is bounded at window*k ints; array_except hashes the
    # covered set and walks sequence(1, n) once, preserving order —
    # O(window*k + n) per row, fully codegen'd, no quadratic blowup.
    # Starts never exceed n - window + 1 (windows are generated only
    # that far), so s + window - 1 <= n and no clamp is needed.
    covered_pos = (
        f"flatten(transform(__starts, s -> sequence(s, s + {window - 1})))"
    )
    # sequence(1, 0) would produce a DESCENDING [1, 0] — guard n = 0.
    keep = (
        f"CASE WHEN {size} = 0 THEN __toks ELSE "
        f"transform(array_except(sequence(1, {size}), {covered_pos}), "
        f"p -> element_at(__toks, p)) END"
    )
    return joined.selectExpr(
        id_col,
        f"{size} AS n_tokens",
        f"{size} - size({keep}) AS n_removed",
        f"concat_ws(' ', {keep}) AS text_clean",
    )
