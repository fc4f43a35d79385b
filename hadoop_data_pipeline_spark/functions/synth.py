"""Deterministic synthetic embedding fixtures for ANN diagnostics.

The shipped test corpus's embeddings are random-structure (no planted
neighborhoods), which makes absolute ANN recall numbers nearly
meaningless there: on isotropic random vectors every candidate is
almost equidistant, so an LSH recall of 0.02 is indistinguishable
from a broken bucketing. Real embedding corpora are CLUSTERED — near
neighbors exist and quantizers have structure to learn. This module
generates that shape deterministically so the recall ladder
(`tools/ann_recall.py`) and the recall-floor tests can measure
retrieval quality against a fixture where high recall is achievable
and a regression is therefore VISIBLE.

Mixture of Gaussians on the unit sphere: ``n_clusters`` unit-norm
centers, each point = its cluster's center + isotropic noise. With
``sigma=0.12`` at dim 64, within-cluster cosine sits around
``1/sqrt(1 + sigma^2 * dim)`` ~ 0.72 while cross-cluster cosine
centers on the (near-orthogonal) center dot products — tight enough
that the cluster IS the neighborhood, loose enough that
within-cluster distance differences exceed PQ quantization error
(an ultra-tight sigma makes every rung but IVF look broken because
ranking inside a near-degenerate cluster needs more resolution than
8x16 codes carry) — the separation
every real retrieval corpus has and the random fixture lacks.

Schema matches the test corpus's ``embeddings`` table
(vec_id BIGINT, embedding ARRAY<FLOAT>, label INT — label = the true
cluster, handy as a blocking/filter column).
"""

from __future__ import annotations


def clustered_embedding_rows(
    n: int = 2000,
    dim: int = 64,
    n_clusters: int = 16,
    sigma: float = 0.12,
    seed: int = 7,
) -> list[tuple[int, list[float], int]]:
    """``[(vec_id, embedding, label)]`` rows of the clustered fixture.
    Pure numpy with a fixed-seed RandomState — byte-stable across
    runs, platforms and numpy versions new enough for this repo."""
    import numpy as np

    rng = np.random.RandomState(seed)
    centers = rng.randn(n_clusters, dim)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    assign = rng.randint(0, n_clusters, size=n)
    pts = (centers[assign] + sigma * rng.randn(n, dim)).astype("float32")
    return [
        (i, [float(x) for x in pts[i]], int(assign[i])) for i in range(n)
    ]


def clustered_embeddings_df(
    spark,
    n: int = 2000,
    dim: int = 64,
    n_clusters: int = 16,
    sigma: float = 0.12,
    seed: int = 7,
):
    """The fixture as a DataFrame with the test corpus's embeddings
    schema."""
    from hadoop_data_pipeline_spark.session import local_frame

    return local_frame(
        spark,
        clustered_embedding_rows(
            n=n, dim=dim, n_clusters=n_clusters, sigma=sigma, seed=seed
        ),
        "vec_id bigint, embedding array<float>, label int",
    )


# ---------------------------------------------------------------------------
# Native documents corpus with a CONTROLLED duplicate rate
# ---------------------------------------------------------------------------

#: Common-word head (the test fixtures' word pool) — shared across
#: documents like stopwords in a real corpus.
_DOC_COMMON = (
    "batch part spark line column order small sort fast value scan a "
    "hash slow group agg filter query big key window row table stream "
    "merge data vector customer join the"
).split()

_DOC_LANGS = ["en", "de", "es", "fr", "zh"]

#: Content-vocabulary size: large enough that two UNRELATED documents
#: share almost no content tokens. A tiny vocabulary (the fixtures'
#: 30 words) makes every random document a bag of the SAME words —
#: SimHash fingerprints collapse and shingle doc-frequencies all go
#: hot, so unplanted "near-dups" appear quadratically. 10k content
#: words keep accidental similarity at the noise floor, leaving the
#: PLANTED duplicates as the only near-dup signal.
_DOC_CONTENT_VOCAB = 10_000


def synthetic_document_rows(
    n: int = 5000,
    exact_dup_rate: float = 0.05,
    near_dup_rate: float = 0.05,
    seed: int = 11,
) -> list[tuple[int, str, str, str, int]]:
    """``[(doc_id, text, lang, source, n_chars)]`` — a NATIVELY
    generated documents corpus with a controlled duplicate profile,
    for dedup-family scaling measurements.

    Why this exists (r11 verdict missing #3): every large-scale dedup
    datapoint before r12 ran on COPY-BUILT corpora (tools/stress.py
    multiplies the fixture verbatim), where cross-copy identical
    texts inflate candidate-pair counts super-linearly BY
    CONSTRUCTION — the measured scaling curve reflects the corpus's
    inflation, not the plan's behavior. Here the duplicate rate is an
    INVARIANT of scale: ``exact_dup_rate`` of documents are verbatim
    copies of an earlier base document and ``near_dup_rate`` are
    2-token perturbations of one (each base is duplicated at most
    once per kind, so duplicate-cluster size is bounded at 3), which
    makes the true pair count O(n) at every n — a pair-generator
    whose work grows super-linearly on THIS corpus is a plan bug,
    not a fixture artifact.

    Texts are ~30% common-head words + ~70% draws from a 10k content
    vocabulary (see ``_DOC_CONTENT_VOCAB``), and a duplicate INHERITS
    its base document's lang (a copied document does not change
    language; independent langs would hide planted pairs from the
    lang-blocked pair generators).

    Deterministic (fixed-seed RandomState), pure numpy + join, fast
    enough for 10x sf0.1 (50k docs) in-process."""
    import numpy as np

    rng = np.random.RandomState(seed)
    common = np.array(_DOC_COMMON)
    n_exact = int(n * exact_dup_rate)
    n_near = int(n * near_dup_rate)
    n_base = n - n_exact - n_near
    lengths = rng.randint(15, 60, size=n_base)
    base_texts = []
    for ln in lengths:
        is_common = rng.rand(ln) < 0.3
        toks = np.where(
            is_common,
            common[rng.randint(0, len(common), size=ln)],
            np.char.add(
                "w",
                rng.randint(0, _DOC_CONTENT_VOCAB, size=ln).astype("U5"),
            ),
        )
        base_texts.append(" ".join(toks))
    base_langs = rng.choice(_DOC_LANGS, size=n_base)
    texts = list(base_texts)
    langs = list(base_langs)
    # exact duplicates: verbatim copies of distinct base docs
    for src in rng.choice(n_base, size=n_exact, replace=False):
        texts.append(base_texts[src])
        langs.append(base_langs[src])
    # near duplicates: distinct bases with 2 tokens rewritten
    for src in rng.choice(n_base, size=n_near, replace=False):
        toks = base_texts[src].split()
        for pos in rng.choice(len(toks), size=min(2, len(toks)), replace=False):
            toks[pos] = f"w{rng.randint(0, _DOC_CONTENT_VOCAB)}"
        texts.append(" ".join(toks))
        langs.append(base_langs[src])
    srcs = rng.randint(0, 20, size=len(texts))
    return [
        (i, t, str(langs[i]), f"src{srcs[i]}", len(t))
        for i, t in enumerate(texts)
    ]


def synthetic_documents_df(
    spark,
    n: int = 5000,
    exact_dup_rate: float = 0.05,
    near_dup_rate: float = 0.05,
    seed: int = 11,
):
    """The native-dedup corpus as a DataFrame with the test corpus's
    documents schema."""
    from hadoop_data_pipeline_spark.session import local_frame

    return local_frame(
        spark,
        synthetic_document_rows(
            n=n,
            exact_dup_rate=exact_dup_rate,
            near_dup_rate=near_dup_rate,
            seed=seed,
        ),
        "doc_id bigint, text string, lang string, source string,"
        " n_chars int",
    )
