"""Embedding-clustering and tokenizer-training registry entries
(distributed k-means, product quantization, BPE).

The PQ ANN rows (`sim_ann_pq`, `sim_ann_opq`) are ORACLED via the
exact-equivalence configuration: the whole quantization pipeline runs,
and a full-slice exact rerank in the original metric makes the top-k
equal brute-force L2 — SQL-verifiable regardless of quantizer quality
(bounded-candidate recall is gated separately in tests/test_pq.py /
test_pca.py). The iterative fits (k-means, PCA projection, BPE, the
trained classifier) stay rows-only: their fixed points depend on float
summation order, so a DuckDB recursive-CTE twin would pin brittle
last-ulp behavior instead of the algorithm — the quantitative gates
live in tests/test_clustering.py et al.: an independent numpy
implementation must reproduce assignments and centroids, and inertia
must improve monotonically — a stronger check than a value-hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from odbc2deltalake_spark.functions.overlap import overlap
from odbc2deltalake_spark.operators.clustering import (
    fit_kmeans_centroids,
    kmeans_summary,
)
from odbc2deltalake_spark.queries.registry import load_table, register

_K = 8
_ITERS = 3


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return emb.select("vec_id", dbl.alias("v"))


@register("emb_kmeans", None, tags=("clustering", "similarity"), priority=100)
def emb_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means cluster summary over the embeddings table: (cid,
    n_members, avg_cos) after 3 deterministic Lloyd's iterations with
    k=8 lowest-id seeds. See operators/clustering.py for the scale
    shape (zero-shuffle assignment, one N*D shuffle per update)."""
    vectors = _corpus(spark, sf_dir)
    cent = fit_kmeans_centroids(vectors, _K, _ITERS)
    return kmeans_summary(vectors, cent)


# ------------------------------------------------------------- PCA ----

_PCA_DIM = 64
_PCA_K = 4


@register("emb_pca_project", None, tags=("clustering", "similarity"),
          priority=100)
def emb_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-4 principal components of the embeddings corpus, projected
    per vector: (vec_id, label, pc1..pc4, 6dp). Rows-only for the
    driver (an eigendecomposition is not SQL-expressible); the fit is
    gated against a full-data numpy reference, orthonormality, and the
    variance-equals-eigenvalue invariant in tests/test_pca.py. Scale
    shape in operators/pca.py: ONE mapInPandas pass of D(D+1)-double
    partials (collect is partitions x D^2 — control-plane at any N),
    driver-side D x D eigh, then a zero-shuffle JVM projection map."""
    from odbc2deltalake_spark.operators.pca import fit_pca, project_pca

    emb = load_table(spark, sf_dir, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    vectors = emb.select("vec_id", "label", dbl.alias("v"))
    mean, comps, _ = fit_pca(vectors, "v", _PCA_DIM, _PCA_K)
    out = project_pca(vectors, "v", mean, comps)
    return out.select(
        "vec_id",
        "label",
        *[F.round(F.col(f"pc{i + 1}"), 6).alias(f"pc{i + 1}")
          for i in range(_PCA_K)],
    )


# ------------------------------------------------- product quantization ----

_PQ_DIM = 64
_PQ_M = 8
_PQ_K = 16
_PQ_ITERS = 2
_PQ_QUERY_VEC = 0
_PQ_TOPK = 10


def _pq_meta(vectors: DataFrame) -> DataFrame:
    """Corpus size and the query vector as one one-row aggregate."""
    return vectors.agg(
        F.count(F.lit(1)).alias("n"),
        F.first(
            F.when(F.col("vec_id") == _PQ_QUERY_VEC, F.col("v")), True
        ).alias("qv"),
    )


# Exact-equivalence oracle shared by sim_ann_pq and sim_ann_opq: with a
# full-slice exact rerank in the original metric the quantizer cannot
# change the answer, so the top-10 equals brute-force squared L2 —
# DuckDB recomputes it bit-for-bit from the same parquet floats.
_EXACT_L2_ORACLE = f"""
WITH q AS (
  SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {0}
)
SELECT e.vec_id,
       round(list_sum([ (x[1] - x[2]) ^ 2
                        for x in list_zip(e.embedding::DOUBLE[], q.qv) ]),
             6) AS exact_dist
FROM embeddings e, q
WHERE e.vec_id <> 0
ORDER BY exact_dist, e.vec_id
LIMIT {10}
"""


@register("sim_ann_pq", _EXACT_L2_ORACLE, tags=("clustering", "similarity"))
# r13: promoted to the driver window (eleventh-wave rotation)
def sim_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-compressed ANN == brute-force squared L2 (exact-mode oracle,
    the sim_ann_opq recipe — r12, VERDICT r11 #3).

    The whole PQ pipeline executes — fit 8 codebooks of 16 centroids
    (2 Lloyd's rounds), encode the corpus to 8 code ids per vector,
    ADC-rank via 8 broadcast-LUT lookups per row (the corpus scan never
    touches a float vector) — and the exact rerank covers the FULL
    candidate slice against the original vectors, so the final top-10
    must equal brute-force squared L2 regardless of quantizer quality:
    what an independent SQL engine can verify. Recall at the REAL
    64-candidate budget is gated separately in tests/test_pq.py."""
    from odbc2deltalake_spark.operators.pq import (
        adc_topk,
        encode_pq,
        fit_pq_codebooks,
    )

    vectors = _corpus(spark, sf_dir)
    # r14: corpus size and the query vector in ONE control-plane job
    # (was a count() job + a first() job — guide §2.4, fewer passes);
    # wave 11: that job is data-independent of the codebook fit, so the
    # two overlap (guide §2.6) instead of serializing.
    def _fit():
        books = fit_pq_codebooks(vectors, _PQ_DIM, _PQ_M, _PQ_K, _PQ_ITERS)
        codes = encode_pq(vectors, _PQ_DIM, _PQ_M, books).localCheckpoint(
            eager=False
        )
        return books, codes

    meta, (books, codes) = overlap(_pq_meta(vectors).first, _fit)
    q, n = meta["qv"], meta["n"]
    return adc_topk(
        q,
        codes.filter(F.col("vec_id") != _PQ_QUERY_VEC),
        books,
        _PQ_DIM,
        _PQ_M,
        _PQ_TOPK,
        rerank_vectors=vectors.filter(F.col("vec_id") != _PQ_QUERY_VEC),
        candidates=int(n),  # full slice -> exact top-k, SQL-verifiable
    )


# Exact-equivalence configuration (the sim_ann_ivfpq_search recipe):
# the rotation, codebook fit, encode, and ADC ranking all execute, and
# the rerank covers the FULL candidate slice against the ORIGINAL
# vectors — so the final top-10 must equal brute-force squared L2
# regardless of quantizer quality, which is what an independent SQL
# engine can verify. (Recall at a REAL candidate budget is gated
# separately in tests/test_pca.py.)
_OPQ_ORACLE = _EXACT_L2_ORACLE


@register("sim_ann_opq", _OPQ_ORACLE, tags=("clustering", "similarity"),
          priority=100)
def sim_ann_opq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ-style ANN == brute-force squared L2 (exact-mode oracle).

    PCA-rotate (eigenvalue-balanced round-robin across the 8 subspaces —
    parametric OPQ init, operators/pca.opq_rotation) then the standard
    PQ pipeline over the ROTATED corpus; the ADC prefilter runs in
    rotated space and the full-slice exact rerank runs in the ORIGINAL
    space (orthonormal rotation preserves L2, and original-space floats
    are what DuckDB recomputes bit-for-bit). Quantization-error win and
    the bounded-candidate recall floor are gated in tests/test_pca.py."""
    import numpy as np

    from odbc2deltalake_spark.operators.pca import (
        opq_rotation,
        rotate_vectors,
    )
    from odbc2deltalake_spark.operators.pq import (
        adc_topk,
        encode_pq,
        fit_pq_codebooks,
    )

    vectors = _corpus(spark, sf_dir)
    # r14: corpus size + query vector in one control-plane job (see
    # sim_ann_pq); wave 11: the job is data-independent of the
    # rotation fit and the codebook fit, so the two overlap (guide
    # §2.6) — q is only consumed after the fit anyway.
    def _fit():
        r = opq_rotation(vectors, "v", _PQ_DIM, _PQ_M)
        rot = rotate_vectors(vectors, "v", r).localCheckpoint(eager=False)
        books = fit_pq_codebooks(rot, _PQ_DIM, _PQ_M, _PQ_K, _PQ_ITERS)
        codes = encode_pq(rot, _PQ_DIM, _PQ_M, books).localCheckpoint(
            eager=False
        )
        return r, books, codes

    meta, (r, books, codes) = overlap(_pq_meta(vectors).first, _fit)
    q, n = meta["qv"], meta["n"]
    q_rot = [float(x) for x in (np.asarray(r) @ np.asarray(q))]
    return adc_topk(
        q_rot,
        codes.filter(F.col("vec_id") != _PQ_QUERY_VEC),
        books,
        _PQ_DIM,
        _PQ_M,
        _PQ_TOPK,
        rerank_vectors=vectors.filter(F.col("vec_id") != _PQ_QUERY_VEC),
        candidates=int(n),  # full slice -> exact top-k, SQL-verifiable
        rerank_query=[float(x) for x in q],  # original space, like the rows
    )


# --------------------------------------------------------- BPE trainer ----

_BPE_MERGES = 10


@register("text_bpe_vocab", None, tags=("text", "tokenizer"), priority=100)
def text_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 10 BPE merges learned from the documents corpus: (rank,
    left, right, freq). Iterative and tie-broken lexicographically, so
    rows-only for the driver; the exact merge table is pinned against a
    pure-Python BPE reference in tests/test_bpe.py. See
    operators/bpe.py for the word-frequency-table scale design; uses
    the batched trainer (r8) — identical merges, count-collect rounds
    amortized over provably order-equivalent batches."""
    from odbc2deltalake_spark.operators.bpe import fit_bpe_merges_batched

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    merges = fit_bpe_merges_batched(docs, _BPE_MERGES)
    rows = [
        (i + 1, a, b, freq) for i, (a, b, freq) in enumerate(merges)
    ]
    return spark.createDataFrame(
        rows, "rank INT, left STRING, right STRING, freq BIGINT"
    )


# ------------------------------------------------------ semantic dedup ----


@register("sim_semantic_dedup", None, tags=("clustering", "dedup"),
          priority=100)
def sim_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table extended with planted clones
    (vec_id+10000 duplicates of vec_id < 20, so pruning provably has
    work to do): cluster with k-means, then per-cluster greedy
    lowest-id-first pruning of members with cosine >= 0.97 inside an
    Arrow-batched applyInPandas kernel. Iterative + kernel-based, so
    rows-only for the driver; pinned against a numpy recomputation in
    tests/test_clustering.py."""
    from odbc2deltalake_spark.operators.clustering import semantic_dedup

    vectors = _corpus(spark, sf_dir)
    clones = vectors.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "v"
    )
    ext = vectors.unionByName(clones)
    return semantic_dedup(ext, _K, threshold=0.97, iterations=2)


# ------------------------------------------- trained quality classifier ----

_CLF_BUCKETS = 64
# adagrad reaches 30-GD-pass accuracy in half the passes (measured sweep
# in operators/classifier.py:fit_logreg — 0.984 either way at sf0.1)
_CLF_STEPS = 15
_CLF_LR = 1.0
_CLF_OPT = "adagrad"
_CLF_MIN_CHARS = 400


@register("text_quality_classifier", None, tags=("text", "classifier"),
          priority=100)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fasttext-style linear classifier trained IN the engine: logistic
    regression over crc32 hashing-trick bag-of-words features, fit by
    full-batch adagrad (operators/classifier.py), distilling the
    corpus's length-quality gate (n_chars >= 400, ~the P70 of the
    fixture corpus — the balanced variant of text_quality_score's
    C4-style heuristic) into a learned model: the heuristic labels the
    training set, the classifier learns to reproduce it from hashed
    bag-of-words + dense length/alpha features — the CCNet bootstrap.
    Rows-only entry (iterative — not SQL-expressible); the fit is pinned
    against an independent numpy reference in tests/test_classifier.py.

    Per step: margins are a zero-shuffle map (weights enter the plan as
    a D+1 array literal), the gradient is one explode + groupBy(bucket)
    whose map-side combine collapses each partition to <= D+1 rows. The
    driver holds only the weight vector."""
    from odbc2deltalake_spark.operators.classifier import (
        featurize,
        fit_logreg,
        predict,
    )

    docs = load_table(spark, sf_dir, "documents")
    labeled = docs.select(
        "doc_id",
        "text",
        (F.length("text") >= _CLF_MIN_CHARS).cast("int").alias("label"),
    )
    # localCheckpoint (the repo's iterative-query pattern, cf. emb_kmeans/
    # dedup_cluster): materializes the feature table once and cuts
    # lineage, so the _CLF_STEPS training passes and the returned
    # prediction plan all read the checkpointed blocks, never re-tokenize
    features = featurize(labeled, _CLF_BUCKETS).localCheckpoint(eager=True)
    weights = fit_logreg(
        features, _CLF_BUCKETS, steps=_CLF_STEPS, lr=_CLF_LR,
        optimizer=_CLF_OPT,
    )
    # no trailing orderBy: the oracle comparator is order-insensitive
    # and the scored output is one row per document — a global sort
    # here would be a corpus-sized range shuffle nothing needs (r9
    # VERDICT finding #1)
    return predict(features, weights).select(
        "doc_id",
        F.col("label").cast("long").alias("label"),
        F.round("prob", 4).alias("prob"),
        F.col("pred").cast("long").alias("pred"),
        (F.col("pred") == F.col("label")).cast("long").alias("correct"),
    )


# ------------------------------------------ classifier deploy scoring ----
#
# VERDICT r13 #6: text_quality_classifier's TRAINING is legitimately
# rows-only (iterative, float-order-dependent fixed point), but its
# DEPLOY half — score an arbitrary corpus with a frozen weight vector —
# is a stateless JVM map (margin_expr/score_documents), and that IS
# SQL-oracle-able. This row freezes a weight vector trained once by the
# independent pure-Python reference (operators/classifier.py:
# reference_fit on the sf0.01 corpus with the registry row's exact
# hyperparameters: 64 buckets, 15 adagrad steps, lr 1.0, label =
# length(text) >= 400; train accuracy 0.984) and scores the documents
# table through the engine's production scoring expression. The oracle
# recomputes the ENTIRE pipeline independently in DuckDB — including
# CRC-32 itself, implemented from the polynomial as a 256-entry
# table fold over each word's UTF-8 bytes (DuckDB has no crc32
# builtin), the same hashed-bag-of-words bucketing, the dense
# length/alpha features, the logistic link, and the 0.5 threshold —
# so a drift anywhere in tokenize -> hash -> bucket -> dot ->
# sigmoid -> gate mismatches the hash.
#
# Scale shape: pure map over the corpus — weights enter the plan as a
# 67-element array literal, every feature is computed inside
# whole-stage codegen (one fold over the word array per row), zero
# shuffle, zero Python. The deploy gate runs at scan speed on 100 TB
# and plans identically on batch and streaming frames.

# frozen reference_fit output (see note above) — deploy-time constant
_CLF_W = [
    0.0, 0.0, 0.0, -0.47867588458777854, -0.18652249054899722,
    -0.982542152113101, -0.48411060601061984, 0.0, 0.0,
    -0.5709762333543258, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0,
    -0.4102601127920869, -0.42416934109154825, 0.0, 0.0,
    -0.23925849365955174, -0.5288591405057252, -0.6152253092260638,
    0.0, -0.46382290889881866, 0.0613037336724552,
    -0.12027772057835036, -1.1217920493242488, 0.0, 0.0,
    -1.580871446117681, -0.663163577280745, -0.5691987268484765, 0.0,
    0.0, 0.03966075090077777, 0.0, 0.0, -1.1369165168321724, 0.0,
    0.08261068617062015, 0.0, 0.13473762526207061,
    -0.6850376533898466, 0.0, 0.0, 0.0, 0.0, 0.0,
    0.0035100302122374055, 0.0, -0.3804861260815546, 0.0,
    -0.5239739605261379, 0.0, 0.0, 0.0, 0.0, 0.0,
    -1.1587185632778905, 0.0, 4.133254458135077, -0.4468622817961869,
    -0.44510746116303196,
]


def _crc32_table() -> list[int]:
    """CRC-32 (IEEE 802.3, reflected, poly 0xEDB88320) byte table —
    the classical zlib construction, derived from the polynomial here
    so the oracle is independent of any library."""
    out = []
    for i in range(256):
        c = i
        for _ in range(8):
            c = (c >> 1) ^ (0xEDB88320 if c & 1 else 0)
        out.append(c)
    return out


def _clf_score_oracle() -> str:
    tbl = "[" + ",".join(str(x) for x in _crc32_table()) + "]"
    wl = "[" + ",".join(repr(float(x)) for x in _CLF_W) + "]"
    # crc32(word): left fold of the table step over the word's UTF-8
    # bytes (list_prepend carries the 0xFFFFFFFF seed — DuckDB 1.0's
    # list_reduce has no initial-value arg), final xor with 0xFFFFFFFF.
    crc = f"""xor(list_reduce(
        list_prepend(4294967295::BIGINT,
          [('0x' || substr(hex(encode(word)), 2*i - 1, 2))::BIGINT
           FOR i IN range(1, octet_length(encode(word)) + 1)]),
        (acc, b) -> xor(acc >> 8, ({tbl})[(xor(acc, b) & 255) + 1])
      ), 4294967295::BIGINT)"""
    # hashed margin term: LEFT fold of per-word weights (list_prepend
    # 0.0 seed) — same association order as Spark's F.aggregate, so
    # the two engines agree to the last ulp before rounding
    return f"""
WITH feat AS (
  SELECT doc_id,
         regexp_split_to_array(trim(text), '\\s+') AS ws,
         length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE
           / greatest(length(text), 1) AS alpha_ratio
  FROM documents
), m AS (
  SELECT doc_id,
         list_reduce(
           list_prepend(0.0::DOUBLE,
             [({wl})[({crc} % 64) + 1] FOR word IN ws]),
           (a, b) -> a + b
         ) / len(ws)
         + ({wl})[65] * (ln(1.0 + len(ws)) - 4.0)
         + ({wl})[66] * alpha_ratio
         + ({wl})[67] AS margin
  FROM feat
)
SELECT doc_id,
       round(margin, 6) AS margin,
       round(1.0 / (1.0 + exp(-margin)), 4) AS prob,
       (1.0 / (1.0 + exp(-margin)) >= 0.5)::BIGINT AS pred
FROM m
"""


@register("text_classifier_score", _clf_score_oracle(),
          tags=("text", "classifier"), priority=100)
def text_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frozen-weight classifier deploy gate over the documents table —
    the production scoring path (margin_expr/score_documents: one
    zero-shuffle codegen'd map), oracled end-to-end against a from-the-
    polynomial DuckDB recomputation (see module note above)."""
    from odbc2deltalake_spark.operators.classifier import (
        margin_expr,
        score_documents,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    scored = score_documents(docs, _CLF_W, 64)
    return scored.select(
        "doc_id",
        F.round(margin_expr(_CLF_W, 64), 6).alias("margin"),
        F.round("prob", 4).alias("prob"),
        F.col("pred").cast("long").alias("pred"),
    )


# ----------------------------------------- frozen-basis PCA projection ----
#
# r14 (the text_classifier_score pattern applied to the PCA family):
# emb_pca_project's FIT is legitimately rows-only (an eigendecomposition
# is not SQL-expressible), but the DEPLOY half — project every vector
# onto a FROZEN orthonormal basis — is a zero-shuffle codegen'd map
# (operators/pca.py:project_pca), and that is exactly SQL-oracle-able.
# The basis below is the real top-4 eigenbasis of the sf0.01 corpus
# (numpy eigh over the biased covariance, deterministic sign pin:
# largest-|entry| positive), frozen as literals; the oracle recomputes
# each projection with the IDENTICAL float op order (elementwise
# product list, left fold from 0.0, minus the same dot(mean, c)
# literal), so the hash pins zip_with + aggregate + centering algebra
# against an independent engine. Scale: weights enter the plan as four
# 64-double array literals — the projection runs at scan speed with
# zero shuffle on any corpus.

_PCA_APPLY_MEAN = [
    0.0021647098540561274, -0.004547794351470656, 0.003930154383007902,
    -0.004793201057444094, 0.009943076466443017, 0.007772532952541951,
    -0.01823135569485021, 0.009217355088097975, -0.0024274034147092607,
    -0.0006178791260463186, 0.006436078068451025,
    0.0033540127822197976, -0.0026588912964216433,
    0.0020540317017294003, -0.00021456623025005683,
    0.005910249243548606, 0.0033342206680827074, 0.005826121678226628,
    -0.00046127636556047945, 0.0012317155191558413,
    -0.0038391390424221752, 0.0023021840666187926,
    0.004168265111627988, -0.008054586122045293,
    -0.0018911654613621067, 0.012808142676018179,
    -0.0015970649567898362, 0.01062632681982359,
    -0.0011532765734009445, 0.0003903653704910539,
    0.0056047214816790075, -0.005792685562460974, 0.008335300238788477,
    -0.0066753798398422074, 0.005155627750558779, 0.001177179405814968,
    -0.0053353315424174074, -0.0015937965741213702,
    -0.0009667016767925815, -0.001140981935830496,
    -0.0017442115085141267, -0.01183411476330366,
    0.00031351819908741164, -0.0005631569666620635,
    -0.011520562025547406, 0.003832613509031944, -0.000598060307384003,
    0.005890298187849112, -0.003749661162350094, -0.010264404615503736,
    0.009377152467495762, -0.001481992187706055, 0.007770042697302415,
    -0.003917563282562696, 0.00470978261413984, -0.003577291431953199,
    0.004773866848874604, -0.0024703639050130733,
    -0.004844514904165408, -0.00872118095526821,
    -0.0002811656921039685, 0.005004184705336229,
    -0.0011590625974931754, -0.013266222528531216,
]
_PCA_APPLY_COMPS = [
    [
        -0.20963933002020163, -0.12057271532723646,
        0.03654785815761208, 0.01181956673367568, 0.07567008238652181,
        0.013214628819759558, 0.09058411852537562, 0.2866187923515347,
        0.04954696219839244, 0.41405652648109587, 0.06530498182357561,
        0.1820788538770332, 0.06513224150018793, -0.03653205474591013,
        0.17114897510631688, -0.1853497773155224, 0.08898987448652947,
        -0.15702655458925796, -0.030136686337288686,
        0.0321789695121162, 0.06121320408639294, -0.11068832311424723,
        -0.08347512785867195, -0.055437468648054676,
        0.019550012020346924, 0.19912542853516949,
        -0.03751725245021884, 0.14950769892189059,
        -0.17287963096364795, -0.006123114085459409,
        -0.05871572670346968, 0.06203771797942716, 0.29653854353776904,
        0.10616457882139847, -0.03204193889380884, 0.10414385148185491,
        0.044538759536710756, 0.06146405309394988,
        0.013006698200673121, 0.021771205655913367,
        -0.11667898779822887, 0.005524586419046101,
        -0.24083692028370807, 0.09570759064866022,
        -0.028307708356162933, -0.22512744473516866,
        0.008731835914196136, -0.07903750804624526,
        -0.08368084414987438, -0.11845091153313785,
        0.12045949820882275, 0.07248325157918485,
        -0.017186482157175637, 0.08160437407065278,
        -0.015031355628749316, -0.06676477469561923,
        -0.05565063627860205, -0.05137605781699038,
        0.06019601767570923, -0.0911391434804863, 0.12198699564215854,
        0.05064983387891546, -0.2182114649231543, -0.10201388636254505,
    ],
    [
        -0.0038371272115919077, -0.05443024576702613,
        -0.012567933480759845, -0.08813365797648628,
        0.1748576977504261, 0.025214365797045002, 0.07494656338562342,
        -0.06998070108596338, 0.07744817020896037,
        0.030696056195262257, 0.10575814459049923, -0.017882873012908,
        0.012975656331248479, 0.13369681742755304,
        0.014559198307485168, 0.04139191933934132, 0.1484110007875093,
        0.3603098511261561, -0.05418865141456937,
        -0.050764775917262556, 0.03254316973478699,
        0.03539112685064566, 0.06533467378092396, -0.3091228055052973,
        -0.25768213825837827, -0.23906586362939564,
        -0.020637632793312197, -0.00022331337887674958,
        -0.08628570371767166, -0.17453292227143674,
        -0.0240679272268987, -0.21754493603557165,
        0.029463935144021194, 0.06153867890849659, 0.03375332841845147,
        0.0792196748201447, 0.05946710015971157, 0.03649840257323439,
        0.18210698156722896, 0.046673884808694985,
        8.626507701597202e-06, 0.0469867556409594,
        -0.06276704622858952, -0.17918979594373338,
        0.17268649020937077, -0.1888352229469683, -0.04694587131589519,
        0.14577948211480204, 0.11292397757725806, -0.11328063222737855,
        -0.15743104350111561, -0.08197501074018389,
        0.012979946743258124, -0.016092353749802314,
        0.23803515091895197, 0.023384317388539355,
        -0.30282027552250795, 0.01638284010820768, 0.13543364301205743,
        -0.12158606610327048, -0.08367049603064577,
        0.08483882908899502, -0.00044318486473711276,
        -0.07861586992416257,
    ],
    [
        -0.14804403755601075, -0.08512440644804595,
        -0.06394747372242232, -0.00045759701416905885,
        -0.20437466508880067, -0.04374173501666962,
        0.11775529925597344, -0.2844978534972128, 0.04440239633087602,
        0.02371733799578299, -0.051179527614310306,
        0.035702033535258845, -0.06017956430904921,
        -0.0345506072014531, 0.009449519103828942,
        -0.23454575614197223, 0.171373527102441, -0.08492758806239534,
        0.11604706769064442, 0.07732840317313219, 0.013131626731480772,
        0.175307550900221, -0.10064801517013916, 0.053374704234944365,
        0.09255730930450974, 0.1000839500217567, 0.09063736311928049,
        -0.13414209861498147, 0.010277697050367657,
        -0.10540482797763863, -0.1228596684339342, 0.09091210819168699,
        0.04825216628489994, -0.18066130225251592,
        -0.02976989042538495, -0.10216258213208258,
        0.13907849924247392, -0.2125524417546431, -0.06345652309131394,
        -0.10392899603893598, 0.18947963434480763, 0.19011010111192747,
        -0.125855558070264, -0.2089327787438256, 0.16586568222613335,
        0.05283627633707147, 0.04279757474764935, 0.01802001539784715,
        -0.06832009323144878, -0.051275512977937796,
        -0.12949844497534727, -0.1064545005613741, 0.22780031589942198,
        -0.15329476793534783, -0.1791520941574068,
        -0.0019200152180250118, -0.005381095587603493,
        0.1097246009981515, 0.18279524157419863, -0.05268508458798239,
        -0.06955779386901592, 0.28843060582385827,
        -0.09008107781606604, -0.07553050141369709,
    ],
    [
        0.06808659692680352, 0.06269221088043908, 0.008780757117714436,
        0.17252698585081086, -0.2579610506305218, 0.10712924747584592,
        -0.02320920976768323, 0.17754309288336953,
        -0.11522019045334347, 0.13620195798666968,
        0.007640884150526432, 0.20195047574509808,
        -0.06077544466797557, -0.14021935394059204,
        -0.09311367890542117, 0.049308065752209446,
        0.09682486295851223, 0.07142426949944385,
        -0.009319477553330678, -0.20316848780447333,
        -0.22547295140274265, 0.15765898138963383,
        -0.011856441212721907, 0.07323162375884257,
        0.027470748399644904, -0.1190830826772109, 0.11645429213298576,
        -0.0038352518581274177, 0.12892448335584836,
        -0.1045231273232294, 0.15211656493727282, 0.20057539618764436,
        -0.08141318128029107, -0.01767746908516616,
        -0.1165029504483289, 0.3161901219698455, -0.11671862239947658,
        -0.14843441728736906, -0.010252064348211912,
        -0.048288865420290934, -0.014507537293041425,
        -0.00017919674515212008, -0.08565322476918127,
        -0.017434761707989365, -0.07573379923511875,
        -0.04152082543952096, -0.013620431372914223, 0.369404474834825,
        -0.10851089306173131, -0.1534460994206761, 0.0664723391092176,
        -0.019778009359072788, 0.009329623098558629,
        0.005401021761514751, -0.021917540538553465,
        0.10147291470472687, -0.17091025495876352, 0.09292951416465792,
        -0.17072042743327795, -0.07391767730726351,
        -0.19206043423473812, -0.09621918574006412,
        -0.08404634246068683, 0.026296885848707756,
    ],
]


def _pca_apply_oracle() -> str:
    import numpy as _np

    parts = []
    for i, comp in enumerate(_PCA_APPLY_COMPS):
        clit = "[" + ", ".join(repr(float(c)) for c in comp) + "]"
        const = repr(float(_np.dot(_PCA_APPLY_MEAN, comp)))
        parts.append(
            f"round(list_reduce(list_prepend(0.0::DOUBLE, "
            f"[x[1] * x[2] FOR x IN list_zip(embedding::DOUBLE[], {clit})]), "
            f"(a, b) -> a + b) - {const}, 6) AS pc{i + 1}"
        )
    cols = ",\n       ".join(parts)
    return f"SELECT vec_id, label,\n       {cols}\nFROM embeddings"


@register("emb_pca_apply", _pca_apply_oracle(),
          tags=("clustering", "similarity"), priority=100)
def emb_pca_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frozen-basis PCA projection over the embeddings table — the
    deploy half of emb_pca_project, oracled end-to-end (see the module
    note above; the FIT stays rows-only and numpy-gated in
    tests/test_pca.py)."""
    import numpy as np

    from odbc2deltalake_spark.operators.pca import project_pca

    emb = load_table(spark, sf_dir, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    vectors = emb.select("vec_id", "label", dbl.alias("v"))
    out = project_pca(
        vectors, "v", np.asarray(_PCA_APPLY_MEAN),
        np.asarray(_PCA_APPLY_COMPS),
    )
    return out.select(
        "vec_id",
        "label",
        *[F.round(F.col(f"pc{i + 1}"), 6).alias(f"pc{i + 1}")
          for i in range(4)],
    )
