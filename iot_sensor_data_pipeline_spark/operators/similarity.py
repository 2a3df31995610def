"""Similarity search over embedding columns (array<float>).

Two tiers:
- ``cosine_topk`` — exact brute force: every corpus partition scores
  its rows against the driver-collected query matrix where it is
  read. The baseline, and the verifier for the approximate paths.
  O(|Q| x |C|): fine when the query side is small; never the 100 TB
  path.
- ``rp_lsh_topk`` / ``ivf_topk`` — random-hyperplane LSH and IVF:
  candidates come from bucket or centroid collisions, and only they
  are scored exactly. The scale path: the corpus-side work collapses
  from |C| to the colliding buckets, and the join is a plain shuffle
  on the bucket key. Multi-probe (flip one bit, probe more centroids)
  trades compute for recall.

Every pair score here comes from ONE numpy kernel, :func:`cosine_tile`.
It scores an (n, d) block against an (m, d) block in a fixed operation
order: a left-to-right dot product, norms that are square roots of
left-to-right sums of squares, and ``dot / (na * nb)``. That is the
order of the oracles' sequential ``list_dot_product``, so the raw
doubles are the same wherever a pair is scored. Pairs are always scored
as tiles (a corpus batch against the query matrix, a hash block
against a hash block, the rows of one join key against each other),
never as single joined rows: the Python boundary is crossed once per
tile, not once per pair. Thresholds compare the raw score; output
scores are rounded by Spark's ``F.round`` (HALF_UP on the decimal
value — ``np.round`` rounds half-even on the binary value).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: scores per kernel call. A tile's left block is scored in row chunks
#: against its whole right block, so a chunk's accumulator (512 KiB of
#: doubles) stays in cache through the d-step loop, and a tile's memory
#: is bounded however large its blocks grow. (500 x 2000 dim-64 pairs
#: on one core of a 4-core x86 host: 6.3M pairs/s at 2^16 cells,
#: 4.7M/s at 2^22.)
_TILE_CELLS = 1 << 16


def as_double_array(col) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def row_norms(X: np.ndarray) -> np.ndarray:
    """L2 norm of each row of an (n, d) float64 matrix: the square root
    of a LEFT-TO-RIGHT sum of squares. ``np.cumsum`` is sequential;
    ``np.sum``, ``np.linalg.norm`` and BLAS sum pairwise or blocked,
    which drifts in the last ulp from the oracles' sequential
    ``list_dot_product``."""
    if X.shape[1] == 0:
        return np.zeros(len(X))
    return np.sqrt(np.cumsum(X * X, axis=1)[:, -1])


def _l2_kernel(v):  # pd.Series -> pd.Series; hints omitted — inference
    # rejects the stringized hints `from __future__ import
    # annotations` produces, so the Series contract lives here.
    # The L2 norm of each vector of an Arrow batch, for pandas_udf. A
    # fixed-dim batch (the embedding-table case) is one row_norms call;
    # a ragged one sums each segment with np.add.reduceat, whose simple
    # per-segment loop is sequential too (fresh per segment).
    if len(v) == 0:
        return pd.Series(np.zeros(0))
    lens = v.map(len).to_numpy(dtype="int64")
    if lens.min() == lens.max():
        return pd.Series(row_norms(_matrix(v)))
    sq = np.square(np.concatenate([np.asarray(x, dtype="float64") for x in v]))
    # zero-length segments: pad sq with one trailing 0.0 so every raw
    # offset (max = sum(lens)) is in range — clamping instead would
    # fold a trailing empty segment's boundary into the previous
    # segment and truncate its sum. reduceat returns sq[offset] for
    # equal successive offsets — masked by the where.
    offsets = np.concatenate(([0], np.cumsum(lens)[:-1]))
    sums = np.add.reduceat(np.append(sq, 0.0), offsets)
    return pd.Series(np.sqrt(np.where(lens > 0, sums, 0.0)))


def cosine_tile(A: np.ndarray, B: np.ndarray, a_ids, b_ids) -> np.ndarray:
    """The engine's one pair-scoring kernel: the raw cosine of every row
    of the (n, d) float64 block ``A`` against every row of the (m, d)
    block ``B``, as an (n, m) matrix.

    The dot product accumulates left to right over d, each norm is
    :func:`row_norms`, and the score is ``dot / (na * nb)``, so a pair's
    score is bit-identical in every tile shape. A zero-norm row raises,
    naming its id (``a_ids``/``b_ids`` label the rows): its cosine is
    undefined, and a NaN would sort above every score in a descending
    rank."""
    na, nb = row_norms(A), row_norms(B)
    for ids, norms in ((a_ids, na), (b_ids, nb)):
        zero = np.flatnonzero(norms == 0)
        if zero.size:
            raise ValueError(f"cosine: zero-norm vector, id {ids[zero[0]]}")
    Bt = np.ascontiguousarray(B.T)
    acc = np.zeros((len(A), len(B)))
    prod = np.empty_like(acc)
    for t in range(A.shape[1]):
        acc += np.multiply(A[:, t, None], Bt[t], out=prod)
    return acc / (na[:, None] * nb[None, :])


def _matrix(vectors: pd.Series) -> np.ndarray:
    """An Arrow batch's array column as an (n, d) float64 matrix (float
    elements widen exactly)."""
    return np.stack(vectors.to_numpy()).astype(np.float64, copy=False)


def _score_tile(a_ids, A, b_ids, B, keep):
    """Score block ``A`` against block ``B`` in row chunks of at most
    ``_TILE_CELLS`` scores and keep the cells ``keep(S, a, b)`` marks
    (``a`` is a column and ``b`` a row of ids, broadcast against the
    scores ``S``). Returns the kept (a id, b id, raw score) arrays."""
    step = max(1, _TILE_CELLS // max(len(b_ids), 1))
    parts = [(a_ids[:0], b_ids[:0], np.zeros(0))]
    for s in range(0, len(a_ids), step):
        a = a_ids[s : s + step]
        S = cosine_tile(A[s : s + step], B, a, b_ids)
        r, c = np.nonzero(keep(S, a[:, None], b_ids[None, :]))
        parts.append((a[r], b_ids[c], S[r, c]))
    return [np.concatenate(x) for x in zip(*parts)]


def _pairs_at_least(threshold: float):
    """Keep rule for pair sets: raw score >= ``threshold``, each
    unordered pair once. A pair whose right id is also a left row of
    the tile (a self tile) is kept only as i < j; any other pair as
    it is."""

    def rule(a_ids, b_ids):
        foreign = ~np.isin(b_ids, a_ids)
        return lambda S, a, b: (S >= threshold) & ((a < b) | foreign)

    return rule


def _not_self(a_ids, b_ids):
    """Keep rule for probe tiles: every pair but a vector with itself."""
    return lambda S, a, b: a != b


def _topk_cut(k: int, round_score: int):
    """Keep rule for top-k: self-pairs go, and each left row keeps every
    candidate within two rounding steps of its k-th best raw score. Two
    raws more than one step apart never round to one value, so no
    dropped candidate can tie into the rank window's top k (the second
    step covers the binary/decimal edges of the rounding bins)."""
    margin = 2 * 10.0**-round_score

    def keep(S, a, b):
        cand = a != b
        m = S.shape[1]
        if m <= k:
            return cand
        kth = np.partition(np.where(cand, S, -np.inf), m - k, axis=1)[:, m - k]
        return cand & (S >= kth[:, None] - margin)

    return keep


def _keyed_pairs(
    left: DataFrame,
    right: DataFrame,
    key,
    a: tuple[str, str],
    b: tuple[str, str],
    rule,
) -> DataFrame:
    """Score every (left, right) row pair that shares ``key`` (a column
    name or list of names): one kernel tile per key value, through
    ``cogroup().applyInPandas``. ``a`` and ``b`` name each side's (id,
    vector) columns; ``rule(a_ids, b_ids)`` builds a tile's keep rule.
    Returns (a id, b id, raw ``score``), ids in their own types. Both
    sides shuffle on the key unless already partitioned by it: a
    bucketed index table is read without an exchange."""
    keys = [key] if isinstance(key, str) else list(key)
    (ia, va), (ib, vb) = a, b
    schema = T.StructType(
        [
            T.StructField(ia, left.schema[ia].dataType),
            T.StructField(ib, right.schema[ib].dataType),
            T.StructField("score", T.DoubleType()),
        ]
    )

    def tile(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if lpdf.empty or rpdf.empty:
            return pd.DataFrame({ia: [], ib: [], "score": []})
        a_ids, b_ids = lpdf[ia].to_numpy(), rpdf[ib].to_numpy()
        got = _score_tile(
            a_ids, _matrix(lpdf[va]), b_ids, _matrix(rpdf[vb]), rule(a_ids, b_ids)
        )
        return pd.DataFrame(dict(zip((ia, ib, "score"), got)))

    # fresh key aliases per side: a self tile (the same relation on
    # both sides) would otherwise group on ambiguous attributes
    tag = [F.col(k).alias(f"__k{n}") for n, k in enumerate(keys)]
    grouped = [f"__k{n}" for n in range(len(keys))]
    return (
        left.select(*tag, ia, va)
        .groupBy(*grouped)
        .cogroup(right.select(*tag, ib, vb).groupBy(*grouped))
        .applyInPandas(tile, schema)
    )


def _rank(pairs: DataFrame, k: int, round_score: int) -> DataFrame:
    """(qid, nid, raw score) -> each query's top k by rounded score,
    ties broken by nid: (qid, nid, score, rn)."""
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("nid"))
    return (
        pairs.withColumn("score", F.round("score", round_score))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    round_score: int = 6,
) -> DataFrame:
    """Exact top-k neighbors per query by cosine. Output:
    (qid, nid, score, rn), self-matches excluded, ties broken by nid.

    The ranking orders by the ROUNDED score so results are stable
    across engines and runs; rn is a row_number (exactly k rows/query).

    The query set collects to the driver ONCE (|Q| x dim: queries must
    be driver-small, the only regime brute force is for) and ships in
    the task closure. Each corpus Arrow batch is scored against the
    whole query matrix by :func:`cosine_tile` where it is read, so the
    corpus never shuffles. A tie-safe local cut keeps about k rows per
    query per batch, and a global rank window merges them: the
    per-partition top-k plus merge of "Incremental Based Framework for
    Efficient Top-K Similarity Search in Interactive Data Analysis
    Sessions" (EDBT 2020).
    """
    rows = queries.select(query_id, vec_col).collect()
    qids = np.array([r[0] for r in rows])
    qm = np.array([list(r[1]) for r in rows], dtype=np.float64)
    keep = _topk_cut(k, round_score)
    schema = T.StructType(
        [
            T.StructField("qid", queries.schema[query_id].dataType),
            T.StructField("nid", corpus.schema[corpus_id].dataType),
            T.StructField("score", T.DoubleType()),
        ]
    )

    def batches(it):
        for pdf in it:
            if len(pdf) and len(qids):
                got = _score_tile(
                    qids, qm, pdf["nid"].to_numpy(), _matrix(pdf["cv"]), keep
                )
                yield pd.DataFrame(dict(zip(("qid", "nid", "score"), got)))

    partial = corpus.select(
        F.col(corpus_id).alias("nid"), F.col(vec_col).alias("cv")
    ).mapInPandas(batches, schema)
    return _rank(partial, k, round_score)


def _n_blocks(spark) -> int:
    """Hash blocks per side for the exact all-pairs self-join: the
    B(B+1)/2 tiles of the upper block triangle outnumber the session's
    cores about twice over."""
    return math.ceil(math.sqrt(4 * spark.sparkContext.defaultParallelism))


def cosine_near_dup_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | None = None,
    n_tables: int = 6,
    round_score: int = 6,
    dim: int | None = None,
    max_bucket_freq: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (i < j, cosine >=
    threshold). The threshold compares the raw cosine; ``score`` is
    rounded to ``round_score`` places.

    ``n_planes=None`` -> exact all-pairs (quadratic; oracle/verification
    path): rows hash into B blocks, and each tile of the upper block
    triangle — block bi against block bj >= bi — is one kernel call,
    so every unordered pair is scored exactly once and nothing
    shuffles but B+1 copies of each vector. With ``n_planes`` set,
    candidates come from RP-LSH collisions across ``n_tables``
    INDEPENDENT hash tables (the classic L-tables amplification:
    per-pair miss probability (1-p)^L) plus 1-bit multi-probe per
    table; each (table, bucket) is one tile, and a pair colliding in
    several is kept once. For threshold-similarity pairs (theta around
    60-66 deg at t=0.4) a single table recalls ~30%; 6 tables push past
    ~85%.

    ``dim`` (the vector dimensionality) is required with ``n_planes``:
    hyperplanes are generated driver-side from it, keeping the operator
    free of hidden driver actions (no ``.first()`` probe — an empty or
    lazily-defined input never blocks plan construction).

    ``max_bucket_freq`` is the bucket-skew guard (the RP-LSH analogue
    of MinHash's ``max_shingle_freq`` / SimHash's ``max_chunk_freq``):
    a (table, bucket) holding more than that many vectors — a dense
    cluster or a duplicated embedding — is dropped from candidate
    generation in EVERY table it floods, bounding the tile.
    RECALL CONSEQUENCE: pairs colliding ONLY in dropped buckets are
    lost; a pair also colliding in any surviving table is unaffected
    (and a cluster dense enough to flood all tables is better handled
    by exact dedup first). The bucket space is n_tables x 2^n_planes,
    so the frequency relation stays broadcast-small at any corpus
    size. Scoring is not the scale hazard here — the kernel scores
    about 6M dim-64 pairs per second per core, 20x the interpreted
    fold it replaced — bucket blowup is.
    """
    e = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    if n_planes is None:
        n = _n_blocks(df.sparkSession)
        block = F.pmod(F.xxhash64("id"), F.lit(n)).cast("int")
        grid = F.explode(F.array(*[F.lit(b) for b in range(n)]))
        left = e.select(
            F.col("id").alias("i"), F.col("v").alias("va"),
            block.alias("bi"), grid.alias("bj"),
        )
        right = e.select(
            F.col("id").alias("j"), F.col("v").alias("vb"),
            grid.alias("bi"), block.alias("bj"),
        )
        upper = F.col("bi") <= F.col("bj")
        tiles = _keyed_pairs(
            left.where(upper), right.where(upper), ["bi", "bj"],
            ("i", "va"), ("j", "vb"), _pairs_at_least(threshold),
        )
        # an off-diagonal tile keeps every pair in its own (bi, bj)
        # order; the kernel is symmetric, so only the ids need ordering
        pairs = tiles.select(
            F.least("i", "j").alias("i"), F.greatest("i", "j").alias("j"), "score"
        )
    else:
        if dim is None:
            raise ValueError(
                "cosine_near_dup_pairs: pass dim (vector dimensionality) "
                "when n_planes is set — the LSH hyperplanes are generated "
                "from it without probing the data"
            )
        table_planes = [
            _hyperplanes(dim, n_planes, seed=42 + 1000 * t) for t in range(n_tables)
        ]
        # one combined key per (table, bucket): t * 2^n_planes + bucket
        buckets = [
            (_bucket_expr(F.col("v"), planes) + F.lit(t * (2**n_planes))).alias(f"b{t}")
            for t, planes in enumerate(table_planes)
        ]
        bucketed = e.select("id", "v", *buckets)
        probe_cols = []
        for t in range(n_tables):
            probe_cols.append(F.col(f"b{t}"))
            probe_cols.extend(
                F.col(f"b{t}").bitwiseXOR(F.lit(2**p)) for p in range(n_planes)
            )
        # a vector's own buckets are among its probes, so every right
        # row of a tile is also a left row: the keep rule reduces to
        # i < j, and Hamming-1 collisions are symmetric, so each
        # candidate pair is scored in some tile as (min id, max id)
        left = bucketed.select(
            F.col("id").alias("i"), F.col("v").alias("va"),
            F.explode(F.array(*probe_cols)).alias("probe"),
        )
        right = bucketed.select(
            F.col("id").alias("j"), F.col("v").alias("vb"),
            F.explode(F.array(*[F.col(f"b{t}") for t in range(n_tables)])).alias("probe"),
        )
        if max_bucket_freq is not None:
            # bucket occupancy counted on the TRUE buckets (right
            # side); both sides semi-join the surviving bucket list,
            # which is bounded by the n_tables * 2^n_planes key space
            # (broadcast-small regardless of corpus size)
            freq = right.groupBy("probe").agg(F.count(F.lit(1)).alias("__f"))
            ok = freq.where(F.col("__f") <= max_bucket_freq).select("probe")
            left = left.join(F.broadcast(ok), "probe", "left_semi")
            right = right.join(F.broadcast(ok), "probe", "left_semi")
        pairs = _keyed_pairs(
            left, right, "probe", ("i", "va"), ("j", "vb"),
            _pairs_at_least(threshold),
        ).distinct()
    return pairs.withColumn("score", F.round("score", round_score))


def _nearest_centroids_udf(centroids, n: int):
    """Arrow-vectorized centroid assignment: the (n_centroids x dim)
    matrix ships ONCE per task inside the closure (no per-row
    literals, no shuffle), and each Arrow batch is one numpy GEMM:
    d = |x|^2 - 2 x.C^T + |c|^2. Stable argsort ties break by centroid
    id — the module's documented (distance, cid) contract."""
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype="float64")  # (m, dim)
    csq = np.einsum("ij,ij->i", C, C)

    def _assign(v):  # pd.Series[array<double>] -> pd.Series[array<int>]
        if len(v) == 0:
            return pd.Series(np.empty(0, dtype=object))
        X = np.stack(v.to_numpy())  # fixed-dim vectors (the IVF contract)
        d = np.einsum("ij,ij->i", X, X)[:, None] - 2.0 * (X @ C.T) + csq[None, :]
        idx = np.argsort(d, axis=1, kind="stable")[:, :n].astype("int32")
        return pd.Series(list(idx))

    return pandas_udf(_assign, "array<int>")


def _centroid_assigners(centroids: list[list[float]], n_probe: int):
    """(assign_one, assign_probe) Column builders for a trained
    quantizer: nearest-centroid id / n_probe nearest ids, both the
    Arrow GEMM kernel — the centroids ship to executors in the task
    closure, never through a shuffle. Shared by build and probe so a
    persisted index and a fresh query plan can never use different
    assignment semantics.

    Until r15 quantizers at or below 32 centroids used an all-literal
    JVM expression (16 structs of zip_with/aggregate folds) on the
    theory that codegen beats the Python boundary. Measured the other
    way around (r15, sf0.1, 50k x dim-64, 16 centroids): the
    higher-order folds are INTERPRETED, not codegen'd, and the literal
    assignment scan took 2.55 s vs 0.34 s for the GEMM kernel — 7.6x.
    The numeric results agree on every SF fixture (0 mismatching
    assignments across sf0.001/0.01/0.1 at 8 and 16 centroids, probe
    widths 3 and 4; exact FP ties would break by cid under both
    formulations)."""
    one_udf = _nearest_centroids_udf(centroids, 1)
    probe_udf = _nearest_centroids_udf(centroids, n_probe)
    return (lambda vec: one_udf(vec)[0], probe_udf)


def ivf_build(
    corpus: DataFrame,
    n_centroids: int = 16,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    train_sample_rows: int = 200_000,
    max_iter: int = 20,
) -> tuple[DataFrame, list[list[float]]]:
    """Build the IVF index ONCE: train the k-means coarse quantizer
    (Spark ML, on a capped sample so fitting cost stays constant as
    the corpus grows) and assign every corpus vector to its nearest
    centroid. Returns ``(assignments, centroids)``:

    - ``assignments`` — (cid int, nid, cv array<double>): the posting
      lists. PERSIST THIS bucketed by cid
      (``.write.bucketBy(n, "cid").sortBy("cid").saveAsTable(...)``) —
      probes then join posting lists with ZERO exchange on the index
      side, so probe cost never reshuffles the corpus (the same layout
      argument as the near-dup band index; plan-pinned in
      tests/test_similarity.py).
    - ``centroids`` — n_centroids x dim python floats, driver-small:
      persist as JSON next to the table and pass to :func:`ivf_probe`.

    At 100 TB this build is one corpus scan + one bucketed write;
    :func:`ivf_topk` (build + probe fused) re-does it per call and is
    only for ad-hoc queries.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    c = corpus.select(
        F.col(corpus_id).alias("nid"), as_double_array(F.col(vec_col)).alias("cv")
    )
    # quantizer training needs only a sample — cap it so fitting cost
    # stays constant as the corpus grows (standard IVF practice).
    # Hash-ordered top-N (TakeOrderedAndProject) rather than a bare
    # limit(): limit takes the FIRST partitions only, which on data
    # clustered by date/tenant trains the quantizer on a biased slice
    train = (
        c.select("cv")
        .orderBy(F.xxhash64(F.col("cv")))
        .limit(train_sample_rows)
        .select(array_to_vector("cv").alias("features"))
    )
    model = KMeans(
        k=n_centroids, seed=seed, featuresCol="features", maxIter=max_iter
    ).fit(train)
    centroids = [list(map(float, ctr)) for ctr in model.clusterCenters()]
    assign_one, _ = _centroid_assigners(centroids, 1)
    assignments = c.select(
        assign_one(F.col("cv")).cast("int").alias("cid"), "nid", "cv"
    )
    return assignments, centroids


def ivf_assign(
    vectors: DataFrame,
    centroids: list[list[float]],
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign NEW vectors to an existing quantizer — the incremental
    path for a growing corpus: append the returned (cid, nid, cv) rows
    to the persisted posting table (same bucketed spec) without
    retraining or touching indexed vectors. Retrain (a fresh
    :func:`ivf_build`) only when the data distribution drifts enough
    that posting-list sizes skew — standard IVF operating practice."""
    assign_one, _ = _centroid_assigners(centroids, 1)
    return vectors.select(
        F.col(corpus_id).alias("nid"), as_double_array(F.col(vec_col)).alias("cv")
    ).select(assign_one(F.col("cv")).cast("int").alias("cid"), "nid", "cv")


def ivf_probe(
    queries: DataFrame,
    assignments: DataFrame,
    centroids: list[list[float]],
    k: int,
    n_probe: int = 3,
    query_id: str = "vec_id",
    vec_col: str = "embedding",
    round_score: int = 6,
) -> DataFrame:
    """Probe a built IVF index: assign each query to its ``n_probe``
    nearest centroids, score each probed posting list against its
    queries as one kernel tile, rank. ``assignments``/``centroids``
    come from :func:`ivf_build` (the assignments side may be a bucketed
    table — the cogroup key cid is cast int on both sides, so bucketed
    scans match without cross-side coercion)."""
    _, assign_probe = _centroid_assigners(centroids, n_probe)
    q = (
        queries.select(
            F.col(query_id).alias("qid"), as_double_array(F.col(vec_col)).alias("qv")
        )
        .select("qid", "qv", F.explode(assign_probe(F.col("qv"))).alias("cid"))
        .withColumn("cid", F.col("cid").cast("int"))
    )
    pairs = _keyed_pairs(
        q, assignments, "cid", ("qid", "qv"), ("nid", "cv"), _not_self
    ).distinct()
    return _rank(pairs, k, round_score)


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    n_centroids: int = 16,
    n_probe: int = 3,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    round_score: int = 6,
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) ANN: k-means coarse quantizer -> per-centroid
    posting lists -> probe the ``n_probe`` nearest centroids per query
    -> exact cosine re-rank of those lists. Fused
    :func:`ivf_build` + :func:`ivf_probe` for ad-hoc use — a pipeline
    that probes repeatedly should build once, persist the assignments
    bucketed by cid, and call ivf_probe.

    Corpus scan cost per query drops from |C| to
    ~ n_probe/n_centroids * |C|. The right default for clustered
    embedding spaces; for isotropic data prefer rp_lsh_topk.
    """
    assignments, centroids = ivf_build(
        corpus, n_centroids=n_centroids, corpus_id=corpus_id,
        vec_col=vec_col, seed=seed,
    )
    return ivf_probe(
        queries, assignments, centroids, k, n_probe=n_probe,
        query_id=query_id, vec_col=vec_col, round_score=round_score,
    )


def _bucket_expr(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit bucket id for a vector given hyperplanes (shared by the
    LSH operators)."""
    bits = [
        F.when(
            F.aggregate(
                F.zip_with(vec, F.array(*[F.lit(w) for w in plane]), lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            > 0,
            F.lit(1).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        * (2**i)
        for i, plane in enumerate(planes)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-gaussian hyperplanes (Box-Muller over an
    LCG) — no numpy dependency, reproducible across runs/engines."""
    state = seed
    out: list[list[float]] = []

    def rng() -> float:
        nonlocal state
        state = (state * 6_364_136_223_846_793_005 + 1_442_695_040_888_963_407) % (2**63)
        return (state >> 11) / float(1 << 52)  # uniform [0,1)

    for _ in range(n_planes):
        plane = []
        for _ in range(dim):
            u1 = max(rng(), 1e-12)
            u2 = rng()
            plane.append(math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.pi * u2))
        out.append(plane)
    return out


def recommended_n_planes(corpus_size: int, target_bucket_size: int = 64) -> int:
    """The docstring sizing rule as code: n_planes ~ log2(corpus /
    target_bucket_size), floored at 1. Too many planes splinters true
    neighbors across buckets (recall collapses); too few degenerates
    to brute force — mis-sizing by even a few planes moves bucket
    occupancy by that power of two, which is the usual cause of
    "LSH was slow" (measured in SCALE.md)."""
    return max(1, math.ceil(math.log2(max(corpus_size, 2) / max(target_bucket_size, 1))))


def rp_lsh_build(
    corpus: DataFrame,
    dim: int,
    n_planes: int = 5,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Build the RP-LSH index ONCE: (bucket long, nid, cv) — every
    corpus vector tagged with its sign-bit bucket. PERSIST bucketed by
    ``bucket`` (``.write.bucketBy(n, "bucket").sortBy("bucket")
    .saveAsTable(...)``) so probes join the bucket lists with ZERO
    exchange on the index side. The hyperplanes are deterministic in
    (dim, n_planes) — nothing else needs persisting; a probe with the
    same parameters reconstructs them exactly."""
    planes = _hyperplanes(dim, n_planes)
    return corpus.select(
        F.col(corpus_id).alias("nid"), as_double_array(F.col(vec_col)).alias("cv")
    ).select(_bucket_expr(F.col("cv"), planes).alias("bucket"), "nid", "cv")


def rp_lsh_probe(
    queries: DataFrame,
    index: DataFrame,
    dim: int,
    k: int,
    n_planes: int = 5,
    multi_probe: bool = True,
    query_id: str = "vec_id",
    vec_col: str = "embedding",
    round_score: int = 6,
) -> DataFrame:
    """Probe a built RP-LSH index (:func:`rp_lsh_build` output, plain
    or persisted as a bucketed table): bucket each query with the SAME
    deterministic hyperplanes, score each probed bucket list against
    its queries as one kernel tile, rank. ``multi_probe`` also probes the n_planes buckets
    at hamming distance 1, boosting recall for vectors near a
    hyperplane at n_planes x candidate cost."""
    planes = _hyperplanes(dim, n_planes)
    q = queries.select(
        F.col(query_id).alias("qid"), as_double_array(F.col(vec_col)).alias("qv")
    ).withColumn("q_bucket", _bucket_expr(F.col("qv"), planes))
    if multi_probe:
        probes = F.array(
            F.col("q_bucket"),
            *[F.col("q_bucket").bitwiseXOR(F.lit(2**i)) for i in range(n_planes)],
        )
    else:
        probes = F.array(F.col("q_bucket"))
    q = q.select("qid", "qv", F.explode(probes).alias("bucket"))
    pairs = _keyed_pairs(
        q, index, "bucket", ("qid", "qv"), ("nid", "cv"), _not_self
    ).distinct()
    return _rank(pairs, k, round_score)


def rp_lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    dim: int,
    n_planes: int = 5,
    multi_probe: bool = True,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    round_score: int = 6,
) -> DataFrame:
    """Approximate top-k by random-hyperplane LSH + exact re-rank.
    Fused :func:`rp_lsh_build` + :func:`rp_lsh_probe` for ad-hoc use —
    repeated probing should build once, persist the bucket table
    bucketed by ``bucket``, and call rp_lsh_probe.

    Bucket id = n_planes sign bits of the projections (one long).
    Sizing: 2^n_planes buckets — :func:`recommended_n_planes` encodes
    the n_planes ~ log2(|corpus| / desired_bucket_size) rule. Recall
    improves with the data's cluster structure: isotropic random
    vectors are the worst case (tests assert the floor there).
    """
    index = rp_lsh_build(
        corpus, dim, n_planes=n_planes, corpus_id=corpus_id, vec_col=vec_col
    )
    return rp_lsh_probe(
        queries, index, dim, k, n_planes=n_planes, multi_probe=multi_probe,
        query_id=query_id, vec_col=vec_col, round_score=round_score,
    )


def semantic_dedup(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int | None = None,
    seed: int = 42,
    max_cluster_size: int | None = None,
    max_iterations: int = 20,
) -> DataFrame:
    """SemDeDup-style semantic deduplication over an embedding column
    (Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
    through semantic deduplication"): documents whose embeddings are
    cosine-similar above ``threshold`` are grouped, and one canonical
    representative (the minimum id — deterministic across runs and
    engines) is kept per group. Returns ``(id, cluster, kept)`` with
    ``kept`` = 1 for the representative, 0 for semantic duplicates.

    Two candidate-generation modes:

    - ``n_clusters=None`` — exact all-pairs cosine (quadratic): the
      oracle/verification path, never the 100 TB path.
    - ``n_clusters=k`` — the SemDeDup scale path: a k-means coarse
      quantizer (trained on a capped sample, see :func:`ivf_build`)
      partitions the corpus; pairwise cosine runs only WITHIN each
      cluster, so total pair work is sum(|cluster|^2) ~= N^2/k instead
      of N^2, and the pair join is a plain equi-join on the cluster id
      (each vector lands in exactly one cluster, so no distinct is
      needed). Cross-cluster near-duplicates are missed by design —
      the paper's documented recall trade for web-scale corpora.

    ``max_cluster_size`` is the bucket-skew guard (the semantic-dedup
    analogue of MinHash's ``max_shingle_freq``): a cluster larger than
    the cap — a degenerate quantizer cell, e.g. a spam blob — is
    dropped from pair generation rather than allowed a quadratic
    self-join; its members are all kept. The surviving-cluster list is
    bounded by ``n_clusters``, so it broadcasts at any corpus size.

    Grouping uses connected components (min-label propagation —
    semantic-dup clusters are shallow; pass the pairs through
    :func:`~iot_sensor_data_pipeline_spark.operators.dedup.duplicate_clusters_star`
    yourself for pathological chains), so transitive duplicates
    (a~b, b~c) collapse into one group even when a and c are not
    directly similar — the same contract as the text-side
    ``duplicate_clusters``.
    """
    from iot_sensor_data_pipeline_spark.operators.dedup import duplicate_clusters

    ids = df.select(F.col(id_col).alias("id"))
    if n_clusters is None:
        pairs = cosine_near_dup_pairs(df, threshold, id_col=id_col, vec_col=vec_col)
    else:
        assignments, _ = ivf_build(
            df, n_centroids=n_clusters, corpus_id=id_col, vec_col=vec_col, seed=seed
        )
        if max_cluster_size is not None:
            sizes = assignments.groupBy("cid").agg(F.count(F.lit(1)).alias("__n"))
            ok = sizes.where(F.col("__n") <= max_cluster_size).select("cid")
            assignments = assignments.join(F.broadcast(ok), "cid", "left_semi")
        pairs = _keyed_pairs(
            assignments.select("cid", F.col("nid").alias("i"), F.col("cv").alias("va")),
            assignments.select("cid", F.col("nid").alias("j"), F.col("cv").alias("vb")),
            "cid", ("i", "va"), ("j", "vb"), _pairs_at_least(threshold),
        )
    labels = duplicate_clusters(ids, pairs, max_iterations=max_iterations)
    return labels.select(
        "id",
        "cluster",
        (F.col("id") == F.col("cluster")).cast("int").alias("kept"),
    )


def semdedup_incremental(
    batch: DataFrame,
    postings: DataFrame,
    centroids: list[list[float]],
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_score: int = 6,
    materialize: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Incremental SemDeDup step: compare a NEW batch of embeddings
    against an already-indexed corpus (and against itself) without
    ever re-scoring corpus-vs-corpus. Returns ``(pairs, delta)``:

    - ``pairs`` — (i, j, score): i is always a batch id; j is an
      indexed id (new-vs-corpus) or a larger batch id (new-vs-new,
      i < j). Score is within-cluster cosine >= ``threshold``.
    - ``delta`` — (cid, nid, cv): the batch's posting-list rows,
      for the caller to append to the index (same layout as
      :func:`ivf_build` / :func:`ivf_assign`).

    The quantizer (``centroids``) is fixed: batches assign with
    :func:`ivf_assign`, so the corpus is never re-clustered and the
    per-batch cost is |batch| x (posting lists of the touched
    clusters) — independent of total corpus size in all other
    clusters: only the touched clusters' posting rows shuffle, and
    each touched cluster is one kernel tile (the batch's rows against
    the corpus's and the batch's own). Replay-safe by construction:
    the corpus side drops the batch's own ids first, so a micro-batch
    whose delta was already appended (at-least-once foreachBatch)
    emits exactly its original pairs instead of matching itself in the
    index; pairs are ``distinct()`` (an output-sized relation), so
    duplicate posting rows left by replayed appends of OTHER batches
    cannot multiply output either — the index itself is never
    deduplicated per batch (fold its duplicates offline with the
    streaming module's ``compact_semdedup_index``).

    ``materialize=True`` eagerly localCheckpoints the assignment so
    the returned ``pairs`` (which read it for the anti-join, the
    touched-cluster list and both sides of the tiles) and the
    ``delta`` append all read ONE computed pass — without it, each
    consumer re-runs the centroid assignment (an Arrow GEMM scan of
    the batch per read).
    """
    delta = ivf_assign(batch, centroids, corpus_id=id_col, vec_col=vec_col)
    if materialize:
        delta = delta.localCheckpoint(eager=True)
    batch_ids = delta.select(F.col("nid").alias("__bid"))
    # only the touched clusters' posting rows go on to the tiles
    corpus = postings.join(
        batch_ids, postings.nid == batch_ids.__bid, "left_anti"
    ).join(F.broadcast(delta.select("cid")), "cid", "left_semi")
    # batch-vs-batch pairs are kept once (i < j) by the keep rule
    candidates = corpus.select("cid", "nid", "cv").unionByName(
        delta.select("cid", "nid", "cv")
    )
    pairs = (
        _keyed_pairs(
            delta.select("cid", F.col("nid").alias("i"), F.col("cv").alias("va")),
            candidates.select("cid", F.col("nid").alias("j"), F.col("cv").alias("vb")),
            "cid", ("i", "va"), ("j", "vb"), _pairs_at_least(threshold),
        )
        .withColumn("score", F.round("score", round_score))
        .distinct()
    )
    return pairs, delta


def ann_recall_report(
    truth: DataFrame,
    variants: dict[str, DataFrame],
    query_col: str = "qid",
    neighbor_col: str = "nid",
    round_out: int = 6,
) -> DataFrame:
    """Recall@k scoreboard for ANN variants against an exact ground
    truth — the measure-don't-guess step before an index choice is
    allowed near production: a 10x-faster index at 0.4 recall is not
    an optimization, and nothing in an ANN pipeline fails loudly when
    recall quietly collapses (results stay plausible-looking).

    ``truth`` is the exact result relation (e.g. :func:`cosine_topk`
    output) and each ``variants[name]`` an approximate one; both only
    need (query_col, neighbor_col). One row per variant:

    - ``macro_recall`` — mean of per-query |approx ∩ truth| / |truth|
      (every query votes equally, the standard ANN-benchmark metric);
    - ``micro_recall`` — total hits / total truth rows (volume-
      weighted; diverges from macro when per-query truth sizes vary);
    - ``n_queries``, ``n_truth_rows`` for context. Queries a variant
      returns NOTHING for still count (recall 0 for them), via the
      left join from the truth side.

    Shape: per variant, one equi-join truth⋈approx on (query, neighbor)
    + two aggregations — truth relations are |Q| x k rows, so this is
    report-grain work, no corpus scan. Deterministic given
    deterministic inputs (every in-repo variant is seed-pinned).
    """
    if not variants:
        raise ValueError("ann_recall_report: variants must be non-empty")
    t = truth.select(
        F.col(query_col).alias("__q"), F.col(neighbor_col).alias("__n")
    )
    reports = []
    for name, approx in variants.items():
        a = approx.select(
            F.col(query_col).alias("__q"),
            F.col(neighbor_col).alias("__n"),
            F.lit(1).alias("__hit"),
        ).distinct()
        per_q = (
            t.join(a, ["__q", "__n"], "left")
            .groupBy("__q")
            .agg(
                F.count(F.lit(1)).alias("__truth"),
                F.sum(F.coalesce("__hit", F.lit(0))).alias("__hits"),
            )
        )
        reports.append(
            per_q.agg(
                F.lit(name).alias("variant"),
                F.count(F.lit(1)).alias("n_queries"),
                F.sum("__truth").alias("n_truth_rows"),
                F.round(F.avg(F.col("__hits") / F.col("__truth")), round_out).alias(
                    "macro_recall"
                ),
                F.round(F.sum("__hits") / F.sum("__truth"), round_out).alias(
                    "micro_recall"
                ),
            )
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


def choose_n_probe(
    truth: DataFrame,
    probe_fn,
    candidate_probes,
    recall_floor: float,
    n_cells: int | None = None,
    metric: str = "macro_recall",
    query_col: str = "qid",
    neighbor_col: str = "nid",
) -> tuple[int | None, DataFrame]:
    """Close the measure-don't-guess loop on IVF probe width: evaluate
    ``probe_fn(n_probe)`` for each candidate against the exact
    ``truth`` relation (a held-out query sample's :func:`cosine_topk`)
    via :func:`ann_recall_report` and pick the SMALLEST ``n_probe``
    whose measured ``metric`` meets ``recall_floor`` — n_probe is the
    recall/cost dial of every IVF index (expected scan fraction ~
    n_probe / n_cells), and guessing it is how ANN recall quietly
    collapses in production.

    Returns ``(chosen_n_probe, frontier)`` where ``frontier`` is one
    row per candidate: ``n_probe``, the report's recall columns, and
    ``scan_fraction`` (n_probe / n_cells when ``n_cells`` is given —
    the measured-candidate-reduction companion, see SCALE.md's
    ``ivfpq_topk_blocked`` row tracking it at 0.072 vs 0.062 expected).
    ``chosen_n_probe`` is None when NO candidate meets the floor — the
    caller's signal to fall back to exhaustive probing (which pins
    recall 1.0 by construction: probing every cell IS brute force) or
    re-cluster.

    Evaluation cost: each candidate probes only the held-out sample
    (report-grain joins, |Q| x k rows per variant), never the corpus at
    production query volume. The frontier is computed in ONE
    ann_recall_report pass over all candidates.
    """
    probes = sorted(set(int(p) for p in candidate_probes))
    if not probes:
        raise ValueError("choose_n_probe: candidate_probes must be non-empty")
    if not (0.0 < recall_floor <= 1.0):
        raise ValueError(
            f"choose_n_probe: recall_floor must be in (0, 1], got {recall_floor}"
        )
    if metric not in ("macro_recall", "micro_recall"):
        raise ValueError(
            f"choose_n_probe: metric must be macro_recall or micro_recall, "
            f"got {metric!r}"
        )
    variants = {f"n_probe={p}": probe_fn(p) for p in probes}
    rep = ann_recall_report(
        truth, variants, query_col=query_col, neighbor_col=neighbor_col
    )
    frontier = rep.withColumn(
        "n_probe", F.split(F.col("variant"), "=").getItem(1).cast("int")
    )
    if n_cells is not None:
        frontier = frontier.withColumn(
            "scan_fraction",
            F.round(F.col("n_probe") / F.lit(float(n_cells)), 6),
        )
    frontier = frontier.orderBy("n_probe")
    rows = frontier.collect()  # one row per candidate: driver-trivial
    chosen = next(
        (r["n_probe"] for r in rows if r[metric] >= recall_floor), None
    )
    # return the MATERIALIZED frontier: handing back the lazy plan
    # would re-run every candidate probe each time the caller looks at it
    spark = truth.sparkSession
    return chosen, spark.createDataFrame(rows, frontier.schema)
