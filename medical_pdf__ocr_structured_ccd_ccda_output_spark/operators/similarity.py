"""Similarity search over the `embeddings` table (vec_id, embedding
float[], label).

* brute-force cosine top-k — the correctness baseline.  Query side is
  broadcast; the corpus side streams, so the plan is scan + broadcast
  nested loop + per-group top-k.  Dot products run in whole-stage
  codegen via zip_with/aggregate (sequential fold -> deterministic,
  bit-identical to an equivalent sequential fold in the oracle engine).

* LSH-bucketed ANN (random hyperplanes) — the scale path: signature =
  sign-bit string over H seeded deterministic hyperplanes; candidates
  share a bucket; exact cosine re-ranking on candidates only.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(embeddings: DataFrame, queries: DataFrame,
                     k: int = 5, round_to: int | None = 6) -> DataFrame:
    """queries: (query_id, query_vec).  Returns (query_id, rank,
    neighbor_id) with deterministic ties (score desc, vec_id asc);
    self-matches excluded when query_id == vec_id."""
    q = F.broadcast(queries).alias("q")
    e = embeddings.alias("e")
    scored = (
        q.join(e, F.col("q.query_id") != F.col("e.vec_id"))
        .select(
            "q.query_id",
            F.col("e.vec_id").alias("neighbor_id"),
            cosine(F.col("q.query_vec"), F.col("e.embedding")).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    out_score = (
        F.round("score", round_to) if round_to is not None else F.col("score")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", out_score.alias("score"))
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42):
    import numpy as np

    rs = np.random.RandomState(seed)
    return rs.standard_normal((n_planes, dim)).astype("float64")


def lsh_signature_expr(vec: Column, planes) -> Column:
    """Sign-bit signature as a string key (bucket id).  JVM fold form —
    kept for single-table uses; for multi-table signatures use
    lsh_buckets_udf (one numpy matmul per Arrow batch, ~2 orders of
    magnitude less expression overhead than n_tables × n_planes
    interpreted folds)."""
    bits = [
        F.when(
            F.aggregate(
                F.zip_with(
                    vec,
                    F.array(*[F.lit(float(w)) for w in plane]),
                    lambda x, y: x.cast("double") * y,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            >= 0,
            F.lit("1"),
        ).otherwise(F.lit("0"))
        for plane in planes
    ]
    return F.concat(*bits)


def lsh_buckets_udf(dim: int, n_planes: int, n_tables: int, seed: int = 42):
    """Arrow-batched bucket computation for ALL tables at once: stack
    the L×H hyperplanes into one (L*H, dim) matrix, one matmul per
    batch, slice sign bits per table.  Returns a pandas_udf mapping an
    embedding column -> array<string> of length n_tables (bucket key
    per table; posexplode index = table id)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    P = np.vstack([
        _hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)
    ])  # (L*H, dim)

    @pandas_udf("array<string>")
    def _buckets(v: pd.Series) -> pd.Series:
        if len(v) == 0:  # empty Arrow batch (empty partition): vstack raises
            return pd.Series([], dtype=object)
        M = np.vstack([np.asarray(x, dtype=np.float64) for x in v])
        proj = (M @ P.T) >= 0  # (n, L*H) sign bits
        out = []
        for row in proj:
            out.append([
                "".join("1" if b else "0"
                        for b in row[t * n_planes:(t + 1) * n_planes])
                for t in range(n_tables)
            ])
        return pd.Series(out)

    return _buckets


def _md5_planes(dim: int, n_planes: int, table: int) -> list[list[float]]:
    """Rademacher (+-1) hyperplane weights from md5 nibble parity:
    weight(t, p, d) = +1 if the first hex digit of md5('t,p,d') is
    even, else -1.  Engine-portable: DuckDB computes the identical
    family from its md5() (sign-random-projection is a valid LSH family
    for cosine, like the Gaussian planes of lsh_topk)."""
    import hashlib

    return [
        [
            1.0 if int(hashlib.md5(f"{table},{p},{d}".encode())
                       .hexdigest()[0], 16) % 2 == 0 else -1.0
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def lsh_topk_md5(embeddings: DataFrame, queries: DataFrame, k: int = 5,
                 n_planes: int = 6, n_tables: int = 4, *,
                 dim: int) -> DataFrame:
    """DuckDB-oracle-able twin of lsh_topk: md5-derived +-1 planes and
    JVM sequential-fold projections (bit-identical to an ordered
    list_reduce in the oracle engine), unrounded cosine re-rank.  The
    production path stays lsh_topk (Gaussian planes, one Arrow matmul
    per batch).  `dim` is required — inferring it would need a driver
    action (`queries.first()`), which has no place in an operator."""
    tables = [_md5_planes(dim, n_planes, t) for t in range(n_tables)]

    def with_sig(df, vec_col):
        sigs = F.array(*[
            lsh_signature_expr(F.col(vec_col), planes) for planes in tables
        ])
        return df.select("*", F.posexplode(sigs).alias("tbl", "bucket"))

    e_sig = with_sig(embeddings, "embedding").alias("e")
    q_sig = F.broadcast(with_sig(queries, "query_vec")).alias("q")
    cand = (
        q_sig.join(
            e_sig,
            (F.col("q.tbl") == F.col("e.tbl"))
            & (F.col("q.bucket") == F.col("e.bucket"))
            & (F.col("q.query_id") != F.col("e.vec_id")),
        )
        .select("q.query_id", "q.query_vec",
                F.col("e.vec_id").alias("neighbor_id"), F.col("e.embedding"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.select(
        "query_id", "neighbor_id",
        cosine(F.col("query_vec"), F.col("embedding")).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "score")
    )


def lsh_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5,
             n_planes: int = 8, n_tables: int = 8, *, dim: int,
             seed: int = 42) -> DataFrame:
    """ANN with OR-amplification: L independent hyperplane tables; a
    corpus vector is a candidate if it collides with the query in ANY
    table; exact cosine re-ranks the deduplicated candidates.  Recall
    grows with n_tables (measured against brute_force_topk in tests);
    the join stays equi on (table, bucket) — no cross product.  `dim`
    is required — inferring it would need a driver action."""
    buckets = lsh_buckets_udf(dim, n_planes, n_tables, seed)

    def with_sig(df, vec_col):
        pe = F.posexplode(buckets(F.col(vec_col))).alias("tbl", "bucket")
        return df.select("*", pe)

    e_sig = with_sig(embeddings, "embedding").alias("e")
    q_sig = F.broadcast(with_sig(queries, "query_vec")).alias("q")
    cand = (
        q_sig.join(
            e_sig,
            (F.col("q.tbl") == F.col("e.tbl"))
            & (F.col("q.bucket") == F.col("e.bucket"))
            & (F.col("q.query_id") != F.col("e.vec_id")),
        )
        .select("q.query_id", "q.query_vec",
                F.col("e.vec_id").alias("neighbor_id"), F.col("e.embedding"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        cosine(F.col("query_vec"), F.col("embedding")).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", F.round("score", 6).alias("score"))
    )


def cosine_near_dups(embeddings: DataFrame, threshold: float = 0.9,
                     round_to: int | None = 6) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, brute-force tier: every
    (a < b) pair scored with the exact sequential-fold cosine.  This is
    the CORRECTNESS tier (quadratic — fine for oracle-scale inputs or
    within small blocks); the scale path is cosine_near_dups_lsh."""
    a, b = embeddings.alias("a"), embeddings.alias("b")
    score = cosine(F.col("a.embedding"), F.col("b.embedding"))
    # Threshold on the UNROUNDED score in every tier (a pair at
    # 0.8999996 must not round up past a 0.9 threshold here while the
    # LSH tier excludes it — the 'lsh ⊆ brute' invariant); round_to
    # affects display only.
    pairs = (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            score.alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )
    if round_to is not None:
        pairs = pairs.select(
            "id_a", "id_b", F.round("score", round_to).alias("score")
        )
    return pairs


def cosine_near_dups_lsh(embeddings: DataFrame, threshold: float = 0.9,
                         n_planes: int = 8, n_tables: int = 8,
                         *, dim: int, seed: int = 42) -> DataFrame:
    """Embedding-cosine near-dups at scale: candidates are pairs
    colliding in ANY hyperplane table (OR-amplified — high-cosine pairs
    collide with probability (1-theta/pi)^H per table), then exact
    cosine re-scores candidates only.  The self-join is equi on
    (table, bucket) — no cross product; one Arrow matmul per batch
    computes all table signatures."""
    buckets = lsh_buckets_udf(dim, n_planes, n_tables, seed)
    sig = embeddings.select(
        "vec_id", "embedding",
        F.posexplode(buckets(F.col("embedding"))).alias("tbl", "bucket"),
    )
    a, b = sig.alias("a"), sig.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.col("a.embedding").alias("emb_a"),
            F.col("b.embedding").alias("emb_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    score = cosine(F.col("emb_a"), F.col("emb_b"))
    # Threshold on the UNROUNDED score (the brute tier filters unrounded;
    # rounding first would admit pairs in [threshold-5e-7, threshold) and
    # break the "lsh result is a subset of brute" invariant), then round
    # for display only.
    return (
        cand.select("id_a", "id_b", score.alias("score"))
        .filter(F.col("score") >= threshold)
        .select("id_a", "id_b", F.round("score", 6).alias("score"))
    )


def ivf_centroids(embeddings: DataFrame, n_centroids: int = 16,
                  iters: int = 5, sample: int = 4096, seed: int = 42,
                  dim: int = 64):
    """Deterministic IVF coarse quantizer: seeded k-means on a bounded
    driver-side sample (the standard index-build step — the index is
    tiny and broadcast; the CORPUS never leaves the executors).
    Returns an (n_centroids, dim) float64 ndarray."""
    import numpy as np

    rows = (
        embeddings.select("vec_id", "embedding")
        .orderBy("vec_id").limit(sample).collect()
    )
    X = np.vstack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    rs = np.random.RandomState(seed)
    C = X[rs.choice(len(X), size=min(n_centroids, len(X)), replace=False)]
    for _ in range(iters):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(len(C)):
            members = X[assign == c]
            if len(members):
                C[c] = members.mean(axis=0)
    return C


def _ivf_params_digest(params: dict) -> str:
    """Deterministic build-version string for an IVF index artifact:
    a digest over the sorted build params, so a loaded index can be
    checked against the params the caller expects."""
    import hashlib

    canon = ",".join(f"{k}={params[k]}" for k in sorted(params))
    return hashlib.md5(canon.encode()).hexdigest()[:16]


def save_ivf_index(spark, centroids, path: str, params: dict) -> str:
    """Persist the coarse quantizer as a tiny parquet artifact — one
    row per centroid plus the build params and a params-digest
    `build_version` column — so repeated ANN queries (and downstream
    jobs) share one index build instead of re-running k-means per
    query.  Returns the build_version written."""
    version = _ivf_params_digest(params)
    rows = [
        (int(i), [float(x) for x in c], json_params(params), version)
        for i, c in enumerate(centroids)
    ]
    spark.createDataFrame(
        rows, "centroid_id int, centroid array<double>, "
              "build_params string, build_version string",
    ).coalesce(1).write.mode("overwrite").parquet(path)
    return version


def json_params(params: dict) -> str:
    import json

    return json.dumps({k: params[k] for k in sorted(params)})


def load_ivf_index(spark, path: str, expect_params: dict | None = None):
    """Load a persisted IVF index back into the (n_centroids, dim)
    ndarray `ivf_topk` consumes.  If `expect_params` is given and the
    artifact was built with different params, raise — silently probing
    against a quantizer built under other settings corrupts recall the
    same way resuming a manifest under changed params corrupts a dedup
    run (same refusal semantics as sources/manifest.py)."""
    import numpy as np

    rows = spark.read.parquet(path).orderBy("centroid_id").collect()
    if not rows:
        raise ValueError(f"empty IVF index artifact at {path}")
    version = rows[0]["build_version"]
    if expect_params is not None and \
            version != _ivf_params_digest(expect_params):
        raise ValueError(
            f"IVF index at {path} was built with params "
            f"{rows[0]['build_params']} (version {version}), not the "
            f"requested {json_params(expect_params)} — rebuild the "
            "index or pass matching params"
        )
    return np.vstack([np.asarray(r["centroid"], dtype=np.float64)
                      for r in rows])


def ivf_index_or_build(spark, embeddings: DataFrame, path: str,
                       n_centroids: int = 16, iters: int = 5,
                       sample: int = 4096, seed: int = 42,
                       dim: int = 64):
    """Amortized index build: load the parquet artifact at `path` if it
    exists and matches the params, else build it once and persist.
    The artifact is n_centroids rows — negligible storage; the win is
    skipping the bounded sample collect + k-means per query."""
    import os

    params = {"n_centroids": n_centroids, "iters": iters,
              "sample": sample, "seed": seed, "dim": dim}
    if os.path.exists(path):
        return load_ivf_index(spark, path, expect_params=params)
    C = ivf_centroids(embeddings, n_centroids=n_centroids, iters=iters,
                      sample=sample, seed=seed, dim=dim)
    save_ivf_index(spark, C, path, params)
    return C


def _ivf_assign_udf(C, top: int = 1):
    """Arrow-batched nearest-centroid assignment: one distance matrix
    per batch; returns array<int> of the `top` nearest centroid ids."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    Cq = C.copy()

    @pandas_udf("array<int>")
    def _assign(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        M = np.vstack([np.asarray(x, dtype=np.float64) for x in v])
        d2 = ((M[:, None, :] - Cq[None, :, :]) ** 2).sum(axis=2)
        order = np.argsort(d2, axis=1)[:, :top]
        return pd.Series([[int(c) for c in row] for row in order])

    return _assign


def ivf_topk(embeddings: DataFrame, queries: DataFrame, centroids,
             k: int = 5, nprobe: int = 4,
             round_to: int | None = 6) -> DataFrame:
    """IVF ANN: corpus vectors live in their nearest centroid cell;
    each query probes its `nprobe` nearest cells; candidates get the
    exact cosine re-rank.  The join is equi on the cell id — shuffle
    volume is corpus×1 + queries×nprobe rows, never all-pairs; cells
    are bounded by the quantizer (no logical hot key beyond cluster
    imbalance, which nprobe amortizes)."""
    assign1 = _ivf_assign_udf(centroids, top=1)
    assignp = _ivf_assign_udf(centroids, top=nprobe)
    e_cell = embeddings.select(
        "vec_id", "embedding",
        F.explode(assign1(F.col("embedding"))).alias("cell"),
    ).alias("e")
    q_cell = F.broadcast(
        queries.select(
            "query_id", "query_vec",
            F.explode(assignp(F.col("query_vec"))).alias("cell"),
        )
    ).alias("q")
    cand = (
        q_cell.join(
            e_cell,
            (F.col("q.cell") == F.col("e.cell"))
            & (F.col("q.query_id") != F.col("e.vec_id")),
        )
        .select("q.query_id", "q.query_vec",
                F.col("e.vec_id").alias("neighbor_id"), F.col("e.embedding"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.select(
        "query_id", "neighbor_id",
        cosine(F.col("query_vec"), F.col("embedding")).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    out_score = (
        F.round("score", round_to) if round_to is not None else F.col("score")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", out_score.alias("score"))
    )


# ---------------------------------------------------------------------------
# SemDeDup-style semantic deduplication (cluster, then prune within cell)
# ---------------------------------------------------------------------------


def semantic_dedup(cells: DataFrame, threshold: float = 0.95,
                   round_to: int | None = 6,
                   cache: str = "none") -> DataFrame:
    """Semantic deduplication in the SemDeDup family (Abbas et al.
    2023, "SemDeDup: Data-efficient learning at web-scale through
    semantic deduplication"): partition the embedding space into
    cells, then within each cell prune every vector that has an
    above-threshold cosine neighbor with a SMALLER vec_id — the
    deterministic keep-min-id variant of the paper's per-cluster
    pruning (the paper keeps the member farthest from the centroid;
    min-id is order-stable across runs and engines, which this
    engine's bit-stable gate demands).  Complements the other dedup
    tiers: exact/minhash/simhash catch lexical duplication,
    ``cosine_near_dups`` catches pairwise embedding duplication, and
    this prunes SEMANTIC redundancy corpus-wide with a per-cell
    decision table.  Reference analog: the dedup decision surface of
    deduplication_service.py:101-480 (keep/prune + canonical pointer),
    lifted to embedding space.

    ``cells``: (vec_id, embedding, cell).  Returns ONE row per vector:
    (vec_id, cell, keep, dup_of, dup_score) — ``dup_of`` is the
    smallest lower-id in-cell neighbor at or above ``threshold``
    (NULL when kept), ``dup_score`` its cosine.  The prune rule is
    greedy, not transitive: a vector can be pruned by a vector that is
    itself pruned (as in the reference algorithm, the decision is a
    pure function of the pair set, so it needs no iterative closure).

    100 TB notes:

    * the self-join is equi on ``cell`` — never all-pairs; within-cell
      pairing is the SemDeDup trade and cell sizes are controlled by
      the partitioner (2^n_planes buckets for the md5 tier, n_centroids
      for the IVF tier — both scale with corpus size so per-cell
      membership stays bounded).
    * threshold is applied to the UNROUNDED cosine (same invariant as
      cosine_near_dups: rounding first would flip pairs within 5e-7 of
      the cut between engines); round_to affects display only.
    * the keeper aggregation is min(struct(other, score)) — one
      uniform-key groupBy with map-side partials; the decision table
      joins back to the vector spine on uniform vec_id.
    * ``cells`` has three consumers (both join sides + the spine), so
      ``cache`` follows the lsh_pairs_from_signatures contract:
      ``"none"`` (default) recomputes — right when the cell column is
      a cheap expression over a re-readable scan (the md5 tier);
      ``"local"`` lazily localCheckpoints — right for derived plans
      whose cell assignment is an expensive UDF (the IVF tier), with
      the documented lineage-truncation trade.
    """
    if cache == "local":
        cells = cells.localCheckpoint(eager=False)
    elif cache != "none":
        raise ValueError(f"cache must be local|none, got {cache!r}")
    a, b = cells.alias("a"), cells.alias("b")
    score = cosine(F.col("a.embedding"), F.col("b.embedding"))
    pairs = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") > F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_id"),
            F.col("b.vec_id").alias("other"),
            score.alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )
    dup = (
        pairs.groupBy("vec_id")
        .agg(F.min(F.struct("other", "score")).alias("m"))
        .select(
            "vec_id",
            F.col("m.other").alias("dup_of"),
            F.col("m.score").alias("dup_score"),
        )
    )
    out_score = (
        F.round("dup_score", round_to) if round_to is not None
        else F.col("dup_score")
    )
    return (
        cells.select("vec_id", "cell")
        .join(dup, "vec_id", "left")
        .select(
            "vec_id", "cell",
            F.col("dup_of").isNull().alias("keep"),
            "dup_of",
            out_score.alias("dup_score"),
        )
    )


def semantic_dedup_md5(embeddings: DataFrame, threshold: float = 0.95,
                       n_planes: int = 6, *, dim: int,
                       round_to: int | None = 6) -> DataFrame:
    """DuckDB-oracle-able tier of semantic_dedup: cells are the
    sign-bit buckets of the md5 +-1 hyperplane family (table 0) — the
    same engine-portable partitioner as lsh_topk_md5, evaluated as a
    JVM sequential fold bit-identical to the oracle's ordered
    list_reduce.  Random-hyperplane cells ARE a cosine-locality
    partition (two vectors share a cell iff no plane separates them),
    so the tier exercises the full SemDeDup semantics, not a toy
    stand-in; the production path swaps in the k-means partitioner
    below."""
    planes = _md5_planes(dim, n_planes, 0)
    c = embeddings.select(
        "vec_id", "embedding",
        lsh_signature_expr(F.col("embedding"), planes).alias("cell"),
    )
    return semantic_dedup(c, threshold, round_to)


def semantic_dedup_ivf(embeddings: DataFrame, centroids,
                       threshold: float = 0.95,
                       round_to: int | None = 6,
                       cache: str = "local") -> DataFrame:
    """Production tier of semantic_dedup: cells are nearest-centroid
    assignments from the deterministic IVF coarse quantizer
    (ivf_centroids / the persisted parquet index artifact), computed
    by the Arrow-batched distance matmul — the paper's actual
    clustering step.  Cell ids are stringified for a schema shared
    with the md5 tier."""
    assign1 = _ivf_assign_udf(centroids, top=1)
    c = embeddings.select(
        "vec_id", "embedding",
        F.explode(assign1(F.col("embedding"))).alias("_cell"),
    ).select(
        "vec_id", "embedding", F.col("_cell").cast("string").alias("cell")
    )
    # cache="local" default: the Arrow assignment UDF has three
    # consumers in semantic_dedup (both join sides + the spine) and
    # should run once.  At bench scale the saving is negligible (the
    # within-cell exact-fold scoring dominates, ~3 s at sf0.1 either
    # way); at corpus scale the assignment is a full distance matmul
    # per vector and triple evaluation would be real money.  Pass
    # "none" per the core's cache contract.
    return semantic_dedup(c, threshold, round_to, cache=cache)
