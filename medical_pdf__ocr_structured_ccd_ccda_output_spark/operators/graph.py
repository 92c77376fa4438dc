"""Connected components over near-duplicate pair graphs.

Pair generators (minhash/LSH, simhash, n-gram Jaccard, embedding
cosine — ``operators/corpus.py``, ``operators/similarity.py``) emit
*edges*; a training-data dedup pipeline then needs the transitive
closure — "docs A,B,C are one duplicate cluster even though only
(A,B) and (B,C) were detected" — and one canonical survivor per
cluster.  The reference collapses duplicates pairwise inside a single
process (``/root/reference/src/services/deduplication_service.py:101-480``
merges greedily in Python loops — ``merge_medications`` /
``merge_problems`` / ``merge_lab_results``); at 10^12-doc scale the
closure is a graph
problem, solved here with the standard iterative min-label
propagation used by MapReduce/Spark connected-components systems
(Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14 — the hash-min variant, plus pointer jumping).

Scale notes (the whole point of this operator):

* Each iteration is ONE shuffle pair: an equi-join of the edge list
  with the current label table, then a ``groupBy(min)`` with map-side
  partial aggregation.  Edge keys are document ids — uniformly
  distributed, no hot key (contrast: grouping by cluster id *during*
  propagation would hot-spot on giant components).
* Pointer jumping (``label <- label(label)``) after each neighbor-min
  step makes label chains collapse geometrically, so iterations are
  O(log diameter) instead of O(diameter).  Near-dup graphs are
  overwhelmingly tiny star-shaped components, so in practice this
  converges in 2-3 iterations; the log bound protects the pathological
  long-chain case (e.g. shingled boilerplate families).
* ``localCheckpoint(eager=True)`` truncates lineage every iteration —
  without it the plan doubles per iteration and Catalyst analysis time
  explodes (the classic iterative-Spark failure mode).  On a real
  cluster with unreliable executors, pass ``use_reliable_checkpoint``
  and set ``spark.sparkContext.setCheckpointDir`` to an HDFS/S3 path.
* **Superseded checkpoints are unpersisted as the loop advances** —
  iteration k's label table is dead the moment iteration k+1's is
  materialized, but a (local)checkpoint's blocks otherwise live until
  the driver GCs the RDD reference (ContextCleaner), which on a long
  job means every iteration's full label table accumulates in the
  block store.  Measured here: ×320 probe reps in one JVM grew
  65.8 → 92.1 s as dead label tables squeezed execution memory
  (BENCH.md round 4).  At 10^12 vertices that accumulation — O(log d)
  copies of the label table plus the pre-symmetrization edge list —
  is the difference between a bounded-memory job and an OOM.  Only
  provably-dead tables are dropped (lineage is truncated, so an
  unpersisted checkpoint cannot be recomputed): the previous label
  table after the next one is eager-materialized, the raw edge list
  after symmetrization, and the symmetrized list on convergence.
* The convergence probe is a FULL ``count()`` of changed rows — one
  driver action per iteration, bounded by the O(log d) iteration
  count, not a per-row driver loop.  The full scan is load-bearing:
  it materializes the lazily-marked checkpoint of the new label table
  *before* the previous table's blocks are dropped.  A partial-scan
  probe (e.g. ``limit(1).count()``) would leave some partitions
  unmaterialized with truncated lineage after the predecessor is
  freed — unrecoverable.  Do not "optimize" it back.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


# connected_components' shuffle sizing (see its docstring): rows per
# label-table partition, and the smallest partition worth a core of its own
TARGET_ROWS_PER_PARTITION = 1_000_000
MIN_ROWS_PER_PARTITION = 50_000


class _CkptTracker:
    """Frees superseded (local)checkpoints by block-store RDD id.

    ``DataFrame.unpersist()`` cannot free checkpoint blocks — they are
    registered on the plan's internal RDD, not in the catalog cache —
    so the tracker diffs ``SparkContext.getPersistentRDDs`` around each
    checkpoint call to learn which block-store entries belong to it,
    and drops exactly those once the caller declares the table dead.
    Reliable ``checkpoint()`` stores to the checkpoint dir rather than
    the block store; ``drop`` is then simply a no-op for its ids.

    ASSUMES A SINGLE-THREADED DRIVER between ``ckpt``/``mark`` calls:
    the before/after id diff attributes every RDD persisted in that
    window to this call, so another driver thread persisting or
    checkpointing concurrently (e.g. a streaming query sharing the
    session) would land its ids in the diff and a later ``drop``
    would unpersist a live truncated-lineage checkpoint — silent data
    loss.  Every caller in this repo (the corpus jobs) checkpoints from
    one driver thread.  ``job.main`` writes its sinks from a thread
    pool, but it never checkpoints and never calls this module.  A
    concurrent caller must instead derive ids from the returned
    DataFrame's own RDD graph.
    """

    def __init__(self, spark, use_reliable: bool):
        self._jsc = spark.sparkContext._jsc
        self._use_reliable = use_reliable

    def _ids(self) -> set[int]:
        return {
            int(i)
            for i in self._jsc.getPersistentRDDs().keySet().toArray()
        }

    def ckpt(self, df: DataFrame) -> tuple[DataFrame, set[int]]:
        before = self._ids()
        out = (
            df.checkpoint(eager=True)
            if self._use_reliable
            else df.localCheckpoint(eager=True)
        )
        return out, self._ids() - before

    def mark(self, df: DataFrame) -> tuple[DataFrame, set[int]]:
        """Lazy variant: marks the plan for checkpointing without
        running a job.  The caller's NEXT full-scan action (e.g. the
        convergence count) materializes the checkpoint as a side
        effect — halving the driver actions per loop iteration, which
        is the dominant cost of small/medium closures.  The RDD is
        registered persistent at mark time, so the id diff is valid
        immediately."""
        before = self._ids()
        out = (
            df.checkpoint(eager=False)
            if self._use_reliable
            else df.localCheckpoint(eager=False)
        )
        return out, self._ids() - before

    def drop(self, ids: set[int]) -> None:
        jmap = self._jsc.getPersistentRDDs()
        for rid in ids:
            if jmap.containsKey(rid):
                jmap.get(rid).unpersist(False)


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    *,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 30,
    use_reliable_checkpoint: bool = False,
) -> DataFrame:
    """Label every vertex with the minimum vertex id reachable from it.

    Returns ``(id, label)`` where ``label`` is the component's minimum
    id — a deterministic cluster identifier.  Vertices absent from the
    edge list form singleton components labelled by themselves.
    Edges pointing at unknown vertices are ignored (``vertices`` is
    authoritative).

    Raises ``RuntimeError`` if ``max_iter`` iterations do not reach a
    fixpoint (never observed on near-dup graphs; the bound exists so a
    bug surfaces as an error, not a silently-partial clustering).

    **Partitioning is sized to the GRAPH, not the session.**  The label
    table is (id, label) longs — orders of magnitude smaller than the
    corpus the session's ``spark.sql.shuffle.partitions`` was sized
    for — and each iteration runs three shuffles of it.  Left at the
    session setting, a 380 k-row closure shuffles into 128 partitions
    of ~3 k rows: pure task-scheduling overhead that made the loop run
    2.4× SLOWER on 32 cores than on 8 (measured, BENCH.md round 4);
    ``localCheckpoint`` materializes eagerly, so AQE's post-shuffle
    coalescing cannot rescue it.  The loop therefore scopes
    ``spark.sql.shuffle.partitions`` to
    ``max(rows, edges) / TARGET_ROWS_PER_PARTITION`` (≥1, capped at
    the session value) and restores the session setting after.  At
    10^12 docs the same formula yields thousands of partitions — it
    scales up as well as down.

    The rows-per-partition target alone under-parallelizes MEDIUM
    graphs: a 1.6 M-vertex closure would run 2-partition shuffles while
    30 cores idle — measured as the dominant anti-scaling term of the
    ×320 dedup probe (8→32-core efficiency 0.31, BENCH.md round 4).  So
    the partition count is floored at the core count whenever the graph
    has at least ``MIN_ROWS_PER_PARTITION`` rows per core — i.e. tasks
    never shrink below ~50 k rows (where scheduling overhead would
    dominate), but above that the loop uses every core slot.
    """

    spark = vertices.sparkSession
    tr = _CkptTracker(spark, use_reliable_checkpoint)

    # checkpoint the initial labels too: `vertices` usually sits on top
    # of the full corpus DAG (digest scan + exact-map join), and an
    # unmaterialized label table would recompute that entire upstream
    # inside iteration 1's join
    # the setup tables are lazy-marked: the sizing counts just below
    # materialize them, so setup costs two driver actions, not four
    labels, label_ids = tr.mark(vertices.select(
        F.col(id_col).alias("id"), F.col(id_col).alias("label")
    ))
    # materialize the raw edge list EAGERLY before symmetrizing: the
    # two union branches below would otherwise each re-execute the full
    # upstream pair DAG (LSH banding + candidate self-join — the most
    # expensive stage of the dedup pipeline, measured ~13 s at
    # x80/local[32], i.e. a whole extra pipeline run hidden inside one
    # union; lazy-marking would compute each partition twice inside the
    # sym job, once per union branch)
    ed, ed_ids = tr.ckpt(edges.select(F.col(src_col).alias("a"),
                                      F.col(dst_col).alias("b")))
    sym, sym_ids = tr.mark(
        ed.union(ed.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
    )

    n_rows = max(labels.count(), sym.count())  # materializes both marks
    tr.drop(ed_ids)  # dead now that the symmetrized list is materialized
    session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    cores = spark.sparkContext.defaultParallelism
    n_parts = max(
        -(-n_rows // TARGET_ROWS_PER_PARTITION),
        min(cores, -(-n_rows // MIN_ROWS_PER_PARTITION)),
    )
    n_parts = max(1, min(session_parts, n_parts))
    spark.conf.set("spark.sql.shuffle.partitions", str(n_parts))
    try:
        return _cc_loop(labels, label_ids, sym, max_iter, tr)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", str(session_parts))
        tr.drop(sym_ids)  # the returned labels are a self-contained ckpt


def _cc_loop(labels: DataFrame, label_ids: set[int], sym: DataFrame,
             max_iter: int, tr: _CkptTracker) -> DataFrame:
    for _ in range(max_iter):
        # hash-min step: label(x) <- min(label(x), min over neighbors)
        neigh = (
            sym.join(
                labels.select(
                    F.col("id").alias("_nid"), F.col("label").alias("_nlabel")
                ),
                F.col("b") == F.col("_nid"),
            )
            .groupBy("a")
            .agg(F.min("_nlabel").alias("_nmin"))
        )
        stepped = labels.join(neigh, labels["id"] == neigh["a"], "left").select(
            labels["id"].alias("id"),
            F.least(
                labels["label"], F.coalesce(F.col("_nmin"), labels["label"])
            ).alias("label"),
            (F.coalesce(F.col("_nmin"), labels["label"]) < labels["label"]).alias(
                "_chg"
            ),
        )
        # pointer jump: label(x) <- label(label(x)); labels only ever
        # decrease, so jlabel <= label and the change test is a `<`
        jump = stepped.select(
            F.col("id").alias("_jid"), F.col("label").alias("_jlabel")
        )
        jumped = stepped.join(jump, stepped["label"] == jump["_jid"], "left").select(
            stepped["id"],
            F.coalesce(F.col("_jlabel"), stepped["label"]).alias("label"),
            (
                stepped["_chg"]
                | (F.coalesce(F.col("_jlabel"), stepped["label"]) < stepped["label"])
            ).alias("_chg"),
        )
        # lazy-mark + full count = ONE driver action per iteration: the
        # count scans every partition, which materializes the
        # checkpoint as a side effect (an eager ckpt + separate probe
        # ran two jobs per iteration — pure latency on small/medium
        # graphs, measured as the closure's non-scaling floor at ×320)
        jumped, new_ids = tr.mark(jumped)
        changed = jumped.filter(F.col("_chg")).count()
        # the previous label table is dead now that `jumped` is
        # materialized; free its block-store entries instead of
        # letting O(log d) full label tables pile up
        tr.drop(label_ids)
        label_ids = new_ids
        labels = jumped.drop("_chg")
        if changed == 0:
            return labels
    raise RuntimeError(f"connected_components did not converge in {max_iter} iterations")


def near_dup_clusters(
    documents: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    max_iter: int = 30,
    len_col: str | None = None,
    pairs_cache: str = "local",
) -> DataFrame:
    """Duplicate clusters + canonical-survivor selection over pair edges.

    Output: ``(doc_id, cluster_id, cluster_size, keep)`` — one row per
    input document.  ``cluster_id`` is the component-minimum doc id;
    ``keep`` marks the canonical survivor a dedup pipeline would
    retain: the longest text in the cluster (quality-first, mirroring
    the reference's longer-entry-wins merge rule,
    ``/root/reference/src/services/deduplication_service.py:233-360``
    ``merge_problems`` / ``_merge_problem_entries``), ties broken by
    smallest doc id.

    The two analytic windows partition by ``cluster_id`` — safe because
    a cluster is a *duplicate* group (bounded fan-in: near-identical
    boilerplate families), not an unbounded natural key; the heavy
    lifting (transitive closure) happened on uniformly-keyed joins.

    **Only edge-incident vertices enter the closure.**  A document with
    no candidate pair can only ever be a singleton cluster labelled by
    itself, so propagating labels for it is pure waste — and in a real
    web corpus MOST documents have no near-dup candidate, so the label
    table the loop shuffles and checkpoints O(log d) times would be
    dominated by rows whose answer is already known.  Measured at the
    ×320 probe (1.56 M survivors, 154 k pairs): restricting the loop to
    the ~137 k edge-incident vertices cut the closure phase ~10 s → ~4 s
    and removed its widest non-scaling term (BENCH.md round 4).
    Singletons are re-attached as a projection + anti-join — one
    broadcast-able pass, no window shuffle for them.

    ``len_col``: name of a precomputed text-length column on
    ``documents`` — the staged corpus job materializes lengths with the
    signatures so the cluster stage never rescans document text.
    Default (None) computes ``length(text)`` in place.
    """
    # materialize the narrow pair list ONCE: it feeds three consumers
    # (the closure's edge checkpoint, the edge-incident vertex set, and
    # the singleton anti-join), each of which would otherwise
    # re-execute the full upstream LSH candidate DAG.  The blocks stay
    # referenced by the returned lazy plan and are reclaimed by the
    # periodic ContextCleaner GC once the caller's plan is dropped.
    # pairs_cache: "local" (default) eager localCheckpoint — lineage is
    # truncated into non-recomputable blocks, so an executor loss fails
    # the job; "reliable" eager checkpoint (needs setCheckpointDir) —
    # survives executor loss; "none" — skip, right when `pairs` is
    # already a materialized stage table (corpus_job.py stage 3 reads
    # pairs back from parquet) so the three consumers just rescan
    # cheap, fault-recoverable storage.
    pairs = pairs.select(src_col, dst_col)
    if pairs_cache == "local":
        pairs = pairs.localCheckpoint(eager=True)
    elif pairs_cache == "reliable":
        pairs = pairs.checkpoint(eager=True)
    elif pairs_cache != "none":
        raise ValueError(
            f"pairs_cache must be local|reliable|none, got {pairs_cache!r}"
        )
    edge_ids = (
        pairs.select(F.col(src_col).alias(id_col))
        .union(pairs.select(F.col(dst_col).alias(id_col)))
        .distinct()
    )
    # inner-join against the authoritative vertex set (edges pointing at
    # unknown docs are ignored, same contract as connected_components)
    length_expr = (
        F.col(len_col) if len_col is not None else F.length("text")
    )
    docs = documents.select(
        F.col(id_col).alias("_did"), length_expr.alias("_len")
    )
    cc = connected_components(
        edge_ids.join(documents.select(id_col), id_col),
        pairs,
        id_col=id_col,
        src_col=src_col,
        dst_col=dst_col,
        max_iter=max_iter,
    )
    labelled = cc.join(docs, cc["id"] == docs["_did"]).select(
        F.col("id").alias(id_col),
        F.col("label").alias("cluster_id"),
        F.col("_len"),
    )
    w = Window.partitionBy("cluster_id")
    rank = Window.partitionBy("cluster_id").orderBy(
        F.col("_len").desc(), F.col(id_col).asc()
    )
    clustered = (
        labelled.withColumn("cluster_size", F.count("*").over(w))
        .withColumn("keep", F.row_number().over(rank) == F.lit(1))
        .drop("_len")
    )
    singles = (
        documents.select(id_col)
        .join(edge_ids, id_col, "left_anti")
        .select(
            F.col(id_col),
            F.col(id_col).alias("cluster_id"),
            F.lit(1).cast("long").alias("cluster_size"),
            F.lit(True).alias("keep"),
        )
    )
    return clustered.unionByName(singles)
