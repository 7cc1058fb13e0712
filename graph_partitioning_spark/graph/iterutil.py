"""Loop-state hygiene for iterative DataFrame algorithms.

Persisting per-iteration state is NOT enough: an ``InMemoryRelation`` still
carries its full child plan, so each superstep's logical plan embeds the
previous one and driver-side analysis/optimization grows without bound (the
classic iterative-Spark trap — observed here as 3x wall-clock growth per
superstep). ``localCheckpoint(eager=True)`` truncates the plan to the
materialized RDD, keeping every superstep's planning cost constant. Durable
parquet checkpoints (checkpoint.CheckpointManager) provide the
resume/lineage guarantees on top; local checkpoints are the in-loop
fast path.

``release`` must free the *checkpointed RDD*, not just the DataFrame cache:
``DataFrame.unpersist`` only touches the relation cache, so a long run
would otherwise accumulate one pinned RDD per superstep until the block
manager chokes (observed: storage-memory churn and multi-minute stalls
after ~50 supersteps). We resolve the underlying JVM RDD out of the
``LogicalRDD`` plan leaf and unpersist it directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly truncate lineage; returns a DataFrame backed by cached RDDs.

    The persist→count→localCheckpoint dance is load-bearing:
    ``localCheckpoint`` copies the *pre-checkpoint plan's* statistics into
    the new ``LogicalRDD``, and ``SizeInBytesOnlyStatsPlanVisitor`` computes
    a join's sizeInBytes as the BigInt *product* of its children. An
    iterative plan that references its checkpointed state several times per
    superstep therefore compounds sizeInBytes multiplicatively across
    supersteps — after ~12 supersteps the driver spends minutes in
    BigInteger.multiplyToomCook3 just *estimating* statistics (observed:
    0.9 s → 60 s per superstep). Materializing the cache first makes the
    carried stats the InMemoryRelation's real (small) byte size, so every
    superstep's stats stay ~constant digits.
    """
    cached = df.persist()
    cached.count()
    out = cached.localCheckpoint(eager=True)
    cached.unpersist()
    return out


def plan_size(df: DataFrame, cap: int = 500) -> int:
    """Node count of the analyzed logical plan, walked via py4j with a
    ``cap`` so a pathological plan costs O(cap) JVM calls, not O(plan)."""
    def walk(node, budget):
        if budget <= 0:
            return 0
        n = 1
        children = node.children()
        for i in range(children.size()):
            if n >= budget:
                break
            n += walk(children.apply(i), budget - n)
        return n

    return walk(df._jdf.queryExecution().analyzed(), cap)


# Logical-plan size above which a static frame's lineage is worth cutting:
# bench-path static frames measured <= ~60 nodes, composed-pipeline ones
# >= 136 (see materialize_static).
DEEP_PLAN = 80


def is_deep(df: DataFrame, max_plain_plan: int = DEEP_PLAN) -> bool:
    """True if ``df``'s analyzed plan has more than ``max_plain_plan`` nodes."""
    return plan_size(df, max_plain_plan + 1) > max_plain_plan


def materialize_static(df: DataFrame, max_plain_plan: int = DEEP_PLAN) -> DataFrame:
    """Barrier for STATIC frames (computed once, then only *joined against*
    every superstep: pagerank's link table, a vote loop's symmetrized edge
    frame) — truncate the plan only when there is lineage worth truncating.

    The round-5 failure this guards is a DEEP caller lineage (pages →
    extraction → edges, 100+ logical nodes) re-analyzed by the driver on
    every superstep that joins the frame. But the eager
    persist→count→checkpoint dance of :func:`materialize` costs two extra
    jobs and a cache→checkpoint block copy per frame — measured +5s of
    pure prep per pagerank call at sf0.1, paid even by the common case
    where the frame is a shallow parquet/cache scan (8–42 nodes) whose
    per-superstep re-analysis is already trivial. So: shallow plans keep
    the plain lazy persist (first consuming job fills the cache, exactly
    the pre-truncation cost), deep plans get a lazy local checkpoint —
    the LogicalRDD keeps the frame's partitioning, truncates analysis to
    O(1), and folds its single evaluation into whichever job touches the
    frame first. Thresholds measured: bench-path static frames ≤~60 nodes
    (links 42–45, vertices ~60), composed-pipeline ones ≥136. One more
    AQE wrinkle the threshold sidesteps for shallow frames:
    ``localCheckpoint(eager=False)`` is NOT lazy under adaptive execution —
    ``AdaptiveSparkPlanExec.doExecute`` materializes the shuffle stages at
    call time — so the "lazy" path still pays its evaluation inside the
    caller's prepare step, acceptable only when it replaces a deep-lineage
    re-analysis, not as the common case.

    NOT for loop state: a lazy checkpoint still references its upstream
    blocks until first evaluated (release-before-action would be a
    use-after-free), and self-referencing state needs :func:`materialize`'s
    cache-first stats discipline (see its docstring). Static join inputs
    are referenced a constant number of times per superstep, so their
    estimated stats never compound. ``release`` handles both variants.
    """
    if not is_deep(df, max_plain_plan):
        return df.persist()
    return df.localCheckpoint(eager=False)


def release(df: DataFrame | None) -> None:
    """Free a previously materialized/persisted state (best-effort).

    Unpersists the DataFrame cache and, when the frame IS a materialized
    state — its analyzed plan is a LogicalRDD, possibly under a linear
    Project/Filter/SubqueryAlias chain — the checkpointed RDD behind it.

    It deliberately does NOT walk arbitrary plans for LogicalRDD leaves:
    a derived frame (join/union over several states) reaches leaves this
    caller does not own, and unpersisting those frees *live* checkpoint
    blocks out from under other DataFrames
    (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND on their next action).
    """
    if df is None:
        return
    try:
        df.unpersist()
    except Exception:
        pass
    try:
        node = df._jdf.queryExecution().analyzed()
        while (
            node.getClass().getSimpleName() in ("Project", "Filter", "SubqueryAlias")
            and node.children().size() == 1
        ):
            node = node.children().apply(0)
        if node.getClass().getSimpleName() == "LogicalRDD":
            node.rdd().unpersist(False)
    except Exception:
        pass


class LoopState:
    """State manager for iterative loops: cheap persist per superstep, hard
    plan truncation every ``truncate_every`` steps, deferred releases.

    ``advance(new_df)`` materializes the next state (one job), returns it,
    and frees ancestors that are no longer reachable. Between truncations
    states are plain persisted caches — their plans chain back to the last
    truncated state, so ancestors must stay alive until the next hard
    truncation (releasing earlier would force recomputes or, for
    checkpointed ancestors, CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND).
    """

    def __init__(self, truncate_every: int = 4):
        self.truncate_every = truncate_every
        self.step = 0
        self.current: DataFrame | None = None
        self._pending: list[DataFrame] = []

    def advance(self, new_df: DataFrame, force_truncate: bool = False) -> DataFrame:
        state, _ = self._advance(new_df, None, force_truncate)
        return state

    def advance_agg(
        self, new_df: DataFrame, aggs: list, force_truncate: bool = False
    ):
        """advance() fused with the caller's per-superstep aggregate.

        The materializing action becomes ``new_df.agg(*aggs).first()`` — an
        aggregate scans every partition, so the one job both populates the
        cache and returns the Row the loop needs (changed-count, fingerprint,
        convergence delta). Running it as a separate job after a
        materialize-count would re-analyze the same plan on the driver and
        schedule a second scan: planning + scheduling are serial, which is
        what caps N→4N scaling efficiency on iterative loops.
        Returns ``(state, row)``.
        """
        return self._advance(new_df, aggs, force_truncate)

    def _advance(self, new_df: DataFrame, aggs, force_truncate: bool):
        from pyspark.storagelevel import StorageLevel

        self.step += 1
        truncate = force_truncate or (self.step % self.truncate_every == 0)
        cached = new_df.persist(StorageLevel.MEMORY_AND_DISK)
        row = cached.agg(*aggs).first() if aggs is not None else None
        if row is None:
            cached.count()
        if truncate:
            # cache already populated, so the eager checkpoint is a
            # cache→checkpoint copy carrying the InMemoryRelation's real
            # (small) stats — see materialize() for why that matters
            new_state = cached.localCheckpoint(eager=True)
            cached.unpersist()
        else:
            new_state = cached
        old = self.current
        self.current = new_state
        if truncate:
            if old is not None:
                release(old)
            for df in self._pending:
                release(df)
            self._pending = []
        elif old is not None:
            self._pending.append(old)
        return new_state, row

    def set_initial(self, df: DataFrame) -> DataFrame:
        self.current = materialize(df)
        return self.current

    def close(self, keep_current: bool = True) -> None:
        for df in self._pending:
            release(df)
        self._pending = []
        if not keep_current and self.current is not None:
            release(self.current)
            self.current = None
