"""PageRank as iterative DataFrame joins + grouped aggregations (north-star T1).

Semantics (matched 1e-6 allclose by tests/test_pagerank.py against a NumPy
power-iteration oracle):

    r'(v) = (1-d)/n + d * ( Σ_{u→v} r(u)/outdeg(u)  +  dangling_mass/n )

with dangling_mass = Σ r(u) over vertices with outdeg 0, convergence when
max_v |r'(v) − r(v)| < tol.

Plan shape per superstep (the reference's vote join J1 shape,
/root/reference/graph_partitioning/fennel.pyx:19-38, re-expressed relationally):
  links ⟕ state on src = id  →  explode(edge message, self row)  →  groupBy(target).

Scale notes:
- One hash layout: ``links(src, dst[, weight])`` is cached hash-partitioned
  by ``src`` and the rank state ``(id, rank, w_out)`` by ``id``, both into
  ``spark.sql.shuffle.partitions`` partitions (the count the superstep's
  exchange produces), so the superstep join is a partition-local shuffled
  hash join (query-scoped ``shuffle_hash`` hint: no broadcast, no exchange).
  The state is referenced once per superstep: every joined row emits its
  edge message ``weight * rank / w_out`` and an idempotent self row carrying
  the old rank and ``w_out``, and the single ``groupBy(target)`` exchange
  both sums the messages and builds the next id-partitioned state. That
  exchange is the only shuffle of a steady-state superstep.
- The aggregation is a partial (map-side) + final hash agg, so a power-law
  hub receives pre-combined partial sums, one per shuffle partition, not one
  message per in-edge, and the per-edge self rows collapse to one per vertex
  before the shuffle.
- Prepare is one action: a single aggregate over the vertex table
  ``(id, w_out, in_degree)`` (``w_out`` is the out-weight total, null for a
  dangling vertex) fills the links and vertex caches and returns n, m, the
  in-degree skew and the dangling count (the initial dangling mass is
  n_dangling / n).
- Each superstep is one action: the delta/dangling aggregate over the newly
  persisted state also fills its cache. ``localCheckpoint`` drops the hash
  partitioning (the truncated state reports ``UnknownPartitioning``), so the
  lineage is cut only every ``TRUNCATE_EVERY`` supersteps, and the superstep
  after a cut pays one extra exchange of the state.
- Expressions are written as SQL strings: each ``Column`` operation is one
  driver round trip to the JVM, and a superstep would otherwise spend more
  time building its plan than running it on a small graph.
- With a ``checkpointer`` the state is written durably with a manifest
  (counters: edges_scanned, messages_exchanged, skew_ratio; parameters:
  damping, tol, weighted) every ``checkpoint_every`` supersteps; a killed run
  resumes from the last manifest and refuses one written with other
  parameters.
"""

from __future__ import annotations

import time
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..checkpoint import CheckpointManager, Counters
from .iterutil import is_deep, release

# Supersteps between lineage cuts. Each persisted state's cached plan holds
# the previous state's adaptive plan, whose explain string (built on the
# driver for every executed query) prints both its initial and final plan:
# the string, and the driver time and heap spent on it, double with every
# uncut superstep. Measured on a 62k-edge graph (4 cores): a superstep costs
# the same at depth 1-5, +25% at 6, 2.5x at 8, 10x at 11, and a cut costs
# about one superstep; over 40 supersteps intervals 4-6 tie and 8 is 28%
# slower. Five keeps the cut rate low while staying in the flat region.
TRUNCATE_EVERY = 5

_RESUME_PARAMS = ("damping", "tol", "weighted")
_DANGLING = "sum(CASE WHEN w_out IS NULL THEN rank END)"


def _prepare(edges: DataFrame, weighted: bool):
    """links(src, dst[, weight]) by src and vertices(id, w_out, in_degree)
    by id, both lazily persisted; plus the input cut, if one was made."""
    e = edges.select("src", "dst", "weight") if weighted else edges.select("src", "dst")
    cut = None
    if is_deep(e):
        e = cut = e.localCheckpoint(eager=False)
    n_parts = int(e.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    links = e.repartition(n_parts, "src").persist()
    # one scan of the links emits both endpoints; the partial agg collapses
    # them before the one shuffle by id, and a dst-only id sums no weight
    w = "double(weight)" if weighted else "1D"
    endpoints = links.selectExpr(
        "inline(array("
        f"named_struct('id', src, 'w', {w}, 'd', 0),"
        " named_struct('id', dst, 'w', double(NULL), 'd', 1)))"
    )
    vertices = endpoints.groupBy("id").agg(
        F.expr("sum(w) AS w_out"), F.expr("sum(d) AS in_degree")
    ).persist()
    return links, vertices, cut


def _superstep(
    links: DataFrame, state: DataFrame, weighted: bool, damping: float, base: float, teleport: float
):
    """Next state (id, rank, w_out, _old) from state (id, rank, w_out)."""
    joined = links.join(state.hint("shuffle_hash"), F.expr("src = id"), "right")
    msg = "weight * rank / w_out" if weighted else "rank / w_out"
    # a vertex with no out-links has a null dst and message: its message row
    # carries no value and lands on itself
    rows = joined.selectExpr(
        "inline(array("
        "named_struct('t', id, 'msg', double(NULL), 'old', rank, 'w_out', w_out),"
        f" named_struct('t', coalesce(dst, id), 'msg', {msg}, 'old', double(NULL), 'w_out', double(NULL))))"
    )
    rank = F.lit(base) + F.lit(damping) * (F.expr("coalesce(sum(msg), 0D)") + F.lit(teleport))
    return rows.groupBy(F.expr("t AS id")).agg(
        rank.alias("rank"), F.expr("max(w_out) AS w_out"), F.expr("max(old) AS _old")
    )


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    weighted: bool = False,
    checkpointer: CheckpointManager | None = None,
    checkpoint_every: int = 1,
    resume: bool = True,
) -> tuple[DataFrame, dict[str, Any]]:
    """Run PageRank to convergence. Returns (ranks(id, pagerank), info).

    info: {"iterations", "converged", "delta", "counters": {...}}.
    With a ``checkpointer``, state + manifest land every ``checkpoint_every``
    supersteps and an interrupted run restarts from the last manifest; a
    manifest written with another ``damping``, ``tol`` or ``weighted`` raises
    ``ValueError``.
    """
    spark = edges.sparkSession
    params = {"algorithm": "pagerank", "damping": damping, "tol": tol, "weighted": weighted}
    manifest = checkpointer.latest_manifest() if checkpointer is not None and resume else None
    if manifest is not None and manifest.get("params", {}).get("algorithm") != "pagerank":
        manifest = None  # another algorithm's run: start fresh
    if manifest is not None:
        saved = manifest["params"]
        mismatched = [k for k in _RESUME_PARAMS if saved.get(k) != params[k]]
        if mismatched:
            raise ValueError(
                "pagerank checkpoint was written with other parameters: "
                + ", ".join(f"{k}={saved.get(k)!r} (now {params[k]!r})" for k in mismatched)
            )

    prep0 = time.time()
    links, vertices, cut = _prepare(edges, weighted)
    stats = vertices.selectExpr(
        "count(*) AS n",
        "sum(in_degree) AS m",
        "max(in_degree) AS mx",
        "avg(CASE WHEN in_degree > 0 THEN in_degree END) AS av",
        "count_if(w_out IS NULL) AS n_dangling",
    ).first()
    n = stats["n"]
    if n == 0:
        for df in (links, vertices, cut):
            release(df)
        empty = spark.createDataFrame([], "id long, pagerank double")
        return empty, {"iterations": 0, "converged": True, "delta": 0.0, "counters": {}}
    m = int(stats["m"])
    counters = Counters(skew_ratio=float(stats["mx"]) / max(float(stats["av"]), 1e-12))
    prepare_sec = time.time() - prep0

    loop0 = time.time()
    if manifest is not None:
        start_step = manifest["superstep"]
        counters = Counters.from_dict(manifest["counters"])
        state = checkpointer.load_states(spark, manifest)["ranks"]
        dangling = state.selectExpr(_DANGLING).first()[0] or 0.0
        release(vertices)
        persisted = None
    else:
        start_step = 0
        state = vertices.select("id", F.lit(1.0 / n).alias("rank"), "w_out")
        dangling = stats["n_dangling"] / n
        persisted = vertices

    # `persisted` is the cache the state reads, `truncated` the last lineage
    # cut the chain reads from; the result keeps at most one of them
    truncated = None
    delta = float("inf")
    it = start_step
    converged = False
    base = (1.0 - damping) / n
    iter_secs: list[float] = []
    while it < max_iter:
        it += 1
        t0 = time.time()
        new = _superstep(links, state, weighted, damping, base, dangling / n)
        new = new.persist(StorageLevel.MEMORY_AND_DISK)
        # the aggregate scans every partition, so this one job fills the cache
        row = new.selectExpr(
            "max(abs(rank - _old)) AS delta", f"{_DANGLING} AS dangling"
        ).first()
        delta = row["delta"]
        dangling = row["dangling"] or 0.0
        # the new cache is filled, so the previous one is no longer read
        release(persisted)
        persisted = state = new
        if it % TRUNCATE_EVERY == 0:
            # cache → checkpoint copy; everything older can go
            state = new.localCheckpoint(eager=True)
            release(persisted)
            release(truncated)
            persisted, truncated = None, state
        counters.edges_scanned += m
        counters.messages_exchanged += m
        iter_secs.append(round(time.time() - t0, 3))

        if checkpointer is not None and (it % checkpoint_every == 0 or delta < tol):
            checkpointer.save(
                it, {"ranks": state.drop("_old")}, counters, params={**params, "delta": delta}
            )
        if delta < tol:
            converged = True
            break

    # A chain that reads a checkpoint of this call (the input cut or a
    # truncation) would break once that checkpoint is released, so its
    # filled cache is copied into one final checkpoint. A chain over the
    # caller's input alone keeps its cache and recomputes from the input.
    if persisted is not None and (cut is not None or truncated is not None):
        state = state.localCheckpoint(eager=True)
        release(persisted)
        release(truncated)
        persisted, truncated = None, state
    release(links)
    release(cut)

    result = state.selectExpr("id", "rank AS pagerank")
    info = {
        "prepare_sec": round(prepare_sec, 3),
        "loop_sec": round(time.time() - loop0, 3),
        "iterations": it,
        "converged": converged,
        "delta": float(delta),
        "counters": counters.to_dict(),
        # per-superstep wall clock: superstep 1 carries one-time JVM JIT /
        # codegen warmup; steady-state throughput reads iter_secs[1:]
        "iter_secs": iter_secs,
        "n_vertices": n,
        "n_edges": m,
    }
    return result, info
