"""Checkpoint/resume: an interrupted run must continue (not restart) and
reach the same final state as an uninterrupted run (SURVEY.md §5 test plan)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from graph_partitioning_spark.checkpoint import CheckpointManager
from graph_partitioning_spark.graph import (
    connected_components,
    label_propagation,
    pagerank,
)
from graph_partitioning_spark.graph.edges import undirect
from graph_partitioning_spark.partitioning import FennelConfig, fennel_partition

from .conftest import random_edges


@pytest.fixture(scope="module")
def graph(spark):
    src, dst, w = random_edges(120, 500, seed=19, weighted=True)
    directed = spark.createDataFrame(
        list(zip(src.tolist(), dst.tolist(), w.tolist())),
        "src long, dst long, weight double",
    ).persist()
    return directed, undirect(directed).persist()


def test_pagerank_resume_identical(spark, graph, tmp_path):
    directed, und = graph
    full, info_full = pagerank(directed, tol=1e-8, max_iter=40)
    want = {r["id"]: r["pagerank"] for r in full.collect()}

    cp = CheckpointManager(str(tmp_path / "pr"), "run")
    part1, info1 = pagerank(directed, tol=1e-8, max_iter=3, checkpointer=cp)
    assert info1["iterations"] == 3 and not info1["converged"]

    cp2 = CheckpointManager(str(tmp_path / "pr"), "run")
    part2, info2 = pagerank(directed, tol=1e-8, max_iter=40, checkpointer=cp2)
    assert info2["converged"]
    # resumed run continued from superstep 3, not from scratch
    assert info2["iterations"] == info_full["iterations"]
    got = {r["id"]: r["pagerank"] for r in part2.collect()}
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-12)


@pytest.mark.parametrize(
    "changed", [{"damping": 0.9}, {"tol": 1e-6}, {"weighted": True}]
)
def test_pagerank_resume_refuses_mismatched_parameters(spark, graph, tmp_path, changed):
    """A manifest written with another damping, tol or weighted flag would
    continue a different fixed-point iteration: resume must refuse it."""
    directed, und = graph
    params = {"damping": 0.85, "tol": 1e-8, "weighted": False}
    cp = CheckpointManager(str(tmp_path / "prm"), "run")
    pagerank(directed, max_iter=2, checkpointer=cp, **params)
    saved = cp.latest_manifest()["params"]
    assert {k: saved[k] for k in params} == params

    (name,) = changed
    blocks = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    with pytest.raises(ValueError, match=name):
        pagerank(
            directed,
            max_iter=4,
            checkpointer=CheckpointManager(str(tmp_path / "prm"), "run"),
            **{**params, **changed},
        )
    # refused before any block is built
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keySet()) == blocks
    # the matching parameters still resume where the first run stopped
    _, info = pagerank(
        directed,
        max_iter=4,
        checkpointer=CheckpointManager(str(tmp_path / "prm"), "run"),
        **params,
    )
    assert info["iterations"] == 4


def test_components_resume_identical(spark, graph, tmp_path):
    directed, und = graph
    full, _ = connected_components(und)
    want = {r["id"]: r["component"] for r in full.collect()}

    cp = CheckpointManager(str(tmp_path / "cc"), "run")
    _, info1 = connected_components(und, max_iter=1, checkpointer=cp)
    cp2 = CheckpointManager(str(tmp_path / "cc"), "run")
    part2, info2 = connected_components(und, checkpointer=cp2)
    assert info2["converged"]
    got = {r["id"]: r["component"] for r in part2.collect()}
    assert got == want


def test_labelprop_resume_identical(spark, graph, tmp_path):
    directed, und = graph
    full, info_full = label_propagation(und, max_iter=8)
    want = {r["id"]: r["label"] for r in full.collect()}

    cp = CheckpointManager(str(tmp_path / "lpa"), "run")
    _, info1 = label_propagation(und, max_iter=2, checkpointer=cp)
    cp2 = CheckpointManager(str(tmp_path / "lpa"), "run")
    part2, info2 = label_propagation(und, max_iter=8, checkpointer=cp2)
    got = {r["id"]: r["label"] for r in part2.collect()}
    assert got == want


def test_fennel_resume_identical(spark, graph, tmp_path):
    directed, und = graph
    cfg = FennelConfig(num_partitions=3, num_iterations=3, micro_batches=2)
    full, _ = fennel_partition(und, cfg)
    want = {r["id"]: r["partition"] for r in full.collect()}

    cp = CheckpointManager(str(tmp_path / "fn"), "run")
    cfg1 = FennelConfig(num_partitions=3, num_iterations=1, micro_batches=2,
                        converge_early=False)
    _, info1 = fennel_partition(und, cfg1, checkpointer=cp)
    assert info1["iterations"] == 1

    cp2 = CheckpointManager(str(tmp_path / "fn"), "run")
    part2, info2 = fennel_partition(und, cfg, checkpointer=cp2)
    got = {r["id"]: r["partition"] for r in part2.collect()}
    assert got == want


def test_fennel_resume_rejects_bucket_schedule_mismatch(spark, graph, tmp_path):
    """A checkpointed state keeps the bucket column it was written with —
    resuming under a different bucket schedule (or k) must fail loudly, not
    silently starve the pruned vote join."""
    directed, und = graph
    cp = CheckpointManager(str(tmp_path / "fnm"), "run")
    cfg1 = FennelConfig(num_partitions=3, num_iterations=1, micro_batches=2,
                        converge_early=False)
    fennel_partition(und, cfg1, checkpointer=cp)

    with pytest.raises(ValueError, match="micro_batches"):
        fennel_partition(
            und,
            FennelConfig(num_partitions=3, num_iterations=2, micro_batches=4),
            checkpointer=CheckpointManager(str(tmp_path / "fnm"), "run"),
        )
    with pytest.raises(ValueError, match="bucket_by"):
        fennel_partition(
            und,
            FennelConfig(num_partitions=3, num_iterations=2, micro_batches=2,
                         bucket_by="mod"),
            checkpointer=CheckpointManager(str(tmp_path / "fnm"), "run"),
        )
    # matching config still resumes fine
    part2, info2 = fennel_partition(
        und,
        FennelConfig(num_partitions=3, num_iterations=2, micro_batches=2),
        checkpointer=CheckpointManager(str(tmp_path / "fnm"), "run"),
    )
    assert part2.count() == und.selectExpr("src as id").union(
        und.selectExpr("dst as id")
    ).distinct().count()


def test_multilevel_resume_mid_uncoarsen_bit_identical(spark, tmp_path, monkeypatch):
    """Kill the pyramid mid-uncoarsening; the resumed run must CONTINUE
    from the newest milestone (not restart) and produce bit-identical
    final assignments to an uninterrupted run."""
    import graph_partitioning_spark.partitioning.multilevel as mlmod
    from graph_partitioning_spark.partitioning import (
        MultilevelConfig,
        multilevel_partition,
    )
    from .test_fennel import _edges_df, planted_graph

    src, dst, w = planted_graph()
    edges = _edges_df(spark, src, dst, w)
    cfg = FennelConfig(num_partitions=3, num_iterations=4, micro_batches=6)
    ml = MultilevelConfig(coarsen_to=40, max_levels=4, refine="boundary",
                          boundary_sweeps=2)
    full, info_full = multilevel_partition(edges, cfg, ml)
    want = {r["id"]: r["partition"] for r in full.collect()}
    assert len(info_full["levels"]) >= 2  # the kill below needs ≥2 refinements

    orig = mlmod.refine_boundary
    calls = {"n": 0}

    def bomb(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("killed mid-uncoarsen")
        return orig(*a, **kw)

    monkeypatch.setattr(mlmod, "refine_boundary", bomb)
    cp = CheckpointManager(str(tmp_path / "mlv"), "run")
    with pytest.raises(RuntimeError, match="killed mid-uncoarsen"):
        multilevel_partition(edges, cfg, ml, checkpointer=cp)
    monkeypatch.setattr(mlmod, "refine_boundary", orig)

    cp2 = CheckpointManager(str(tmp_path / "mlv"), "run")
    got_df, info = multilevel_partition(edges, cfg, ml, checkpointer=cp2)
    assert info.get("resumed_from") in ("uncoarsen", "coarse_solved")
    got = {r["id"]: r["partition"] for r in got_df.collect()}
    assert got == want


def test_multilevel_resume_mid_coarsen_bit_identical(spark, tmp_path, monkeypatch):
    """Kill during coarsening (second matching round); resume must skip the
    completed matching, continue coarsening, and finish bit-identical."""
    import graph_partitioning_spark.partitioning.multilevel as mlmod
    from graph_partitioning_spark.partitioning import (
        MultilevelConfig,
        multilevel_partition,
    )
    from .test_fennel import _edges_df, planted_graph

    src, dst, w = planted_graph()
    edges = _edges_df(spark, src, dst, w)
    cfg = FennelConfig(num_partitions=3, num_iterations=4, micro_batches=6)
    ml = MultilevelConfig(coarsen_to=40, max_levels=4, refine="boundary",
                          boundary_sweeps=2)
    full, info_full = multilevel_partition(edges, cfg, ml)
    want = {r["id"]: r["partition"] for r in full.collect()}
    assert len(info_full["levels"]) >= 2

    orig = mlmod.hem_matching
    calls = {"n": 0}

    def bomb(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("killed mid-coarsen")
        return orig(*a, **kw)

    monkeypatch.setattr(mlmod, "hem_matching", bomb)
    cp = CheckpointManager(str(tmp_path / "mlc"), "run")
    with pytest.raises(RuntimeError, match="killed mid-coarsen"):
        multilevel_partition(edges, cfg, ml, checkpointer=cp)
    monkeypatch.setattr(mlmod, "hem_matching", orig)

    cp2 = CheckpointManager(str(tmp_path / "mlc"), "run")
    got_df, info = multilevel_partition(edges, cfg, ml, checkpointer=cp2)
    assert info.get("resumed_from") == "coarsen"
    assert [d["n"] for d in info["levels"]] == [d["n"] for d in info_full["levels"]]
    got = {r["id"]: r["partition"] for r in got_df.collect()}
    assert got == want


def test_multilevel_resume_rejects_config_mismatch(spark, tmp_path):
    from graph_partitioning_spark.partitioning import (
        MultilevelConfig,
        multilevel_partition,
    )
    from .test_fennel import _edges_df, planted_graph

    src, dst, w = planted_graph()
    edges = _edges_df(spark, src, dst, w)
    cfg = FennelConfig(num_partitions=3, num_iterations=2, micro_batches=4)
    ml = MultilevelConfig(coarsen_to=40, max_levels=2)
    cp = CheckpointManager(str(tmp_path / "mlr"), "run")
    multilevel_partition(edges, cfg, ml, checkpointer=cp)
    with pytest.raises(ValueError, match="k="):
        multilevel_partition(
            edges,
            FennelConfig(num_partitions=4, num_iterations=2, micro_batches=4),
            ml,
            checkpointer=CheckpointManager(str(tmp_path / "mlr"), "run"),
        )
