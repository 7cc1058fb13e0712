"""PageRank vs NumPy power-iteration oracle (allclose 1e-6 per north star),
plus checkpoint/resume equivalence, the lifetime of the blocks a call
creates, and the shape and depth of the superstep plan."""

import importlib

import numpy as np
import pytest

from graph_partitioning_spark.checkpoint import CheckpointManager
from graph_partitioning_spark.graph.iterutil import plan_size
from graph_partitioning_spark.graph.pagerank import pagerank

from .conftest import random_edges
from .oracles import pagerank_oracle

# the package re-exports the function under the module's name
pagerank_module = importlib.import_module("graph_partitioning_spark.graph.pagerank")


def _assert_close(result_df, expected, atol=1e-6):
    got = {r.id: r.pagerank for r in result_df.collect()}
    assert set(got) == set(expected)
    g = np.array([got[k] for k in sorted(got)])
    e = np.array([expected[k] for k in sorted(expected)])
    np.testing.assert_allclose(g, e, atol=atol)


def test_pagerank_matches_oracle(spark, small_graph):
    df, (src, dst, _) = small_graph
    result, info = pagerank(df, tol=1e-9, max_iter=200)
    expected = pagerank_oracle(src, dst, tol=1e-9, max_iter=200)
    assert info["converged"]
    _assert_close(result, expected)
    # ranks of a stochastic process sum to ~1
    total = sum(r.pagerank for r in result.collect())
    assert abs(total - 1.0) < 1e-6


def test_pagerank_dangling_nodes(spark):
    # 3 -> dangling sink; star into 0
    edges = [(1, 0, 1.0), (2, 0, 1.0), (0, 3, 1.0)]
    df = spark.createDataFrame(edges, "src long, dst long, weight double")
    src = np.array([e[0] for e in edges])
    dst = np.array([e[1] for e in edges])
    result, info = pagerank(df, tol=1e-10, max_iter=300)
    _assert_close(result, pagerank_oracle(src, dst, tol=1e-10, max_iter=300))


def test_pagerank_weighted_matches_oracle(spark):
    src, dst, w = random_edges(150, 600, seed=19, weighted=True)
    df = spark.createDataFrame(
        list(zip(src.tolist(), dst.tolist(), w.tolist())), "src long, dst long, weight double"
    )
    result, info = pagerank(df, tol=1e-9, max_iter=200, weighted=True)
    assert info["converged"]
    _assert_close(result, pagerank_oracle(src, dst, tol=1e-9, max_iter=200, weights=w))


def test_pagerank_checkpoint_resume(spark, small_graph, tmp_path):
    df, (src, dst, _) = small_graph
    base = str(tmp_path / "ckpt")

    # full run with checkpoints
    full, info_full = pagerank(
        df, tol=1e-8, checkpointer=CheckpointManager(base, "full"), checkpoint_every=2
    )
    full_map = {r.id: r.pagerank for r in full.collect()}

    # partial run (interrupt after 3 iters), then resume to convergence
    partial_mgr = CheckpointManager(base, "partial")
    pagerank(df, tol=1e-8, max_iter=3, checkpointer=partial_mgr, checkpoint_every=1)
    resumed, info_res = pagerank(df, tol=1e-8, checkpointer=partial_mgr, checkpoint_every=1)
    assert info_res["iterations"] > 3
    res_map = {r.id: r.pagerank for r in resumed.collect()}

    for k in full_map:
        assert abs(full_map[k] - res_map[k]) < 1e-7
    # manifest carries counters per north star
    mani = partial_mgr.latest_manifest()
    assert mani["counters"]["edges_scanned"] > 0
    assert mani["counters"]["skew_ratio"] >= 1.0


def _persistent_rdds(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


@pytest.mark.parametrize("path", ["fresh", "converged", "max_iter_0", "resume"])
def test_pagerank_leaves_only_the_result_block(spark, small_graph, tmp_path, path):
    """After a call no cache or checkpoint it made remains, except the one
    backing the returned frame, and that frame survives clearCache()."""
    df, _ = small_graph
    cp = CheckpointManager(str(tmp_path / "ckpt"), "run")
    if path == "resume":
        pagerank(df, tol=0.0, max_iter=3, checkpointer=cp)
    before = _persistent_rdds(spark)
    if path == "fresh":  # one lineage cut mid-run, not at the end
        result, info = pagerank(df, tol=0.0, max_iter=pagerank_module.TRUNCATE_EVERY + 2)
    elif path == "converged":
        result, info = pagerank(df, tol=1e-2)
        assert info["converged"] and info["iterations"] < pagerank_module.TRUNCATE_EVERY
    elif path == "max_iter_0":
        result, info = pagerank(df, max_iter=0)
        assert info["iterations"] == 0
    else:
        result, info = pagerank(df, tol=0.0, max_iter=6, checkpointer=cp)
        assert info["iterations"] == 6
    want = sorted(result.collect())
    assert len(_persistent_rdds(spark) - before) <= 1
    spark.catalog.clearCache()
    assert sorted(result.collect()) == want


def _exchanges(node):
    """Class and partitioning of every exchange in an executed plan, without
    entering cached relations (their own plans ran in earlier jobs)."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _exchanges(node.executedPlan())
    if name.endswith("QueryStageExec"):
        return _exchanges(node.plan())
    found = []
    if name.endswith("ExchangeExec"):
        found.append((name, node.outputPartitioning().getClass().getSimpleName()))
    children = node.children()
    for i in range(children.size()):
        found += _exchanges(children.apply(i))
    return found


def test_superstep_plan_one_exchange_and_bounded_lineage(spark, small_graph, monkeypatch):
    """A steady-state superstep joins the co-partitioned links and state in
    place: its only exchange is the hash shuffle of the messages, and no
    side is broadcast. Over 40 supersteps the state's plan stays as shallow
    as in the first lineage cycles."""
    df, _ = small_graph
    superstep = pagerank_module._superstep
    sizes, plans = [], []

    def traced(links, state, *args):
        sizes.append(plan_size(state))
        out = superstep(links, state, *args)
        if len(sizes) == 2:  # reads the persisted state of superstep 1
            out.collect()
            plans.append(_exchanges(out._jdf.queryExecution().executedPlan()))
        return out

    monkeypatch.setattr(pagerank_module, "_superstep", traced)
    _, info = pagerank(df, tol=0.0, max_iter=40)
    assert info["iterations"] == 40 and len(sizes) == 40
    assert plans == [[("ShuffleExchangeExec", "HashPartitioning")]]
    cycles = 2 * pagerank_module.TRUNCATE_EVERY
    assert max(sizes[cycles:]) <= max(sizes[:cycles])
