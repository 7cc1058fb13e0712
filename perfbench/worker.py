"""One benchmark sample: start a session, run one workload pass, check it.

Started by ``run.py`` as a fresh process for every sample, with its own
``SPARK_LOCAL_DIRS`` and checkpoint directory, so nothing cached by an
earlier pass (Spark's CacheManager, module-level memos, leaked persisted
frames) can serve this one. The pass is what a user pays running the job
once: session start, then the workload on a fresh JVM.

    python3 perfbench/worker.py <config.json>

``config.json`` names the workload, its input and reference files, the
trace flag, a work directory and where to write the result JSON. The
outputs are collected and checked after the timed pass.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import replace

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

K = 16  # FENNEL partitions
FENNEL_PASSES = 2
FENNEL_FIRST_LEG = 1  # the interrupted leg stops after this many passes
FENNEL_MICRO_BATCHES = 2
LPA_ITERATIONS = 2
PAGERANK_TOL = 1e-6
PAGERANK_MAX_ITER = 4
# names the cached references, so changing a parameter above recomputes them
REF_TAG = (
    f"k{K}-fennel{FENNEL_FIRST_LEG}of{FENNEL_PASSES}x{FENNEL_MICRO_BATCHES}"
    f"-lpa{LPA_ITERATIONS}-pr{PAGERANK_MAX_ITER}"
)


def host_ticks() -> tuple[int, int]:
    """(steal, total) ticks over all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def tree_usage(root: int) -> tuple[float, int]:
    """CPU seconds so far and summed peak RSS (``VmHWM``) of ``root`` and all
    its descendants: the Python driver, its JVM and the Python workers the
    JVM forked."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    ticks, rss, todo = 0, 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += int(fields[11]) + int(fields[12])  # utime + stime
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        rss += int(line.split()[1]) * 1024
        except (OSError, IndexError, ValueError):
            pass
    return ticks / os.sysconf("SC_CLK_TCK"), rss


class Checks:
    """Output checks against the independent references."""

    def __init__(self):
        self.results: list[dict] = []

    def add(self, name: str, ok: bool, detail: str = "") -> None:
        self.results.append({"check": name, "ok": bool(ok), "detail": detail})

    def equal_arrays(self, name, got, want) -> None:
        import numpy as np

        ok = len(got) == len(want) and all(np.array_equal(g, w) for g, w in zip(got, want))
        self.add(name, ok, "" if ok else f"rows {len(got[0])} vs {len(want[0])}")


def _sorted_cols(pdf, cols):
    import numpy as np

    pdf = pdf.sort_values(cols[: 2 if len(cols) > 2 else 1], kind="stable")
    return [np.asarray(pdf[c]) for c in cols]


class Pass:
    """State shared by the legs of one workload pass."""

    def __init__(self, spark, data_dir, ckpt_dir, tracer):
        self.spark = spark
        self.data_dir = data_dir
        self.ckpt_dir = ckpt_dir
        self.tracer = tracer
        with open(os.path.join(data_dir, "stats.json")) as f:
            self.stats = json.load(f)
        self.out: dict = {}
        self.ops = 0

    def layer(self, name):
        self.ops += 1
        return self.tracer.layer(name) if self.tracer else nullcontext()

    def checkpointer(self, run_id):
        from graph_partitioning_spark.checkpoint import CheckpointManager

        if self.tracer is None:
            return CheckpointManager(self.ckpt_dir, run_id)
        from tracing import TracedCheckpoints

        return TracedCheckpoints(self.ckpt_dir, run_id, self.tracer)


# -- workloads: the timed part -------------------------------------------------


def web_ingest(p: Pass) -> dict:
    from graph_partitioning_spark.graph import build_graph, degrees, undirect
    from graph_partitioning_spark.sources.iceberg import read_pages

    t0 = time.time()
    with p.layer("sources.read_pages"):
        pages = read_pages(p.spark, os.path.join(p.data_dir, "pages"))
    with p.layer("edges.weight_links"):
        weighted, vertices, edges = build_graph(pages)
        weighted.count()
    with p.layer("edges.vertex_dictionary"):
        vertices = vertices.persist()
        vertices.count()
    with p.layer("edges.extract_edges"):
        edges = edges.persist()
        n_edges = edges.count()
        weighted.unpersist()
    ingest = time.time() - t0
    with p.layer("edges.undirect"):
        und = undirect(edges).persist()
        und.count()
    with p.layer("edges.degrees"):
        deg = degrees(und).persist()
        deg.count()
    wall = time.time() - t0
    p.out.update(vertices=vertices, edges=edges, und=und, deg=deg)
    return {
        "wall_s": wall,
        "edges_per_s": n_edges / ingest,
        "pages_per_s": p.stats["pages"] / ingest,
    }


def superstep_loops(p: Pass) -> dict:
    """The superstep machinery, on two graphs read from parquet: PageRank,
    connected components and triangles on the skewed power-law graph, then
    the checkpointed FENNEL restream (a first leg that stops after
    ``FENNEL_FIRST_LEG`` passes, a resume leg from the last manifest), its
    cut and waste, and checkpointed label propagation on the planted graph."""
    from graph_partitioning_spark.graph import (
        connected_components,
        label_propagation,
        pagerank,
        triangle_count,
    )
    from graph_partitioning_spark.partitioning import (
        cut_metrics,
        fennel_partition,
        modular_initial,
        waste,
    )

    t0 = time.time()
    powerlaw = os.path.join(p.data_dir, "powerlaw")
    edges = p.spark.read.parquet(os.path.join(powerlaw, "edges"))
    und = p.spark.read.parquet(os.path.join(powerlaw, "undirected"))
    with p.layer("pagerank"):
        ranks, info = pagerank(edges, tol=PAGERANK_TOL, max_iter=PAGERANK_MAX_ITER)
    pr_wall = time.time() - t0
    with p.layer("components"):
        comp, cinfo = connected_components(und)
        comp = comp.persist()
        comp.count()
    with p.layer("triangles"):
        tri = triangle_count(edges)

    planted = os.path.join(p.data_dir, "planted")
    pund = p.spark.read.parquet(os.path.join(planted, "edges"))
    ids = p.spark.read.parquet(os.path.join(planted, "vertices"))
    cfg = _fennel_config()
    cp = p.checkpointer("fennel")
    t_fennel = time.time()
    with p.layer("fennel"):
        fennel_partition(
            pund,
            replace(cfg, num_iterations=FENNEL_FIRST_LEG),
            initial=modular_initial(ids, K),
            checkpointer=cp,
        )
    with p.layer("fennel"):
        assign, finfo = fennel_partition(
            pund, cfg, initial=modular_initial(ids, K), checkpointer=cp
        )
    fennel_wall = time.time() - t_fennel
    with p.layer("metrics.cut_metrics"):
        cm = cut_metrics(pund, assign)
    with p.layer("metrics.waste"):
        w = waste(assign, K)
    with p.layer("labelprop"):
        labels, linfo = label_propagation(
            pund, max_iter=LPA_ITERATIONS, checkpointer=p.checkpointer("lpa")
        )
        labels = labels.persist()
        labels.count()
    wall = time.time() - t0
    p.out.update(
        ranks=ranks, info=info, comp=comp, cinfo=cinfo, triangles=tri,
        assign=assign, finfo=finfo, cut=cm, waste=w, labels=labels, linfo=linfo,
    )
    edge_steps = info["n_edges"] * info["iterations"]
    if p.tracer:
        p.tracer.count("pagerank.supersteps", info["iterations"])
        p.tracer.count("pagerank.edges_scanned", info["counters"]["edges_scanned"])
        p.tracer.count("components.supersteps", cinfo["iterations"])
        p.tracer.count("triangles.count", tri)
        p.tracer.count("fennel.passes", finfo["iterations"])
        p.tracer.count("labelprop.supersteps", linfo["iterations"])
        p.tracer.count("metrics.cut_ratio", cm["cut_ratio"])
        p.tracer.count("metrics.waste", w)
    return {
        "wall_s": wall,
        "edges_per_s": edge_steps / pr_wall,
        "pagerank_edges_per_s": edge_steps / pr_wall,
        "fennel_edges_per_s": finfo["counters"]["edges_scanned"] / fennel_wall,
        "cut_ratio": cm["cut_ratio"],
        "waste": w,
    }


WORKLOADS = {
    "web_ingest": web_ingest,
    "superstep_loops": superstep_loops,
}


# -- checks: after the timed pass, against the independent references


def check_web_ingest(p: Pass, chk: Checks, ref: dict) -> None:
    import reference as R

    exp = ref["expected"]
    n = p.stats["vertices"]
    got_n = p.out["vertices"].count()
    chk.add("vertices.count", got_n == n, f"{got_n} vs {n}")
    got = _sorted_cols(p.out["edges"].toPandas(), ["src", "dst", "weight"])
    chk.equal_arrays("edges.match_generator_links", got, [exp["src"], exp["dst"], exp["weight"]])
    us, ud, uw = R.undirect(exp["src"], exp["dst"], exp["weight"], n)
    got = _sorted_cols(p.out["und"].toPandas(), ["src", "dst", "weight"])
    chk.equal_arrays("undirect.match", got, [us, ud, uw])
    deg = R.degrees(us, ud, n)
    ids = deg.nonzero()[0]
    got = _sorted_cols(p.out["deg"].toPandas(), ["id", "degree"])
    chk.equal_arrays("degrees.match", got, [ids, deg[ids]])


def check_superstep_loops(p: Pass, chk: Checks, ref: dict) -> None:
    import numpy as np

    import reference as R

    ids, ranks = _sorted_cols(p.out["ranks"].toPandas(), ["id", "pagerank"])
    ok = np.array_equal(ids, ref["pr_ids"]) and np.allclose(ranks, ref["pr"], atol=1e-6)
    chk.add("pagerank.allclose_1e-6", ok)
    got = _sorted_cols(p.out["comp"].toPandas(), ["id", "component"])
    chk.equal_arrays("components.exact_partition", got, [ref["cc_ids"], ref["cc"]])
    chk.add("components.converged", p.out["cinfo"]["converged"])
    got, want = p.out["triangles"], int(ref["triangles"])
    chk.add("triangles.exact_total", got == want, f"{got} vs {want}")

    g = ref["planted"]
    ids, part = _sorted_cols(p.out["assign"].toPandas(), ["id", "partition"])
    chk.equal_arrays("fennel.resume_equals_uninterrupted", [ids, part], ref["uninterrupted"])
    cut, wst = R.cut_and_waste(g["src"], g["dst"], ids, part, K)
    got = p.out["cut"]["cut_ratio"]
    chk.add("metrics.cut_ratio_recomputed", abs(cut - got) < 1e-12, f"{got} vs {cut}")
    chk.add("metrics.waste_recomputed", abs(wst - p.out["waste"]) < 1e-12, f"{p.out['waste']} vs {wst}")
    # the restream must improve on the modular cold start it refines
    start = float(ref["modular_cut"])
    chk.add("fennel.beats_modular_start", cut < start, f"{cut} vs {start}")
    got = _sorted_cols(p.out["labels"].toPandas(), ["id", "label"])
    chk.equal_arrays("labelprop.match", got, [ref["lpa_ids"], ref["lpa"]])


CHECKS = {
    "web_ingest": check_web_ingest,
    "superstep_loops": check_superstep_loops,
}


def _fennel_config():
    from graph_partitioning_spark.partitioning import FennelConfig

    return FennelConfig(
        num_partitions=K,
        num_iterations=FENNEL_PASSES,
        micro_batches=FENNEL_MICRO_BATCHES,
        bucket_by="mod",
        inflow_cap_slack=0.1,
    )


def _uninterrupted_assignment(spark, data_dir: str) -> list:
    """The same FENNEL configuration run straight through without
    checkpoints, for the resume check. Computed once per input, after the
    timed pass, and kept beside the input."""
    import numpy as np

    from graph_partitioning_spark.partitioning import fennel_partition, modular_initial

    path = os.path.join(data_dir, f"uninterrupted-{REF_TAG}.npz")
    if not os.path.exists(path):
        und = spark.read.parquet(os.path.join(data_dir, "edges"))
        ids = spark.read.parquet(os.path.join(data_dir, "vertices"))
        assign, _ = fennel_partition(und, _fennel_config(), initial=modular_initial(ids, K))
        ids, part = _sorted_cols(assign.toPandas(), ["id", "partition"])
        np.savez(path + ".tmp.npz", ids=ids, part=part)
        os.replace(path + ".tmp.npz", path)
    saved = np.load(path)
    return [saved["ids"], saved["part"]]


def _load_reference(cfg: dict, spark) -> dict:
    import numpy as np

    ref = dict(np.load(cfg["reference_path"]))
    data_dir = cfg["data_dir"]
    if cfg["workload"] == "web_ingest":
        ref["expected"] = np.load(os.path.join(data_dir, "expected.npz"))
    if cfg["workload"] == "superstep_loops":
        planted = os.path.join(data_dir, "planted")
        ref["planted"] = np.load(os.path.join(planted, "graph.npz"))
        ref["uninterrupted"] = _uninterrupted_assignment(spark, planted)
    return ref


def main() -> None:
    with open(sys.argv[1]) as f:
        cfg = json.load(f)
    result: dict = {"checks": [], "errors": [], "ops": 0}

    # the program's modules load in set-up, as a user's script imports them
    # before it starts any work
    import graph_partitioning_spark.graph  # noqa: F401
    import graph_partitioning_spark.partitioning  # noqa: F401
    import graph_partitioning_spark.sources.iceberg  # noqa: F401
    from graph_partitioning_spark.session import get_spark

    extra = None
    if cfg["trace"]:
        # keep every job and stage of the pass in the status store
        extra = {"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"}
    spark = get_spark(app_name="perfbench", extra_conf=extra)
    tracer = None
    try:
        if cfg["trace"]:
            from tracing import Tracer

            tracer = Tracer(spark)
            with tracer.layer("session"):
                spark.range(1).count()
        else:
            spark.range(1).count()
        result["ready_ts"] = time.time()

        p = Pass(spark, cfg["data_dir"], os.path.join(cfg["work_dir"], "ckpt"), tracer)
        steal0, total0 = host_ticks()
        cpu0, _ = tree_usage(os.getpid())
        try:
            result["pass"] = WORKLOADS[cfg["workload"]](p)
            # CPU time is what the pass cost the host; the steal share is the
            # part of the host's CPU time the hypervisor gave to other guests,
            # which explains wall time that moved with no program change
            cpu1, _ = tree_usage(os.getpid())
            steal1, total1 = host_ticks()
            result["pass"]["cpu_s"] = cpu1 - cpu0
            result["pass"]["host_steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
        except Exception:
            result["errors"].append(traceback.format_exc())
            p.ops += 1
        result["peak_rss_bytes"] = tree_usage(os.getpid())[1]
        result["ops"] = p.ops
        if tracer:
            result["layers"] = tracer.metrics()
        if "pass" in result:
            t_check = time.time()
            chk = Checks()
            try:
                CHECKS[cfg["workload"]](p, chk, _load_reference(cfg, spark))
            except Exception:
                result["errors"].append(traceback.format_exc())
                chk.add("checks.completed", False)
            result["checks"] = chk.results
            result["check_s"] = time.time() - t_check
    finally:
        spark.stop()
    _write(cfg, result)


def _write(cfg, result) -> None:
    tmp = cfg["result_path"] + ".tmp"
    with open(tmp, "w") as f:
        json.dump(result, f)
    os.replace(tmp, cfg["result_path"])


if __name__ == "__main__":
    main()
