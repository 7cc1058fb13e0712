"""Link-graph benchmark: seeded workloads, independent checks, medians.

    python3 perfbench/run.py --workload web_ingest --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 7    # every workload, one table

Run from the repository root. For one workload:

1. refuse to start while another Spark JVM is alive (it would share the
   cores with the measured one);
2. generate the (workload, seed) inputs and their numpy references once,
   under ``perfbench/_data``; nothing in a timed pass generates inputs;
3. take samples until ``--seconds`` have passed (at least one). A sample is
   a fresh ``worker.py`` process with its own ``SPARK_LOCAL_DIRS`` and
   checkpoint directory: session start (``setup_s``, process start to a
   finished trivial job), one workload pass on the new JVM (``wall_s``,
   ``edges_per_s``, peak RSS), then the output checks;
4. print a detail line (input stats, every sample, the workload's own
   figures such as ``pages_per_s`` or ``cut_ratio``, the error rate) and,
   last, the result line with the medians over samples.

With ``--trace 1`` the run takes one traced sample instead: every call runs
under its own Spark job group and the result carries the per-layer metrics,
with ``trace.overhead_s`` the time the pass spent in the tracer itself.
Every process started here has ended before exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA_ROOT = os.path.join(HERE, "_data")
WORK_ROOT = os.path.join(HERE, "_work")
WORKLOADS = ["web_ingest", "superstep_loops"]
CHILD_TIMEOUT_S = 160  # all samples of a run end within this many seconds
CPUS = "4"  # local[4]: the measured box has four cores

# metric name -> unit, for the traced run's per-layer record
LAYER_UNITS = {
    "wall_s": "s",
    "driver_s": "s",
    "jobs": "count",
    "stages_run": "count",
    "stage_reuse_ratio": "ratio",
    "executor_cpu_s": "s",
    "shuffle_write_bytes": "B",
}
COUNT_UNITS = {
    "pagerank.supersteps": "count",
    "pagerank.edges_scanned": "count",
    "components.supersteps": "count",
    "labelprop.supersteps": "count",
    "fennel.passes": "count",
    "checkpoint.saves": "count",
    "checkpoint.bytes_written": "B",
    "triangles.count": "count",
    "metrics.cut_ratio": "ratio",
    "metrics.waste": "ratio",
    "spark.failed_tasks": "count",
    "spark.spill_bytes": "B",
    "trace.overhead_s": "s",
}


# figures of the detail line, printed beside the end-to-end metrics
DETAIL_UNITS = {
    "wall_s": "s",
    "edges_per_s": "1/s",
    "cpu_s": "s",
    "host_steal_share": "ratio",
    "peak_rss_mb": "MB",
    "pages_per_s": "1/s",
    "pagerank_edges_per_s": "1/s",
    "fennel_edges_per_s": "1/s",
    "cut_ratio": "ratio",
    "waste": "ratio",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# -- processes -----------------------------------------------------------------


def _spark_jvms() -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"java" in cmd and b"org.apache.spark" in cmd:
            pids.append(int(entry))
    return pids


def _group_members(pgid: int) -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            pids.append(int(entry))
    return pids


def wait_for_no_spark(grace_s: float = 20.0) -> bool:
    deadline = time.time() + grace_s
    while _spark_jvms():
        if time.time() > deadline:
            return False
        time.sleep(0.2)
    return True


def run_child(args: list[str], env: dict, cwd: str, timeout: float) -> int | None:
    """Run a child in its own process group and wait until every process of
    the group (the child's JVM included) has ended. Returns the exit code,
    or None on timeout."""
    proc = subprocess.Popen(args, env=env, cwd=cwd, start_new_session=True)
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        code = None
    pgid = proc.pid
    deadline = time.time() + (10.0 if code is not None else 0.0)
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                pass
            deadline = time.time() + 10.0
        while _group_members(pgid) and time.time() < deadline:
            time.sleep(0.1)
        if not _group_members(pgid):
            break
    proc.wait()
    return code


# -- set-up --------------------------------------------------------------------


def ensure_reference(workload: str, data_dir: str) -> str:
    """numpy references for one (workload, seed), computed once."""
    import numpy as np

    import reference as R
    import worker as W

    path = os.path.join(data_dir, f"reference-{W.REF_TAG}.npz")
    if os.path.exists(path):
        return path
    out: dict = {}
    if workload == "superstep_loops":
        g = np.load(os.path.join(data_dir, "powerlaw", "graph.npz"))
        with open(os.path.join(data_dir, "stats.json")) as f:
            n = json.load(f)["powerlaw"]["vertices"]
        out["pr_ids"], out["pr"], out["pr_steps"] = R.pagerank(
            g["src"], g["dst"], n, tol=W.PAGERANK_TOL, max_iter=W.PAGERANK_MAX_ITER
        )
        us, ud, _ = R.undirect(g["src"], g["dst"], g["weight"], n)
        out["cc_ids"], out["cc"] = R.components(us, ud, n)
        out["triangles"] = R.triangles(us, ud, n)

        g = np.load(os.path.join(data_dir, "planted", "graph.npz"))
        n = int(max(g["src"].max(), g["dst"].max())) + 1
        out["lpa_ids"], out["lpa"], out["lpa_steps"] = R.label_propagation(
            g["src"], g["dst"], g["weight"], n, W.LPA_ITERATIONS
        )
        ids = np.arange(n)
        out["modular_cut"], _ = R.cut_and_waste(g["src"], g["dst"], ids, ids % W.K, W.K)
    np.savez(path + ".tmp.npz", **out)
    os.replace(path + ".tmp.npz", path)
    return path


def _child_env(work_dir: str) -> dict:
    """Environment of a sample: Spark's scratch and every temporary file of
    the worker and its JVM stay inside the sample's directory."""
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "local")
    env["TMPDIR"] = os.path.join(work_dir, "tmp")
    # no hsperfdata file: the JVM would write it to /tmp whatever tmpdir says
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={env['TMPDIR']} -XX:-UsePerfData"
    env["SPARK_GRAFT_CPUS"] = CPUS
    env["PYTHONPATH"] = ROOT + os.pathsep + env.get("PYTHONPATH", "")
    os.makedirs(env["SPARK_LOCAL_DIRS"])
    os.makedirs(env["TMPDIR"])
    return env


def run_sample(cfg: dict, work_dir: str, budget_s: float) -> dict:
    """One fresh worker process: session start plus one workload pass.
    Its directory (local dirs, checkpoints) is removed afterwards."""
    os.makedirs(work_dir)
    cfg = dict(cfg, result_path=os.path.join(work_dir, "result.json"), work_dir=work_dir)
    cfg_path = os.path.join(work_dir, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    t0 = time.time()
    try:
        code = run_child(
            [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
            _child_env(work_dir),
            work_dir,
            budget_s,
        )
        if code != 0 or not os.path.exists(cfg["result_path"]):
            log(f"worker exited with {code}")
            error = f"worker exited with {code}"
            return {"checks": [], "errors": [error], "ops": 1}
        with open(cfg["result_path"]) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    res["setup_s"] = res["ready_ts"] - t0
    res["sample_s"] = time.time() - t0
    wall = res.get("pass", {}).get("wall_s", float("nan"))
    log(
        f"sample: setup {res['setup_s']:.1f}s, pass {wall:.1f}s, "
        f"checks {res.get('check_s', float('nan')):.1f}s, process {res['sample_s']:.1f}s"
    )
    return res


# -- one workload ----------------------------------------------------------------


def _median(xs):
    return statistics.median(xs) if xs else None


def run_workload(workload: str, seed: int, seconds: int, trace: bool) -> int:
    if not os.path.exists(os.path.join(ROOT, "graph_partitioning_spark", "__init__.py")):
        log(f"no graph_partitioning_spark package under {ROOT}; run from the repository root")
        return 2
    sys.path.insert(0, HERE)
    import inputs

    if not wait_for_no_spark():
        log(f"another Spark JVM is running (pids {_spark_jvms()}); refusing to measure")
        return 3
    t_begin = time.time()
    data_dir, stats = inputs.ensure_inputs(workload, seed, DATA_ROOT)
    cfg = {
        "workload": workload,
        "data_dir": data_dir,
        "reference_path": ensure_reference(workload, data_dir),
        "trace": False,
    }
    log(f"inputs ready in {time.time() - t_begin:.1f}s: {stats}")

    # samples while the run length lasts (at least one); a traced run takes
    # a single traced sample
    cfg["trace"] = trace
    run_dir = os.path.join(WORK_ROOT, f"{workload}-{seed}-{os.getpid()}")
    samples: list[dict] = []
    t_measure = time.time()
    while True:
        budget = CHILD_TIMEOUT_S - (time.time() - t_begin)
        res = run_sample(cfg, os.path.join(run_dir, f"s{len(samples)}"), budget)
        samples.append(res)
        if "pass" not in res or trace or time.time() - t_measure + res["sample_s"] > seconds:
            break
    shutil.rmtree(run_dir, ignore_errors=True)

    timed = [r for r in samples if "pass" in r]
    failed_checks = [c for r in samples for c in r["checks"] if not c["ok"]]
    errors = [e for r in samples for e in r["errors"]]
    failed = len(failed_checks) + len(errors)
    attempted = max(1, sum(r["ops"] + len(r["checks"]) for r in samples))
    correct = failed == 0 and bool(timed)

    per_pass = {k: [r["pass"][k] for r in timed] for k in (timed[0]["pass"] if timed else {})}
    setups = [r["setup_s"] for r in timed]
    rss = [r["peak_rss_bytes"] / 2**20 for r in timed]
    detail = {
        "workload": workload,
        "seed": seed,
        "inputs": stats,
        "samples": len(timed),
        "setup_s": setups,
        "peak_rss_mb": rss,
        "pass": per_pass,
        "medians": {"peak_rss_mb": _median(rss), **{k: _median(v) for k, v in per_pass.items()}},
        "error_rate": failed / attempted,
        "failed_checks": failed_checks,
        "errors": [e.strip().splitlines()[-1] for e in errors],
    }
    print(json.dumps({"detail": detail}))

    if trace:
        traced = [r for r in samples if "layers" in r]
        layers = traced[0]["layers"] if traced else {}
        # a layer the workload does not call reports zero work
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in per_layer_units().items()}
        correct = correct and bool(traced)
    else:
        metrics = {
            "setup_s": {"value": _median(setups), "unit": "s"},
            "wall_s": {"value": _median(per_pass.get("wall_s", [])), "unit": "s"},
            "edges_per_s": {"value": _median(per_pass.get("edges_per_s", [])), "unit": "1/s"},
        }
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if timed else 1


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name of a traced run, with its unit."""
    from tracing import LAYERS, MEASURES

    units = {f"{layer}.{m}": LAYER_UNITS[m] for layer in LAYERS for m in MEASURES}
    units.update(COUNT_UNITS)
    return units


# -- every workload ------------------------------------------------------------------


def run_all(seed: int, seconds: int, trace: bool) -> int:
    """Each workload in its own process; one table of medians and samples."""
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    rows = []
    for w in WORKLOADS:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", str(seed),
             "--seconds", str(seconds), "--trace", str(int(trace))],
            capture_output=True, text=True, cwd=ROOT,
        )
        lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
        if out.returncode != 0 or len(lines) < 2:
            sys.stderr.write(out.stderr[-4000:])
            log(f"{w} failed with exit code {out.returncode}")
            combined["correct"] = False
            combined["failed"] += 1
            continue
        detail, result = json.loads(lines[-2])["detail"], json.loads(lines[-1])
        combined["correct"] &= result["correct"]
        combined["attempted"] += result["attempted"]
        combined["failed"] += result["failed"]
        n = detail["samples"]
        for name, m in result["metrics"].items():
            combined["metrics"][f"{w}.{name}"] = m
            rows.append((w, name, m["unit"], m["value"], 1 if trace else n))
        for name, v in detail["medians"].items():
            if name not in result["metrics"]:
                rows.append((w, name, DETAIL_UNITS.get(name, ""), v, n))
        rows.append((w, "error_rate", "ratio", detail["error_rate"], n))
    print(f"{'workload':18} {'metric':34} {'unit':6} {'median':>16} {'samples':>7}")
    for w, name, unit, v, n in rows:
        print(f"{w:18} {name:34} {unit:6} {float('nan') if v is None else v:16.6g} {n:7d}")
    print(json.dumps(combined))
    return 0 if combined["correct"] else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if a.workload == "all":
        return run_all(a.seed, a.seconds, bool(a.trace))
    return run_workload(a.workload, a.seed, a.seconds, bool(a.trace))


if __name__ == "__main__":
    sys.exit(main())
