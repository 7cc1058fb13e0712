"""Seeded input generation for the benchmark workloads.

The program's own generators (``generate_pages``, ``planted_edges``) take no
seed, so the benchmark owns its inputs: each function below is a pure
function of ``(seed, size)`` built with numpy, written once per
(workload, seed) as parquet, and read back by the program like any user's
data. Nothing here imports Spark.

Beside the parquet, every generator writes the numpy arrays the references
and checks start from, so no reference depends on the engine.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from reference import undirect

EPOCH_2022 = 1640995200
LANGS = np.array(["en", "en", "en", "de", "fr", "es", "it", "nl"])
WORDS = np.array(
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
    "mike november oscar papa quebec romeo sierra tango uniform victor whiskey "
    "xray yankee zulu graph vertex edge crawl page link rank spark shard batch "
    "stream index token corpus anchor query table join merge sort scan".split()
)

# Sizes are fixed per workload; only the seed varies. They are chosen so a
# whole run, fresh JVM included, stays well under a minute on local[4]
# (see BASELINE.md). ``superstep_loops`` reads two graphs: a skewed
# power-law one for the analytics and a planted-community one for the
# partitioner.
SIZES = {
    "web_ingest": {"pages": 20_000, "max_out": 12, "external_share": 0.05},
    "superstep_loops": {
        "powerlaw": {"vertices": 10_000, "max_out": 12, "islands": 100},
        "planted": {"vertices": 10_000, "communities": 64, "intra": 8, "inter": 1},
    },
}
FILES_PER_TABLE = 8  # several parquet files, so the scan is parallel


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), stream])


def _write_table(table: pa.Table, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    step = -(-n // FILES_PER_TABLE)
    for i in range(FILES_PER_TABLE):
        part = table.slice(i * step, step)
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


def _powerlaw_links(rng: np.random.Generator, n: int, max_out: int):
    """Directed multi-edges ``src -> floor(src * u^2)``: targets lean
    quadratically toward old (low-id) pages, so in-degree is power-law."""
    outdeg = rng.integers(1, max_out + 1, size=n)
    src = np.repeat(np.arange(n, dtype=np.int64), outdeg)
    u = rng.random(src.size)
    dst = np.floor(src * u * u).astype(np.int64)
    return src, dst


def _stats(src: np.ndarray, dst: np.ndarray, n: int) -> dict:
    """Directed/undirected edge counts and in-degree skew of a simple edge list."""
    lo, hi = np.minimum(src, dst), np.maximum(src, dst)
    undirected = np.unique(lo * n + hi).size
    indeg = np.bincount(dst, minlength=n)
    present = np.zeros(n, dtype=bool)
    present[src] = True
    present[dst] = True
    indeg = indeg[present]
    return {
        "vertices": int(present.sum()),
        "directed_edges": int(src.size),
        "undirected_edges": int(undirected),
        "max_in_degree": int(indeg.max()),
        "avg_in_degree": round(float(indeg.mean()), 4),
    }


def _dedup_directed(src, dst, n):
    """Unique (src, dst) pairs without self-loops, weight = multiplicity."""
    keep = src != dst
    key, weight = np.unique(src[keep] * n + dst[keep], return_counts=True)
    return key // n, key % n, weight.astype(np.float64)


def make_web_ingest(seed: int, out_dir: str, cfg: dict) -> dict:
    """Common-Crawl-style ``pages`` parquet plus the expected edge table.

    Pages link to other pages with power-law in-degree; a share of links
    point to external urls that have no page (dangling vertices). Self-links
    and repeated links are kept in the html, as a crawl would have them.
    """
    n = cfg["pages"]
    rng = _rng(seed, 1)
    n_sites = max(4, n // 50)
    site = np.floor(n_sites * rng.random(n) ** 3).astype(np.int64)
    src, dst = _powerlaw_links(rng, n, cfg["max_out"])
    external = rng.random(src.size) < cfg["external_share"]
    ext_id = rng.integers(0, max(1, n // 10), size=src.size)
    lang = LANGS[rng.integers(0, LANGS.size, size=n)]
    n_words = rng.integers(12, 41, size=n)
    words = WORDS[rng.integers(0, WORDS.size, size=int(n_words.sum()))]

    page_url = [f"https://site{s}.example/p{i}" for i, s in enumerate(site)]
    target_url = [
        f"https://ext{e % 97}.example/x{e}" if ext else page_url[d]
        for d, ext, e in zip(dst.tolist(), external.tolist(), ext_id.tolist())
    ]
    starts = np.concatenate([[0], np.cumsum(np.bincount(src, minlength=n))])
    wstarts = np.concatenate([[0], np.cumsum(n_words)])
    urls, html, text = [], [], []
    for i in range(n):
        title = f"Page {i} of site {site[i]}"
        body = " ".join(words[wstarts[i] : wstarts[i + 1]])
        targets = target_url[starts[i] : starts[i + 1]]
        anchors = [f"Link to {t.rsplit('/', 1)[1]}" for t in targets]
        items = "".join(f'<li><a href="{t}">{a}</a></li>' for t, a in zip(targets, anchors))
        html.append(
            f'<!DOCTYPE html><html lang="{lang[i]}"><head><meta charset="utf-8">'
            f"<title>{title}</title></head><body><h1>{title}</h1><p>{body}</p>"
            f"<nav><ul>{items}</ul></nav></body></html>".encode()
        )
        text.append("\n".join([title, body, *anchors]))
        urls.append(page_url[i])
    table = pa.table(
        {
            "url": pa.array(urls, pa.string()),
            "warc_ts": pa.array(
                (EPOCH_2022 + np.arange(n, dtype=np.int64)) * 1_000_000, pa.timestamp("us", tz="UTC")
            ),
            "html": pa.array(html, pa.binary()),
            "text": pa.array(text, pa.string()),
            "lang": pa.array(lang.tolist(), pa.string()),
        }
    )
    _write_table(table, os.path.join(out_dir, "pages"))

    # expected graph: vertex ids are the rank of the url in sorted order over
    # page urls ∪ link targets; edges drop self-links, weight = multiplicity
    all_urls = np.unique(np.array(urls + target_url, dtype=object).astype(str))
    vid = {u: i for i, u in enumerate(all_urls.tolist())}
    e_src = np.fromiter((vid[page_url[s]] for s in src.tolist()), np.int64, src.size)
    e_dst = np.fromiter((vid[t] for t in target_url), np.int64, len(target_url))
    v = all_urls.size
    s, d, w = _dedup_directed(e_src, e_dst, v)
    np.savez(os.path.join(out_dir, "expected.npz"), src=s, dst=d, weight=w)
    stats = _stats(s, d, v)
    stats.update(pages=n, vertices=int(v), raw_links=int(src.size))
    return stats


def make_powerlaw(seed: int, out_dir: str, cfg: dict) -> dict:
    """Directed power-law edge table with hub skew, plus small islands so
    the component partition is not trivial. Vertex ids are shuffled, so hub
    ids and component minima land anywhere in the id range."""
    os.makedirs(out_dir)
    n = cfg["vertices"]
    rng = _rng(seed, 2)
    main = n - 4 * cfg["islands"]
    src, dst = _powerlaw_links(rng, main, cfg["max_out"])
    # islands: 4-vertex paths a->b->c->d with chord a->c (two triangles
    # once undirected), disjoint from the main graph
    base = main + 4 * np.arange(cfg["islands"], dtype=np.int64)
    isl_src = np.concatenate([base, base + 1, base + 2, base])
    isl_dst = np.concatenate([base + 1, base + 2, base + 3, base + 2])
    src = np.concatenate([src, isl_src])
    dst = np.concatenate([dst, isl_dst])
    perm = rng.permutation(n).astype(np.int64)
    s, d, w = _dedup_directed(perm[src], perm[dst], n)
    _write_table(pa.table({"src": s, "dst": d, "weight": w}), os.path.join(out_dir, "edges"))
    us, ud, uw = undirect(s, d, w, n)
    _write_table(pa.table({"src": us, "dst": ud, "weight": uw}), os.path.join(out_dir, "undirected"))
    np.savez(os.path.join(out_dir, "graph.npz"), src=s, dst=d, weight=w)
    return _stats(s, d, n)


def make_planted(seed: int, out_dir: str, cfg: dict) -> dict:
    """Planted-partition graph: ``communities`` contiguous blocks, ``intra``
    random targets inside the vertex's block and ``inter`` anywhere. Written
    as the canonical undirected edge table (src < dst, summed weight) that
    the partitioners take."""
    os.makedirs(out_dir)
    n, c = cfg["vertices"], cfg["communities"]
    rng = _rng(seed, 3)
    block = n // c
    v = np.arange(n, dtype=np.int64)
    start = np.minimum(v // block, c - 1) * block
    length = np.where(start == (c - 1) * block, n - (c - 1) * block, block)
    intra = start[:, None] + (rng.random((n, cfg["intra"])) * length[:, None]).astype(np.int64)
    inter = rng.integers(0, n, size=(n, cfg["inter"]))
    dst = np.concatenate([intra, inter], axis=1).ravel()
    src = np.repeat(v, cfg["intra"] + cfg["inter"])
    # one directed edge per distinct (src, dst); both directions of a pair
    # sum into the undirected weight
    s, d, w = _dedup_directed(src, dst, n)
    us, ud, uw = undirect(s, d, np.ones_like(w), n)
    _write_table(pa.table({"src": us, "dst": ud, "weight": uw}), os.path.join(out_dir, "edges"))
    _write_table(pa.table({"id": v}), os.path.join(out_dir, "vertices"))
    np.savez(os.path.join(out_dir, "graph.npz"), src=us, dst=ud, weight=uw)
    stats = _stats(s, d, n)
    stats.update(communities=c)
    return stats


def make_superstep_loops(seed: int, out_dir: str, cfg: dict) -> dict:
    return {
        "powerlaw": make_powerlaw(seed, os.path.join(out_dir, "powerlaw"), cfg["powerlaw"]),
        "planted": make_planted(seed, os.path.join(out_dir, "planted"), cfg["planted"]),
    }


MAKERS = {
    "web_ingest": make_web_ingest,
    "superstep_loops": make_superstep_loops,
}


def ensure_inputs(workload: str, seed: int, data_root: str) -> tuple[str, dict]:
    """Generate the (workload, seed) inputs once; later calls reuse them.

    ``stats.json`` is written last and records the sizes, so a directory
    without it (a half-written leftover) or with other sizes is rebuilt.
    """
    out_dir = os.path.join(data_root, f"{workload}-seed{seed}")
    stats_path = os.path.join(out_dir, "stats.json")
    if os.path.exists(stats_path):
        with open(stats_path) as f:
            stats = json.load(f)
        if stats["sizes"] == SIZES[workload]:
            return out_dir, stats
    if os.path.isdir(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    stats = MAKERS[workload](seed, out_dir, SIZES[workload])
    stats["sizes"] = SIZES[workload]
    with open(stats_path + ".tmp", "w") as f:
        json.dump(stats, f)
    os.replace(stats_path + ".tmp", stats_path)
    return out_dir, stats
