"""The benchmark's workloads: the input each one generates from the
seed, the public engine calls it times, and the checks on their results.

Every call is timed from invocation until its per-vertex result has
been written to parquet, so no lazy tail is charged to the next call.
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np

from perfbench import oracles
from perfbench.driver import CORES, WORK, cpu_seconds, free_cached, start_session
from perfbench.spans import Tracer

PR_TOL = 1e-6
PR_MAX_ITER = 100
# web-hub input: pages of the synthetic crawl (~7 arcs per page survive
# extraction)
WEB_PAGES = 4000
# lfr-communities input: LFR vertices (~6 edges per vertex)
LFR_N = 4500
# Louvain levels with more edges than this run distributed sweeps; set
# below the lfr-communities edge count so level 0 does
LOUVAIN_LOCAL_THRESHOLD = 20_000
# declared LPA caps; a run that reaches one reports converged = 0
LPA_CAP = {"web-hub": 3, "lfr-communities": 3}
# declared cap on Louvain's sweeps per level
LOUVAIN_MAX_SWEEPS = 4
# supersteps the interrupted PageRank leg runs before the restart
RESUME_AFTER = 3


class Run:
    """State of one benchmark run: the live session, the current pass's
    spans, and the checks made so far."""

    def __init__(self, workload: str, seed: int):
        self.workload = workload
        self.seed = seed
        self.spark = None
        self.event_log = False
        self.tracer = Tracer(workload)
        self.checks: dict[str, bool] = {}
        self.ops = 0
        self.facts: dict = {}

    def path(self, name: str) -> str:
        return os.path.join(WORK, "data", name)

    def write(self, df, name: str) -> None:
        df.write.mode("overwrite").parquet(self.path(name))

    def read(self, name: str):
        return self.spark.read.parquet(self.path(name))

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks[name] = self.checks.get(name, True) and bool(ok)
        if not ok:
            print(f"[perfbench] check failed: {name} {detail}",
                  file=sys.stderr, flush=True)

    def restart_session(self) -> None:
        """Stop the SparkSession and start a fresh one in the same
        driver: caches and the block manager are gone, disk state stays."""
        self.spark.stop()
        self.spark = start_session(self.event_log)
        if self.event_log:
            self.tracer.label(self.spark.sparkContext)

    def op(self, layer: str, call, result=None, out: str | None = None,
           tag: str | None = None):
        """Run one public call in a ``layer`` span; ``result`` picks the
        per-vertex frame that is written to ``out`` inside the span."""
        self.ops += 1
        c0 = cpu_seconds()
        with self.tracer.span(layer, tag) as s:
            res = call()
            s.returned = time.time()
            if out is not None:
                self.write(result(res) if result else res, out)
        s.cpu = cpu_seconds() - c0
        free_cached(self.spark)
        return res, s


def lpa_converged(changed_history: list[int]) -> bool:
    """The semi-sync fixpoint rule of operators/lpa.py: two trailing
    zero-mover supersteps."""
    return len(changed_history) >= 2 and changed_history[-1] == 0 == changed_history[-2]


def _arrays(df, *cols):
    rows = df.select(*cols).collect()
    return [np.array([r[i] for r in rows]) for i in range(len(cols))]


def _frame_dict(df, key: str, val: str) -> dict:
    return {r[key]: r[val] for r in df.select(key, val).collect()}


def _pr_check(run: Run, tag: str, edges, ranks_name: str, iterations: int):
    """Ranks allclose 1e-6 to the same number of power-iteration steps,
    and the step count is the first whose L1 change is <= PR_TOL (up to
    float summation order)."""
    src, dst, w = _arrays(edges, "src", "dst", "weight")
    ids, p, deltas = oracles.pagerank(src, dst, w, iterations)
    got = _frame_dict(run.read(ranks_name), "id", "pagerank")
    mine = np.array([got.get(int(i), np.nan) for i in ids])
    run.check(f"{tag}.pagerank_allclose", len(got) == len(ids)
              and np.allclose(mine, p, rtol=0, atol=1e-6),
              f"max err {np.nanmax(np.abs(mine - p))}")
    slack = 1e-9 * PR_TOL
    run.check(f"{tag}.pagerank_stop", deltas[-1] <= PR_TOL + slack and all(
        d > PR_TOL - slack for d in deltas[:-1]), f"{deltas[-2:]}")
    run.check(f"{tag}.pagerank_sum", abs(sum(got.values()) - 1.0) <= 1e-6)
    return src, dst, w


def _components_check(run: Run, tag: str, src, dst, cc_name: str) -> None:
    ids, comp = oracles.components(src, dst)
    got = _frame_dict(run.read(cc_name), "id", "comp")
    run.check(f"{tag}.components_exact", len(got) == len(ids) and all(
        got.get(int(i)) == int(c) for i, c in zip(ids, comp)))


def _triangle_check(run: Run, tag: str, src, dst, tri_name: str) -> None:
    ids, counts = oracles.vertex_triangles(src, dst)
    got = _frame_dict(run.read(tri_name), "id", "triangles")
    run.check(f"{tag}.triangles_exact", len(got) == len(ids) and all(
        got.get(int(i)) == int(c) for i, c in zip(ids, counts)))


def _modularity_check(run: Run, name: str, src, dst, w, memb_name: str,
                      q_engine: float) -> None:
    ids, comm = _arrays(run.read(memb_name), "id", "comm")
    q = oracles.modularity(src, dst, w, ids, comm)
    run.check(name, abs(q - q_engine) <= 1e-6, f"{q_engine} vs {q}")


# ---------------------------------------------------------------- web-hub

class WebHub:
    """Synthetic crawl with Zipf hub skew: page extraction, then the four
    graph kernels in bucketed-table mode, all over one edge table."""

    name = "web-hub"

    @staticmethod
    def make_input(run: Run) -> None:
        from communitydetection_jl_spark.sources.pages import synth_pages

        # the generator's mean out-degree cycles with its seed mod 3
        # (about 15, 17 and 16 links per page at avg_outlinks=16); a
        # multiple of 3 keeps the degree law fixed while the seed still
        # draws every link target, the dangling set and the hubs' links
        pages = synth_pages(run.spark, n_pages=WEB_PAGES,
                            n_hosts=max(64, WEB_PAGES // 100),
                            avg_outlinks=16, seed=3 * run.seed)
        # one file per core instead of one per generator partition
        run.write(pages.coalesce(CORES), "pages")

    @staticmethod
    def run_pass(run: Run, k: int) -> dict:
        from communitydetection_jl_spark.functions.ids import densify_edges
        from communitydetection_jl_spark.operators.components import connected_components
        from communitydetection_jl_spark.operators.lpa import lpa
        from communitydetection_jl_spark.operators.pagerank import pagerank
        from communitydetection_jl_spark.operators.triangles import vertex_triangle_counts
        from communitydetection_jl_spark.sources.pages import (
            HREF_PATTERN, extract_edges, latest_captures, restrict_to_corpus,
            url_dim)

        t0, c0 = time.time(), cpu_seconds()

        def extract():
            pages = run.read("pages")
            edges, dim = densify_edges(restrict_to_corpus(
                extract_edges(pages), url_dim(latest_captures(pages))))
            run.write(edges, "edges")
            dim.unpersist()
            return run.read("edges").count()

        m, sp_src = run.op("sources", extract)
        pr, sp_pr = run.op("pagerank", lambda: pagerank(
            run.read("edges"), tol=PR_TOL, max_iter=PR_MAX_ITER, mode="tables"),
            lambda r: r.ranks, "pr")
        lp, sp_lpa = run.op("lpa", lambda: lpa(
            run.read("edges"), max_iter=LPA_CAP[run.workload], mode="tables"),
            lambda r: r.labels, "lpa")
        _, sp_cc = run.op("components", lambda: connected_components(
            run.read("edges"), mode="tables"), out="cc")
        _, sp_tri = run.op("triangles", lambda: vertex_triangle_counts(
            run.read("edges")), out="tri")
        pipeline_s, pipeline_cpu_s = time.time() - t0, cpu_seconds() - c0

        with run.tracer.span("check") as sp_check:
            src, dst, w = _pr_check(run, "web", run.read("edges"), "pr",
                                    pr.iterations)
            _components_check(run, "web", src, dst, "cc")
            if "links" not in run.facts:
                pages = run.read("pages").select("url", "text").dropDuplicates(["url"])
                urls, texts = _arrays(pages, "url", "text")
                run.facts["links"] = oracles.web_links(
                    urls.tolist(), texts.tolist(), HREF_PATTERN)
            ls, ld = run.facts["links"]
            _, comp = oracles.components(ls, ld)
            cc_ids, cc_comp = _arrays(run.read("cc"), "id", "comp")
            run.check("web.edge_count", m == len(ls), f"{m} vs {len(ls)}")
            run.check("web.vertex_count", len(cc_ids) == len(comp))
            run.check("web.component_count",
                      len(np.unique(cc_comp)) == len(np.unique(comp)))
            _triangle_check(run, "web", src, dst, "tri")

        return {
            "pipeline_s": pipeline_s,
            "pipeline_cpu_s": pipeline_cpu_s,
            "check_s": sp_check.seconds,
            "extract_s": sp_src.seconds,
            "pagerank_s": sp_pr.seconds,
            "lpa_s": sp_lpa.seconds,
            "components_s": sp_cc.seconds,
            "triangles_s": sp_tri.seconds,
            "pagerank_edges_per_s": m * pr.iterations / sp_pr.seconds,
            "lpa_edges_per_s": 2 * m * lp.iterations / sp_lpa.seconds,
            "pagerank_edges_per_cpu_s": m * pr.iterations / sp_pr.cpu,
            "lpa_edges_per_cpu_s": 2 * m * lp.iterations / sp_lpa.cpu,
            "m": m,
            "n": len(cc_ids),
            "results": {"pagerank": pr, "lpa": lp},
            "steps": {"pagerank": [(sp_pr, pr.iter_seconds)],
                      "lpa": [(sp_lpa, lp.iter_seconds)]},
        }


# -------------------------------------------------------- lfr-communities

class LfrCommunities:
    """LFR planted-community graph with flat degrees. PageRank runs the
    checkpoint path: directory-mode state under a RunLedger, stopped
    after a few supersteps, SparkSession restarted, resumed to
    convergence. Then LPA, Louvain and the modularity of both
    memberships."""

    name = "lfr-communities"

    @staticmethod
    def make_input(run: Run) -> None:
        from communitydetection_jl_spark.sources.fixtures import lfr

        edges, _ = lfr(run.spark, n=LFR_N, seed=run.seed)
        run.write(edges.coalesce(CORES), "edges")

    @staticmethod
    def run_pass(run: Run, k: int) -> dict:
        from communitydetection_jl_spark.operators.louvain import louvain
        from communitydetection_jl_spark.operators.lpa import lpa
        from communitydetection_jl_spark.operators.modularity import modularity
        from communitydetection_jl_spark.operators.pagerank import pagerank
        from communitydetection_jl_spark.plans.runner import RunLedger

        t0, c0 = time.time(), cpu_seconds()
        ledgers = run.path(f"runs{k}")

        def resumable_pagerank(max_iter):
            return pagerank(run.read("edges"), tol=PR_TOL, max_iter=max_iter,
                            mode="dir", ledger=RunLedger(ledgers, run_id="pagerank"))

        pr_a, sp_pr_a = run.op("pagerank", lambda: resumable_pagerank(RESUME_AFTER),
                               tag="interrupted")
        with run.tracer.span("runner", "restart") as sp_restart:
            run.restart_session()
        pr, sp_pr = run.op("pagerank", lambda: resumable_pagerank(PR_MAX_ITER),
                           lambda r: r.ranks, "pr", tag="resumed")
        ledger_bytes = sum(os.path.getsize(os.path.join(d, f))
                           for d, _, fs in os.walk(ledgers) for f in fs)
        lp, sp_lpa = run.op("lpa", lambda: lpa(
            run.read("edges"), max_iter=LPA_CAP[run.workload], mode="tables"),
            lambda r: r.labels, "lpa")
        lv, sp_lv = run.op("louvain", lambda: louvain(
            run.read("edges"), local_threshold=LOUVAIN_LOCAL_THRESHOLD,
            max_sweeps=LOUVAIN_MAX_SWEEPS, mode="tables"),
            lambda r: r.membership, "louvain")
        (q_lpa, q_lv), sp_mod = run.op("modularity", lambda: (
            modularity(run.read("edges"), run.read("lpa")),
            modularity(run.read("edges"), run.read("louvain"))))
        pipeline_s, pipeline_cpu_s = time.time() - t0, cpu_seconds() - c0

        with run.tracer.span("check") as sp_check:
            src, dst, w = _pr_check(run, "lfr", run.read("edges"), "pr",
                                    pr.iterations)
            _modularity_check(run, "lfr.lpa_modularity", src, dst, w, "lpa", q_lpa)
            _modularity_check(run, "lfr.louvain_modularity", src, dst, w, "louvain", q_lv)
            run.check("lfr.louvain_quality", abs(lv.quality - q_lv) <= 1e-6,
                      f"{lv.quality} vs {q_lv}")

        m = len(src)
        pagerank_s = sp_pr_a.seconds + sp_pr.seconds
        return {
            "pipeline_s": pipeline_s,
            "pipeline_cpu_s": pipeline_cpu_s,
            "check_s": sp_check.seconds,
            "pagerank_s": pagerank_s,
            "resume_s": sp_restart.seconds + sp_pr.seconds,
            "lpa_s": sp_lpa.seconds,
            "modularity_s": sp_mod.seconds,
            "louvain_s": sp_lv.seconds,
            "pagerank_edges_per_s": m * pr.iterations / pagerank_s,
            "lpa_edges_per_s": 2 * m * lp.iterations / sp_lpa.seconds,
            "pagerank_edges_per_cpu_s": m * pr.iterations / (sp_pr_a.cpu + sp_pr.cpu),
            "lpa_edges_per_cpu_s": 2 * m * lp.iterations / sp_lpa.cpu,
            "lpa_q": q_lpa,
            "louvain_q": q_lv,
            "m": m,
            "n": len(np.unique(np.concatenate([src, dst]))),
            "results": {"pagerank": pr, "lpa": lp, "louvain": lv},
            "steps": {"pagerank": [(sp_pr_a, pr_a.iter_seconds),
                                   (sp_pr, pr.iter_seconds)],
                      "lpa": [(sp_lpa, lp.iter_seconds)]},
            "runner": {
                "restart_s": sp_restart.seconds,
                "ledger_mb": ledger_bytes / (1 << 20),
                "resumed_supersteps": pr.iterations - pr_a.iterations,
                "first_resumed_step_s": pr.iter_seconds[0],
            },
        }


WORKLOADS = {w.name: w for w in (WebHub, LfrCommunities)}
