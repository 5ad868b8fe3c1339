"""The three workloads: inputs from the seed, warm-up, oracle, one timed
pass of the recipe, and the output checks.

Every call into pcd_spark is one operation, timed from outside in a span
named for its layer; storage is timed through the CheckpointStore and
CorpusTable subclasses below, which open a span and delegate.
"""

from __future__ import annotations

import os
import shutil
import sys
import traceback
import uuid

import numpy as np
from pyspark.sql import functions as F

from pcd_spark.corpus import derive_edges, derive_edges_incremental, derive_graph, synth_corpus
from pcd_spark.graph import connected_components, label_propagation, pagerank, triangle_counts
from pcd_spark.graph.generators import powerlaw_edges
from pcd_spark.graph.partition import adaptive_num_parts
from pcd_spark.storage import CheckpointStore, CorpusTable

from perfbench import oracles
from perfbench.tracing import Tracer

PR_TOL = 1e-8
PR_ATOL = 1e-6  # the engine's documented PageRank accuracy bar
#: PageRank damping on the derived corpus graphs. At 0.85 their superstep
#: count to tol 1e-8 swings from 24 to 70 between seeds (a closed import
#: cycle contracts at exactly the damping rate), which no run-to-run bound
#: could absorb; at 0.5 it stays within 14-18. The per-superstep plan does
#: not depend on the damping.
CORPUS_DAMPING = 0.5

# ---------------------------------------------------------------------------
# storage, timed from outside
# ---------------------------------------------------------------------------


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f)) for root, _, fs in os.walk(path) for f in fs
    )


class TimedCheckpointStore(CheckpointStore):
    """CheckpointStore that spans each call, counts checkpoints and, when
    tracing, the bytes each snapshot wrote."""

    def __init__(self, *args, tracer: Tracer, **kwargs):
        super().__init__(*args, **kwargs)
        self.tracer = tracer
        self.checkpoints = 0
        self.bytes_written = 0

    def checkpoint(self, iteration, state, delta_metric, graph_token=None):
        with self.tracer.span("storage.checkpoint"):
            out = super().checkpoint(iteration, state, delta_metric, graph_token=graph_token)
        self.checkpoints += 1
        if self.tracer.enabled:
            self.bytes_written += _dir_bytes(os.path.join(self.dir, f"iter={iteration:05d}"))
        return out

    def latest(self):
        with self.tracer.span("storage.latest"):
            return super().latest()

    def read_state(self, spark, iteration):
        with self.tracer.span("storage.read_state"):
            return super().read_state(spark, iteration)


class TimedCorpusTable(CorpusTable):
    """CorpusTable that spans each call and, when tracing, counts the bytes
    each committed snapshot wrote."""

    def __init__(self, base_dir: str, *, tracer: Tracer):
        super().__init__(base_dir)
        self.tracer = tracer
        self.bytes_written = 0

    def commit(self, df, note=""):
        with self.tracer.span("storage.commit"):
            sid = super().commit(df, note)
        if self.tracer.enabled:
            self.bytes_written += _dir_bytes(self.snapshots()[-1]["path"])
        return sid

    def read(self, spark, snapshot_id=None):
        with self.tracer.span("storage.read"):
            return super().read(spark, snapshot_id)

    def read_appended(self, spark, start_snapshot_id, end_snapshot_id=None, key_cols=("repo", "path", "commit")):
        with self.tracer.span("storage.read_appended"):
            return super().read_appended(spark, start_snapshot_id, end_snapshot_id, key_cols)


# ---------------------------------------------------------------------------
# one pass: operations, failures and the numbers the metrics are built from
# ---------------------------------------------------------------------------


class Pass:
    """Runs the operations of one pass. A call that raises fails, and every
    later call of the pass is counted as attempted and failed, so the
    number attempted never depends on where a pass broke."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.attempted = 0
        self.failures: list[str] = []
        self.out: dict = {}
        #: per-call numbers: name -> value, summed when a name repeats
        self.stats: dict[str, float] = {}
        #: (edge traversals per superstep, step seconds) per PageRank/LPA call
        self.superstep_calls: list[tuple[int, list[float]]] = []
        self.first_steps: list[float] = []
        self._broken = False

    def call(self, name: str, fn):
        self.attempted += 1
        if self._broken:
            self.failures.append(f"{name}: not run after an earlier failure")
            return None
        try:
            with self.tracer.span(name) as sp:
                return fn(sp)
        except Exception as exc:  # a failing call is counted; the run goes on
            self._broken = True
            self.failures.append(f"{name}: {exc!r}")
            traceback.print_exc(file=sys.stderr)
            return None

    def check(self, name: str, fn) -> None:
        self.attempted += 1
        try:
            ok = fn()
        except Exception as exc:  # a missing or malformed output fails its check
            self.failures.append(f"check {name}: {exc!r}")
            return
        if not ok:
            self.failures.append(f"check {name}: output differs from the oracle")

    def add(self, name: str, value: float) -> None:
        self.stats[name] = self.stats.get(name, 0.0) + value

    def supersteps(self, layer: str, span, st: dict, traversals: int) -> None:
        """Book one PageRank/LPA call: its supersteps feed edges_per_s, and
        the span bills their seconds to the graph.superstep layer."""
        steps = st["step_secs"]
        self.superstep_calls.append((traversals, steps))
        self.add(f"{layer}.supersteps", len(steps))
        if steps:
            self.first_steps.append(steps[0])
        if span is not None:
            span.attributed["graph.superstep"] = span.attributed.get("graph.superstep", 0.0) + sum(steps)


def _pagerank_call(p: Pass, span, edges, traversals: int, **kw):
    """PageRank to tol PR_TOL, collected; returns (ranks, stats_out)."""
    st: dict = {}
    pdf = pagerank(edges, tol=PR_TOL, stats_out=st, **kw).toPandas()
    p.supersteps("graph.pagerank", span, st, traversals)
    return pdf, st


def _lpa_call(p: Pass, span, edges, traversals: int, max_iter: int):
    st: dict = {}
    pdf = label_propagation(edges, max_iter=max_iter, stats_out=st).toPandas()
    p.supersteps("graph.lpa", span, st, traversals)
    return pdf


def _cc_call(p: Pass, edges):
    st: dict = {}
    pdf = connected_components(edges, stats_out=st).toPandas()
    p.add("graph.cc.supersteps", st["iterations"])
    return pdf


def _triangles_call(p: Pass, edges):
    pdf = triangle_counts(edges).toPandas()
    p.add("graph.triangles.total", int(pdf["tri"].sum()) // 3)
    return pdf


def _num_parts_call(p: Pass, edges):
    n = adaptive_num_parts(edges)
    p.add("graph.partition.num_parts", n)
    return n


# ---------------------------------------------------------------------------
# output checks
# ---------------------------------------------------------------------------


def _ranks_ok(pdf, want: dict[int, float]) -> bool:
    got = dict(zip(pdf["vid"].tolist(), pdf["rank"].tolist()))
    if got.keys() != want.keys():
        return False
    keys = sorted(want)
    return bool(np.allclose([got[k] for k in keys], [want[k] for k in keys], rtol=0.0, atol=PR_ATOL))


def _exact_ok(pdf, key: str, col: str, want: dict[int, int]) -> bool:
    return dict(zip(pdf[key].tolist(), pdf[col].tolist())) == want


def _edges_ok(edges_pdf, verts_pdf, want: dict) -> bool:
    """Exact match of the derived graph: same (src, dst, weight) set, and,
    when the vertex table is given, the same (repo, path) -> vid map."""
    got = {
        (s, d): w
        for s, d, w in zip(edges_pdf["src"].tolist(), edges_pdf["dst"].tolist(), edges_pdf["weight"].tolist())
    }
    if got != {k: float(v) for k, v in want["edges"].items()}:
        return False
    if verts_pdf is None:
        return True
    files = {
        (r, p): v
        for v, r, p in zip(verts_pdf["vid"].tolist(), verts_pdf["repo"].tolist(), verts_pdf["path"].tolist())
    }
    return files == want["files"]


def _edge_arrays(edge_map: dict) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    keys = sorted(edge_map)
    src = np.array([k[0] for k in keys], dtype=np.int64)
    dst = np.array([k[1] for k in keys], dtype=np.int64)
    return src, dst, np.array([float(edge_map[k]) for k in keys])


def _corpus_rows(df):
    pdf = df.select("repo", "path", "commit", "lang", "content").toPandas()
    return list(pdf.itertuples(index=False, name=None))


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class Workload:
    """One workload; BENCHMARK.json records why each is in the benchmark."""

    name = ""

    def __init__(self, spark, seed: int, work: str, cache_dir: str, tracer: Tracer):
        self.spark, self.seed, self.work = spark, seed, work
        self.cache_dir, self.tracer = cache_dir, tracer
        self.oracle: dict = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def prepare(self) -> None:
        """Generate the inputs from the seed and persist them."""
        raise NotImplementedError

    def build_oracle(self) -> None:
        raise NotImplementedError

    def warmup(self) -> None:
        """Untimed warm-up: by default one full pass of the recipe (pass 0),
        outputs unchecked; a failure in it shows again in the timed passes."""
        self.before_pass(0)
        self.run_pass(Pass(self.tracer), 0)

    def before_pass(self, pass_no: int) -> None:
        """Untimed per-pass preparation."""

    def run_pass(self, p: Pass, pass_no: int) -> None:
        raise NotImplementedError

    def check(self, p: Pass) -> None:
        raise NotImplementedError


class PowerlawConverge(Workload):
    """PageRank, LPA, CC and triangles to convergence on a power-law edge
    list: per-edge shuffles every superstep, hub skew from alpha=2."""

    name = "powerlaw_converge"
    N_VERTICES, N_EDGES, ALPHA = 15_000, 120_000, 2.0
    LPA_MAX_ITER = 20

    def prepare(self) -> None:
        self.input = self.path("edges")
        powerlaw_edges(self.spark, self.N_VERTICES, self.N_EDGES, self.ALPHA, seed=self.seed).write.parquet(
            self.input
        )

    def warmup(self) -> None:
        # a reduced-size pass with the same plan shapes: on a 4-core box a
        # full cold pass here costs ~10 s more per run, and the timed pass
        # after this one already repeats within 8% over ten seeds
        e = powerlaw_edges(self.spark, self.N_VERTICES // 10, self.N_EDGES // 10, self.ALPHA, seed=self.seed + 1)
        e = e.localCheckpoint(eager=True)
        adaptive_num_parts(e)
        pagerank(e, max_iter=2).toPandas()
        label_propagation(e, max_iter=2).toPandas()
        connected_components(e, max_iter=2).toPandas()
        triangle_counts(e).toPandas()

    def build_oracle(self) -> None:
        pdf = self.spark.read.parquet(self.input).toPandas()
        src, dst = pdf["src"].to_numpy(np.int64), pdf["dst"].to_numpy(np.int64)
        self.directed_edges = len(src)
        self.undirected_edges = oracles.undirected_edge_count(src, dst)

        def compute():
            return oracles.flatten(
                pr=oracles.pagerank_oracle(src, dst),
                lpa=oracles.lpa_oracle(src, dst, self.LPA_MAX_ITER),
                cc=oracles.cc_oracle(src, dst),
                tri=oracles.triangles_oracle(src, dst),
            )

        key = oracles.input_key(src, dst, workload=self.name, lpa_max_iter=self.LPA_MAX_ITER)
        self.oracle = oracles.unflatten(oracles.cached(self.cache_dir, key, compute))

    def run_pass(self, p: Pass, pass_no: int) -> None:
        e = self.spark.read.parquet(self.input)
        p.call("graph.partition", lambda sp: _num_parts_call(p, e))
        p.out["pr"] = p.call("graph.pagerank", lambda sp: _pagerank_call(p, sp, e, self.directed_edges)[0])
        p.out["lpa"] = p.call(
            "graph.lpa", lambda sp: _lpa_call(p, sp, e, 2 * self.undirected_edges, self.LPA_MAX_ITER)
        )
        p.out["cc"] = p.call("graph.cc", lambda sp: _cc_call(p, e))
        p.out["tri"] = p.call("graph.triangles", lambda sp: _triangles_call(p, e))

    def check(self, p: Pass) -> None:
        o = self.oracle
        p.check("pagerank", lambda: _ranks_ok(p.out["pr"], o["pr"]))
        p.check("lpa", lambda: _exact_ok(p.out["lpa"], "vid", "label", o["lpa"]))
        p.check("cc", lambda: _exact_ok(p.out["cc"], "vid", "component", o["cc"]))
        p.check("triangles", lambda: _exact_ok(p.out["tri"], "vid", "tri", o["tri"]))


class CorpusDerive(Workload):
    """K8 derivation of a synthetic corpus, then weighted PageRank, LPA and
    triangles on the small clustered import graph. Not in BENCHMARK.json:
    every run pays about 35 s of session start and warm-up on a 4-core box,
    so 22 runs per workload leave time for two workloads only, and
    ingest_resume already measures the corpus layer. Run it by name."""

    name = "corpus_derive"
    REPOS, FILES_PER_REPO = 40, 50
    LPA_MAX_ITER = 10  # LPA oscillates on this graph, so every run hits the cap

    def prepare(self) -> None:
        self.input = self.path("corpus")
        synth_corpus(self.spark, self.REPOS, self.FILES_PER_REPO, seed=self.seed).write.parquet(self.input)

    def build_oracle(self) -> None:
        self.graph = oracles.derive_corpus_edges(_corpus_rows(self.spark.read.parquet(self.input)))
        src, dst, w = _edge_arrays(self.graph["edges"])
        self.directed_edges = len(src)
        self.undirected_edges = oracles.undirected_edge_count(src, dst)

        def compute():
            return oracles.flatten(
                pr=oracles.pagerank_oracle(src, dst, w, damping=CORPUS_DAMPING),
                lpa=oracles.lpa_oracle(src, dst, self.LPA_MAX_ITER),
                tri=oracles.triangles_oracle(src, dst),
            )

        key = oracles.input_key(
            src, dst, w, workload=self.name, lpa_max_iter=self.LPA_MAX_ITER, damping=CORPUS_DAMPING
        )
        self.oracle = oracles.unflatten(oracles.cached(self.cache_dir, key, compute))

    def run_pass(self, p: Pass, pass_no: int) -> None:
        corpus = self.spark.read.parquet(self.input)

        def derive(sp):
            verts, edges = derive_edges(corpus)
            p.out["edges_df"] = edges.localCheckpoint(eager=True)
            p.out["verts"] = verts.toPandas()
            p.out["edges"] = p.out["edges_df"].toPandas()
            p.add("corpus.files", len(p.out["verts"]))
            p.add("corpus.edges", len(p.out["edges"]))

        p.call("corpus.derive", derive)
        e = p.out.get("edges_df")
        p.call("graph.partition", lambda sp: _num_parts_call(p, e))
        p.out["pr"] = p.call(
            "graph.pagerank",
            lambda sp: _pagerank_call(
                p, sp, e, self.directed_edges, weight_col="weight", damping=CORPUS_DAMPING
            )[0],
        )
        p.out["lpa"] = p.call(
            "graph.lpa", lambda sp: _lpa_call(p, sp, e, 2 * self.undirected_edges, self.LPA_MAX_ITER)
        )
        p.out["tri"] = p.call("graph.triangles", lambda sp: _triangles_call(p, e))

    def check(self, p: Pass) -> None:
        o = self.oracle
        p.check("derived_edges", lambda: _edges_ok(p.out["edges"], p.out["verts"], self.graph))
        p.check("pagerank", lambda: _ranks_ok(p.out["pr"], o["pr"]))
        p.check("lpa", lambda: _exact_ok(p.out["lpa"], "vid", "label", o["lpa"]))
        p.check("triangles", lambda: _exact_ok(p.out["tri"], "vid", "tri", o["tri"]))


class IngestResume(Workload):
    """Snapshot commit, full and incremental derivation, and PageRank with
    durable checkpoints resumed onto the grown graph."""

    name = "ingest_resume"
    REPOS, FILES_PER_REPO, NEW_REPOS = 20, 30, 1  # the append adds 5% files
    CHECKPOINT_EVERY = 5

    def prepare(self) -> None:
        # synth_corpus rows depend only on (seed, file id) and new repos take
        # the next file ids, so the grown corpus holds the base rows unchanged
        self.grown = self.path("grown")
        synth_corpus(self.spark, self.REPOS + self.NEW_REPOS, self.FILES_PER_REPO, seed=self.seed).write.parquet(
            self.grown
        )
        base = self.spark.read.parquet(self.grown).filter(F.col("repo").isin(self.base_repos))
        self.template = self.path("table")
        self.base_snapshot = CorpusTable(self.template).commit(base, note="base")

    @property
    def base_repos(self) -> list[str]:
        return [f"repo{r:03d}" for r in range(self.REPOS)]

    def build_oracle(self) -> None:
        grown_rows = _corpus_rows(self.spark.read.parquet(self.grown))
        base_rows = [r for r in grown_rows if r[0] in set(self.base_repos)]
        self.graphs = {
            "base": oracles.derive_corpus_edges(base_rows),
            "grown": oracles.derive_corpus_edges(grown_rows),
        }
        self.delta_files = len(self.graphs["grown"]["files"]) - len(self.graphs["base"]["files"])
        base = _edge_arrays(self.graphs["base"]["edges"])
        grown = _edge_arrays(self.graphs["grown"]["edges"])
        self.edge_counts = {"base": len(base[0]), "grown": len(grown[0])}

        def compute():
            out = oracles.flatten(
                pr_base=oracles.pagerank_oracle(*base, damping=CORPUS_DAMPING),
                pr_grown=oracles.pagerank_oracle(*grown, damping=CORPUS_DAMPING),
            )
            out["cold_steps"] = np.array([oracles.pagerank_cold_steps(*grown, damping=CORPUS_DAMPING, tol=PR_TOL)])
            return out

        key = oracles.input_key(*base, *grown, workload=self.name, damping=CORPUS_DAMPING)
        arrays = oracles.cached(self.cache_dir, key, compute)
        self.cold_steps = int(arrays.pop("cold_steps")[0])
        self.oracle = oracles.unflatten(arrays)

    def before_pass(self, pass_no: int) -> None:
        # every pass starts from a fresh table holding only the base snapshot
        self.table = TimedCorpusTable(self.path(f"pass-{pass_no}", "table"), tracer=self.tracer)
        shutil.copytree(self.template, self.table.base, dirs_exist_ok=True)
        self.store = TimedCheckpointStore(
            self.path(f"pass-{pass_no}", "checkpoints"), "pagerank", run_id=uuid.uuid4().hex[:12],
            integrity=True, tracer=self.tracer,
        )

    def run_pass(self, p: Pass, pass_no: int) -> None:
        grown_df = self.spark.read.parquet(self.grown)
        table, store = self.table, self.store
        base = p.call("storage.read", lambda sp: table.read(self.spark, self.base_snapshot))

        def derive(sp):
            g = derive_graph(base)
            p.out["edges_base"] = g.edges.toPandas()
            p.add("corpus.files", len(self.graphs["base"]["files"]))  # the input, for files_per_s
            p.add("corpus.edges", len(p.out["edges_base"]))
            return g

        g1 = p.call("corpus.derive", derive)
        p.call("graph.partition", lambda sp: _num_parts_call(p, g1.edges))
        p.out["pr_base"] = p.call(
            "graph.pagerank",
            lambda sp: _pagerank_call(
                p, sp, g1.edges, self.edge_counts["base"], weight_col="weight", damping=CORPUS_DAMPING,
                store=store, checkpoint_every=self.CHECKPOINT_EVERY,
            )[0],
        )
        grown_snapshot = p.call("storage.commit", lambda sp: table.commit(grown_df, note=f"pass {pass_no}"))
        delta = p.call(
            "storage.read_appended", lambda sp: table.read_appended(self.spark, self.base_snapshot, grown_snapshot)
        )

        def incremental(sp):
            st: dict = {}
            g = derive_edges_incremental(g1, delta, stats_out=st)
            p.out["edges_grown"] = g.edges.toPandas()
            p.out["files_updated"] = st["files_updated"]
            p.add("corpus.incremental_files", st["files_updated"])
            return g

        g2 = p.call("corpus.incremental", incremental)

        def resume(sp):
            start = store.latest().iteration
            pdf, st = _pagerank_call(
                p, sp, g2.edges, self.edge_counts["grown"], weight_col="weight", damping=CORPUS_DAMPING,
                store=store, checkpoint_every=self.CHECKPOINT_EVERY,
            )
            p.add("storage.resume_supersteps", st["iterations"] - start)
            return pdf

        p.out["pr_grown"] = p.call("graph.pagerank", resume)
        p.add("storage.checkpoints", store.checkpoints)
        p.add("storage.bytes_written", store.bytes_written + table.bytes_written)

    def check(self, p: Pass) -> None:
        o = self.oracle
        p.check("derived_edges", lambda: _edges_ok(p.out["edges_base"], None, self.graphs["base"]))
        p.check("pagerank", lambda: _ranks_ok(p.out["pr_base"], o["pr_base"]))
        p.check("incremental_files", lambda: p.out["files_updated"] == self.delta_files)
        p.check("incremental_edges", lambda: _edges_ok(p.out["edges_grown"], None, self.graphs["grown"]))
        p.check("pagerank_resumed", lambda: _ranks_ok(p.out["pr_grown"], o["pr_grown"]))


WORKLOADS = {w.name: w for w in (PowerlawConverge, CorpusDerive, IngestResume)}
