"""The workloads: seeded inputs, one timed unit each, and its checks.

Each workload writes its input once per set-up repetition (``write_input``),
runs a *unit* of work through the engine's public functions, and checks the
unit's written outputs against oracle results computed without Spark.
A unit returns its op walls, the PageRank superstep rows and a few counts.
"""

from __future__ import annotations

import contextlib
import io
import os
import shutil
import time
from collections.abc import Callable, Iterator

import numpy as np
import pyarrow.dataset as ds
from pyspark import StorageLevel

import verify
from halvesting_geometric_spark import cli
from halvesting_geometric_spark.datagen import generate_transcripts
from halvesting_geometric_spark.operators import graph as graph_ops
from halvesting_geometric_spark.operators.components import connected_components
from halvesting_geometric_spark.operators.graph import build_graph
from halvesting_geometric_spark.operators.labelprop import label_propagation
from halvesting_geometric_spark.operators.pagerank import pagerank
from halvesting_geometric_spark.operators.triangles import triangle_count
from halvesting_geometric_spark.plans.checkpoint import CheckpointManager
from halvesting_geometric_spark.schemas import TRANSCRIPTS_SCHEMA
from halvesting_geometric_spark.session import small_state_aqe_bypass

# build_graph's steps, by the names it calls them under: (function, span,
# the count of its output that a traced unit records)
BUILD_LAYERS = (
    ("extract_conv_edges", "extract", "edges"),
    ("build_vertices", "ids.vertices", "vertices"),
    ("edges_to_ids", "ids.edges", "id_edges"),
)


@contextlib.contextmanager
def timed(walls: dict, key: str) -> Iterator[None]:
    """Adds the block's wall seconds to ``walls[key]``."""
    t0 = time.monotonic()
    try:
        yield
    finally:
        walls[key] = walls.get(key, 0.0) + time.monotonic() - t0


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def aqe_off(spark) -> bool:
    return spark.conf.get("spark.sql.adaptive.enabled").lower() == "false"


class Workload:
    """Shared plumbing: seeded transcripts (``generate_transcripts`` written
    as parquet) as input; subclasses set the sizes and define the unit.

    ``build_graph``'s steps are wrapped in place, in the module it calls them
    from, so that every ``build_graph`` call (the library's or the CLI's)
    runs each step in its own span in traced units."""

    name = ""
    ops: tuple[str, ...] = ()  # one attempted operation each per unit
    n_convs = 0

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.span = ctx.tracer.span
        self.layer_counts: dict = {}  # output counts of the traced layers
        self._patched: list[tuple] = []
        for attr, name, key in BUILD_LAYERS:
            self.patch(graph_ops, attr, self.layer(getattr(graph_ops, attr), name, key))

    def patch(self, owner, attr: str, fn) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, fn)

    def layer(self, fn, name: str, key: str):
        """``fn``, which returns a DataFrame, run in span ``name`` in traced
        units, with its output persisted and counted at the boundary so that
        its work lands in that span; untraced, ``fn`` itself runs."""
        tracer, counts = self.ctx.tracer, self.layer_counts

        def wrapped(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name):
                return self.boundary(fn(*args, **kwargs), counts, key)

        return wrapped

    def key(self) -> str:
        return f"{self.name}-seed{self.ctx.seed}-size{self.n_convs}"

    def params(self) -> str:
        """The unit's settings that its expected outputs depend on."""
        raise NotImplementedError

    def write_input(self, path: str) -> None:
        with self.span("datagen"):
            generate_transcripts(self.spark, self.n_convs, seed=self.ctx.seed) \
                .write.parquet(path)

    def check_input(self, path: str) -> None:
        convs = ds.dataset(path).to_table(columns=["conv_id"]).column("conv_id")
        n = len(convs.unique())
        if n != self.n_convs:
            raise RuntimeError(f"{path}: {n} conversations, wanted {self.n_convs}")
        self.turns = len(convs)

    def graph(self) -> tuple[np.ndarray, np.ndarray]:
        return verify.transcripts_graph(self.ctx.oracles, self.n_convs, self.ctx.seed)

    def expected(self) -> dict[str, np.ndarray]:
        raise NotImplementedError

    def unit(self, out: str) -> dict:
        raise NotImplementedError

    def checks(self, out: str, res: dict, exp: dict) -> list[Callable]:
        """Checks of one unit's outputs; each returns None or what is wrong."""
        raise NotImplementedError

    def close(self) -> None:
        """Undo whatever the workload patched into the engine's modules."""
        while self._patched:
            owner, attr, fn = self._patched.pop()
            setattr(owner, attr, fn)

    @staticmethod
    def boundary(df, counts: dict, key: str):
        """Persist and count a layer's output at its boundary."""
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        counts[key] = df.count()
        return df


class TranscriptsPipeline(Workload):
    """read -> build_graph -> PageRank -> components -> LPA -> triangles."""

    name = "transcripts"
    ops = ("graph_build", "pagerank", "components", "labelprop", "triangles")
    n_convs = 3_000
    pr_iters = 36
    pr_batch = 6
    lpa_iters = 5

    def params(self) -> str:
        return f"pr{self.pr_iters}-lpa{self.lpa_iters}"

    def expected(self) -> dict[str, np.ndarray]:
        o = self.ctx.oracles
        names, edges = self.graph()
        n = len(names)
        total, per_vertex = o.triangles_oracle(edges, n)
        return {
            "names": names,
            "edges": edges,
            "ranks": o.pagerank_oracle(edges, n, fixed_iters=self.pr_iters),
            "components": o.components_oracle(edges, n),
            "labels": o.label_propagation_oracle(edges, n, self.lpa_iters),
            "triangles": per_vertex,
            "triangles_total": np.int64(total),
        }

    def unit(self, out: str) -> dict:
        spark, walls, counts = self.spark, {}, self.layer_counts
        counts.clear()
        with timed(walls, "pipeline"):
            tr = spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(self.ctx.input)
            with timed(walls, "graph_build"):
                g = build_graph(tr, scalable_ids=True)
                g.edges.write.mode("overwrite").parquet(f"{out}/edges")
                g.vertices.write.mode("overwrite").parquet(f"{out}/vertices")
            e = spark.read.parquet(f"{out}/edges")
            v = spark.read.parquet(f"{out}/vertices")
            n_edges = e.count()  # the CLI's probe for the small-state bypass
            with small_state_aqe_bypass(spark, n_edges):
                counts["aqe_bypassed"] = int(aqe_off(spark))
                with timed(walls, "pagerank"), self.span("pagerank"):
                    pr = pagerank(
                        e, v, fixed_iters=self.pr_iters,
                        delta_check_every=self.pr_batch,
                    )
                    pr.ranks.write.mode("overwrite").parquet(f"{out}/ranks")
                with timed(walls, "components"), self.span("components"):
                    cc = connected_components(e, v)
                    cc.components.write.mode("overwrite").parquet(f"{out}/components")
                with timed(walls, "labelprop"), self.span("labelprop"):
                    lp = label_propagation(e, v, fixed_iters=self.lpa_iters)
                    lp.labels.write.mode("overwrite").parquet(f"{out}/labels")
                with timed(walls, "triangles"), self.span("triangles"):
                    tri = triangle_count(e, v)
                    tri.per_vertex.write.mode("overwrite").parquet(f"{out}/triangles")
        counts = dict(
            counts, n_edges=pr.num_edges, rounds=cc.rounds,
            iterations=lp.iterations, triangles=tri.total,
        )
        return {"walls": walls, "supersteps": [pr.metrics], "counts": counts}

    def checks(self, out: str, res: dict, exp: dict) -> list[Callable]:
        got, want = res["counts"]["triangles"], int(exp["triangles_total"])
        return [
            lambda: verify.check_graph(f"{out}/edges", f"{out}/vertices", exp),
            lambda: verify.check_ranks(f"{out}/ranks", exp["ranks"]),
            lambda: verify.check_exact(
                f"{out}/components", "component", exp["components"]
            ),
            lambda: verify.check_exact(f"{out}/labels", "label", exp["labels"]),
            lambda: verify.check_exact(
                f"{out}/triangles", "triangles", exp["triangles"]
            ),
            lambda: None if got == want else f"triangle total {got} != {want}",
        ]


class CkptResume(Workload):
    """``cli.main`` in-process: a checkpointed PageRank stopped after
    ``leg_iters`` supersteps (the interrupted run), then ``--resume`` to
    ``total_iters``."""

    name = "ckpt-resume"
    ops = ("ckpt_run", "resume")
    n_convs = 2_000
    leg_iters = 5
    total_iters = 10

    def params(self) -> str:
        return f"legs{self.leg_iters}-{self.total_iters}"

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        self._calls: list[dict] = []
        save, load, run = (
            CheckpointManager.save_state, CheckpointManager.load_state, cli.pagerank
        )
        calls, span = self._calls, self.span

        def save_state(mgr, *args, **kwargs):
            t0 = time.monotonic()
            with span("checkpoint.save"):
                out = save(mgr, *args, **kwargs)
            calls.append({"op": "save", "wall": time.monotonic() - t0})
            return out

        def run_pagerank(*args, **kwargs):
            t0 = time.monotonic()
            with span("pagerank"):
                res = run(*args, **kwargs)
            calls.append({
                "op": "pagerank", "wall": time.monotonic() - t0,
                "metrics": res.metrics, "n_edges": res.num_edges,
                "bypassed": aqe_off(self.spark),
            })
            return res

        self.patch(CheckpointManager, "save_state", save_state)
        # load_state only returns the lazy read: materialize it in the span
        self.patch(CheckpointManager, "load_state",
                   self.layer(load, "checkpoint.load", "loaded_rows"))
        self.patch(cli, "pagerank", run_pagerank)

    def expected(self) -> dict[str, np.ndarray]:
        o = self.ctx.oracles
        names, edges = self.graph()
        n = len(names)
        return {
            "leg": o.pagerank_oracle(edges, n, fixed_iters=self.leg_iters),
            "ranks": o.pagerank_oracle(edges, n, fixed_iters=self.total_iters),
        }

    def _cli(self, argv: list[str]) -> None:
        with self.span("cli"), contextlib.redirect_stdout(io.StringIO()):
            rc = cli.main(argv)
        if rc:
            raise RuntimeError(f"cli {' '.join(argv)} exited {rc}")

    def unit(self, out: str) -> dict:
        walls: dict = {}
        self.layer_counts.clear()
        ckpt = f"{out}/ckpt"
        shutil.rmtree(ckpt, ignore_errors=True)
        base = ["pagerank", "--transcripts", self.ctx.input, "--checkpoint-dir", ckpt]
        del self._calls[:]
        with timed(walls, "pipeline"):
            with timed(walls, "ckpt_run"):
                self._cli(base + ["--output", f"{out}/leg",
                                  "--max-iter", str(self.leg_iters)])
            with timed(walls, "resume"):
                self._cli(base + ["--output", f"{out}/ranks", "--resume",
                                  "--max-iter", str(self.total_iters)])
        runs = [c for c in self._calls if c["op"] == "pagerank"]
        saves = [c["wall"] for c in self._calls if c["op"] == "save"]
        walls["pagerank"] = sum(c["wall"] for c in runs)
        ckpt_bytes = dir_bytes(ckpt)
        counts = {
            **self.layer_counts,
            "n_edges": runs[-1]["n_edges"],
            "aqe_bypassed": int(all(c["bypassed"] for c in runs)),
            "resumed_supersteps": len(runs[-1]["metrics"]),
            "save_walls": saves,
            "ckpt_bytes": ckpt_bytes,
            "saves": len(saves),
        }
        supersteps = [c["metrics"] for c in runs]
        return {"walls": walls, "supersteps": supersteps, "counts": counts}

    def checks(self, out: str, res: dict, exp: dict) -> list[Callable]:
        resumed = res["counts"]["resumed_supersteps"]
        want = self.total_iters - self.leg_iters
        return [
            lambda: verify.check_ranks(f"{out}/leg", exp["leg"]),
            lambda: verify.check_ranks(f"{out}/ranks", exp["ranks"]),
            lambda: None if resumed == want
            else f"resume ran {resumed} supersteps, wanted {want}",
        ]


WORKLOADS = {w.name: w for w in (TranscriptsPipeline, CkptResume)}
