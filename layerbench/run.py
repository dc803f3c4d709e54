#!/usr/bin/env python3
"""Layered benchmark of the transcript -> graph engine.

    python3 layerbench/run.py --workload transcripts --seed 1 \
        --seconds 20 --trace 0

Run from the repository root. One closed-loop client drives the engine's
public functions on ``local[<cores>]`` from this process, one job at a
time. A run sets up (session start; seeded input written, checked and
renamed into place, three times), then repeats the workload's unit for
``--seconds``, at least once, and reports medians. Every unit's written
outputs are checked against the oracles in ``tests/oracles.py``.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` turns on Spark's
event log, discards a first unit, alternates traced and untraced units, and
prints the per-layer metrics; the per-span rows go to
``.layerbench/traces/``. The last line of stdout is one JSON object:
``correct``, ``attempted``, ``failed``, ``metrics``. See
``layerbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".layerbench")
SETUP_REPS = 3

SPAN_NAMES = (
    "session", "datagen", "extract", "ids.vertices", "ids.edges", "pagerank",
    "components", "labelprop", "triangles", "cli", "checkpoint.save",
    "checkpoint.load",
)
# op wall -> the name the table prints it under
OP_METRICS = {
    "pagerank": "pagerank_s",
    "graph_build": "graph_build_s", "components": "cc_s", "labelprop": "lpa_s",
    "triangles": "triangles_s", "ckpt_run": "ckpt_run_s", "resume": "resume_s",
}


def host_session_conf() -> tuple[int, str]:
    """Cores this process may use, and a driver heap of 35% of physical RAM
    (the engine's 48g default exceeds small hosts)."""
    cores = len(os.sched_getaffinity(0))
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return cores, f"{max(1024, int(phys * 0.35) >> 20)}m"


def parse_args(argv: list[str] | None):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def stop_session(spark) -> None:
    """Stop Spark and wait until its JVM (and so its Python workers) exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def superstep_walls(calls: list[list[dict]]) -> tuple[list[float], list[float]]:
    """(first job walls, later per-superstep walls) of PageRank calls; a
    batched job's wall is split over the supersteps it ran."""
    first = [c[0]["wall_sec"] for c in calls if c]
    later = [r["wall_sec"] / r["batched_steps"] for c in calls for r in c[1:]]
    return first, later


class Run:
    """One benchmark run: set-up, the timed loop, the report."""

    def __init__(self, args, run_dir: str) -> None:
        self.args = args
        self.run_dir = run_dir
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def start_session(self):
        from halvesting_geometric_spark.session import get_spark

        self.cores, driver_memory = host_session_conf()
        local = os.path.join(self.run_dir, "local")
        self.eventlog_dir = os.path.join(self.run_dir, "eventlog")
        os.makedirs(self.eventlog_dir)
        conf = {
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            # no hsperfdata file in the system temp dir
            "spark.driver.extraJavaOptions": "-Djava.net.preferIPv4Stack=true "
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(self.run_dir, 'tmp')}",
        }
        if self.args.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{self.eventlog_dir}",
                "spark.eventLog.compress": "true",
                "spark.eventLog.compression.codec": "zstd",
                "spark.eventLog.rolling.enabled": "true",  # eventlog.py's layout
            })
        self.driver_memory = driver_memory
        return get_spark(
            app_name=f"layerbench-{self.args.workload}", cores=self.cores,
            driver_memory=driver_memory, extra_conf=conf,
        )

    def publish_input(self, w, final: str, rep: int) -> float:
        """Write the input to a temp directory, check it, then rename it into
        place, so a partial write can never be read back."""
        tmp = f"{final}.tmp{rep}"
        shutil.rmtree(tmp, ignore_errors=True)
        t0 = time.monotonic()
        w.write_input(tmp)
        w.check_input(tmp)
        if os.path.exists(final):
            shutil.rmtree(final)
        os.rename(tmp, final)
        return time.monotonic() - t0

    def unit(self, w, exp: dict) -> dict | None:
        out = os.path.join(self.run_dir, "out")
        n_ops = len(w.ops)
        self.attempted += n_ops
        try:
            res = w.unit(out)
        except Exception:  # a failed op is counted, and the run goes on
            self.failed += n_ops
            self.errors.append(traceback.format_exc())
            return None
        finally:
            w.spark.catalog.clearCache()
        bad = []
        for check in w.checks(out, res, exp):
            try:
                msg = check()
            except Exception as e:  # unreadable output counts as wrong
                msg = f"{type(e).__name__}: {e}"
            if msg:
                bad.append(msg)
        self.failed += min(len(bad), n_ops)
        self.errors.extend(bad)
        return res

    def run(self) -> dict:
        import verify
        from eventlog import fold_dir
        from spans import Tracer
        from workloads import WORKLOADS

        args = self.args
        t0 = time.monotonic()
        spark = self.start_session()
        session_s = time.monotonic() - t0
        self.jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        tracer = Tracer(spark.sparkContext, self.cores)
        tracer.enabled = bool(args.trace)
        tracer.record("session", t0, t0 + session_s)
        w = None
        try:
            ctx = SimpleNamespace(
                spark=spark, tracer=tracer, seed=args.seed,
                oracles=verify.load_oracles(ROOT),
            )
            w = WORKLOADS[args.workload](ctx)
            ctx.input = os.path.join(self.run_dir, "inputs", w.key())
            os.makedirs(os.path.dirname(ctx.input))
            reps = []
            for rep in range(SETUP_REPS):
                tracer.run_id = f"setup{rep}"
                reps.append(self.publish_input(w, ctx.input, rep))
            cache = os.path.join(WORK, "expected")
            os.makedirs(cache, exist_ok=True)
            t1 = time.monotonic()
            name = f"{w.key()}-{w.params()}-{verify.sources_digest(ROOT)}.npz"
            exp = verify.cached(os.path.join(cache, name), w.expected)
            expected_s = time.monotonic() - t1

            setup_s = session_s + statistics.median(reps)

            units: list[tuple[bool, dict]] = []
            t_start = time.monotonic()
            # a traced run discards its first (cold) unit, then alternates
            # traced and untraced units, so trace_overhead compares warm ones
            # (a later unit is a little warmer: the overhead errs high)
            min_units = 3 if args.trace else 1
            while True:
                i = len(units)
                traced = bool(args.trace) and i % 2 == 1
                tracer.enabled, tracer.run_id = traced, f"unit{i}"
                res = self.unit(w, exp)
                units.append((traced, res))
                walls = [r["walls"]["pipeline"] for _, r in units if r]
                left = args.seconds - (time.monotonic() - t_start)
                if len(units) >= min_units and (
                    not walls or statistics.median(walls) > left
                ):
                    break
            tracer.enabled = False
            rss = jvm_peak_rss_mb(self.jvm_pid)
        finally:
            if w is not None:
                w.close()
            stop_session(spark)

        report = {
            "units": len(units), "setup_reps_s": reps, "session_s": session_s,
            "expected_s": expected_s, "cores": self.cores,
            "driver_memory": self.driver_memory, "loadavg": os.getloadavg(),
        }
        if args.trace:
            units = units[1:]
        plain = [r for t, r in units if r and not t]
        if not plain:
            return {"report": report, "metrics": {}, "table": {}}
        e2e, table = self.end_to_end(plain, setup_s, rss)
        if args.trace:
            traced = [r for t, r in units if r and t]
            rows = tracer.rows(fold_dir(self.eventlog_dir))
            metrics = self.per_layer(w, rows, traced, plain, rss)
            path = os.path.join(WORK, "traces", f"{w.key()}-{os.getpid()}.json")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w") as fh:
                json.dump({"report": report, "spans": rows}, fh, indent=1)
            report["trace_file"] = os.path.relpath(path, ROOT)
        else:
            metrics = e2e
        return {"report": report, "metrics": metrics, "table": {**e2e, **table}}

    def end_to_end(self, units: list[dict], setup_s: float, rss: float):
        def med(key: str) -> float:
            return statistics.median(u["walls"][key] for u in units)

        def med_count(key: str) -> float:
            return statistics.median(u["counts"][key] for u in units)

        _, later = superstep_walls([c for u in units for c in u["supersteps"]])
        n_edges = units[0]["counts"]["n_edges"]
        e2e = {"setup_s": (setup_s, "s"), "pipeline_s": (med("pipeline"), "s")}
        table = {
            OP_METRICS[k]: (med(k), "s") for k in units[0]["walls"] if k in OP_METRICS
        }
        table["superstep_edges_per_s"] = (n_edges / statistics.median(later), "1/s")
        table["jvm_peak_rss_mb"] = (rss, "MB")
        table["edges"] = (n_edges, "count")
        if "rounds" in units[0]["counts"]:
            table["cc_rounds"] = (med_count("rounds"), "count")
        if "ckpt_bytes" in units[0]["counts"]:
            c = units[0]["counts"]
            table["ckpt_bytes_per_step"] = (c["ckpt_bytes"] / c["saves"], "B")
        table["fail_ratio"] = (self.failed / self.attempted, "1")
        return e2e, table

    def per_layer(
        self, w, rows, traced: list[dict], plain: list[dict], rss: float
    ) -> dict:
        from spans import layer_metrics

        def med(values) -> float:
            values = list(values)
            return float(statistics.median(values)) if values else 0.0

        def count(key: str) -> float:
            return med(u["counts"][key] for u in traced if key in u["counts"])

        m = layer_metrics(rows, SPAN_NAMES, self.cores)
        calls = [c for u in traced for c in u["supersteps"]]
        first, later = superstep_walls(calls)
        supersteps = med(
            sum(r["batched_steps"] for c in u["supersteps"] for r in c) for u in traced
        )
        extract_in = {}
        for r in rows:
            if r["name"] == "extract":
                extract_in[r["run_id"]] = extract_in.get(r["run_id"], 0) + r["input_bytes"]
        saves = [s for u in traced for s in u["counts"].get("save_walls", [])]
        m.update({
            "extract.input_bytes": med(extract_in.values()),
            "extract.edges_per_turn": count("edges") / w.turns,
            "ids.vertices.rows": count("vertices"),
            "pagerank.supersteps": supersteps,
            "pagerank.superstep_s_p50": med(later),
            "pagerank.first_superstep_s": med(first),
            "pagerank.jobs_per_superstep": m["pagerank.jobs"] / supersteps
            if supersteps else 0.0,
            "components.rounds": count("rounds"),
            "labelprop.iterations": count("iterations"),
            "triangles.count": count("triangles"),
            "checkpoint.save_s_p50": med(saves),
            "checkpoint.bytes_per_save": med(
                u["counts"]["ckpt_bytes"] / u["counts"]["saves"]
                for u in traced if u["counts"].get("saves")
            ),
            "session.aqe_bypassed": count("aqe_bypassed"),
            "session.jvm_peak_rss_mb": rss,
            "trace_overhead": med(u["walls"]["pipeline"] for u in traced)
            / med(u["walls"]["pipeline"] for u in plain),
        })
        return {k: (v, layer_unit(k)) for k, v in m.items()}


def layer_unit(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    if name.endswith(("_bytes", "bytes_per_save")):
        return "B"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_s", "_s_p50")):
        return "s"
    if name.endswith((".jobs", "failed_tasks", ".rows", ".supersteps", ".rounds",
                      ".iterations", ".count")):
        return "count"
    return "ratio"


def main(argv: list[str] | None = None) -> int:
    if not all(os.path.isfile(os.path.join(ROOT, *p)) for p in (
        ("halvesting_geometric_spark", "__init__.py"), ("tests", "oracles.py"),
    )):
        print("layerbench: the engine sources are not next to layerbench/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Spark's Python workers import the engine too: they need the path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # every scratch file of Spark, its JVM and its workers stays in here
    run_dir = os.path.join(WORK, "runs", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    args = parse_args(argv)
    run = Run(args, run_dir)
    try:
        result = run.run()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for err in run.errors:
        print(f"layerbench: FAILED {err}", file=sys.stderr)
    rep = result["report"]
    print(f"layerbench {args.workload} seed={args.seed} trace={args.trace} "
          f"local[{rep['cores']}] driver_memory={rep['driver_memory']} "
          f"units={rep['units']} loadavg={[round(x, 2) for x in rep['loadavg']]}")
    print(f"  set-up: session {rep['session_s']:.2f} s, input reps "
          f"{[round(x, 2) for x in rep['setup_reps_s']]} s, "
          f"oracle {rep['expected_s']:.2f} s")
    for name, (value, unit) in {**result["table"], **result["metrics"]}.items():
        print(f"  {name:36s} {value:16.6f} {unit}")
    correct = run.failed == 0 and bool(result["metrics"])
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in result["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
