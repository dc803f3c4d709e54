"""Resume/lineage semantics (SURVEY.md §5.2 items 4-5) + partition invariance."""

from __future__ import annotations

import json

import numpy as np

from halvesting_geometric_spark.datagen import (
    generate_power_law_edges,
    generate_transcripts,
)
from halvesting_geometric_spark.operators.graph import build_graph
from halvesting_geometric_spark.operators.labelprop import label_propagation
from halvesting_geometric_spark.operators.pagerank import pagerank
from halvesting_geometric_spark.plans.checkpoint import CheckpointManager


def _ranks(res, n):
    pdf = res.ranks.toPandas().sort_values("vertex_id")
    arr = np.zeros(n)
    arr[pdf["vertex_id"].to_numpy()] = pdf["rank"].to_numpy()
    return arr


def test_pagerank_kill_resume_equals_full(spark, tmp_path):
    g = build_graph(generate_transcripts(spark, 80, seed=2))
    n = g.num_vertices()
    ck = CheckpointManager(spark, str(tmp_path), "pagerank")
    pagerank(g.edges, g.vertices, tol=1e-6, max_iter=4, checkpoint=ck)  # "dies"
    resumed = pagerank(g.edges, g.vertices, tol=1e-6, checkpoint=ck, resume=True)
    full = pagerank(g.edges, g.vertices, tol=1e-6)
    assert np.allclose(_ranks(resumed, n), _ranks(full, n), atol=1e-9)
    # lineage has one row per partition per checkpointed iteration
    lin = ck.lineage_table().toPandas()
    assert set(lin.columns) >= {"partition_id", "rows", "checksum", "iteration"}
    assert lin.groupby("iteration")["rows"].sum().eq(n).all()
    # metrics json is parseable and carries deltas
    metrics = ck.metrics().toPandas()
    parsed = json.loads(metrics.iloc[0]["metrics_json"])
    assert "delta_l1" in parsed


def test_labelprop_resume_continues(spark, tmp_path):
    g = build_graph(generate_transcripts(spark, 60, seed=8))
    ck = CheckpointManager(spark, str(tmp_path), "labelprop")
    label_propagation(g.edges, g.vertices, fixed_iters=2, checkpoint=ck)
    resumed = label_propagation(g.edges, g.vertices, fixed_iters=4, checkpoint=ck, resume=True)
    full = label_propagation(g.edges, g.vertices, fixed_iters=4)
    a = resumed.labels.toPandas().sort_values("vertex_id")["label"].to_numpy()
    b = full.labels.toPandas().sort_values("vertex_id")["label"].to_numpy()
    assert (a == b).all()


def test_results_invariant_to_shuffle_partitions(spark):
    """north-rule invariance: identical results across partition configs."""
    base = None
    for parts in ("2", "4", "8"):
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        try:
            g = build_graph(generate_transcripts(spark, 50, seed=6))
            res = pagerank(g.edges, g.vertices, fixed_iters=6)
            arr = _ranks(res, g.num_vertices())
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", "4")
        if base is None:
            base = arr
        else:
            assert np.allclose(arr, base, atol=1e-12)


def test_power_law_edge_generator_deterministic_and_skewed(spark):
    e1 = generate_power_law_edges(spark, 1000, 20000, partitions=4).toPandas()
    e2 = generate_power_law_edges(spark, 1000, 20000, partitions=9).toPandas()
    s1 = sorted(map(tuple, e1.to_numpy()))
    assert s1 == sorted(map(tuple, e2.to_numpy()))
    assert e1["src"].between(0, 999).all() and e1["dst"].between(0, 999).all()
    counts = e1.groupby("dst").size().sort_values(ascending=False)
    # power-law: the hottest destination holds a big share; tail is long
    assert counts.iloc[0] > 20 * counts.median()


def test_sssp_kill_resume_equals_full(spark, tmp_path):
    from pyspark.sql import functions as F

    from halvesting_geometric_spark.operators.traversal import sssp

    g = build_graph(generate_transcripts(spark, 70, seed=5))
    we = g.edges.withColumn(
        "w", ((F.col("src") + F.col("dst")) % 5 + 1).cast("double")
    )
    ck = CheckpointManager(spark, str(tmp_path), "sssp")
    sssp(we, g.vertices, [0, 1], weight_col="w", fixed_iters=3,
         checkpoint=ck)  # "dies" after 3 relaxations
    resumed = sssp(we, g.vertices, [0, 1], weight_col="w", fixed_iters=8,
                   checkpoint=ck, resume=True)
    full = sssp(we, g.vertices, [0, 1], weight_col="w", fixed_iters=8)
    a = resumed.toPandas().sort_values("vertex_id").reset_index(drop=True)
    b = full.toPandas().sort_values("vertex_id").reset_index(drop=True)
    assert a.equals(b)
    lin = ck.lineage_table().toPandas()
    assert set(lin.columns) >= {"partition_id", "rows", "checksum", "iteration"}


def _jobs_in(spark, label, fn):
    """Runs ``fn`` under job group ``label``; returns (result, job count)."""
    sc = spark.sparkContext
    sc.setJobGroup(label, label)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(label))


def test_save_state_job_count_and_lineage(spark, tmp_path):
    """A save is the state write plus the lineage aggregate over the written
    files: 2 jobs with AQE off (the small-state path the CLI takes), 3 with
    AQE on, which submits the aggregate's shuffle stage as its own job. The
    read-back and load_state use the stored schema, so no inference job."""
    from pyspark.sql import functions as F

    state = spark.range(0, 1000, numPartitions=3).select(
        F.col("id").alias("vertex_id"), (F.col("id") / 7).alias("rank")
    )
    ck = CheckpointManager(spark, str(tmp_path), "t")
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        for it, (aqe, want) in enumerate((("false", 2), ("true", 3))):
            spark.conf.set("spark.sql.adaptive.enabled", aqe)
            reloaded, jobs = _jobs_in(
                spark, f"ckpt-save-{it}",
                lambda: ck.save_state(it, state, metrics={"delta_l1": 0.5}),
            )
            assert jobs == want, (aqe, jobs)
            schema, jobs = _jobs_in(
                spark, f"ckpt-load-{it}", lambda: ck.load_state(it).schema
            )
            assert jobs == 0
            assert schema.names == ["vertex_id", "rank"]
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert reloaded.count() == 1000
    # a fresh manager reads the schema from the manifest on disk
    fresh = CheckpointManager(spark, str(tmp_path), "t")
    assert fresh.load_state(1).schema.simpleString() == state.schema.simpleString()
    # per-partition lineage: partitions together hold every row once, and
    # their checksums xor to the whole state's bit_xor(xxhash64)
    whole = state.agg(F.bit_xor(F.xxhash64("vertex_id", "rank"))).first()[0]
    lin = ck.lineage_table().toPandas()
    for _, part in lin.groupby("iteration"):
        assert part["rows"].sum() == 1000
        assert np.bitwise_xor.reduce(part["checksum"].to_numpy()) == whole
    metrics = ck.metrics().toPandas()
    assert metrics["iteration"].tolist() == [0, 1]
    assert json.loads(metrics.iloc[1]["metrics_json"])["delta_l1"] == 0.5


def test_labelprop_resume_lineage_ignores_torn_and_uncommitted_log(spark, tmp_path):
    """Resume continues from the manifest's iteration, not the log's: a log
    entry past the manifest (a crash between the log append and the manifest
    replace) and a torn trailing line are both ignored, and the rerun's
    entry supersedes the uncommitted one."""
    g = build_graph(generate_transcripts(spark, 60, seed=8))
    n = g.num_vertices()
    ck = CheckpointManager(spark, str(tmp_path), "labelprop")
    label_propagation(g.edges, g.vertices, fixed_iters=2, checkpoint=ck)
    assert ck.latest_iteration() == 1
    log = tmp_path / "labelprop" / "log.jsonl"
    stale = {"iteration": 2, "metrics": {"changed": -1}, "lineage": [[0, 1, 0]]}
    with open(log, "a") as fh:
        fh.write(json.dumps(stale) + "\n")
        fh.write('{"iteration": 3, "metrics": {"cha')  # torn: no newline
    for table in (ck.metrics(), ck.lineage_table()):
        assert sorted(set(table.toPandas()["iteration"])) == [0, 1]

    resumed = label_propagation(
        g.edges, g.vertices, fixed_iters=4, checkpoint=ck, resume=True
    )
    assert [m["iteration"] for m in resumed.metrics] == [2, 3]
    metrics = ck.metrics().toPandas()
    assert metrics["iteration"].tolist() == [0, 1, 2, 3]
    assert all(json.loads(m)["changed"] >= 0 for m in metrics["metrics_json"])
    lin = ck.lineage_table().toPandas()
    assert lin.groupby("iteration")["rows"].sum().eq(n).all()
    assert sorted(set(lin["iteration"])) == [0, 1, 2, 3]
