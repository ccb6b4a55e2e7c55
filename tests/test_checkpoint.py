"""Kill/resume test (SURVEY.md §5.2): partial run + resume must produce a
decisions table identical to a one-shot run."""

import os
import uuid

import pytest
from pyspark.sql import functions as F

from dataquality_spark import pipeline
from dataquality_spark.checkpoint import (
    completed_chunks, lineage, read_decisions, run_checkpointed,
)
from dataquality_spark.synth import generate_pages

N = 800
CHUNKS = 4


def _decisions_pdf(spark, out_dir):
    return (read_decisions(spark, out_dir)
            .select("url", "keep", "scrubbed_text")
            .toPandas().sort_values("url").reset_index(drop=True))


def test_resume_identical_to_oneshot(spark, artifacts, tmp_path):
    pages = generate_pages(spark, N, seed=42, partitions=4)

    # one-shot reference run
    full_dir = str(tmp_path / "full")
    r = run_checkpointed(spark, pages, full_dir, n_chunks=CHUNKS)
    assert r["completed"] == list(range(CHUNKS))

    # "crashed" run: 2 of 4 chunks, then resume
    part_dir = str(tmp_path / "partial")
    r1 = run_checkpointed(spark, pages, part_dir, n_chunks=CHUNKS, max_chunks=2)
    assert len(r1["processed"]) == 2
    assert completed_chunks(part_dir) == set(r1["processed"])
    r2 = run_checkpointed(spark, pages, part_dir, n_chunks=CHUNKS)
    assert set(r2["processed"]).isdisjoint(r1["processed"])
    assert r2["completed"] == list(range(CHUNKS))

    a = _decisions_pdf(spark, full_dir)
    b = _decisions_pdf(spark, part_dir)
    assert len(a) == N and len(b) == N
    assert (a["url"] == b["url"]).all()
    assert (a["keep"] == b["keep"]).all()
    assert (a["scrubbed_text"].fillna("\0") == b["scrubbed_text"].fillna("\0")).all()


def test_lineage_rows(spark, tmp_path):
    pages = generate_pages(spark, 200, seed=7, partitions=4)
    out = str(tmp_path / "lin")
    run_checkpointed(spark, pages, out, n_chunks=2)
    rows = lineage(out)
    assert [r["chunk"] for r in rows] == [0, 1]
    assert sum(r["rows_in"] for r in rows) == 200
    for r in rows:
        assert r["rows_kept"] <= r["rows_in"]
        metric_rules = {m["rule_id"] for m in r["rule_metrics"]}
        assert metric_rules == set(pipeline.PIPELINE_RULES)


def test_chunking_matches_global_dedup(spark, artifacts, tmp_path):
    """Content-hash chunking ⇒ per-chunk dedup == global dedup."""
    pages = generate_pages(spark, 600, seed=42, partitions=4)
    out = str(tmp_path / "glob")
    run_checkpointed(spark, pages, out, n_chunks=3)
    chunked = _decisions_pdf(spark, out)

    cleanup = []
    ann = pipeline.run_pipeline(spark, pages, cleanup=cleanup)
    direct = (ann.select("url", "keep").toPandas()
              .sort_values("url").reset_index(drop=True))
    for f in cleanup:
        f.unpersist()
    assert (chunked["keep"].to_numpy() == direct["keep"].to_numpy()).all()


def test_single_input_pass_and_no_cache_leak(spark, artifacts, tmp_path,
                                             monkeypatch):
    """The multi-chunk path must (a) invoke the pipeline exactly once — one
    input scan regardless of n_chunks (round-1 re-filtered per chunk: n full
    scans) — and (b) unpersist everything it persisted."""
    pages = generate_pages(spark, 400, seed=11, partitions=4)
    calls = []
    real = pipeline.run_pipeline

    def counting(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    import dataquality_spark.checkpoint as CP
    monkeypatch.setattr(CP.P, "run_pipeline", counting)
    before = dict(spark.sparkContext._jsc.getPersistentRDDs())
    out = str(tmp_path / "once")
    r = run_checkpointed(spark, pages, out, n_chunks=4)
    assert r["completed"] == [0, 1, 2, 3]
    assert len(calls) == 1
    after = dict(spark.sparkContext._jsc.getPersistentRDDs())
    assert len(after) <= len(before)


def test_resume_rejects_mismatched_n_chunks(spark, tmp_path):
    from dataquality_spark import checkpoint as C
    pages = generate_pages(spark, 120, seed=9, partitions=2)
    out = str(tmp_path / "run")
    C.run_checkpointed(spark, pages, out, n_chunks=4)
    with pytest.raises(ValueError, match="n_chunks=8 does not match"):
        C.run_checkpointed(spark, pages, out, n_chunks=8)


def test_empty_input_commits_zero_row_states(spark, tmp_path):
    """Regression: a first run whose todo chunks produced zero rows used to
    crash on the unreadable empty data dir and wedge resume forever."""
    from dataquality_spark import checkpoint as C
    pages = generate_pages(spark, 100, seed=3, partitions=2).where("1=0")
    out = str(tmp_path / "run")
    summary = C.run_checkpointed(spark, pages, out, n_chunks=3)
    assert summary["completed"] == [0, 1, 2]
    for row in C.lineage(out):
        assert row["rows_in"] == 0 and row["rows_kept"] == 0
    # and the resume is a clean no-op
    again = C.run_checkpointed(spark, pages, out, n_chunks=3)
    assert again == {"processed": [], "completed": [0, 1, 2]}


def test_non_local_out_dir_refused_before_commit(spark, artifacts, tmp_path,
                                                 monkeypatch):
    """The lineage finds written chunks through the local file system. A
    ``file:`` URI is written by Spark where ``os`` cannot see it; the call
    must fail instead of committing zero-row states for written chunks."""
    monkeypatch.chdir(tmp_path)   # os resolves "file:/..." under the cwd
    pages = generate_pages(spark, 120, seed=9, partitions=2)
    out = f"file:{tmp_path}/uri"
    with pytest.raises(ValueError, match="not a local directory"):
        run_checkpointed(spark, pages, out, n_chunks=2)
    assert os.path.isdir(tmp_path / "uri" / "data")   # Spark wrote it
    assert completed_chunks(out) == set()              # nothing committed


def test_resumed_chunk_states_equal_decisions_metrics(spark, artifacts,
                                                      tmp_path):
    """After a crash at half the chunks and a resume, each committed state
    carries exactly the lineage a rescan of the decisions gives: the
    per-rule metrics of ``metrics_from_decisions`` grouped by chunk, and
    rows_in / rows_kept counted from the decisions."""
    from dataquality_spark.checkpoint import _state_path
    pages = generate_pages(spark, N, seed=21, partitions=4)
    out = str(tmp_path / "run")
    run_checkpointed(spark, pages, out, n_chunks=CHUNKS, max_chunks=2)
    run_checkpointed(spark, pages, out, n_chunks=CHUNKS)
    dec = read_decisions(spark, out)
    want_metrics = {}
    for r in pipeline.metrics_from_decisions(
            dec, group_cols=("chunk",)).collect():
        want_metrics.setdefault(r["chunk"], []).append(
            {k: r[k] for k in ("rule_id", "pass_count", "fail_count",
                               "score")})
    want_rows = {r["chunk"]: (r["n"], r["k"]) for r in dec.groupBy("chunk")
                 .agg(F.count(F.lit(1)).alias("n"),
                      F.sum(F.col("keep").cast("long")).alias("k"))
                 .collect()}
    assert set(want_rows) == set(range(CHUNKS))
    states = lineage(out)
    assert [s["chunk"] for s in states] == list(range(CHUNKS))
    for s in states:
        i = s["chunk"]
        assert (s["rows_in"], s["rows_kept"]) == want_rows[i]
        assert s["rule_metrics"] == sorted(want_metrics[i],
                                           key=lambda m: m["rule_id"])
        assert s["n_chunks"] == CHUNKS
        assert s["data_dir"] == str(tmp_path / "run" / "data" / f"chunk={i}")
        assert list(s) == ["chunk", "n_chunks", "rows_in", "rows_kept",
                           "rule_metrics", "data_dir"]
        assert os.path.exists(_state_path(out, i))
        # a chunk that wrote rows never commits a zero-row lineage
        assert s["rows_in"] > 0
        assert os.path.isdir(s["data_dir"])


def test_one_call_runs_no_inference_and_one_lineage_query(spark, artifacts,
                                                         tmp_path):
    """Regression guard on the per-call fixed cost: a resumed call's jobs
    all belong to two SQL executions — the partitioned write and ONE
    lineage aggregate. A parquet schema-inference job runs outside any
    execution, and a second read-back aggregate would be a third one."""
    pages = generate_pages(spark, 300, seed=7, partitions=4)
    out = str(tmp_path / "jobs")
    run_checkpointed(spark, pages, out, n_chunks=4, max_chunks=2)
    sc = spark.sparkContext
    group = f"checkpoint-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        r = run_checkpointed(spark, pages, out, n_chunks=4)
    finally:
        sc._jsc.clearJobGroup()
    assert r["completed"] == [0, 1, 2, 3]
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    job_ids = set(sc.statusTracker().getJobIdsForGroup(group))
    assert job_ids
    executions = []
    store = spark._jsparkSession.sharedState().statusStore()
    listed = store.executionsList()
    for k in range(listed.size()):
        jobs = listed.apply(k).jobs().keys().toList()
        ids = {int(jobs.apply(j)) for j in range(jobs.size())}
        if ids & job_ids:
            executions.append(ids)
    in_executions = set().union(*executions)
    assert job_ids <= in_executions, "a job ran outside a query execution"
    assert len(executions) == 2
