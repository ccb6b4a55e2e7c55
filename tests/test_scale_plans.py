"""Plan-shape assertions for the scale tier (VERDICT r2 #1): the heaviest
queries must not force a broadcast of a scaled input table, and the known
engineered plan features (hot-bucket cap blocklist broadcast, prefix-sum
range partitioning, salted dedup) must actually be present in the plan.

Runs at small size — these are STATIC plan properties, invariant to row
count by construction (that is exactly what the audit checks: the pre-AQE
``sparkPlan``, where only plan-time hints appear; AQE's runtime broadcast
conversions are correct at small scale and self-reverse at 100×).
tools/bench_scale.py applies the same audit to the timed 10× tier.
"""

import os
import sys

import pytest

sys.path.insert(0, "/root/repo")
from tools.bench_scale import (HEAVY_QUERIES,  # noqa: E402
                               broadcast_scan_violations,
                               hints_only_broadcasts)

from dataquality_spark import queries as Q  # noqa: E402


@pytest.fixture(scope="module")
def scale_dir(spark, tmp_path_factory):
    from dataquality_spark import synth
    d = str(tmp_path_factory.mktemp("scaleplan"))
    synth.generate_documents(spark, 2000).write.mode("overwrite").parquet(
        os.path.join(d, "documents.parquet"))
    synth.generate_embeddings(spark, 800).write.mode("overwrite").parquet(
        os.path.join(d, "embeddings.parquet"))
    return d


@pytest.mark.parametrize("name", HEAVY_QUERIES)
def test_no_forced_broadcast_of_scaled_table(spark, name, scale_dir):
    with hints_only_broadcasts(spark):
        out = Q.QUERIES[name](spark, scale_dir)
        try:
            bad = broadcast_scan_violations(out, scale_dir)
            assert not bad, f"{name} hint-broadcasts a scaled input: {bad}"
        finally:
            Q.release_cached()


def test_audit_catches_a_real_violation(spark, scale_dir):
    """The auditor itself must not be vacuous: a deliberate hinted
    broadcast of the scaled table (no aggregation between) has to be
    flagged."""
    from pyspark.sql import functions as F
    docs = spark.read.parquet(os.path.join(scale_dir, "documents.parquet"))
    with hints_only_broadcasts(spark):
        bad = docs.join(F.broadcast(docs.select("doc_id", "text")),
                        "doc_id")
        assert broadcast_scan_violations(bad, scale_dir)
        # ...and a broadcast of an AGGREGATED frame stays allowed
        small = docs.groupBy("lang").count()
        ok = docs.join(F.broadcast(small), "lang")
        assert not broadcast_scan_violations(ok, scale_dir)
        # ...and an aggregate in a SIBLING branch must not launder a raw
        # scan in another branch of the same broadcast subtree
        laundered = docs.join(
            F.broadcast(small.join(docs.select("doc_id", "lang", "text"),
                                   "lang")), ["lang", "doc_id"])
        assert broadcast_scan_violations(laundered, scale_dir), \
            "sibling-branch aggregate excused a raw scaled-table scan"


def test_runtime_bloom_semi_only_not_anti(spark, scale_dir, tmp_path):
    """Pins the empirical basis for `incremental_new_docs`' docstring
    (operators/dedup.py): Spark's runtime Bloom-filter injection fires for
    the SEMI form of the hash-keyed join shape but can never fire for the
    ANTI form (a Bloom miss must be KEPT under anti semantics). If a Spark
    upgrade changes either branch, the docstring's scale story needs
    re-auditing."""
    from pyspark.sql import functions as F
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter."
        "creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "1",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    d = str(tmp_path)
    (spark.range(0, 20000)
     .withColumn("h", F.xxhash64(F.col("id").cast("string")))
     .write.mode("overwrite").parquet(os.path.join(d, "big.parquet")))
    (spark.range(0, 20000)
     .withColumn("ph", F.xxhash64((F.col("id") * 3).cast("string")))
     .write.mode("overwrite").parquet(os.path.join(d, "small.parquet")))
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        big = spark.read.parquet(os.path.join(d, "big.parquet"))
        # selective filter makes the creation side bloom-eligible
        small = (spark.read.parquet(os.path.join(d, "small.parquet"))
                 .where(F.col("id") % 1000 == 0).select("ph"))

        def has_bloom(how):
            j = big.join(small, big["h"] == small["ph"], how)
            plan = j._jdf.queryExecution().optimizedPlan().toString().lower()
            return "bloom" in plan or "might_contain" in plan

        assert has_bloom("left_semi"), \
            "bloom no longer injected for semi — docstring basis changed"
        assert not has_bloom("left_anti"), \
            "bloom now injected for anti — update incremental_new_docs docs"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_scale_md_growth_within_bar():
    """The committed scale artifact (BENCH/SCALE.md, rewritten by
    tools/bench_scale.py) must show every measured growth ratio within the
    ≤-linear bar, include the second pipeline decade (10×→30× — the İ
    episode's codegen-cliff tripwire, round-3 verdict #4), and the
    semdedup(auto) row demonstrating the scale knob (verdict #5)."""
    import re
    from tools.bench_scale import MAX_GROWTH_PER_10X
    with open("/root/repo/BENCH/SCALE.md") as f:
        md = f.read()
    rows = re.findall(r"^\| (\S[^|]*?) \| ([\d.]+) \| ([\d.]+) \| "
                      r"([\d.]+) \|$", md, re.M)
    names = [r[0] for r in rows]
    assert "pipeline" in names
    assert any(n.startswith("pipeline 10") for n in names), \
        "second pipeline decade missing from BENCH/SCALE.md"
    assert "semdedup(auto)" in names
    assert "embedding_neardup(auto)" in names, \
        "occupancy-invariant band_bits row missing (round-5 knob)"
    for name, _, _, growth in rows:
        assert float(growth) <= MAX_GROWTH_PER_10X, (name, growth)
    assert "PASS" in md and "FAIL" not in md


def test_semdedup_auto_bounds_cells_as_corpus_grows(spark):
    """The auto knob itself: n_planes="auto" must pick more planes for a
    larger corpus so the expected cell stays ≤ target_cell_rows — the
    property that makes semdedup's quadratic-within-cell work ~linear."""
    from dataquality_spark.operators.similarity import semantic_dedup
    import pyspark.sql.functions as F
    # sign-diverse directions (an all-positive corpus collapses into one
    # orthant/cell no matter how many planes — not what this test probes)
    emb = (spark.range(0, 3000)
           .select(F.col("id").alias("vec_id"),
                   F.transform(F.sequence(F.lit(1), F.lit(8)),
                               lambda i: (((F.col("id") + 1) * (i + 3))
                                          % 11 - 5).cast("float") / 5.0)
                   .alias("embedding")))
    small = semantic_dedup(spark, emb.limit(400), n_planes="auto",
                           dim=8, target_cell_rows=200)
    big = semantic_dedup(spark, emb, n_planes="auto",
                         dim=8, target_cell_rows=200)
    # cells ≈ 2^p: 400 rows → p=1 (2 cells), 3000 rows → p=4 (16 cells)
    n_cells_small = small.select("cell").distinct().count()
    n_cells_big = big.select("cell").distinct().count()
    assert n_cells_big > n_cells_small
    # every realized cell stayed under the loud-failure cap by a margin
    per_cell = big.groupBy("cell").count().agg(
        F.max("count")).collect()[0][0]
    assert per_cell <= 8192


def test_pipeline_heap_scale_mechanisms(spark, tmp_path):
    """The two mechanisms that keep the pipeline heap-bounded as data
    grows (an 18M-page run OOM'd the 16g JVM without them): exchanges
    start wide and AQE coalesces by measured size (initialPartitionNum),
    and the scored-frame cache goes DISK_ONLY past the estimate threshold
    so heap-resident cache can't starve unmanaged writer buffers."""
    import pyspark.sql.functions as F
    from dataquality_spark import pipeline as P

    assert int(spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum")) >= 512
    p = str(tmp_path / "t.parquet")
    spark.range(0, 20000).select(
        "id", F.md5(F.col("id").cast("string")).alias("text")) \
        .write.parquet(p)
    df = spark.read.parquet(p)
    est = P.input_bytes_estimate(df)
    assert 0 < est < P.CACHE_MEM_MAX_BYTES   # small input: memory cache path
    # storage-level switch: big estimate → DISK_ONLY, small → MEMORY_AND_DISK
    from dataquality_spark.synth import generate_pages
    from pyspark import StorageLevel
    pages = generate_pages(spark, 300, seed=5)
    cleanup = []
    ann = P.run_pipeline(spark, pages, cleanup=cleanup)
    try:
        cached = cleanup[0]
        assert cached.storageLevel == StorageLevel.MEMORY_AND_DISK
        plan = ann._jdf.queryExecution().sparkPlan().toString()
        # small input: winners is a safe broadcast — the heavy probe side
        # (scrubbed_text) must NOT be exchanged for the join-back
        assert "BroadcastHashJoin" in plan
        assert "ShuffledHashJoin" not in plan
    finally:
        for f in cleanup:
            f.unpersist()
    old = P.CACHE_MEM_MAX_BYTES, P.WINNERS_BROADCAST_MAX_BYTES
    try:
        # force the big-input branch: disk cache, winners too big to
        # broadcast (each gated on its own estimate)
        P.CACHE_MEM_MAX_BYTES = P.WINNERS_BROADCAST_MAX_BYTES = 1
        cleanup2 = []
        ann2 = P.run_pipeline(spark, pages, cleanup=cleanup2)
        assert cleanup2[0].storageLevel == StorageLevel.DISK_ONLY
        # big input: winners ≈ one row per distinct kept doc — no
        # broadcast hint from our side; the engineered join is the
        # skew-tolerant shuffle-hash
        plan2 = ann2._jdf.queryExecution().sparkPlan().toString()
        assert "ShuffledHashJoin" in plan2
    finally:
        P.CACHE_MEM_MAX_BYTES, P.WINNERS_BROADCAST_MAX_BYTES = old
        for f in cleanup2:
            f.unpersist()


# bench.py's 600k-page pipeline input (seed 42, 100 files), measured with
# input_bytes_estimate: (input, winners) plan estimates in bytes
_BENCH_600K_ESTIMATES = (945_809_894, 97_137_231)


@pytest.mark.parametrize("case", ["top", "over", "bench_600k"])
def test_winners_broadcast_gated_on_winners_estimate(spark, monkeypatch,
                                                     case):
    """The join-back broadcasts winners iff winners' own plan estimate is
    at most WINNERS_BROADCAST_MAX_BYTES. Probed at the top of that range
    with the input estimate at the cache bound, where a gate on the input
    alone would always broadcast, and at the estimates measured on
    bench.py's input, which must keep the broadcast. The input is
    estimated once per call."""
    from dataquality_spark import pipeline as P
    from dataquality_spark.synth import generate_pages

    input_est, winners_est = {
        "top": (P.CACHE_MEM_MAX_BYTES, P.WINNERS_BROADCAST_MAX_BYTES),
        "over": (P.CACHE_MEM_MAX_BYTES, P.WINNERS_BROADCAST_MAX_BYTES + 1),
        "bench_600k": _BENCH_600K_ESTIMATES,
    }[case]
    calls = []

    def estimate(df):
        winners = df.columns == ["content_hash", "win"]
        calls.append(winners)
        return winners_est if winners else input_est

    monkeypatch.setattr(P, "input_bytes_estimate", estimate)
    pages = generate_pages(spark, 200, seed=5)
    cleanup = []
    ann = P.run_pipeline(spark, pages, cleanup=cleanup)
    try:
        plan = ann._jdf.queryExecution().sparkPlan().toString()
        assert sorted(calls) == [False, True]
        if case == "over":
            assert "ShuffledHashJoin" in plan
            assert "BroadcastHashJoin" not in plan
        else:
            assert "BroadcastHashJoin" in plan
            assert "ShuffledHashJoin" not in plan
    finally:
        for f in cleanup:
            f.unpersist()


def test_scaling_rows_provenance(monkeypatch):
    """bench_scaling must report BOTH the effective and the sf-derived
    corpus size so a floored scaling ratio can never be silently compared
    against an un-floored historical run (advisor-flagged r3)."""
    import bench_scaling as BS
    monkeypatch.delenv("SPARK_GRAFT_PIPELINE_ROWS", raising=False)
    eff, derived = BS.scaling_rows("/root/testdata/sf0.1")
    assert derived == 600_000
    assert eff == BS.MIN_SCALING_ROWS          # floored
    eff2, derived2 = BS.scaling_rows("/x/sf1.0")
    assert derived2 == 6_000_000 and eff2 == 6_000_000   # un-floored
    monkeypatch.setenv("SPARK_GRAFT_PIPELINE_ROWS", "42")
    assert BS.scaling_rows("/root/testdata/sf0.1")[0] == 42  # override wins


def test_fuzzy_dedup_plan_has_no_cartesian(spark, scale_dir):
    """The LSH candidate join must be an equi-join on bucket keys — never
    a (broadcast) nested-loop — at any scale."""
    out = Q.QUERIES["fuzzy_dedup_decisions"](spark, scale_dir)
    try:
        plan = out._jdf.queryExecution().sparkPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
    finally:
        Q.release_cached()
