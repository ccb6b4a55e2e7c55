"""Partition-count invariance: the north rule scales the SAME job across
cluster sizes (N vs 4N executors), which is only sound if results are a
pure function of the DATA, never of the partitioning. These tests run
representative queries under deliberately different parallelism (input
partition counts AND shuffle partitions) and assert byte-identical
canonical output.

Queries chosen for partitioning-sensitive machinery:
  * sequence_pack     — distributed prefix sum over a range partitioning
  * fuzzy_dedup_decisions — LSH bucketing + component fixpoint + windows
  * stratified_split  — deterministic hash bucketing
  * dedup_winners     — one map-side-combined min + count aggregate
"""

import pytest

from dataquality_spark import queries as Q

SF = "/root/testdata/sf0.001"
QUERIES = ["sequence_pack", "fuzzy_dedup_decisions", "stratified_split",
           "dedup_winners"]


def _canon(df):
    cols = sorted(df.columns)
    return sorted(tuple(str(r[c]) for c in cols) for r in df.collect())


@pytest.mark.parametrize("name", QUERIES)
def test_result_invariant_to_parallelism(spark, name):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        a = _canon(Q.QUERIES[name](spark, SF))
        Q.release_cached()
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        b = _canon(Q.QUERIES[name](spark, SF))
        Q.release_cached()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        Q.release_cached()
    assert a == b, f"{name} output depends on partitioning"
