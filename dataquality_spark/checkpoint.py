"""Checkpointed, resumable pipeline runs with per-partition lineage.

The north rule requires exact resume after executor/driver loss. Design
(SURVEY.md §4.3(3)):

  * The input is split into ``n_chunks`` logical partitions by
    ``pmod(xxhash64(text), n_chunks)`` — the RAW-text content hash (the same
    key ``content_hash()`` uses for the pipeline's exact dedup; NOT the
    normalized text), so every exact-duplicate group lives entirely inside
    one chunk and per-chunk dedup is exactly equal to global dedup. Resume
    therefore yields a byte-identical decisions table
    (tested in tests/test_checkpoint.py).
  * All incomplete chunks are processed in ONE pass over the input: filter to
    the todo-chunk set, run the pipeline once, and write every chunk's
    decisions in a single ``partitionBy(chunk)`` dynamic-overwrite write.
    (The round-1 design re-filtered the full input once per chunk — the chunk
    key is a content hash, so no partition pruning is possible and n_chunks
    full scans become n_chunks × input-size read amplification at 100 TB.)
  * Per-chunk state files still commit atomically (tmp + rename), AFTER the
    partitioned write succeeds. A crash inside the write re-runs all still-
    incomplete chunks idempotently (dynamic partition overwrite replaces only
    their directories; completed chunks' data and state are untouched).
  * The state file carries the chunk's lineage: input row count, keep count,
    per-rule pass counts — the `lineage(partition_id, …, checkpoint_state)`
    table of SURVEY.md §1.4. Lineage is ONE grouped aggregate over the
    just-written decisions of this call's chunks only: their ``chunk=i``
    directories are read with the decisions schema given (no schema-
    inference job, no listing of completed chunks) and column-pruned to
    ``keep`` and ``rules`` (never scrubbed_text), and the per-rule counts
    are ``rules.heuristics.rule_counts``, the definition
    ``pipeline.metrics_from_decisions`` uses. A todo chunk that wrote no
    directory (no rows) commits zero counts; ``out_dir`` must therefore be
    a local path (a URI the write can reach but ``os`` cannot is refused
    after the write, before any state commits). Not computed with
    ``observe()`` on the write: per-chunk conditional counts there (chunks
    × rules × 2 aggregates) made the whole pass slower, not faster.
"""

from __future__ import annotations

import functools
import json
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataquality_spark import pipeline as P
from dataquality_spark.functions import text as TX
from dataquality_spark.rules.heuristics import rule_counts, rule_score


def _chunk_col(n_chunks: int):
    # must hash exactly like the pipeline's dedup key (raw text) so that
    # every exact-dup group stays inside one chunk
    return F.pmod(TX.content_hash(F.col("text")), F.lit(n_chunks))


def _state_path(out_dir: str, i: int) -> str:
    return os.path.join(out_dir, "_state", f"chunk_{i:05d}.json")


def run_checkpointed(spark: SparkSession, pages: DataFrame, out_dir: str,
                     n_chunks: int = 8, max_chunks: int | None = None,
                     salt_buckets: int = 64,
                     with_classifier: bool = False,
                     lang_optional: bool = False) -> dict:
    """Process all incomplete chunks in one input pass; returns run summary.

    ``max_chunks`` limits how many (incomplete) chunks to process this call —
    the kill/resume test uses it to simulate a mid-run crash.
    """
    os.makedirs(os.path.join(out_dir, "_state"), exist_ok=True)
    done = completed_chunks(out_dir)
    # resume with a different n_chunks silently re-processes (or skips)
    # rows whose pmod changed — every committed state file records the
    # partitioning it was written under, so refuse the mismatch loudly
    for i in sorted(done):
        with open(_state_path(out_dir, i)) as f:
            committed = json.load(f).get("n_chunks")
        if committed != n_chunks:
            raise ValueError(
                f"resume n_chunks={n_chunks} does not match committed "
                f"n_chunks={committed} in {_state_path(out_dir, i)}; "
                f"re-run with --chunks {committed} or use a fresh out_dir")
    todo = [i for i in range(n_chunks) if i not in done]
    if max_chunks is not None:
        todo = todo[:max_chunks]
    if not todo:
        return {"processed": [], "completed": sorted(done)}

    subset = (pages.withColumn("chunk", _chunk_col(n_chunks))
              .where(F.col("chunk").isin(todo)))
    cleanup: list[DataFrame] = []
    ann = P.run_pipeline(spark, subset, salt_buckets=salt_buckets,
                         cleanup=cleanup, with_classifier=with_classifier,
                         lang_optional=lang_optional)
    data_dir = os.path.join(out_dir, "data")
    # One job writes every todo chunk; dynamic mode replaces only the chunk=i
    # directories present in this write, leaving completed chunks intact.
    (P.decisions_table(ann, extra_cols=("chunk",))
     .write.partitionBy("chunk")
     .option("partitionOverwriteMode", "dynamic")
     .mode("overwrite").parquet(data_dir))
    for frame in cleanup:
        frame.unpersist()
    if not os.path.isdir(data_dir):
        # the lineage finds the written chunks through the local file
        # system, like the state files: a URI Spark wrote to (file:, s3a:,
        # hdfs:) would commit zero-row lineage for chunks that have rows
        raise ValueError(
            f"decisions were written to {data_dir!r} but it is not a local "
            f"directory; run_checkpointed needs a local out_dir path")

    return _commit_states(out_dir, data_dir, todo, n_chunks,
                          _lineage(spark, data_dir, todo,
                                   P.pipeline_rules(with_classifier)))


# what the lineage reads of the decisions; given, so nothing is inferred
_LINEAGE_SCHEMA = T.StructType([
    T.StructField("keep", T.BooleanType()),
    T.StructField("rules", T.MapType(T.StringType(), T.BooleanType())),
    T.StructField("chunk", T.IntegerType()),
])


def _lineage(spark: SparkSession, data_dir: str, todo: list[int],
             rules: list[str]) -> dict[int, dict]:
    """chunk → rows_in, rows_kept and per-rule metrics of the written
    ``todo`` chunks, in one grouped aggregate; chunks with no rows are
    absent."""
    dirs = [os.path.join(data_dir, f"chunk={i}") for i in todo]
    dirs = [d for d in dirs if os.path.isdir(d)]
    if not dirs:
        return {}
    aggs, out = _lineage_exprs(tuple(rules))
    rows = (spark.read.schema(_LINEAGE_SCHEMA)
            .option("basePath", data_dir).parquet(*dirs)
            .groupBy("chunk").agg(*aggs).select(*out).collect())
    return {r["chunk"]: {"rows_in": r["rows_in"],
                         "rows_kept": r["rows_kept"],
                         "rule_metrics": [m.asDict()
                                          for m in r["rule_metrics"]]}
            for r in rows}


@functools.lru_cache(maxsize=4)
def _lineage_exprs(rules: tuple[str, ...]
                   ) -> tuple[tuple[Column, ...], tuple[Column, ...]]:
    """The lineage aggregates and the projection over them, built once per
    rule set."""
    aggs = [F.count(F.lit(1)).alias("rows_in"),
            F.sum(F.col("keep").cast("long")).alias("rows_kept")]
    metrics = []
    for k, r in enumerate(rules):
        p, f = rule_counts(F.col("rules")[r])
        aggs += [p.alias(f"p{k}"), f.alias(f"f{k}")]
        metrics.append(F.struct(
            F.lit(r).alias("rule_id"), F.col(f"p{k}").alias("pass_count"),
            F.col(f"f{k}").alias("fail_count"),
            rule_score(F.col(f"p{k}"), F.col(f"f{k}")).alias("score")))
    out = (F.col("chunk"), F.col("rows_in"), F.col("rows_kept"),
           F.array(*metrics).alias("rule_metrics"))
    return tuple(aggs), out


def _commit_states(out_dir: str, data_dir: str, todo: list[int],
                   n_chunks: int, lineage_by_chunk: dict[int, dict]) -> dict:
    processed = []
    for i in todo:
        c = lineage_by_chunk.get(i)
        state = {
            "chunk": i,
            "n_chunks": n_chunks,
            "rows_in": c["rows_in"] if c else 0,
            "rows_kept": c["rows_kept"] if c else 0,
            "rule_metrics": sorted(c["rule_metrics"] if c else [],
                                   key=lambda m: m["rule_id"]),
            "data_dir": os.path.join(data_dir, f"chunk={i}"),
        }
        tmp = _state_path(out_dir, i) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(state, f)
        os.replace(tmp, _state_path(out_dir, i))  # atomic commit
        processed.append(i)
    return {"processed": processed,
            "completed": sorted(completed_chunks(out_dir))}


def completed_chunks(out_dir: str) -> set[int]:
    sdir = os.path.join(out_dir, "_state")
    if not os.path.isdir(sdir):
        return set()
    out = set()
    for f in os.listdir(sdir):
        if f.startswith("chunk_") and f.endswith(".json"):
            out.add(int(f[6:11]))
    return out


def read_decisions(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, "data"))


def lineage(out_dir: str) -> list[dict]:
    """Per-partition lineage rows from the committed state files."""
    rows = []
    for i in sorted(completed_chunks(out_dir)):
        with open(_state_path(out_dir, i)) as f:
            rows.append(json.load(f))
    return rows
