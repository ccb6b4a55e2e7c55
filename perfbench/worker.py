"""The measured process: one workload, one seed, one run.

Started by ``run.py`` with the fixture already built. It starts Spark,
sets up, runs the workload's timed operation for ``--seconds``, checks
every output against the fixture's oracle, writes its result as JSON and
shuts Spark down, including the JVM launcher process.

With ``--trace 1`` it instead sweeps the layers of both paths, the
workload's own first and then the other one on the same seed's fixture
(``--other-fixture``), so that every traced run reports every per-layer
metric. It times calls into each layer's public functions from outside
and writes its spans to ``--spans``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tracing import Tracer  # noqa: E402

CHUNKS = 16
CRASH_AFTER = 8      # chunks the first pass commits before the "crash"
CRAWL_WARMUP_PASSES = 2
KERNEL_ROWS = 10_000  # in-process sample the Python kernels are timed on
MIN_PASSES = 3
REPS = 3             # executions of each traced layer, median reported
MB = 1 << 20

NOTRACE = Tracer(enabled=False)


class Ledger:
    """Counts timed operations and the ones that failed. An operation
    fails when it raises or when its output differs from the oracle."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, name: str, problem: str | None) -> None:
        self.attempted += 1
        if problem:
            self.failed += 1
            self.errors.append(f"{name}: {problem}")
            print(f"FAILED {name}: {problem}", file=sys.stderr, flush=True)


def timed_loop(seconds: float, once) -> None:
    """Call ``once()`` at least MIN_PASSES times, then until ``seconds``
    have passed. A fixed floor keeps a slow first pass from being a run's
    only sample; the median of three drops one slow pass."""
    start = time.perf_counter()
    n = 0
    while n < MIN_PASSES or time.perf_counter() - start < seconds:
        once()
        n += 1


# ---------------------------------------------------------------------------
# crawl_resume_skewed

def check_decisions(data_dir: str, expected) -> str | None:
    """Per-url ``keep`` and ``scrubbed_text`` must equal the oracle's."""
    import pyarrow.parquet as pq

    got = (pq.read_table(data_dir, columns=["url", "keep", "scrubbed_text"])
           .to_pandas().sort_values("url").reset_index(drop=True))
    if len(got) != len(expected):
        return f"{len(got)} rows written, oracle has {len(expected)}"
    if not (got["url"].to_numpy() == expected["url"].to_numpy()).all():
        return "url set differs from the oracle"
    keep = sum(a is not b and a != b
               for a, b in zip(got["keep"], expected["keep"]))
    text = sum(a != b for a, b in zip(got["scrubbed_text"],
                                       expected["scrubbed_text"]))
    if keep or text:
        return f"{keep} keep and {text} scrubbed_text mismatches"
    return None


def traced_pass(one_pass, tracer: Tracer) -> tuple[float, float]:
    """One traced pass between two untraced ones. Returns the traced pass
    time and its ratio to the mean of the untraced passes (the tracing
    overhead)."""
    before = one_pass(NOTRACE)
    traced = one_pass(tracer)
    after = one_pass(NOTRACE)
    if None in (before, traced, after):
        raise RuntimeError("a pass of the tracing-overhead run failed")
    return traced, traced / ((before + after) / 2)


class Crawl:
    def __init__(self, spark, fx: str, work: str, ledger: Ledger):
        import pandas as pd

        self.spark = spark
        self.fx = fx
        self.ledger = ledger
        self.out = os.path.join(work, "out")
        self.pages_dir = os.path.join(fx, "pages")
        with open(os.path.join(fx, "meta.json")) as f:
            self.meta = json.load(f)
        self.expected = pd.read_parquet(os.path.join(fx, "oracle.parquet"))
        self.pass_s: list[float] = []

    def setup(self, tracer: Tracer, full: bool = True) -> None:
        """Train, then warm up; ``full=False`` (the second path of a
        traced run, in a warm session) makes one warm-up pass."""
        from dataquality_spark import pipeline as P

        t = time.perf_counter()
        with tracer.span("models.train"):
            P.get_artifacts()
        self.train_s = time.perf_counter() - t
        # warm-up: whole checked passes, not sampled. Passes keep getting
        # faster for a while in a fresh JVM: 18.9, 7.5, 6.5, 6.6, 5.9 s.
        # With one warm-up pass pass_s spread 0.327 over ten seeds
        t = time.perf_counter()
        with tracer.span("pipeline.warmup", jobs=True):
            for _ in range(CRAWL_WARMUP_PASSES if full else 1):
                self.one_pass(sample=False)
        self.warmup_s = time.perf_counter() - t

    def _checkpointed(self, pages, tracer: Tracer) -> tuple[float, float]:
        from dataquality_spark.checkpoint import run_checkpointed

        shutil.rmtree(self.out, ignore_errors=True)
        t0 = time.perf_counter()
        with tracer.span("checkpoint.first_pass", jobs=True):
            first = run_checkpointed(self.spark, pages, self.out,
                                     n_chunks=CHUNKS, max_chunks=CRASH_AFTER)
        t1 = time.perf_counter()
        with tracer.span("checkpoint.resume", jobs=True):
            done = run_checkpointed(self.spark, pages, self.out,
                                    n_chunks=CHUNKS)
        t2 = time.perf_counter()
        if len(first["processed"]) != CRASH_AFTER or \
                done["completed"] != list(range(CHUNKS)):
            raise RuntimeError(f"chunk bookkeeping: first={first} "
                               f"resume={done}")
        return t1 - t0, t2 - t1

    def one_pass(self, tracer: Tracer = NOTRACE,
                 sample: bool = True) -> float | None:
        """Crash after half the chunks, resume, check the resumed output
        against the one-shot oracle. Returns the pass time."""
        pages = self.spark.read.parquet(self.pages_dir)
        try:
            first_s, resume_s = self._checkpointed(pages, tracer)
            problem = check_decisions(os.path.join(self.out, "data"),
                                      self.expected)
        except Exception as e:  # noqa: BLE001 - any raise is a failed op
            self.ledger.record("crawl pass", repr(e)[:500])
            return None
        self.ledger.record("crawl pass", problem)
        if problem:
            return None
        if sample:
            self.pass_s.append(first_s + resume_s)
        print(f"crawl pass {first_s + resume_s:.3f}s (first {first_s:.3f}s,"
              f" resume {resume_s:.3f}s)", file=sys.stderr, flush=True)
        return first_s + resume_s


    # -- traced sweep -----------------------------------------------------

    def kernels(self, tracer: Tracer) -> dict:
        """Time the fused UDF's Python kernels single-threaded on a fixed
        in-process sample of the input."""
        import pandas as pd

        from dataquality_spark import pipeline as P
        from dataquality_spark import scrub
        from dataquality_spark.functions import stats_batch
        from dataquality_spark.models import langid, ngram_lm

        files = sorted(os.listdir(self.pages_dir))
        texts = pd.concat(
            [pd.read_parquet(os.path.join(self.pages_dir, f),
                             columns=["text"])["text"] for f in files],
            ignore_index=True).iloc[:KERNEL_ROWS]
        art = P.get_artifacts()
        n = len(texts)

        def per_row(name, fn):
            runs = []
            for _ in range(3):
                with tracer.span(name):
                    t = time.perf_counter()
                    res = fn()
                    runs.append(time.perf_counter() - t)
            return statistics.median(runs) / n * 1e6, res

        lang_us, (pred, _) = per_row(
            "models.langid",
            lambda: langid.predict_batch(texts, art["langid"]))
        lm_us, _ = per_row("models.lm", lambda: ngram_lm.logprob_batch(
            texts, pred, art["lm"]))
        scrub_us, scrubbed = per_row("scrub",
                                     lambda: scrub.scrub_series(texts))
        stats_us, st = per_row("stats_batch",
                               lambda: stats_batch.stats_batch(texts))
        present = texts.notna()
        changed = (scrubbed[present] != texts[present]).sum()
        return {
            "models.langid_us_per_row": lang_us,
            "models.lm_us_per_row": lm_us,
            "scrub.us_per_row": scrub_us,
            "stats_batch.us_per_row": stats_us,
            "scrub.changed_frac": float(changed) / max(int(present.sum()), 1),
            "stats_batch.ascii_frac": float(st["fast"][present.to_numpy()]
                                            .mean()),
        }

    def sweep(self, tracer: Tracer, cores: int, bracket: bool) -> dict:
        """Every per-layer metric of the crawl path. The cuts are checked
        against the oracle's counts and decisions; a mismatch fails the
        run. With ``bracket`` the traced pass runs between two untraced
        ones and ``trace.overhead`` is reported."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from dataquality_spark import pipeline as P
        from dataquality_spark.checkpoint import lineage, read_decisions
        from dataquality_spark.models.udf import with_model_scores_and_scrub
        from dataquality_spark.rules.heuristics import with_rule_flags

        spark = self.spark
        m = self.kernels(tracer)

        # uncut operation: traced once, between two untraced passes
        # when the overhead is measured on this path
        if bracket:
            _, m["trace.overhead"] = traced_pass(self.one_pass, tracer)
        elif self.one_pass(tracer) is None:
            raise RuntimeError("the traced crawl pass failed")
        first = tracer.get("checkpoint.first_pass")["counters"]
        resume = tracer.get("checkpoint.resume")["counters"]
        m["checkpoint.first_pass_s"] = tracer.dur("checkpoint.first_pass")
        m["checkpoint.resume_s"] = tracer.dur("checkpoint.resume")
        m["checkpoint.jobs"] = first["jobs"] + resume["jobs"]
        with tracer.span("checkpoint.lineage", jobs=True):
            P.metrics_from_decisions(read_decisions(spark, self.out),
                                     group_cols=("chunk",)).collect()
        m["checkpoint.lineage_s"] = tracer.dur("checkpoint.lineage")
        m["checkpoint.files_written"] = sum(
            f.endswith(".parquet")
            for _, _, fs in os.walk(os.path.join(self.out, "data"))
            for f in fs)
        rows_in = [r["rows_in"] for r in lineage(self.out)]
        m["checkpoint.chunk_skew"] = max(rows_in) / statistics.mean(rows_in)

        # layer self times: each layer runs alone, REPS times, over its
        # input persisted beforehand; no self time is a difference of two
        # executions
        pages = spark.read.parquet(self.pages_dir)
        art = P.get_artifacts()
        meta = self.meta
        held = []

        def noop(df, name, *observed, reps=1):
            """Write ``df`` into the noop sink ``reps`` times. Returns the
            spans and the values observed by the last execution."""
            recs = []
            for _ in range(reps):
                obs = Observation(name)
                with tracer.span(name, jobs=True) as rec:
                    (df.observe(obs, F.count(F.lit(1)).alias("n"), *observed)
                     .write.format("noop").mode("overwrite").save())
                recs.append(rec)
            return recs, obs.get

        def med(recs):
            return statistics.median(r["end"] - r["start"] for r in recs)

        def materialized(df):
            df = df.persist()
            df.write.format("noop").mode("overwrite").save()
            held.append(df)
            return df

        def release():
            for f in held:
                f.unpersist(blocking=True)
            held.clear()

        def expect(what, got, want):
            self.ledger.record(f"crawl {what}", None if got == want else
                               f"{got} rows, oracle has {want}")

        base = pages.drop("html")
        recs, _ = noop(base, "sources.scan", reps=REPS)
        m["sources.scan_s"] = med(recs)
        scored = with_model_scores_and_scrub(
            spark, materialized(base), art["langid"], art["lm"])
        recs, _ = noop(scored, "models.udf", reps=REPS)
        m["models.udf_s"] = med(recs)
        recs, rules = noop(
            with_rule_flags(materialized(scored), precomputed_stats=True),
            "rules.project",
            F.sum(F.col("heuristic_pass").cast("long")).alias("h"), reps=REPS)
        m["rules.project_s"] = med(recs)
        m["models.udf_useful_frac"] = rules["h"] / rules["n"]
        expect("heuristic_pass", rules["h"], meta["heuristic_pass"])
        release()

        # from here on the program's own DAG: run_pipeline persists its
        # gated, hashed frame; one execution fills that cache
        cleanup = []
        dec = P.decisions_table(P.run_pipeline(spark, pages, cleanup=cleanup))
        held += cleanup
        (hashed,) = cleanup
        _, gated = noop(hashed, "pipeline.scored",
                        F.sum(F.col("pre_dedup_pass").cast("long")).alias("p"))
        m["rules.pass_frac"] = gated["p"] / gated["n"]
        expect("pre_dedup_pass", gated["p"], meta["pre_dedup_pass"])
        m["pipeline.cache_mb"] = self._cached_bytes() / MB
        # decisions from the cache: the winners' shuffle and broadcast run
        # as jobs of their own; the last job joins back and projects
        recs, kept = noop(dec, "pipeline.joinback",
                          F.sum(F.col("keep").cast("long")).alias("k"),
                          reps=REPS)
        split = [(r["counters"]["job_times"][-1][1], r) for r in recs]
        m["dedup.winners_s"] = statistics.median(
            last - r["start"] for last, r in split)
        m["pipeline.joinback_s"] = statistics.median(
            r["end"] - last for last, r in split)
        m["dedup.shuffle_write_mb"] = (
            recs[-1]["counters"]["shuffle_write_bytes"] / MB)
        m["dedup.groups"] = kept["k"]
        expect("kept", kept["k"], meta["kept"])
        sizes = (hashed.where("pre_dedup_pass").groupBy("content_hash")
                 .count().agg(F.max("count").alias("mx"),
                              F.sum("count").alias("rows")).collect()[0])
        m["dedup.max_group_rows"] = sizes["mx"]
        m["dedup.dup_frac"] = (sizes["rows"] - kept["k"]) / sizes["rows"]
        # AQE coalesces this small shuffle into one task; the skew probe
        # keeps the session's 2 x cores reduce partitions
        conf = "spark.sql.adaptive.coalescePartitions.enabled"
        prev = spark.conf.get(conf)
        spark.conf.set(conf, "false")
        try:
            recs, _ = noop(dec, "dedup.skew_probe")
        finally:
            spark.conf.set(conf, prev)
        skew = recs[-1]["counters"].get("record_skew")
        if skew is None:
            # a metric of the manifest that cannot be measured fails the
            # run rather than report a default
            raise RuntimeError("dedup.task_skew: the probe's heaviest "
                               "reduce stage ran fewer than two tasks")
        m["dedup.task_skew"] = skew
        dec_c = materialized(dec)
        out = os.path.join(os.path.dirname(self.out), "oneshot")
        recs = []
        for _ in range(REPS):
            shutil.rmtree(out, ignore_errors=True)
            with tracer.span("pipeline.write", jobs=True) as rec:
                dec_c.write.mode("overwrite").parquet(out)
            recs.append(rec)
        m["pipeline.write_s"] = med(recs)
        self.ledger.record("crawl layer cuts",
                           check_decisions(out, self.expected))
        release()

        # the uncut one-shot run: decisions written, then the rescan
        shutil.rmtree(out, ignore_errors=True)
        cleanup = []
        dec = P.decisions_table(P.run_pipeline(spark, pages, cleanup=cleanup))
        with tracer.span("pipeline.oneshot", jobs=True):
            dec.write.mode("overwrite").parquet(out)
        for f in cleanup:
            f.unpersist(blocking=True)
        self.ledger.record("crawl one-shot", check_decisions(out,
                                                             self.expected))
        mrecs = []
        for _ in range(REPS):
            with tracer.span("pipeline.metrics", jobs=True) as rec:
                P.metrics_from_decisions(spark.read.parquet(out)).collect()
            mrecs.append(rec)
        m["pipeline.metrics_s"] = med(mrecs)
        wr = tracer.get("pipeline.oneshot")["counters"]
        mt = mrecs[-1]["counters"]
        oneshot_s = (tracer.dur("pipeline.oneshot")
                     + mrecs[-1]["end"] - mrecs[-1]["start"])
        m["pipeline.jobs"] = wr["jobs"] + mt["jobs"]
        m["pipeline.gc_s"] = wr["gc_s"] + mt["gc_s"]
        m["pipeline.cpu_util"] = (wr["cpu_s"] + mt["cpu_s"]) / (oneshot_s
                                                              * cores)
        out_bytes = sum(os.path.getsize(os.path.join(d, f))
                        for d, _, fs in os.walk(out) for f in fs
                        if f.endswith(".parquet"))
        m["pipeline.out_mb"] = out_bytes / MB
        m["pipeline.out_bytes_per_in_byte"] = out_bytes / meta["in_bytes"]
        m["checkpoint.overhead"] = statistics.median(self.pass_s) / oneshot_s
        shutil.rmtree(out, ignore_errors=True)
        return m

    def _cached_bytes(self) -> int:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos)

    def shape(self) -> dict:
        """What the oracle says about the input: rows, rows passing the
        pre-dedup gate, rows kept."""
        return {k: self.meta[k] for k in ("rows", "pre_dedup_pass", "kept")}

    def setup_layers(self) -> dict:
        return {"models.train_s": self.train_s,
                "pipeline.warmup_s": self.warmup_s}


# ---------------------------------------------------------------------------
# registry_small

def fingerprint_exprs(cols: list[str]):
    """Order-insensitive digest of a frame's rows, computed in the same
    pass as the noop write: row count, xor and sum of a per-row hash."""
    from pyspark.sql import functions as F

    row = F.to_json(F.struct(*[F.col(f"`{c}`") for c in cols]))
    h = F.xxhash64(row)
    return [F.count(F.lit(1)).alias("n"), F.bit_xor(h).alias("x"),
            F.sum(F.pmod(h, F.lit(1 << 31))).alias("s")]


class Registry:
    def __init__(self, spark, fx: str, ledger: Ledger):
        from fixtures import REGISTRY_QUERIES

        self.spark = spark
        self.fx = fx
        self.ledger = ledger
        self.names = REGISTRY_QUERIES
        with open(os.path.join(fx, "oracle.json")) as f:
            self.expected = json.load(f)
        self.pass_s: list[float] = []
        self.fp: dict[str, dict] = {}

    def setup(self, tracer: Tracer, full: bool = True) -> None:
        """Import, then warm up; ``full=False`` (the second path of a
        traced run, in a warm session) skips the noop warm-up pass."""
        t = time.perf_counter()
        with tracer.span("queries.import"):
            from dataquality_spark import queries
        self.Q = queries
        self.import_s = time.perf_counter() - t
        # warm-up: one pass that collects every query and checks it
        # against the DuckDB oracle, then one noop pass, not sampled.
        # Without the noop pass the timed median falls on a steeper part
        # of the JIT's warm-up and pass_s spread 0.167 over five seeds
        t = time.perf_counter()
        with tracer.span("queries.warmup", jobs=True):
            for name in self.names:
                self._check(name)
            if full:
                self.one_pass(sample=False)
        self.warmup_s = time.perf_counter() - t

    def _noop(self, name: str, tracer: Tracer = NOTRACE
              ) -> tuple[float, dict]:
        """Run one query into the noop sink; returns its time and observed
        digest. Releasing the query's pins afterwards is not timed."""
        from pyspark.sql import Observation

        t = time.perf_counter()
        with tracer.span(f"queries.{name}", jobs=True):
            out = self.Q.QUERIES[name](self.spark, self.fx)
            obs = Observation(name)
            try:
                (out.observe(obs, *fingerprint_exprs(out.columns))
                 .write.format("noop").mode("overwrite").save())
                dt = time.perf_counter() - t
            finally:
                self.Q.release_cached(out)
        return dt, obs.get

    def _check(self, name: str) -> None:
        """Collect the query once, with the row digest observed in the same
        execution, and check the rows against the DuckDB oracle. The timed
        passes then compare their digest with this checked one."""
        from pyspark.sql import Observation

        from fixtures import canon_digest
        from tools.verify_queries import spark_type_class

        exp = self.expected[name]
        out = self.Q.QUERIES[name](self.spark, self.fx)
        obs = Observation(name)
        try:
            rows = out.observe(obs, *fingerprint_exprs(out.columns)).collect()
        finally:
            self.Q.release_cached(out)
        cols = out.columns
        types = {f.name: spark_type_class(f.dataType) for f in out.schema}
        problem = None
        if len(rows) != exp["rows"]:
            problem = f"{len(rows)} rows, oracle has {exp['rows']}"
        elif sorted(cols) != exp["cols"]:
            problem = f"columns {sorted(cols)} != {exp['cols']}"
        elif types != exp["types"]:
            problem = f"types {types} != {exp['types']}"
        elif canon_digest([tuple(r) for r in rows], cols) != exp["digest"]:
            problem = "values differ from the oracle"
        if problem:
            raise RuntimeError(f"{name}: {problem}")
        self.fp[name] = obs.get

    def one_pass(self, tracer: Tracer = NOTRACE,
                 sample: bool = True) -> float | None:
        total = 0.0
        ok = True
        times = {}
        for name in self.names:
            try:
                dt, got = self._noop(name, tracer)
                problem = None if got == self.fp[name] else \
                    f"row digest {got} != checked {self.fp[name]}"
            except Exception as e:  # noqa: BLE001 - any raise is a failure
                dt, problem = 0.0, repr(e)[:500]
            self.ledger.record(f"query {name}", problem)
            ok = ok and problem is None
            if problem is None:
                total += dt
                times[name] = round(dt, 3)
        if not ok or not sample:
            return total if ok else None
        self.pass_s.append(total)
        print(f"registry pass {total:.3f}s {times}", file=sys.stderr,
              flush=True)
        return total

    def sweep(self, tracer: Tracer, cores: int, bracket: bool) -> dict:
        if bracket:
            traced, overhead = traced_pass(self.one_pass, tracer)
            m = {"trace.overhead": overhead}
        else:
            traced, m = self.one_pass(tracer), {}
            if traced is None:
                raise RuntimeError("the traced registry pass failed")
        shuffle = cpu = 0.0
        for name in self.names:
            rec = tracer.get(f"queries.{name}")
            m[f"queries.{name}_s"] = rec["end"] - rec["start"]
            m[f"queries.{name}.jobs"] = rec["counters"]["jobs"]
            shuffle += rec["counters"]["shuffle_write_bytes"]
            cpu += rec["counters"]["cpu_s"]
        m["queries.shuffle_write_mb"] = shuffle / MB
        m["queries.cpu_util"] = cpu / (traced * cores)
        return m

    def shape(self) -> dict:
        """The oracle's row count of each query."""
        return {n: self.expected[n]["rows"] for n in self.names}

    def setup_layers(self) -> dict:
        return {"queries.import_s": self.import_s,
                "queries.warmup_s": self.warmup_s}


# ---------------------------------------------------------------------------

def jvm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def shutdown(spark) -> None:
    """Stop Spark and end the JVM: ``stop()`` alone can leave the JVM alive
    while this process lives; closing the launcher's stdin ends it."""
    proc = spark.sparkContext._gateway.proc
    try:
        spark.stop()
    finally:
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
                raise


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--fixture", required=True)
    ap.add_argument("--other-fixture",
                    help="traced: the other workload's fixture, same seed")
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--t0", type=float, required=True,
                    help="wall clock when the parent launched this process")
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--spans", required=True)
    a = ap.parse_args()
    if a.trace and not a.other_fixture:
        ap.error("--trace 1 needs --other-fixture")

    from dataquality_spark.session import get_spark

    tracer = Tracer(enabled=bool(a.trace))
    ledger = Ledger()
    tmp = os.environ["TMPDIR"]
    with tracer.span("session.start"):
        spark = get_spark(
            app_name=f"perfbench_{a.workload}", master=f"local[{a.cores}]",
            extra_conf={"spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                        "spark.ui.showConsoleProgress": "false"})
    session_s = time.time() - a.t0
    try:
        tracer.sc = spark.sparkContext
        crawl = a.workload == "crawl_resume_skewed"
        if a.trace:
            crawl_fx, registry_fx = ((a.fixture, a.other_fixture) if crawl
                                     else (a.other_fixture, a.fixture))
            paths = [Crawl(spark, crawl_fx, a.work, ledger),
                     Registry(spark, registry_fx, ledger)]
            if not crawl:
                paths.reverse()
        elif crawl:
            paths = [Crawl(spark, a.fixture, a.work, ledger)]
        else:
            paths = [Registry(spark, a.fixture, ledger)]
        wl = paths[0]
        wl.setup(tracer)
        setup_s = time.time() - a.t0
        if a.trace:
            # the workload's own path first, set up exactly as untraced
            # and carrying the tracing overhead; then the other path,
            # set up and swept in the same (now warm) session
            metrics = {"session.start_s": session_s, **wl.setup_layers(),
                       **wl.sweep(tracer, a.cores, bracket=True)}
            other = paths[1]
            other.setup(tracer, full=False)
            metrics.update(other.setup_layers())
            metrics.update(other.sweep(tracer, a.cores, bracket=False))
            resource_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
            metrics["session.peak_rss_mb"] = (
                jvm_hwm_mb(spark.sparkContext._gateway.proc.pid)
                + resource_kb / 1024)
        else:
            timed_loop(a.seconds, wl.one_pass)
            if not wl.pass_s:
                raise RuntimeError("no timed pass succeeded")
            metrics = {"setup_s": setup_s,
                       "pass_s": statistics.median(wl.pass_s)}
        result = {"attempted": ledger.attempted, "failed": ledger.failed,
                  "errors": ledger.errors, "metrics": metrics,
                  "samples": {type(p).__name__.lower(): len(p.pass_s)
                              for p in paths},
                  "shape": {type(p).__name__.lower(): p.shape()
                            for p in paths}}
    finally:
        shutdown(spark)
    if a.trace:
        tracer.dump(a.spans, {"workload": a.workload, "cores": a.cores})
    with open(a.result, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
