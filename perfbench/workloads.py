"""The benchmark's workloads: what one op is, how it is checked, and
which layer calls are timed around it.

Every workload is one closed-loop client: the next op is sent only
after the previous one has delivered its result and been checked.

- `RegistryWorkload` (registry_mix): an op is one query from `POOL`.
  Its latency runs from the call to `Query.fn` until every row is in
  the driver as pandas (`toPandas`), so every output column is
  computed; a `count()` would let Catalyst prune the columns users
  wait for. The rows are checked against a fingerprint of the query's
  DuckDB oracle computed during setup.
- `EtlWorkload` (etl_ingest): an op is one staged batch. Its latency
  runs from the first `pipeline.run_batch` call (weather, then covid)
  to the end of the monitoring read over `logs/` and `gold/` that
  follows it. The lake is checked after every batch.
"""

from __future__ import annotations

import os
import random
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass

from covid_weather_etl_spark import schemas as S
from covid_weather_etl_spark.etl import pipeline
from covid_weather_etl_spark.functions import textops
from covid_weather_etl_spark.operators import minhash, similarity
from covid_weather_etl_spark.queries.registry import all_queries
from covid_weather_etl_spark.sources import catalog
from pyspark.sql import functions as F

import check
import datagen
from procfs import tree_cpu_s
from spans import JobCounts, Tracer, job_counts, p50

#: table scale: 60,000 lineitem rows, 500 documents. At this size a
#: query's latency is mostly planning, eager jobs and scheduling, which
#: every dashboard query pays; larger tables would leave fewer ops in
#: the run time the budget allows.
SCALE = 0.01

#: query -> the class of work it stands for. The pool holds only
#: queries that pass their oracle check on generated data, and that
#: neither read nor write `spark-warehouse/` (no train-once artifacts,
#: bucketed tables or dedup state), so a run cannot depend on what an
#: earlier one left. Each query is its own class: the end-to-end
#: latency combines per-query medians, so it does not jump from one
#: query's latency to another's when they cross.
POOL = {
    # the reference dashboard's monitoring rollup: JVM-only, with ten
    # eager jobs inside Query.fn, so plan building dominates
    "daily_activity_trend": "dashboard",
    # shingle explode, wide shuffle and minhash/LSH kernels
    "minhash_near_dup": "curation",
    # a Spark ML fit run eagerly inside Query.fn, many jobs
    "fpgrowth_type_itemsets": "ml_fit",
    # the forecasting DAG: per-group Holt-Winters fits in Python
    # workers (groupBy.applyInPandas)
    "holt_winters_forecast_eval": "ml_forecast",
}


@dataclass
class OpResult:
    name: str
    op: int | None               # None for warm-up ops
    latency: float
    ok: bool
    error: str = ""
    build: float = 0.0           # time inside the plan-building call
    cpu: float = 0.0             # CPU seconds of the process tree
    traced: bool = False


def _lake_usage(root: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(root):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


class RegistryWorkload:
    name = "registry_mix"
    round_s = 5.0    # one warm round of the pool on a 4-core host
    #: untimed passes over the pool before timing. On a 4-core host a
    #: round took 21 s, then 6.8, 5.4 and 4.7 s, and stayed at 4.4-4.9 s
    #: from the fourth on, as the JVM compiled the engine's code paths.
    #: Two warm passes keep the steepest part of that descent out of
    #: the timed rounds. A third made the spread of CPU seconds per op
    #: over ten runs no smaller (0.11 against 0.09-0.12) and added 7 s
    #: to a run, which the time budget of all runs does not have.
    warm_rounds = 2

    def __init__(self, workdir: str, seed: int, tracer: Tracer):
        self.pool = tuple(POOL)
        self.round_len = len(self.pool)
        self.data_dir = os.path.join(workdir, "data")
        self.seed = seed
        self.tracer = tracer
        self.queries = {}
        self.expected: dict[str, str] = {}
        self.op_tables: dict[str, tuple[str, ...]] = {}
        self.timed: list[OpResult] = []

    def describe(self) -> dict:
        per_query = {n: p50(o.latency for o in self.timed if o.name == n)
                     for n in self.pool}
        return {"data_dir": os.path.relpath(self.data_dir), "scale": SCALE,
                "pool": POOL, "query_p50_s": per_query}

    def prepare(self) -> None:
        """Generate the tables and start fingerprinting every oracle.
        The oracles run in a thread beside the session start and the
        warm-up pass (the Holt-Winters one takes 10-20 s in DuckDB);
        `warm` waits for them."""
        datagen.write_tables(self.data_dir, self.seed, SCALE)
        registry = all_queries()
        self.queries = {n: registry[n] for n in self.pool}
        pool = ThreadPoolExecutor(1)
        self._expected = pool.submit(
            check.oracle_fingerprints, self.queries.values(), self.data_dir,
            catalog.TABLES)
        pool.shutdown(wait=False)

    def op_names(self, rng: random.Random):
        """Rounds of the pool, each in a seed-drawn order."""
        while True:
            names = list(self.pool)
            rng.shuffle(names)
            yield from names

    def warm(self, spark) -> list[OpResult]:
        """`warm_rounds` untimed passes over the pool, every op checked
        once the oracles are in. The first pass also records which
        tables each query reads, for the traced `load_tables` probe."""
        out = []
        for i in range(self.warm_rounds * len(self.pool)):
            name = self.pool[i % len(self.pool)]
            res, df, pdf = self._run(spark, name, f"warm.{i}", None)
            out.append((res, pdf))
            if name not in self.op_tables:
                files = df.inputFiles() if df is not None else []
                tables = {os.path.basename(f).removesuffix(".parquet")
                          for f in files} & set(catalog.TABLES)
                self.op_tables[name] = (tuple(sorted(tables))
                                        or catalog.TABLES)
        self.expected = self._expected.result()
        for res, pdf in out:
            if pdf is not None:
                self._check(res, pdf)
        return [res for res, _ in out]

    def run_op(self, spark, name: str, op: int) -> OpResult:
        if self.tracer.enabled:
            with self.tracer.span("catalog.load_tables", op):
                catalog.load_tables(spark, self.data_dir, self.op_tables[name])
        res, _, pdf = self._run(spark, name, f"op{op}", op)
        if pdf is not None:
            self._check(res, pdf)
        self.timed.append(res)
        return res

    def _check(self, res: OpResult, pdf) -> None:
        res.ok = check.fingerprint(pdf) == self.expected[res.name]
        res.error = "" if res.ok else "oracle mismatch"

    def _run(self, spark, name, group, op):
        """Run one query to pandas; returns (result, frame, rows), the
        rows not yet checked."""
        sc = spark.sparkContext
        q = self.queries[name]
        df = None
        cpu0 = tree_cpu_s()
        t0 = t1 = time.perf_counter()
        try:
            with self.tracer.span("op", op):
                sc.setJobGroup(group + ".build", name)
                with self.tracer.span("registry.build", op):
                    df = q.fn(spark, self.data_dir)
                t1 = time.perf_counter()
                sc.setJobGroup(group + ".exec", name)
                with self.tracer.span("spark.exec", op):
                    pdf = df.toPandas()
            t2 = time.perf_counter()
        except Exception as ex:  # a failed op is counted, not fatal
            return OpResult(name, op, time.perf_counter() - t0, False,
                            repr(ex)[:300]), df, None
        return OpResult(name, op, t2 - t0, True, build=t1 - t0,
                        cpu=tree_cpu_s() - cpu0), df, pdf

    @contextmanager
    def tracing(self, spark):
        """Record spans; the registry calls are wrapped in `_run`."""
        self.tracer.enabled = True
        try:
            yield
        finally:
            self.tracer.enabled = False

    def layer_metrics(self, spark, ops: list[OpResult]) -> dict:
        """Per-layer figures of the traced ops."""
        t = self.tracer
        m = spark_layer_metrics(spark, ops, ("exec",))
        m["registry.build_s"] = m["op.build_s"]
        m["registry.build_sum_s"] = sum(t.durations("registry.build"))
        m["catalog.load_tables_s"] = p50(t.durations("catalog.load_tables"))
        ml = [o for o in ops if POOL[o.name].startswith("ml")]
        m["ml.build_s"] = p50(o.build for o in ml)
        m["ml.jobs_per_op"] = sum(
            job_counts(spark.sparkContext, f"op{o.op}.build").jobs
            for o in ml) / len(ml)
        m.update(self._kernel_probes(spark))
        return m

    def end_to_end_extra(self) -> dict:
        """Median latency of each class of query in the pool."""
        return {f"{cls}_p50_s": (p50(o.latency for o in self.timed
                                     if POOL[o.name] == cls), "s")
                for cls in POOL.values()}

    def _kernel_probes(self, spark, repeats: int = 3) -> dict:
        """Each curation kernel, materialized in full over `documents`
        or `embeddings` with a noop write; median of `repeats` calls."""
        t = catalog.load_tables(spark, self.data_dir,
                                ("documents", "embeddings"))
        docs = t["documents"]
        emb = t["embeddings"].withColumn(
            "v", F.col("embedding").cast("array<double>"))
        # the LSH probe times banding and the bucket join alone
        sigs = minhash.minhash_signatures(docs).localCheckpoint()
        kernels = {
            "textops.shingled_rows_s": lambda: textops.shingled_rows(docs),
            "minhash.shingles_s": lambda: minhash.shingles(docs),
            "minhash.signatures_s": lambda: minhash.minhash_signatures(docs),
            "minhash.lsh_pairs_s": lambda: minhash.lsh_candidate_pairs(sigs),
            "similarity.rp_band_hashes_s":
                lambda: similarity.rp_band_hashes(emb),
        }
        out = {}
        for name, build in kernels.items():
            for _ in range(repeats):
                with self.tracer.span(name.removesuffix("_s")):
                    build().write.format("noop").mode("overwrite").save()
            out[name] = p50(self.tracer.durations(name.removesuffix("_s")))
        return out


class EtlWorkload:
    """Batches of staged JSON through `pipeline.run_batch` into a lake
    that starts empty in every run. The untimed warm-up batch loads the
    end of the first window, so every timed batch appends: it anti-joins
    against gold, skips the re-run days as duplicates and continues the
    ids."""

    name = "etl_ingest"
    round_len = 1
    round_s = 14.5   # one batch on a 4-core host
    #: one untimed batch: on a 4-core host the batches took 25, 12.7,
    #: 10.6, 9.6, 8.9 and 8.8 s, but every further warm batch would add
    #: 10-13 s to a run that the time budget of all runs does not have
    warm_rounds = 1

    def __init__(self, workdir: str, seed: int, tracer: Tracer):
        self.workdir = workdir
        self.seed = seed
        self.tracer = tracer
        self.stager: datagen.EtlStager | None = None
        self.lake: pipeline.Lake | None = None
        self.batch_ts = 1_700_000_000
        # kind -> country -> rows gold should hold
        self.gold_rows = {kind: dict.fromkeys(datagen.COUNTRIES.values(), 0)
                          for kind in ("weather", "covid")}
        self.staged_bytes = 0     # every batch's JSON, warm-up included
        self.batches: list[dict] = []
        self._group = ""

    def describe(self) -> dict:
        s = self.stager
        return {"staging_dir": os.path.relpath(s.root),
                "lake_dir": os.path.relpath(self.lake.root),
                "countries": list(datagen.COUNTRIES),
                "bad_entry_share": round(s.bad_share, 4),
                "wrapped_entry_share": round(s.wrap_share, 4),
                "batch_rerun_days": [b["rerun"] for b in self.batches]}

    def prepare(self) -> None:
        self.stager = datagen.EtlStager(
            os.path.join(self.workdir, "staging"), self.seed)
        self.lake = pipeline.Lake(os.path.join(self.workdir, "lake"))

    def op_names(self, rng: random.Random):
        while True:
            yield "batch"

    def warm(self, spark) -> list[OpResult]:
        """`warm_rounds` untimed batches, the first rows of the lake."""
        res = [self.run_op(spark, "batch", None)
               for _ in range(self.warm_rounds)]
        self.batches.clear()
        return res

    def run_op(self, spark, name: str, op: int | None) -> OpResult:
        staged = self.stager.stage()
        self.batch_ts += 1
        sc = spark.sparkContext
        files0, bytes0 = _lake_usage(self.lake.root)
        results = {}
        self._group = f"op{op}"
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op", op):
                sc.setJobGroup(f"op{op}.exec", "etl batch")
                for kind in ("weather", "covid"):
                    with self.tracer.span("etl.run_batch", op):
                        results[kind] = pipeline.run_batch(
                            spark, f"{staged.dirs[kind]}/*", self.lake, kind,
                            self.batch_ts)
                t1 = time.perf_counter()
                sc.setJobGroup(f"op{op}.monitor", "etl monitor")
                with self.tracer.span("etl.monitor", op):
                    monitor = self._monitor(spark)
            t2 = time.perf_counter()
        except Exception as ex:  # a failed op is counted, not fatal
            return OpResult(name, op, time.perf_counter() - t0, False,
                            repr(ex)[:300])
        cpu = tree_cpu_s() - cpu0
        files1, bytes1 = _lake_usage(self.lake.root)
        self.staged_bytes += staged.n_bytes
        for kind, rows in staged.to_load.items():
            for country, n in rows.items():
                self.gold_rows[kind][country] += n
        sc.setJobGroup("check", "lake checks")
        error = self._check(spark, staged, results, monitor)
        self.batches.append({
            "op": op, "rerun": staged.rerun, "ingest_s": t1 - t0,
            "monitor_s": t2 - t1, "files_in": staged.n_files,
            "entries_in": staged.n_entries,
            "files_quarantined": sum(r.n_error_files
                                     for r in results.values()),
            "rows_loaded": sum(r.n_loaded for r in results.values()),
            "rows_skipped": sum(r.n_skipped_duplicates
                                for r in results.values()),
            "lake_files_written": files1 - files0,
            "lake_bytes_written": bytes1 - bytes0,
        })
        build = self.tracer.per_op("etl.read_staging", "etl.transform")
        return OpResult(name, op, t2 - t0, not error, error,
                        build=build.get(op, 0.0), cpu=cpu)

    def _monitor(self, spark) -> dict:
        """The dashboard read after a load: per-batch file and row
        counts from the logs, and gold rows per table and country."""
        lp = self.lake.path
        tlog = spark.read.parquet(lp("logs", "transform"))
        llog = spark.read.parquet(lp("logs", "load"))
        per_batch = (
            tlog.groupBy("batch_ts").agg(
                F.count("*").alias("files"),
                F.sum((F.col("status") == "Error").cast("long"))
                .alias("error_files"))
            .join(llog.groupBy("batch_ts").agg(
                F.sum("n_inserted").alias("inserted"),
                F.sum("n_skipped_duplicates").alias("skipped")),
                "batch_ts", "left")
            .orderBy("batch_ts").collect())
        gold = {kind: {r["country"]: r["n"] for r in
                       spark.read.parquet(lp("gold", kind)).groupBy("country")
                       .agg(F.count("*").alias("n")).collect()}
                for kind in ("weather", "covid")}
        return {"per_batch": per_batch, "gold": gold}

    def _check(self, spark, staged, results, monitor) -> str:
        """The lake invariants after one batch, against the counts the
        generator staged; returns the first violation, or '' when all
        hold."""
        lp = self.lake.path
        error_files = {row[0] for row in spark.read.parquet(
            lp("logs", "transform")).filter(
            (F.col("batch_ts") == self.batch_ts)
            & (F.col("status") == "Error")).select("source_file").collect()}
        for kind, r in results.items():
            to_load = sum(staged.to_load[kind].values())
            to_skip = staged.to_skip[kind]
            if (r.n_files, r.n_error_files) != (
                    staged.files[kind], len(staged.bad_files[kind])):
                return (f"{kind}: {r.n_files} files, {r.n_error_files} bad;"
                        f" staged {staged.files[kind]},"
                        f" {len(staged.bad_files[kind])} bad")
            if (r.n_loaded, r.n_skipped_duplicates) != (to_load, to_skip):
                return (f"{kind}: loaded {r.n_loaded}, skipped"
                        f" {r.n_skipped_duplicates}; staged {to_load} new"
                        f" and {to_skip} re-run good rows")
            silver = spark.read.parquet(lp("silver", kind)).filter(
                F.col("batch_ts") == self.batch_ts).count()
            if r.n_loaded + r.n_skipped_duplicates != silver:
                return f"{kind}: loaded+skipped != silver rows {silver}"
            quarantined = {f for f in error_files
                           if f.split("_")[1] == kind.upper()}
            if quarantined != staged.bad_files[kind]:
                return f"{kind}: quarantined files differ from the bad files"
            key = (S.WEATHER_NATURAL_KEY if kind == "weather"
                   else S.COVID_NATURAL_KEY)
            g = spark.read.parquet(lp("gold", kind)).agg(
                F.min("id").alias("lo"), F.max("id").alias("hi"),
                F.count("*").alias("n"), F.countDistinct("id").alias("ids"),
                F.countDistinct(*key).alias("keys")).collect()[0]
            if g["keys"] != g["n"]:
                return f"{kind}: duplicate natural key in gold"
            if not (g["lo"] == 1 and g["hi"] == g["n"] == g["ids"]):
                return f"{kind}: gold ids are not dense"
            want = {c: n for c, n in self.gold_rows[kind].items() if n}
            if monitor["gold"][kind] != want:
                return (f"{kind}: monitor read gold rows per country"
                        f" {monitor['gold'][kind]}, want {want}")
        last = monitor["per_batch"][-1]
        want = (self.batch_ts, staged.n_files,
                sum(len(b) for b in staged.bad_files.values()),
                sum(r.n_loaded for r in results.values()),
                sum(r.n_skipped_duplicates for r in results.values()))
        if tuple(last[c] for c in ("batch_ts", "files", "error_files",
                                   "inserted", "skipped")) != want:
            return f"monitor read batch row {last}, want {want}"
        return ""

    @contextmanager
    def tracing(self, spark):
        """Record spans, and wrap the pipeline's stage functions, which
        `run_batch` looks up at call time, in them. The plan-building
        stages run under the op's `.build` job group."""
        sc = spark.sparkContext
        originals = {n: getattr(pipeline, n)
                     for n in ("read_staging", "transform", "load")}

        def wrap(name, fn):
            def traced(*a, **kw):
                if name != "load":
                    sc.setJobGroup(f"{self._group}.build", "etl plan")
                try:
                    with self.tracer.span(f"etl.{name}"):
                        return fn(*a, **kw)
                finally:
                    sc.setJobGroup(f"{self._group}.exec", "etl batch")
            return traced

        for n, fn in originals.items():
            setattr(pipeline, n, wrap(n, fn))
        self.tracer.enabled = True
        try:
            yield
        finally:
            self.tracer.enabled = False
            for n, fn in originals.items():
                setattr(pipeline, n, fn)

    def layer_metrics(self, spark, ops: list[OpResult]) -> dict:
        t = self.tracer
        traced = {o.op for o in ops}
        b = [x for x in self.batches if x["op"] in traced]
        return {
            **spark_layer_metrics(spark, ops, ("exec", "monitor")),
            "etl.read_staging_s": p50(t.durations("etl.read_staging")),
            "etl.transform_s": p50(t.durations("etl.transform")),
            "etl.load_s": p50(t.durations("etl.load")),
            "etl.run_batch_s": p50(t.durations("etl.run_batch")),
            **{f"etl.{k}": sum(x[k] for x in b) for k in (
                "files_in", "entries_in", "files_quarantined",
                "rows_loaded", "rows_skipped")},
            "etl.lake_files_written": p50(x["lake_files_written"] for x in b),
            "etl.lake_bytes_written": p50(x["lake_bytes_written"] for x in b),
        }

    def end_to_end_extra(self) -> dict:
        """The write-path figures only this workload has."""
        b = self.batches
        _, lake_bytes = _lake_usage(self.lake.root)
        return {
            "ingest_rows_per_s": (sum(x["entries_in"] for x in b)
                                  / sum(x["ingest_s"] for x in b), "1/s"),
            "monitor_p50_s": (p50(x["monitor_s"] for x in b), "s"),
            "stored_bytes_per_input_byte": (lake_bytes / self.staged_bytes,
                                            "ratio"),
        }


def spark_layer_metrics(spark, ops: list[OpResult],
                        run_groups: tuple[str, ...]) -> dict:
    """The per-layer figures every workload has, over `ops`: time in
    the plan-building call and in execution, and the Spark jobs, stages
    and tasks each op ran."""
    sc = spark.sparkContext
    build, run = JobCounts(), JobCounts()
    for o in ops:
        build += job_counts(sc, f"op{o.op}.build")
        run += job_counts(sc, f"op{o.op}.build",
                          *(f"op{o.op}.{g}" for g in run_groups))
    n = len(ops)
    return {
        "op.build_s": p50(o.build for o in ops),
        "spark.exec_s": p50(o.latency - o.build for o in ops),
        "spark.build_jobs": build.jobs / n,
        "spark.jobs_per_op": run.jobs / n,
        "spark.stages_per_op": run.stages / n,
        "spark.tasks_per_op": run.tasks / n,
        "spark.failed_tasks": run.failed_tasks,
    }
