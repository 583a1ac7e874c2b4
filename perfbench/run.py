#!/usr/bin/env python3
"""The extraction benchmark: one workload per run, end-to-end metrics by
default, per-layer metrics with ``--trace 1``.

    python3 perfbench/run.py --workload fused_mixed --seed 1 --seconds 8 --trace 0

Run it from the repository root; it builds the inputs from ``--seed``,
drives the public entry points (``pipeline.extract``,
``checkpoint.run_extraction``), checks every output doc id and a fixed
sample of documents against ``oracle.extract_document``, and prints the
metrics as a table followed by one JSON line (always the last line of
stdout). A detail record with host facts, input size, every metric and
the spans goes to ``perfbench/records/``. All scratch data lives under
``perfbench/.work/<pid>/`` and is removed at the end of the run.

Workloads, metric names and units are listed in ``BENCHMARK.json``; the
reasons for each workload and the layer-to-end-to-end map are in
``perfbench/NOTES.md``. The exit code is 0 only when every check passed.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import platform
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# per process, so two runs in one checkout never share scratch data
WORK = os.path.join(HERE, ".work", str(os.getpid()))
RECORDS = os.path.join(HERE, "records")

# Sizes are set so one run (set-up, timed phase, checks) stays near 50 s
# on a 4-core host, session start and cold start alone taking about 18 s:
# the full sweep runs every workload of BENCHMARK.json 22 times.
FUSED_DOCS = 1600
GIANT_NORMAL_DOCS = 300
GIANT_PAGES = 1500  # more than half of all pages: one task straggles
GIANT_POOL_DOCS = 40
CK_DOCS = 640
CK_BUCKETS = 4
CK_RESUMES = 3
SAMPLE_DOCS = 24
SETUP_REPEATS = 3
SPEC_DOCS = 300
SPEC_REPEATS = 3

#: giant_skew runs on request but is not in BENCHMARK.json: its wall is
#: one Python worker's, and on a shared 4-core host that swung by a
#: quarter between runs (see NOTES.md)
WORKLOADS = ("fused_mixed", "giant_skew", "checkpoint_commits")

#: per-layer metric prefixes a workload cannot measure from outside the
#: program; a traced run reports them as 0 and lists them in its record.
#: The extract workloads run no checkpoint layer. checkpoint_commits runs
#: the pipeline inside run_extraction's writes, whose QueryExecution the
#: caller never sees, so only its job counts are read there.
UNMEASURED = {
    "fused_mixed": ("checkpoint.",),
    "giant_skew": ("checkpoint.",),
    "checkpoint_commits": ("pipeline.",),
}


class Spans:
    """In-memory spans around each layer call: name, parent, start, wall
    and the counts recorded at the same boundary."""

    def __init__(self):
        self.records: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **counts):
        rec = {"id": len(self.records),
               "parent": self._stack[-1]["id"] if self._stack else None,
               "name": name, "start_unix": time.time(), "counts": counts}
        self.records.append(rec)
        self._stack.append(rec)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            self._stack.pop()

    def with_self_time(self) -> list[dict]:
        """Spans with ``self_s``: wall minus the walls of direct children
        (children run one after another, never overlapping)."""
        child = {}
        for r in self.records:
            if r["parent"] is not None:
                child[r["parent"]] = child.get(r["parent"], 0.0) + r["wall_s"]
        return [dict(r, self_s=r["wall_s"] - child.get(r["id"], 0.0))
                for r in self.records]


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, Spark's hidden files excluded."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                size += os.path.getsize(os.path.join(d, n))
                files += 1
    return size, files


def start_session(cores: int):
    """The session ``jobs/run_extract.py`` builds (AQE on, Arrow on), at
    local[cores] with UI and console progress off; every scratch
    directory points into the work dir so the run writes nowhere else.
    No split-size or partition setting is made."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts  # spark-submit's launcher JVM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(WORK, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .config("spark.driver.extraJavaOptions", java_opts)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it owns)
    to exit: it leaves when its stdin closes."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # a JVM that will not leave is killed
            proc.kill()
            proc.wait()


class Bench:
    """One run of one workload: session, set-up, timed phase, checks."""

    def __init__(self, args):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.cores = len(os.sched_getaffinity(0))
        self.spans = Spans()
        self.metrics: dict[str, float] = {}  # every metric this run measured
        self.facts: dict = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    # ---- correctness --------------------------------------------------

    def fail(self, n: int, what: str) -> None:
        if n:
            self.failed += n
            self.errors.append(what)

    def check_ids(self, ids: list[str], expected: set[str], where: str) -> None:
        seen = set(ids)
        self.fail(len(expected - seen), f"{where}: {len(expected - seen)} docs missing")
        self.fail(len(ids) - len(seen), f"{where}: {len(ids) - len(seen)} duplicate rows")
        self.fail(len(seen - expected), f"{where}: {len(seen - expected)} unknown doc ids")

    def check_sample(self, rows: dict, oracle_out: dict, where: str) -> None:
        """``rows``: doc_id -> output Row of the sample docs. Every output
        column must equal the oracle's value."""
        bad = 0
        for doc_id, want in oracle_out.items():
            got = rows.get(doc_id)
            if got is None or _row_value(got) != want:
                bad += 1
        self.fail(bad, f"{where}: {bad} sample docs differ from the oracle")

    def sample(self, n: int, k: int) -> dict[str, dict]:
        """``k`` of the ``n`` generated docs, picked by the seed: the
        docs checked against the oracle, rebuilt here by the same pure
        function of (seed, index) the input generator used."""
        from dots_ocr_spark import fixtures

        idx = random.Random(self.seed).sample(range(n), k)
        return {d["doc_id"]: d for d in
                (fixtures.generate_doc(i, seed=self.seed) for i in idx)}

    # ---- set-up -------------------------------------------------------

    def setup(self, spark, materialize) -> str:
        """Materialize the input SETUP_REPEATS times (the same seed each
        time) and keep the median. The first also boots the Python workers
        and warms the JVM; its excess over the median is ``setup.cold_s``.
        Returns the input directory."""
        walls = []
        for r in range(SETUP_REPEATS):
            path = os.path.join(WORK, f"input{r}")
            with self.spans.span("setup.generate", repeat=r) as s:
                materialize(spark, path)
                n_docs, n_pages = spark.read.parquet(path).selectExpr(
                    "count(*)", "sum(n_pages)").first()
            walls.append(s["wall_s"])
        in_bytes, in_files = dir_bytes(path)
        self.facts.update(input_docs=n_docs, input_pages=int(n_pages),
                          input_bytes=in_bytes, input_files=in_files)
        self.metrics["setup.generate_s"] = statistics.median(walls)
        self.metrics["setup.cold_s"] = walls[0] - statistics.median(walls)
        self.metrics["setup.input_mb"] = in_bytes / 2**20
        return path

    # ---- workloads ----------------------------------------------------

    def run_extract(self, spark, docs_path: str, expected: set[str],
                    sample: dict[str, dict]) -> None:
        """One untimed warm-up pass, then timed ``pipeline.extract``
        passes with program defaults. The sink hashes every output column
        of every doc and keeps the sample docs whole, so all Python output
        crosses Arrow and no exchange is added: scan -> MapInPandas ->
        project -> collect. Every pass is checked."""
        from pyspark.sql import functions as F

        from dots_ocr_spark import pipeline

        from sparkmetrics import jobs_after, last_job_id, plan_metrics

        docs = spark.read.parquet(docs_path)
        want = oracle_values(sample)
        sample_ids = sorted(sample)
        first_hash = {}

        def one_pass(span: str):
            out = pipeline.extract(docs)
            rest = [c for c in out.columns if c != "doc_id"]
            sink = out.select(
                "doc_id",
                F.xxhash64(*out.columns).alias("h"),
                F.when(F.col("doc_id").isin(sample_ids),
                       F.struct(*rest)).alias("full"),
            )
            job0 = last_job_id(spark) if self.trace else None
            with self.spans.span(span, docs=len(expected)) as s:
                rows = sink.collect()
            where = f"{span} at {s['start_unix']:.0f}"
            self.check_ids([r["doc_id"] for r in rows], expected, where)
            hashes = {r["doc_id"]: r["h"] for r in rows}
            if not first_hash:
                first_hash.update(hashes)
            drift = sum(1 for k, h in hashes.items() if first_hash.get(k) != h)
            self.fail(drift, f"{where}: {drift} docs changed output between passes")
            self.check_sample({r["doc_id"]: r["full"] for r in rows
                               if r["full"] is not None}, want, where)
            self.attempted += len(expected)
            return s, sink, job0

        s, _, _ = one_pass("setup.warm")
        self.metrics["setup.warm_s"] = s["wall_s"]
        walls, layer, harvest = [], [], 0.0
        t_end = time.perf_counter() + self.seconds
        while not walls or time.perf_counter() < t_end:
            s, sink, job0 = one_pass("extract.pass")
            walls.append(s["wall_s"])
            if self.trace:
                with self.spans.span("trace.harvest") as h:
                    layer.append(pass_layer(
                        s["wall_s"], plan_metrics(sink), jobs_after(spark, job0),
                        self.cores))
                harvest += h["wall_s"]
                s["counts"].update(layer[-1])
        # the median pass, so a pass that met a burst of host load weighs
        # as little as possible
        self.metrics["unit_s_p50"] = statistics.median(walls)
        self.metrics["docs_per_s"] = len(expected) / self.metrics["unit_s_p50"]
        self.facts["passes"] = len(walls)
        self.facts["pass_walls_s"] = walls
        if self.trace:
            self.metrics.update({k: statistics.median(p[k] for p in layer)
                                 for k in layer[0]})
            self.metrics["trace.harvest_s"] = harvest

    def fused_mixed(self, spark) -> None:
        from dots_ocr_spark import pipeline

        n = FUSED_DOCS

        def materialize(spark, path):
            pipeline.generate_input(spark, n, seed=self.seed) \
                .write.mode("overwrite").parquet(path)

        path = self.setup(spark, materialize)
        expected = {f"doc-{i:08d}" for i in range(n)}
        self.run_extract(spark, path, expected, self.sample(n, SAMPLE_DOCS))

    def giant_skew(self, spark) -> None:
        from dots_ocr_spark import fixtures, pipeline, schemas

        n = GIANT_NORMAL_DOCS
        # the giant: generated pages tiled to GIANT_PAGES with fresh page
        # numbers, the shape tools/bench_scatter.py plants. The tile comes
        # from GIANT_POOL_DOCS docs rather than one, so its cost per page
        # is the corpus average and does not swing with the seed.
        pool = [p for i in range(n, n + GIANT_POOL_DOCS)
                for p in fixtures.generate_doc(i, seed=self.seed,
                                               malformed_frac=0.0)["pages"]]
        pages = [dict(p, page_no=i) for i, p in enumerate(
            itertools.islice(itertools.cycle(pool), GIANT_PAGES))]
        giant = {"doc_id": "giant-0", "pages": pages}
        giant_row = [(giant["doc_id"], [], [
            (p["page_no"], p["width"], p["height"], p["scale_factor"],
             p["payload"], p["toc_json"], p["words_json"]) for p in pages],
            GIANT_PAGES, "giant")]

        def materialize(spark, path):
            pipeline.generate_input(spark, n, seed=self.seed).unionByName(
                spark.createDataFrame(giant_row, schemas.INPUT)) \
                .write.mode("overwrite").parquet(path)

        path = self.setup(spark, materialize)
        sample = self.sample(n, SAMPLE_DOCS - 1)
        sample[giant["doc_id"]] = giant
        expected = {f"doc-{i:08d}" for i in range(n)} | {giant["doc_id"]}
        self.facts["giant_pages"] = GIANT_PAGES
        self.run_extract(spark, path, expected, sample)

    def checkpoint_commits(self, spark) -> None:
        from pyspark.sql import functions as F

        from dots_ocr_spark import checkpoint, pipeline

        from sparkmetrics import busy_s, jobs_after, last_job_id

        n, nb = CK_DOCS, CK_BUCKETS

        def materialize(spark, path):
            pipeline.generate_input(spark, n, seed=self.seed).withColumn(
                "bkt", F.pmod(F.xxhash64("doc_id"), F.lit(nb)).cast("int")) \
                .write.mode("overwrite").partitionBy("bkt").parquet(path)

        path = self.setup(spark, materialize)
        docs = spark.read.parquet(path)
        sample = self.sample(n, SAMPLE_DOCS)
        expected = {f"doc-{i:08d}" for i in range(n)}
        want = oracle_values(sample)

        def run(base):
            return checkpoint.run_extraction(
                spark, docs, base, n_buckets=nb, buckets_per_commit=1,
                bucket_col="bkt")

        # warm the commit path with one commit of one bucket's docs
        with self.spans.span("setup.warm") as s:
            checkpoint.run_extraction(
                spark, docs.where(F.col("bkt") == 0).drop("bkt"),
                os.path.join(WORK, "warm"), n_buckets=1, buckets_per_commit=1)
        self.metrics["setup.warm_s"] = s["wall_s"]

        run_walls, commit_walls, runs_jobs, harvest = [], [], [], 0.0
        t_end = time.perf_counter() + self.seconds
        while not run_walls or time.perf_counter() < t_end:
            base = os.path.join(WORK, f"ck{len(run_walls)}")
            job0 = last_job_id(spark) if self.trace else None
            started = time.time()
            with self.spans.span("checkpoint.run", docs=n, buckets=nb) as s:
                res = run(base)
            run_walls.append(s["wall_s"])
            where = f"run {len(run_walls)}"
            if self.trace:
                with self.spans.span("trace.harvest") as h:
                    runs_jobs.append((s["wall_s"], jobs_after(spark, job0)))
                harvest += h["wall_s"]
            lineage = checkpoint.read_lineage(spark, base).collect()
            done = sorted(r["completed_at_unix"] for r in lineage)
            commit_walls += [b - a for a, b in zip([started] + done, done)]
            self.fail(nb - res["processed_buckets"],
                      f"{where}: {nb - res['processed_buckets']} buckets not processed")
            self.fail(abs(n - sum(r["n_docs"] for r in lineage)),
                      f"{where}: lineage n_docs disagrees with the input")
            lost = nb - len({r["bucket"] for r in lineage} & set(range(nb)))
            self.fail(lost, f"{where}: {lost} buckets have no lineage row")
            out = checkpoint.read_output(spark, base)
            rest = [c for c in out.columns if c not in ("doc_id", "bucket")]
            rows = out.select("doc_id", F.when(
                F.col("doc_id").isin(sorted(sample)), F.struct(*rest))
                .alias("full")).collect()
            self.check_ids([r["doc_id"] for r in rows], expected, where)
            self.check_sample({r["doc_id"]: r["full"] for r in rows
                               if r["full"] is not None},
                              want, where)
            self.attempted += n

        resume_walls, resume_jobs = [], []
        for _ in range(CK_RESUMES):
            job0 = last_job_id(spark) if self.trace else None
            with self.spans.span("checkpoint.resume") as s:
                res = run(base)
            resume_walls.append(s["wall_s"])
            self.fail(res["processed_buckets"],
                      f"resume reprocessed {res['processed_buckets']} buckets")
            if self.trace:
                with self.spans.span("trace.harvest") as h:
                    resume_jobs.append(len(jobs_after(spark, job0)))
                harvest += h["wall_s"]

        out_bytes, out_files = dir_bytes(os.path.join(base, "output"))
        lin_bytes, lin_files = dir_bytes(os.path.join(base, "_lineage"))
        self.metrics.update({
            "docs_per_s": n * len(run_walls) / sum(run_walls),
            "unit_s_p50": statistics.median(commit_walls),
            "checkpoint.resume_noop_s": statistics.median(resume_walls),
            "checkpoint.output_bytes_per_doc": (out_bytes + lin_bytes) / n,
            "checkpoint.commits": nb,
            "checkpoint.output_files": out_files,
            "checkpoint.lineage_files": lin_files,
        })
        self.facts.update(runs=len(run_walls), run_walls_s=run_walls,
                          commit_walls_s=commit_walls,
                          commit_s_max=max(commit_walls),
                          resume_walls_s=resume_walls)
        if self.trace:
            self.metrics.update({
                "checkpoint.jobs_per_commit": statistics.median(
                    len(j) / nb for _, j in runs_jobs),
                "checkpoint.job_s": statistics.median(
                    busy_s(j) for _, j in runs_jobs),
                "checkpoint.driver_gap_s": statistics.median(
                    w - busy_s(j) for w, j in runs_jobs),
                "checkpoint.resume_jobs": statistics.median(resume_jobs),
                "pipeline.tasks": statistics.median(
                    sum(x.tasks for x in j) for _, j in runs_jobs),
                "trace.harvest_s": harvest,
            })

    # ---- run ----------------------------------------------------------

    def spec_layer(self) -> None:
        from dots_ocr_spark import fixtures

        from spectrace import profile_spec

        docs = fixtures.generate_docs(SPEC_DOCS, seed=self.seed)
        with self.spans.span("spec.replay", docs=SPEC_DOCS):
            self.metrics.update(profile_spec(docs, SPEC_REPEATS))
        self.metrics["pipeline.core_efficiency"] = (
            self.metrics["docs_per_s"]
            / (self.cores * self.metrics["spec.docs_per_s_1core"]))

    def run(self) -> None:
        with self.spans.span("run", workload=self.workload, trace=self.trace):
            with self.spans.span("setup.session") as s:
                spark = start_session(self.cores)
            try:
                self.metrics["setup.session_s"] = s["wall_s"]
                self.facts.update(spark_version=spark.version,
                                  master=spark.sparkContext.master)
                getattr(self, self.workload)(spark)
            finally:
                stop_session(spark)
            if self.trace:
                self.spec_layer()
        m = self.metrics
        m["setup_s"] = (m["setup.session_s"] + m["setup.cold_s"]
                        + m["setup.generate_s"] + m["setup.warm_s"])
        m["doc_error_frac"] = self.failed / self.attempted


def pass_layer(wall: float, m: dict, jobs: list, cores: int) -> dict:
    """Per-layer pipeline metrics of one extract pass, from the SQL
    metrics ``m`` of its executed plan and the jobs it ran."""
    mb = 2**20
    return {
        "pipeline.scan_s": m.get("scanTime", 0.0),
        "pipeline.python_s": m.get("pythonTotalTime", 0.0),
        "pipeline.python_boot_s": m.get("pythonBootTime", 0.0),
        "pipeline.python_init_s": m.get("pythonInitTime", 0.0),
        "pipeline.arrow_to_py_mb": m.get("pythonDataSent", 0.0) / mb,
        "pipeline.arrow_from_py_mb": m.get("pythonDataReceived", 0.0) / mb,
        "pipeline.shuffle_write_mb": m.get("shuffleBytesWritten", 0.0) / mb,
        "pipeline.shuffle_read_mb":
            (m.get("remoteBytesRead", 0.0) + m.get("localBytesRead", 0.0)) / mb,
        "pipeline.tasks": sum(j.tasks for j in jobs),
        "pipeline.python_busy_frac":
            m.get("pythonTotalTime", 0.0) / (wall * cores),
    }


def oracle_values(sample: dict[str, dict]) -> dict[str, tuple]:
    """Expected output of each sample doc, from the plain-Python oracle."""
    from dots_ocr_spark import oracle

    return {doc_id: _doc_value(oracle.extract_document(doc))
            for doc_id, doc in sample.items()}


def _doc_value(d: dict) -> tuple:
    """Comparable form of one output document (oracle dict shape)."""
    return (tuple((s["kind"], s["text"], s["media_ref"], s["offset"])
                  for s in d["spans"]),
            d["markdown"], d["markdown_nohf"], d["n_pages"], d["n_failed"],
            d["n_fallback"], d["n_spans"], d["status"])


def _row_value(row) -> tuple:
    """Comparable form of one output document (Spark Row of every output
    column but doc_id)."""
    return _doc_value(dict(row.asDict(), spans=[s.asDict() for s in row["spans"]]))


#: the end-to-end table printed above the JSON line: (name, metric key,
#: unit, checkpoint_commits only). commit_s_p50 is unit_s_p50 of
#: checkpoint_commits, where the unit of work is one commit group; the
#: checkpoint keys are measured in untraced runs too.
E2E_TABLE = (
    ("setup_s", "setup_s", "s", False),
    ("docs_per_s", "docs_per_s", "docs/s", False),
    ("unit_s_p50", "unit_s_p50", "s", False),
    ("commit_s_p50", "unit_s_p50", "s", True),
    ("resume_noop_s", "checkpoint.resume_noop_s", "s", True),
    ("output_bytes_per_doc", "checkpoint.output_bytes_per_doc", "B/doc", True),
    ("doc_error_frac", "doc_error_frac", "docs/docs", False),
)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="length of the timed phase")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0,
                    help="1: print the per-layer metrics instead")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    try:
        import dots_ocr_spark  # noqa: F401 - the program under test
    except ImportError as e:
        print(f"perfbench: the program is not here ({e}); run from the "
              "repository root", file=sys.stderr)
        return 2

    # SIGTERM unwinds like an error, so the session and its JVM are stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    bench = Bench(args)
    try:
        bench.run()
    finally:
        shutil.rmtree(WORK, ignore_errors=True)

    m, f = bench.metrics, bench.facts
    gated = spec["per_layer"] if bench.trace else spec["end_to_end"]
    if bench.trace:
        f["unmeasured"] = [g["name"] for g in gated if g["name"] not in m]
        wrong = [n for n in f["unmeasured"]
                 if not n.startswith(UNMEASURED[args.workload])]
        if wrong:
            print(f"perfbench: no value for {wrong}", file=sys.stderr)
            return 3
        for n in f["unmeasured"]:
            m[n] = 0.0

    host = {"nproc": bench.cores, "master": f["master"],
            "spark": f["spark_version"], "python": platform.python_version(),
            "seed": args.seed}
    os.makedirs(RECORDS, exist_ok=True)
    record = os.path.join(
        RECORDS, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(record, "w") as fh:
        json.dump({"workload": args.workload, "seconds": args.seconds,
                   "trace": bench.trace, "host": host, "facts": f,
                   "correct": not bench.failed, "attempted": bench.attempted,
                   "failed": bench.failed, "errors": bench.errors,
                   "metrics": m, "spans": bench.spans.with_self_time()},
                  fh, indent=1, default=str)

    print(f"perfbench {args.workload} seed={args.seed} {f['master']} "
          f"spark {f['spark_version']} trace={args.trace}: "
          f"{f['input_docs']} docs, {f['input_pages']} pages, "
          f"{f['input_bytes'] / 2**20:.1f} MiB input")
    for name, key, unit, ck_only in E2E_TABLE:
        if ck_only and args.workload != "checkpoint_commits":
            print(f"  {name:<22}n/a (checkpoint_commits only)")
        elif key in m:
            print(f"  {name:<22}{m[key]:.6g} {unit}")
    for err in bench.errors:
        print(f"  ERROR {err}")
    print(f"  record: {os.path.relpath(record, ROOT)}")
    print(json.dumps({
        "correct": not bench.failed,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {g["name"]: {"value": m[g["name"]], "unit": g["unit"]}
                    for g in gated},
    }, separators=(",", ":")))
    return 1 if bench.failed else 0


if __name__ == "__main__":
    sys.exit(main())
