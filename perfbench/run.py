"""The repository benchmark: two closed-loop workloads, one client each.

    python3 perfbench/run.py --workload bi_star --seed 1 --seconds 5 --trace 0

Workloads
  bi_star        the 11 JVM-only BI queries of the registry over a seeded
                 star schema; each pass runs every query once in a
                 seed-permuted order. An operation is one query: its
                 ``spark_fn`` build plus bench.py's materialization
                 (xxhash64 over ``struct(*)``, ``bit_xor``) with a
                 ``count(*)`` in the same aggregate.
  medallion_etl  one seeded GeoJSON bronze document through
                 ``run_pipeline(fetch=..., train_model=True)`` (ingest,
                 silver, gold, tsunami model), then every seeded revision
                 micro-batch merged into a latest-wins upsert table keyed
                 on ``event_id`` and seeded from that pass's silver. An
                 operation is one merge.

A run generates its inputs from ``--seed``, sets up (imports, Spark
session, one cold warm-up pass), measures whole passes -- at least
``MIN_PASSES``, more while less than ``--seconds`` has been measured --
checks every output, and prints one JSON object as the last line of
stdout. The JVM is still warming up over the first passes, so a fixed pass
count, not the clock, decides what is measured at these sizes. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` installs span wrappers around
the package's layer functions and reports the per-layer metrics. The full
run record (per-query breakdown, spans, checks, errors, peak RSS, box-load
controls) is written to ``.perfbench_out/``.

All inputs, Spark temporary space and outputs stay inside the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path[0] = REPO  # import perfbench.* and the package, never shadow stdlib

from perfbench import gen, probe, stats  # noqa: E402
from perfbench.spans import Tracer, self_times  # noqa: E402

BI_STAR = [
    "flagship_events_by_region", "pricing_summary", "join_broadcast_hint",
    "join_sortmerge_hint", "latest_event_dedup", "latest_event_dedup_maxby",
    "date_hierarchy_rollup", "window_rank_suite", "sessionize_events",
    "asof_purchase_prior_click", "asof_nearest_click",
]
STAR_SF = 0.1
# whole passes measured per run, at least; more while under --seconds.
# pass_s is their median: a single medallion pass can lose 4-6 s to
# hypervisor steal, and one pass a run spread pass_s (IQR/median) up to 0.27.
MIN_PASSES = {"bi_star": 2, "medallion_etl": 3}
BRONZE_FEATURES = 5_000
REVISION_BATCHES = 11
BUILD_SPANS = ("plans.build", "sources.load_table")


def _uptime_since_start() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as fh:
        raw = fh.read()
    start_ticks = int(raw[raw.rindex(")") + 2 :].split()[19])
    with open("/proc/uptime") as fh:
        up = float(fh.read().split()[0])
    return up - start_ticks / os.sysconf("SC_CLK_TCK")


def _dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, ignoring hidden/marker files."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


class NoTrace:
    """Stand-in for Tracer when tracing is off: spans cost nothing."""

    op = ""

    class _Null:
        def __enter__(self):
            return None

        def __exit__(self, *exc):
            return False

    def span(self, name):
        return self._Null()


class Bench:
    def __init__(self, args):
        self.args = args
        self.workload = args.workload
        self.seed = args.seed
        self.trace = bool(args.trace)
        self.work = os.path.join(REPO, ".perfbench_work", f"{self.workload}-{self.seed}-{os.getpid()}")
        self.excluded_s = 0.0  # input generation inside the setup interval
        self.setup: dict[str, float] = {}
        self.passes: list[dict] = []  # measured passes
        self.errors: list[str] = []
        self.checks: dict = {}
        self.peak_rss = 0
        self.tracer = NoTrace()
        self.reader = None

    # -- environment ------------------------------------------------------
    def _env(self) -> None:
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        # no /tmp/hsperfdata_* files from the launcher or the driver JVM
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        )

    def start_session(self):
        from etl_earthquake_gcp_spark.session import get_spark

        cores = len(os.sched_getaffinity(0))
        self.cores = cores
        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(
                app_name=f"perfbench-{self.workload}",
                master=f"local[{cores}]",
                shuffle_partitions=cores,
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                    "spark.driver.extraJavaOptions": (
                        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
                    ),
                },
            )
        self.setup["session.start_s"] = time.perf_counter() - t0
        if self.trace:
            self.tracer.sc = self.spark.sparkContext
        self.reader = probe.StatusReader(self.spark)

    def stop_session(self) -> None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        try:
            self.spark.stop()
        finally:  # the JVM goes even when py4j is broken (e.g. on SIGTERM)
            if gw is not None:
                gw.shutdown()
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        deadline = time.time() + 30
        while len(probe.tree()) > 1 and time.time() < deadline:
            time.sleep(0.2)

    # -- per-op bookkeeping (outside the timed interval) -------------------
    def _after_op(self, op: dict) -> None:
        op["rdds_left"] = self.reader.persistent_rdds()
        op["persisted_bytes"] = self.reader.persisted_bytes() if self.trace else 0
        if self.trace:
            self._layer_counters(op)
        self.spark.catalog.clearCache()

    def _layer_counters(self, op: dict) -> None:
        """Split the op's Spark jobs by the span that started them."""
        self.reader.drain()
        by_layer: dict[str, list[int]] = {}
        for group, name in self.tracer.groups(op["op"]).items():
            by_layer.setdefault(name, []).extend(self.reader.job_ids(group))
        op["layers"] = {
            name: self.reader.stage_counters(jobs) for name, jobs in by_layer.items()
        }
        # exec: every job not started while a plan was being built. On
        # medallion_etl the package builds and runs frames inside the same
        # calls, so there this is every job of the operation.
        exec_jobs = {
            j for name, jobs in by_layer.items() if name not in BUILD_SPANS for j in jobs
        }
        op["exec_counters"] = self.reader.stage_counters(sorted(exec_jobs))
        op["python_rows"] = self.reader.python_rows(exec_jobs) if exec_jobs else 0
        first = next(i for i, s in enumerate(self.tracer.spans) if s.op == op["op"])
        spans = self.tracer.spans[first:]  # an op's spans are contiguous and last
        op["span_s"], op["span_self_s"], op["span_calls"] = {}, {}, {}
        for s, st in zip(spans, self_times(spans, first)):
            op["span_s"][s.name] = op["span_s"].get(s.name, 0.0) + (s.end - s.start)
            op["span_self_s"][s.name] = op["span_self_s"].get(s.name, 0.0) + st
            op["span_calls"][s.name] = op["span_calls"].get(s.name, 0) + 1
        op["top_level_s"] = sum(s.end - s.start for s in spans if s.parent is None)
        # wall time the exec counters belong to (see exec_jobs above)
        op["exec_wall_s"] = op["span_s"].get("exec", op["latency_s"])

    def _fail(self, what: str, exc: BaseException) -> None:
        self.errors.append(f"{what}: {type(exc).__name__}: {str(exc).splitlines()[0][:300] if str(exc) else ''}")
        traceback.print_exc(file=sys.stderr)

    # -- the run ----------------------------------------------------------
    def run(self) -> dict:
        t_import = time.perf_counter()
        from etl_earthquake_gcp_spark import plans  # registry: every registration

        self.setup["plans.import_s"] = time.perf_counter() - t_import
        self.plans = plans
        if self.workload == "medallion_etl":  # its imports belong to setup too
            from etl_earthquake_gcp_spark.pipeline import runner  # noqa: F401

        os.makedirs(self.work, exist_ok=True)
        self._env()
        t_gen = time.perf_counter()
        self.generate()
        self.excluded_s += time.perf_counter() - t_gen

        if self.trace:
            self.tracer = Tracer()
            self.install_spans()
        self.start_session()
        t_warm, excluded = time.perf_counter(), self.excluded_s
        if self.workload == "bi_star":
            self.bi_star_check_pass("w0")
        else:
            self.one_pass("w0")
        self.setup["warmup_s"] = time.perf_counter() - t_warm - (self.excluded_s - excluded)
        t_gen = time.perf_counter()
        self.after_warmup()
        self.excluded_s += time.perf_counter() - t_gen
        self.setup["setup_s"] = _uptime_since_start() - self.excluded_s

        measured = 0.0
        p = 0
        while measured < self.args.seconds or len(self.passes) < MIN_PASSES[self.workload]:
            calib = probe.box_calibration()
            steal = probe.steal_seconds()
            rec = self.one_pass(f"p{p}")
            rec["box_calib_s"] = calib
            rec["steal_s"] = probe.steal_seconds() - steal
            self.passes.append(rec)
            measured += rec["pass_s"]
            p += 1
        self.verify()
        if self.trace:
            self.tracer.uninstall()
        return self.record()

    def one_pass(self, tag: str) -> dict:
        rec = {"tag": tag, "pass_s": 0.0, "ops": [], "rdds_left": 0, "cpu": {}}
        if self.workload == "bi_star":
            self.bi_star_pass(rec)
        else:
            self.medallion_pass(rec)
        self.peak_rss = max(self.peak_rss, probe.rss_bytes())
        return rec

    def timed_op(self, rec: dict, op: dict, fn) -> bool:
        """Run ``fn(op)`` as one operation of the pass: wall time and process
        tree CPU are taken around it; bookkeeping happens after. Returns
        whether it succeeded; a failure is recorded, not raised."""
        self.tracer.op = op["op"]
        op["ok"] = True
        cpu0 = probe.cpu_seconds()
        t0 = time.perf_counter()
        try:
            fn(op)
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
            op["ok"] = False
            self._fail(op["op"], exc)
        op["latency_s"] = time.perf_counter() - t0
        cpu1 = probe.cpu_seconds()
        for k in cpu0:
            rec["cpu"][k] = rec["cpu"].get(k, 0.0) + cpu1[k] - cpu0[k]
        rec["pass_s"] += op["latency_s"]
        self._after_op(op)
        rec["rdds_left"] += op["rdds_left"]
        rec["ops"].append(op)
        return op["ok"]

    # -- bi_star ----------------------------------------------------------
    def generate(self) -> None:
        if self.workload == "bi_star":
            self.data = os.path.join(self.work, "star")
            self.rows = gen.write_star_tables(self.data, self.seed, STAR_SF)
            self.order_rng = random.Random(self.seed)
        else:
            self.doc = gen.bronze_document(self.seed, BRONZE_FEATURES)
            self.batches = gen.revision_batches(
                self.seed, gen.silver_latest(self.doc), REVISION_BATCHES
            )
            self.expected = gen.expected_medallion(self.doc, self.batches)

    def install_spans(self) -> None:
        from etl_earthquake_gcp_spark import plans

        if self.workload == "bi_star":
            for mod in list(sys.modules.values()):
                name = getattr(mod, "__name__", "")
                if name.startswith(plans.__name__ + ".") and hasattr(mod, "load_table"):
                    self.tracer.install(mod, "load_table", "sources.load_table")
            return
        from etl_earthquake_gcp_spark.pipeline import runner

        def written(span, args, kwargs):
            path = kwargs.get("path", args[1] if len(args) > 1 else None)
            span.info["bytes"], span.info["files"] = _dir_bytes(path)

        self.tracer.install(runner, "read_geojson", "sources.read_geojson")
        self.tracer.install(runner, "write_table", "sources.write_table", after=written)
        self.tracer.install(runner, "read_table", "sources.read_table")
        self.tracer.install(runner, "train_tsunami_model", "ml.train")

        orig = runner.run_stage_with_retries

        def stage(fn, *, name, retries=0, retry_delay_sec=0.0):
            # the traced run passes retries=1 only so stages route through
            # here; each stage still runs exactly once, failures propagate
            with self.tracer.span(f"pipeline.{name}"):
                return orig(fn, name=name, retries=0, retry_delay_sec=0.0)

        self.tracer.patch(runner, "run_stage_with_retries", stage)

    def bi_star_pass(self, rec: dict) -> None:
        from pyspark.sql import functions as F

        def query(op):
            q = self.plans.QUERIES[op["name"]]
            t0 = time.perf_counter()
            with self.tracer.span("plans.build"):
                df = q.spark_fn(self.spark, self.data)
            t1 = time.perf_counter()
            with self.tracer.span("exec"):
                row = df.select(F.xxhash64(F.struct(*df.columns)).alias("h")).agg(
                    F.expr("bit_xor(h)").alias("x"), F.count(F.lit(1)).alias("n")
                ).collect()[0]
            op.update(build_s=t1 - t0, exec_s=time.perf_counter() - t1, rows=row["n"], hash=row["x"])

        order = list(BI_STAR)
        self.order_rng.shuffle(order)
        for i, name in enumerate(order):
            self.timed_op(rec, {"op": f"{rec['tag']}.{i}.{name}", "name": name}, query)

    # -- medallion_etl ----------------------------------------------------
    def medallion_pass(self, rec: dict) -> None:
        from etl_earthquake_gcp_spark.pipeline.runner import run_pipeline
        from etl_earthquake_gcp_spark.sources.writers import read_table
        from etl_earthquake_gcp_spark.streaming.upsert import make_upsert_table

        tag, doc = rec["tag"], self.doc
        out = os.path.join(self.work, tag)
        self.silver_path = os.path.join(out, "silver", "earthquakes_cleaned")

        def pipeline(op):
            with self.tracer.span("pipeline.run"):
                result = run_pipeline(
                    self.spark,
                    os.path.join(out, "bronze", "raw_earthquakes.json"),
                    out,
                    fetch=lambda: doc,
                    train_model=True,
                    # traced: route stages through run_stage_with_retries,
                    # whose wrapper opens the stage span (still one attempt)
                    retries=1 if self.trace else 0,
                )
            op["result"] = {
                "observed": result.observed,
                "silver_rows": result.silver_rows,
                "gold_tables": result.gold_tables,
                "predictions_rows": result.predictions_rows,
                "ml_metrics": result.ml_metrics,
            }

        if not self.timed_op(rec, {"op": f"{tag}.pipeline", "name": "run_pipeline"}, pipeline):
            return
        table = make_upsert_table(
            os.path.join(out, "upsert"), keys=["event_id"], order_cols=["updated_timestamp_utc"]
        )

        def seed(op):
            with self.tracer.span("streaming.merge"):
                table.merge(read_table(self.spark, self.silver_path))

        self.timed_op(rec, {"op": f"{tag}.seed", "name": "upsert_seed"}, seed)
        if not hasattr(self, "batch_paths"):
            return  # the warm-up pass: revision batches are built from its silver
        for b, path in enumerate(self.batch_paths):

            def merge(op, path=path):
                with self.tracer.span("streaming.merge"):
                    table.merge(self.spark.read.parquet(path))

            op = {"op": f"{tag}.merge{b}", "name": f"merge{b}", "merge": True}
            if self.timed_op(rec, op, merge):
                op["bytes_written"], _ = _dir_bytes(table._current())
                op["batch_bytes"] = self.batch_bytes[b]
        rec["upsert"] = self._upsert_state(table)
        rec["table_bytes"], _ = _dir_bytes(table._current())

    def after_warmup(self) -> None:
        """medallion_etl: write the revision micro-batches as silver-shaped
        parquet, built from the warm-up pass's silver (input generation,
        not charged to setup)."""
        if self.workload != "medallion_etl":
            return
        from pyspark.sql import functions as F

        from etl_earthquake_gcp_spark.sources.writers import read_table

        silver = read_table(self.spark, self.silver_path)
        rows = [(b, *row) for b, batch in enumerate(self.batches) for row in batch]
        upd = self.spark.createDataFrame(rows, "__b int, event_id string, __u long, __m double")
        root = os.path.join(self.work, "batches")
        (
            silver.join(upd, "event_id")
            .withColumn("updated_timestamp_utc", F.timestamp_millis("__u"))
            .withColumn("magnitude", F.col("__m"))
            .select(*silver.columns, "__b")
            .repartition("__b")  # one file per batch
            .write.partitionBy("__b")
            .parquet(root)
        )
        self.batch_paths = [os.path.join(root, f"__b={b}") for b in range(len(self.batches))]
        self.batch_bytes = [_dir_bytes(path)[0] for path in self.batch_paths]
        self.spark.catalog.clearCache()

    def _upsert_state(self, table) -> dict:
        from pyspark.sql import functions as F

        rows = (
            table.read(self.spark)
            .select("event_id", F.unix_millis("updated_timestamp_utc").alias("u"), "magnitude")
            .collect()
        )
        return {"rows": len(rows), "checksum": gen.upsert_checksum((r[0], r[1], r[2]) for r in rows)}

    # -- output checks (outside every timed interval) -----------------------
    def bi_star_check_pass(self, tag: str) -> None:
        """The warm-up pass, which is also the output check: every query once,
        collected with toPandas and compared with its DuckDB oracle by the
        test suite's comparator (rows-only where there is no oracle). The
        oracle side is output checking and is not charged to setup."""
        import duckdb

        from tests.conftest import assert_frames_match

        t0 = time.perf_counter()
        con = duckdb.connect()
        con.execute(f"SET threads TO {self.cores}")
        for name in self.rows:
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{self.data}/{name}.parquet'")
        self.excluded_s += time.perf_counter() - t0
        order = list(BI_STAR)
        self.order_rng.shuffle(order)
        for i, name in enumerate(order):
            q = self.plans.QUERIES[name]
            entry = {"oracle": q.oracle is not None, "ok": False, "rows": None}
            self.tracer.op = f"{tag}.{i}.{name}"
            try:
                with self.tracer.span("plans.build"):
                    df = q.spark_fn(self.spark, self.data)
                with self.tracer.span("exec"):
                    spdf = df.toPandas()
                entry["rows"] = len(spdf)
                t0 = time.perf_counter()
                try:
                    if q.oracle is not None:
                        assert_frames_match(spdf, con.execute(q.oracle).df(), name)
                finally:
                    self.excluded_s += time.perf_counter() - t0
                entry["ok"] = True
            except Exception as exc:  # noqa: BLE001 — assertion or engine error
                self._fail(f"check {name}", exc)
            self.spark.catalog.clearCache()
            self.checks[name] = entry
        con.close()

    def verify(self) -> None:
        if self.workload == "medallion_etl":
            self.check_medallion()
            return
        for op in self.measured_ops():
            entry = self.checks[op["name"]]
            if op["ok"] and not (entry["ok"] and op.get("rows") == entry["rows"]):
                op["ok"] = False
                self.errors.append(
                    f"{op['op']}: rows {op.get('rows')} != checked {entry['rows']}"
                    if entry["ok"] else f"{op['op']}: output check failed"
                )

    def check_medallion(self) -> None:
        exp = self.expected
        self.checks["expected"] = exp
        for rec in self.passes:
            pipe = rec["ops"][0]
            r = pipe.get("result")
            good = r is not None and (
                r["observed"] == {"n_flattened": exp["n_flattened"], "n_valid": exp["n_valid"]}
                and r["silver_rows"] == exp["silver_rows"]
                and r["gold_tables"].get("fact_earthquake_events") == exp["silver_rows"]
                and r["predictions_rows"] == exp["ml_rows"]
            )
            if pipe["ok"] and not good:
                pipe["ok"] = False
                self.errors.append(f"{pipe['op']}: pipeline result {r} != expected {exp}")
            up = rec.get("upsert")
            up_good = up == {"rows": exp["upsert_rows"], "checksum": exp["upsert_checksum"]}
            for op in rec["ops"][1:]:
                if op["ok"] and not up_good:
                    op["ok"] = False
                    self.errors.append(f"{op['op']}: upsert state {up} != expected")

    # -- the record ---------------------------------------------------------
    def measured_ops(self) -> list[dict]:
        return [op for rec in self.passes for op in rec["ops"]]

    def latency_ops(self) -> list[dict]:
        """Operations whose latency is sampled: queries, or revision merges."""
        return self.measured_ops() if self.workload == "bi_star" else self.merge_ops()

    def record(self) -> dict:
        ops = self.measured_ops()
        lat = [op["latency_s"] for op in self.latency_ops()]
        tail_v, tail_p, tail_n = stats.tail(lat)
        passes = self.passes
        e2e = {
            "setup_s": (self.setup["setup_s"], "s"),
            "pass_s": (stats.median(p["pass_s"] for p in passes), "s"),
            "op_p50_s": (stats.median(lat), "s"),
            "op_tail_s": (tail_v, "s"),
            "cpu_s": (stats.median(p["cpu"]["total"] for p in passes), "s"),
        }
        failed = sum(1 for op in ops if not op["ok"])
        metrics = self.per_layer(failed / max(1, len(ops))) if self.trace else e2e
        return {
            "correct": failed == 0 and not self.errors,
            "attempted": len(ops),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            "detail": {
                "workload": self.workload,
                "seed": self.seed,
                "trace": int(self.trace),
                "cores": self.cores,
                "op_tail": {
                    "percentile": tail_p, "n": tail_n, "rank": stats.rank(tail_p, tail_n),
                    "rule": f">= {stats.TAIL_BEYOND} samples beyond",
                },
                "end_to_end": {k: v for k, (v, _u) in e2e.items()},
                "rdds_left_per_pass": stats.median(p["rdds_left"] for p in passes),
                "failed_ratio": failed / max(1, len(ops)),
                "peak_rss_bytes": self.peak_rss,
                "setup": self.setup,
                "excluded_input_generation_s": self.excluded_s,
                "passes": [
                    {"pass_s": p["pass_s"], "cpu": p["cpu"], "box_calib_s": p["box_calib_s"],
                     "steal_s": p["steal_s"], "rdds_left": p["rdds_left"], "ops": len(p["ops"])}
                    for p in passes
                ],
                "per_query": self.per_query(),
                "checks": self.checks,
                "errors": self.errors,
                "spans": self.span_dump(),
                **self.workload_detail(),
            },
        }

    def span_dump(self) -> list:
        """Every span as [name, start, end, parent, op], seconds from the first."""
        spans = getattr(self.tracer, "spans", [])
        t0 = spans[0].start if spans else 0.0
        return [[s.name, s.start - t0, s.end - t0, s.parent, s.op] for s in spans]

    def workload_detail(self) -> dict:
        if self.workload == "bi_star":
            return {"star_sf": STAR_SF, "star_rows": self.rows}
        from etl_earthquake_gcp_spark.sources.writers import storage_format

        return {
            "storage_format": storage_format(),
            "bronze_features": BRONZE_FEATURES,
            "revision_batches": REVISION_BATCHES,
            "write_amp": self.write_amp(),
        }

    def merge_ops(self) -> list[dict]:
        return [op for op in self.measured_ops() if op.get("merge")]

    def write_amp(self) -> float:
        """Bytes the revision merges wrote / on-disk bytes of their batches."""
        ops = [op for op in self.merge_ops() if "bytes_written" in op]
        batch = sum(op["batch_bytes"] for op in ops)
        return sum(op["bytes_written"] for op in ops) / batch if batch else 0.0

    def per_query(self) -> dict:
        out: dict[str, dict] = {}
        for op in self.measured_ops():
            d = out.setdefault(op["name"], {"latency_s": [], "build_s": [], "exec_s": [], "rows": set()})
            d["latency_s"].append(op["latency_s"])
            if "build_s" in op:
                d["build_s"].append(op["build_s"])
                d["exec_s"].append(op["exec_s"])
            if "rows" in op:
                d["rows"].add(op["rows"])
            for layer, c in op.get("layers", {}).items():
                agg = d.setdefault("layers", {}).setdefault(layer, {})
                for k, v in c.items():
                    agg.setdefault(k, []).append(v)
        for d in out.values():
            d["rows"] = sorted(d["rows"])
            for key in ("latency_s", "build_s", "exec_s"):
                d[key] = stats.median(d[key])
            for layer in d.get("layers", {}).values():
                for k in layer:
                    layer[k] = stats.median(layer[k])
        return out

    def per_layer(self, failed_ratio: float) -> dict:
        """Per-layer metrics: medians over measured passes of per-pass sums."""

        def per_pass(fn) -> float:
            return stats.median(sum(fn(op) for op in p["ops"]) for p in self.passes)

        def span_s(name, key="span_s"):
            return lambda op: op.get(key, {}).get(name, 0.0)

        def calls(name):
            return lambda op: op.get("span_calls", {}).get(name, 0)

        def exec_c(key):
            return lambda op: op.get("exec_counters", {}).get(key, 0)

        def jobs_in(*names):
            return lambda op: sum(op.get("layers", {}).get(n, {}).get("jobs", 0) for n in names)

        exec_s = per_pass(lambda op: op.get("exec_wall_s", 0.0))
        run_s = per_pass(exec_c("executor_run_ms")) / 1e3
        pipeline_layers = (
            "pipeline.run", "pipeline.ingest", "pipeline.bronze_to_silver",
            "pipeline.silver_to_gold", "pipeline.train_tsunami_model",
            "sources.read_geojson", "sources.write_table", "sources.read_table", "ml.train",
        )
        merge_ops = self.merge_ops()

        def write_attr(attr):
            def f(op):
                return sum(
                    s.info.get(attr, 0) for s in self.tracer.spans
                    if s.op == op["op"] and s.name == "sources.write_table"
                )
            return f

        unattributed = stats.median(
            p["pass_s"] - sum(op.get("top_level_s", 0.0) for op in p["ops"]) for p in self.passes
        )
        m = {
            "session.start_s": (self.setup["session.start_s"], "s"),
            "plans.import_s": (self.setup["plans.import_s"], "s"),
            "warmup_s": (self.setup["warmup_s"], "s"),
            "box.calib_s": (stats.median(p["box_calib_s"] for p in self.passes), "s"),
            "sources.load_table.calls": (per_pass(calls("sources.load_table")), "count"),
            "sources.load_table.s": (per_pass(span_s("sources.load_table")), "s"),
            "sources.load_table.jobs": (per_pass(jobs_in("sources.load_table")), "count"),
            "plans.build_s": (per_pass(span_s("plans.build")), "s"),
            "plans.build_self_s": (per_pass(span_s("plans.build", "span_self_s")), "s"),
            "plans.build_jobs": (per_pass(jobs_in("plans.build", "sources.load_table")), "count"),
            "exec.s": (exec_s, "s"),
            "exec.jobs": (per_pass(exec_c("jobs")), "count"),
            "exec.stages": (per_pass(exec_c("stages")), "count"),
            "exec.tasks": (per_pass(exec_c("tasks")), "count"),
            "exec.idle_slot_s": (exec_s * self.cores - run_s, "s"),
            "exec.executor_run_s": (run_s, "s"),
            "exec.executor_cpu_s": (per_pass(exec_c("executor_cpu_ns")) / 1e9, "s"),
            "exec.gc_s": (per_pass(exec_c("gc_ms")) / 1e3, "s"),
            "exec.python_worker_cpu_s": (
                stats.median(p["cpu"]["python_workers"] for p in self.passes), "s"),
            "exec.python_rows": (per_pass(lambda op: op.get("python_rows", 0)), "count"),
            "exec.shuffle_read_bytes": (per_pass(exec_c("shuffle_read_bytes")), "bytes"),
            "exec.shuffle_write_bytes": (per_pass(exec_c("shuffle_write_bytes")), "bytes"),
            "exec.spill_bytes": (
                per_pass(lambda op: exec_c("memory_spill_bytes")(op) + exec_c("disk_spill_bytes")(op)),
                "bytes"),
            "exec.peak_execution_memory_bytes": (
                stats.median(max([exec_c("peak_execution_memory_bytes")(op) for op in p["ops"]] or [0])
                             for p in self.passes), "bytes"),
            "exec.failed_tasks": (
                per_pass(lambda op: sum(c.get("failed_tasks", 0) for c in op.get("layers", {}).values())),
                "count"),
            "cache.rdds_left": (stats.median(p["rdds_left"] for p in self.passes), "count"),
            "cache.persisted_bytes": (per_pass(lambda op: op.get("persisted_bytes", 0)), "bytes"),
            "sources.read_geojson.s": (per_pass(span_s("sources.read_geojson")), "s"),
            "sources.write_table.s": (per_pass(span_s("sources.write_table")), "s"),
            "sources.write_table.bytes": (per_pass(write_attr("bytes")), "bytes"),
            "sources.write_table.files": (per_pass(write_attr("files")), "count"),
            "sources.read_table.s": (per_pass(span_s("sources.read_table")), "s"),
            "pipeline.ingest_s": (per_pass(span_s("pipeline.ingest")), "s"),
            "pipeline.silver_s": (per_pass(span_s("pipeline.bronze_to_silver")), "s"),
            "pipeline.gold_s": (per_pass(span_s("pipeline.silver_to_gold")), "s"),
            "pipeline.jobs": (per_pass(jobs_in(*pipeline_layers)), "count"),
            "ml.train_s": (per_pass(span_s("ml.train")), "s"),
            "streaming.merge_s": (stats.median(op["latency_s"] for op in merge_ops) if merge_ops else 0.0, "s"),
            "streaming.merge_bytes_written": (per_pass(lambda op: op.get("bytes_written", 0)), "bytes"),
            "streaming.table_bytes": (stats.median(p.get("table_bytes", 0) for p in self.passes), "bytes"),
            "streaming.write_amp": (self.write_amp(), "ratio"),
            "failed_ratio": (failed_ratio, "ratio"),
            "trace.pass_s": (stats.median(p["pass_s"] for p in self.passes), "s"),
            "trace.unattributed_s": (unattributed, "s"),
        }
        return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["bi_star", "medallion_etl"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its working directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    bench = Bench(args)
    try:
        rec = bench.run()
    finally:
        try:
            if getattr(bench, "spark", None) is not None:
                bench.stop_session()
        finally:
            shutil.rmtree(bench.work, ignore_errors=True)
    out_dir = os.path.join(REPO, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(rec, fh, indent=1, default=str)
    for name, m in rec["metrics"].items():
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}")
    for err in rec["detail"]["errors"]:
        print(f"FAILED {err}")
    print(json.dumps({k: rec[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
