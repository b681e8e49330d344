"""Benchmark of the two production pipelines, with an in-run oracle.

Usage (from the repository root):

    python3 perfbench/run.py --workload etl_many_runs --seed 1 --seconds 12 --trace 0

One process, ``local[4]``, one closed-loop client.  A run generates its
inputs from the seed, starts the Spark session seven times (``setup_s`` is
the median), runs one warm-up pipeline iteration, then pipeline iterations
until ``--seconds`` have passed (at least two), then reads the last published
output.  Every output is checked against DuckDB computations made in the
same run (``oracle.py``); a wrong output is a failed operation.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` repeats the
untraced measurement, restarts the session with a Spark event log, runs one
warm-up iteration, wraps the layer functions (``ledger.py``), runs one more
iteration and one read pass, and prints the per-layer metrics.  The
last line of stdout is the JSON result.  See NOTES.md.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
REPO_ROOT = BENCH_DIR.parent
sys.path.insert(0, str(REPO_ROOT))

import inputs  # noqa: E402
import ledger  # noqa: E402
import oracle  # noqa: E402

CPUS = 4
SETUP_REPEATS = 7
WARMUP_ITERATIONS = 1
MIN_ITERATIONS = 2
MIN_READ_PASSES = 2
READ_SECONDS = 2.5

LAYERS = (
    "etl.pipeline.run_pipeline",
    "etl.extract.extract_runs",
    "etl.extract.check_run_coverage",
    "etl.transform.transform_all",
    "etl.load.load_to_parquet",
    "etl.load.register_temp_views",
    "etl.load.query",
    "etl.validate.validate_all",
    "etl.export.export_summary",
    "etl.export.build_summary",
    "corpus.pipeline.run_corpus_pipeline",
    "operators.graph.connected_components",
)
# etl.load.query returns a lazy DataFrame, so its span is opened by the
# benchmark around query(...).collect() instead of by a wrapper.
WRAPPED = tuple(layer for layer in LAYERS if layer != "etl.load.query")
VIEW_QUERIES = {
    "zone_comfort_by_month": """
        SELECT building_id, scenario_id, month, AVG(air_temp_C) AS avg_air_temp_c,
               AVG(temp_deviation) AS avg_deviation, COUNT(*) AS n
        FROM vw_zone_with_weather GROUP BY building_id, scenario_id, month""",
    "hvac_cop_by_building": """
        SELECT building_id, scenario_id, AVG(cop_proxy) AS avg_cop,
               SUM(electric_kwh) AS electric_kwh, COUNT(*) AS n
        FROM vw_hvac_with_meters GROUP BY building_id, scenario_id""",
    "energy_summary": "SELECT * FROM vw_energy_summary",
    "hvac_building_month": """
        SELECT ahu_id, scenario_id, SUM(power_kw) AS power_kw, MAX(outdoor_temp_C) AS t_max,
               COUNT(*) AS n
        FROM vw_hvac_with_meters WHERE building_id = '{building}' AND month = 1
        GROUP BY ahu_id, scenario_id""",
}
CORPUS_READS = {
    "split_counts": "SELECT split, count(*) AS n FROM corpus GROUP BY split",
    "val_text_stats": "SELECT count(*) AS n, sum(length(text)) AS chars FROM corpus "
                      "WHERE split = 'val'",
    "train_first_ids": "SELECT doc_id, length(text) AS len FROM corpus WHERE split = 'train' "
                       "ORDER BY doc_id LIMIT 20",
}
E2E_UNITS = {
    "setup_s": "s",
    "pipeline_s": "s",
    "pipeline_cpu_s": "s",
    "pipeline_rows_per_s": "1/s",
    "read_p50_s": "s",
    "stored_bytes_per_input_byte": "ratio",
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class Session:
    """The one Spark session of a run; restartable, with the JVM kept."""

    def __init__(self, work: Path) -> None:
        from ida_ice_energy_simulation_etl_pipeline_spark.session import get_spark

        self._get_spark = get_spark
        self.work = work
        self.spark = None

    def start(self, event_log: Path | None = None) -> float:
        """(Re)start the session and run one trivial job; returns seconds."""
        self.stop()
        conf = {
            "spark.local.dir": str(self.work / "spark-local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work / 'tmp'}",
        }
        if event_log is not None:
            event_log.mkdir(parents=True, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.compress": "false",
                         "spark.eventLog.dir": event_log.as_uri()})
        t0 = time.perf_counter()
        self.spark = self._get_spark(app_name="perfbench", master=f"local[{CPUS}]",
                                     extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).count()
        return time.perf_counter() - t0

    def _jvm_pid(self) -> int:
        return self.spark._jvm.java.lang.ProcessHandle.current().pid()

    def cpu_s(self) -> float:
        """CPU seconds used so far by this process, the JVM and the JVM's
        descendants (Python workers), including their reaped children."""
        procs = {}
        for d in Path("/proc").iterdir():
            if d.name.isdigit():
                try:
                    f = (d / "stat").read_text().rsplit(")", 1)[1].split()
                except OSError:  # exited while listing
                    continue
                # ppid, utime + stime + cutime + cstime
                procs[int(d.name)] = (int(f[1]), sum(int(x) for x in f[11:15]))
        children: dict[int, list[int]] = {}
        for pid, (ppid, _) in procs.items():
            children.setdefault(ppid, []).append(pid)
        ticks, todo = 0, [self._jvm_pid()]
        while todo:
            pid = todo.pop()
            ticks += procs.get(pid, (0, 0))[1]
            todo.extend(children.get(pid, []))
        own = os.times()
        return ticks / os.sysconf("SC_CLK_TCK") + own.user + own.system

    def jvm_peak_rss_mb(self) -> float:
        for line in Path(f"/proc/{self._jvm_pid()}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
        return 0.0

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:  # a JVM that ignores EOF is killed
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


class Outcomes:
    """Attempted/failed operations of a run."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def record(self, what: str, errors: list[str]) -> bool:
        self.attempted += 1
        if errors:
            self.failed += 1
            log(f"[perfbench] WRONG {what}: " + "; ".join(errors[:5]))
        return not errors


def guarded(fn, *args):
    """Run one operation; an exception becomes a failure message."""
    try:
        return fn(*args), []
    except Exception as exc:  # noqa: BLE001 — the run records and continues
        traceback.print_exc(file=sys.stderr)
        return None, [f"{type(exc).__name__}: {exc}"]


class EtlWorkload:
    """``run_pipeline`` over many small run directories (per-file extract
    cost), then the view queries and ``build_summary`` on the result."""

    buildings, scenarios, hours = 20, 2, 168

    def __init__(self, work: Path, seed: int) -> None:
        self.work, self.seed = work, seed
        self.input = work / "input"

    def prepare(self) -> dict:
        inputs.generate_etl(self.input, self.seed, self.buildings, self.scenarios, self.hours)
        self.expected = oracle.etl_expected(self.input)
        self.input_rows = self.expected["input_rows"]
        self.input_bytes = inputs.tree_bytes(self.input, "")
        building = inputs.building_ids(self.buildings)[self.seed % self.buildings]
        self.queries = {k: q.format(building=building) for k, q in VIEW_QUERIES.items()}
        return {"input_digest": inputs.digest(self.input), "input_rows": self.input_rows,
                "input_bytes": self.input_bytes, "runs": self.buildings * self.scenarios}

    def run_once(self, spark, out: Path):
        from ida_ice_energy_simulation_etl_pipeline_spark.etl import pipeline

        return pipeline.run_pipeline(spark, self.input, out)

    def check(self, out: Path, result) -> list[str]:
        return oracle.check_etl(self.expected, out, result)

    def stored_bytes(self, out: Path) -> int:
        return inputs.tree_bytes(out / "parquet", ".parquet")

    def read_ops(self, spark, out: Path, tracer):
        """(label, thunk, check) for each read of the published star."""
        from ida_ice_energy_simulation_etl_pipeline_spark.etl import export, load

        pub = out / "parquet"
        expected_rows = oracle.view_results(pub, load.VIEW_DDL, self.queries)
        published = {t: spark.read.parquet(str(pub / t)) for t in oracle.STAR_TABLES}

        def view_query(label):
            def run():
                with tracer.span("etl.load.query", label) as span:
                    rows = [tuple(r) for r in load.query(spark, self.queries[label]).collect()]
                    span.rows_out = len(rows)
                return rows
            return run

        ops = [(label, view_query(label),
                lambda rows, label=label: oracle.compare_rows(label, expected_rows[label], rows))
               for label in self.queries]
        for s in self.expected["scenarios"]:
            ops.append((f"build_summary[{s}]",
                        lambda s=s: export.build_summary(published, scenario_id=s),
                        lambda doc, s=s: oracle.check_summary(self.expected, s, doc)))
        return ops

    def keep_ratio(self, result) -> float:
        return 0.0


class CorpusWorkload:
    """``run_corpus_pipeline`` (default config: filter, exact + MinHash-LSH
    near dedup with connected components, PII scrub, split) over the 5,000
    committed documents, then consumer reads of the published corpus."""

    def __init__(self, work: Path, seed: int) -> None:
        self.work, self.seed = work, seed
        self.input = work / "input"

    def prepare(self) -> dict:
        from ida_ice_energy_simulation_etl_pipeline_spark.corpus.pipeline import _corpus_e2e_sql

        self.input_rows = inputs.generate_corpus(self.input, self.seed)
        # The seed's file split changes the input's footer overhead, not its
        # content, so bytes are counted on the canonical one-file corpus.
        self.input_bytes = inputs.DOCUMENTS.stat().st_size
        self.expected = oracle.corpus_expected(self.input, _corpus_e2e_sql())
        return {"input_digest": inputs.digest(self.input), "input_rows": self.input_rows,
                "input_bytes": self.input_bytes,
                "files": len(list(self.input.glob("*.parquet")))}

    def run_once(self, spark, out: Path):
        from ida_ice_energy_simulation_etl_pipeline_spark.corpus import pipeline

        return pipeline.run_corpus_pipeline(spark, self.input, out)

    def check(self, out: Path, manifest) -> list[str]:
        return oracle.check_corpus(self.expected, out, manifest)

    def stored_bytes(self, out: Path) -> int:
        return inputs.tree_bytes(out / "corpus", ".parquet")

    def read_ops(self, spark, out: Path, tracer):
        corpus_dir = out / "corpus"
        expected_rows = oracle.corpus_reads(corpus_dir, CORPUS_READS)

        def read(label):
            def run():
                spark.read.parquet(str(corpus_dir)).createOrReplaceTempView("corpus")
                return [tuple(r) for r in spark.sql(CORPUS_READS[label]).collect()]
            return run

        return [(label, read(label),
                 lambda rows, label=label: oracle.compare_rows(label, expected_rows[label], rows))
                for label in CORPUS_READS]

    def keep_ratio(self, manifest) -> float:
        return manifest["stages"]["n_docs_written"] / manifest["stages"]["n_raw"]


WORKLOADS = {"etl_many_runs": EtlWorkload, "corpus_build": CorpusWorkload}


def run_iterations(wl, session: Session, ops: Outcomes, tag: str, seconds: float,
                   warmup: int, min_iterations: int = MIN_ITERATIONS):
    """Warm-up iterations, then timed iterations until ``seconds`` have
    passed (at least ``min_iterations``).  Each iteration writes a fresh
    output directory; the previous one is removed.  Returns (warm-up wall
    times, timed wall times, timed CPU times, last good output dir, results
    of the timed iterations)."""
    warm, timed, cpu, results = [], [], [], []
    last_out: Path | None = None
    t_start = 0.0
    for i in itertools.count():
        if i == warmup:
            t_start = time.perf_counter()
        if i >= warmup + min_iterations and time.perf_counter() - t_start >= seconds:
            break
        out = wl.work / f"out-{tag}-{i}"
        c0, t0 = session.cpu_s(), time.perf_counter()
        result, errors = guarded(wl.run_once, session.spark, out)
        dt, dc = time.perf_counter() - t0, session.cpu_s() - c0
        if not errors:
            found, check_failed = guarded(wl.check, out, result)
            errors = check_failed or found
        if i < warmup:
            warm.append(dt)
        else:
            timed.append(dt)
            cpu.append(dc)
        if ops.record(f"{tag} iteration {i}", errors):
            if i >= warmup:
                results.append(result)
            if last_out is not None:
                shutil.rmtree(last_out, ignore_errors=True)
            last_out = out
        else:
            shutil.rmtree(out, ignore_errors=True)
    return warm, timed, cpu, last_out, results


def run_reads(wl, session: Session, ops: Outcomes, out: Path, tracer, seconds: float,
              min_passes: int):
    """Passes over the read mix of the published output until ``seconds``
    have passed (at least ``min_passes``); returns per-read latencies."""
    samples: list[float] = []
    read_ops = wl.read_ops(session.spark, out, tracer)
    t_start, passes = time.perf_counter(), 0
    while passes < min_passes or time.perf_counter() - t_start < seconds:
        passes += 1
        for label, thunk, check in read_ops:
            t0 = time.perf_counter()
            rows, errors = guarded(thunk)
            dt = time.perf_counter() - t0
            if not errors:
                errors = check(rows)
            ops.record(f"read {label}", errors)
            samples.append(dt)
    return samples


def tail(samples: list[float]) -> str:
    """The highest listed percentile with at least ten samples beyond it."""
    n = len(samples)
    for p in (99.9, 99, 95, 90, 75, 50):
        if n * (1 - p / 100) >= 10:
            q = statistics.quantiles(samples, n=1000, method="inclusive")[int(p * 10) - 1]
            return f"p{p:g} = {q:.4f} s ({n} samples)"
    return f"none: {n} samples leave fewer than ten beyond p50"


def environment() -> dict:
    import pyspark

    return {"cpus_box": os.cpu_count(), "cpus_spark": CPUS, "spark": pyspark.__version__,
            "loadavg": " ".join(Path("/proc/loadavg").read_text().split()[:3])}


def measure(args, work: Path) -> tuple[dict, Outcomes, dict]:
    wl = WORKLOADS[args.workload](work, args.seed)
    ops = Outcomes()
    session = Session(work)
    try:
        # Inputs are made while the JVM launches; the first set-up sample
        # overlaps that work, the other restarts do not.
        with ThreadPoolExecutor(max_workers=1) as pool:
            prepared = pool.submit(wl.prepare)
            setup = [session.start()]
            info = prepared.result() | environment()
        setup += [session.start() for _ in range(SETUP_REPEATS - 1)]
        log(f"[perfbench] {args.workload} seed={args.seed} {json.dumps(info)}")
        warm, timed, cpu, last_out, _ = run_iterations(wl, session, ops, "untraced",
                                                       args.seconds, WARMUP_ITERATIONS)
        if not timed or last_out is None:
            raise RuntimeError("no pipeline iteration succeeded")
        reads = run_reads(wl, session, ops, last_out, ledger.Tracer(), READ_SECONDS,
                          MIN_READ_PASSES)
        pipeline_s = statistics.median(timed)
        e2e = {
            "setup_s": statistics.median(setup),
            "pipeline_s": pipeline_s,
            "pipeline_cpu_s": statistics.median(cpu),
            "pipeline_rows_per_s": wl.input_rows / pipeline_s,
            "read_p50_s": statistics.median(reads),
            "stored_bytes_per_input_byte": wl.stored_bytes(last_out) / wl.input_bytes,
        }
        detail = {"setup_samples": setup, "warmup": warm, "timed": timed, "timed_cpu": cpu,
                  "reads": len(reads), "read_tail": tail(reads)}
        if args.trace:
            e2e, detail = traced(args, wl, session, ops, e2e, detail)
        return e2e, ops, detail | info
    finally:
        session.shutdown()


def layer_metrics(spans: list, keep_ratios: list[float], rss_mb: float,
                  overhead: float) -> dict[str, tuple[float, str]]:
    """Every per-layer metric by name: (value, unit).  Layers the workload
    never reached report zeros."""
    metrics: dict[str, tuple[float, str]] = {}
    for layer in LAYERS:
        for measure_name, value in ledger.per_call_means(spans, layer).items():
            metrics[f"{layer}.{measure_name}"] = (value, ledger.MEASURES[measure_name])
    for label in VIEW_QUERIES:
        mine = [s for s in spans if s.name == "etl.load.query" and s.label == label]
        records = sum(s.counters["records_read"] for s in mine)
        rows = sum(s.rows_out for s in mine)
        metrics[f"etl.load.query.{label}.self_s"] = (
            sum(s.self_s for s in mine) / len(mine) if mine else 0.0, "s")
        metrics[f"etl.load.query.{label}.records_read_per_row_out"] = (
            records / rows if rows else 0.0, "ratio")
    validated = ledger.totals(spans, "etl.validate.validate_all")["input_bytes"]
    landed = ledger.totals(spans, "etl.load.load_to_parquet")["output_bytes"]
    metrics["etl.validate.validate_all.input_bytes_per_landed_byte"] = (
        validated / landed if landed else 0.0, "ratio")
    metrics["corpus.pipeline.keep_ratio"] = (
        statistics.mean(keep_ratios) if keep_ratios else 0.0, "ratio")
    metrics["session.jvm_peak_rss_mb"] = (rss_mb, "MB")
    metrics["trace.overhead_ratio"] = (overhead, "ratio")
    return metrics


def traced(args, wl, session: Session, ops: Outcomes, e2e: dict, detail: dict):
    """Restart with an event log, run one warm-up iteration, wrap the
    layers, run one traced iteration and one read pass, and fold the log
    into the span ledger."""
    tracer = ledger.Tracer()
    event_log = wl.work / "eventlog"
    session.start(event_log)
    # The first iteration after a restart pays for the new context; it runs
    # unwrapped, so its jobs fall outside every span.
    run_iterations(wl, session, ops, "traced-warmup", 0.0, warmup=1, min_iterations=0)
    for layer in WRAPPED:
        tracer.wrap(layer)
    try:
        _, timed, _, last_out, results = run_iterations(wl, session, ops, "traced", 0.0,
                                                        warmup=0, min_iterations=1)
        if last_out is not None:
            run_reads(wl, session, ops, last_out, tracer, 0.0, min_passes=1)
        rss = session.jvm_peak_rss_mb()
    finally:
        tracer.unwrap()
        session.stop()
    outside = tracer.attribute(ledger.fold_event_log(event_log))
    spans = tracer.spans
    overhead = statistics.median(timed) / e2e["pipeline_s"] if timed else 0.0
    metrics = layer_metrics(spans, [wl.keep_ratio(r) for r in results], rss, overhead)
    roots = [s for s in spans if s.name in ("etl.pipeline.run_pipeline",
                                            "corpus.pipeline.run_corpus_pipeline")]
    detail = detail | {
        "traced": timed,
        "jobs_outside_spans": outside,
        "max_self_time_closure_error_s": max((ledger.self_time_closure(s) for s in roots),
                                             default=0.0),
    }
    return metrics, detail


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # Fail before any work when the package is not next to the benchmark.
    import ida_ice_energy_simulation_etl_pipeline_spark  # noqa: F401

    work = REPO_ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # Everything Spark, the JVM and Python spill stays inside the checkout.
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    try:
        metrics, ops, detail = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        named = metrics
    else:
        named = {k: (v, E2E_UNITS[k]) for k, v in metrics.items()}
    print(f"workload {args.workload}, seed {args.seed}, trace {args.trace}: "
          f"{ops.failed}/{ops.attempted} operations failed "
          f"(error_rate {ops.failed / ops.attempted:.4f})")
    for k, v in detail.items():
        print(f"  {k}: {v}")
    for name, (value, unit) in named.items():
        print(f"  {name} = {value:.6g} {unit}")
    print(json.dumps({
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {name: {"value": value, "unit": unit} for name, (value, unit) in named.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
