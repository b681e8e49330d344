"""Self-tests of the benchmark's own machinery.

    python3 perfbench/selftest.py

1. Inputs are a pure function of the seed: the same seed gives
   byte-identical inputs, another seed different ones; and the fixture
   generator really does depend on PYTHONHASHSEED (why the child pins it).
2. The oracle catches perturbed outputs: a clean ETL and corpus run pass,
   and each deliberate corruption of a published table, summary,
   validation report, manifest or read result is reported.
3. The span ledger: self times of a span tree add up to the root's wall
   time, and jobs land on the deepest span open at submission.
4. BENCHMARK.json names exactly the metrics the benchmark prints.

Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

import duckdb
import pyarrow.parquet as pq

import inputs
import ledger
import oracle
import run

FAILURES: list[str] = []


def expect(cond: bool, what: str) -> None:
    print(f"  {'ok  ' if cond else 'FAIL'} {what}", flush=True)
    if not cond:
        FAILURES.append(what)


def seed_determinism(tmp: Path) -> None:
    print("inputs are a pure function of the seed")
    small = (3, 2, 24)
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        inputs.generate_etl(tmp / f"etl_{name}", seed, *small)
        inputs.generate_corpus(tmp / f"corpus_{name}", seed)
    for kind in ("etl", "corpus"):
        a, b, c = (inputs.digest(tmp / f"{kind}_{n}") for n in "abc")
        expect(a == b, f"{kind}: same seed, byte-identical inputs")
        expect(a != c, f"{kind}: another seed, different inputs")
    # The trap the child process avoids: fixtures seed their RNG with hash().
    digests = []
    for hash_seed in ("1", "2"):
        out = tmp / f"unpinned_{hash_seed}"
        env = dict(os.environ, PYTHONHASHSEED=hash_seed)
        subprocess.run([sys.executable, inputs.__file__, "etl", str(out), "5", *map(str, small)],
                       env=env, check=True)
        digests.append(inputs.digest(out))
    expect(digests[0] != digests[1], "fixture output depends on PYTHONHASHSEED")


def _rewrite_parquet(table_dir: Path, select: str, where: str = "true") -> None:
    """Replace a published table's files with one file holding
    ``SELECT <select> FROM <the table> WHERE <where>``."""
    con = duckdb.connect()
    data = con.execute(f"SELECT {select} FROM read_parquet('{table_dir}/*.parquet') "
                       f"WHERE {where}").arrow()
    con.close()
    for f in table_dir.glob("*.parquet"):
        f.unlink()
    pq.write_table(data, table_dir / "part-00000-perturbed.parquet")


def oracle_catches_perturbations(tmp: Path) -> None:
    print("the oracle catches perturbed outputs")
    session = run.Session(tmp)
    session.start()
    try:
        etl = run.EtlWorkload(tmp / "etl", 7)
        etl.buildings, etl.hours = 3, 24
        etl.prepare()
        clean = tmp / "etl" / "out"
        result = etl.run_once(session.spark, clean)
        expect(etl.check(clean, result) == [], "clean ETL output passes")

        def perturbed(what: str, mutate) -> None:
            out = tmp / "etl" / "perturbed"
            shutil.rmtree(out, ignore_errors=True)
            shutil.copytree(clean, out)
            res = json.loads(json.dumps(result))
            mutate(out, res)
            expect(bool(etl.check(out, res)), f"caught: {what}")

        perturbed("fact_meters electric_kwh x 1.0001", lambda o, r: _rewrite_parquet(
            o / "parquet" / "fact_meters",
            "* REPLACE (electric_kwh * 1.0001 AS electric_kwh)"))
        perturbed("fact_hvac rows of one hour and AHU dropped", lambda o, r: _rewrite_parquet(
            o / "parquet" / "fact_hvac", "*", where="NOT (time_key = 1 AND ahu_key = 1)"))
        perturbed("dim_zone keys shifted", lambda o, r: _rewrite_parquet(
            o / "parquet" / "dim_zone", "* REPLACE (zone_key + 1 AS zone_key)"))
        perturbed("summary.json peak demand changed", lambda o, r: _edit_json(
            o / "summary.json", lambda d: d["kpis"].update(
                peak_demand_kw=d["kpis"]["peak_demand_kw"] + 1.0)))
        perturbed("validation report invalid", lambda o, r: r["validation"].update(
            is_valid=False))

        published = {t: session.spark.read.parquet(str(clean / "parquet" / t))
                     for t in oracle.STAR_TABLES}
        from ida_ice_energy_simulation_etl_pipeline_spark.etl import export

        doc = export.build_summary(published, scenario_id="RETROFIT")
        expect(oracle.check_summary(etl.expected, "RETROFIT", doc) == [],
               "clean build_summary passes")
        doc["annual"]["heating_kwh"] += 5.0
        expect(bool(oracle.check_summary(etl.expected, "RETROFIT", doc)),
               "caught: build_summary annual heating changed")

        corpus = run.CorpusWorkload(tmp / "corpus", 7)
        corpus.prepare()
        out = tmp / "corpus" / "out"
        manifest = corpus.run_once(session.spark, out)
        expect(corpus.check(out, manifest) == [], "clean corpus output passes")
        bad = json.loads(json.dumps(manifest))
        bad["output_stats"]["per_split"]["train"] += 1
        expect(bool(corpus.check(out, bad)), "caught: manifest per_split off by one")
        bad = json.loads(json.dumps(manifest))
        bad["gate"]["nonempty"] = False
        expect(bool(corpus.check(out, bad)), "caught: corpus gate false")
        victim = sorted((out / "corpus").rglob("*.parquet"))[0]
        victim.unlink()
        expect(bool(corpus.check(out, manifest)), "caught: published corpus file missing")
    finally:
        session.shutdown()
    rows = [("a", 1, 2.5), ("b", 2, 3.25)]
    expect(oracle.compare_rows("q", rows, list(reversed(rows))) == [],
           "read rows compare order-free")
    expect(bool(oracle.compare_rows("q", rows, [("a", 1, 2.5), ("b", 2, 3.25 * (1 + 1e-6))])),
           "caught: read result float off by 1e-6")
    expect(bool(oracle.compare_rows("q", rows, rows[:1])), "caught: read result row missing")


def _edit_json(path: Path, mutate) -> None:
    doc = json.loads(path.read_text())
    mutate(doc)
    path.write_text(json.dumps(doc))


def span_ledger() -> None:
    print("span ledger")
    tracer = ledger.Tracer()
    with tracer.span("root") as root:
        time.sleep(0.01)
        with tracer.span("child"):
            time.sleep(0.02)
            with tracer.span("grandchild") as grandchild:
                time.sleep(0.01)
        with tracer.span("child"):
            time.sleep(0.01)
    expect(ledger.self_time_closure(root) < 1e-9, "self times add up to the root's wall time")
    expect(abs(root.self_s - 0.01) < 0.008, "root self time excludes its children")
    mid = (grandchild.start + grandchild.end) / 2
    outside = tracer.attribute([
        {"submit_s": mid, "tasks": 3, "executor_cpu_s": 0.5, "input_bytes": 10,
         "records_read": 2, "shuffle_write_bytes": 0, "output_bytes": 0},
        {"submit_s": root.end + 10, "tasks": 1, "executor_cpu_s": 0, "input_bytes": 0,
         "records_read": 0, "shuffle_write_bytes": 0, "output_bytes": 0},
    ])
    expect(grandchild.jobs == 1 and grandchild.counters["tasks"] == 3 and root.jobs == 0,
           "a job lands on the deepest open span")
    expect(outside == 1, "a job outside every span is counted as such")


def metric_names() -> None:
    print("BENCHMARK.json names the printed metrics")
    spec = json.loads((run.REPO_ROOT / "BENCHMARK.json").read_text())
    expect({m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS,
           "end_to_end names and units")
    printed = {k: u for k, (_, u) in run.layer_metrics([], [], 0.0, 0.0).items()}
    expect({m["name"]: m["unit"] for m in spec["per_layer"]} == printed,
           "per_layer names and units")
    expect(sorted(w["name"] for w in spec["workloads"]) == sorted(run.WORKLOADS),
           "workload names")


def main() -> int:
    work = run.REPO_ROOT / ".bench_work" / f"selftest-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(run.CPUS)
    try:
        seed_determinism(work)
        span_ledger()
        metric_names()
        oracle_catches_perturbations(work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"{len(FAILURES)} failed" + (f": {FAILURES}" if FAILURES else ""))
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())
