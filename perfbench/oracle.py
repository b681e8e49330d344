"""In-run DuckDB oracle.

Expected values are computed in the same run from the generated inputs;
observed values are read back from what the program published.  Nothing is
compared against stored digests.  Every ``check_*`` returns a list of
mismatch messages (empty means correct) instead of raising, so a wrong
output counts as a failed operation and the run carries on.
"""

from __future__ import annotations

import hashlib
import json
import math
from pathlib import Path

import duckdb

REL_TOL = 1e-9
PIPELINE_NAME = "ida-ice-energy-spark"
# Modelling constants of the summary document (FIXTURES.md §3): lighting and
# equipment are fixed shares of electric energy; comfort is |air - setpoint|
# within 1 °C; hvac cop_proxy is null below 1 kW of power.
LIGHTING_SHARE, EQUIPMENT_SHARE, COMFORT_BAND_C, COP_MIN_POWER_KW = 0.35, 0.45, 1.0, 1.0

CSV_COLUMNS = {
    "zones": {"timestamp": "VARCHAR", "building_id": "VARCHAR", "scenario_id": "VARCHAR",
              "zone_id": "VARCHAR", "zone_name": "VARCHAR", "air_temp_C": "DOUBLE",
              "setpoint_C": "DOUBLE", "co2_ppm": "DOUBLE", "rh_pct": "DOUBLE"},
    "hvac": {"timestamp": "VARCHAR", "building_id": "VARCHAR", "scenario_id": "VARCHAR",
             "ahu_id": "VARCHAR", "supply_temp_C": "DOUBLE", "return_temp_C": "DOUBLE",
             "power_kw": "DOUBLE", "cooling_kw": "DOUBLE", "heating_kw": "DOUBLE"},
    "meters": {"timestamp": "VARCHAR", "building_id": "VARCHAR", "scenario_id": "VARCHAR",
               "electric_kwh": "DOUBLE", "heating_kwh": "DOUBLE", "cooling_kwh": "DOUBLE"},
    "weather": {"timestamp": "VARCHAR", "drybulb_C": "DOUBLE", "relhum_pct": "DOUBLE",
                "ghi_W_m2": "DOUBLE"},
}
STAR_TABLES = ("dim_building", "dim_scenario", "dim_zone", "dim_ahu", "dim_time",
               "fact_zone_conditions", "fact_hvac", "fact_meters", "fact_weather")
# fact -> (key columns, measure columns); the oracle checks row counts, the
# sum of every key and measure, and the null count of every column.
FACTS = {
    "fact_zone_conditions": (("time_key", "zone_key"),
                             ("air_temp_C", "setpoint_C", "co2_ppm", "rh_pct")),
    "fact_hvac": (("time_key", "ahu_key"),
                  ("supply_temp_C", "return_temp_C", "power_kw", "cooling_kw",
                   "heating_kw", "cop_proxy")),
    "fact_meters": (("time_key",), ("electric_kwh", "heating_kwh", "cooling_kwh")),
    "fact_weather": (("time_key",), ("drybulb_C", "relhum_pct", "ghi_W_m2")),
}
# dim -> SELECT list over the published parquet, in key order
DIM_COLUMNS = {
    "dim_building": "building_id, building_name, location, floor_area_m2",
    "dim_scenario": "scenario_id, description",
    "dim_zone": "zone_key, building_id, zone_id, zone_name",
    "dim_ahu": "ahu_key, building_id, ahu_id",
    "dim_time": "time_key, CAST(epoch(timestamp) AS BIGINT), year, month, day, hour, "
                "dow, is_weekend",
}


def close(a, b, rel: float = REL_TOL, abs_tol: float = 1e-9) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(float(a), float(b), rel_tol=rel, abs_tol=abs_tol)


def _same_value(exp, got) -> bool:
    if isinstance(exp, float) or isinstance(got, float):
        return close(exp, got)
    return exp == got


def compare_rows(name: str, expected: list[tuple], observed: list[tuple]) -> list[str]:
    """Order-free row-set comparison; floats within REL_TOL."""
    def key(row):
        return tuple("" if isinstance(v, float) or v is None else str(v) for v in row)

    if len(expected) != len(observed):
        return [f"{name}: {len(observed)} rows, expected {len(expected)}"]
    for e, o in zip(sorted(expected, key=key), sorted(observed, key=key)):
        if len(e) != len(o) or not all(_same_value(x, y) for x, y in zip(e, o)):
            return [f"{name}: row {o} != expected {e}"]
    return []


def compare_doc(name: str, expected, observed, round_unit: float = 0.0) -> list[str]:
    """Recursive comparison of JSON-like documents.  Numbers produced by
    ``round(x, d)`` may differ by one unit of ``10**-d`` when sums taken in
    different orders straddle a rounding boundary, so ``round_unit`` widens
    the tolerance of floats by that much."""
    if isinstance(expected, dict):
        if not isinstance(observed, dict) or set(expected) != set(observed):
            return [f"{name}: keys {sorted(observed) if isinstance(observed, dict) else observed}"
                    f" != expected {sorted(expected)}"]
        return [m for k in expected for m in compare_doc(f"{name}.{k}", expected[k],
                                                          observed[k], round_unit)]
    if isinstance(expected, list):
        if not isinstance(observed, list) or len(expected) != len(observed):
            return [f"{name}: {observed!r} != expected {expected!r}"]
        return [m for i, (e, o) in enumerate(zip(expected, observed))
                for m in compare_doc(f"{name}[{i}]", e, o, round_unit)]
    if isinstance(expected, float) and isinstance(observed, (int, float)):
        if close(expected, observed, abs_tol=round_unit + 1e-9):
            return []
    elif expected == observed and type(expected) is type(observed):
        return []
    return [f"{name}: {observed!r} != expected {expected!r}"]


# ---------------------------------------------------------------- ETL ----

def _raw_views(con: duckdb.DuckDBPyConnection, input_dir: Path) -> None:
    for entity, cols in CSV_COLUMNS.items():
        spec = "{" + ", ".join(f"'{c}': '{t}'" for c, t in cols.items()) + "}"
        con.execute(
            f"CREATE TABLE raw_{entity}_csv AS SELECT * FROM read_csv("
            f"'{input_dir}/run_*/{entity}.csv', header=true, columns={spec})"
        )
        bad = con.execute(
            f"SELECT count(*) FROM raw_{entity}_csv WHERE timestamp NOT LIKE '%+00:00'"
        ).fetchone()[0]
        if bad:
            raise ValueError(f"{entity}: {bad} timestamps not in UTC offset form")
        con.execute(
            f"CREATE VIEW raw_{entity} AS SELECT * REPLACE "
            f"(CAST(left(timestamp, 19) AS TIMESTAMP) AS timestamp) FROM raw_{entity}_csv"
        )
    meta = [json.loads(p.read_text()) for p in sorted(input_dir.glob("run_*/metadata.json"))]
    con.execute("CREATE TABLE raw_metadata (building_id VARCHAR, scenario_id VARCHAR, "
                "building_name VARCHAR, location VARCHAR, floor_area_m2 BIGINT, "
                "description VARCHAR)")
    con.executemany("INSERT INTO raw_metadata VALUES (?, ?, ?, ?, ?, ?)", [
        (m["building_id"], m["scenario_id"], m["building_name"], m["location"],
         m["floor_area_m2"], m["description"]) for m in meta])


_EXPECTED_DIMS = {
    # first-seen attributes in sorted bundle-name order
    "dim_building": """
        SELECT building_id, arg_min(building_name, f), arg_min(location, f),
               arg_min(floor_area_m2, f)
        FROM (SELECT *, 'run_' || building_id || '_' || scenario_id || '.zip' AS f
              FROM raw_metadata)
        GROUP BY building_id ORDER BY building_id""",
    "dim_scenario": """
        SELECT scenario_id, arg_min(description, f)
        FROM (SELECT *, 'run_' || building_id || '_' || scenario_id || '.zip' AS f
              FROM raw_metadata)
        GROUP BY scenario_id ORDER BY scenario_id""",
    "dim_zone": """
        SELECT row_number() OVER (ORDER BY building_id, zone_id), building_id, zone_id,
               zone_name
        FROM (SELECT DISTINCT building_id, zone_id, zone_name FROM raw_zones)""",
    "dim_ahu": """
        SELECT row_number() OVER (ORDER BY building_id, ahu_id), building_id, ahu_id
        FROM (SELECT DISTINCT building_id, ahu_id FROM raw_hvac)""",
    "dim_time": """
        SELECT row_number() OVER (ORDER BY timestamp), CAST(epoch(timestamp) AS BIGINT),
               year(timestamp), month(timestamp), day(timestamp), hour(timestamp),
               isodow(timestamp) - 1, isodow(timestamp) >= 6
        FROM (SELECT DISTINCT timestamp FROM raw_zones)""",
}

# fact -> the expected fact rows, keyed like the program keys them
_EXPECTED_FACTS = {
    "fact_zone_conditions": """
        SELECT t.time_key, z.zone_key, r.scenario_id, r.air_temp_C, r.setpoint_C,
               r.co2_ppm, r.rh_pct
        FROM raw_zones r LEFT JOIN e_dim_time t ON t.ts = r.timestamp
        LEFT JOIN e_dim_zone z USING (building_id, zone_id)""",
    "fact_hvac": f"""
        SELECT t.time_key, a.ahu_key, r.scenario_id, r.supply_temp_C, r.return_temp_C,
               r.power_kw, r.cooling_kw, r.heating_kw,
               CASE WHEN r.power_kw >= {COP_MIN_POWER_KW}
                    THEN (r.heating_kw + r.cooling_kw) / r.power_kw END AS cop_proxy
        FROM raw_hvac r LEFT JOIN e_dim_time t ON t.ts = r.timestamp
        LEFT JOIN e_dim_ahu a USING (building_id, ahu_id)""",
    "fact_meters": """
        SELECT t.time_key, r.building_id, r.scenario_id, r.electric_kwh, r.heating_kwh,
               r.cooling_kwh
        FROM raw_meters r LEFT JOIN e_dim_time t ON t.ts = r.timestamp""",
    "fact_weather": """
        SELECT t.time_key, b.building_id, w.drybulb_C, w.relhum_pct, w.ghi_W_m2
        FROM (SELECT timestamp, min(drybulb_C) AS drybulb_C, min(relhum_pct) AS relhum_pct,
                     min(ghi_W_m2) AS ghi_W_m2
              FROM raw_weather GROUP BY timestamp) w
        LEFT JOIN e_dim_time t ON t.ts = w.timestamp
        CROSS JOIN (SELECT DISTINCT building_id FROM raw_metadata) b""",
}


def _fact_profile(con, table_sql: str, table: str) -> dict:
    keys, measures = FACTS[table]
    cols = (*keys, *measures)
    row = con.execute(
        "SELECT count(*), "
        + ", ".join(f"sum({c}), count(*) - count({c})" for c in cols)
        + f" FROM ({table_sql})"
    ).fetchone()
    prof = {"rows": row[0]}
    for i, c in enumerate(cols):
        prof[f"sum({c})"] = float(row[1 + 2 * i]) if row[1 + 2 * i] is not None else None
        prof[f"nulls({c})"] = row[2 + 2 * i]
    return prof


def _summary(con, scenario: str, dims: dict) -> dict:
    monthly = con.execute(
        "SELECT month(timestamp) AS m, sum(heating_kwh), sum(cooling_kwh), sum(electric_kwh) "
        "FROM raw_meters WHERE scenario_id = ? GROUP BY m ORDER BY m", [scenario]
    ).fetchall()
    peak = con.execute("SELECT max(power_kw) FROM raw_hvac WHERE scenario_id = ?",
                       [scenario]).fetchone()[0] or 0.0
    n, ok = con.execute(
        f"SELECT count(*), count(*) FILTER (abs(air_temp_C - setpoint_C) <= {COMFORT_BAND_C}) "
        "FROM raw_zones WHERE scenario_id = ?", [scenario]).fetchone()
    heating = sum(r[1] for r in monthly)
    cooling = sum(r[2] for r in monthly)
    electric = sum(r[3] for r in monthly)
    total = electric + heating + cooling
    buildings = dims["dim_building"]
    floor = float(sum(b[3] or 0 for b in buildings))
    desc = dict(dims["dim_scenario"])[scenario]
    return {
        "pipeline": PIPELINE_NAME,
        "scenario": {"name": scenario, "building_type": desc or "unspecified",
                     "location": buildings[0][2] if buildings else "unknown",
                     "floor_area_m2": floor},
        "annual": {"total_kwh": round(total, 1), "heating_kwh": round(heating, 1),
                   "cooling_kwh": round(cooling, 1), "electric_kwh": round(electric, 1),
                   "lighting_kwh": round(electric * LIGHTING_SHARE, 1),
                   "equipment_kwh": round(electric * EQUIPMENT_SHARE, 1)},
        "monthly_breakdown": [
            {"month": int(m), "heating_kwh": round(h, 1), "cooling_kwh": round(c, 1),
             "total_kwh": round(h + c + e, 1)} for m, h, c, e in monthly],
        "kpis": {"energy_intensity_kwh_m2": round(total / floor, 2) if floor else None,
                 "peak_demand_kw": round(float(peak), 1),
                 "comfort_hours_percent": round(100.0 * ok / n if n else 0.0, 1)},
    }


def etl_expected(input_dir: Path) -> dict:
    """Star-schema profile, dims and per-scenario summaries from the raw
    CSV/JSON bundles."""
    con = duckdb.connect()
    try:
        _raw_views(con, Path(input_dir))
        dims = {t: [tuple(r) for r in con.execute(sql).fetchall()]
                for t, sql in _EXPECTED_DIMS.items()}
        con.execute("CREATE TABLE e_dim_time AS SELECT row_number() OVER (ORDER BY timestamp) "
                    "AS time_key, timestamp AS ts FROM (SELECT DISTINCT timestamp FROM raw_zones)")
        con.execute(f"CREATE TABLE e_dim_zone AS SELECT * FROM ({_EXPECTED_DIMS['dim_zone']}) "
                    "t(zone_key, building_id, zone_id, zone_name)")
        con.execute(f"CREATE TABLE e_dim_ahu AS SELECT * FROM ({_EXPECTED_DIMS['dim_ahu']}) "
                    "t(ahu_key, building_id, ahu_id)")
        facts = {t: _fact_profile(con, sql, t) for t, sql in _EXPECTED_FACTS.items()}
        scenarios = [s for s, _ in dims["dim_scenario"]]
        input_rows = sum(con.execute(f"SELECT count(*) FROM raw_{e}").fetchone()[0]
                         for e in CSV_COLUMNS)
        return {
            "dims": dims,
            "facts": facts,
            "scenarios": scenarios,
            "summaries": {s: _summary(con, s, dims) for s in scenarios},
            "input_rows": input_rows,
        }
    finally:
        con.close()


def _published_profile(pub: Path) -> dict:
    con = duckdb.connect()
    try:
        dims = {t: [tuple(r) for r in con.execute(
            f"SELECT {cols} FROM read_parquet('{pub}/{t}/*.parquet') ORDER BY 1").fetchall()]
            for t, cols in DIM_COLUMNS.items()}
        facts = {t: _fact_profile(con, f"SELECT * FROM read_parquet('{pub}/{t}/*.parquet')", t)
                 for t in FACTS}
        return {"dims": dims, "facts": facts}
    finally:
        con.close()


def check_etl(expected: dict, output_dir: Path, result: dict) -> list[str]:
    """Published star, summary.json and the validation report against the
    expected values."""
    output_dir = Path(output_dir)
    pub = output_dir / "parquet"
    missing = [t for t in STAR_TABLES if not (pub / t).is_dir()]
    if missing:
        return [f"published star lacks {missing}"]
    got = _published_profile(pub)
    errors = []
    for t, rows in expected["dims"].items():
        errors += compare_rows(t, rows, got["dims"][t])
    for t, prof in expected["facts"].items():
        errors += compare_doc(t, prof, got["facts"][t])
    summary = json.loads((output_dir / "summary.json").read_text())
    summary.pop("generated_at", None)
    errors += compare_doc("summary.json", expected["summaries"][expected["scenarios"][0]],
                          summary, round_unit=0.1)
    report = json.loads((output_dir / "validation_report.json").read_text())
    for name, rep in (("validation_report.json", report), ("run_pipeline.validation",
                                                           result.get("validation", {}))):
        if rep.get("is_valid") is not True:
            errors.append(f"{name}: is_valid = {rep.get('is_valid')!r}")
        errors += [f"{name}.{k}: {e}" for k, c in rep.get("checks", {}).items()
                   for e in c.get("errors", [])]
    return errors


def check_summary(expected: dict, scenario: str, doc: dict) -> list[str]:
    doc = {k: v for k, v in doc.items() if k != "generated_at"}
    return compare_doc(f"build_summary[{scenario}]", expected["summaries"][scenario], doc,
                       round_unit=0.1)


def view_results(pub: Path, view_ddl: dict[str, str], queries: dict[str, str]) -> dict:
    """Each query's rows from DuckDB over the published parquet, with the
    program's view definitions on top."""
    con = duckdb.connect()
    try:
        for t in STAR_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pub}/{t}/*.parquet')")
        for view, body in view_ddl.items():
            con.execute(f"CREATE VIEW {view} AS {body}")
        return {label: [tuple(r) for r in con.execute(sql).fetchall()]
                for label, sql in queries.items()}
    finally:
        con.close()


# ------------------------------------------------------------- corpus ----

def _split(doc_id: int) -> str:
    h = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:4], 16)
    return "train" if h < int(0.8 * 65536) else "val" if h < int(0.9 * 65536) else "test"


def corpus_expected(input_dir: Path, e2e_sql: str) -> dict:
    """Per-split doc counts of the default corpus build.

    ``e2e_sql`` is the package's DuckDB restatement of the stage chain.  Its
    filter, exact-dedup and MinHash-LSH pair CTEs run here as written; the
    connected components of the pair graph (a recursive CTE there, ~20 s on
    5k docs) are taken with a union-find instead, keeping each component's
    smallest doc id, and splits use the documented md5-prefix rule."""
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{input_dir}/*.parquet')")
        n_raw = con.execute("SELECT count(*) FROM documents").fetchone()[0]
        head, marker, _ = e2e_sql.partition("undirected AS")
        if not marker:
            rows = con.execute(e2e_sql).fetchall()
            return {"n_raw": n_raw, "per_split": {r[0]: r[1] for r in rows}}
        prefix = head.rstrip().rstrip(",")
        docs = [r[0] for r in con.execute(prefix + "\nSELECT doc_id FROM ex").fetchall()]
        pairs = con.execute(prefix + "\nSELECT doc_a, doc_b FROM pairs").fetchall()
    finally:
        con.close()
    parent = {d: d for d in docs}

    def find(d):
        while parent[d] != d:
            parent[d] = parent[parent[d]]
            d = parent[d]
        return d

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    per_split: dict[str, int] = {}
    for d in docs:
        if find(d) == d:
            s = _split(d)
            per_split[s] = per_split.get(s, 0) + 1
    return {"n_raw": n_raw, "per_split": per_split}


def published_corpus(corpus_dir: Path) -> dict[str, int]:
    con = duckdb.connect()
    try:
        rows = con.execute(
            f"SELECT split, count(*) FROM read_parquet('{corpus_dir}/**/*.parquet', "
            "hive_partitioning = true) GROUP BY split").fetchall()
        return {s: n for s, n in rows}
    finally:
        con.close()


def check_corpus(expected: dict, output_dir: Path, manifest: dict) -> list[str]:
    errors = compare_doc("manifest.output_stats.per_split", expected["per_split"],
                         manifest["output_stats"]["per_split"])
    errors += compare_doc("manifest.stages.n_raw", expected["n_raw"],
                          manifest["stages"]["n_raw"])
    errors += [f"manifest.gate.{k} = {v!r}" for k, v in manifest["gate"].items() if v is not True]
    errors += compare_doc("published corpus per split", expected["per_split"],
                          published_corpus(Path(output_dir) / "corpus"))
    return errors


def corpus_reads(corpus_dir: Path, queries: dict[str, str]) -> dict:
    """Each consumer read's rows from DuckDB over the published corpus."""
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW corpus AS SELECT * FROM read_parquet("
                    f"'{corpus_dir}/**/*.parquet', hive_partitioning = true)")
        return {label: [tuple(r) for r in con.execute(sql).fetchall()]
                for label, sql in queries.items()}
    finally:
        con.close()
