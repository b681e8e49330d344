"""Seeded input generation for the benchmark workloads.

Every input is a pure function of (workload, seed):

* ETL run bundles come from the package's own fixture generator, run in a
  child interpreter whose ``PYTHONHASHSEED`` is derived from the seed.  The
  generator seeds its per-run RNG (and ``floor_area_m2``) with Python's
  salted ``hash()``, so without the pin the same seed would give different
  values in every process.
* Corpus inputs are the committed 5,000-doc ``data/documents.parquet``,
  rows permuted by the seed and cut into a seed-chosen number of files.

Run as a script, this module is the child side of the ETL generation:
``python3 perfbench/inputs.py etl <out_dir> <seed> <buildings> <scenarios> <hours>``.
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
REPO_ROOT = BENCH_DIR.parent
DOCUMENTS = BENCH_DIR / "data" / "documents.parquet"
SCENARIOS = ("BASE", "RETROFIT")


def building_ids(n: int) -> tuple[str, ...]:
    return tuple(f"B{i:03d}" for i in range(n))


def hash_seed(seed: int) -> str:
    """PYTHONHASHSEED for a workload seed (must lie in [0, 2**32 - 1])."""
    return str(seed % (2**32))


def generate_etl(out_dir: Path, seed: int, buildings: int, scenarios: int, hours: int) -> None:
    """Write ``buildings x scenarios`` run directories under ``out_dir`` in a
    child interpreter with a pinned hash seed; raises if the child fails."""
    env = dict(os.environ, PYTHONHASHSEED=hash_seed(seed))
    cmd = [
        sys.executable, str(Path(__file__).resolve()), "etl", str(out_dir),
        str(seed), str(buildings), str(scenarios), str(hours),
    ]
    subprocess.run(cmd, env=env, check=True, timeout=120)


def generate_corpus(out_dir: Path, seed: int) -> int:
    """Permute the committed documents by ``seed`` and write them as 2-5
    parquet files; returns the number of rows written."""
    import numpy as np
    import pyarrow.parquet as pq

    table = pq.read_table(DOCUMENTS)
    rng = np.random.default_rng(seed)
    table = table.take(rng.permutation(table.num_rows))
    n_files = 2 + int(rng.integers(0, 4))
    cuts = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    out_dir.mkdir(parents=True, exist_ok=True)
    for i in range(n_files):
        part = table.slice(cuts[i], cuts[i + 1] - cuts[i])
        pq.write_table(part, out_dir / f"part-{i:02d}.parquet")
    return table.num_rows


def digest(root: Path) -> str:
    """sha256 over every file's relative path and bytes, in path order."""
    h = hashlib.sha256()
    for p in sorted(q for q in root.rglob("*") if q.is_file()):
        h.update(str(p.relative_to(root)).encode())
        h.update(b"\0")
        h.update(p.read_bytes())
    return h.hexdigest()


def tree_bytes(root: Path, suffix: str) -> int:
    return sum(p.stat().st_size for p in root.rglob(f"*{suffix}") if p.is_file())


def _child_etl(out_dir: str, seed: str, buildings: str, scenarios: str, hours: str) -> None:
    sys.path.insert(0, str(REPO_ROOT))
    from ida_ice_energy_simulation_etl_pipeline_spark.fixtures import generate_dataset

    generate_dataset(
        Path(out_dir),
        buildings=building_ids(int(buildings)),
        scenarios=SCENARIOS[: int(scenarios)],
        hours=int(hours),
        seed=int(seed),
    )


if __name__ == "__main__":
    if len(sys.argv) != 7 or sys.argv[1] != "etl":
        sys.exit("usage: inputs.py etl <out_dir> <seed> <buildings> <scenarios> <hours>")
    _child_etl(*sys.argv[2:])
