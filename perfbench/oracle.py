"""Check collected query outputs against their DuckDB oracles.

Runs in a process of its own, so that DuckDB and the oracle results stay
out of the measured driver's memory (``peak_rss_mb``).

    python3 perfbench/oracle.py DATA_DIR MANIFEST

``MANIFEST`` is a JSON list of ``[label, query, pickle path]``: one
pickled pandas DataFrame per collected output (``DataFrame.toPandas()``).
Prints one JSON object, ``{label: [problem, ...]}``, holding only the
outputs that differ from their oracle, as ``compare`` in
``scripts/oracle_check.py`` (imported unchanged) reports them.
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys

import pandas as pd

from datagen import TABLES

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def oracle_check_module():
    """``scripts/oracle_check.py`` as a module, with the checkout on the path."""
    sys.path.insert(0, ROOT)
    path = os.path.join(ROOT, "scripts", "oracle_check.py")
    spec = importlib.util.spec_from_file_location("perfbench_oracle_check", path)
    mod = importlib.util.module_from_spec(spec)
    saved = list(sys.path)
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod


def connect(data_dir: str):
    """A DuckDB connection with one view per fixture table."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def main() -> int:
    data_dir, manifest = sys.argv[1:3]
    with open(manifest) as f:
        outputs = json.load(f)
    mod = oracle_check_module()
    oracles = mod.entrymod.oracle_sql()
    con = connect(data_dir)
    problems = {}
    for label, query, path in outputs:
        if query not in oracles:
            problems[label] = ["no oracle"]
            continue
        found = mod.compare(query, pd.read_pickle(path), con.execute(oracles[query]).df())
        if found:
            problems[label] = found
    print(json.dumps(problems))
    return 0


if __name__ == "__main__":
    sys.exit(main())
