"""query_mix: operator legs of ``__spark_entry__.queries()``, each checked
against its ``oracle_sql()`` twin on DuckDB.

The legs read the fixed tables under ``perfbench/data/<sf>`` (a copy of the
generated test tables the legs need), so the inputs do not depend on the
seed. Rows are compared after ``scripts/check_oracle.py::normalize_rows``.
"""

from __future__ import annotations

import os
import sys
import time
from contextlib import nullcontext

SF = "sf0.01"

#: one leg per operator module the roadmap reworks (two for functions.urls)
LEGS = (
    "containment_dedup",   # operators.dedup (containment_pairs)
    "kcore",               # operators.webgraph
    "ann_recall",          # operators.similarity
    "link_extract",        # functions.urls (extract_links)
    "url_canonicalize",    # functions.urls (canonicalize_url)
)
TABLES = ("documents", "orders", "events", "part", "embeddings")


def data_dir(bench_dir: str) -> str:
    return os.path.join(bench_dir, "data", SF)


def setup_paths(root: str) -> None:
    """Make ``scripts/check_oracle.py`` importable as ``check_oracle``."""
    scripts = os.path.join(root, "scripts")
    if scripts not in sys.path:
        sys.path.insert(0, scripts)


def run_round(spark, sf_dir: str, tracer=None) -> dict[str, dict]:
    """Run and collect every leg once: leg → {rows, cols, s} or {error, s}."""
    import __spark_entry__ as entry

    qs = entry.queries()
    out: dict[str, dict] = {}
    for name in LEGS:
        t = time.perf_counter()
        try:
            with tracer.span(f"query.{name}") if tracer else nullcontext():
                df = qs[name](spark, sf_dir)
                rows = [tuple(r) for r in df.collect()]
            out[name] = {"rows": rows, "cols": df.columns, "s": time.perf_counter() - t}
        except Exception as e:  # noqa: BLE001 - a crash is a failed operation
            out[name] = {"error": repr(e), "s": time.perf_counter() - t}
    return out


def check_round(sf_dir: str, res: dict[str, dict], perturb: str | None) -> dict[str, bool]:
    """Leg → its rows equal the DuckDB twin's. Legs that raised are absent."""
    import duckdb
    from check_oracle import normalize_rows

    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    verdict: dict[str, bool] = {}
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, t)}.parquet')"
            )
        for name in LEGS:
            got = res[name]
            if "rows" not in got:
                continue
            rows = list(got["rows"])
            if perturb == "leg" and name == LEGS[0] and rows:
                r = list(rows[0])
                r[-1] = None if r[-1] is not None else 0  # one leg row altered
                rows[0] = tuple(r)
            cur = con.execute(sql[name])
            cols = [d[0] for d in cur.description]
            want = normalize_rows(cur.fetchall(), cols)
            verdict[name] = (
                sorted(got["cols"]) == sorted(cols)
                and bool(rows)
                and normalize_rows(rows, got["cols"]) == want
            )
    finally:
        con.close()
    return verdict


def summarize(res: dict[str, dict]) -> dict:
    return {"op_times": [v["s"] for v in res.values() if "rows" in v]}
