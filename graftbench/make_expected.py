#!/usr/bin/env python3
"""Regenerate ``graftbench/expected.json``: the digest of every analytics
and decode item, computed by the registry's DuckDB oracle over the same
inputs the benchmark feeds Spark, with ``check_oracle.table_digest``.

    python3 graftbench/make_expected.py

Run from the repository root. Spark is not started; the benchmark itself
compares Spark's output against these digests on every pass. The ingest
workload needs no entry: its expected rows come from its own seeded
generator.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import duckdb  # noqa: E402

from check_oracle import table_digest  # noqa: E402
from input_data_pipeline_spark.plans.registry import get  # noqa: E402
from input_data_pipeline_spark.session import DEFAULT_SF_DIR  # noqa: E402
from input_data_pipeline_spark.tables import TABLE_NAMES  # noqa: E402
from run import SCALE  # noqa: E402
from workloads import WORKLOADS, QueryWorkload  # noqa: E402


def digests(sf_dir: str, names: list[str], documents_filter: str = "") -> dict[str, str]:
    con = duckdb.connect()
    for t in TABLE_NAMES:
        where = documents_filter if t == "documents" else ""
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet' {where}")
    out = {}
    for name in names:
        res = con.execute(get(name).oracle)
        cols = [d[0] for d in res.description]
        out[name] = table_digest(cols, [tuple(r) for r in res.fetchall()])
        print(f"{name}: {out[name]}", file=sys.stderr)
    return out


def main() -> None:
    sf_dir = os.path.join(os.path.dirname(DEFAULT_SF_DIR), SCALE)
    expected = {}
    for name, wl in WORKLOADS.items():
        if isinstance(wl, QueryWorkload):
            where = f"WHERE doc_id < {wl.doc_limit}" if wl.doc_limit is not None else ""
            expected[name] = digests(sf_dir, wl.items, where)
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
