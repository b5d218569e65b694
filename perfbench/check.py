"""Output checks, run after the timed window.

Registry queries are compared with their ``spec.oracle`` SQL in
DuckDB using the canonicalisation of ``tools/check_oracle.py``; the
ctgov_etl CSV is compared with a DuckDB replay of the same seeded
corpus (the ``ctgov_pipeline_e2e`` oracle over N studies).
"""

from __future__ import annotations

import csv
import importlib.util
import json
import os

import duckdb


def load_check_oracle(root: str):
    """Import ``tools/check_oracle.py`` (not a package) by path."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "tools", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def duck_with_views(data_dir: str, names) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in names:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def oracle_problems(co, con, sql: str, cols, types, canon) -> list[str]:
    """Differences between a Spark result (columns, type families,
    canonical rows) and the oracle, as ``check_oracle.compare`` finds them."""
    rel = con.sql(sql)
    d_cols = list(rel.columns)
    problems = co.portable_type_problems(d_cols, rel.types)
    if sorted(cols) != sorted(d_cols):
        return problems + [f"columns differ: spark={sorted(cols)} duck={sorted(d_cols)}"]
    d_types = dict(zip(d_cols, (co.type_family(str(t)) for t in rel.types)))
    problems += [
        f"type[{c}]: spark={t} duck={d_types[c]}" for c, t in zip(cols, types) if t != d_types[c]
    ]
    d_canon = co.canon_rows(d_cols, rel.fetchall())
    if len(canon) != len(d_canon):
        problems.append(f"rowcount: spark={len(canon)} duck={len(d_canon)}")
    elif canon != d_canon:
        i = next(i for i, (a, b) in enumerate(zip(canon, d_canon)) if a != b)
        problems.append(f"values differ at sorted-row {i}: spark={canon[i]} duck={d_canon[i]}")
    return problems


def ctgov_expected(corpus: list[dict]) -> tuple[list[str], list[tuple[str, ...]]]:
    """Header and sorted rows the reference-shaped CSV must hold."""
    from ctgov_ai_etl_spark.operators.llm import PREGNANCY_RULES
    from ctgov_ai_etl_spark.queries.parity import _flatten_oracle_sql
    from ctgov_ai_etl_spark.schemas import CSV_SINK_COLUMNS

    case = PREGNANCY_RULES.as_sql_case("concat('Criteria: ', criteria)")
    inner = _flatten_oracle_sql([json.dumps(s, sort_keys=True) for s in corpus])
    rel = duckdb.sql(f"SELECT *, {case} AS ai_determined_value FROM ({inner})")
    header = list(CSV_SINK_COLUMNS) + ["ai_determined_value"]
    have = list(rel.columns)
    rows = [
        tuple(r[have.index(c)] if c in have else "" for c in header) for r in rel.fetchall()
    ]
    return header, sorted(rows)


def read_csv(path: str) -> tuple[list[str], list[tuple[str, ...]]]:
    with open(path, newline="", encoding="utf-8") as fh:
        reader = csv.reader(fh)
        header = next(reader)
        return header, sorted(tuple(r) for r in reader)
