"""Output checks, computed independently of Spark with DuckDB.

- Ingestion: the lake must hold, per table, the latest source row per
  id over the generated files (plus the CDC batch where applied), with
  the engine's documented normalization: ``created_at`` re-formatted
  with microseconds, boolean spellings mapped to ``true``/``false``,
  and ``{t}_year``/``{t}_month`` partitions derived from
  ``created_at``.
- Queries: declared queries must match their DuckDB ``oracle_sql()``
  twin under ``tools/check_correctness.py``'s normalization.
"""

from __future__ import annotations

import os

import duckdb

from data_ingestor_gluejob_script_spark.registry import CATALOG
from tools.check_correctness import TABLES, to_multiset

# The lake's boolean spellings (gluejob.py:16-28), restated here so the
# expected state does not depend on the code under test.
BOOLEAN_CANON = {"False": "false", "True": "true", "false": "false",
                 "true": "true", "f": "false", "t": "true"}


def _csv(path: str, sep: str) -> str:
    return (f"read_csv('{path}', delim='{sep}', quote='\"', escape='\"', "
            "header=true, all_varchar=true)")


def _expected_sql(table: str, day_files: list[str], cdc_file: str | None) -> str:
    spec = CATALOG[table]
    cols = ", ".join(spec.columns)
    union = " UNION ALL ".join(
        f"SELECT {cols}, {i} AS _day FROM {_csv(p, spec.csv_sep)}"
        for i, p in enumerate(day_files)
    )
    latest = (f"SELECT {cols} FROM ({union}) "
              f"QUALIFY row_number() OVER (PARTITION BY {spec.id_col} ORDER BY _day DESC) = 1")
    if cdc_file:
        cdc = _csv(cdc_file, spec.csv_sep)
        latest = (f"SELECT {cols} FROM ({latest}) s WHERE {spec.id_col} NOT IN "
                  f"(SELECT {spec.id_col} FROM {cdc}) "
                  f"UNION ALL SELECT {cols} FROM {cdc} WHERE upper(_op) IN ('I', 'U')")
    canon = " ".join(f"WHEN '{k}' THEN '{v}'" for k, v in BOOLEAN_CANON.items())
    out = []
    for c in spec.columns:
        if c == spec.ts_col:
            out.append(f"strftime(CAST({c} AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f') AS {c}")
        elif c in spec.boolean_cols:
            out.append(f"CASE {c} {canon} ELSE {c} END AS {c}")
        else:
            out.append(c)
    ts = f"CAST({spec.ts_col} AS TIMESTAMP)"
    return (f"SELECT {', '.join(out)}, year({ts}) AS y, month({ts}) AS m "
            f"FROM ({latest})")


def lake_mismatches(lake_root: str, tables: list[str], day_files: dict[str, list[str]],
                    cdc: tuple[str, str] | None = None) -> dict[str, str]:
    """Tables whose lake differs from the expected state, with the reason.

    ``day_files[t]`` lists the generated full-state CSVs oldest first;
    ``cdc`` is ``(table, path)`` of an applied CDC batch."""
    con = duckdb.connect()
    bad = {}
    for t in tables:
        spec = CATALOG[t]
        cols = ", ".join(spec.columns)
        cdc_file = cdc[1] if cdc and cdc[0] == t else None
        expected = _expected_sql(t, day_files[t], cdc_file)
        root = f"{lake_root}/raw/locaweb/{t}"
        lake = (f"SELECT {cols}, CAST({t}_year AS BIGINT) AS y, CAST({t}_month AS BIGINT) AS m "
                f"FROM read_parquet('{root}/**/*.parquet', hive_partitioning=true)")
        con.execute(f"CREATE OR REPLACE TEMP TABLE e AS {expected}")
        con.execute(f"CREATE OR REPLACE TEMP TABLE l AS {lake}")
        n_exp, n_lake, missing, extra = con.execute(
            "SELECT (SELECT count(*) FROM e), (SELECT count(*) FROM l), "
            "(SELECT count(*) FROM (FROM e EXCEPT ALL FROM l)), "
            "(SELECT count(*) FROM (FROM l EXCEPT ALL FROM e))").fetchone()
        if n_exp != n_lake or missing or extra:
            bad[t] = f"rows {n_lake} vs expected {n_exp}, {missing} missing, {extra} unexpected"
    con.close()
    return bad


def oracle_mismatches(spark, sf_dir: str, names: list[str], queries: dict,
                      oracles: dict) -> dict[str, str]:
    """Declared queries whose Spark result differs from their DuckDB twin."""
    con = duckdb.connect()
    for t in TABLES:
        if os.path.exists(f"{sf_dir}/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    bad = {}
    for name in names:
        sdf = queries[name](spark, sf_dir)
        s_cols = list(sdf.columns)
        s_rows = [tuple(r) for r in sdf.collect()]
        o = con.execute(oracles[name])
        o_cols = [d[0] for d in o.description]
        o_rows = o.fetchall()
        if sorted(s_cols) != sorted(o_cols):
            bad[name] = f"columns {sorted(s_cols)} vs {sorted(o_cols)}"
        elif to_multiset(s_cols, s_rows) != to_multiset(o_cols, o_rows):
            bad[name] = f"values differ ({len(s_rows)} vs {len(o_rows)} rows)"
    con.close()
    return bad


def frame_digest(df) -> tuple[int, int]:
    """Row count and an order-insensitive hash of a DataFrame's rows.

    Top-level floating-point columns are rounded to 6 decimals first, so
    a different summation order across runs does not change the hash."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    cols = [
        F.round(F.col(f.name), 6) if isinstance(f.dataType, (T.DoubleType, T.FloatType))
        else F.col(f.name)
        for f in sorted(df.schema.fields, key=lambda f: f.name)
    ]
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"] or 0)
