"""Output checks, computed independently of Spark in DuckDB.

- ``daily_problems``: the three derived datasets the daily pipeline wrote
  (CSV) against the reference cleaning rules run over the generated pings.
  Each side is reduced to a row count and exact checksums: a hash sum of
  the grouping keys, integer sums of ``tempo`` and of ``distancia`` in
  centimetres, and float sums (relative tolerance) of the averaged
  columns.
- ``query_problems``: one registry query's rows against its DuckDB oracle
  SQL over the same generated parquet, compared cell by cell after
  sorting.
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd
import pyarrow as pa

# The reference rules of etl-olho-vivo-velocidades-medias.py:89-167 (the
# cleaning chain of operators/speed.py), written from the reference, not
# from the engine: lag per vehicle in ping order, drop first pings, gaps
# > 600 s and non-positive gaps, distance = haversine rounded to 2 dp,
# speed = distance / gap, drop speeds > 33 m/s.  Ties on equal timestamps
# order by (codigo_linha, py, px) as the daily pipeline does.
_CLEANED = """
WITH lagged AS (
  SELECT *,
    lag(px) OVER w AS px_anterior,
    lag(py) OVER w AS py_anterior,
    lag("timestamp") OVER w AS timestamp_anterior
  FROM pings
  WINDOW w AS (PARTITION BY prefixo_veiculo ORDER BY "timestamp" ASC NULLS FIRST,
               codigo_linha ASC NULLS FIRST, py ASC NULLS FIRST,
               px ASC NULLS FIRST)
), paired AS (
  SELECT *, "timestamp" - timestamp_anterior AS tempo
  FROM lagged WHERE px_anterior IS NOT NULL
), dist AS (
  SELECT *, round(6371000.0 * 2 * atan2(sqrt(h), sqrt(1 - h)), 2) AS distancia
  FROM (
    SELECT *,
      sin((radians(py) - radians(py_anterior)) / 2)
        * sin((radians(py) - radians(py_anterior)) / 2)
      + cos(radians(py_anterior)) * cos(radians(py))
        * sin((radians(px) - radians(px_anterior)) / 2)
        * sin((radians(px) - radians(px_anterior)) / 2) AS h
    FROM paired WHERE tempo <= 600 AND tempo > 0
  )
), speeds AS (
  SELECT *,
    CAST(DATE '1970-01-01' + CAST(("timestamp" // 1800 * 1800) // 86400 AS INT)
         AS VARCHAR) AS data,
    strftime(make_timestamp(("timestamp" // 1800 * 1800) * 1000000), '%H:%M')
      || '-' ||
    strftime(make_timestamp(("timestamp" // 1800 * 1800 + 1800) * 1000000),
             '%H:%M') AS intervalo,
    distancia / tempo AS velocidade_media
  FROM dist WHERE distancia / tempo <= 33
)
"""

_KEYS = ("data, intervalo, letreiro, codigo_linha, sentido_linha, "
         "origem_linha, destino_linha, prefixo_veiculo")

_REFERENCE = {
    "lentidao": "SELECT * FROM cleaned WHERE velocidade_media < 1.4",
    "velocidades_agregadas": f"""
        SELECT {_KEYS}, avg(px) AS px, avg(py) AS py,
               sum(distancia) / sum(tempo) AS velocidade_media,
               sum(tempo) AS tempo, sum(distancia) AS distancia
        FROM cleaned GROUP BY {_KEYS}, acessibilidade""",
    "acessiveis": f"""
        SELECT {_KEYS}, avg(px) AS px, avg(py) AS py, acessibilidade
        FROM cleaned GROUP BY {_KEYS}, acessibilidade""",
}

_CSV_TYPES = {
    "data": "VARCHAR", "intervalo": "VARCHAR", "letreiro": "VARCHAR",
    "codigo_linha": "BIGINT", "sentido_linha": "INTEGER",
    "origem_linha": "VARCHAR", "destino_linha": "VARCHAR",
    "prefixo_veiculo": "BIGINT", "px": "DOUBLE", "py": "DOUBLE",
    "velocidade_media": "DOUBLE", "tempo": "BIGINT", "distancia": "DOUBLE",
    "acessibilidade": "BOOLEAN",
}

_COLUMNS = {
    "lentidao": ("data", "intervalo", "letreiro", "codigo_linha",
                 "sentido_linha", "origem_linha", "destino_linha",
                 "prefixo_veiculo", "px", "py", "velocidade_media", "tempo",
                 "distancia"),
    "acessiveis": ("data", "intervalo", "letreiro", "codigo_linha",
                   "sentido_linha", "origem_linha", "destino_linha",
                   "prefixo_veiculo", "px", "py", "acessibilidade"),
}
_COLUMNS["velocidades_agregadas"] = _COLUMNS["lentidao"]

FLOAT_RTOL = 1e-9


def _checksum(con: duckdb.DuckDBPyConnection, rel: str, name: str) -> dict:
    cols = _COLUMNS[name]
    keys = [c for c in cols if c not in
            ("px", "py", "velocidade_media", "tempo", "distancia")]
    exact = [
        "count(*) AS n",
        f"sum(hash({', '.join(keys)})) AS key_hash",
    ]
    approx = ["sum(px) AS px", "sum(py) AS py"]
    if "tempo" in cols:
        exact += ["sum(tempo) AS tempo",
                  "sum(CAST(round(distancia * 100) AS BIGINT)) AS distancia_cm"]
        approx.append("sum(velocidade_media) AS velocidade_media")
    row = con.execute(
        f"SELECT {', '.join(exact + approx)} FROM ({rel})"
    ).fetchone()
    names = [e.rsplit(" AS ", 1)[1] for e in exact + approx]
    return {"exact": dict(zip(names[:len(exact)], row[:len(exact)])),
            "approx": dict(zip(names[len(exact):], row[len(exact):]))}


def daily_reference(pings: pa.Table) -> dict[str, dict]:
    """Checksums of the three datasets recomputed from the raw pings."""
    con = duckdb.connect()
    try:
        con.register("pings", pings)
        con.execute(f"CREATE TEMP TABLE cleaned AS {_CLEANED} SELECT * FROM speeds")
        return {name: _checksum(con, sql, name)
                for name, sql in _REFERENCE.items()}
    finally:
        con.close()


def daily_output(out_dir: str) -> dict[str, dict]:
    """Checksums of the CSV datasets a daily run wrote under ``out_dir``."""
    con = duckdb.connect()
    try:
        out = {}
        for name, cols in _COLUMNS.items():
            types = ", ".join(f"'{c}': '{_CSV_TYPES[c]}'" for c in cols)
            rel = (f"SELECT * FROM read_csv('{out_dir}/{name}/*.csv', "
                   f"header = true, columns = {{{types}}})")
            out[name] = _checksum(con, rel, name)
        return out
    finally:
        con.close()


def daily_problems(expected: dict, got: dict) -> list[str]:
    problems = []
    for name, exp in expected.items():
        g = got.get(name)
        if g is None:
            problems.append(f"{name}: missing")
            continue
        for k, v in exp["exact"].items():
            if g["exact"][k] != v:
                problems.append(f"{name}.{k}: got {g['exact'][k]} want {v}")
        for k, v in exp["approx"].items():
            if not math.isclose(g["approx"][k] or 0.0, v or 0.0,
                                rel_tol=FLOAT_RTOL, abs_tol=1e-9):
                problems.append(f"{name}.{k}: got {g['approx'][k]} want {v}")
    return problems


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def query_problems(spark_rows: pd.DataFrame, oracle_sql: str,
                   sf_dir: str) -> list[str]:
    """Compare a query's rows with its oracle SQL run on DuckDB."""
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/events.parquet')")
        duck = con.execute(oracle_sql).df()
    finally:
        con.close()
    sp, du = _canon(spark_rows), _canon(duck)
    if list(sp.columns) != list(du.columns):
        return [f"columns: {list(sp.columns)} vs oracle {list(du.columns)}"]
    if len(sp) != len(du):
        return [f"rows: {len(sp)} vs oracle {len(du)}"]
    problems = []
    for col in sp.columns:
        a, b = sp[col], du[col]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            aa, bb = a.astype(float).to_numpy(), b.astype(float).to_numpy()
            same = (aa == bb) | (pd.isna(aa) & pd.isna(bb))
        else:
            same = [(x == y) or (pd.isna(x) and pd.isna(y))
                    for x, y in zip(a.tolist(), b.tolist())]
        bad = len(same) - int(sum(same))
        if bad:
            problems.append(f"{col}: {bad} cells differ from the oracle")
    return problems
