"""DuckDB reference for the daily batch: the three derived CSVs recomputed
from the generated raw zone, and a row-by-row comparison of the engine's
CSV output against them.

The SQL follows the registry's ``velocidades_agregadas`` oracle
(flatten -> 30-min labels -> lag per vehicle -> gap/tempo/speed filters
-> 9-key rollup), fed from the raw JSON instead of the ``events`` table,
with the same ``(timestamp, codigo_linha, py, px)`` lag tiebreak as
``plans/daily.py``.  Rows match when their keys are equal and their
doubles agree within ``TOLERANCE``: the rollup's means and sums are
summed in a different order by each engine, and rounding them instead
would split exact ties (a mean of 6-dp coordinates often ends in 5)
differently on each side.  The join is an equi-join on every other
column, so it stays a hash join at any size.
"""

from __future__ import annotations

import duckdb

_POSITION = "STRUCT(p BIGINT, a BOOLEAN, ta VARCHAR, py DOUBLE, px DOUBLE)"
_LINE = (
    "STRUCT(c VARCHAR, cl BIGINT, sl INTEGER, lt0 VARCHAR, lt1 VARCHAR, "
    f"qv INTEGER, vs {_POSITION}[])"
)

_KEYS = [
    ("data", "VARCHAR"), ("intervalo", "VARCHAR"), ("letreiro", "VARCHAR"),
    ("codigo_linha", "BIGINT"), ("sentido_linha", "INTEGER"),
    ("origem_linha", "VARCHAR"), ("destino_linha", "VARCHAR"),
    ("prefixo_veiculo", "BIGINT"), ("px", "DOUBLE"), ("py", "DOUBLE"),
]
_SPEED = [
    ("velocidade_media", "DOUBLE"), ("tempo", "BIGINT"), ("distancia", "DOUBLE"),
]
#: dataset -> (column, type) in the engine's CSV column order
DATASETS = {
    "lentidao": _KEYS + _SPEED,
    "velocidades_agregadas": _KEYS + _SPEED,
    "acessiveis": _KEYS + [("acessibilidade", "BOOLEAN")],
}
#: absolute tolerance per computed double column
TOLERANCE = {"px": 1e-9, "py": 1e-9, "velocidade_media": 1e-9, "distancia": 1e-6}
#: ``lentidao`` rows carry a ping's own coordinates, parsed by both engines
#: from the same JSON text: they must be equal
EXACT = {"lentidao": ("px", "py")}

_BUCKET = '(("timestamp" // 1800) * 1800)'


def _hhmm(epoch: str) -> str:
    return (
        f"lpad(CAST((({epoch}) % 86400) // 3600 AS VARCHAR), 2, '0') || ':' || "
        f"lpad(CAST(((({epoch}) % 86400) % 3600) // 60 AS VARCHAR), 2, '0')"
    )


_HALF = (
    "sin((radians(py) - radians(py_anterior)) / 2)"
    " * sin((radians(py) - radians(py_anterior)) / 2)"
    " + cos(radians(py_anterior)) * cos(radians(py))"
    " * sin((radians(px) - radians(px_anterior)) / 2)"
    " * sin((radians(px) - radians(px_anterior)) / 2)"
)
_HAVERSINE = f"6371000.0 * (2 * atan2(sqrt({_HALF}), sqrt(1 - ({_HALF}))))"


def _cleaned_sql(raw_glob: str) -> str:
    return f"""
WITH docs AS (
  SELECT unnest(l) AS line FROM read_json(
    '{raw_glob}', format = 'newline_delimited', ignore_errors = true,
    hive_partitioning = false,
    columns = {{'hr': 'VARCHAR', 'l': '{_LINE}[]'}})
),
vs AS (
  SELECT line.c AS letreiro, line.cl AS codigo_linha,
         line.sl AS sentido_linha, line.lt0 AS destino_linha,
         line.lt1 AS origem_linha, unnest(line.vs) AS v
  FROM docs
),
pos AS (
  SELECT letreiro, codigo_linha, sentido_linha, destino_linha, origem_linha,
         v.p AS prefixo_veiculo, v.a AS acessibilidade,
         CAST(epoch(strptime(v.ta, '%Y-%m-%dT%H:%M:%SZ')) AS BIGINT)
           AS "timestamp",
         v.py AS py, v.px AS px
  FROM vs
),
labeled AS (
  SELECT *,
    {_hhmm(_BUCKET)} || '-' || {_hhmm(_BUCKET + ' + 1800')} AS intervalo,
    CAST(DATE '1970-01-01' + CAST({_BUCKET} // 86400 AS INT) AS VARCHAR) AS data
  FROM pos
),
lagged AS (
  SELECT *,
    lag(px) OVER w AS px_anterior,
    lag(py) OVER w AS py_anterior,
    lag("timestamp") OVER w AS timestamp_anterior
  FROM labeled
  WINDOW w AS (PARTITION BY prefixo_veiculo
               ORDER BY "timestamp", codigo_linha, py, px)
),
paired AS (
  SELECT *, "timestamp" - timestamp_anterior AS tempo
  FROM lagged WHERE px_anterior IS NOT NULL
),
dist AS (
  SELECT *, round({_HAVERSINE}, 2) AS distancia
  FROM paired WHERE tempo <= 600 AND tempo > 0
),
cleaned AS (
  SELECT * FROM (SELECT *, distancia / tempo AS velocidade_media FROM dist)
  WHERE velocidade_media <= 33
)
"""


_AGG_KEYS = (
    "data, intervalo, letreiro, codigo_linha, sentido_linha, "
    "destino_linha, origem_linha, prefixo_veiculo, acessibilidade"
)
_KEY_COLS = ", ".join(c for c, _ in _KEYS[:8])
_QUERIES = {
    "lentidao": f"SELECT {', '.join(c for c, _ in DATASETS['lentidao'])} "
    "FROM cleaned WHERE velocidade_media < 1.4",
    "velocidades_agregadas": f"""
SELECT {_KEY_COLS}, avg(px) AS px, avg(py) AS py,
       sum(distancia) / sum(tempo) AS velocidade_media,
       sum(tempo) AS tempo, sum(distancia) AS distancia
FROM cleaned GROUP BY {_AGG_KEYS}""",
    "acessiveis": f"""
SELECT {_KEY_COLS}, avg(px) AS px, avg(py) AS py, acessibilidade
FROM cleaned GROUP BY {_AGG_KEYS}""",
}


def _connect():
    con = duckdb.connect()
    con.execute("SET threads = 2")
    return con


def write_reference(raw_dir: str, ref_dir: str) -> dict[str, int]:
    """Write each derived dataset, computed from the raw zone, as
    ``<ref_dir>/<name>.parquet``; return their row counts."""
    con = _connect()
    try:
        cleaned = _cleaned_sql(f"{raw_dir}/**/*.json")
        rows = {}
        for name, sql in _QUERIES.items():
            path = f"{ref_dir}/{name}.parquet"
            con.execute(f"COPY ({cleaned} {sql}) TO '{path}' (FORMAT PARQUET)")
            rows[name] = con.execute(
                f"SELECT count(*) FROM read_parquet('{path}')"
            ).fetchone()[0]
        return rows
    finally:
        con.close()


def compare_outputs(out_dir: str, ref_dir: str) -> dict[str, list[int]]:
    """``[rows, unmatched]`` per CSV dataset ``run_daily`` wrote, where
    ``unmatched`` counts rows of either side with no equal row on the
    other; ``posicoes`` gives the fact parquet's row count."""
    con = _connect()
    try:
        out = {}
        for name, cols in DATASETS.items():
            spec = ", ".join(f"'{c}': '{t}'" for c, t in cols)
            cond = " AND ".join(
                f"abs(o.{c} - r.{c}) <= {TOLERANCE[c]}"
                if c in TOLERANCE and c not in EXACT.get(name, ())
                else f"o.{c} = r.{c}"
                for c, _ in cols
            )
            rows, ref_rows, matched, ref_matched = con.execute(f"""
WITH o AS (SELECT *, row_number() OVER () AS oid FROM read_csv(
             '{out_dir}/{name}/*.csv', header = true, columns = {{{spec}}},
             auto_detect = false)),
     r AS (SELECT *, row_number() OVER () AS rid
           FROM read_parquet('{ref_dir}/{name}.parquet')),
     m AS MATERIALIZED (SELECT o.oid, r.rid FROM o JOIN r ON {cond})
SELECT (SELECT count(*) FROM o), (SELECT count(*) FROM r),
       (SELECT count(DISTINCT oid) FROM m), (SELECT count(DISTINCT rid) FROM m)
""").fetchone()
            out[name] = [int(rows), int(rows - matched + ref_rows - ref_matched)]
        out["posicoes"] = [
            con.execute(
                f"SELECT count(*) FROM read_parquet('{out_dir}/posicoes/**/*.parquet')"
            ).fetchone()[0],
            0,
        ]
        return out
    finally:
        con.close()
