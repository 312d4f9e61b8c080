"""Independent DuckDB answers for aq_pipeline.

``marts_mismatches`` replays the pipeline's contract over the generated
NDJSON (drop invalid datetimes, map ``PM2.5`` to ``pm25``, dedup on
(location, ts, parameter) keeping the earliest (``extracted_at``,
``value``), pivot mean, static city map, defaults) and compares it with
the marts parquet the engine wrote. ``dashboards`` pairs each dashboard's
Spark SQL with the DuckDB SQL that answers it from the written parquet.
"""

from __future__ import annotations

import math

import duckdb

POLLUTANTS = ("pm25", "pm10", "no2", "so2", "o3", "co", "bc")

_RAW_COLUMNS = (
    "{sensor_id: 'BIGINT', datetime: 'VARCHAR', value: 'DOUBLE', "
    "parameter: 'VARCHAR', unit: 'VARCHAR', extracted_at: 'VARCHAR', "
    "location_id: 'BIGINT', location_name: 'VARCHAR', city: 'VARCHAR', "
    "timezone: 'VARCHAR', country: 'VARCHAR', latitude: 'DOUBLE', "
    "longitude: 'DOUBLE'}"
)


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads TO 2")
    return con


def marts_view(con, marts_dir: str, name: str = "marts") -> None:
    con.execute(
        f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet("
        f"'{marts_dir}/**/*.parquet', hive_partitioning = true, "
        "hive_types_autocast = false)"
    )


def _replay_sql(raw_files: list[str], city_map: dict[int, str]) -> str:
    files = ", ".join(f"'{f}'" for f in raw_files)
    cases = " ".join(f"WHEN {k} THEN '{v}'" for k, v in sorted(city_map.items()))
    pivots = ", ".join(
        f"avg(value) FILTER (WHERE param = '{p}') AS {p}" for p in POLLUTANTS
    )
    return f"""
WITH raw AS (
  SELECT * FROM read_json([{files}], format = 'newline_delimited',
                          columns = {_RAW_COLUMNS})
), ok AS (
  SELECT *, TRY_CAST(datetime AS TIMESTAMPTZ) AS ts,
         lower(replace(parameter, '.', '')) AS param
  FROM raw
), parsed AS (SELECT * FROM ok WHERE ts IS NOT NULL),
dedup AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY location_id, ts, param
                                 ORDER BY extracted_at, value) AS rn
    FROM parsed) WHERE rn = 1
), wide AS (
  SELECT location_id, ts, {pivots} FROM dedup GROUP BY location_id, ts
), dim AS (
  SELECT location_id, any_value(city) AS city, any_value(country) AS country,
         any_value(latitude) AS latitude, any_value(longitude) AS longitude
  FROM parsed GROUP BY location_id
)
SELECT CAST(w.location_id AS VARCHAR) AS location_id, epoch(w.ts) AS t,
       {", ".join("w." + p for p in POLLUTANTS)},
       COALESCE(CASE w.location_id {cases} END, d.city, 'Unknown') AS city_name,
       COALESCE(d.country, 'VN') AS country_code,
       COALESCE(d.latitude, 0.0) AS latitude,
       COALESCE(d.longitude, 0.0) AS longitude,
       CAST(year(w.ts) AS VARCHAR) AS year,
       lpad(CAST(month(w.ts) AS VARCHAR), 2, '0') AS month,
       lpad(CAST(day(w.ts) AS VARCHAR), 2, '0') AS day
FROM wide w LEFT JOIN dim d USING (location_id)
"""


def _written_sql() -> str:
    return f"""
SELECT location_id, epoch(datetime) AS t, {", ".join(POLLUTANTS)},
       city_name, country_code, latitude, longitude,
       CAST(year AS VARCHAR) AS year, month, day
FROM marts
"""


def marts_mismatches(
    con, raw_files: list[str], marts_dir: str, city_map: dict[int, str]
) -> tuple[int, int]:
    """(rows in the replay, rows that differ in either direction)."""
    marts_view(con, marts_dir)
    replay = _replay_sql(raw_files, city_map)
    written = _written_sql()
    # Floats are rounded to 9 digits before the multiset difference: the
    # pivot mean of one deduped value is exact, but the two engines may
    # print the last bit of a mean differently.
    cols = ["location_id", "t", *POLLUTANTS, "city_name", "country_code",
            "latitude", "longitude", "year", "month", "day"]
    rounded = ", ".join(
        f"round({c}, 9) AS {c}" if c in POLLUTANTS or c in ("t", "latitude", "longitude")
        else c
        for c in cols
    )
    n = con.execute(f"SELECT count(*) FROM ({replay})").fetchone()[0]
    diff = con.execute(
        f"""
        WITH r AS (SELECT {rounded} FROM ({replay})),
             w AS (SELECT {rounded} FROM ({written}))
        SELECT (SELECT count(*) FROM (SELECT * FROM r EXCEPT ALL SELECT * FROM w))
             + (SELECT count(*) FROM (SELECT * FROM w EXCEPT ALL SELECT * FROM r))
        """
    ).fetchone()[0]
    return n, diff


def dashboards(year: int, month: str, day: str) -> list[tuple[str, str, str]]:
    """(name, Spark SQL on the catalog table, DuckDB SQL on the parquet)."""
    means = ", ".join(f"avg({p}) AS {p}" for p in POLLUTANTS)
    part_day = f"year = {year} AND month = '{month}' AND day = '{day}'"
    part_month = f"year = {year} AND month = '{month}'"
    duck_day = f"year = '{year}' AND month = '{month}' AND day = '{day}'"
    duck_month = f"year = '{year}' AND month = '{month}'"
    flagship = (
        "SELECT location_id, city_name, COUNT(*) AS measurement_count FROM marts "
        "GROUP BY location_id, city_name "
        "ORDER BY measurement_count DESC, location_id LIMIT 20"
    )
    latest = (
        "SELECT location_id, {t} AS t, pm25, pm10 FROM (SELECT *, row_number() "
        "OVER (PARTITION BY location_id ORDER BY datetime DESC) AS rn FROM marts) "
        "WHERE rn = 1"
    )
    return [
        ("flagship_count", flagship, flagship),
        (
            "daily_means",
            f"SELECT location_id, {means} FROM marts WHERE {part_day} GROUP BY location_id",
            f"SELECT location_id, {means} FROM marts WHERE {duck_day} GROUP BY location_id",
        ),
        (
            "monthly_means",
            f"SELECT CAST(day AS INT) AS d, {means} FROM marts WHERE {part_month} GROUP BY day",
            f"SELECT CAST(day AS INT) AS d, {means} FROM marts WHERE {duck_month} GROUP BY day",
        ),
        (
            "latest_reading",
            latest.format(t="unix_seconds(datetime)"),
            latest.format(t="CAST(epoch(datetime) AS BIGINT)"),
        ),
        ("row_count", "SELECT COUNT(*) AS n FROM marts", "SELECT COUNT(*) AS n FROM marts"),
    ]


def _canon(rows) -> list[tuple]:
    def cell(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return None
        if hasattr(v, "item"):  # numpy scalar
            v = v.item()
        if isinstance(v, float):
            return round(v, 9)
        return v

    return sorted((tuple(cell(v) for v in r) for r in rows), key=repr)


def same_rows(pdf, duck_rows) -> bool:
    """A pandas result from Spark equals DuckDB's rows, order-insensitive,
    floats to 9 digits."""
    spark_rows = [tuple(r) for r in pdf.itertuples(index=False, name=None)]
    return _canon(spark_rows) == _canon(duck_rows)
