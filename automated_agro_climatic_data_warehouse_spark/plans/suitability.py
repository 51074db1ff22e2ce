"""Crop-suitability scoring — the reference's derived analytical fact
`fact_crop_suitability` (db/init/01-schema.sql:203-221: temp_match /
water_adequacy / soil_ph_match / overall 0-1 scores, limiting_factor,
recommendation_text), computed Spark-side.

Locations get deterministic synthetic climate attributes derived from
customer keys; the crop-requirements dim is the reference's default crop
list (etl/orchestrator.py:233) with published agronomic ranges. Scores are
pure column arithmetic over int-derived doubles → bit-identical across
engines, emitted unrounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..session import local_frame, materialize
from ..sources import load_table
from .registry import query

# crop, opt_temp_min, opt_temp_max, water_min, water_max, ph_min, ph_max
CROPS = [
    ("wheat", 20.0, 25.0, 5.0, 8.0, 6.0, 7.5),
    ("maize", 21.0, 30.0, 6.0, 9.0, 5.5, 7.0),
    ("rice", 25.0, 35.0, 8.0, 12.0, 5.0, 6.5),
    ("soybean", 20.0, 30.0, 5.0, 7.0, 6.0, 7.0),
    ("potato", 15.0, 20.0, 4.0, 6.0, 4.8, 6.5),
]

CROPS_SQL = (
    "(VALUES "
    + ", ".join(
        f"('{c}', {a}, {b}, {w1}, {w2}, {p1}, {p2})"
        for c, a, b, w1, w2, p1, p2 in CROPS
    )
    + ") AS c(crop_name, t_lo, t_hi, w_lo, w_hi, p_lo, p_hi)"
)

_CLIMATE_SQL = """
      SELECT c_custkey AS location_key,
             CAST(-5 + c_custkey % 40 AS DOUBLE) AS temp_c,
             CAST(1 + c_custkey % 15 AS DOUBLE) AS water_mm_day,
             4.0 + CAST(c_custkey % 50 AS DOUBLE) / 10.0 AS ph
      FROM read_parquet('{sf}/customer.parquet')
"""

_DIST = "greatest({lo} - {v}, {v} - {hi}, 0.0)"


def _score_sql(v: str, lo: str, hi: str, tol: float) -> str:
    d = _DIST.format(v=v, lo=lo, hi=hi)
    return f"greatest(0.0, 1.0 - {d} / {tol})"


_SUIT_ORACLE = f"""
    WITH climate AS ({_CLIMATE_SQL}),
    scored AS (
      SELECT l.location_key, c.crop_name,
             {_score_sql('l.temp_c', 'c.t_lo', 'c.t_hi', 10.0)} AS temp_match,
             {_score_sql('l.water_mm_day', 'c.w_lo', 'c.w_hi', 5.0)} AS water_adequacy,
             {_score_sql('l.ph', 'c.p_lo', 'c.p_hi', 2.0)} AS soil_ph_match
      FROM climate l CROSS JOIN {CROPS_SQL}
    ), overall AS (
      SELECT *,
             0.4 * temp_match + 0.3 * water_adequacy + 0.3 * soil_ph_match
               AS overall_suitability,
             CASE WHEN temp_match <= water_adequacy AND temp_match <= soil_ph_match
                  THEN 'temperature'
                  WHEN water_adequacy <= soil_ph_match THEN 'water'
                  ELSE 'soil_ph' END AS limiting_factor
      FROM scored
    )
    SELECT location_key, crop_name, temp_match, water_adequacy, soil_ph_match,
           overall_suitability, limiting_factor,
           CASE WHEN overall_suitability >= 0.8
                  THEN 'Highly suitable for ' || crop_name
                WHEN overall_suitability >= 0.5
                  THEN 'Moderately suitable for ' || crop_name
                     || '; improve ' || limiting_factor
                ELSE 'Not recommended for ' || crop_name
                     || '; limited by ' || limiting_factor END
             AS recommendation_text
    FROM overall
"""


def _py_score(v, lo, hi, tol):
    dist = F.greatest(lo - v, v - hi, F.lit(0.0))
    return F.greatest(F.lit(0.0), F.lit(1.0) - dist / tol)


@query("crop_suitability", oracle=_SUIT_ORACLE,
       tags=("A7", "F5", "J2", "J6", "fact_crop_suitability"))
def crop_suitability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fact_crop_suitability derivation: per location×crop, distance-based
    0-1 match scores, weighted overall, argmin limiting factor
    (deterministic tie-break temp→water→ph), and recommendation text.
    Broadcast cross join against the 5-row crop dim — at 100 TB of
    locations this remains a map-only stage."""
    climate = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("location_key"),
        (-5 + F.col("c_custkey") % 40).cast("double").alias("temp_c"),
        (1 + F.col("c_custkey") % 15).cast("double").alias("water_mm_day"),
        (4.0 + (F.col("c_custkey") % 50).cast("double") / 10.0).alias("ph"),
    )
    crops = local_frame(
        spark,
        CROPS,
        "crop_name string, t_lo double, t_hi double, w_lo double, w_hi double, "
        "p_lo double, p_hi double",
    )
    scored = climate.crossJoin(F.broadcast(crops)).select(
        "location_key",
        "crop_name",
        _py_score(F.col("temp_c"), F.col("t_lo"), F.col("t_hi"), F.lit(10.0)).alias(
            "temp_match"
        ),
        _py_score(
            F.col("water_mm_day"), F.col("w_lo"), F.col("w_hi"), F.lit(5.0)
        ).alias("water_adequacy"),
        _py_score(F.col("ph"), F.col("p_lo"), F.col("p_hi"), F.lit(2.0)).alias(
            "soil_ph_match"
        ),
    )
    overall = (
        0.4 * F.col("temp_match")
        + 0.3 * F.col("water_adequacy")
        + 0.3 * F.col("soil_ph_match")
    )
    limiting = (
        F.when(
            (F.col("temp_match") <= F.col("water_adequacy"))
            & (F.col("temp_match") <= F.col("soil_ph_match")),
            "temperature",
        )
        .when(F.col("water_adequacy") <= F.col("soil_ph_match"), "water")
        .otherwise("soil_ph")
    )
    out = scored.withColumn("overall_suitability", overall).withColumn(
        "limiting_factor", limiting
    )
    rec = (
        F.when(
            F.col("overall_suitability") >= 0.8,
            F.concat(F.lit("Highly suitable for "), F.col("crop_name")),
        )
        .when(
            F.col("overall_suitability") >= 0.5,
            F.concat(
                F.lit("Moderately suitable for "),
                F.col("crop_name"),
                F.lit("; improve "),
                F.col("limiting_factor"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("Not recommended for "),
                F.col("crop_name"),
                F.lit("; limited by "),
                F.col("limiting_factor"),
            )
        )
    )
    return out.withColumn("recommendation_text", rec)


@query(
    "agro_gdd_accumulation",
    oracle="""
    WITH daily AS (
      SELECT user_id AS station_id, CAST(ts AS DATE) AS day,
             CAST(min(CAST(value AS DECIMAL(28,6))) AS DECIMAL(28,6))
               AS tmin,
             CAST(max(CAST(value AS DECIMAL(28,6))) AS DECIMAL(28,6))
               AS tmax
      FROM read_parquet('{sf}/events.parquet')
      GROUP BY station_id, day
    ), gdd AS (
      SELECT station_id, day,
             greatest(CAST(0 AS DECIMAL(28,6)),
                      CAST((tmin + tmax) / 2 - 10 AS DECIMAL(28,6)))
               AS gdd_day
      FROM daily
    )
    SELECT station_id, day,
           CAST(gdd_day AS DOUBLE) AS gdd_day,
           CAST(CAST(sum(gdd_day) OVER (PARTITION BY station_id
                                        ORDER BY day
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW)
                AS DECIMAL(28,6)) AS DOUBLE) AS gdd_cum
    FROM gdd
    """,
    tags=("agro", "domain", "windows"),
)
def agro_gdd_accumulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growing-degree-day accumulation — THE derived metric of
    agro-climatic warehousing (crop phenology is staged by cumulative
    GDD, the reference's crop temperature ranges exist to gate exactly
    this): per station and day, GDD = max(0, (Tmin+Tmax)/2 − 10°C
    base), then the season's running accumulation. Sensor readings
    stand in on the events table (station=user_id, reading=value). Two
    aggregation grains, both scale-clean: the daily min/max collapses
    the raw stream on (station, day) with map-side partials, and the
    cumulative window runs per station over its CALENDAR-bounded daily
    series — never over raw readings. Temperatures accumulate as exact
    DECIMAL(28,6) end-to-end (the /2 and −10 stay in decimal; only the
    final columns surface as doubles), per the repo's float-parity
    rule, so a replanted season re-accumulates bit-identically."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("user_id").alias("station_id"),
        F.col("ts").cast("date").alias("day"),
    ).agg(
        F.min(F.col("value").cast("decimal(28,6)")).alias("tmin"),
        F.max(F.col("value").cast("decimal(28,6)")).alias("tmax"),
    )
    gdd_day = F.greatest(
        F.lit(0).cast("decimal(28,6)"),
        ((F.col("tmin") + F.col("tmax")) / 2 - 10).cast("decimal(28,6)"),
    )
    gdd = daily.select("station_id", "day", gdd_day.alias("gdd_day"))
    w = (
        W.partitionBy("station_id")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return gdd.select(
        "station_id",
        "day",
        F.col("gdd_day").cast("double").alias("gdd_day"),
        F.sum("gdd_day")
        .over(w)
        .cast("decimal(28,6)")
        .cast("double")
        .alias("gdd_cum"),
    )


@query(
    "agro_frost_runs",
    oracle="""
    WITH daily AS (
      SELECT user_id AS station_id, CAST(ts AS DATE) AS day,
             min(value) AS tmin
      FROM read_parquet('{sf}/events.parquet')
      GROUP BY station_id, day
    ), frost AS (
      SELECT station_id, day FROM daily WHERE tmin < 5
    ), grp AS (
      SELECT station_id, day,
             day - CAST(row_number() OVER (PARTITION BY station_id
                                           ORDER BY day)
                        AS INTEGER) AS anchor
      FROM frost
    )
    SELECT station_id, min(day) AS run_start, max(day) AS run_end,
           CAST(count(*) AS BIGINT) AS n_days
    FROM grp GROUP BY station_id, anchor
    HAVING count(*) >= 2
    """,
    tags=("agro", "domain", "gaps-islands"),
)
def agro_frost_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-day frost episodes — the agronomic risk event (one cold
    night stresses a crop; consecutive frost nights kill it; the
    reference's min-temperature crop ranges gate against exactly this
    exposure). Gaps-and-islands applied to the domain: per station,
    days whose daily MINIMUM reading drops below 5° form maximal
    consecutive runs via the day − row_number() anchor constant, and
    only runs of ≥2 days surface. Raw readings collapse to the
    (station, day) grain first — map-side partials, calendar-bounded
    output — so the island window never sees the raw stream. The frost
    predicate compares raw doubles (no arithmetic), and dates/counts
    are exact, so runs are engine-identical."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("user_id").alias("station_id"),
        F.col("ts").cast("date").alias("day"),
    ).agg(F.min("value").alias("tmin"))
    frost = daily.filter(F.col("tmin") < 5).select("station_id", "day")
    w = W.partitionBy("station_id").orderBy("day")
    grp = frost.select(
        "station_id",
        "day",
        F.date_sub(F.col("day"), F.row_number().over(w)).alias("anchor"),
    )
    return (
        grp.groupBy("station_id", "anchor")
        .agg(
            F.min("day").alias("run_start"),
            F.max("day").alias("run_end"),
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
        )
        .filter(F.col("n_days") >= 2)
        .select("station_id", "run_start", "run_end", "n_days")
    )


# Rothfusz regression coefficients (NOAA heat index), applied in one
# fixed left-to-right association mirrored exactly in the oracle SQL —
# row-level IEEE arithmetic with identical op order is bit-portable.
_HI_EXPR = (
    "-42.379 + (2.04901523 * t_f) + (10.14333127 * rh) "
    "+ (-0.22475541 * (t_f * rh)) + (-0.00683783 * (t_f * t_f)) "
    "+ (-0.05481717 * (rh * rh)) + (0.00122874 * ((t_f * t_f) * rh)) "
    "+ (0.00085282 * (t_f * (rh * rh))) "
    "+ (-0.00000199 * ((t_f * t_f) * (rh * rh)))"
)


@query(
    "agro_heat_index",
    oracle=f"""
    WITH obs AS (
      SELECT c_custkey AS location_key,
             CAST(60 + c_custkey % 45 AS DOUBLE) AS t_f,
             CAST(20 + c_custkey % 70 AS DOUBLE) AS rh
      FROM read_parquet('{{sf}}/customer.parquet')
    )
    SELECT location_key, t_f, rh,
           CASE WHEN t_f >= 80 THEN {_HI_EXPR}
                ELSE t_f END AS heat_index_f,
           (CASE WHEN t_f >= 80 THEN {_HI_EXPR}
                 ELSE t_f END) >= 103 AS danger
    FROM obs
    """,
    tags=("agro", "domain", "scalar"),
)
def agro_heat_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOAA heat index (Rothfusz regression) — the heat-stress metric
    agro-climatic advisories issue for field labor and livestock,
    computed per location from temperature + relative humidity
    (deterministic synthetic observations keyed like the suitability
    fixture). Pure map-side scalar math that fuses into the scan's
    codegen; the 9-term polynomial is written with ONE fixed
    association order mirrored token-for-token in the oracle, so the
    doubles are bit-identical cross-engine (row-level IEEE with fixed
    op order — the repo's float-parity rule for non-aggregated math).
    Below the 80 °F validity floor the index IS the temperature
    (standard piecewise definition); the danger flag trips at 103 °F."""
    obs = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("location_key"),
        (60 + F.col("c_custkey") % 45).cast("double").alias("t_f"),
        (20 + F.col("c_custkey") % 70).cast("double").alias("rh"),
    )
    hi = F.expr(f"CASE WHEN t_f >= 80 THEN {_HI_EXPR} ELSE t_f END")
    return obs.select(
        "location_key",
        "t_f",
        "rh",
        hi.alias("heat_index_f"),
        (hi >= 103).alias("danger"),
    )


# -- shared agro derivation pieces (agro_et0_hargreaves and
# agro_season_scorecard must stay token-identical on the float chain:
# bit-reproducibility depends on ONE association order, so the daily
# extremes collapse, the Ra lookup, and the ET0 product live here once)

_DAILY_EXTREMES_SQL = """
      SELECT user_id AS station_id, CAST(ts AS DATE) AS day,
             CAST(min(CAST(value AS DECIMAL(28,6))) AS DECIMAL(28,6))
               AS tmin,
             CAST(max(CAST(value AS DECIMAL(28,6))) AS DECIMAL(28,6))
               AS tmax
      FROM read_parquet('{sf}/events.parquet')
      GROUP BY station_id, day
"""


def _daily_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.col("user_id").alias("station_id"),
        F.col("ts").cast("date").alias("day"),
    ).agg(
        F.min(F.col("value").cast("decimal(28,6)")).alias("tmin"),
        F.max(F.col("value").cast("decimal(28,6)")).alias("tmax"),
    )


_RA_CASE_SQL = """CASE month(day)
      WHEN 1 THEN 25.8 WHEN 2 THEN 29.4 WHEN 3 THEN 33.4
      WHEN 4 THEN 36.3 WHEN 5 THEN 37.4 WHEN 6 THEN 37.5
      WHEN 7 THEN 37.4 WHEN 8 THEN 36.5 WHEN 9 THEN 34.1
      WHEN 10 THEN 30.2 WHEN 11 THEN 26.3 ELSE 24.7 END"""


_ET0_SQL = (
    "((0.0023 * CAST(" + _RA_CASE_SQL.replace(chr(10), " ") + " AS DOUBLE))"
    " * (CAST((tmin + tmax) / 2 AS DOUBLE) + 17.8))"
    " * sqrt(CAST(tmax - tmin AS DOUBLE))"
)


def _et0_expr():
    """The Hargreaves product in its ONE pinned association order."""
    ra = F.expr(_RA_CASE_SQL.replace("\n", " ")).cast("double")
    return (
        (F.lit(0.0023) * ra)
        * (((F.col("tmin") + F.col("tmax")) / 2).cast("double") + F.lit(17.8))
        * F.sqrt((F.col("tmax") - F.col("tmin")).cast("double"))
    )


@query(
    "agro_et0_hargreaves",
    oracle=f"""
    WITH daily AS ({_DAILY_EXTREMES_SQL}
    )
    SELECT station_id, day,
           CAST((tmin + tmax) / 2 AS DOUBLE) AS tmean,
           CAST(tmax - tmin AS DOUBLE) AS trange,
           CAST({_RA_CASE_SQL} AS DOUBLE) AS ra,
           {_ET0_SQL} AS et0_mm
    FROM daily
    """,
    tags=("agro", "domain", "hargreaves"),
)
def agro_et0_hargreaves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hargreaves-Samani reference evapotranspiration ET0 =
    0.0023 · Ra · (Tmean + 17.8) · √(Tmax − Tmin) — the irrigation-
    planning metric an agro-climatic warehouse derives when it has
    temperature extremes but no radiation sensors (the reference's
    exact data situation: its sources carry temp ranges only).
    Extraterrestrial radiation Ra uses a fixed monthly lookup
    (mid-latitude FAO-56 table values as literals — the standard
    practice when station latitude is a constant of the deployment).
    Float-parity discipline: daily extremes aggregate as exact
    DECIMAL(28,6) (order-insensitive), tmean/trange surface as exact
    doubles, Ra is a literal, and the ET0 product is written in ONE
    fixed association order token-identical in both engines; √ is
    IEEE-754 correctly rounded everywhere, so the whole chain is
    bit-reproducible — the agro_heat_index rule applied to a second
    domain formula. Same two-grain scale shape as GDD: map-side daily
    collapse, then a narrow per-day projection."""
    daily = _daily_extremes(spark, sf_dir)
    return daily.select(
        "station_id",
        "day",
        ((F.col("tmin") + F.col("tmax")) / 2).cast("double").alias("tmean"),
        (F.col("tmax") - F.col("tmin")).cast("double").alias("trange"),
        F.expr(_RA_CASE_SQL.replace("\n", " "))
        .cast("double")
        .alias("ra"),
        _et0_expr().alias("et0_mm"),
    )


@query(
    "agro_season_scorecard",
    oracle=f"""
    WITH daily AS ({_DAILY_EXTREMES_SQL}
    ), derived AS (
      SELECT station_id, day,
             greatest(CAST(0 AS DECIMAL(28,6)),
                      CAST((tmin + tmax) / 2 - 10 AS DECIMAL(28,6)))
               AS gdd_day,
             CASE WHEN tmin < 5 THEN 1 ELSE 0 END AS frost_day,
             {_ET0_SQL} AS et0_day
      FROM daily
    ), season AS (
      SELECT station_id,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(CAST(sum(gdd_day) AS DECIMAL(28,6)) AS DOUBLE)
               AS gdd_total,
             CAST(sum(frost_day) AS BIGINT) AS frost_days,
             CAST(sum(CAST(round(et0_day * 1048576, 0) AS BIGINT))
                  AS BIGINT) AS et0_q
      FROM derived GROUP BY station_id
    )
    SELECT station_id, n_days, gdd_total, frost_days,
           CAST(et0_q AS DOUBLE) / 1048576 AS et0_total_mm,
           CASE
             WHEN gdd_total >= 300 AND frost_days * 10 <= n_days
               THEN 'suitable'
             WHEN gdd_total >= 150 THEN 'marginal'
             ELSE 'unsuitable'
           END AS season_class
    FROM season
    """,
    tags=("agro", "domain", "composite"),
)
def agro_season_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-station SEASON SCORECARD — the composite readout the agro
    family's individual metrics feed (the reference's suitability
    mapping operates on exactly these axes: accumulated heat units,
    cold-stress exposure, and water demand): total GDD, frost-day
    count, and cumulative Hargreaves ET0, classified against
    documented agronomic thresholds (300 GDD for a short-season crop;
    frost on >10% of days; thresholds are deployment literals). One
    raw-stream collapse to the (station, day) grain feeds all three
    derivations — the whole scorecard costs ONE scan + one
    station-day reduce + one station reduce, all map-side-partial.
    Parity discipline per metric: GDD sums in exact DECIMAL, frost
    days are integer, and ET0 — a float product chain — accumulates
    on a 2^20 integer grid (each day's value rounds once, identically
    on both engines, and integer sums are order-free), so even the
    float-derived total is bit-identical. The class is a CASE over
    exact values with the frost share as an integer cross-multiply
    (frost_days * 10 <= n_days — no division)."""
    daily = _daily_extremes(spark, sf_dir)
    derived = daily.select(
        "station_id",
        F.greatest(
            F.lit(0).cast("decimal(28,6)"),
            ((F.col("tmin") + F.col("tmax")) / 2 - 10).cast(
                "decimal(28,6)"
            ),
        ).alias("gdd_day"),
        F.when(F.col("tmin") < 5, 1).otherwise(0).alias("frost_day"),
        _et0_expr().alias("et0_day"),
    )
    season = derived.groupBy("station_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("gdd_day")
        .cast("decimal(28,6)")
        .cast("double")
        .alias("gdd_total"),
        F.sum("frost_day").cast("bigint").alias("frost_days"),
        F.sum(
            F.round(F.col("et0_day") * 1048576, 0).cast("bigint")
        )
        .cast("bigint")
        .alias("et0_q"),
    )
    return season.select(
        "station_id",
        "n_days",
        "gdd_total",
        "frost_days",
        (F.col("et0_q").cast("double") / 1048576).alias("et0_total_mm"),
        F.when(
            (F.col("gdd_total") >= 300)
            & (F.col("frost_days") * 10 <= F.col("n_days")),
            "suitable",
        )
        .when(F.col("gdd_total") >= 150, "marginal")
        .otherwise("unsuitable")
        .alias("season_class"),
    )


@query(
    "agro_gdd_trend",
    oracle="""
    WITH daily0 AS (
      SELECT user_id AS station_id, CAST(ts AS DATE) AS day,
             CAST(min(CAST(value AS DECIMAL(28,6))) AS DECIMAL(28,6))
               AS tmin,
             CAST(max(CAST(value AS DECIMAL(28,6))) AS DECIMAL(28,6))
               AS tmax
      FROM read_parquet('{sf}/events.parquet')
      GROUP BY station_id, day
    ), daily AS (
      SELECT station_id, day,
             CAST(greatest(CAST(0 AS DECIMAL(28,6)),
                           CAST((tmin + tmax) / 2 - 10 AS DECIMAL(28,6)))
                  * 1000000 AS BIGINT) AS yq
      FROM daily0
    ), idx AS (
      SELECT station_id,
             day - min(day) OVER (PARTITION BY station_id) AS x, yq
      FROM daily
    ), s AS (
      SELECT station_id, CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(yq) AS BIGINT) AS sy,
             CAST(sum(x * yq) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM idx GROUP BY station_id
    )
    SELECT station_id, n_days,
           CAST(n_days * sxy - sx * sy AS BIGINT) AS slope_num,
           CAST(n_days * sxx - sx * sx AS BIGINT) AS slope_den,
           CAST(n_days * sxy - sx * sy AS DOUBLE)
             / (n_days * sxx - sx * sx) AS slope_microgdd_per_day
    FROM s WHERE n_days * sxx - sx * sx > 0
    """,
    tags=("agro", "domain", "regression", "trend"),
)
def agro_gdd_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-station GDD TREND — ordinary-least-squares slope of daily
    growing-degree-days against the day index, i.e. 'is this station's
    season warming or cooling', the question the accumulation query
    (agro_gdd_accumulation) sets up. Linear regression AS AN
    AGGREGATION: GDD quantizes exactly to integer micro-GDD (the
    DECIMAL(28,6)·10⁶ lift is lossless), the day index is an integer
    offset from the station's first day, and the OLS slope reduces to
    five integer sums per station — one pass over the daily frame, no
    iteration, embarrassingly partition-parallel by station. The exact
    numerator/denominator surface as bigints (hash-stable) beside the
    one double division. Magnitude bound: |x|≤days, |yq|≤5·10⁷ →
    n·Σxy ≲ 2.4·10¹⁵, 4000× inside int64 for a full year. Stations
    with a single day (zero-variance x) drop — a slope needs two
    points."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("user_id").alias("station_id"),
        F.col("ts").cast("date").alias("day"),
    ).agg(
        F.min(F.col("value").cast("decimal(28,6)")).alias("tmin"),
        F.max(F.col("value").cast("decimal(28,6)")).alias("tmax"),
    )
    gdd_q = (
        F.greatest(
            F.lit(0).cast("decimal(28,6)"),
            ((F.col("tmin") + F.col("tmax")) / 2 - 10).cast("decimal(28,6)"),
        )
        * 1000000
    ).cast("bigint")
    idx = daily.select(
        "station_id",
        F.datediff(
            "day", F.min("day").over(W.partitionBy("station_id"))
        ).alias("x"),
        gdd_q.alias("yq"),
    )
    s = idx.groupBy("station_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("yq").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("yq")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    num = F.col("n_days") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n_days") * F.col("sxx") - F.col("sx") * F.col("sx")
    return s.filter(den > 0).select(
        "station_id",
        "n_days",
        num.cast("bigint").alias("slope_num"),
        den.cast("bigint").alias("slope_den"),
        (num.cast("double") / den).alias("slope_microgdd_per_day"),
    )


@query(
    "agro_station_correlation",
    oracle="""
    WITH daily AS (
      SELECT user_id AS station_id, CAST(ts AS DATE) AS day,
             CAST(round(sum(CAST(value AS DECIMAL(28,6)))) AS BIGINT) AS y
      FROM read_parquet('{sf}/events.parquet')
      GROUP BY station_id, day
    ), top50 AS (
      SELECT station_id FROM (
        SELECT station_id, count(*) AS nd
        FROM daily GROUP BY station_id
        ORDER BY nd DESC, station_id LIMIT 50
      )
    ), d AS (
      SELECT daily.* FROM daily
      WHERE station_id IN (SELECT station_id FROM top50)
    ), p AS (
      SELECT a.station_id AS sa, b.station_id AS sb,
             a.y AS ya, b.y AS yb
      FROM d a JOIN d b ON b.day = a.day AND a.station_id < b.station_id
    ), s AS (
      SELECT sa, sb, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(ya) AS BIGINT) AS sx, CAST(sum(yb) AS BIGINT) AS sy,
             CAST(sum(ya * yb) AS BIGINT) AS sxy,
             CAST(sum(ya * ya) AS BIGINT) AS sxx,
             CAST(sum(yb * yb) AS BIGINT) AS syy
      FROM p GROUP BY sa, sb
    )
    SELECT sa AS station_a, sb AS station_b, n AS n_days,
           CAST(CAST(n AS DECIMAL(18,0)) * CAST(sxy AS DECIMAL(18,0))
                - CAST(sx AS DECIMAL(18,0)) * CAST(sy AS DECIMAL(18,0))
                AS DOUBLE)
           / (sqrt(CAST(CAST(n AS DECIMAL(18,0)) * CAST(sxx AS DECIMAL(18,0))
                        - CAST(sx AS DECIMAL(18,0)) * CAST(sx AS DECIMAL(18,0))
                        AS DOUBLE))
              * sqrt(CAST(CAST(n AS DECIMAL(18,0)) * CAST(syy AS DECIMAL(18,0))
                          - CAST(sy AS DECIMAL(18,0)) * CAST(sy AS DECIMAL(18,0))
                          AS DOUBLE))) AS pearson_r
    FROM s
    WHERE n >= 20
      AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
    """,
    tags=("agro", "domain", "correlation", "statistics"),
)
def agro_station_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALOG-STATION discovery: pairwise Pearson correlation of daily
    volume series across the 50 highest-coverage stations — 'which
    station's history can backfill mine', the gap-imputation and
    sensor-sanity question of every station network. The deliberate
    scale bound: the pair join is station²-quadratic, NEVER
    corpus-quadratic, so it is gated to a fixed top-K panel
    (deterministic tie-break) exactly like j15_market_basket bounds
    its per-order pairs — K² · days rows regardless of corpus size.
    Daily totals quantize to whole units (exact decimal round), the
    five Pearson sums stay int64, the combination products lift to
    DECIMAL(18,0)² (ev_autocorr_lag1's rail), and zero-variance or
    <20-day-overlap pairs drop before the one double division."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("user_id").alias("station_id"),
        F.col("ts").cast("date").alias("day"),
    ).agg(
        F.round(F.sum(F.col("value").cast("decimal(28,6)")), 0)
        .cast("bigint")
        .alias("y")
    )
    daily = materialize(daily, "agro_station_correlation.daily")
    top50 = (
        daily.groupBy("station_id")
        .agg(F.count(F.lit(1)).alias("nd"))
        .orderBy(F.desc("nd"), F.asc("station_id"))
        .limit(50)
        .select("station_id")
    )
    d = daily.join(F.broadcast(top50), "station_id")
    a = d.select(F.col("station_id").alias("sa"), "day", F.col("y").alias("ya"))
    b = d.select(F.col("station_id").alias("sb"), "day", F.col("y").alias("yb"))
    p = a.join(b, "day").filter(F.col("sa") < F.col("sb"))
    s = p.groupBy("sa", "sb").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("ya").cast("bigint").alias("sx"),
        F.sum("yb").cast("bigint").alias("sy"),
        F.sum(F.col("ya") * F.col("yb")).cast("bigint").alias("sxy"),
        F.sum(F.col("ya") * F.col("ya")).cast("bigint").alias("sxx"),
        F.sum(F.col("yb") * F.col("yb")).cast("bigint").alias("syy"),
    )
    d18 = lambda c: F.col(c).cast("decimal(18,0)")  # noqa: E731
    num = (d18("n") * d18("sxy") - d18("sx") * d18("sy")).cast("double")
    den_a = F.sqrt(
        (d18("n") * d18("sxx") - d18("sx") * d18("sx")).cast("double")
    )
    den_b = F.sqrt(
        (d18("n") * d18("syy") - d18("sy") * d18("sy")).cast("double")
    )
    return (
        s.filter(
            (F.col("n") >= 20)
            & (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") > 0)
            & (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy") > 0)
        )
        .select(
            F.col("sa").alias("station_a"),
            F.col("sb").alias("station_b"),
            F.col("n").alias("n_days"),
            (num / (den_a * den_b)).alias("pearson_r"),
        )
    )


@query(
    "agro_chill_hours",
    oracle="""
    WITH daily AS (
      SELECT user_id AS station_id, CAST(ts AS DATE) AS day,
             CAST(sum(CASE WHEN value < 7.2 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_chill,
             CAST(count(*) AS BIGINT) AS n_read
      FROM read_parquet('{sf}/events.parquet')
      GROUP BY station_id, day
    )
    SELECT station_id, day, n_chill, n_read,
           CAST(n_chill AS DOUBLE) / n_read AS chill_share,
           CAST(sum(n_chill) OVER (PARTITION BY station_id ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS chill_cum
    FROM daily
    """,
    tags=("agro", "domain", "windows"),
)
def agro_chill_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chill-accumulation tracking — the dormancy-break complement to
    agro_gdd_accumulation (fruit/nut phenology needs BOTH heat units
    and winter chill below ~7.2°C; the classic chill-hours model counts
    sub-threshold readings): per station-day the count and share of
    sub-7.2° readings, plus the station's running chill total. Sensor
    readings stand in on the events table exactly as in the GDD query
    (station=user_id, reading=value). Counting is exact integer work on
    the (station, day)-collapsed frame (map-side partials), the share
    is one IEEE division of exact ints, and the cumulative window runs
    over the calendar-bounded daily series per station — never over
    raw readings — so the plan's window state is days, not sensor
    volume."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("user_id").alias("station_id"),
        F.col("ts").cast("date").alias("day"),
    ).agg(
        F.sum(F.when(F.col("value") < 7.2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_chill"),
        F.count(F.lit(1)).cast("bigint").alias("n_read"),
    )
    w = (
        W.partitionBy("station_id")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return daily.select(
        "station_id",
        "day",
        "n_chill",
        "n_read",
        (F.col("n_chill").cast("double") / F.col("n_read")).alias(
            "chill_share"
        ),
        F.sum("n_chill").over(w).cast("bigint").alias("chill_cum"),
    )


@query(
    "agro_mann_kendall",
    oracle="""
    WITH daily AS (
      SELECT user_id AS station_id, CAST(ts AS DATE) AS day,
             CAST(round(sum(CAST(value AS DECIMAL(28,6)))) AS BIGINT) AS y
      FROM read_parquet('{sf}/events.parquet')
      GROUP BY station_id, day
    ), s AS (
      SELECT a.station_id,
             CAST(sum(CASE WHEN b.y > a.y THEN 1
                           WHEN b.y < a.y THEN -1 ELSE 0 END)
                  AS BIGINT) AS s_stat
      FROM daily a JOIN daily b
        ON b.station_id = a.station_id AND a.day < b.day
      GROUP BY a.station_id
    ), n AS (
      SELECT station_id, CAST(count(*) AS BIGINT) AS n_days
      FROM daily GROUP BY station_id
    ), ties AS (
      SELECT station_id,
             CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
      FROM (
        SELECT station_id, y, CAST(count(*) AS BIGINT) AS t
        FROM daily GROUP BY station_id, y
      ) GROUP BY station_id
    ), mk AS (
      SELECT n.station_id, n.n_days, s.s_stat,
             CAST(n.n_days * (n.n_days - 1) * (2 * n.n_days + 5)
                  - ties.tie_term AS BIGINT) AS var18
      FROM n
      JOIN s ON s.station_id = n.station_id
      JOIN ties ON ties.station_id = n.station_id
      WHERE n.n_days >= 10
    ), z AS (
      SELECT station_id, n_days, s_stat, var18,
             CASE WHEN s_stat > 0
                    THEN CAST(s_stat - 1 AS DOUBLE)
                         / sqrt(CAST(var18 AS DOUBLE) / 18.0)
                  WHEN s_stat < 0
                    THEN CAST(s_stat + 1 AS DOUBLE)
                         / sqrt(CAST(var18 AS DOUBLE) / 18.0)
                  ELSE CAST(0 AS DOUBLE) END AS z_score
      FROM mk WHERE var18 > 0
    )
    SELECT station_id, n_days, s_stat, var18, z_score,
           CASE WHEN z_score > 1.96 THEN 'increasing'
                WHEN z_score < -1.96 THEN 'decreasing'
                ELSE 'none' END AS trend
    FROM z
    """,
    tags=("agro", "domain", "trend", "statistics"),
)
def agro_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANN-KENDALL trend test per station on the daily series — the
    NONPARAMETRIC twin of agro_gdd_trend's OLS slope (the WMO-standard
    pairing for climate series: the rank test is robust to the outliers
    and non-normality the least-squares slope is not). S = Σ sign(y_j −
    y_i) over ordered day pairs is an exact integer; the tie-corrected
    variance 18·Var(S) = n(n−1)(2n+5) − Σ t(t−1)(2t+5) stays int64 for
    any calendar-sized n (n=365 → ~9.7·10⁷); the z-score takes ONE
    division, ONE IEEE sqrt, ONE more division — the parity-safe double
    tail (same rail as agro_station_correlation's pearson_r).

    Scale: the pairwise join is DAY-quadratic per station — bounded by
    the calendar (≤366 days/station-year → ≤67k pairs), never by corpus
    size, since it runs on the per-(station, day) aggregate; the same
    bound argument as the top-K station-correlation panel. Stations
    with <10 days or zero variance (all-tied) drop — no trend from a
    constant."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("user_id").alias("station_id"),
        F.col("ts").cast("date").alias("day"),
    ).agg(
        F.round(F.sum(F.col("value").cast("decimal(28,6)")), 0)
        .cast("bigint")
        .alias("y")
    )
    a = daily.select("station_id", F.col("day").alias("da"), F.col("y").alias("ya"))
    b = daily.select("station_id", F.col("day").alias("db"), F.col("y").alias("yb"))
    s = (
        a.join(b, "station_id")
        .filter(F.col("da") < F.col("db"))
        .groupBy("station_id")
        .agg(
            F.sum(
                F.when(F.col("yb") > F.col("ya"), 1)
                .when(F.col("yb") < F.col("ya"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s_stat")
        )
    )
    n = daily.groupBy("station_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days")
    )
    ties = (
        daily.groupBy("station_id", "y")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .groupBy("station_id")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            )
            .cast("bigint")
            .alias("tie_term")
        )
    )
    mk = (
        n.join(s, "station_id")
        .join(ties, "station_id")
        .filter(F.col("n_days") >= 10)
        .select(
            "station_id",
            "n_days",
            "s_stat",
            (
                F.col("n_days")
                * (F.col("n_days") - 1)
                * (2 * F.col("n_days") + 5)
                - F.col("tie_term")
            )
            .cast("bigint")
            .alias("var18"),
        )
        .filter(F.col("var18") > 0)
    )
    denom = F.sqrt(F.col("var18").cast("double") / F.lit(18.0))
    z = (
        F.when(F.col("s_stat") > 0, (F.col("s_stat") - 1).cast("double") / denom)
        .when(F.col("s_stat") < 0, (F.col("s_stat") + 1).cast("double") / denom)
        .otherwise(F.lit(0.0))
    )
    zed = mk.withColumn("z_score", z)
    return zed.withColumn(
        "trend",
        F.when(F.col("z_score") > 1.96, "increasing")
        .when(F.col("z_score") < -1.96, "decreasing")
        .otherwise("none"),
    )
