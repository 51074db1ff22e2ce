"""Landing layer: raw-payload parsing + ingestion helpers
(SURVEY §2.1 S1-S9).

The reference fetches HTTP per coordinate with rate limiting and
exponential backoff (etl/extract/soil_api.py:46-79,
etl/extract/weather_api.py:40-44, web_scraper.py:69-92). That is an
ingestion concern, NOT a query operator: the Spark-side contract is
"payloads land as files/rows; plans start at `from_json`". Here:

- `RetryPolicy`/`fetch_with_retry`: driver-side landing utilities (S9) —
  pure Python, no Spark plan involvement, injectable fetcher for tests.
- `parse_soil_payload` (S2): `from_json` with a declared schema +
  higher-order array navigation — the hand-written JSON walking of
  soil_api.py:81-116 as one column expression.
- `unzip_daily_arrays` (S4): the Open-Meteo parallel-array struct
  (weather_api.py:95-125) pivoted rows-wise with arrays_zip + explode —
  genuinely columnar→row, no Python loop.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ----------------------------------------------------------- S9: ingestion


@dataclass
class RetryPolicy:
    """Reference policy: 3 attempts, exponential backoff 2^attempt seconds,
    ≥1s between requests (etl/soil_api.py:46-51,65-77; config.py:79)."""

    max_attempts: int = 3
    backoff_base: float = 2.0
    min_interval: float = 1.0


def fetch_with_retry(
    fetch: Callable[[], object],
    policy: RetryPolicy = RetryPolicy(),
    sleep: Callable[[float], None] = time.sleep,
) -> object:
    """Driver-side retried fetch. `fetch`/`sleep` injectable for tests —
    no real HTTP happens in this repo; at scale the fetch loop lands
    payloads to object storage and Spark reads the landing dir."""
    last: Exception | None = None
    for attempt in range(policy.max_attempts):
        try:
            return fetch()
        except Exception as exc:  # noqa: BLE001
            last = exc
            if attempt < policy.max_attempts - 1:
                sleep(policy.backoff_base**attempt)
    raise last  # type: ignore[misc]


# ------------------------------------------------------- S2: soil payloads

SOIL_PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField(
            "properties",
            T.StructType(
                [
                    T.StructField(
                        "layers",
                        T.ArrayType(
                            T.StructType(
                                [
                                    T.StructField("name", T.StringType()),
                                    T.StructField(
                                        "depths",
                                        T.ArrayType(
                                            T.StructType(
                                                [
                                                    T.StructField("label", T.StringType()),
                                                    T.StructField(
                                                        "values",
                                                        T.StructType(
                                                            [T.StructField("mean", T.DoubleType())]
                                                        ),
                                                    ),
                                                ]
                                            )
                                        ),
                                    ),
                                ]
                            )
                        ),
                    )
                ]
            ),
        )
    ]
)


def soil_property(parsed: Column, prop: str) -> Column:
    """Navigate layers[name=prop].depths[0].values.mean — the reference's
    `get_value` walk (soil_api.py:85-93) as filter + try_element_at
    (malformed/missing layers yield NULL, matching the reference's
    graceful-degradation on bad payloads, soil_api.py:94-99)."""
    layer = F.try_element_at(
        F.filter(parsed["properties"]["layers"], lambda x: x["name"] == prop),
        F.lit(1),
    )
    return F.try_element_at(layer["depths"], F.lit(1))["values"]["mean"]


def parse_soil_payload(df: DataFrame) -> DataFrame:
    """S2: raw JSON string column `payload` → typed soil property columns."""
    parsed = F.from_json(F.col("payload"), SOIL_PAYLOAD_SCHEMA)
    return df.withColumn("__p", parsed).select(
        *[c for c in df.columns if c != "payload"],
        soil_property(F.col("__p"), "clay").alias("clay_0_5cm"),
        soil_property(F.col("__p"), "sand").alias("sand_0_5cm"),
        soil_property(F.col("__p"), "silt").alias("silt_0_5cm"),
        soil_property(F.col("__p"), "phh2o").alias("ph_0_5cm"),
    )


# -------------------------------------------------- S4: parallel-array unzip


def unzip_daily_arrays(df: DataFrame, arrays: dict[str, str]) -> DataFrame:
    """Pivot a struct of parallel arrays into one row per index
    (reference weather_api.py:95-125 zips by index in Python; here it is
    arrays_zip + explode — one narrow stage, executor-side)."""
    zipped = F.arrays_zip(*[F.col(src).alias(dst) for dst, src in arrays.items()])
    keep = [c for c in df.columns if c not in set(arrays.values())]
    return df.select(*keep, F.explode(zipped).alias("__z")).select(
        *keep, *[F.col(f"__z.{dst}").alias(dst) for dst in arrays]
    )
