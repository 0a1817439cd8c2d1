"""Seeded input generators for the benchmark.

Every input is a pure function of the workload seed. Small dimensions
(cities, postal codes, lookup keys) are built in NumPy so the oracles
see exactly the rows the engine sees; large fact tables (points,
geotag payloads) are built with Spark Column expressions hashed from
(row id, seed), so no per-row Python runs and the rows do not depend
on how Spark partitions the range.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, functions as F

SYLLABLES = (
    "ka lo ber tin ma ri san do vel ox an ta ru mi nor gar el fi pa "
    "zu hol bre den cas ter vik sto lun mar ro bel ia ne ul kor ham"
).split()
COUNTRIES = (
    "US DE FR GB IT ES PL NL BE SE NO FI DK AT CH CZ PT GR IE HU "
    "RO BG HR SK SI LT LV EE RS UA TR MX BR AR CL CO PE CA AU NZ"
).split()
HOT_SHARE = 0.3
HOT_RADIUS_DEG = 0.1
MASK53 = (1 << 53) - 1


def _unit(seed: int, salt: int, id_col: str = "id") -> Column:
    """Deterministic uniform [0, 1) per row from (id, seed, salt)."""
    h = F.xxhash64(F.col(id_col), F.lit(seed), F.lit(salt))
    return h.bitwiseAND(F.lit(MASK53)).cast("double") / F.lit(float(1 << 53))


def hot_spots(seed: int) -> np.ndarray:
    """Three (lat, lon) centres that 30% of the points cluster around."""
    rng = np.random.default_rng([seed, 7])
    return np.column_stack(
        [rng.uniform(-50.0, 60.0, 3), rng.uniform(-170.0, 170.0, 3)]
    )


def region_boxes(seed: int) -> list[tuple[float, float, float, float]]:
    """Two (lat_min, lat_max, lon_min, lon_max) read boxes whose row
    counts do not swing with the seed: 6 x 6 degrees around the first
    hot spot, and the first 30 x 30 degree box on a fixed grid that is
    at least 10 degrees clear of every hot spot."""
    hs = hot_spots(seed)
    lat0, lon0 = hs[0]
    hot = (lat0 - 3.0, lat0 + 3.0, lon0 - 3.0, lon0 + 3.0)
    for lat in (-15.0, 15.0, -45.0, 45.0):
        for lon in range(-165, 166, 30):
            clear = all(abs(h[0] - lat) > 25.0 or abs(h[1] - lon) > 25.0 for h in hs)
            if clear:
                return [hot, (lat - 15.0, lat + 15.0, lon - 15.0, lon + 15.0)]
    raise ValueError("no read box clear of the hot spots")


def _names(rng: np.random.Generator, n: int) -> np.ndarray:
    nsyl = rng.integers(2, 5, n)
    picks = rng.integers(0, len(SYLLABLES), (n, 4))
    return np.array(
        ["".join(SYLLABLES[p] for p in row[:k]).capitalize()
         for row, k in zip(picks, nsyl)],
        dtype=object,
    )


def cities(seed: int, n: int, with_names: bool = True) -> pd.DataFrame:
    """Cities uniform on the sphere; countries Zipf-skewed; about 5%
    carry one alternate name. Names repeat, so exact lookups must pick
    the lowest city_id."""
    rng = np.random.default_rng([seed, 1])
    lat = np.degrees(np.arcsin(rng.uniform(-1.0, 1.0, n)))
    lon = rng.uniform(-180.0, 180.0, n)
    weights = 1.0 / np.arange(1, len(COUNTRIES) + 1)
    country = np.array(COUNTRIES, dtype=object)[
        rng.choice(len(COUNTRIES), n, p=weights / weights.sum())
    ]
    if with_names:
        name = _names(rng, n)
        alt = _names(rng, n)
        has_alt = rng.random(n) < 0.05
        alt_names = [[a] if h else [] for a, h in zip(alt, has_alt)]
    else:
        name = np.array([f"C{i}" for i in range(n)], dtype=object)
        alt_names = [[] for _ in range(n)]
    return pd.DataFrame(
        {
            "city_id": np.arange(n, dtype=np.int64),
            "name": name,
            "lat": lat,
            "lon": lon,
            "country": country,
            "alt_names": alt_names,
        }
    )


def cities_df(spark: SparkSession, pdf: pd.DataFrame) -> DataFrame:
    return spark.createDataFrame(
        pdf,
        "city_id long, name string, lat double, lon double, country string, "
        "alt_names array<string>",
    )


def point_coords(seed: int, id_col: str = "id") -> tuple[Column, Column]:
    """(lat, lon) Columns: HOT_SHARE of rows within HOT_RADIUS_DEG of
    one of three hot spots, the rest uniform on the sphere."""
    hs = hot_spots(seed)
    u_hot, u_pick = _unit(seed, 11, id_col), _unit(seed, 12, id_col)
    u_a, u_b = _unit(seed, 13, id_col), _unit(seed, 14, id_col)
    pick = F.floor(u_pick * 3).cast("int")
    hlat = F.element_at(F.array(*[F.lit(float(v)) for v in hs[:, 0]]), pick + 1)
    hlon = F.element_at(F.array(*[F.lit(float(v)) for v in hs[:, 1]]), pick + 1)
    hot = u_hot < HOT_SHARE
    off = 2.0 * HOT_RADIUS_DEG
    lat = F.when(hot, hlat + (u_a - 0.5) * off).otherwise(
        F.degrees(F.asin(u_a * 2.0 - 1.0))
    )
    lon = F.when(hot, hlon + (u_b - 0.5) * off).otherwise(u_b * 360.0 - 180.0)
    return lat, lon


def points_df(spark: SparkSession, seed: int, n: int, partitions: int) -> DataFrame:
    lat, lon = point_coords(seed)
    return spark.range(0, n, 1, partitions).select(
        F.col("id").alias("pt_id"), lat.alias("lat"), lon.alias("lon")
    )


def postal(seed: int, city_pdf: pd.DataFrame, n: int) -> pd.DataFrame:
    """Postal dimension in file order (line_no). About 10% of the
    lines re-list an earlier (country, code) with new coordinates:
    last write wins."""
    rng = np.random.default_rng([seed, 2])
    base = n - n // 10
    src = rng.integers(0, len(city_pdf), base)
    country = city_pdf["country"].to_numpy(object)[src]
    code = np.array([f"{c:05d}" for c in rng.choice(100_000, base, replace=False)],
                    dtype=object)
    place = city_pdf["name"].to_numpy(object)[src]
    lat = city_pdf["lat"].to_numpy()[src] + rng.uniform(-0.05, 0.05, base)
    lon = city_pdf["lon"].to_numpy()[src] + rng.uniform(-0.05, 0.05, base)
    dup = rng.integers(0, base, n - base)
    country = np.concatenate([country, country[dup]])
    code = np.concatenate([code, code[dup]])
    place = np.concatenate([place, place[dup]])
    lat = np.concatenate([lat, np.clip(lat[dup] + 0.01, -90.0, 90.0)])
    lon = np.concatenate([lon, lon[dup]])
    return pd.DataFrame(
        {
            "country_code": country,
            "postal_code": code,
            "place_name": place,
            "lat": np.clip(lat, -90.0, 90.0),
            "lon": np.clip(lon, -180.0, 180.0),
            "accuracy": rng.integers(1, 7, n).astype(np.int32),
            "line_no": np.arange(n, dtype=np.int64),
        }
    )


def postal_df(spark: SparkSession, pdf: pd.DataFrame) -> DataFrame:
    return spark.createDataFrame(
        pdf,
        "country_code string, postal_code string, place_name string, "
        "lat double, lon double, accuracy int, line_no long",
    )


def misspell(rng: np.random.Generator, name: str) -> str:
    """One or two random edits (substitute, delete, insert): the result
    is within edit distance 2 of `name`."""
    s = list(name)
    for _ in range(int(rng.integers(1, 3))):
        op = int(rng.integers(0, 3))
        i = int(rng.integers(0, len(s)))
        ch = "abcdefghijklmnopqrstuvwxyz"[int(rng.integers(0, 26))]
        if op == 0:
            s[i] = ch
        elif op == 1 and len(s) > 3:
            del s[i]
        else:
            s.insert(i, ch)
    return "".join(s)


def name_keys(seed: int, city_pdf: pd.DataFrame, n: int, salt: int) -> list[tuple[str, str]]:
    """(name, lowercase country) lookup keys: half exact names, half
    misspellings within edit distance 2 of a name of that country."""
    rng = np.random.default_rng([seed, 3, salt])
    pick = rng.integers(0, len(city_pdf), n)
    names = city_pdf["name"].to_numpy(object)[pick]
    countries = city_pdf["country"].to_numpy(object)[pick]
    out = []
    for i, (nm, co) in enumerate(zip(names, countries)):
        out.append((nm if i % 2 == 0 else misspell(rng, nm), co.lower()))
    return out


def postal_keys(
    seed: int, postal_pdf: pd.DataFrame, n: int, miss_share: float, salt: int
) -> list[tuple[str, str]]:
    """(code, lowercase country) keys; `miss_share` of them name a code
    the dimension does not hold."""
    rng = np.random.default_rng([seed, 4, salt])
    pick = rng.integers(0, len(postal_pdf), n)
    codes = postal_pdf["postal_code"].to_numpy(object)[pick]
    countries = postal_pdf["country_code"].to_numpy(object)[pick]
    miss = rng.random(n) < miss_share
    return [
        (f"X{c}" if m else c, co.lower()) for c, co, m in zip(codes, countries, miss)
    ]


def payloads_df(
    spark: SparkSession,
    seed: int,
    n: int,
    partitions: int,
    name_keys_list: list[tuple[str, str]],
    postal_keys_list: list[tuple[str, str]],
    gps_share: float = 0.7,
    name_share: float = 0.2,
) -> DataFrame:
    """Geotag payload rows: image_id, ~1 KB of incompressible `bytes`
    (16 SHA-512 digests), a caption, and exactly one location hint:
    GPS (lat/lon), a place name (+country) or a postal code
    (+country). Name and postal keys come from small key lists, so
    they repeat heavily."""
    lat, lon = point_coords(seed, "image_id")
    u_kind = _unit(seed, 21, "image_id")
    kind = (
        F.when(u_kind < gps_share, F.lit("gps"))
        .when(u_kind < gps_share + name_share, F.lit("name"))
        .otherwise(F.lit("postal"))
    )
    key_pick = F.floor(_unit(seed, 22, "image_id") * F.lit(len(name_keys_list)))
    code_pick = F.floor(_unit(seed, 23, "image_id") * F.lit(len(postal_keys_list)))
    arr = lambda vals: F.array(*[F.lit(v) for v in vals])  # noqa: E731
    blob = F.concat(
        *[
            F.unhex(F.sha2(F.concat_ws(":", F.col("image_id"), F.lit(seed), F.lit(i)), 512))
            for i in range(16)
        ]
    )
    base = spark.range(0, n, 1, partitions).select(F.col("id").alias("image_id"))
    return base.select(
        "image_id",
        blob.alias("bytes"),
        F.concat(F.lit("photo "), F.col("image_id").cast("string"), F.lit(" #"),
                 F.hex(F.xxhash64(F.col("image_id"), F.lit(seed)))).alias("caption"),
        kind.alias("kind"),
        F.when(kind == "gps", lat).alias("lat"),
        F.when(kind == "gps", lon).alias("lon"),
        F.when(kind == "name", F.element_at(arr([k[0] for k in name_keys_list]),
                                            key_pick.cast("int") + 1)).alias("place"),
        F.when(kind == "postal", F.element_at(arr([k[0] for k in postal_keys_list]),
                                              code_pick.cast("int") + 1)).alias("postal_code"),
        F.when(kind == "name", F.element_at(arr([k[1] for k in name_keys_list]),
                                            key_pick.cast("int") + 1))
        .when(kind == "postal", F.element_at(arr([k[1] for k in postal_keys_list]),
                                             code_pick.cast("int") + 1))
        .alias("country"),
    )
