"""Independent reference answers for the benchmark's output checks.

None of this calls into cityfinder_spark: nearest is a NumPy
brute-force argmin over every city, names and postal codes are plain
dictionaries, so a defect in an operator cannot hide in its oracle.
"""

from __future__ import annotations

from collections import defaultdict

import numpy as np
import pandas as pd

EARTH_RADIUS_KM = 6371.0
ROUND_SCALE = 1e4  # distances compare after rounding to 0.1 m


def nearest(city_pdf: pd.DataFrame, lat: np.ndarray, lon: np.ndarray):
    """(city_id, rounded km) of the nearest city per point: haversine,
    rounded, ties broken by the lower city_id."""
    c_lat = np.radians(city_pdf["lat"].to_numpy())[None, :]
    c_lon = np.radians(city_pdf["lon"].to_numpy())[None, :]
    ids = city_pdf["city_id"].to_numpy()
    out_id = np.empty(len(lat), np.int64)
    out_d = np.empty(len(lat))
    step = max(1, 4_000_000 // max(1, len(ids)))
    order = np.argsort(ids, kind="stable")
    for s in range(0, len(lat), step):
        p_lat = np.radians(np.asarray(lat[s:s + step]))[:, None]
        p_lon = np.radians(np.asarray(lon[s:s + step]))[:, None]
        a = (np.sin((c_lat - p_lat) / 2) ** 2
             + np.cos(p_lat) * np.cos(c_lat) * np.sin((c_lon - p_lon) / 2) ** 2)
        d = 2.0 * EARTH_RADIUS_KM * np.arctan2(np.sqrt(a), np.sqrt(np.maximum(0.0, 1.0 - a)))
        d = np.floor(d * ROUND_SCALE + 0.5) / ROUND_SCALE
        d = d[:, order]  # ascending city_id: argmin keeps the lowest id on ties
        best = np.argmin(d, axis=1)
        out_id[s:s + step] = ids[order][best]
        out_d[s:s + step] = d[np.arange(len(best)), best]
    return out_id, out_d


def nearest_agrees(city_pdf, lat, lon, got_id, got_d) -> np.ndarray:
    """Per point: does the engine's (city_id, dist_km) match the oracle?
    A different city is accepted only when its oracle distance equals
    the oracle minimum within one rounding step and its id is lower,
    i.e. a true tie that last-ulp libm differences resolved otherwise."""
    want_id, want_d = nearest(city_pdf, lat, lon)
    got_id = np.asarray(got_id, dtype=np.float64)
    ok = (got_id == want_id) & (np.abs(np.asarray(got_d) - want_d) <= 1.5 / ROUND_SCALE)
    for i in np.flatnonzero(~ok):
        if np.isnan(got_id[i]):
            continue
        row = city_pdf.loc[city_pdf["city_id"] == int(got_id[i])]
        if row.empty:
            continue
        _, d_alt = nearest(row, lat[i:i + 1], lon[i:i + 1])
        ok[i] = abs(d_alt[0] - want_d[i]) <= 1.0 / ROUND_SCALE
    return ok


def levenshtein(a: str, b: str, limit: int) -> int:
    """Edit distance, or limit + 1 once it must exceed `limit`."""
    if abs(len(a) - len(b)) > limit:
        return limit + 1
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i] + [0] * len(b)
        for j, cb in enumerate(b, 1):
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
        if min(cur) > limit:
            return limit + 1
        prev = cur
    return prev[-1]


class NameOracle:
    """Exact (country, name) first, else the indexed name within edit
    distance 2 ordered by (distance, name); the answer is the lowest
    city_id indexed under the chosen name in that country."""

    def __init__(self, city_pdf: pd.DataFrame, max_dist: int = 2):
        self.max_dist = max_dist
        self.first: dict[tuple[str, str], int] = {}
        self.by_country: dict[str, list[str]] = defaultdict(list)
        for cid, name, country, alts in zip(
            city_pdf["city_id"], city_pdf["name"], city_pdf["country"],
            city_pdf["alt_names"],
        ):
            for nm in [name, *alts]:
                if not nm:
                    continue
                key = (country.upper(), nm)
                if key not in self.first:
                    self.by_country[key[0]].append(nm)
                    self.first[key] = int(cid)
                else:
                    self.first[key] = min(self.first[key], int(cid))
        self.memo: dict[tuple[str, str], tuple] = {}

    def resolve(self, name: str, country: str) -> tuple[int | None, str | None]:
        """(city_id, 'exact' | 'fuzzy') or (None, None) on a miss."""
        key = (name, country.upper())
        if key in self.memo:
            return self.memo[key]
        if (key[1], name) in self.first:
            ans = (self.first[(key[1], name)], "exact")
        else:
            best = None
            for cand in self.by_country.get(key[1], ()):
                d = levenshtein(name, cand, self.max_dist)
                if d <= self.max_dist and (best is None or (d, cand) < best):
                    best = (d, cand)
            ans = (None, None) if best is None else (self.first[(key[1], best[1])], "fuzzy")
        self.memo[key] = ans
        return ans


class PostalOracle:
    """Last write (highest line_no) wins per (country, code)."""

    def __init__(self, postal_pdf: pd.DataFrame):
        self.rows: dict[tuple[str, str], tuple[str, float, float]] = {}
        for co, code, place, lat, lon in zip(
            postal_pdf["country_code"], postal_pdf["postal_code"],
            postal_pdf["place_name"], postal_pdf["lat"], postal_pdf["lon"],
        ):
            self.rows[(co.upper(), code)] = (place, float(lat), float(lon))

    def resolve(self, code: str, country: str):
        return self.rows.get((country.upper(), code))
