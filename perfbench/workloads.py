"""The benchmark's workloads and the run loop they share.

Each workload drives the engine only through its public functions
(session, operators.nearest_arrow, finder, operators.name_lookup,
operators.postal_lookup, plans.checkpoint, sinks) and measures them
from outside: wall clocks around the calls, Spark's status store for
executor and job counters, /proc for memory.
"""

from __future__ import annotations

import json
import os
import pickle
import shutil
import sys
import time
import traceback

import numpy as np
from pyspark.sql import functions as F

import common
import data
import oracle
from common import Tracer, median, tail

# Input sizes at nproc = 4; fact sizes scale linearly with nproc.
KNN_CACHED = {"cities": 25_000, "points_per_core": 150_000, "sample": 1_000}
LARGE_DIM_CITIES = 1_000_000
KNN_LARGE = {"cities": LARGE_DIM_CITIES, "points_per_core": 50_000, "sample": 150}
LOOKUPS = {"cities": 25_000, "postal": 20_000, "keys": 400, "postal_miss": 0.2}
GEOTAG = {"cities": 5_000, "postal": 5_000, "rows_per_core": 8_000,
          "name_keys": 200, "postal_keys": 200, "buckets": 2, "sample": 400}


class Ctx:
    """Per-run state: the session, tracer, counters and the report."""

    def __init__(self, args, spark, tracer: Tracer, work: str, nproc: int):
        self.args = args
        self.seed = args.seed
        self.scale = args.scale
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.nproc = nproc
        self.attempted = 0
        self.failed = 0
        self.layer: dict[str, float] = {}
        self.report: list[str] = []

    def size(self, n: float) -> int:
        return max(1, int(n * self.scale))

    def check(self, ok_flags, what: str) -> None:
        """Count checked answers; the planted error flips the first."""
        ok = np.asarray(ok_flags, dtype=bool).copy()
        if self.args.plant_error and len(ok) and not getattr(self, "_planted", False):
            ok[0] = False
            self._planted = True
        self.attempted += len(ok)
        bad = int((~ok).sum())
        self.failed += bad
        if bad:
            self.report.append(f"check {what}: {bad} of {len(ok)} answers wrong")

    def fail_op(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        self.report.append(f"operation {what} raised:")
        traceback.print_exc(file=sys.stderr)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------- kNN


class Knn:
    """Batch assignment through nearest_city_join_arrow into a noop sink."""

    loop = "batch passes, one at a time"
    min_ops = 3

    def __init__(self, ctx: Ctx, cfg: dict):
        self.ctx = ctx
        self.n_cities = ctx.size(cfg["cities"])
        self.n_points = ctx.size(cfg["points_per_core"] * ctx.nproc)
        self.n_sample = min(self.n_points, max(10, ctx.size(cfg["sample"])))

    def setup(self) -> None:
        from cityfinder_spark.operators.nearest import choose_level
        from cityfinder_spark.operators.nearest_arrow import build_city_index

        ctx, tr = self.ctx, self.ctx.tracer
        with tr.span("datagen.cities"):
            self.city_pdf = data.cities(ctx.seed, self.n_cities, with_names=False)
            self.cities = data.cities_df(ctx.spark, self.city_pdf)
        self.level = choose_level(self.n_cities, 1)
        t = time.perf_counter()
        with tr.span("nearest_arrow.build_city_index"):
            self.index = build_city_index(self.cities, self.level, 1)
        ctx.layer["nearest_arrow.index_build_s"] = time.perf_counter() - t
        self.points = data.points_df(ctx.spark, ctx.seed, self.n_points, 2 * ctx.nproc)
        ctx.report.append(
            f"inputs: {self.n_points} points/pass, {self.n_cities} cities, "
            f"level {self.level}"
        )

    def join(self, points):
        from cityfinder_spark.operators.nearest_arrow import nearest_city_join_arrow

        return nearest_city_join_arrow(
            points, self.cities, level=self.level, city_index=self.index
        )

    def op(self) -> None:
        tr = self.ctx.tracer
        with tr.span("nearest_arrow.nearest_city_join_arrow"):
            df = self.join(self.points)
        with tr.span("spark.execute"):
            noop(df)

    def warmup(self) -> None:
        """A quarter-size pass: starts the Python workers, ships the
        index broadcast and compiles the plan."""
        noop(self.join(self.points.where(F.col("pt_id") % 4 == 0)))

    def e2e(self, ops: list[float]) -> tuple[float, list[float]]:
        """(points per second of the median pass, pass latencies)."""
        return self.n_points / median(ops), ops

    def cleanup(self) -> None:
        pass

    def check(self) -> None:
        stride = max(1, self.n_points // self.n_sample)
        sample = self.points.where(F.col("pt_id") % stride == 0)
        got = self.join(sample).select("pt_id", "lat", "lon", "city_id", "dist_km").toPandas()
        ok = oracle.nearest_agrees(
            self.city_pdf, got["lat"].to_numpy(), got["lon"].to_numpy(),
            got["city_id"].to_numpy(np.float64, na_value=np.nan),
            got["dist_km"].to_numpy(np.float64, na_value=np.nan),
        )
        self.ctx.check(ok, "nearest vs brute force")

    def trace_layers(self, exec_delta: dict, n_ops: int) -> None:
        from cityfinder_spark.operators.nearest_arrow import _solve_batch
        from cityfinder_spark.sqlcompat import ROUND_DIGITS

        from cityfinder_spark.operators.nearest import choose_level
        from cityfinder_spark.operators.nearest_arrow import CityIndex

        lay = self.ctx.layer
        lay["nearest_arrow.index_bytes"] = len(pickle.dumps(self.index, protocol=5))
        batch = self.points.limit(65_536).toPandas()
        lat, lon = batch["lat"].to_numpy(), batch["lon"].to_numpy()

        def kernel(index, prefix):
            _, counts = index.lookup(lat, lon)
            lay[f"nearest_arrow.{prefix}cands_per_row"] = float(counts.mean())
            times = []
            for _ in range(3):
                t = time.perf_counter()
                _solve_batch(index, lat, lon, ROUND_DIGITS)
                times.append(time.perf_counter() - t)
            us = median(times) / len(lat) * 1e6
            lay[f"nearest_arrow.{prefix}kernel_us_per_row"] = us
            return us

        us = kernel(self.index, "")
        task_s = exec_delta["task_s"] / max(1, n_ops)
        lay["nearest_arrow.kernel_share"] = (
            us * 1e-6 * self.n_points / task_s if task_s else 0.0
        )
        # the same batch against a 1M-city index far beyond the CPU
        # caches: the gap to the line above is the candidate-gather cost
        n = self.ctx.size(LARGE_DIM_CITIES)
        big = data.cities(self.ctx.seed, n, with_names=False)
        t = time.perf_counter()
        index = CityIndex(
            big["city_id"].to_numpy(), big["lat"].to_numpy(), big["lon"].to_numpy(),
            big["name"].to_numpy(object), big["country"].to_numpy(object),
            choose_level(n, 1), 1,
        )
        lay["nearest_arrow.large_dim_index_build_s"] = time.perf_counter() - t
        kernel(index, "large_dim_")


# ---------------------------------------------------------- point lookups


def build_finder(ctx: Ctx, cfg: dict):
    """Seeded city and postal dimensions and the CityFinder over them."""
    from cityfinder_spark.finder import CityFinder

    with ctx.tracer.span("datagen.dimensions"):
        city_pdf = data.cities(ctx.seed, ctx.size(cfg["cities"]))
        postal_pdf = data.postal(ctx.seed, city_pdf, ctx.size(cfg["postal"]))
        cities = data.cities_df(ctx.spark, city_pdf)
        postal = data.postal_df(ctx.spark, postal_pdf)
    t = time.perf_counter()
    with ctx.tracer.span("finder.CityFinder"):
        finder = CityFinder(cities, postal)
    ctx.layer["finder.init_s"] = time.perf_counter() - t
    return city_pdf, postal_pdf, finder


class Lookups:
    """Closed loop, one client, one request in flight: a seeded mix of
    CityFinder.find_nearest_city / find_city_by_name /
    find_city_by_postal_code."""

    loop = "closed loop, 1 client"
    min_ops = 10
    KINDS = ("nearest", "name", "postal")

    def __init__(self, ctx: Ctx, cfg: dict):
        self.ctx = ctx
        self.cfg = cfg
        self.i = 0
        self.lat: dict[str, list[float]] = {k: [] for k in self.KINDS}
        self.jobs: dict[str, list[int]] = {k: [] for k in self.KINDS}
        self.plan_ms: dict[str, list[float]] = {k: [] for k in self.KINDS}
        self.exec_ms: dict[str, list[float]] = {k: [] for k in self.KINDS}
        self.answers: list[tuple] = []

    def setup(self) -> None:
        self.city_pdf, self.postal_pdf, self.finder = build_finder(self.ctx, self.cfg)
        self.schedule()

    def schedule(self) -> None:
        """The seeded request mix over the finder's dimensions."""
        ctx, cfg = self.ctx, self.cfg
        n = cfg["keys"]
        rng = np.random.default_rng([ctx.seed, 9])
        self.kinds = rng.integers(0, 3, n)
        hs = data.hot_spots(ctx.seed)
        hot = rng.random(n) < data.HOT_SHARE
        pick = rng.integers(0, 3, n)
        self.points = np.where(
            hot[:, None],
            hs[pick] + rng.uniform(-data.HOT_RADIUS_DEG, data.HOT_RADIUS_DEG, (n, 2)),
            np.column_stack([np.degrees(np.arcsin(rng.uniform(-1, 1, n))),
                             rng.uniform(-180, 180, n)]),
        )
        self.names = data.name_keys(ctx.seed, self.city_pdf, n, salt=1)
        self.codes = data.postal_keys(ctx.seed, self.postal_pdf, n, cfg["postal_miss"], salt=1)
        self.name_oracle = oracle.NameOracle(self.city_pdf)
        self.postal_oracle = oracle.PostalOracle(self.postal_pdf)
        ctx.report.append(
            f"inputs: {len(self.city_pdf)} cities, {len(self.postal_pdf)} postal lines, "
            f"{n} scheduled requests"
        )

    def warmup(self) -> None:
        for k in range(3):
            self.request(k, self.i, record=False)

    def request(self, kind: int, j: int, record: bool = True) -> None:
        """Issue request j of the given kind; the traced form splits the
        call into its DataFrame-form plan and the collect that runs it."""
        f, tr, spark = self.finder, self.ctx.tracer, self.ctx.spark
        name = self.KINDS[kind]
        jobs: list[int] = []
        t0 = time.perf_counter()
        plan_s = None
        with tr.span(f"finder.{name}"):
            if not tr.enabled:
                if kind == 0:
                    ans = f.find_nearest_city(*map(float, self.points[j]))
                elif kind == 1:
                    ans = f.find_city_by_name(*self.names[j])
                else:
                    ans = f.find_city_by_postal_code(*self.codes[j])
            else:
                with common.job_group(spark, jobs):
                    tp = time.perf_counter()
                    if kind == 0:
                        q = spark.createDataFrame([(0, *map(float, self.points[j]))],
                                                  "pt_id long, lat double, lon double")
                        with tr.span("finder.nearest_city_df"):
                            df = f.nearest_city_df(q)
                    elif kind == 1:
                        q = spark.createDataFrame([(0, *self.names[j])],
                                                  "q_id long, q_name string, q_country string")
                        with tr.span("name_lookup.city_by_name"):
                            df = f.city_by_name_df(q)
                    else:
                        q = spark.createDataFrame([(0, *self.codes[j])],
                                                  "q_id long, q_code string, q_country string")
                        with tr.span("postal_lookup.city_by_postal"):
                            df = f.city_by_postal_df(q)
                    t_ret = time.perf_counter()
                    plan_s = t_ret - tp
                    with tr.span("spark.execute"):
                        row = df.collect()[0].asDict()
                    exec_s = time.perf_counter() - t_ret
                ans = self.normalise(kind, row)
        dt = time.perf_counter() - t0
        if record:
            self.lat[name].append(dt)
            self.answers.append((kind, j, ans))
            if plan_s is not None:
                self.plan_ms[name].append(plan_s * 1e3)
                self.exec_ms[name].append(exec_s * 1e3)
                self.jobs[name].append(jobs[0])

    def normalise(self, kind: int, row: dict):
        """The single-query forms' answer, rebuilt from the DataFrame row."""
        if kind == 0:
            if row["city_id"] is None:
                return None
            pos = int(np.searchsorted(self.finder.index.city_id, row["city_id"]))
            return {"Latitude": float(self.finder.index.lat[pos]),
                    "Longitude": float(self.finder.index.lon[pos]),
                    "Name": row["name"], "Country": row["country"],
                    "DistanceKm": row["dist_km"]}
        if kind == 1:
            if row["city_id"] is None:
                return None
            return {"Name": row["name"], "Latitude": row["c_lat"],
                    "Longitude": row["c_lon"], "MatchType": row["match_type"]}
        if row["name"] is None:
            return None
        return {"Name": row["name"], "Latitude": row["c_lat"], "Longitude": row["c_lon"]}

    def op(self) -> None:
        j = self.i % len(self.kinds)
        self.i += 1
        self.request(int(self.kinds[j]), j)

    def check(self) -> None:
        cp = self.city_pdf
        by_id = cp.set_index("city_id")
        ok = []
        pts = [(j, ans) for kind, j, ans in self.answers if kind == 0]
        if pts:
            idx = np.array([j for j, _ in pts])
            lat, lon = self.points[idx, 0], self.points[idx, 1]
            got_id, got_d = [], []
            for _, ans in pts:
                if ans is None:
                    got_id.append(np.nan)
                    got_d.append(np.nan)
                    continue
                m = cp.index[(cp["lat"] == ans["Latitude"]) & (cp["lon"] == ans["Longitude"])]
                got_id.append(float(cp["city_id"].iloc[m[0]]) if len(m) else np.nan)
                got_d.append(ans["DistanceKm"])
            ok.extend(oracle.nearest_agrees(cp, lat, lon, np.array(got_id), np.array(got_d)))
        for kind, j, ans in self.answers:
            if kind == 1:
                cid, how = self.name_oracle.resolve(*self.names[j])
                if cid is None:
                    ok.append(ans is None)
                else:
                    want = by_id.loc[cid]
                    ok.append(ans is not None and ans["MatchType"] == how
                              and ans["Name"] == want["name"]
                              and ans["Latitude"] == want["lat"]
                              and ans["Longitude"] == want["lon"])
            elif kind == 2:
                want = self.postal_oracle.resolve(*self.codes[j])
                ok.append((ans is None) if want is None else (
                    ans is not None
                    and (ans["Name"], ans["Latitude"], ans["Longitude"]) == want))
        self.ctx.check(ok, "lookups vs oracles")

    def trace_layers(self, exec_delta: dict, n_ops: int) -> None:
        lay = self.ctx.layer
        for k in self.KINDS:
            lay[f"finder.{k}_p50_ms"] = median(self.lat[k]) * 1e3
            lay[f"finder.{k}_jobs_per_lookup"] = median(self.jobs[k])
            lay[f"finder.{k}_plan_ms"] = median(self.plan_ms[k])
            lay[f"finder.{k}_execute_ms"] = median(self.exec_ms[k])
        names = [self.names[j] for kind, j, _ in self.answers if kind == 1]
        how = [self.name_oracle.resolve(*k)[1] for k in names]
        n = max(1, len(how))
        lay["name_lookup.exact_share"] = how.count("exact") / n
        lay["name_lookup.fuzzy_share"] = how.count("fuzzy") / n
        lay["name_lookup.miss_share"] = how.count(None) / n
        lay["name_lookup.distinct_key_ratio"] = len(set(names)) / n
        codes = [self.codes[j] for kind, j, _ in self.answers if kind == 2]
        hits = [self.postal_oracle.resolve(*c) is not None for c in codes]
        lay["postal_lookup.hit_share"] = sum(hits) / max(1, len(hits))
        name_s = self.ctx.tracer.total("finder.name")
        postal_s = self.ctx.tracer.total("finder.postal")
        lay["name_lookup.rows_per_s"] = len(self.jobs["name"]) / name_s if name_s else 0.0
        lay["postal_lookup.rows_per_s"] = (
            len(self.jobs["postal"]) / postal_s if postal_s else 0.0
        )

    def e2e(self, ops: list[float]) -> tuple[float, list[float]]:
        """(requests per second of request time, request latencies)."""
        lat = [v for k in self.KINDS for v in self.lat[k]]
        return len(lat) / sum(lat), lat

    def cleanup(self) -> None:
        pass


# ---------------------------------------------------------------- geotag


class Geotag:
    """Resolve ~1 KB payload rows to cities through run_resumable
    (crashed after half its buckets, then resumed), publish with
    write_assignments and read regions back."""

    loop = "batch cycles, one at a time"
    min_ops = 1

    def __init__(self, ctx: Ctx, cfg: dict):
        self.ctx = ctx
        self.cfg = cfg
        self.n_rows = ctx.size(cfg["rows_per_core"] * ctx.nproc)
        self.cycle = 0
        self.region_s: list[float] = []
        self.scanned: list[float] = []  # share of the table's files a read opens
        # One dictionary serves every bucket of the job and the keys
        # repeat, the shape city_by_name's "arrow" strategy is built for:
        # its per-worker index and memo persist across the per-bucket
        # calls. The default re-explodes the dictionary on every call:
        # 40 s per cycle instead of 24 s at 10k cities and 50k rows on
        # a 4-core host.
        self.name_kw = {"fuzzy_strategy": "arrow", "cache_key": ("geotag", ctx.seed)}
        self.stats: dict[str, list[float]] = {}

    def stat(self, key: str, value: float) -> None:
        self.stats.setdefault(key, []).append(value)

    def setup(self) -> None:
        ctx, cfg, tr, spark = self.ctx, self.cfg, self.ctx.tracer, self.ctx.spark
        self.root = os.path.join(ctx.work, f"geotag-{os.getpid()}")
        shutil.rmtree(self.root, ignore_errors=True)
        self.city_pdf, self.postal_pdf, self.finder = build_finder(ctx, cfg)
        self.name_keys = data.name_keys(ctx.seed, self.city_pdf, cfg["name_keys"], salt=2)
        self.postal_keys = data.postal_keys(
            ctx.seed, self.postal_pdf, cfg["postal_keys"], 0.0, salt=2)
        self.source_path = os.path.join(self.root, "source")
        with tr.span("datagen.payloads"):
            data.payloads_df(
                spark, ctx.seed, self.n_rows, 2 * ctx.nproc,
                self.name_keys, self.postal_keys,
            ).write.parquet(self.source_path)
        self.source = spark.read.parquet(self.source_path)
        self.boxes = data.region_boxes(ctx.seed)
        self.input_files, self.input_bytes = common.dir_stats(self.source_path)
        ctx.report.append(
            f"inputs: {self.n_rows} payload rows ({self.input_bytes} bytes), "
            f"{len(self.city_pdf)} cities, {len(self.postal_pdf)} postal lines"
        )

    def process(self, part):
        """One bucket: GPS rows by nearest city, name rows by fuzzy
        name, postal rows by code; payload columns ride along."""
        f, tr = self.finder, self.ctx.tracer
        keep = ["image_id", "bytes", "caption", "kind"]
        with tr.span("finder.nearest_city_df"):
            gps = f.nearest_city_df(
                part.where(F.col("kind") == "gps").select(*keep, "lat", "lon"),
                id_col="image_id",
            ).select(*keep, "lat", "lon", "city_id", "name", "country", "dist_km")
        nm_rows = part.where(F.col("kind") == "name")
        with tr.span("name_lookup.city_by_name"):
            nm = f.city_by_name_df(nm_rows.select(
                F.col("image_id").alias("q_id"), F.col("place").alias("q_name"),
                F.col("country").alias("q_country")), **self.name_kw)
        nm = nm_rows.select(*keep).join(
            nm.select(F.col("q_id").alias("image_id"), F.col("c_lat").alias("lat"),
                      F.col("c_lon").alias("lon"), "city_id", "name",
                      F.upper("q_country").alias("country"),
                      F.lit(None).cast("double").alias("dist_km")),
            "image_id")
        pc_rows = part.where(F.col("kind") == "postal")
        with tr.span("postal_lookup.city_by_postal"):
            pc = f.city_by_postal_df(pc_rows.select(
                F.col("image_id").alias("q_id"), F.col("postal_code").alias("q_code"),
                F.col("country").alias("q_country")))
        pc = pc_rows.select(*keep).join(
            pc.select(F.col("q_id").alias("image_id"), F.col("c_lat").alias("lat"),
                      F.col("c_lon").alias("lon"),
                      F.lit(None).cast("long").alias("city_id"), "name",
                      F.col("q_country").alias("country"),
                      F.lit(None).cast("double").alias("dist_km")),
            "image_id")
        return gps.unionByName(nm).unionByName(pc)

    def op(self) -> None:
        from cityfinder_spark.plans.checkpoint import read_result, run_resumable
        from cityfinder_spark.sinks import write_assignments

        spark, tr, nb = self.ctx.spark, self.ctx.tracer, self.cfg["buckets"]
        self.cycle += 1
        out = os.path.join(self.root, f"cycle-{self.cycle}")
        pub = os.path.join(self.root, f"published-{self.cycle}")
        kw = dict(stage="geotag", id_col="image_id", n_buckets=nb)
        t = time.perf_counter()
        with tr.span("checkpoint.run_resumable"):
            first = run_resumable(spark, self.source, self.process, out,
                                  fail_after=nb // 2, **kw)
        t_run = time.perf_counter()
        staged = common.dir_stats(os.path.join(out, "staged"))[1]
        t_res = time.perf_counter()
        with tr.span("checkpoint.run_resumable"):
            second = run_resumable(spark, self.source, self.process, out, **kw)
        t_pub = time.perf_counter()
        with tr.span("sinks.write_assignments"):
            write_assignments(read_result(spark, out), pub)
        t_end = time.perf_counter()
        self.stat("cycle_s", t_end - t)
        files, nbytes = common.dir_stats(pub)
        redone = set(first) & set(second)  # buckets processed twice
        self.stat("checkpoint.run_s", t_run - t)
        self.stat("checkpoint.resume_s", t_pub - t_res)
        self.stat("checkpoint.staged_bytes_ratio", staged / self.input_bytes)
        self.stat("sinks.write_s", t_end - t_pub)
        self.stat("sinks.files_written", files)
        self.stat("sinks.bytes_written", nbytes)
        self.stat("sinks.stored_bytes_ratio", nbytes / self.input_bytes)
        self.last_out, self.last_pub = out, pub
        self.redone_rows = self.manifest_rows(out, redone)
        self.region_rows = [self.region_read(pub, box) for box in self.boxes]
        if self.cycle > 2:  # keep two cycles on disk: the last one is checked
            shutil.rmtree(os.path.join(self.root, f"cycle-{self.cycle - 2}"), True)
            shutil.rmtree(os.path.join(self.root, f"published-{self.cycle - 2}"), True)

    def manifest_rows(self, out: str, buckets: set[int]) -> int:
        """Rows the checkpoint manifest records for `buckets`."""
        if not buckets:
            return 0
        m = self.ctx.spark.read.parquet(os.path.join(out, "manifest"))
        return int(m.where((F.col("stage") == "geotag") & F.col("bucket").isin(*buckets))
                   .agg(F.sum("rows")).first()[0] or 0)

    def region_read(self, pub: str, box, record: bool = True) -> int:
        from cityfinder_spark.sinks import read_assignments_region

        tr = self.ctx.tracer
        t = time.perf_counter()
        with tr.span("sinks.read_assignments_region"):
            df = read_assignments_region(self.ctx.spark, pub, *box).select(
                "image_id", "city_id", "name", "lat", "lon")
            rows = df.collect()
        if record:
            self.region_s.append(time.perf_counter() - t)
        if tr.enabled:
            self.scanned.append(scan_files(df) / common.dir_stats(pub)[0])
        return len(rows)

    def warmup(self) -> None:
        """Start the Python workers, ship the broadcasts and compile the
        resolution plan on a 1% slice, outside the timed cycles."""
        noop(self.process(self.source.where(F.col("image_id") % 100 == 0)))

    def check(self) -> None:
        from cityfinder_spark.plans.checkpoint import read_result

        spark = self.ctx.spark
        # exactly once with intact payloads: equal row and distinct-id
        # counts plus an XOR of per-row xxhash64(image_id, bytes, caption)
        h = F.bit_xor(F.xxhash64("image_id", "bytes", "caption"))
        want = self.source.agg(F.count(F.lit(1)), h).first()
        got = read_result(spark, self.last_out).agg(
            F.count(F.lit(1)), F.count_distinct("image_id"), h).first()
        self.ctx.check([want[0] == self.n_rows, got[0] == want[0],
                        got[1] == want[0], got[2] == want[1]],
                       "exactly-once rows with intact payloads after resume")
        # published table: every row, and each pruned region read equal
        # to the same box filtered over the whole table
        pub = spark.read.parquet(self.last_pub)
        in_box = [F.sum((F.col("lat").between(b[0], b[1])
                         & F.col("lon").between(b[2], b[3])).cast("long"))
                  for b in self.boxes]
        counts = pub.agg(F.count(F.lit(1)), *in_box).first()
        self.ctx.check([counts[0] == self.n_rows], "published row count")
        self.ctx.check([g == w for g, w in zip(self.region_rows, counts[1:])],
                       "pruned region reads vs full-table filter")
        stride = max(1, self.n_rows // self.cfg["sample"])
        picked = F.col("image_id") % stride == 0
        rows = pub.where(picked).toPandas().merge(
            self.source.where(picked).select(
                "image_id", F.col("lat").alias("g_lat"), F.col("lon").alias("g_lon"),
                "place", "postal_code", F.col("country").alias("q_country")).toPandas(),
            on="image_id")
        ok = []
        gps = rows[rows["kind"] == "gps"]
        if len(gps):
            ok.extend(oracle.nearest_agrees(
                self.city_pdf, gps["g_lat"].to_numpy(), gps["g_lon"].to_numpy(),
                gps["city_id"].to_numpy(np.float64, na_value=np.nan),
                gps["dist_km"].to_numpy(np.float64, na_value=np.nan)))
        self.name_oracle = oracle.NameOracle(self.city_pdf)
        self.postal_oracle = oracle.PostalOracle(self.postal_pdf)
        for r in rows[rows["kind"] == "name"].itertuples():
            cid, _ = self.name_oracle.resolve(r.place, r.q_country)
            ok.append(cid is not None and r.city_id == cid)
        for r in rows[rows["kind"] == "postal"].itertuples():
            want = self.postal_oracle.resolve(r.postal_code, r.q_country)
            ok.append(want is not None and (r.name, r.lat, r.lon) == want)
        self.ctx.check(ok, "resolved cities vs oracles")

    def trace_layers(self, exec_delta: dict, n_ops: int) -> None:
        lay, tr, f = self.ctx.layer, self.ctx.tracer, self.finder
        # single-query forms of the same finder: jobs and the plan /
        # execute split, one request of each type
        probe = Lookups(self.ctx, LOOKUPS)
        probe.city_pdf, probe.postal_pdf, probe.finder = self.city_pdf, self.postal_pdf, f
        probe.schedule()
        for kind in range(3):
            probe.request(kind, kind)
        probe.trace_layers(exec_delta, n_ops)
        for k, v in self.stats.items():
            if k != "cycle_s":
                lay[k] = median(v)
        lay["checkpoint.redone_rows"] = float(self.redone_rows)
        lay["sinks.files_scanned_share"] = median(self.scanned)
        # name and postal operators alone on this workload's key mix
        keys = self.source.where(F.col("kind") == "name").select(
            F.col("image_id").alias("q_id"), F.col("place").alias("q_name"),
            F.col("country").alias("q_country"))
        kp = keys.select("q_name", "q_country").toPandas()
        how = [self.name_oracle.resolve(p, c)[1] for p, c in zip(kp["q_name"], kp["q_country"])]
        n = max(1, len(how))
        lay["name_lookup.exact_share"] = how.count("exact") / n
        lay["name_lookup.fuzzy_share"] = how.count("fuzzy") / n
        lay["name_lookup.miss_share"] = how.count(None) / n
        lay["name_lookup.distinct_key_ratio"] = len(set(zip(kp["q_name"], kp["q_country"]))) / n
        t = time.perf_counter()
        with tr.span("name_lookup.city_by_name"):
            noop(f.city_by_name_df(keys, **self.name_kw))
        lay["name_lookup.rows_per_s"] = n / (time.perf_counter() - t)
        codes = self.source.where(F.col("kind") == "postal").select(
            F.col("image_id").alias("q_id"), F.col("postal_code").alias("q_code"),
            F.col("country").alias("q_country"))
        cp = codes.select("q_code", "q_country").toPandas()
        hits = [self.postal_oracle.resolve(c, co) is not None
                for c, co in zip(cp["q_code"], cp["q_country"])]
        lay["postal_lookup.hit_share"] = sum(hits) / max(1, len(hits))
        t = time.perf_counter()
        with tr.span("postal_lookup.city_by_postal"):
            noop(f.city_by_postal_df(codes))
        lay["postal_lookup.rows_per_s"] = len(hits) / (time.perf_counter() - t)

    def e2e(self, ops: list[float]) -> tuple[float, list[float]]:
        """(input rows per second of the median cycle, region-read latencies)."""
        return self.n_rows / median(self.stats["cycle_s"]), self.region_s

    def cleanup(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


def scan_files(df) -> int:
    """Files the executed scan of `df` read ('number of files read'
    metric of its file scan nodes)."""
    plan = df._jdf.queryExecution().executedPlan()
    total = 0
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        metrics = node.metrics()
        if name.startswith("FileSourceScan") and metrics.contains("numFiles"):
            total += int(metrics.apply("numFiles").value())
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return total


WORKLOADS = {
    "knn_cached": lambda ctx: Knn(ctx, KNN_CACHED),
    "knn_large_dim": lambda ctx: Knn(ctx, KNN_LARGE),
    "point_lookups": lambda ctx: Lookups(ctx, LOOKUPS),
    "geotag_write": lambda ctx: Geotag(ctx, GEOTAG),
}

def start_session(nproc: int, work: str):
    from cityfinder_spark.session import get_spark

    return get_spark(
        "perfbench",
        cores=nproc,
        shuffle_partitions=nproc,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": "-Djava.io.tmpdir="
            + os.path.join(work, "tmp"),
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def timed_loop(ctx: Ctx, wl, seconds: float, traced: bool) -> tuple[list, list]:
    """Run wl.op() until `seconds` have passed and at least wl.min_ops ran.
    In a traced run ops alternate untraced/traced; returns the per-op
    times of each kind."""
    plain, traced_t = [], []
    t_end = time.perf_counter() + seconds
    i = 0
    while i < max(wl.min_ops, 2 if traced else 1) or time.perf_counter() < t_end:
        ctx.tracer.enabled = traced and i % 2 == 1
        ctx.tracer.request = f"op-{i}"
        t = time.perf_counter()
        try:
            wl.op()
        except Exception:
            ctx.fail_op(f"op {i}")
        (traced_t if ctx.tracer.enabled else plain).append(time.perf_counter() - t)
        i += 1
    ctx.tracer.enabled = traced
    ctx.tracer.request = None
    return plain, traced_t


def run(args, t_process_start: float, work: str) -> dict:
    nproc = len(os.sched_getaffinity(0))
    traced = args.trace == 1
    tracer = Tracer(traced)
    with common.MemSampler() as mem:
        t = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = start_session(nproc, work)
        session_s = time.perf_counter() - t
        ctx = Ctx(args, spark, tracer, work, nproc)
        wl = WORKLOADS[args.workload](ctx)
        phases = {"session": session_s}
        try:
            mark = time.perf_counter()

            def phase(name):
                nonlocal mark
                now = time.perf_counter()
                phases[name] = now - mark
                mark = now

            wl.setup()
            phase("inputs")
            with tracer.span("warmup"):
                wl.warmup()
            phase("warmup")
            setup_s = time.perf_counter() - t_process_start
            before = common.executor_totals(spark)
            plain, traced_t = timed_loop(ctx, wl, args.seconds, traced)
            exec_delta = common.delta(common.executor_totals(spark), before)
            phase("timed")
            n_ops = len(plain) + len(traced_t)
            ctx.attempted += n_ops
            wl.check()
            phase("check")
            if traced:
                wl.trace_layers(exec_delta, n_ops)
                phase("trace_layers")
        finally:
            wl.cleanup()
            stop_session(spark)
    ctx.layer["session.start_s"] = session_s
    rows_per_s, lat_s = wl.e2e(plain + traced_t)
    p_tail, pct = tail(lat_s)
    e2e = {
        "setup_s": setup_s,
        "rows_per_s": rows_per_s,
        "latency_p50_ms": median(lat_s) * 1e3,
        "peak_pss_mb": mem.peak / 2**20,
    }
    ctx.report.append(
        f"{args.workload}: {wl.loop}; {n_ops} timed ops, {len(lat_s)} latency "
        f"samples, p{pct} {p_tail * 1e3:.1f} ms; checks {ctx.attempted - ctx.failed}"
        f"/{ctx.attempted} correct"
    )
    if traced:
        lay = ctx.layer
        for key in common.EXEC_FIELDS:
            lay[f"exec.{key}"] = exec_delta[key] / max(1, n_ops)
        lay["exec.failed_tasks"] = exec_delta["failed_tasks"]
        lay["latency.tail_ms"] = p_tail * 1e3
        lay["latency.tail_pct"] = float(pct)
        lay["latency.samples"] = float(len(lat_s))
        lay["error_rate"] = ctx.failed / max(1, ctx.attempted)
        lay["trace.overhead_share"] = (
            median(traced_t) / median(plain) - 1.0 if plain and traced_t else 0.0
        )
        for name, secs in tracer.self_times().items():
            lay[f"self_s.{name}"] = secs
        tracer.write(os.path.join(work, f"trace-{args.workload}-{args.seed}.json"))
        metrics = {k: {"value": float(lay.get(k, 0.0)), "unit": u}
                   for k, u in units("per_layer").items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u}
                   for k, u in units("end_to_end").items()}
    ctx.report.append("phases (s): " + ", ".join(f"{k} {v:.1f}" for k, v in phases.items()))
    ctx.report.append("e2e: " + ", ".join(f"{k}={v:.4g}" for k, v in e2e.items()))
    return {"correct": ctx.failed == 0, "attempted": max(1, ctx.attempted),
            "failed": ctx.failed, "metrics": metrics, "report": ctx.report}


def units(section: str) -> dict[str, str]:
    """Metric -> unit for one section of BENCHMARK.json."""
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}
