"""The benchmark's workloads: seeded inputs, one measured pass, checks.

A workload object is built on a live session. ``setup`` generates its
inputs from the seed and returns the list of failed input checks;
``run_pass`` runs the measured work once and returns each step's wall
time and the list of failed output checks.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from xml.etree import ElementTree

import numpy as np

# ------------------------------------------------------------ netex_world

N_AREAS = 8
# sha256 of the NeTEx document for N_AREAS areas. It is the same for every
# seed: the seed moves only POI geometries, and the pipeline joins POIs
# to access spaces by id, so no seeded value reaches the document.
DOC_SHA256 = "4b2fee47c25a52ca53cdd5a1f870b3a5e080f0b1c844de97029ed1893097bf13"
# document element -> its expected count, from the world's tables
_ELEMENT_COUNTS = {
    "StopPlace": lambda w: len(w["stop_areas"]),
    # one Quay per IFOPT; a multi-IFOPT platform is split into one each
    "Quay": lambda w: len({i for p in w["platforms"] for i in p[2].split(";")}),
    "Entrance": lambda w: len(w["entrances"]),
    "Parking": lambda w: len(w["parking"]),
}


class NetexWorld:
    """A synthetic OSM world of N_AREAS stop areas through the whole
    checkpointed NeTEx pipeline into a fresh workdir."""

    name = "netex_world"
    steps = ("doc_cold_s",)

    def __init__(self, spark, seed: int, workdir: str, tracer):
        self.spark, self.seed, self.workdir, self.tracer = spark, seed, workdir, tracer
        self.passes = 0
        self.digest = None

    def setup(self) -> list[str]:
        from osm2vdv462_spark.pipeline.world import build_world

        # the runner builds the same world from (N_AREAS, seed)
        world = build_world(N_AREAS, self.seed)
        self.want_counts = {tag: f(world) for tag, f in _ELEMENT_COUNTS.items()}
        return []

    def run_pass(self) -> tuple[dict, list[str]]:
        from osm2vdv462_spark.pipeline import runner
        from osm2vdv462_spark.pipeline.validate import validate_document

        wd = os.path.join(self.workdir, f"netex_{self.passes}")
        self.passes += 1
        t0 = time.perf_counter()
        res = runner.run_full_pipeline(self.spark, wd, n_areas=N_AREAS, seed=self.seed)
        times = {"doc_cold_s": time.perf_counter() - t0}
        with open(res["document"], "rb") as fh:
            doc = fh.read()
        shutil.rmtree(wd, ignore_errors=True)
        errors = validate_document(doc.decode("utf-8"))[:5]
        counts = dict.fromkeys(_ELEMENT_COUNTS, 0)
        for e in ElementTree.fromstring(doc).iter():
            tag = e.tag.rsplit("}", 1)[-1]
            if tag in counts:
                counts[tag] += 1
        if counts != self.want_counts:
            errors.append(f"document elements {counts} != {self.want_counts}")
        digest = hashlib.sha256(doc).hexdigest()
        if digest != DOC_SHA256:
            errors.append(f"document sha256 {digest} != the recorded digest")
        if self.digest not in (None, digest):
            errors.append("document changed between passes")
        self.digest = digest
        return times, errors

    def detail(self, medians: dict) -> dict:
        return {"n_areas": N_AREAS, "document_sha256": self.digest}


# ------------------------------------------------------------ geo_images

# points through the Arrow / pandas-UDF PIP + kNN, and rows of the
# image+caption table
SIZES = {"arrow": 125_000, "images": 1_000}
HOT_SHARE = 0.8  # share of points in the hot spot
HOT_HALF = 0.02  # half-width (deg) of the hot spot; inside one octagon
N_ORACLE = 600  # seeded sample checked against the numpy oracle


def write_dims(sf_dir: str, event_ids: np.ndarray) -> None:
    """The three source tables the geo layers derive from: ``nation``
    (25 stop-area octagons), ``supplier`` (1000 quays) and ``events``
    (one image per row)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(
        pa.table({"n_nationkey": pa.array(range(25), pa.int32())}),
        os.path.join(sf_dir, "nation.parquet"),
    )
    pq.write_table(
        pa.table({"s_suppkey": pa.array(range(1000), pa.int64())}),
        os.path.join(sf_dir, "supplier.parquet"),
    )
    pq.write_table(
        pa.table({"event_id": pa.array(event_ids, pa.int64())}),
        os.path.join(sf_dir, "events.parquet"),
    )


def hot_center(seed: int) -> tuple[float, float]:
    """Centre of the stop-area octagon that holds the hot spot."""
    from osm2vdv462_spark.pipeline import datagen as dg

    k = seed % 25
    return dg.GRID_LON0 + dg.GRID_STEP * (k % 5), dg.GRID_LAT0 + dg.GRID_STEP * (k // 5)


# The point stream: three uniforms per id from a 32-bit integer hash whose
# every intermediate fits a signed long, so Spark (ANSI arithmetic) and
# numpy compute bit-identical geotags and the oracle needs no Spark job.
_GOLDEN = 2654435761
_MIX = 0x45D9F3B
_M32 = 0xFFFFFFFF


def _salt(seed: int, k: int) -> int:
    return ((seed % 1_000_003) * 3 + k) * 40503


def with_points(ids_df, seed: int):
    """Geotags for an ``id`` column: HOT_SHARE of them uniform in a
    square around ``hot_center`` and the rest uniform over the grid.
    Pure Spark expressions of (id, seed), so any prefix of the id range
    is a prefix of one stream. ``points_np`` is the numpy twin."""
    from pyspark.sql import functions as F

    def u(k: int):
        x = (F.col("id") * _GOLDEN + _salt(seed, k)).bitwiseAND(_M32)
        for _ in range(2):
            x = (x.bitwiseXOR(F.shiftright(x, 16)) * _MIX).bitwiseAND(_M32)
        return x.bitwiseXOR(F.shiftright(x, 16)) / 4294967296.0

    cx, cy = hot_center(seed)
    hot = u(0) < HOT_SHARE
    lon = F.when(hot, cx + (u(1) - 0.5) * (2 * HOT_HALF)).otherwise(-0.25 + u(1) * 0.5)
    lat = F.when(hot, cy + (u(2) - 0.5) * (2 * HOT_HALF)).otherwise(-0.25 + u(2) * 0.5)
    return ids_df.select(
        F.col("id").alias("event_id"), lon.alias("lon"), lat.alias("lat")
    )


def points_np(ids: np.ndarray, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """(lon, lat) of ``with_points`` for the given ids, in numpy."""

    def u(k: int):
        x = (ids.astype(np.int64) * _GOLDEN + _salt(seed, k)) & _M32
        for _ in range(2):
            x = ((x ^ (x >> 16)) * _MIX) & _M32
        return (x ^ (x >> 16)) / 4294967296.0

    cx, cy = hot_center(seed)
    hot = u(0) < HOT_SHARE
    lon = np.where(hot, cx + (u(1) - 0.5) * (2 * HOT_HALF), -0.25 + u(1) * 0.5)
    lat = np.where(hot, cy + (u(2) - 0.5) * (2 * HOT_HALF), -0.25 + u(2) * 0.5)
    return lon, lat


def _digest():
    """Order-free digest of the (point, stop area, nearest quay) rows."""
    from pyspark.sql import functions as F

    cols = [
        F.col("event_id").cast("long"),
        F.coalesce(F.col("relation_id").cast("long"), F.lit(-1)),
        F.col("quay_id").cast("long"),
    ]
    return F.sum(F.xxhash64(*cols).bitwiseAND(F.lit(0xFFFFFFFF)))


def haversine_m(lon1, lat1, lon2, lat2):
    # written here, not imported from the engine: the oracle is a reference
    lon1, lat1, lon2, lat2 = (np.radians(a) for a in (lon1, lat1, lon2, lat2))
    h = (
        np.sin((lat2 - lat1) / 2) ** 2
        + np.cos(lat1) * np.cos(lat2) * np.sin((lon2 - lon1) / 2) ** 2
    )
    return 2 * 6_371_008.8 * np.arcsin(np.sqrt(np.clip(h, 0.0, 1.0)))


def oracle(lon: np.ndarray, lat: np.ndarray):
    """Brute force: the stop-area octagon holding each point (the exact
    algebraic predicate behind ``datagen.SQL_OCTAGONS_JOIN``, -1 for
    none) and the nearest quay with its distance (min id on ties)."""
    from osm2vdv462_spark.pipeline import datagen as dg

    rel = np.full(len(lon), -1, np.int64)
    for k in range(25):
        dx = np.abs(lon - (dg.GRID_LON0 + dg.GRID_STEP * (k % 5)))
        dy = np.abs(lat - (dg.GRID_LAT0 + dg.GRID_STEP * (k // 5)))
        rel[(dx < dg.OCT_A) & (dy < dg.OCT_A) & (dx + dy < dg.OCT_B)] = k
    q = np.arange(1000)
    qlon = -0.22 + 0.043 * (q % 997)
    qlat = -0.09 + 0.017 * (q % 983)
    d = haversine_m(lon[:, None], lat[:, None], qlon[None, :], qlat[None, :])
    return rel, np.argmin(d, axis=1), d


class GeoImages:
    """Seeded hot-spot geotags through the Arrow PIP + kNN, then the
    image+caption DAG (whose ``join_rows`` stage is the codegen PIP + kNN)
    into a fresh workdir and its resume on the finished one."""

    name = "geo_images"
    steps = ("join_arrow_s", "image_dag_s", "image_resume_s")

    def __init__(self, spark, seed: int, workdir: str, tracer):
        self.spark, self.seed, self.workdir, self.tracer = spark, seed, workdir, tracer
        self.sf_dir = os.path.join(workdir, "sf")
        self.passes = 0
        self.first: dict = {}  # digests of the first pass

    def setup(self) -> list[str]:
        from osm2vdv462_spark.pipeline import datagen

        first_event = (self.seed % 1000) * SIZES["images"]
        self.event_ids = np.arange(first_event, first_event + SIZES["images"])
        write_dims(self.sf_dir, self.event_ids)
        self.polys = datagen.stop_area_octagons(self.spark, self.sf_dir)
        self.quays = datagen.quay_sites(self.spark, self.sf_dir)
        parts = self.spark.sparkContext.defaultParallelism * 4
        self.points = with_points(
            self.spark.range(0, SIZES["arrow"], 1, parts), self.seed
        )
        # the oracle sample: seeded ids of the point stream
        rng = np.random.default_rng(self.seed)
        self.sample = np.sort(rng.choice(SIZES["arrow"], N_ORACLE, replace=False))
        lon, lat = points_np(self.sample, self.seed)
        cx, cy = hot_center(self.seed)
        hot = (np.abs(lon - cx) < HOT_HALF) & (np.abs(lat - cy) < HOT_HALF)
        self.want = oracle(lon, lat)
        # the image geotags: datagen's integer formula on the event ids
        grid = (self.event_ids * 37 + 11) % 2000, (self.event_ids * 73 + 29) % 2000
        self.want_images = oracle(-0.25 + grid[0] / 4000.0, -0.25 + grid[1] / 4000.0)
        return [] if hot.any() else ["oracle sample misses the hot spot"]

    def _span(self, layer: str):
        import contextlib

        return self.tracer.span(layer) if self.tracer else contextlib.nullcontext()

    def _aggs(self) -> list:
        """Aggregates that consume the join's whole output: row count,
        order-free digest, and the rows of the oracle sample."""
        from pyspark.sql import functions as F

        picked = F.struct(
            F.col("event_id").cast("long").alias("e"),
            F.col("relation_id").cast("long").alias("r"),
            F.col("quay_id").cast("long").alias("q"),
        )
        in_sample = F.col("event_id").isin([int(i) for i in self.sample])
        return [
            F.count(F.lit(1)).alias("n"),
            _digest().alias("digest"),
            F.collect_list(F.when(in_sample, picked)).alias("sample"),
        ]

    def run_pass(self) -> tuple[dict, list[str]]:
        from osm2vdv462_spark.operators import fused
        from osm2vdv462_spark.pipeline import geopipe

        times = {}
        t0 = time.perf_counter()
        df = fused.pip_knn_assign(
            self.points, self.polys, self.quays, point_keep=["event_id"],
            poly_id="relation_id", target_id="quay_id", poly_res=12,
            target_res=8, max_rings=3,
        )
        with self._span("operators.fused"):  # the action runs the plan
            digest = df.agg(*self._aggs()).collect()[0].asDict(recursive=True)
        times["join_arrow_s"] = time.perf_counter() - t0

        wd = os.path.join(self.workdir, f"images_{self.passes}")
        self.passes += 1
        stats = []
        for step in ("image_dag_s", "image_resume_s"):
            t0 = time.perf_counter()
            res = geopipe.run_image_pipeline(
                self.spark, wd, self.sf_dir, every=1, mixed_formats=True
            )
            times[step] = time.perf_counter() - t0
            stats.append(res["stats"])
        errors = self._check_join(digest) + self._check_images(stats, wd)
        shutil.rmtree(wd, ignore_errors=True)
        return times, errors

    def _check_oracle(self, what: str, want, rows: list[dict]) -> list[str]:
        """Rows ``{"e": position, "r": stop area, "q": quay}`` against the
        numpy brute force ``want`` for the same points."""
        want_rel, want_quay, dist = want
        expect = {k: int(r) for k, r in enumerate(want_rel) if r >= 0}
        have = {r["e"]: r["r"] for r in rows if r["r"] is not None}
        errors = []
        if have != expect:
            errors.append(f"{what}: stop areas differ from the oracle")
        if len(rows) != len(want_rel):
            errors.append(f"{what}: {len(rows)} rows for {len(want_rel)} points")
        for r in rows:
            k, q = r["e"], r["q"]
            # another quay is accepted only at a distance tie
            if q != want_quay[k] and dist[k, q] > dist[k, want_quay[k]] * (1 + 1e-12):
                errors.append(f"{what}: nearest quay differs from the oracle")
                break
        return errors

    def _check_join(self, d: dict) -> list[str]:
        pos = {int(i): k for k, i in enumerate(self.sample)}
        rows = [{**r, "e": pos[r["e"]]} for r in d.pop("sample")]
        errors = self._check_oracle("join_arrow_s", self.want, rows)
        if d["n"] != SIZES["arrow"]:
            errors.append(f"Arrow join gave {d['n']} rows for {SIZES['arrow']} points")
        if self.first.setdefault("join", d) != d:
            errors.append("join digest changed between passes")
        return errors

    def _check_images(self, stats: list[dict], wd: str) -> list[str]:
        import pyarrow.parquet as pq

        cold, resume = stats
        errors = []
        flags = pq.read_table(
            os.path.join(wd, "verify"), columns=["pixel_ok", "caption_ok", "phash_ok"]
        )
        n_bad = sum(
            flags.num_rows - int(np.asarray(flags.column(c)).sum())
            for c in flags.column_names
        )
        if n_bad:
            errors.append(f"{n_bad} image verify flags are false")
        if cold["images"]["rows"] != SIZES["images"]:
            errors.append(f"{cold['images']['rows']} images != {SIZES['images']}")
        if cold["join_rows"]["rows"] != cold["images"]["rows"]:
            errors.append("join-row count != image count")
        joined = pq.read_table(
            os.path.join(wd, "join_rows"), columns=["image_id", "relation_id", "quay_id"]
        ).to_pylist()
        first_event = int(self.event_ids[0])
        rows = [
            {"e": int(r["image_id"][4:]) - first_event, "r": r["relation_id"],
             "q": r["quay_id"]}
            for r in joined
        ]
        errors += self._check_oracle("join_rows (codegen)", self.want_images, rows)
        hashes = {k: v["content_hash"] for k, v in cold.items()}
        if not all(s["skipped"] for s in resume.values()):
            errors.append("image resume recomputed a stage")
        if {k: v["content_hash"] for k, v in resume.items()} != hashes:
            errors.append("image resume changed a stage content hash")
        if self.first.setdefault("images", hashes) != hashes:
            errors.append("image stage content hashes changed between passes")
        return errors

    def smoke(self) -> list[dict]:
        """Each public spatial-join entry point once, on a tiny input,
        with its optional parameters left at their defaults."""
        from osm2vdv462_spark.operators import fused, jvm_pip, knn, spatial_join

        pts = with_points(self.spark.range(0, 200, 1, 2), self.seed)
        from pyspark.sql import functions as F

        polys, quays = self.polys, self.quays
        other = polys.select(
            F.col("relation_id").alias("other_id"), F.col("geom").alias("other_geom")
        )
        keep = dict(point_keep=["event_id"])
        calls = {
            "spatial_join.pip_join_broadcast": lambda: spatial_join.pip_join_broadcast(
                pts, polys, poly_id="relation_id", **keep),
            "spatial_join.pip_join_shuffle": lambda: spatial_join.pip_join_shuffle(
                pts, polys, poly_id="relation_id", **keep),
            "spatial_join.touches_join": lambda: spatial_join.touches_join(
                polys, other, left_id="relation_id", left_wkb="geom",
                right_id="other_id", right_wkb="other_geom"),
            "fused.pip_knn_assign": lambda: fused.pip_knn_assign(
                pts, polys, quays, **keep),
            "jvm_pip.pip_knn_assign_jvm": lambda: jvm_pip.pip_knn_assign_jvm(
                pts, polys, quays, **keep),
            "jvm_pip.pip_knn_assign_codegen": lambda: jvm_pip.pip_knn_assign_codegen(
                pts, polys, quays, **keep),
            "knn.knn_join_broadcast": lambda: knn.knn_join_broadcast(
                pts, quays, target_id="quay_id", **keep),
            "knn.dwithin_join_broadcast": lambda: knn.dwithin_join_broadcast(
                pts, quays, target_id="quay_id", **keep),
        }
        out = []
        for name, call in calls.items():
            t0 = time.perf_counter()
            try:
                out.append({"entry": name, "ok": True, "rows": call().count()})
            except Exception as e:  # a defect is reported, not routed around
                lines = str(e).strip().splitlines() or [""]
                out.append({"entry": name, "ok": False,
                            "error": f"{type(e).__name__}: {lines[0][:160]}"})
            out[-1]["s"] = round(time.perf_counter() - t0, 3)
        return out

    def detail(self, medians: dict) -> dict:
        n = SIZES
        return {
            "sizes": n,
            "join_arrow_pts_per_s": n["arrow"] / medians["join_arrow_s"],
            "images_per_s": n["images"] / medians["image_dag_s"],
        }


WORKLOADS = {w.name: w for w in (NetexWorld, GeoImages)}
