"""The five benchmark workloads.

Each workload builds its inputs from the seed (pandas/numpy, written to
parquet under the run's work directory), computes its oracle once, loads
the inputs into Spark, and runs one *op* at a time: a full job iteration
for the batch workloads, one request for ``tile_requests``.  An op calls
the public operator functions through ``step(name, build, consume)`` so
the traced run can put a span and a Spark job group around every call;
``consume`` pulls the whole output to the driver (collect or Arrow
``toPandas``), never a bare ``count()``.  ``check`` compares one op's
output with the oracle outside the timed region and returns the list of
mismatches.

Input generation and oracle computation are not part of ``setup_s``;
``load`` (parquet read + cache fill) and ``warmup`` are.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from rasterkit_spark import api
from rasterkit_spark import kernels as K
from rasterkit_spark.fixtures import corpus as CP
from rasterkit_spark.fixtures import oracle as OR
from rasterkit_spark.io import tiffcodec as TC
from rasterkit_spark.operators import dedup as DD
from rasterkit_spark.operators import extract as EX
from rasterkit_spark.operators import spatial as SP

# ---------------------------------------------------------------------------
# sizes (``tiny`` is the self-test scale)
# ---------------------------------------------------------------------------

SIZES = {
    "full": dict(
        raster_media=24, raster_px=1024, raster_tile=128, raster_queries=72,
        ingest_media=16, ingest_files=12,
        req_media=20, req_px=512, req_queries=40,
        pip_points=200_000, pip_polys=120, knn_points=8_000,
        knn_queries=2_000, docs=2_000),
    "tiny": dict(
        raster_media=8, raster_px=256, raster_tile=64, raster_queries=8,
        ingest_media=4, ingest_files=4,
        req_media=8, req_px=256, req_queries=10,
        pip_points=5_000, pip_polys=12, knn_points=800,
        knn_queries=100, docs=200),
}

_ARROW_TYPES = {"string": pa.string(), "int": pa.int32(), "long": pa.int64(),
                "double": pa.float64(), "binary": pa.binary(),
                "boolean": pa.bool_()}


def write_parquet(pdf: pd.DataFrame, ddl: str, path: str,
                  n_files: int) -> None:
    """Write ``pdf`` as ``n_files`` parquet files typed by the flat DDL, so
    Spark reads it back with the fixture schema and ``n_files`` tasks."""
    names = [p.strip().split()[0] for p in ddl.split(",")]
    kinds = CP._col_kinds(ddl)
    schema = pa.schema([(n, _ARROW_TYPES[k]) for n, k in zip(names, kinds)])
    rows = CP._records(pdf[names], ddl)
    os.makedirs(path, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(rows)), n_files)):
        cols = [[rows[j][c] for j in part] for c in range(len(names))]
        table = pa.Table.from_arrays(
            [pa.array(c, type=t) for c, t in zip(cols, schema.types)],
            schema=schema)
        pq.write_table(table, os.path.join(path, f"part-{i:03d}.parquet"))


def sha(buf) -> str:
    return hashlib.sha256(bytes(buf)).hexdigest()


def read_back_sha(path: str) -> str:
    """sha256 of the pixels of a single-strip GeoTIFF written by the sink,
    read back through ``io.tiffcodec``."""
    with open(path, "rb") as f:
        buf = f.read()
    ifd = TC.read_tiff(buf)[0][0]
    off = ifd.get(TC.TAG_STRIP_OFFSETS)
    return sha(buf[off:off + ifd.get(TC.TAG_STRIP_BYTE_COUNTS)])


def _collect(cols):
    return lambda df: df.select(*cols).toPandas()


# ---------------------------------------------------------------------------
# shared raster inputs
# ---------------------------------------------------------------------------

def raster_corpus(seed: int, n_media: int, px: int, tile: int,
                  n_queries: int, levels: int) -> CP.Corpus:
    """COG-geometry fixture corpus: ``px``² rasters, ``tile``-px tiles
    (strip rasters use ``tile``-row strips), the fixture's
    none/deflate/zstd × predictor cycle."""
    return CP.build_corpus(n_media=n_media, n_docs=1, n_queries=n_queries,
                           seed=seed, sizes=(px,), tile_size=tile,
                           rps_choices=(tile,), levels=levels,
                           null_rps_every=0)


def centred_zones(catalog: pd.DataFrame, seed: int, n_zones: int = 8,
                  frac: float = 0.3) -> pd.DataFrame:
    """Octagon zones (in 4326) near the centre of each raster's footprint,
    radius ``frac`` of its shorter side.  ``fixtures.corpus.make_zones``
    draws each radius from 0.2–0.5 of the footprint, so the zonal join's
    tile rows spread ~60% (IQR ÷ median) across seeds, and the units per
    op with them.  Zones with fixed radii still read every raster they
    overlap, which the seed's raster layout decides."""
    rng = np.random.default_rng((seed, 5))
    rasters = catalog[catalog.media_kind == "raster"].reset_index(drop=True)
    rows = []
    for z in range(n_zones):
        rec = rasters.iloc[z % len(rasters)]
        fw, fh = rec.width * rec.pixel_sx, rec.height * rec.pixel_sy
        cx = rec.origin_x + fw * float(rng.uniform(0.45, 0.55))
        cy = rec.origin_y - fh * float(rng.uniform(0.45, 0.55))
        r = min(fw, fh) * frac
        if rec.epsg == 3857:
            lon, lat = K.webmercator_to_wgs84(np.array([cx]), np.array([cy]))
            cx, cy = float(lon[0]), float(lat[0])
            r = r / 111_320.0 / max(np.cos(np.radians(cy)), 0.2)
        pts = [(cx + r * np.cos(t), cy + r * np.sin(t))
               for t in np.linspace(0, 2 * np.pi, 9)]
        pts[-1] = pts[0]  # close the ring exactly
        rows.append(dict(zone_id=f"z_{z:03d}", epsg=4326,
                         polygon_wkt="POLYGON((" + ", ".join(
                             f"{x:.6f} {y:.6f}" for x, y in pts) + "))"))
    return pd.DataFrame(rows)


def chunk_geometry(cat_row, level: int = 0):
    w, h = int(cat_row.width) >> level, int(cat_row.height) >> level
    cw, ch, _ = CP.chunk_layout(w, h, cat_row.tile_w, cat_row.tile_h,
                                cat_row.rows_per_strip)
    return w, h, cw, ch


def decode_tile(blob, cat_row, level: int = 0, compression=None):
    w, h, cw, ch = chunk_geometry(cat_row, level)
    comp = int(cat_row.compression if compression is None else compression)
    return K.decode_chunk(bytes(blob), comp, int(cat_row.predictor),
                          cw, ch, 1)


def matched_tiles(corpus: CP.Corpus, expected: pd.DataFrame) -> list:
    """(media_ref, tile_idx) per matched (query, tile) row."""
    return [(r.media_ref, t) for r in expected.itertuples()
            for t in r.tile_idx]


def components(edges: pd.DataFrame, n: int):
    """Union-find over ``edges`` (id_a, id_b) on nodes 0..n-1 → (component
    id per node = its minimum member, component size per node)."""
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in zip(edges.id_a, edges.id_b):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    roots = np.array([find(x) for x in range(n)])
    return roots, np.bincount(roots, minlength=n)[roots]


def check_windows(got: pd.DataFrame, want: pd.DataFrame, label: str,
                  sha_col: str = "window_sha256") -> list[str]:
    """Exact comparison of extract output rows with the oracle rows."""
    got = got.set_index(["query_id", "media_ref"]).sort_index()
    want = want.set_index(["query_id", "media_ref"]).sort_index()
    if not got.index.equals(want.index):
        return [f"{label}: {len(got)} rows, oracle has {len(want)}"]
    bad = []
    for col in ("region_x", "region_y", "region_w", "region_h",
                "new_origin_x", "new_origin_y", sha_col):
        if col in got.columns and not np.array_equal(
                got[col].to_numpy(), want[col].to_numpy()):
            bad.append(f"{label}: column {col} differs")
    return bad


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

@dataclass
class Workload:
    seed: int
    size: dict
    work_dir: str
    name = ""
    unit = ""
    matched_tiles = ()  # (media_ref, tile_idx) per matched extract row
    op_batch = 1        # a run measures a multiple of this many ops
    warm_ops = 1        # warm-up ops before the measured phase

    def load_tables(self, spark, names) -> dict:
        out = {}
        for n in names:
            df = spark.read.parquet(os.path.join(self.work_dir, n)).cache()
            df.count()
            out[n] = df
        return out

    def unload(self) -> None:
        for df in getattr(self, "t", {}).values():
            df.unpersist()

    def warmup(self, step) -> list:
        """``warm_ops`` ops of each kind, outside the measured phase;
        returns the (op index, output) pairs for the caller to check."""
        return [(-1 - k, self.op(-1 - k, step))
                for k in range(self.warm_ops)]

    def trace_ratios(self) -> dict:
        """Useful-outcome ratios for the traced run's per-op breakdown."""
        return {}

    def tile_reuse_ratio(self) -> float:
        """Distinct tiles ÷ matched (query, tile) rows (1.0: no reuse)."""
        m = self.matched_tiles
        return len(set(m)) / max(len(m), 1)


class RasterBatch(Workload):
    """extract (default: broadcast keys) → zonal.
    ``extract(broadcast_tiles=True)`` is not in the op: with it, a run
    measuring two ops does not fit the benchmark's time budget."""
    name, unit = "raster_batch", "queries"
    # a run measures two ops (~7–10 s each) whatever --seconds below
    # ~14 s, so every run measures the same number of ops
    op_batch = 2

    def prepare(self) -> None:
        s = self.size
        self.corpus = c = raster_corpus(self.seed, s["raster_media"],
                                        s["raster_px"], s["raster_tile"],
                                        s["raster_queries"], levels=2)
        c.zones = centred_zones(c.media_catalog, self.seed)
        for n in ("media_catalog", "queries_bbox", "zones", "tiles"):
            write_parquet(getattr(c, n), CP._SCHEMAS[n],
                          os.path.join(self.work_dir, n), 4)
        self.want_windows = OR.expected_all_bbox(c)
        self.want_zonal = OR.expected_zonal(c).sort_values(
            ["zone_id", "media_ref"]).reset_index(drop=True)
        self.matched_tiles = matched_tiles(c, self.want_windows)
        # queries answered: bbox queries plus zones.  Matched (query or
        # zone, tile) rows spread ~20% (IQR ÷ median) across seeds with how
        # the seed lays out overlapping rasters, while op time does not
        # follow them (an op is bound by jobs, not by tiles read)
        self.units = len(c.queries_bbox) + len(c.zones)

    def load(self, spark) -> None:
        self.t = self.load_tables(
            spark, ["media_catalog", "queries_bbox", "zones", "tiles"])

    def corrupt(self) -> None:
        self.want_windows.loc[0, "window_sha256"] = "0" * 64

    def trace_ratios(self) -> dict:
        return {"raster_batch.tile_reuse_ratio": self.tile_reuse_ratio()}

    def op(self, i, step):
        t = self.t
        cols = ["query_id", "media_ref", "region_x", "region_y", "region_w",
                "region_h", "window_sha256", "new_origin_x", "new_origin_y"]
        w = step("extract_keys_bcast", lambda: EX.extract(
            t["queries_bbox"], t["media_catalog"], t["tiles"]),
            _collect(cols))
        z = step("zonal_stats", lambda: api.zonal_stats(
            t["zones"], t["media_catalog"], t["tiles"]),
            lambda df: df.toPandas())
        return w, z

    def check(self, i, out):
        w, z = out
        bad = check_windows(w, self.want_windows, "extract_keys_bcast")
        got = z.sort_values(["zone_id", "media_ref"]).reset_index(drop=True)
        want = self.want_zonal
        if len(got) != len(want) or not all(
                np.array_equal(got[c].to_numpy(), want[c].to_numpy())
                for c in want.columns):
            bad.append("zonal_stats: rows differ from the oracle")
        return self.units, bad


class RasterIngest(Workload):
    """convert_compression → build_pyramid(levels=2) → extract_to_files."""
    name, unit = "raster_ingest", "tiles_written"
    target = K.COMPRESSION_DEFLATE

    def prepare(self) -> None:
        s = self.size
        c = raster_corpus(self.seed, s["ingest_media"], s["raster_px"],
                          s["raster_tile"], s["ingest_files"], levels=3)
        level0 = c.tiles[c.tiles.level == 0]
        for n, pdf in (("media_catalog", c.media_catalog),
                       ("queries_bbox", c.queries_bbox), ("tiles", level0)):
            write_parquet(pdf, CP._SCHEMAS[n],
                          os.path.join(self.work_dir, n), 4)
        cat = c.media_catalog.set_index("media_ref", drop=False)
        self.cat = cat
        # decode-equality oracle for the conversion, fixture overview
        # tiles (decoded) for the pyramid, window shas for the files
        self.want_raw = {
            (r.media_ref, r.tile_x, r.tile_y):
                sha(K.decompress(bytes(r.blob), int(cat.loc[r.media_ref,
                                                            "compression"])))
            for r in level0.itertuples()}
        over = c.tiles[c.tiles.level > 0]
        self.want_pyramid = {
            (r.media_ref, r.level, r.tile_x, r.tile_y):
                sha(decode_tile(r.blob, cat.loc[r.media_ref], r.level))
            for r in over.itertuples()}
        self.want_files = OR.expected_all_bbox(c).set_index(
            ["query_id", "media_ref"])["window_sha256"].to_dict()
        self.units = (len(self.want_raw) + len(self.want_pyramid)
                      + len(self.want_files))

    def load(self, spark) -> None:
        self.t = self.load_tables(spark,
                                  ["media_catalog", "queries_bbox", "tiles"])

    def corrupt(self) -> None:
        key = next(iter(self.want_raw))
        self.want_raw[key] = "0" * 64

    def op(self, i, step):
        t = self.t
        conv = step("convert_compression", lambda: api.convert_compression(
            t["tiles"], t["media_catalog"], self.target),
            _collect(["media_ref", "level", "tile_x", "tile_y", "blob"]))
        pyr = step("build_pyramid", lambda: api.build_pyramid(
            t["tiles"], t["media_catalog"], levels=2),
            _collect(["media_ref", "level", "tile_x", "tile_y", "blob"]))
        out_dir = os.path.join(self.work_dir, f"files-{i}")
        shutil.rmtree(out_dir, ignore_errors=True)
        files = step("extract_to_files", lambda: api.extract_to_files(
            t["queries_bbox"], t["media_catalog"], t["tiles"], out_dir),
            lambda df: df.toPandas())
        return conv, pyr, files, out_dir

    def check(self, i, out):
        conv, pyr, files, out_dir = out
        bad = []
        got_raw = {(r.media_ref, r.tile_x, r.tile_y):
                   sha(K.decompress(bytes(r.blob), self.target))
                   for r in conv.itertuples()}
        if got_raw != self.want_raw:
            bad.append("convert_compression: decoded tiles differ")
        got_pyr = {(r.media_ref, r.level, r.tile_x, r.tile_y):
                   sha(decode_tile(r.blob, self.cat.loc[r.media_ref],
                                   r.level))
                   for r in pyr.itertuples()}
        if got_pyr != self.want_pyramid:
            bad.append("build_pyramid: overview tiles differ")
        got_files = {(r.query_id, r.media_ref): read_back_sha(r.path)
                     for r in files.itertuples()}
        if got_files != self.want_files:
            bad.append("extract_to_files: read-back windows differ")
        shutil.rmtree(out_dir, ignore_errors=True)
        return self.units, bad


class TileRequests(Workload):
    """One request = one ``api.extract`` of 1-3 seeded queries over a small
    cached catalog; rasters drawn Zipf-skewed; request kinds cycle: bbox,
    point + radius, bbox with value filter and colormap."""
    name, unit = "tile_requests", "requests"
    FILTER = (40, 200)

    def prepare(self) -> None:
        s = self.size
        c = CP.build_corpus(
            n_media=s["req_media"], n_docs=1, n_queries=s["req_queries"],
            seed=self.seed, sizes=(s["req_px"],), tile_size=128,
            rps_choices=(128,), levels=1, null_rps_every=0)
        for n in ("media_catalog", "tiles", "colormaps"):
            write_parquet(getattr(c, n), CP._SCHEMAS[n],
                          os.path.join(self.work_dir, n), 4)
        cat = c.media_catalog.set_index("media_ref", drop=False)
        rasters = cat[cat.media_kind == "raster"].media_ref.tolist()
        self.bbox = c.queries_bbox[c.queries_bbox.media_ref.isin(rasters)]
        self.point = c.queries_point[c.queries_point.media_ref.isin(rasters)]
        ranks = np.arange(1, len(rasters) + 1, dtype=np.float64) ** -1.2
        self.raster_p = ranks / ranks.sum()
        self.rasters = rasters
        self.want = {}  # query_id -> unfiltered expected window
        self.query_ref = dict(zip(self.bbox.query_id, self.bbox.media_ref))
        self.query_ref.update(zip(self.point.query_id, self.point.media_ref))
        for q in self.bbox.itertuples():
            self.want[q.query_id] = OR.expected_window(
                c, q, cat.loc[q.media_ref])
        for q in self.point.itertuples():
            minx, miny, maxx, maxy = K.coord_to_bbox(
                q.x, q.y, q.radius_m, q.shape, int(q.crs))
            qq = _BBox(float(minx), float(miny), float(maxx), float(maxy),
                       int(q.crs), float(q.radius_m))
            self.want[q.query_id] = OR.expected_window(
                c, qq, cat.loc[q.media_ref])
        cm = c.colormaps
        self.cmaps = {}
        for cid, grp in cm.groupby("cmap_id"):
            grp = grp.sort_values("value")
            vals, rgb = K.colormap_trim_and_dedup(
                grp.value.to_numpy(), grp[["r", "g", "b"]].to_numpy())
            self.cmaps[cid] = (vals, rgb.astype(np.uint8),
                               grp.map_type.iloc[0])
        self.spark_schema = {"bbox": CP._SCHEMAS["queries_bbox"],
                             "point": CP._SCHEMAS["queries_point"]}
        self.tiles_of = {
            qid: [(cat_row.media_ref, t) for t in OR.expected_tile_assignment(
                exp["region"], cat_row)]
            for qid, exp in self.want.items()
            for cat_row in [cat.loc[self.query_ref[qid]]]}
        self.matched_tiles: list = []  # grows as requests are checked

    def corrupt(self) -> None:
        """Perturb the expected window of the first warm-up query."""
        qid = self.request(-len(self.MODES))[2].query_id.iloc[0]
        exp = self.want[qid]
        exp["window"] = exp["window"] ^ 1
        exp["sha256"] = sha(exp["window"].tobytes())

    def trace_ratios(self) -> dict:
        return {"tile_requests.tile_reuse_ratio": self.tile_reuse_ratio()}

    def load(self, spark) -> None:
        self.spark = spark
        self.t = self.load_tables(spark,
                                  ["media_catalog", "tiles", "colormaps"])

    #: request kinds, cycled in this order: (query table, post-op)
    MODES = (("bbox", "plain"), ("point", "plain"), ("bbox", "filter_cmap"))
    op_batch = len(MODES)  # whole cycles of request kinds

    def request(self, i):
        """(kind, mode, query rows) of request ``i``: kinds cycle through
        MODES, and the k-th request of a cycle holds k + 1 queries on
        Zipf-drawn rasters (so every cycle does the same amount of work).
        ``i < 0`` are the warm-up requests, one per kind."""
        kind, mode = self.MODES[i % len(self.MODES)]
        rng = np.random.default_rng((self.seed, i + len(self.MODES)))
        n = 1 + i % len(self.MODES)
        pool = self.bbox if kind == "bbox" else self.point
        refs = rng.choice(self.rasters, size=n, p=self.raster_p)
        rows = []
        for ref in refs:
            cand = pool[pool.media_ref == ref]
            if len(cand) == 0:
                cand = pool
            rows.append(cand.iloc[int(rng.integers(len(cand)))])
        q = pd.DataFrame(rows).drop_duplicates("query_id")
        return kind, mode, q

    def warmup(self, step) -> list:
        return [(i, self.op(i, step)) for i in range(-len(self.MODES), 0)]

    def op(self, i, step):
        kind, mode, q = self.request(i)
        t = self.t
        ddl = self.spark_schema[kind]

        def queries():
            return self.spark.createDataFrame(CP._records(q, ddl), ddl)

        kw, col = {}, "window_sha256"
        if mode == "filter_cmap":
            kw = dict(filter_range=self.FILTER, colormaps=t["colormaps"])
            col = "rgb_sha256"
        got = step("tile_request", lambda: api.extract(
            queries(), t["media_catalog"], t["tiles"], **kw),
            _collect(["query_id", "media_ref", col]))
        return mode, q, got

    def expected_sha(self, mode, qid, cmap_id) -> str:
        exp = self.want[qid]
        if mode != "filter_cmap":
            return exp["sha256"]
        # value filter, then colormap (gray → RGB without one)
        win = K.filter_values(exp["window"], *self.FILTER, 0)
        if cmap_id in self.cmaps:
            vals, rgb, mtype = self.cmaps[cmap_id]
            out = K.apply_colormap(win.astype(np.uint16), vals, rgb, mtype)
        else:
            out = np.repeat(win[..., None], 3, axis=2)
        return sha(out.tobytes())

    def check(self, i, out):
        mode, q, got = out
        if sorted(got.query_id) != sorted(q.query_id):
            return 1, [f"request {i}: rows for {sorted(got.query_id)}, "
                       f"expected {sorted(q.query_id)}"]
        cm = dict(zip(q.query_id, q.cmap_id))
        bad = []
        for r in got.itertuples():
            self.matched_tiles.extend(self.tiles_of[r.query_id])
            got_sha = r.rgb_sha256 if mode == "filter_cmap" else \
                r.window_sha256
            if got_sha != self.expected_sha(mode, r.query_id,
                                            cm[r.query_id]):
                bad.append(f"request {i}: {mode} window of {r.query_id}")
        return 1, bad


@dataclass
class _BBox:
    """bbox-query shim for the oracle (point queries after coord_to_bbox)."""
    minx: float
    miny: float
    maxx: float
    maxy: float
    crs: int
    radius_m: float


def spatial_inputs(seed: int, size: dict):
    """Points with a planted hot cell, octagon polygons, kNN points and
    queries — all in lon/lat."""
    rng = np.random.default_rng((seed, 7))
    n = size["pip_points"]
    lon = rng.uniform(-180, 180, n)
    lat = rng.uniform(-85, 85, n)
    polys, rings = [], []
    for z in range(size["pip_polys"]):
        cx, cy = rng.uniform(-150, 150), rng.uniform(-70, 70)
        r = rng.uniform(3, 18)
        ts = np.linspace(0, 2 * np.pi, 9)[:-1]
        ring = [(cx + r * np.cos(t), cy + r * np.sin(t)) for t in ts]
        wkt = ("POLYGON((" + ", ".join(f"{x:.6f} {y:.6f}" for x, y in ring)
               + f", {ring[0][0]:.6f} {ring[0][1]:.6f}))")
        polys.append((z, wkt))
        rings.append(SP.parse_wkt_polygon(wkt))
    # hot cell: 15% of the points inside one polygon's centre cell
    hot = rng.random(n) < 0.15
    hx, hy = np.mean(rings[0][0]), np.mean(rings[0][1])
    lon[hot] = hx + rng.uniform(-0.5, 0.5, hot.sum())
    lat[hot] = hy + rng.uniform(-0.5, 0.5, hot.sum())
    points = pd.DataFrame({"id": np.arange(n, dtype=np.int64),
                           "lon": lon, "lat": lat})
    polygons = pd.DataFrame(polys, columns=["zone_id", "polygon_wkt"])
    kp = size["knn_points"]
    kpts = pd.DataFrame({"id": np.arange(kp, dtype=np.int64),
                         "lon": rng.uniform(-180, 180, kp),
                         "lat": rng.uniform(-85, 85, kp)})
    kq = size["knn_queries"]
    kqs = pd.DataFrame({"qid": np.arange(kq, dtype=np.int64),
                        "lon": rng.uniform(-180, 180, kq),
                        "lat": rng.uniform(-85, 85, kq)})
    return points, polygons, rings, kpts, kqs


class SpatialJoin(Workload):
    """pip_join (res 7) → knn_join (k=10, res 5)."""
    name, unit = "spatial_join", "rows_joined"
    K_NN = 10

    def prepare(self) -> None:
        points, polygons, rings, kpts, kqs = spatial_inputs(self.seed,
                                                            self.size)
        ddl_pts = "id long, lon double, lat double"
        write_parquet(points, ddl_pts, os.path.join(self.work_dir, "points"),
                      4)
        write_parquet(polygons, "zone_id int, polygon_wkt string",
                      os.path.join(self.work_dir, "polygons"), 1)
        write_parquet(kpts, ddl_pts, os.path.join(self.work_dir, "kpts"), 4)
        write_parquet(kqs, "qid long, lon double, lat double",
                      os.path.join(self.work_dir, "kqs"), 4)
        px, py = points.lon.to_numpy(), points.lat.to_numpy()
        pairs, cands = [], 0
        for z, (xs, ys) in enumerate(rings):
            xs, ys = np.asarray(xs), np.asarray(ys)
            inbox = np.nonzero((px >= xs.min()) & (px <= xs.max())
                               & (py >= ys.min()) & (py <= ys.max()))[0]
            cands += len(inbox)
            inside = inbox[K.points_in_polygon(px[inbox], py[inbox], xs, ys)]
            pairs.append(inside * 1000 + z)
        self.want_pip = np.sort(np.concatenate(pairs))
        self.pip_candidates = cands
        # exact kNN distances (brute force, query chunks)
        P = kpts[["lon", "lat"]].to_numpy()
        Q = kqs[["lon", "lat"]].to_numpy()
        dists = []
        for s in range(0, len(Q), 256):
            d = np.sqrt(((Q[s:s + 256, None, :] - P[None, :, :]) ** 2)
                        .sum(-1))
            dists.append(np.sort(d, axis=1)[:, :self.K_NN])
        self.want_knn = np.concatenate(dists)
        self.kpts_xy, self.q_xy = P, Q
        self.units = len(points) + len(kqs)

    def load(self, spark) -> None:
        self.t = self.load_tables(spark, ["points", "polygons", "kpts", "kqs"])

    def corrupt(self) -> None:
        self.want_pip[0] += 1

    def trace_ratios(self) -> dict:
        """Pairs out ÷ candidates the refiner receives (points inside a
        polygon's bbox: the cell cover is a superset of the bbox and the
        bbox pre-filter runs before the refiner)."""
        return {"pip_join.refine_keep_ratio":
                len(self.want_pip) / max(self.pip_candidates, 1)}

    def op(self, i, step):
        t = self.t
        pip = step("pip_join", lambda: SP.pip_join(
            t["points"], t["polygons"], "id", "lon", "lat", "zone_id",
            "polygon_wkt", res=7), lambda df: df.toPandas())
        knn = step("knn_join", lambda: SP.knn_join(
            t["kpts"], t["kqs"], self.K_NN, point_id="id", query_id="qid",
            x_col="lon", y_col="lat", res=5), lambda df: df.toPandas())
        return pip, knn

    def check(self, i, out):
        pip, knn = out
        bad = []
        got = np.sort(pip.point_id.astype(np.int64).to_numpy() * 1000
                      + pip.poly_id.astype(np.int64).to_numpy())
        if not np.array_equal(got, self.want_pip):
            bad.append(f"pip_join: {len(got)} pairs, oracle "
                       f"{len(self.want_pip)}")
        knn = knn.sort_values(["qid", "rank"])
        n_q = len(self.want_knn)
        if len(knn) != n_q * self.K_NN:
            return self.units, bad + [f"knn_join: {len(knn)} rows"]
        d = knn.dist.to_numpy().reshape(n_q, self.K_NN)
        nbr = self.kpts_xy[knn.nbr_id.to_numpy()]
        true_d = np.sqrt(((nbr - self.q_xy[knn.qid.to_numpy()]) ** 2)
                         .sum(-1))
        if not (np.allclose(d, self.want_knn, rtol=1e-12, atol=1e-12)
                and np.allclose(true_d, d.ravel(), rtol=1e-12, atol=1e-12)):
            bad.append("knn_join: neighbour distances differ")
        return self.units, bad


class CorpusDedup(Workload):
    """minhash_lsh_pairs → dup_clusters over the planted near-copy graph.
    ``shared_span_pairs`` is not in the op: it would add ~10 s (warm-up +
    op) to every run, which the benchmark's time budget does not allow.

    The pair graph is the corpus's planted one (each base doc linked to
    its five copies, each planted copy's base doc to its source's), built
    here with the inputs.  A graph from ``simhash_pairs`` over these texts
    also links unrelated docs (a 30-word vocabulary), so its largest
    component ranged from 18 to 66 docs across seeds and with it the
    rounds ``dup_clusters`` runs; and its oracle had to be computed from
    the program's own output.

    Input shape: the repo's dedup harnesses (``tools/plan_capture_r6.py``,
    ``tools/profile_dedup_r6.py``) amplify the sf0.1 ``documents`` table
    ×6 — each document plus five near copies with a `` tail<rep>``
    suffix.  The base documents here are generated with sf0.1's shape:
    10–99 words drawn uniformly from its 30-word vocabulary, 5% of them an
    earlier document plus `` dup`` and 0.16% exact copies."""
    name, unit = "corpus_dedup", "docs"
    THRESHOLD = 0.8
    REPS = 6
    # LSH recall floor on planted pairs of Jaccard ≥ 0.97: the banding
    # (8 × 4 rows) predicts a miss rate of ~3e-8 per pair; the hash family
    # measured ~1.3% (seed 1), so the floor catches a broken banding, not
    # that gap
    NEAR_JACCARD, MIN_RECALL = 0.97, 0.9
    # ops keep speeding up over the first few of a run (by 5–20% from the
    # second to the third); two warm-up ops keep that out of op_p50_s.  A
    # run measures two ops (~4–6 s each) whatever --seconds below ~8 s:
    # when a run measured two ops or four depending on their speed, the
    # four-op runs read ~15% faster (later ops are faster)
    op_batch = 2
    warm_ops = 2
    VOCAB = ("spark window table merge column value stream vector small "
             "data filter big join group sort hash customer line order "
             "slow part fast row the agg key a query scan batch").split()

    def prepare(self) -> None:
        rng = np.random.default_rng((self.seed, 11))
        n_base = self.size["docs"] // self.REPS
        # exactly 5% "+ dup" copies and 0.16% (at least one) exact copies,
        # in the second half, each of a distinct original: a binomial count
        # and chains of copies made the merged clusters, and op time with
        # them, vary ~15% across seeds
        n_dup = round(0.05 * n_base)
        n_exact = max(1, round(0.0016 * n_base))
        kind = dict(zip(rng.choice(np.arange(n_base // 2, n_base),
                                   n_dup + n_exact, replace=False),
                        [" dup"] * n_dup + [""] * n_exact))
        base, src = [], []  # src: the base doc a planted copy was made of
        free = []  # originals not yet copied
        for i in range(n_base):
            if i in kind:
                j = free.pop(int(rng.integers(len(free))))
                base.append(base[j] + kind[i])
                src.append(j)
            else:
                base.append(" ".join(rng.choice(
                    self.VOCAB, size=int(rng.integers(10, 100)))))
                src.append(None)
                free.append(i)
        # id = base * REPS + rep, so the arrays below are indexed by id
        texts = [t if rep == 0 else f"{t} tail{rep}"
                 for t in base for rep in range(self.REPS)]
        pdf = pd.DataFrame({"doc_id": np.arange(len(texts), dtype=np.int64),
                            "text": texts})
        write_parquet(pdf, "doc_id long, text string",
                      os.path.join(self.work_dir, "docs"), 4)
        self.shingles = [frozenset(" ".join(w[j:j + 3])
                                   for j in range(max(len(w) - 2, 1)))
                         for w in (t.split(" ") for t in texts)]
        # planted pairs (within a copy cluster, and between a copied
        # cluster and its source's): identical texts must all be found
        # (equal shingle sets give equal signatures), near ones mostly
        groups = [[b] for b in range(n_base)]
        for b, j in enumerate(src):
            if j is not None:
                groups[b].append(j)
        self.identical, self.near = [], []
        for b, members in enumerate(groups):
            ids = sorted(m * self.REPS + r for m in set(members)
                         for r in range(self.REPS))
            for x in range(len(ids)):
                for y in range(x + 1, len(ids)):
                    a, c = ids[x], ids[y]
                    if a // self.REPS != b and c // self.REPS != b:
                        continue
                    if texts[a] == texts[c]:
                        self.identical.append((a, c))
                    elif self.jaccard(a, c) >= self.NEAR_JACCARD:
                        self.near.append((a, c))
        self.units = len(texts)
        self.near_recall = None  # set by check
        edges = pd.DataFrame(
            [(b * self.REPS, b * self.REPS + r) for b in range(n_base)
             for r in range(1, self.REPS)]
            + [(j * self.REPS, b * self.REPS) for b, j in enumerate(src)
               if j is not None], columns=["id_a", "id_b"])
        write_parquet(edges, "id_a long, id_b long",
                      os.path.join(self.work_dir, "graph"), 4)
        self.want_clusters = components(edges, self.units)

    def trace_ratios(self) -> dict:
        return {"minhash_lsh_pairs.near_copy_recall": self.near_recall}

    def jaccard(self, a: int, b: int) -> float:
        sa, sb = self.shingles[a], self.shingles[b]
        inter = len(sa & sb)
        return inter / (len(sa) + len(sb) - inter)

    def load(self, spark) -> None:
        self.t = self.load_tables(spark, ["docs", "graph"])

    def corrupt(self) -> None:
        self.identical.append((0, self.units - 1))

    def op(self, i, step):
        t = self.t
        mh = step("minhash_lsh_pairs", lambda: DD.minhash_lsh_pairs(
            t["docs"], self.THRESHOLD, n_hashes=32, bands=8, shingle_n=3,
            use_words=True), lambda df: df.toPandas())
        cl = step("dup_clusters", lambda: DD.dup_clusters(
            t["docs"], t["graph"]), lambda df: df.toPandas())
        return mh, cl

    def check(self, i, out):
        mh, cl = out
        bad = []
        sh = self.shingles
        for r in mh.itertuples():
            a, b = sh[r.id_a], sh[r.id_b]
            inter = len(a & b)
            if int(inter * 1e6 // (len(a) + len(b) - inter)) != r.jaccard_e6 \
                    or r.jaccard_e6 < self.THRESHOLD * 1e6:
                bad.append(f"minhash: pair {r.id_a},{r.id_b} jaccard")
                break
        found = set(zip(mh.id_a, mh.id_b))
        if any(p not in found for p in self.identical):
            bad.append("minhash: a pair of identical documents is missing")
        recall = sum(p in found for p in self.near) / max(len(self.near), 1)
        self.near_recall = recall
        if recall < self.MIN_RECALL:
            bad.append(f"minhash: recall {recall:.3f} on planted near "
                       f"copies (Jaccard >= {self.NEAR_JACCARD})")
        cl = cl.sort_values("doc_id")
        roots, sizes = self.want_clusters
        if len(cl) != self.units or not (
                np.array_equal(cl.cluster_id.to_numpy(), roots)
                and np.array_equal(cl.cluster_size.to_numpy(), sizes)):
            bad.append("dup_clusters: clusters differ from union-find")
        return self.units, bad


WORKLOADS = {w.name: w for w in (RasterBatch, RasterIngest, TileRequests,
                                 SpatialJoin, CorpusDedup)}
