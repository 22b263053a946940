"""The four workloads: seeded inputs, a seeded request stream, the calls
into the public API, and an answer for every request computed
independently (numpy / pandas over the generated inputs).

Every request is a JSON-able dict, so a stream is byte-comparable.  A
workload's op types repeat in seeded shuffles of one full cycle, so every
run issues the same op mix whatever the seed and the run length.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time
from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

T0 = datetime(2018, 1, 1)
NODATA = -32768.0
BLOCK = 64
MODULUS = 9973.0
WRITE_OPS = frozenset(
    {"create_aoi", "create_records", "index_datasets", "append_tiles", "add_records_tags"}
)
READ_OPS = frozenset(
    {
        "list_records", "list_datasets", "get_cube_headers", "get_records",
        "find_container_layouts", "get_cube", "get_xyz_tile", "download_cube", "topk",
    }
)


def _ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


def _cycles(rng: random.Random, kinds: list[str]):
    """(cycle number, kind): every cycle issues each kind once, in a seeded
    order."""
    k = 0
    while True:
        order = list(kinds)
        rng.shuffle(order)
        for kind in order:
            yield k, kind
        k += 1


def _copy_catalog(inputs: str, dest: str, tables: list[str]) -> None:
    """Copy the tables' bootstrap files and the commit log ``configure``
    wrote to the inputs (a committed table has no bootstrap file left)."""
    os.makedirs(dest)
    for t in tables:
        src = os.path.join(inputs, f"{t}.parquet")
        if os.path.exists(src):
            shutil.copy(src, os.path.join(dest, f"{t}.parquet"))
    for d in ("_log", "_data"):
        if os.path.isdir(os.path.join(inputs, d)):
            shutil.copytree(os.path.join(inputs, d), os.path.join(dest, d))


def _rows(table: pa.Table) -> pd.DataFrame:
    return table.to_pandas(maps_as_pydicts="strict")


class Workload:
    """One workload.  ``steps`` turns a request into timed ops; DataFrames
    go through ``collect`` so the harness can read Catalyst's phase times
    and result sizes of each op."""

    name = ""
    ops: list[str] = []
    tables: list[str] = []
    cycle_len = 1  # requests per cycle; a timed loop ends on a cycle boundary
    warmup_cycles = 3  # cycles the set-up warms a cold JVM with

    def __init__(self, seed: int):
        self.seed = int(seed)
        self.frames: list = []  # (DataFrame, rows, epoch ms at return) of the current op

    def collect(self, df):
        rows = df.collect()
        self.frames.append((df, rows, time.time() * 1e3))
        return rows

    def generate(self, inputs: str) -> dict:
        raise NotImplementedError

    def configure(self, spark, inputs: str) -> None:
        """Writes through the API that every catalog copy starts from."""

    def prepare(self, spark, inputs: str, catalog_dir: str):
        raise NotImplementedError

    def load_oracle(self, inputs: str) -> None:
        raise NotImplementedError

    def requests(self):
        raise NotImplementedError

    def warmup_requests(self, cycles: int) -> list[dict]:
        """``cycles`` cycles of another seed's stream."""
        it = type(self)(self.seed + 1_000_003).requests()
        return [next(it) for _ in range(cycles * self.cycle_len)]

    def steps(self, state, req: dict) -> list[tuple]:
        """(op name, call, check of the call's output, bytes of rows the op
        adds or None) for each op a request makes."""
        return [(req["op"], lambda: self.run(state, req), lambda out: self.check(req, out), None)]

    def final_steps(self, state) -> list[tuple]:
        """Ops run once after the timed request loop."""
        return []

    def job_tasks(self, state) -> tuple[int, int]:
        """(tasks, task retries) of the consolidation job the run made."""
        return 0, 0

    def probes(self, state) -> dict[str, bool]:
        """Checks of known defects, run once outside the measured ops:
        {probe: output correct}.  They go to the report line, not into
        ``failed``, so a defect stays visible until it is fixed."""
        return {}

    def run(self, state, req: dict):
        raise NotImplementedError

    def check(self, req: dict, out) -> bool:
        raise NotImplementedError


# ------------------------------------------------------------ catalog_query


class CatalogQuery(Workload):
    """Read-only metadata ops over a fixture catalog of ~16k datasets."""

    name = "catalog_query"
    ops = ["list_records", "list_datasets", "get_cube_headers", "get_records",
           "find_container_layouts"]
    cycle_len = 5
    warmup_cycles = 6  # the per-cycle time levels off after ~6 cycles
    tables = ["aoi", "records", "variables", "instances", "containers", "datasets",
              "layouts", "container_layouts"]
    n_records = 8000

    def generate(self, inputs: str) -> dict:
        from geocube_spark import fixtures

        fixtures.generate(out_dir=inputs, n_records=self.n_records)
        return {t: pq.read_metadata(os.path.join(inputs, f"{t}.parquet")).num_rows
                for t in self.tables}

    def prepare(self, spark, inputs: str, catalog_dir: str):
        from geocube_spark.client import GeocubeClient

        _copy_catalog(inputs, catalog_dir, self.tables)
        return GeocubeClient(spark, catalog_dir)

    def load_oracle(self, inputs: str) -> None:
        rd = lambda t: _rows(pq.read_table(os.path.join(inputs, f"{t}.parquet")))  # noqa: E731
        rec = rd("records")
        aoi = rd("aoi")
        aoi = pd.concat([aoi[["id"]], pd.json_normalize(aoi["bbox"])], axis=1)
        ds = rd("datasets")
        ds = pd.concat([ds[["id", "record_id", "instance_id", "container_uri", "status"]],
                        pd.json_normalize(ds["bbox"])], axis=1)
        self.rec, self.aoi, self.ds = rec, aoi, ds
        self.cl = rd("container_layouts")

    def requests(self):
        rng = random.Random(self.seed)
        days = self.n_records
        consts = ["SENTINEL2", "SENTINEL1", "LANDSAT8"]
        # the same id universe as fixtures.generate (uuid5 of the index)
        from geocube_spark.fixtures import _uuid

        def window(span):
            d0 = rng.randrange(0, days - span)
            a = T0 + timedelta(days=d0, hours=12)
            return a.isoformat(), (a + timedelta(days=span)).isoformat()

        def ids(n):
            return [_uuid("record", i) for i in rng.sample(range(self.n_records), n)]

        def extent():
            x0, y0 = rng.uniform(-165, 150), rng.uniform(-40, -15)
            return [x0, y0, x0 + rng.uniform(2, 8), y0 + rng.uniform(2, 8)]

        def inst():
            return _uuid("instance", rng.randrange(12))

        def glob():
            return f"S2A_{rng.randrange(self.n_records // 10):05d}*"

        for cycle, kind in _cycles(rng, self.ops):
            v = cycle % 4  # filter variants rotate, so the mix is the same per run
            if kind == "list_records":
                f = [{"tags": {"CONSTELLATION": rng.choice(consts)}, "window": window(90)},
                     {"name_glob": glob()},
                     {"aoi_extent": extent()},
                     {"ids": ids(20)}][v]
            elif kind == "list_datasets":
                f = [{"instance_ids": [inst()], "window": window(120)},
                     {"tags": {"ORBIT": rng.choice(["ASC", "DESC"])}, "window": window(60)},
                     {"record_name_glob": glob()},
                     {"extent": extent(), "order": False}][v]
            elif kind == "get_cube_headers":
                f = {"instance_ids": [inst()], "window": window(180)}
            elif kind == "get_records":
                f = {"ids": ids(20)}
            else:
                # dataset-side filters only: find_container_layouts plans
                # find_datasets without the records table, so record-side
                # filters (time, tags, names) do not apply to it
                f = {"instance_ids": [inst(), inst()], "order": False}
            yield {"op": kind, "filters": f}

    def probe_requests(self) -> dict[str, dict]:
        # find_container_layouts with a record-side filter (a time window):
        # the client passes records=None to find_datasets, so it is ignored
        rng = random.Random(self.seed ^ 0x5EED)
        from geocube_spark.fixtures import _uuid

        a = T0 + timedelta(days=rng.randrange(self.n_records - 365), hours=12)
        f = {"instance_ids": [_uuid("instance", rng.randrange(12))],
             "window": (a.isoformat(), (a + timedelta(days=365)).isoformat()),
             "order": False}
        return {"find_container_layouts.record_filters":
                {"op": "find_container_layouts", "filters": f}}

    def probes(self, client) -> dict[str, bool]:
        return {k: self.check(req, self.run(client, req))
                for k, req in self.probe_requests().items()}

    # ---- calls

    @staticmethod
    def dataset_filters(f: dict):
        from geocube_spark.plans.find_datasets import DatasetFilters

        kw = {k: v for k, v in f.items() if k not in ("window", "extent")}
        if "window" in f:
            kw["time_from"], kw["time_to"] = map(_ts, f["window"])
        if "extent" in f:
            kw["extent"] = tuple(f["extent"])
        return DatasetFilters(**kw)

    def run(self, client, req: dict):
        from geocube_spark.plans.find_records import RecordFilters

        op, f = req["op"], req["filters"]
        if op == "list_records":
            kw = {k: v for k, v in f.items() if k not in ("window", "aoi_extent")}
            if "window" in f:
                kw["time_from"], kw["time_to"] = map(_ts, f["window"])
            if "aoi_extent" in f:
                kw["aoi_extent"] = tuple(f["aoi_extent"])
            return [r["id"] for r in self.collect(client.list_records(RecordFilters(**kw)))]
        if op == "get_records":
            return [r["id"] for r in client.get_records(f["ids"])]
        flt = self.dataset_filters(f)
        if op == "list_datasets":
            return [r["id"] for r in self.collect(client.list_datasets(flt))]
        if op == "get_cube_headers":
            return {r["record_id"]: r["n_datasets"]
                    for r in self.collect(client.get_cube_headers(flt))}
        return {r["layout_name"]: r["n_containers"]
                for r in self.collect(client.find_container_layouts(flt))}

    # ---- answers

    def _record_mask(self, f: dict, name_key: str) -> pd.Series:
        r = self.rec
        m = pd.Series(True, index=r.index)
        if "ids" in f:
            m &= r["id"].isin(f["ids"])
        if "window" in f:
            a, b = map(_ts, f["window"])
            m &= (r["datetime"] >= a) & (r["datetime"] <= b)
        for k, v in (f.get("tags") or {}).items():
            m &= r["tags"].map(lambda t: t.get(k) == v)
        if name_key in f:
            m &= r["name"].str.startswith(f[name_key].rstrip("*"))
        if "aoi_extent" in f:
            x0, y0, x1, y1 = f["aoi_extent"]
            a = self.aoi
            hit = a.loc[(a.xmin <= x1) & (a.xmax >= x0) & (a.ymin <= y1) & (a.ymax >= y0), "id"]
            m &= r["aoi_id"].isin(hit)
        return m

    def _datasets(self, f: dict) -> pd.DataFrame:
        d = self.ds[self.ds["status"] == "ACTIVE"]
        if "instance_ids" in f:
            d = d[d["instance_id"].isin(f["instance_ids"])]
        if "extent" in f:
            x0, y0, x1, y1 = f["extent"]
            d = d[(d.xmin <= x1) & (d.xmax >= x0) & (d.ymin <= y1) & (d.ymax >= y0)]
        if any(k in f for k in ("window", "tags", "record_name_glob")):
            keep = self.rec.loc[self._record_mask(f, "record_name_glob"), "id"]
            d = d[d["record_id"].isin(keep)]
        return d

    def check(self, req: dict, out) -> bool:
        op, f = req["op"], req["filters"]
        if op == "get_records":
            return out == f["ids"]
        if op == "list_records":
            want = self.rec.loc[self._record_mask(f, "name_glob"), "id"]
            return len(out) == len(want) and set(out) == set(want)
        d = self._datasets(f)
        if op == "list_datasets":
            return len(out) == len(d) and set(out) == set(d["id"])
        if op == "get_cube_headers":
            return out == d.groupby("record_id").size().to_dict()
        return out == self._layouts(d)

    def _layouts(self, d: pd.DataFrame) -> dict:
        cl = self.cl[self.cl["container_uri"].isin(d["container_uri"])]
        return cl.groupby("layout_name")["container_uri"].nunique().to_dict()


# ---------------------------------------------------------------- cube_read


class CubeRead(Workload):
    """Pixel reads: cubes, XYZ tiles and downloads over a generated
    aligned-grid tile table, then focal / zonal analysis of the cubes."""

    name = "cube_read"
    ops = ["get_cube", "focal", "zonal_statistics", "get_xyz_tile", "download_cube"]
    cycle_len = 5
    tables = ["records", "datasets", "tiles"]
    n_datasets = 64
    grid_blocks = 8  # the shared grid is 8x8 blocks of 64^2 px
    win_blocks = 4  # each dataset covers a 4x4 block window of it
    zoom, tile_x, tile_y = 10, 520, 360  # grid origin = this XYZ tile's corner

    def __init__(self, seed: int):
        super().__init__(seed)
        from geocube_spark.operators.regrid import xyz_tile_grid

        (self.ox, self.oy), self.res = xyz_tile_grid(self.tile_x, self.tile_y, self.zoom)

    def _layout(self):
        rng = np.random.RandomState(self.seed % (2**32))
        span = self.grid_blocks - self.win_blocks + 1
        return rng.randint(0, span, size=(self.n_datasets, 2))

    def generate(self, inputs: str) -> dict:
        from geocube_spark.fixtures import _uuid
        from geocube_spark.functions.geometry import rect_wkb

        os.makedirs(inputs, exist_ok=True)
        offs = self._layout()
        n, w, b = self.n_datasets, self.win_blocks, BLOCK
        rec_ids = [_uuid("record", i) for i in range(n)]
        records = pa.table({
            "id": rec_ids,
            "name": [f"CUBE_{i:05d}" for i in range(n)],
            "datetime": pa.array([T0 + timedelta(days=i) for i in range(n)], pa.timestamp("us")),
            "tags": pa.array([[("CONSTELLATION", "SENTINEL2")]] * n,
                             pa.map_(pa.string(), pa.string())),
            "aoi_id": [_uuid("aoi", 0)] * n,
        })
        dm = {"dtype": "Int16", "no_data": NODATA, "min_value": 0.0, "max_value": 10000.0,
              "real_min_value": 0.0, "real_max_value": 1.0, "exponent": 1.0}
        wkb = rect_wkb(0.0, 0.0, 1.0, 1.0)
        datasets = pa.Table.from_pylist([
            {"id": _uuid("dataset", i), "record_id": rec_ids[i],
             "instance_id": _uuid("instance", i % 2), "container_uri": f"cube://{i}",
             "subdir": "", "bands": [1], "status": "ACTIVE", "dmapping": dm,
             "geom_wkb": wkb, "bbox": {"xmin": 0.0, "ymin": 0.0, "xmax": 1.0, "ymax": 1.0},
             "shape_srid": 3857, "overviews": False, "locked_by_job_id": None}
            for i in range(n)
        ])
        # tiles: closed-form pixels on global pixel indices (the fixture's
        # recipe), nodata on every 7th global row shifted per dataset
        uris, bxs, bys = [], [], []
        px = np.empty((n * w * w, b * b))
        k = 0
        jj, ii = np.mgrid[0:b, 0:b]
        for i in range(n):
            for by in range(offs[i, 1], offs[i, 1] + w):
                for bx in range(offs[i, 0], offs[i, 0] + w):
                    gy, gx = by * b + jj, bx * b + ii
                    v = (i * 1e4 + 1e3 + gy * (self.grid_blocks * b) + gx) % MODULUS
                    v[(gy + i) % 7 == 0] = NODATA
                    px[k] = v.ravel()
                    uris.append(f"cube://{i}")
                    bxs.append(bx)
                    bys.append(by)
                    k += 1
        m = len(uris)
        affine = {"a": self.res, "b": 0.0, "c": self.ox, "d": 0.0, "e": -self.res, "f": self.oy}
        tiles = pa.table({
            "container_uri": uris,
            "band": pa.array(np.ones(m, np.int16)),
            "level": pa.array(np.zeros(m, np.int16)),
            "block_x": pa.array(np.asarray(bxs, np.int32)),
            "block_y": pa.array(np.asarray(bys, np.int32)),
            "px": pa.ListArray.from_arrays(np.arange(0, m * b * b + 1, b * b, dtype=np.int32),
                                           pa.array(px.ravel())),
            "crs_srid": pa.array(np.full(m, 3857, np.int32)),
            "pix_to_crs": pa.array([affine] * m),
        })
        for name, t in (("records", records), ("datasets", datasets), ("tiles", tiles)):
            pq.write_table(t, os.path.join(inputs, f"{name}.parquet"))
        return {"records": n, "datasets": n, "tiles": m, "tile_pixels": m * b * b}

    def prepare(self, spark, inputs: str, catalog_dir: str):
        from geocube_spark.client import GeocubeClient

        _copy_catalog(inputs, catalog_dir, self.tables)
        return GeocubeClient(spark, catalog_dir)

    def load_oracle(self, inputs: str) -> None:
        t = pq.read_table(os.path.join(inputs, "tiles.parquet"),
                          columns=["container_uri", "block_x", "block_y", "px"])
        px = t.column("px").combine_chunks().flatten().to_numpy().reshape(-1, BLOCK * BLOCK)
        self.tiles = {}
        for k, (u, bx, by) in enumerate(zip(t.column("container_uri").to_pylist(),
                                            t.column("block_x").to_pylist(),
                                            t.column("block_y").to_pylist())):
            self.tiles.setdefault(int(u.split("//")[1]), {})[(bx, by)] = px[k]

    def requests(self):
        rng = random.Random(self.seed)
        n = self.n_datasets
        cycle = ["cube", "get_xyz_tile", "download_cube"]
        for _cycle, kind in _cycles(rng, cycle):
            if kind == "cube":
                d0 = rng.randrange(0, n - 32)
                win = [(T0 + timedelta(days=d0, hours=12)).isoformat(),
                       (T0 + timedelta(days=d0 + 24, hours=12)).isoformat()]
                yield {"op": "get_cube", "window": win}
                yield {"op": "focal", "window": win}
                zones = []
                for z in range(4):
                    c0, r0 = rng.randrange(0, 400), rng.randrange(0, 400)
                    zones.append([z, c0, r0, c0 + rng.randrange(16, 112),
                                  r0 + rng.randrange(16, 112)])
                yield {"op": "zonal_statistics", "window": win, "zones": zones}
            elif kind == "get_xyz_tile":
                d0 = rng.randrange(0, n - 32)
                yield {"op": "get_xyz_tile",
                       "window": [(T0 + timedelta(days=d0, hours=12)).isoformat(),
                                  (T0 + timedelta(days=d0 + 24, hours=12)).isoformat()],
                       "xy": [self.tile_x + rng.randrange(2), self.tile_y + rng.randrange(2)]}
            else:
                yield {"op": "download_cube",
                       "datasets": sorted(rng.sample(range(n), 24))}


    # ---- calls

    @staticmethod
    def _window(win):
        from geocube_spark.plans.find_datasets import DatasetFilters

        return DatasetFilters(time_from=_ts(win[0]), time_to=_ts(win[1]), order=False)

    def _cube(self, client, win):
        return client.get_cube(self._window(win), nodata=NODATA)

    def _with_grid(self, cube):
        from pyspark.sql import functions as F

        aff = F.struct(*[F.lit(v).alias(k) for k, v in
                         (("a", self.res), ("b", 0.0), ("c", self.ox), ("d", 0.0),
                          ("e", -self.res), ("f", self.oy))])
        return cube.withColumn("pix_to_crs", aff)

    @staticmethod
    def _blocks(rows) -> dict:
        return {(r["block_x"], r["block_y"]): np.asarray(r["px"]) for r in rows}

    def run(self, client, req: dict):
        op = req["op"]
        if op == "get_cube":
            return self._blocks(self.collect(self._cube(client, req["window"])))
        if op == "focal":
            cube = self._with_grid(self._cube(client, req["window"]))
            return self._blocks(self.collect(client.focal(cube, "mean")))
        if op == "zonal_statistics":
            spark = client.spark
            zones = spark.createDataFrame(
                [(z, *self._zone_box(c0, r0, c1, r1)) for z, c0, r0, c1, r1 in req["zones"]],
                "zone_id int, xmin double, ymin double, xmax double, ymax double",
            )
            cube = self._with_grid(self._cube(client, req["window"]))
            rows = self.collect(client.zonal_statistics(cube, zones, nodata=NODATA))
            return {r["zone_id"]: (r["n_pixels"], r["sum_value"], r["min_value"],
                                   r["max_value"]) for r in rows}
        if op == "get_xyz_tile":
            x, y = req["xy"]
            return self._blocks(self.collect(client.get_xyz_tile(
                self._window(req["window"]), x, y, self.zoom, nodata=NODATA)))
        from geocube_spark.fixtures import _uuid

        meta = client.spark.createDataFrame(
            [(f"cube://{i}", _uuid("record", i), T0 + timedelta(days=i))
             for i in req["datasets"]],
            "container_uri string, record_id string, record_datetime timestamp",
        )
        return self._blocks(self.collect(client.download_cube(meta, nodata=NODATA)))

    def _zone_box(self, c0, r0, c1, r1):
        """Global pixel columns [c0, c1) x rows [r0, r1) as a CRS box whose
        edges sit 0.1 px inside the outer pixel centres' bounds."""
        return (self.ox + (c0 + 0.1) * self.res, self.oy - (r1 - 0.1) * self.res,
                self.ox + (c1 - 0.1) * self.res, self.oy - (r0 + 0.1) * self.res)

    # ---- answers

    def _mosaic(self, ids) -> dict:
        """Latest-wins: the newest dataset's pixel unless nodata."""
        out = {}
        for i in sorted(ids, reverse=True):  # record time grows with i
            for key, px in self.tiles[i].items():
                acc = out.get(key)
                if acc is None:
                    out[key] = px.copy()
                else:
                    hole = acc == NODATA
                    acc[hole] = px[hole]
        return out

    def _window_ids(self, win):
        a, b = map(_ts, win)
        return [i for i in range(self.n_datasets) if a <= T0 + timedelta(days=i) <= b]

    @staticmethod
    def _same(got: dict, want: dict, exact=True) -> bool:
        if got.keys() != want.keys():
            return False
        eq = np.array_equal if exact else (lambda a, b: np.allclose(a, b, rtol=1e-12, atol=1e-9))
        return all(eq(got[k], want[k]) for k in want)

    def _focal(self, mosaic: dict) -> dict:
        b = BLOCK
        out = {}
        for (bx, by), body in mosaic.items():
            pad = np.full((b + 2, b + 2), np.nan)
            for dy in (-1, 0, 1):
                for dx in (-1, 0, 1):
                    nb = mosaic.get((bx + dx, by + dy))
                    if nb is None:
                        continue
                    nb = nb.reshape(b, b)
                    rs = slice(1, b + 1) if dy == 0 else (slice(0, 1) if dy < 0 else slice(b + 1, None))
                    cs = slice(1, b + 1) if dx == 0 else (slice(0, 1) if dx < 0 else slice(b + 1, None))
                    src_r = slice(None) if dy == 0 else (slice(b - 1, b) if dy < 0 else slice(0, 1))
                    src_c = slice(None) if dx == 0 else (slice(b - 1, b) if dx < 0 else slice(0, 1))
                    pad[rs, cs] = nb[src_r, src_c]
            core = slice(1, b + 1)
            if np.isnan(pad[:1, core]).all():
                pad[:1, :] = pad[1:2, :]
            if np.isnan(pad[b + 1:, core]).all():
                pad[b + 1:, :] = pad[b:b + 1, :]
            if np.isnan(pad[core, :1]).all():
                pad[:, :1] = pad[:, 1:2]
            if np.isnan(pad[core, b + 1:]).all():
                pad[:, b + 1:] = pad[:, b:b + 1]
            for r, c, fc in ((0, 0, 1), (0, b + 1, b), (b + 1, 0, 1), (b + 1, b + 1, b)):
                if np.isnan(pad[r, c]):
                    pad[r, c] = pad[r, fc]
            win = np.lib.stride_tricks.sliding_window_view(pad, (3, 3))
            out[(bx, by)] = win.sum(axis=(2, 3)).ravel() / 9.0
        return out

    def _zonal(self, mosaic: dict, zones) -> dict:
        b = BLOCK
        out = {}
        for z, c0, r0, c1, r1 in zones:
            vals = []
            for (bx, by), px in mosaic.items():
                img = px.reshape(b, b)
                xs = slice(max(c0 - bx * b, 0), max(min(c1 - bx * b, b), 0))
                ys = slice(max(r0 - by * b, 0), max(min(r1 - by * b, b), 0))
                v = img[ys, xs].ravel()
                vals.append(v[v != NODATA])
            v = np.concatenate(vals)
            if v.size:
                out[z] = (int(v.size), float(v.sum()), float(v.min()), float(v.max()))
        return out

    def _xyz(self, mosaic: dict, x: int, y: int) -> dict:
        """The XYZ tile grid is the shared grid itself (same origin corner
        and resolution), so NEAR regridding copies pixels: tile (x, y) is
        global pixel block [256*(x-x0), +256) x [256*(y-y0), +256)."""
        b, t = BLOCK, 256
        img = np.full((self.grid_blocks * b, self.grid_blocks * b), NODATA)
        for (bx, by), px in mosaic.items():
            img[by * b:(by + 1) * b, bx * b:(bx + 1) * b] = px.reshape(b, b)
        ox, oy = (x - self.tile_x) * t, (y - self.tile_y) * t
        return {(0, 0): img[oy:oy + t, ox:ox + t].ravel()}

    def check(self, req: dict, out) -> bool:
        op = req["op"]
        if op == "download_cube":
            return self._same(out, self._mosaic(req["datasets"]))
        ids = self._window_ids(req["window"])
        mosaic = self._mosaic(ids)
        if op == "get_cube":
            return self._same(out, mosaic)
        if op == "focal":
            return self._same(out, self._focal(mosaic), exact=False)
        if op == "get_xyz_tile":
            return self._same(out, self._xyz(mosaic, *req["xy"]))
        want = self._zonal(mosaic, req["zones"])
        return out.keys() == want.keys() and all(
            out[z][0] == want[z][0] and out[z][2:] == want[z][2:]
            and abs(out[z][1] - want[z][1]) <= 1e-9 * max(1.0, abs(want[z][1]))
            for z in want
        )


# ------------------------------------------------------- ingest_consolidate


class IngestConsolidate(Workload):
    """Ingest batches through the write path, each followed by
    read-your-write reads; then one consolidation job over the ingested
    records, to deletion DONE."""

    name = "ingest_consolidate"
    ops = ["create_aoi", "create_records", "index_datasets", "append_tiles",
           "add_records_tags", "list_datasets", "consolidate",
           "process_consolidation_job", "process_deletion_job"]
    tables = ["aoi", "records", "variables", "instances", "containers", "datasets",
              "tiles", "layouts", "consolidation_params", "jobs", "tasks",
              "locked_datasets"]
    n_records = 200
    batch = 4  # records (one dataset each, 2x2 blocks) per ingest batch
    warmup_cycles = 5  # the per-batch time levels off after ~5 batches
    layout = "bench_world"

    def generate(self, inputs: str) -> dict:
        from geocube_spark import fixtures

        fixtures.generate(out_dir=inputs, n_records=self.n_records)
        return {t: pq.read_metadata(os.path.join(inputs, f"{t}.parquet")).num_rows
                for t in self.tables}

    def configure(self, spark, inputs: str) -> None:
        from geocube_spark.client import GeocubeClient
        from geocube_spark.fixtures import _uuid

        c = GeocubeClient(spark, inputs)
        # a float64 recipe keeps consolidated pixels bit-identical to the
        # ingested tiles; the layout's grid is one cell per quadrant
        c.config_consolidation(
            _uuid("variable", 0),
            {"dtype": "Float64", "no_data": NODATA, "min_value": -1e12, "max_value": 1e12},
            compression="NO",
        )
        c.create_layout(
            self.layout,
            {"grid": "regular", "crs": "epsg:4326", "cell_size": "256",
             "resolution": "1000000", "ox": "0", "oy": "0"},
            max_records=1024,
        )

    def prepare(self, spark, inputs: str, catalog_dir: str):
        from geocube_spark.client import GeocubeClient

        _copy_catalog(inputs, catalog_dir, self.tables)
        c = GeocubeClient(spark, catalog_dir)
        return {"client": c, "ingested": {}, "job": {}}

    def load_oracle(self, inputs: str) -> None:
        pass

    def requests(self):
        rng = random.Random(self.seed)
        k = 0
        while True:
            recs = []
            for _ in range(self.batch):
                # footprints stay inside one quadrant: the consolidation
                # layout's grid cells meet at lon 0 and lat 0
                x0 = round(rng.choice([-1, 1]) * rng.uniform(2, 160), 3)
                y0 = round(rng.choice([-1, 1]) * rng.uniform(2, 60), 3)
                recs.append({
                    "name": f"INGEST_{self.seed}_{k:05d}",
                    "datetime": (datetime(2030, 1, 1) + timedelta(hours=k)).isoformat(),
                    "rect": [x0, y0, x0 + 1.0, y0 + 1.0],
                    "recipe": rng.randrange(1000),
                })
                k += 1
            yield {"op": "ingest_batch", "records": recs,
                   "tags": {"CONSTELLATION": rng.choice(["SENTINEL2", "LANDSAT8"]),
                            "PROC": rng.choice(["L1C", "L2A"])},
                   "added_tag": {"QUALITY": rng.choice(["A", "B", "C"])}}

    @staticmethod
    def tile_px(recipe: int, by: int, bx: int) -> np.ndarray:
        jj, ii = np.mgrid[0:BLOCK, 0:BLOCK]
        v = (recipe * 1e4 + 1e3 + (by * BLOCK + jj) * 2 * BLOCK + bx * BLOCK + ii) % MODULUS
        v[(jj + recipe) % 7 == 0] = NODATA
        return v.ravel()

    def steps(self, state, req: dict) -> list[tuple]:
        """The seven ops of one ingest batch; the two read-your-write reads
        check what the five writes stored."""
        from geocube_spark import schemas
        from geocube_spark.fixtures import _uuid
        from geocube_spark.functions.geometry import multipolygon_wkb, rect_wkb
        from geocube_spark.plans.find_datasets import DatasetFilters

        client = state["client"]
        recs = req["records"]
        n = len(recs)
        inst = _uuid("instance", 0)
        st = {}
        geoms = [multipolygon_wkb([[(r["rect"][0], r["rect"][1]), (r["rect"][2], r["rect"][1]),
                                    (r["rect"][2], r["rect"][3]), (r["rect"][0], r["rect"][3])]])
                 for r in recs]
        dm = {"dtype": "Int16", "no_data": NODATA, "min_value": 0.0, "max_value": 10000.0,
              "real_min_value": 0.0, "real_max_value": 1.0, "exponent": 1.0}
        ds_rows = [
            {"instance_id": inst, "container_uri": f"ingest://{r['name']}",
             "subdir": "", "bands": [1], "status": "ACTIVE", "dmapping": dict(dm),
             "geom_wkb": rect_wkb(*r["rect"]), "shape_srid": 4326, "overviews": False,
             "locked_by_job_id": None}
            for r in recs
        ]
        tile_rows = [
            {"container_uri": f"ingest://{r['name']}", "band": 1, "level": 0,
             "block_x": bx, "block_y": by, "px": self.tile_px(r["recipe"], by, bx).tolist(),
             "crs_srid": 4326,
             "pix_to_crs": {"a": 10.0, "b": 0.0, "c": r["rect"][0], "d": 0.0, "e": -10.0,
                            "f": r["rect"][3]}}
            for r in recs for by in range(2) for bx in range(2)
        ]

        def create_aoi():
            st["aoi"] = client.create_aoi(geoms)
            return st["aoi"]

        def create_records():
            st["ids"] = client.create_records(
                [r["name"] for r in recs], req["tags"],
                [_ts(r["datetime"]) for r in recs], st["aoi"])
            return st["ids"]

        def index_datasets():
            for row, rid in zip(ds_rows, st["ids"]):
                row["record_id"] = rid
            return client.index_datasets(ds_rows)

        def append_tiles():
            new = client.spark.createDataFrame(tile_rows, schemas.TILE)
            client.catalog.write("tiles", client.catalog.read("tiles").unionByName(new))

        def list_datasets(by_time: bool):
            flt = (DatasetFilters(instance_ids=[inst], time_from=_ts(recs[0]["datetime"]),
                                  time_to=_ts(recs[-1]["datetime"]))
                   if by_time else DatasetFilters(instance_ids=[inst], record_ids=st["ids"]))
            rows = self.collect(client.list_datasets(flt))
            return sorted((r["record_id"], r["container_uri"], r["record_tags"])
                          for r in rows)

        def listing_ok(out) -> bool:
            tags = {**req["tags"], **req["added_tag"]}
            want = sorted((rid, f"ingest://{r['name']}", tags)
                          for rid, r in zip(st["ids"], recs))
            if out != want:
                return False
            state["ingested"].update(zip(st["ids"], recs))
            return True

        return [
            ("create_aoi", create_aoi, lambda out: len(out) == n, pa.array(geoms).nbytes),
            ("create_records", create_records, lambda out: len(set(out)) == n,
             pa.Table.from_pylist(recs).nbytes),
            ("index_datasets", index_datasets, lambda out: out == n,
             pa.Table.from_pylist(ds_rows).nbytes),
            ("append_tiles", append_tiles, lambda out: True,
             pa.Table.from_pylist(tile_rows).nbytes),
            ("add_records_tags", lambda: client.add_records_tags(st["ids"], req["added_tag"]),
             lambda out: True, None),
            # two read-your-write listings: by record id, and by the batch's
            # time window (only this batch's records fall in it)
            ("list_datasets", lambda: list_datasets(False), listing_ok, None),
            ("list_datasets", lambda: list_datasets(True), listing_ok, None),
        ]

    def final_steps(self, state) -> list[tuple]:
        """consolidate -> process_consolidation_job -> process_deletion_job
        over every ingested record; the last op checks the final states,
        the dataset swap and one decoded consolidated image."""
        from geocube_spark.fixtures import _uuid

        client, ingested, st = state["client"], state["ingested"], state["job"]

        def consolidate():
            st["id"] = client.consolidate(
                f"bench-{self.seed}", _uuid("instance", 0), self.layout,
                record_ids=sorted(ingested))
            return st["id"]

        def process_consolidation_job():
            st["state"], st["deletion"] = client.process_consolidation_job(st["id"])
            return st["state"]

        return [
            ("consolidate", consolidate, lambda out: bool(out), None),
            ("process_consolidation_job", process_consolidation_job,
             lambda out: out == "DONE", None),
            ("process_deletion_job", lambda: client.process_deletion_job(st["deletion"]),
             lambda out: out == "DONE" and self.check_job(client, ingested, st), None),
        ]

    def job_tasks(self, state) -> tuple[int, int]:
        from pyspark.sql import functions as F

        if "id" not in state["job"]:
            return 0, 0
        t = state["client"].catalog.read("tasks").filter(F.col("job_id") == state["job"]["id"])
        r = t.agg(F.count("*").alias("n"), F.sum("try_count").alias("tries")).first()
        return int(r["n"]), int(r["tries"] or 0)

    def check_job(self, client, ingested: dict, st: dict) -> bool:
        """Every ingested record is served ACTIVE from consolidated
        containers only, and every image of every consolidated container
        equals the ingested pixels of its record (images in record time
        order).  Records the consolidated pixel count."""
        from pyspark.sql import functions as F

        from geocube_spark.sources.gtiff import read_tiff

        ds = client.catalog.read("datasets").filter(
            F.col("record_id").isin(sorted(ingested))).collect()
        if {r["record_id"] for r in ds} != set(ingested) or any(
            not r["container_uri"].startswith("consolidated/") or r["status"] != "ACTIVE"
            for r in ds
        ):
            return False
        by_uri = {}
        for r in ds:
            by_uri.setdefault(r["container_uri"], []).append(ingested[r["record_id"]])
        st["pixels"] = 0
        for uri, recs in sorted(by_uri.items()):
            with open(f"{client.catalog.root}/consolidated_data/{uri}.tif", "rb") as fh:
                imgs = read_tiff(fh.read())
            recs = sorted(recs, key=lambda r: r["datetime"])
            if len(imgs) != len(recs):
                return False
            for img, rec in zip(imgs, recs):
                want = np.block([[self.tile_px(rec["recipe"], by, bx).reshape(BLOCK, BLOCK)
                                  for bx in range(2)] for by in range(2)])
                got = np.where(np.isnan(img.bands[0]), NODATA, img.bands[0])
                if not np.array_equal(got, want):
                    return False
                st["pixels"] += got.size
        return True


# ------------------------------------------------------------ corpus_dedup


class CorpusDedup(Workload):
    """MinHash near-duplicates -> connected components -> canonical pick,
    and cosine top-k, over a generated corpus."""

    name = "corpus_dedup"
    ops = ["dedup", "topk"]
    cycle_len = 4
    n_docs, n_base, n_shards = 4800, 3600, 4
    n_vecs, dim = 2000, 64
    threshold = 0.8

    def generate(self, inputs: str) -> dict:
        os.makedirs(inputs, exist_ok=True)
        rng = np.random.RandomState(self.seed % (2**32))
        vocab = np.array([f"w{i:04d}" for i in range(6000)])
        base = [list(vocab[rng.randint(0, len(vocab), rng.randint(60, 90))])
                for _ in range(self.n_base)]
        docs = [" ".join(w) for w in base]
        for _ in range(self.n_docs - self.n_base):
            words = list(base[rng.randint(self.n_base)])
            words[rng.randint(len(words))] = vocab[rng.randint(len(vocab))]
            docs.append(" ".join(words))
        order = rng.permutation(len(docs))
        docs = [docs[i] for i in order]
        pq.write_table(pa.table({
            "doc_id": pa.array(np.arange(len(docs), dtype=np.int64)),
            "text": docs,
            "lang": ["en"] * len(docs),
            "source": [f"src{i % 5}" for i in range(len(docs))],
            "n_chars": pa.array(np.array([len(d) for d in docs], np.int64)),
        }), os.path.join(inputs, "documents.parquet"))
        emb = rng.standard_normal((self.n_vecs, self.dim)).astype(np.float32)
        pq.write_table(pa.table({
            "vec_id": pa.array(np.arange(self.n_vecs, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(
                np.arange(0, self.n_vecs * self.dim + 1, self.dim, dtype=np.int32),
                pa.array(emb.ravel())),
            "label": pa.array((np.arange(self.n_vecs) % 7).astype(np.int32)),
        }), os.path.join(inputs, "embeddings.parquet"))
        return {"documents": len(docs), "embeddings": self.n_vecs, "dim": self.dim}

    def prepare(self, spark, inputs: str, catalog_dir: str):
        os.makedirs(catalog_dir)
        docs = spark.read.parquet(os.path.join(inputs, "documents.parquet"))
        emb = spark.read.parquet(os.path.join(inputs, "embeddings.parquet"))
        return {"docs": docs, "emb": emb}

    def load_oracle(self, inputs: str) -> None:
        d = pq.read_table(os.path.join(inputs, "documents.parquet")).to_pydict()
        self.text = dict(zip(d["doc_id"], d["text"]))
        self.n_chars = dict(zip(d["doc_id"], d["n_chars"]))
        e = pq.read_table(os.path.join(inputs, "embeddings.parquet"))
        self.emb = e.column("embedding").combine_chunks().flatten().to_numpy().reshape(
            -1, self.dim).astype(np.float64)
        self._pairs_cache = {}

    def requests(self):
        rng = random.Random(self.seed)
        for _cycle, kind in _cycles(rng, ["dedup"] + ["topk"] * 3):
            if kind == "dedup":
                yield {"op": "dedup", "shard": rng.randrange(self.n_shards)}
            else:
                q = np.random.RandomState(rng.randrange(2**31)).standard_normal(self.dim)
                yield {"op": "topk", "query": [round(float(v), 6) for v in q], "k": 10}

    def run(self, state, req: dict):
        from pyspark.sql import functions as F

        from geocube_spark.operators import dedup as dd
        from geocube_spark.operators import similarity as sim

        if req["op"] == "topk":
            rows = self.collect(sim.brute_force_topk(state["emb"], req["query"], k=req["k"]))
            return [(r["vec_id"], r["score"]) for r in rows]
        docs = state["docs"].filter(F.col("doc_id") % self.n_shards == req["shard"])
        pairs = dd.minhash_near_duplicates(docs, threshold=self.threshold,
                                           num_hashes=64, bands=16).localCheckpoint()
        comp = dd.connected_components(pairs).select("node", "component")
        keep = (
            docs.join(comp, docs["doc_id"] == comp["node"])
            .groupBy("component")
            .agg(F.max(F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("nid"))).alias("m"),
                 F.count("*").alias("n"))
            .select("component", (-F.col("m.nid")).alias("kept"), "n")
        )
        return {
            "pairs": sorted((r["doc_a"], r["doc_b"]) for r in self.collect(pairs)),
            "keep": sorted((r["component"], r["kept"], r["n"]) for r in self.collect(keep)),
        }

    def _exact_pairs(self, shard: int):
        if shard in self._pairs_cache:
            return self._pairs_cache[shard]
        sh = {}
        for i, t in self.text.items():
            if i % self.n_shards != shard:
                continue
            w = t.lower().split()
            sh[i] = {" ".join(w[j:j + 3]) for j in range(max(len(w) - 2, 1))}
        index = {}
        for i, s in sh.items():
            for g in s:
                index.setdefault(g, []).append(i)
        cands = set()
        for ids in index.values():
            for a in ids:
                for b in ids:
                    if a < b:
                        cands.add((a, b))
        pairs = sorted((a, b) for a, b in cands
                       if len(sh[a] & sh[b]) / len(sh[a] | sh[b]) >= self.threshold)
        self._pairs_cache[shard] = pairs
        return pairs

    def check(self, req: dict, out) -> bool:
        if req["op"] == "topk":
            q = np.asarray(req["query"])
            s = self.emb @ q / (np.linalg.norm(self.emb, axis=1) * np.linalg.norm(q))
            top = np.sort(s)[::-1][: req["k"]]
            got = np.array([v for _, v in out])
            return len(out) == req["k"] and np.allclose(got, top, rtol=1e-6, atol=1e-9) and all(
                abs(s[i] - v) <= 1e-6 for i, v in out)
        pairs = self._exact_pairs(req["shard"])
        if out["pairs"] != pairs:
            return False
        parent = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
        comps = {}
        for x in parent:
            comps.setdefault(find(x), []).append(x)
        want = sorted((c, max(m, key=lambda i: (self.n_chars[i], -i)), len(m))
                      for c, m in comps.items())
        return out["keep"] == want


WORKLOADS = {w.name: w for w in (CatalogQuery, CubeRead, IngestConsolidate, CorpusDedup)}


def stream_bytes(name: str, seed: int, n: int) -> bytes:
    """The first ``n`` requests of a workload's stream, serialized."""
    it = WORKLOADS[name](seed).requests()
    return json.dumps([next(it) for _ in range(n)], sort_keys=True).encode()
