"""GeocubeClient — the user-facing API facade.

Mirrors the reference's gRPC service surface (api/v1/pb/geocube.proto) so a
user of the reference finds every call they use today, returning DataFrames
instead of gRPC streams.  Each method delegates to the plan builders and
operators; the client itself holds no logic beyond glue + persistence.

Catalog persistence is parquet-per-entity via sources.catalog.Catalog;
writes are read-modify-overwrite (Delta MERGE would slot in identically —
the transforms are already pure).
"""

from __future__ import annotations

import uuid
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geocube_spark import schemas
from geocube_spark.functions.geometry import geom_hash, rect_wkb, wkb_bounds
from geocube_spark.operators.admin import (
    delete_datasets,
    get_cube_from_metadatas,
    update_datasets_impact,
)
from geocube_spark.operators.cover import cover_for_layout
from geocube_spark.operators.regrid import xyz_tile
from geocube_spark.plans.cube import get_cube, get_cube_headers
from geocube_spark.plans.find_datasets import DatasetFilters, find_datasets
from geocube_spark.plans.find_records import RecordFilters, find_records
from geocube_spark.sources.catalog import (
    Catalog,
    make_aoi_rows,
    update_record_tags,
)
from geocube_spark.streaming.jobs import advance_job_state, task_counters
from geocube_spark.validation import (
    ValidationError,
    validate_aoi_bounds,
    validate_consolidation_params,
    validate_dataset_with_variable,
    validate_dformat,
    validate_dmapping,
    validate_grid,
    validate_instance_name,
    validate_layout,
    validate_named_palette,
    validate_record,
    validate_variable,
)


def _uuid() -> str:
    return str(uuid.uuid4())


class GeocubeClient:
    """One instance per catalog root; thin, stateless between calls."""

    def __init__(self, spark: SparkSession, catalog_root: str):
        self.spark = spark
        self.catalog = Catalog(spark, catalog_root)

    def _append(self, name: str, df: DataFrame) -> None:
        """Append rows to a catalog table, bootstrapping it if absent.

        Existence is checked explicitly (not a bare try/except around the
        read+union+write): a transient read or write failure must propagate,
        never silently fall back to replacing the table with only new rows.
        """
        if self.catalog.exists(name):
            self.catalog.write(name, self.catalog.read(name).unionByName(df))
        else:
            self.catalog.write(name, df)

    # ------------------------------------------------------------- records

    def create_aoi(self, geoms_wkb: list[bytes]) -> list[str]:
        """CreateAOI: dedup-by-hash against the existing table
        (pg_records.go:228-253).  Dedup is a left_anti join on hash — no
        driver-side set of known hashes, so it holds at 10^9 stored AOIs.
        Returned ids are deterministic (uuid5 of geometry hash), so they are
        correct whether or not a row was newly inserted."""
        rows = make_aoi_rows(geoms_wkb)
        for r in rows:
            b = r["bbox"]
            # record.go:201-214: coordinates must be geographic
            validate_aoi_bounds((b["xmin"], b["ymin"], b["xmax"], b["ymax"]))
        new_df = self.spark.createDataFrame(rows, schemas.AOI)
        if self.catalog.exists("aoi"):
            existing = self.catalog.read("aoi")
            fresh = new_df.join(existing.select("hash"), "hash", "left_anti")
            self.catalog.write("aoi", existing.unionByName(fresh.select(*existing.columns)))
        else:
            self.catalog.write("aoi", new_df)
        return [r["id"] for r in rows]

    def create_records(
        self, names: list[str], tags: dict[str, str], datetimes: list[datetime], aoi_ids: list[str]
    ) -> list[str]:
        for n in names:
            validate_record(n, tags)  # record.go:174-199 (URN + tag charset)
        rows = [
            {"id": _uuid(), "name": n, "datetime": dt, "tags": tags, "aoi_id": a}
            for n, dt, a in zip(names, datetimes, aoi_ids)
        ]
        new_df = self.spark.createDataFrame(rows, schemas.RECORD)
        self._append("records", new_df)
        return [r["id"] for r in rows]

    def list_records(self, flt: RecordFilters | None = None, with_aoi: bool = False) -> DataFrame:
        flt = flt or RecordFilters()
        aoi = self.catalog.read("aoi") if with_aoi or flt.aoi_extent else None
        return find_records(self.catalog.read("records"), aoi, flt)

    def get_records(self, record_ids: list[str]) -> list[dict]:
        """GetRecords RPC / ReadRecords (pg_records.go:193-225): fetch
        records by explicit id list, PRESERVING the request order; any
        missing id is an error (the reference's EntityNotFound)."""
        fetched = {
            r["id"]: r.asDict(recursive=True)
            for r in self.catalog.read("records")
            .filter(F.col("id").isin(record_ids))
            .collect()
        }
        missing = [i for i in record_ids if i not in fetched]
        if missing:
            raise KeyError(f"unknown record(s) {missing!r}")
        return [fetched[i] for i in record_ids]

    def add_records_tags(self, record_ids: list[str], tags: dict[str, str]) -> None:
        out = update_record_tags(self.catalog.read("records"), record_ids, add=tags)
        self.catalog.write("records", out)

    def remove_records_tags(self, record_ids: list[str], keys: list[str]) -> None:
        out = update_record_tags(self.catalog.read("records"), record_ids, remove=keys)
        self.catalog.write("records", out)

    def delete_records(self, record_ids: list[str]) -> int:
        records = self.catalog.read("records")
        datasets = self.catalog.read("datasets")
        refd = (
            datasets.filter(F.col("record_id").isin(record_ids))
            .select("record_id")
            .distinct()
            .count()
        )
        if refd:
            raise ValueError("cannot delete records still referenced by datasets")
        keep = records.filter(~F.col("id").isin(record_ids))
        n = records.count() - keep.count()
        self.catalog.write("records", keep)
        return n

    def get_aoi(self, aoi_id: str) -> dict:
        """GetAOI: the deduplicated footprint geometry by id."""
        row = self.catalog.read("aoi").filter(F.col("id") == aoi_id).first()
        if row is None:
            raise KeyError(f"unknown AOI {aoi_id!r}")
        return row.asDict(recursive=True)

    # ----------------------------------------------------------- variables

    def create_variable(
        self,
        name: str,
        bands: list[str],
        dformat: dict,
        resampling_alg: str = "NEAR",
        palette: str | None = None,
    ) -> str:
        # variable.go:296-328: URN name, palette rules, dformat, band rules
        validate_variable(name, bands, dformat, palette)
        row = {
            "id": _uuid(), "name": name, "unit": "", "description": "",
            "bands": bands, "dformat": dformat, "palette": palette,
            "resampling_alg": resampling_alg,
        }
        df = self.spark.createDataFrame([row], schemas.VARIABLE)
        self._append("variables", df)
        return row["id"]

    def instantiate_variable(self, variable_id: str, name: str, metadata: dict | None = None) -> str:
        validate_instance_name(name)  # variable.go:286-293 (single segment)
        row = {"id": _uuid(), "name": name, "metadata": metadata or {}, "variable_id": variable_id}
        df = self.spark.createDataFrame([row], schemas.INSTANCE)
        self._append("instances", df)
        return row["id"]

    def list_variables(self, name_glob: str | None = None) -> DataFrame:
        from geocube_spark.functions.globs import like_filter

        v = self.catalog.read("variables")
        if name_glob:
            v = v.filter(like_filter(F.col("name"), name_glob))
        return v

    def get_variable(
        self,
        variable_id: str | None = None,
        name: str | None = None,
        instance_id: str | None = None,
    ) -> dict:
        """GetVariable: lookup by id, name, or one of its instance ids
        (the three request arms of the RPC); returns the variable with its
        instances attached."""
        variables = self.catalog.read("variables")
        if instance_id is not None:
            inst = (
                self.catalog.read("instances")
                .filter(F.col("id") == instance_id)
                .first()
            )
            if inst is None:
                raise KeyError(f"unknown instance {instance_id!r}")
            variable_id = inst["variable_id"]
        if variable_id is not None:
            row = variables.filter(F.col("id") == variable_id).first()
        elif name is not None:
            row = variables.filter(F.col("name") == name).first()
        else:
            raise ValueError("get_variable needs variable_id, name or instance_id")
        if row is None:
            raise KeyError(f"unknown variable {variable_id or name!r}")
        out = row.asDict(recursive=True)
        if self.catalog.exists("instances"):
            out["instances"] = [
                r.asDict(recursive=True)
                for r in self.catalog.read("instances")
                .filter(F.col("variable_id") == out["id"])
                .collect()
            ]
        else:
            out["instances"] = []
        return out

    def update_variable(
        self,
        variable_id: str,
        name: str | None = None,
        unit: str | None = None,
        description: str | None = None,
        palette: str | None = None,
        resampling_alg: str | None = None,
    ) -> None:
        """UpdateVariable (variable.go:191-217): only user-data fields are
        mutable (dformat/bands are immutable once datasets reference them);
        the updated entity re-validates."""
        variables = self.catalog.read("variables")
        row = variables.filter(F.col("id") == variable_id).first()
        if row is None:
            raise KeyError(f"unknown variable {variable_id!r}")
        merged = row.asDict(recursive=True)
        for k, v in (
            ("name", name), ("unit", unit), ("description", description),
            ("palette", palette), ("resampling_alg", resampling_alg),
        ):
            if v is not None:
                merged[k] = v
        validate_variable(
            merged["name"], merged["bands"], merged["dformat"], merged["palette"]
        )
        updated = variables.filter(F.col("id") != variable_id).unionByName(
            self.spark.createDataFrame([merged], schemas.VARIABLE)
        )
        self.catalog.write("variables", updated)

    def delete_variable(self, variable_id: str) -> None:
        """DeleteVariable with the referential guard: instances of the
        variable that still have datasets block the delete; otherwise the
        variable AND its instances are removed."""
        variables = self.catalog.read("variables")
        if not variables.filter(F.col("id") == variable_id).first():
            raise KeyError(f"unknown variable {variable_id!r}")
        if self.catalog.exists("instances"):
            instances = self.catalog.read("instances")
            mine = instances.filter(F.col("variable_id") == variable_id)
            if self.catalog.exists("datasets"):
                used = (
                    self.catalog.read("datasets")
                    .join(
                        mine.select(F.col("id").alias("instance_id")),
                        "instance_id",
                        "left_semi",
                    )
                    .first()
                )
                if used:
                    raise ValidationError(
                        f"variable {variable_id!r} has instances referenced by datasets"
                    )
            self.catalog.write(
                "instances", instances.filter(F.col("variable_id") != variable_id)
            )
        self.catalog.write(
            "variables", variables.filter(F.col("id") != variable_id)
        )

    def update_instance(
        self,
        instance_id: str,
        name: str | None = None,
        add_metadata: dict[str, str] | None = None,
        del_metadata_keys: list[str] | None = None,
    ) -> None:
        """UpdateInstance (variable.go:258-284): rename (unique within the
        variable) and metadata upsert/delete."""
        instances = self.catalog.read("instances")
        row = instances.filter(F.col("id") == instance_id).first()
        if row is None:
            raise KeyError(f"unknown instance {instance_id!r}")
        merged = row.asDict(recursive=True)
        if name is not None and name != merged["name"]:
            validate_instance_name(name)
            dup = instances.filter(
                (F.col("variable_id") == merged["variable_id"])
                & (F.col("name") == name)
                & (F.col("id") != instance_id)
            ).first()
            if dup:
                raise ValidationError(
                    f"instance named {name!r} already exists for this variable"
                )
            merged["name"] = name
        md = dict(merged["metadata"] or {})
        md.update(add_metadata or {})
        for k in del_metadata_keys or []:
            md.pop(k, None)
        merged["metadata"] = md
        updated = instances.filter(F.col("id") != instance_id).unionByName(
            self.spark.createDataFrame([merged], schemas.INSTANCE)
        )
        self.catalog.write("instances", updated)

    def delete_instance(self, instance_id: str) -> None:
        """DeleteInstance with the datasets referential guard."""
        instances = self.catalog.read("instances")
        if not instances.filter(F.col("id") == instance_id).first():
            raise KeyError(f"unknown instance {instance_id!r}")
        if self.catalog.exists("datasets"):
            used = (
                self.catalog.read("datasets")
                .filter(F.col("instance_id") == instance_id)
                .first()
            )
            if used:
                raise ValidationError(
                    f"instance {instance_id!r} is still referenced by datasets"
                )
        self.catalog.write(
            "instances", instances.filter(F.col("id") != instance_id)
        )

    # ------------------------------------------------------------ datasets

    def index_datasets(self, dataset_rows: list[dict]) -> int:
        """IndexDatasets: validate + append fact rows (S2 bulk ingest).

        Beyond the per-row DataMapping rules (dataset.go:208-220), each row
        is validated AGAINST ITS VARIABLE when the instances/variables
        tables exist (dataset.go:191-206 ValidateWithVariable: band arity,
        cast lattice, external-range intersection) — one broadcast-sized
        collect of the instance->variable dim, never a per-row scan."""
        variables_by_instance: dict[str, dict] = {}
        if self.catalog.exists("instances") and self.catalog.exists("variables"):
            inst_ids = {r["instance_id"] for r in dataset_rows}
            dim = (
                self.catalog.read("instances")
                .filter(F.col("id").isin(list(inst_ids)))
                .select(F.col("id").alias("instance_id"), "variable_id")
                .join(
                    self.catalog.read("variables").select(
                        F.col("id").alias("variable_id"), "bands", "dformat"
                    ),
                    "variable_id",
                )
                .collect()
            )
            variables_by_instance = {
                r["instance_id"]: r.asDict(recursive=True) for r in dim
            }
        for r in dataset_rows:
            validate_dmapping(r["dmapping"])
            v = variables_by_instance.get(r["instance_id"])
            if v is not None:
                validate_dataset_with_variable(r["bands"], r["dmapping"], v)
            xmin, ymin, xmax, ymax = wkb_bounds(r["geom_wkb"])
            r.setdefault("bbox", {"xmin": xmin, "ymin": ymin, "xmax": xmax, "ymax": ymax})
            r.setdefault("id", _uuid())
        df = self.spark.createDataFrame(dataset_rows, schemas.DATASET)
        self._append("datasets", df)
        return len(dataset_rows)

    def list_datasets(self, flt: DatasetFilters | None = None) -> DataFrame:
        return find_datasets(
            self.catalog.read("datasets"),
            self.catalog.read("records"),
            flt or DatasetFilters(),
        )

    def delete_datasets(self, flt: DatasetFilters) -> tuple[int, DataFrame]:
        """DeleteDatasets (operations.go:255-334) with managed-container GC.

        Dead container URIs are APPENDED to the ``pending_deletions``
        catalog table — a deletion manifest the deployment's storage-GC job
        consumes — and returned as a DataFrame.  The URI set is a function
        of the whole datasets table, so it must never transit the driver
        (the round-1/2 version collect()ed it; bounded for admin batches
        but wrong at fleet-wide GC scale)."""
        datasets = self.catalog.read("datasets")
        containers = self.catalog.read("containers")
        survivors, dead = delete_datasets(datasets, containers, flt)
        n_deleted = datasets.count() - survivors.count()
        manifest = dead.select("uri")
        if self.catalog.exists("pending_deletions"):
            manifest = (
                self.catalog.read("pending_deletions").unionByName(manifest).distinct()
            )
        # manifest reads the CURRENT datasets/containers versions, so it is
        # committed first; the snapshot-then-commit write keeps the old
        # datasets version readable until its replacement is fully landed
        self.catalog.write("pending_deletions", manifest)
        self.catalog.write("datasets", survivors)
        return n_deleted, self.catalog.read("pending_deletions")

    def update_datasets_dry_run(self, flt: DatasetFilters) -> DataFrame:
        return update_datasets_impact(self.catalog.read("datasets"), flt)

    def update_datasets(
        self,
        instance_id: str,
        record_ids: list[str],
        dmapping: dict,
        simulate: bool = False,
    ) -> dict[str, int]:
        """UpdateDatasets admin RPC (admin.go:72-96, pg_containers.go:
        433-465): per-OLD-mapping impact counts keyed by the reference's
        report string, then — unless ``simulate`` — a rewrite of
        no_data / value range / real range / exponent on the selected
        rows.  DTYPE IS NEVER TOUCHED (the reference's UPDATE list omits
        it: changing the storage type requires reconsolidation)."""

        def g(v: float) -> str:
            return "%g" % float(v)

        d = self.catalog.read("datasets")
        sel = (F.col("instance_id") == instance_id) & F.col("record_id").isin(
            list(record_ids)
        )
        results = {
            (
                f"({r['dtype']}, {g(r['min_value'])}, {g(r['max_value'])}, "
                f"no_data={g(r['no_data'])}) currently maps to "
                f"({g(r['real_min_value'])}, {g(r['real_max_value'])}) "
                f"with exponent={g(r['exponent'])}"
            ): r["n"]
            for r in d.filter(sel)
            .groupBy(
                F.col("dmapping.dtype").alias("dtype"),
                F.col("dmapping.no_data").alias("no_data"),
                F.col("dmapping.min_value").alias("min_value"),
                F.col("dmapping.max_value").alias("max_value"),
                F.col("dmapping.real_min_value").alias("real_min_value"),
                F.col("dmapping.real_max_value").alias("real_max_value"),
                F.col("dmapping.exponent").alias("exponent"),
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        if simulate:
            return results
        field_order = d.schema["dmapping"].dataType.fieldNames()
        vals = {
            k: F.lit(float(dmapping[k]))
            for k in ("no_data", "min_value", "max_value",
                      "real_min_value", "real_max_value", "exponent")
        }
        new_struct = F.struct(
            *[
                (vals[k] if k in vals else F.col(f"dmapping.{k}")).alias(k)
                for k in field_order
            ]
        ).cast(d.schema["dmapping"].dataType)
        self.catalog.write(
            "datasets",
            d.withColumn(
                "dmapping",
                F.when(sel, new_struct).otherwise(F.col("dmapping")),
            ),
        )
        return results

    def tidy(
        self,
        aois: bool = False,
        records: bool = False,
        variables: bool = False,
        instances: bool = False,
        containers: bool = False,
        params: bool = False,
        simulate: bool = False,
    ) -> list[int]:
        """TidyPending admin RPC (admin.go:16-70): delete DANGLING rows —
        records with no datasets, AOIs with no records, instances with no
        datasets, variables with no instances, UNMANAGED containers with
        no datasets (pg_containers.go:100-104 — managed ones belong to
        the storage-GC path), consolidation params with no variable.

        Deletion order mirrors the reference's unit of work (records
        before aois, instances before variables), so one call cascades
        one level.  Returns counts in the reference's ``nbs`` order:
        [aois, records, instances, variables, containers, params].
        Everything is an anti-join — no driver-side id sets."""
        nbs = [0] * 6

        def pending(df: DataFrame, key: str, ref: DataFrame, ref_key: str):
            kept = df.join(
                ref.select(F.col(ref_key).alias(key)).distinct(), key, "left_semi"
            )
            return kept, df.count() - kept.count()

        datasets = self.catalog.read("datasets")
        recs = self.catalog.read("records")
        if records:
            kept, nbs[1] = pending(recs, "id", datasets, "record_id")
            if not simulate:
                self.catalog.write("records", kept)
                # re-read: the write garbage-collected the snapshot the
                # lazy `kept` plan reads
                kept = self.catalog.read("records")
            recs = kept
        if aois:
            kept, nbs[0] = pending(self.catalog.read("aoi"), "id", recs, "aoi_id")
            if not simulate:
                self.catalog.write("aoi", kept)
        insts = self.catalog.read("instances")
        if instances:
            kept, nbs[2] = pending(insts, "id", datasets, "instance_id")
            if not simulate:
                self.catalog.write("instances", kept)
                kept = self.catalog.read("instances")
            insts = kept
        if variables:
            kept, nbs[3] = pending(
                self.catalog.read("variables"), "id", insts, "variable_id"
            )
            if not simulate:
                self.catalog.write("variables", kept)
        if containers:
            cont = self.catalog.read("containers")
            unref = cont.join(
                datasets.select(F.col("container_uri").alias("uri")).distinct(),
                "uri",
                "left_anti",
            )
            doomed = unref.filter(~F.col("managed"))
            nbs[4] = doomed.count()
            if not simulate:
                self.catalog.write(
                    "containers", cont.join(doomed.select("uri"), "uri", "left_anti")
                )
        if params:
            kept, nbs[5] = pending(
                self.catalog.read("consolidation_params"),
                "variable_id",
                self.catalog.read("variables"),
                "id",
            )
            if not simulate:
                self.catalog.write("consolidation_params", kept)
        return nbs

    # ---------------------------------------------------------------- cube

    def get_cube_headers(
        self, flt: DatasetFilters, record_groups: list[list[str]] | None = None
    ) -> DataFrame:
        return get_cube_headers(
            self.catalog.read("datasets"), self.catalog.read("records"), flt, record_groups
        )

    def get_cube(
        self,
        flt: DatasetFilters,
        nodata: float,
        min_valid_fraction: float = 0.0,
        bands: list[int] | None = None,
    ) -> DataFrame:
        return get_cube(
            self.catalog.read("datasets"),
            self.catalog.read("records"),
            self.catalog.read("tiles"),
            flt,
            nodata=nodata,
            min_valid_fraction=min_valid_fraction,
            bands=bands,
        )

    def download_cube(self, metadata: DataFrame, nodata: float) -> DataFrame:
        return get_cube_from_metadatas(metadata, self.catalog.read("tiles"), nodata)

    def get_xyz_tile(self, flt: DatasetFilters, x: int, y: int, z: int, nodata: float) -> DataFrame:
        records = self.catalog.read("records")
        d = find_datasets(self.catalog.read("datasets"), records, flt)
        if "record_datetime" not in d.columns:
            # join-avoidance (O5) skipped the records join; the mosaic's
            # latest-wins rule still needs record time
            d = d.join(
                F.broadcast(
                    records.select(
                        F.col("id").alias("record_id"),
                        F.col("datetime").alias("record_datetime"),
                    )
                ),
                "record_id",
            )
        slim = d.select("container_uri", "record_id", "record_datetime")
        tiles = self.catalog.read("tiles").join(F.broadcast(slim), "container_uri")
        return xyz_tile(tiles, x, y, z, nodata=nodata)

    # ------------------------------------------------------- layouts/grids

    def tile_aoi(self, aoi_rects: list[tuple[float, float, float, float]], layout_name: str):
        layouts = {r["name"]: r for r in self.catalog.read("layouts").collect()}
        if layout_name not in layouts:
            raise KeyError(f"unknown layout {layout_name!r}")
        cells = self.catalog.read("cells") if self.catalog.exists("cells") else None
        return cover_for_layout(self.spark, layouts[layout_name], aoi_rects, cells)

    def find_container_layouts(self, flt: DatasetFilters) -> DataFrame:
        """J6 (pg_layouts.go:84-120): layouts of the selected datasets'
        containers — DISTINCT container set per layout, ordered by layout.
        Records are read only for a time, tag or record-name filter, so a
        dataset-only filter plans without the records join."""
        records = self.catalog.read("records") if flt.has_record_predicates() else None
        d = find_datasets(self.catalog.read("datasets"), records, flt)
        cl = self.catalog.read("container_layouts")
        return (
            d.select("container_uri")
            .dropDuplicates()
            .join(F.broadcast(cl), "container_uri")
            .groupBy("layout_name")
            .agg(
                F.countDistinct("container_uri").alias("n_containers"),
                F.sort_array(F.collect_list("container_uri")).alias("containers"),
            )
            .orderBy("layout_name")
        )

    def get_consolidation_params(self, variable_id: str):
        row = (
            self.catalog.read("consolidation_params")
            .filter(F.col("variable_id") == variable_id)
            .first()
        )
        if row is None:
            raise KeyError(f"no consolidation params for variable {variable_id!r}")
        return row.asDict(recursive=True)

    def config_consolidation(
        self,
        variable_id: str,
        dformat: dict,
        compression: str = "NO",
        creation_params: dict[str, str] | None = None,
        resampling_alg: str = "NEAR",
        exponent: float = 1.0,
        storage_class: str = "STANDARD",
    ) -> dict:
        """ConfigConsolidation (geocube.proto / consolidation_params.go:
        36-150): validate the storage recipe, merge the per-compression
        creation-param defaults, upsert one row per variable."""
        validate_dformat(dformat)
        normalized = validate_consolidation_params(
            dformat["dtype"], compression, creation_params, resampling_alg
        )
        row = {
            "variable_id": variable_id, "dformat": dformat, "exponent": exponent,
            "compression": compression, "creation_params": normalized,
            "resampling_alg": resampling_alg, "storage_class": storage_class,
        }
        # explicit schema either way: a bootstrap row with empty
        # creation_params cannot be type-inferred (empty map)
        schema = (
            self.catalog.read("consolidation_params").schema
            if self.catalog.exists("consolidation_params")
            else (
                "variable_id string, "
                "dformat struct<dtype:string,no_data:double,min_value:double,max_value:double>, "
                "exponent double, compression string, resampling_alg string, "
                "storage_class string, creation_params map<string,string>"
            )
        )
        df = self.spark.createDataFrame([row], schema)
        if self.catalog.exists("consolidation_params"):
            others = self.catalog.read("consolidation_params").filter(
                F.col("variable_id") != variable_id
            )
            self.catalog.write("consolidation_params", others.unionByName(df))
        else:
            self.catalog.write("consolidation_params", df)
        return row

    # --------------------------------------------- layout/grid/palette CRUD

    def create_layout(
        self,
        name: str,
        grid_parameters: dict[str, str],
        block_x_size: int = 256,
        block_y_size: int = 256,
        max_records: int = 1024,
        overviews_min_size: int = 256,
        interlacing_pattern: str = "Z=0>T>R>B;Z=1:>R>T>B",
        grid_flags: list[str] | None = None,
    ) -> None:
        """CreateLayout (geocube.proto; validation layout.go:116-132).
        Duplicate names are rejected (pg unique constraint twin)."""
        validate_layout(name, block_x_size, block_y_size, max_records, interlacing_pattern)
        if self.catalog.exists("layouts"):
            if self.catalog.read("layouts").filter(F.col("name") == name).first():
                raise ValidationError(f"layout {name!r} already exists")
        row = {
            "name": name, "grid_flags": grid_flags or [],
            "grid_parameters": grid_parameters,
            "block_x_size": block_x_size, "block_y_size": block_y_size,
            "max_records": max_records, "overviews_min_size": overviews_min_size,
            "interlacing_pattern": interlacing_pattern,
        }
        self._append("layouts", self.spark.createDataFrame([row], schemas.LAYOUT))

    def list_layouts(self, name_glob: str | None = None) -> DataFrame:
        from geocube_spark.functions.globs import like_filter

        out = self.catalog.read("layouts")
        if name_glob:
            out = out.filter(like_filter(F.col("name"), name_glob))
        return out

    def delete_layout(self, name: str) -> None:
        """DeleteLayout with the in-use guard: a layout referenced by
        container_layouts (J6) cannot be deleted."""
        layouts = self.catalog.read("layouts")
        if not layouts.filter(F.col("name") == name).first():
            raise KeyError(f"unknown layout {name!r}")
        if self.catalog.exists("container_layouts"):
            in_use = (
                self.catalog.read("container_layouts")
                .filter(F.col("layout_name") == name)
                .first()
            )
            if in_use:
                raise ValidationError(
                    f"layout {name!r} is still referenced by containers"
                )
        self.catalog.write("layouts", layouts.filter(F.col("name") != name))

    def create_grid(self, name: str, description: str, cells: list[dict]) -> None:
        """CreateGrid (grid.go:79-102 validation; bulk cell insert =
        pg_grids.go:27-59 COPY twin -> one DataFrame append).  Cell rows:
        {id, crs, srid, geom_wkb}; bbox derived here for the J5 prune."""
        validate_grid(name, cells)
        if self.catalog.exists("cells"):
            if self.catalog.read("cells").filter(F.col("grid") == name).first():
                raise ValidationError(f"grid {name!r} already exists")
        rows = []
        for c in cells:
            xmin, ymin, xmax, ymax = wkb_bounds(c["geom_wkb"])
            rows.append(
                {
                    "id": c["id"], "grid": name, "crs": c["crs"],
                    "srid": int(c["srid"]), "geom_wkb": c["geom_wkb"],
                    "bbox": {"xmin": xmin, "ymin": ymin, "xmax": xmax, "ymax": ymax},
                }
            )
        self._append("cells", self.spark.createDataFrame(rows, schemas.CELL))

    def list_grids(self, name_glob: str | None = None) -> DataFrame:
        """ListGrids: one row per grid with its cell count."""
        from geocube_spark.functions.globs import like_filter

        g = self.catalog.read("cells").groupBy("grid").agg(
            F.count(F.lit(1)).alias("n_cells")
        )
        if name_glob:
            g = g.filter(like_filter(F.col("grid"), name_glob))
        return g.orderBy("grid")

    def delete_grid(self, name: str) -> None:
        """DeleteGrid with the in-use guard: a grid named by any layout's
        grid_parameters cannot be deleted."""
        cells = self.catalog.read("cells")
        if not cells.filter(F.col("grid") == name).first():
            raise KeyError(f"unknown grid {name!r}")
        if self.catalog.exists("layouts"):
            in_use = (
                self.catalog.read("layouts")
                .filter(F.element_at(F.col("grid_parameters"), "grid") == name)
                .first()
            )
            if in_use:
                raise ValidationError(f"grid {name!r} is still used by a layout")
        self.catalog.write("cells", cells.filter(F.col("grid") != name))

    def create_palette(self, name: str, points, replace: bool = False) -> None:
        """CreatePalette (palette.go:54-72): >= 2 strictly-increasing color
        points spanning exactly [0,1].  ``points`` are
        functions.palette.ColorPoint; ``replace`` mirrors the RPC flag."""
        validate_named_palette(name, points)
        rows = [
            {"name": name, "val": float(p.value), "r": p.r, "g": p.g, "b": p.b, "a": p.a}
            for p in points
        ]
        df = self.spark.createDataFrame(
            rows, "name string, val double, r int, g int, b int, a int"
        )
        if self.catalog.exists("palettes"):
            existing = self.catalog.read("palettes")
            if existing.filter(F.col("name") == name).first():
                if not replace:
                    raise ValidationError(f"palette {name!r} already exists")
                existing = existing.filter(F.col("name") != name)
            self.catalog.write("palettes", existing.unionByName(df))
        else:
            self.catalog.write("palettes", df)

    def get_palette(self, name: str):
        """Palette points, ordered by value, as ColorPoint list."""
        from geocube_spark.functions.palette import ColorPoint

        rows = (
            self.catalog.read("palettes")
            .filter(F.col("name") == name)
            .orderBy("val")
            .collect()
        )
        if not rows:
            raise KeyError(f"unknown palette {name!r}")
        return [ColorPoint(r["val"], r["r"], r["g"], r["b"], r["a"]) for r in rows]

    # -------------------------------------------------------- consolidation

    def consolidate(
        self,
        job_name: str,
        instance_id: str,
        layout_name: str,
        record_ids: list[str] | None = None,
        tags: dict[str, str] | None = None,
        from_time: datetime | None = None,
        to_time: datetime | None = None,
        execution_level: int = 1,
        collapse_on_record_id: str | None = None,
    ) -> str:
        """Consolidate RPC: create-job orchestration end-to-end.

        ``collapse_on_record_id`` (operations.proto:177): every selected
        dataset merges into THAT single record — originals are KEPT (no
        swap-out of sources, data is duplicated); the worker pre-mosaics
        latest-wins before writing one image per container.

        Composes the reference's csldInit (svc/consolidater.go:108-151 —
        list active datasets, read the variable's ConsolidationParams,
        create the job, LOCK the datasets flag-INIT) with
        csldPrepareOrders (consolidater.go:166-407 — cover the job's
        union extent with the layout's grid, one task per
        (cell, max_records-chunk), lock flag-TODELETE, release INIT)
        through the job state machine: NEW -> JobCreated -> CREATED ->
        OrdersPrepared -> CONSOLIDATIONINPROGRESS.  A step-by-step
        ``execution_level`` pauses (Waiting) at CREATED before planning —
        resume with :meth:`continue_consolidation`.

        Returns the job id.  The rewrite itself (the reference's
        consolidation worker) is the operators/consolidation pipeline:
        consolidate_tiles_cancellable -> swap_datasets, driven by the
        task rows this method emits.
        """
        import json

        # ListActiveDatasetsID twin (pg_containers.go:350-383): ACTIVE
        # datasets of the instance, optionally narrowed by record ids /
        # record tags / record time range.
        flt = DatasetFilters(
            status="ACTIVE", instance_ids=[instance_id], record_ids=record_ids,
            tags=tags, time_from=from_time, time_to=to_time, order=False,
        )
        sel = find_datasets(
            self.catalog.read("datasets"), self.catalog.read("records"), flt
        ).select("id", "locked_by_job_id")
        job_id = str(uuid.uuid5(uuid.NAMESPACE_URL, f"geocube-spark/job/{job_name}"))
        self._check_job_name_free(job_id, job_name)
        stats = sel.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_if(
                F.col("locked_by_job_id").isNotNull()
                & (F.col("locked_by_job_id") != job_id)
            ).alias("n_conflicts"),
        ).first()
        if stats["n"] == 0:
            # csldInit:110-112 EntityNotFound
            raise KeyError("No dataset found for these records and instances")
        if stats["n_conflicts"]:
            # the reference's locked_datasets primary key rejects a second
            # lock on the same dataset (pg unique violation inside SaveJob)
            raise ValidationError(
                f"{stats['n_conflicts']} dataset(s) already locked by another job"
            )

        # csldInit: ConsolidationParams of the instance's variable must exist
        inst = self.catalog.read("instances").filter(F.col("id") == instance_id).first()
        if inst is None:
            raise KeyError(f"unknown instance {instance_id!r}")
        params = self.get_consolidation_params(inst["variable_id"])
        if not self.catalog.read("layouts").filter(F.col("name") == layout_name).first():
            raise KeyError(f"unknown layout {layout_name!r}")
        if collapse_on_record_id is not None:
            # csldPrepareOrders reads the collapse record up front
            # (consolidater.go:186-193 ReadRecords -> EntityNotFound)
            self.get_records([collapse_on_record_id])

        # Create the job + lock flag-INIT (job.LockDatasets, job.go:886-897).
        # The lock column update is a JOIN against the selected-id set — the
        # selection can be job-sized, so it never transits the driver.
        now = datetime.now()
        job_row = {
            "id": job_id, "name": job_name, "type": "consolidation",
            "state": "NEW",
            "payload": json.dumps(
                {"instance_id": instance_id, "layout_name": layout_name,
                 "params_id": inst["variable_id"],
                 "collapse_record_id": collapse_on_record_id},
                sort_keys=True,
            ),
            "active_tasks": 0, "failed_tasks": 0,
            "execution_level": int(execution_level), "waiting": False,
            "creation_ts": now, "last_update_ts": now,
        }
        self._append("jobs", self.spark.createDataFrame([job_row], schemas.JOB))
        # job.LogMsgf(DEBUG, "Init with %d datasets") — csldInit:109
        self._log_job(job_id, [("DEBUG", f"Init with {stats['n']} datasets")])
        ids = sel.select("id")
        self._append(
            "locked_datasets",
            ids.select(
                F.col("id").alias("dataset_id"),
                F.lit(job_id).alias("job_id"),
                F.lit(0).alias("flag"),  # LockFlagINIT (job.go:878-884)
            ),
        )
        datasets = self.catalog.read("datasets")
        self.catalog.write(
            "datasets",
            datasets.join(ids.withColumn("_lock", F.lit(True)), "id", "left")
            .withColumn(
                "locked_by_job_id",
                F.when(F.col("_lock"), F.lit(job_id)).otherwise(
                    F.col("locked_by_job_id")
                ),
            )
            .drop("_lock"),
        )

        state, waiting = advance_job_state(
            "NEW", "JobCreated", job_type="consolidation",
            exec_level=int(execution_level), with_waiting=True,
        )
        self._set_job_state(job_id, state, waiting)
        if waiting:
            # step-by-step pause (job.go:119-130): planning resumes via
            # continue_consolidation
            return job_id
        self._csld_prepare_orders(job_id)
        return job_id

    def continue_consolidation(self, job_id: str) -> str:
        """ContinueJob for a consolidation paused at CREATED: clears the
        Waiting flag and runs order preparation (the reference's
        csldOnEnterNewState re-entry after Continue)."""
        row = self.catalog.read("jobs").filter(F.col("id") == job_id).first()
        if row is None:
            raise KeyError(f"unknown job {job_id!r}")
        if row["state"] != "CREATED" or not row["waiting"]:
            return self.advance_job(job_id, "Continue")
        self._set_job_state(job_id, "CREATED", False)
        self._csld_prepare_orders(job_id)
        return "CONSOLIDATIONINPROGRESS"

    def _tasks(self) -> DataFrame:
        """The tasks table with ``try_count`` backfilled for catalogs
        written before the column existed (the queue's delivery counter,
        cmd/consolidater/main.go:131)."""
        t = self.catalog.read("tasks")
        if "try_count" not in t.columns:
            t = t.withColumn("try_count", F.lit(0))
        return t

    def _append_tasks(self, df: DataFrame) -> None:
        if self.catalog.exists("tasks"):
            self.catalog.write("tasks", self._tasks().unionByName(df))
        else:
            self.catalog.write("tasks", df)

    # map TaskStatus -> TaskState (job.go:676-688 taskStateFromStatus)
    _TASK_STATUS_TO_STATE = {
        "SENT": "PENDING",
        "FAILED": "FAILED",
        "IGNORED": "CANCELLED",
        "CANCELLED": "CANCELLED",
        "SUCCESSFUL": "DONE",
    }

    def handle_task_event(
        self, job_id: str, task_id: str, status: str, error: str = ""
    ) -> str:
        """handleTaskEvt twin (svc/operations.go:69-117): apply one worker
        task event to the job — task state transition, live
        active_tasks/failed_tasks counters, DEBUG log line, and the
        auto-advance when the last active task lands.  Returns the job's
        state afterwards."""
        return self.handle_task_events(job_id, [(task_id, status, error)])

    def handle_task_events(
        self, job_id: str, events: list[tuple[str, str, str]]
    ) -> str:
        """Batched :meth:`handle_task_event` — one tasks write + one jobs
        write for a whole worker batch (each event still applies the
        per-event transition rules of job.go:692-731 UpdateTask, in order).

        Counter semantics (job.go:771-789 updateTaskCounters):
        ``active_tasks`` = tasks in NEW or PENDING; ``failed_tasks`` =
        tasks in FAILED — recomputed from the committed tasks table, so a
        replayed event batch is idempotent.  When active_tasks reaches 0
        (operations.go:100-115): CONSOLIDATIONCANCELLING -> CancellationDone;
        failed_tasks > 0 -> ConsolidationFailed; else ConsolidationDone."""
        job = self.catalog.read("jobs").filter(F.col("id") == job_id).first()
        if job is None:
            raise KeyError(f"unknown job {job_id!r}")
        # TaskCancelled events are acknowledged without a job update
        # (operations.go:72-74), and a FAILED job ignores stragglers (:84-86)
        events = [(t, s, e or "") for t, s, e in events if s != "CANCELLED"]
        if not events or job["state"] == "FAILED":
            return job["state"]
        if job["state"] not in (
            "CONSOLIDATIONINPROGRESS", "DELETIONEFFECTIVE",
            "CONSOLIDATIONCANCELLING",
        ):
            # job.go:705-708 NewUnhandledEvent
            raise ValidationError(
                f"job {job_id!r} cannot handle task events in state "
                f"{job['state']!r}"
            )
        ids = [t for t, _, _ in events]
        cur = {
            r["id"]: r["state"]
            for r in self._tasks()
            .filter((F.col("job_id") == job_id) & F.col("id").isin(ids))
            .select("id", "state")
            .collect()  # event-batch-sized: the events list is driver-side
        }
        missing = [t for t in ids if t not in cur]
        if missing:
            raise KeyError(f"unknown task(s) {missing} for job {job_id!r}")
        updates: dict[str, str] = {}
        logs: list[tuple[str, str]] = []
        for t, s, e in events:
            tgt = self._TASK_STATUS_TO_STATE[s]
            c = cur[t]
            if tgt == c:
                continue
            if c == "DONE":
                # already reported successful (job.go:711-713)
                raise ValidationError(
                    f"unhandled event: job {job_id!r} task {t!r} status {s!r}"
                )
            if c in ("FAILED", "CANCELLED") and tgt != "DONE":
                continue  # job.go:714-717: only a late success overrides
            cur[t] = updates[t] = tgt
            logs.append(
                ("DEBUG", f"TaskEvt received with status {s} (id:{t}, err:{e})")
            )
            if tgt == "FAILED":
                logs.append(("ERROR", f"Task {t} failed: {e}"))
        state = job["state"]
        if updates:
            upd = self.spark.createDataFrame(
                [{"id": t, "_new_state": st} for t, st in updates.items()],
                "id string, _new_state string",
            )

            def transform_tasks(tasks: DataFrame) -> DataFrame:
                if "try_count" not in tasks.columns:
                    tasks = tasks.withColumn("try_count", F.lit(0))
                return (
                    tasks.join(F.broadcast(upd), "id", "left")
                    .withColumn(
                        "state", F.coalesce(F.col("_new_state"), F.col("state"))
                    )
                    .drop("_new_state")
                )

            self._rmw("tasks", transform_tasks)
        # recount from the COMMITTED rows (never a pre-write lazy plan)
        counts = (
            self._tasks()
            .filter(F.col("job_id") == job_id)
            .agg(
                F.count_if(F.col("state").isin("NEW", "PENDING")).alias("active"),
                F.count_if(F.col("state") == "FAILED").alias("failed"),
            )
            .first()
        )
        hit = F.col("id") == job_id
        self._rmw(
            "jobs",
            lambda jobs: jobs.withColumn(
                "active_tasks",
                F.when(hit, F.lit(int(counts["active"]))).otherwise(
                    F.col("active_tasks")
                ),
            )
            .withColumn(
                "failed_tasks",
                F.when(hit, F.lit(int(counts["failed"]))).otherwise(
                    F.col("failed_tasks")
                ),
            )
            .withColumn(
                "last_update_ts",
                F.when(hit, F.lit(datetime.now())).otherwise(
                    F.col("last_update_ts")
                ),
            ),
        )
        if logs:
            self._log_job(job_id, logs)
        if counts["active"] == 0 and job["type"] == "consolidation":
            if state == "CONSOLIDATIONCANCELLING":
                self._log_job(job_id, [("INFO", "Job has been canceled")])
                return self.advance_job(job_id, "CancellationDone")
            if counts["failed"] > 0:
                self._log_job(
                    job_id,
                    [("ERROR", f"Job failed: {counts['failed']} tasks failed")],
                )
                return self.advance_job(job_id, "ConsolidationFailed")
            return self.advance_job(job_id, "ConsolidationDone")
        return state

    def _check_job_name_free(self, job_id: str, job_name: str) -> None:
        """Reject a job whose deterministic id already exists — the twin of
        the reference's jobs primary key firing inside SaveJob (pg_jobs.go
        Create; job ids here are uuid5(name), so a name collision IS an id
        collision and would otherwise append a duplicate row that get_job's
        first() then reads arbitrarily)."""
        if self.catalog.exists("jobs") and (
            self.catalog.read("jobs").filter(F.col("id") == job_id).first()
            is not None
        ):
            raise ValidationError(f"job {job_name!r} already exists")

    def _rmw(self, table: str, transform, retries: int = 24) -> None:
        """Read-modify-write a catalog table under compare-and-swap: the
        write commits only if the table is still at the version the
        transform read, else re-reads and re-derives (the unitOfWork
        optimistic-concurrency loop, svc/service.go:651-672).  Without
        this, two concurrent state-machine writers would each overwrite
        the whole table from their own stale read and silently drop the
        other's committed rows (the lost-update anomaly).  Linear backoff
        between lost races keeps two continuously-writing peers from
        starving each other (each attempt is a full snapshot write, so a
        loser re-colliding instantly is otherwise likely).

        A lost race can surface through a SECOND channel: under
        ``retain_versions=1`` the winner's post-commit GC deletes the very
        version the loser's in-flight snapshot materialization is still
        scanning, so the loser dies *before* ever reaching the CAS check.
        How that death is SPELLED depends on where the scan sat in the
        loser's plan: a plain scan raises FAILED_READ_FILE, but the same
        vanished file under a broadcast/subquery arrives as an opaque
        "Exception thrown in awaitResult" whose message carries neither
        marker (observed under load by the threaded-writers fault test).
        So the retry condition is the SEMANTIC one, not a string match:
        any failure while ``version(table)`` has moved past the version we
        read is a lost race — the derivation is stale and the CAS would
        have rejected it anyway — and is retried; a failure with the
        version unchanged is a genuine error and re-raises (it would only
        recur on a retry, since the inputs cannot have changed)."""
        import time as _time

        from geocube_spark.sources.catalog import CommitConflict

        for attempt in range(retries):
            v = self.catalog.version(table)
            try:
                self.catalog.write(
                    table, transform(self.catalog.read(table)), expect_version=v
                )
                return
            except CommitConflict:
                _time.sleep(0.02 * attempt)
                continue
            except Exception:  # noqa: BLE001 - filtered re-raise below
                if self.catalog.version(table) != v:
                    _time.sleep(0.02 * attempt)
                    continue
                raise
        raise CommitConflict(
            f"table {table!r}: {retries} straight lost commit races"
        )

    def _set_job_state(self, job_id: str, state: str, waiting: bool, active_tasks: int | None = None) -> None:
        hit = F.col("id") == job_id

        def transform(jobs: DataFrame) -> DataFrame:
            updated = (
                jobs.withColumn(
                    "state", F.when(hit, F.lit(state)).otherwise(F.col("state"))
                )
                .withColumn(
                    "waiting", F.when(hit, F.lit(waiting)).otherwise(F.col("waiting"))
                )
                .withColumn(
                    "last_update_ts",
                    F.when(hit, F.lit(datetime.now())).otherwise(
                        F.col("last_update_ts")
                    ),
                )
            )
            if active_tasks is not None:
                updated = updated.withColumn(
                    "active_tasks",
                    F.when(hit, F.lit(int(active_tasks))).otherwise(
                        F.col("active_tasks")
                    ),
                )
            return updated

        self._rmw("jobs", transform)

    def _csld_prepare_orders(self, job_id: str) -> None:
        """csldPrepareOrders (consolidater.go:166-407): plan one task per
        (cell, chunk) over the job's flag-INIT locked datasets, emit task
        rows, move locks INIT -> TODELETE, advance the state machine."""
        import json

        from geocube_spark.operators.consolidation import plan_consolidation
        from geocube_spark.operators.cover import RegularGridSpec

        job = self.catalog.read("jobs").filter(F.col("id") == job_id).first()
        payload = json.loads(job["payload"])
        self._log_job(job_id, [("INFO", "Prepare consolidation orders...")])
        layout = (
            self.catalog.read("layouts")
            .filter(F.col("name") == payload["layout_name"])
            .first()
        )
        grid_params = dict(layout["grid_parameters"])
        if grid_params.get("grid", "regular") != "regular":
            raise ValidationError(
                "consolidate() plans over regular-grid layouts; custom grids "
                "cover via tile_aoi + cover_custom_subgrid"
            )
        grid = RegularGridSpec(
            crs=grid_params.get("crs", "epsg:4326"),
            cell_size=int(grid_params.get("cell_size", "256")),
            resolution=float(grid_params.get("resolution", "1")),
            ox=float(grid_params.get("ox", "0")),
            oy=float(grid_params.get("oy", "0")),
        )
        plan = plan_consolidation(
            self.catalog.read("datasets"),
            self.catalog.read("records"),
            job_id,
            grid,
            max_records=int(layout["max_records"]),
        )
        # one task per order (job.CreateConsolidationTask); payload = the
        # ConsolidationEvent as JSON bytes, task id deterministic in
        # (job, container) so a re-run of planning is idempotent
        tasks = plan.select(
            F.md5(F.concat(F.lit(job_id), F.lit("/"), F.col("out_container_uri"))).alias("id"),
            F.lit(job_id).alias("job_id"),
            F.lit("NEW").alias("state"),
            F.to_json(
                F.struct(
                    "out_container_uri", "cell_uri", "chunk_idx",
                    F.transform("datasets", lambda m: m["dataset_id"]).alias("dataset_ids"),
                    "n_datasets",
                )
            ).cast("binary").alias("payload"),
            F.lit(0).alias("try_count"),
        )
        self._append_tasks(tasks)

        # locks: TODELETE for every dataset named by a task, INIT released
        # (consolidater.go:398-404).  Derived from the COMMITTED task rows —
        # re-deriving from `plan` would re-run the planning query against a
        # garbage-collected datasets snapshot.
        committed = self.catalog.read("tasks").filter(F.col("job_id") == job_id)
        task_ds = (
            committed.select(
                F.explode(
                    F.from_json(
                        F.col("payload").cast("string"),
                        "dataset_ids array<string>",
                    )["dataset_ids"]
                ).alias("dataset_id")
            )
            .distinct()
        )
        n_tasks = committed.count()
        locks = self.catalog.read("locked_datasets")
        self.catalog.write(
            "locked_datasets",
            locks.filter(~((F.col("job_id") == job_id) & (F.col("flag") == 0)))
            .unionByName(
                task_ds.select(
                    "dataset_id", F.lit(job_id).alias("job_id"), F.lit(1).alias("flag")
                )
            ),
        )
        datasets = self.catalog.read("datasets")
        self.catalog.write(
            "datasets",
            datasets.join(task_ds.withColumnRenamed("dataset_id", "id")
                          .withColumn("_keep", F.lit(True)), "id", "left")
            .withColumn(
                "locked_by_job_id",
                F.when(
                    (F.col("locked_by_job_id") == job_id) & F.col("_keep").isNull(),
                    F.lit(None).cast("string"),
                ).otherwise(F.col("locked_by_job_id")),
            )
            .drop("_keep"),
        )
        self._log_job(job_id, [("INFO", f"{n_tasks} tasks are created")])
        state, waiting = advance_job_state(
            "CREATED", "OrdersPrepared", job_type="consolidation",
            exec_level=int(job["execution_level"]), with_waiting=True,
        )
        self._set_job_state(job_id, state, waiting, active_tasks=n_tasks)

    _NP_DTYPE = {
        "UInt8": "uint8", "UInt16": "uint16", "UInt32": "uint32",
        "Int8": "int8", "Int16": "int16", "Int32": "int32",
        "Float32": "float32", "Float64": "float64",
    }

    def process_consolidation_job(
        self, job_id: str, out_dir: str | None = None,
        cancel_dir: str | None = None, max_tries: int = 1,
    ) -> tuple[str, str | None]:
        """The consolidation WORKER plus the coordinator's post-arcs: run
        every NEW task of an in-progress job, then index / swap / start
        deletion, driving CONSOLIDATIONINPROGRESS -> CONSOLIDATIONDONE ->
        CONSOLIDATIONINDEXED -> CONSOLIDATIONEFFECTIVE -> DONE.

        Reference: handler_consolidation.go (the worker — here ONE
        distributed consolidate_to_mucog pass over ALL tasks instead of a
        task queue: every output container is one applyInPandas group, so
        a thousand-task job is a thousand parallel groups in a single
        Spark job), then csldIndex (consolidater.go:559-642),
        csldSwapDatasets (:644-668, ACTIVE->TODELETE then
        INACTIVE->ACTIVE), csldDeleteDatasets (:669-717 — a deletion JOB
        is spawned for the old datasets, returned as the second element).

        Container bytes land under ``out_dir`` (default
        ``{catalog_root}/consolidated_data``), written executor-side.
        A cancel marker (operators/consolidation.request_cancellation)
        checked before execution and again before the swap maps onto the
        CONSOLIDATIONCANCELLING arc, and nothing is published.

        Per-task accounting (cmd/consolidater/main.go:117-170 + the
        coordinator's handleTaskEvt): tasks are marked SENT before the
        pass (live PENDING counters), each container's build failure is
        captured per-task instead of failing the Spark job, a failed task
        under the ``max_tries`` cap is REQUEUED (state back to NEW,
        ``try_count`` + 1 — the message-redelivery twin; re-invoke to
        retry), and one redelivered beyond the cap is dead-lettered as
        FAILED("too many tries").  The job auto-advances through
        :meth:`handle_task_events` when the last active task lands —
        ConsolidationDone on success, ConsolidationFailed if any task
        exhausted its retries — so the index/swap/delete arcs below run
        only when every task is DONE.
        """
        import json

        from geocube_spark.operators.consolidation import (
            consolidate_to_mucog,
            is_cancelled,
        )

        job = self.catalog.read("jobs").filter(F.col("id") == job_id).first()
        if job is None:
            raise KeyError(f"unknown job {job_id!r}")
        if job["state"] != "CONSOLIDATIONINPROGRESS":
            raise ValueError(f"job {job_id!r} is {job['state']}, not in progress")
        payload = json.loads(job["payload"])
        params = self.get_consolidation_params(payload["params_id"])
        out_dir = out_dir or f"{self.catalog.root}/consolidated_data"

        def _cancelled() -> bool:
            return cancel_dir is not None and is_cancelled(cancel_dir, job_id)

        def _abort() -> tuple[str, None]:
            self._set_job_state(job_id, "CONSOLIDATIONCANCELLING", False)
            self._set_job_state(job_id, "ABORTED", False)
            return "ABORTED", None

        if _cancelled():
            return _abort()

        # ---- queue consumption: dead-letter exhausted redeliveries, mark
        # the rest SENT (csldSendOrders' TaskSent, consolidater.go:535) —
        # live counters are visible mid-lifecycle from here on
        new_rows = (
            self._tasks()
            .filter((F.col("job_id") == job_id) & (F.col("state") == "NEW"))
            .select("id", "try_count")
            .collect()  # task-sized: one row per output container
        )
        dead = [
            (r["id"], "FAILED", "too many tries")
            for r in new_rows if r["try_count"] > max_tries
        ]
        try_counts = {r["id"]: r["try_count"] for r in new_rows}
        live_ids = [r["id"] for r in new_rows if r["try_count"] <= max_tries]
        if dead:
            state_now = self.handle_task_events(job_id, dead)
            if not live_ids:
                return state_now, None
        if live_ids:
            self.handle_task_events(
                job_id, [(t, "SENT", "") for t in live_ids]
            )

        # ---- the worker: one distributed pass over every pending task's
        # tiles (PENDING = just-SENT plus strays from a crashed pass)
        tasks = self._tasks().filter(
            (F.col("job_id") == job_id) & (F.col("state") == "PENDING")
        )
        orders = tasks.select(
            F.col("id").alias("task_id"),
            F.from_json(
                F.col("payload").cast("string"),
                "out_container_uri string, dataset_ids array<string>",
            ).alias("o"),
        ).select("task_id", "o.out_container_uri", F.explode("o.dataset_ids").alias("dsid"))
        datasets = self.catalog.read("datasets")
        src = orders.join(
            datasets.select(
                F.col("id").alias("dsid"), "container_uri", "record_id"
            ),
            "dsid",
        ).join(
            F.broadcast(
                self.catalog.read("records").select(
                    F.col("id").alias("record_id"),
                    F.col("datetime").alias("record_datetime"),
                )
            ),
            "record_id",
        )
        # A source container holding SEVERAL datasets (a previously
        # consolidated MuCOG with GTIFF_DIR subdirs) cannot be labelled: the
        # TILE schema keys on container_uri alone, so the per-(container,
        # out) dedup below would assign ONE arbitrary (record_id,
        # record_datetime) to every tile of the container and corrupt the
        # latest-wins order of the collapse pre-mosaic.  The reference never
        # hits this (its worker re-reads each dataset through its subdir);
        # here it is detected and rejected up front.  Task-sized aggregate.
        multi = (
            src.groupBy("container_uri", "out_container_uri")
            .agg(F.count_distinct("dsid").alias("n"))
            .filter(F.col("n") > 1)
            .first()
        )
        if multi is not None:
            raise ValidationError(
                f"source container {multi['container_uri']!r} holds "
                f"{multi['n']} datasets (a consolidated multi-image "
                "container); re-consolidating multi-dataset containers is "
                "not supported — delete or collapse them first"
            )
        tiles = self.catalog.read("tiles").join(
            src.select(
                "container_uri", "out_container_uri", "record_id", "record_datetime"
            ).dropDuplicates(["container_uri", "out_container_uri"]),
            "container_uri",
        )
        dformat = params["dformat"]
        collapse = payload.get("collapse_record_id")
        if collapse:
            # collapse mode (operations.proto:177, consolidater.go collapse
            # branches): every source record merges into ONE image keyed by
            # the collapse record — a latest-wins pre-mosaic per output
            # container.  Tile rows are the engine's post-warp state
            # (mosaic_blocks' aligned-grid precondition); mixed grids are
            # rejected downstream by consolidate_to_mucog's transform check.
            from geocube_spark.operators.mosaic import mosaic_blocks

            crow = self.catalog.read("records").filter(F.col("id") == collapse).first()
            tiles = (
                mosaic_blocks(
                    tiles,
                    nodata=float(dformat["no_data"]),
                    extra_keys=("out_container_uri",),
                    carry_first=("crs_srid", "pix_to_crs"),
                )
                .withColumn("record_id", F.lit(collapse))
                .withColumn("record_datetime", F.lit(crow["datetime"]))
            )
        built = consolidate_to_mucog(
            tiles,
            container_col="out_container_uri",
            dtype=self._NP_DTYPE[dformat["dtype"]],
            compression="none" if params["compression"] in ("NO", "NONE") else "deflate",
            nodata=float(dformat["no_data"]),
            on_error="capture",  # per-task failure isolation
        )

        def _write(batches):
            import os as _os

            import pandas as _pd

            for pdf in batches:
                paths = []
                for r in pdf.itertuples(index=False):
                    if r.error is not None:  # failed build: nothing to put
                        paths.append(None)
                        continue
                    p = _os.path.join(out_dir, r.container_uri + ".tif")
                    _os.makedirs(_os.path.dirname(p), exist_ok=True)
                    with open(p, "wb") as f:
                        f.write(r.tiff)
                    paths.append(p)
                yield _pd.DataFrame(
                    {
                        "container_uri": pdf["container_uri"],
                        "n_images": pdf["n_images"],
                        "n_bytes": pdf["n_bytes"],
                        "path": paths,
                        "error": pdf["error"],
                    }
                )

        # collected BEFORE the task-event writes below — those writes
        # garbage-collect the tasks snapshot these lazy plans read
        facts = built.mapInPandas(
            _write,
            "container_uri string, n_images long, n_bytes long, "
            "path string, error string",
        ).collect()  # one row per output container — task-sized, not data-sized
        if not facts and not dead:
            raise ValueError(f"job {job_id!r} has no executable tasks")
        task_by_container = {
            r["out_container_uri"]: r["task_id"]
            for r in orders.select("task_id", "out_container_uri")
            .distinct()
            .collect()
        }

        # ---- per-task outcomes (main.go:144-159): a captured failure
        # under the cap is REQUEUED with try_count+1 (the queue's
        # redelivery); beyond the cap it is a terminal TaskFailed
        failed_facts = [r for r in facts if r["error"] is not None]
        requeue: list[tuple[str, str]] = []
        outcomes: list[tuple[str, str, str]] = []
        for r in facts:
            tid = task_by_container[r["container_uri"]]
            if r["error"] is None:
                outcomes.append((tid, "SUCCESSFUL", ""))
            elif try_counts.get(tid, 0) < max_tries:
                requeue.append((tid, r["error"]))
            else:
                outcomes.append((tid, "FAILED", r["error"]))
        if requeue:
            rq = self.spark.createDataFrame(
                [{"id": t} for t, _ in requeue], "id string"
            )
            self.catalog.write(
                "tasks",
                self._tasks()
                .join(F.broadcast(rq.withColumn("_rq", F.lit(True))), "id", "left")
                .withColumn(
                    "state",
                    F.when(F.col("_rq"), F.lit("NEW")).otherwise(F.col("state")),
                )
                .withColumn(
                    "try_count",
                    F.when(F.col("_rq"), F.col("try_count") + 1).otherwise(
                        F.col("try_count")
                    ),
                )
                .drop("_rq"),
            )
            self._log_job(
                job_id,
                [("ERROR", f"temporary error: {e} (task {t} requeued)")
                 for t, e in requeue],
            )
        state_now = self.handle_task_events(job_id, outcomes)
        if requeue or failed_facts or state_now != "CONSOLIDATIONDONE":
            # not every task landed DONE: no index/swap this pass.
            # Requeued tasks retry on the next invocation; a job whose
            # failures exhausted the cap has auto-advanced to
            # CONSOLIDATIONFAILED (retry_job resets its FAILED tasks).
            return state_now, None

        # ---- csldIndex inputs: per-(container, record) facts are
        # task-sized (the reference's coordinator loops tasks the same
        # way), so a driver build is the honest twin; the PIXEL volume
        # above never left the executors.  Derived from the COMMITTED
        # post-event tasks table — every DONE task of the job, so a pass
        # that finished after an earlier partial one indexes everything.
        done_orders = (
            self._tasks()
            .filter((F.col("job_id") == job_id) & (F.col("state") == "DONE"))
            .select(
                F.from_json(
                    F.col("payload").cast("string"),
                    "out_container_uri string, dataset_ids array<string>",
                ).alias("o")
            )
            .select("o.out_container_uri", F.explode("o.dataset_ids").alias("dsid"))
        )
        datasets = self.catalog.read("datasets")
        annotated = done_orders.join(
            datasets.select(
                F.col("id").alias("dsid"), "record_id", "bbox", "shape_srid"
            ),
            "dsid",
        ).join(
            F.broadcast(
                self.catalog.read("records").select(
                    F.col("id").alias("record_id"),
                    F.col("datetime").alias("record_datetime"),
                )
            ),
            "record_id",
        )
        if collapse:
            # one dataset per container, owned by the collapse record;
            # its footprint is the union of every merged source
            annotated = annotated.withColumn(
                "record_id", F.lit(collapse)
            ).withColumn("record_datetime", F.lit(crow["datetime"]))
        per_rec = (
            annotated.groupBy("out_container_uri", "record_id")
            .agg(
                F.min("bbox.xmin").alias("xmin"),
                F.min("bbox.ymin").alias("ymin"),
                F.max("bbox.xmax").alias("xmax"),
                F.max("bbox.ymax").alias("ymax"),
                F.first("shape_srid").alias("shape_srid"),
                F.min("record_datetime").alias("rt"),
            )
            .collect()
        )
        self._log_job(job_id, [("INFO", "Indexing new datasets...")])
        n_bands = len(
            self.catalog.read("variables")
            .filter(F.col("id") == payload["params_id"])
            .first()["bands"]
        )
        by_container: dict[str, list] = {}
        for r in per_rec:
            by_container.setdefault(r["out_container_uri"], []).append(r)
        new_containers = [
            {"uri": uri, "managed": True,
             "storage_class": params.get("storage_class", "STANDARD")}
            for uri in by_container
        ]
        dm = {
            "dtype": dformat["dtype"], "no_data": float(dformat["no_data"]),
            "min_value": float(dformat["min_value"]),
            "max_value": float(dformat["max_value"]),
            "real_min_value": float(dformat["min_value"]),
            "real_max_value": float(dformat["max_value"]),
            "exponent": float(params.get("exponent", 1.0)),
        }
        new_datasets = []
        for uri, recs in by_container.items():
            recs.sort(key=lambda r: (r["rt"], r["record_id"]))
            for i, r in enumerate(recs):
                bbox = {"xmin": r["xmin"], "ymin": r["ymin"],
                        "xmax": r["xmax"], "ymax": r["ymax"]}
                new_datasets.append(
                    {
                        "id": str(uuid.uuid5(
                            uuid.NAMESPACE_URL,
                            f"geocube-spark/csld/{job_id}/{uri}/{r['record_id']}",
                        )),
                        "record_id": r["record_id"],
                        "instance_id": payload["instance_id"],
                        "container_uri": uri,
                        # GTIFF_DIR:i selects the i-th image of the MuCOG;
                        # single-image containers address the root (csldIndex)
                        "subdir": "" if len(recs) == 1 else f"GTIFF_DIR:{i + 1}",
                        "bands": list(range(1, n_bands + 1)),
                        "status": "INACTIVE",
                        "dmapping": dm,
                        "geom_wkb": rect_wkb(
                            bbox["xmin"], bbox["ymin"], bbox["xmax"], bbox["ymax"]
                        ),
                        "bbox": bbox,
                        "shape_srid": int(r["shape_srid"]),
                        "overviews": False,
                        "locked_by_job_id": job_id,
                    }
                )
        self._append(
            "containers", self.spark.createDataFrame(new_containers, schemas.CONTAINER)
        )
        self._append(
            "datasets", self.spark.createDataFrame(new_datasets, schemas.DATASET)
        )
        self._append(
            "locked_datasets",
            self.spark.createDataFrame(
                [{"dataset_id": d["id"], "job_id": job_id, "flag": 2}  # NEW
                 for d in new_datasets],
                schemas.LOCKED_DATASET,
            ),
        )
        self._set_job_state(job_id, "CONSOLIDATIONINDEXED", False)
        self._log_job(job_id, [("INFO", "Swap datasets...")])

        if _cancelled():  # last exit before anything becomes visible
            return _abort()

        # ---- csldSwapDatasets: one column-wise flip over the lock set.
        # In collapse mode the SOURCES ARE KEPT (consolidater.go:648-655:
        # the ACTIVE->TODELETE arm is skipped and the TODELETE locks are
        # simply released) — only the new datasets activate.
        d = self.catalog.read("datasets")
        locked = F.col("locked_by_job_id") == job_id
        swap = d.withColumn(
            "status",
            F.when(locked & (F.col("status") == "INACTIVE"), F.lit("ACTIVE"))
            .when(
                F.lit(collapse is None) & locked & (F.col("status") == "ACTIVE"),
                F.lit("TODELETE"),
            )
            .otherwise(F.col("status")),
        )
        self.catalog.write("datasets", swap)
        # release the NEW locks (flag 2) — plus, in collapse mode, the
        # TODELETE locks (no deletion follows).  The datasets write runs
        # FIRST: it consumes the current locked_datasets snapshot, which
        # the locks write below garbage-collects.
        rel_flags = [1, 2] if collapse else [2]
        locks = self.catalog.read("locked_datasets")
        released = locks.filter(
            (F.col("job_id") == job_id) & F.col("flag").isin(rel_flags)
        ).select("dataset_id")
        d = self.catalog.read("datasets")
        self.catalog.write(
            "datasets",
            d.join(released.withColumnRenamed("dataset_id", "id")
                   .withColumn("_rel", F.lit(True)), "id", "left")
            .withColumn(
                "locked_by_job_id",
                F.when(F.col("_rel"), F.lit(None).cast("string")).otherwise(
                    F.col("locked_by_job_id")
                ),
            )
            .drop("_rel"),
        )
        self.catalog.write(
            "locked_datasets",
            locks.filter(
                ~((F.col("job_id") == job_id) & F.col("flag").isin(rel_flags))
            ),
        )
        self._log_job(job_id, [("INFO", "Datasets swapped")])
        self._set_job_state(job_id, "CONSOLIDATIONEFFECTIVE", False)

        if collapse:
            # nothing marked TODELETE — csldDeleteDatasets finds no rows,
            # so no deletion job spawns (operations.go:669-683)
            self._set_job_state(job_id, "DONE", False)
            return "DONE", None

        # ---- csldDeleteDatasets: spawn the deletion job for the old rows
        deletion_id = str(
            uuid.uuid5(uuid.NAMESPACE_URL, f"geocube-spark/job/{job['name']}_deletion")
        )
        now = datetime.now()
        self._append(
            "jobs",
            self.spark.createDataFrame(
                [{
                    "id": deletion_id, "name": f"{job['name']}_deletion",
                    "type": "deletion", "state": "NEW", "payload": "{}",
                    "active_tasks": 0, "failed_tasks": 0, "execution_level": 1,
                    "waiting": False, "creation_ts": now, "last_update_ts": now,
                }],
                schemas.JOB,
            ),
        )
        locks = self.catalog.read("locked_datasets")
        self.catalog.write(
            "locked_datasets",
            locks.withColumn(
                "job_id",
                F.when(
                    (F.col("job_id") == job_id) & (F.col("flag") == 1),
                    F.lit(deletion_id),
                ).otherwise(F.col("job_id")),
            ),
        )
        d = self.catalog.read("datasets")
        self.catalog.write(
            "datasets",
            d.withColumn(
                "locked_by_job_id",
                F.when(
                    (F.col("locked_by_job_id") == job_id)
                    & (F.col("status") == "TODELETE"),
                    F.lit(deletion_id),
                ).otherwise(F.col("locked_by_job_id")),
            ),
        )
        self._log_job(
            job_id,
            [("INFO", f"Create a deletion job to delete the old datasets: "
                      f"{job['name']}_deletion")],
        )
        self._set_job_state(job_id, "DONE", False)
        return "DONE", deletion_id

    # ------------------------------------------------------- deletion jobs

    def delete_datasets_job(
        self,
        job_name: str,
        instance_ids: list[str] | None = None,
        record_ids: list[str] | None = None,
        dataset_patterns: list[str] | None = None,
        execution_level: int = 1,
    ) -> str:
        """DeleteDatasets RPC as a JOB (service.go:380-392 -> delInit,
        operations.go:177-213): find the ACTIVE datasets matching the
        filters, lock them flag-TODELETE under a new deletion job, and
        advance NEW -> CREATED.  :meth:`process_deletion_job` runs the
        remaining arcs.  (:meth:`delete_datasets` remains the immediate,
        jobless twin for admin batches.)"""
        import json

        flt = DatasetFilters(
            status="ACTIVE", instance_ids=instance_ids, record_ids=record_ids,
            container_uri_globs=dataset_patterns, order=False,
        )
        sel = find_datasets(self.catalog.read("datasets"), None, flt).select(
            "id", "locked_by_job_id"
        )
        job_id = str(uuid.uuid5(uuid.NAMESPACE_URL, f"geocube-spark/job/{job_name}"))
        self._check_job_name_free(job_id, job_name)
        stats = sel.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_if(
                F.col("locked_by_job_id").isNotNull()
                & (F.col("locked_by_job_id") != job_id)
            ).alias("n_conflicts"),
        ).first()
        if stats["n"] == 0:
            raise KeyError(
                "No dataset found for these records, instances and/or pattern"
            )
        if stats["n_conflicts"]:
            raise ValidationError(
                f"{stats['n_conflicts']} dataset(s) already locked by another job"
            )
        now = datetime.now()
        self._append(
            "jobs",
            self.spark.createDataFrame(
                [{
                    "id": job_id, "name": job_name, "type": "deletion",
                    "state": "NEW",
                    "payload": json.dumps({"filters": True}),
                    "active_tasks": 0, "failed_tasks": 0,
                    "execution_level": int(execution_level), "waiting": False,
                    "creation_ts": now, "last_update_ts": now,
                }],
                schemas.JOB,
            ),
        )
        ids = sel.select("id")
        self._append(
            "locked_datasets",
            ids.select(
                F.col("id").alias("dataset_id"),
                F.lit(job_id).alias("job_id"),
                F.lit(1).alias("flag"),  # LockFlagTODELETE
            ),
        )
        datasets = self.catalog.read("datasets")
        self.catalog.write(
            "datasets",
            datasets.join(ids.withColumn("_lock", F.lit(True)), "id", "left")
            .withColumn(
                "locked_by_job_id",
                F.when(F.col("_lock"), F.lit(job_id)).otherwise(
                    F.col("locked_by_job_id")
                ),
            )
            .drop("_lock"),
        )
        self._set_job_state(job_id, "CREATED", False)
        return job_id

    def process_deletion_job(self, job_id: str) -> str:
        """Run a deletion job's remaining arcs (delOnEnterNewState,
        operations.go:120-175): CREATED -> set-to-delete ->
        DELETIONINPROGRESS -> remove rows + emit per-container deletion
        tasks -> DELETIONEFFECTIVE -> consume tasks into the
        ``pending_deletions`` storage-GC manifest -> DONE.

        Accepts a job in NEW (e.g. one spawned by
        :meth:`process_consolidation_job`) or CREATED.  "Physical"
        container deletion is manifest-append here — the distributed
        storage-GC consumer (operators/admin.py) owns the actual
        removals, same split as the reference's deleter workers."""
        job = self.catalog.read("jobs").filter(F.col("id") == job_id).first()
        if job is None:
            raise KeyError(f"unknown job {job_id!r}")
        if job["type"] != "deletion":
            raise ValueError(f"job {job_id!r} is not a deletion job")
        state = job["state"]
        if state == "NEW":
            self._set_job_state(job_id, "CREATED", False)
            state = "CREATED"
        if state == "CREATED":
            self._log_job(job_id, [("INFO", "Set datasets to delete...")])
            # delSetToDelete (operations.go:215-228): ACTIVE -> TODELETE
            d = self.catalog.read("datasets")
            locked = F.col("locked_by_job_id") == job_id
            self.catalog.write(
                "datasets",
                d.withColumn(
                    "status",
                    F.when(locked & (F.col("status") == "ACTIVE"),
                           F.lit("TODELETE")).otherwise(F.col("status")),
                ),
            )
            self._set_job_state(job_id, "DELETIONINPROGRESS", False)
            state = "DELETIONINPROGRESS"
        if state == "DELETIONINPROGRESS":
            self._log_job(job_id, [("INFO", "Remove datasets...")])
            # delRemoveDatasets (operations.go:230-334): drop the rows,
            # release locks, and emit one deletion task per container
            # that became EMPTY — managed ones get physically deleted
            d = self.catalog.read("datasets")
            locked = (F.col("locked_by_job_id") == job_id) & (
                F.col("status") == "TODELETE"
            )
            doomed = d.filter(locked)
            survivors = d.filter(~F.coalesce(locked, F.lit(False)))
            dead_uris = (
                doomed.select("container_uri").distinct()
                .join(survivors.select("container_uri").distinct(),
                      "container_uri", "left_anti")
            )
            containers = self.catalog.read("containers")
            dead = containers.join(
                dead_uris.withColumnRenamed("container_uri", "uri"), "uri",
                "left_semi",
            )
            # write order matters: every lazy plan above reads the CURRENT
            # snapshots, which each table's own write garbage-collects —
            # so consumers go first (tasks from containers+datasets, then
            # containers, then datasets, then locks)
            self._append_tasks(
                dead.filter(F.col("managed")).select(
                    F.md5(F.concat(F.lit(job_id), F.lit("/"), F.col("uri"))).alias("id"),
                    F.lit(job_id).alias("job_id"),
                    F.lit("NEW").alias("state"),
                    F.col("uri").cast("binary").alias("payload"),
                    F.lit(0).alias("try_count"),
                ),
            )
            self.catalog.write(
                "containers",
                containers.join(
                    dead_uris.withColumnRenamed("container_uri", "uri"), "uri",
                    "left_anti",
                ),
            )
            self.catalog.write("datasets", survivors)
            locks = self.catalog.read("locked_datasets")
            self.catalog.write(
                "locked_datasets", locks.filter(F.col("job_id") != job_id)
            )
            self._set_job_state(job_id, "DELETIONEFFECTIVE", False)
            state = "DELETIONEFFECTIVE"
        if state == "DELETIONEFFECTIVE":
            self._log_job(job_id, [("INFO", "Delete containers...")])
            # delDeleteContainers (operations.go:335-412): each task's URI
            # joins the storage-GC manifest; every consumed task completes
            # through the event path (per-task DEBUG line + live counters,
            # the same UpdateTask plumbing the consolidation worker uses)
            pending_ids = [
                r["id"]
                for r in self.catalog.read("tasks")
                .filter((F.col("job_id") == job_id) & (F.col("state") == "NEW"))
                .select("id")
                .collect()  # task-sized: one row per doomed container
            ]
            pending = self.catalog.read("tasks").filter(
                (F.col("job_id") == job_id) & (F.col("state") == "NEW")
            )
            manifest = pending.select(F.col("payload").cast("string").alias("uri"))
            if self.catalog.exists("pending_deletions"):
                manifest = (
                    self.catalog.read("pending_deletions")
                    .unionByName(manifest).distinct()
                )
            self.catalog.write("pending_deletions", manifest)
            self.handle_task_events(
                job_id, [(t, "SUCCESSFUL", "") for t in pending_ids]
            )
            self._set_job_state(job_id, "DONE", False)
            return "DONE"
        raise ValueError(f"deletion job {job_id!r} in unprocessable state {state}")

    # ----------------------------------------------------------------- jobs

    # ---- engine extensions (beyond the reference API surface; same
    # tile-table inputs as get_cube, so a cube result pipes straight in)

    def zonal_statistics(
        self, tiles: DataFrame, zones: DataFrame, block: int = 64,
        nodata: float | None = None,
    ) -> DataFrame:
        """Per-zone count/sum/min/max/mean over a tile table (A11)."""
        from geocube_spark.operators.zonal import zonal_stats

        return zonal_stats(tiles, zones, block=block, nodata=nodata)

    def sample_points(
        self, tiles: DataFrame, points: DataFrame,
        transform: tuple[float, float, float, float, float, float],
        block: int = 64,
    ) -> DataFrame:
        """Raster values under labeled points (A14)."""
        from geocube_spark.operators.focal import sample_points

        return sample_points(tiles, points, transform, block=block)

    def focal(
        self, tiles: DataFrame, op: str, block: int = 64, **kwargs
    ) -> DataFrame:
        """Neighborhood ops via halo exchange (A13): op in
        'mean' | 'gaussian' | 'slope' | 'aspect' | 'hillshade'."""
        from geocube_spark.operators import focal as _f

        if op == "mean":
            return _f.focal_mean(tiles, block=block)
        if op == "gaussian":
            return _f.focal_gaussian(tiles, block=block)
        if op == "slope":
            return _f.focal_slope(tiles, block=block, **kwargs)
        if op == "aspect":
            return _f.focal_aspect(tiles, block=block, **kwargs)
        if op == "hillshade":
            return _f.focal_hillshade(tiles, block=block, **kwargs)
        raise ValueError(f"unknown focal op {op!r}")

    def temporal_composite(
        self, tiles: DataFrame, stat: str = "median", block: int = 64
    ) -> DataFrame:
        """Per-pixel median/mean across all acquisitions (A7b)."""
        from geocube_spark.operators.mosaic import temporal_composite

        return temporal_composite(tiles, stat=stat, block=block)

    def normalized_difference(
        self, tiles: DataFrame, band_a: str, band_b: str
    ) -> DataFrame:
        """(b−a)/(b+a) per pixel — NDVI-family map algebra (A12)."""
        from geocube_spark.operators.algebra import normalized_difference

        return normalized_difference(tiles, band_a, band_b)

    def focal_morphology(
        self, tiles: DataFrame, op: str, block: int = 64, radius: int = 1
    ) -> DataFrame:
        """Morphological filtering (A13): op in 'erode' | 'dilate' |
        'open' | 'close' — mask cleanup via min/max halo kernels."""
        from geocube_spark.operators import focal as _f

        if op == "erode":
            return _f.focal_erode(tiles, block=block, radius=radius)
        if op == "dilate":
            return _f.focal_dilate(tiles, block=block, radius=radius)
        if op == "open":
            return _f.focal_dilate(
                _f.focal_erode(tiles, block=block, radius=radius),
                block=block, radius=radius,
            )
        if op == "close":
            return _f.focal_erode(
                _f.focal_dilate(tiles, block=block, radius=radius),
                block=block, radius=radius,
            )
        raise ValueError(f"unknown morphology op {op!r}")

    def pansharpen(
        self, tiles: DataFrame, r: str, g: str, b: str, pan: str
    ) -> DataFrame:
        """Brovey ratio pansharpening (A12)."""
        from geocube_spark.operators.algebra import pansharpen_brovey

        return pansharpen_brovey(tiles, r, g, b, pan)

    def histogram_equalize(
        self, tiles: DataFrame, bins: int = 256, vmin: float = 0.0,
        vmax: float = 256.0,
    ) -> DataFrame:
        """Global contrast stretch through the corpus-wide CDF (A12)."""
        from geocube_spark.operators.algebra import histogram_equalize

        return histogram_equalize(tiles, bins=bins, vmin=vmin, vmax=vmax)

    def region_stats(self, tiles: DataFrame, block: int = 64) -> DataFrame:
        """Distributed 4-connected region labeling summary
        (gdal_polygonize-lite)."""
        from geocube_spark.operators.regions import region_stats

        return region_stats(tiles, block=block)

    def sieve(
        self, tiles: DataFrame, min_px: int, block: int = 64,
        nodata: float = float("nan"),
    ) -> DataFrame:
        """gdal_sieve-style removal of sub-threshold regions."""
        from geocube_spark.operators.regions import sieve_mask

        return sieve_mask(tiles, min_px, block=block, nodata=nodata)

    def read_table_as_of(self, name: str, version: int) -> DataFrame:
        """Catalog time travel: a retained past version of a table."""
        return self.catalog.read(name, version=version)

    def table_history(self, name: str) -> DataFrame:
        """Retained commit history of a catalog table, newest first."""
        return self.catalog.history(name)

    def _log_job(self, job_id: str, messages: list[tuple[str, str]], status: str = "") -> None:
        """Append job log lines (job.LogMsg twin; persisted like the
        reference's job_logs table, pg_jobs.go:15-26).  ``messages`` is a
        batch of (severity, message) so one state handler costs one
        commit.  Each message in the batch gets ``now + i µs`` so the
        newest-first order of :meth:`job_logs` stays the emission order
        within a batch (timestamps are the only order key, like the
        reference's ``ORDER BY job_logs.time DESC``, pg_jobs.go:21)."""
        from datetime import timedelta

        now = datetime.now()
        self._append(
            "job_logs",
            self.spark.createDataFrame(
                [
                    {"job_id": job_id, "ts": now + timedelta(microseconds=i),
                     "severity": sev, "status": status, "message": msg}
                    for i, (sev, msg) in enumerate(messages)
                ],
                schemas.JOB_LOG,
            ),
        )

    def job_logs(self, job_id: str, page: int = 0, limit: int | None = 10) -> list[dict]:
        """The job's log lines NEWEST-FIRST, paginated — GetJobRequest's
        log_page/log_limit (operations.proto:211-215; 'by default, the
        latest').  Mirrors the reference's ``OFFSET page*limit LIMIT
        limit`` (pg_jobs.go:22); ``limit=None`` returns everything, and a
        page without a limit is rejected rather than silently ignored."""
        if not self.catalog.exists("job_logs"):
            return []
        q = (
            self.catalog.read("job_logs")
            .filter(F.col("job_id") == job_id)
            .orderBy(F.col("ts").desc())
        )
        if limit is not None:
            if page:
                q = q.offset(page * limit)
            q = q.limit(limit)
        elif page:
            raise ValidationError("job_logs: log_page requires log_limit")
        return [r.asDict() for r in q.collect()]

    def list_jobs(self, name_like: str | None = None, page: int = 0,
                  limit: int | None = None) -> DataFrame:
        """ListJobs (operations.proto:195-199): optional name glob
        (parseLike twin via functions/globs) + pagination."""
        from geocube_spark.functions.globs import like_filter

        jobs = self.catalog.read("jobs")
        if name_like:
            jobs = jobs.filter(like_filter(F.col("name"), name_like))
        if page or limit:
            jobs = jobs.orderBy("creation_ts", "id")
            if page and limit:
                jobs = jobs.offset(page * limit)
            if limit is not None:
                jobs = jobs.limit(limit)
        return jobs

    def job_task_counters(self) -> DataFrame:
        return task_counters(self.catalog.read("tasks"))

    def advance_job(self, job_id: str, event: str = "ok") -> str:
        jobs = self.catalog.read("jobs")
        row = jobs.filter(F.col("id") == job_id).first()
        if row is None:
            raise KeyError(f"unknown job {job_id!r}")
        new_state, new_waiting = advance_job_state(
            row["state"], event,
            job_type=row["type"], exec_level=row["execution_level"],
            waiting=row["waiting"], with_waiting=True,
        )
        self._set_job_state(job_id, new_state, new_waiting)
        return new_state

    def get_job(self, job_id: str, log_page: int = 0, log_limit: int | None = 10) -> dict:
        """GetJob: the job row plus its task-state counters and the
        newest-first log page (Job.logs, operations.proto:77)."""
        row = self.catalog.read("jobs").filter(F.col("id") == job_id).first()
        if row is None:
            raise KeyError(f"unknown job {job_id!r}")
        out = row.asDict(recursive=True)
        out["logs"] = [
            f"[{r['severity']}] {r['message']}"
            for r in self.job_logs(job_id, page=log_page, limit=log_limit)
        ]
        if self.catalog.exists("tasks"):
            out["tasks"] = {
                r["state"]: r["n"]
                for r in self.catalog.read("tasks")
                .filter(F.col("job_id") == job_id)
                .groupBy("state")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
        return out

    def retry_job(self, job_id: str, force: bool = False) -> str:
        """RetryJob: the Retried / RetryForced arc (job.go:395-420).

        Entering CONSOLIDATIONRETRYING runs the state's on-enter action
        (csldConsolidationRetry, consolidater.go:797-808): FAILED tasks —
        NEW/PENDING too on a force-retry (:810-823) — reset to NEW with a
        fresh ``try_count``, counters recomputed, then OrdersPrepared
        re-advances to CONSOLIDATIONINPROGRESS, so the next
        :meth:`process_consolidation_job` re-runs exactly the reset tasks."""
        state = self.advance_job(job_id, "RetryForced" if force else "Retried")
        if state not in ("CONSOLIDATIONRETRYING", "CONSOLIDATIONFORCERETRYING"):
            return state
        self._log_job(job_id, [("INFO", "Retry consolidation...")])
        reset_from = ["FAILED"] if state == "CONSOLIDATIONRETRYING" else [
            "NEW", "PENDING", "FAILED"
        ]
        if self.catalog.exists("tasks"):
            hit = (F.col("job_id") == job_id) & F.col("state").isin(reset_from)

            def transform_tasks(tasks: DataFrame) -> DataFrame:
                if "try_count" not in tasks.columns:
                    tasks = tasks.withColumn("try_count", F.lit(0))
                return tasks.withColumn(
                    "try_count",
                    F.when(hit, F.lit(0)).otherwise(F.col("try_count")),
                ).withColumn(
                    "state", F.when(hit, F.lit("NEW")).otherwise(F.col("state"))
                )

            self._rmw("tasks", transform_tasks)
            counts = (
                self._tasks()
                .filter(F.col("job_id") == job_id)
                .agg(
                    F.count_if(F.col("state").isin("NEW", "PENDING")).alias("a"),
                    F.count_if(F.col("state") == "FAILED").alias("f"),
                )
                .first()
            )
            sel = F.col("id") == job_id
            self._rmw(
                "jobs",
                lambda jobs: jobs.withColumn(
                    "active_tasks",
                    F.when(sel, F.lit(int(counts["a"]))).otherwise(
                        F.col("active_tasks")
                    ),
                ).withColumn(
                    "failed_tasks",
                    F.when(sel, F.lit(int(counts["f"]))).otherwise(
                        F.col("failed_tasks")
                    ),
                ),
            )
        return self.advance_job(job_id, "OrdersPrepared")

    def cancel_job(self, job_id: str, force: bool = False) -> str:
        """CancelJob: plain cancel only lands while the job is paused; a
        forced cancel lands anytime (job.go:395-401)."""
        return self.advance_job(
            job_id, "CancelledByUserForced" if force else "CancelledByUser"
        )

    def continue_job(self, job_id: str) -> str:
        """ContinueJob: step a step-by-step (waiting) job forward."""
        return self.advance_job(job_id, "Continue")

    def clean_jobs(self, states: tuple[str, ...] = ("DONE", "FAILED")) -> int:
        """CleanJobs: remove terminated jobs (and their tasks and dataset
        locks) in the given states; returns the number removed."""
        jobs = self.catalog.read("jobs")
        # materialize the doomed ids BEFORE the jobs write: the write
        # garbage-collects the snapshot this filter reads, so a lazy
        # dead-ids plan reused for the tasks/locks writes would re-scan a
        # deleted version (admin-batch-sized list; never large)
        ids = [
            r["id"]
            for r in jobs.filter(F.col("state").isin(list(states))).select("id").collect()
        ]
        if not ids:
            return 0
        self.catalog.write("jobs", jobs.filter(~F.col("id").isin(ids)))
        if self.catalog.exists("tasks"):
            tasks = self.catalog.read("tasks")
            self.catalog.write("tasks", tasks.filter(~F.col("job_id").isin(ids)))
        if self.catalog.exists("locked_datasets"):
            locks = self.catalog.read("locked_datasets")
            self.catalog.write(
                "locked_datasets", locks.filter(~F.col("job_id").isin(ids))
            )
        return len(ids)

    def get_containers(self, uris: list[str]) -> DataFrame:
        """GetContainers: container rows for the given URIs with their
        datasets nested (the RPC's per-container dataset list)."""
        containers = self.catalog.read("containers").filter(F.col("uri").isin(uris))
        datasets = self.catalog.read("datasets").filter(
            F.col("container_uri").isin(uris)
        )
        per = datasets.groupBy(F.col("container_uri").alias("uri")).agg(
            F.collect_list(
                F.struct("id", "record_id", "instance_id", "subdir", "bands", "status")
            ).alias("datasets")
        )
        return containers.join(per, "uri", "left")

    @staticmethod
    def version() -> str:
        """Version RPC twin: the engine's own version string."""
        from importlib.metadata import PackageNotFoundError, version as _v

        try:
            return _v("geocube-spark")
        except PackageNotFoundError:
            return "0.1.0"
