"""FindDatasets — the engine's flagship catalog query.

Reference: interface/database/pg/pg_containers.go:244-348 (FindDatasets) and
the WHERE-builder pg.go:279-308.  Every GetCube/ListDatasets/consolidation
planning call funnels through this one parameterized plan (SURVEY §2.2, §3.1
steps 4-5).

Spark-first restatement:
- each optional predicate appends a Column filter (Catalyst pushes scalar
  ones into the parquet scan);
- the records join happens ONLY when a time/tag/name predicate or ordering
  needs it (join-avoidance O5, pg_containers.go:256-258);
- the spatial filter is two-phase (O3): bbox-struct comparisons first
  (file-skipping friendly), then the exact interior-intersects pandas UDF on
  survivors only;
- records is small relative to datasets (dim vs fact) -> broadcast hint;
- final order = (r.datetime, r.id) (W1), pagination via offset/limit (L1).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from geocube_spark.functions.geometry import (
    bbox_intersects,
    make_intersects_udf,
    split_antimeridian_rect,
)
from geocube_spark.functions.globs import like_filter


@dataclass
class DatasetFilters:
    """Mirror of the reference's FindDatasets parameter surface."""

    status: str | None = "ACTIVE"  # F1
    instance_ids: list[str] | None = None  # F2
    record_ids: list[str] | None = None  # F2
    time_from: datetime | None = None  # F3 (None = unbounded, C9)
    time_to: datetime | None = None  # F3
    tags: dict[str, str] | None = None  # F4: value "" = existence test
    record_name_glob: str | None = None  # F9 (glob, translated F5)
    container_uri_globs: list[str] | None = None  # F6 (OR-ed buckets)
    extent: tuple[float, float, float, float] | None = None  # F7/F8 query rect
    refine_srid: int | None = None  # F8: exact refinement when SRID matches
    locked_by_job_id: str | None = None  # F11
    order: bool = True  # W1
    offset: int = 0  # L1
    limit: int | None = None  # L1

    extra_dataset_predicates: list[Column] = field(default_factory=list)

    def has_record_predicates(self) -> bool:
        """A time, tag or record-name filter: only the records table can
        answer it."""
        return (
            self.time_from is not None
            or self.time_to is not None
            or bool(self.tags)
            or self.record_name_glob is not None
        )

    def needs_records(self) -> bool:
        """Join-avoidance (O5): records joined only when referenced."""
        return self.has_record_predicates() or self.order


def _tag_predicate(tags_col: Column, key: str, value: str) -> Column:
    """F4: empty value = existence; '*'/'?' globs via F5; else equality."""
    if value == "":
        return F.map_contains_key(tags_col, F.lit(key))
    return like_filter(F.element_at(tags_col, F.lit(key)), value)


def find_datasets(
    datasets: DataFrame,
    records: DataFrame | None,
    flt: DatasetFilters,
) -> DataFrame:
    """Build the FindDatasets DataFrame plan.

    Returns dataset rows, plus record datetime/name columns when the records
    join was taken.  No action is triggered — callers compose further.
    Raises ``ValueError`` when ``flt`` filters on records but ``records`` is
    None, rather than silently dropping those predicates.
    """
    if records is None and flt.has_record_predicates():
        raise ValueError("time, tag and record-name filters need the records table")
    d = datasets

    # --- dataset-side scalar predicates (pushdown-friendly, applied first)
    if flt.status is not None:  # F1
        d = d.filter(F.col("status") == flt.status)
    if flt.instance_ids:  # F2
        if len(flt.instance_ids) == 1:
            d = d.filter(F.col("instance_id") == flt.instance_ids[0])
        else:
            d = d.filter(F.col("instance_id").isin(flt.instance_ids))
    if flt.record_ids:
        d = d.filter(F.col("record_id").isin(flt.record_ids))
    if flt.locked_by_job_id is not None:  # F11
        d = d.filter(F.col("locked_by_job_id") == flt.locked_by_job_id)
    if flt.container_uri_globs:  # F6: OR of translated globs
        pred = like_filter(F.col("container_uri"), flt.container_uri_globs[0])
        for g in flt.container_uri_globs[1:]:
            pred = pred | like_filter(F.col("container_uri"), g)
        d = d.filter(pred)
    for p in flt.extra_dataset_predicates:
        d = d.filter(p)

    # --- spatial two-phase (F7 coarse bbox -> F8 exact refine), O3/O4
    if flt.extent is not None:
        rects = split_antimeridian_rect(*flt.extent)  # F14
        coarse = bbox_intersects(F.col("bbox"), *rects[0])
        for r in rects[1:]:
            coarse = coarse | bbox_intersects(F.col("bbox"), *r)
        d = d.filter(coarse)
        if flt.refine_srid is not None:
            # exact refinement only for same-SRID shapes, like the reference's
            # CASE WHEN ST_SRID(shape)=$srid THEN ST_Relate(...) ELSE true END
            exact = make_intersects_udf(rects[0])
            cond = F.when(
                F.col("shape_srid") == flt.refine_srid, exact(F.col("geom_wkb"))
            ).otherwise(F.lit(True))
            for r in rects[1:]:
                exact_r = make_intersects_udf(r)
                cond = cond | F.when(
                    F.col("shape_srid") == flt.refine_srid, exact_r(F.col("geom_wkb"))
                ).otherwise(F.lit(True))
            d = d.filter(cond)

    # --- conditional records join (J1, O5)
    joined = False
    if records is not None and flt.needs_records():
        r = records
        if flt.time_from is not None:  # F3: inclusive both ends
            r = r.filter(F.col("datetime") >= F.lit(flt.time_from))
        if flt.time_to is not None:
            r = r.filter(F.col("datetime") <= F.lit(flt.time_to))
        if flt.tags:  # F4
            for k, v in sorted(flt.tags.items()):
                r = r.filter(_tag_predicate(F.col("tags"), k, v))
        if flt.record_name_glob is not None:  # F9
            r = r.filter(like_filter(F.col("name"), flt.record_name_glob))
        r = r.select(
            F.col("id").alias("record_id"),
            F.col("datetime").alias("record_datetime"),
            F.col("name").alias("record_name"),
            F.col("tags").alias("record_tags"),
        )
        # records is the dim side: broadcast to avoid shuffling the fact table
        d = d.join(F.broadcast(r), "record_id", "inner")
        joined = True

    # --- W1 global order: (r.datetime, r.id)
    if flt.order and joined:
        d = d.orderBy(F.col("record_datetime"), F.col("record_id"))
    elif flt.order:
        d = d.orderBy(F.col("record_id"))

    # --- L1 pagination
    if flt.offset:
        d = d.offset(flt.offset)
    if flt.limit is not None:
        d = d.limit(flt.limit)
    return d
