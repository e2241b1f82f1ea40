"""Relational soil-pipeline operators (`geoEpic/soil/sda.py`, `soil/ssurgo_gdb.py`).

Pure built-in expressions: window argmax, grouped median, unit-scaling
projection, resume semi/anti filters.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def hydgrp_code(hydgrp: Column) -> Column:
    """{A:1, B:2, C:3, D:4}, ''/unknown -> C=3 (`soil/sda.py:166-167`)."""
    m = F.create_map(
        F.lit("A"), F.lit(1), F.lit("B"), F.lit(2), F.lit("C"), F.lit(3), F.lit("D"), F.lit(4)
    )
    return F.coalesce(m[hydgrp], F.lit(3))


def dominant_component(components: DataFrame) -> DataFrame:
    """Dominant soil component per mukey: the comppct_r argmax
    (`soil/ssurgo_gdb.py:57` transform('max') == comppct_r). Ties broken by
    lowest cokey (deterministic; pandas kept all ties — at scale a single
    winner is the useful semantic and fixtures are tie-free)."""
    w = Window.partitionBy("mukey").orderBy(F.desc("comppct_r"), F.asc("cokey"))
    return (
        components.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def soil_projection(layers_joined: DataFrame) -> DataFrame:
    """Canonical unit-scaled projection (`soil/sda.py:171-192`): depth cm->m,
    om walkley-black *0.58, ksat um/s->mm/hr *3.6, dry->wet albedo *0.625,
    clay = 100 - sand - silt, hydgrp letter -> 1..4 code."""
    return layers_joined.select(
        "mukey",
        "cokey",
        (F.col("hzdepb_r") * 0.01).alias("depth_m"),
        (F.col("om_r") * 0.58).alias("om_pct"),
        (F.col("ksat_r") * 3.6).alias("ksat_mm_hr"),
        (F.col("albedodry_r") * 0.625).alias("albedo_wet"),
        (F.lit(100.0) - F.col("sandtotal_r") - F.col("silttotal_r")).alias("claytotal_r"),
        hydgrp_code(F.col("hydgrp")).alias("hydgrp_code"),
        "wthirdbar_r",
        "sandtotal_r",
        "silttotal_r",
        "ph1to1h2o_r",
        "dbthirdbar_r",
    )


def depth_bucket_median(
    layers: DataFrame,
    value_cols: list[str],
    key: str = "mukey",
    depth: str = "hzdepb_r",
) -> DataFrame:
    """Collapse duplicate layers: round depth to 0.1 then per-(key, depth)
    median of properties (`soil/sda.py:195-199`)."""
    d = layers.withColumn("__depth_b", F.round(F.col(depth), 1))
    return d.groupBy(key, "__depth_b").agg(
        *[F.median(c).alias(f"{c}_med") for c in value_cols]
    ).withColumnRenamed("__depth_b", "depth_bucket")


def opc_append(
    first: DataFrame,
    second: DataFrame,
    by: list[str] | None = None,
    start_year: int | None = None,
) -> DataFrame:
    """Append one operation schedule to another with Yid re-basing
    (`io/opc.py:605-635` OPC.append): the second schedule's year ids are
    shifted to start right after the first's last year —
    ``Yid2' = Yid2 - (min(Yid2) - 1) + max(Yid1)``, with the reference's
    ``min == 0`` escape (a 0-based schedule is only offset, not rebased) —
    then the rows are concatenated and calendar columns rebuilt:
    ``Yr = start_year + Yid - 1`` and a real ``date`` from (Yr, Mn, Dy).

    ``by`` appends per schedule group (e.g. per site) in one pass: the
    per-group offsets come from two tiny aggregates broadcast back onto the
    streams — no window over the fact rows, so the big side never shuffles
    on anything wider than the group key. ``by=None`` treats each input as a
    single schedule. Groups present in only ONE input survive: a
    first-only group passes through unchanged, a second-only group rebases
    against an empty first schedule (last year 0, i.e. starts at Yid 1).
    """
    by = by or []
    if by:
        off1 = first.groupBy(*by).agg(F.max("Yid").alias("__last"))
        off2 = second.groupBy(*by).agg(F.min("Yid").alias("__min"))
        # FULL outer offsets: an inner join would silently drop every group
        # that appears in only one schedule
        offs = F.broadcast(off1.join(off2, on=by, how="outer"))
        f = first.join(offs, on=by, how="left")
        s = second.join(offs, on=by, how="left").withColumn(
            "__last", F.coalesce("__last", F.lit(0))
        )
    else:
        off1 = first.agg(F.max("Yid").alias("__last"))
        off2 = second.agg(F.min("Yid").alias("__min"))
        f = first.crossJoin(F.broadcast(off1)).crossJoin(F.broadcast(off2))
        # max() over an empty `first` is NULL — coalesce to 0 so an empty
        # first schedule means "second starts at Yid 1", matching the
        # grouped branch's empty-first semantics (r2 advisory finding).
        s = (
            second.crossJoin(F.broadcast(off1))
            .crossJoin(F.broadcast(off2))
            .withColumn("__last", F.coalesce("__last", F.lit(0)))
        )
    rebased = s.withColumn(
        "Yid",
        F.when(F.col("__min") == 0, F.col("Yid") + F.col("__last")).otherwise(
            F.col("Yid") - (F.col("__min") - 1) + F.col("__last")
        ),
    )
    out = f.unionByName(rebased).drop("__last", "__min")
    if start_year is not None:
        out = out.withColumn(
            "Yr", F.lit(start_year) + F.col("Yid") - 1
        ).withColumn(
            "date",
            F.make_date(F.col("Yr"), F.col("Mn"), F.col("Dy")),
        )
    return out


def merge_upsert(
    base: DataFrame,
    updates: DataFrame,
    key: str | list[str],
    version: str,
    delete_col: str | None = None,
) -> DataFrame:
    """Iceberg ``MERGE INTO`` semantics as a pure DataFrame transform:
    last-writer-wins upsert of ``updates`` into ``base`` by ``key``, ordered
    by ``version`` (updates win ties — they are the later writer), with
    optional delete tombstones (rows whose ``delete_col`` is true remove
    the key when they win).

    Shape: one unionByName (map-only) + one window over the key — a single
    key-keyed shuffle, the same cost as the join MERGE INTO compiles to.
    With both sides bucketed by key (sources/bucketing.py) the Exchange
    disappears entirely. Copy-on-write at table scale: partition-pruned
    read -> this transform -> partition-scoped overwrite, which is exactly
    the reference's skip-existing resume pattern upgraded from
    insert-only to full upsert (`operators/resume.py`).
    """
    keys = [key] if isinstance(key, str) else list(key)
    b = base.withColumn("__upd", F.lit(0))
    u = updates.withColumn("__upd", F.lit(1))
    if delete_col is not None and delete_col not in base.columns:
        b = b.withColumn(delete_col, F.lit(False))
    allrows = b.unionByName(u)
    w = Window.partitionBy(*keys).orderBy(
        F.col(version).desc(), F.col("__upd").desc())
    out = (
        allrows.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn", "__upd")
    )
    if delete_col is not None:
        out = out.where(~F.coalesce(F.col(delete_col), F.lit(False))).drop(delete_col)
    return out
