"""CSV edge source with field→role mapping and string vertex names.

Reference: the STINGER CSV stream (``tests/stinger/src/stream/
csv_stream.c:25-120``) maps named CSV fields to source / dest /
weight / time roles and creates vertices by byte-string name through
the physmap (``src/core/stinger-physmap.c``).

Spark-first: batch reads use ``spark.read.csv`` with an explicit
schema (never inferSchema in production); streaming uses
``spark.readStream.csv`` over a directory.  The physmap is a name
dimension table — either compact sequential ids (``row_number``,
exact but globally-ordered) or ``xxhash64`` ids (shuffle-free, the
at-scale default, collision-improbable at 2^-64) — exactly the xor
hash + probe design of the reference physmap, minus the probing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_csv_edges(
    spark: SparkSession,
    path: str,
    mapping: dict[str, str],
    schema: str | None = None,
    header: bool = True,
    streaming: bool = False,
) -> DataFrame:
    """Load CSV rows and map fields to edge roles.

    ``mapping`` maps role → CSV column for roles ``src``, ``dst`` and
    optionally ``weight``, ``time``.  String src/dst columns pass
    through for physmap resolution (:func:`resolve_names`).
    """
    reader = spark.readStream if streaming else spark.read
    opts = reader.option("header", str(header).lower())
    df = (opts.schema(schema).csv(path)) if schema else opts.csv(path)
    cols = [
        F.col(mapping["src"]).alias("src"),
        F.col(mapping["dst"]).alias("dst"),
        (
            F.col(mapping["weight"]).cast("long")
            if "weight" in mapping
            else F.lit(1).cast("long")
        ).alias("wgt"),
    ]
    if "time" in mapping:
        cols.append(F.col(mapping["time"]).cast("long").alias("time_recent"))
    return df.select(*cols)


def build_physmap(names: DataFrame, compact: bool = False) -> DataFrame:
    """``(name, id)`` dimension table from a single-column name DF.

    ``compact=True`` assigns dense sequential ids via the distributed
    two-level rank (:func:`operators.prefix.range_row_number`: range
    shuffle + parallel local ranks + broadcast bases — no
    single-partition window sort, same discipline as
    ``operators/physmap.py``); default is ``xxhash64`` ids, which
    need no shuffle at all and scale to any size.
    Reference: ``stinger_mapping_create`` (``include/stinger.h:171-183``).
    """
    distinct = names.select(F.col(names.columns[0]).alias("name")).distinct()
    if compact:
        from ..operators.prefix import range_row_number

        return range_row_number(distinct, [F.col("name")], "id").withColumn(
            "id", F.col("id") - 1
        )
    return distinct.withColumn("id", F.xxhash64("name"))


def resolve_names(edges_by_name: DataFrame, physmap: DataFrame) -> DataFrame:
    """Map string src/dst to vertex ids through the physmap (two
    broadcast-able dimension joins)."""
    src_map = physmap.select(
        F.col("name").alias("src"), F.col("id").alias("src_id")
    )
    dst_map = physmap.select(
        F.col("name").alias("dst"), F.col("id").alias("dst_id")
    )
    out = (
        edges_by_name.join(F.broadcast(src_map), "src")
        .join(F.broadcast(dst_map), "dst")
        .select(
            F.col("src_id").alias("src"),
            F.col("dst_id").alias("dst"),
            *[c for c in edges_by_name.columns if c not in ("src", "dst")],
        )
    )
    return out
