"""Navigation query tier: the reference's full query surface (Q1-Q5).

Each function is the DataFrame re-expression of one HTTP endpoint of the
reference, operating over any "metas" DataFrame with the envelope
(package, schema, name, blob). When the input comes from
``SnapshotStore.read`` the package/schema predicates prune Hive
partitions — the same I/O bound as the reference's directory reads
(main.go:143,185,226), but decided by Catalyst instead of hand-coded
path construction.

All listing results are sorted ascending like the reference
(sort.Strings — main.go:155,197,238).

``ConsoleEngine`` serves Q1-Q3, and the 404s of Q4/Q5, from the
snapshot's ``keyindex.KeyIndex`` instead; these functions are the
reference its answers are tested against, and serve ``navigation``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Typed projection schema for olm.package blobs — the ``declcfg.Package``
# analog (main.go:305-313): nested nullable icon with binary payload.
PACKAGE_BLOB_SCHEMA = T.StructType(
    [
        T.StructField("schema", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("defaultChannel", T.StringType()),
        T.StructField(
            "icon",
            T.StructType(
                [
                    T.StructField("base64data", T.StringType()),
                    T.StructField("mediatype", T.StringType()),
                ]
            ),
        ),
    ]
)


def list_packages(metas: DataFrame) -> DataFrame:
    """Q1 (main.go:124-164): distinct level-1 partition keys, sorted.
    ``SELECT DISTINCT package FROM metas ORDER BY package``.

    Over the snapshot store this plan still scans the data files (a
    ``FileScan`` of every partition feeds the distinct). The serving
    facade does not run it: ``ConsoleEngine.list_packages`` answers from
    the snapshot's ``KeyIndex`` with zero Spark jobs, which
    ``test_engine_304_path_launches_no_spark_job`` pins by job count.
    """
    return metas.select("package").distinct().orderBy("package")


def list_schemas(metas: DataFrame, package: str | Column) -> DataFrame:
    """Q2 (main.go:166-205): distinct schemas under one package, sorted.
    Partition-pruned to the ``package=...`` subtree."""
    return (
        metas.filter(F.col("package") == package)
        .select("schema")
        .distinct()
        .orderBy("schema")
    )


def list_objects(metas: DataFrame, package: str | Column, schema: str | Column) -> DataFrame:
    """Q3 (main.go:207-247): names under (package, schema), sorted.

    The reference strips a ``.json`` suffix from directory entries
    (main.go:235); our ``name`` column is already clean, so the
    projection is direct.
    """
    return (
        metas.filter((F.col("package") == package) & (F.col("schema") == schema))
        .select("name")
        .orderBy("name")
    )


def get_object(
    metas: DataFrame, package: str | Column, schema: str | Column, name: str | Column
) -> DataFrame:
    """Q4 (main.go:249-270): the raw blob at a 3-part key. Partition
    pruning handles (package, schema); Parquet min/max row-group stats
    skip-scan ``name``."""
    return metas.filter(
        (F.col("package") == package)
        & (F.col("schema") == schema)
        & (F.col("name") == name)
    ).select("blob")


def get_package_icon(metas: DataFrame, package: str) -> DataFrame:
    """Q5 (main.go:272-320): typed decode + nested extraction + null test.

    Reads the ``olm.package`` blob whose name equals the package name
    (the reference assumes name == package, main.go:291-295), decodes it
    (``from_json`` ≙ json.Unmarshal at main.go:306), drops icon-less
    packages (main.go:310-313), and returns the decoded binary icon with
    its media type (main.go:314-315).
    """
    doc = F.from_json("blob", PACKAGE_BLOB_SCHEMA).alias("doc")
    return (
        metas.filter(
            (F.col("package") == package)
            & (F.col("schema") == "olm.package")
            & (F.col("name") == package)
        )
        .select(doc)
        .where(F.col("doc.icon").isNotNull() & F.col("doc.icon.base64data").isNotNull())
        .select(
            F.unbase64(F.col("doc.icon.base64data")).alias("icon_data"),
            F.col("doc.icon.mediatype").alias("icon_mediatype"),
        )
    )
