"""Per-snapshot key index: a snapshot's key tree held on the driver.

The reference answers its listing endpoints with one directory read each
(main.go:143,185,226): the file system holds the package → schema → name
tree. A published snapshot never changes, so here that tree is built once,
when the freshness manager admits the snapshot, from one projection of the
resolved snapshot DataFrame. The serving facade then answers the listings
(Q1-Q3) and the missing-key 404s of the point reads (Q4/Q5) from it with
no Spark job.

The index reproduces ``queries.list_*`` over the same snapshot exactly:
ascending order with nulls first (Spark's binary string order is Python's
code-point order on ``str``), distinct packages and schemas, and names with
their multiplicity.
"""

from __future__ import annotations

from collections import defaultdict
from collections.abc import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

KEY_COLS = ("package", "schema", "name")


def _spark_order(values: Iterable[str | None]) -> tuple[str | None, ...]:
    return tuple(sorted(values, key=lambda v: (v is not None, v or "")))


def string_frame(
    spark: SparkSession, columns: dict[str, Sequence[str | None]]
) -> DataFrame:
    """A DataFrame of string columns held on the driver. Built from an
    Arrow table, Spark plans it as a ``LocalTableScan``: collecting it
    launches no job."""
    return spark.createDataFrame(
        pa.table({c: pa.array(v, pa.string()) for c, v in columns.items()})
    )


class KeyIndex:
    """Immutable package → schema → sorted names map of one snapshot."""

    def __init__(self, keys: Iterable[tuple[str, str | None, str | None]]) -> None:
        tree: dict = defaultdict(lambda: defaultdict(list))
        for package, schema, name in keys:
            tree[package][schema].append(name)
        self._packages = _spark_order(tree)
        self._schemas = {p: _spark_order(by) for p, by in tree.items()}
        self._names = {
            (p, s): _spark_order(names)
            for p, by in tree.items()
            for s, names in by.items()
        }

    @classmethod
    def of(cls, metas: DataFrame) -> KeyIndex:
        """Index ``metas`` with one Spark job: the key columns, collected
        as Arrow."""
        table = metas.select(*KEY_COLS).toArrow()
        return cls(zip(*(table.column(c).to_pylist() for c in KEY_COLS)))

    def packages(self) -> tuple[str, ...]:
        return self._packages

    def schemas(self, package: str) -> tuple[str | None, ...]:
        return self._schemas.get(package, ())

    def names(self, package: str, schema: str) -> tuple[str | None, ...]:
        return self._names.get((package, schema), ())

    def __contains__(self, key: tuple[str, str, str]) -> bool:
        package, schema, name = key
        return name in self.names(package, schema)
