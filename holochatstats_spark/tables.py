"""Table loaders for the driver-generated parquet testdata.

Explicit-schema philosophy mirrors the reference's fixed DDL
(reference: data_ingestion/db/queries.py:18-100). The contract:

- every table has one declared ``StructType`` in :data:`SCHEMAS`, and
  :func:`load_table` reads with ``spark.read.schema(declared)``, so Spark
  never infers a schema and building a query launches no Spark job;
- schema drift is checked from the parquet footer in the calling Python
  process (pyarrow, imported on first use, no Spark job), once per path and
  file version. A drifted file fails the load with a :class:`SchemaDriftError`
  naming the table and, for every differing column, the declared and the
  found type. A declared read of a file missing a column would otherwise
  return NULLs for it without an error.

At 100 TB the fact tables (lineitem/events/documents) would be
month-partitioned (events) or date-partitioned (lineitem) parquet/Delta;
loaders keep the single-directory layout the driver provides but all query
code filters on the partition-able columns so partition pruning engages
unchanged on a partitioned layout. A directory is checked by the footer of
its first data file, the same file Spark's own inference would read.

The timestamp columns (events.ts, orders.o_orderdate, lineitem.l_shipdate)
are parquet TIMESTAMP(MICROS) without UTC adjustment, declared
``timestamp_ntz`` — the same naive wall-clock values DuckDB sees. This is
the library-wide rule: timestamps are UTC wall-clock ``timestamp_ntz``; the
library sets no session conf, and no loaded value depends on the session
time zone.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def _struct(*fields: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(n, t) for n, t in fields])


_INT, _LONG, _DOUBLE = T.IntegerType(), T.LongType(), T.DoubleType()
_STR, _NTZ = T.StringType(), T.TimestampNTZType()

SCHEMAS: dict[str, T.StructType] = {
    "region": _struct(("r_regionkey", _INT), ("r_name", _STR)),
    "nation": _struct(("n_nationkey", _INT), ("n_name", _STR), ("n_regionkey", _INT)),
    "customer": _struct(
        ("c_custkey", _LONG),
        ("c_name", _STR),
        ("c_nationkey", _INT),
        ("c_acctbal", _DOUBLE),
        ("c_mktsegment", _STR),
    ),
    "supplier": _struct(
        ("s_suppkey", _LONG),
        ("s_name", _STR),
        ("s_nationkey", _INT),
        ("s_acctbal", _DOUBLE),
    ),
    "part": _struct(
        ("p_partkey", _LONG),
        ("p_name", _STR),
        ("p_brand", _STR),
        ("p_type", _STR),
        ("p_size", _INT),
        ("p_retailprice", _DOUBLE),
    ),
    "orders": _struct(
        ("o_orderkey", _LONG),
        ("o_custkey", _LONG),
        ("o_orderstatus", _STR),
        ("o_totalprice", _DOUBLE),
        ("o_orderdate", _NTZ),
        ("o_orderpriority", _STR),
    ),
    "lineitem": _struct(
        ("l_orderkey", _LONG),
        ("l_partkey", _LONG),
        ("l_suppkey", _LONG),
        ("l_linenumber", _INT),
        ("l_quantity", _DOUBLE),
        ("l_extendedprice", _DOUBLE),
        ("l_discount", _DOUBLE),
        ("l_tax", _DOUBLE),
        ("l_returnflag", _STR),
        ("l_linestatus", _STR),
        ("l_shipdate", _NTZ),
    ),
    "events": _struct(
        ("event_id", _LONG),
        ("ts", _NTZ),
        ("user_id", _LONG),
        ("event_type", _STR),
        ("value", _DOUBLE),
        ("props", _STR),
    ),
    "documents": _struct(
        ("doc_id", _LONG),
        ("text", _STR),
        ("lang", _STR),
        ("source", _STR),
        ("n_chars", _LONG),
    ),
    "embeddings": _struct(
        ("vec_id", _LONG),
        ("embedding", T.ArrayType(T.FloatType())),
        ("label", _INT),
    ),
}

TABLES = tuple(SCHEMAS)


class SchemaDriftError(ValueError):
    """A table's parquet footer disagrees with its declared schema."""


def _footer_file(path: str) -> str:
    """The parquet file whose footer stands for ``path``: the file itself,
    or a directory's first data file in name order."""
    if not os.path.isdir(path):
        return path
    data = sorted(
        f for f in os.listdir(path) if not f.startswith(("_", ".")) and f.endswith(".parquet")
    )
    if not data:
        raise FileNotFoundError(f"no parquet data file under {path}")
    return os.path.join(path, data[0])


@functools.lru_cache(maxsize=None)
def _check_footer(name: str, footer: str, mtime_ns: int, size: int) -> None:
    """Compare ``footer``'s schema with ``SCHEMAS[name]`` by column name and
    type (nullability aside, as Spark reads every file column nullable).
    Cached per file version; a drift raises, so it is never cached."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_type

    found = {}
    for field in pq.read_schema(footer):
        try:
            found_type = from_arrow_type(field.type, prefer_timestamp_ntz=True)
            found[field.name] = found_type.simpleString()
        except TypeError:  # an arrow type Spark has no mapping for
            found[field.name] = str(field.type)
    declared = {f.name: f.dataType.simpleString() for f in SCHEMAS[name].fields}
    diffs = [
        f"column {c!r} declared {declared.get(c, 'absent')}, found {found.get(c, 'absent')}"
        for c in list(declared) + [c for c in found if c not in declared]
        if declared.get(c) != found.get(c)
    ]
    if diffs:
        raise SchemaDriftError(
            f"table {name!r} ({footer}) drifted from its declared schema: " + "; ".join(diffs)
        )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``name``'s parquet under the local directory ``sf_dir``, read with
    its declared schema after the footer drift check; launches no Spark
    job."""
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    footer = _footer_file(path)
    st = os.stat(footer)
    _check_footer(name, footer, st.st_mtime_ns, st.st_size)
    return spark.read.schema(SCHEMAS[name]).parquet(path)
