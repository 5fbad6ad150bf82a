"""REST catalog as a Python DataSourceV2 with real filter pushdown.

SURVEY.md §4's last optional item: the reference's paginated contract
listing (reference Alpaca.py:486-517 drains ``next_page_token`` on one
thread; v3/utils.py:444-503 fans date chunks across a thread pool) as a
*planned scan* on Spark 4's Python Data Source API instead of a driver
loop:

- ``partitions()`` — the catalog's key space (e.g. underlying symbol)
  becomes one ``InputPartition`` per key: the reference's chunk planner
  (F17) expressed as scan planning, so executors fetch pages in
  parallel and the driver never holds rows.
- ``pushFilters()`` — Catalyst hands the scan its predicates;
  equality/IN/range filters on the partition axis prune partitions
  BEFORE any fetch happens (the REST analog of partition pruning), and
  everything else is returned to Spark to re-apply, so correctness
  never depends on the source's filtering.
- ``read(partition)`` — executor-side fetch of one key's pages,
  yielded as Arrow ``RecordBatch``es (the vectorized path).

There is no network in this environment, so the transport is a local
parquet "endpoint" (pyarrow dataset — its predicate evaluation stands
in for the API's server-side query args). A real HTTP transport is a
drop-in replacement for `_open_endpoint`/the batch loop in ``read``;
the planning and pushdown surfaces — the parts Spark sees — are real.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.errors import AnalysisException
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)
from pyspark.sql.types import StructType

from financedatabase_spark.session import ensure_source_confs

FORMAT_NAME = "rest_catalog"


def _open_endpoint(path: str):
    """The pluggable transport seam: returns a pyarrow dataset serving
    the catalog. Swap for an HTTP pager to hit a live API."""
    import pyarrow.dataset as pads

    return pads.dataset(path)


class _KeyPartition(InputPartition):
    def __init__(self, value):
        self.value = value

    def __repr__(self) -> str:  # shows up in Spark UI task descriptions
        return f"_KeyPartition({self.value!r})"


class RestCatalogReader(DataSourceReader):
    def __init__(self, schema: StructType, options) -> None:
        self.schema = schema
        self.path = options["path"]
        self.axis = options.get("partition_col", "symbol")
        self.page_size = int(options.get("page_size", "10000"))
        self._pushed: list[Filter] = []

    # -- pushdown -----------------------------------------------------
    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Accept axis-column predicates we can evaluate during
        planning; everything else goes back to Spark. Accepted filters
        are fully honored by partition pruning (plus the endpoint-side
        re-filter in ``read``), so Spark may elide its own copy."""
        axis = (self.axis,)
        for f in filters:
            if (
                isinstance(
                    f, (EqualTo, In, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual)
                )
                and f.attribute == axis
                and f.value is not None
            ):
                self._pushed.append(f)
            else:
                yield f  # unsupported — Spark re-applies it

    def _keep(self, v) -> bool:
        if v is None:
            # SQL comparison semantics: null fails every pushed predicate
            return not self._pushed
        for f in self._pushed:
            if isinstance(f, EqualTo):
                ok = v == f.value
            elif isinstance(f, In):
                ok = v in f.value
            elif isinstance(f, GreaterThan):
                ok = v > f.value
            elif isinstance(f, GreaterThanOrEqual):
                ok = v >= f.value
            elif isinstance(f, LessThan):
                ok = v < f.value
            else:
                ok = v <= f.value
            if not ok:
                return False
        return True

    # -- planning -----------------------------------------------------
    def partitions(self) -> list[InputPartition]:
        """One partition per surviving axis key. The key inventory is a
        single-column distinct scan of the endpoint (the catalog's
        "list symbols" call) — planning-time metadata, not data rows."""
        import pyarrow.compute as pc

        keys = _open_endpoint(self.path).to_table(columns=[self.axis])
        values = pc.unique(keys.column(self.axis)).to_pylist()
        return [_KeyPartition(v) for v in sorted(values, key=lambda x: (x is None, x)) if self._keep(v)]

    # -- execution ----------------------------------------------------
    def read(self, partition: _KeyPartition):  # executor-side
        import pyarrow.dataset as pads

        field = pads.field(self.axis)
        expr = field.is_null() if partition.value is None else field == partition.value
        cols = [f.name for f in self.schema.fields]
        scanner = _open_endpoint(self.path).scanner(
            columns=cols, filter=expr, batch_size=self.page_size
        )
        yield from scanner.to_batches()


class RestCatalogDataSource(DataSource):
    """``spark.read.format("rest_catalog").option("path", ...)
    .option("partition_col", key).load()``"""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> StructType:
        import pyarrow.parquet as pq

        from pyspark.sql.pandas.types import from_arrow_schema

        return from_arrow_schema(pq.read_schema(self.options["path"]))

    def reader(self, schema: StructType) -> RestCatalogReader:
        return RestCatalogReader(schema, self.options)


def register_rest_catalog(spark) -> None:
    """Idempotently register the format with a session. Its filter
    pushdown needs Python-source pushdown, default-off in 4.1, which
    `session.get_spark` switches on for every session it builds and
    `session.ensure_source_confs` for a session built elsewhere.
    Sessions of one SparkContext share the source registry, so the
    format may already be there from another session."""
    if not getattr(spark, "_rest_catalog_registered", False):
        ensure_source_confs(spark)
        try:
            spark.dataSource.register(RestCatalogDataSource)
        except AnalysisException as e:
            if e.getCondition() != "DATA_SOURCE_ALREADY_EXISTS":
                raise
        spark._rest_catalog_registered = True
