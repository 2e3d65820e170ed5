"""Property-graph data model: a pair of typed DataFrames.

Rebuilds the reference's schema-less labeled property graph (node =
``(nid, labels, properties)``, edge = ``(src, dst, labels, properties)``;
reference signatures at ``databases.py:11`` / ``databases.py:20``) as two
fixed-schema DataFrames — the GraphFrames-style convention from SURVEY §1.2.

Deliberate divergences from the reference (SURVEY §2.1 quirks):

- ids are canonical BIGINT columns, not string-typed properties spliced
  into query text (reference ``databases.py:91,96``); string coercion only
  happens at the ingest boundary.
- property values stay MAP<STRING,STRING> for fidelity to the reference's
  degrade-to-string behavior, with ``prop(...)`` helpers for typed
  promotion to columns.

Scale notes (100 TB): the graph persists as two Parquet tables; ``edges``
should be written bucketed/partitioned by ``src`` (and optionally a
mirror by ``dst`` for reverse traversal) so each BFS expansion round is a
co-located join instead of a full shuffle — see ``io.write_graph``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

VERTEX_SCHEMA = StructType(
    [
        StructField("id", LongType(), nullable=False),
        StructField("labels", ArrayType(StringType()), nullable=True),
        StructField("props", MapType(StringType(), StringType()), nullable=True),
    ]
)

EDGE_SCHEMA = StructType(
    [
        StructField("src", LongType(), nullable=False),
        StructField("dst", LongType(), nullable=False),
        StructField("labels", ArrayType(StringType()), nullable=True),
        StructField("props", MapType(StringType(), StringType()), nullable=True),
    ]
)


def local_frame(spark: SparkSession, rows: list, schema: StructType) -> DataFrame:
    """A DataFrame over driver-held ``rows`` with exact Catalyst statistics.

    The rows go to Spark as one ``pyarrow.Table``, which plans as a
    ``LocalRelation`` whose ``sizeInBytes`` is its row count times the row
    width. ``createDataFrame`` on a Python list plans as a ``LogicalRDD``
    instead, which reports ``spark.sql.defaultSizeInBytes`` (Long.MaxValue)
    and keeps reporting it through every union and left-semi join above it.
    The ``auto`` traversal strategy decides from ``sizeInBytes``, so every
    frame the driver builds for a graph must come from here. Unlike a pandas
    frame, an Arrow table takes this path whatever
    ``spark.sql.execution.arrow.pyspark.enabled`` says.

    Spark keeps the table as a ``LocalRelation`` only up to
    ``spark.sql.execution.arrow.localRelationThreshold`` (48 MB by
    default); a larger table becomes a scan of its Arrow batches.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    cols = {f.name: [row[i] for row in rows] for i, f in enumerate(schema.fields)}
    return spark.createDataFrame(pa.table(cols, schema=arrow_schema), schema)


def prop(df_or_col, key: str) -> Column:
    """Typed promotion of a property-map entry to a column.

    ``prop(vertices, 'name')`` ≡ the reference's ``n.name`` property access
    (e.g. point lookups ``WHERE name = "test<i>"``, ``benchmark.py:145``).
    """
    col = df_or_col["props"] if isinstance(df_or_col, DataFrame) else df_or_col
    return F.element_at(col, key)


def has_label(df_or_col, label: str) -> Column:
    """Label membership predicate (reference label match, ``databases.py:93,104``)."""
    col = df_or_col["labels"] if isinstance(df_or_col, DataFrame) else df_or_col
    return F.array_contains(col, label)


@dataclass
class PropertyGraph:
    """A directed labeled property graph as two DataFrames."""

    vertices: DataFrame
    edges: DataFrame

    @staticmethod
    def empty(spark: SparkSession) -> "PropertyGraph":
        return PropertyGraph(
            vertices=local_frame(spark, [], VERTEX_SCHEMA),
            edges=local_frame(spark, [], EDGE_SCHEMA),
        )

    def edge_pairs(self) -> DataFrame:
        """The (src, dst) projection, memoized per graph instance.

        Every traversal call starts from this plan; building it costs a
        py4j select roundtrip (~10 ms), which at the reference's
        many-small-traversals workload shape is a measurable share of a
        sub-100-ms operation. The graph is immutable (mutation builds a
        new PropertyGraph), so memoizing is safe.
        """
        cached = self.__dict__.get("_edge_pairs")
        if cached is None:
            cached = self.edges.select("src", "dst")
            self.__dict__["_edge_pairs"] = cached
        return cached

    # --- structure ---------------------------------------------------------
    def out_degrees(self) -> DataFrame:
        """(id, out_degree) — map-side combinable hash aggregation."""
        return self.edges.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).alias("out_degree")
        )

    def in_degrees(self) -> DataFrame:
        return self.edges.groupBy(F.col("dst").alias("id")).agg(
            F.count(F.lit(1)).alias("in_degree")
        )

    def degrees(self) -> DataFrame:
        """Total (in+out) degree via a single explode — one shuffle, no join."""
        return (
            self.edges.select(
                F.explode(F.array(F.col("src"), F.col("dst"))).alias("id")
            )
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("degree"))
        )

    def num_vertices(self) -> int:
        return self.vertices.count()

    def num_edges(self) -> int:
        return self.edges.count()

    # --- derivation --------------------------------------------------------
    def vertex_ids_from_edges(self) -> DataFrame:
        """Distinct endpoint ids of the edge set.

        Spark-native form of the reference's node-file derivation script
        (``data_sets/conv.py:6-16``): project → explode → distinct.
        """
        return (
            self.edges.select(
                F.explode(F.array(F.col("src"), F.col("dst"))).alias("id")
            ).distinct()
        )

    def reversed(self) -> "PropertyGraph":
        """Graph with all edges flipped (for reverse traversal)."""
        rev = self.edges.select(
            F.col("dst").alias("src"),
            F.col("src").alias("dst"),
            "labels",
            "props",
        )
        return PropertyGraph(self.vertices, rev)

    def undirected_edges(self) -> DataFrame:
        """Symmetric closure of the edge set (for undirected algorithms)."""
        e = self.edges.select("src", "dst")
        return e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()
