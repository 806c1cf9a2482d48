"""Real-Iceberg swap-in behind an import/classpath probe.

The north rule names an Iceberg table; this sandbox image ships no
Iceberg runtime jars (verified), so the engine's default catalog is the
jar-free :class:`~eel_sdk_spark.table.ManifestTable`, which replicates
the semantics the engine relies on (atomic snapshot commits, time
travel, append/overwrite, schema-on-commit, partition-value metadata,
compaction). This module is the declared swap-in: when a cluster DOES
carry the Iceberg Spark runtime (``iceberg-spark-runtime-*.jar`` on the
classpath + a configured catalog), :func:`open_table` returns an
:class:`IcebergBlocksTable` that stores the SAME blocks schema in a real
Iceberg table and maps the engine's table surface onto Iceberg
operations:

=====================  ==========================================
engine surface         Iceberg operation
=====================  ==========================================
``write_df(append)``   ``df.writeTo(t).append()``
``write_df(overwrite)````df.writeTo(t).overwritePartitions()`` /
                       ``createOrReplace()``
``read()``             ``spark.table(t)``
``read(snapshot_id)``  ``VERSION AS OF`` time travel
``current()``          last entry of ``t.snapshots``
properties             ``ALTER TABLE ... SET TBLPROPERTIES``
``compact(n)``         ``rewrite_data_files`` procedure
=====================  ==========================================

Blocks are ordinary rows (part_id/block_seq/col/header/payload/stats),
so nothing in the codec engine changes — Iceberg replaces only the
snapshot/manifest layer, exactly the seam ``table.py`` documents.

Everything here degrades gracefully: ``iceberg_available()`` is a
classpath probe, never an import error, and ``open_table`` falls back to
``ManifestTable`` — asserted by tests in THIS image (no jars), while the
Iceberg branch stays a thin, reviewable mapping (it cannot be
integration-tested here; the probe + fallback can and are).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .table import ManifestTable

#: catalog name used when the runtime is present; configure e.g.
#: spark.sql.catalog.eel=org.apache.iceberg.spark.SparkCatalog
DEFAULT_CATALOG = "eel"


def _prop_str(v) -> str:
    """Table-property key/value as a safely-embeddable SQL string literal
    body: non-strings (IvfIndex passes an 'ivf' dict with centroid arrays)
    are JSON-encoded, and single quotes are doubled so a value containing
    a quote cannot break the ALTER TABLE statement."""
    import json

    if not isinstance(v, str):
        v = json.dumps(v, separators=(",", ":"), sort_keys=True)
    return v.replace("'", "''")


def iceberg_available(spark: SparkSession,
                      catalog: str = DEFAULT_CATALOG) -> bool:
    """True iff the Iceberg Spark runtime is on the JVM classpath AND the
    named Spark catalog is configured to an Iceberg implementation."""
    try:
        jvm = spark.sparkContext._jvm
        # classpath probe — raises unless iceberg-spark-runtime is present
        jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
    except Exception:
        return False
    impl = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
    return bool(impl and "iceberg" in impl.lower())


def open_table(spark: SparkSession, root: str, name: str,
               catalog: str = DEFAULT_CATALOG):
    """The engine's table factory: a real Iceberg table when the runtime
    is present, the jar-free manifest table otherwise. Both expose the
    surface encode/decode/checkpoint code uses."""
    if iceberg_available(spark, catalog):
        return IcebergBlocksTable(spark, f"{catalog}.{name}")
    return ManifestTable(root, name)


class IcebergBlocksTable:
    """Blocks table on a real Iceberg catalog (requires the runtime jars;
    see module docstring — the jar-free twin is ``ManifestTable``)."""

    def __init__(self, spark: SparkSession, identifier: str):
        self.spark = spark
        self.identifier = identifier

    # -- write side --------------------------------------------------
    def write_df(self, df: DataFrame, schema_ddl: str = "",
                 properties: dict | None = None, mode: str = "append",
                 partition_by: list[str] | None = None):
        writer = df.writeTo(self.identifier)
        if partition_by:
            from pyspark.sql import functions as F

            writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
        exists = self.spark.catalog.tableExists(self.identifier)
        if not exists:
            writer.createOrReplace()
        elif mode == "overwrite":
            # replace data, keep the table + its snapshot history (the
            # module-docstring contract): createOrReplace here would drop
            # time travel for every prior snapshot
            writer.overwritePartitions()
        else:
            writer.append()
        for k, v in (properties or {}).items():
            self.spark.sql(
                f"ALTER TABLE {self.identifier} SET TBLPROPERTIES "
                f"('{_prop_str(k)}' = '{_prop_str(v)}')")
        return self.current()

    def compact(self, spark: SparkSession, n_files: int):
        spark.sql(
            f"CALL {self.identifier.split('.')[0]}.system.rewrite_data_files"
            f"(table => '{self.identifier}')")
        return self.current()

    # -- read side ---------------------------------------------------
    def read(self, spark: SparkSession | None = None,
             snapshot_id: int | None = None,
             constraints: list | None = None) -> DataFrame:
        spark = spark or self.spark
        if snapshot_id is not None:
            df = (spark.read.option("snapshot-id", str(snapshot_id))
                  .table(self.identifier))
        else:
            df = spark.table(self.identifier)
        if constraints:
            for c in constraints:
                df = df.filter(c.to_column())
        return df

    def current(self):
        rows = (self.spark.sql(
            f"SELECT snapshot_id, parent_id FROM "
            f"{self.identifier}.snapshots ORDER BY committed_at DESC")
            .limit(1).collect())
        return rows[0] if rows else None
