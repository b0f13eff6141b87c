"""Iceberg table integration (north rule: postings/dicts/stats live in
Iceberg tables; the stats table's snapshot id is the IDF-cache
generation, the analogue of the reference's ``get_gen_num`` counter —
/root/reference/src/vectorizer/corpus/mod.rs:95-99 consumed by the lazy
IDF refresh at src/vectorizer/mod.rs:95-107).

This sandbox ships no iceberg-spark-runtime jar, so everything here is
availability-gated: ``iceberg_available(spark)`` probes the classpath,
the engine falls back to the parquet directory layout everywhere, and
``tests/test_iceberg.py`` skips cleanly.  With the jar on the classpath
(``spark.jars.packages=org.apache.iceberg:iceberg-spark-runtime-...``)
the same calls publish and serve the index out of a real catalog:

  * ``configure_iceberg(builder, warehouse)`` — session wiring
    (SQL extensions + a hadoop-type SparkCatalog named ``local``);
  * ``publish_index(spark, index_dir, namespace)`` — mirror a built
    index's tables into the catalog via ``writeTo``: postings
    partitioned by (salt, bucket), with the bucket computed from the
    term id at publish (the parquet postings do not store it),
    dictionaries unpartitioned, meta as a 1-row table;
  * ``read_table`` / ``snapshot_id`` — serve tables back and expose the
    per-table snapshot for cache invalidation and time travel;
  * checkpoint-resume maps onto Iceberg snapshots: each salt commit is
    one append, and the manifest table rows carry the same lineage the
    parquet layout keeps under ``manifest/``.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CATALOG = "local"


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime is on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[attr-defined]
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def configure_iceberg(builder, warehouse: str, catalog: str = CATALOG):
    """Add Iceberg extensions + a hadoop-type catalog to a session
    builder (composes with session.get_spark's builder)."""
    return (
        builder.config(
            "spark.sql.extensions",
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
        )
        .config(f"spark.sql.catalog.{catalog}", "org.apache.iceberg.spark.SparkCatalog")
        .config(f"spark.sql.catalog.{catalog}.type", "hadoop")
        .config(f"spark.sql.catalog.{catalog}.warehouse", warehouse)
    )


def _ident(namespace: str, name: str, catalog: str = CATALOG) -> str:
    return f"{catalog}.{namespace}.{name}"


def postings_frame(spark: SparkSession, index_dir: str, meta: dict) -> DataFrame:
    """The COMMITTED posting rows of a parquet index (the generation
    watermark excludes orphans of a crashed incremental batch), read
    through the live dir the meta commit pointer names, with the
    ``bucket`` the catalog table partitions on:
    ``pmod(term_id, meta["term_buckets"])``."""
    from tf_idf_vectorizer_spark.ioutil import table_path
    from tf_idf_vectorizer_spark.operators.tables import POSTINGS_FILE_SCHEMA

    return spark.read.schema(POSTINGS_FILE_SCHEMA).parquet(
        table_path(index_dir, meta, "postings")
    ).filter(F.col("gen") <= int(meta.get("generation", 0))).withColumn(
        "bucket",
        F.pmod(F.col("term_id"), F.lit(int(meta["term_buckets"]))).cast("int"),
    )


def publish_index(
    spark: SparkSession,
    index_dir: str,
    namespace: str,
    catalog: str = CATALOG,
) -> dict:
    """Mirror a built parquet index into Iceberg tables.  Returns
    {table_name: snapshot_id}.  Postings are partitioned by (salt,
    bucket) so Iceberg partition pruning reproduces the parquet
    directory/row-group pruning the query path relies on."""
    if not iceberg_available(spark):
        raise RuntimeError(
            "iceberg-spark-runtime is not on the classpath; the parquet "
            "layout under the index dir remains the storage fallback"
        )
    from tf_idf_vectorizer_spark.ioutil import table_path
    from tf_idf_vectorizer_spark.operators.tables import read_term_dict

    with open(f"{index_dir}/meta.json") as fh:
        meta = json.load(fh)
    spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {catalog}.{namespace}")
    snaps: dict = {}
    (
        postings_frame(spark, index_dir, meta)
        .writeTo(_ident(namespace, "postings", catalog))
        .partitionedBy(F.col("salt"), F.col("bucket"))
        .createOrReplace()
    )
    for name in ("doc_dict", "term_dict"):
        df = spark.read.parquet(table_path(index_dir, meta, name))
        if name == "term_dict":
            # catalog readers outside Spark join postings on term_id;
            # an index with derived hash ids does not store it
            df = read_term_dict(df)
        df.writeTo(_ident(namespace, name, catalog)).createOrReplace()
    spark.read.parquet(f"{index_dir}/manifest").writeTo(
        _ident(namespace, "manifest", catalog)
    ).createOrReplace()
    meta_df = spark.createDataFrame([(json.dumps(meta),)], "meta string")
    meta_df.writeTo(_ident(namespace, "meta", catalog)).createOrReplace()
    for name in ("postings", "doc_dict", "term_dict", "manifest", "meta"):
        snaps[name] = snapshot_id(spark, namespace, name, catalog)
    return snaps


def read_table(
    spark: SparkSession, namespace: str, name: str, catalog: str = CATALOG
) -> DataFrame:
    return spark.table(_ident(namespace, name, catalog))


def snapshot_id(
    spark: SparkSession, namespace: str, name: str, catalog: str = CATALOG
) -> int | None:
    """Latest snapshot id of a table — the stats-version scalar the
    query layer compares to decide whether to rebroadcast IDF
    (reference gen-counter idiom, corpus/mod.rs:95-99)."""
    rows = (
        spark.sql(f"SELECT snapshot_id FROM {_ident(namespace, name, catalog)}.snapshots "
                  f"ORDER BY committed_at DESC LIMIT 1")
        .collect()
    )
    return int(rows[0][0]) if rows else None


def stats_generation(spark: SparkSession, namespace: str, catalog: str = CATALOG) -> int | None:
    """Generation counter for IDF-cache invalidation = the term_dict
    (stats) table's current snapshot id."""
    return snapshot_id(spark, namespace, "term_dict", catalog)
