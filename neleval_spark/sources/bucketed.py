"""Bucketed mention storage for exchange-free evaluation joins.

Every measure in the engine joins system against gold on
(docid, start, end, ...) — at 10^12 documents that is two full
shuffles per evaluation unless the tables are co-located.  Writing
both sides bucketed by ``docid`` (Spark ``bucketBy`` — the Iceberg
mapping is a ``bucket(n, docid)`` partition transform) lets every
downstream join or aggregation keyed on docid-prefixed keys reuse the
storage partitioning: the scan reports HashPartitioning(docid) and
EnsureRequirements inserts no Exchange on either side (pinned by
tests/test_bucketed.py against the executed plan).

Bucket count is a storage-time choice: pick ≈ (total size /
128 MB-256 MB) at write time; both sides must use the SAME count for
co-location.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_mentions_bucketed(df: DataFrame, table: str,
                            n_buckets: int = 8) -> None:
    """Persist a mentions DataFrame as a bucketed table (bucketed and
    sorted by docid), replacing any previous version."""
    import re
    import shutil
    from urllib.parse import urlparse

    # the stale-location cleanup below rmtree's <warehouse>/<table>,
    # so the name must be a plain identifier — anything else ('.'
    # qualification, '/', '..') would resolve outside the table's
    # directory
    if not re.fullmatch(r"[A-Za-z0-9_]+", table):
        raise ValueError(
            "table name must match [A-Za-z0-9_]+ (unqualified, no "
            "path separators): the stale-location cleanup resolves "
            f"<warehouse>/<table>, got {table!r}")
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # a fresh local session's in-memory catalog does not know tables a
    # previous session left in the warehouse dir — clear the location
    # too (local filesystems only; a real metastore handles this via
    # DROP TABLE alone)
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir"))
    if wh.scheme in ("", "file"):
        shutil.rmtree(f"{wh.path}/{table.lower()}", ignore_errors=True)
    # repartition(n, docid) uses the same murmur3-pmod-n placement as
    # bucketBy(n, docid), so each writer task holds exactly one
    # bucket's rows -> one file per bucket.  Without it every
    # upstream task opens a file per bucket it touches (P x n files
    # — the same small-files explosion fixed in
    # pipeline/triples.write_triples; see docs/PLANS.md merge probe).
    (df.repartition(n_buckets, "docid")
     .write.bucketBy(n_buckets, "docid").sortBy("docid")
     .format("parquet").mode("overwrite").saveAsTable(table))
