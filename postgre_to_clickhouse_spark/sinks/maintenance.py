"""Bucketed table layout for shuffle-free joins (SURVEY.md §7.4).

:func:`write_bucketed` persists a table bucketed by a join key so
repeated large-large joins (lineitem⋈orders on orderkey) read
co-partitioned data and skip the shuffle entirely — verified by plan
assertion in tests/test_scale_layouts.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 8,
    sort_col: str | None = None,
) -> None:
    """Persist as a bucketed managed table (requires a warehouse dir).

    Both sides of a recurring join bucketed on the key with the same
    bucket count → SortMergeJoin without Exchange on either side.
    """
    writer = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table_name)
