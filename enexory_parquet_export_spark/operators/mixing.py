"""Mixture / quota selection operators for multi-source corpora.

The alpha-mixing recipe (sample each source proportional to n^alpha —
GPT-3 / XLM-R style) ends in a per-source QUOTA SELECTION: take the
``quota_s`` documents of source *s* that sort first in a deterministic
uniform hash order.  x106 (``queries_ext``) declares the exact form;
this module holds the selection step as a standalone operator:
``row_number`` over ``(portable_hash, key)`` per source, keep
``rn <= quota``.

One corpus exchange partitioned by source.  At cluster scale a hot
source (they are Zipf — one source is often half the corpus) becomes
ONE window partition with no skew remedy: its per-task memory and time
grow linearly with the hottest source.  Locally the single-task sort
of even a corpus-sized window partition is cheap (1.5M docs /
20 sources: 1.0 s on local[32], 2.0 s when all rows are one source).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import portable_hash60

__all__ = ["quota_select"]


def quota_select(docs: DataFrame, quota: DataFrame, *,
                 key_col: str = "doc_id",
                 source_col: str = "source") -> DataFrame:
    """Rows of ``docs`` selected per-source by deterministic hash order.

    ``quota`` carries one row per source: ``(source_col, n, quota)``
    with ``n`` the source's doc count (the x106 apportionment output).
    Returns the selected ``docs`` rows joined with the quota columns;
    a source receives ``min(quota, n)`` rows.
    """
    h = portable_hash60(F.col(key_col).cast("string"))
    joined = (docs.join(F.broadcast(quota), source_col)
                  .withColumn("_h", h))
    w = Window.partitionBy(source_col).orderBy("_h", key_col)
    return (joined.withColumn("_rn", F.row_number().over(w))
                  .filter(F.col("_rn") <= F.col("quota"))
                  .drop("_rn", "_h"))
