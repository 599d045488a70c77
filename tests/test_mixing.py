"""quota_select: exact per-source mixture selection in hash order
(x106's selection step)."""

from __future__ import annotations

from pyspark.sql import functions as F

from enexory_parquet_export_spark.operators.mixing import quota_select
from enexory_parquet_export_spark.sources.tables import load_table


def _fixture(spark):
    """Skewed three-source corpus with a deterministic key space."""
    rows = []
    for i in range(600):
        rows.append((i, "web"))          # head source
    for i in range(600, 750):
        rows.append((i, "books"))        # mid source
    for i in range(750, 780):
        rows.append((i, "code"))         # tail source
    docs = spark.createDataFrame(rows, "doc_id bigint, source string")
    quota = spark.createDataFrame(
        [("web", 600, 120), ("books", 150, 75), ("code", 30, 40)],
        "source string, n bigint, quota bigint")   # code: quota > n
    return docs, quota


def test_exact_mode_counts_and_determinism(spark):
    docs, quota = _fixture(spark)
    sel = quota_select(docs, quota)
    counts = {r["source"]: r["cnt"] for r in
              sel.groupBy("source").agg(F.count("*").alias("cnt")).collect()}
    # selects exactly min(quota, n) per source
    assert counts == {"web": 120, "books": 75, "code": 30}
    again = sorted(r["doc_id"] for r in sel.collect())
    assert again == sorted(r["doc_id"] for r in
                           quota_select(docs, quota).collect())


def test_exact_mode_matches_x106_fixture(spark, sf_dir):
    """On the real documents fixture the operator must reproduce x106's n_selected per source (the declared semantics)."""
    from enexory_parquet_export_spark import queries_ext as qx

    out = {r["source"]: r for r in
           qx.SPARK_QUERIES["x106_source_mixing"](
               spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    quota = spark.createDataFrame(
        [(s, int(out[s]["n_docs"]), int(out[s]["quota"])) for s in out],
        "source string, n bigint, quota bigint")
    counts = {r["source"]: r["cnt"] for r in
              quota_select(docs, quota)
              .groupBy("source").agg(F.count("*").alias("cnt")).collect()}
    for s in out:
        assert counts.get(s, 0) == out[s]["n_selected"], s


# ---------------------------------------------------------------------------
# Property-based: on ANY corpus and ANY quota vector, quota_select
# selects exactly min(quota, n) docs per source.
# ---------------------------------------------------------------------------
from hypothesis import given, settings, strategies as st  # noqa: E402

_sources = st.lists(
    st.tuples(st.integers(min_value=1, max_value=120),      # n docs
              st.integers(min_value=0, max_value=150)),     # quota
    min_size=1, max_size=4)


@settings(max_examples=5, deadline=None, derandomize=True)
@given(_sources)
def test_quota_select_property(spark, sources):
    rows, quota_rows, next_id = [], [], 0
    for i, (n, q) in enumerate(sources):
        name = f"s{i}"
        for _ in range(n):
            rows.append((next_id, name))
            next_id += 1
        quota_rows.append((name, n, q))
    docs = spark.createDataFrame(rows, "doc_id bigint, source string")
    quota = spark.createDataFrame(quota_rows,
                                  "source string, n bigint, quota bigint")
    exact = {}
    for r in quota_select(docs, quota).collect():
        exact.setdefault(r["source"], set()).add(r["doc_id"])
    for name, n, q in quota_rows:
        assert len(exact.get(name, set())) == min(q, n), (name, n, q)
