"""JDBC source option contract (O1, Parquet Export/db_extractor.py).

No JDBC driver jar ships in this container, so the wire read itself
cannot run here; what IS testable — and what production depends on —
is the option contract: the 1M fetchsize chunk analog and the pushdown
flags.
"""

from __future__ import annotations

from enexory_parquet_export_spark.sources.tables import (
    JDBC_FETCH_SIZE,
    SOURCE_COLS,
    jdbc_scan_options,
)


def test_fetchsize_matches_reference_chunk_size():
    # db_extractor.py:13 CHUNK_SIZE = 1_000_000
    assert JDBC_FETCH_SIZE == 1_000_000
    opts = jdbc_scan_options("jdbc:mysql://h/enexory", "api_data_timeseries")
    assert opts["fetchsize"] == "1000000"
    assert opts["url"] == "jdbc:mysql://h/enexory"
    assert opts["dbtable"] == "api_data_timeseries"


def test_pushdown_flags_on_and_driver_passthrough():
    opts = jdbc_scan_options("jdbc:mysql://h/db", "t",
                             driver="com.mysql.cj.jdbc.Driver",
                             extra={"sessionInitStatement": "SET x=1"})
    assert opts["pushDownPredicate"] == "true"
    assert opts["pushDownAggregate"] == "true"
    assert opts["driver"] == "com.mysql.cj.jdbc.Driver"
    assert opts["sessionInitStatement"] == "SET x=1"


def test_source_projection_is_reference_column_list():
    # db_extractor.py:225-226: SELECT id, date_time, value, ts
    assert SOURCE_COLS == ("id", "date_time", "value", "ts")
