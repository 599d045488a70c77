"""Seeded input generators.

Every row, late row, zero-date, NULL, I/U/D choice, key-recency skew and
query order comes from one ``random.Random(seed)`` stream per workload, so
the same seed writes byte-identical inputs.  The program under test only
ever sees the files written here.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

FMT = "%Y-%m-%d %H:%M:%S"
ZERO_DATE = "0000-00-00 00:00:00"     # MySQL zero-date, normalized to the sentinel
SENTINEL_DAY = "0001-01-01"
EPOCH0 = dt.datetime(2023, 1, 1)
TABLE_LIT = "`enexory`.`api_data_timeseries`"

SOURCE_SCHEMA = pa.schema([("id", pa.int64()), ("date_time", pa.string()),
                           ("value", pa.float64()), ("ts", pa.string())])


def _value(rng: random.Random, null_share: float) -> float | None:
    return None if rng.random() < null_share else round(rng.uniform(0, 500), 2)


# --------------------------------------------------------------- nightly_sync

class NightlySource:
    """The source table of ``sync``: ``id`` plus 19-char ``date_time``/``ts``
    strings plus ``value`` (about 2% NULL).  ``initial`` writes the snapshot
    (with zero-dates, so the sentinel-day path runs); ``night(n)`` appends
    one file holding day ``days0 + n`` plus late rows for the day before,
    which is the mirror's resume day when the night runs."""

    def __init__(self, seed: int, src_dir: str, *, days0: int, rows_per_day: int,
                 zero_dates: int, late_max: int, null_share: float = 0.02):
        self.rng = random.Random(seed)
        self.src_dir = src_dir
        self.days0 = days0
        self.rows_per_day = rows_per_day
        self.zero_dates = zero_dates
        self.late_max = late_max
        self.null_share = null_share
        self.next_id = 1
        os.makedirs(src_dir, exist_ok=True)

    def _row(self, day: int) -> tuple:
        rng = self.rng
        t = EPOCH0 + dt.timedelta(days=day, seconds=rng.randrange(86400))
        ts = t + dt.timedelta(seconds=rng.randrange(3600))
        row = (self.next_id, t.strftime(FMT), _value(rng, self.null_share),
               ts.strftime(FMT))
        self.next_id += 1
        return row

    def _write(self, name: str, rows: list[tuple]) -> list[tuple]:
        cols = list(zip(*rows))
        table = pa.Table.from_arrays([pa.array(c, type=f.type) for c, f
                                      in zip(cols, SOURCE_SCHEMA)],
                                     schema=SOURCE_SCHEMA)
        pq.write_table(table, os.path.join(self.src_dir, name))
        return rows

    def initial(self) -> list[tuple]:
        rows = [self._row(d) for d in range(self.days0)
                for _ in range(self.rows_per_day)]
        for _ in range(self.zero_dates):
            r = self._row(self.rng.randrange(self.days0))
            rows.append((r[0], ZERO_DATE, r[2], r[3]))
        return self._write("part-00000.parquet", rows)

    def night(self, n: int) -> list[tuple]:
        """Rows of night ``n`` (1-based): one new day plus late rows."""
        new_day = self.days0 + n - 1
        rows = [self._row(new_day) for _ in range(self.rows_per_day)]
        rows += [self._row(new_day - 1)
                 for _ in range(self.rng.randint(1, self.late_max))]
        return self._write(f"part-{n:05d}.parquet", rows)


def normalized_day(date_time: str) -> tuple[str, str]:
    """(normalized date_time, day) as the pipeline's normalize() sees a
    generated string: canonical strings pass, zero-dates become the sentinel."""
    if date_time == ZERO_DATE:
        return "0001-01-01 00:00:00", SENTINEL_DAY
    return date_time, date_time[:10]


# ------------------------------------------------------------------ cdc_merge

CHANGELOG_SCHEMA = pa.schema([("seq", pa.int64()), ("pk", pa.int64()),
                              ("op", pa.string()), ("date_time", pa.string()),
                              ("value", pa.float64()), ("ts_epoch", pa.int64()),
                              ("day", pa.string())])


class ChangeStream:
    """Keyed I/U/D traffic for one table.  Keys are ``(day, pk)`` and a pk
    never changes day.  Most events hit the ``hot_days`` newest days; each
    segment also carries ``cold_events`` events on as many distinct older
    days, so every segment rewrites the same number of partitions.  The
    newest day advances every ``ops_per_day`` segments."""

    def __init__(self, seed: int, *, days0: int, keys_per_day: int,
                 events_per_segment: int, hot_days: int, cold_events: int,
                 ops_per_day: int, null_share: float = 0.02):
        self.rng = random.Random(seed)
        self.days0 = days0
        self.keys_per_day = keys_per_day
        self.events = events_per_segment
        self.hot_days = hot_days
        self.cold_events = cold_events
        self.ops_per_day = ops_per_day
        self.null_share = null_share
        self.keys: dict[int, list[int]] = {}     # day index -> pks ever issued
        self.next_pk = 1

    def _payload(self, day: int) -> tuple[str, float | None, int]:
        t = EPOCH0 + dt.timedelta(days=day, seconds=self.rng.randrange(86400))
        epoch = int((t - dt.datetime(1970, 1, 1)).total_seconds())
        return t.strftime(FMT), _value(self.rng, self.null_share), epoch

    def _new_pk(self, day: int) -> int:
        pk = self.next_pk
        self.next_pk += 1
        self.keys.setdefault(day, []).append(pk)
        return pk

    def snapshot(self) -> list[tuple]:
        """Insert-only events ``(op, pk, date_time, value, ts_epoch)`` that
        build the initial mirror."""
        out = []
        for d in range(self.days0):
            for _ in range(self.keys_per_day):
                out.append(("I", self._new_pk(d), *self._payload(d)))
        return out

    def segment(self, n: int) -> list[tuple]:
        """Events of segment ``n`` (1-based) as ``(op, pk, date_time, value,
        ts_epoch)`` in commit order."""
        rng = self.rng
        newest = self.days0 - 1 + n // self.ops_per_day
        cold = rng.sample(range(newest - self.hot_days + 1), self.cold_events)
        days = cold + [newest - rng.randrange(self.hot_days)
                       for _ in range(self.events - self.cold_events)]
        rng.shuffle(days)
        out = []
        for day in days:
            pool = self.keys.get(day, [])
            r = rng.random()
            if r < 0.30 or not pool:
                op, pk = "I", self._new_pk(day)
            elif r < 0.35:
                op, pk = "I", rng.choice(pool)     # insert over a live key: upsert
            elif r < 0.85:
                op, pk = "U", rng.choice(pool)     # may target a deleted key: no-op
            else:
                op, pk = "D", rng.choice(pool)
            out.append((op, pk, *self._payload(day)))
        return out


def write_changelog(path: str, events: list[tuple], seq0: int) -> None:
    """One changelog segment in ``streaming.cdc_stream.CHANGELOG_SCHEMA``'s
    shape; ``seq`` numbers the events in commit order from ``seq0``."""
    op, pk, dtm, val, ep = (list(c) for c in zip(*events))
    cols = [list(range(seq0, seq0 + len(events))), pk, op, dtm, val, ep,
            [d[:10] for d in dtm]]
    pq.write_table(pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, CHANGELOG_SCHEMA)],
        schema=CHANGELOG_SCHEMA), path)


def render_segment(events: list[tuple]) -> str:
    """mysqlbinlog pseudo-SQL in ``operators.binlog.render_binlog_text``'s
    format: UPDATE blocks carry a stale WHERE image before the SET image."""
    lines = []
    for op, pk, dtm, val, ep in events:
        img = [f"@1={pk}", "@2=0", f"@3='{dtm}'",
               f"@4={'NULL' if val is None else repr(val)}", "@5=0", f"@6={ep}"]
        if op == "I":
            lines += [f"INSERT INTO {TABLE_LIT}", "SET", *img]
        elif op == "U":
            lines += [f"UPDATE {TABLE_LIT}", "WHERE", f"@1={pk}", "@2=0",
                      "@3='0001-01-01 00:00:00'", "@4=-999999.0", "@5=0",
                      "@6=0", "SET", *img]
        else:
            lines += [f"DELETE FROM {TABLE_LIT}", "WHERE", *img]
    return "\n".join(lines) + "\n"


# ---------------------------------------------------------------- query_sweep

_VOCAB = ("the a fast slow key order sort table scan merge part window small "
          "big hash join batch stream spark dup group query row data filter "
          "customer line value column agg vector").split()
_PART_WORDS = ("cold hot small large red blue green steel copper brass "
               "widget bolt gear spring valve lever").split()


def _ts_col(values: list[dt.datetime]) -> pa.Array:
    return pa.array(values, type=pa.timestamp("us"))


def write_fixtures(seed: int, out_dir: str, *, scale: float) -> dict[str, int]:
    """The ten canonical tables in the shape the declared queries read
    (FIXTURES.md), ``scale`` = lineitem rows / 6,000,000 like TPC-H's sf.
    Returns rows per table."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(20, int(150_000 * scale))
    n_supp = max(5, int(10_000 * scale))
    n_part = max(20, int(200_000 * scale))
    n_ord = max(50, int(1_500_000 * scale))
    n_line = max(200, int(6_000_000 * scale))
    n_events = max(200, int(1_000_000 * scale))
    n_users = max(10, int(15_000 * scale))
    n_docs = 200
    n_vecs = 200
    d0 = dt.datetime(1995, 1, 1)

    def money(lo, hi):
        return round(rng.uniform(lo, hi), 2)

    tables = {
        "region": {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        "nation": {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())},
        "customer": {
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array([rng.randrange(25) for _ in range(n_cust)], pa.int32()),
            "c_acctbal": [money(-999.99, 9999.99) for _ in range(n_cust)],
            "c_mktsegment": [rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                         "HOUSEHOLD", "MACHINERY"]) for _ in range(n_cust)]},
        "supplier": {
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array([rng.randrange(25) for _ in range(n_supp)], pa.int32()),
            "s_acctbal": [money(-999.99, 9999.99) for _ in range(n_supp)]},
        "part": {
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": [f"{rng.choice(_PART_WORDS[:10])} {rng.choice(_PART_WORDS[10:])}"
                       for _ in range(n_part)],
            "p_brand": [f"Brand#{rng.randint(1, 25)}" for _ in range(n_part)],
            "p_type": [rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                                   "STANDARD"]) for _ in range(n_part)],
            "p_size": pa.array([rng.randint(1, 50) for _ in range(n_part)], pa.int32()),
            "p_retailprice": [round(900 + (i % 1000) / 10, 2) for i in range(n_part)]},
        "orders": {
            "o_orderkey": pa.array(range(n_ord), pa.int64()),
            "o_custkey": pa.array([rng.randrange(n_cust) for _ in range(n_ord)], pa.int64()),
            "o_orderstatus": [rng.choice("FOP") for _ in range(n_ord)],
            "o_totalprice": [money(1000, 500000) for _ in range(n_ord)],
            "o_orderdate": _ts_col([d0 + dt.timedelta(days=rng.randrange(2400))
                                    for _ in range(n_ord)]),
            "o_orderpriority": [rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                            "4-NOT SPECIFIED", "5-LOW"])
                                for _ in range(n_ord)]},
    }
    li: dict[str, list] = {k: [] for k in (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate")}
    orderkey, line = 0, 0
    for _ in range(n_line):
        line += 1
        if line > rng.randint(1, 7):
            orderkey, line = rng.randrange(n_ord), 1
        qty = float(rng.randint(1, 50))
        li["l_orderkey"].append(orderkey)
        li["l_partkey"].append(rng.randrange(n_part))
        li["l_suppkey"].append(rng.randrange(n_supp))
        li["l_linenumber"].append(line)
        li["l_quantity"].append(qty)
        li["l_extendedprice"].append(round(qty * rng.uniform(900, 2100), 2))
        li["l_discount"].append(rng.randint(0, 10) / 100)
        li["l_tax"].append(rng.randint(0, 8) / 100)
        li["l_returnflag"].append(rng.choice("ANR"))
        li["l_linestatus"].append(rng.choice("FO"))
        li["l_shipdate"].append(d0 + dt.timedelta(days=rng.randrange(2500)))
    tables["lineitem"] = {**li,
                          "l_linenumber": pa.array(li["l_linenumber"], pa.int32()),
                          "l_shipdate": _ts_col(li["l_shipdate"])}
    e0 = dt.datetime(2024, 1, 1)
    span = 30 * 86400 * 1_000_000
    ev_ts = sorted(e0 + dt.timedelta(microseconds=rng.randrange(span))
                   for _ in range(n_events))
    tables["events"] = {
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": _ts_col(ev_ts),
        "user_id": pa.array([rng.randrange(n_users) for _ in range(n_events)], pa.int64()),
        "event_type": [rng.choice(["click", "error", "purchase", "signup", "view"])
                       for _ in range(n_events)],
        "value": [round(rng.uniform(0.01, 490), 2) for _ in range(n_events)],
        "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(n_events)]}
    texts = [" ".join(rng.choice(_VOCAB) for _ in range(rng.randint(8, 90)))
             for _ in range(n_docs)]
    tables["documents"] = {
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [rng.choice(["de", "en", "es", "fr", "zh"]) for _ in range(n_docs)],
        "source": [f"src{rng.randrange(20)}" for _ in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}
    vecs = []
    for _ in range(n_vecs):
        v = [rng.gauss(0, 1) for _ in range(64)]
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append([x / norm for x in v])
    tables["embeddings"] = {
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array([rng.randrange(10) for _ in range(n_vecs)], pa.int32())}
    counts = {}
    for name, cols in tables.items():
        table = pa.table(cols)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
