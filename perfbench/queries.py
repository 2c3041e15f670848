"""The four selective-read shapes, run through both read front doors and
checked against answers duckdb computes from the generated input.

Shapes (and the pruning each one exercises):

* ``url_eq``: url equality, the bloom filter;
* ``host_prefix``: a url host prefix, string zone maps;
* ``ts_range``: a one-hour ``warc_ts`` range, numeric zone maps;
* ``lang_agg``: an aggregate over ``lang`` only, column pruning.

Front doors: ``sqlfront.sql`` over ``engine.register_decoded_view(
pushdown=True)`` and ``engine.decode_table(columns=..., zone_filter=...)``.
"""

from __future__ import annotations

import datetime
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc

SHAPES = ("url_eq", "host_prefix", "ts_range", "lang_agg")
DOORS = ("sqlfront", "decode_table")
VIEW = "pages"
HOUR_US = 3_600_000_000


@dataclass(frozen=True)
class Query:
    shape: str
    door: str
    arg: tuple = ()

    def describe(self) -> str:
        return f"{self.shape}/{self.door}{list(self.arg)}"


def utc(us: int) -> datetime.datetime:
    return (datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
            + datetime.timedelta(microseconds=us))


def _sql_ts(us: int) -> str:
    return utc(us).strftime("%Y-%m-%d %H:%M:%S.%f")


class Oracle:
    """Expected answers from the generated rows, kept in duckdb."""

    def __init__(self, base: pa.Table):
        import duckdb
        self.con = duckdb.connect()
        self.con.execute("SET threads = 1")
        self.con.execute("CREATE TABLE pages (url VARCHAR, ts BIGINT, "
                         "lang VARCHAR, text_len BIGINT, html_len BIGINT)")
        self.add(base)

    @staticmethod
    def _rows(tbl: pa.Table) -> pa.Table:
        return pa.table({
            "url": tbl.column("url"),
            "ts": tbl.column("warc_ts").cast(pa.int64()),
            "lang": tbl.column("lang"),
            "text_len": pc.binary_length(tbl.column("text")).cast(pa.int64()),
            "html_len": pc.binary_length(tbl.column("html")).cast(pa.int64()),
        })

    def add(self, tbl: pa.Table) -> None:
        rows = self._rows(tbl)  # noqa: F841  (read by duckdb by name)
        self.con.execute("INSERT INTO pages SELECT * FROM rows")

    def expected(self, q: Query) -> list[tuple]:
        sql, params = {
            "url_eq": ("SELECT url, ts, lang, html_len FROM pages "
                       "WHERE url = ?", list(q.arg)),
            "host_prefix": ("SELECT count(*), sum(text_len) FROM pages "
                            "WHERE starts_with(url, ?)", list(q.arg)),
            "ts_range": ("SELECT count(*), sum(text_len) FROM pages "
                         "WHERE ts >= ? AND ts < ?", list(q.arg)),
            "lang_agg": ("SELECT lang, count(*) FROM pages GROUP BY lang",
                         []),
        }[q.shape]
        return normalize(self.con.execute(sql, params).fetchall())

    def close(self) -> None:
        self.con.close()


def normalize(rows) -> list[tuple]:
    """Rows as plain tuples in a fixed order (Spark and duckdb both
    return Python ints and strings for these columns)."""
    return sorted((tuple(r) for r in rows), key=repr)


class QueryMix:
    """A fixed, seeded stream of query parameters drawn from the rows."""

    def __init__(self, base: pa.Table, seed: int):
        self.rng = random.Random(seed)
        self.urls = base.column("url").to_pylist()
        ts = base.column("warc_ts").cast(pa.int64())
        self.ts_lo = pc.min(ts).as_py()
        self.hours = max(1, (pc.max(ts).as_py() - self.ts_lo) // HOUR_US)

    def make(self, shape: str, door: str) -> Query:
        rng = self.rng
        if shape == "url_eq":
            url = rng.choice(self.urls)
            if rng.random() < 0.25:
                url += "-absent"        # every chunk's bloom rejects it
            return Query(shape, door, (url,))
        if shape == "host_prefix":
            host = rng.choice(self.urls).split("/", 3)[2]
            return Query(shape, door, (f"https://{host}/",))
        if shape == "ts_range":
            lo = self.ts_lo + rng.randrange(self.hours) * HOUR_US
            return Query(shape, door, (lo, lo + HOUR_US))
        return Query(shape, door)


_SQL = {
    "url_eq": ("SELECT url, unix_micros(warc_ts), lang, octet_length(html) "
               f"FROM {VIEW} WHERE url = '{{}}'"),
    "host_prefix": ("SELECT count(*), sum(octet_length(text)) FROM "
                    f"{VIEW} WHERE url LIKE '{{}}%'"),
    "ts_range": ("SELECT count(*), sum(octet_length(text)) FROM "
                 f"{VIEW} WHERE warc_ts >= TIMESTAMP '{{}}' AND "
                 "warc_ts < TIMESTAMP '{}'"),
    "lang_agg": f"SELECT lang, count(*) FROM {VIEW} GROUP BY lang",
}


def sql_text(q: Query) -> str:
    args = [_sql_ts(a) for a in q.arg] if q.shape == "ts_range" \
        else list(q.arg)
    return _SQL[q.shape].format(*args)


def query_df(spark, store: str, q: Query):
    """Plan ``q`` through its front door, over the store or the view
    registered over it.  The caller collects (executes) the result."""
    from pyspark.sql import functions as F
    if q.door == "sqlfront":
        from dumpster import sqlfront
        return sqlfront.sql(spark, sql_text(q))

    from dumpster.engine import decode_table
    if q.shape == "url_eq":
        (url,) = q.arg
        df = decode_table(spark, store, columns=["url", "warc_ts", "lang",
                                                 "html"],
                          zone_filter=("url", url, url))
        df = df.filter(F.col("url") == url).select(
            "url", F.unix_micros("warc_ts"), "lang", F.octet_length("html"))
    elif q.shape == "host_prefix":
        (prefix,) = q.arg
        hi = prefix[:-1] + chr(ord(prefix[-1]) + 1)
        df = decode_table(spark, store, columns=["url", "text"],
                          zone_filter=("url", prefix, hi))
        df = df.filter(F.col("url").startswith(prefix)).agg(
            F.count(F.lit(1)), F.sum(F.octet_length("text")))
    elif q.shape == "ts_range":
        lo, hi = q.arg
        df = decode_table(spark, store, columns=["warc_ts", "text"],
                          zone_filter=("warc_ts", utc(lo), utc(hi)))
        ts = F.unix_micros("warc_ts")
        df = df.filter((ts >= lo) & (ts < hi)).agg(
            F.count(F.lit(1)), F.sum(F.octet_length("text")))
    else:
        df = decode_table(spark, store, columns=["lang"]) \
            .groupBy("lang").count()
    return df
