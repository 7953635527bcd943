"""The analytics half of ``analytics_churn``: registry queries, each
drained through a noop sink.

The tables are generated in set-up in the shape of the repository's sf
test data.  At this size the queries are bound by stage latency, so
driver construction, py4j round trips and job / stage counts set the
time: the part for driver-side and planning changes.  The seed also
rotates the query order each pass.

Correctness: each query's result in the (untimed) prebuild pass is
compared with DuckDB running the query's registered ``oracle`` SQL over
the same parquet files, computed once in set-up, with the repository's
own oracle comparison rules (columns by name, rows as a sorted
multiset).  Timed passes drain
into the noop sink; an error there fails the op.
"""

from __future__ import annotations

import datetime
import math
import os
import random
from decimal import Decimal

from . import gen
from .harness import GateFailed, Op

SIZES = {"full": 0.01, "tiny": 0.001}

#: query -> the tables it reads (rows of these count as its input rows):
#: an aggregation and a five-way join, two of the queries whose py4j
#: command counts ROADMAP item 2 tracks
QUERIES = {
    "q1_pricing_summary": ("lineitem",),
    "q_join_inner": ("orders", "lineitem", "customer", "nation", "region"),
}


def _norm(v):
    if v is None:
        return None
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    return v


def rowset(cols: list[str], rows: list) -> tuple:
    """Columns sorted by name, cells normalized, rows sorted: the form in
    which an engine result and an oracle result must be equal."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    out.sort(key=lambda r: tuple((x is None, str(type(x)), str(x)) for x in r))
    return tuple(sorted(cols)), tuple(out)


class Queries:
    def __init__(self, ctx):
        self.ctx = ctx
        self.sf_dir = os.path.join(ctx.work, "sf")
        self.rng = random.Random(f"analytics_mix/{ctx.seed}")

    def generate(self) -> str:
        """The tables and the oracle's results; no Spark."""
        import duckdb

        from anglerfish_spark.registry import all_queries

        os.makedirs(self.sf_dir, exist_ok=True)
        self.rows = gen.gen_tables(self.sf_dir, self.ctx.seed, SIZES[self.ctx.size])
        self.registry = all_queries()
        con = duckdb.connect()
        try:
            for t in self.rows:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')")
            self.want = {}
            for q in QUERIES:
                res = con.execute(self.registry[q].oracle)
                self.want[q] = rowset([d[0] for d in res.description], res.fetchall())
        finally:
            con.close()
        self.input_rows = {q: sum(self.rows[t] for t in ts) for q, ts in QUERIES.items()}
        self.user_bytes = sum(os.path.getsize(os.path.join(self.sf_dir, f"{t}.parquet")) for t in self.rows)
        return gen.file_digest([os.path.join(self.sf_dir, f"{t}.parquet") for t in self.rows])

    def load(self) -> None:
        pass

    def ops(self) -> list[Op]:
        names = list(QUERIES)
        k = self.rng.randrange(len(names))
        return [
            Op(q, self._op(q)) for q in names[k:] + names[:k]
        ]

    def _op(self, q: str):
        def run() -> int:
            with self.ctx.tracer.span("operators.construct"):
                df = self.registry[q].fn(self.ctx.spark, self.sf_dir)
            if self.ctx.pass_no < 0:
                self._check(q, df)
            else:
                self.ctx.run_df(df, sink="noop")
            return self.input_rows[q]

        return run

    def _check(self, q: str, df) -> None:
        got = rowset(list(df.columns), [tuple(r) for r in self.ctx.run_df(df)])
        if got != self.want[q]:
            raise GateFailed(f"{q}: result differs from the DuckDB oracle ({len(got[1])} vs {len(self.want[q][1])} rows)")
