"""The table half of ``analytics_churn``: writes beside reads on one
manifest table.

Set-up seeds the table through ``manifest_table.upsert``.  Each pass
then runs, in order: Zipf-skewed ``upsert`` batches (~70% updates, ~30%
inserts) with point-key ``snapshot`` reads after each, one small
``delete_keys`` batch and more point reads, one range-scan aggregate, a
``table_changes`` read since the previous pass's version, an
``availableNow`` drain of ``read_table_feed``, and one ``compact_table``.
It exercises sources/ and streaming/.

Correctness: an in-memory model applies the same upserts and deletes.
Every point read, the range aggregate, the change-feed and stream row
counts, and the final snapshot are compared with it.
"""

from __future__ import annotations

import os
from collections import Counter
from decimal import Decimal

import pyarrow as pa

from . import gen
from .harness import Op

SIZES = {
    "full": dict(n_seed=5_000, upserts=1, upsert_rows=100, delete_rows=10, point_reads=2),
    "tiny": dict(n_seed=500, upserts=1, upsert_rows=20, delete_rows=5, point_reads=1),
}

KEY = "o_orderkey"
SCHEMA = "o_orderkey bigint, o_custkey bigint, o_orderstatus string, o_totalprice double, o_orderpriority string"


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(base, f)) for base, _d, files in os.walk(path) for f in files
    )


class Churn:
    def __init__(self, ctx):
        self.ctx = ctx
        self.cfg = SIZES[ctx.size]
        self.table = os.path.join(ctx.work, "churn", "orders")
        self.model: dict[int, tuple] = {}
        self.pending = Counter()  # change rows committed since the last changes read
        self.unfed = Counter()  # ... since the last feed drain
        self.counters: dict[int, Counter] = {}

    # -- helpers -------------------------------------------------------------

    def _df(self, rows):
        from anglerfish_spark.localdata import local_df

        return local_df(self.ctx.spark, rows, SCHEMA)

    def _version(self) -> int:
        from anglerfish_spark.sources.manifest_table import current_version

        return current_version(self.table)

    def _count(self, key: str, n: float = 1) -> None:
        self.counters.setdefault(self.ctx.pass_no, Counter())[key] += n

    def _log_change(self, kind: str, n: int) -> None:
        self.pending[kind] += n
        self.unfed[kind] += n

    def _files(self) -> set[str]:
        from anglerfish_spark.sources.manifest_table import read_manifest

        return set(read_manifest(self.table)["files"])

    def _write(self, span: str, fn, user_bytes: int) -> None:
        """Run a committing call; count files it replaced and bytes it wrote."""
        from anglerfish_spark.sources.manifest_table import delete_groups, read_manifest

        before, size0 = self._files(), _du(self.table)
        with self.ctx.tracer.span(span):
            fn()
        m = read_manifest(self.table)
        self._count("files_rewritten", len(before - set(m["files"])))
        self._count("bytes_written", _du(self.table) - size0)
        self._count("user_bytes", user_bytes)
        c = self.counters[self.ctx.pass_no]
        c["delete_groups"] = max(c["delete_groups"], len(delete_groups(m)))

    # -- set-up --------------------------------------------------------------

    def generate(self) -> str:
        """The seed rows and the op stream; no Spark."""
        c = self.cfg
        self.stream = gen.ChurnStream(self.ctx.seed, c["n_seed"], c["upsert_rows"], c["delete_rows"])
        self.model = {r[0]: r for r in self.stream.seed_rows}
        return gen.digest(self.stream.seed_rows)

    def load(self) -> None:
        """Seed the table through the engine's upsert."""
        from anglerfish_spark.sources.manifest_table import upsert

        os.makedirs(self.table, exist_ok=True)
        upsert(self.ctx.spark, self.table, self._df(self.stream.seed_rows), [KEY])
        self.changes_from = self._version()
        self.ckpt = os.path.join(self.ctx.work, "churn", "feed_ckpt")
        # the feed consumer starts at the seeded version: rows after it
        self.feed_from = self.changes_from

    # -- ops -----------------------------------------------------------------

    def ops(self) -> list[Op]:
        c = self.cfg
        reads = [Op("snapshot_point", self.snapshot_point, "read")] * c["point_reads"]
        ops = []
        for _ in range(c["upserts"]):
            ops += [Op("upsert", self.upsert, "write"), *reads]
        ops += [
            Op("delete_keys", self.delete_keys),
            *reads,
            Op("snapshot_range", self.snapshot_range),
            Op("table_changes", self.table_changes),
            Op("feed_drain", self.feed_drain),
        ]
        ops.append(Op("compact_table", self.compact))
        return ops

    def upsert(self) -> int:
        from anglerfish_spark.sources.manifest_table import upsert

        rows = self.stream.upsert_batch()
        df = self._df(rows)
        self._write("sources.upsert", lambda: upsert(self.ctx.spark, self.table, df, [KEY]),
                    pa.Table.from_pylist([dict(zip(gen.CHURN_COLS, r)) for r in rows]).nbytes)
        for r in rows:
            if r[0] in self.model:
                self._log_change("delete", 1)
            self._log_change("insert", 1)
            self.model[r[0]] = r
        return len(rows)

    def delete_keys(self) -> int:
        from anglerfish_spark.localdata import local_df
        from anglerfish_spark.sources.manifest_table import delete_keys

        keys = self.stream.delete_batch()
        kdf = local_df(self.ctx.spark, [(k,) for k in keys], f"{KEY} bigint")
        self._write("sources.delete", lambda: delete_keys(self.ctx.spark, self.table, KEY, kdf), 8 * len(keys))
        for k in keys:
            if self.model.pop(k, None) is not None:
                self._log_change("delete", 1)
        return len(keys)

    def compact(self) -> int:
        from anglerfish_spark.sources.manifest_table import compact_table

        self._write("sources.compact", lambda: compact_table(self.ctx.spark, self.table), 0)
        return len(self.model)

    def _snapshot(self):
        from anglerfish_spark.sources.manifest_table import manifest_total_files, read_manifest, snapshot

        with self.ctx.tracer.span("sources.snapshot"):
            df = snapshot(self.ctx.spark, self.table)
        self._count("files_scanned", manifest_total_files(read_manifest(self.table)))
        return df

    def snapshot_point(self) -> int:
        from pyspark.sql import functions as F

        (k,) = self.stream.point_keys(1)
        got = [tuple(r) for r in self.ctx.run_df(self._snapshot().where(F.col(KEY) == k))]
        self.ctx.check(f"point read of key {k}", got, [self.model[k]])
        return 1

    def snapshot_range(self) -> int:
        from pyspark.sql import functions as F

        lo = self.stream.point_keys(1)[0]
        hi = lo + 2_000
        agg = self._snapshot().where(F.col(KEY).between(lo, hi)).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(38,2)")).alias("s"),
        )
        row = self.ctx.run_df(agg)[0]
        live = [r for k, r in self.model.items() if lo <= k <= hi]
        want = (len(live), sum((Decimal(str(r[3])) for r in live), Decimal("0.00")) if live else None)
        self.ctx.check(f"range [{lo}, {hi}] count and sum", (row["n"], row["s"]), want)
        return len(live)

    def table_changes(self) -> int:
        from pyspark.sql import functions as F

        from anglerfish_spark.sources.read_path import table_changes

        v = self._version()
        with self.ctx.tracer.span("sources.changes"):
            feed, _mode = table_changes(self.ctx.spark, self.table, from_version=self.changes_from, to_version=v)
        got = Counter({r[0]: r[1] for r in self.ctx.run_df(feed.groupBy("_change_type").agg(F.count(F.lit(1))))})
        want, since = +self.pending, self.changes_from
        self.changes_from, self.pending = v, Counter()
        self.ctx.check(f"change rows since version {since}", got, want)
        return sum(got.values())

    def feed_drain(self) -> int:
        from pyspark.sql import functions as F

        from anglerfish_spark.streaming.table_feed import read_table_feed

        batches = Counter()

        def fold(batch, _epoch):
            batches["batches"] += 1
            for r in batch.groupBy("_change_type").agg(F.count(F.lit(1))).collect():
                batches[r[0]] += r[1]

        with self.ctx.tracer.span("streaming.drain"):
            q = (
                read_table_feed(self.ctx.spark, self.table, starting_version=self.feed_from)
                .writeStream.foreachBatch(fold)
                .option("checkpointLocation", self.ckpt)
                .trigger(availableNow=True)
                .start()
            )
            if not q.awaitTermination(120):
                q.stop()
                raise TimeoutError("feed drain did not finish in 120 s")
        n_batches = batches.pop("batches", 0)
        self._count("stream_batches", n_batches)
        self._count("stream_rows", sum(batches.values()))
        want, self.unfed = +self.unfed, Counter()
        self.ctx.check("feed rows by change type", +batches, want)
        return sum(batches.values())

    # -- end of run ----------------------------------------------------------

    def final_checks(self) -> list:
        try:
            got = sorted(tuple(r) for r in self._snapshot().collect())
            self.ctx.check("final snapshot", got, sorted(self.model.values()))
            return [("final snapshot", None)]
        except Exception as exc:  # noqa: BLE001 - counted as a failed check
            return [("final snapshot", exc)]

    def end_metrics(self) -> dict:
        live = pa.Table.from_pylist([dict(zip(gen.CHURN_COLS, r)) for r in self.model.values()])
        return {"stored_bytes_per_user_byte": _du(self.table) / live.nbytes}

    def layer_counters(self, pass_no: int) -> dict:
        c = self.counters.get(pass_no, Counter())
        return {
            "sources.files_rewritten": c["files_rewritten"],
            "sources.bytes_written": c["bytes_written"],
            "sources.write_amp": c["bytes_written"] / c["user_bytes"] if c["user_bytes"] else 0.0,
            "sources.delete_groups": c["delete_groups"],
            "sources.files_scanned": c["files_scanned"],
            "streaming.batches": c["stream_batches"],
            "streaming.rows": c["stream_rows"],
        }
