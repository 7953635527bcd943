"""codec_ingest: the paper's core -- schema, codec, functions and the
Python worker, with no operators/ or manifest tables involved.

Ops per pass:

* ``schema_roundtrip`` -- ``parse_schema`` -> ``to_avsc`` ->
  ``to_struct_type`` -> ``from_struct_type`` over a seeded schema family;
* ``decode_topics`` -- strict ``decode_json`` of small per-topic frames
  (one per pass here), each under a schema string the process has not
  seen, so the decoder's construction is never served from its cache;
* ``decode_bulk_json`` -- strict decode of the big column under one hot
  schema (construction cached after the prebuild);
* ``decode_permissive`` -- a quarter of the column, with 1% of its rows
  malformed by the seed;
* ``decode_bulk_binary`` -- ``confluent_decode_registry_typed``, resolving
  three writer versions to the reader;
* ``encode_bulk_binary`` -- ``avro_encode_typed``.

Every decode is checked by an aggregate checksum over all decoded
fields against the generator's values; the encode by the length and
CRC32 sums of the produced bytes against an independent encoder.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

from . import gen
from .harness import Op

SIZES = {
    "full": dict(n_bulk=10_000, n_perm=2_500, n_topics=1, topic_rows=200, n_family=200),
    "tiny": dict(n_bulk=1_000, n_perm=500, n_topics=1, topic_rows=50, n_family=20),
}

#: schemas of the inputs that are not one JSON text column ``j``, given
#: to the reader so that loading the inputs runs no schema-inference job
READ_SCHEMAS = {
    "bin": "b binary",
    "typed": "v struct<id: bigint, customer: struct<name: string, tier: string, views: bigint>, "
    "items: array<struct<sku: string, qty: int>>, tags: map<string, string>, status: string, "
    "customer_ref: string, channel: string>",
}

#: the generator's order_checksum, as Spark SQL over a decoded struct ``v``
CHECKSUM_SQL = {
    "n": "count(v.id)",
    "id": "sum(v.id)",
    "name": "sum(crc32(v.customer.name))",
    "tier": "sum(crc32(v.customer.tier))",
    "views": "sum(v.customer.views)",
    "n_items": "sum(size(v.items))",
    "qty": "sum(aggregate(v.items, 0L, (a, x) -> a + x.qty))",
    "sku": "sum(aggregate(v.items, 0L, (a, x) -> a + crc32(x.sku)))",
    "n_tags": "sum(size(v.tags))",
    "tags": "sum(aggregate(map_entries(v.tags), 0L, (a, e) -> a + crc32(concat(e.key, '=', e.value))))",
    "n_note": "count(v.note)",
    "note": "sum(crc32(v.note))",
    "amount": "sum(v.amount)",
    "created": "sum(unix_millis(v.created))",
    "status": "sum(crc32(v.status))",
    "ref": "sum(crc32(v.customer_ref))",
    "channel": "sum(crc32(v.channel))",
}


def checksum(row) -> dict:
    """Spark's checksum row in the generator's form (nulls of empty
    sums read as 0; the decimal sum as its string)."""
    out = {k: (row[k] if row[k] is not None else 0) for k in CHECKSUM_SQL}
    out["amount"] = str(row["amount"]) if row["amount"] is not None else "0.00"
    return out


def _shape(o):
    """A Spark type's JSON without field metadata (Avro defaults, enum
    symbols), which ``from_struct_type`` does not carry back."""
    if isinstance(o, dict):
        return {k: _shape(v) for k, v in o.items() if k != "metadata"}
    if isinstance(o, list):
        return [_shape(x) for x in o]
    return o


def checksum_cols(F) -> list:
    return [F.expr(sql).alias(name) for name, sql in CHECKSUM_SQL.items()]


class Workload:
    def __init__(self, ctx):
        self.ctx = ctx
        self.cfg = SIZES[ctx.size]
        self.data = os.path.join(ctx.work, "codec")

    def generate(self) -> str:
        """Inputs as parquet files plus the expected outputs; no Spark."""
        os.makedirs(self.data, exist_ok=True)
        c = self.cfg
        inp = gen.codec_inputs(
            self.ctx.seed, c["n_bulk"], c["n_perm"], c["n_topics"], c["topic_rows"], 0.01, c["n_family"]
        )
        self.inp = inp
        self.paths = {
            "json": self._write("json", pa.table({"j": inp["json_rows"]})),
            "perm": self._write("perm", pa.table({"j": inp["perm_rows"]})),
            "bin": self._write("bin", pa.table({"b": pa.array(inp["bin_rows"], pa.binary())})),
            "typed": self._write("typed", pa.Table.from_pylist(
                [{"v": gen.encode_view(d)} for d in inp["bulk"]], schema=gen.ENCODE_ARROW_SCHEMA
            )),
        }
        for t, rows in enumerate(inp["topic_json"]):
            self.paths[f"topic{t}"] = self._write(f"topic{t}", pa.table({"j": rows}), parts=1)
        enc = gen.encode_schema()
        encoded = [gen.avro_binary(d, enc) for d in inp["bulk"]]
        self.want_encoded = {
            "n": len(encoded),
            "bytes": sum(len(b) for b in encoded),
            "crc": sum(gen.crc(b) for b in encoded),
        }
        self.reader = gen.order_schema_json()
        self.writers = {v: gen.order_schema_json(v) for v in gen.WRITER_VERSIONS}
        self.encode_json = json.dumps(enc, sort_keys=True)
        self.user_bytes = sum(len(json.dumps(gen.encode_view(d))) for d in inp["bulk"])
        files = [os.path.join(p, f) for p in self.paths.values() for f in os.listdir(p)]
        return gen.digest([gen.file_digest(files), inp["family"]])

    def load(self) -> None:
        read = self.ctx.spark.read
        self.df = {k: read.schema(READ_SCHEMAS.get(k, "j string")).parquet(p) for k, p in self.paths.items()}

    def _write(self, name: str, table: pa.Table, parts: int = 8) -> str:
        """A directory of ``parts`` parquet files, so scans split across
        the cores (one single-row-group file would be one task)."""
        path = os.path.join(self.data, name)
        os.makedirs(path, exist_ok=True)
        step = -(-table.num_rows // parts)
        for i in range(parts):
            pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i}.parquet"))
        return path

    def ops(self) -> list[Op]:
        return [
            Op("schema_roundtrip", self.schema_roundtrip),
            Op("decode_topics", self.decode_topics, "read"),
            Op("decode_bulk_json", self.decode_bulk_json, "read"),
            Op("decode_permissive", self.decode_permissive, "read"),
            Op("decode_bulk_binary", self.decode_bulk_binary, "read"),
            Op("encode_bulk_binary", self.encode_bulk_binary, "write"),
        ]

    # -- ops -----------------------------------------------------------------

    def schema_roundtrip(self) -> int:
        from anglerfish_spark import from_struct_type, parse_schema, to_avsc, to_struct_type

        tr = self.ctx.tracer
        bad = 0
        for avsc in self.inp["family"]:
            with tr.span("schema.parse"):
                ps = parse_schema(avsc)
            with tr.span("schema.convert"):
                printed = to_avsc(ps.root)
                st = to_struct_type(ps.root, ps.env)
                back = from_struct_type(st)
                again = to_struct_type(back)
            with tr.span("schema.parse"):
                reparsed = parse_schema(printed)
            if to_avsc(reparsed.root) != printed or _shape(again.jsonValue()) != _shape(st.jsonValue()):
                bad += 1
        self.ctx.check("schema round trips that changed the schema", bad, 0)
        return len(self.inp["family"])

    def _decode_checked(self, df, schema: str, want: dict, what: str) -> None:
        from pyspark.sql import functions as F

        from anglerfish_spark import decode_json

        with self.ctx.tracer.span("codec.construct"):
            out = decode_json(df, "j", schema)
        agg = out.select(F.col("decoded").alias("v")).agg(*checksum_cols(F))
        row = self.ctx.run_df(agg)[0]
        self.ctx.check(what, checksum(row), want)

    def decode_topics(self) -> int:
        n = 0
        for t, want in enumerate(self.inp["ck_topics"]):
            # a schema string no earlier call used: uncached construction
            schema = gen.order_schema_json(doc=f"topic {t} pass {self.ctx.pass_no}")
            self._decode_checked(self.df[f"topic{t}"], schema, want, f"topic {t} checksum")
            n += want["n"]
        return n

    def decode_bulk_json(self) -> int:
        self._decode_checked(self.df["json"], self.reader, self.inp["ck_bulk"], "bulk json checksum")
        return self.cfg["n_bulk"]

    def decode_permissive(self) -> int:
        from pyspark.sql import functions as F

        from anglerfish_spark import decode_json

        with self.ctx.tracer.span("codec.construct"):
            out = decode_json(self.df["perm"], "j", self.reader, mode="permissive")
        ok = F.size("_errors") == 0
        agg = out.select(F.when(ok, F.col("decoded")).alias("v"), (~ok).alias("bad")).agg(
            F.count_if("bad").alias("n_bad"), *checksum_cols(F)
        )
        row = self.ctx.run_df(agg)[0]
        self.ctx.check("malformed rows flagged", row["n_bad"], self.inp["n_malformed"])
        self.ctx.check("valid rows checksum", checksum(row), self.inp["ck_perm_valid"])
        return self.cfg["n_perm"]

    def decode_bulk_binary(self) -> int:
        from pyspark.sql import functions as F

        from anglerfish_spark.functions.avro_binary import confluent_decode_registry_typed

        with self.ctx.tracer.span("functions.construct"):
            dec = confluent_decode_registry_typed("b", self.writers, self.reader)
        out = self.df["bin"].select(dec.alias("x"))
        agg = out.select(F.col("x.schema_id").alias("sid"), F.col("x.value").alias("v")).agg(
            F.sum("sid").alias("sids"), *checksum_cols(F)
        )
        row = self.ctx.run_df(agg)[0]
        self.ctx.check("writer ids", row["sids"], sum(self.inp["versions"]))
        self.ctx.check("binary checksum", checksum(row), self.inp["ck_bulk"])
        return self.cfg["n_bulk"]

    def encode_bulk_binary(self) -> int:
        from pyspark.sql import functions as F

        from anglerfish_spark.functions.avro_binary import avro_encode_typed

        with self.ctx.tracer.span("functions.construct"):
            out = avro_encode_typed(self.df["typed"], "v", self.encode_json)
        agg = out.agg(
            F.count("encoded").alias("n"),
            F.sum(F.length("encoded")).alias("bytes"),
            F.sum(F.crc32("encoded")).alias("crc"),
        )
        row = self.ctx.run_df(agg)[0]
        self.ctx.check("encoded bytes", row.asDict(), self.want_encoded)
        self.encoded_bytes = row["bytes"]
        return self.cfg["n_bulk"]

    # -- end of run ----------------------------------------------------------

    def final_checks(self) -> list:
        return []

    def end_metrics(self) -> dict:
        # bytes the encoder stored per byte of the same rows as JSON text
        return {"stored_bytes_per_user_byte": self.encoded_bytes / self.user_bytes}

    def layer_counters(self, pass_no: int) -> dict:
        return {"schema.count": len(self.inp["family"])}
