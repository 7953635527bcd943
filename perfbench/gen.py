"""Seeded input generators for the three workloads.

Everything the engine sees is made here from ``--seed``: the same seed
gives byte-identical inputs, and :func:`digest` of the generated objects
is echoed in every result so a reader can check that.  The generators use
only the standard library, numpy and pyarrow -- never the engine -- so the
expected values they carry are an independent oracle for the engine's
outputs.
"""

from __future__ import annotations

import base64
import datetime as dt
import hashlib
import json
import random
import struct
import zlib
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# codec_ingest: the reader schema, its writer versions and the datums
# ---------------------------------------------------------------------------

STATUS = ["NEW", "PAID", "SHIPPED", "RETURNED"]
TIER = ["BRONZE", "SILVER", "GOLD"]
AMOUNT_SCALE = 2

_ITEM = {
    "type": "record",
    "name": "Item",
    "fields": [
        {"name": "sku", "type": "string"},
        {"name": "qty", "type": "int"},
    ],
}


def _customer(views_type: str) -> dict:
    return {
        "type": "record",
        "name": "Customer",
        "fields": [
            {"name": "name", "type": "string"},
            {"name": "tier", "type": {"type": "enum", "name": "Tier", "symbols": TIER}},
            {"name": "views", "type": views_type},
        ],
    }


def _order_schema(version: int) -> dict:
    """Writer version 1 lacks ``channel``, carries ``customer.views`` as
    int and names the reference field ``cust_ref``; version 2 adds
    ``channel``; version 3 is the reader: ``views`` promoted to long and
    ``cust_ref`` renamed to ``customer_ref`` (alias kept)."""
    fields = [
        {"name": "id", "type": "long"},
        {"name": "customer", "type": _customer("long" if version == 3 else "int")},
        {"name": "items", "type": {"type": "array", "items": _ITEM}},
        {"name": "tags", "type": {"type": "map", "values": "string"}},
        {"name": "note", "type": ["null", "string"], "default": None},
        {
            "name": "amount",
            "type": {"type": "bytes", "logicalType": "decimal", "precision": 12, "scale": AMOUNT_SCALE},
        },
        {"name": "created", "type": {"type": "long", "logicalType": "timestamp-millis"}},
        {"name": "status", "type": {"type": "enum", "name": "Status", "symbols": STATUS}},
    ]
    if version == 3:
        fields.append({"name": "customer_ref", "type": "string", "aliases": ["cust_ref"]})
    else:
        fields.append({"name": "cust_ref", "type": "string"})
    if version >= 2:
        fields.append({"name": "channel", "type": "string", "default": "web"})
    return {"type": "record", "name": "Order", "namespace": "perfbench", "fields": fields}


READER_VERSION = 3
WRITER_VERSIONS = (1, 2, 3)
WRITER_SCHEMAS = {v: _order_schema(v) for v in WRITER_VERSIONS}


def order_schema_json(version: int = READER_VERSION, doc: str | None = None) -> str:
    s = _order_schema(version)
    if doc is not None:
        s["doc"] = doc
    return json.dumps(s, sort_keys=True)


def gen_orders(rng: random.Random, n: int, id0: int = 0) -> list[dict]:
    """Reader-shaped datums.  ``version`` says which writer produced the
    binary form; version-1 datums carry the reader default for
    ``channel`` and an int-range ``views``."""
    words = ["alpha", "beta", "gamma", "delta", "omega", "kappa", "sigma", "zeta"]
    out = []
    base_ms = 1_700_000_000_000
    for i in range(n):
        version = rng.choice(WRITER_VERSIONS)
        items = [
            {"sku": f"SKU-{rng.randrange(10_000):05d}", "qty": rng.randrange(1, 50)}
            for _ in range(rng.randrange(0, 4))
        ]
        tags = {f"k{j}": rng.choice(words) for j in range(rng.randrange(0, 3))}
        out.append(
            {
                "id": id0 + i,
                "customer": {
                    "name": f"{rng.choice(words)}-{rng.randrange(100_000)}",
                    "tier": rng.choice(TIER),
                    "views": rng.randrange(0, 2**31 - 1)
                    if version == 1
                    else rng.randrange(0, 2**40),
                },
                "items": items,
                "tags": tags,
                "note": None if rng.random() < 0.3 else rng.choice(words) * rng.randrange(1, 4),
                "amount": rng.randrange(-10**9, 10**9),  # unscaled, scale 2
                "created": base_ms + rng.randrange(0, 10**10),
                "status": rng.choice(STATUS),
                "customer_ref": f"C{rng.randrange(10**6):06d}",
                "channel": "web" if version == 1 else rng.choice(["web", "app", "store"]),
                "_version": version,
            }
        )
    return out


def _unscaled_bytes(unscaled: int) -> bytes:
    """Two's-complement big-endian, minimal length (Avro decimal bytes)."""
    n = max(1, (unscaled.bit_length() + 8) // 8)
    return unscaled.to_bytes(n, "big", signed=True)


def avro_json(d: dict) -> str:
    """Avro-JSON text of a reader-shaped datum."""
    obj = {
        "id": d["id"],
        "customer": d["customer"],
        "items": d["items"],
        "tags": d["tags"],
        "note": None if d["note"] is None else {"string": d["note"]},
        # the reference codec's JSON form of bytes is base64 text
        "amount": base64.b64encode(_unscaled_bytes(d["amount"])).decode("ascii"),
        "created": d["created"],
        "status": d["status"],
        "customer_ref": d["customer_ref"],
        "channel": d["channel"],
    }
    return json.dumps(obj, separators=(",", ":"), ensure_ascii=True)


# -- an independent Avro binary writer for the order family ----------------


def _long(out: bytearray, n: int) -> None:
    n = (n << 1) ^ (n >> 63)
    while n & ~0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)


def _str(out: bytearray, s: str) -> None:
    b = s.encode("utf-8")
    _long(out, len(b))
    out += b


def _w_customer(out: bytearray, d: dict) -> None:
    c = d["customer"]
    _str(out, c["name"])
    _long(out, TIER.index(c["tier"]))
    _long(out, c["views"])


def _w_items(out: bytearray, d: dict) -> None:
    if d["items"]:
        _long(out, len(d["items"]))
        for it in d["items"]:
            _str(out, it["sku"])
            _long(out, it["qty"])
    _long(out, 0)


def _w_tags(out: bytearray, d: dict) -> None:
    if d["tags"]:
        _long(out, len(d["tags"]))
        for k, v in d["tags"].items():
            _str(out, k)
            _str(out, v)
    _long(out, 0)


def _w_note(out: bytearray, d: dict) -> None:
    if d["note"] is None:
        _long(out, 0)
    else:
        _long(out, 1)
        _str(out, d["note"])


def _w_amount(out: bytearray, d: dict) -> None:
    b = _unscaled_bytes(d["amount"])
    _long(out, len(b))
    out += b


_WRITERS = {
    "id": lambda out, d: _long(out, d["id"]),
    "customer": _w_customer,
    "items": _w_items,
    "tags": _w_tags,
    "note": _w_note,
    "amount": _w_amount,
    "created": lambda out, d: _long(out, d["created"]),
    "status": lambda out, d: _long(out, STATUS.index(d["status"])),
    "cust_ref": lambda out, d: _str(out, d["customer_ref"]),
    "customer_ref": lambda out, d: _str(out, d["customer_ref"]),
    "channel": lambda out, d: _str(out, d["channel"]),
}


def avro_binary(d: dict, schema: dict) -> bytes:
    """Avro binary body of ``d`` under an order-family ``schema``."""
    out = bytearray()
    for f in schema["fields"]:
        _WRITERS[f["name"]](out, d)
    return bytes(out)


#: the fields the engine's connector-less typed encoder round-trips: its
#: JSON fallback documents that plain-JSON shapes of nullable unions,
#: decimals and timestamps are not Avro-JSON, so the encode op uses the
#: reader schema without those three fields
ENCODE_DROPS = ("note", "amount", "created")


ENCODE_ARROW_SCHEMA = pa.schema([
    pa.field("v", pa.struct([
        pa.field("id", pa.int64(), False),
        pa.field("customer", pa.struct([
            pa.field("name", pa.string(), False),
            pa.field("tier", pa.string(), False),
            pa.field("views", pa.int64(), False),
        ]), False),
        pa.field("items", pa.list_(pa.field("element", pa.struct([
            pa.field("sku", pa.string(), False),
            pa.field("qty", pa.int32(), False),
        ]), False)), False),
        pa.field("tags", pa.map_(pa.string(), pa.string()), False),
        pa.field("status", pa.string(), False),
        pa.field("customer_ref", pa.string(), False),
        pa.field("channel", pa.string(), False),
    ]))
])


def encode_view(d: dict) -> dict:
    """``d`` restricted to the encode schema, in its field order."""
    return {f: d[f] for f in ("id", "customer", "items", "tags", "status", "customer_ref", "channel")}


def encode_schema() -> dict:
    s = _order_schema(READER_VERSION)
    s["fields"] = [f for f in s["fields"] if f["name"] not in ENCODE_DROPS]
    return s


def confluent_frame(d: dict) -> bytes:
    """0x00 + big-endian schema id (= writer version) + body."""
    v = d["_version"]
    return b"\x00" + struct.pack(">I", v) + avro_binary(d, WRITER_SCHEMAS[v])


# -- malformed rows for the permissive decode -------------------------------


def malform(rng: random.Random, text: str) -> str:
    """One of three seeded corruptions, each a strict-decode error."""
    kind = rng.randrange(3)
    if kind == 0:  # truncated JSON text
        return text[: rng.randrange(1, len(text) - 1)]
    obj = json.loads(text)
    if kind == 1:  # wrong type for a required long
        obj["id"] = "not-a-long"
    else:  # required field missing
        del obj["customer_ref"]
    return json.dumps(obj, separators=(",", ":"))


# -- the checksum both sides compute ---------------------------------------


def crc(s: str | bytes) -> int:
    return zlib.crc32(s.encode("utf-8") if isinstance(s, str) else s)


def order_checksum(datums: list[dict]) -> dict:
    """Aggregate fingerprint of decoded orders, field by field.  The
    Spark side computes the same numbers with SQL functions over the
    decoded struct (see ``codec_ingest.CHECKSUM_SQL``)."""
    ck = {
        "n": 0, "id": 0, "name": 0, "tier": 0, "views": 0, "n_items": 0, "qty": 0,
        "sku": 0, "n_tags": 0, "tags": 0, "n_note": 0, "note": 0, "amount": Decimal(0),
        "created": 0, "status": 0, "ref": 0, "channel": 0,
    }
    for d in datums:
        c = d["customer"]
        ck["n"] += 1
        ck["id"] += d["id"]
        ck["name"] += crc(c["name"])
        ck["tier"] += crc(c["tier"])
        ck["views"] += c["views"]
        ck["n_items"] += len(d["items"])
        ck["qty"] += sum(it["qty"] for it in d["items"])
        ck["sku"] += sum(crc(it["sku"]) for it in d["items"])
        ck["n_tags"] += len(d["tags"])
        ck["tags"] += sum(crc(f"{k}={v}") for k, v in d["tags"].items())
        if d["note"] is not None:
            ck["n_note"] += 1
            ck["note"] += crc(d["note"])
        ck["amount"] += Decimal(d["amount"]).scaleb(-AMOUNT_SCALE)
        ck["created"] += d["created"]
        ck["status"] += crc(d["status"])
        ck["ref"] += crc(d["customer_ref"])
        ck["channel"] += crc(d["channel"])
    ck["amount"] = str(ck["amount"].quantize(Decimal(1).scaleb(-AMOUNT_SCALE)))
    return ck


# -- the seeded schema family for schema_roundtrip ---------------------------

_PRIMS = ["null", "boolean", "int", "long", "float", "double", "bytes", "string"]
_LOGICAL = [
    {"type": "int", "logicalType": "date"},
    {"type": "long", "logicalType": "timestamp-millis"},
    {"type": "long", "logicalType": "timestamp-micros"},
    {"type": "bytes", "logicalType": "decimal", "precision": 10, "scale": 3},
]


def gen_schema_family(rng: random.Random, n: int) -> list[str]:
    """``n`` avsc strings: nested records, arrays, maps, enums, nullable
    unions, logical types, and every eighth schema recursive (a linked
    list or a tree referencing its own record by name)."""
    out = []
    for i in range(n):
        counter = [0]

        def fresh(prefix: str) -> str:
            counter[0] += 1
            return f"{prefix}{i}_{counter[0]}"

        def typ(depth: int):
            r = rng.random()
            if depth >= 3 or r < 0.35:
                return rng.choice(_PRIMS[1:])
            if r < 0.45:
                return dict(rng.choice(_LOGICAL))
            if r < 0.55:
                return {"type": "array", "items": typ(depth + 1)}
            if r < 0.65:
                return {"type": "map", "values": typ(depth + 1)}
            if r < 0.72:
                return {"type": "enum", "name": fresh("E"), "symbols": [f"S{j}" for j in range(rng.randrange(1, 5))]}
            if r < 0.85:
                inner = typ(depth + 1)
                if inner == "null" or isinstance(inner, list):
                    inner = "string"
                return ["null", inner]
            return record(depth + 1)

        def record(depth: int, self_ref: bool = False):
            name = fresh("R")
            fields = [{"name": f"f{j}", "type": typ(depth)} for j in range(rng.randrange(1, 6))]
            if self_ref:
                fields.append({"name": "next", "type": ["null", name], "default": None})
            return {"type": "record", "name": name, "namespace": "pb.family", "fields": fields}

        out.append(json.dumps(record(0, self_ref=(i % 8 == 0)), sort_keys=True))
    return out


def codec_inputs(
    seed: int, n_bulk: int, n_perm: int, n_topics: int, topic_rows: int, malformed_share: float, n_family: int
) -> dict:
    """Everything codec_ingest feeds the engine, as plain Python objects.
    The permissive column is the first ``n_perm`` bulk rows with a
    ``malformed_share`` of them corrupted."""
    rng = random.Random(f"codec_ingest/{seed}")
    bulk = gen_orders(rng, n_bulk)
    json_rows = [avro_json(d) for d in bulk]
    bin_rows = [confluent_frame(d) for d in bulk]
    topics = [gen_orders(rng, topic_rows, id0=10**9 * (t + 1)) for t in range(n_topics)]
    n_bad = max(1, round(malformed_share * n_perm))
    bad_at = sorted(rng.sample(range(n_perm), n_bad))
    perm_rows = json_rows[:n_perm]
    for i in bad_at:
        perm_rows[i] = malform(rng, perm_rows[i])
    bad = set(bad_at)
    return {
        "bulk": bulk,
        "json_rows": json_rows,
        "bin_rows": bin_rows,
        "topics": topics,
        "topic_json": [[avro_json(d) for d in t] for t in topics],
        "perm_rows": perm_rows,
        "n_malformed": n_bad,
        "family": gen_schema_family(rng, n_family),
        "ck_bulk": order_checksum(bulk),
        "ck_perm_valid": order_checksum([d for i, d in enumerate(bulk[:n_perm]) if i not in bad]),
        "ck_topics": [order_checksum(t) for t in topics],
        "versions": [d["_version"] for d in bulk],
    }


# ---------------------------------------------------------------------------
# analytics_mix: a TPC-H-shaped star schema plus events/documents/embeddings
# ---------------------------------------------------------------------------

_VOCAB = (
    "spark window merge table column vector stream value data small join filter big "
    "group hash customer sort order slow line part fast row the agg key query a scan batch"
).split()


def _ts(days_from: dt.date, offsets_s: np.ndarray) -> pa.Array:
    base = np.datetime64(days_from.isoformat(), "us")
    return pa.array(base + offsets_s.astype("timedelta64[s]").astype("timedelta64[us]"), pa.timestamp("us"))


def gen_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten tables the registry's queries read, shaped like the
    repository's sf test data (same names, columns and types), at scale
    factor ``sf``.  Returns row counts."""
    rng = np.random.default_rng(np.random.SeedSequence([seed, 0xA11]))
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    adj = ["large", "hot", "blue", "small", "red", "cold", "old", "new"]
    noun = ["ring", "bolt", "nut", "pipe", "gear", "plate", "wire", "screw"]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _ts(dt.date(1995, 1, 1), rng.integers(0, 2400, n_ord) * 86400),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(dt.date(1995, 1, 2), rng.integers(0, 2499, n_line) * 86400),
    })
    ev_off = np.sort(rng.uniform(0, 30 * 86400, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + (ev_off * 1e6).astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, max(1, n_ev // 67), n_ev),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(80.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_VOCAB, int(rng.integers(10, 101)))))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["de", "en", "en", "en", "es", "fr", "zh"], n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    emb = rng.normal(size=(n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
    for name, table in t.items():
        pq.write_table(table, f"{out_dir}/{name}.parquet")
    return {name: table.num_rows for name, table in t.items()}


# ---------------------------------------------------------------------------
# table_churn: the seed rows and the op stream
# ---------------------------------------------------------------------------

CHURN_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]


def churn_row(rng: random.Random, key: int) -> tuple:
    return (
        key,
        rng.randrange(0, 50_000),
        rng.choice("FOP"),
        round(rng.uniform(1000, 500_000), 2),
        rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]),
    )


class ChurnStream:
    """The seeded op stream over one keyed table.

    Upsert batches draw Zipf-skewed keys from the live key space
    (~70% updates) plus fresh keys (~30% inserts); delete batches draw a
    few live keys; point reads draw live keys.  The stream is infinite:
    the workload consumes ops until its time is up, and the generator
    is a pure function of the seed and the position in the stream.
    """

    def __init__(self, seed: int, n_seed_rows: int, upsert_rows: int, delete_rows: int):
        self.rng = random.Random(f"table_churn/{seed}")
        self.upsert_rows = upsert_rows
        self.delete_rows = delete_rows
        self.next_key = n_seed_rows
        self.seed_rows = [churn_row(self.rng, k) for k in range(n_seed_rows)]
        self.live = list(range(n_seed_rows))

    def _zipf_live(self) -> int:
        # rank r with probability ~ 1/r^1.1 over the live keys
        n = len(self.live)
        r = int(n ** self.rng.random() ** 1.1) - 1
        return self.live[min(max(r, 0), n - 1)]

    def upsert_batch(self) -> list[tuple]:
        n_upd = round(self.upsert_rows * 0.7)
        keys: set[int] = set()
        while len(keys) < n_upd:
            keys.add(self._zipf_live())
        while len(keys) < self.upsert_rows:
            keys.add(self.next_key)
            self.live.append(self.next_key)
            self.next_key += 1
        return [churn_row(self.rng, k) for k in sorted(keys)]

    def delete_batch(self) -> list[int]:
        keys = sorted({self._zipf_live() for _ in range(self.delete_rows)})
        gone = set(keys)
        self.live = [k for k in self.live if k not in gone]
        return keys

    def point_keys(self, n: int) -> list[int]:
        return [self.live[self.rng.randrange(len(self.live))] for _ in range(n)]


# ---------------------------------------------------------------------------


def digest(obj) -> str:
    """sha256 over a canonical rendering of generated inputs."""
    h = hashlib.sha256()

    def feed(o):
        if isinstance(o, (bytes, bytearray)):
            h.update(b"b" + base64.b64encode(bytes(o)))
        elif isinstance(o, dict):
            h.update(b"{")
            for k in sorted(o):
                feed(k)
                feed(o[k])
            h.update(b"}")
        elif isinstance(o, (list, tuple)):
            h.update(b"[")
            for x in o:
                feed(x)
            h.update(b"]")
        else:
            h.update(repr(o).encode())

    feed(obj)
    return h.hexdigest()


def file_digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()
