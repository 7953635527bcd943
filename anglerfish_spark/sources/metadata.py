"""Table metadata inspection — the ``DESCRIBE HISTORY`` / metadata-table
surface every Delta/Iceberg user leans on for operational debugging:
*what happened to this table, when, and what does it physically contain*.

Reference parity: the reference is a codec library with no table layer
(``/root/reference/README.md:8-9``); this extends the engine surface the
SURVEY's derived plan calls for (scans/sources/sinks group), mirroring
Delta's ``DESCRIBE HISTORY`` and Iceberg's ``<table>.files`` /
``<table>.history`` metadata tables over this engine's manifest format.

Scale shapes (the part that matters at 100 TB):

* :func:`table_history` reads O(retained versions) manifest LISTS —
  format 3 keeps per-file metadata out of the list, so a version row
  costs one small JSON parse regardless of table file count.  Since r11
  (VERDICT r10 #4) the change-row counts are STAMPED into the list at
  commit time, so history is a pure list-parse read — zero parquet
  footer opens (asserted in tests/test_metadata.py); only pre-r11
  manifests fall back to one footer read per changed file.  No data row
  is read and no segment chunk is loaded.
* :func:`table_files` is DISTRIBUTED: the driver parallelizes the
  current manifest's segment-chunk pointers (O(chunks) driver-side, the
  list's own size) and executors load the chunks and read each file's
  parquet footer — the Iceberg "metadata table reads are planned like
  data reads" model.  A million-file table inspects at executor
  parallelism with the driver holding only chunk pointers.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..session import prepare
from .manifest_table import (
    _manifest_path,
    current_version,
    read_manifest,
    read_manifest_light,
)
from .standin import materialize_once


def _rows_in(table: str, files: list[str]) -> int:
    """Row count of staged parquet files from footers alone (no scan).

    Returns ``-1`` when ANY referenced change file is absent from disk
    (ADVICE r10 #2): a retained version whose recorded change files are
    missing (manual deletion, reclaim bug) must surface the documented
    "not recorded" sentinel, not an undercount that makes ``_classify``
    mislabel the commit (a merge silently degrading to 'append').

    Legacy path only: commits since r11 stamp ``n_inserted``/
    ``n_deleted`` into the manifest list at commit time
    (``manifest_table.commit``), so history never opens a footer."""
    import pyarrow.parquet as pq

    total = 0
    for f in files:
        p = os.path.join(table, f)
        if not os.path.exists(p):
            return -1
        total += pq.ParquetFile(p).metadata.num_rows
    return total


def _classify(n_ins: int, n_del: int) -> str:
    """Operation kind DERIVED from what the commit verifiably recorded
    (writers do not self-describe): the change log's ROW counts are the
    fact — entry counts would mislabel a writer that staged an empty
    image file (legal).

    * no change log (-1)       → ``write`` (pre-CDF writer / rebase)
    * inserted AND deleted     → ``merge`` (update = delete+insert)
    * inserted only            → ``append``
    * deleted only             → ``delete``
    * both zero                → ``optimize`` (compact/zorder/evolution:
      logically a no-op, physically a re-layout)
    """
    if n_ins < 0:
        return "write"
    if n_ins and n_del:
        return "merge"
    if n_ins:
        return "append"
    if n_del:
        return "delete"
    return "optimize"


def table_history(spark: SparkSession, table: str) -> DataFrame:
    """One row per retained version, oldest first: ``(version,
    operation, txn_id, n_inserted, n_deleted, n_files,
    committed_at_ms)`` — Delta's ``DESCRIBE HISTORY`` shape.

    ``n_inserted`` / ``n_deleted`` are exact row counts, stamped into
    the manifest list at commit time (r11+; legacy commits fall back to
    the change files' parquet footers).  ``-1`` when the commit
    predates change logging (e.g. a session-less rebase) or a legacy
    commit's recorded change files are missing from disk — absent is
    not zero.  ``n_files`` comes from the manifest list's own counter,
    so no segment chunk is loaded."""
    rows = []
    cur = current_version(table)
    for v in range(1, cur + 1):
        if not os.path.exists(_manifest_path(table, v)):
            continue  # expired version: history shows what is retained
        m = read_manifest_light(table, v)
        ch = m.get("changes")
        if ch is None:
            n_ins = n_del = -1
        elif "n_inserted" in ch:
            # r11+ commit: counts stamped in the manifest list at commit
            # time — this branch is pure list-parse, zero footer reads
            n_ins, n_del = int(ch["n_inserted"]), int(ch["n_deleted"])
        else:
            n_ins = _rows_in(table, [f for e in ch.get("inserted") or [] for f in e["files"]])
            n_del = _rows_in(table, [f for e in ch.get("deleted") or [] for f in e["files"]])
            if n_ins < 0 or n_del < 0:
                n_ins = n_del = -1  # a referenced change file is missing
        rows.append(
            (
                v,
                _classify(n_ins, n_del),
                m.get("txn_id"),
                n_ins,
                n_del,
                int(m.get("n_files") or len(m.get("files") or [])),
                int(m["committed_at_ms"]),
            )
        )
    return spark.createDataFrame(
        rows,
        "version int, operation string, txn_id string, n_inserted bigint, "
        "n_deleted bigint, n_files int, committed_at_ms bigint",
    ).orderBy("version")


def table_files(spark: SparkSession, table: str, version: int | None = None) -> DataFrame:
    """Iceberg's ``<table>.files`` metadata table: one row per live data
    file of the snapshot — ``(file, n_rows, bytes, seq, spec_id,
    partition)`` — computed DISTRIBUTED: the driver ships only the
    manifest list's segment-chunk pointers; executors parse the chunks
    and read parquet footers.  ``partition`` is the file's stamped
    partition tuple as strings (empty array = unpartitioned)."""
    m = read_manifest_light(table, version)
    ptrs: list[tuple] = []  # (chunk_path_or_None, seq, spec_id, inline_files_json)
    if "segsets" in m:
        for ss in m["segsets"]:
            for ch in ss["chunks"]:
                ptrs.append((ch["path"], ss.get("seq"), ss.get("spec_id"), None))
    else:  # legacy inline manifest: ship the per-fileset file lists
        mm = read_manifest(table, version)
        parts = mm.get("partitions") or {}
        fsets = mm.get("filesets") or [{"files": mm["files"], "seq": None, "spec_id": None}]
        for fs in fsets:
            payload = json.dumps(
                {"files": fs["files"], "partitions": {f: parts[f] for f in fs["files"] if f in parts}}
            )
            ptrs.append((None, fs.get("seq"), fs.get("spec_id"), payload))
    schema = "file string, n_rows bigint, bytes bigint, seq int, spec_id int, partition array<string>"

    def expand(batches):
        import pandas as pd
        import pyarrow.parquet as pq

        for b in batches:
            out = {k: [] for k in ("file", "n_rows", "bytes", "seq", "spec_id", "partition")}
            for _, r in b.iterrows():
                if r["chunk"] is not None:
                    with open(os.path.join(table, r["chunk"])) as fh:
                        seg = json.load(fh)
                else:
                    seg = json.loads(r["inline"])
                pt = seg.get("partitions") or {}
                for f in seg["files"]:
                    p = os.path.join(table, f)
                    md = pq.ParquetFile(p).metadata
                    out["file"].append(f)
                    out["n_rows"].append(md.num_rows)
                    out["bytes"].append(os.path.getsize(p))
                    out["seq"].append(r["seq"])
                    out["spec_id"].append(r["spec_id"])
                    out["partition"].append([str(x) for x in (pt.get(f) or [])])
            yield pd.DataFrame(out)

    src = spark.createDataFrame(
        [(c, s, sp, il) for c, s, sp, il in ptrs],
        "chunk string, seq int, spec_id int, inline string",
    )
    if ptrs:
        src = src.repartition(min(len(ptrs), 32))
    return src.mapInPandas(expand, schema)


def _history_demo_table(spark: SparkSession, sf_dir: str) -> str:
    """A four-version lifecycle over ``orders`` (once per process per
    sf_dir): v1 append (the %3==0 keys), v2 three-clause MERGE (the
    ``q_table_merge`` history), v3 ``delete_where(key%5==0)``, v4
    ``compact_table`` — one commit of each operation class."""
    from .manifest_table import compact_table, delete_where, upsert
    from .merge import merge_into
    from .registry import load_table

    def build(t: str) -> None:
        orders = load_table(spark, sf_dir, "orders")
        cols = ["o_orderkey", "o_totalprice", "o_orderpriority"]
        base = orders.where(F.col("o_orderkey") % 3 == 0).select(*cols)
        upsert(spark, t, base, ["o_orderkey"], txn_id="hist-v1")
        src = orders.where(F.col("o_orderkey") % 4 == 0).select(
            "o_orderkey",
            (F.col("o_totalprice") + F.lit(500.0)).alias("o_totalprice"),
            "o_orderpriority",
        )
        merge_into(
            spark,
            t,
            src,
            ["o_orderkey"],
            when_matched_update={"o_totalprice": "s.o_totalprice"},
            when_matched_delete="s.o_orderpriority = '1-URGENT'",
            insert_not_matched=True,
            txn_id="hist-v2",
        )
        delete_where(spark, t, F.col("o_orderkey") % 5 == 0, txn_id="hist-v3")
        compact_table(spark, t)

    return materialize_once("history", sf_dir, build)


@query(
    "q_table_history",
    oracle="""
WITH final AS (
  SELECT o_orderkey AS k
  FROM orders
  WHERE (o_orderkey % 3 = 0 OR o_orderkey % 4 = 0)
    AND NOT (o_orderkey % 12 = 0 AND o_orderpriority = '1-URGENT')
)
SELECT * FROM (
  SELECT 1 AS version, 'append' AS operation,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM orders WHERE o_orderkey % 3 = 0) AS n_inserted,
         CAST(0 AS BIGINT) AS n_deleted
  UNION ALL
  SELECT 2, 'merge',
         (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
           WHERE (o_orderkey % 12 = 0 AND o_orderpriority <> '1-URGENT')
              OR (o_orderkey % 4 = 0 AND o_orderkey % 3 <> 0)),
         (SELECT CAST(COUNT(*) AS BIGINT) FROM orders WHERE o_orderkey % 12 = 0)
  UNION ALL
  SELECT 3, 'delete', CAST(0 AS BIGINT),
         (SELECT CAST(COUNT(*) AS BIGINT) FROM final WHERE k % 5 = 0)
  UNION ALL
  SELECT 4, 'optimize', CAST(0 AS BIGINT), CAST(0 AS BIGINT)
) ORDER BY version
""",
    group="sources",
)
def q_table_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DESCRIBE HISTORY`` end-to-end: a table takes one commit of each
    operation class — append, three-clause MERGE, predicate DELETE,
    OPTIMIZE — and the history rows must carry the right derived
    operation label and EXACT changed-row counts, which the oracle
    recomputes from ``orders`` congruence arithmetic alone (v2's counts
    encode no-op-update cancellation and clause precedence; v3's count
    is evaluated against the post-merge state; v4 must be an explicit
    (0, 0), not "unknown").  A history that miscounts change images,
    mislabels an operation, or loses a version fails the hash.

    Scale shape: O(versions) manifest-list parses, full stop — counts
    are stamped at commit time, so no footer reads (asserted in
    tests/test_metadata.py), no segment chunk loads, no data scan."""
    prepare(spark)
    t = _history_demo_table(spark, sf_dir)
    return (
        table_history(spark, t)
        .select("version", "operation", "n_inserted", "n_deleted")
        .orderBy("version")
    )
