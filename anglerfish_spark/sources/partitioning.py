"""Hidden partitioning for the manifest table (VERDICT r8 #5): the
Iceberg partition-spec model in miniature — the manifest records a list
of partition TRANSFORMS, writers stamp each data file with its partition
tuple, and the read path prunes files by partition value BEFORE footer
stats (``skipping.py`` stays as the residual, finer-grained prune).

Why transforms and not raw columns: a 100 TB time- or key-partitioned
table must prune by *derived* values (bucket(key), truncate(date)) that
readers never have to name — the reader writes ``WHERE o_orderkey = 42``
and the spec, not the query, knows files are bucketed by that column
(Iceberg's "hidden partitioning"; Hive's explicit partition columns are
the anti-pattern this replaces).

Supported transforms (the Iceberg core trio):

* ``identity(col)`` — the column value itself; pruned by range
  predicates (monotonic).
* ``bucket(n, col)`` — ``md5(string(value)) % n``; pruned by EQUALITY
  predicates only (a hash destroys order).  md5 rather than murmur3
  because both the Spark write expression and the Python probe side can
  compute it identically with nothing but built-ins.
* ``truncate(w, col)`` — numeric ``value - (value % w)`` / string
  ``substring(value, 1, w)``; monotonic, pruned by range predicates on
  the truncated bounds.

Physical layout: files are staged with ``partitionBy`` on the DERIVED
``_p{i}`` columns (hive-style directories name the tuple; the original
data columns stay IN the files because only the derived columns are
stripped), and the parsed per-file tuples are recorded in the manifest —
so reads never list or parse directories; pruning is a manifest-only
decision, exactly like per-file stats.

Null partition values (hive ``__HIVE_DEFAULT_PARTITION__``) are never
pruned.  A file without a recorded tuple (e.g. staged by a spec-less
writer) is conservatively kept.  Rename evolution composes: the spec's
column names are frozen at write time, and the read path maps reader-
name predicates onto them through the reader schema's aliases (same
mechanism as stats re-keying, ``read_path._writer_predicates``).

Spec EVOLUTION (r10, the full Iceberg model): the manifest records the
table's spec HISTORY plus a default id, each fileset carries the id of
the spec its tuples were stamped under, and the read path prunes every
file under ITS OWN spec — so :func:`evolve_partition_spec` is one
manifest-list write after which old files keep exact pruning by their
old transforms and new files prune by the new ones.
"""

from __future__ import annotations

import hashlib
import os
import urllib.parse

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..errors import AnglerfishError
from .standin import materialize_once

_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"

#: spark type name → the vtype the probe-side comparisons use
_VTYPES = {
    "tinyint": "long", "smallint": "long", "int": "long", "bigint": "long",
    "float": "double", "double": "double",
    "string": "string", "date": "string",
}


def _vtype_of(df: DataFrame, col: str) -> str:
    t = dict(df.dtypes).get(col)
    if t not in _VTYPES:
        raise AnglerfishError(
            f"partition transform on column {col!r} of type {t!r} is not "
            f"supported (one of {sorted(set(_VTYPES))})"
        )
    return _VTYPES[t]


def _bucket_py(s: str, n: int) -> int:
    """Python side of the bucket transform — must equal the Spark
    expression in :func:`partition_column` (md5 of the string repr,
    first 8 hex digits, mod n)."""
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % n


def partition_column(entry: dict) -> Column:
    """The Spark expression producing one spec entry's STRING partition
    value (what ``partitionBy`` materializes into the directory name)."""
    c, t = entry["col"], entry["transform"]
    if t == "identity":
        return F.col(c).cast("string")
    if t == "bucket":
        if entry["vtype"] == "double":
            raise AnglerfishError("bucket transform on floating columns is not supported")
        return F.expr(
            f"CAST(pmod(conv(substring(md5(CAST(`{c}` AS STRING)), 1, 8), 16, 10), "
            f"{entry['n']}) AS STRING)"
        )
    if t == "truncate":
        w = entry["w"]
        if entry["vtype"] == "string":
            return F.expr(f"substring(`{c}`, 1, {w})")
        return F.expr(f"CAST(`{c}` - pmod(`{c}`, {w}) AS STRING)")
    raise AnglerfishError(f"unknown partition transform {t!r}")


def fill_spec(df: DataFrame, spec: list[dict]) -> list[dict]:
    """Validate a user spec against ``df`` and freeze each entry's value
    type (``vtype``) — the committed form."""
    out = []
    for e in spec:
        t = e.get("transform")
        if t not in ("identity", "bucket", "truncate"):
            raise AnglerfishError(f"unknown partition transform {t!r}")
        if t == "bucket" and not isinstance(e.get("n"), int):
            raise AnglerfishError("bucket transform needs integer 'n'")
        if t == "truncate" and not isinstance(e.get("w"), int):
            raise AnglerfishError("truncate transform needs integer 'w'")
        if e["col"] not in df.columns:
            raise AnglerfishError(f"partition column {e['col']!r} absent from the batch")
        vtype = _vtype_of(df, e["col"])
        if t == "truncate" and vtype == "double":
            # Iceberg parity (ADVICE r9 medium #1): float/double truncate
            # invites write-vs-probe rounding drift; the real format
            # disallows it outright
            raise AnglerfishError(
                "truncate transform on floating columns is not supported "
                "(Iceberg disallows it too); bucket or identity instead"
            )
        out.append({**e, "vtype": vtype})
    return out


def remap_spec_cols(spec: list[dict], schema: str | None) -> list[dict]:
    """Resolve a spec's FROZEN (write-era) column names to the names a
    batch written under ``schema`` actually carries, via the schema's
    aliases.  Every rewrite/append path that re-stages a partitioned
    table uses this one helper (compact, zorder, WAP stage, evolved
    append) — the name to remap through is the schema of the DATAFRAME
    being staged (reader schema for full rewrites of the resolved
    snapshot, writer schema for evolved appends)."""
    if not schema:
        return spec
    from .read_path import _reader_fields

    colmap = {a: rf.name for rf in _reader_fields(schema) for a in rf.aliases}
    return [{**e, "col": colmap.get(e["col"], e["col"])} for e in spec]


def stage_files_partitioned(
    spark: SparkSession, df: DataFrame, table: str, spec: list[dict],
    sort_within: list | None = None,
    n_files: int | None = None,
) -> tuple[list[str], dict[str, list], list[dict]]:
    """Stage ``df`` under ``table`` partitioned by ``spec``'s transforms
    (hive layout on the derived ``_p{i}`` columns; data columns all stay
    in the files) and parse each written file's partition tuple from its
    path.  ``sort_within`` optionally sorts rows WITHIN each partition
    task by the given column expressions before the write (Iceberg's
    within-partition sort order — zorder_compact uses it to z-cluster a
    partitioned table without disturbing its layout: parquet row groups
    then carry tight stats on the sort columns).  ``n_files`` (ADVICE
    r10 #3) is a TOTAL file-count target honored via
    ``repartitionByRange`` over (tuple, sort_within): a hot tuple on a
    low-cardinality spec splits across ~``n_files / n_tuples``
    range-contiguous files instead of one giant file per tuple; the
    actual count is ≥ the tuple cardinality (each task still writes one
    file per tuple it holds) and range boundaries follow the data.
    Returns ``(files, {file: tuple}, filled_spec)`` for
    ``manifest_table.commit(partition_spec=..., partitions=...)``."""
    import uuid

    spec = fill_spec(df, spec)
    pcols = {f"_p{i}": partition_column(e) for i, e in enumerate(spec)}
    rel = os.path.join("data", uuid.uuid4().hex)
    staged = df.withColumns(pcols)
    if n_files:
        # range-partition on (tuple, sort keys): one tuple's rows land
        # in contiguous tasks, so every file stays single-tuple (the
        # writer still splits by tuple) while hot tuples fan out across
        # multiple tasks — the bin-packing the flat path gets from
        # repartitionByRange(n_files, _z)
        staged = staged.repartitionByRange(
            n_files, *[F.col(c) for c in pcols], *(sort_within or [])
        )
    else:
        # repartition on the tuple so each partition value is written by
        # ONE task → one file per tuple instead of (tasks × tuples)
        # small files
        staged = staged.repartition(*[F.col(c) for c in pcols])
    if sort_within:
        staged = staged.sortWithinPartitions(*sort_within)
    (
        staged.write.partitionBy(*pcols)
        .parquet(os.path.join(table, rel))
    )
    files: list[str] = []
    parts: dict[str, list] = {}
    root = os.path.join(table, rel)
    for dirpath, _dirs, names in os.walk(root):
        for name in names:
            if not name.endswith(".parquet"):
                continue
            frel = os.path.relpath(os.path.join(dirpath, name), table)
            comps = os.path.relpath(dirpath, root).split(os.sep)
            tup: list = [None] * len(spec)
            for comp in comps:
                if "=" not in comp:
                    continue
                k, _, v = comp.partition("=")
                if k.startswith("_p"):
                    v = urllib.parse.unquote(v)
                    tup[int(k[2:])] = None if v == _HIVE_NULL else v
            files.append(frel)
            parts[frel] = tup
    return sorted(files), parts, spec


def _trunc_floor(b, w: int):
    """Floor-truncate a numeric predicate bound; ``None`` (unbounded →
    conservative keep) when the bound is not numeric."""
    try:
        return b - (b % w)
    except TypeError:
        return None


def _typed(v: str, vtype: str):
    if vtype == "long":
        return int(v)
    if vtype == "double":
        return float(v)
    return v


def _string_bound(b):
    """Normalize a predicate bound for comparison against a STRING-typed
    partition tuple value (ADVICE r9 medium #2): dates/timestamps encode
    to the same ISO forms the write side stamps (``CAST(col AS STRING)``
    of a date is its ISO form; ``skipping._enc`` matches), and a bound
    that does not normalize to a string yields ``None`` — unbounded, so
    the file is conservatively kept instead of raising a TypeError (or
    worse, lexically comparing a number to a string)."""
    from .skipping import _enc

    if b is None:
        return None
    e = _enc(b)
    return e if isinstance(e, str) else None


def file_may_match_partition(
    spec: list[dict],
    tup: list | None,
    predicates: dict[str, tuple],
    colmap: dict[str, str] | None = None,
) -> bool:
    """Partition-value pruning decision for one file: False only when a
    predicate PROVES no row of the file can match.  ``predicates`` are
    reader-named inclusive ``(lo, hi)`` ranges; ``colmap`` maps writer-era
    alias names to current reader names (the spec's column names are
    frozen at write time), so a renamed partition source column keeps
    pruning."""
    if tup is None:
        return True  # no recorded tuple: conservatively keep
    for i, e in enumerate(spec):
        reader_name = (colmap or {}).get(e["col"], e["col"])
        p = predicates.get(reader_name)
        if p is None:
            continue
        lo, hi = p
        v = tup[i] if i < len(tup) else None
        if v is None:
            continue  # null partition value (or torn tuple): keep
        t, vt = e["transform"], e["vtype"]
        if t == "identity":
            tv = _typed(v, vt)
            if vt == "string":
                # normalize date/ts bounds to the stamped ISO string form
                lo, hi = _string_bound(lo), _string_bound(hi)
            if lo is not None and tv < lo:
                return False
            if hi is not None and tv > hi:
                return False
        elif t == "bucket":
            # a hash destroys order: only an equality predicate prunes
            if lo is not None and hi is not None and lo == hi:
                if _bucket_py(str(lo), e["n"]) != int(v):
                    return False
        elif t == "truncate":
            w = e["w"]
            if vt == "string":
                slo, shi = _string_bound(lo), _string_bound(hi)
                tlo = None if slo is None else slo[:w]
                thi = None if shi is None else shi[:w]
                tv = v
            else:
                # floor semantics matching the write side's
                # `col - pmod(col, w)` (ADVICE r9 medium #1): Python's %
                # is floor-based for int AND float, so a negative
                # fractional bound truncates DOWN (-0.5 → -w), exactly
                # like pmod — the old int() cast truncated toward zero
                # and silently pruned matching files.  A bound the
                # arithmetic cannot take (string/date against a numeric
                # column) yields None — unbounded, file conservatively
                # kept — per the same convention as _string_bound.
                tlo = None if lo is None else _trunc_floor(lo, w)
                thi = None if hi is None else _trunc_floor(hi, w)
                tv = _typed(v, vt)
            if tlo is not None and tv < tlo:
                return False
            if thi is not None and tv > thi:
                return False
    return True


def evolve_partition_spec(
    spark: SparkSession, table: str, new_spec: list[dict]
) -> int:
    """Change the table's partition spec going FORWARD (one metadata
    commit, zero data rewrites — the Iceberg spec-evolution contract),
    with PER-FILESET SPEC IDS (VERDICT r9 #2, the full Iceberg model):
    the manifest keeps the table's spec HISTORY, every existing fileset
    is stamped with the id of the spec its tuples were written under,
    and the read path prunes each file by ITS OWN spec — so
    pre-evolution files keep exact pruning under their OLD transforms
    while files written after this commit stamp new-spec tuples.  A
    file can therefore never be mis-pruned (a tuple is only ever
    interpreted under the transform that produced it) and never loses
    pruning either; ``compact_table`` still restamps everything under
    the current default when one layout is wanted."""
    from .manifest_table import commit, current_version, read_manifest, snapshot

    v = current_version(table)
    m = read_manifest(table, v)
    filled = fill_spec(snapshot(spark, table, v), new_spec)
    old_default = m.get("default_spec_id")
    filesets = m.get("filesets")
    if filesets is None and m["files"]:
        # flat table: materialize one fileset so its spec id can be recorded
        filesets = [
            {"files": m["files"], "schema": m.get("schema"), "seq": None,
             "spec_id": old_default}
        ]
    elif filesets:
        # every pre-evolution fileset was stamped under the then-default
        # spec unless it already recorded its own id
        filesets = [
            {**fs, "spec_id": fs["spec_id"] if fs.get("spec_id") is not None else old_default}
            for fs in filesets
        ]
    return commit(
        table,
        m["files"],
        expected_version=v,
        txn_id=f"evolve-spec-v{v}",
        schema=m.get("schema"),
        filesets=filesets,
        stats=m.get("stats"),
        delete_groups=m.get("delete_groups"),
        pos_deletes=m.get("pos_deletes"),
        partition_spec=filled,
        partitions=m.get("partitions"),  # tuples KEPT, pinned to their spec ids
        changes={"inserted": [], "deleted": []},
    )


def append_partitioned(
    spark: SparkSession,
    table: str,
    batch: DataFrame,
    txn_id: str | None = None,
) -> int:
    """Append ``batch`` under the table's CURRENT partition spec: new
    files land in the spec's layout with their tuples stamped, prior
    files carry verbatim with theirs (so pruning covers old AND new
    data), and the commit logs the appended rows as inserts for the
    change feed.  Raises when the table has no spec — a spec-less
    append is plain ``stage_files`` + ``commit``."""
    from .manifest_table import _txn_committed, commit, current_version, read_manifest

    v = current_version(table)
    if txn_id is not None and v and _txn_committed(table, v, txn_id):
        return v
    m = read_manifest(table, v)
    spec = m.get("partition_spec")
    if not spec:
        raise AnglerfishError(
            f"manifest table {table!r} has no partition spec; use plain "
            "stage_files + commit for unpartitioned appends"
        )
    files, parts, _ = stage_files_partitioned(spark, batch, table, spec)
    schema = m.get("schema")
    filesets = m.get("filesets")
    if filesets:
        filesets = list(filesets) + [{"files": files, "schema": schema, "seq": v + 1}]
    return commit(
        table,
        m["files"] + files,
        expected_version=v,
        txn_id=txn_id,
        schema=schema,
        filesets=filesets,
        stats=m.get("stats"),
        delete_groups=m.get("delete_groups"),
        pos_deletes=m.get("pos_deletes"),
        partition_spec=spec,
        partitions={**(m.get("partitions") or {}), **parts},
        changes={"inserted": [{"files": files, "schema": schema}], "deleted": []},
    )


# ---------------------------------------------------------------------------
# registered query: hidden-partition pruning under the driver's oracle gate
# ---------------------------------------------------------------------------

#: the bucketed point-lookup key the demo probes (any existing key works;
#: 96 is divisible by 3 so the %3==0 load always contains it)
_PART_PROBE_KEY = 96


def _partitioned_table(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per process per sf_dir) an orders table partitioned by
    ``identity(o_orderpriority) × bucket(4, o_orderkey)``: one commit of
    the %3==0 orders staged through the hive-layout writer with per-file
    partition tuples recorded in the manifest."""
    from .manifest_table import commit
    from .registry import load_table

    def build(t: str) -> None:
        orders = load_table(spark, sf_dir, "orders")
        base = orders.where(F.col("o_orderkey") % 3 == 0).select(
            "o_orderkey", "o_totalprice", "o_orderpriority"
        )
        files, parts, spec = stage_files_partitioned(
            spark,
            base,
            t,
            [
                {"transform": "identity", "col": "o_orderpriority"},
                {"transform": "bucket", "col": "o_orderkey", "n": 4},
            ],
        )
        commit(
            t,
            files,
            expected_version=0,
            txn_id="part-v1",
            partition_spec=spec,
            partitions=parts,
            changes={"inserted": [{"files": files, "schema": None}], "deleted": []},
        )

    return materialize_once("part", sf_dir, build)


def read_partitioned_report(
    spark: SparkSession, sf_dir: str, predicates: dict[str, tuple]
):
    """(df, report) for the demo table under ``predicates`` — the test
    hook asserting files_kept < files_total."""
    from .read_path import read_table

    return read_table(spark, _partitioned_table(spark, sf_dir), predicates=predicates)


_PART_DSUM = "CAST(CAST(SUM(CAST(p AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)"


from ..registry import query  # noqa: E402
from ..session import prepare  # noqa: E402
from .registry import load_table  # noqa: E402,F401


@query(
    "q_table_partitioned",
    oracle=f"""
SELECT 'priority_slice' AS probe,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       {_PART_DSUM} AS total
FROM (SELECT o_totalprice AS p FROM orders
      WHERE o_orderkey % 3 = 0 AND o_orderpriority = '1-URGENT')
UNION ALL
SELECT 'bucket_point',
       CAST(COUNT(*) AS BIGINT),
       {_PART_DSUM}
FROM (SELECT o_totalprice AS p FROM orders
      WHERE o_orderkey = {_PART_PROBE_KEY})
ORDER BY probe
""",
    group="sources",
)
def q_table_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden partitioning end-to-end (VERDICT r8 #5): an orders table
    committed under a ``identity(o_orderpriority) × bucket(4,
    o_orderkey)`` partition spec is probed two ways — a priority slice
    (identity pruning keeps ~1/5 of the files) and a key point lookup
    (bucket pruning keeps ~1/4 within the surviving priority dirs; both
    prune counts are asserted in tests/test_partitioning.py).  The
    queries name only DATA columns — the spec, not the query, knows the
    layout (Iceberg's hidden-partitioning contract) — and the oracle
    recomputes both answers from raw ``orders``.

    Scale shape: pruning is a manifest-only decision (no directory
    listing, no footer reads for pruned files); at 100 TB an
    identity(date) × bucket(key) table answers a day-slice point lookup
    by reading one bucket file of one date partition, with footer stats
    still pruning WITHIN the survivors."""
    prepare(spark)
    from ..operators.common import dsum
    from .read_path import read_table

    t = _partitioned_table(spark, sf_dir)
    slice_df, _ = read_table(
        spark, t, predicates={"o_orderpriority": ("1-URGENT", "1-URGENT")}
    )
    point_df, _ = read_table(
        spark, t, predicates={"o_orderkey": (_PART_PROBE_KEY, _PART_PROBE_KEY)}
    )

    def summarize(label: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(label).alias("probe"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            dsum(F.col("o_totalprice")).alias("total"),
        ).select("probe", "n_rows", "total")

    return (
        summarize("priority_slice", slice_df)
        .unionByName(summarize("bucket_point", point_df))
        .orderBy("probe")
    )


def _evospec_table(spark: SparkSession, sf_dir: str) -> str:
    """Partition-lifecycle demo (once per process per sf_dir): v1 loads
    the %3==0 orders under ``truncate(1000, o_orderkey)``; v2
    ``append_partitioned``s the %3==1 rows in the same layout; v3
    evolves the spec to ``bucket(4, o_orderkey)`` (metadata only); v4
    upserts the %5==0 subset of those rows at price+250 (stamped under
    the NEW spec); v5 compacts, restamping everything."""
    from .manifest_table import commit, compact_table, upsert
    from .registry import load_table

    def build(t: str) -> None:
        orders = load_table(spark, sf_dir, "orders")
        cols = ["o_orderkey", "o_totalprice", "o_orderpriority"]
        base = orders.where(F.col("o_orderkey") % 3 == 0).select(*cols)
        files, parts, spec = stage_files_partitioned(
            spark, base, t, [{"transform": "truncate", "col": "o_orderkey", "w": 1000}]
        )
        commit(
            t, files, expected_version=0, txn_id="evo-v1",
            partition_spec=spec, partitions=parts,
            changes={"inserted": [{"files": files, "schema": None}], "deleted": []},
        )
        append_partitioned(
            spark, t,
            orders.where(F.col("o_orderkey") % 3 == 1).select(*cols),
            txn_id="evo-v2",
        )
        evolve_partition_spec(spark, t, [{"transform": "bucket", "col": "o_orderkey", "n": 4}])
        upd = (
            orders.where((F.col("o_orderkey") % 3 < 2) & (F.col("o_orderkey") % 5 == 0))
            .select(
                "o_orderkey",
                (F.col("o_totalprice") + F.lit(250.0)).alias("o_totalprice"),
                "o_orderpriority",
            )
        )
        upsert(spark, t, upd, ["o_orderkey"], txn_id="evo-v4")
        compact_table(spark, t)

    return materialize_once("evospec", sf_dir, build)


@query(
    "q_table_spec_evolution",
    oracle=f"""
SELECT 'current' AS probe,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       {_PART_DSUM} AS total
FROM (SELECT CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 250.0
                  ELSE o_totalprice END AS p
      FROM orders WHERE o_orderkey % 3 < 2)
UNION ALL
SELECT 'as_of_v2',
       CAST(COUNT(*) AS BIGINT),
       {_PART_DSUM}
FROM (SELECT o_totalprice AS p FROM orders WHERE o_orderkey % 3 < 2)
ORDER BY probe
""",
    group="sources",
)
def q_table_spec_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-spec EVOLUTION end-to-end: a truncate-partitioned
    orders table takes a partitioned append, evolves its spec to
    bucket(4, key) in one metadata commit (zero data movement — since
    r10 the full Iceberg model: the spec HISTORY is recorded and every
    fileset carries the id of the spec its tuples were stamped under,
    so pre-evolution files KEEP pruning under their old transforms and
    can never be mis-pruned under the new ones), absorbs a keyed upsert
    stamped under the NEW spec, and compacts (restamping everything).
    The current snapshot AND the pre-evolution v2 time-travel read are
    summarized; the oracle recomputes both from raw ``orders``.  A spec
    change that moved rows, double-applied the upsert, broke time
    travel, or mispruned any probe changes the sums.  Scale shape: spec
    evolution is one manifest-LIST write at any table size (segments
    untouched); pruning stays exact per era (SCALE.md #40)."""
    prepare(spark)
    from ..operators.common import dsum

    t = _evospec_table(spark, sf_dir)
    from .manifest_table import snapshot as snap

    def summarize(label: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(label).alias("probe"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            dsum(F.col("o_totalprice")).alias("total"),
        ).select("probe", "n_rows", "total")

    return (
        summarize("current", snap(spark, t))
        .unionByName(summarize("as_of_v2", snap(spark, t, 2)))
        .orderBy("probe")
    )
