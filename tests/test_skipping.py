"""File-stats data skipping + Z-order clustering (sources/skipping.py):
footer-derived stats, pruning soundness (never lose a row), Z-order
effectiveness (the clustered layout prunes, the arbitrary one doesn't),
and the Morton-curve bit interleave itself."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from anglerfish_spark.sources.manifest_table import read_manifest
from anglerfish_spark.sources.skipping import (
    _SHIP_HI,
    _SHIP_LO,
    _part_window,
    _skip_table,
    collect_file_stats,
    commit_with_stats,
    prune_files,
    scan_pruned,
    stage_files,
    zorder_compact,
    zvalue,
)

from .conftest import SF_DIR


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def stats_table(spark, tmp_path_factory):
    """100-row two-column table committed in 4 files with stats, then
    Z-order compacted into 4 files (v2)."""
    t = str(tmp_path_factory.mktemp("skip") / "t")
    df = spark.range(100).select(
        F.col("id").alias("x"),
        ((F.col("id") * 37) % 100).alias("y"),
        F.date_add(F.lit(dt.date(2024, 1, 1)), F.col("id").cast("int")).alias("d"),
    )
    files = stage_files(df.repartition(4), t)
    commit_with_stats(spark, t, files, ["x", "y", "d"], expected_version=0)
    zorder_compact(spark, t, ["x", "y"], n_files=4, stat_cols=["x", "y", "d"])
    return t


class TestFooterStats:
    def test_stats_recorded_in_manifest(self, stats_table):
        m = read_manifest(stats_table, 1)
        assert set(m["stats"]) == set(m["files"])
        assert sum(s["n_rows"] for s in m["stats"].values()) == 100
        for s in m["stats"].values():
            xs = s["cols"]["x"]
            assert 0 <= xs["min"] <= xs["max"] <= 99 and xs["nulls"] == 0

    def test_date_stats_iso_encoded(self, stats_table):
        m = read_manifest(stats_table, 1)
        mins = [s["cols"]["d"]["min"] for s in m["stats"].values()]
        assert min(mins) == "2024-01-01"

    def test_missing_column_stats_are_none(self, spark, stats_table):
        files = read_manifest(stats_table, 1)["files"]
        st = collect_file_stats(stats_table, files[:1], ["nope"])
        assert next(iter(st.values()))["cols"]["nope"] is None


class TestPruningSoundness:
    """Pruned scan == unpruned filtered scan for every probed window."""

    @pytest.mark.parametrize(
        "preds",
        [
            {"x": (10, 30)},
            {"x": (10, 30), "y": (0, 50)},
            {"y": (90, None)},
            {"x": (None, 5)},
            {"d": (dt.date(2024, 2, 1), dt.date(2024, 2, 15))},
            {"x": (1000, 2000)},  # provably empty
        ],
    )
    def test_pruned_equals_full_filter(self, spark, stats_table, preds):
        from anglerfish_spark.sources.manifest_table import snapshot

        df, report = scan_pruned(spark, stats_table, preds)
        full = snapshot(spark, stats_table)
        for c, (lo, hi) in preds.items():
            if lo is not None:
                full = full.where(F.col(c) >= F.lit(lo))
            if hi is not None:
                full = full.where(F.col(c) <= F.lit(hi))
        assert _rows(df) == _rows(full)
        assert report["files_kept"] <= report["files_total"] == 4

    def test_empty_window_scans_zero_files(self, spark, stats_table):
        df, report = scan_pruned(spark, stats_table, {"x": (1000, 2000)})
        assert report["files_kept"] == 0
        assert df.count() == 0
        assert df.columns == ["x", "y", "d"]

    def test_missing_stats_never_prune(self, spark, stats_table):
        # a column without stats in the manifest keeps every file
        _, report = scan_pruned(spark, stats_table, {"d": (None, None)})
        assert report["files_kept"] == 4


class TestZOrder:
    def test_zvalue_is_morton_interleave(self, spark):
        # bounds 0..3 over 2 cols: rank = value scaled to 16 bits; verify
        # against a pure-Python Morton reference on the same normalization
        df = spark.createDataFrame(
            [(x, y) for x in range(4) for y in range(4)], ["x", "y"]
        )
        got = {
            (r["x"], r["y"]): r["z"]
            for r in df.withColumn("z", zvalue(df, ["x", "y"])).collect()
        }

        def ref(x, y):
            top = (1 << 16) - 1
            rx = min(top, int(x / 3 * top))
            ry = min(top, int(y / 3 * top))
            z = 0
            for i in range(16):
                z |= ((rx >> i) & 1) << (2 * i + 1)
                z |= ((ry >> i) & 1) << (2 * i)
            return z

        assert got == {(x, y): ref(x, y) for x in range(4) for y in range(4)}

    def test_zorder_prunes_2d_box(self, spark, stats_table):
        # a quadrant box keeps a strict subset of Z-ordered files but ALL
        # arbitrarily-laid-out v1 files (x and (37x mod 100) decorrelate)
        preds = {"x": (0, 24), "y": (0, 24)}
        kept1, total1 = prune_files(stats_table, preds, version=1)
        kept2, total2 = prune_files(stats_table, preds, version=2)
        assert total1 == total2 == 4
        assert len(kept2) < len(kept1)

    def test_compaction_is_logical_noop(self, spark, stats_table):
        from anglerfish_spark.sources.manifest_table import snapshot

        assert _rows(snapshot(spark, stats_table, 1)) == _rows(
            snapshot(spark, stats_table, 2)
        )


class TestRegisteredQuery:
    def test_skip_table_zorder_beats_arbitrary_layout(self, spark):
        import os

        from anglerfish_spark.sources import standin

        t = _skip_table(spark, SF_DIR)
        # built through the one memo: under the stand-in root removed at exit
        assert t.startswith(standin._ROOT + os.sep)
        preds = {
            "l_shipdate": (_SHIP_LO, _SHIP_HI),
            "l_partkey": _part_window(t),
        }
        kept1, total = prune_files(t, preds, version=1)
        kept2, _ = prune_files(t, preds, version=2)
        # arbitrary layout: every file spans the domain -> stats keep all;
        # Z-ordered: the year x octile box touches a small corner
        assert len(kept1) == total == 16
        assert len(kept2) <= total // 4

    def test_pruned_scan_reads_only_kept_files(self, spark):
        t = _skip_table(spark, SF_DIR)
        preds = {
            "l_shipdate": (_SHIP_LO, _SHIP_HI),
            "l_partkey": _part_window(t),
        }
        df, report = scan_pruned(spark, t, preds)
        assert len(df.inputFiles()) == report["files_kept"] < report["files_total"]
