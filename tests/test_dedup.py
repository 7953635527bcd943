"""Unit tests for duplicate-cluster resolution (connected components).

ADVICE r1: the label-propagation loop capped at max_iter=15 silently
returned partial labels on components with diameter > 15.  The fix adds
pointer jumping (O(log diameter) rounds) and raises ConvergenceError
instead of returning partial results.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from anglerfish_spark.errors import ConvergenceError
from anglerfish_spark.operators.dedup import connected_components


def _path_graph(spark, n: int):
    """Chain 0-1-2-…-(n-1): one component of diameter n-1."""
    return spark.range(n - 1).select(
        F.col("id").alias("a"), (F.col("id") + 1).alias("b")
    )


class TestConnectedComponents:
    def test_long_chain_converges_in_log_rounds(self, spark):
        # diameter 299 — min-label propagation alone needs 299 rounds; with
        # pointer jumping the default max_iter=15 (2^15 reach) is ample
        labels = connected_components(_path_graph(spark, 300), "a", "b")
        rows = labels.collect()
        assert len(rows) == 300
        assert all(r["label"] == 0 for r in rows)

    def test_multiple_components(self, spark):
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)], ["a", "b"]
        )
        labels = {r["node"]: r["label"] for r in connected_components(pairs, "a", "b").collect()}
        assert labels == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}

    def test_nonconvergence_raises(self, spark):
        with pytest.raises(ConvergenceError, match="did not converge"):
            connected_components(_path_graph(spark, 64), "a", "b", max_iter=2)


class TestHeavyHitters:
    """Misra-Gries candidates + exact verify: result must be exact under
    any partitioning (the sketch only bounds the candidate set)."""

    def test_exact_under_adversarial_partitioning(self, spark):
        from pyspark.sql import functions as F

        from anglerfish_spark.operators.sketch import heavy_hitters

        # 'hot' is 2% of tokens but spread thin across 16 partitions, the
        # worst case for a per-partition sketch; filler is near-uniform
        rows = []
        for i in range(4000):
            toks = [f"w{i % 997}", f"w{(i * 7) % 997}", "hot" if i % 25 == 0 else f"w{(i * 13) % 997}"]
            rows.append((" ".join(toks),))
        docs = spark.createDataFrame(rows, ["text"]).repartition(16)
        got = {r["token"]: r["cnt"] for r in heavy_hitters(docs, theta=0.01).collect()}
        assert got == {"hot": 160}  # 4000*3 tokens, hot=160 = 1.33% > 1%

    def test_no_false_positives(self, spark):
        from anglerfish_spark.operators.sketch import heavy_hitters

        docs = spark.createDataFrame(
            [(f"u{i} u{i+1} u{i+2}",) for i in range(1000)], ["text"]
        ).repartition(8)
        assert heavy_hitters(docs, theta=0.01).count() == 0


class TestLshBucketCap:
    """Skew guard on the LSH band join: a degenerate hot bucket (many docs
    sharing a band key) must be quarantined out of the self-join instead of
    exploding O(n²) — the 100 TB scale-killer VERDICT r3 flagged."""

    def _docs(self, spark):
        # 40 identical docs → every band key collides (one hot bucket per
        # band); plus 3 pairs of distinct near-identical docs that share
        # buckets of size 2 each
        rows = [(i, "the same boilerplate text repeated across many documents endlessly") for i in range(40)]
        for j, txt in enumerate(
            [
                "alpha beta gamma delta epsilon zeta eta theta",
                "one two three four five six seven eight nine",
                "red orange yellow green blue indigo violet ultraviolet",
            ]
        ):
            rows.append((100 + 2 * j, txt))
            rows.append((101 + 2 * j, txt))
        return spark.createDataFrame(rows, ["doc_id", "text"])

    def test_cap_quarantines_hot_bucket(self, spark):
        from anglerfish_spark.operators.dedup import (
            lsh_bands,
            lsh_candidate_pairs,
            lsh_hot_buckets,
        )

        docs = self._docs(spark)
        capped = lsh_candidate_pairs(docs, max_bucket=10).collect()
        # the 40-doc boilerplate cluster (780 pairs/band uncapped) is gone;
        # the three 2-doc buckets survive untouched
        got = {(r["doc_a"], r["doc_b"]) for r in capped}
        assert got == {(100, 101), (102, 103), (104, 105)}
        hot = lsh_hot_buckets(lsh_bands(docs), 10).collect()
        assert len(hot) > 0 and all(r["bucket_n"] == 40 for r in hot)

    def test_uncapped_explodes(self, spark):
        from anglerfish_spark.operators.dedup import lsh_candidate_pairs

        docs = self._docs(spark)
        n = lsh_candidate_pairs(docs, max_bucket=None).count()
        assert n == 780 + 3  # C(40,2) boilerplate pairs + the 3 honest pairs

    def test_default_cap_no_op_on_testdata(self, spark, sf_dir):
        """LSH_MAX_BUCKET=1000 must not change the candidate set at test
        scale (max observed occupancy is 10 at sf0.1)."""
        from anglerfish_spark.operators.dedup import lsh_candidate_pairs
        from anglerfish_spark.sources.registry import load_table

        d = load_table(spark, sf_dir, "documents")
        capped = {(r["doc_a"], r["doc_b"]) for r in lsh_candidate_pairs(d).collect()}
        raw = {
            (r["doc_a"], r["doc_b"])
            for r in lsh_candidate_pairs(d, max_bucket=None).collect()
        }
        assert capped == raw

    def test_occupancy_window_reuses_join_partitioning(self, spark):
        """The guard's plan shape: bucket occupancy is a window count
        partitioned by the JOIN key itself (band_id, band_key), filtered
        BEFORE the self-join.  The window's hash partitioning satisfies the
        join's distribution requirement, so no exchange sits between the
        Window and the join, and at runtime AQE reuses the (canonically
        identical) band exchange so the minhash lineage runs once."""
        from anglerfish_spark.operators.dedup import lsh_candidate_pairs

        df = lsh_candidate_pairs(self._docs(spark), max_bucket=10)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # occupancy is a window count over the join key, not a second agg branch
        assert "Window [count(1)" in plan, plan
        assert "windowspecdefinition(band_id" in plan, plan
        # over-cap rows filtered out before the join
        assert "bucket_n" in plan and "<= 10" in plan, plan
        # no anti-join / broadcast of a hot list — the filter IS the guard
        assert "LeftAnti" not in plan, plan
        # the only exchanges below the join are the band-key partitioning:
        # nothing re-shuffles between Window and the self-join
        join_section = plan.split("SortMergeJoin")[-1] if "SortMergeJoin" in plan else plan
        for line in join_section.splitlines():
            if "Exchange" in line:
                assert "hashpartitioning(band_id" in line, line
        # runtime: AQE dedupes the two identical band exchanges, so the
        # signature lineage (the CPU hot spot) is computed once
        df.collect()
        final = df._jdf.queryExecution().executedPlan().toString()
        assert "ReusedExchange" in final or final.count("Exchange hashpartitioning(band_id") <= 1, final


class TestBloomBuild:
    """Distributed Bloom-filter build (VERDICT r5 #1): the build must be a
    word-level bit_or aggregation — no index-cardinality rows on the
    driver — with an incremental-maintenance path equal to a rebuild."""

    def _fps(self, spark, lo: int, hi: int):
        return spark.range(lo, hi).select(F.md5(F.col("id").cast("string")).alias("fp"))

    def test_build_matches_naive(self, spark):
        from anglerfish_spark.operators.dedup import IDX_BLOOM_K, _fp_pos, bloom_build

        m = 256
        fps = self._fps(spark, 0, 100)
        bits = bloom_build(fps, m)
        pos = {
            r["p"]
            for r in fps.select(
                F.explode(
                    F.array(*[_fp_pos(F.col("fp"), i, m) for i in range(1, IDX_BLOOM_K + 1)])
                ).alias("p")
            ).collect()
        }
        assert bits == bytes(0x31 if b in pos else 0x30 for b in range(m))

    def test_empty_index_sizing_matches_oracle(self, spark):
        """ADVICE r5: m for an empty index must equal the oracle's
        POWER(2, length(bin(10*COUNT(*)))) = 2, not 16."""
        import duckdb

        for n in (0, 1, 7, 4500):
            m_py = 1 << max((10 * n).bit_length(), 1)
            (m_sql,) = duckdb.sql(
                f"SELECT CAST(POWER(2, length(bin(10 * {n}))) AS BIGINT)"
            ).fetchone()
            assert m_py == m_sql, (n, m_py, m_sql)

    def test_incremental_add_equals_rebuild(self, spark):
        from anglerfish_spark.operators.dedup import bloom_add, bloom_build

        m = 512
        day1 = self._fps(spark, 0, 200)
        day2 = self._fps(spark, 200, 260)
        f1 = bloom_build(day1, m)
        assert bloom_add(f1, day2) == bloom_build(day1.unionAll(day2), m)

    def test_broadcast_probe_matches_literal(self, spark, monkeypatch):
        from anglerfish_spark.operators.dedup import bloom_build, bloom_probe

        m = 1024
        idx = self._fps(spark, 0, 300)
        probes = self._fps(spark, 250, 400)
        bits = bloom_build(idx, m)
        lit = probes.select("fp", bloom_probe(spark, F.col("fp"), bits).alias("maybe"))
        lit_rows = {(r["fp"], r["maybe"]) for r in lit.collect()}
        monkeypatch.setenv("ANGLERFISH_BLOOM_LITERAL_MAX", "1")
        bc = probes.select("fp", bloom_probe(spark, F.col("fp"), bits).alias("maybe"))
        assert {(r["fp"], r["maybe"]) for r in bc.collect()} == lit_rows
        # contract: every true member is bloom-positive on both paths
        members = {r["fp"] for r in idx.collect()}
        for fp, maybe in lit_rows:
            if fp in members:
                assert maybe

    def test_build_plan_is_partial_word_aggregation(self, spark):
        """Plan assertion: partial (map-side) bit_or before the exchange,
        exchange keyed on the word index — the shuffle carries at most
        m/64 word rows per map partition, never index-cardinality rows."""
        from anglerfish_spark.operators.dedup import bloom_words_df

        df = bloom_words_df(self._fps(spark, 0, 1000), 4096)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "partial_bit_or" in plan, plan
        assert (
            "hashpartitioning(w" in plan
            or "Exchange hashpartitioning(_groupingexpression" in plan
        ), plan
        # and the query source no longer contains a distinct-positions collect
        import inspect

        from anglerfish_spark.operators import dedup as mod

        src = inspect.getsource(mod.q_dedup_bloom_incremental)
        assert "pos_rows" not in src and ".collect()" not in src
        assert "bloom_build" in src and "bloom_probe" in src


class TestCanonicalizeUrl:
    """Unit battery for the r11-tightened URL canonicalization spec
    (ADVICE r10 #1 / VERDICT r10 #7): default ports anchored to the
    authority (incl. end-of-string), no dangling separators after utm
    removal, param order-normalization, engine-vs-reference differential."""

    CASES = [
        ("http://Example.COM:80/Path/", "http://example.com/path"),
        ("http://host.com:80", "http://host.com"),           # port at authority end
        ("http://host.com:80?a=1", "http://host.com?a=1"),   # port before query
        ("https://host.com:443/x", "https://host.com/x"),
        ("https://host.com:80/x", "https://host.com:80/x"),  # :80 not default for https
        ("http://host.com:443/x", "http://host.com:443/x"),  # :443 not default for http
        ("http://host.com/a:80/b", "http://host.com/a:80/b"),  # :80 in path untouched
        ("http://host.com/p?utm_a=1&b=2", "http://host.com/p?b=2"),  # no dangling &
        ("http://host.com/p?b=2&a=1", "http://host.com/p?a=1&b=2"),  # sorted
        ("http://host.com/p?utm_a=1", "http://host.com/p"),
        ("http://host.com/p?a=1&utm_b=2&c=3#frag", "http://host.com/p?a=1&c=3"),
        ("http://host.com/?utm_x=1", "http://host.com"),
        ("http://host.com/p/?x=80:80", "http://host.com/p?x=80:80"),  # :80 in value
        ("http://host.com:8080/p", "http://host.com:8080/p"),  # non-default port kept
        # literal '?' inside a param value (ADVICE r11 #3): the query is
        # everything after the FIRST '?', never truncated at the second
        ("http://host.com/p?q=what?x&a=1", "http://host.com/p?a=1&q=what?x"),
        ("http://host.com?q=a?b", "http://host.com?q=a?b"),
    ]

    @staticmethod
    def _ref(u: str) -> str:
        """Python reference implementation of the documented 5-rule spec."""
        import re

        c = re.sub(r"#.*$", "", u).lower()
        c = re.sub(r"^(http://[^/?]*):80([/?]|$)", r"\1\2", c)
        c = re.sub(r"^(https://[^/?]*):443([/?]|$)", r"\1\2", c)
        base, _, q = c.partition("?")
        base = re.sub(r"/$", "", base)
        params = sorted(
            p for p in q.split("&") if p and not re.match(r"utm_[a-z_]+=", p)
        )
        return base + ("?" + "&".join(params) if params else "")

    def _canon(self, spark, urls):
        from anglerfish_spark.localdata import local_df
        from anglerfish_spark.operators.dedup import canonicalize_url

        df = local_df(spark, [(u,) for u in urls], ["u"])
        return [r.c for r in df.select(canonicalize_url(F.col("u")).alias("c")).collect()]

    def test_handpicked_rules(self, spark):
        got = self._canon(spark, [u for u, _ in self.CASES])
        for (u, want), g in zip(self.CASES, got):
            assert g == want, f"{u!r}: {g!r} != {want!r}"

    def test_reference_differential(self, spark):
        """200 seeded random messy URLs: Spark's regex/array engine must
        agree with the Python reference on every one."""
        import random

        rng = random.Random(20261)
        parts = ["utm_source=feed", "utm_campaign=x", "a=1", "b=2", "ref=abc",
                 "x=80:80", "utm_medium=mail", "q=what?x"]
        urls = []
        for _ in range(200):
            scheme = rng.choice(["http", "https"])
            host = rng.choice(["Host", "host", "hOsT"]) + str(rng.randrange(4)) + ".com"
            port = rng.choice(["", ":80", ":443", ":8080"])
            path = rng.choice(["", "/p", "/p/q", "/a:80/b"])
            slash = rng.choice(["", "/"])
            ps = rng.sample(parts, rng.randrange(len(parts)))
            q = "?" + "&".join(ps) if ps else ""
            frag = rng.choice(["", "#top", "#a?b&c"])
            urls.append(f"{scheme}://{host}{port}{path}{slash}{q}{frag}")
        got = self._canon(spark, urls)
        for u, g in zip(urls, got):
            assert g == self._ref(u), f"{u!r}: {g!r} != {self._ref(u)!r}"


class TestGramHashesBatchedR13Opt:
    """r13-opt: gram_hashes hashes the whole Arrow batch's tokens with
    ONE hash_array call and a global rolling polynomial — pin it
    bit-identical to the per-doc reference over real-ish and edge-case
    token lists (None docs, empty docs, docs shorter than n, docs of
    exactly n, repeated tokens across doc boundaries)."""

    @staticmethod
    def _ref(token_lists, n):
        import numpy as np
        import pandas as pd

        prime = np.uint64(1099511628211)
        out = []
        for t in token_lists:
            arr = np.asarray(t if t is not None else [], dtype=object)
            m = arr.size - (n - 1)
            if m <= 0:
                out.append([])
                continue
            h = pd.util.hash_array(arr).astype(np.uint64)
            g = np.zeros(m, dtype=np.uint64)
            for j in range(n):
                g = g * prime + h[j : j + m]
            out.append(g.view(np.int64).tolist())
        return out

    def test_batched_matches_per_doc(self, spark):
        import random

        from pyspark.sql import functions as F

        from anglerfish_spark.operators.dedup import gram_hashes

        rng = random.Random(13)
        vocab = [f"w{i}" for i in range(50)]
        docs = []
        for i in range(120):
            if i % 37 == 0:
                docs.append(None)
            elif i % 11 == 0:
                docs.append([])
            else:
                # lengths straddle n for every n under test; repeated
                # runs force equal windows in different docs
                ln = rng.choice([1, 3, 7, 8, 9, 20, 100])
                docs.append(
                    [rng.choice(vocab) for _ in range(ln)]
                    if i % 2
                    else ["same"] * ln
                )
        for n in (2, 3, 8):
            df = spark.createDataFrame(
                [(i, d) for i, d in enumerate(docs)], "i long, toks array<string>"
            )
            got = {
                r["i"]: r["g"]
                for r in df.select(
                    "i", gram_hashes(F.col("toks"), n).alias("g")
                ).collect()
            }
            ref = self._ref(docs, n)
            for i in range(len(docs)):
                assert got[i] == ref[i], (n, i, docs[i])


class TestBloomProbeHexR13Opt:
    """r13-opt: the broadcast-path Bloom probe parses fingerprints with
    a vectorized hex decode — pin it against per-row int(f, 16) through
    the REAL query path by forcing the broadcast path with
    ANGLERFISH_BLOOM_LITERAL_MAX=0 and comparing to the literal path."""

    def test_broadcast_path_matches_literal_path(self, spark, monkeypatch):
        import hashlib

        from pyspark.sql import functions as F

        from anglerfish_spark.operators.dedup import IDX_BLOOM_K, bloom_probe

        fps = [hashlib.md5(str(i).encode()).hexdigest() for i in range(500)]
        m = 1 << 14
        # build a filter over a subset so probes see both outcomes
        bits = bytearray(b"0" * m)
        member = fps[::3]
        for f in member:
            for i in range(IDX_BLOOM_K):
                bits[int(f[8 * i : 8 * i + 8], 16) % m] = 0x31
        filt = bytes(bits)
        df = spark.createDataFrame([(f,) for f in fps], "fp string")
        lit_rows = {
            r["fp"]: r["hit"]
            for r in df.select(
                "fp", bloom_probe(spark, F.col("fp"), filt).alias("hit")
            ).collect()
        }
        monkeypatch.setenv("ANGLERFISH_BLOOM_LITERAL_MAX", "0")
        bc_rows = {
            r["fp"]: r["hit"]
            for r in df.select(
                "fp", bloom_probe(spark, F.col("fp"), filt).alias("hit")
            ).collect()
        }
        assert lit_rows == bc_rows
        for f in member:  # no false negatives by construction
            assert bc_rows[f] is True


class TestAssignCellsBatchR14Opt:
    """r14-opt: the Arrow-batched nearest-centroid assignment must match
    the crossJoin + cosine + row_number expression form bit-for-bit —
    winning cell AND the own-norm double — including ties (duplicate
    centroids), zero vectors (all-NaN scores), and null embeddings."""

    def _expression_form(self, spark, vec_rows, cent_rows):
        from pyspark.sql import Window

        from anglerfish_spark.operators.similarity import cosine, dot

        vecs = spark.createDataFrame(vec_rows, "vec_id long, emb array<double>")
        cents = spark.createDataFrame(cent_rows, "cell_id int, ce array<double>")
        w = Window.partitionBy("vec_id").orderBy(F.col("cscore").desc(), "cell_id")
        out = (
            vecs.crossJoin(F.broadcast(cents))
            .select(
                "vec_id", "emb", "cell_id",
                cosine(F.col("emb"), F.col("ce")).alias("cscore"),
            )
            .withColumn("crn", F.row_number().over(w))
            .where(F.col("crn") == 1)
            .select(
                "vec_id", "cell_id",
                F.sqrt(dot(F.col("emb"), F.col("emb"))).alias("n"),
            )
        )
        return {r["vec_id"]: (r["cell_id"], r["n"]) for r in out.collect()}

    def _batch_form(self, spark, vec_rows, cent_rows):
        from anglerfish_spark.operators.dedup import assign_cells_batch

        vecs = spark.createDataFrame(vec_rows, "vec_id long, emb array<double>")
        out = vecs.select(
            "vec_id", assign_cells_batch(F.col("emb"), cent_rows).alias("a")
        ).select("vec_id", F.col("a.cell_id").alias("cell_id"), F.col("a.n").alias("n"))
        return {r["vec_id"]: (r["cell_id"], r["n"]) for r in out.collect()}

    def test_corpus_assignment_bit_identical(self, spark, sf_dir):
        from anglerfish_spark.sources.registry import load_table

        e = load_table(spark, sf_dir, "embeddings")
        cent_rows = [
            (int(r["vec_id"]), [float(x) for x in r["embedding"]])
            for r in e.where(F.col("vec_id") < 8).collect()
        ]
        vec_rows = [
            (int(r["vec_id"]), [float(x) for x in r["embedding"]])
            for r in e.limit(400).collect()
        ]
        ref = self._expression_form(spark, vec_rows, cent_rows)
        got = self._batch_form(spark, vec_rows, cent_rows)
        assert got == ref  # exact: cell ids AND the norm doubles

    def test_tie_and_null_edges(self, spark):
        # duplicate centroids (exact score tie -> smallest cell_id), a
        # centroid-aligned vector (cosine exactly 1 against two cells),
        # and a NULL embedding
        cent_rows = [
            (0, [1.0, 0.0, 0.0]),
            (1, [1.0, 0.0, 0.0]),   # duplicate of 0
            (2, [0.0, 1.0, 0.0]),
        ]
        vec_rows = [
            (10, [2.0, 0.0, 0.0]),   # ties cells 0/1 at cosine 1.0
            (11, [0.0, 3.0, 0.0]),
            (13, [1.0, 1.0, 0.0]),
            (14, None),              # null embedding
        ]
        ref = self._expression_form(spark, vec_rows, cent_rows)
        got = self._batch_form(spark, vec_rows, cent_rows)
        assert got == ref

    def test_zero_norm_raises_both_forms(self, spark):
        # ANSI posture: the expression form raises DIVIDE_BY_ZERO on a
        # zero-norm cosine; the batch form raises its own loud error
        # (exception class differs -- Python worker vs JVM -- but neither
        # silently assigns a cell)
        import pytest as _pytest

        cent_rows = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
        vec_rows = [(10, [0.0, 0.0])]
        with _pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
            self._expression_form(spark, vec_rows, cent_rows)
        with _pytest.raises(Exception, match="zero-norm|DIVIDE_BY_ZERO"):
            self._batch_form(spark, vec_rows, cent_rows)


class TestCurationMergedCheckpointsR14Opt:
    """The r14-opt checkpoint merges in q_curation_full (base+s1 ranked in
    ONE eager job; removed2/surv2 as a flagged split of one checkpoint):
    the instrumented stage split still reports every stage, and the output
    matches the DuckDB oracle with instrumentation ON (the merge changed
    WHICH frames checkpoint, so the instrumented path is the changed path)."""

    def test_stages_and_oracle_with_instrumentation(self, spark, monkeypatch):
        from anglerfish_spark.operators import dedup
        from tests.conftest import SF_DIR
        from tests.oracle_harness import duckdb_conn, compare
        from anglerfish_spark.registry import all_queries

        monkeypatch.setenv("ANGLERFISH_CURATION_STAGES", "1")
        qd = all_queries()["q_curation_full"]
        ok, msg = compare(qd.fn(spark, SF_DIR), duckdb_conn(SF_DIR), qd.oracle)
        assert ok, msg
        assert set(dedup.CURATION_STAGE_SECONDS) == {
            "1_exact", "2_near", "3_semantic", "4_substr"
        }

    def test_near_removed_is_subset_of_exact_survivors(self, spark):
        """The 2_near checkpoint flags removed docs with a LEFT join onto
        surv1, which is exact only if every distinct LSH doc_b of d1 is
        in surv1 (removed2 ⊆ surv1).  Build surv1 and d1 as the query
        does and check the anti-join is empty — and that it is not
        vacuously so."""
        from pyspark.sql import Window

        from anglerfish_spark.operators.dedup import lsh_candidate_pairs
        from anglerfish_spark.operators.text import tokens
        from anglerfish_spark.session import prepare
        from anglerfish_spark.sources.registry import load_table
        from tests.conftest import SF_DIR

        prepare(spark)
        d = load_table(spark, SF_DIR, "documents", fanout=True)
        tok = tokens()
        fp = F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tok))).cast("binary"))
        ranked = d.select("doc_id", fp.alias("fp")).withColumn(
            "rn", F.row_number().over(Window.partitionBy("fp").orderBy("doc_id"))
        )
        surv1 = ranked.where(F.col("rn") == 1).select("doc_id")
        d1 = d.join(surv1, "doc_id", "left_semi")
        removed2 = (
            lsh_candidate_pairs(d1).select(F.col("doc_b").alias("doc_id")).distinct()
        )
        assert removed2.count() > 0
        assert removed2.join(surv1, "doc_id", "left_anti").count() == 0
