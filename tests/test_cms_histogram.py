"""Count-Min Sketch and histogram-quantile sketch: merge==whole equivalence,
the CMS one-sided error guarantee, histogram bin-width error bound, and
cross-engine determinism of both entries (via tests/test_entry.py's
parametrized oracle gate — these are the operator-level pins)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from neural_search_spark.operators.cms import (
    cms_estimate,
    cms_merge,
    cms_partial,
    cms_topk,
)
from neural_search_spark.operators.histogram import (
    hist_merge,
    hist_partial,
    hist_quantile_sketch,
    hist_quantiles,
)


@pytest.fixture(scope="module")
def stream(spark):
    # zipf-ish frequencies: value v_i appears (40 - i) times, i in [0, 40)
    rows = [(f"v{i:02d}",) for i in range(40) for _ in range(40 - i)]
    return spark.createDataFrame(rows, "val string")


def _exact_counts(stream):
    return {
        r["val"]: r["cnt"]
        for r in stream.groupBy("val").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }


class TestCms:
    def test_estimate_never_undercounts_and_bounds_overcount(self, spark, stream):
        exact = _exact_counts(stream)
        sketch = cms_partial(stream, "val", d=4, w=64)
        est = {
            r["val"]: r["est_count"]
            for r in cms_estimate(
                sketch, stream.select("val").distinct(), "val", d=4, w=64
            ).collect()
        }
        total = sum(exact.values())
        assert set(est) == set(exact)
        for v, c in exact.items():
            assert est[v] >= c  # CMS never undercounts
            # overestimate bounded well below eps*total with these params
            assert est[v] - c <= total

    def test_exact_when_no_collisions(self, spark, stream):
        # w >> distincts: every estimate equals the true count
        exact = _exact_counts(stream)
        sketch = cms_partial(stream, "val", d=4, w=4096)
        est = {
            r["val"]: r["est_count"]
            for r in cms_estimate(
                sketch, stream.select("val").distinct(), "val", d=4, w=4096
            ).collect()
        }
        assert est == exact

    def test_merge_of_slices_equals_whole(self, spark, stream):
        whole = cms_partial(stream, "val", d=4, w=64)
        sliced = stream.withColumn(
            "slice", (F.length("val") + F.ascii(F.substring("val", 3, 1))) % 3
        )
        partials = cms_partial(sliced, "val", group_cols=["slice"], d=4, w=64)
        merged = cms_merge(partials, group_cols=[])
        a = sorted((r["depth"], r["bucket"], r["cnt"]) for r in whole.collect())
        b = sorted((r["depth"], r["bucket"], r["cnt"]) for r in merged.collect())
        assert a == b

    def test_weighted_equals_exploded(self, spark, stream):
        # a (val, weight) pre-agg sketches identically to the raw stream
        weighted = stream.groupBy("val").agg(F.count(F.lit(1)).alias("wgt"))
        a = sorted(
            (r["depth"], r["bucket"], r["cnt"])
            for r in cms_partial(stream, "val", d=3, w=32).collect()
        )
        b = sorted(
            (r["depth"], r["bucket"], r["cnt"])
            for r in cms_partial(weighted, "val", weight_col="wgt", d=3, w=32).collect()
        )
        assert a == b

    def test_topk_ranks_heavy_hitters_first(self, spark, stream):
        top = cms_topk(
            stream, "val", stream.select("val").distinct(), k=5, d=4, w=4096
        ).collect()
        assert [r["val"] for r in top] == ["v00", "v01", "v02", "v03", "v04"]
        assert [r["rank"] for r in top] == [1, 2, 3, 4, 5]

    def test_absent_candidate_estimates_small(self, spark, stream):
        sketch = cms_partial(stream, "val", d=4, w=2048)
        cand = spark.createDataFrame([("never-seen",)], "val string")
        [row] = cms_estimate(sketch, cand, "val", d=4, w=2048).collect()
        # min-over-depths of mostly-empty buckets: tiny or zero
        assert 0 <= row["est_count"] <= 40


@pytest.fixture(scope="module")
def values(spark):
    # deterministic skewed doubles in [0, 99.9]: i*i mod 999 over 2000 rows
    rows = [(i % 4, float((i * i) % 999) / 10.0) for i in range(2000)]
    return spark.createDataFrame(rows, "grp int, x double")


class TestHistogram:
    def test_quantiles_within_bin_width(self, spark, values):
        nbins = 128
        ests = hist_quantile_sketch(
            values, "x", [0.5, 0.9, 0.99], group_cols=["grp"], nbins=nbins
        ).collect()
        exact = {
            (r["grp"], q): r[f"q{int(q * 100)}"]
            for q in (0.5, 0.9, 0.99)
            for r in values.groupBy("grp")
            .agg(F.percentile("x", q).alias(f"q{int(q * 100)}"))
            .collect()
        }
        assert len(ests) == 12  # 4 groups x 3 quantiles
        for r in ests:
            lo_hi = 99.9  # frame width per group ~ [0, 99.9]
            assert abs(r["est"] - exact[(r["grp"], r["q"])]) <= 2 * lo_hi / nbins

    def test_merge_of_slices_equals_whole(self, spark, values):
        bounds = (0.0, 100.0)
        whole = hist_partial(values, "x", nbins=64, bounds=bounds)
        sliced = values.withColumn("slice", (F.col("x") * 7).cast("long") % 3)
        partials = hist_partial(
            sliced, "x", group_cols=["slice"], nbins=64, bounds=bounds
        )
        merged = hist_merge(partials, group_cols=[])
        a = sorted((r["bin"], r["cnt"]) for r in whole.collect())
        b = sorted((r["bin"], r["cnt"]) for r in merged.collect())
        assert a == b
        qa = hist_quantiles(whole, [0.5, 0.9], nbins=64).collect()
        qb = hist_quantiles(merged, [0.5, 0.9], nbins=64).collect()
        assert sorted((r["q"], r["est"]) for r in qa) == sorted(
            (r["q"], r["est"]) for r in qb
        )

    def test_merge_refuses_mixed_frames(self, spark, values):
        p1 = hist_partial(values, "x", nbins=64, bounds=(0.0, 100.0))
        p2 = hist_partial(values, "x", nbins=64, bounds=(0.0, 50.0))
        with pytest.raises(ValueError, match="frames"):
            hist_merge(p1.unionByName(p2), group_cols=[])

    def test_partial_is_bin_bounded(self, spark, values):
        p = hist_partial(values, "x", group_cols=["grp"], nbins=32)
        assert p.count() <= 4 * 32
        assert p.groupBy("grp").count().agg(F.max("count")).collect()[0][0] <= 32

    def test_degenerate_single_value(self, spark):
        one = spark.createDataFrame([(5.0,)] * 10, "x double")
        [r] = hist_quantile_sketch(one, "x", [0.5], nbins=16).collect()
        # hi == lo: everything lands in bin 0 and the estimate is lo itself
        assert r["est"] == 5.0


def test_cli_sketch_verbs(spark, tmp_path):
    """`cli sketch hll|cms|quantiles` — the spark-submit surface of the
    sketch tier: writes the durable partial, prints one JSON line, and the
    written partial finishes to the same estimate in-process."""
    import json
    import subprocess
    import sys

    from neural_search_spark.operators.sketches import hll_cardinality, hll_estimate

    src = str(tmp_path / "docs")
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").write.parquet(src)
    out = str(tmp_path / "hll_partial")
    proc = subprocess.run(
        [sys.executable, "-m", "neural_search_spark.cli", "sketch", "hll",
         "--input", src, "--value-col", "text", "--output", out],
        capture_output=True, text=True, timeout=300, cwd="/root/repo",
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = json.loads(proc.stdout.strip().splitlines()[-1])
    docs = spark.read.parquet(src)
    [whole] = hll_cardinality(docs, "text").collect()
    assert line["est_distinct"] == whole["est_distinct"]
    # the written partial is the durable sketch: finishing it reproduces
    # the estimate without rescanning the data
    [from_partial] = hll_estimate(spark.read.parquet(out)).collect()
    assert from_partial["est_distinct"] == whole["est_distinct"]


def test_hist_quantiles_rejects_out_of_range_q(spark, values):
    with pytest.raises(ValueError, match=r"\(0, 1\]"):
        hist_quantile_sketch(values, "x", [0.0, 0.5], nbins=16).collect()
    from neural_search_spark.operators.histogram import hist_sql

    with pytest.raises(ValueError, match=r"\(0, 1\]"):
        hist_sql("x", "t", [1.5])


def test_cms_estimate_grouped_emits_zero_rows_for_absent_candidates(spark):
    from neural_search_spark.operators.cms import cms_estimate_grouped

    stream = spark.createDataFrame(
        [("g1", "a"), ("g1", "a"), ("g2", "b")], "grp string, val string"
    )
    sketch = cms_partial(stream, "val", group_cols=["grp"], d=4, w=64)
    cand = spark.createDataFrame([("a",), ("b",), ("zzz",)], "val string")
    est = {
        (r["grp"], r["val"]): r["est_count"]
        for r in cms_estimate_grouped(sketch, cand, ["grp"], d=4, w=64).collect()
    }
    # full domain: every (group, candidate) pair present, zeros not omitted
    assert est == {
        ("g1", "a"): 2, ("g1", "b"): 0, ("g1", "zzz"): 0,
        ("g2", "a"): 0, ("g2", "b"): 1, ("g2", "zzz"): 0,
    }


def _run_sketch(*a, expect=0, want_stderr=False):
    """Drive `cli sketch ...` through spark-submit-equivalent subprocess; one
    helper for every CLI sketch test (each call is a fresh JVM, so shared
    fixtures below amortize the expensive partial builds). With
    ``want_stderr`` returns ``(result, stderr)`` so tests can pin the
    advisory `note:` lines the CLI emits alongside a successful result."""
    import json
    import subprocess
    import sys

    p = subprocess.run(
        [sys.executable, "-m", "neural_search_spark.cli", "sketch", *a],
        capture_output=True, text=True, timeout=300, cwd="/root/repo",
    )
    assert p.returncode == expect, (p.returncode, p.stderr[-1500:])
    assert "Traceback" not in p.stderr, p.stderr[-1500:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    return (result, p.stderr) if want_stderr else result


_WHOLE_DOCS = "/root/testdata/sf0.001/documents.parquet"


@pytest.fixture(scope="module")
def slice_dirs(spark, tmp_path_factory):
    """documents split into two persisted doc_id-parity slices — the input
    shape of every cross-slice sketch-merge test."""
    base = tmp_path_factory.mktemp("sketch_slices")
    docs = spark.read.parquet(_WHOLE_DOCS)
    s0, s1 = str(base / "s0"), str(base / "s1")
    docs.where(F.col("doc_id") % 2 == 0).write.parquet(s0)
    docs.where(F.col("doc_id") % 2 == 1).write.parquet(s1)
    return s0, s1


@pytest.fixture(scope="module")
def partials128(slice_dirs, tmp_path_factory):
    """Per-slice 128-bin quantile partials over the pinned [0,1000] frame,
    plus the whole-data estimate finished at the same build-time bin count —
    shared by the recorded-nbins and legacy-merge tests."""
    base = tmp_path_factory.mktemp("sketch_partials128")
    s0, s1 = slice_dirs
    p0, p1 = str(base / "p0"), str(base / "p1")
    _run_sketch("quantiles", "--input", s0, "--value-col", "doc_id",
                "--output", p0, "--bounds", "0,1000", "--bins", "128")
    _run_sketch("quantiles", "--input", s1, "--value-col", "doc_id",
                "--output", p1, "--bounds", "0,1000", "--bins", "128")
    whole128 = _run_sketch("quantiles", "--input", _WHOLE_DOCS,
                           "--value-col", "doc_id", "--bounds", "0,1000",
                           "--bins", "128")
    return p0, p1, whole128


def test_cli_sketch_merge_equals_whole(spark, tmp_path, slice_dirs):
    """`cli sketch hll --merge-inputs p1,p2`: persisted slice partials merge
    + finish to EXACTLY the whole-data estimate, raw data never rescanned —
    the cross-slice story driven through the spark-submit surface."""
    s0, s1 = slice_dirs
    p0, p1 = str(tmp_path / "p0"), str(tmp_path / "p1")
    _run_sketch("hll", "--input", s0, "--value-col", "text", "--output", p0)
    _run_sketch("hll", "--input", s1, "--value-col", "text", "--output", p1)
    merged = _run_sketch("hll", "--merge-inputs", f"{p0},{p1}")
    whole = _run_sketch("hll", "--input", _WHOLE_DOCS, "--value-col", "text")
    assert merged["est_distinct"] == whole["est_distinct"]
    assert merged["merged"] == 2


def test_cli_sketch_quantiles_bounds_merge(spark, tmp_path, slice_dirs):
    """`cli sketch quantiles --bounds lo,hi` pins the histogram frame so
    per-slice partials actually merge (derived frames differ per slice and
    refuse); merged+finished == whole-data estimate under the same frame.
    Without --bounds the merge reports the mixed-frame contract violation as
    a JSON error line, not a traceback."""
    s0, s1 = slice_dirs
    p0, p1 = str(tmp_path / "p0"), str(tmp_path / "p1")
    bounds = "0,1000"
    _run_sketch("quantiles", "--input", s0, "--value-col", "doc_id",
                "--output", p0, "--bounds", bounds)
    _run_sketch("quantiles", "--input", s1, "--value-col", "doc_id",
                "--output", p1, "--bounds", bounds)
    merged = _run_sketch("quantiles", "--merge-inputs", f"{p0},{p1}")
    whole = _run_sketch("quantiles", "--input", _WHOLE_DOCS,
                        "--value-col", "doc_id", "--bounds", bounds)
    assert merged["est"] == whole["est"]
    assert merged["merged"] == 2
    # derived-frame partial mixed with a pinned one: JSON error, exit 2
    pbad = str(tmp_path / "pbad")
    _run_sketch("quantiles", "--input", s0, "--value-col", "doc_id",
                "--output", pbad)
    err = _run_sketch("quantiles", "--merge-inputs", f"{p0},{pbad}",
                      expect=2)
    assert "frames" in err["error"]
    # malformed --bounds is a request error, not a traceback
    err = _run_sketch("quantiles", "--input", s0, "--value-col", "doc_id",
                      "--bounds", "nope", expect=2)
    assert "--bounds" in err["error"]
    # a typo'd / unreadable --merge-inputs path: request error, not traceback
    err = _run_sketch("quantiles", "--merge-inputs",
                      f"{p0},{tmp_path / 'no_such_partial'}", expect=2)
    assert "error" in err
    # an empty path (trailing comma): request error, not traceback
    err = _run_sketch("quantiles", "--merge-inputs", f"{p0},", expect=2)
    assert "empty path" in err["error"]


def test_cli_sketch_quantiles_bins_recorded_in_partials(
    spark, tmp_path, slice_dirs, partials128
):
    """The partial records its nbins: merging without --bins must use the
    recorded value (not silently scale every estimate by the bin ratio), and
    partials built with different bin counts refuse to merge. Inverted/NaN
    --bounds and out-of-range --quantiles are JSON request errors, not
    tracebacks."""
    s0, s1 = slice_dirs
    p0, p1, whole128 = partials128
    # merge with NO --bins: estimates must come out as if finished at the
    # build-time 128 (the recorded value wins; no claim needed for all-new)
    merged = _run_sketch("quantiles", "--merge-inputs", f"{p0},{p1}")
    assert merged["est"] == whole128["est"]
    # all-new merge under a CONTRADICTING explicit --bins: the recorded
    # value still wins (correct output), and the contradiction is called
    # out on stderr rather than silently ignored
    merged, errout = _run_sketch("quantiles", "--merge-inputs", f"{p0},{p1}",
                                 "--bins", "256", want_stderr=True)
    assert merged["est"] == whole128["est"]
    assert "recorded value wins over --bins 256" in errout
    # ...while a MATCHING explicit claim passes without comment
    merged, errout = _run_sketch("quantiles", "--merge-inputs", f"{p0},{p1}",
                                 "--bins", "128", want_stderr=True)
    assert merged["est"] == whole128["est"]
    assert "recorded value wins" not in errout
    # same frame, different bin count: contract violation, JSON error
    p256 = str(tmp_path / "p256")
    _run_sketch("quantiles", "--input", s1, "--value-col", "doc_id",
                "--output", p256, "--bounds", "0,1000", "--bins", "256")
    err = _run_sketch("quantiles", "--merge-inputs", f"{p0},{p256}",
                      expect=2)
    assert "bin" in err["error"]
    # inverted and NaN bounds: silently-wrong-bins territory, rejected
    err = _run_sketch("quantiles", "--input", s0, "--value-col", "doc_id",
                      "--bounds", "1000,0", expect=2)
    assert "lo < hi" in err["error"]
    err = _run_sketch("quantiles", "--input", s0, "--value-col", "doc_id",
                      "--bounds", "nan,5", expect=2)
    assert "lo < hi" in err["error"]
    # out-of-range --quantiles: JSON error on both build and merge paths
    err = _run_sketch("quantiles", "--input", s0, "--value-col", "doc_id",
                      "--quantiles", "0", expect=2)
    assert "(0, 1]" in err["error"]
    err = _run_sketch("quantiles", "--merge-inputs", f"{p0},{p1}",
                      "--quantiles", "0.5,,0.9", expect=2)
    assert "error" in err


def test_cli_sketch_quantiles_bins_note_with_empty_first_partial(
    spark, tmp_path, partials128
):
    """The contradicted---bins note reads nbins from the first NON-EMPTY
    partial: an empty partial listed first must not suppress it."""
    p0, p1, whole128 = partials128
    empty = str(tmp_path / "empty")
    spark.read.parquet(p0).limit(0).write.parquet(empty)
    assert spark.read.parquet(empty).count() == 0
    merged, errout = _run_sketch("quantiles", "--merge-inputs",
                                 f"{empty},{p0},{p1}", "--bins", "256",
                                 want_stderr=True)
    assert merged["est"] == whole128["est"]
    assert "partials record nbins=128" in errout
    assert "recorded value wins over --bins 256" in errout


def test_hist_merge_legacy_partials_warn_but_merge(spark, values):
    """Partials persisted before nbins was recorded in the frame (no nbins
    column) still merge — with a warning that the frame check is [lo, hi]
    only — and finish correctly when the caller supplies the build-time
    bin count. A legacy/new union with nbins filled with the WRONG bin count
    is a frame mix and refuses (the CLI injects an EXPLICIT --bins claim
    into legacy frames, so a contradicted claim is caught, not silently
    mis-scaled)."""
    bounds = (0.0, 100.0)
    new = hist_partial(values, "x", nbins=64, bounds=bounds)
    legacy = new.drop("nbins")  # what a pre-r4 partial looks like on disk

    with pytest.warns(UserWarning, match="no recorded nbins"):
        merged = hist_merge(legacy)
    qs_legacy = hist_quantiles(merged, [0.5, 0.9], nbins=64).collect()
    qs_new = hist_quantiles(hist_merge(new), [0.5, 0.9]).collect()
    assert {(r["q"], r["est"]) for r in qs_legacy} == {
        (r["q"], r["est"]) for r in qs_new
    }

    # mixed legacy/new union (the CLI's injected-claim shape): legacy
    # nbins filled with the matching build-time value merges clean...
    mixed_ok = legacy.withColumn("nbins", F.lit(64)).unionByName(new)
    qs_mixed = hist_quantiles(hist_merge(mixed_ok), [0.5, 0.9]).collect()
    doubled = {(r["q"], r["est"]) for r in qs_mixed}
    assert doubled == {(r["q"], r["est"]) for r in qs_new}
    # ...and filled with a WRONG claim it is a detected frame mix
    mixed_bad = legacy.withColumn("nbins", F.lit(128)).unionByName(new)
    with pytest.raises(ValueError, match="bin counts"):
        hist_merge(mixed_bad)


def test_cli_sketch_quantiles_legacy_partial_merge(
    spark, tmp_path, partials128
):
    """--merge-inputs accepts a mix of legacy (nbins-less) and new partials
    ONLY under an explicit --bins claim of the legacy build-time bin count:
    a true claim merges and matches the whole-data estimate, a contradicted
    claim is a JSON frame error, and a mixed merge with NO --bins is a JSON
    request error (a silently-trusted default could launder a wrong bin
    count). The accommodation is scoped to nbins — a partial missing a DATA
    column still refuses to union. --bins < 2 is a JSON request error."""
    p0, p1, whole128 = partials128
    # rewrite p0 as a LEGACY partial: drop the recorded nbins column
    p0_legacy = str(tmp_path / "p0_legacy")
    spark.read.parquet(p0).drop("nbins").write.parquet(p0_legacy)

    # legacy + new under the true build-time --bins: merges and matches
    merged = _run_sketch("quantiles", "--merge-inputs", f"{p0_legacy},{p1}",
                         "--bins", "128")
    assert merged["est"] == whole128["est"]
    # legacy + new with a claim contradicting the recorded 128: frame-mix
    # JSON error (not a silent 2x mis-scale)
    err = _run_sketch("quantiles", "--merge-inputs", f"{p0_legacy},{p1}",
                      "--bins", "256", expect=2)
    assert "bin" in err["error"]
    # legacy + new with NO --bins: the claim is required, never defaulted
    err = _run_sketch("quantiles", "--merge-inputs", f"{p0_legacy},{p1}",
                      expect=2)
    assert "pass --bins" in err["error"]
    # all-legacy union still works on [lo, hi] alone (old behavior) — but
    # ONLY under an explicit --bins claim: there is no recorded value to
    # cross-check at all, so a defaulted 256 would silently mis-scale these
    # 128-bin slices (strictly riskier than the mixed case above)
    p1_legacy = str(tmp_path / "p1_legacy")
    spark.read.parquet(p1).drop("nbins").write.parquet(p1_legacy)
    m_out = str(tmp_path / "m_all_legacy")
    merged = _run_sketch("quantiles", "--merge-inputs",
                         f"{p0_legacy},{p1_legacy}", "--bins", "128",
                         "--output", m_out)
    assert merged["est"] == whole128["est"]
    err = _run_sketch("quantiles", "--merge-inputs",
                      f"{p0_legacy},{p1_legacy}", expect=2)
    assert "pass --bins" in err["error"]
    # the all-legacy merge INJECTS the validated claim, so the re-persisted
    # merged partial records nbins=128 instead of staying legacy: a later
    # merge of it needs no re-stated claim, and a WRONG re-claim is now
    # detectable (recorded value wins, with a note) where a legacy partial
    # would have silently trusted the 256 and mis-scaled every estimate
    assert "nbins" in spark.read.parquet(m_out).columns
    remerged = _run_sketch("quantiles", "--merge-inputs", m_out)
    assert remerged["est"] == whole128["est"]
    remerged, errout = _run_sketch("quantiles", "--merge-inputs", m_out,
                                   "--bins", "256", want_stderr=True)
    assert remerged["est"] == whole128["est"]
    assert "recorded value wins over --bins 256" in errout
    # a partial missing a DATA column is NOT accommodated: strict union
    # refuses with a JSON error (allowMissingColumns would null-fill cnt and
    # silently drop the slice from the merged sketch)
    p_nocnt = str(tmp_path / "p_nocnt")
    spark.read.parquet(p1).drop("cnt").write.parquet(p_nocnt)
    err = _run_sketch("quantiles", "--merge-inputs", f"{p0},{p_nocnt}",
                      expect=2)
    assert "union" in err["error"]
    # --bins < 2 is a request error on the build path, JSON not traceback
    err = _run_sketch("quantiles", "--input", p0, "--value-col", "doc_id",
                      "--bins", "1", expect=2)
    assert "--bins" in err["error"]
