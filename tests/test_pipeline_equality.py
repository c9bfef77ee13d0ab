"""North-rule equality gates: routed-row equality and per-sink aggregate
counts vs an independent pandas reference pipeline (BASELINE.json metric).

The oracle recomputes extract -> line split -> template match -> routing ->
windowed aggregation in pure pandas/python (no Spark) from the same
deterministic page generator, using the mined template dictionary (mining
itself is pinned by determinism + reference-parity tests elsewhere).
"""

import hashlib
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from logai_spark.parse.distributed import build_matcher
from logai_spark.pipeline import PipelineConfig, run_pipeline
from logai_spark.sources.webpages import (
    extract_text_reference,
    make_page,
    synth_webpages,
)

N_DOCS = 1200


@pytest.fixture(scope="module")
def pipeline_out(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pipe"))
    pages = synth_webpages(spark, N_DOCS)
    metrics = run_pipeline(spark, pages, out)
    return out, metrics


def _pandas_oracle(templates):
    """Pure-python reference pipeline: (url, warc_ts, lang, seq, logline,
    template_id) rows for every generated page."""
    matcher = build_matcher(templates)
    memo = {}

    def tid(line):
        if line not in memo:
            t = matcher.match_line(line)
            memo[line] = (
                hashlib.md5(t.encode()).hexdigest()[:16] if t is not None else None
            )
        return memo[line]

    rows = []
    for doc in range(N_DOCS):
        url, epoch_us, html, lang = make_page(42, doc)
        text = extract_text_reference(html)
        ts = pd.Timestamp(epoch_us, unit="us")
        for seq, line in enumerate(text.split("\n")):
            if line:
                rows.append((url, ts, lang, seq, line, tid(line)))
    return pd.DataFrame(
        rows, columns=["url", "warc_ts", "lang", "seq", "logline", "template_id"]
    )


@pytest.fixture(scope="module")
def oracle(pipeline_out):
    _out, metrics = pipeline_out
    templates = metrics["templates_list"]
    return _pandas_oracle(templates)


def test_routed_row_equality(spark, pipeline_out, oracle):
    """Every routed row matches the pandas reference exactly, per sink."""
    out, _ = pipeline_out
    routed = (
        spark.read.parquet(os.path.join(out, "routed"))
        .select("url", "seq", "logline", "template_id")
        .toPandas()
    )
    assert len(routed) == len(oracle)
    key = lambda df: set(map(tuple, df[["url", "seq", "logline", "template_id"]].values))
    assert key(routed) == key(oracle)


def test_per_sink_aggregate_counts(spark, pipeline_out, oracle):
    """Manifest per-sink counts == pandas reference counts, sink by sink."""
    _out, metrics = pipeline_out
    got = metrics["manifest"]["sinks"]
    want = oracle.groupby("template_id").size().to_dict()
    assert got == {k: int(v) for k, v in want.items()}


def test_windowed_aggregate_equality(spark, pipeline_out, oracle):
    """Hourly (template, lang) counter vectors match the pandas reference."""
    out, _ = pipeline_out
    agg = spark.read.parquet(os.path.join(out, "agg")).toPandas()
    want = (
        oracle.assign(timestamp=oracle["warc_ts"].dt.floor("h"))
        .groupby(["template_id", "lang", "timestamp"])
        .size()
        .reset_index(name="counts")
    )
    a = agg.sort_values(["template_id", "lang", "timestamp"]).reset_index(drop=True)
    b = want.sort_values(["template_id", "lang", "timestamp"]).reset_index(drop=True)
    a["timestamp"] = pd.to_datetime(a["timestamp"])
    assert len(a) == len(b)
    pd.testing.assert_frame_equal(
        a[["template_id", "lang", "timestamp", "counts"]],
        b[["template_id", "lang", "timestamp", "counts"]],
        check_dtype=False,
    )


def test_fused_and_udf_match_paths_agree(spark):
    """The two match paths left — the pipeline's fused extract+match stage
    and the standalone ``match_templates`` UDF over ``pages_to_lines`` —
    give identical (url, seq, logline, template_id) rows. Templates are
    mined on a 10% page sample so some lines dead-letter (null id). The
    default corpus mostly misses the per-worker memo; the 40-line pool
    makes nearly every lookup a memo hit."""
    from logai_spark.parse.distributed import match_templates, mine_templates
    from logai_spark.pipeline import extract_parse, pages_to_lines

    cols = ["url", "seq", "logline", "template_id"]
    for line_pool in (None, 40):
        pages = synth_webpages(spark, 300, line_pool=line_pool)
        sample = pages.filter(F.pmod(F.xxhash64("url"), 10) == 0)
        templates = mine_templates(pages_to_lines(sample))
        fused = extract_parse(pages, templates).select(*cols)
        udf = match_templates(pages_to_lines(pages), templates=templates).select(*cols)
        assert fused.count() == udf.count() > 0
        assert fused.filter(F.col("template_id").isNotNull()).count() > 0
        assert fused.exceptAll(udf).count() == 0
        assert udf.exceptAll(fused).count() == 0


def test_mine_stats_duplication(spark):
    """return_stats measures total/distinct/duplication exactly, in-band."""
    import pandas as pd

    from logai_spark.parse.distributed import mine_templates

    pdf = pd.DataFrame({"logline": ["alpha beta 1", "alpha beta 2"] * 50 + ["gamma delta 9"]})
    tpls, stats = mine_templates(spark.createDataFrame(pdf), return_stats=True)
    assert stats["total_lines"] == 101
    assert stats["distinct_lines"] == 3
    assert abs(stats["duplication"] - 101 / 3) < 1e-9
    # stats rows must not leak into the template dictionary
    assert all(t is not None for t, _ in tpls)


def test_verify_routed_write_gate_fails_on_mismatch(spark, tmp_path):
    """The manifest audit gate: corrupt the routed output after the write and
    the consistency check must raise instead of certifying it."""
    import glob

    from logai_spark.operators.route import MANIFEST
    from logai_spark.pipeline import verify_routed_write

    pages = synth_webpages(spark, 100)
    out = str(tmp_path / "ok")
    m = run_pipeline(spark, pages, out, PipelineConfig())  # gate passes inline
    routed = os.path.join(out, "routed")
    assert os.path.exists(os.path.join(routed, MANIFEST))
    total = m["manifest"]["total_rows"]
    assert verify_routed_write(spark, routed, total) == total
    # corrupt: drop one sink's data file, then the gate must raise
    victim = sorted(glob.glob(os.path.join(routed, "template_id=*", "*.parquet")))[0]
    os.remove(victim)
    with pytest.raises(RuntimeError, match="routed write inconsistent"):
        verify_routed_write(spark, routed, total)
