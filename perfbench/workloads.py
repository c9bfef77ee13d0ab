"""The benchmark's workloads: how each builds its input from a seed, drives
the program through its public entry point, and checks the outputs.

Every input comes from ``sources.webpages.synth_webpages(seed=...)``, so the
same seed gives the same pages and lines. A rep (one complete run) calls only
``pipeline.run_pipeline`` or ``plans.applications.LogAnomalyDetection.execute``
and then verifies what that call produced; a failed check raises
:class:`CheckFailed`.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
from dataclasses import dataclass
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# hive layout name of the sink that holds lines with a null template_id
NULL_SINK = "__HIVE_DEFAULT_PARTITION__"


class CheckFailed(AssertionError):
    """A rep's outputs disagree with its inputs or with an earlier rep."""


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # "pages": run_pipeline; "logs": LogAnomalyDetection
    n_pages: int


WORKLOADS = {
    w.name: w
    for w in (
        # html pages, ~21k lines of which ~79% are distinct, so most lines
        # miss the per-worker match memo; crosses extract, mine, the fused
        # extract+match stage, the routed write, aggregate and write audit
        Workload("pages_web", "pages", 1000),
        # plain log lines, no HTML: full-corpus mine, non-fused match UDF,
        # driver-side isolation-forest fit; no extraction, no routed write
        Workload("logs_anomaly", "logs", 300),
    )
}


@dataclass
class Input:
    df: DataFrame  # cached and materialized
    lines: int  # non-empty text lines, counted once at set-up


def build_input(spark: SparkSession, w: Workload, seed: int) -> Input:
    """Generate the workload's input from ``seed``, cache it and count its
    lines, so no timed rep pays for generation."""
    from logai_spark.sources.webpages import synth_webpages

    pages = synth_webpages(spark, w.n_pages, seed=seed)
    if w.kind == "pages":
        df = pages.cache()
        nonempty = F.filter(F.split("text", "\n"), lambda x: F.length(x) > 0)
        lines = df.select(F.sum(F.size(nonempty))).collect()[0][0]
    else:
        df = (
            pages.select(
                F.col("warc_ts").alias("timestamp"),
                "lang",
                F.explode(F.split("text", "\n")).alias("logline"),
            )
            .filter(F.length("logline") > 0)
            .cache()
        )
        lines = df.count()
    return Input(df, int(lines))


def run_once(spark: SparkSession, w: Workload, inp: Input, out_dir: str) -> dict:
    """One complete rep through the public entry point, outputs checked.
    Returns the rep's output summary (see the two ``check_*`` functions)."""
    if w.kind == "pages":
        from logai_spark.pipeline import PipelineConfig, run_pipeline

        run_pipeline(spark, inp.df, out_dir, PipelineConfig(sample_fraction_for_mining=0.1))
        return check_routed_output(out_dir, inp.lines)

    from logai_spark.plans.applications import LogAnomalyDetection, WorkFlowConfig

    app = LogAnomalyDetection(WorkFlowConfig(attributes=["lang"], freq="1 hour"))
    row = (
        app.execute(inp.df)
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum("is_anomaly").alias("flagged"),
            F.sum(F.col("template_id").isNull().cast("int")).alias("unmatched"),
        )
        .collect()[0]
    )
    return check_anomaly_output(row.asDict(), len(app.templates), inp.lines)


def check_routed_output(out_dir: str, expected_lines: int) -> dict:
    """Audit a ``run_pipeline`` output directory without Spark.

    Routed rows are read from the parquet footers of the written sink files
    and must equal the input's non-empty lines; the aggregate's counts, the
    manifest total and every per-sink manifest count must agree with them.
    """
    import pyarrow.parquet as pq

    routed = os.path.join(out_dir, "routed")
    with open(os.path.join(routed, "_lineage_manifest.json")) as f:
        manifest = json.load(f)
    files = sorted(glob.glob(os.path.join(routed, "template_id=*", "*.parquet")))
    sinks: dict[str, int] = {}
    for path in files:
        key = unquote(os.path.basename(os.path.dirname(path))[len("template_id=") :])
        key = "None" if key == NULL_SINK else key
        sinks[key] = sinks.get(key, 0) + pq.read_metadata(path).num_rows
    routed_rows = sum(sinks.values())
    agg_rows = int(pq.read_table(os.path.join(out_dir, "agg"), columns=["counts"])["counts"].to_numpy().sum())
    lineage = glob.glob(os.path.join(routed, "_lineage_files", "*.parquet"))
    audited_files = sum(pq.read_metadata(p).num_rows for p in lineage)

    if routed_rows != expected_lines:
        raise CheckFailed(f"routed {routed_rows} rows, input has {expected_lines} lines")
    if agg_rows != routed_rows:
        raise CheckFailed(f"aggregate counts sum to {agg_rows}, routed {routed_rows}")
    if manifest.get("total_rows") != routed_rows:
        raise CheckFailed(f"manifest total {manifest.get('total_rows')} != footer audit {routed_rows}")
    if manifest.get("sinks") != sinks:
        raise CheckFailed("manifest per-sink counts differ from the written files")
    if audited_files != len(files):
        raise CheckFailed(f"lineage sidecar lists {audited_files} files, {len(files)} written")

    counts = sorted(sinks.values())
    return {
        "rows": routed_rows,
        "unmatched": sinks.get("None", 0),
        "sinks": len(sinks),
        "files": len(files),
        "sink_skew": max(counts) * len(counts) / routed_rows,
        "digest": hashlib.sha256(json.dumps(counts).encode()).hexdigest()[:16],
    }


def check_anomaly_output(row: dict, n_templates: int, expected_lines: int) -> dict:
    """The workflow returns every input row once, flagged or not."""
    if row["rows"] != expected_lines:
        raise CheckFailed(f"workflow returned {row['rows']} rows, input has {expected_lines}")
    flagged, unmatched = int(row["flagged"] or 0), int(row["unmatched"] or 0)
    return {
        "rows": row["rows"],
        "unmatched": unmatched,
        "templates": n_templates,
        "flagged": flagged,
        "digest": f"{n_templates}/{flagged}/{unmatched}",
    }
