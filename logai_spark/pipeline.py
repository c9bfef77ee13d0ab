"""End-to-end web-log pipeline: extract -> parse -> enrich -> route -> aggregate.

This is the north_star flow (BASELINE.json): Common-Crawl-style pages
(url, warc_ts, html, text, lang) through

1. extract   — text from html via the Arrow-vectorized reference extractor
               (byte-identical per url),
2. explode   — text lines -> log records keyed by (url, line seq),
3. parse     — distributed Drain: mine templates on a page sample, then
               match every line in the same Python pass that extracts it
               (``extract_parse``),
4. enrich    — broadcast lang dimension join,
5. route     — fan-out to per-template sinks (salted, manifested),
6. aggregate — per-template x time-window counter vectors.

Each stage is a lazy DataFrame transform; `run_pipeline` triggers two actions
(the routed write and the aggregate collect/write), then audits the written
files against the aggregate before the manifest lands. Stage boundaries can
checkpoint via operators.route.checkpoint for idempotent resume.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from logai_spark.operators.enrich import enrich
from logai_spark.operators.features import counter_vector
from logai_spark.operators.route import hot_key_buckets, route_to_sinks, write_manifest
from logai_spark.parse.distributed import mine_templates, template_id_matcher
from logai_spark.parse.drain import DrainConfig, template_id_of
from logai_spark.sources.webpages import (
    extract_text_reference,
    extract_text_sniffed,
    extract_text_udf,
)

LANG_DIM = [
    ("en", "English", "latin"),
    ("de", "German", "latin"),
    ("fr", "French", "latin"),
    ("es", "Spanish", "latin"),
    ("ru", "Russian", "cyrillic"),
    ("zh", "Chinese", "han"),
    ("ja", "Japanese", "kana"),
]


@dataclass
class PipelineConfig:
    drain: DrainConfig = field(default_factory=DrainConfig)
    window: str = "1 hour"
    sample_fraction_for_mining: float = 1.0  # at 100TB you mine on a sample
    # WHATWG charset sniff (BOM > meta prescan > utf-8 trial > cp1252) in
    # front of html->text extraction. Off by default: the pinned per-url
    # byte-identity invariant is defined against the utf-8 reference
    # extractor, and sniffed output is byte-identical on valid-UTF-8 pages
    # anyway — enable on corpora with mixed encodings (real Common Crawl).
    charset_sniff: bool = False


def extract_parse(
    pages: DataFrame,
    templates: list[tuple[str, int]],
    config: DrainConfig | None = None,
    charset_sniff: bool = False,
) -> DataFrame:
    """Fused stage 1+2+3: html -> text -> lines -> matched templates, in ONE
    mapInPandas stage.

    Chaining separate extract and match pandas UDFs costs two Python worker
    pools and two Arrow round-trips per row (pages cross to Python for
    extract, come back to the JVM for the explode, cross again for match) —
    measured 1.5-3x slower at high parallelism. The fused operator crosses
    once: each Arrow batch of pages is extracted, line-split, and matched in
    the same Python worker; only final line-level rows return to the JVM.
    """
    extractor = extract_text_sniffed if charset_sniff else extract_text_reference
    cfg = config or DrainConfig()
    bc = pages.sparkSession.sparkContext.broadcast((templates, cfg))
    # one output row per PAGE with line/template-id arrays: url/ts/lang cross
    # the Arrow boundary once per page, not once per line; the row explosion
    # happens JVM-side (posexplode over zipped arrays)
    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("lang", T.StringType()),
            T.StructField("lines", T.ArrayType(T.StringType())),
            T.StructField("tids", T.ArrayType(T.StringType())),
        ]
    )

    def _fused(batches):
        tid_of = template_id_matcher(bc.value[0], bc.value[1])
        for pdf in batches:
            lines_col, tids_col = [], []
            for html in pdf["html"]:
                text = extractor(html)
                lines = [ln for ln in text.split("\n") if ln]
                lines_col.append(lines)
                tids_col.append([tid_of(ln) for ln in lines])
            yield pd.DataFrame(
                {
                    "url": pdf["url"],
                    "warc_ts": pdf["warc_ts"],
                    "lang": pdf["lang"],
                    "lines": lines_col,
                    "tids": tids_col,
                }
            )

    out = pages.select("url", "warc_ts", "html", "lang").mapInPandas(_fused, schema)
    return out.select(
        "url",
        "warc_ts",
        "lang",
        F.posexplode(F.arrays_zip("lines", "tids")).alias("seq", "_z"),
    ).select(
        "url",
        "warc_ts",
        "lang",
        "seq",
        F.col("_z.lines").alias("logline"),
        F.col("_z.tids").alias("template_id"),
    )


def pages_to_lines(pages: DataFrame) -> DataFrame:
    """Stages 1+2: html -> text (Arrow UDF) -> one row per text line. The
    text is re-derived from html so the byte-identity invariant is exercised
    in the hot path."""
    text = extract_text_udf()(F.col("html"))
    lines = pages.select(
        "url",
        "warc_ts",
        "lang",
        F.posexplode(F.split(text, "\n")).alias("seq", "logline"),
    )
    return lines.filter(F.length("logline") > 0)


def lang_dimension(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(LANG_DIM, ["lang", "lang_name", "script"])


def verify_routed_write(
    spark: SparkSession,
    routed_path: str,
    expected_rows: int,
    partition_col: str = "template_id",
) -> int:
    """Write-audit gate: the manifest totals roll up from the in-memory
    aggregate — confirm the parquet actually written agrees before the
    manifest lands. A partial or faulty sink write must fail HERE, not get
    certified by its own manifest. Returns the written row count.

    The same pass emits the per-FILE lineage sidecar (route.file_lineage):
    row counts come from the written files' parquet FOOTERS
    (route.footer_lineage_scan) — file-count-proportional metadata reads,
    never a row scan (the previous empty-schema groupBy(input_file_name())
    iterated every routed row and cost ~3 s of FIXED wall per run at 6.45M
    rows, the single biggest non-scaling term in the 2-vs-8-core
    efficiency measurement). The lineage stays out of the driver JSON
    (bounded manifest at any file count)."""
    from logai_spark.operators.route import (
        LINEAGE_DIR,
        file_lineage,
        footer_lineage_scan,
    )

    (
        footer_lineage_scan(spark, routed_path, partition_col)
        .write.mode("overwrite")
        .parquet(os.path.join(routed_path, LINEAGE_DIR))
    )
    written = int(
        file_lineage(spark, routed_path).agg(F.sum("n_rows")).collect()[0][0] or 0
    )
    if written != expected_rows:
        raise RuntimeError(
            f"routed write inconsistent: parquet has {written} rows, "
            f"aggregate says {expected_rows}"
        )
    return written


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    config: PipelineConfig | None = None,
) -> dict:
    """Run the full flow; returns metrics {docs, lines, templates, manifest,
    agg_rows}. All counts come from the pipeline's own outputs so callers can
    check them against an oracle run."""
    import time as _time

    cfg = config or PipelineConfig()
    timings: dict[str, float] = {}

    t0 = _time.perf_counter()
    mine_pages = pages
    if cfg.sample_fraction_for_mining < 1.0:
        # deterministic PAGE-level sample (hash the url, not rand()): the
        # filter sits BEFORE the html->text UDF, so the mining pass only
        # extracts the sampled pages instead of extracting everything twice
        # (once for mining, once for the fused match). At 100TB you mine the
        # template dictionary on a sample; the match pass stays exact.
        mine_pages = pages.filter(
            F.pmod(F.xxhash64("url"), 10000)
            < int(cfg.sample_fraction_for_mining * 10000)
        )
    templates, mine_stats = mine_templates(
        pages_to_lines(mine_pages), "logline", cfg.drain, return_stats=True
    )
    timings["mine"] = round(_time.perf_counter() - t0, 2)
    # one match pass: fused beat distinct-line match + join at every duplication (BASELINE.md §3.3)
    parsed = extract_parse(pages, templates, cfg.drain, charset_sniff=cfg.charset_sniff)
    enriched = enrich(parsed, lang_dimension(spark), "lang", select=["lang_name", "script"])

    metrics: dict = {
        "templates": len(templates),
        "templates_list": templates,
        "duplication": round(mine_stats["duplication"], 2),
    }
    # The parsed+enriched line table is consumed twice (routed write +
    # windowed aggregate). Persisting it means the expensive fused
    # extract+match python stage runs ONCE; the aggregate then reads
    # executor-local cached blocks (memory, spilling to executor disk)
    # instead of re-scanning the routed files from shared storage —
    # one less full-table IO round trip, and no driver-side file
    # listing of N sink directories.
    enriched = enriched.persist(StorageLevel.MEMORY_AND_DISK)
    # skew handling: template sizes from the mining pass tell us which
    # sinks are hot; only those get salted across writer tasks
    sizes = {template_id_of(t): s for t, s in templates}
    hot = hot_key_buckets(sizes, parallelism=spark.sparkContext.defaultParallelism)
    routed_path = os.path.join(out_dir, "routed")
    t0 = _time.perf_counter()
    manifest = route_to_sinks(
        enriched,
        routed_path,
        "template_id",
        hot_buckets=hot,
        stage="route",
        extra_meta={"hot_sinks": len(hot)},
        compute_counts=False,
    )
    timings["route_write"] = round(_time.perf_counter() - t0, 2)

    # windowed aggregate from the persisted line table; per-sink manifest
    # counts roll up from the aggregate instead of a second full scan.
    # Two actions total: the parquet write, and ONE collect — of the
    # per-TEMPLATE rollup (one row per sink), NOT the full windowed
    # aggregate: windows x templates grows unboundedly with time range
    # (10^7+ rows at fine windows over a long corpus) while #sinks is the
    # bounded routing fan-out. The rollup is executor-side partial-agg over
    # the persisted agg blocks; the driver only ever sees #sinks rows.
    t0 = _time.perf_counter()
    agg = counter_vector(enriched, ["template_id", "lang"], "warc_ts", cfg.window).persist()
    agg.write.mode("overwrite").parquet(os.path.join(out_dir, "agg"))
    per_sink = (
        agg.groupBy("template_id")
        .agg(
            F.sum("counts").alias("_rows"),
            F.count(F.lit(1)).alias("_agg_rows"),
        )
        .collect()
    )
    agg.unpersist()
    sink_counts = {str(r["template_id"]): int(r["_rows"]) for r in per_sink}
    manifest["sinks"] = sink_counts
    manifest["total_rows"] = int(sum(sink_counts.values()))
    manifest["n_sinks"] = len(sink_counts)
    metrics["agg_rows"] = int(sum(r["_agg_rows"] for r in per_sink))
    timings["aggregate"] = round(_time.perf_counter() - t0, 2)
    t0 = _time.perf_counter()
    verify_routed_write(spark, routed_path, manifest["total_rows"])
    timings["verify"] = round(_time.perf_counter() - t0, 2)
    metrics["timings"] = timings
    write_manifest(routed_path, manifest)
    enriched.unpersist()
    metrics["manifest"] = manifest
    metrics["lines"] = manifest["total_rows"]
    return metrics
