"""Distributed Drain: partition-local tree mining + global template broadcast.

The reference parses with a single in-process tree streaming over all lines
(/root/reference/logai/algorithms/parsing_algo/drain.py:422-438). That cannot
scale to 10^12 docs, so we re-express it as the classic two-pass scheme the
reference itself supports natively (``fit`` then ``match``):

pass 1 (mine):   mapInPandas — each input partition streams its lines into a
                 partition-local DrainTree; each partition emits only its
                 (template, size) pairs (thousands of rows, not billions).
pass 2 (merge):  the tiny template set is collected and re-clustered on the
                 driver by feeding templates (largest clusters first, then
                 lexicographic — deterministic regardless of partition order)
                 into a fresh DrainTree. Result: the global template dict.
pass 3 (match):  the merged tree is broadcast and every line is matched with
                 frozen sim_th=1.0 semantics by ``template_id_matcher``, a
                 per-worker memoized line -> template id closure (log lines
                 repeat heavily). It runs inside the pipeline's fused
                 extract+match ``mapInPandas`` stage, or inside the
                 ``match_templates`` Arrow pandas_udf for plain log lines.

Parity definition (SURVEY.md §7.3): same template per line as the reference
run in its own two-pass fit/match mode.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from logai_spark.parse.drain import DrainConfig, DrainTree, template_id_of

_MINE_SCHEMA = T.StructType(
    [
        T.StructField("template", T.StringType()),
        T.StructField("size", T.LongType()),
    ]
)


def mine_templates(
    df: DataFrame, column: str = "logline", config: DrainConfig | None = None,
    return_stats: bool = False,
) -> list[tuple[str, int]] | tuple[list[tuple[str, int]], dict]:
    """Pass 1+2: mine partition-local templates, merge into a global set.

    Returns [(template, total_size)] sorted by (-size, template); merge is
    deterministic and independent of partition count/order.

    With ``return_stats=True`` also returns {"total_lines", "distinct_lines",
    "duplication"} measured by the SAME pass (each shard emits its
    distinct-line count as a null-template row — no extra action, no extra
    scan). ``pipeline.run_pipeline`` reports the duplication factor.
    """
    cfg = config or DrainConfig()

    def _mine(_key, pdf):
        # deterministic fit order inside the shard: frequent lines first so
        # they anchor the clusters, lexicographic tiebreak
        pdf = pdf.sort_values(["_cnt", column], ascending=[False, True], kind="mergesort")
        tree = DrainTree(cfg)
        for line, cnt in zip(pdf[column], pdf["_cnt"]):
            if isinstance(line, str):
                cluster = tree.add_line(line)
                cluster.size += int(cnt) - 1
        tpls = tree.templates()
        # in-band stats row (template NULL): this shard's distinct-line
        # count, over the SAME rows the tree fit (str only) — counting
        # null/non-string rows here while total_lines excludes them would
        # understate the duplication factor
        n_fit = int(sum(1 for line in pdf[column] if isinstance(line, str)))
        return pd.DataFrame(
            {
                "template": [t for t, _ in tpls] + [None],
                "size": [s for _, s in tpls] + [n_fit],
            }
        )

    # JVM-side exact dedup first: the Python tree fits each DISTINCT line once
    # (weighted by its count). Log lines repeat heavily, so this cuts the
    # Python-side work by the duplication factor.
    #
    # Sharding for the partition-local trees is LOGICAL, not physical: an
    # explicit shard key (hash of the line mod a fixed width) with
    # groupBy(shard).applyInPandas. Physical layout is not a stable contract —
    # AQE legitimately re-sizes even an explicit repartition(n, col) based on
    # runtime stats, so `mapInPandas` over "64 partitions" sees different
    # shard contents at different cluster sizes. The logical key makes every
    # tree's input set and order a pure function of the data, so the merged
    # template dictionary is bit-identical at any executor count (north_rule:
    # same routed output at N and 4N executors).
    # shard hash = first 8 hex chars of md5 (portable: hashlib reproduces it
    # bit-exactly, so mine_templates_local below is a true single-process
    # replica of this whole pass — that replica is the driver-oracle fixture)
    distinct = (
        df.select(column)
        .groupBy(column)
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .withColumn(
            "_shard",
            F.pmod(
                F.conv(F.substring(F.md5(F.col(column)), 1, 8), 16, 10).cast("long"),
                F.lit(cfg.mine_partitions),
            ).cast("int"),
        )
    )
    partial = (
        distinct.groupBy("_shard")
        .applyInPandas(_mine, schema=_MINE_SCHEMA)
        .groupBy("template")
        .agg(F.sum("size").alias("size"))
        .collect()
    )
    distinct_lines = sum(int(r["size"]) for r in partial if r["template"] is None)
    # deterministic merge order: big clusters first so they anchor the merge,
    # lexicographic tiebreak so the result is independent of partitioning
    ordered = sorted(
        (r for r in partial if r["template"] is not None),
        key=lambda r: (-r["size"], r["template"]),
    )
    merged = DrainTree(cfg)
    for row in ordered:
        merged.add_template(row["template"], int(row["size"]))
    out = [(t, s) for t, s in merged.templates()]
    out.sort(key=lambda ts: (-ts[1], ts[0]))
    if return_stats:
        total = sum(s for _, s in out)
        stats = {
            "total_lines": total,
            "distinct_lines": distinct_lines,
            "duplication": (total / distinct_lines) if distinct_lines else 1.0,
        }
        return out, stats
    return out


def shard_of(line: str, n_shards: int) -> int:
    """Python replica of the JVM shard expression in ``mine_templates``."""
    import hashlib

    return int(hashlib.md5(line.encode("utf-8")).hexdigest()[:8], 16) % n_shards


def mine_templates_local(
    pairs: list[tuple[str, int]], config: DrainConfig | None = None
) -> list[tuple[str, int]]:
    """Single-process replica of ``mine_templates`` over (distinct line,
    count) pairs: same sharding, same per-shard fit order, same merge.

    Because every step of the distributed pass is a pure function of the
    distinct-line histogram, this replica must produce the bit-identical
    template dictionary — it is the fixture generator for the driver's
    correctness oracle and the strongest partition-invariance check we have.
    """
    cfg = config or DrainConfig()
    shards: dict[int, list[tuple[str, int]]] = {}
    for line, cnt in pairs:
        if isinstance(line, str):
            shards.setdefault(shard_of(line, cfg.mine_partitions), []).append((line, cnt))
    partial: dict[str, int] = {}
    for _, items in shards.items():
        items.sort(key=lambda x: (-x[1], x[0]))
        tree = DrainTree(cfg)
        for line, cnt in items:
            cluster = tree.add_line(line)
            cluster.size += int(cnt) - 1
        for t, s in tree.templates():
            partial[t] = partial.get(t, 0) + s
    ordered = sorted(partial.items(), key=lambda kv: (-kv[1], kv[0]))
    merged = DrainTree(cfg)
    for t, s in ordered:
        merged.add_template(t, s)
    out = [(t, s) for t, s in merged.templates()]
    out.sort(key=lambda ts: (-ts[1], ts[0]))
    return out


def build_matcher(templates: list[tuple[str, int]], config: DrainConfig | None = None) -> DrainTree:
    """Build a frozen match tree whose clusters ARE the given templates.

    Templates are inserted verbatim (no re-generalization) so match results
    depend only on the template set, not insertion interactions.
    """
    tree = DrainTree(config or DrainConfig())
    for template, size in templates:
        tree.insert_template(template, size)
    return tree


def template_id_matcher(
    templates: list[tuple[str, int]], config: DrainConfig | None = None
) -> Callable[[str], str | None]:
    """Memoized ``line -> template_id`` over the frozen match tree; None when
    the line matches no template. The memo lives as long as the closure, so
    a caller that keeps one per Python worker matches each distinct line
    once per worker."""
    tree = build_matcher(templates, config)
    memo: dict[str, str | None] = {}

    def tid_of(line: str) -> str | None:
        hit = memo.get(line)
        if hit is None and line not in memo:
            t = tree.match_line(line)
            hit = memo[line] = template_id_of(t) if t is not None else None
        return hit

    return tid_of


def match_templates(
    df: DataFrame,
    column: str = "logline",
    templates: list[tuple[str, int]] | None = None,
    config: DrainConfig | None = None,
    template_col: str | None = "template",
    id_col: str = "template_id",
) -> DataFrame:
    """Pass 3: broadcast the template dict, match every line (Arrow batches).

    Adds a deterministic ``template_id`` (md5[:16] of the template text; null
    when the line matches no mined template — callers route those to a
    dead-letter sink) and, when ``template_col`` is not None, the template
    string itself (derived JVM-side from the broadcast id->template map, so
    only the 16-char id crosses the Arrow boundary per row).
    """
    cfg = config or DrainConfig()
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast((templates, cfg))

    @F.pandas_udf(T.StringType())
    def _match_id(series: pd.Series) -> pd.Series:
        # build the matcher once per python worker, not per Arrow batch;
        # its memo survives batches too (log lines repeat heavily)
        state = _match_id.__dict__
        if "tid_of" not in state:
            state["tid_of"] = template_id_matcher(bc.value[0], bc.value[1])
        tid_of = state["tid_of"]
        return series.map(lambda line: tid_of(line) if isinstance(line, str) else None)

    out = df.withColumn(id_col, _match_id(F.col(column)))
    if template_col is not None:
        id_to_template = F.create_map(
            *[
                F.lit(x)
                for t, _ in (templates or [])
                for x in (template_id_of(t), t)
            ]
        )
        out = out.withColumn(template_col, id_to_template[F.col(id_col)])
    return out


def parse_df(
    df: DataFrame,
    column: str = "logline",
    config: DrainConfig | None = None,
) -> tuple[DataFrame, list[tuple[str, int]]]:
    """Full distributed parse: mine + match. Returns (df+template cols, dict)."""
    templates = mine_templates(df, column, config)
    return match_templates(df, column, templates, config), templates


def update_templates(
    df: DataFrame,
    templates: list[tuple[str, int]],
    column: str = "logline",
    config: DrainConfig | None = None,
) -> tuple[list[tuple[str, int]], dict]:
    """Incremental dictionary evolution: mine ONLY the dead-letter residue.

    At 10^12 docs the corpus is never re-mined — the dictionary evolves as
    new line shapes appear. Contract:

    - existing templates are FROZEN: they appear byte-identical in the
      result, so their template_ids — and therefore the routed sink layout
      and any downstream joins on template_id — stay stable across updates;
    - only lines the frozen dictionary cannot match (the dead-letter
      residue) are mined, with the same deterministic shard/merge pass as
      ``mine_templates``; the resulting new templates APPEND;
    - a mined candidate the frozen matcher already accepts is dropped as
      subsumed (every line of such a candidate provably matches the
      accepting template, so nothing is lost — the guard exists for
      defense, the count is reported in stats).

    Returns (updated_templates, stats) with stats = {"residual_lines",
    "residual_distinct", "new_templates", "subsumed"}; ordering matches
    ``mine_templates`` (sorted by (-size, template)). Deterministic: same
    inputs -> byte-identical output at any partitioning.

    The reference has no incremental mode (drain.py fit re-reads the whole
    corpus); this is the streaming/batch-incremental operator the scale
    target requires (dead-letter sink -> periodic update -> refreshed
    broadcast dictionary).
    """
    cfg = config or DrainConfig()
    matched = match_templates(
        df.select(column), column, templates, cfg, template_col=None, id_col="_tid"
    )
    residual = matched.filter(F.col("_tid").isNull()).select(column)
    mined, mstats = mine_templates(residual, column, cfg, return_stats=True)
    frozen = build_matcher(templates, cfg)
    new, subsumed = [], 0
    for t, s in mined:
        if frozen.match_line(t) is None:
            new.append((t, s))
        else:
            subsumed += 1
    out = list(templates) + new
    out.sort(key=lambda ts: (-ts[1], ts[0]))
    stats = {
        "residual_lines": mstats["total_lines"],
        "residual_distinct": mstats["distinct_lines"],
        "new_templates": len(new),
        "subsumed": subsumed,
    }
    return out, stats


def parameter_list_expr(line_col: str, template_col: str) -> "F.Column":
    """Positional parameter extraction as a SQL expression.

    Implements the corrected positional semantics of
    /root/reference/logai/utils/functions.py:36-75 (tokens of the raw line at
    positions where the template holds the wildcard), via zip_with on the two
    token arrays — stays JVM-side, no UDF. Consecutive-wildcard runs in the
    reference buffer into one parameter; we join adjacent captures likewise.
    """
    line_toks = F.split(F.trim(F.col(line_col)), r"\s+")
    tpl_toks = F.split(F.trim(F.col(template_col)), r"\s+")
    # mark captured tokens, null elsewhere; then compact
    captured = F.zip_with(
        line_toks, tpl_toks, lambda l, t: F.when(t == F.lit("*"), l)
    )
    return F.filter(captured, lambda x: x.isNotNull())
