"""Filter-rule registry — the stage qwatch declared but never built.

The reference scaffolds a filters plugin stage (string-keyed registry
switch like /root/reference/server/server.go:46-56, DAG hooks at
utils/dag.go:59-68) but ships it empty (filters/filters_test.go:1 is a
package stub; wiring commented at server/server.go:60-64). This module
realizes it: a name→rule registry, composed in declared order between
source and sink, every rule a pure DataFrame→DataFrame transform built
from Column expressions or Arrow-vectorized pandas UDFs — never
row-at-a-time Python.

Delete events ('D') always pass content gates: a delete carries no
payload (html/lang are null) but must still reach the MERGE so the key
is tombstoned — mirroring how the reference's destroy handler runs
regardless of payload (outputs/neo4j.go:231-248).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from qwatch_spark.config import PipelineConfig
from qwatch_spark.functions.text import extract_text_udf
from qwatch_spark.functions.urls import is_valid_url

# rules take (df, cfg) and may accept an optional apply context
# (ctx={"spark", "table"}) for table-aware gates
Rule = Callable[..., DataFrame]

# persisted content-fingerprint column (written by exact_dup_gate so the
# cross-epoch anti-join scans a 16-byte digest column, never text)
FP_COL = "_fp"


def content_fingerprint() -> Column:
    """md5 of case-folded, whitespace-collapsed extracted text."""
    return F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")), "\\s+", " ")))

def _is_delete():
    return F.col("op") == "D"


def rule_valid_url(df: DataFrame, cfg: PipelineConfig, ctx: dict | None = None) -> DataFrame:
    return df.filter(is_valid_url(F.col("url")))


def rule_lang_gate(df: DataFrame, cfg: PipelineConfig, ctx: dict | None = None) -> DataFrame:
    return df.filter(_is_delete() | F.col("lang").isin(*cfg.keep_langs))


def rule_min_html_bytes(df: DataFrame, cfg: PipelineConfig, ctx: dict | None = None) -> DataFrame:
    return df.filter(_is_delete() | (F.length("html") >= cfg.min_html_bytes))


def rule_extract_text(df: DataFrame, cfg: PipelineConfig, ctx: dict | None = None) -> DataFrame:
    return df.withColumn("text", extract_text_udf(F.col("html")))


def rule_lang_fallback(df: DataFrame, cfg: PipelineConfig, ctx: dict | None = None) -> DataFrame:
    """Fill missing/'und' lang from the marker-word language heuristic on
    the extracted text (requires extract_text earlier in the rule list)."""
    from qwatch_spark.operators.textstats import lang_pred_expr

    keep = F.col("lang").isNotNull() & (F.col("lang") != "und")
    return df.withColumn(
        "lang", F.when(_is_delete() | keep, F.col("lang")).otherwise(lang_pred_expr())
    )


def rule_quality_gate(df: DataFrame, cfg: PipelineConfig, ctx: dict | None = None) -> DataFrame:
    """Drop page versions scoring below cfg.min_quality on the
    length/punct/stopword heuristic (training-data hygiene; requires
    extracted text, so it runs in the post-dedup phase)."""
    from qwatch_spark.operators.textstats import quality_exprs

    q = quality_exprs()["quality"]
    return df.filter(_is_delete() | (q >= cfg.min_quality))


def rule_exact_dup_gate(
    df: DataFrame, cfg: PipelineConfig, ctx: dict | None = None
) -> DataFrame:
    """Exact-content dedup at ingest, TABLE-AWARE and epoching-independent:
    one surviving row per normalized-text fingerprint (md5 of case-folded,
    whitespace-collapsed text) across the whole table's life — the
    canonical copy is the earliest-arriving (warc_ts, seq, url).

    Two stages: (1) within-batch min_by per fingerprint — one extra
    shuffle on the digest, map-side combinable and skew-proof (hash keys
    don't skew); (2) when an apply context is given, an OWNER-AWARE
    anti-join against fingerprints already LIVE in the target table: a
    row is dropped iff its fingerprint is live on a DIFFERENT key, so a
    key refreshing its own unchanged content still merges (latest-wins
    updates its warc_ts) while cross-key duplicates never re-enter. The
    fingerprint is persisted as the `_fp` payload column (apply_changes
    widens the schema when this gate is enabled), so stage 2 scans only
    (key, _fp) — never stored text. Deletes pass through untouched
    (their `_fp` stays null, so a tombstoned key's content may
    legitimately re-enter later).

    Guarantees (property-tested in test_ingest_gates):
    - a fingerprint live on another key is NEVER re-ingested — exact
      duplicates arriving in different epochs are deduped (the
      per-batch-only gate could not promise this);
    - at most one LIVE row per fingerprint at every commit point;
    - replay-invariance: prefix-partitioning an in-order feed (warc_ts
      agrees with seq) yields the same final table, except the
      pathological interleaving where one key re-observes content that
      another key also carries — there the SET of live contents is
      still epoching-independent but the canonical key may differ
      (first-owner-wins across epochs vs earliest-(warc_ts, seq, url)
      within one batch)."""
    live = df.filter(~_is_delete()).withColumn(FP_COL, content_fingerprint())
    dels = df.filter(_is_delete()).withColumn(FP_COL, F.lit(None).cast("string"))
    cols = df.columns if FP_COL in df.columns else df.columns + [FP_COL]
    row = F.struct(*[F.col(c) for c in cols])
    order = F.struct(F.col("warc_ts"), F.col("seq"), F.col("url"))
    kept = (
        live.groupBy(FP_COL)
        .agg(F.min_by(row, order).alias("_row"))
        .select(*[F.col(f"_row.{c}").alias(c) for c in cols])
    )
    table = (ctx or {}).get("table")
    if table is not None and FP_COL in {f.name for f in table.payload_schema.fields}:
        from qwatch_spark.plans.fp_bloom import FpBloomIndex

        idx = FpBloomIndex(table.path)
        if idx.enabled() and idx.segment_paths():
            # O(batch) path: bloom misses are definitely-new (no table
            # I/O at all); only hits pay bounded point lookups.
            # (enabled-but-no-segments should be impossible — rebuild
            # writes its filter before _meta — but if it ever happens,
            # falling through to the full scan is correct and the bloom
            # path would not be)
            kept = _bloom_pruned_owner_check(ctx["spark"], table, idx, kept, cfg)
        elif not kept.isEmpty():
            # no index: full narrow-columns anti-join. Cost note, stated
            # honestly: this scans the WHOLE table's (key, _fp, order,
            # is_deleted) columns each epoch and pays the merge-on-read
            # dedup shuffle — per-epoch cost grows with table row count.
            # Set PipelineConfig.fp_index=True to move that cost into
            # the maintenance-cadence bloom rebuild.
            kept = _full_table_owner_check(ctx["spark"], table, kept)
    return kept.unionByName(dels)


def _owner_anti_join(kept: DataFrame, existing: DataFrame, key: str) -> DataFrame:
    """Drop kept rows whose fingerprint is live on a DIFFERENT key.
    Live fingerprints are unique (gate invariant), so the left join
    matches at most one owner per row — no fan-out."""
    return (
        kept.join(existing, FP_COL, "left")
        .filter(F.col("_fp_owner").isNull() | (F.col("_fp_owner") == F.col(key)))
        .drop("_fp_owner")
    )


def _full_table_owner_check(spark, table, kept: DataFrame) -> DataFrame:
    existing = (
        table.read_buckets(spark, include_deleted=False, columns=[FP_COL])
        .select(F.col(table.key_col).alias("_fp_owner"), FP_COL)
        .filter(F.col(FP_COL).isNotNull())
    )
    return _owner_anti_join(kept, existing, table.key_col)


def _bloom_pruned_owner_check(
    spark, table, idx, kept: DataFrame, cfg: PipelineConfig
) -> DataFrame:
    """Cross-epoch owner check that never scans the table for new
    content. Three stages, each bounded:

    1. probe the bloom segments (vectorized pandas UDF, executor-cached
       bit arrays): a miss is DEFINITELY new — zero candidates means the
       epoch finishes with zero table I/O, the common case for a crawl
       feed that is mostly fresh content;
    2. collect the candidate fingerprints (capped at cfg.fp_cand_cap —
       a batch where most content bloom-hits, e.g. a full-replay epoch,
       falls back to the full anti-join, which is cheaper there anyway);
    3. exact check: a shuffle-free narrow `read_raw` finds keys that
       EVER wrote a candidate fingerprint (compaction keeps every live
       (key, fp) pair, so live owners are always found), then a
       bucket-pruned `read_buckets` over only those keys' hash buckets
       resolves their LATEST rows; the surviving (owner, fp) pairs are
       broadcast into the usual owner-aware anti-join.

    The candidate probe is an eager action, so the batch pipeline up to
    here (gates, dedup shuffle, HTML→text extraction) is materialized
    ONCE via localCheckpoint before probing — without it the probe and
    the downstream write would each execute the full upstream plan,
    doubling the epoch's heaviest phase. The checkpoint is O(batch) on
    executor storage, the same order as the write itself."""
    cap = cfg.fp_cand_cap
    kept = kept.localCheckpoint(eager=False)
    flagged = kept.withColumn("_cand", idx.maybe_member(F.col(FP_COL)))
    cand_rows = (
        flagged.filter(F.col("_cand"))
        .select(FP_COL)
        .limit(cap + 1)
        .collect()
    )
    if not cand_rows:
        return kept  # every fingerprint definitely new: no table I/O
    if len(cand_rows) > cap:
        return _full_table_owner_check(spark, table, kept)
    cand_fps = sorted({r[FP_COL] for r in cand_rows})
    key = table.key_col
    owner_keys = [
        r[0]
        for r in table.read_raw(spark, columns=[FP_COL])
        .filter(F.col(FP_COL).isin(cand_fps))
        .select(key)
        .distinct()
        .limit(cap + 1)
        .collect()
    ]
    if not owner_keys:
        return kept  # pure bloom false positives
    if len(owner_keys) > cap:
        return _full_table_owner_check(spark, table, kept)
    # hash buckets of the candidate owners, computed with the writer's
    # own JVM xxhash64 (one local job — Python never re-implements it)
    buckets = sorted(
        {
            int(r["b"])
            for r in spark.createDataFrame([(k,) for k in owner_keys], f"{key} string")
            .select(
                F.pmod(F.xxhash64(F.col(key)), F.lit(table.n_buckets))
                .cast("int")
                .alias("b")
            )
            .distinct()
            .collect()
        }
    )
    existing = (
        table.read_buckets(
            spark, buckets=buckets, include_deleted=False, columns=[FP_COL]
        )
        .filter(F.col(key).isin(owner_keys) & F.col(FP_COL).isin(cand_fps))
        .select(F.col(key).alias("_fp_owner"), FP_COL)
    )
    return _owner_anti_join(kept, F.broadcast(existing), key)


# Every filter rule by name, with its kind. The kind drives a plan
# rewrite in apply_changes: gates (row-dropping filters) run BEFORE dedup
# so losers are cheap to discard; projections (column-producing
# transforms like HTML→text) are DEFERRED to after dedup, so expensive
# extraction runs once per surviving key instead of once per raw event —
# the same final state, ~(batch/keys)× less UDF work. post_gates are
# content gates that NEED the projected columns (extracted text), so they
# run after the project phase, still once per surviving key. Relative
# order within each kind is preserved. PipelineConfig validates
# `rules` against this table.
RULES: dict[str, tuple[str, Rule]] = {
    "valid_url": ("gate", rule_valid_url),
    "lang_gate": ("gate", rule_lang_gate),
    "min_html_bytes": ("gate", rule_min_html_bytes),
    "extract_text": ("project", rule_extract_text),
    "lang_fallback": ("project", rule_lang_fallback),
    "quality_gate": ("post_gate", rule_quality_gate),
    "exact_dup_gate": ("post_gate", rule_exact_dup_gate),
}


def apply_rules(
    df: DataFrame,
    cfg: PipelineConfig,
    kind: str | None = None,
    ctx: dict | None = None,
) -> DataFrame:
    """Chain cfg.rules in declared order (the DAG the reference never ran).
    With `kind`, apply only that phase ('gate'/'project'/'post_gate').
    `ctx` ({"spark", "table"}) lets table-aware gates see the apply
    target; rules degrade to batch-local behavior without it."""
    for name in cfg.rules:
        rule_kind, rule = RULES[name]  # validated by PipelineConfig
        if kind is None or rule_kind == kind:
            df = rule(df, cfg, ctx)
    return df
