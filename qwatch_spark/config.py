"""Validated pipeline configuration.

The reference layers YAML + CLI flags (/root/reference/cmd/server.go:12-73,
server/server.go:23-28) but never validates keys — its own sample config
sets ``handlers:`` while the code reads ``outputs``
(/root/reference/resources/qwatch.yml:4 vs server/server.go:67), and an
unknown plugin name panics via nil interface (server/server.go:42-58).
We validate strictly: unknown keys and unknown plugin names are errors.
"""

from __future__ import annotations

import dataclasses
import json
from typing import Any

KNOWN_FILTER_RULES = (
    "lang_gate",
    "extract_text",
    "valid_url",
    "min_html_bytes",
    "lang_fallback",
    "quality_gate",
    "exact_dup_gate",
)


@dataclasses.dataclass(frozen=True)
class PipelineConfig:
    """Declarative pipeline spec: sources → filter rules → sink.

    The analog of the reference's inputs/filters/outputs CSV plugin lists
    (cmd/server.go:56-60), with the filter stage actually wired (the
    reference scaffolds but never activates it, server/server.go:60-64).
    """

    # filter rules applied in order between source and sink (F7 gap)
    rules: tuple[str, ...] = ("valid_url", "lang_gate", "extract_text")
    # languages kept by the lang_gate rule
    keep_langs: tuple[str, ...] = ("en", "de", "fr", "es")
    # minimum html payload size for min_html_bytes rule
    min_html_bytes: int = 1
    # minimum quality score (quality_gate rule) for a page version to be
    # ingested; see operators/textstats.quality_exprs
    min_quality: float = 0.2
    # number of hash buckets of the target table (scale knob: at 100 TB
    # with ~1 GB target bucket files this would be ~100_000; tests use 8)
    n_buckets: int = 64
    # skew fan-out for the dedup stage. In `apply_changes` any value > 1
    # selects the pre-reduced dedup (map-side partial aggregation on
    # (bucket, key) before the bucket exchange — for feeds where ONE
    # key's raw duplicate volume per epoch could overwhelm its bucket
    # task); 0/1 selects the bucket-fused single-exchange dedup, the
    # default since the r9 optimization round: bucket volumes are
    # balanced by hash construction, and the ordinary CDC feed (bounded
    # per-key duplication per epoch) gains nothing from pre-reduction
    # that is worth a second full exchange. In `latest_wins` it is the
    # classic two-phase salted aggregation fan-out (q02).
    n_salt: int = 0
    # rename map applied to incoming feed columns before evolution
    # resolution: {feed_column_name: canonical_name}
    rename_map: dict[str, str] = dataclasses.field(default_factory=dict)
    # bounded-run knob: max feed files per streaming micro-batch
    max_files_per_trigger: int = 16
    # feed segment encoding: parquet (lake-native WAL) or json (JSONL —
    # the reference's GELF push feed is JSON events; binary columns ride
    # as base64, malformed lines are dead-lettered with the raw text)
    feed_format: str = "parquet"
    # physical apply strategy:
    #   cow   — rewrite touched buckets each epoch (read-optimized)
    #   delta — merge-on-read: write only the epoch's updates, resolve at
    #           read time; apply cost O(batch), independent of table size
    #           (the 10^10-row scale path for frequent epochs)
    #   auto  — delta commits + automatic compaction via compact_every
    write_mode: str = "cow"
    # auto/delta: compact any bucket once it carries more than this many
    # delta versions (read amplification bound)
    compact_every: int = 8
    # manifest commit protocol for tables THIS pipeline creates:
    #   localfs — atomic rename + mutation-counter guard (single writer)
    #   cas     — put-if-absent commit log: safe under concurrent
    #             writers on any store with a conditional put
    commit_protocol: str = "localfs"
    # where the CAS commit log of tables this pipeline creates lives
    # (plans/objectstore.py):
    #   localfs — the table dir, os.link put-if-absent (default)
    #   s3      — an S3 bucket, conditional put (If-None-Match: *)
    cas_backend: str = "localfs"
    # shard the manifest's bucket entries into this many side files
    # (None = inline). Size ≥ n_buckets/32 once n_buckets is large:
    # per-epoch manifest cost becomes O(touched buckets)
    manifest_shards: int | None = None
    # maintain the fingerprint bloom side index (plans/fp_bloom.py) so
    # exact_dup_gate's cross-epoch check costs O(batch) instead of a
    # per-epoch narrow table scan + dedup shuffle; enabling it on an
    # existing table triggers a one-time rebuild.
    #   False  — never ENABLE the index here (but a table whose index a
    #            previous run already enabled keeps getting segment
    #            appends: on-disk state is authoritative, else the
    #            bloom's superset-of-live-fps invariant breaks)
    #   True   — enable on first apply
    #   "auto" — enable once the manifest's live-row upper-bound
    #            estimate crosses fp_auto_rows; below that the index's
    #            ~1 s/epoch fixed cost exceeds the scan it replaces
    fp_index: bool | str = False
    # measured crossover (scripts/bench_fp_gate.py): the bloom gate is
    # strictly faster once the table exceeds ~1M rows
    fp_auto_rows: int = 1_000_000
    # bloom-hit candidate cap: a batch with more bloom-hit fingerprints
    # (or candidate owner keys) than this falls back to the full
    # anti-join, which is cheaper at that density anyway
    fp_cand_cap: int = 200_000
    # once more than this many committed per-epoch bloom segments
    # accumulate, apply OR-folds equal-size ones inline (pure numpy
    # over the filter files — no table scan); rebuild() at maintenance
    # cadence remains the full consolidation that sheds dead entries
    fp_merge_segments: int = 64

    def __post_init__(self) -> None:
        unknown = [r for r in self.rules if r not in KNOWN_FILTER_RULES]
        if unknown:
            raise ValueError(
                f"unknown filter rule(s) {unknown}; known: {list(KNOWN_FILTER_RULES)}"
            )
        if self.n_buckets < 1:
            raise ValueError("n_buckets must be >= 1")
        if self.n_salt < 0:
            raise ValueError("n_salt must be >= 0")
        if self.fp_index not in (False, True, "auto"):
            raise ValueError(
                f"fp_index must be False, True, or 'auto' (got {self.fp_index!r})"
            )
        if self.commit_protocol not in ("localfs", "cas"):
            raise ValueError(
                f"unknown commit_protocol {self.commit_protocol!r} "
                "(expected 'localfs' or 'cas')"
            )
        from qwatch_spark.plans.objectstore import CAS_BACKENDS

        if self.cas_backend not in CAS_BACKENDS:
            raise ValueError(
                f"unknown cas_backend {self.cas_backend!r} "
                f"(expected one of {CAS_BACKENDS})"
            )
        from qwatch_spark.sources.feed import FEED_FORMATS

        if self.feed_format not in FEED_FORMATS:
            raise ValueError(
                f"unknown feed_format {self.feed_format!r}; "
                f"known: {FEED_FORMATS}"
            )
        if self.manifest_shards is not None and not (
            1 <= self.manifest_shards <= self.n_buckets
        ):
            raise ValueError(
                "manifest_shards must be in [1, n_buckets]; "
                f"got {self.manifest_shards}"
            )
        if self.write_mode not in ("cow", "delta", "auto"):
            raise ValueError(
                f"write_mode must be cow|delta|auto, got {self.write_mode!r}"
            )
        if self.compact_every < 1:
            raise ValueError("compact_every must be >= 1")

    @classmethod
    def from_dict(cls, raw: dict[str, Any]) -> "PipelineConfig":
        field_names = {f.name for f in dataclasses.fields(cls)}
        unknown = set(raw) - field_names
        if unknown:
            raise ValueError(
                f"unknown config key(s) {sorted(unknown)}; known: {sorted(field_names)}"
            )
        coerced = dict(raw)
        for key in ("rules", "keep_langs"):
            if key in coerced and isinstance(coerced[key], list):
                coerced[key] = tuple(coerced[key])
        return cls(**coerced)

    @classmethod
    def from_json_file(cls, path: str) -> "PipelineConfig":
        with open(path) as fh:
            return cls.from_dict(json.load(fh))

    @classmethod
    def from_yaml_file(cls, path: str) -> "PipelineConfig":
        """qwatch.yml analog (/root/reference/resources/qwatch.yml), but
        strict: unknown keys error instead of silently reading the wrong
        section (the reference ships `handlers:` while its code reads
        `outputs`, server/server.go:67)."""
        import yaml

        with open(path) as fh:
            raw = yaml.safe_load(fh) or {}
        if not isinstance(raw, dict):
            raise ValueError(f"config file {path!r} must contain a mapping")
        return cls.from_dict(raw)

    @classmethod
    def from_file(cls, path: str) -> "PipelineConfig":
        if path.endswith((".yml", ".yaml")):
            return cls.from_yaml_file(path)
        return cls.from_json_file(path)

    def with_overrides(self, **overrides: Any) -> "PipelineConfig":
        """Config-file + CLI-flag layering (the reference's yml + cobra
        flags, cmd/server.go:12-73): None values mean 'not given' and
        keep the base; everything is re-validated."""
        raw = dataclasses.asdict(self)
        raw.update({k: v for k, v in overrides.items() if v is not None})
        return PipelineConfig.from_dict(raw)
