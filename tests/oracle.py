"""Single-threaded Python replay oracle (SURVEY.md §5.2 item 1).

The golden contract: the engine's table after replaying the feed —
under any epoching, ordering, duplication, or parallelism — must equal
this naive dict replay. Latest (warc_ts, seq) wins; 'D' tombstones the
key (an older update after a delete does not resurrect it).
"""

from __future__ import annotations

import re

from qwatch_spark.config import PipelineConfig
from qwatch_spark.functions.text import extract_text_bytes

_URL_RE = re.compile(r"^(https?)://([^/]+)(/.*)?$")


def _passes_rules(row: dict, cfg: PipelineConfig) -> bool:
    for rule in cfg.rules:
        if rule == "valid_url":
            if not _URL_RE.match(row["url"] or ""):
                return False
        elif rule == "lang_gate":
            if row["op"] != "D" and row.get("lang") not in cfg.keep_langs:
                return False
        elif rule == "min_html_bytes":
            if row["op"] != "D" and len(row.get("html") or b"") < cfg.min_html_bytes:
                return False
        elif rule == "extract_text":
            pass  # projection, not a gate
    return True


def oracle_state(rows: list[dict], cfg: PipelineConfig | None = None) -> dict:
    """url → winning event row (including tombstones)."""
    cfg = cfg or PipelineConfig()
    state: dict[str, dict] = {}
    for row in rows:
        if not _passes_rules(row, cfg):
            continue
        cur = state.get(row["url"])
        if cur is None or (row["warc_ts"], row["seq"]) >= (cur["warc_ts"], cur["seq"]):
            state[row["url"]] = row
    return state


def oracle_final_pages(
    rows: list[dict], cfg: PipelineConfig | None = None
) -> dict[str, tuple]:
    """url → (warc_ts, html, text, lang) for live rows only — directly
    comparable to SnapshotTable.read() output."""
    cfg = cfg or PipelineConfig()
    out = {}
    for url, row in oracle_state(rows, cfg).items():
        if row["op"] == "D":
            continue
        if "extract_text" in cfg.rules:
            text = extract_text_bytes(row.get("html"))
        else:
            text = row.get("text")
        out[url] = (row["warc_ts"], row.get("html"), text, row.get("lang"))
    return out


def oracle_final_ops(
    epochs: list[list[dict]], cfg: PipelineConfig | None = None
) -> dict[str, str]:
    """url → final last_op ('I'/'U'/'D') replaying the given epoching:
    per epoch, the (warc_ts, seq) winner per url applies against the
    state before the epoch (absent/tombstoned → I, live → U, delete →
    D); late winners (older than current state) are ignored. Matches
    the engine's compaction-repaired classification whenever the
    epoching is in event-time order."""
    cfg = cfg or PipelineConfig()
    state: dict[str, dict] = {}
    ops: dict[str, str] = {}
    for rows in epochs:
        winners: dict[str, dict] = {}
        for row in rows:
            if not _passes_rules(row, cfg):
                continue
            cur = winners.get(row["url"])
            if cur is None or (row["warc_ts"], row["seq"]) >= (
                cur["warc_ts"], cur["seq"]
            ):
                winners[row["url"]] = row
        for url, row in winners.items():
            cur = state.get(url)
            if cur is not None and (row["warc_ts"], row["seq"]) < (
                cur["warc_ts"], cur["seq"]
            ):
                continue  # late winner loses to current state
            if row["op"] == "D":
                ops[url] = "D"
            elif cur is None or cur["op"] == "D":
                ops[url] = "I"
            else:
                ops[url] = "U"
            state[url] = row
    return ops
