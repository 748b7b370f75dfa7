"""Seeded input generators for the benchmark.

Every field comes from `qwatch_spark.datagen`'s column mixer (the same
constants and formulas as `gen_feed_df` / `gen_entity_feed_df`), evaluated
with numpy so a whole feed is built without Spark. The seed only offsets
`seq`, so the feed shape (hot-domain skew, +-10 min jitter, 10% deletes)
is the datagen shape and `qwatch_spark/datagen.py` needs no change.
`perfbench/test_helpers.py` pins the numpy mixer to `datagen.gen_feed_rows`
row for row.

Inputs are written as parquet files before any timing starts; the engine
sees only those files.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from qwatch_spark import datagen as dg

# Seeds further apart than this never share a seq range.
SEED_STRIDE = 50_000_000
KEEP_LANGS = ("en", "de", "fr", "es")  # PipelineConfig.keep_langs default


def seq_base(seed: int) -> int:
    # seq * _A must stay below 2^63 (datagen's exactness bound)
    return (int(seed) % 64) * SEED_STRIDE


def _mix(seq: np.ndarray, k: int) -> np.ndarray:
    return (seq * dg._A + k * (dg._B + dg._C)) % dg._M


def _domain_page(seq: np.ndarray, n_domains: int, pages: int):
    h1 = _mix(seq, 1)
    domain = np.where(h1 % 100 < dg.HOT_PCT, 0, 1 + (h1 // 100) % (n_domains - 1))
    return domain, _mix(seq, 2) % pages


def _ops(seq: np.ndarray) -> np.ndarray:
    h3 = _mix(seq, 3) % 10
    return np.where(h3 == 0, "D", np.where(h3 <= 4, "I", "U"))


def _ts_s(seq: np.ndarray) -> np.ndarray:
    return dg.BASE_EPOCH + seq + _mix(seq, 4) % 1201 - 600


def _ts_col(seq: np.ndarray) -> pa.Array:
    return pa.array(_ts_s(seq) * 1_000_000, pa.timestamp("us", tz="UTC"))


def feed_columns(seq: np.ndarray, n_domains: int, pages: int) -> dict:
    """The web-page feed of `gen_feed_df` for the given seqs (no html)."""
    domain, page = _domain_page(seq, n_domains, pages)
    op = _ops(seq)
    lang = np.array(dg.LANGS, dtype=object)[_mix(seq, 5) % len(dg.LANGS)]
    lang[op == "D"] = None
    return {
        "seq": seq,
        "op": op,
        "domain": domain,
        "page": page,
        "url": np.array([dg._url_py(int(d), int(p)) for d, p in zip(domain, page)],
                        dtype=object),
        "ts_s": _ts_s(seq),
        "lang": lang,
    }


def write_feed(path: str, seq: np.ndarray, n_domains: int, pages: int,
               files: int = 1, epoch_of: np.ndarray | None = None) -> dict:
    """Write the EVENT_SCHEMA feed for `seq` as `files` parquet files
    (html rendered by datagen); returns the numpy columns, which the
    reference side reads instead of the files."""
    os.makedirs(path, exist_ok=True)
    c = feed_columns(seq, n_domains, pages)
    html = [
        None if o == "D" else dg._html_py(int(d), int(p), int(s))
        for o, d, p, s in zip(c["op"], c["domain"], c["page"], seq)
    ]
    epoch = np.zeros(len(seq), np.int32) if epoch_of is None else epoch_of
    tbl = pa.table(
        {
            "seq": pa.array(seq, pa.int64()),
            "op": pa.array(c["op"].tolist(), pa.string()),
            "url": pa.array(c["url"].tolist(), pa.string()),
            "warc_ts": _ts_col(seq),
            "html": pa.array(html, pa.binary()),
            "lang": pa.array(c["lang"].tolist(), pa.string()),
            "source": pa.array([f"feed-{s % 4}" for s in seq], pa.string()),
            "epoch_hint": pa.array(epoch.astype(np.int32), pa.int32()),
        }
    )
    for i, part in enumerate(np.array_split(np.arange(len(seq)), files)):
        pq.write_table(tbl.take(pa.array(part)),
                       os.path.join(path, f"part-{i:05d}.parquet"))
    return c


def entity_table(seq: np.ndarray, n_domains: int, pages: int) -> pa.Table:
    """The page+domain feed of `gen_entity_feed_df` for the given seqs."""
    domain, page = _domain_page(seq, n_domains, pages)
    dom = [f"d{int(d)}.example.com" for d in domain]
    return pa.table(
        {
            "entity_type": pa.array(
                np.where(seq % 11 == 0, "domain", "page").tolist(), pa.string()
            ),
            "op": pa.array(_ops(seq).tolist(), pa.string()),
            "seq": pa.array(seq, pa.int64()),
            "warc_ts": _ts_col(seq),
            "url": pa.array([f"https://{d}/p/{int(p)}" for d, p in zip(dom, page)],
                            pa.string()),
            "dom": pa.array(dom, pa.string()),
            "registrar": pa.array([f"r{int(r)}" for r in _mix(seq, 6) % 5],
                                  pa.string()),
        }
    )


def apply_events(state: dict, cols: dict, idx, gated: bool = True) -> set:
    """Fold events `idx` into the reference state url -> (ts_s, seq,
    is_deleted, lang) by the (warc_ts, seq) total order; returns the urls whose
    winner changed. `gated` applies the gate rules the workloads use
    (valid_url passes every generated url; lang_gate keeps deletes and
    KEEP_LANGS)."""
    changed = set()
    url, ts, seq, op, lang = (
        cols["url"], cols["ts_s"], cols["seq"], cols["op"], cols["lang"]
    )
    for i in idx:
        if gated and op[i] != "D" and lang[i] not in KEEP_LANGS:
            continue
        cand = (int(ts[i]), int(seq[i]), bool(op[i] == "D"), lang[i])
        cur = state.get(url[i])
        if cur is None or cand[:2] > cur[:2]:
            state[url[i]] = cand
            changed.add(url[i])
    return changed


def row_hash(url: str, ts_s: int, lang: str) -> int:
    """32-bit digest term of one live row as `SnapshotTable.read` returns
    it; the Spark side is `checks.row_hash_col`."""
    key = f"{url}|{ts_s * 1_000_000}|{lang}"
    return int(hashlib.md5(key.encode()).hexdigest()[:8], 16)


def state_digest(state: dict) -> tuple[int, int]:
    """Order-free digest of the live rows: (count, sum of row hashes)."""
    live = [(u, ts, lang) for u, (ts, _s, dead, lang) in state.items() if not dead]
    return len(live), sum(row_hash(*r) for r in live)


# --- near-dup corpora -----------------------------------------------------


def _word(seed: int, d: int, i: int, vocab: int) -> str:
    h = hashlib.md5(f"{seed}:{d}:{i}".encode()).hexdigest()[:8]
    return "w%d" % (int(h, 16) % vocab)


def sparse_corpus(seed: int, n_docs: int, doc_len: int, n_dups: int,
                  vocab: int = 50_000) -> tuple[list, set, set]:
    """Realistic-vocabulary corpus (cross-doc Jaccard ~0.006) plus planted
    duplicates. Returns (rows, exact_pairs, near_pairs). An exact pair has
    the same word set in another order, so every correct LSH finds it. A
    near pair swaps one word and is found with high probability only, so
    it feeds the recall figure, not the correctness check."""
    rows = [(d, [_word(seed, d, i, vocab) for i in range(doc_len)])
            for d in range(n_docs)]
    exact, near = set(), set()
    for j in range(n_dups):
        words = list(rows[j][1])
        if j % 2 == 0:
            words.reverse()
            exact.add((j, n_docs + j))
        else:
            words[doc_len // 2] = f"zdup{seed}x{j}"
            near.add((j, n_docs + j))
        rows.append((n_docs + j, words))
    return [(d, " ".join(w)) for d, w in rows], exact, near


def dense_block(seed: int, first_id: int, n_docs: int, doc_len: int,
                vocab: int = 50_000) -> list:
    """`n_docs` copies of one base doc, each with one word swapped, so
    every pair is a near-dup and LSH buckets exceed the block-pair size."""
    base = [_word(seed, -1, i, vocab) for i in range(doc_len)]
    rows = []
    for k in range(n_docs):
        words = list(base)
        words[k % doc_len] = f"zblk{seed}x{k}"
        rows.append((first_id + k, " ".join(words)))
    return rows
