"""Seeded input generators for the benchmark workloads.

Every input is a closed function of ``--seed``: the same seed gives the
same rows.  Pathologies are planted at exact counts (positions drawn
from the seed), so row counts and failing-row shares stay nearly
constant across seeds while the rows that carry them move.  The
program under test only ever sees the landed parquet.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SYSTEM, USER, ASSISTANT, TOOL, CRITIC = "system", "user", "assistant", "tool", "critic"
VALID_TOOLS = ["search", "calculator", "python", "browser", "sql"]
BASE_EPOCH_S = 1_704_067_200  # 2024-01-01T00:00:00Z

#: per-turn (or per-conversation) planting rates of the transcript shape,
#: after the closed-form sf0.1 generator (sources/transcripts.py)
HOT_EVERY = 997  # one conversation in HOT_EVERY carries HOT_FACTOR x turns
HOT_FACTOR = 100
TURN_RATES = {
    "critic_role": 1 / 611,
    "null_role": 1 / 3000,
    "null_text": 1 / 509,
    "empty_text": 1 / 503,
    "oversize_text": 1 / 50_000,
    "stray_tool": 1 / 479,
    "ts_regression": 1 / 2000,
    "null_ts": 1 / 4000,
}
CONV_RATES = {
    "dup_turn": 1 / 499,
    "idx_gap": 1 / 701,
    "bad_first_role": 1 / 1000,
    "tool_after_system": 1 / 200,
    "bad_conv_id": 1 / 5000,
}
GHOST_TOOL_RATE = 1 / 97  # share of tool turns naming a tool absent from the catalog
TOOL_TURN_RATE = 0.18  # share of eligible user slots turned into tool output


def _words(rng: np.random.Generator, n: int, prefix: str) -> np.ndarray:
    """``n`` distinct lowercase pseudo-words; the prefix keeps them apart
    from every stopword and from other vocabularies."""
    out: set[str] = set()
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    while len(out) < n:
        lens = rng.integers(4, 9, n)
        for ln in lens:
            out.add(prefix + "".join(rng.choice(letters, ln)))
            if len(out) == n:
                break
    return np.array(sorted(out), dtype=object)


def _pick(rng: np.random.Generator, n: int, rate: float) -> np.ndarray:
    """Exactly ``round(n * rate)`` distinct positions in ``range(n)``."""
    k = min(n, int(round(n * rate)))
    return rng.choice(n, k, replace=False) if k else np.empty(0, dtype=np.int64)


def transcripts(
    seed: int, n_convs: int, exact_copies: float = 0.0, near_copies: float = 0.0
) -> tuple[pa.Table, dict]:
    """Transcript turns ``(conv_id, turn_idx, role, text, tool, ts)``.

    The sf0.1 shape: 3-10 turns per conversation, one in 997 hot with
    100x turns, duplicated turn-1 rows, out-of-domain and NULL roles,
    NULL / empty / oversize text, stray and dangling tool names, index
    gaps, timestamp regressions and malformed conversation ids.
    ``exact_copies`` / ``near_copies`` append that share of extra
    conversations copied from non-hot ones, verbatim or with one turn's
    text replaced (near-duplicate conversations for the dedup stage).
    """
    rng = np.random.default_rng(seed)
    pool_words = _words(rng, 4096, "x")
    n_pool = 16_384
    pool_len = rng.integers(5, 45, n_pool)
    starts = rng.integers(0, len(pool_words), n_pool)
    pool = np.array(
        [" ".join(pool_words[(s + np.arange(ln)) % len(pool_words)]) for s, ln in zip(starts, pool_len)],
        dtype=object,
    )

    n_turns = rng.integers(3, 11, n_convs)
    hot = _pick(rng, n_convs, 1 / HOT_EVERY)
    n_turns[hot] *= HOT_FACTOR
    conv = np.repeat(np.arange(n_convs), n_turns)
    first = np.repeat(np.cumsum(n_turns) - n_turns, n_turns)
    idx = np.arange(len(conv)) - first
    n = len(conv)

    role = np.where(idx == 0, SYSTEM, np.where(idx % 2 == 1, USER, ASSISTANT)).astype(object)
    # tool output replaces a user slot that follows an assistant turn
    # (assistant -> tool -> assistant), so it is grammatical by default
    slot = np.flatnonzero((idx >= 3) & (idx % 2 == 1))
    is_tool = np.zeros(n, dtype=bool)
    is_tool[slot[_pick(rng, len(slot), TOOL_TURN_RATE)]] = True
    conv_first = np.cumsum(n_turns) - n_turns
    bad_tool = conv_first[_pick(rng, n_convs, CONV_RATES["tool_after_system"])] + 1
    is_tool[bad_tool] = True  # system -> tool breaks the grammar
    role[is_tool] = TOOL
    role[conv_first[_pick(rng, n_convs, CONV_RATES["bad_first_role"])]] = ASSISTANT
    role[_pick(rng, n, TURN_RATES["critic_role"])] = CRITIC
    role[_pick(rng, n, TURN_RATES["null_role"])] = None
    is_tool = role == TOOL

    text = pool[rng.integers(0, n_pool, n)]
    text[_pick(rng, n, TURN_RATES["oversize_text"])] = "xoversize " * 2001
    text[_pick(rng, n, TURN_RATES["empty_text"])] = ""
    text[_pick(rng, n, TURN_RATES["null_text"])] = None

    tool = np.full(n, None, dtype=object)
    tool_rows = np.flatnonzero(is_tool)
    tool[tool_rows] = np.array(VALID_TOOLS, dtype=object)[rng.integers(0, len(VALID_TOOLS), len(tool_rows))]
    tool[tool_rows[_pick(rng, len(tool_rows), GHOST_TOOL_RATE)]] = "ghost_tool"
    other = np.flatnonzero(~is_tool & (idx > 0))
    stray = other[_pick(rng, len(other), TURN_RATES["stray_tool"])]
    tool[stray] = np.array(VALID_TOOLS, dtype=object)[rng.integers(0, len(VALID_TOOLS), len(stray))]

    # an index gap after turn 1 or 2: every later turn_idx moves up by one
    gap_pos = np.full(n_convs, np.iinfo(np.int64).max)
    gap_convs = _pick(rng, n_convs, CONV_RATES["idx_gap"])
    gap_pos[gap_convs] = rng.integers(1, 3, len(gap_convs))
    turn_idx = (idx + (idx >= gap_pos[conv])).astype(np.int32)

    ts_s = BASE_EPOCH_S + conv.astype(np.int64) * 60 + idx * 7
    ts_s[_pick(rng, n, TURN_RATES["ts_regression"])] -= 30
    ts_null = np.zeros(n, dtype=bool)
    ts_null[_pick(rng, n, TURN_RATES["null_ts"])] = True
    ts = pa.array(ts_s * 1_000_000, mask=ts_null, type=pa.timestamp("us", tz="UTC"))

    # conversation copies (exact, then near) from non-hot sources; a
    # copy keeps every column but the id, so its health equals its source's
    not_hot = np.setdiff1d(np.arange(n_convs), hot)
    n_exact = int(round(n_convs * exact_copies))
    n_near = int(round(n_convs * near_copies))
    sources = rng.choice(not_hot, n_exact + n_near, replace=False)
    rows_of = [np.arange(conv_first[s], conv_first[s] + n_turns[s]) for s in sources]
    copy_rows = np.concatenate(rows_of) if rows_of else np.empty(0, dtype=np.int64)
    copy_conv = np.repeat(n_convs + np.arange(len(sources)), [len(r) for r in rows_of]).astype(np.int64)
    copy_text = text[copy_rows].copy()
    off = 0
    for j, r in enumerate(rows_of):
        if j >= n_exact:  # near copy: one turn's text rewritten
            copy_text[off + int(rng.integers(0, len(r)))] = pool[rng.integers(0, n_pool)]
        off += len(r)

    # duplicated turn-1 rows (uniqueness + dup_idx fixtures)
    dup_rows = conv_first[_pick(rng, n_convs, CONV_RATES["dup_turn"])] + 1

    ids = np.array([f"conv-{i:08d}" for i in range(n_convs + len(sources))], dtype=object)
    for i in _pick(rng, n_convs, CONV_RATES["bad_conv_id"]):
        ids[i] = f"conv-x{i:07d}"  # fails the conv_id regex

    all_rows = np.concatenate([np.arange(n), copy_rows, dup_rows])
    all_conv = np.concatenate([conv, copy_conv, conv[dup_rows]])
    all_text = np.concatenate([text, copy_text, text[dup_rows]])
    ts_all = pa.concat_arrays([ts, ts.take(pa.array(copy_rows)), ts.take(pa.array(dup_rows))])
    table = pa.table(
        {
            "conv_id": pa.array(ids[all_conv], type=pa.string()),
            "turn_idx": pa.array(turn_idx[all_rows], type=pa.int32()),
            "role": pa.array(role[all_rows], type=pa.string()),
            "text": pa.array(all_text, type=pa.string()),
            "tool": pa.array(tool[all_rows], type=pa.string()),
            "ts": ts_all,
        }
    )
    hot_rows = int(n_turns[hot].sum())
    facts = {
        "rows": table.num_rows,
        "convs": n_convs + len(sources),
        "hot_convs": int(len(hot)),
        "hot_key_share": round(hot_rows / n, 4),
        "exact_conv_copies": n_exact,
        "near_conv_copies": n_near,
        "dup_turn_rows": int(len(dup_rows)),
    }
    return table, facts


def documents(seed: int, n_docs: int) -> tuple[pa.Table, dict]:
    """Documents ``(doc_id bigint, text string)`` with known shares of
    quality-gate failures, exact duplicates and near-duplicate rewrites.

    - good docs: 60-160 pairwise-distinct words, no punctuation, so they
      pass every default Gopher gate;
    - short docs (8%): 10-45 distinct words, failing only ``too_short``;
    - boilerplate docs (4%): a three-word phrase repeated to 60-120
      words, failing the repetition gates;
    - exact duplicates (6%): verbatim copies of good docs;
    - near duplicates (6%): copies of good docs with 1-3 words replaced
      by words from a disjoint vocabulary.
    """
    rng = np.random.default_rng(seed)
    vocab = _words(rng, 8192, "x")
    fresh = _words(rng, 4096, "y")
    v = len(vocab)
    kinds = np.array(["good"] * n_docs, dtype=object)
    perm = rng.permutation(n_docs)
    cut = np.cumsum([int(n_docs * s) for s in (0.08, 0.04, 0.06, 0.06)])
    kinds[perm[: cut[0]]] = "short"
    kinds[perm[cut[0] : cut[1]]] = "boilerplate"
    kinds[perm[cut[1] : cut[2]]] = "exact"
    kinds[perm[cut[2] : cut[3]]] = "near"

    def distinct_words(lo: int, hi: int) -> list[str]:
        ln = int(rng.integers(lo, hi))
        start = int(rng.integers(0, v))
        step = int(rng.integers(0, v // 2)) * 2 + 1  # odd: coprime with 2^13
        return list(vocab[(start + step * np.arange(ln)) % v])

    texts: list[str | None] = [None] * n_docs
    good_ids = np.flatnonzero(kinds == "good")
    for i in good_ids:
        texts[i] = " ".join(distinct_words(60, 161))
    for i in np.flatnonzero(kinds == "short"):
        texts[i] = " ".join(distinct_words(10, 46))
    for i in np.flatnonzero(kinds == "boilerplate"):
        phrase = distinct_words(3, 4)
        texts[i] = " ".join(phrase * int(rng.integers(20, 41)))
    for i in np.flatnonzero(kinds == "exact"):
        texts[i] = texts[int(rng.choice(good_ids))]
    for i in np.flatnonzero(kinds == "near"):
        words = texts[int(rng.choice(good_ids))].split(" ")
        for p in rng.choice(len(words), int(rng.integers(1, 4)), replace=False):
            words[p] = fresh[int(rng.integers(0, len(fresh)))]
        texts[i] = " ".join(words)

    table = pa.table(
        {"doc_id": pa.array(np.arange(n_docs), type=pa.int64()), "text": pa.array(texts, type=pa.string())}
    )
    passing = [t for t, k in zip(texts, kinds) if k not in ("short", "boilerplate")]
    facts = {
        "rows": n_docs,
        "quality_drops": int(cut[1]),
        "failing_share": round(cut[1] / n_docs, 4),
        "exact_dup_drops": len(passing) - len(set(passing)),
        "near_dup_rewrites": int(cut[3] - cut[2]),
        "hot_key_share": 0.0,
    }
    return table, facts


def land(table: pa.Table, path: str, n_files: int) -> None:
    """Write ``table`` as ``n_files`` parquet files under ``path`` (one
    scan split per file)."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))
