"""Seeded transcripts corpus and probe sets in the FIXTURES.md §1-2 shape.

Generated here, from the benchmark's own seed, rather than by
``bloomfilter_spark.sources.transcripts``: that module caches by size and
pins its seed, and no change to the library may change the benchmark's
input.

Shape: Zipf(1.2) ``conv_id`` over ``n_convs`` conversations, dense
``turn_idx`` per conversation, roles cycling user/assistant/tool/system,
``tool`` NULL except on tool turns (Zipf(1.2) over 50 names), log-normal
text lengths clipped to 10..2000 characters and ~2% of turns repeating an
earlier turn's text in the same conversation, so ``(conv_id, text)``
repeats exactly there.

Every text is a slice ``pool[off:off + len]`` of one seeded random pool, so
``(conv, off, len)`` identifies the ``(conv_id, text)`` key exactly; the
generator keeps those arrays as ground truth and writes the key id as the
``kid`` column, which no sketch reads.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_TOOLS = 50
ROLES = ("user", "assistant", "tool", "system")
TOOL_ROLE = ROLES.index("tool")
ZIPF_S = 1.2
DUP_RATE = 0.02
POOL_BYTES = 1 << 25          # text pool; off < 2^25, len < 2^11
MIN_LEN, MAX_LEN = 10, 2000
ROWS_PER_FILE = 62_500         # 8 files for 500k turns: one scan task per file
BASE_TS_US = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z


def zipf_probs(n: int, s: float = ZIPF_S) -> np.ndarray:
    p = np.arange(1, n + 1, dtype=np.float64) ** -s
    return p / p.sum()


def conv_names(n_convs: int) -> list[str]:
    return [f"conv{i:08d}" for i in range(n_convs)]


TOOL_NAMES = [f"tool{i:02d}" for i in range(N_TOOLS)]


def _pool(rng: np.random.Generator) -> np.ndarray:
    pool = rng.integers(ord("a"), ord("z") + 1, POOL_BYTES, dtype=np.uint8)
    pool[rng.random(POOL_BYTES) < 0.17] = ord(" ")
    return pool


def _texts(pool: np.ndarray, off: np.ndarray, length: np.ndarray) -> pa.Array:
    ends = np.cumsum(length, dtype=np.int64)
    starts = ends - length
    idx = np.repeat(off - starts, length) + np.arange(ends[-1], dtype=np.int64)
    offsets = np.concatenate(([0], ends)).astype(np.int32)
    return pa.StringArray.from_buffers(
        len(off), pa.py_buffer(offsets), pa.py_buffer(pool[idx]))


@dataclass
class Corpus:
    """Ground truth of one generated corpus, row-aligned with ``rid``."""
    path: str
    n_convs: int
    conv: np.ndarray      # int32 conversation index
    turn: np.ndarray      # int32 turn_idx
    tool: np.ndarray      # int16 tool index, -1 where NULL
    off: np.ndarray       # int64 text offset in the pool
    length: np.ndarray    # int64 text length (characters == bytes)
    kid: np.ndarray       # int64 exact (conv_id, text) key id
    pool: np.ndarray

    @property
    def n(self) -> int:
        return int(self.conv.size)


def key_id(conv, off, length) -> np.ndarray:
    return ((np.asarray(conv, np.int64) << 36)
            | (np.asarray(off, np.int64) << 11) | np.asarray(length, np.int64))


def generate(path: str, n_turns: int, seed: int, n_convs: int) -> Corpus:
    """Write ``n_turns`` rows as parquet files under ``path`` (time order)."""
    rng = np.random.default_rng(seed)
    pool = _pool(rng)
    conv = rng.choice(n_convs, size=n_turns, p=zipf_probs(n_convs)).astype(np.int32)
    # turn_idx = rank of the row within its conversation (rows are in time
    # order, so it rises strictly with ts)
    order = np.argsort(conv, kind="stable")
    conv_sorted = conv[order]
    first = np.searchsorted(conv_sorted, np.arange(n_convs))
    turn_sorted = np.arange(n_turns) - first[conv_sorted]
    turn = np.empty(n_turns, np.int32)
    turn[order] = turn_sorted

    length = np.clip(np.rint(np.exp(rng.normal(np.log(40.0), 0.7, n_turns))),
                     MIN_LEN, MAX_LEN).astype(np.int64)
    off = rng.integers(0, POOL_BYTES - MAX_LEN, n_turns, dtype=np.int64)
    # ~2% of turns repeat the text of an earlier turn of the same
    # conversation; chains resolve to the first original
    is_dup = (rng.random(n_turns) < DUP_RATE) & (turn_sorted > 0)
    src = np.arange(n_turns)
    back = (rng.random(n_turns) * np.maximum(turn_sorted, 1)).astype(np.int64)
    src[is_dup] = np.flatnonzero(is_dup) - 1 - back[is_dup]
    while True:
        nxt = src[src]
        if np.array_equal(nxt, src):
            break
        src = nxt
    off_sorted, len_sorted = off[order][src], length[order][src]
    off[order], length[order] = off_sorted, len_sorted

    tool = np.full(n_turns, -1, np.int16)
    is_tool = turn % len(ROLES) == TOOL_ROLE
    tool[is_tool] = rng.choice(N_TOOLS, size=int(is_tool.sum()),
                               p=zipf_probs(N_TOOLS)).astype(np.int16)
    kid = key_id(conv, off, length)

    os.makedirs(path, exist_ok=True)
    conv_dict = pa.array(conv_names(n_convs))
    role_dict = pa.array(ROLES)
    tool_dict = pa.array(TOOL_NAMES)
    for i, a in enumerate(range(0, n_turns, ROWS_PER_FILE)):
        b = min(a + ROWS_PER_FILE, n_turns)
        rid = np.arange(a, b, dtype=np.int64)
        t = tool[a:b]
        table = pa.table({
            "rid": rid,
            "kid": kid[a:b],
            "conv_id": pa.DictionaryArray.from_arrays(pa.array(conv[a:b]), conv_dict),
            "turn_idx": turn[a:b],
            "role": pa.DictionaryArray.from_arrays(
                pa.array(turn[a:b] % len(ROLES)), role_dict),
            "text": _texts(pool, off[a:b], length[a:b]),
            "tool": pa.DictionaryArray.from_arrays(
                pa.array(t.astype(np.int32), mask=t < 0), tool_dict),
            "ts": pa.array(BASE_TS_US + rid * 1_000_000,
                           type=pa.timestamp("us", tz="UTC")),
        })
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"),
                       use_dictionary=["conv_id", "role", "tool"])
    return Corpus(path, n_convs, conv, turn, tool, off, length, kid, pool)


@dataclass
class Probes:
    """FIXTURES.md §2 probe set: half inserted keys, half from a disjoint
    ``probe…`` keyspace that was never inserted."""
    conv_id: list[str]
    text: pa.Array
    tool: np.ndarray      # int16, -1 where NULL
    conv: np.ndarray      # int32 conversation index, -1 for non-members
    is_member: np.ndarray


def probe_set(corpus: Corpus, n: int, seed: int) -> Probes:
    """``n`` probe keys; members are distinct inserted keys sampled
    uniformly, non-members carry a Zipf tool so they reach the per-tool
    sketch tables."""
    rng = np.random.default_rng([seed, 1])
    half = n // 2
    _, first_rows = np.unique(corpus.kid, return_index=True)
    rows = rng.choice(first_rows, size=half, replace=False)
    names = conv_names(corpus.n_convs)
    off = np.concatenate((corpus.off[rows],
                          rng.integers(0, POOL_BYTES - MAX_LEN, n - half)))
    length = np.concatenate((corpus.length[rows],
                             rng.integers(MIN_LEN, 200, n - half)))
    tool = np.concatenate((corpus.tool[rows],
                           rng.choice(N_TOOLS, size=n - half, p=zipf_probs(N_TOOLS))
                           .astype(np.int16)))
    conv = np.concatenate((corpus.conv[rows], np.full(n - half, -1, np.int32)))
    conv_id = ([names[c] for c in corpus.conv[rows]]
               + [f"probe{i:08d}" for i in range(n - half)])
    return Probes(conv_id, _texts(corpus.pool, off, length), tool, conv,
                  np.arange(n) < half)


def probe_table(p: Probes) -> pa.Table:
    t = p.tool
    return pa.table({
        "pid": np.arange(len(p.conv_id), dtype=np.int64),
        "conv_id": pa.array(p.conv_id),
        "text": p.text,
        "tool": pa.array([TOOL_NAMES[i] if i >= 0 else None for i in t],
                         type=pa.string()),
    })
