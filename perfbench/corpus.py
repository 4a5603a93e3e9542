"""Seeded transcript corpus and the reference answers the checks compare to.

The generator reproduces the row distribution of the repository's
``transcripts_small`` fixture draw for draw (same numpy ``default_rng``
sequence), so seed 42 at 20,000 conversations is the corpus ``bench.py``
measures. It lives here rather than being imported from the package so that
a change to the program can never change the benchmark's inputs.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

ROLES = np.array(["user", "assistant", "tool", "system"], dtype=object)
ROLE_P = np.array([0.40, 0.40, 0.15, 0.05])
TOOLS = np.array(
    ["search", "browser", "python", "bash", "calculator", "sql",
     "file_read", "file_write", "http_get", "summarize", "translate", "ocr"],
    dtype=object,
)
UTF8_SNIPPET = "héllo 世界 🙂"
SCHEMA = pa.schema([
    pa.field("conv_id", pa.string(), nullable=False),
    pa.field("turn_idx", pa.int32(), nullable=False),
    pa.field("role", pa.string(), nullable=False),
    pa.field("text", pa.string(), nullable=False),
    pa.field("tool", pa.string(), nullable=False),
    pa.field("ts", pa.timestamp("us"), nullable=False),
])
TEMPLATES = [
    ("I checked the ", " configuration and found ", " matching entries."),
    ("Please run the ", " step again with ", " retries enabled."),
    ("The ", " service returned status ", " after the last deploy."),
    ("Let me look at the ", " logs for request ", " now."),
    ("Based on the ", " output, I recommend increasing ", " slightly."),
    ("The error in ", " was caused by a missing ", " parameter."),
    ("I updated the ", " settings to use ", " as the default."),
    ("Searching the ", " index for ", " related documents."),
    ("The user asked about ", " so I summarized the ", " section."),
    ("That matches the ", " pattern we saw in ticket ", " earlier."),
    ("I will schedule the ", " job to process batch ", " overnight."),
    ("The metrics for ", " show a spike around ", " yesterday."),
]
START_LO_US = 1767225600 * 1_000_000  # 2026-01-01 UTC
START_HI_US = 1782777600 * 1_000_000  # 2026-06-30 UTC


def _vocab(rng: np.random.Generator) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    return np.array(
        ["".join(rng.choice(letters, int(rng.integers(3, 10))))
         for _ in range(512)],
        dtype=object,
    )


def _text(rng: np.random.Generator, total: int, vocab: np.ndarray) -> np.ndarray:
    n_sent = rng.integers(1, 6, total)
    k = int(n_sent.sum())
    tid = rng.integers(0, len(TEMPLATES), k)
    w1 = rng.choice(vocab, k)
    w2 = rng.integers(0, 100000, k)
    parts = [np.array([t[i] for t in TEMPLATES], dtype=object) for i in range(3)]
    sents = parts[0][tid] + w1 + parts[1][tid] + w2.astype(str).astype(object) + parts[2][tid]
    bounds = np.zeros(total + 1, dtype=np.int64)
    np.cumsum(n_sent, out=bounds[1:])
    return np.array([" ".join(sents[bounds[i]:bounds[i + 1]]) for i in range(total)],
                    dtype=object)


def generate(n_convs: int, seed: int, prefix: str = "conv-") -> pa.Table:
    """``n_convs`` conversations of 2..200 turns, rows shuffled on disk."""
    rng = np.random.default_rng(seed)
    lens = np.clip(rng.geometric(0.08, n_convs), 2, 200)
    vocab = _vocab(rng)
    total = int(lens.sum())
    names = np.array([f"{prefix}{i:08d}" for i in range(n_convs)], dtype=object)
    turn_idx = np.concatenate([np.arange(n, dtype=np.int32) for n in lens])

    role = rng.choice(ROLES, size=total, p=ROLE_P)
    first = turn_idx == 0
    role[first] = np.where(rng.random(first.sum()) < 0.5, "system", "user")
    w = 1.0 / np.arange(1, 13) ** 1.5
    tool = np.where(role == "tool", rng.choice(TOOLS, size=total, p=w / w.sum()), "")

    text = _text(rng, total, vocab)
    is_tool = role == "tool"
    vals = rng.integers(0, 10_000, total)
    status = rng.choice(np.array(["ok", "error", "timeout", "partial"], dtype=object),
                        size=total, p=[0.85, 0.05, 0.05, 0.05])
    text[is_tool] = np.array(['{"status": "%s", "value": %d}' % sv
                              for sv in zip(status[is_tool], vals[is_tool])], dtype=object)
    snip = rng.random(total) < 0.02
    text[snip] = text[snip] + " " + UTF8_SNIPPET

    starts = rng.integers(START_LO_US, START_HI_US, n_convs)
    gaps = (500_000 + rng.exponential(20_000_000, total)).astype(np.int64)
    heads = np.concatenate(([0], np.cumsum(lens)[:-1]))
    gaps[heads] = 0
    cum = np.cumsum(gaps)
    ts = starts[np.repeat(np.arange(n_convs), lens)] + cum - cum[np.repeat(heads, lens)]

    perm = rng.permutation(total)
    cols = [np.repeat(names, lens), turn_idx, role, text, tool, ts]
    return pa.Table.from_arrays(
        [pa.array(c[perm], type=f.type) for c, f in zip(cols, SCHEMA)], schema=SCHEMA)


def write(table: pa.Table, path: str) -> int:
    """zstd parquet with 64k-row groups, the repository's fixture layout."""
    pq.write_table(table, path, compression="zstd", row_group_size=65536)
    return os.path.getsize(path)


def text_digest(texts) -> str:
    """Ordered hash of a conversation's texts (the per-lookup check)."""
    h = hashlib.sha256()
    for t in texts:
        h.update(t.encode())
        h.update(b"\x00")
    return h.hexdigest()


class Reference:
    """Answers computed with pyarrow over the generated rows."""

    def __init__(self, table: pa.Table):
        t = table.sort_by([("conv_id", "ascending"), ("turn_idx", "ascending")])
        self.n_rows = t.num_rows
        self.conv_ids = t.column("conv_id").unique().to_pylist()
        ids = t.column("conv_id").to_pylist()
        self._texts = t.column("text").to_pylist()
        self._span: dict[str, tuple[int, int]] = {}
        start = 0
        for i in range(1, len(ids) + 1):
            if i == len(ids) or ids[i] != ids[start]:
                self._span[ids[start]] = (start, i)
                start = i
        self.table = table

    def digest(self, conv_id: str) -> tuple[int, str | None]:
        """(turn count, ordered text digest); (0, None) for an absent id."""
        if conv_id not in self._span:
            return 0, None
        lo, hi = self._span[conv_id]
        return hi - lo, text_digest(self._texts[lo:hi])

    def replace(self, conv_id: str, rows: pa.Table) -> None:
        """Record that ``conv_id`` now holds ``rows`` (empty = deleted)."""
        rows = rows.sort_by("turn_idx")
        texts = rows.column("text").to_pylist()
        base = len(self._texts)
        self._texts.extend(texts)
        if texts:
            self._span[conv_id] = (base, base + len(texts))
        else:
            self._span.pop(conv_id, None)

    def avg_text_len_by_role(self) -> dict[str, float]:
        lens = pc.utf8_length(self.table.column("text"))
        t = pa.table({"role": self.table.column("role"), "n": lens})
        out = t.group_by("role").aggregate([("n", "mean")])
        return dict(zip(out.column("role").to_pylist(), out.column("n_mean").to_pylist()))

    def count_by_role(self) -> dict[str, int]:
        out = self.table.group_by("role").aggregate([("role", "count")])
        return dict(zip(out.column("role").to_pylist(), out.column("role_count").to_pylist()))

    def ts_range(self, lo_us: int, hi_us: int) -> tuple[int, int]:
        """(row count, sum of turn_idx) with lo <= ts < hi."""
        ts = pc.cast(self.table.column("ts"), pa.int64())
        mask = pc.and_(pc.greater_equal(ts, lo_us), pc.less(ts, hi_us))
        sel = self.table.filter(mask)
        s = pc.sum(pc.cast(sel.column("turn_idx"), pa.int64())).as_py() or 0
        return sel.num_rows, s
