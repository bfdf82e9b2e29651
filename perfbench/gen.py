"""Seeded inputs and the expected answers derived from them.

Everything here is plain numpy/pyarrow: the generator never calls the
package under test, so the expected values are independent of it. The
same seed gives byte-identical inputs (tests/test_gen.py pins this).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa

LETTERS = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)


def vocabulary(rng: np.random.Generator, n_words: int = 30_000) -> list[bytes]:
    """Distinct pseudo-words of 2-11 letters, shortest first: word ranks
    are frequency ranks, and frequent words are short, as in natural
    text. Duplicates are dropped, so the list is usually a little shorter
    than ``n_words``."""
    lens = np.sort(rng.integers(2, 12, size=n_words))
    letters = LETTERS[rng.integers(0, 26, size=int(lens.sum()))].tobytes()
    ends = np.cumsum(lens)
    words = [letters[e - n:e] for e, n in zip(ends.tolist(), lens.tolist())]
    return list(dict.fromkeys(words))


def zipf_weights(n_vocab: int) -> np.ndarray:
    """Word-rank probabilities of a Zipf-Mandelbrot law, the shape of
    natural text."""
    w = 1.0 / (np.arange(n_vocab) + 2.7) ** 1.07
    return w / w.sum()


def zipf_ids(rng: np.random.Generator, n_vocab: int, n: int) -> np.ndarray:
    return rng.choice(n_vocab, size=n, p=zipf_weights(n_vocab))


def text_lines(rng: np.random.Generator, vocab: list[bytes], n_bytes: int) -> bytes:
    """About ``n_bytes`` of newline-terminated lines of 6-29 words.

    Built with array gathers, not a per-word Python loop: each token
    contributes its word and one separator byte, and the separator of a
    line's last token becomes the newline."""
    wlen = np.array([len(w) for w in vocab], dtype=np.int64)
    wstart = np.concatenate(([0], np.cumsum(wlen + 1)[:-1]))
    buf = np.frombuffer(b"".join(w + b" " for w in vocab), dtype=np.uint8)
    n_tok = int(n_bytes / (zipf_weights(len(vocab)) @ (wlen + 1))) + 1
    ids = zipf_ids(rng, len(vocab), n_tok)
    per_line = rng.integers(6, 30, size=n_tok // 6 + 1)
    line_ends = np.cumsum(per_line)
    line_ends = line_ends[line_ends <= n_tok]
    ids = ids[: int(line_ends[-1])]
    tok_len = wlen[ids] + 1
    out_start = np.cumsum(tok_len) - tok_len
    src = np.repeat(wstart[ids] - out_start, tok_len) + np.arange(int(tok_len.sum()))
    out = buf[src]
    out[out_start[line_ends - 1] + tok_len[line_ends - 1] - 1] = ord("\n")
    return out.tobytes()


def line_stats(data: bytes) -> tuple[int, int]:
    """(lines, characters excluding terminators) of newline-terminated ASCII."""
    n = data.count(b"\n")
    return n, len(data) - n


# -- scan_text ---------------------------------------------------------------


def scan_files(seed: int, n_files: int, file_bytes: int) -> list[bytes]:
    """The scan_text corpus: ``n_files`` buffers of seeded text lines."""
    rng = np.random.default_rng([seed, 1])
    vocab = vocabulary(rng)
    return [text_lines(rng, vocab, file_bytes) for _ in range(n_files)]


# -- lookup_pruned ---------------------------------------------------------------

EVENT_DDL = "ts long, user_id long, amount long, kind string"
KINDS = ("view", "click", "cart", "buy", "refund")


@dataclass
class Events:
    """An events table clustered on ``ts``: file ``i`` holds the rows
    ``i*rows_per_file ... (i+1)*rows_per_file - 1`` in time order, and
    only a small set of users is active in each file, so both a ``ts``
    range and a ``user_id IN (...)`` can prune files."""

    ts: np.ndarray
    user_id: np.ndarray
    amount: np.ndarray
    kind: np.ndarray
    rows_per_file: int

    @property
    def n_files(self) -> int:
        return len(self.ts) // self.rows_per_file

    def file_rows(self, i: int) -> slice:
        return slice(i * self.rows_per_file, (i + 1) * self.rows_per_file)


def events(seed: int, n_files: int, rows_per_file: int,
           users: int = 200_000, active_per_file: int = 40) -> Events:
    rng = np.random.default_rng([seed, 2])
    n = n_files * rows_per_file
    gaps = rng.integers(1, 2_000, size=n)
    ts = 1_700_000_000_000 + np.cumsum(gaps)
    active = rng.integers(0, users, size=(n_files, active_per_file))
    pick = rng.integers(0, active_per_file, size=n)
    user_id = active[np.repeat(np.arange(n_files), rows_per_file), pick]
    amount = rng.integers(1, 100_000, size=n)
    kind = rng.integers(0, len(KINDS), size=n)
    return Events(ts, user_id, amount, kind, rows_per_file)


def ndjson(ev: Events, rows: slice) -> pa.Array:
    """The NDJSON lines of ``rows`` (one JSON object per line, no newline)."""
    import pyarrow.compute as pc

    n = len(ev.ts[rows])

    def lit(text: str) -> pa.Array:
        return pa.repeat(pa.scalar(text), n)

    def num(a: np.ndarray) -> pa.Array:
        return pa.array(a).cast(pa.string())

    kinds = pa.array(np.array([f'"{k}"' for k in KINDS])[ev.kind[rows]])
    return pc.binary_join_element_wise(
        lit('{"ts":'), num(ev.ts[rows]),
        lit(',"user_id":'), num(ev.user_id[rows]),
        lit(',"amount":'), num(ev.amount[rows]),
        lit(',"kind":'), kinds, lit("}"), "",
    )


@dataclass
class Query:
    """One selective lookup. ``ts_lo``/``ts_hi`` bound an inclusive range
    (``None`` = no range predicate); ``users`` is an IN list (empty = no IN
    predicate). ``count``/``total`` are the expected answers."""

    ts_lo: int | None
    ts_hi: int | None
    users: tuple[int, ...]
    count: int
    total: int


def queries(seed: int, ev: Events, n: int) -> list[Query]:
    """Seeded mix of the three query shapes: a ``ts`` range over 1-3
    files, a ``user_id IN`` of 3 users, or an IN of 2 users within a
    range over ~20 files. Answers are computed with numpy over the
    generated arrays."""
    rng = np.random.default_rng([seed, 3])
    out = []
    per = ev.rows_per_file
    for i in range(n):
        shape = i % 3
        f0 = int(rng.integers(0, ev.n_files))
        lo = hi = None
        users: tuple[int, ...] = ()
        mask = np.ones(len(ev.ts), dtype=bool)
        r0 = min(f0 * per + int(rng.integers(0, per)), len(ev.ts) - 1)
        if shape in (0, 2):
            span = int(rng.integers(per, 3 * per)) if shape == 0 else 20 * per
            r1 = min(r0 + span, len(ev.ts) - 1)
            lo, hi = int(ev.ts[r0]), int(ev.ts[r1])
            mask &= (ev.ts >= lo) & (ev.ts <= hi)
        if shape in (1, 2):
            # users seen in the rows right after r0, so each query matches
            pool = ev.user_id[r0:r0 + per]
            k = 3 if shape == 1 else 2
            users = tuple(sorted({int(u) for u in rng.choice(pool, size=k)}))
            mask &= np.isin(ev.user_id, users)
        out.append(Query(lo, hi, users, int(mask.sum()),
                         int(ev.amount[mask].sum())))
    return out


# -- ingest_sink -----------------------------------------------------------------


def ingest_rows(seed: int, n_rows: int) -> pa.Array:
    """The ingest_sink input: NDJSON events in arrival order (``ts``
    ascending, users spread over the whole id space)."""
    ev = events(seed + 1_000_003, 1, n_rows, active_per_file=n_rows)
    return ndjson(ev, slice(0, n_rows))


# -- operators probe ---------------------------------------------------------


def curate_docs(seed: int, n_docs: int) -> tuple[list[tuple[int, str, str]], int]:
    """A small document corpus for the operator stages, with planted
    exact duplicates. Returns ``(docs, n_exact_groups)``: docs are
    ``(doc_id, source, text)`` with sentences separated by ``". "``, and
    ``n_exact_groups`` is how many texts occur more than once."""
    rng = np.random.default_rng([seed, 4])
    vocab = [w.decode() for w in vocabulary(rng, 5_000)]
    docs = []
    for i in range(n_docs):
        n_sent = int(rng.integers(3, 9))
        sents = []
        for _ in range(n_sent):
            ids = zipf_ids(rng, len(vocab), int(rng.integers(5, 16)))
            sents.append(" ".join(vocab[j] for j in ids).capitalize())
        docs.append((i, f"src{i % 5}", ". ".join(sents) + "."))
    n_dup = max(1, n_docs // 25)
    picks = rng.choice(n_docs, size=n_dup, replace=False)
    for j, p in enumerate(sorted(picks.tolist())):
        docs.append((n_docs + j, docs[p][1], docs[p][2]))
    texts: dict[str, int] = {}
    for _, _, t in docs:
        texts[t] = texts.get(t, 0) + 1
    return docs, sum(1 for c in texts.values() if c > 1)
