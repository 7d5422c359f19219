"""Inputs of the query_jobbound workload.

Writes one parquet file per table its queries read (`documents`,
`events`), with the schemas `graft.core.Tables` reads and the sizes of
the engine's sf0.1 test tables. The contents are a fixed function of
DATA_SEED: every random value comes from splitmix64 over (table, column,
row), so the files do not depend on the numpy version or on the
benchmark's `--seed` (which only sets the sweep order).

Usage: python3 perfbench/datagen.py <out_dir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
DOCS, EVENTS, USERS = 5_000, 100_000, 1_500
VOCAB = ("spark window merge table column vector stream value data small join filter big "
         "group hash customer sort order slow line part fast row the agg key query a scan batch").split()


def _bits(stream: str, n: int) -> np.ndarray:
    """n pseudo-random uint64 values for a named stream (splitmix64)."""
    base = np.uint64(int.from_bytes(stream.encode(), "little") % (1 << 58) * 31 + DATA_SEED)
    with np.errstate(over="ignore"):
        z = np.arange(n, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15) + base
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _ints(stream, n, lo, hi):
    return (_bits(stream, n) % np.uint64(hi - lo)).astype(np.int64) + lo


def _unit(stream, n):
    return (_bits(stream, n) >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def _pick(stream, n, values):
    return pa.array(np.array(values, dtype=object)[_ints(stream, n, 0, len(values))], pa.string())


def documents():
    n, maxw = DOCS, 100
    lens = _ints("doc_len", n, 10, maxw + 1)
    words = np.array(VOCAB, dtype=object)[_ints("doc_words", n * maxw, 0, len(VOCAB)).reshape(n, maxw)]
    texts = [" ".join(words[i, :lens[i]]) for i in range(n)]
    # about 5% near-duplicates: an earlier document with one word appended
    dup = _unit("doc_dup", n) < 0.05
    src = _ints("doc_dup_src", n, 0, n)
    for i in np.nonzero(dup)[0]:
        if i > 0:
            texts[i] = texts[int(src[i] % i)] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": _pick("doc_lang", n, ["en", "en", "en", "de", "fr", "es", "zh", "en"]),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def events():
    n = EVENTS
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(_ints("ev_ts", n, 0, 30 * 86_400 * 1_000_000))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(_ints("ev_user", n, 0, USERS)),
        "event_type": _pick("ev_type", n, ["view", "click", "purchase", "signup", "error"]),
        "value": pa.array(np.round(-50.0 * np.log1p(-_unit("ev_value", n)), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in _ints("ev_props", n, 0, 100)], pa.string()),
    })


TABLES = {"documents": documents, "events": events}


def generate(out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, make in TABLES.items():
        pq.write_table(make(), os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    generate(sys.argv[1])
