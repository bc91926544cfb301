"""Seeded benchmark inputs.

Everything the engine reads during a benchmark run is made here from the
run's seed, so the same seed always gives the same bytes and the engine
never sees the seed itself:

- ``corpus``: Zipf-distributed text for the ``wordcount`` workload.
  Words are ``[A-Za-z0-9]`` runs drawn from a fixed-size vocabulary;
  separators mix spaces with ``_ - ' , .`` (all separators under the
  reference tokenizer) and newlines break it into lines.
- ``tables``: ``documents``, ``events`` and ``embeddings`` parquet files
  with the schema and value distributions of the repository's synthetic
  sf tables (30-word document vocabulary, 5% planted near-duplicate
  documents, exponential event values, unit-norm 64-d embeddings).

Outputs are cached under a directory per seed and size, written to a
temporary name and renamed, so a cache entry is either whole or absent.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np

CORPUS_VOCAB = 1 << 18
CORPUS_ZIPF_S = 1.1
_ALNUM = np.frombuffer(
    b"abcdefghijklmnopqrstuvwxyzabcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789",
    dtype=np.uint8,
)
# weights favour spaces; the rest exercise separator handling
_SEPS = [b" ", b" ", b" ", b" ", b" ", b" ", b", ", b". ", b"_", b"-", b"'", b"\n"]
_CHUNK_TOKENS = 1 << 18

DOC_WORDS = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _vocab(rng: np.random.Generator) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Distinct random words; frequent ranks get shorter words."""
    ranks = np.arange(CORPUS_VOCAB)
    lens = (2 + np.log2(ranks + 2) / 2 + rng.integers(0, 4, CORPUS_VOCAB)).astype(np.int64)
    chars = _ALNUM[rng.integers(0, len(_ALNUM), int(lens.sum()))].tobytes()
    ends = np.cumsum(lens).tolist()
    words = [chars[e - n:e] for e, n in zip(ends, lens.tolist())]
    seen: set[bytes] = set()
    for i, w in enumerate(words):
        while w in seen:  # rare collision among the short top-rank words
            w = _ALNUM[rng.integers(0, len(_ALNUM), len(w))].tobytes()
        seen.add(w)
        words[i] = w
    offs = np.cumsum(lens) - lens
    return np.frombuffer(b"".join(words), dtype=np.uint8), offs, lens


def _ragged_gather(src: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Concatenate src[starts[i]:starts[i]+lens[i]] for all i."""
    total = int(lens.sum())
    out_starts = np.cumsum(lens) - lens
    idx = np.arange(total, dtype=np.int64) + np.repeat(starts - out_starts, lens)
    return src[idx]


def write_corpus(path: str, seed: int, target_bytes: int) -> dict:
    """Write a Zipf text corpus of about ``target_bytes``; return its stats."""
    rng = np.random.default_rng([seed, 1])
    vflat, voffs, vlens = _vocab(rng)
    cdf = np.cumsum(1.0 / np.arange(1, CORPUS_VOCAB + 1) ** CORPUS_ZIPF_S)
    cdf /= cdf[-1]
    slens = np.array([len(s) for s in _SEPS], dtype=np.int64)
    soffs = len(vflat) + np.cumsum(slens) - slens
    src = np.concatenate((vflat, np.frombuffer(b"".join(_SEPS), dtype=np.uint8)))
    written = tokens = 0
    with open(path, "wb") as f:
        while written < target_bytes:
            ranks = np.minimum(np.searchsorted(cdf, rng.random(_CHUNK_TOKENS)), CORPUS_VOCAB - 1)
            seps = rng.integers(0, len(_SEPS), _CHUNK_TOKENS)
            # interleave word i and separator i as one ragged gather
            starts = np.empty(2 * _CHUNK_TOKENS, dtype=np.int64)
            lens = np.empty(2 * _CHUNK_TOKENS, dtype=np.int64)
            starts[0::2], lens[0::2] = voffs[ranks], vlens[ranks]
            starts[1::2], lens[1::2] = soffs[seps], slens[seps]
            buf = _ragged_gather(src, starts, lens).tobytes()
            f.write(buf)
            written += len(buf)
            tokens += _CHUNK_TOKENS
        f.write(b"\n")
    return {"bytes": written + 1, "tokens": tokens}


def expected_wordcount(path: str) -> dict:
    """Reference answer for the CLI query, computed by DuckDB: the sha1 of
    the sorted ``word=count`` lines and their number."""
    import duckdb

    con = duckdb.connect(config={"threads": max(1, len(os.sched_getaffinity(0)))})
    try:
        rows = con.sql(
            f"""
            SELECT w || '=' || CAST(count(*) AS VARCHAR) AS line
            FROM (SELECT unnest(regexp_extract_all(line, '[A-Za-z0-9]+')) AS w
                  FROM read_csv('{path}', columns={{'line': 'VARCHAR'}}, header=false,
                                delim='\t', quote='', escape='', auto_detect=false))
            GROUP BY w ORDER BY w
            """
        ).fetchall()
    finally:
        con.close()
    h = hashlib.sha1()
    for (line,) in rows:
        h.update(line.encode())
        h.update(b"\n")
    return {"sha1": h.hexdigest(), "lines": len(rows)}


def write_tables(out_dir: str, seed: int, docs: int, events: int, embeddings: int) -> None:
    """Write documents/events/embeddings parquet files (one row group each)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 2])
    vocab = np.array(DOC_WORDS)
    texts: list[str] = []
    is_dup = rng.random(docs) < 0.05
    is_dup[0] = False
    for i in range(docs):
        if is_dup[i]:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 100)))]))
    doc_tbl = pa.table({
        "doc_id": pa.array(np.arange(docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), docs, p=LANG_P)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    start_us = 1704067200 * 1_000_000  # 2024-01-01T00:00:00
    span_us = 30 * 86400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, events)) + start_us
    users = max(1, events * 3 // 200)
    ev_tbl = pa.table({
        "event_id": pa.array(np.arange(events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, events), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, events)], pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, events), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, events)], pa.string()),
    })

    vecs = rng.standard_normal((embeddings, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb_tbl = pa.table({
        "vec_id": pa.array(np.arange(embeddings), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, embeddings), pa.int32()),
    })
    for name, tbl in (("documents", doc_tbl), ("events", ev_tbl), ("embeddings", emb_tbl)):
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")


def cached(cache_root: str, key: str, build) -> str:
    """Return ``cache_root/key``, building it first with ``build(tmp_dir)``
    if absent. The rename makes a half-built entry impossible to reuse."""
    final = os.path.join(cache_root, key)
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    build(tmp)
    os.rename(tmp, final)
    return final
