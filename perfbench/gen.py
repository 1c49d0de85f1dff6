"""Seeded input generators.

Every input is a pure function of ``(seed, size)``: draws come from a
splitmix64 hash of (seed, stream, index), never from the wall clock or
a global random state, so the same seed gives byte-identical inputs on
any machine and a different seed gives different ones. The program
under test only ever receives the generated inputs."""

from __future__ import annotations

import io
import json

import numpy as np
import pyarrow as pa

_STREAMS = {"host": 1, "prio": 2, "noise": 3, "words": 4, "nwords": 5, "lang": 6}

VOCAB = ["batch", "part", "spark", "line", "column", "order", "small", "sort",
         "fast", "value", "scan", "hash", "slow", "query", "agg", "table",
         "stream", "filter", "customer", "key", "group", "the", "vector", "a"]
LANGS = ["en", "en", "zh", "de"]


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finaliser over a uint64 array (wrapping arithmetic)."""
    x = x.astype(np.uint64)
    with np.errstate(over="ignore"):
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def draw(seed: int, stream: str, idx: np.ndarray, salt: int = 0) -> np.ndarray:
    """Deterministic uint64 per index for one (seed, stream, salt)."""
    with np.errstate(over="ignore"):
        key = (seed * 1_000_003 + _STREAMS[stream] * 7919 + salt) & 0xFFFFFFFFFFFFFFFF
        base = _mix(np.array([key], dtype=np.uint64))[0]
        return _mix(idx.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15) + base)


def uniform(seed: int, stream: str, idx: np.ndarray) -> np.ndarray:
    return (draw(seed, stream, idx) >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def zipf_rank(seed: int, idx: np.ndarray, num_hosts: int) -> np.ndarray:
    """Zipf(s=1)-like host rank by the inverse log CDF
    P(rank <= r) = ln(r + 1) / ln(H + 1): rank 0 is the hot host."""
    u = uniform(seed, "host", idx)
    return np.minimum(np.exp(u * np.log(num_hosts + 1.0)).astype(np.int64) - 1, num_hosts - 1)


def host(rank: int) -> str:
    return f"host-{rank:04d}.example.org"


def crawl_seeds(seed: int, n: int, num_hosts: int) -> list[tuple[str, int]]:
    """(url, priority) seed list on Zipf-skewed hosts, with the URL noise
    a canonicaliser must undo (upper-case scheme and host, default
    port, unsorted query, fragment) and ~3% /private/ paths that some
    hosts' robots.txt disallow."""
    idx = np.arange(n)
    ranks = zipf_rank(seed, idx, num_hosts)
    prios = (draw(seed, "prio", idx) % np.uint64(10)).astype(np.int64)
    noise = (draw(seed, "noise", idx) % np.uint64(16)).astype(np.int64)
    out = []
    for i, r, p, z in zip(idx.tolist(), ranks.tolist(), prios.tolist(), noise.tolist()):
        path = f"/private/{seed}-{i}" if i % 31 == 7 else f"/records/{seed}-{i}"
        url = f"https://{host(r)}{path}"
        if z & 1:
            url = url.replace("https://", "HTTPS://").replace("example", "Example")
        if z & 2:
            url = url.replace(".org/", ".org:443/")
        if z & 4:
            url += "/?b=2&a=1"
        if z & 8:
            url += "#frag"
        out.append((url, p))
    return out


def frontier_table(seed: int, n: int, num_hosts: int) -> pa.Table:
    """(url, priority) bulk frontier on Zipf-skewed hosts."""
    idx = np.arange(n)
    ranks = zipf_rank(seed, idx, num_hosts)
    prios = (draw(seed, "prio", idx) % np.uint64(10)).astype(np.int32)
    urls = [f"https://{host(r)}/records/{seed}-{i}" for i, r in zip(idx.tolist(), ranks.tolist())]
    return pa.table({"url": pa.array(urls, pa.string()), "priority": pa.array(prios, pa.int32())})


def hub_documents(seed: int, n: int) -> pa.Table:
    """A 20-source document corpus with the ``documents`` schema
    (doc_id, text, lang, source, n_chars). The first five ids of every
    50-block share a family seed, so near-duplicate families (the 1x1
    merge's input) occur at a constant rate; a member-specific tail keeps
    them near-duplicates, not exact ones."""
    idx = np.arange(n, dtype=np.int64)
    fam = np.where(idx % 50 < 5, idx - idx % 50 + 10**12, idx)
    nwords = 12 + (draw(seed, "nwords", fam) % np.uint64(50)).astype(np.int64)
    width = int(nwords.max()) if n else 0
    words = np.stack(
        [(draw(seed, "words", fam, salt=j) % np.uint64(len(VOCAB))).astype(np.int64)
         for j in range(width)], axis=1,
    ) if n else np.zeros((0, 0), dtype=np.int64)
    texts = [
        " ".join(VOCAB[w] for w in row[:k]) + f" tail{i % 7}"
        for i, row, k in zip(idx.tolist(), words.tolist(), nwords.tolist())
    ]
    langs = [LANGS[x] for x in (draw(seed, "lang", idx) % np.uint64(4)).tolist()]
    return pa.table({
        "doc_id": pa.array(idx, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in idx.tolist()], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def to_bytes(obj) -> bytes:
    """Canonical bytes of a generated input (Arrow IPC or JSON)."""
    if isinstance(obj, pa.Table):
        sink = io.BytesIO()
        with pa.ipc.new_stream(sink, obj.schema) as w:
            w.write_table(obj)
        return sink.getvalue()
    return json.dumps(obj, separators=(",", ":")).encode()
