"""Correctness checks for every benchmark operation.

``detect-*`` summaries are checked against ``expected_summary``: an
independent pure-Python computation of the reference detector semantics
over the generated corpus files.  It does not import the program.  The
generated text is ASCII, so "letter" means ``[a-z]`` after lowercasing.

``ivm``/``fixpoint`` results are checked against each query's
``__spark_entry__.oracle_sql()`` text run by DuckDB over the same
generated parquet tables, compared as an order-insensitive value matrix.
"""

from __future__ import annotations

import math
import re
from decimal import ROUND_HALF_UP, Decimal

from gen import PREAMBLE, read_corpus

SKIPWORDS = frozenset(("cindy", "jenkins", "enron", "u"))
ENGLISH_STOPWORDS = frozenset((
    "a", "an", "and", "are", "as", "at", "be", "been", "but", "by", "can",
    "did", "do", "does", "for", "from", "had", "has", "have", "he", "her",
    "his", "i", "if", "in", "is", "it", "its", "me", "my", "no", "not", "of",
    "on", "or", "our", "she", "so", "that", "the", "their", "them", "they",
    "this", "to", "was", "we", "were", "what", "when", "which", "who", "will",
    "with", "you", "your",
))
DROP = ENGLISH_STOPWORDS | SKIPWORDS
SHINGLE_K = 3
DUP_THRESHOLD = 0.7
BURST_HALF = 25
BURST_EPS = 1e-6
TRAIN_SHARE = 7000  # of 10_000 hash buckets
SPLIT_SEED = 42

# --- Spark-compatible xxHash64 (the corpus split hashes the file name) -------

_M = (1 << 64) - 1
_P1, _P2, _P3 = 11400714785074694791, 14029467366897019727, 1609587929392839161
_P4, _P5 = 9650029242287828579, 2870177450012600261


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    return h ^ (h >> 32)


def xxh64_bytes(data: bytes, seed: int) -> int:
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed & _M, (seed - _P1) & _M]
        while i + 32 <= n:
            for j in range(4):
                v[j] = _round(v[j], int.from_bytes(data[i + 8 * j:i + 8 * j + 8], "little"))
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M
        for lane in v:
            h = ((h ^ _round(0, lane)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    return _fmix(h)


def xxh64_int(value: int, seed: int) -> int:
    h = (seed + _P5 + 4) & _M
    h ^= ((value & 0xFFFFFFFF) * _P1) & _M
    return _fmix((_rotl(h, 23) * _P2 + _P3) & _M)


def spark_xxhash64(name: str, seed_col: int) -> int:
    """``xxhash64(name, seed_col)`` as Spark computes it (signed long)."""
    h = xxh64_int(seed_col, xxh64_bytes(name.encode(), 42))
    return h - (1 << 64) if h >= 1 << 63 else h


def corpus_split(file_name: str) -> str:
    bucket = spark_xxhash64(file_name, SPLIT_SEED) % 10_000
    return "train" if bucket < TRAIN_SHARE else "test"


# --- reference detector semantics ------------------------------------------

def tokenize(text: str) -> list[str]:
    return [t for t in re.split(r"[^a-z]+", text.lower()) if t]


def _round4(x: float) -> float:
    return float(Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP))


def message_stream(corpus_dir: str, split: str = "test", limit: int | None = None) -> list[str]:
    """Preprocessed bodies of ``split`` in global time order."""
    rows = []
    for name, conv in read_corpus(corpus_dir):
        if corpus_split(name) != split:
            continue
        msgs = conv["messages"]
        if any(m["medium"] in ("Instagram", "Telegram") for m in msgs):
            continue
        inbound = [m for m in msgs if m["is_inbound"] is True]
        for idx, m in enumerate(inbound):
            if m["body"] is None:
                continue
            scrubbed = re.sub(r"Description for file [0-9]+:", "",
                              m["body"].replace(PREAMBLE, ""))
            if not scrubbed:
                continue
            body = " ".join(t for t in tokenize(scrubbed) if t not in SKIPWORDS)
            if body:
                rows.append((m["time"], name, idx, body))
    rows.sort()
    bodies = [r[3] for r in rows]
    return bodies if limit is None else bodies[:limit]


def _top(counts: dict[str, int], k: int) -> dict[str, int]:
    return dict(sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:k])


def expected_summary(corpus_dir: str, limit: int | None,
                     interval: int = 100, top: int = 10) -> dict:
    bodies = message_stream(corpus_dir, limit=limit)
    first_doc: dict[str, int] = {}
    scores = []
    for pos, body in enumerate(bodies):
        toks = tokenize(body)
        sh = [" ".join(toks[i:i + SHINGLE_K]) for i in range(len(toks) - SHINGLE_K + 1)]
        hits = sum(1 for s in sh if first_doc.get(s, pos) < pos)
        for s in sh:
            first_doc.setdefault(s, pos)
        scores.append(_round4(hits / len(sh)) if sh else 0.0)
    dup = [s >= DUP_THRESHOLD for s in scores]
    n = len(bodies)
    terms = [[t for t in tokenize(b) if t not in DROP] for b in bodies]

    snapshots = []
    cum: dict[str, int] = {}
    final_burst: list[tuple[str, int, int]] = []
    for start in range(0, n, interval):
        end = min(start + interval, n)
        for toks in terms[start:end]:
            for t in toks:
                cum[t] = cum.get(t, 0) + 1
        snapshots.append({
            "message_count": end,
            "duplicates_so_far": sum(dup[:end]),
            "top_10_tokens": _top(cum, top),
        })
        # the summary's final burst is that of the last boundary with any
        final_burst = _burst_at(terms, end) or final_burst
    return {
        "processed": n,
        "duplicates": {
            "total": sum(dup),
            "rate": sum(dup) / n if n else 0.0,
            "avg_score": sum(scores) / n if n else 0.0,
        },
        "periodic_snapshots": snapshots,
        "final_top_tokens": _top(cum, top),
        "final_burst": final_burst,
    }


def _burst_at(terms: list[list[str]], boundary: int) -> list[tuple[str, int, int]]:
    """(token, recent, prev) spikes over the two count windows before
    ``boundary``: recent = the last 25 messages, prev = the 25 before."""
    recent: dict[str, int] = {}
    prev: dict[str, int] = {}
    for pos in range(max(0, boundary - 2 * BURST_HALF), boundary):
        side = recent if pos >= boundary - BURST_HALF else prev
        for t in terms[pos]:
            side[t] = side.get(t, 0) + 1
    return sorted(
        (t, r, prev.get(t, 0)) for t, r in recent.items()
        if (r + BURST_EPS) / (prev.get(t, 0) + BURST_EPS) >= 2.0
    )


def summary_mismatches(got: dict, want: dict) -> list[str]:
    """Every field where the program's summary differs from the oracle."""
    out = []
    if got["processed"] != want["processed"]:
        out.append(f"processed {got['processed']} != {want['processed']}")
    gd, wd = got["duplicates"], want["duplicates"]
    if gd["total"] != wd["total"]:
        out.append(f"duplicates.total {gd['total']} != {wd['total']}")
    for key in ("rate", "avg_score"):
        if not math.isclose(gd[key], wd[key], rel_tol=1e-9, abs_tol=1e-12):
            out.append(f"duplicates.{key} {gd[key]} != {wd[key]}")
    gs, ws = got["periodic_snapshots"], want["periodic_snapshots"]
    if len(gs) != len(ws):
        out.append(f"{len(gs)} snapshots != {len(ws)}")
    for i, (g, w) in enumerate(zip(gs, ws)):
        for key in ("message_count", "duplicates_so_far", "top_10_tokens"):
            if g[key] != w[key]:
                out.append(f"snapshot {i} {key} {g[key]} != {w[key]}")
    if got["final_top_tokens"] != want["final_top_tokens"]:
        out.append(f"final_top_tokens {got['final_top_tokens']} != {want['final_top_tokens']}")
    burst = sorted((b["token"], b["recent_count"], b["prev_count"]) for b in got["final_burst"])
    if burst != want["final_burst"]:
        out.append(f"final_burst {burst} != {want['final_burst']}")
    return out


# --- registry queries vs their DuckDB oracle -------------------------------

def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.10g}"
    return str(v)


def value_matrix(cols: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name, rows as sorted tuples of canonical text."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in order], sorted(tuple(_cell(r[i]) for i in order) for r in rows)


def duckdb_connection(table_dir: str, tables):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_dir}/{t}.parquet'")
    return con


def oracle_matrix(con, sql: str) -> tuple[list[str], list[tuple]]:
    cur = con.execute(sql)
    return value_matrix([d[0] for d in cur.description], cur.fetchall())


def matrix_mismatch(got, want) -> str | None:
    (gc, gm), (wc, wm) = got, want
    if gc != wc:
        return f"columns {gc} != {wc}"
    if len(gm) != len(wm):
        return f"{len(gm)} rows != {len(wm)}"
    if gm != wm:
        diff = next((a, b) for a, b in zip(gm, wm) if a != b)
        return f"first differing row {diff[0]} != {diff[1]}"
    return None
