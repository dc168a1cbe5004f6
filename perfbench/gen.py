"""Seeded input generator: the load generator, separate from the program.

Everything here is plain Python + NumPy + PyArrow; nothing imports the
program under test.  The same seed and sizes give byte-identical files.

Two inputs are built:

* a conversation corpus in the reference's input shape (one JSON file per
  conversation, ``{"messages": [{body, time, medium, is_inbound}]}``) with
  a Zipf vocabulary, set shares of exact and near-duplicate messages, late
  burst tokens, and the messages the reference drops (Instagram/Telegram
  conversations, outbound messages, null or boilerplate-only bodies);
* the tables the ``ivm`` and ``fixpoint`` queries read (``customer part
  lineitem events documents embeddings``), drawn column by column from
  ``sf01_profile.json``: the row counts, key domains and value
  distributions measured on the sf0.1 test tables by ``tableprofile.py``,
  scaled by ``FRACTION``.  Keys are whole ranges ``0..n-1``, so they are
  unique and every foreign key falls inside the range of the table it
  refers to.

The conversation corpus has no measured counterpart in the repository:
its shares are assumed (README.md, "Inputs").
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STOPWORDS = ("a", "and", "the", "to", "of", "is", "you", "your", "in", "for",
             "it", "this", "we", "with", "on", "be")
SKIPWORDS = ("cindy", "jenkins", "enron", "u")
PREAMBLE = (
    "This message contains files. If the description for a file does not "
    "make sense, ignore it."
    "Here are descriptions of those files:\nDescription for file 1:"
)
BURST_TOKENS = ("zapcoin", "wiretransfer", "giftcard")


@dataclass(frozen=True)
class CorpusSpec:
    conversations: int = 1000
    messages_per_conversation: int = 8
    vocabulary: int = 1500
    zipf_s: float = 1.1
    # shares, per inbound message, of the special message kinds
    exact_dup: float = 0.08
    near_dup: float = 0.06
    null_body: float = 0.03
    boilerplate_only: float = 0.02
    boilerplate_text: float = 0.03
    no_letters: float = 0.01
    outbound: float = 0.25
    # share of conversations holding one Instagram/Telegram message
    blocked_conversation: float = 0.04
    # burst tokens appear only in the last ``burst_tail`` of the time axis
    burst_tail: float = 0.06
    burst_rate: float = 0.5


def _vocabulary(rng: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    reserved = set(STOPWORDS) | set(SKIPWORDS) | set(BURST_TOKENS)
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n:
        w = "".join(rng.choice(letters, size=int(rng.integers(3, 10))))
        if w not in seen and w not in reserved:
            seen.add(w)
            words.append(w)
    return words


def _fresh_body(rng, vocab, zipf) -> str:
    n = int(rng.integers(3, 22))
    out = []
    for _ in range(n):
        r = rng.random()
        if r < 0.15:
            out.append(STOPWORDS[int(rng.integers(len(STOPWORDS)))])
        elif r < 0.17:
            out.append(SKIPWORDS[int(rng.integers(len(SKIPWORDS)))])
        else:
            w = vocab[next(zipf)]
            if rng.random() < 0.1:
                w = w.capitalize()
            out.append(w)
    sep = [", ", " ", " ", " ", "! ", " 42 ", " - "]
    body = out[0]
    for w in out[1:]:
        body += sep[int(rng.integers(len(sep)))] + w
    return body


def _near_dup(rng, body: str, vocab) -> str:
    toks = body.split(" ")
    i = int(rng.integers(len(toks)))
    toks[i] = vocab[int(rng.integers(len(vocab)))]
    return " ".join(toks)


def generate_corpus(out_dir: str, seed: int, spec: CorpusSpec = CorpusSpec()) -> int:
    """Write the corpus under ``out_dir``; returns the raw message count."""
    rng = np.random.default_rng([seed, 1])
    vocab = _vocabulary(rng, spec.vocabulary)
    ranks = np.arange(1, len(vocab) + 1, dtype=float)
    weights = ranks ** -spec.zipf_s
    weights /= weights.sum()

    n_conv, per = spec.conversations, spec.messages_per_conversation
    total = n_conv * per
    # Zipf ranks drawn in one batch (per-token draws dominate run time)
    zipf = iter(rng.choice(len(vocab), size=total * 50, p=weights).tolist())
    times = 1_600_000_000 + rng.permutation(total).astype(np.int64) * 37
    burst_from = 1_600_000_000 + int(total * (1 - spec.burst_tail)) * 37
    cuts = np.cumsum([spec.null_body, spec.boilerplate_only, spec.boilerplate_text,
                      spec.no_letters, spec.exact_dup, spec.near_dup])
    bodies: list[str] = []
    convs = []
    for c in range(n_conv):
        blocked = rng.random() < spec.blocked_conversation
        blocked_at = int(rng.integers(per)) if blocked else -1
        msgs = []
        for m in range(per):
            t = int(times[c * per + m])
            r = rng.random()
            if r < cuts[0]:
                body = None
            elif r < cuts[1]:
                body = PREAMBLE
            elif r < cuts[2]:
                body = (PREAMBLE + " " + _fresh_body(rng, vocab, zipf)
                        + " Description for file 2: "
                        + _fresh_body(rng, vocab, zipf))
            elif r < cuts[3]:
                body = "12345 !!! 678"
            elif r < cuts[4] and bodies:
                body = bodies[int(rng.integers(len(bodies)))]
            elif r < cuts[5] and bodies:
                body = _near_dup(rng, bodies[int(rng.integers(len(bodies)))], vocab)
            else:
                body = _fresh_body(rng, vocab, zipf)
            if body is not None and body != PREAMBLE:
                bodies.append(body)
                if t >= burst_from and rng.random() < spec.burst_rate:
                    tok = BURST_TOKENS[int(rng.integers(len(BURST_TOKENS)))]
                    body = f"{tok} {body} {tok}"
            medium = "Email"
            if m == blocked_at:
                medium = "Instagram" if rng.random() < 0.5 else "Telegram"
            msgs.append({
                "body": body,
                "time": t,
                "medium": medium,
                "is_inbound": bool(rng.random() >= spec.outbound),
            })
        convs.append({"messages": msgs, "label": "scam", "dataset": "SCC"})

    os.makedirs(out_dir, exist_ok=True)
    for c, conv in enumerate(convs):
        with open(os.path.join(out_dir, f"conv_{c:05d}.json"), "w") as fh:
            json.dump(conv, fh, sort_keys=True, separators=(",", ":"))
    return total


def read_corpus(corpus_dir: str) -> list[tuple[str, dict]]:
    """(file name, parsed conversation) for every corpus file, name order."""
    out = []
    for name in sorted(os.listdir(corpus_dir)):
        if name.endswith(".json"):
            with open(os.path.join(corpus_dir, name)) as fh:
                out.append((name, json.load(fh)))
    return out


# --- star-schema tables ------------------------------------------------------

PROFILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "sf01_profile.json")
# The share of the measured sf0.1 row counts and key domains the tables are
# generated at (README.md, "Inputs").
FRACTION = 0.1


def load_profile(path: str = PROFILE) -> dict:
    with open(path) as fh:
        record = json.load(fh)
    for table in record["tables"].values():
        for col in table["columns"]:
            col["grid"] = record["quantile_grid"]
    return record["tables"]


def _arrow_type(name: str) -> pa.DataType:
    if name.startswith("timestamp"):
        return pa.timestamp("us")
    if name.startswith("list"):
        return pa.list_(pa.float32())
    return pa.type_for_alias(name)


def _inverse_cdf(rng, col: dict, key: str, n: int) -> np.ndarray:
    """``n`` draws from the measured quantile function ``col[key]``."""
    return np.interp(rng.random(n), col["grid"], col[key])


def _choice(rng, values: list, shares: list[float], n: int) -> list:
    p = np.asarray(shares, dtype=float)
    return [values[i] for i in rng.choice(len(values), size=n, p=p / p.sum())]


def _scaled(count: int, fraction: float) -> int:
    return max(1, round(count * fraction))


def _order_keys(rng, col: dict, fraction: float) -> np.ndarray:
    """Line items grouped by order: each order that has lines gets a line
    count drawn from the measured lines-per-order shares; rows shuffled."""
    orders = _scaled(col["domain"], fraction)
    used = rng.choice(orders, size=min(orders, _scaled(col["keys_used"], fraction)),
                      replace=False)
    sizes = {int(k): v for k, v in col["per_key_counts"].items()}
    counts = np.array(_choice(rng, list(sizes), list(sizes.values()), len(used)))
    return rng.permutation(np.repeat(np.sort(used), counts))


def _text(rng, col: dict, n: int) -> list[str]:
    p = np.asarray(col["shares"])
    p /= p.sum()
    texts: list[str] = []
    for d in range(n):
        r = rng.random()
        if d and r < col["copy_share"]:
            texts.append(texts[int(rng.integers(d))])
        elif d and r < col["copy_share"] + col["dup_suffix_share"]:
            texts.append(texts[int(rng.integers(d))] + " dup")
        else:
            k = int(round(_inverse_cdf(rng, col, "words_per_text", 1)[0]))
            texts.append(" ".join(col["words"][i] for i in rng.choice(len(p), size=k, p=p)))
    return texts


def _vectors(rng, col: dict, labels: np.ndarray) -> list:
    """Unit vectors: one centroid per label at the measured norm, plus
    isotropic noise at the measured spread around it."""
    dim = col["dim"]
    centroids = rng.normal(0.0, 1.0, (int(labels.max()) + 1, dim))
    centroids *= col["centroid_norm"] / np.linalg.norm(centroids, axis=1, keepdims=True)
    vec = centroids[labels] + rng.normal(0.0, col["spread"], (len(labels), dim))
    return list((vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32))


def generate_table(rng, profile: dict, fraction: float) -> pa.Table:
    """One table drawn column by column from its measured profile."""
    cols = {c["name"]: c for c in profile["columns"]}
    order_col = next((c for c in cols.values() if "per_key_counts" in c), None)
    order_keys = _order_keys(rng, order_col, fraction) if order_col else None
    n = len(order_keys) if order_col else _scaled(profile["rows"], fraction)
    data: dict[str, object] = {}
    for name, col in cols.items():
        kind = col["kind"]
        if col is order_col:
            data[name] = order_keys
        elif kind == "key":
            data[name] = np.arange(n)
        elif kind == "ref":
            domain = _scaled(col["domain"], fraction) if col["scales"] else col["domain"]
            data[name] = rng.integers(0, domain, n)
        elif kind == "category":
            data[name] = _choice(rng, col["values"], col["shares"], n)
        elif kind == "template":
            data[name] = [col["template"].format(k) for k in range(n)]
        elif kind == "number":
            data[name] = np.round(_inverse_cdf(rng, col, "quantiles", n), col["decimals"])
        elif kind == "days":
            days = np.floor(_inverse_cdf(rng, col, "quantiles", n)).astype(np.int64)
            data[name] = days.astype("datetime64[D]").astype("datetime64[us]")
        elif kind == "ticks":
            secs = np.sort(_inverse_cdf(rng, col, "quantiles", n))
            data[name] = (secs * 1e6).astype(np.int64).astype("datetime64[us]")
        elif kind == "text":
            data[name] = _text(rng, col, n)
    for name, col in cols.items():  # columns derived from others
        if col["kind"] == "length_of":
            data[name] = [len(t) for t in data[col["column"]]]
        elif col["kind"] == "vector":
            data[name] = _vectors(rng, col, np.asarray(data["label"]))
    return pa.table({name: pa.array(data[name], _arrow_type(cols[name]["type"]))
                     for name in cols})


def generate_tables(out_dir: str, seed: int, tables: tuple[str, ...],
                    fraction: float = FRACTION, profile: dict | None = None) -> dict[str, int]:
    """Write one parquet file per table under ``out_dir``; returns row counts."""
    profile = profile or load_profile()
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for i, name in enumerate(sorted(tables)):
        table = generate_table(np.random.default_rng([seed, 2, i]), profile[name], fraction)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")
        rows[name] = table.num_rows
    return rows
