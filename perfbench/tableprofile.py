"""Measure the test tables the query workloads read; write the record
``gen.py`` derives its tables from.

    python3 perfbench/tableprofile.py SF_DIR [OUT_JSON]

``SF_DIR`` holds one parquet file per table (the repository's sf0.1 test
tables).  ``OUT_JSON`` defaults to ``perfbench/sf01_profile.json``.  The
record keeps, per table, the row count and, per column, the figures the
generator samples from:

* ``key`` -- ``0..rows-1``, unique;
* ``ref`` -- a foreign key into a domain of ``domain`` keys, with the
  quartiles of how often each key occurs (``per_key``) and whether the
  domain grows with the scale factor (``scales``; the 25 nations do
  not); ``l_orderkey`` also keeps how many lines an order has
  (``per_key_counts``) and how many orders have any (``keys_used``);
* ``category`` -- at most 100 distinct values, with their shares;
* ``template`` -- a string made from the row key (``Customer#{:09d}``);
* ``number`` -- the quantile function at ``quantile_grid`` (every
  percent, and every tenth of a percent in the top one), and the
  decimals the values are rounded to;
* ``days`` / ``ticks`` -- timestamps at day resolution, or increasing
  with the key, as a quantile function of epoch seconds;
* ``text`` -- word shares, words per text, and the shares of exact
  copies and of copies with `` dup`` appended;
* ``length_of`` -- the character length of another column;
* ``vector`` -- unit vectors around one centroid per label, with the
  centroid norm and the spread around it.
"""

from __future__ import annotations

import collections
import json
import os
import sys

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DEFAULT_OUT = os.path.join(HERE, "sf01_profile.json")

TABLES = ("customer", "part", "supplier", "orders", "lineitem", "events",
          "documents", "embeddings")
# foreign keys: column -> the table whose key domain it refers to (None:
# a domain with no table of its own, measured as max + 1)
REFS = {
    "c_nationkey": "nation", "s_nationkey": "nation",
    "o_custkey": "customer",
    "l_orderkey": "orders", "l_partkey": "part", "l_suppkey": "supplier",
    "user_id": None,
}
# TPC-H keeps these whole at every scale factor
FIXED_TABLES = {"nation"}
TEMPLATES = {"c_name": "Customer#{:09d}", "s_name": "Supplier#{:09d}"}
TEXTS = {"text"}
LENGTHS = {"n_chars": "text"}
CATEGORY_MAX = 100
# the quantile function at every percent, and finer in the top one
QUANTILE_GRID = [round(q, 4) for q in np.concatenate(
    [np.linspace(0.0, 0.99, 100), np.linspace(0.991, 1.0, 10)])]


def _decimals(values: np.ndarray) -> int:
    for d in range(7):
        if np.allclose(values, np.round(values, d), rtol=0, atol=1e-9):
            return d
    return 6


def _quantiles(values: np.ndarray) -> list[float]:
    return [float(x) for x in np.quantile(values, QUANTILE_GRID)]


def profile_column(table, name: str, keys: dict[str, int]) -> dict:
    return {"name": name, "type": str(table[name].type), **_profile(table, name, keys)}


def _profile(table, name: str, keys: dict[str, int]) -> dict:
    col = table[name]
    n = table.num_rows
    if name in LENGTHS:
        return {"kind": "length_of", "column": LENGTHS[name]}
    if name in TEMPLATES:
        first = table.column(0).to_numpy()
        if any(v != TEMPLATES[name].format(k) for k, v in zip(first, col.to_pylist())):
            raise ValueError(f"{name} is not {TEMPLATES[name]!r} of the row key")
        return {"kind": "template", "template": TEMPLATES[name]}
    if name in TEXTS:
        return _profile_text(col.to_pylist())
    typ = str(col.type)
    if typ.startswith("list"):
        return _profile_vectors(np.stack(col.to_numpy(zero_copy_only=False)),
                                table["label"].to_numpy())
    distinct = pc.count_distinct(col).as_py()
    if typ.startswith("int") and distinct == n and pc.min(col).as_py() == 0 \
            and pc.max(col).as_py() == n - 1:
        return {"kind": "key"}
    if name in REFS:
        vals = col.to_numpy()
        target = REFS[name]
        domain = keys[target] if target else int(vals.max()) + 1
        per_key = np.bincount(vals, minlength=domain)
        out = {"kind": "ref", "table": target, "domain": domain,
               "scales": target not in FIXED_TABLES,
               "per_key": _quantiles(per_key)[::25]}
        if name == "l_orderkey":
            sizes = collections.Counter(per_key[per_key > 0].tolist())
            out["per_key_counts"] = {str(k): sizes[k] for k in sorted(sizes)}
            out["keys_used"] = int((per_key > 0).sum())
        return out
    if typ.startswith("timestamp"):
        secs = col.cast("int64").to_numpy() / 1e6
        if distinct <= 3000 and np.all(secs % 86400 == 0):
            return {"kind": "days", "quantiles": _quantiles(secs / 86400)}
        if np.any(np.diff(secs) < 0):
            raise ValueError(f"{name} does not increase with the row key")
        return {"kind": "ticks", "quantiles": _quantiles(secs)}
    if distinct <= CATEGORY_MAX:
        counts = collections.Counter(col.to_pylist())
        values = sorted(counts, key=lambda v: (-counts[v], v))
        return {"kind": "category", "values": values,
                "shares": [counts[v] / n for v in values]}
    vals = col.to_numpy().astype(float)
    return {"kind": "number", "decimals": _decimals(vals), "quantiles": _quantiles(vals)}


def _profile_text(texts: list[str]) -> dict:
    """Shares of exact copies and of texts that are another text plus
    `` dup``; word shares and lengths over the remaining texts."""
    counts = collections.Counter(texts)
    suffixed = {t for t in counts if t.endswith(" dup") and t[:-4] in counts}
    words: collections.Counter = collections.Counter()
    lengths = []
    for t in counts:
        if t not in suffixed:
            ws = t.split()
            words.update(ws)
            lengths.append(len(ws))
    total = sum(words.values())
    vocab = sorted(words, key=lambda w: (-words[w], w))
    return {"kind": "text", "words": vocab, "shares": [words[w] / total for w in vocab],
            "words_per_text": _quantiles(np.array(lengths)),
            "copy_share": (len(texts) - len(counts)) / len(texts),
            "dup_suffix_share": sum(counts[t] for t in suffixed) / len(texts)}


def _profile_vectors(vec: np.ndarray, labels: np.ndarray) -> dict:
    norms = np.linalg.norm(vec, axis=1)
    centroids = np.stack([vec[labels == k].mean(0) for k in np.unique(labels)])
    spread = float(np.std(vec - centroids[np.searchsorted(np.unique(labels), labels)]))
    return {"kind": "vector", "dim": int(vec.shape[1]),
            "norm_min": float(norms.min()), "norm_max": float(norms.max()),
            "centroid_norm": float(np.median(np.linalg.norm(centroids, axis=1))),
            "spread": spread}


def profile(sf_dir: str) -> dict:
    tables = {t: pq.read_table(os.path.join(sf_dir, f"{t}.parquet")) for t in TABLES}
    keys = {t: pq.read_metadata(os.path.join(sf_dir, f"{t}.parquet")).num_rows
            for t in TABLES + ("nation",)}
    return {t: {"rows": tab.num_rows,
                "columns": [profile_column(tab, c, keys) for c in tab.column_names]}
            for t, tab in tables.items()}


def main(argv: list[str]) -> int:
    if not 1 <= len(argv) <= 2:
        print(__doc__.split("\n\n")[1], file=sys.stderr)
        return 2
    record = {"source": os.path.basename(os.path.normpath(argv[0])),
              "quantile_grid": QUANTILE_GRID, "tables": profile(argv[0])}
    with open(argv[1] if len(argv) > 1 else DEFAULT_OUT, "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
