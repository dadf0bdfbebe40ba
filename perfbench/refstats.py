"""Measured statistics of a directory of the ten input tables.

    python3 perfbench/refstats.py measure DIR [DIR ...] > stats.json
    python3 perfbench/refstats.py compare --profile corpus --seed 1

`measure` prints the statistics of each directory, keyed by its base
name. `perfbench/reference_stats.json` is its output for the reference
test data (the sf0.01 and sf0.1 tables the package's tests read);
perfbench/gen.py takes its row counts and distribution parameters from
that file. `compare` generates one profile's inputs from a seed under
.perfbench/ and prints each statistic next to the reference value the
profile models.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import re
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
REFERENCE = os.path.join(HERE, "reference_stats.json")

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
MAX_CATEGORIES = 100
# the engine's tokenizer splits text on [^\p{L}]+: terms are letter runs
_TERM = re.compile(r"[^\W\d_]+")


def _num(x: float) -> float:
    return float(f"{x:.6g}")


def _column(col: pa.ChunkedArray) -> dict:
    t = col.type
    if pa.types.is_list(t):
        x = np.stack(col.to_numpy(zero_copy_only=False)).astype(np.float64)
        return {"kind": "vector", "dim": x.shape[1],
                "norm_mean": _num(np.linalg.norm(x, axis=1).mean()),
                "value_std": _num(x.std())}
    if pa.types.is_timestamp(t):
        v = col.to_numpy().astype("datetime64[us]")
        return {"kind": "time", "min": str(v.min()), "max": str(v.max()),
                "distinct": int(len(np.unique(v))),
                "midnight_share": _num(np.mean(v.astype("datetime64[D]") == v))}
    if pa.types.is_string(t):
        s = col.to_pandas()
        counts = s.value_counts()
        if len(counts) <= MAX_CATEGORIES:
            return {"kind": "category",
                    "shares": {k: _num(v / len(s)) for k, v in sorted(counts.items())}}
        lens = s.str.len()
        return {"kind": "string", "distinct": int(len(counts)),
                "len_min": int(lens.min()), "len_max": int(lens.max())}
    v = col.to_numpy().astype(np.float64)
    out = {"kind": "number", "min": _num(v.min()), "max": _num(v.max()),
           "mean": _num(v.mean()), "median": _num(np.median(v)),
           "p99": _num(np.percentile(v, 99)), "distinct": int(len(np.unique(v)))}
    if pa.types.is_floating(t):
        out["two_decimals"] = bool(np.all(np.round(v, 2) == v))
    return out


def _documents(text: list[str]) -> dict:
    tokens = [_TERM.findall(t) for t in text]
    lens = np.array([len(t) for t in tokens])
    terms = collections.Counter(w for t in tokens for w in t)
    total = sum(terms.values())
    copies = collections.Counter(text)
    texts = set(text)
    # a near duplicate is another document's text plus one trailing term
    near = sum(1 for t in text if t.rpartition(" ")[0] in texts)
    docs_with = collections.Counter(w for t in tokens for w in set(t))
    return {
        "distinct_terms": len(terms),
        "term_shares": {w: _num(c / total) for w, c in sorted(terms.items())},
        "tokens_min": int(lens.min()),
        "tokens_max": int(lens.max()),
        "tokens_mean": _num(lens.mean()),
        "tokens_p5_p50_p95": [_num(q) for q in np.percentile(lens, [5, 50, 95])],
        # mean share of documents a term appears in (document frequency)
        "mean_doc_freq": _num(np.mean(list(docs_with.values())) / len(text)),
        "near_dup_share": _num(near / len(text)),
        "exact_dup_share": _num(sum(c - 1 for c in copies.values()) / len(text)),
        "last_terms": dict(collections.Counter(t[-1] for t in tokens if t).most_common(1)),
    }


def _per_key(keys: np.ndarray) -> dict:
    per = np.unique(keys, return_counts=True)[1]
    return {"keys": int(len(per)),
            "per_key_p5_p50_p95": [_num(q) for q in np.percentile(per, [5, 50, 95])]}


def measure(d: str) -> dict:
    out = {"rows": {}, "columns": {}}
    tables = {}
    for name in TABLES:
        tb = pq.read_table(os.path.join(d, f"{name}.parquet"))
        tables[name] = tb
        out["rows"][name] = tb.num_rows
        out["columns"][name] = {c: _column(tb.column(c)) for c in tb.column_names}
    out["documents"] = _documents(tables["documents"].column("text").to_pylist())
    out["events_per_user"] = _per_key(tables["events"].column("user_id").to_numpy())
    out["lines_per_order"] = _per_key(tables["lineitem"].column("l_orderkey").to_numpy())
    ts = tables["events"].column("ts").to_numpy()
    out["events_ts_sorted"] = bool(np.all(ts[1:] >= ts[:-1]))
    emb = tables["embeddings"]
    x = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False))
    labels = emb.column("label").to_numpy()
    # norm of each label's mean vector: about 1/sqrt(vectors per label)
    # for unclustered unit vectors, near 1 for tight clusters
    out["label_centroid_norm"] = _num(np.mean(
        [np.linalg.norm(x[labels == lb].mean(axis=0)) for lb in np.unique(labels)]))
    return out


def _flatten(d, prefix=""):
    for k, v in d.items():
        key = f"{prefix}{k}"
        if isinstance(v, dict) and not k.endswith("shares"):
            yield from _flatten(v, key + ".")
        else:
            yield key, v


def _shown(want, got) -> tuple[str, str]:
    """Share dicts print as their category count and, on the generated
    side, the largest share difference from the reference."""
    if isinstance(got, dict) and isinstance(want, dict):
        diff = max(abs(got.get(k, 0) - want.get(k, 0)) for k in set(got) | set(want))
        return f"{len(want)} values", f"{len(got)} values, max diff {diff:.3f}"
    return str(want), str(got)


def compare(profile: str, seed: int) -> None:
    sys.path.insert(0, HERE)
    import gen

    with open(REFERENCE) as f:
        ref = json.load(f)
    out_dir = os.path.join(os.path.dirname(HERE), ".perfbench", f"refstats-{profile}-{seed}")
    try:
        gen.generate(out_dir, profile, seed)
        got = dict(_flatten(measure(out_dir)))
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    # each table is compared with the reference set its row count comes from
    sources = gen.PROFILE_SOURCES[profile]
    flat = {name: dict(_flatten(ref[name])) for name in set(sources.values())}
    print(f"{'statistic':44s} {'reference':>22s} {'generated':>30s}")
    for key, value in got.items():
        parts = key.split(".")
        if parts[-1] == "kind":
            continue
        table = parts[1] if parts[0] in ("rows", "columns") else {
            "events_per_user": "events", "events_ts_sorted": "events",
            "lines_per_order": "lineitem", "label_centroid_norm": "embeddings",
        }.get(parts[0], parts[0])
        want, value = _shown(flat[sources[table]].get(key), value)
        print(f"{key:44s} {want:>22s} {value:>30s}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    m = sub.add_parser("measure")
    m.add_argument("dirs", nargs="+")
    c = sub.add_parser("compare")
    c.add_argument("--profile", required=True)
    c.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    if args.cmd == "measure":
        stats = {os.path.basename(os.path.normpath(d)): measure(d) for d in args.dirs}
        print(json.dumps(stats, indent=1, sort_keys=True))
    else:
        compare(args.profile, args.seed)
    return 0


if __name__ == "__main__":
    sys.exit(main())
