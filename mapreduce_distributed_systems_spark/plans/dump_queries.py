"""Regenerate QUERIES.md from the registry:

    python -m mapreduce_distributed_systems_spark.plans.dump_queries

Keeps the judge-facing inventory doc mechanically in sync with
`all_specs()` — the doc is a VIEW of the registry, never hand-edited.
The "Certified" column is read from the driver's CORRECTNESS_r*.json
files, so cumulative driver coverage is auditable at a glance
(VERDICT r3 item 8).
"""

from __future__ import annotations

import glob
import json
import os
import re

from mapreduce_distributed_systems_spark.plans.registry import (
    all_specs,
    fn_fingerprint,
)

# Repo root: two levels up from this file (plans/ -> package -> repo).
_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def _certification() -> tuple[dict[str, list[str]], list[str]]:
    """query -> per-round driver verdicts, e.g. {'wc': ['r1:hash',
    'r3:hash'], 'kmeans_cells': ['r2:rows']}; plus the round labels."""
    certs: dict[str, list[str]] = {}
    rounds: list[str] = []
    paths = sorted(glob.glob(os.path.join(_REPO_ROOT, "CORRECTNESS_r*.json")))
    if not paths:
        raise FileNotFoundError(
            f"no CORRECTNESS_r*.json under {_REPO_ROOT}; refusing to render "
            "a Certified column full of blanks"
        )
    for path in paths:
        rnd = "r" + os.path.basename(path)[len("CORRECTNESS_r"):].split(".")[0].lstrip("0")
        rounds.append(rnd)
        with open(path) as f:
            rows = json.load(f)
        for name, row in rows.items():
            if row.get("hash_match"):
                verdict = "hash"
            elif row.get("err") == "no_oracle":
                verdict = "rows"
            else:
                verdict = "FAIL"
            certs.setdefault(name, []).append(f"{rnd}:{verdict}")
    return certs, rounds


def render() -> str:
    specs = all_specs()
    certs, rounds = _certification()
    lines = [
        "# QUERIES — auto-generated registry inventory",
        "",
        "Generated from `plans/registry.py:all_specs()` (gate-priority order:",
        "the first 50 rows are the driver's CORRECTNESS window). Regenerate",
        "with `python -m mapreduce_distributed_systems_spark.plans.dump_queries`.",
        "",
        f"**{len(specs)} queries; "
        f"{sum(1 for s in specs.values() if s.oracle)} with DuckDB oracles; "
        f"{sum(1 for s in specs.values() if s.bench)} in the bench set.**",
        "",
        "Certified = driver CORRECTNESS rows by round "
        f"({', '.join(rounds)}): `hash` = row-count + schema + value-hash",
        "match vs the DuckDB oracle; `rows` = rows-only check (no oracle by",
        "design); `FAIL` = red row that round. A trailing round absent from",
        "a query's list means it sat outside that round's 50-entry window.",
        "",
        "| # | Query | Oracle | Bench | Certified | Tags | What it does |",
        "|---|---|---|---|---|---|---|",
    ]
    for i, (name, s) in enumerate(specs.items(), 1):
        doc = re.sub(r"\s+", " ", (s.doc or "").strip())
        if len(doc) > 160:
            doc = doc[:157] + "..."
        doc = doc.replace("|", "\\|")
        cert = " ".join(certs.get(name, [])) or "—"
        lines.append(
            f"| {i} | `{name}` | {'sql' if s.oracle else 'rows-only'} | "
            f"{'yes' if s.bench else ''} | {cert} | {', '.join(s.tags)} | {doc} |"
        )
    return "\n".join(lines) + "\n"


_CERT_STATE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "cert_state.json")


def update_cert_state() -> dict[str, dict]:
    """Maintain plans/cert_state.json: per query, the newest round with
    a green driver row (hash or rows verdict) and the fn_fingerprint of
    the query AT THE TIME that round was recorded. The fingerprint only
    updates when the newest green round advances — so a mid-round code
    edit leaves the recorded fingerprint pointing at the certified
    definition, and the gate test can demand re-certification for any
    query whose tree fingerprint drifted from it.

    Run it at round open, after folding the driver's newest
    CORRECTNESS json and BEFORE any code edit: a name whose green
    round advances records the tree's fingerprint, which is the
    certified definition only while no edit has landed. A change of
    fn_fingerprint's scheme rewrites the recorded fingerprints once,
    for the names whose old-scheme fingerprint still matches (see
    ROADMAP.md, Next direction 1)."""
    state: dict[str, dict] = {}
    if os.path.exists(_CERT_STATE):
        with open(_CERT_STATE) as f:
            state = json.load(f)
    certs, _ = _certification()
    specs = all_specs()
    for name, spec in specs.items():
        green = [
            int(v.split(":")[0][1:])
            for v in certs.get(name, [])
            if not v.endswith(":FAIL")
        ]
        if not green:
            continue
        newest = max(green)
        prev = state.get(name)
        if prev is None or newest > prev["round"]:
            state[name] = {"round": newest, "fingerprint": fn_fingerprint(spec)}
    # drop entries for queries no longer registered
    state = {k: v for k, v in state.items() if k in specs}
    with open(_CERT_STATE, "w") as f:
        json.dump(state, f, indent=1, sort_keys=True)
    return state


if __name__ == "__main__":
    out = os.path.join(_REPO_ROOT, "QUERIES.md")
    with open(out, "w") as f:
        f.write(render())
    print(f"{out} regenerated")
    update_cert_state()
    print(f"{_CERT_STATE} updated")
