"""Compute the next gate-window composition from the committed
evidence — automates the registry's HARD ARITHMETIC so no round-open
re-derives it by hand (the r9/r10/r11 notes were each hand-computed;
r12's pre-compute is mechanical, so make the machine do it).

    python tools/plan_window.py

Reads, in this priority order:
  1. never-certified queries (no green row in any git-COMMITTED
     CORRECTNESS_r*.json) — MUST be in the window
     (test_all_never_certified_queries_...)
  2. changed-fingerprint queries: the tree's fn_fingerprint (the code
     the query and its declared helpers run, the constants that code
     names, and the oracle SQL; docstrings and comments excluded)
     differs from the one plans/cert_state.json recorded at the
     query's newest green round — MUST be in the window
     (test_changed_queries_queued_in_window)
  3. hard-stale queries (newest green row > 3 rounds older than the
     newest committed CORRECTNESS round) — MUST be in the window
     (test_stale_certifications_queued_in_window)
  4. the planning cohort (exactly 3 rounds old) — fill remaining
     slots oldest-first so nothing crosses the hard floor next round;
     whatever spills is next round's guaranteed head.

Evidence scope (VERDICT r10 item 1): only git-TRACKED CORRECTNESS
files count. The driver writes CORRECTNESS_r{N}.json AFTER the
round's final commit, so an untracked newer file exists at every
judge evaluation by construction; reading it would make the planner
propose NEXT round's window while GATE_ORDER still holds the current
one — a structurally guaranteed mismatch (the same failure class the
r9 doc gate fixed). Folding the fresh file (git add at round open)
brings it into scope.

Certified predicate: a green row is hash_match or rows_match — the
SAME predicate tests/test_registry_gate.py uses (ADVICE r10: the old
extra `err == 'no_oracle'` branch could certify a query the gate
tests still counted as never-certified, letting the two disagree).

Prints the composition, the spill, and a paste-ready GATE_ORDER
block. Run it at round open AFTER folding the driver's fresh
CORRECTNESS json (the round-open checklist's first step).
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mapreduce_distributed_systems_spark.plans.registry import (  # noqa: E402
    all_specs,
    fn_fingerprint,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WINDOW = 50


def committed_correctness_paths() -> list[str]:
    """CORRECTNESS files the round has actually LANDED (git-tracked);
    mirrors tests/test_registry_gate._committed_correctness_paths so
    the planner and the gate tests read the same evidence. Falls back
    to the on-disk glob only when git is unavailable (exported tree)."""
    try:
        out = subprocess.run(
            ["git", "ls-files", "CORRECTNESS_r*.json"],
            cwd=REPO, capture_output=True, text=True, timeout=30,
        )
        if out.returncode == 0:
            # git succeeded: its answer is authoritative, INCLUDING an
            # empty one (ADVICE r11: falling through to the glob when
            # zero files are tracked would silently read untracked
            # evidence — the exact failure this scoping fixes)
            tracked = sorted(
                ln for ln in out.stdout.splitlines() if ln.strip()
            )
            return [os.path.join(REPO, p) for p in tracked]
    except (OSError, subprocess.TimeoutExpired):
        pass
    # git failed or unavailable (exported tree): on-disk glob
    return sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")))


def main() -> None:
    # --preview: simulate NEXT round's composition by assuming the
    # current GATE_ORDER all certifies green this round (the round-end
    # driver run) — what the next round's open will face, computable
    # BEFORE the driver runs. Useful for budgeting staged work.
    preview = "--preview" in sys.argv
    specs = all_specs()

    certified: set[str] = set()
    newest_round = 0
    for path in committed_correctness_paths():
        rnd = int(os.path.basename(path)[len("CORRECTNESS_r"):].split(".")[0])
        newest_round = max(newest_round, rnd)
        with open(path) as f:
            for name, row in json.load(f).items():
                if row.get("hash_match") or row.get("rows_match"):
                    certified.add(name)

    cert_state_path = os.path.join(
        REPO, "mapreduce_distributed_systems_spark", "plans", "cert_state.json"
    )
    with open(cert_state_path) as f:
        cert_state = json.load(f)

    if preview:
        from mapreduce_distributed_systems_spark.plans.registry import (
            GATE_ORDER,
        )

        newest_round += 1
        for name in GATE_ORDER:
            certified.add(name)
            cert_state[name] = {
                "round": newest_round,
                "fingerprint": fn_fingerprint(specs[name]),
            }
        print(f"(preview: assuming GATE_ORDER certifies at r{newest_round})")

    never = sorted(n for n in specs if n not in certified)
    changed = sorted(
        n
        for n, row in cert_state.items()
        if n in specs
        and n not in never
        and fn_fingerprint(specs[n]) != row["fingerprint"]
    )
    hard_stale = sorted(
        n
        for n, row in cert_state.items()
        if n in specs
        and n not in never
        and n not in changed
        and newest_round - row["round"] > 3
    )
    planning = sorted(
        n
        for n, row in cert_state.items()
        if n in specs
        and n not in never
        and n not in changed
        and n not in hard_stale
        and newest_round - row["round"] == 3
    )

    must = never + changed + hard_stale
    free = WINDOW - len(must)
    fill = planning[: max(0, free)]
    spill = planning[max(0, free):]

    print(f"newest committed driver round: r{newest_round}")
    print(f"window: {WINDOW}")
    print(f"never-certified (must, {len(never)}): {never}")
    print(f"changed-fingerprint (must, {len(changed)}): {changed}")
    print(f"hard-stale >3 (must, {len(hard_stale)}): {hard_stale}")
    if len(must) > WINDOW:
        print(f"!! INFEASIBLE: {len(must)} must-gate names > {WINDOW} window"
              " slots — the staleness floor cannot be satisfied this round")
    print(f"free slots after must: {free}")
    print(f"planning cohort (==3 old, {len(planning)}): fills {len(fill)}")
    if spill:
        print(f"SPILL to next round's head ({len(spill)}): {spill}")
    print()
    print("# paste-ready GATE_ORDER block:")
    print("GATE_ORDER = (")
    for group, label in (
        (never, "never-certified"),
        (changed, "changed-fingerprint"),
        (hard_stale, "hard-stale"),
        (fill, "planning refresh"),
    ):
        if group:
            print(f"    # -- {label} ({len(group)}) --")
            for n in group:
                print(f'    "{n}",')
    print(")")


if __name__ == "__main__":
    main()
