"""Derive (and audit) the driver correctness window from the artifacts.

The rotation policy is pinned in ``icerunner_spark/queries.py`` next to
``_DRIVER_WINDOW``: each round's 50-slot window is

    never-driver-checked names first (ascending registration age not
    knowable, so alphabetical), then the stalest names ascending by the
    round of their newest CORRECTNESS_r*.json row (alphabetical within a
    round), topped up to ``50 - len(KEEPERS)``, plus the pinned KEEPERS
    (one long-green representative per operator family).

Until r8 the window was recomputed by hand each round; this tool makes
the policy executable so the per-round rotation is a diff, not an
exercise:

    python tools/window_policy.py            # audit the committed window
    python tools/window_policy.py --propose  # print next round's window

``--propose`` emits the python list literal to paste over
``_DRIVER_WINDOW`` for the NEXT round (it assumes the current round's
window will earn green rows — pass ``--rounds N`` to cap which artifacts
count if a round's rows were lost), followed by the
``_DRIVER_WINDOW_ROUND`` line recording the newest artifact round it
counted.

The audit counts the artifacts up to ``_DRIVER_WINDOW_ROUND`` (or
``--rounds N``): a window is judged against the artifacts it was rotated
from, so the next round's artifact landing does not turn it red, while a
window that breaks the policy against those artifacts fails. Exit
status: 0 if the committed window satisfies the policy, 1 with a
diagnostic otherwise. A pytest in tests/test_tools.py runs the audit.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# One proven representative per operator family (the pinned keeper set —
# rotate a member only when its family gains a stronger representative).
KEEPERS = [
    "q1_pricing_summary",  # TPC-H aggregation
    "window_topk_orders_per_customer",  # window functions
    "cdc_changelog_diff",  # row-level changelog CDC
    "snapshot_merge_upsert",  # MERGE / merge-on-read
    "wap_branch_publish",  # branches / write-audit-publish
    "flight_pushdown_scan",  # Flight federation
    "stream_exactly_once_ingest",  # streaming sink
    "dedup_minhash_lsh",  # near-dup dedup
    "similarity_bruteforce_topk",  # similarity baseline
    "iceberg_export_roundtrip",  # Iceberg v2 interop
]

WINDOW_SIZE = 50


def latest_rows(max_round: int | None = None) -> dict[str, int]:
    """name -> newest round with a CORRECTNESS row, from the artifacts."""
    latest: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(HERE, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        if max_round is not None and rnd > max_round:
            continue
        with open(path) as fh:
            rows = json.load(fh)
        for name in rows:
            latest[name] = max(latest.get(name, 0), rnd)
    return latest


def propose(
    registry: list[str], latest: dict[str, int], assume_green: list[str] | None = None
) -> list[str]:
    """The policy window for the NEXT round given the artifact state.

    ``assume_green``: names whose driver row is expected from the round
    in flight (the committed window) — counted as round max+1 so a
    proposal made mid-round doesn't re-pick the very names the driver is
    about to check.
    """
    latest = dict(latest)
    if assume_green:
        nxt = (max(latest.values()) if latest else 0) + 1
        for n in assume_green:
            latest[n] = nxt
    oracled = [n for n in registry if n not in KEEPERS]
    stale_sorted = sorted(oracled, key=lambda n: (latest.get(n, 0), n))
    head = stale_sorted[: WINDOW_SIZE - len(KEEPERS)]
    return head + KEEPERS


def audit(window: list[str], registry: list[str], latest: dict[str, int]) -> list[str]:
    """Policy violations in the committed window (empty = compliant).

    The audit is necessarily looser than propose(): the window is fixed
    BEFORE the round runs, and queries added mid-round legitimately miss
    it — so it checks structure (size, keepers present, never-checked
    names that PREDATE the newest artifact lead the head) rather than
    demanding equality with a from-scratch proposal.
    """
    problems: list[str] = []
    if len(window) != WINDOW_SIZE:
        problems.append(f"window has {len(window)} names, policy says {WINDOW_SIZE}")
    missing_keepers = [k for k in KEEPERS if k not in window]
    if missing_keepers:
        problems.append(f"keepers missing from window: {missing_keepers}")
    unknown = [n for n in window if n not in registry]
    if unknown:
        problems.append(f"window names not in the registry: {unknown}")
    # every never-checked name in the window must sit ahead of every
    # checked name (never-checked first is the head rule)
    head = [n for n in window if n not in KEEPERS]
    seen_checked = False
    for n in head:
        if latest.get(n, 0) == 0:
            if seen_checked:
                problems.append(
                    f"never-driver-checked name {n!r} sits behind checked names"
                )
        else:
            seen_checked = True
    # staleness must be non-decreasing through the head (ties free-form)
    rounds = [latest.get(n, 0) for n in head]
    if any(a > b for a, b in zip(rounds, rounds[1:])):
        problems.append(
            "head is not ordered by staleness (newest-row round must be "
            f"non-decreasing): {list(zip(head, rounds))}"
        )
    # the CHECKED names in the head must be exactly the stalest checked
    # cohort — a window that rotates fresh names in while staler ones
    # wait violates the policy even if it is internally well-ordered.
    # (Never-checked names are exempt from the count: ones outside the
    # window were legitimately added after it was fixed, and ones inside
    # are the mandatory head.)
    checked_in = [n for n in head if latest.get(n, 0) > 0]
    checked_all = sorted(
        (n for n in registry if n not in KEEPERS and latest.get(n, 0) > 0),
        key=lambda n: (latest[n], n),
    )
    expected = checked_all[: len(checked_in)]
    if sorted(checked_in) != sorted(expected):
        rotated_early = sorted(set(checked_in) - set(expected))
        skipped_stale = sorted(set(expected) - set(checked_in))
        problems.append(
            "checked head names are not the stalest checked cohort: "
            f"in-window-but-fresh={rotated_early}, "
            f"stalest-but-skipped={skipped_stale}"
        )
    return problems


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--propose", action="store_true")
    ap.add_argument("--rounds", type=int, default=None, help="cap artifact rounds")
    args = ap.parse_args()

    from icerunner_spark import queries as q

    registry = list(q._QUERIES)
    window = list(q._DRIVER_WINDOW)

    if args.propose:
        latest = latest_rows(args.rounds)
        nxt = propose(registry, latest, assume_green=window)
        print("_DRIVER_WINDOW = [")
        for n in nxt:
            tag = "KEEPER" if n in KEEPERS else (
                "never" if latest.get(n, 0) == 0 else f"r{latest[n]}"
            )
            print(f'    "{n}",  # {tag}')
        print("]")
        print(f"_DRIVER_WINDOW_ROUND = {max(latest.values(), default=0)}")
        return 0

    rounds = q._DRIVER_WINDOW_ROUND if args.rounds is None else args.rounds
    latest = latest_rows(rounds)
    newer = max(latest_rows().values(), default=0)
    if newer > rounds:
        print(f"note: artifacts up to r{newer} exist; the window counts up to "
              f"r{rounds} (rotate with --propose)")
    problems = audit(window, registry, latest)
    if problems:
        for p in problems:
            print(f"POLICY VIOLATION: {p}")
        return 1
    dist: dict[int, int] = {}
    for n in registry:
        dist[latest.get(n, 0)] = dist.get(latest.get(n, 0), 0) + 1
    print(
        f"window OK ({len(window)} names, {len(KEEPERS)} keepers); "
        f"staleness distribution (0 = never checked): "
        f"{dict(sorted(dist.items()))}"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
