"""Driver-ledger arithmetic, committed instead of prose (r15 verdict #5).

Reads every CORRECTNESS_r*.json in the repo root and emits:
  1. the latest-row histogram (names by the round of their most recent
     driver row) — the number the SURVEY forward-schedule bullets cite;
  2. the NEXT driver head (50 slots) under the standing rules, either
     for the upcoming round (from the ledger as recorded) or for the
     round after (assuming the currently registered head lands).

Standing rules encoded here (SURVEY.md forward schedule, r8-r15):
  * REFRESH ORDER: stalest-first by latest-row round; ties broken by
    history age (the round of the name's FIRST driver row), then by
    driver order within that first round (position in its json file).
  * NEW REGISTRATIONS (zero driver history) lead the head in registry
    order — the bank-promotion precedent (r12-r15 heads).
  * PAIRING RULE (r8 verdict #4): a ROWS-ONLY name in the head needs its
    hash-green AUDIT SIBLING in the SAME head. If the sibling is not
    already natural, it takes slot 50 and displaces the least-stale
    natural member, which then holds position 51 (the displacement
    rule; r12/r13/r15 precedents).

Usage:
    python tools/ledger_check.py                # histogram + next head
    python tools/ledger_check.py --assume-lands # head for round N+2,
                                                # assuming the registered
                                                # head lands as round N+1
    python tools/ledger_check.py --verify-current
        # recompute the upcoming round's head from the ledger alone and
        # diff it against plans/__init__.py::_DRIVER_PRIORITY[:50];
        # exit nonzero on any mismatch. The exit code means something
        # only at registration time, BEFORE that round's CORRECTNESS
        # file lands: the recomputed head always includes the pending
        # NEW/REWORK names, so once their correctness rows are recorded it
        # differs from the registered head and the mode exits 1 by
        # construction, not because of a registration error.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# rows-only name -> hash-green audit sibling (the published pairing
# ledger; VERDICT r15 "zero open exceptions")
AUDIT_SIBLING = {
    "approx_value_percentiles": "approx_percentile_audit",
    "ann_ivf_topk": "ann_recall_audit",
    "ann_lsh_bucketed": "ann_recall_audit",
    "pq_adc_topk": "ann_recall_audit",
    "ivf_pq_topk": "ann_recall_audit",
    "ml_predictions": "ml_accuracy_audit",
    "stratified_sample_counts": "stratified_sample_audit",
    "equidepth_histogram_approx": "equidepth_approx_audit",
    "streaming_dedup_watermark": "streaming_dedup_audit",
    "approx_distinct_events": "approx_distinct_audit",
}

HEAD_SLOTS = 50

# Reworked-since-last-row names: a changed spark_fn/oracle takes a
# priority slot in the NEXT head per the standing displacement rule
# (r7 precedent; SURVEY r16-r20 bullet). Clear each entry once its
# post-rework row lands. Current entries:
#   trigram_like_prefilter — r16 guard: precision6 NULL (not ANSI
#   DIVIDE_BY_ZERO) at n_candidates = 0, aligning Spark with the
#   oracle's existing degenerate behavior (r15 ADVICE).
REWORKS = ["trigram_like_prefilter"]


def load_ledger() -> dict[str, list[tuple[int, int]]]:
    """name -> [(round, position-in-that-round's-head), ...] ascending."""
    history: dict[str, list[tuple[int, int]]] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"r(\d+)\.json$", path).group(1))
        with open(path) as f:
            rows = json.load(f)
        for pos, name in enumerate(rows):
            history.setdefault(name, []).append((rnd, pos))
    return history


def histogram(history: dict[str, list[tuple[int, int]]]) -> dict[int, int]:
    hist: dict[int, int] = {}
    for rows in history.values():
        latest = rows[-1][0]
        hist[latest] = hist.get(latest, 0) + 1
    return hist


def staleness_key(name: str, history: dict[str, list[tuple[int, int]]]):
    rows = history[name]
    latest_round = rows[-1][0]
    first_round, first_pos = rows[0]
    return (latest_round, first_round, first_pos)


def compute_head(
    history: dict[str, list[tuple[int, int]]],
    registry_order: list[str],
    rows_only: set[str],
    include_pending: bool = True,
) -> tuple[list[str], list[str]]:
    """Return (head, displaced). `displaced` holds positions 51+.

    ``include_pending=False`` reconstructs a head as it was at ITS
    registration time — NEW names and REWORKS that arrived later join
    the next head, so verification of the registered head excludes
    them.
    """
    new = [n for n in registry_order if n not in history] if include_pending else []
    reworks = (
        [n for n in REWORKS if n in history and n not in new]
        if include_pending
        else []
    )
    ranked = sorted(
        (n for n in registry_order if n in history and n not in reworks),
        key=lambda n: staleness_key(n, history),
    )
    natural = (new + reworks + ranked)[:HEAD_SLOTS]
    displaced: list[str] = []
    # pairing closure: audits take the tail slot, displacing least-stale
    while True:
        needed = [
            AUDIT_SIBLING[n]
            for n in natural
            if n in rows_only and AUDIT_SIBLING[n] not in natural
        ]
        if not needed:
            break
        sibling = needed[0]
        # the least-stale natural member (the tail of the ranked order)
        # pops and holds the next position per the displacement rule
        displaced.insert(0, natural.pop())
        natural.append(sibling)
    return natural, displaced


def main() -> int:
    from etl_earthquake_gcp_spark import plans

    history = load_ledger()
    registry_order = list(plans.QUERIES)
    rows_only = {n for n, q in plans.QUERIES.items() if q.oracle is None}

    unknown = sorted(set(history) - set(registry_order))
    if unknown:
        print(f"LEDGER NAMES MISSING FROM REGISTRY: {unknown}")
        return 2
    missing_pair = sorted(rows_only - set(AUDIT_SIBLING))
    if missing_pair:
        print(f"ROWS-ONLY NAMES WITHOUT A PAIRING ENTRY: {missing_pair}")
        return 2

    last_round = max(r for rows in history.values() for r, _ in rows)
    hist = histogram(history)
    print(f"rounds recorded: r1..r{last_round}")
    print(f"registered queries: {len(registry_order)} "
          f"(rows-only: {len(rows_only)}, with history: {len(history)})")
    print("latest-row histogram: "
          + ", ".join(f"r{r}:{hist[r]}" for r in sorted(hist))
          + f" = {sum(hist.values())}")

    if "--assume-lands" in sys.argv:
        # pretend the registered head lands as round N+1, then compute N+2
        for pos, name in enumerate(registry_order[:HEAD_SLOTS]):
            history.setdefault(name, []).append((last_round + 1, pos))
        hist2 = histogram(history)
        print(f"assumed: registered head lands as r{last_round + 1}")
        print("post-landing histogram: "
              + ", ".join(f"r{r}:{hist2[r]}" for r in sorted(hist2))
              + f" = {sum(hist2.values())}")
        target = last_round + 2
    else:
        target = last_round + 1

    # r17: --verify-current now verifies against the SAME computation the
    # registration used (pending NEW/REWORK names included). The previous
    # pending-excluded reconstruction could never verify a head that
    # legitimately carries new-registration or rework slots — exactly the
    # r17 head — so the mode verified only all-natural rotations. A head
    # registered in a PRIOR round is still expected to mismatch once its
    # round's correctness rows land (the tool always targets the upcoming
    # round); run the check AT registration time, which is when its exit
    # code is the gate.
    head, displaced = compute_head(
        history,
        registry_order,
        rows_only,
        include_pending=True,
    )
    print(f"\ncomputed r{target} head ({len(head)} slots):")
    for i, n in enumerate(head, 1):
        rows = history.get(n)
        tag = (f"latest r{rows[-1][0]}, history r{rows[0][0]}"
               if rows else "NEW")
        flags = []
        if n in REWORKS and rows:
            flags.append("rework")
        if n in rows_only:
            flags.append(f"rows-only -> {AUDIT_SIBLING[n]}")
        if n in AUDIT_SIBLING.values():
            flags.append("audit")
        print(f"  {i:2d}. {n}  [{tag}]"
              + (f"  ({'; '.join(flags)})" if flags else ""))
    for j, n in enumerate(displaced, len(head) + 1):
        print(f"  {j:2d}. {n}  [displaced -> r{target + 1}]")

    if "--emit-python" in sys.argv:
        # ready-to-paste _DRIVER_PRIORITY head block for the next
        # registration commit — removes the prose->code transcription
        # step (the schedule of record stays the registered list; this
        # output is its mechanical source)
        print("\n_DRIVER_PRIORITY head block (paste into "
              "plans/__init__.py):")
        print("_DRIVER_PRIORITY = [")
        for n in head:
            rows = history.get(n)
            if not rows:
                note = "NEW this round"
            elif n in REWORKS:
                note = f"rework (latest r{rows[-1][0]})"
            else:
                note = f"latest r{rows[-1][0]}, history r{rows[0][0]}"
            print(f'    "{n}",  # {note}')
        print("    # -- positions 51+: the standing registry order "
              "(driver reads 50) --")
        print("]")

    if "--verify-current" in sys.argv:
        from etl_earthquake_gcp_spark.plans import _DRIVER_PRIORITY

        registered = _DRIVER_PRIORITY[:HEAD_SLOTS]
        if registered != head:
            print("\nMISMATCH vs _DRIVER_PRIORITY:")
            for i, (a, b) in enumerate(zip(registered, head), 1):
                if a != b:
                    print(f"  slot {i}: registered={a} computed={b}")
            return 1
        print("\n_DRIVER_PRIORITY[:50] matches the computed head exactly.")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
