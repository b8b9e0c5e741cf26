"""Compute the next round's driver-verification window (VERDICT r9 #8).

The driver verifies only the FIRST 50 ``queries()`` entries per round;
``plans/catalog.py::_WINDOW`` pins that list.  The rotation rule used to
be prose in the catalog comment — this tool makes it executable, so a
round's window is generated from recorded state instead of hand-sorted:

  1. ``--changed`` names first (plans or oracles that changed this
     round, plus brand-new entries), in the order given;
  2. oracle-paired entries with NO driver CORRECTNESS row yet;
  3. every other oracle-paired entry, stalest latest-driver-round
     first (ties broken by catalog order); a bench-retired query that
     is overdue for a driver row always gets a slot here.

Rows-only entries (oracle is None) are excluded: they can never turn
hash-green, and the driver records their weaker rows-only check from
their catalog-tail position anyway.

Usage:
    python tools/window_rotate.py --changed=a,b,c [--size=50]

Prints the provenance (per-round staleness histogram, what was left
out, overdue retirees that found no slot) and the ``_WINDOW`` list ready
to paste into plans/catalog.py; a dropped overdue retiree is also
warned about on stderr.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def latest_rounds() -> dict[str, int]:
    """query name -> newest round with a driver CORRECTNESS row."""
    hist: dict[str, int] = {}
    for f in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        r = int(re.search(r"r(\d+)", os.path.basename(f)).group(1))
        for name, row in json.load(open(f)).items():
            # only dict-valued rows are query results; a future scalar
            # metadata key must not enter the staleness ranking
            # (ADVICE r10) — compute_window additionally intersects
            # with all_specs(), so renamed/retired queries drop out
            if isinstance(row, dict):
                hist[name] = max(r, hist.get(name, 0))
    return hist


def compute_window(
    changed: list[str], size: int = 50
) -> tuple[list[str], dict]:
    from signal_messenger_vector_database_spark.plans.catalog import all_specs

    specs = all_specs()
    order = {n: i for i, n in enumerate(specs)}
    hist = latest_rounds()
    paired = [n for n, s in specs.items() if s.oracle is not None]

    missing = [c for c in changed if c not in specs]
    if missing:
        raise SystemExit(f"--changed names not in catalog: {missing}")
    unpaired_changed = [c for c in changed if specs[c].oracle is None]
    if unpaired_changed:
        raise SystemExit(
            f"--changed names are rows-only (no window slot): {unpaired_changed}"
        )
    if len(set(changed)) > size:
        # a negative remaining-slot count would turn the [:remaining]
        # slices below into near-full negative-bound slices AND silently
        # drop the overflow changed names (r10 adversarial review)
        raise SystemExit(
            f"{len(set(changed))} changed names exceed the {size}-slot window"
        )

    window = list(dict.fromkeys(changed))
    never = [n for n in paired if n not in hist and n not in window]
    window += never[: size - len(window)]
    # bench-retired queries (bench.py RETIRED_HEADLINE — the HEADLINE
    # cap policy's retirees) get a correctness row at least every 3 rounds
    # while the window has room (VERDICT r15 #8): out of the bench AND
    # out of the window, their correctness coverage would otherwise
    # quietly age out.  cur-2 staleness puts them in every other window.
    try:
        from bench import RETIRED_HEADLINE
    except ImportError:
        RETIRED_HEADLINE = []
    cur = max(hist.values(), default=0) + 1
    overdue = [
        n
        for n in RETIRED_HEADLINE
        if n in specs
        and specs[n].oracle is not None
        and n not in window
        and hist.get(n, -(10**6)) <= cur - 2
    ]
    # a window already full of changed + never-run names has no slot
    # left for an overdue retiree: report the ones dropped instead of
    # letting the every-3-rounds promise lapse without a word
    room = size - len(window)
    overdue, dropped = overdue[:room], overdue[room:]
    stale = sorted(
        (n for n in paired if n in hist and n not in window and n not in overdue),
        key=lambda n: (hist[n], order[n]),
    )
    cut = stale[: size - len(window) - len(overdue)]
    # the overdue retirees take their slots ahead of the cut, but sit in
    # the stale tail in staleness order like every other entry
    window += sorted(overdue + cut, key=lambda n: (hist.get(n, 0), order[n]))
    left_out = stale[len(cut) :]
    prov = {
        "n_catalog": len(specs),
        "n_paired": len(paired),
        "n_changed": len(changed),
        "n_never_checked": len(never),
        "staleness_histogram": dict(
            sorted(
                __import__("collections")
                .Counter(hist[n] for n in paired if n in hist)
                .items()
            )
        ),
        "oldest_left_out_round": hist[left_out[0]] if left_out else None,
        "n_left_out": len(left_out),
        "left_out": left_out,
        "overdue_retirees_dropped": dropped,
    }
    return window[:size], prov


def main() -> None:
    changed: list[str] = []
    size = 50
    for a in sys.argv[1:]:
        if a.startswith("--changed="):
            changed = [x for x in a.split("=", 1)[1].split(",") if x]
        elif a.startswith("--size="):
            size = int(a.split("=", 1)[1])
    window, prov = compute_window(changed, size)
    if prov["overdue_retirees_dropped"]:
        print(
            "warning: no window slot left for overdue bench retirees "
            f"{prov['overdue_retirees_dropped']}: their correctness row is skipped "
            "this round",
            file=sys.stderr,
        )
    print("# provenance:", json.dumps(prov, indent=None))
    print("_WINDOW = [")
    for n in window:
        print(f'    "{n}",')
    print("]")


if __name__ == "__main__":
    main()
