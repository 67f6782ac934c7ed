"""Report the driver-check vintage behind DRIVER_PRIORITY.

The external correctness driver hash-checks the FIRST 50 exposed
queries each round (see plans/registry.py, which derives DRIVER_PRIORITY
from the CORRECTNESS_r*.json files with ``load_latest_green`` and
``pick_priority``; both are re-exported here). This tool diffs every
CORRECTNESS_r*.json against the live registry and prints, in
registration order:

- queries NEVER green-checked by the driver (the rotation candidates);
- the vintage of the ones already green;
- the 50-name window those files select.

Usage:  python tools/rotate_priority.py [repo_root]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datalakeingestion_spark.plans.registry import (  # noqa: E402
    load_latest_green,
    pick_priority,
)

__all__ = ["load_latest_green", "pick_priority"]


def main(repo: str) -> int:
    from datalakeingestion_spark.plans.registry import (
        REGISTRY,
        ROUND_TOUCHED,
        _ensure_loaded,
    )

    _ensure_loaded()
    names = list(REGISTRY)
    order = {n: i for i, n in enumerate(names)}
    latest = load_latest_green(repo)
    never = [n for n in names if n not in latest]
    # stalest first: sort the checked queries by (latest green round,
    # registration order) — narrating vintage from memory instead of
    # recomputing it is exactly the r8 ledger-drift bug
    done = sorted(
        (n for n in names if n in latest),
        key=lambda n: (latest[n], order[n]),
    )
    print(f"registry: {len(names)}  driver-green ever: {len(done)}  "
          f"never-checked: {len(never)}  round-touched: "
          f"{len([n for n in names if n in set(ROUND_TOUCHED)])}")
    hist: dict[int, int] = {}
    for n in done:
        hist[latest[n]] = hist.get(latest[n], 0) + 1
    print("vintage histogram (latest green round -> queries): "
          + ", ".join(f"r{r}: {c}" for r, c in sorted(hist.items())))
    print("\n# never driver-checked (rotation candidates, registration order):")
    for n in never:
        print(f"  {n}")
    pick = pick_priority(names, latest, ROUND_TOUCHED)
    print("\n# DRIVER_PRIORITY (derived at import in plans/registry.py):")
    touched = set(ROUND_TOUCHED)
    for i, n in enumerate(pick):
        tag = (
            f"last green r{latest[n]}" if n in latest else "never checked"
        )
        if n in touched:
            tag = "ROUND-TOUCHED; " + tag
        print(f"  {i:2d} {n}  ({tag})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1] if len(sys.argv) > 1 else os.getcwd()))
