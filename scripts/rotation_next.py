#!/usr/bin/env python
"""Print the driver-sample rotation the catalog currently emits.

The order is ``workloads._rotation`` over the CORRECTNESS_r*.json
artifacts in the repo root (``workloads._latest_driver_rows``): red at
the latest check first, then never-sampled workloads, then the rest
stalest first. Prints:

  1. any workload whose LATEST driver row is red — flagged loudly,
  2. the next sample (the first 50 names), and
  3. the head of the overflow queue (position 51+).

    python scripts/rotation_next.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SAMPLE = 50


def main() -> None:
    from datafusion_sqlgen_spark.workloads import _latest_driver_rows, catalog

    ordered = list(catalog())
    latest_round, latest_row = _latest_driver_rows()
    red = [n for n in ordered
           if n in latest_row and not latest_row[n].get("hash_match")]
    never = [n for n in ordered if n not in latest_round]

    if red:
        print("!! RED at latest check (fix first, sample first):")
        for n in red:
            print(f"   {n} (r{latest_round[n]})")

    print(f"# catalog: {len(ordered)} | ever sampled: "
          f"{len(ordered) - len(never)} | never: {len(never)} | "
          f"red-at-latest: {len(red)}")

    def tag(n: str) -> str:
        return f"r{latest_round[n]}" if n in latest_round else "never"

    print(f"# --- next sample (positions 1-{SAMPLE}) ---")
    for n in ordered[:SAMPLE]:
        print(f"{n}  # {tag(n)}")
    print(f"# --- overflow queue ({SAMPLE + 1}+) ---")
    for n in ordered[SAMPLE:SAMPLE + 15]:
        print(f"{n}  # {tag(n)}")


if __name__ == "__main__":
    main()
