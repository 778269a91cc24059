"""Compare two bench.py outputs per-query.

Usage: python tools/bench_compare.py OLD.json NEW.json [threshold]

Accepts the raw one-line bench output, a bench.py ``BENCH_LOCAL.json``
record, or a ``BENCH_r{N}.json`` envelope (stdout ``tail`` plus the
parsed final line under ["parsed"], which may be null). Prints the
shared-set totals and every query whose ratio new/old exceeds the
threshold (default 1.5), plus entries present on only one side.
Refuses (exit 2) two records whose ``cpus`` are both set and differ:
per-query times do not carry across core counts.
Timings swing with machine load; compare mins from bench.py's
min-of-3, and treat <1.5x as noise unless it reproduces.
"""

from __future__ import annotations

import json
import re
import sys


def load(path: str) -> tuple[dict[str, float], int | None]:
    """Per-query seconds and the record's cpu count (None if unset).
    Every source is merged: pairs regexed from the envelope's stdout
    tail, then the parsed final line (budgeted slowest-first, so a
    subset), then the top-level ``queries``; later sources win."""
    with open(path, encoding="utf-8") as f:
        doc = json.load(f)
    times = {
        k: float(v)
        for k, v in re.findall(r'"(q_\w+|flagship)":\s?([0-9.]+)', doc.get("tail") or "")
    }
    if isinstance(doc.get("parsed"), dict):
        times.update(doc["parsed"].get("queries") or {})
    times.update(doc.get("queries") or {})
    return times, doc.get("cpus")


def main() -> int:
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    (old, old_cpus), (new, new_cpus) = load(sys.argv[1]), load(sys.argv[2])
    if old_cpus and new_cpus and old_cpus != new_cpus:
        print(f"refusing to compare: cpus {old_cpus} vs {new_cpus}", file=sys.stderr)
        return 2
    threshold = float(sys.argv[3]) if len(sys.argv) > 3 else 1.5
    shared = sorted(set(old) & set(new))
    t_old = sum(old[k] for k in shared)
    t_new = sum(new[k] for k in shared)
    print(
        f"shared {len(shared)} queries: old={t_old:.2f}s new={t_new:.2f}s "
        f"ratio={t_new / t_old if t_old else float('nan'):.2f}"
    )
    flagged = [
        (new[k] / old[k], k)
        for k in shared
        if old[k] > 0 and new[k] / old[k] >= threshold
    ]
    for ratio, k in sorted(flagged, reverse=True):
        print(f"  x{ratio:4.2f}  {k}: {old[k]:.3f} -> {new[k]:.3f}")
    for k in sorted(set(new) - set(old)):
        print(f"  new-only  {k}: {new[k]:.3f}")
    for k in sorted(set(old) - set(new)):
        print(f"  dropped   {k}: {old[k]:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
