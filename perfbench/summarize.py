"""Summarize result files of several runs: median, quartiles and spread
(interquartile range as a share of the median) of every metric.

    python3 perfbench/summarize.py .perfbench/results/dag_small-*trace0*.json

Refuses to merge results whose run stamps differ in anything but the seed
(see stamp.py); `--compare A... -- B...` puts two such sets side by side
and refuses them unless their stamps agree on everything but code version
and seed.
"""

from __future__ import annotations

import json
import statistics
import sys

import stamp


def load(paths: list[str]) -> list[dict]:
    results = []
    for p in paths:
        with open(p) as f:
            results.append(json.load(f))
    stamp.check_mergeable([r["stamp"] for r in results])
    return results


def summary(results: list[dict]) -> dict[str, tuple[float, float, float]]:
    """metric -> (median, q1, q3) over the runs."""
    trace = results[0]["stamp"]["trace"]
    metrics = [r["per_layer"] if trace else {**r["end_to_end"], **r["wall"]} for r in results]
    out = {}
    for name in metrics[0]:
        xs = [m[name] for m in metrics]
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0], xs[0], xs[0])
        out[name] = (statistics.median(xs), q1, q3)
    return out


def _print(results: list[dict]) -> dict:
    s = summary(results)
    st = results[0]["stamp"]
    print(f"{st['workload']} x{st['scale']} cores={st['cores']} runs={len(results)} seeds={sorted(r['stamp']['seed'] for r in results)}")
    for name, (med, q1, q3) in s.items():
        spread = (q3 - q1) / med if med else float("nan")
        print(f"  {name:<24} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  spread {spread:7.2%}")
    return s


def main(argv: list[str]) -> int:
    if "--compare" in argv:
        i, j = argv.index("--compare"), argv.index("--")
        a, b = load(argv[i + 1 : j]), load(argv[j + 1 :])
        stamp.check_comparable([a[0]["stamp"], b[0]["stamp"]])
        sa, sb = _print(a), _print(b)
        for name in sa:
            print(f"  {name:<24} A {sa[name][0]:12.4f}  B {sb[name][0]:12.4f}  B/A {sb[name][0] / sa[name][0] if sa[name][0] else float('nan'):7.3f}")
    else:
        _print(load(argv))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
