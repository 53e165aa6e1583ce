"""Read sets of benchmark runs recorded with `run.py --record FILE`.

    python3 perfbench/compare.py SET.jsonl          # spread of one set
    python3 perfbench/compare.py BASE.jsonl NEW.jsonl

One set: per workload x end-to-end metric, the run count, median,
quartiles and spread (quartile distance / median) against the metric's
bound in BENCHMARK.json: "steady" below a third of the bound, "wide"
above the bound. Also the share of failed ops.

Two sets: per workload x metric, each side's median and quartiles, the
share of pairs NEW wins (runs paired in seed order; ties count for
neither side), and a verdict: "better" when NEW wins at least nine
pairs in ten and the medians differ by more than BASE's quartile
distance; "worse" when NEW's median is worse than BASE's by more than
the bound; "unresolved" when either side's spread exceeds the bound;
otherwise "within bound".

Traced runs (trace 1) are left out.
"""

import json
import os
import statistics
import sys

BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "BENCHMARK.json")


def load(path):
    """{workload: [result, ...]} of the untraced runs, in seed order."""
    sets = {}
    with open(path) as fh:
        for line in fh:
            if line.strip():
                r = json.loads(line)
                if not r.get("trace"):
                    sets.setdefault(r["workload"], []).append((r["seed"], r["result"]))
    return {w: [res for _, res in sorted(rs, key=lambda x: x[0])] for w, rs in sets.items()}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    q1, med, q3 = quartiles(xs)
    return (q3 - q1) / med if med else float("inf")


def values(results, metric):
    return [r["metrics"][metric]["value"] for r in results if metric in r["metrics"]]


def failed_share(results):
    att = sum(r["attempted"] for r in results)
    return sum(r["failed"] for r in results) / att if att else 0.0


def one_set(sets, metrics):
    print(f"{'workload':<14} {'metric':<16} {'n':>3} {'median':>12} {'q1':>12} "
          f"{'q3':>12} {'spread':>7} {'bound':>6}  verdict")
    for w, results in sorted(sets.items()):
        for m in metrics:
            xs = values(results, m["name"])
            if not xs:
                continue
            q1, med, q3 = quartiles(xs)
            sp = spread(xs)
            b = m["bound"]
            verdict = "steady" if sp < b / 3 else ("wide" if sp > b else "within bound")
            print(f"{w:<14} {m['name']:<16} {len(xs):>3} {med:>12.5g} {q1:>12.5g} "
                  f"{q3:>12.5g} {sp:>7.3f} {b:>6}  {verdict}")
        ok = all(r["correct"] for r in results)
        print(f"{w:<14} failed {failed_share(results):.4f} of ops; all correct: {ok}")


def two_sets(base, new, metrics):
    print(f"{'workload':<14} {'metric':<16} {'base median [q1, q3]':>36} "
          f"{'new median [q1, q3]':>36} {'won':>5}  verdict")
    for w in sorted(set(base) & set(new)):
        for m in metrics:
            a, b = values(base[w], m["name"]), values(new[w], m["name"])
            if not a or not b:
                continue
            lower = m["better"] == "lower"
            pairs = list(zip(a, b))
            wins = sum(1 for x, y in pairs if (y < x if lower else y > x))
            qa, qb = quartiles(a), quartiles(b)
            worse = (qb[1] - qa[1]) / qa[1] * (1 if lower else -1)
            gap = abs(qb[1] - qa[1])
            if spread(a) > m["bound"] or spread(b) > m["bound"]:
                verdict = "unresolved"
            elif wins >= 0.9 * len(pairs) and gap > qa[2] - qa[0]:
                verdict = "better"
            elif worse > m["bound"]:
                verdict = "worse"
            else:
                verdict = "within bound"
            fa = f"{qa[1]:.4g} [{qa[0]:.4g}, {qa[2]:.4g}]"
            fb = f"{qb[1]:.4g} [{qb[0]:.4g}, {qb[2]:.4g}]"
            print(f"{w:<14} {m['name']:<16} {fa:>36} {fb:>36} "
                  f"{wins:>2}/{len(pairs):<2}  {verdict}")
        print(f"{w:<14} failed share: base {failed_share(base[w]):.4f}, "
              f"new {failed_share(new[w]):.4f}")


def main(argv):
    if len(argv) not in (2, 3):
        raise SystemExit(__doc__)
    with open(BENCHMARK) as fh:
        metrics = json.load(fh)["end_to_end"]
    if len(argv) == 2:
        one_set(load(argv[1]), metrics)
    else:
        two_sets(load(argv[1]), load(argv[2]), metrics)


if __name__ == "__main__":
    main(sys.argv)
