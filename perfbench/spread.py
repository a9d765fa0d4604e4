#!/usr/bin/env python3
"""Median and spread of each metric over a set of benchmark runs.

Each argument is a file with one run's result JSON per line (the last
stdout line of run.py; other lines are skipped). For every metric it prints
the median and the distance between the first and third quartile as a
share of the median, the spread BENCHMARK.json's bounds are judged against.

    python3 perfbench/spread.py runs_parent.txt runs_change.txt
"""
import json
import sys

import metrics


def results(path):
    with open(path) as f:
        for line in f:
            i = line.find('{"correct"')
            if i >= 0:
                yield json.loads(line[i:])


def main():
    for path in sys.argv[1:]:
        runs = list(results(path))
        print(f"{path}: {len(runs)} runs, all correct: {all(r['correct'] for r in runs)}, "
              f"failed {sum(r['failed'] for r in runs)} of {sum(r['attempted'] for r in runs)}")
        for name in runs[0]["metrics"]:
            values = [r["metrics"][name]["value"] for r in runs]
            _, med, _ = metrics.quartiles(values)
            print(f"  {name:32s} median {med:12.6g} {runs[0]['metrics'][name]['unit']:6s}"
                  f" spread {metrics.iqr_share(values):.3f}")


if __name__ == "__main__":
    main()
