#!/usr/bin/env python3
"""Summarize perfbench results: per workload, the median and quartile
spread of every metric over the runs recorded in results files.

    python3 perfbench/stats.py [RESULTS.jsonl ...]

With no argument it reads .bench_build/perfbench/results/results.jsonl
(run.py appends one record per run). Given two files, it prints both
sides and the change of each median, and refuses to compare them when
their host shapes differ: results from hosts with other core counts,
memory, heap, Spark or JDK versions are never compared.
"""

import json
import os
import statistics
import sys

DEFAULT = os.path.join(".bench_build", "perfbench", "results", "results.jsonl")
SHAPE = ("nproc", "default_parallelism", "mem_total_mb", "driver_heap_mb",
         "spark_version", "jdk_version")


def load(path):
    """{(workload, trace): (shape, {metric: [values]}, failed runs)}"""
    groups = {}
    with open(path) as fh:
        for line in fh:
            rec = json.loads(line)
            st, res = rec["stamp"], rec["result"]
            shape = tuple(st[k] for k in SHAPE)
            key = (st["workload"], st["trace"])
            prev = groups.setdefault(key, (shape, {}, []))
            if prev[0] != shape:
                sys.exit("%s: %s runs from two host shapes: %s vs %s" % (path, key, prev[0], shape))
            if not res["correct"] or res["failed"]:
                prev[2].append(st["seed"])
            for name, m in res["metrics"].items():
                if m["value"] is not None:
                    prev[1].setdefault(name, []).append(m["value"])
    return groups


def summary(values):
    med = statistics.median(values)
    if len(values) < 2:
        return med, float("nan")
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else float("nan")


def main():
    paths = sys.argv[1:] or [DEFAULT]
    if len(paths) > 2:
        sys.exit("give one or two results files")
    sides = [load(p) for p in paths]
    for key in sorted(set().union(*sides)):
        if any(key not in s for s in sides):
            continue
        shapes = {s[key][0] for s in sides}
        if len(shapes) > 1:
            print("%s trace=%s: host shapes differ, not compared: %s" % (key[0], key[1], shapes))
            continue
        runs = [len(next(iter(s[key][1].values()), [])) for s in sides]
        print("%s trace=%s  runs=%s  shape=%s" % (key[0], key[1], runs, dict(zip(SHAPE, shapes.pop()))))
        for s in sides:
            if s[key][2]:
                print("  FAILED runs, seeds %s" % s[key][2])
        for name in sorted(sides[0][key][1]):
            cols = [summary(s[key][1].get(name, [float("nan")])) for s in sides]
            line = "  %-38s" % name + "".join("  median %12.4f  iqr/median %6.3f" % c for c in cols)
            if len(cols) == 2 and cols[0][0]:
                line += "  change %+7.2f%%" % (100 * (cols[1][0] / cols[0][0] - 1))
            print(line)


if __name__ == "__main__":
    main()
