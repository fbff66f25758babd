#!/usr/bin/env python3
"""Count Spark's code-generation compiles in a log written through
tools/log4j2-codegen.properties (one line per compile:
`<epoch ms> [<thread>] Code generated in <ms> ms`).

Prints the compile count and compile milliseconds per thread kind
(executor tasks, stream execution, other: the driver's own threads), in
total and per 2 s bucket counted from the log's first line:

    python3 tools/codegen_log.py /tmp/cg.log
"""

import argparse
import re
import sys
from collections import defaultdict

LINE = re.compile(r"^(\d+) \[(.*)\] Code generated in ([0-9.]+) ms")
KINDS = ("executor", "stream execution", "other")
BUCKET_MS = 2000


def kind(thread):
    if thread.startswith("Executor task launch worker"):
        return "executor"
    if thread.startswith("stream execution thread"):
        return "stream execution"
    return "other"


def parse(lines):
    """(epoch ms, thread kind, compile ms) per compile line; other lines skipped."""
    for ln in lines:
        m = LINE.match(ln)
        if m:
            yield int(m.group(1)), kind(m.group(2)), float(m.group(3))


def row(label, cells):
    return f"{label:>8}" + "".join(f"{n:>20}{ms:>10.1f}" for n, ms in cells)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("log")
    args = ap.parse_args()
    with open(args.log, errors="replace") as fh:
        compiles = list(parse(fh))
    if not compiles:
        sys.exit(f"no 'Code generated in' lines in {args.log}")
    t0 = compiles[0][0]
    total = {k: [0, 0.0] for k in KINDS}
    buckets = defaultdict(lambda: {k: [0, 0.0] for k in KINDS})
    for t, k, ms in compiles:
        for cell in (total[k], buckets[(t - t0) // BUCKET_MS][k]):
            cell[0] += 1
            cell[1] += ms
    print(f"{'':>8}" + "".join(f"{k + ' n':>20}{'ms':>10}" for k in KINDS))
    print(row("total", (total[k] for k in KINDS)))
    for b in sorted(buckets):
        print(row(f"{b * BUCKET_MS // 1000}s", (buckets[b][k] for k in KINDS)))


if __name__ == "__main__":
    main()
