"""Which per-query counters repeat exactly across traced runs.

    python3 perfbench/repeats.py perfbench/.out/trace-<workload>-seed*.json

Reads the trace files that ``run.py --trace 1`` writes and, for each
counter, prints whether every query read the same value in every pass of
every file.  Only a counter that repeats exactly may back a claim that rests
on a count.
"""

from __future__ import annotations

import json
import sys
from collections import defaultdict

COUNTERS = ("exec.jobs", "exec.stages", "exec.tasks", "queries.build_jobs",
            "plans.exchanges", "exec.shuffle_write_bytes",
            "exec.shuffle_read_bytes", "pyworker.bytes_sent",
            "pyworker.bytes_returned", "streaming.batches",
            "streaming.input_rows", "cache.persisted_after",
            "streaming.tmp_dirs_left")


def main(paths: list[str]) -> None:
    seen: dict[str, dict[str, set]] = defaultdict(lambda: defaultdict(set))
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            for rec in json.load(fh)["queries"]:
                for c in COUNTERS:
                    seen[c][rec["query"]].add(rec[c])
    for c in COUNTERS:
        varying = {q: sorted(v) for q, v in seen[c].items() if len(v) > 1}
        print(f"{c:26s} {'exact' if not varying else 'varies'}"
              + "".join(f"\n    {q}: {v}" for q, v in sorted(varying.items())))


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    main(sys.argv[1:])
