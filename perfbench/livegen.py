"""Open-loop SSE generator: appends the live phase's lines to a capture
file on a fixed schedule, on one thread, in its own process.

    python3 livegen.py --path CAPTURE --seed N --rate R --seconds S \
        --id-base B --t0 EPOCH_S --summary OUT.json

Line k is due at ``t0 + due_s[k]`` (see ``datagen.live_schedule``). Each
tick appends every line whose due time has passed, stamped with its
creation time as ``ts``, and flushes. How late each line was written
(write time minus due time) is summarized to ``--summary`` so the
benchmark can report how late the generator ran.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402
from stats import percentile  # noqa: E402

TICK_S = 0.005


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--path", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--id-base", type=int, required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--summary", required=True)
    a = ap.parse_args()

    rows = datagen.live_schedule(a.seed, a.rate, a.seconds, a.id_base)
    late_ms: list[float] = []
    i = 0
    with open(a.path, "a", encoding="utf-8") as f:
        while i < len(rows):
            now = time.time()
            j = i
            chunk = []
            while j < len(rows) and a.t0 + rows[j][0] <= now:
                due, eid, created, user, etype, value, props = rows[j]
                ts = datagen._ts_text(int((a.t0 + created) * 1e6))
                chunk.append(datagen.event_line(eid, ts, user, etype, value, props))
                j += 1
            if chunk:
                f.writelines(chunk)
                f.flush()
                written = time.time()
                late_ms.extend((written - a.t0 - rows[k][0]) * 1000.0 for k in range(i, j))
                i = j
            if i < len(rows):
                time.sleep(max(0.0, min(TICK_S, a.t0 + rows[i][0] - time.time())))
    with open(a.summary, "w") as f:
        json.dump(
            {"lines": len(rows), "late_ms_p99": percentile(late_ms, 99)},
            f,
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
