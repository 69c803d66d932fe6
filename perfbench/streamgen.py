"""Open-loop event generator for ``stream_scoring``, run as its own process:

    python3 -m perfbench.streamgen --out DIR --staging DIR --seed N --t0 EPOCH \
        --tick S --files N --events-per-file N --users N --log FILE

File ``k`` is due at ``t0 + k * tick``.  The generator writes it into the
staging directory and moves it into the watched directory by atomic rename
at (or, when it runs late, after) that time, on a schedule that never slows
down for the system under test.  Each line of ``--log`` is the file name,
its due time and the time it was actually published.
"""

from __future__ import annotations

import argparse
import os
import time

from perfbench.gen import stream_event_lines, stream_file_name as file_name


def main() -> None:
    ap = argparse.ArgumentParser()
    for flag in ("--out", "--staging", "--log"):
        ap.add_argument(flag, required=True)
    for flag in ("--seed", "--files", "--events-per-file", "--users", "--span-us"):
        ap.add_argument(flag, type=int, required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--tick", type=float, required=True)
    a = ap.parse_args()
    with open(a.log, "w") as log:
        for k in range(a.files):
            due = a.t0 + k * a.tick
            lines = stream_event_lines(a.seed, k, a.events_per_file, a.span_us, a.users,
                                       created_at=due)
            staged = os.path.join(a.staging, file_name(k))
            with open(staged, "w") as f:
                f.write("\n".join(lines) + "\n")
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            os.rename(staged, os.path.join(a.out, file_name(k)))
            log.write(f"{file_name(k)} {due:.6f} {time.time():.6f}\n")


if __name__ == "__main__":
    main()
