"""One cold start of the program in a fresh process, for ``setup_s``.

    python3 -m perfbench.coldstart <work-dir>

Started by ``harness.child_cold_starts`` with the run's environment.  The
``perfbench`` package import above ``main`` is the one ``run.py`` makes
before its own cold start, so both time the same thing.  Prints the
process's age once the program is set up, then waits for standard input to
close and shuts the session and its JVM down.
"""

from __future__ import annotations

import sys

from perfbench import harness


def main(work: str) -> int:
    session = harness.Session(work, event_log=None)
    try:
        age = harness.cold_start(session, harness.Tracer(run_id="cold-start"))
        print(f"{harness.COLD_START_TAG} {age!r}", flush=True)
        sys.stdin.read()
    finally:
        session.close()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1]))
