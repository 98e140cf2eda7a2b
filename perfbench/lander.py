"""Open-loop load generator: lands pre-written folders on a fixed schedule.

    python3 lander.py <staging> <root> <start_epoch> <interval_s> <first> <count>

Folder `first + k` is due at `start_epoch + k * interval_s`. Each landing is
an atomic rename followed by a changelog stamp; one JSON line per folder
(index, due, landed) goes to stdout, so lateness is recorded, not hidden.
Single-threaded by design: a late landing delays the later ones, as a
real exporter's backlog would.
"""
import json
import sys
import time

import gen


def main():
    staging, root = sys.argv[1], sys.argv[2]
    start, interval = float(sys.argv[3]), float(sys.argv[4])
    first, count = int(sys.argv[5]), int(sys.argv[6])
    for k in range(count):
        due = start + k * interval
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        gen.land(staging, root, first + k)
        print(json.dumps({"index": first + k, "due": due, "landed": time.time()}), flush=True)


if __name__ == "__main__":
    main()
