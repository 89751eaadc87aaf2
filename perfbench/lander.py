"""Open-loop file lander, run as its own process.

Usage: ``python3 lander.py SPEC.json``.  The spec names a staging
directory, a landing directory on the same file system, the files in
landing order, a fixed rate (files/s) and a start time (epoch seconds).
File ``i`` is due at ``start + i / rate`` whether or not the stream has
kept up; it is stamped with the current time and moved into place with
an atomic rename.  The due and landed times of every file are written to
the spec's ``log`` path when the last file has landed.
"""

from __future__ import annotations

import json
import os
import sys
import time


def land(spec: dict) -> list[dict]:
    out = []
    for i, name in enumerate(spec["files"]):
        due = spec["start"] + i / spec["rate"]
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        src = os.path.join(spec["src"], name)
        now = time.time_ns()
        os.utime(src, ns=(now, now))
        os.replace(src, os.path.join(spec["dst"], name))
        out.append({"file": name, "due": due, "landed": time.time()})
    return out


def main(argv: list[str]) -> int:
    with open(argv[1]) as f:
        spec = json.load(f)
    log = land(spec)
    with open(spec["log"] + ".tmp", "w") as f:
        json.dump(log, f)
    os.replace(spec["log"] + ".tmp", spec["log"])
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
