"""Open-loop replay generator: one process, one thread.

Copies replay files into the live source directory on a fixed schedule
that does not slow when the system under test slows. File ``i`` is due at
``start + i / rate``; each copy goes to a hidden name and is renamed into
place, so the file source never lists a half-written file. The due and
actual send times of every file are kept in memory and written as one JSON
document to ``--log`` when the schedule ends.

    python3 perfbench/feeder.py --src DIR --dst DIR --rate R --start EPOCH_S \
        --log PATH FILE...
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", required=True)
    ap.add_argument("--dst", required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--start", type=float, required=True)
    ap.add_argument("--log", required=True)
    ap.add_argument("files", nargs="+")
    a = ap.parse_args()
    sent = []
    for i, name in enumerate(a.files):
        due = a.start + i / a.rate
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        tmp = os.path.join(a.dst, f".tmp_{name}")
        shutil.copyfile(os.path.join(a.src, name), tmp)
        os.rename(tmp, os.path.join(a.dst, name))
        sent.append({"file": name, "due": due, "sent": time.time()})
    with open(a.log, "w") as fh:
        json.dump(sent, fh)


if __name__ == "__main__":
    main()
