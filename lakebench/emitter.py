"""Stream load generator, run as its own process.

Open loop (the measured load): publishes pre-written JSON-lines files into
the stream source directory on a fixed schedule: file ``k`` is due at
``start + (k + 1) * period`` and is moved in (an atomic rename) as soon as
that time comes, whether or not the system has kept up.

Closed loop (the warm-up): given a streaming checkpoint's ``commits``
directory and a group size, publishes the files a group at a time, each
group once the micro-batch of the one before has been committed.

Either way it writes a JSON log of due and actual publish times.

Usage::

    python3 emitter.py <staging_dir> <source_dir> <start_epoch_s> <period_s> <log_path> \
        [<commits_dir> <files_per_batch>]
"""

from __future__ import annotations

import json
import os
import sys
import time


def committed_batches(commits_dir: str) -> int:
    """Micro-batches committed so far under a checkpoint's ``commits``."""
    try:
        return sum(1 for n in os.listdir(commits_dir) if n.isdigit())
    except FileNotFoundError:
        return 0


def main(staging: str, source: str, start: float, period: float, log_path: str,
         commits_dir: str | None = None, per_batch: int = 0) -> None:
    names = sorted(os.listdir(staging))
    log = []
    for k, name in enumerate(names):
        if commits_dir is None:
            due = start + (k + 1) * period
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
        else:
            due = time.time()
        os.rename(os.path.join(staging, name), os.path.join(source, name))
        log.append({"file": name, "due": due, "published": time.time()})
        if commits_dir is not None and (k + 1) % per_batch == 0:
            while committed_batches(commits_dir) < (k + 1) // per_batch:
                time.sleep(0.005)
    with open(log_path, "w") as fh:
        json.dump(log, fh)


if __name__ == "__main__":
    staging_dir, source_dir, start_s, period_s, log_file = sys.argv[1:6]
    closed = (sys.argv[6], int(sys.argv[7])) if len(sys.argv) > 7 else (None, 0)
    main(staging_dir, source_dir, float(start_s), float(period_s), log_file, *closed)
