"""Open-loop load generator for ``wordcount_stream``.

Runs as its own process, apart from the system under test, and writes
one text file every ``--interval-ms`` on a fixed schedule that never
waits for the stream: file ``i`` is due at ``T0 + i * interval``. Each
file holds ``--lines - 1`` Zipf text lines plus one line with a unique
marker token ``mk{index:06d}``, so the benchmark's sink can tell when
the file's effect on the counts came back.

Files are written under a staging directory and renamed into the
watched directory, so the file source never lists a half-written file.

Protocol on stdout: one line ``{"t0": <monotonic seconds>}`` once every
file's content is generated and the schedule is fixed, then at the end
one line ``{"lag_ms": [...]}`` with how late each file landed.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from inputs import ZipfText, write_lines

START_DELAY_S = 0.2


def marker(index: int) -> str:
    return f"mk{index:06d}"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True, help="directory the stream watches")
    ap.add_argument("--stage", required=True, help="staging dir on the same filesystem")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--files", type=int, required=True)
    ap.add_argument("--lines", type=int, required=True)
    ap.add_argument("--interval-ms", type=float, required=True)
    args = ap.parse_args(argv)

    text = ZipfText(args.seed)
    contents = [text.lines(args.lines - 1) + [marker(i)] for i in range(args.files)]
    os.makedirs(args.stage, exist_ok=True)
    t0 = time.monotonic() + START_DELAY_S
    print(json.dumps({"t0": t0}), flush=True)

    lag_ms = []
    for i, lines in enumerate(contents):
        due = t0 + i * args.interval_ms / 1000.0
        wait = due - time.monotonic()
        if wait > 0:
            time.sleep(wait)
        name = f"part-{i:06d}.txt"
        staged = os.path.join(args.stage, name)
        write_lines(staged, lines)
        os.rename(staged, os.path.join(args.out, name))
        lag_ms.append(round((time.monotonic() - due) * 1000.0, 3))
    print(json.dumps({"lag_ms": lag_ms}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
