"""Measure the streaming ingestor's capacity beside the read client.

    python3 perfbench/capacity.py --offered 80000 --seconds 30 --seed 1

Runs the ``stream_mixed`` workload with the file mover offering
``--offered`` points per second, more than the ingestor can commit, so
its micro-batches fill up to ``maxFilesPerTrigger`` files.  It prints the
points per second a full micro-batch commits, with the read client
running beside it.  That figure is ``workloads.STREAM_CAPACITY_PTS_PER_S``;
``stream_mixed`` offers ``workloads.STREAM_LOAD`` of it.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import run  # noqa: E402
import workloads  # noqa: E402


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--offered", type=float, required=True, help="points per second")
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)

    workloads.STREAM_LOAD = args.offered / workloads.STREAM_CAPACITY_PTS_PER_S
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        code = run.main(["--workload", "stream_mixed", "--seed", str(args.seed),
                         "--seconds", str(args.seconds), "--trace", "0"])
    if code:
        return code
    lines = dict(line.split(" = ", 1) for line in out.getvalue().splitlines() if " = " in line)
    for name in ("offered_pts_per_s", "full_batches", "full_batch_pts_per_s",
                 "micro_batch_p50_s", "ingest_lag_p50_s", "read_p50_s"):
        print(f"{name} = {lines[name]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
