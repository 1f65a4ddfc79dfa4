"""Open-loop load generator: one process, one thread, no Spark and no
program code.

Before the clock starts it renders every tem_stream file of the schedule
into ``<root>/staging`` (same filesystem as the landing dir), places the
pre-start file in the landing dir (``inputs.landing_dir``), writes
``<root>/plan.json`` and the expected outputs, and prints ``READY``. The
set-up file of tem_stream stays in staging; the workload's set-up cycles
read it. The generator then blocks on the FIFO ``<root>/go`` until the
workload writes the go time (epoch seconds), and lands each file by
atomic rename at ``go + due``. The schedule never
waits for the consumer. A file's modification time is set to its due
time before the rename. At the end it writes ``<root>/landed.json``.

Run: python3 gen.py --seed 1 --seconds 10 --root DIR
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import inputs  # noqa: E402


def _write_json(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def prepare(seed: int, seconds: float, root: str) -> list[dict]:
    staging, landing = os.path.join(root, "staging"), inputs.landing_dir(root)
    os.makedirs(staging)
    os.makedirs(landing)
    p = inputs.traffic()["tem_stream"]
    files = inputs.tem_schedule(p, seconds)
    rows = inputs.tem_rows(seed, p, sum(f["rows"] for f in files))
    inputs.render_tem_files(rows, files, staging)
    landed = rows.slice(files[0]["rows"])  # the set-up file never lands
    pq.write_table(inputs.tem_expected(landed), os.path.join(root, "expected.parquet"))
    for f in files:
        if f["phase"] == "prestart":
            os.rename(os.path.join(staging, f["name"]), os.path.join(landing, f["name"]))
    _write_json(os.path.join(root, "plan.json"),
                {"files": files, "malformed": int(sum(landed["malformed"].to_pylist()))})
    return files


def land(files: list[dict], root: str, landing: str, go: float) -> dict:
    staging = os.path.join(root, "staging")
    landed = []
    for f in files:
        if f["due"] is None:
            continue
        due = go + f["due"]
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        src = os.path.join(staging, f["name"])
        os.utime(src, (due, due))
        os.rename(src, os.path.join(landing, f["name"]))
        landed.append([f["name"], due, time.time()])
    late = [(t - d) * 1000.0 for _, d, t in landed]
    return {
        "landed": landed,
        "late_ms_max": max(late, default=0.0),
        "rows_offered": sum(f["rows"] for f in files if f["due"] is not None),
        "files_landed": len(landed),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--root", required=True)
    a = ap.parse_args()
    files = prepare(a.seed, a.seconds, a.root)
    print("READY", flush=True)
    with open(os.path.join(a.root, "go")) as fifo:
        msg = fifo.read().strip()
    if not msg:
        return 1  # the workload ended before the clock started
    report = land(files, a.root, inputs.landing_dir(a.root), float(msg))
    _write_json(os.path.join(a.root, "landed.json"), report)
    return 0


if __name__ == "__main__":
    sys.exit(main())
