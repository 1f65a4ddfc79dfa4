"""Repo benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload tem_stream --seed 1 --seconds 6 --trace 0

Run from the repository root. The workloads of BENCHMARK.json (see
``traffic.json`` for the traffic parameters and their reasons):

- ``tem_stream``: open loop. Parquet Kafka envelopes (key, value = the
  tem row as JSON) land in a directory read by Spark's file source, at a
  nominal rate for ``--seconds`` after a warm-up stretch, then in a burst
  past capacity. Decode + `Tem(Avg)` is persisted and written to the
  parquet and the pipe-delimited CSV sink in one foreachBatch.
- ``query_mix``: closed loop, one client. A warm-up pass whose results
  are checked against DuckDB oracles, then two timed passes (noop sink,
  order shuffled per pass) over 17 registry queries on seeded tables.

End-to-end metrics (``--trace 0``), measured with tracing off:
``setup_s`` (from the spawn of the workload process until get_spark has
returned and the warm-up has finished) and ``throughput_per_s``
(tem_stream: the sustained rate in rows per second; query_mix: queries
per second). Also measured and printed, but not in the JSON:
``latency_p50_ms`` and ``latency_tail_ms`` (tem_stream: per landed file
at the nominal rate, from its due time to the return of the
foreachBatch that wrote it; query_mix: per query; the tail is the
highest percentile with at least ten samples beyond it). Failed
operations and failed output checks count in ``failed``.

``--trace 1`` runs the workload traced (spans around the benchmark's
calls into the program, a streaming progress listener, Spark's event
log) and, for tem_stream, a single-core drain of the same files; it
prints the per-layer metrics. ``trace.overhead_ratio`` compares warm
set-up cycles that do the same work with and without tracing. A
per-layer metric of a layer the workload does not use reads 0; one of a
layer it uses that was not measured counts as a failure.

Everything the run writes stays under ``.perfbench_tmp/`` in the working
directory and is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("tem_stream", "query_mix")
#: Seconds after start by which every child must have ended.
DEADLINE_S = 160
#: Time a single-core drain needs; a traced run with less left skips it.
SINGLE_CORE_S = 60
#: (metric, unit) reported by every workload with --trace 0.
E2E = [("setup_s", "s"), ("throughput_per_s", "1/s")]
#: Measured and printed with them, but not bound: their run-to-run spread
#: on a 4-core host whose speed drifts exceeded any allowed bound.
UNBOUND = [("latency_p50_ms", "ms"), ("latency_tail_ms", "ms")]
#: Per-workload names of the end-to-end metrics on the human-readable lines.
DISPLAY_NAMES = {
    "tem_stream": {"throughput_per_s": ("tem_sustained_rows_per_s", "rows/s"),
                   "latency_p50_ms": ("tem_latency_p50_ms", "ms"),
                   "latency_tail_ms": ("tem_latency_tail_ms", "ms")},
    "query_mix": {"throughput_per_s": ("query_mix_queries_per_s", "queries/s"),
                  "latency_p50_ms": ("query_latency_p50_ms", "ms"),
                  "latency_tail_ms": ("query_latency_tail_ms", "ms")},
}
#: Per-layer metrics (names or name prefixes) each workload measures.
OWNED = {
    "tem_stream": ("session.", "sources.latest_offset_ms_p50", "sources.get_batch_ms_p50",
                   "sources.backlog_", "codec.", "streaming.", "sinks.", "spark.", "gen.",
                   "trace."),
    "query_mix": ("session.", "sources.load_table_ms", "sources.scan_", "queries.", "joins.",
                  "similarity.", "text.", "dedup.", "spark.", "trace."),
}


def program_present(repo: str) -> bool:
    return (os.path.isfile(os.path.join(repo, "amazonmsk_emr_tem_data_spark", "session.py"))
            and os.path.isfile(os.path.join(repo, "scripts", "verify_driver.py")))


def _pgid_alive(pgid: int) -> bool:
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def _stop_group(proc: subprocess.Popen) -> None:
    """Stop a child started in its own session and everything it started
    (the JVM), and wait until all of them have ended."""
    if proc.poll() is None:
        proc.terminate()
        try:
            proc.wait(5)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    for sig, wait in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        if not _pgid_alive(proc.pid):
            return
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        end = time.time() + wait
        while time.time() < end and _pgid_alive(proc.pid):
            time.sleep(0.1)


def run_child(repo: str, root: str, workload: str, seed: int, seconds: float,
              trace: int, cpus: int, deadline: float, single_core: bool = False,
              landing_from: str | None = None) -> dict:
    """One fresh workload process (and, for a stream, its generator)."""
    os.makedirs(os.path.join(root, "tmp"))
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(root, "spark-local"),
               TMPDIR=os.path.join(root, "tmp"), PYTHONPATH=repo,
               PYTHONUNBUFFERED="1")
    gen = None
    procs = []
    try:
        if workload == "tem_stream" and not single_core:
            os.mkfifo(os.path.join(root, "go"))
            gen = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "gen.py"),
                 "--seed", str(seed), "--seconds", str(seconds), "--root", root],
                stdout=subprocess.PIPE, stderr=open(os.path.join(root, "gen.log"), "w"),
                text=True, start_new_session=True, env=env)
            procs.append(gen)
            if gen.stdout.readline().strip() != "READY":
                raise RuntimeError(f"generator failed, see {root}/gen.log")
        elif workload == "query_mix":
            import inputs

            os.makedirs(os.path.join(root, "sf"))
            inputs.sf_tables(seed, inputs.traffic()["query_mix"]["scale"],
                             os.path.join(root, "sf"))
        t_spawn = time.time()
        cmd = [sys.executable, os.path.join(HERE, "workload.py"), "--workload", workload,
               "--seed", str(seed), "--seconds", str(seconds), "--root", root,
               "--trace", str(trace), "--cpus", str(cpus), "--t-spawn", repr(t_spawn)]
        if single_core:
            cmd += ["--single-core", landing_from]
        with open(os.path.join(root, "workload.log"), "w") as log:
            child = subprocess.Popen(cmd, cwd=root, env=env, stdout=log, stderr=log,
                                     start_new_session=True)
            procs.append(child)
            try:
                child.wait(max(1.0, deadline - time.time()))
            except subprocess.TimeoutExpired:
                raise RuntimeError(f"{workload} did not finish within {DEADLINE_S} s")
        if gen is not None and gen.poll() is None:
            # The child never sent the go time: release the generator.
            fd = os.open(os.path.join(root, "go"), os.O_WRONLY | os.O_NONBLOCK)
            os.close(fd)
            gen.wait(10)
        with open(os.path.join(root, "result.json")) as f:
            return json.load(f)
    finally:
        for p in procs:
            _stop_group(p)


def tail_log(root: str) -> str:
    out = []
    for name in ("gen.log", "workload.log"):
        path = os.path.join(root, name)
        if os.path.exists(path):
            with open(path, errors="replace") as f:
                out.append(f"--- {name}\n" + "".join(f.readlines()[-30:]))
    return "\n".join(out)


def _exit_on_term(signum, frame):
    raise SystemExit(128 + signum)  # unwind, so the finally blocks stop the children


def main() -> int:
    signal.signal(signal.SIGTERM, _exit_on_term)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.time() + DEADLINE_S
    repo = os.getcwd()
    if not program_present(repo):
        print("perfbench: run from the repository root; the program "
              "(amazonmsk_emr_tem_data_spark/, scripts/verify_driver.py) is missing",
              file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    import pyspark

    print(f"nproc={cpus} loadavg={' '.join(f'{x:.2f}' for x in os.getloadavg())} "
          f"pyspark={pyspark.__version__}")
    tmp = os.path.join(repo, ".perfbench_tmp", f"{a.workload}-{os.getpid()}")
    os.makedirs(tmp)
    try:
        args = (a.workload, a.seed, a.seconds)
        name = "traced" if a.trace else "untraced"
        base = run_child(repo, os.path.join(tmp, name), *args, a.trace, cpus, deadline)
        runs = [(name, base, os.path.join(tmp, name))]
        if (a.trace and a.workload == "tem_stream" and not base["failures"]
                and deadline - time.time() > SINGLE_CORE_S):
            single = run_child(repo, os.path.join(tmp, "single"), *args, 0, 1, deadline,
                               single_core=True, landing_from=os.path.join(tmp, name))
            runs.append(("single_core", single, os.path.join(tmp, "single")))
        failures = [f"{n}: {m}" for n, r, _ in runs for m in r["failures"]]
        if a.trace:
            layer = {k: v for _, res, _ in runs for k, v in res["layer"].items()}
            metrics, missing = per_layer_metrics(layer, a.workload)
            failures += [f"per-layer metric {m} was not measured" for m in missing]
        else:
            metrics = {m: {"value": base["e2e"][m], "unit": u} for m, u in E2E}
        for n, r, root in runs:
            if r["failures"]:
                print(tail_log(root), file=sys.stderr)
        info = base["info"]
        print(f"java={info.get('java_version')} spark={info.get('spark_version')} "
              f"seed={a.seed} seconds={a.seconds}")
        for m, unit in E2E + UNBOUND:
            if m in base["e2e"]:
                label, u = DISPLAY_NAMES[a.workload].get(m, (m, unit))
                print(f"{label} = {base['e2e'][m]:.6g} {u}")
        marks = [(k, v) for k, v in info.items() if k.startswith("t_") or k == "go"]
        print("timeline_s " + " ".join(f"{k}={v - info['t_spawn']:.1f}" for k, v in
                                        sorted(marks, key=lambda kv: kv[1])))
        for r in info.get("rungs", []):
            print(f"  rung {r['phase']}: offered {r['offered']} /s, backlog slope "
                  f"{r['slope']:.1f} /s, grows={r['grows']}, drain {r['drain']}")
        if "batches" in info:
            print("batches (id, start ms after go, handler ms): "
                  + " ".join(f"{b}:{s}:{d}" for b, s, d in info["batches"]))
        if "warning" in info:
            print(f"WARNING {info['warning']}")
        if "latency_tail" in info:
            lt = info["latency_tail"]
            print(f"  tail percentile p{lt['percentile']:g} over {lt['samples']} samples")
        if "query_mix_pass_s" in info:
            print(f"query_mix_pass_s = {info['query_mix_pass_s']:.6g} s "
                  f"(median of {info['passes']} passes)")
        attempted = sum(r["attempted"] for _, r, _ in runs)
        print(f"failed_ops_ratio = {len(failures) / max(1, attempted):.6g} ratio "
              f"({len(failures)} of {attempted})")
        for msg in failures:
            print(f"FAILED {msg}")
        if a.trace:
            print("span self time (s): " + " ".join(
                f"{k}={v:.3f}" for k, v in sorted(info.get("self_time_s", {}).items())))
            for k in sorted(set(layer) - set(metrics)):
                print(f"  {k} = {layer[k]:.6g}")
            for grp, g in sorted(info.get("spark_by_group", {}).items()):
                print(f"spark job group {grp}: " + " ".join(f"{k}={v}" for k, v in g.items()))
        for m, v in metrics.items():
            print(f"  {m} = {v['value']:.6g} {v['unit']}")
        print(json.dumps({"correct": not failures, "attempted": max(1, attempted),
                          "failed": len(failures), "metrics": metrics}))
        return 0
    except Exception as e:  # noqa: BLE001 - report the failed run on stderr, print no result
        print(f"perfbench: {type(e).__name__}: {e}", file=sys.stderr)
        for sub in sorted(os.listdir(tmp)):
            if os.path.isdir(os.path.join(tmp, sub)):
                print(tail_log(os.path.join(tmp, sub)), file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.join(repo, ".perfbench_tmp"))
        except OSError:
            pass


def per_layer_metrics(layer: dict, workload: str) -> tuple[dict, list[str]]:
    """Every per-layer metric of BENCHMARK.json, 0 where ``workload`` does
    not use the layer, and the names of the metrics it owns but did not
    measure."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer"]
    owned = [m["name"] for m in spec if m["name"].startswith(OWNED[workload])]
    missing = [m for m in owned if m not in layer]
    return ({m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
             for m in spec}, missing)


if __name__ == "__main__":
    sys.exit(main())
