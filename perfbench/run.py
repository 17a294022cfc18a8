#!/usr/bin/env python3
"""Extraction-job benchmark.

    python3 perfbench/run.py --workload job_mix --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source (`perfbench/build.py`),
runs one workload in a single driver JVM at `local[<cores>]`
(`perfbench/scala/JobBench.scala`), derives the metrics
(`perfbench/derive.py`) and prints two JSON lines: a host and provenance
block, then the result `{"correct", "attempted", "failed", "metrics"}`.
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones
and writes the spans and listener records to
`.bench_work/traces/<workload>-seed<seed>.json`.

Exits 1 when a turn's output is wrong or missing (turns_correct_frac below
1.0) and 2 when the build or the run fails; nothing is printed to stdout
then. See perfbench/README.md for the workloads and metrics.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import derive  # noqa: E402

WORKLOADS = ("job_mix", "markup_heavy", "chat_resume")
HEAP = "1g"
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def git_commit(root):
    if not (root / ".git").exists():
        return "unknown"
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, text=True,
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except OSError:
        return "unknown"


def fail(msg, code=2):
    print(msg, file=sys.stderr)
    return code


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    root = build.ROOT
    try:
        classpath, source_digest = build.build(root)
    except build.BuildError as e:
        return fail(f"perfbench: build failed: {e}")

    cores = len(os.sched_getaffinity(0))
    bench_dir = root / ".bench_work"
    work = bench_dir / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    raw_path = work / "raw.json"
    cmd = (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] +
           [f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", classpath,
            "perfbench.JobBench", a.workload, str(a.seed), str(a.seconds),
            str(a.trace), str(cores), str(work), str(raw_path)])
    t0 = time.monotonic()
    try:
        try:
            done = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE,
                                  stderr=subprocess.PIPE, text=True,
                                  timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            return fail(f"perfbench: run exceeded {RUN_TIMEOUT_S} s and was killed")
        if done.returncode != 0 or not raw_path.is_file():
            lines = done.stderr.splitlines()
            causes = [l for l in lines if "Exception" in l or "Error" in l][:5]
            tail = "\n".join(causes + ["..."] + lines[-20:])
            return fail(f"perfbench: run failed (exit {done.returncode}):\n{tail}")
        raw = json.loads(raw_path.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    check = raw["check"]
    by_path = {}
    for path, _, n in check["path_status"]:
        by_path[path] = by_path.get(path, 0) + n
    host = dict(raw["host"], workload=a.workload, seed=a.seed, trace=a.trace,
                git_commit=git_commit(root), source_digest=source_digest,
                turns=raw["turns"], turns_by_sniffed_path=by_path,
                run_wall_s=time.monotonic() - t0, phases_s=raw["phases"])

    for msg in raw["failures"]:
        print(f"perfbench: operation failed: {msg}", file=sys.stderr)
    attempted, failed = derive.op_counts(raw)
    chosen = derive.per_layer(raw) if a.trace else derive.end_to_end(raw)
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()}
    correct_frac = derive.correct_frac(check)
    correct = correct_frac == 1.0 and check["output_rows"] == check["golden_turns"]

    if a.trace:
        traces = bench_dir / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        record = dict(raw, host=host, metrics=metrics)
        (traces / f"{a.workload}-seed{a.seed}.json").write_text(json.dumps(record))

    samples = {k: [o["wall_s"] for o in raw[k]] for k in ("ops", "fixed_ops", "traced_ops")}
    samples.update(raw["setup"])
    print(json.dumps({"host": host, "samples_s": samples}))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    if not correct:
        print(f"perfbench: turns_correct_frac = {correct_frac} "
              f"({check['matched']} of {check['golden_turns']} golden turns, "
              f"{check['output_rows']} output rows)", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
