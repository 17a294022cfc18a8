"""Derivations of the extraction-job benchmark: pure functions from the raw
record that `perfbench/scala/JobBench.scala` writes to the reported metrics.
Nothing here touches Spark, so `perfbench/test_derive.py` checks every
formula on synthetic inputs.

    python3 perfbench/derive.py run1.out run2.out ...

prints each metric's median, quartiles and spread over saved run outputs.
"""

import statistics

PARSED_PATHS = ("html", "pdf", "tooljson")


# ---------------------------------------------------------------- statistics

def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """(q1, median, q3) as `statistics.quantiles(xs, n=4)` gives them."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    """Distance between the first and third quartile, as a share of the
    median (0 when the median is 0)."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else 0.0


# ---------------------------------------------------------------- attribution

def per_turn_us(total_s, base_s, turns):
    """Microseconds per turn that `total_s` spends beyond `base_s`, the same
    work without the layer under test; 0 when there are no turns."""
    if turns <= 0:
        return 0.0
    return (total_s - base_s) / turns * 1e6


def marginal_us(one_s, many_s, turns, copies):
    """Microseconds per turn of an action timed on `turns` turns (`one_s`)
    and on `copies` copies of them (`many_s`): the per-action planning and
    launch cost, paid once at either size, drops out of the difference."""
    return per_turn_us(many_s, one_s, (copies - 1) * turns)


def assembly_ratio(extract_us, sniff_us, parser_us):
    """(Extract on one path - sniff - parser) / parser, all per turn of that
    path: the Catalyst glue around a native parser, in parser units."""
    if parser_us <= 0:
        return 0.0
    return (extract_us - sniff_us - parser_us) / parser_us


def parse_outcomes(path_status):
    """(attempted, useful) native or JSON parses from the output table's
    (path, status, count) triples: a parse is attempted on every html, pdf
    and tooljson turn and useful when its result was kept (status
    `success`, not the plain-text `fallback`)."""
    attempted = sum(n for p, _, n in path_status if p in PARSED_PATHS)
    useful = sum(n for p, s, n in path_status if p in PARSED_PATHS and s == "success")
    return attempted, useful


# ---------------------------------------------------------------- listener

def task_summary(rec, cores):
    """Aggregates of one operation's listener record (`tasks`, `stages`,
    `queries`, `jobs`).

    - `cpu_s`, `run_s`: summed executor CPU and run time of its tasks;
    - `gc_frac`: GC time / task run time;
    - `peak_mem`: the largest task `peakExecutionMemory`;
    - `shuffle_write_bytes`, `spill_bytes`: summed over tasks;
    - `task_skew`: max / median task run time in the stage that read the
      most shuffled records (the stage after the bucket shuffle), with the
      median floored at 1 ms;
    - `slot_idle_frac`: 1 - task run time / (summed stage wall x cores);
    - `jobs`, `input_scans`: Spark jobs and scans of the input table.
    """
    tasks = rec["tasks"]
    run_ms = sum(t["run_ms"] for t in tasks)
    stage_ms = sum(max(s["done_ms"] - s["submit_ms"], 0) for s in rec["stages"]
                   if s["submit_ms"] >= 0 and s["done_ms"] >= 0)
    return {
        "cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "run_s": run_ms / 1e3,
        "gc_frac": sum(t["gc_ms"] for t in tasks) / run_ms if run_ms else 0.0,
        "peak_mem": max((t["peak_mem"] for t in tasks), default=0),
        "shuffle_write_bytes": sum(t["shuffle_write_bytes"] for t in tasks),
        "spill_bytes": sum(t["spill_bytes"] for t in tasks),
        "task_skew": task_skew_of(rec),
        "slot_idle_frac": 1.0 - run_ms / (stage_ms * cores) if stage_ms else 0.0,
        "jobs": rec["jobs"],
        "input_scans": sum(q["input_scans"] for q in rec["queries"]),
    }


def task_skew_of(rec):
    """max / median task run time in the stage that read the most shuffled
    records, with the median floored at 1 ms; 1.0 without a shuffle read."""
    by_stage = {}
    for t in rec["tasks"]:
        by_stage.setdefault(t["stage"], []).append(t)
    reads = {s: sum(t["shuffle_read_records"] for t in ts) for s, ts in by_stage.items()}
    if not reads or max(reads.values()) == 0:
        return 1.0
    top = max(reads, key=lambda s: (reads[s], s))
    times = [t["run_ms"] for t in by_stage[top]]
    return max(times) / max(median(times), 1.0)


def waves(rec, data_dir):
    """(waves run, waves that committed at least one bucket): one wave is
    one write to the job's `data` directory; it committed a bucket when it
    wrote at least one row."""
    writes = [w for q in rec["queries"] for w in q["writes"]
              if w["path"].rstrip("/").endswith(data_dir.rstrip("/"))]
    return len(writes), sum(1 for w in writes if w["rows"] > 0)


# ---------------------------------------------------------------- metrics

def op_counts(raw):
    """(attempted, failed) timed operations of a run."""
    ops = raw["ops"] + raw["fixed_ops"] + raw["traced_ops"]
    return len(ops), sum(1 for o in ops if not o["ok"])


def end_to_end(raw):
    """The end-to-end metrics of an untraced run."""
    turns = raw["turns"]
    cores = raw["host"]["local_width"]
    ops = [o for o in raw["ops"] if o["ok"]]
    fixed = [o for o in raw["fixed_ops"] if o["ok"]]
    attempted, failed = op_counts(raw)
    summaries = [task_summary(o, cores) for o in ops]
    setup = raw["setup"]
    check = raw["check"]
    metrics = {
        "setup_s": (setup["session_s"] + median(setup["gen_write_s"])
                    + setup["warmup_s"], "s"),
        "turns_per_s": (turns / median([o["wall_s"] for o in ops]), "turns/s"),
        "cpu_s_per_mturn": (median([s["cpu_s"] for s in summaries]) / turns * 1e6, "s"),
        # the floor: the least fixed-slice time, since interference only adds
        "fixed_s": (min(o["wall_s"] for o in fixed), "s"),
        "peak_task_mem_mb": (median([s["peak_mem"] for s in summaries]) / 2**20, "MB"),
        "output_bytes_per_turn": (raw["output"]["bytes"] / turns, "B"),
        "turns_correct_frac": (correct_frac(check), "frac"),
        "ops_ok_frac": (1.0 - failed / attempted, "frac"),
    }
    return metrics


def correct_frac(check):
    """Turns whose single output row matches the golden, over golden turns
    plus output keys the golden does not have."""
    denom = check["golden_turns"] + check["extra_keys"]
    return check["matched"] / denom if denom else 0.0


def per_layer(raw):
    """The per-layer metrics of a traced run."""
    turns = raw["turns"]
    cores = raw["host"]["local_width"]
    lay = raw["layers"]
    copies = lay["copies"]

    # a layer action's time is the least of its repetitions: interference
    # only adds time, and each subtraction below pairs two such minima
    def wall(reps):
        return min(r["wall_s"] for r in reps)

    def cpu(reps):
        return min(task_summary(r, cores)["cpu_s"] for r in reps)

    def marginal(entry, n, of=wall):
        return marginal_us(of(entry["x1"]), of(entry["xk"]), n, copies)

    def layer_us(entry, base, n, of=wall):
        """marginal cost of `entry` beyond the marginal cost of `base`"""
        return marginal(entry, n, of) - marginal(base, n, of)

    traced = [o for o in raw["traced_ops"] if o["ok"]]
    untraced = [o for o in raw["ops"] if o["ok"]]
    job_s = median([o["wall_s"] for o in traced])
    sums = [task_summary(o, cores) for o in traced]
    wave_counts = [waves(o, o["dir"] + "/data") for o in traced]

    scan = lay["scan"]
    m = {
        "functions.sniff.us_per_turn": (layer_us(lay["sniff"], scan, turns), "us"),
        "operators.extract.us_per_turn": (layer_us(lay["extract"], scan, turns), "us"),
        "operators.extract.cpu_us_per_turn":
            (layer_us(lay["extract"], scan, turns, of=cpu), "us"),
    }
    parser_metric = {"html": "expressions.html_blocks.us_per_turn",
                     "pdf": "expressions.pdf_glyph_runs.us_per_turn",
                     "plain": "expressions.plain_normalize.us_per_turn"}
    for p, name in parser_metric.items():
        sub = lay["paths"].get(p)
        parser_us = ratio = 0.0
        if sub:
            n = sub["turns"]
            parser_us = layer_us(sub["parser"], sub["scan"], n)
            ratio = assembly_ratio(layer_us(sub["extract"], sub["scan"], n),
                                   layer_us(sub["sniff"], sub["scan"], n), parser_us)
        m[name] = (parser_us, "us")
        m[f"operators.assembly.{p}_ratio"] = (ratio, "ratio")

    attempted, useful = parse_outcomes(raw["check"]["path_status"])
    m["operators.fallback_frac"] = ((attempted - useful) / attempted if attempted else 0.0, "frac")
    m["operators.parse_useful_frac"] = (useful / attempted if attempted else 0.0, "frac")
    m["operators.truncated_turns"] = (raw["check"]["truncated"], "count")

    extract_b, shuffle_sort = wall(lay["extract_bucket"]["x1"]), wall(lay["shuffle_sort"]["x1"])
    m["plans.shuffle_sort.us_per_turn"] = (
        layer_us(lay["shuffle_sort"], lay["extract_bucket"], turns), "us")
    m["plans.shuffle_write_bytes_per_turn"] = (
        median([s["shuffle_write_bytes"] for s in sums]) / turns, "B")
    m["plans.spill_bytes"] = (median([s["spill_bytes"] for s in sums]), "B")
    m["plans.task_skew"] = (median([s["task_skew"] for s in sums]), "ratio")
    m["plans.write_manifest.us_per_turn"] = (per_turn_us(job_s, shuffle_sort, turns), "us")
    m["plans.output_files"] = (raw["output"]["files"], "count")
    m["plans.action_s"] = (wall(lay["action"]), "s")
    m["plans.spark_jobs_per_op"] = (median([s["jobs"] for s in sums]), "count")
    m["plans.input_scans_per_op"] = (median([s["input_scans"] for s in sums]), "count")
    m["plans.completed_buckets_s"] = (wall(lay["completed_buckets"]), "s")
    m["plans.waves_per_op"] = (median([w for w, _ in wave_counts]), "count")
    m["plans.waves_useful_frac"] = (
        median([u / w if w else 0.0 for w, u in wave_counts]), "frac")
    # the job split of ROADMAP's re-anchor: extract, shuffle + sort, write + manifest
    m["operators.extract.job_frac"] = (extract_b / job_s, "frac")
    m["plans.shuffle_sort.job_frac"] = ((shuffle_sort - extract_b) / job_s, "frac")
    m["plans.write_manifest.job_frac"] = ((job_s - shuffle_sort) / job_s, "frac")

    run_s = sum(s["run_s"] for s in sums)
    m["spark.gc_frac"] = (sum(s["gc_frac"] * s["run_s"] for s in sums) / run_s if run_s else 0.0, "frac")
    m["spark.slot_idle_frac"] = (median([s["slot_idle_frac"] for s in sums]), "frac")
    untraced_tps = turns / median([o["wall_s"] for o in untraced])
    m["trace.overhead_frac"] = (1.0 - (turns / job_s) / untraced_tps, "frac")
    m["host.control_s"] = (max(raw["host"]["control_s"]), "s")
    m["host.steal_frac"] = (max(raw["host"]["steal_frac"]), "frac")
    return m


def summarize(paths):
    """Median, quartiles and spread of each metric over result files, each
    holding a run's stdout (the last line is the result): the steadiness
    figures the benchmark's bounds are checked against."""
    import json
    values = {}
    for p in paths:
        with open(p) as f:
            result = json.loads(f.read().strip().splitlines()[-1])
        for name, m in result["metrics"].items():
            values.setdefault((name, m["unit"]), []).append(m["value"])
    for (name, unit), xs in values.items():
        q1, q2, q3 = quartiles(xs)
        print(f"{name:40s} {unit:8s} n={len(xs):2d} median={q2:.6g} "
              f"q1={q1:.6g} q3={q3:.6g} spread={spread(xs):.3f}")


if __name__ == "__main__":
    import sys
    if len(sys.argv) < 3:
        sys.exit("usage: python3 perfbench/derive.py RESULT_FILE RESULT_FILE...")
    summarize(sys.argv[1:])
