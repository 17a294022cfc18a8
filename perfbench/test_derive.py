"""Self-tests of the benchmark's derivations, on synthetic inputs.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import statistics
import unittest
from pathlib import Path

import derive


def task(stage, run_ms=10, cpu_ns=0, gc_ms=0, peak_mem=0, shuffle_write_bytes=0,
         shuffle_read_records=0, spill_bytes=0):
    return dict(stage=stage, run_ms=run_ms, cpu_ns=cpu_ns, gc_ms=gc_ms,
                peak_mem=peak_mem, shuffle_write_bytes=shuffle_write_bytes,
                shuffle_read_records=shuffle_read_records, spill_bytes=spill_bytes)


def record(tasks=(), stages=(), queries=(), jobs=0):
    return dict(tasks=list(tasks), stages=list(stages), queries=list(queries), jobs=jobs)


class Statistics(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(derive.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(derive.median([4.0, 1.0, 3.0, 2.0]), 2.5)

    def test_quartiles_match_statistics_quantiles(self):
        xs = [float(x) for x in (7, 1, 9, 3, 5, 2, 8, 4, 6, 10)]
        self.assertEqual(derive.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))
        # exclusive method: q1 of 1..10 is 2.75, q3 is 8.25
        self.assertEqual(derive.quartiles(xs), (2.75, 5.5, 8.25))

    def test_spread_is_iqr_over_median(self):
        self.assertAlmostEqual(derive.spread([float(x) for x in range(1, 11)]), 5.5 / 5.5)
        self.assertEqual(derive.spread([2.0] * 10), 0.0)
        self.assertEqual(derive.spread([0.0] * 4), 0.0)


class Attribution(unittest.TestCase):
    def test_per_turn_us_subtracts_the_base_action(self):
        # 1.5 s with the layer, 1.0 s without, over 250 000 turns: 2 us per turn
        self.assertAlmostEqual(derive.per_turn_us(1.5, 1.0, 250_000), 2.0)

    def test_per_turn_us_keeps_sign_and_handles_no_turns(self):
        self.assertLess(derive.per_turn_us(0.9, 1.0, 1000), 0.0)
        self.assertEqual(derive.per_turn_us(1.0, 0.5, 0), 0.0)

    def test_per_path_denominator(self):
        # a parser timed on a 10 000-turn html subset: the denominator is the
        # subset's turns, not the whole input's
        whole, html = 100_000, 10_000
        self.assertAlmostEqual(derive.per_turn_us(0.8, 0.6, html), 20.0)
        self.assertAlmostEqual(derive.per_turn_us(0.8, 0.6, whole), 2.0)

    def test_marginal_us_drops_the_per_action_cost(self):
        # 0.5 s of planning at either size, 10 us per turn of work:
        # 10 000 turns take 0.6 s, 3 copies of them 0.8 s
        self.assertAlmostEqual(derive.marginal_us(0.6, 0.8, 10_000, 3), 10.0)
        # a layer's marginal cost beyond its base action's
        parser = derive.marginal_us(0.7, 1.3, 10_000, 3)
        scan = derive.marginal_us(0.6, 0.8, 10_000, 3)
        self.assertAlmostEqual(parser - scan, 20.0)

    def test_assembly_ratio(self):
        # Extract 30 us, sniff 2 us, parser 10 us: 18 us of glue = 1.8 parsers
        self.assertAlmostEqual(derive.assembly_ratio(30.0, 2.0, 10.0), 1.8)
        self.assertEqual(derive.assembly_ratio(30.0, 2.0, 0.0), 0.0)

    def test_parse_outcomes(self):
        ps = [["html", "success", 90], ["html", "fallback", 10],
              ["pdf", "success", 50], ["tooljson", "fallback", 5],
              ["tooljson", "success", 45], ["plain", "success", 70],
              ["blank", "blank", 8]]
        self.assertEqual(derive.parse_outcomes(ps), (200, 185))

    def test_correct_frac_counts_extra_keys_against(self):
        check = dict(golden_turns=100, matched=100, extra_keys=0)
        self.assertEqual(derive.correct_frac(check), 1.0)
        self.assertAlmostEqual(derive.correct_frac(dict(check, extra_keys=4)), 100 / 104)
        self.assertAlmostEqual(derive.correct_frac(dict(check, matched=99)), 0.99)


class Listener(unittest.TestCase):
    def test_sums_and_peaks(self):
        rec = record(
            tasks=[task(1, run_ms=100, cpu_ns=50_000_000, gc_ms=10, peak_mem=5,
                        shuffle_write_bytes=1000, spill_bytes=7),
                   task(1, run_ms=300, cpu_ns=250_000_000, gc_ms=30, peak_mem=9,
                        shuffle_write_bytes=3000)],
            stages=[dict(stage=1, tasks=2, submit_ms=1000, done_ms=1400)],
            queries=[dict(input_scans=1, writes=[]), dict(input_scans=0, writes=[])],
            jobs=3)
        s = derive.task_summary(rec, cores=2)
        self.assertAlmostEqual(s["cpu_s"], 0.3)
        self.assertAlmostEqual(s["run_s"], 0.4)
        self.assertAlmostEqual(s["gc_frac"], 0.1)
        self.assertEqual(s["peak_mem"], 9)
        self.assertEqual(s["shuffle_write_bytes"], 4000)
        self.assertEqual(s["spill_bytes"], 7)
        # 400 ms of tasks in a 400 ms stage on 2 slots: half the slot time idle
        self.assertAlmostEqual(s["slot_idle_frac"], 0.5)
        self.assertEqual(s["jobs"], 3)
        self.assertEqual(s["input_scans"], 1)

    def test_skew_uses_the_stage_reading_most_shuffled_rows(self):
        rec = record(tasks=[
            # the small manifest aggregate reads few shuffled rows
            task(5, run_ms=1, shuffle_read_records=16), task(5, run_ms=90, shuffle_read_records=16),
            # the bucket-write stage reads them all: max 40 / median 20
            task(4, run_ms=10, shuffle_read_records=1000), task(4, run_ms=20, shuffle_read_records=1000),
            task(4, run_ms=40, shuffle_read_records=1000),
            # the map side reads none
            task(3, run_ms=500)])
        self.assertAlmostEqual(derive.task_skew_of(rec), 2.0)

    def test_skew_without_a_shuffle_and_with_idle_tasks(self):
        self.assertEqual(derive.task_skew_of(record(tasks=[task(1, run_ms=50)])), 1.0)
        self.assertEqual(derive.task_skew_of(record()), 1.0)
        # empty post-shuffle partitions run in 0 ms: the median floors at 1 ms
        rec = record(tasks=[task(2, run_ms=0, shuffle_read_records=1),
                            task(2, run_ms=0, shuffle_read_records=0),
                            task(2, run_ms=30, shuffle_read_records=9)])
        self.assertAlmostEqual(derive.task_skew_of(rec), 30.0)

    def test_empty_record(self):
        s = derive.task_summary(record(), cores=4)
        self.assertEqual((s["cpu_s"], s["gc_frac"], s["peak_mem"], s["slot_idle_frac"]),
                         (0.0, 0.0, 0, 0.0))

    def test_stages_without_times_are_ignored(self):
        rec = record(tasks=[task(1, run_ms=100)],
                     stages=[dict(stage=1, tasks=1, submit_ms=0, done_ms=100),
                             dict(stage=2, tasks=1, submit_ms=-1, done_ms=50)])
        self.assertAlmostEqual(derive.task_summary(rec, cores=1)["slot_idle_frac"], 0.0)

    def test_waves_count_data_writes_and_useful_ones(self):
        def write(path, rows):
            return dict(path=path, rows=rows)
        rec = record(queries=[
            dict(input_scans=1, writes=[write("file:/w/out/op-1/data", 500)]),
            dict(input_scans=0, writes=[write("file:/w/out/op-1/_manifest", 2)]),
            dict(input_scans=1, writes=[write("file:/w/out/op-1/data", 0)]),
            dict(input_scans=0, writes=[write("file:/w/out/op-1/_manifest", 0)]),
            dict(input_scans=1, writes=[write("file:/w/out/op-1/data/", 700)]),
            dict(input_scans=0, writes=[])])
        self.assertEqual(derive.waves(rec, "/w/out/op-1/data"), (3, 2))


def op(wall_s, turns=1000, data_rows=1000, scans=1):
    """one operation's listener record: a map stage and a shuffle-read stage"""
    return dict(
        ok=True, wall_s=wall_s, dir="file:/w/out/op-1", jobs=10,
        tasks=[task(0, run_ms=200, cpu_ns=150_000_000, peak_mem=2**20, shuffle_write_bytes=turns),
               task(1, run_ms=100, cpu_ns=50_000_000, shuffle_read_records=turns)],
        stages=[dict(stage=0, tasks=1, submit_ms=0, done_ms=250),
                dict(stage=1, tasks=1, submit_ms=250, done_ms=400)],
        queries=[dict(input_scans=scans, writes=[dict(path="file:/w/out/op-1/data", rows=data_rows)])])


def layer(one_s, many_s):
    return dict(x1=[op(one_s), op(one_s + 0.1)], xk=[op(many_s), op(many_s + 0.1)])


def raw_record(trace):
    path_status = [["html", "success", 250], ["html", "fallback", 10], ["pdf", "success", 160],
                   ["plain", "success", 380], ["tooljson", "success", 120], ["blank", "blank", 80]]
    raw = dict(
        turns=1000, host=dict(local_width=4, control_s=[0.5, 0.4], steal_frac=[0.0, 0.01]),
        setup=dict(session_s=5.0, gen_write_s=[6.0, 1.0, 1.2], warmup_s=9.0),
        ops=[op(3.0), op(2.0), op(2.5)], fixed_ops=[op(1.5), op(1.7)], traced_ops=[],
        check=dict(golden_turns=1000, output_rows=1000, matched=1000, extra_keys=0,
                   truncated=0, path_status=path_status),
        output=dict(bytes=99_000, files=16))
    if trace:
        sub = dict(turns=250, scan=layer(0.3, 0.35), sniff=layer(0.31, 0.37),
                   parser=layer(0.32, 0.42), extract=layer(0.5, 0.75))
        raw.update(fixed_ops=[], ops=[op(2.0), op(2.2)], traced_ops=[op(2.1), op(2.1)], layers=dict(
            copies=3, scan=layer(0.4, 0.6), sniff=layer(0.42, 0.64), extract=layer(0.8, 1.6),
            extract_bucket=layer(0.82, 1.64), shuffle_sort=layer(1.0, 2.0),
            action=[op(0.45), op(0.5)], completed_buckets=[op(0.2), op(0.25)],
            paths=dict(html=sub, plain=sub)))
    return raw


class Metrics(unittest.TestCase):
    """The derived metrics are exactly the ones BENCHMARK.json declares."""

    spec = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())

    def declared(self, kind):
        return {m["name"]: m["unit"] for m in self.spec[kind]}

    def test_end_to_end_names_units_and_values(self):
        m = derive.end_to_end(raw_record(trace=False))
        self.assertEqual({k: u for k, (_, u) in m.items()}, self.declared("end_to_end"))
        self.assertAlmostEqual(m["setup_s"][0], 5.0 + 1.2 + 9.0)
        self.assertAlmostEqual(m["turns_per_s"][0], 1000 / 2.5)
        self.assertAlmostEqual(m["cpu_s_per_mturn"][0], 0.2 / 1000 * 1e6)
        self.assertAlmostEqual(m["fixed_s"][0], 1.5)
        self.assertAlmostEqual(m["peak_task_mem_mb"][0], 1.0)
        self.assertAlmostEqual(m["output_bytes_per_turn"][0], 99.0)
        self.assertEqual((m["turns_correct_frac"][0], m["ops_ok_frac"][0]), (1.0, 1.0))

    def test_per_layer_names_units_and_values(self):
        m = derive.per_layer(raw_record(trace=True))
        self.assertEqual({k: u for k, (_, u) in m.items()}, self.declared("per_layer"))
        # marginal costs over (3 - 1) x turns: sniff 0.22 s vs scan 0.2 s
        self.assertAlmostEqual(m["functions.sniff.us_per_turn"][0], 10.0)
        self.assertAlmostEqual(m["operators.extract.us_per_turn"][0], 300.0)
        # per html turn (250): parser 0.1 vs scan 0.05 -> 100 us, sniff 20 us,
        # Extract 400 us: (400 - 20 - 100) / 100
        self.assertAlmostEqual(m["expressions.html_blocks.us_per_turn"][0], 100.0)
        self.assertAlmostEqual(m["operators.assembly.html_ratio"][0], 2.8)
        self.assertEqual(m["expressions.pdf_glyph_runs.us_per_turn"][0], 0.0)
        self.assertAlmostEqual(m["operators.fallback_frac"][0], 10 / 540)
        self.assertAlmostEqual(m["plans.write_manifest.us_per_turn"][0], (2.1 - 1.0) / 1000 * 1e6)
        self.assertAlmostEqual(m["plans.action_s"][0], 0.45)
        self.assertEqual(m["plans.input_scans_per_op"][0], 1)
        self.assertEqual((m["plans.waves_per_op"][0], m["plans.waves_useful_frac"][0]), (1, 1.0))
        self.assertAlmostEqual(m["trace.overhead_frac"][0], 1 - 2.1 / 2.1)
        self.assertEqual((m["host.control_s"][0], m["host.steal_frac"][0]), (0.5, 0.01))

    def test_op_counts(self):
        raw = raw_record(trace=False)
        raw["fixed_ops"][0] = dict(raw["fixed_ops"][0], ok=False)
        self.assertEqual(derive.op_counts(raw), (5, 1))
        self.assertAlmostEqual(derive.end_to_end(raw)["ops_ok_frac"][0], 0.8)


if __name__ == "__main__":
    unittest.main()
