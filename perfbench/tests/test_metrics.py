"""Tests for the benchmark's own arithmetic and contract.

    python3 -m unittest discover -s perfbench/tests

Set PERFBENCH_E2E=1 to also run the command itself (builds on first use,
then one run per workload in each mode; several minutes).
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import metrics  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

RELATIONAL = ["q_score_quantiles", "q_link_invert", "q_opic_distribute", "q_state_transition",
              "q_segment_merge"]
CURATION = ["q_minhash_lsh", "q_ngram_jaccard", "q_neardup_clusters", "q_jaccard_pairs",
            "q_ann_ivf_topk", "q_repetition", "q_parse_html", "q_media_decode"]
STAGE_DESCS = ["generate+fetch+write", "parse+write", "updatedb_materialize",
               "updatedb+dedup+write", "seen_bloom", "hostdb"]
PROBES = ["generate", "fetch", "parse", "updatedb", "dedup", "store_commit", "store_load",
          "hostdb", "seen_merge"]


class Builder:
    """Builds a synthetic raw report the way the harness lays it out."""

    def __init__(self, workload):
        self.raw = {"workload": workload, "setup_s": [3.0, 1.2, 1.1], "ops": [], "jobs": [],
                    "stages": [], "counts": {"x": 1}, "relational_queries": RELATIONAL,
                    "curation_queries": CURATION}
        self.t = 1000

    def op(self, kind, name, wall, **extra):
        oid = len(self.raw["ops"])
        rec = {"id": oid, "kind": kind, "name": name, "start_ms": self.t,
               "end_ms": self.t + int(wall * 1000), "wall_s": wall, "ok": True,
               "cache_before_bytes": 0, "cache_peak_bytes": 2_000_000}
        rec.update(extra)
        self.raw["ops"].append(rec)
        self.t += int(wall * 1000) + 1
        return rec

    def job(self, op, desc, start, end, shuffle=1000, records=10):
        jid = len(self.raw["jobs"])
        self.raw["jobs"].append({"id": jid, "op": op, "desc": desc, "start_ms": start,
                                 "end_ms": end, "ok": True})
        self.raw["stages"].append({"id": jid, "attempt": 0, "job": jid, "name": "s",
                                   "submit_ms": start, "complete_ms": end, "cpu_s": 0.5,
                                   "gc_s": 0.01, "run_s": 0.6, "shuffle_write_bytes": shuffle,
                                   "shuffle_write_records": records, "spill_bytes": 0,
                                   "failed": False})

    def crawl_round(self, kind, name, wall, rnd):
        o = self.op(kind, name, wall, round=rnd, generated=100, fetched=90, parsed=80,
                    frontier=500, unfetched=300, virtual_ms_max=1000, store_bytes=5_000_000,
                    commits=5, stage_ms={d: 100 for d in STAGE_DESCS})
        for i, d in enumerate(STAGE_DESCS):
            self.job(o["id"], f"round{rnd}:{d}", o["start_ms"] + i, o["start_ms"] + i + 1)
        return o

    def probes(self):
        extra = {"generate": {"rows": 50}, "fetch": {"input_rows": 50, "fetched": 40,
                                                      "robots_denied": 2, "virtual_ms_max": 9},
                 "parse": {"links_out": 70}, "updatedb": {"rows": 400},
                 "store_commit": {"bytes_written": 1000, "commits": 1},
                 "seen_merge": {"misses": 40, "merged_rows": 400, "blob_bytes": 5000}}
        for p in PROBES:
            o = self.op("probe", p, 0.5, **extra.get(p, {}))
            self.job(o["id"], "", o["start_ms"], o["end_ms"])

    def queries(self, kind, passes=1):
        for pas in range(passes):
            for q in RELATIONAL + CURATION:
                o = self.op(kind, q, 0.3, **{"pass": pas + (kind == "query")})
                self.job(o["id"], "", o["start_ms"], o["end_ms"])


def incremental(traced):
    b = Builder("crawl_incremental")
    b.crawl_round("round", "r1", 15.0, 1)
    b.crawl_round("round", "r2", 10.0, 2)
    b.crawl_round("resume", "r2", 9.0, 2)
    if traced:
        b.probes()
        b.queries("cold")
    return b.raw


def queries(traced):
    b = Builder("operator_queries")
    b.queries("cold")
    b.queries("query", passes=2)
    if traced:
        b.crawl_round("fixture", "round1", 8.0, 1)
        b.probes()
    return b.raw


class PercentileRule(unittest.TestCase):
    def test_no_tail_below_twenty_samples(self):
        for n in range(0, 20):
            self.assertIsNone(metrics.tail_percentile(n), n)

    def test_tail_keeps_ten_samples_beyond(self):
        self.assertEqual(metrics.tail_percentile(20), 50)
        self.assertEqual(metrics.tail_percentile(40), 75)
        self.assertEqual(metrics.tail_percentile(100), 90)
        self.assertEqual(metrics.tail_percentile(199), 90)
        self.assertEqual(metrics.tail_percentile(200), 95)
        self.assertEqual(metrics.tail_percentile(1000), 99)
        self.assertEqual(metrics.tail_percentile(10000), 99.9)
        for n in range(20, 3000, 7):
            p = metrics.tail_percentile(n)
            self.assertGreaterEqual(n - metrics.rank(p, n), metrics.MIN_BEYOND, n)

    def test_summarize_reports_median_tail_and_count(self):
        s = metrics.summarize(list(range(100, 0, -1)))
        self.assertEqual(s["n"], 100)
        self.assertEqual(s["median"], 50.5)
        self.assertEqual((s["tail_p"], s["tail"]), (90, 90))
        s = metrics.summarize([3.0, 1.0, 2.0])
        self.assertEqual((s["n"], s["median"], s["tail_p"], s["tail"]), (3, 2.0, None, None))


class SpanSelfTime(unittest.TestCase):
    @staticmethod
    def span(i, parent, s, e):
        return {"id": i, "parent": parent, "start_ms": s, "end_ms": e}

    def test_overlapping_children_count_once(self):
        spans = [self.span("p", None, 0, 100), self.span("a", "p", 10, 30),
                 self.span("b", "p", 20, 50), self.span("c", "p", 90, 120)]
        st = metrics.self_times(spans)
        self.assertEqual(st["p"], 100 - (40 + 10))  # [10,50] and [90,100] clipped
        self.assertEqual(st["a"], 20)
        self.assertEqual(st["c"], 30)

    def test_nested_levels_and_no_children(self):
        spans = [self.span("run", None, 0, 10), self.span("op", "run", 1, 9),
                 self.span("job", "op", 2, 5), self.span("stage", "job", 2, 4)]
        st = metrics.self_times(spans)
        self.assertEqual([st[k] for k in ("run", "op", "job", "stage")], [2, 5, 1, 2])
        self.assertEqual(metrics.union_length([(5, 5), (7, 3)]), 0)

    def test_tree_attributes_round_stages_from_job_descriptions(self):
        raw = incremental(traced=False)
        spans = {s["id"]: s for s in metrics.build_spans(raw)}
        job0 = spans["job0"]
        self.assertEqual(job0["parent"], "op0.generate_fetch_write")
        self.assertEqual(spans["op0.generate_fetch_write"]["parent"], "op0")
        self.assertEqual(spans["op0"]["parent"], "run")
        self.assertEqual(spans["stage0.0"]["parent"], "job0")
        self.assertEqual(metrics.stage_key("round12:updatedb+dedup+write"), "updatedb_dedup_write")
        self.assertIsNone(metrics.stage_key("benchx:q_agg_stats"))


class MetricNames(unittest.TestCase):
    def test_charset(self):
        for good in ("setup_s", "cli.parse_write.wall_s", "ops.q_minhash_lsh.shuffle_mb", "9x", "a-b"):
            self.assertTrue(metrics.valid_name(good), good)
        for bad in ("", "_x", ".x", "a b", "a:b", "a+b", "x" * 65, "round1:parse"):
            self.assertFalse(metrics.valid_name(bad), bad)
        for unit in ("s", "MB", "1/s", "count", "%", "ns"):
            self.assertTrue(metrics.valid_unit(unit), unit)
        self.assertFalse(metrics.valid_unit("seconds per op!"))

    def test_benchmark_json_names_and_units(self):
        names = [m["name"] for k in ("end_to_end", "per_layer") for m in SPEC[k]]
        names += [w["name"] for w in SPEC["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(metrics.valid_name(n), n)
        for m in SPEC["end_to_end"] + SPEC["per_layer"]:
            self.assertTrue(metrics.valid_unit(m["unit"]), m)
            self.assertIn(m["better"], ("lower", "higher"))
        for m in SPEC["per_layer"]:
            self.assertEqual((m["unit"], m["better"]), metrics.unit_of(m["name"]), m["name"])

    def test_benchmark_json_shape(self):
        self.assertEqual(set(SPEC), {"command", "paths", "run_seconds", "workloads",
                                     "end_to_end", "per_layer"})
        self.assertTrue(2 <= len(SPEC["workloads"]) <= 8)
        self.assertLessEqual(len(SPEC["per_layer"]), 128)
        setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(len(setup), 1)
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in SPEC["end_to_end"]))
        for m in SPEC["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)


class EveryMetricEmitted(unittest.TestCase):
    def check(self, raw, traced):
        if traced:
            got = metrics.per_layer(raw)
            want = [m["name"] for m in SPEC["per_layer"]]
        else:
            got = {k: v["value"] for k, v in metrics.end_to_end(raw).items()}
            want = [m["name"] for m in SPEC["end_to_end"]]
        for name in want:
            self.assertIsNotNone(got.get(name), f"{raw['workload']} trace={traced}: {name}")
        if not traced:
            for name in want:
                self.assertGreater(got[name], 0, name)

    def test_every_workload_and_mode(self):
        builders = {"crawl_incremental": incremental, "operator_queries": queries}
        for w in SPEC["workloads"]:
            for traced in (False, True):
                self.check(builders[w["name"]](traced), traced)

    def test_per_layer_names_match_the_declared_list(self):
        self.assertEqual(sorted(metrics.per_layer(incremental(True))),
                         sorted(m["name"] for m in SPEC["per_layer"]))

    def test_missing_round_stage_and_probe_fail_the_contract_check(self):
        raw = incremental(True)
        want = [m["name"] for m in SPEC["per_layer"]]
        self.assertEqual(metrics.unemitted(metrics.per_layer(raw), want), ([], []))
        # the engine renames one round stage; one probe fails
        for j in raw["jobs"]:
            j["desc"] = j["desc"].replace(":seen_bloom", ":bloom_merge")
        for o in raw["ops"]:
            o["stage_ms"] = {k.replace("seen_bloom", "bloom_merge"): v
                             for k, v in o.get("stage_ms", {}).items()}
            if o["kind"] == "probe" and o["name"] == "dedup":
                o["ok"] = False
        got = metrics.per_layer(raw)
        missing, invalid = metrics.unemitted(got, want)
        self.assertEqual(missing, ["cli.seen_bloom.cpu_s", "cli.seen_bloom.shuffle_write_mb",
                                   "cli.seen_bloom.wall_s", "frontier.dedup_wall_s"])
        self.assertEqual(invalid, [])
        self.assertIsNotNone(got["cli.hostdb.wall_s"])

    def test_deterministic_counts_flag_mismatched_repeats(self):
        raw = queries(False)
        counts, mismatches, _ = metrics.deterministic_counts(raw)
        self.assertEqual(mismatches, [])
        self.assertEqual(counts["shuffle_records.q_minhash_lsh.all"], 10)
        second_pass_job = [j for j in raw["jobs"]
                           if raw["ops"][j["op"]]["kind"] == "query"][-1]
        raw["stages"][second_pass_job["id"]]["shuffle_write_records"] = 11
        _, mismatches, _ = metrics.deterministic_counts(raw)
        self.assertEqual(len(mismatches), 1)


class Ledger(unittest.TestCase):
    def test_runs_of_another_length_are_not_compared(self):
        import tempfile
        import run
        stamp = {k: "x" for k in run.ENV_KEYS}
        with tempfile.TemporaryDirectory() as state:
            def check(seconds, rounds):
                return run.ledger_check(state, dict(stamp, seconds=seconds), "crawl_incremental",
                                        7, {"rounds": rounds}, 1.0, False)
            self.assertEqual(check(10.0, 2)[0], [])
            self.assertEqual(check(20.0, 4)[0], [])  # more rounds, another ledger
            self.assertEqual(check(10.0, 2)[0], [])
            self.assertEqual(check(10.0, 3)[0], ["rounds: 3 != earlier 2"])


@unittest.skipUnless(os.environ.get("PERFBENCH_E2E") == "1", "set PERFBENCH_E2E=1")
class CommandEmitsEveryMetric(unittest.TestCase):
    def test_command(self):
        for w in SPEC["workloads"]:
            for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
                p = subprocess.run(
                    SPEC["command"] + ["--workload", w["name"], "--seed", "1", "--seconds",
                                       str(SPEC["run_seconds"]), "--trace", str(trace)],
                    cwd=ROOT, capture_output=True, text=True, timeout=1800)
                last = json.loads(p.stdout.strip().splitlines()[-1])
                self.assertEqual(p.returncode, 0, p.stderr[-2000:])
                self.assertEqual(sorted(last["metrics"]), sorted(m["name"] for m in SPEC[kind]))
                self.assertEqual(set(last), {"correct", "attempted", "failed", "metrics"})


if __name__ == "__main__":
    unittest.main()
