"""Pure functions that turn the harness's raw report into metrics.

Nothing here touches the JVM, the file system or the clock, so the
arithmetic is covered by perfbench/tests without a build.
"""
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
MB = 1e6

# Percentile ladder for the tail rule: the reported tail is the highest of
# these with at least MIN_BEYOND samples strictly beyond it.
LADDER = (50, 75, 90, 95, 99, 99.9)
MIN_BEYOND = 10

CRAWL_KINDS = ("round", "resume", "fixture")
STAGE_METRICS = ("cpu_s", "gc_s", "run_s", "shuffle_write_bytes", "shuffle_write_records",
                 "spill_bytes", "failed")
CLI_STAGES = ("generate_fetch_write", "parse_write", "updatedb_materialize",
              "updatedb_dedup_write", "seen_bloom", "hostdb")
# GC time and spill are left out: at these data sizes no stage spills and
# most stages finish without a collection, so both read as constant zeros
CLI_FIELDS = ("wall_s", "cpu_s", "shuffle_write_mb")
# q_repetition is left out of the shuffle list: it runs without an exchange
HEAVY_CURATION = ("q_minhash_lsh", "q_ngram_jaccard", "q_neardup_clusters",
                  "q_jaccard_pairs", "q_ann_ivf_topk")
HEAVY_RELATIONAL = ("q_score_quantiles", "q_link_invert", "q_opic_distribute",
                    "q_state_transition", "q_segment_merge")


def valid_name(name):
    return bool(NAME_RE.match(name))


def valid_unit(unit):
    return bool(UNIT_RE.match(unit))


# ---------------------------------------------------------------- percentiles

def rank(p, n):
    """1-based nearest rank of percentile p (in (0, 100]) among n samples
    (rounded before the ceiling so 99.9% of 10000 is rank 9990, not 9991)."""
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def nearest_rank(sorted_values, p):
    """Nearest-rank percentile of an ascending list."""
    return sorted_values[rank(p, len(sorted_values)) - 1]


def tail_percentile(n):
    """Highest ladder percentile with at least MIN_BEYOND of n samples
    beyond its nearest rank, or None when n is too small for any."""
    best = None
    for p in LADDER:
        if n - rank(p, n) >= MIN_BEYOND:
            best = p
    return best


def summarize(values):
    """Median, the tail percentile the sample count supports, and the count."""
    vals = sorted(values)
    out = {"n": len(vals), "median": statistics.median(vals) if vals else None,
           "tail_p": None, "tail": None}
    p = tail_percentile(len(vals))
    if p is not None:
        out["tail_p"] = p
        out["tail"] = nearest_rank(vals, p)
    return out


# ---------------------------------------------------------------------- spans

def stage_key(desc):
    """`round3:updatedb+dedup+write` -> `updatedb_dedup_write`; None when the
    job description is not a round stage."""
    m = re.match(r"^round\d+:(.+)$", desc or "")
    return m.group(1).replace("+", "_") if m else None


def build_spans(raw):
    """The span tree run -> operation -> round stage -> Spark job -> Spark
    stage, as a list of {id, parent, name, kind, start_ms, end_ms}; stage
    spans also carry their task metrics. Round stages are attributed from
    the engine's job descriptions."""
    ops = raw["ops"]
    jobs = raw["jobs"]
    stages = raw["stages"]
    starts = [o["start_ms"] for o in ops] + [j["start_ms"] for j in jobs]
    ends = [o["end_ms"] for o in ops] + [j["end_ms"] for j in jobs]
    spans = [{"id": "run", "parent": None, "name": raw.get("workload", "run"), "kind": "run",
              "start_ms": min(starts) if starts else 0, "end_ms": max(ends) if ends else 0}]
    for o in ops:
        spans.append({"id": f"op{o['id']}", "parent": "run", "name": f"{o['kind']}:{o['name']}",
                      "kind": "operation", "start_ms": o["start_ms"], "end_ms": o["end_ms"]})
    groups = {}
    for j in jobs:
        key = stage_key(j["desc"])
        if key is not None and j["op"] >= 0:
            g = groups.setdefault((j["op"], key), [j["start_ms"], j["end_ms"]])
            g[0] = min(g[0], j["start_ms"])
            g[1] = max(g[1], j["end_ms"])
    for (op, key), (s, e) in sorted(groups.items()):
        spans.append({"id": f"op{op}.{key}", "parent": f"op{op}", "name": key,
                      "kind": "round_stage", "start_ms": s, "end_ms": e})
    for j in jobs:
        key = stage_key(j["desc"])
        if j["op"] < 0:
            parent = "run"
        elif key is not None:
            parent = f"op{j['op']}.{key}"
        else:
            parent = f"op{j['op']}"
        spans.append({"id": f"job{j['id']}", "parent": parent, "name": j["desc"] or "job",
                      "kind": "job", "start_ms": j["start_ms"], "end_ms": j["end_ms"]})
    known_jobs = {j["id"] for j in jobs}
    for s in stages:
        parent = f"job{s['job']}" if s["job"] in known_jobs else "run"
        spans.append({"id": f"stage{s['id']}.{s['attempt']}", "parent": parent,
                      "name": s["name"], "kind": "stage",
                      "start_ms": s["submit_ms"], "end_ms": s["complete_ms"],
                      "task_metrics": {k: s[k] for k in STAGE_METRICS}})
    return spans


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time of every span: its duration minus the part of it covered by
    its children (clipped to the span; overlapping children count once)."""
    children = {}
    for sp in spans:
        children.setdefault(sp["parent"], []).append(sp)
    out = {}
    for sp in spans:
        s, e = sp["start_ms"], sp["end_ms"]
        clipped = [(max(s, c["start_ms"]), min(e, c["end_ms"]))
                   for c in children.get(sp["id"], [])]
        out[sp["id"]] = max(0.0, (e - s) - union_length(clipped))
    return out


# ------------------------------------------------------------ raw aggregation

class Raw:
    """Indexes over one raw report."""

    def __init__(self, raw):
        self.ops = raw["ops"]
        self.jobs_by_op = {}
        for j in raw["jobs"]:
            self.jobs_by_op.setdefault(j["op"], []).append(j)
        self.stages_by_job = {}
        for s in raw["stages"]:
            self.stages_by_job.setdefault(s["job"], []).append(s)

    def kind(self, *kinds):
        return [o for o in self.ops if o["kind"] in kinds and o["ok"]]

    def stage_totals(self, op_id, stage=None):
        """Summed task metrics of an operation's Spark stages, optionally only
        those of jobs run under one round stage."""
        tot = {"cpu_s": 0.0, "shuffle_write_bytes": 0}
        for j in self.jobs_by_op.get(op_id, []):
            if stage is not None and stage_key(j["desc"]) != stage:
                continue
            for s in self.stages_by_job.get(j["id"], []):
                for k in tot:
                    tot[k] += s[k]
        return tot

    def shuffle_by_stage(self, op_id, field):
        """A shuffle-write field summed per round stage (or `other`) in one op."""
        out = {}
        for j in self.jobs_by_op.get(op_id, []):
            key = stage_key(j["desc"]) or "other"
            out[key] = out.get(key, 0) + sum(s[field] for s in self.stages_by_job.get(j["id"], []))
        return out


def passes(r):
    """Timed query passes, the cold one first: list of (pass index, [query ops])."""
    by = {}
    for o in r.kind("cold", "query"):
        by.setdefault(o["pass"], []).append(o)
    return sorted(by.items())


def _metric(values, unit):
    s = summarize(values)
    return {"value": s["median"], "unit": unit, "n": s["n"], "tail_p": s["tail_p"],
            "tail": s["tail"]}


def _mean(values, unit):
    return {"value": statistics.mean(values) if values else None, "unit": unit,
            "n": len(values), "tail_p": None, "tail": None}


def end_to_end(raw):
    """Every end-to-end metric of a workload, the gated ones and the
    workload-specific ones, each {value, unit, n, tail_p, tail}. Values are
    medians, except `op_mean_s`: the mean wall of the run's operations
    (crawl: every round execution, the cold first one and the resume
    included; queries: every pass over the query set, the cold pass
    included). A run holds few operations and the first is the JIT's, so
    their mean moves less from run to run than their median. Query passes
    are summed only over queries that succeeded."""
    r = Raw(raw)
    wl = raw["workload"]
    out = {"setup_s": _metric(raw["setup_s"], "s")}
    if wl == "crawl_incremental":
        rounds = r.kind("round", "resume")
        out["op_mean_s"] = _mean([o["wall_s"] for o in rounds], "s")
        out["cache_peak_mb"] = _metric([o["cache_peak_bytes"] / MB for o in rounds], "MB")
        out["fetched_urls_per_s"] = _metric([o["fetched"] / o["wall_s"] for o in rounds], "1/s")
        out["store_mb_per_round"] = _metric([o["store_bytes"] / MB for o in rounds], "MB")
        out["round_p50_s"] = _metric([o["wall_s"] for o in rounds], "s")
        out["resume_s"] = _metric([o["wall_s"] for o in r.kind("resume")], "s")
    else:
        rel = set(raw["relational_queries"])
        ps = passes(r)
        out["op_mean_s"] = _mean([sum(o["wall_s"] for o in qs) for _, qs in ps], "s")
        out["pass_p50_s"] = _metric([sum(o["wall_s"] for o in qs) for _, qs in ps], "s")
        out["cache_peak_mb"] = _metric(
            [max(o["cache_peak_bytes"] for o in qs) / MB for _, qs in ps], "MB")
        out["relational_pass_s"] = _metric(
            [sum(o["wall_s"] for o in qs if o["name"] in rel) for _, qs in ps], "s")
        out["curation_pass_s"] = _metric(
            [sum(o["wall_s"] for o in qs if o["name"] not in rel) for _, qs in ps], "s")
        out["query_s"] = _metric([o["wall_s"] for _, qs in ps for o in qs], "s")
    return out


def _median(values):
    return statistics.median(values) if values else None


def _ratio(num, den):
    return num / den if num is not None and den else None


def per_layer(raw):
    """Per-layer metrics of a traced run: round stages from the engine's job
    descriptions, layer probes, and per-query operators. A metric with no
    samples (a round stage whose job description never ran, a probe or a
    query that is missing or failed) is None, never 0, so a renamed stage
    or a lost probe fails the emitted-metrics check instead of reading as
    a gain."""
    r = Raw(raw)
    out = {}
    crawl_ops = r.kind(*CRAWL_KINDS)
    for st in CLI_STAGES:
        walls, cpu, sh = [], [], []
        for o in crawl_ops:
            ms = o.get("stage_ms", {})
            key = next((k for k in ms if k.replace("+", "_") == st), None)
            if key is None:
                continue
            t = r.stage_totals(o["id"], st)
            walls.append(ms[key] / 1e3)
            cpu.append(t["cpu_s"])
            sh.append(t["shuffle_write_bytes"] / MB)
        for field, vals in zip(CLI_FIELDS, (walls, cpu, sh)):
            out[f"cli.{st}.{field}"] = _median(vals)

    probes = {o["name"]: o for o in r.kind("probe")}

    def probe(name, field="wall_s", scale=1):
        o = probes.get(name)
        return o[field] / scale if o is not None and field in o else None

    def shuffle_mb(o):
        return r.stage_totals(o["id"])["shuffle_write_bytes"] / MB

    def probe_shuffle_mb(name):
        return shuffle_mb(probes[name]) if name in probes else None

    out["generate.wall_s"] = probe("generate")
    out["generate.rows"] = probe("generate", "rows")
    out["generate.shuffle_mb"] = probe_shuffle_mb("generate")
    n_in = probe("fetch", "input_rows")
    out["fetch.wall_s"] = probe("fetch")
    out["fetch.ns_per_url"] = _ratio(probe("fetch", "wall_s", 1e-9), n_in)
    out["fetch.ok_ratio"] = _ratio(probe("fetch", "fetched"), n_in)
    out["fetch.robots_denied"] = probe("fetch", "robots_denied")
    out["fetch.virtual_ms_max"] = probe("fetch", "virtual_ms_max")
    out["parse.wall_s"] = probe("parse")
    out["parse.links_out"] = probe("parse", "links_out")
    out["parse.shuffle_mb"] = probe_shuffle_mb("parse")
    out["frontier.updatedb_wall_s"] = probe("updatedb")
    out["frontier.updatedb_shuffle_mb"] = probe_shuffle_mb("updatedb")
    out["frontier.dedup_wall_s"] = probe("dedup")
    out["frontier.hostdb_wall_s"] = probe("hostdb")
    out["frontier.rows"] = probe("updatedb", "rows")
    out["seen.merge_wall_s"] = probe("seen_merge")
    out["seen.miss_ratio"] = _ratio(probe("seen_merge", "misses"),
                                    probe("seen_merge", "merged_rows"))
    out["seen.blob_mb"] = probe("seen_merge", "blob_bytes", MB)
    out["store.commit_wall_s"] = probe("store_commit")
    out["store.load_wall_s"] = probe("store_load")
    out["store.bytes_written_mb"] = probe("store_commit", "bytes_written", MB)
    out["store.commits"] = _median([o["commits"] for o in crawl_ops if "commits" in o])

    rel = set(raw["relational_queries"])
    timed = r.kind("cold", "query")
    by_q = {}
    for o in timed:
        by_q.setdefault(o["name"], []).append(o)
    for q in raw["relational_queries"] + raw["curation_queries"]:
        layer = "queries" if q in rel else "ops"
        qs = by_q.get(q, [])
        out[f"{layer}.{q}.wall_s"] = _median([o["wall_s"] for o in qs])
        if q in HEAVY_CURATION or q in HEAVY_RELATIONAL:
            out[f"{layer}.{q}.shuffle_mb"] = _median([shuffle_mb(o) for o in qs])
    return out


def unemitted(got, want):
    """The contract check on a run's metrics: declared names with no value,
    and emitted names outside the charset."""
    missing = sorted(k for k in want if got.get(k) is None)
    invalid = sorted(k for k in got if not valid_name(k))
    return missing, invalid


def deterministic_counts(raw):
    """Counts that must repeat exactly for one seed: the harness's own
    (round counts, frontier digest, bloom misses), shuffle records written
    per round stage of every round and per query, and rows per probed
    layer. Operations with the same name (a round and its resume, one query
    across passes) must agree within the run. Returns (counts, within-run
    mismatches, shuffle bytes by key); shuffle bytes are reported, not
    checked: they follow the row order inside shuffle blocks, which the
    fetch order of the reducers sets."""
    r = Raw(raw)
    counts = dict(raw["counts"])
    mismatches = []
    bytes_by_key = {}
    for o in r.kind("round", "resume", "cold", "query"):
        recs = r.shuffle_by_stage(o["id"], "shuffle_write_records")
        if o["kind"] in ("cold", "query"):
            recs = {"all": sum(recs.values())}
        for stage, v in recs.items():
            key = f"shuffle_records.{o['name']}.{stage}"
            if key in counts and counts[key] != v:
                mismatches.append(f"{o['kind']} {o['name']}: {key} {v} != {counts[key]}")
            counts.setdefault(key, v)
        for stage, v in r.shuffle_by_stage(o["id"], "shuffle_write_bytes").items():
            bytes_by_key.setdefault(f"{o['name']}.{stage}", []).append(v)
    for o in r.kind("probe"):
        for k in ("rows", "input_rows", "fetched", "links_out", "misses", "merged_rows"):
            if k in o:
                counts[f"probe.{o['name']}.{k}"] = o[k]
    return counts, mismatches, bytes_by_key


def unit_of(name):
    """Unit and direction of a per-layer metric, from its name."""
    leaf = name.rsplit(".", 1)[-1]
    if leaf.endswith("_s"):
        return "s", "lower"
    if leaf.endswith("_mb"):
        return "MB", "lower"
    if leaf == "ns_per_url":
        return "ns", "lower"
    if leaf == "ok_ratio":
        return "ratio", "higher"
    if leaf == "miss_ratio":
        return "ratio", "lower"
    if leaf == "virtual_ms_max":
        return "ms", "higher"
    if leaf in ("robots_denied", "commits"):
        return "count", "lower"
    return "count", "higher"
