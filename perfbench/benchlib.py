"""Pure logic of the graft benchmark: seeded plans and payloads, and the
metrics computed from one run's raw records. Kept free of I/O beyond the
payload writer so that tests can drive it directly."""

import json
import math
import os
import random
import statistics
from datetime import date, timedelta

# The operation mix of the `queries` workload: the median-cost query of
# each of 8 cost strata of the deployed registry queries outside the corpus
# families, then of each of 6 strata of the corpus families (dedup_, text_,
# sim_, mix_, pipeline_, multimodal_), by perfbench/expected.json. A fixed
# mix keeps the seed from changing what is measured; every deployed query
# would not fit one run (about 100 s at 4 cores).
MIX = [
    # analyst: driver-side build, planning and job launch dominate
    "f8_string_slice_maturity", "stats_gini_revenue", "window_first_last",
    "gold_rolling_zscore", "stats_two_proportion_ztest", "events_dau_wau",
    "q11_important_stock_having_scalar", "q18_large_volume_customers",
    # corpus: executor compute, kernels and eager builder jobs dominate
    "text_bpe_pair_counts", "multimodal_features", "sim_quantized_topk",
    "text_bpe_train", "dedup_components", "dedup_minhash_delta_stored",
]
# run untimed in every set-up; not part of the mix
WARMUP = ["f18_year_end_last_weekday"]
# Platform payloads follow the volume leg of graft.PlatformE2E: a space of
# 7,500 tickers (`o_custkey % 7500`) with 94,631 kr_etf_old rows over 20
# dates, so 4,732 rows a day. krx_codes lists every ticker of the space
# each day. The leg's 20 dates are stretched to DAYS so that a cycle has
# enough ingests for a median; how long a cycle takes is measured by
# `run.py --record` (perfbench/expected.json, platform.cycle_s). An
# untimed warm cycle over the first WARM_DAYS days comes first: ingest
# costs settle only after about 40 ingests.
TICKERS = 7500
ETF_ROWS = 4732
CODE_ROWS = TICKERS
DAYS = 30
WARM_DAYS = 15


# ---------------------------------------------------------------- statistics

def percentile(values, p, min_beyond=10):
    """Nearest-rank p-th percentile of `values`.

    Raises ValueError unless at least `min_beyond` samples lie beyond it:
    a run too short for a percentile cannot report it."""
    xs = sorted(values)
    rank = max(1, -(-len(xs) * p // 100))
    beyond = len(xs) - rank
    if not xs or beyond < min_beyond:
        raise ValueError(f"p{p} of {len(xs)} samples has {max(0, beyond)} beyond it, "
                         f"fewer than {min_beyond}")
    return xs[rank - 1]


def union_length(intervals, lo=None, hi=None):
    """Total length covered by (start, end) intervals, clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def failed(op):
    """An operation fails when it threw, when a check inside the run failed,
    or when its output fingerprint differs from the expected one."""
    return bool(op["error"]) or not op["ok"] or op["fp"] != op["expected_fp"]


def count_failures(ops):
    """(attempted, failed) over every operation of a run."""
    return len(ops), sum(1 for o in ops if failed(o))


# ------------------------------------------------------------------- plans

def query_passes(seconds, expected):
    """Timed passes that take about `seconds` at the reference costs. The
    work of a run depends on its arguments only, never on how fast it goes,
    so every run warms the JVM by the same amount."""
    return max(1, round(seconds / sum(expected[n]["cost_s"] for n in MIX)))


def query_plan(seed, expected, passes, trace):
    """Operations of `queries`: a warm pass over the mix, which is checked
    but not timed, then `passes` timed passes. The seed fixes the order of
    every timed pass. A traced plan runs each timed query twice in a row,
    one traced and one not (alternating which goes first), so the tracing
    overhead is measured on the same queries."""
    rng = random.Random(seed)
    # the warm pass runs in one fixed order, so that every seed starts its
    # timed passes from the same JIT state
    ops = [{"name": n, "pass": 0, "traced": False} for n in MIX]
    for p in range(1, passes + 1):
        for i, n in enumerate(rng.sample(MIX, len(MIX))):
            if trace:
                first = i % 2 == 0
                ops += [{"name": n, "pass": p, "traced": first},
                        {"name": n, "pass": p, "traced": not first}]
            else:
                ops.append({"name": n, "pass": p, "traced": False})
    return {"ops": ops, "warmup": WARMUP,
            "expected": {n: expected[n]["fp"] for n in MIX + WARMUP}}


def trading_days(n):
    d, out = date(2019, 1, 2), []
    while len(out) < n:
        if d.weekday() < 5:
            out.append(d.isoformat())
        d += timedelta(days=1)
    return out


def payloads(seed):
    """Bronze payloads for `kr_etf_old` and `krx_codes`, shaped like the
    volume leg of graft.PlatformE2E: {relative path: text}. Each day trades
    ETF_ROWS tickers of the space, drawn by the seed."""
    rng = random.Random(seed)
    tickers = [f"{t:06d}" for t in range(TICKERS)]
    price = {t: rng.randint(5000, 60000) for t in tickers}
    industry = {t: rng.randint(1, 150) for t in tickers}
    market = {t: rng.choice(("kospi", "kosdaq")) for t in tickers}
    files = {}
    for day in trading_days(DAYS):
        rows = []
        for t in sorted(rng.sample(tickers, ETF_ROWS)):
            prev = price[t]
            price[t] = max(100, round(prev * (1 + rng.gauss(0, 0.01))))
            rows.append(
                f'  {{"ISU_SRT_CD": "{t}", "ISU_ABBRV": "VOL {t}", '
                f'"TDD_CLSPRC": "{price[t]:,}", '
                f'"FLUC_RT": "{100.0 * (price[t] - prev) / prev:.2f}", '
                f'"ACC_TRDVOL": "{rng.randint(1, 5000000):,}"}}')
        files[f"kr_etf_old/ymd={day}/data.json"] = (
            '{"output": [\n' + ",\n".join(rows) +
            f'\n], "CURRENT_DATETIME": "{day} 18:00:05"}}')
        codes = [
            f'{{"item_code": "{t}", "item_name": "VOL {t}", '
            f'"industry_code": "{industry[t]:03d}", "market": "{market[t]}", '
            f'"issue_date": "{day}"}}' for t in tickers]
        files[f"krx_codes/ymd={day}/krx_codes_{day}.json"] = (
            "[" + ",\n ".join(codes) + "]")
    return files


def write_payloads(files, root):
    total = 0
    for rel, text in files.items():
        path = os.path.join(root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        data = text.encode("utf-8")
        with open(path, "wb") as f:
            f.write(data)
        total += len(data)
    return total


def platform_plan(seed, seconds, trace, cycle_s):
    """Operations of `platform`: one IngestJob.runFor per (source, day), in
    a seeded order, for as many cycles as take about `seconds` at the
    reference cycle time `cycle_s` (at least one), after an untimed warm
    cycle over the first WARM_DAYS days. A traced plan traces every other
    operation."""
    days = trading_days(DAYS)
    pairs = [(s, d) for d in days for s in ("kr_etf_old", "krx_codes")]
    random.Random(seed).shuffle(pairs)
    ops = [{"source": s, "day": d, "traced": trace and i % 2 == 0}
           for i, (s, d) in enumerate(pairs)]
    warmup = [{"source": s, "day": days[-1], "traced": False}
              for s in ("kr_etf_old", "krx_codes")]
    # in one fixed order, like the warm passes of `queries`
    warm_cycle = [{"source": s, "day": d, "traced": False}
                  for d in days[:WARM_DAYS] for s in ("kr_etf_old", "krx_codes")]
    return {"ops": ops, "warmup": warmup, "warm_cycle": warm_cycle,
            "cycles": max(1, round(seconds / cycle_s)),
            "rows": {"kr_etf_old": ETF_ROWS, "krx_codes": CODE_ROWS}}


# ----------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


TIMED_KINDS = ("query", "ingest")


def latencies(ops):
    """Latency samples: query or ingest operations. A failed operation
    counts as missing any latency limit, so it takes the slowest value."""
    timed = [o for o in ops if o["kind"] in TIMED_KINDS]
    worst = max((o["wall_s"] for o in timed), default=0.0)
    return [worst if failed(o) else o["wall_s"] for o in timed]


def typical_latency(ops):
    """`op_p50_s`: for each operation of the mix (a query, or the ingests of
    one source) the nearest-rank median of its latency samples, then the
    geometric mean of these medians. Every operation of the mix weighs the
    same, and the value does not jump from one operation's latency to
    another's, as the median of all samples of a mix does."""
    timed = [o for o in ops if o["kind"] in TIMED_KINDS]
    samples = {}
    for o, x in zip(timed, latencies(timed)):
        samples.setdefault(o["name"].split("/")[0], []).append(x)
    logs = [math.log(percentile(xs, 50, min_beyond=1)) for xs in samples.values()]
    return math.exp(sum(logs) / len(logs))


def end_to_end(raw):
    ops = [o for o in raw["ops"] if not o["traced"] and o["kind"] != "warm"]
    window = sum(o["wall_s"] for o in ops)
    return {
        "setup_s": (median([s["total_s"] for s in raw["setups"]]), "s"),
        "op_p50_s": (typical_latency(ops), "s"),
        "ops_per_s": (len(ops) / window if window else 0.0, "1/s"),
        "cpu_s_per_op": (sum(o["cpu_s"] for o in ops) / max(1, len(ops)), "s"),
    }


def self_times(spans, extra):
    """Self time per span name: the span's length minus the part of it that
    its children cover. `extra` holds child intervals measured by listeners
    (Catalyst phases, jobs) as (parent span id, name, start, end)."""
    children = {}
    for op, sid, parent, name, s, e in spans:
        children.setdefault(parent, []).append((s, e))
    for parent, name, s, e in extra:
        children.setdefault(parent, []).append((s, e))
    out = {}
    for op, sid, parent, name, s, e in spans:
        own = (e - s) - union_length(children.get(sid, []), s, e)
        out[name] = out.get(name, 0) + own
    by_name = {}
    for parent, name, s, e in extra:
        by_name.setdefault(name, []).append((s, e))
    for name, ivs in by_name.items():
        out[name] = out.get(name, 0) + union_length(ivs)
    return out


def _innermost(spans, op, t):
    best = None
    for o, sid, parent, name, s, e in spans:
        if o == op and s <= t <= e and (best is None or s >= best[1]):
            best = (sid, s)
    return best[0] if best else 0


def listener_intervals(raw):
    """Plan phases and jobs as child intervals of the spans they ran in."""
    spans = raw["spans"]
    extra = []
    for q in raw["queries"]:
        for phase in ("optimization", "planning"):
            if phase in q["phases"]:
                s, e = q["phases"][phase]
                extra.append((_innermost(spans, q["op"], (s + e) / 2), "plan", s, e))
    for op, sid, job, s, e in raw["jobs"]:
        extra.append((sid, "jobs", s, e))
    return extra


def per_layer(raw, cores):
    """Per-layer metrics of a traced run, each per traced operation unless
    its name says otherwise."""
    ops = raw["ops"]
    traced = [o for o in ops if o["traced"]]
    untraced = [o for o in ops if not o["traced"]]
    main = [o for o in traced if o["kind"] in TIMED_KINDS]
    n = max(1, len(main))
    ids = {o["id"] for o in main}
    spans = [s for s in raw["spans"] if s[0] in ids]
    span_name = {s[1]: s[3] for s in raw["spans"]}
    wall = sum(o["wall_s"] for o in main)

    def span_sum(name):
        return sum(e - s for op, sid, p, nm, s, e in spans if nm == name) / 1e9 / n

    jobs = [j for j in raw["jobs"] if j[0] in ids]
    build_jobs = [j for j in jobs if span_name.get(j[1]) == "build"]
    gap = 0.0
    for o in main:
        own = [(s, e) for op, sid, p, nm, s, e in spans if op == o["id"]]
        lo, hi = min(s for s, e in own), max(e for s, e in own)
        covered = union_length([(j[3], j[4]) for j in jobs if j[0] == o["id"]], lo, hi)
        gap += o["wall_s"] - covered / 1e9
    tasks = [raw["tasks"].get(str(i)) for i in ids]
    tasks = [t for t in tasks if t]
    tsum = lambda k: sum(t[k] for t in tasks)
    events = [q for q in raw["queries"] if q["op"] in ids]

    def phase(name):
        return sum(q["phases"][name][1] - q["phases"][name][0]
                   for q in events if name in q["phases"]) / 1e9 / n

    writes = [q for q in events if q["write"]]
    ingest_ids = {o["id"] for o in main if o["kind"] == "ingest"}

    def stage(kind):
        xs = [o["wall_s"] for o in traced if o["kind"] == kind]
        return median(xs)

    rerun_spans = {s[1] for s in raw["spans"] if s[3] == "rerun.ingest"}
    cycles = max(1, sum(1 for o in traced if o["kind"] == "pipeline.rerun"))
    lake = raw["extra"].get("lake", [])
    payload = raw["extra"].get("payload_bytes") or 0
    self_t = self_times(spans, [x for x in listener_intervals(raw)
                                if x[0] in {s[1] for s in spans}])
    mb = 1024.0 * 1024.0
    t_med = median([o["wall_s"] for o in main])
    u_med = median([o["wall_s"] for o in untraced if o["kind"] in TIMED_KINDS])
    setups = raw["setups"]
    m = {
        "queries.build_s": (span_sum("build"), "s"),
        "queries.build_jobs": (len(build_jobs) / n, "count"),
        "plan.analysis_s": (phase("analysis"), "s"),
        "plan.optimization_s": (phase("optimization"), "s"),
        "plan.planning_s": (phase("planning"), "s"),
        "plan.exchanges": (sum(q["exchanges"] for q in events) / n, "count"),
        "exec.driver_gap_s": (gap / n, "s"),
        "exec.jobs": (len(jobs) / n, "count"),
        "exec.tasks_per_job": (tsum("tasks") / max(1, len(jobs)), "count"),
        "exec.core_busy_frac": (tsum("run_ms") / 1e3 / (cores * wall) if wall else 0.0, "ratio"),
        "exec.task_run_s": (tsum("run_ms") / 1e3 / n, "s"),
        "exec.task_cpu_s": (tsum("cpu_ns") / 1e9 / n, "s"),
        "exec.task_gc_s": (tsum("gc_ms") / 1e3 / n, "s"),
        "exec.shuffle_read_mb": (tsum("shuffle_read_bytes") / mb / n, "MB"),
        "exec.shuffle_write_mb": (tsum("shuffle_write_bytes") / mb / n, "MB"),
        "exec.spill_mb": (tsum("spill_bytes") / mb / n, "MB"),
        "exec.peak_exec_mem_mb": (max((t["peak_exec_mem"] for t in tasks), default=0) / mb, "MB"),
        "sources.fetch_s": (span_sum("sources.fetch"), "s"),
        "sources.parse_s": (span_sum("sources.parse"), "s"),
        "io.write_s": (sum(q["duration_ns"] for q in writes if q["op"] in ingest_ids) / 1e9 / n, "s"),
        "io.files_written": (median([c["files"] for c in lake]), "count"),
        "io.bytes_written_mb": (median([c["bytes"] for c in lake]) / mb, "MB"),
        "io.stored_bytes_per_input_byte": (
            median([c["bytes"] for c in lake]) / payload if payload else 0.0, "ratio"),
        "pipeline.silver_s": (stage("pipeline.silver"), "s"),
        "gold.refresh_s": (stage("gold.refresh"), "s"),
        "pipeline.rerun_s": (stage("pipeline.rerun"), "s"),
        "pipeline.rerun_jobs": (sum(1 for j in raw["jobs"] if j[1] in rerun_spans) / cycles, "count"),
        "setup.session_s": (median([s["session_s"] for s in setups]), "s"),
        "setup.warmup_s": (median([s["warmup_s"] for s in setups]), "s"),
        "setup.cold_s": (raw["cold"]["cold_s"], "s"),
        "jvm.gc_s": (raw["cold"]["gc_s"], "s"),
        "self.build_s": (self_t.get("build", 0) / 1e9 / n, "s"),
        "self.exec_s": (self_t.get("exec", 0) / 1e9 / n, "s"),
        "self.jobs_s": (self_t.get("jobs", 0) / 1e9 / n, "s"),
        "self.ingest_s": (self_t.get("ingest", 0) / 1e9 / n, "s"),
        "trace.overhead_frac": (t_med / u_med - 1 if u_med else 0.0, "ratio"),
    }
    return m


def result_line(raw, trace, cores):
    """The last line of a run. Per-layer values keep 9 significant digits,
    nanosecond resolution for the times, so that the line stays under 2 KB."""
    attempted, n_failed = count_failures(raw["ops"])
    if trace:
        metrics = {k: (float(f"{v:.9g}"), u) for k, (v, u) in per_layer(raw, cores).items()}
    else:
        metrics = end_to_end(raw)
    return {"correct": n_failed == 0, "attempted": attempted, "failed": n_failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def dumps(line):
    return json.dumps(line, separators=(",", ":"))
