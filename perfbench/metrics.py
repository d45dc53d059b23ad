"""Turns the harness's result.json into checked metrics.

End-to-end metrics (untraced ops) have the same names on every workload;
what an "op" is differs per workload (see perfbench/NOTES.md). Times are
wall times with the hypervisor's steal taken out (see `unstolen`); the
printed lines give the raw wall times too.

    setup_s        median of the run's set-ups
    op_p50_s       median latency of the workload's headline op: an ETL
                   batch, or an MV refresh round (a cycle's five CALLs)
    mix_geomean_s  geometric mean over op groups of each group's median
    throughput     work units per busy second
    heap_peak_mb   peak old-generation occupancy after a GC

Per-layer metrics (traced ops) are in LAYER_METRICS; a workload reports 0
for a layer it bypasses.
"""
import glob
import importlib.util
import json
import math
import os
from decimal import Decimal

HEADLINE = {"etl_microbatch": "batch", "mv_refresh": "refresh"}
# The tail percentile printed beside the median. At the benchmark's run
# length no percentile leaves 10 samples above it (a run times 4-10
# headline ops), so the tail is not a gated metric; its line says how many
# samples lie beyond.
TAIL_PCT = 90
UNIT = {"etl_microbatch": "events", "mv_refresh": "ops"}
SHAPES = ["sum", "join", "leftouter", "distinct", "minmax"]
SKETCH = "q230_kmv_set_sketch"
# durationMs phases of a streaming micro-batch (StreamingQueryProgress)
STREAM_PHASES = ["addBatch", "queryPlanning", "walCommit", "commitOffsets"]

E2E_UNITS = {"setup_s": "s", "op_p50_s": "s", "mix_geomean_s": "s",
             "throughput": "1/s", "heap_peak_mb": "MB"}

LAYER_METRICS = (
    [("jobs.etl_run_s", "s"), ("ingest.bytes_read", "B"), ("silver.merge_s", "s"),
     ("silver.merge_jobs", "count"), ("silver.rows_rewritten_per_delta_row", "ratio"),
     ("gold.refresh_s", "s"), ("gold.files_written", "count"),
     ("sources.dml_s", "s"), ("sources.manifest_bytes", "B"), ("sources.live_files", "count")]
    + [(f"sources.refresh_s.{s}", "s") for s in SHAPES]
    + [(f"sources.refresh_jobs.{s}", "count") for s in SHAPES]
    + [("sources.refresh_incremental_ratio", "ratio"), ("sources.scan_bytes_read", "B"),
       ("sources.bloom_skips", "count"), ("sources.scan_file_ratio", "ratio"),
       ("plans.analysis_ms", "ms"), ("plans.optimization_ms", "ms"), ("plans.planning_ms", "ms"),
       ("plans.mv_rewrite_ratio", "ratio"),
       ("streaming.batches", "count")]
    + [(f"streaming.ms.{p}", "ms") for p in STREAM_PHASES]
    + [(f"ext.query_s.{SKETCH}", "s"),
       ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
       ("exec.sched_wait_s", "s"), ("exec.driver_only_s", "s"), ("exec.task_busy_s", "s"),
       ("exec.shuffle_read_bytes", "B"), ("exec.shuffle_write_bytes", "B"),
       ("exec.spill_bytes", "B"), ("exec.gc_s", "s"), ("exec.task_failures", "count"),
       ("trace.overhead_s", "s")])


def median(xs):
    xs = sorted(xs)
    if not xs:
        return 0.0
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def percentile(xs, p):
    """Nearest-rank percentile."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    return xs[max(0, math.ceil(p / 100 * len(xs)) - 1)]


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def unstolen(wall, cpu, steal):
    """Wall time less the share the hypervisor stole. On a shared host the
    machine loses CPU to its neighbours (the steal column of /proc/stat);
    during an op, cpu / (cpu + steal) is the share of its runnable time it
    actually ran, so the op would have taken that share of its wall time
    had nothing been stolen."""
    if cpu is None or steal is None or cpu + steal <= 0:
        return wall
    return wall * cpu / (cpu + steal)


def op_time(o):
    return unstolen(o["dur_s"], o["attrs"].get("cpu_s"), o["attrs"].get("steal_s"))


def headline(workload, ops, t=op_time):
    """Headline op times: each ETL batch, or each MV refresh round, the
    five `CALL refresh_materialized_view` of one cycle summed. The round,
    not the single refresh, is the MV headline: the five shapes differ in
    cost by 2x, so the median of one cycle's five refreshes jumps between
    shapes from run to run (quartile spread 0.19 over ten runs where the
    round's was 0.10). A round with a failed refresh is left out."""
    ok = [o for o in ops if o["ok"]]
    if workload == "etl_microbatch":
        return [t(o) for o in ok if o["kind"] == "batch"]
    rounds = {}
    for o in ok:
        if o["kind"] == "refresh":
            rounds.setdefault(o["id"].split("-")[0], []).append(t(o))
    return [sum(v) for v in rounds.values() if len(v) == len(SHAPES)]


def op_groups(workload, ops):
    """Op groups whose medians make up mix_geomean_s."""
    if workload == "etl_microbatch":
        return {k: [o["attrs"][k] * op_time(o) / o["dur_s"] for o in ops
                    if o["kind"] == "batch" and k in o["attrs"]]
                for k in ("etl_s", "merge_s", "refresh_s")}
    groups = {}
    for o in ops:
        key = o["attrs"].get("query") or o["attrs"].get("shape") or o["id"].split("-", 1)[-1]
        if workload == "mv_refresh" and o["kind"] == "dml":
            key = "dml"
        groups.setdefault(key, []).append(op_time(o))
    return groups


# -------------------------------------------------------------------- checks

def load_check_py():
    """The repository's DuckDB comparison rules (tools/check.py)."""
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "tools", "check.py")
    spec = importlib.util.spec_from_file_location("graft_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_problems(run_dir):
    """Warm-up results under out/warm/ against DuckDB running the engine's
    oracle SQL over the same generated tables."""
    import duckdb
    chk = load_check_py()
    sf = os.path.join(run_dir, "input", "sf")
    out = os.path.join(run_dir, "out")
    if not os.path.exists(os.path.join(out, "oracle_sql.json")):
        return ["no warm-up result to compare with DuckDB"], 0
    con = duckdb.connect()
    for t in chk.TABLES:
        if os.path.exists(f"{sf}/{t}.parquet"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    problems, checked = [], 0
    for d in sorted(glob.glob(os.path.join(out, "warm", "*"))):
        name = os.path.basename(d)
        got = chk.canon(con.sql(f"SELECT * FROM '{d}/*.parquet'").df())
        if name not in oracle:
            if len(got) == 0:
                problems.append(f"{name}: no rows and no oracle")
            continue
        exp = chk.canon(con.sql(oracle[name]).df())
        checked += 1
        if list(got.columns) != list(exp.columns):
            problems.append(f"{name}: columns {list(got.columns)} != {list(exp.columns)}")
            continue
        g, e = chk.frame_rows(got), chk.frame_rows(exp)
        if g != e:
            diff = next((i for i, (a, b) in enumerate(zip(g, e)) if a != b), min(len(g), len(e)))
            problems.append(f"{name}: differs from DuckDB ({len(g)} vs {len(e)} rows, first at {diff})")
    return problems, checked


def etl_problems(res, run_dir):
    with open(os.path.join(run_dir, "input", "expected.json")) as f:
        expected = json.load(f)
    facts, problems = res["facts"], []
    for o in res["ops"]:
        a, e = o["attrs"], expected[o["attrs"].get("batch", 0)]
        if o["ok"] and (a["user_events"], a["line_items"]) != (e["user_events"], e["line_items"]):
            problems.append(f"{o['id']}: EtlJob rows {a['user_events']}/{a['line_items']} "
                            f"!= {e['user_events']}/{e['line_items']}")
    if "last_batch" not in facts:
        return problems + ["no silver/gold readback"]
    e = expected[facts["last_batch"]]
    if (facts["silver_keys"], facts["silver_crc"]) != (e["silver_keys"], e["silver_crc"]):
        problems.append(f"silver keys {facts['silver_keys']}/{facts['silver_crc']} "
                        f"!= sidecar {e['silver_keys']}/{e['silver_crc']}")
    got = {k: (n, Decimal(v)) for k, (n, v) in facts["gold"].items()}
    want = {k: (n, Decimal(v)) for k, (n, v) in e["gold"].items()}
    if got != want:
        bad = sorted(set(got.items()) ^ set(want.items()))[:3]
        problems.append(f"gold sums differ from sidecar in {len(set(got) ^ set(want)) or len(bad)}"
                        f" cells, e.g. {bad}")
    return problems


# ------------------------------------------------------------ traced ledger

def attribute(res):
    """Attach jobs and planned queries to ops and spans."""
    ops = [o for o in res["ops"] if o["traced"]]
    for o in ops:
        o["end_ms"] = o["start_ms"] + o["dur_s"] * 1000
        o["jobs"], o["queries"] = [], []
    by_id = {o["id"]: o for o in ops}
    spans = {s["id"]: s for s in res["spans"]}

    def op_at(ms):
        for o in ops:
            if o["start_ms"] - 1 <= ms <= o["end_ms"] + 1:
                return o
        return None

    def span_at(op_id, ms):
        inner = [s for s in res["spans"] if s["op"] == op_id and s["start_ms"] <= ms <= s["end_ms"]]
        return max(inner, key=lambda s: s["start_ms"], default=None)

    for j in res["jobs"]:
        op_id, _, sid = j["group"].partition("|")
        o = by_id.get(op_id) or op_at(j["start_ms"])
        if o is None:
            continue
        s = spans.get(int(sid)) if sid.isdigit() else span_at(o["id"], j["start_ms"])
        j["span"] = s["name"] if s else o["kind"]
        j["layer"] = s["layer"] if s else "op"
        o["jobs"].append(j)
    for q in res["queries"]:
        o = op_at(q["ms"])
        if o:
            s = span_at(o["id"], q["ms"])
            q["layer"] = s["layer"] if s else "op"
            o["queries"].append(q)
    for o in ops:
        o["progress"] = [p for p in res["progress"] if o["start_ms"] - 1 <= p["ms"] <= o["end_ms"] + 1]
    return ops


def ledger(ops):
    """Per-op counted work: what the exact-repeat check compares."""
    out = {}
    for o in ops:
        js, qs = o["jobs"], o["queries"]
        out[o["id"]] = {
            "jobs": len(js), "stages": sum(j["stages"] for j in js),
            "tasks": sum(j["tasks"] for j in js),
            "input_files": sum(q["filesRead"] + q["scanRanges"] for q in qs),
            "input_bytes": sum(j["in_bytes"] for j in js) + sum(q["scanBytes"] for q in qs),
            "shuffle_bytes": sum(j["shuffle_read"] + j["shuffle_write"] for j in js),
            "bytes_written": sum(j["out_bytes"] for j in js),
            "files_written": sum(q["filesWritten"] for q in qs)}
    return out


def union_ms(intervals, lo, hi):
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(lo, a), min(hi, b)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def layer_metrics(workload, res, ops, untraced):
    m = {name: 0.0 for name, _ in LAYER_METRICS}
    head = [o for o in ops if o["kind"] == HEADLINE[workload] and o["ok"]]
    span_dur = {}
    for s in res["spans"]:
        span_dur.setdefault((s["op"], s["name"]), 0.0)
        span_dur[(s["op"], s["name"])] += s["dur_s"]

    def span_med(name, kind=None):
        return median([span_dur.get((o["id"], name), 0.0) for o in ops
                       if o["ok"] and (kind is None or o["kind"] == kind)])

    def jobs_in(o, span):
        return [j for j in o["jobs"] if j["span"] == span]

    if workload == "etl_microbatch":
        m["jobs.etl_run_s"] = span_med("EtlJob.run")
        m["silver.merge_s"] = span_med("MergeUpsert.merge")
        m["gold.refresh_s"] = span_med("Incremental.refreshAdditive")
        m["ingest.bytes_read"] = mean([sum(j["in_bytes"] for j in jobs_in(o, "EtlJob.run")) for o in head])
        m["silver.merge_jobs"] = mean([len(jobs_in(o, "MergeUpsert.merge")) for o in head])
        rewritten = sum(sum(j["out_records"] for j in jobs_in(o, "MergeUpsert.merge")) for o in head)
        delta = sum(o["attrs"]["user_events"] for o in head)
        m["silver.rows_rewritten_per_delta_row"] = rewritten / delta if delta else 0.0
        m["gold.files_written"] = mean([sum(q["filesWritten"] for q in o["queries"] if q["layer"] == "gold")
                                        for o in head])
    if workload == "mv_refresh":
        dml = [o for o in ops if o["kind"] == "dml" and o["ok"]]
        m["sources.dml_s"] = span_med("sql", "dml")
        m["sources.manifest_bytes"] = mean([o["attrs"].get("manifest_bytes", 0) for o in dml])
        m["sources.live_files"] = mean([o["attrs"].get("live_files", 0) for o in dml])
        for s in SHAPES:
            sel = [o for o in head if o["attrs"].get("shape") == s]
            m[f"sources.refresh_s.{s}"] = median([span_dur.get((o["id"], f"refresh.{s}"), 0.0) for o in sel])
            m[f"sources.refresh_jobs.{s}"] = mean([len(o["jobs"]) for o in sel])
        m["sources.refresh_incremental_ratio"] = (
            sum(1 for o in head if str(o["attrs"].get("mode", "")).startswith("incremental"))
            / len(head) if head else 0.0)
        dash = [o for o in ops if o["kind"] == "dashboard"]
        m["plans.mv_rewrite_ratio"] = (sum(1 for o in dash if o["attrs"].get("mv_routed"))
                                       / len(dash) if dash else 0.0)
        stream = [o for o in ops if o["kind"] == "stream" and o["ok"]]
        m["streaming.batches"] = mean([len(o["progress"]) for o in stream])
        for p in STREAM_PHASES:
            m[f"streaming.ms.{p}"] = median([sum(x["durationMs"].get(p, 0) for x in o["progress"])
                                             for o in stream])
        m[f"ext.query_s.{SKETCH}"] = span_med(SKETCH, "sketch")
    planned = [o for o in ops if o["ok"] and o["kind"] == {"mv_refresh": "dashboard"}.get(
        workload, HEADLINE[workload])]
    for k, name in (("analysisMs", "analysis_ms"), ("optimizationMs", "optimization_ms"),
                    ("planningMs", "planning_ms")):
        m[f"plans.{name}"] = median([sum(q[k] for q in o["queries"]) for o in planned])
    scans = [q for o in head for q in o["queries"]]
    m["sources.scan_bytes_read"] = mean([sum(q["scanBytes"] for q in o["queries"]) for o in head])
    m["sources.bloom_skips"] = mean([sum(q["bloomSkips"] for q in o["queries"]) for o in head])
    manifest = sum(q["manifestFiles"] for q in scans)
    m["sources.scan_file_ratio"] = sum(q["scanRanges"] for q in scans) / manifest if manifest else 0.0
    js = lambda o, k: sum(j[k] for j in o["jobs"])  # noqa: E731
    m["exec.jobs"] = mean([len(o["jobs"]) for o in head])
    m["exec.stages"] = mean([js(o, "stages") for o in head])
    m["exec.tasks"] = mean([js(o, "tasks") for o in head])
    m["exec.sched_wait_s"] = median([js(o, "sched_wait_ms") / 1000 for o in head])
    m["exec.task_busy_s"] = median([js(o, "busy_ms") / 1000 for o in head])
    m["exec.gc_s"] = median([js(o, "gc_ms") / 1000 for o in head])
    m["exec.shuffle_read_bytes"] = mean([js(o, "shuffle_read") for o in head])
    m["exec.shuffle_write_bytes"] = mean([js(o, "shuffle_write") for o in head])
    m["exec.spill_bytes"] = mean([js(o, "spill") for o in head])
    m["exec.task_failures"] = float(sum(js(o, "failures") for o in ops))
    m["exec.driver_only_s"] = median([
        o["dur_s"] - union_ms([(j["start_ms"], j["end_ms"]) for j in o["jobs"]],
                              o["start_ms"], o["end_ms"]) / 1000 for o in head])
    # each traced op's untraced twin (same id) ran just before it
    ids = {o["id"] for o in ops}
    m["trace.overhead_s"] = (median(headline(workload, ops))
                             - median(headline(workload, [o for o in untraced if o["id"] in ids])))
    return m


def span_lines(res, ops):
    """Self time per span (median over ops) and the span nesting check.

    Every span's children must lie inside its own interval, must not
    overlap one another and so add up to no more than the span itself
    (self time >= 0); every op's root span must match the op's own timer.
    The line reports the largest violation of any of these."""
    ok_ids = {o["id"] for o in ops if o["ok"]}
    kids = {}
    for s in res["spans"]:
        kids.setdefault(s["parent"], []).append(s)
    dur = {o["id"]: o["dur_s"] for o in ops}
    selfs, worst, where = {}, 0.0, ""

    def violation(amount, what):
        nonlocal worst, where
        if amount > worst:
            worst, where = amount, what

    for s in res["spans"]:
        if s["op"] not in ok_ids:
            continue
        children = sorted(kids.get(s["id"], []), key=lambda c: c["start_ms"])
        self_s = s["dur_s"] - sum(c["dur_s"] for c in children)
        selfs.setdefault((s["layer"], s["name"]), []).append(self_s)
        violation(-self_s, f"{s['op']}/{s['name']} self time {self_s * 1000:.3f} ms")
        for c in children:
            # wall-clock ms stamps: 1 ms of rounding either side is not a fault
            out = max(s["start_ms"] - c["start_ms"], c["end_ms"] - s["end_ms"]) - 1
            violation(out / 1000, f"{s['op']}/{c['name']} outside {s['name']} by {out} ms")
        for a, b in zip(children, children[1:]):
            over = a["end_ms"] - b["start_ms"] - 1
            violation(over / 1000, f"{s['op']}/{a['name']} overlaps {b['name']} by {over} ms")
        if s["parent"] == -1:
            off = abs(dur[s["op"]] - s["dur_s"])
            violation(off, f"{s['op']} root span {off * 1000:.3f} ms off the op timer")
    lines = [f"span self_s {layer}/{name}: p50 {median(v):.4f} s over {len(v)}"
             for (layer, name), v in sorted(selfs.items())]
    lines.append(f"span nesting check: largest violation {worst * 1000:.3f} ms "
                 f"({'ok' if worst <= 0.005 else 'MISMATCH: ' + where}, limit 5 ms)")
    return lines


# -------------------------------------------------------------------- report

def report(workload, res, run_dir, traced):
    problems, lines = [], []
    if res.get("fatal"):
        problems.append(f"harness failed: {res['fatal']}")
    for name, err in res["warmup_failures"].items():
        problems.append(f"{'check' if name.startswith('check-') else 'warm-up'} {name} failed: {err}")
    for c in res["checks"]:
        if not c["ok"]:
            problems.append(f"check {c['name']}: {c['detail']}")
    if workload == "etl_microbatch":
        problems += etl_problems(res, run_dir)
    if workload == "mv_refresh":
        oracle, n = oracle_problems(run_dir)
        problems += oracle
        sketches = sum(1 for c in res["checks"] if c["name"].endswith(f"{SKETCH}-hash"))
        lines.append(f"oracle: {n} warm-up results compared with DuckDB, "
                     f"{sketches} timed results hash-compared with the warm-up")
        modes = {}
        for o in res["ops"]:
            if o["kind"] == "refresh" and o["ok"]:
                modes.setdefault(o["attrs"]["shape"], {}).setdefault(o["attrs"]["mode"], 0)
                modes[o["attrs"]["shape"]][o["attrs"]["mode"]] += 1
        lines.append(f"refresh modes: {json.dumps(modes, sort_keys=True)}")
        lines.append(f"MV checks: {sum(1 for c in res['checks'] if c['ok'])} passed, "
                     f"{sum(1 for c in res['checks'] if not c['ok'])} failed")

    phase = [o for o in res["ops"] if o["traced"] == traced]
    untraced = [o for o in res["ops"] if not o["traced"]]
    attempted = len(phase) + len(res["warmup_failures"])
    failed = sum(1 for o in phase if not o["ok"]) + len(res["warmup_failures"])
    for o in phase:
        if not o["ok"]:
            lines.append(f"op {o['id']} failed: {o['err']}")
    ok = [o for o in untraced if o["ok"]]
    head = headline(workload, ok)
    head_wall = headline(workload, ok, lambda o: o["dur_s"])
    busy = sum(op_time(o) for o in ok)
    setups = [unstolen(s["wall_s"], s["cpu_s"], s["steal_s"]) for s in res["setup_s"]]
    stolen = sum(o["attrs"].get("steal_s", 0) for o in ok)
    if workload == "etl_microbatch":
        units = sum(o["attrs"]["user_events"] + o["attrs"]["line_items"] for o in ok)
    else:
        units = len(ok)
    groups = op_groups(workload, ok)
    e2e = {"setup_s": median(setups), "op_p50_s": median(head),
           "mix_geomean_s": geomean([median(v) for v in groups.values()]),
           "throughput": units / busy if busy else 0.0,
           "heap_peak_mb": res["heap_peak_mb"]}

    # the same figures under the workload's own names
    named = {"etl_microbatch": "batch", "mv_refresh": "refresh_round"}[workload]
    lines.append(f"setup_s: {e2e['setup_s']:.4f} s (median of {[round(x, 3) for x in setups]}; "
                 f"wall {[round(s['wall_s'], 3) for s in res['setup_s']]})")
    lines.append(f"{named}_p50_s: {e2e['op_p50_s']:.4f} s over {len(head)} ops "
                 f"(wall {median(head_wall):.4f} s)")
    # the tail is over single ops: ETL batches, MV refreshes
    single = [op_time(o) for o in ok if o["kind"] == HEADLINE[workload]]
    tail = TAIL_PCT
    beyond = sum(1 for x in single if x > percentile(single, tail))
    if workload == "mv_refresh":
        lines.append(f"refresh_p50_s: {median(single):.4f} s over {len(single)} refreshes")
    lines.append(f"{HEADLINE[workload]}_tail_s: {percentile(single, tail):.4f} s "
                 f"(p{tail} over {len(single)}, {beyond} samples beyond)")
    lines.append(f"steal: {stolen:.2f} CPU-s stolen during {sum(o['dur_s'] for o in ok):.2f} s of ops")
    lines.append(f"mix_geomean_s: {e2e['mix_geomean_s']:.4f} s over {len(groups)} groups")
    lines.append(f"{UNIT[workload]}_per_s: {e2e['throughput']:.3f} 1/s")
    if workload == "mv_refresh":
        for kind in ("dml", "dashboard"):
            d = [op_time(o) for o in ok if o["kind"] == kind]
            lines.append(f"{kind}_p50_s: {median(d):.4f} s over {len(d)} ops")
    lines.append(f"write_amp: {write_amp(workload, res, run_dir, untraced):.3f} B/B")
    lines.append(f"heap_peak_mb: {e2e['heap_peak_mb']:.1f} MB")
    lines.append("run stages, s since JVM start: " + ", ".join(
        f"{k} {v:.1f}" for k, v in res["facts"].get("stages", {}).items()))
    lines.append(f"fail_ratio: {failed / attempted if attempted else 0.0:.4f} "
                 f"({failed} of {attempted} ops)")

    if not traced:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    else:
        ops = attribute(res)
        m = layer_metrics(workload, res, ops, untraced)
        metrics = {name: {"value": m[name], "unit": unit} for name, unit in LAYER_METRICS}
        lines += span_lines(res, ops)
        led = ledger(ops)
        with open(os.path.join(run_dir, "out", "ledger.json"), "w") as f:
            json.dump(led, f, indent=0, sort_keys=True)
        lines.append(f"ledger: {len(led)} traced ops written to out/ledger.json")
        lines.append(f"trace overhead: {m['trace.overhead_s']:+.4f} s on {named}_p50_s "
                     f"(traced minus untraced run of the same op ids)")
        for name, unit in LAYER_METRICS:
            lines.append(f"{name}: {m[name]:.6g} {unit}")
    return {"lines": lines, "problems": problems, "attempted": attempted,
            "failed": failed, "metrics": metrics}


def write_amp(workload, res, run_dir, untraced):
    """Bytes written under table directories per generated input byte."""
    ok = [o for o in untraced if o["ok"]]
    if workload == "etl_microbatch":
        inp = sum(o["attrs"]["input_bytes"] for o in ok)
        return res["facts"].get("bytes_written", 0) / inp if inp else 0.0
    lo = min((o["start_ms"] for o in untraced), default=0) / 1000
    hi = max((o["start_ms"] / 1000 + o["dur_s"] for o in untraced), default=0)
    written = 0
    # the untraced pass ran on the last set-up; only its files changed then
    work = os.path.dirname(res["facts"]["tables_dir"])
    for root, _, files in os.walk(work):
        if not os.path.relpath(root, work).startswith("mv_"):
            continue
        for f in files:
            st = os.stat(os.path.join(root, f))
            if lo <= st.st_mtime <= hi:
                written += st.st_size
    cycles = {o["id"][:4] for o in untraced}
    inp = 0
    for c in cycles:
        for kind in ("fact", "dim"):
            p = os.path.join(run_dir, "input", "deltas", f"{kind}_{c[1:]}.parquet")
            if os.path.exists(p):
                inp += os.path.getsize(p)
    return written / inp if inp else 0.0
