"""Pure arithmetic on the harness's raw measurements.

Everything here is a function of plain Python data (no Spark, no files),
so test_metrics.py can pin the benchmark's own logic: the pass median,
the tail-percentile choice, error counting, the seeded op order, span
self times and the per-layer roll-up of a traced run.
"""
import bisect
import random
import re
import statistics

# op_tail_ms is the highest percentile that still has this many timed ops
# ranked above it.
TAIL_MIN_BEYOND = 10

# Span nesting levels of the traced run: an instant of an op's wall is
# charged to the deepest span active at that instant.
LEVELS = {"harness": 1, "registry.fn": 2, "registry.count": 2,
          "catalyst": 3, "memo": 3, "streaming": 3,
          "scheduler": 4, "executor": 5}

PAIRWISE = ("dedup_near", "dedup_containment", "dedup_minhash",
            "dedup_simhash", "dedup_embed", "sim_knn_graph", "sim_ann_ivf")

MF_ITERS = 4
PA_ITERS = 5

END_TO_END = {"pass_s": "s", "op_p50_ms": "ms", "op_tail_ms": "ms", "cpu_s": "s",
              "error_rate": "ratio", "setup_s": "s", "peak_rss_mb": "MB"}

PER_LAYER = {
    "session.build_ms": "ms",
    "registry.fn_ms": "ms", "registry.count_ms": "ms",
    "memo.misses": "count", "memo.build_ms": "ms",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms", "catalyst.executions": "count",
    "codegen.compile_ms": "ms", "codegen.classes": "count",
    "scheduler.jobs": "count", "scheduler.stages": "count",
    "scheduler.tasks": "count", "scheduler.delay_ms": "ms",
    "scheduler.driver_gap_ms": "ms", "scheduler.failed_tasks": "count",
    "executor.run_ms": "ms", "executor.cpu_ms": "ms", "executor.deser_ms": "ms",
    "executor.busy_share": "ratio", "executor.stage_skew": "ratio",
    "shuffle.write_bytes": "bytes", "shuffle.write_records": "count",
    "shuffle.read_bytes": "bytes", "shuffle.fetch_wait_ms": "ms",
    "shuffle.write_ms": "ms", "shuffle.spill_bytes": "bytes",
    "operators.pair_yield": "ratio",
    "sources.bytes_read": "bytes", "sources.records_read": "count",
    "sources.bytes_written": "bytes", "sources.records_written": "count",
    "memory.peak_exec_bytes": "bytes", "memory.storage_bytes": "bytes",
    "streaming.batches": "count", "streaming.input_rows": "count",
    "streaming.trigger_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.commit_ms": "ms", "streaming.state_rows": "count",
    "streaming.lifecycle_ms": "ms",
    "ps.mf_train_ms": "ms", "ps.pa_train_ms": "ms", "ps.iter_ms": "ms",
    "jvm.gc_ms": "ms", "jvm.jit_ms": "ms",
    "self_ms.harness": "ms", "self_ms.registry.fn": "ms",
    "self_ms.registry.count": "ms", "self_ms.catalyst": "ms",
    "self_ms.memo": "ms", "self_ms.streaming": "ms",
    "self_ms.scheduler": "ms", "self_ms.executor": "ms",
    "trace.overhead_s": "s",
}


def median(values):
    return statistics.median(values) if values else 0.0


def percentile(values, p):
    """Linear-interpolated percentile (numpy's default method)."""
    s = sorted(values)
    if not s:
        return 0.0
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail_percentile(values):
    """(percentile, value, samples) for op_tail_ms: the highest percentile
    with TAIL_MIN_BEYOND samples ranked above it, i.e. the
    (TAIL_MIN_BEYOND + 1)-th largest sample, whose linear-interpolation
    percentile is 100 * k / (n - 1) for sorted index k. With too few
    samples for any, the median."""
    s = sorted(values)
    n = len(s)
    if n <= TAIL_MIN_BEYOND:
        return 50.0, percentile(s, 50.0), n
    k = n - 1 - TAIL_MIN_BEYOND
    return 100.0 * k / (n - 1), s[k], n


def pass_order(members, seed, pass_index):
    """The seeded permutation of a workload's ops for one pass."""
    order = list(members)
    random.Random(f"{seed}:{pass_index}").shuffle(order)
    return order


def traced_pass(pass_index):
    """Traced runs alternate untraced and traced passes over an odd count,
    untraced first and last, so a steady drift in pass time (JIT warm-up)
    cancels out of the tracing overhead."""
    return pass_index % 2 == 1


def sample_seed(seed):
    """Seed of a run's trainer-input samples."""
    return random.Random(f"{seed}:sample").randrange(1, 2**31)


def op_failed(op):
    """An op fails when it threw or returned a wrong result."""
    return bool(op.get("error") or op.get("mismatch"))


def error_counts(ops):
    """(attempted, failed) over every op of a run."""
    return len(ops), sum(1 for o in ops if op_failed(o))


def host_delta(stat0, stat1, my_cpu_s):
    """(steal_s, busy_other_s) of the host over a window, from two
    /proc/stat "cpu" lines, by the formula graft.Bench.hostDelta uses."""
    if not stat0 or not stat1:
        return -1.0, -1.0
    d = [b - a for a, b in zip(stat0, stat1)]
    steal = d[7] / 100.0 if len(d) > 7 else -1.0
    idle = d[3] / 100.0 + (d[4] / 100.0 if len(d) > 4 else 0.0)
    busy_other = max(0.0, sum(d) / 100.0 - idle - max(0.0, my_cpu_s))
    return steal, busy_other


_MEMO_LINE = re.compile(r"^\[graft pid=(\d+) t=(\d+)\] (.*)$")
_BUILT = re.compile(r"^(\S+) built in ([0-9.]+) s")


def memo_events(lines, pid):
    """Memo misses and builds from BuildLog lines carrying `pid`:
    a list of (kind, name, start_ms, end_ms), kind "miss" or "build"."""
    out = []
    for line in lines:
        m = _MEMO_LINE.match(line.strip())
        if not m or int(m.group(1)) != pid:
            continue
        t = float(m.group(2))
        msg = m.group(3)
        if msg.startswith("memo miss: "):
            out.append(("miss", msg[len("memo miss: "):].split(" ")[0], t, t))
        else:
            b = _BUILT.match(msg)
            if b:
                out.append(("build", b.group(1), t - float(b.group(2)) * 1000.0, t))
    return out


def self_times(window, spans):
    """Charge every instant of `window` = (start, end) to exactly one span.

    `spans` is a list of (layer, start, end); each is clipped to the
    window and the window itself is the "harness" span. An instant goes
    to the active span of the highest LEVELS value, ties to the one that
    started last, so overlapping children are never double counted and
    the self times sum to the window's length. Returns {layer: ms}.
    """
    w0, w1 = window
    clipped = [("harness", w0, w1)]
    for layer, s, e in spans:
        s, e = max(s, w0), min(e, w1)
        if e > s:
            clipped.append((layer, s, e))
    cuts = sorted({p for _, s, e in clipped for p in (s, e)})
    out = {}
    for a, b in zip(cuts, cuts[1:]):
        best = None
        for layer, s, e in clipped:
            if s <= a and e >= b:
                key = (LEVELS[layer], s)
                if best is None or key > best[0]:
                    best = (key, layer)
        out[best[1]] = out.get(best[1], 0.0) + (b - a)
    return out


def covered(window, intervals):
    """Length of `window` covered by the union of `intervals`."""
    w0, w1 = window
    iv = sorted((max(s, w0), min(e, w1)) for s, e in intervals)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
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


def end_to_end(raw, workers):
    """The seven end-to-end metrics of an untraced run, plus context."""
    timed = [p for p in raw["passes"] if p["index"] >= 0]
    timed_ops = [o for o in raw["ops"] if o["pass"] >= 0]
    lat = [o["end_ms"] - o["start_ms"] for o in timed_ops]
    tail_p, tail_v, tail_n = tail_percentile(lat)
    attempted, failed = error_counts(raw["ops"])
    cpu_window_s = raw["window_cpu_ns"] / 1e9
    steal, busy_other = host_delta(raw["proc_stat_start"], raw["proc_stat_end"],
                                   cpu_window_s)
    e2e = {
        "pass_s": (median([(p["end_ms"] - p["start_ms"]) / 1000.0 for p in timed]), "s"),
        "op_p50_ms": (median(lat), "ms"),
        "op_tail_ms": (tail_v, "ms"),
        "cpu_s": (median([p["cpu_ns"] / 1e9 for p in timed]), "s"),
        "error_rate": (failed / attempted if attempted else 1.0, "ratio"),
        "setup_s": ((raw["first_timed_op_ms"] - raw["jvm_start_ms"]) / 1000.0, "s"),
        "peak_rss_mb": (raw["vm_hwm_kb"] / 1024.0, "MB"),
    }
    by_qid = {}
    for o in timed_ops:
        by_qid.setdefault(o["qid"], []).append(o["end_ms"] - o["start_ms"])
    context = {
        "passes": len(timed), "workers": workers,
        "pass_walls_s": [round((p["end_ms"] - p["start_ms"]) / 1000.0, 3) for p in timed],
        "pass_cpu_s": [round(p["cpu_ns"] / 1e9, 3) for p in timed],
        "op_tail_percentile": tail_p, "op_tail_samples": tail_n,
        "host_steal_s": round(steal, 2), "host_busy_other_s": round(busy_other, 2),
        "window_s": round(raw["window_ms"] / 1000.0, 3),
        "op_median_ms": {q: round(median(v), 1) for q, v in sorted(by_qid.items())},
        "session_build_s": round(raw["session_build_ms"] / 1000.0, 3),
        "warmup_op_ms": {o["qid"]: round(o["end_ms"] - o["start_ms"], 1)
                         for o in raw["ops"] if o["pass"] < 0},
        "warmup_check_s": round(sum(o["check_ms"] for o in raw["ops"]
                                    if o["pass"] < 0) / 1000.0, 3),
    }
    return e2e, attempted, failed, context


def _attribute(ops, t):
    """Index of the op whose window contains time t, or None."""
    starts = [o["start_ms"] for o in ops]
    i = bisect.bisect_right(starts, t) - 1
    if i >= 0 and t <= ops[i]["end_ms"]:
        return i
    return None


def _layer_pass(pass_rec, ops, trace, memo, workers):
    """Per-layer metrics of one traced pass, and its op self times."""
    w0, w1 = pass_rec["start_ms"], pass_rec["end_ms"]
    per_op_spans = [[("registry.fn", o["start_ms"], o["fn_end_ms"]),
                     ("registry.count", o["fn_end_ms"], o["end_ms"])] for o in ops]
    jobs_by_op = [[] for _ in ops]
    m = {}

    def add(k, v):
        m[k] = m.get(k, 0.0) + v

    for _, s, e in trace["jobs"]:
        i = _attribute(ops, s)
        if i is not None:
            add("scheduler.jobs", 1)
            per_op_spans[i].append(("scheduler", s, e))
            jobs_by_op[i].append((s, e))
    for _, _, s, e, _ in trace["stages"]:
        i = _attribute(ops, s)
        if i is not None:
            add("scheduler.stages", 1)
            per_op_spans[i].append(("executor", s, e))
    tasks = [t for t in trace["tasks"] if _attribute(ops, t[2]) is not None]
    stage_runs = {}
    shuffle_rec_by_op = [0] * len(ops)
    for t in tasks:
        (stage, _, fin, failed, run, cpu_ns, deser, rser, sw_b, sw_r, sw_ns,
         sr_b, fetch, spill, peak, in_b, in_r, out_b, out_r, dur) = t
        add("scheduler.tasks", 1)
        add("scheduler.failed_tasks", 1 if failed else 0)
        add("scheduler.delay_ms", max(0, dur - run - deser - rser))
        add("executor.run_ms", run)
        add("executor.cpu_ms", cpu_ns / 1e6)
        add("executor.deser_ms", deser)
        add("shuffle.write_bytes", sw_b)
        add("shuffle.write_records", sw_r)
        add("shuffle.read_bytes", sr_b)
        add("shuffle.fetch_wait_ms", fetch)
        add("shuffle.write_ms", sw_ns / 1e6)
        add("shuffle.spill_bytes", spill)
        add("sources.bytes_read", in_b)
        add("sources.records_read", in_r)
        add("sources.bytes_written", out_b)
        add("sources.records_written", out_r)
        m["memory.peak_exec_bytes"] = max(m.get("memory.peak_exec_bytes", 0), peak)
        stage_runs.setdefault(stage, []).append(run)
        shuffle_rec_by_op[_attribute(ops, fin)] += sw_r
    skews = [max(r) / max(median(r), 1.0) for r in stage_runs.values() if len(r) >= 2]
    m["executor.stage_skew"] = statistics.mean(skews) if skews else 1.0
    wall = w1 - w0
    m["executor.busy_share"] = m.get("executor.run_ms", 0.0) / (workers * wall) if wall else 0.0

    for name, s, e in trace["phases"]:
        i = _attribute(ops, s)
        if i is None:
            continue
        if name == "execution":
            add("catalyst.executions", 1)
        elif name in ("analysis", "optimization", "planning"):
            add(f"catalyst.{name}_ms", e - s)
            per_op_spans[i].append(("catalyst", s, e))

    last_state = {}
    trig_ms_by_op = [0.0] * len(ops)
    for qid, _, s, trig, add_b, commit, rows, state in trace["triggers"]:
        i = _attribute(ops, s)
        if i is None:
            continue
        add("streaming.batches", 1)
        add("streaming.input_rows", rows)
        add("streaming.trigger_ms", trig)
        add("streaming.add_batch_ms", add_b)
        add("streaming.commit_ms", commit)
        last_state[qid] = state
        trig_ms_by_op[i] += trig
        per_op_spans[i].append(("streaming", s, s + trig))
    m["streaming.state_rows"] = sum(last_state.values())
    m["streaming.lifecycle_ms"] = sum(
        (o["end_ms"] - o["start_ms"]) - trig_ms_by_op[i]
        for i, o in enumerate(ops) if trig_ms_by_op[i] > 0)

    for kind, _, s, e in memo:
        i = _attribute(ops, e)
        if i is None:
            continue
        if kind == "miss":
            add("memo.misses", 1)
        else:
            add("memo.build_ms", e - s)
            per_op_spans[i].append(("memo", s, e))

    gap = 0.0
    pair_rows = pair_recs = 0
    for i, o in enumerate(ops):
        win = (o["start_ms"], o["end_ms"])
        add("registry.fn_ms", o["fn_end_ms"] - o["start_ms"])
        add("registry.count_ms", o["end_ms"] - o["fn_end_ms"])
        gap += (win[1] - win[0]) - covered(win, jobs_by_op[i])
        if o["qid"] in PAIRWISE and o["rows"] > 0:
            pair_rows += o["rows"]
            pair_recs += shuffle_rec_by_op[i]
        if o["qid"] == "@mf_train":
            m["ps.mf_train_ms"] = win[1] - win[0]
        if o["qid"] == "@pa_train":
            m["ps.pa_train_ms"] = win[1] - win[0]
    m["scheduler.driver_gap_ms"] = gap
    m["operators.pair_yield"] = pair_rows / pair_recs if pair_recs else 0.0
    trained = m.get("ps.mf_train_ms", 0.0) + m.get("ps.pa_train_ms", 0.0)
    m["ps.iter_ms"] = trained / (MF_ITERS + PA_ITERS) if trained else 0.0
    m["memory.storage_bytes"] = pass_rec.get("storage_bytes", 0)
    m["codegen.compile_ms"] = pass_rec["codegen_compile_ns"] / 1e6
    m["codegen.classes"] = pass_rec["codegen_classes"]
    m["jvm.gc_ms"] = pass_rec["gc_ms"]
    m["jvm.jit_ms"] = pass_rec["jit_ms"]

    selfs = [self_times((o["start_ms"], o["end_ms"]), per_op_spans[i])
             for i, o in enumerate(ops)]
    for st in selfs:
        for layer, v in st.items():
            add(f"self_ms.{layer}", v)
    err = max((abs(sum(st.values()) - (o["end_ms"] - o["start_ms"]))
               for st, o in zip(selfs, ops)), default=0.0)
    return m, err


def per_layer(raw, memo_lines, workers):
    """Per-layer metrics of a traced run: each the median over traced
    passes, plus the tracing overhead and the self-time closure check."""
    memo = memo_events(memo_lines, raw["pid"])
    traced = [p for p in raw["passes"] if p["index"] >= 0 and p["traced"]]
    plain = [p for p in raw["passes"] if p["index"] >= 0 and not p["traced"]]
    per_pass, worst = [], 0.0
    for p in traced:
        ops = [o for o in raw["ops"] if o["pass"] == p["index"]]
        in_pass = [e for e in memo if p["start_ms"] <= e[3] <= p["end_ms"]]
        m, err = _layer_pass(p, ops, raw["trace"], in_pass, workers)
        per_pass.append(m)
        worst = max(worst, err)
    out = {}
    for name in PER_LAYER:
        out[name] = median([m.get(name, 0.0) for m in per_pass])
    out["session.build_ms"] = raw["session_build_ms"]

    def wall(ps):
        return median([(p["end_ms"] - p["start_ms"]) / 1000.0 for p in ps])
    out["trace.overhead_s"] = wall(traced) - wall(plain)
    return out, worst
