"""Turns the harness's raw records into the benchmark's metrics.

End-to-end metrics come from the untraced run; per-layer metrics from the
traced one (see README.md for every definition). Layer metrics of layers a
workload does not run are reported as 0 in the JSON line and as `n/a` in
the summary.
"""
import bisect
import math

import stats

FRESHNESS_BUDGET_S = 10.0  # the reference's 10 s window, used as the budget
IVF_MIN_RECALL = 0.8       # the IVF-PQ recall gate of the engine's own tests
STEP_SETTLE_S = 1.0        # backlog points in a step's first second are skipped
WATERMARK_DELAY_S = 2.0    # trafficWindow's withWatermark delay

STREAM_QUERIES = ("traffic_window", "first_visits", "count_sink")
STREAM_FIELDS = (("trigger_s", "s"), ("add_batch_s", "s"), ("query_planning_s", "s"),
                 ("get_batch_s", "s"), ("wal_commit_s", "s"), ("state_rows", "count"),
                 ("state_bytes", "bytes"), ("watermark_lag_s", "s"), ("late_rows", "count"),
                 ("backlog_rows", "count"))
DURATION_KEYS = {"trigger_s": "triggerExecution", "add_batch_s": "addBatch",
                 "query_planning_s": "queryPlanning", "get_batch_s": "getBatch",
                 "wal_commit_s": "walCommit"}

END_TO_END = (("setup_s", "s"), ("throughput_per_s", "1/s"), ("latency_s", "s"))

PER_LAYER = (
    ("tables.input_rows", "count"), ("tables.input_bytes", "bytes"),
    ("tables.scan_tasks", "count"), ("tables.scan_s", "s"),
    ("exchange.shuffle_write_bytes", "bytes"), ("exchange.shuffle_read_bytes", "bytes"),
    ("exchange.spill_bytes", "bytes"), ("exchange.skew", "ratio"),
    ("queries.build_s", "s"), ("queries.build_jobs", "count"), ("queries.exec_s", "s"),
    ("driver.jobs", "count"), ("driver.stages", "count"), ("driver.tasks", "count"),
    ("driver.plan_s", "s"), ("driver.idle_share", "share"),
    ("driver.task_concurrency", "tasks"),
    ("operators.run_s", "s"), ("operators.cpu_s", "s"), ("operators.cpu_share", "share"),
    ("operators.non_codegen_nodes", "count"),
    ("cache.frames_released", "count"), ("cache.peak_storage_bytes", "bytes"),
    ("cache.release_s", "s"),
    ("jvm.gc_s", "s"), ("jvm.heap_peak_bytes", "bytes"),
) + tuple((f"streaming.{q}.{f}", u) for q in STREAM_QUERIES for f, u in STREAM_FIELDS) + (
    ("registry.fold_batch_s", "s"), ("registry.plain_batch_s", "s"),
    ("registry.dirs", "count"), ("registry.read_s", "s"),
    ("stream.latency_p99_s", "s"), ("stream.sustained_eps", "1/s"),
    ("stream.capacity_eps", "1/s"), ("failed_share", "share"),
    ("gen.lag_s", "s"), ("gen.events", "count"), ("gen.disorder_share", "share"),
    ("host.load1_start", "load"), ("host.load1_end", "load"),
    ("host.steal_share", "share"), ("host.sys_share", "share"),
    ("trace.overhead_share", "share"),
)
UNITS = dict(END_TO_END + PER_LAYER)


def host_sample():
    """1-minute load and the aggregate /proc/stat cpu counters."""
    try:
        with open("/proc/loadavg") as f:
            load1 = float(f.read().split()[0])
        with open("/proc/stat") as f:
            cpu = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return {"load1": -1.0, "cpu": []}
    return {"load1": load1, "cpu": cpu}


def host_witness(h0, h1):
    """load1 at both ends, and the steal and system shares of all CPU time
    over the run (/proc/stat fields: user nice system idle iowait irq
    softirq steal)."""
    d = [b - a for a, b in zip(h0["cpu"], h1["cpu"])]
    total = sum(d[:8]) if len(d) >= 8 else 0
    return {"load1_start": h0["load1"], "load1_end": h1["load1"],
            "steal_share": d[7] / total if total else -1.0,
            "sys_share": (d[2] + d[5] + d[6]) / total if total else -1.0}


class Result:
    def __init__(self, workload, records, spawned, host0, host1):
        self.workload = workload
        self.spawned = spawned
        self.host = host_witness(host0, host1)
        self.by_kind = {}
        for r in records:
            self.by_kind.setdefault(r["kind"], []).append(r)
        self.attempted = 0
        self.failed = 0
        self.problems = []
        self.stream = None
        self.na = set()  # per-layer metrics of layers this workload does not run
        self.n = {}      # sample count behind each end-to-end metric

    def kind(self, k):
        return self.by_kind.get(k, [])

    def one(self, k):
        return self.kind(k)[-1]

    def fail(self, n, why):
        self.failed += n
        if n:
            self.problems.append(why)

    # ---- correctness ----

    def batch_checks(self, data_dir, cache_path, data_sums):
        from oracle import Oracle
        oracle = Oracle(data_dir, cache_path, data_sums)
        for c in self.kind("check"):
            self.attempted += 1
            if c["oracle"]:
                why = oracle.check(c["oracle"], c["path"])
                self.fail(1 if why else 0, f"{c['name']}: {why}")
        for r in self.kind("recall"):
            self.attempted += 1
            self.fail(1 if r["recall"] < IVF_MIN_RECALL else 0,
                      f"{r['name']}: recall {r['recall']:.2f} < {IVF_MIN_RECALL}")
        for op in self.kind("op"):
            self.attempted += 1
            bad = not op["ok"] or op["rows"] != op["expected_rows"]
            self.fail(1 if bad else 0, f"{op['name']}: failed or wrong row count")

    def stream_checks(self, ladder, gen_log):
        self.stream = {"ladder": ladder,
                       "gen_start": next(g["start"] for g in gen_log if "start" in g),
                       "start": next(g["go"] for g in gen_log if "go" in g),
                       "files": [g for g in gen_log if "t" in g],
                       "gen": next(g for g in gen_log if "summary" in g)}
        for v in self.kind("verdict"):
            self.attempted += max(v["rows"], v["got"])
            self.fail(v["mismatched"], f"{v['name']}: {v['mismatched']} rows differ from batch")
        delivered = self.one("delivered")["rows"]
        self.attempted += 1
        self.fail(0 if delivered == self.stream["gen"]["events"] else 1,
                  f"delivered {delivered} != generated {self.stream['gen']['events']}")
        for r in self.kind("read"):
            self.attempted += 1
            self.fail(0 if r["ok"] else 1, "registry read failed")
        late = sum(p["late_rows"] for p in self.kind("progress"))
        self.fail(late, f"{late} rows dropped as late")

    # ---- end to end ----

    def setup_s(self):
        """The harness's set-up. Batch: JVM spawn to the end of the pre-check
        and the warm-up pass. Stream: JVM spawn until the queries run, plus
        the generator's warm-up replay until the ladder starts. Neither holds
        the oracle compare nor the generator's table build."""
        if self.stream is None:
            return self.one("setup")["end"] - self.spawned
        return (self.one("streams_ready")["t"] - self.spawned
                + self.stream["start"] - self.stream["gen_start"])

    def phases(self):
        """Seconds spent in each part of set-up and, for the stream, in the
        checks after the drain: where a change to `setup_s` or to a run's
        length comes from."""
        session = self.one("session")["end"]
        out = {"session": session - self.spawned}
        if self.stream is None:
            checked = max(r["t"] for r in self.kind("check") + self.kind("recall"))
            out["pre-check"] = checked - session
            out["warm-up"] = self.one("setup")["end"] - checked
        else:
            out["stream start"] = self.one("streams_ready")["t"] - session
            out["warm-up replay"] = self.stream["start"] - self.stream["gen_start"]
            out["checks"] = max(v["t"] for v in self.kind("verdict")) - self.one("loop")["end"]
        return out

    def timed_ops(self):
        return self.kind("op")

    def batch_latencies(self):
        return [op["end"] - op["start"] for op in self.timed_ops() if op["ok"]]

    def end_to_end(self):
        if self.stream is None:
            loop = self.one("loop")
            ops = [op for op in self.timed_ops() if op["ok"]]
            thr = len(ops) / (loop["end"] - loop["start"])
            thr_n = lat_n = len(ops)
            # the typical query: the geometric mean over the workload's queries
            # of each one's median latency (a pooled median of a few samples of
            # unlike queries jumps between them)
            by_query = {}
            for op in ops:
                by_query.setdefault(op["name"], []).append(op["end"] - op["start"])
            lat = math.exp(stats.mean([math.log(stats.median(xs)) for xs in by_query.values()]))
        else:
            ref = self.stream_steps()[0]["latencies"]
            lat, lat_n = stats.median(ref), len(ref)
            thr = self.capacity_eps()
            rate, secs = self.stream["ladder"][-1]
            thr_n = round(rate * secs)
        self.n = {"setup_s": 1, "throughput_per_s": thr_n, "latency_s": lat_n}
        return {"setup_s": (self.setup_s(), "s"),
                "throughput_per_s": (thr, "1/s"),
                "latency_s": (lat, "s")}

    # ---- streaming ----

    def stream_steps(self):
        """Per ladder step: rate, backlog points of every query, and the
        latencies of the window results whose last event came due in it."""
        steps, t = [], self.stream["start"]
        for rate, secs in self.stream["ladder"]:
            steps.append({"rate": rate, "start": t, "end": t + secs,
                          "backlog": [], "latencies": []})
            t += secs
        lat = self.one("latencies")
        for due, commit in zip(lat["due"], lat["commit"]):
            for s in steps:
                if s["start"] <= due < s["end"]:
                    s["latencies"].append(commit - due)
        for q, pts in self.backlog().items():
            for s in steps:
                s.setdefault("backlog_by_query", {})[q] = [
                    (x, y) for x, y in pts if s["start"] + STEP_SETTLE_S <= x <= s["end"]]
        return steps

    def backlog(self):
        """Per query, [(t, rows published but not yet processed)] after each
        micro-batch."""
        pub = sorted((f["t"], f["events"]) for f in self.stream["files"])
        out = {}
        for q in STREAM_QUERIES:
            done, pts = 0, []
            for p in sorted((p for p in self.kind("progress") if p["name"] == q),
                            key=lambda p: p["batch"]):
                done += p["input_rows"]
                published = sum(n for t, n in pub if t <= p["t"])
                pts.append((p["t"], published - done))
            out[q] = pts
        return out

    def judged_steps(self):
        """The ladder steps, each with the backlog points of all three
        queries together (a step holds only a few micro-batches of each, too
        few to fit one query's growth, and an overloaded engine slows all
        three), and the top step with the engine's capacity."""
        steps = self.stream_steps()
        for s in steps:
            s["backlog"] = sorted(p for pts in s["backlog_by_query"].values() for p in pts)
        steps[-1]["capacity"] = self.capacity_eps()
        return steps

    def sustained_eps(self):
        return stats.sustained_rate(self.judged_steps(), FRESHNESS_BUDGET_S)

    def capacity_saturated(self):
        """True when the engine kept up with the top step: its micro-batches
        did not run back to back, so capacity_eps was not measured under
        load, and the ladder needs a higher top rate."""
        return self.capacity_eps() >= self.stream["ladder"][-1][0]

    def capacity_eps(self):
        """Events per second the engine takes in while it is behind: for each
        query, its input over the run time of its micro-batches that started
        in the top step or later (behind, they run back to back), for the
        slowest query. Summed over several micro-batches, it does not hinge on
        when the last one ends."""
        top_start = self.stream_steps()[-1]["start"]
        rates = []
        for q in STREAM_QUERIES:
            ps = [p for p in self.kind("progress") if p["name"] == q
                  and p["input_rows"] > 0 and p["start"] >= top_start]
            run_s = sum(p["durations"]["triggerExecution"] for p in ps)
            rates.append(sum(p["input_rows"] for p in ps) / run_s if run_s else float("nan"))
        return min(rates)

    def watermark_lags(self):
        """traffic_window's watermark lag in wall time: batch end minus the
        due time of the file whose events set the watermark it ran with."""
        files = sorted(self.stream["files"], key=lambda f: f["ts_max"])
        tops = [f["ts_max"] for f in files]
        lags = []
        for p in self.kind("progress"):
            if p["name"] != "traffic_window" or not p["watermark"] or p["input_rows"] == 0:
                continue
            i = bisect.bisect_left(tops, p["watermark"] + WATERMARK_DELAY_S - 1e-6)
            if i < len(files):
                lags.append(p["t"] - files[i]["last_due"])
        return lags

    # ---- per layer ----

    def per_layer(self):
        m = {k: None for k, _ in PER_LAYER}
        self.layer_tasks(m)
        if self.stream is None:
            self.layer_batch(m)
        else:
            self.layer_stream(m)
        m["failed_share"] = self.failed / max(1, self.attempted)
        loop = self.one("loop")
        m["trace.overhead_share"] = loop["callback_s"] / (loop["end"] - loop["start"])
        for k, v in self.host.items():
            m[f"host.{k}"] = v
        self.na = {k for k, v in m.items() if v is None or not math.isfinite(v)}
        m = {k: None if k in self.na else v for k, v in m.items()}
        return {k: (0.0 if v is None else v, UNITS[k]) for k, v in m.items()}

    def units(self):
        """The traced units the task-level layers are averaged over: query
        executions (batch) or micro-batches (stream), as (start, end)."""
        if self.stream is None:
            return [(s["start"], s["end"]) for s in self.kind("span")
                    if s["name"].startswith("query:") and s["traced"]]
        return [(p["start"], p["t"]) for p in self.kind("progress") if p["input_rows"] > 0]

    def layer_tasks(self, m):
        units = self.units()
        tasks = self.kind("task")
        if not units or not tasks:
            return
        n = len(units)
        lo, hi = min(s for s, _ in units), max(e for _, e in units)
        tasks = [t for t in tasks if lo <= t["end"] and t["start"] <= hi]

        def per_unit(key):
            return sum(t[key] for t in tasks) / n
        m["exchange.shuffle_write_bytes"] = per_unit("shuffle_write")
        m["exchange.shuffle_read_bytes"] = per_unit("shuffle_read")
        m["exchange.spill_bytes"] = per_unit("spill")
        by_stage = {}
        for t in tasks:
            by_stage.setdefault(t["stage"], []).append(t["end"] - t["start"])
        skews = [max(d) / stats.median(d) for d in by_stage.values()
                 if len(d) >= 2 and stats.median(d) > 0]
        m["exchange.skew"] = stats.median(skews) if skews else 1.0
        m["operators.run_s"] = per_unit("run_s")
        m["operators.cpu_s"] = per_unit("cpu_s")
        run = sum(t["run_s"] for t in tasks)
        m["operators.cpu_share"] = sum(t["cpu_s"] for t in tasks) / run if run else 0.0
        m["driver.tasks"] = len(tasks) / n
        m["driver.jobs"] = len([j for j in self.kind("job") if lo <= j["t"] <= hi]) / n
        m["driver.stages"] = len([s for s in self.kind("stage") if lo <= s["t"] <= hi]) / n
        qes = [q for q in self.kind("qe") if lo <= q["t"] <= hi]
        m["driver.plan_s"] = sum(q["plan_s"] for q in qes) / n
        m["operators.non_codegen_nodes"] = sum(max(0, q["non_codegen"]) for q in qes) / n
        busy = wall = work = 0.0
        for s, e in units:
            iv = stats.clip([(t["start"], t["end"]) for t in tasks], s, e)
            busy += stats.union_length(iv)
            work += sum(b - a for a, b in iv)
            wall += e - s
        m["driver.idle_share"] = 1.0 - busy / wall if wall else 0.0
        m["driver.task_concurrency"] = work / busy if busy else 0.0
        scan = [t for t in tasks if t["in_bytes"] > 0]
        if self.stream is None:
            m["tables.input_rows"] = sum(t["in_rows"] for t in scan) / n
            m["tables.input_bytes"] = sum(t["in_bytes"] for t in scan) / n
            m["tables.scan_tasks"] = len(scan) / n

    def spans(self, prefix, traced_only=True):
        return [s for s in self.kind("span")
                if s["name"].startswith(prefix) and (s["traced"] or not traced_only)]

    def layer_batch(self, m):
        loop = self.one("loop")
        spans = self.kind("span")
        traced_q = {s["id"] for s in self.spans("query:")}

        own = stats.self_times(spans)  # a layer's time excludes its child spans

        def child_mean(name):
            xs = [own[s["id"]] for s in spans if s["name"] == name and s["parent"] in traced_q]
            return stats.mean(xs) if xs else None
        m["queries.build_s"] = child_mean("build")
        m["queries.exec_s"] = child_mean("exec")
        builds = [s for s in spans if s["name"] == "build" and s["parent"] in traced_q]
        if builds:
            m["queries.build_jobs"] = len([j for j in self.kind("job") if any(
                b["start"] <= j["t"] <= b["end"] for b in builds)]) / len(builds)
        scans = self.spans("scan:", traced_only=False)
        m["tables.scan_s"] = sum(s["end"] - s["start"] for s in scans) if scans else None
        ops = [o for o in self.timed_ops() if o["traced"]]
        m["cache.frames_released"] = stats.mean([o["released"] for o in ops]) if ops else None
        rel = [s["end"] - s["start"] for s in spans if s["name"] == "release" and s["traced"]]
        m["cache.release_s"] = stats.mean(rel) if rel else None
        m["cache.peak_storage_bytes"] = loop["storage_peak_bytes"]
        n_ops = len(self.timed_ops())
        m["jvm.gc_s"] = loop["gc_s"] / n_ops if n_ops else None
        m["jvm.heap_peak_bytes"] = loop["heap_peak_bytes"]

    def layer_stream(self, m):
        loop = self.one("loop")
        steps = self.stream_steps()
        ref = steps[0]
        for q in STREAM_QUERIES:
            ps = [p for p in self.kind("progress") if p["name"] == q and p["input_rows"] > 0]
            if not ps:
                continue
            for f, key in DURATION_KEYS.items():
                xs = [p["durations"].get(key) for p in ps if key in p["durations"]]
                m[f"streaming.{q}.{f}"] = stats.median(xs) if xs else None
            m[f"streaming.{q}.state_rows"] = ps[-1]["state_rows"]
            m[f"streaming.{q}.state_bytes"] = ps[-1]["state_bytes"]
            if q == "traffic_window":
                lags = self.watermark_lags()
                m[f"streaming.{q}.watermark_lag_s"] = stats.median(lags) if lags else None
            m[f"streaming.{q}.late_rows"] = sum(p["late_rows"] for p in ps)
            pts = ref["backlog_by_query"].get(q, [])
            m[f"streaming.{q}.backlog_rows"] = stats.median([y for _, y in pts]) if pts else None
        cs = [p for p in self.kind("progress") if p["name"] == "count_sink" and p["input_rows"] > 0]
        fold = [p["durations"]["addBatch"] for p in cs if p["folded"]]
        plain = [p["durations"]["addBatch"] for p in cs if not p["folded"]]
        m["registry.fold_batch_s"] = stats.median(fold) if fold else None
        m["registry.plain_batch_s"] = stats.median(plain) if plain else None
        m["registry.dirs"] = loop["registry_dirs"]
        reads = [r["end"] - r["start"] for r in self.kind("read") if r["ok"]]
        m["registry.read_s"] = stats.median(reads) if reads else None
        m["stream.latency_p99_s"] = stats.quantile(ref["latencies"], 0.99)
        m["stream.sustained_eps"] = self.sustained_eps()
        m["stream.capacity_eps"] = self.capacity_eps()
        gen = self.stream["gen"]
        m["gen.lag_s"] = gen["lag_p99_s"]
        m["gen.events"] = gen["events"]
        m["gen.disorder_share"] = gen["disorder_share"]
        m["jvm.gc_s"] = loop["gc_s"]
        m["jvm.heap_peak_bytes"] = loop["heap_peak_bytes"]
        m["cache.peak_storage_bytes"] = loop["storage_peak_bytes"]

    # ---- report ----

    def summary(self, out):
        lines = [f"workload {self.workload}: attempted {self.attempted}, failed {self.failed}, "
                 f"failed_share {self.failed / max(1, self.attempted):.4f}"]
        lines += [f"  problem: {p}" for p in self.problems[:10]]
        if self.stream is None:
            d = stats.describe(self.batch_latencies(), wanted=90.0)
        else:
            d = stats.describe(self.stream_steps()[0]["latencies"], wanted=99.0)
            lines.append(f"  sustained_eps {self.sustained_eps():.0f} over ladder "
                         f"{[r for r, _ in self.stream['ladder']]}; capacity_eps "
                         f"{self.capacity_eps():.0f}; gen lag p99 "
                         f"{self.stream['gen']['lag_p99_s']:.3f} s")
            if self.capacity_saturated():
                lines.append("  WARNING: the engine kept up with the top ladder step, so "
                             "capacity_eps was not measured under load: raise the top rate")
            reads = [r["end"] - r["start"] for r in self.kind("read") if r["ok"]]
            lines.append(f"  registry_read_p50_s {stats.median(reads):.4f} (n={len(reads)})")
        lines.append(f"  latency n={d['n']} p50={d['p50']:.4f} s p{d['tail_pct']:g}={d['tail']:.4f} s "
                     f"(highest percentile with >= {stats.TAIL_SAMPLES} samples beyond: "
                     f"{'p%g' % d['supported_pct'] if d['supported_pct'] else 'none'})")
        lines.append("  phases " + ", ".join(f"{k} {v:.1f} s" for k, v in self.phases().items()))
        lines.append("  host " + " ".join(f"{k}={v:.3f}" for k, v in self.host.items()))
        for k, (v, u) in out.items():
            n = f" (n={self.n[k]})" if k in self.n else ""
            lines.append(f"  {k:45s} {'n/a' if k in self.na else f'{v:.6g}'} {u}{n}")
        return lines
