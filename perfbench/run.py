#!/usr/bin/env python3
"""The warehouse benchmark: one command, three workloads.

    python3 perfbench/run.py --workload <warehouse_batch|curation_batch|dws_stream>
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine together with the harness (perfbench/build.sbt) when the
sources changed, runs the workload at local[nproc] on the benchmark's copy
of the sf0.1 tables, checks the outputs, and prints a human summary and, as
the last line, one JSON object: {"correct", "attempted", "failed",
"metrics"}. --trace 0 reports the end-to-end metrics, --trace 1 the
per-layer ones. See perfbench/README.md for every metric's definition.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402

DATA = os.path.join(HERE, "data", "sf0.1")
RUNTIME = os.path.join(HERE, "target", "runtime.txt")  # written by the build
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
WORKLOADS = ("warehouse_batch", "curation_batch", "dws_stream")
RUN_LIMIT_S = 170  # every run must end within 180 s once built
HEAP = "3g"        # the harness JVM peaks at ~1.5 GB

# Open-loop ladder for dws_stream: (events/s, share of --seconds), lowest
# first. The lowest is the reference rate: the warm-up replays at it and the
# latencies are reported at it; the top step replays the same rows with
# 384000 / 4000 disjoint user sets (gen.py). On a 4-core host the engine
# keeps up with the reference rate and takes in about half the top rate.
# Two steps only: in a 7 s run a middle step holds too few micro-batches
# to tell a flat backlog from a growing one.
LADDER = ((4000, 0.6), (384000, 0.4))
WARMUP_MAX_S = 20.0       # the warm-up ends here even if the queries are not warm
STEADY_TRIGGER_S = 1.5    # warm: micro-batches within 1.5 x the 1 s trigger


CHILDREN = []  # every process this run starts; all are stopped before it exits


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spawn(cmd, **kw):
    proc = subprocess.Popen(cmd, **kw)
    CHILDREN.append(proc)
    return proc


def stop_children():
    for proc in CHILDREN:
        if proc.poll() is None:
            proc.kill()
        proc.wait()


def on_signal(signum, _frame):
    raise SystemExit(128 + signum)


def tree_digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def sources():
    out = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    builds = [os.path.join(d, "build.sbt") for d in (ROOT, HERE)] + \
        [os.path.join(d, "project", "build.properties") for d in (ROOT, HERE)]
    return out + builds


def build():
    """Compile engine + harness with sbt unless the sources are unchanged;
    the build writes RUNTIME."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("engine sources not found next to perfbench/ (need build.sbt and src/main/scala)")
    stamp = tree_digest(sources())
    try:
        with open(STAMP) as f:
            if f.read().strip() == stamp and os.path.isfile(RUNTIME):
                return
    except OSError:
        pass
    env = dict(os.environ, COURSIER_MODE="offline")
    repo_cfg = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g"
                   + (f" -Dsbt.repository.config={repo_cfg}" if os.path.exists(repo_cfg) else ""))
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbenchRuntime"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=850)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        die("build failed")
    with open(STAMP, "w") as f:
        f.write(stamp)
    print(f"built in {time.time() - t0:.1f} s", file=sys.stderr)


def runtime():
    """The engine build's JVM options (its own heap size left out) and the
    runtime classpath, as the build wrote them."""
    with open(RUNTIME) as f:
        args = f.read().splitlines()
    i = args.index("-cp")
    return [a for a in args[:i] if not a.startswith("-Xmx")], args[i + 1]


def check_data():
    sums = {}
    with open(os.path.join(HERE, "data", "SHA256SUMS")) as f:
        for line in f:
            digest, name = line.split()
            sums[name] = digest
    for name, want in sums.items():
        with open(os.path.join(DATA, name), "rb") as f:
            if hashlib.sha256(f.read()).hexdigest() != want:
                die(f"data file {name} does not match data/SHA256SUMS")
    return hashlib.sha256(json.dumps(sums, sort_keys=True).encode()).hexdigest()


class Jvm:
    """The harness JVM; its `@@PB` records are collected by a reader thread."""

    def __init__(self, work, argv):
        opts, classpath = runtime()
        for d in ("tmp", "local", "warehouse"):
            os.makedirs(os.path.join(work, d), exist_ok=True)
        cmd = ["java"] + opts + [
            f"-Xmx{HEAP}",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/local",
            f"-Dspark.sql.warehouse.dir={work}/warehouse", f"-Dderby.system.home={work}/tmp",
            "-cp", classpath, "perfbench.Main"] + argv
        self.records = []
        self.ready = threading.Event()
        self.log = open(os.path.join(work, "jvm.log"), "w")
        self.spawned = time.time()
        self.proc = spawn(cmd, cwd=ROOT, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                          stderr=self.log, text=True)
        self.reader = threading.Thread(target=self._read, daemon=True)
        self.reader.start()

    def _read(self):
        for line in self.proc.stdout:
            if line.startswith("@@PB "):
                rec = json.loads(line[5:])
                self.records.append(rec)
                if rec["kind"] == "streams_ready":
                    self.ready.set()

    def send(self, line):
        self.proc.stdin.write(line + "\n")
        self.proc.stdin.flush()

    def wait(self, deadline):
        try:
            code = self.proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            die("the workload ran past its time limit")
        self.reader.join(timeout=10)
        self.log.close()
        return code


def warm(records, since, fold):
    """True once every stream query ran its last two micro-batches, with
    input, within STEADY_TRIGGER_S and, with `fold`, countSink has folded the
    registry once (every 16 batches), so that the run records a folding
    batch (`registry.fold_batch_s`)."""
    if fold and not any(r["kind"] == "progress" and r["name"] == "count_sink" and r["folded"]
                        for r in records):
        return False
    for q in metrics.STREAM_QUERIES:
        ps = [r for r in records if r["kind"] == "progress" and r["name"] == q
              and r["t"] >= since and r["input_rows"] > 0]
        if len(ps) < 2 or any(p["durations"].get("triggerExecution", 1e9) > STEADY_TRIGGER_S
                              for p in ps[-2:]):
            return False
    return True


def start_generator(work, seed, seconds):
    """Start gen.py beside the JVM: it builds its tables, prints `built` and
    waits for `start` (run_stream), so its build is not set-up time."""
    ladder = [(rate, share * seconds) for rate, share in LADDER]
    gen = spawn([sys.executable, os.path.join(HERE, "gen.py"),
                 "--events", os.path.join(DATA, "events.parquet"),
                 "--out", os.path.join(work, "stream", "sf", "events.parquet"),
                 "--tmp", os.path.join(work, "gen-tmp"), "--seed", str(seed),
                 "--ladder", ",".join(f"{r}:{s}" for r, s in ladder),
                 "--warmup-max", str(WARMUP_MAX_S), "--log", os.path.join(work, "gen.jsonl")],
                stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    return gen, ladder


def run_stream(jvm, gen, ladder, work, deadline, trace):
    """Once the streams run and the generator is built, the generator replays
    at the reference rate until the queries are warm (and, traced, until the
    registry has folded), then runs the ladder. Then drain."""
    if not jvm.ready.wait(timeout=max(1.0, deadline - time.time())):
        die("the streams did not start")
    if gen.stdout.readline().strip() != "built":
        die("the generator failed to start")
    t0 = time.time()
    gen.stdin.write("start\n")
    gen.stdin.flush()
    while gen.poll() is None and time.time() < t0 + WARMUP_MAX_S and not warm(list(jvm.records), t0, trace):
        time.sleep(0.2)
    try:
        gen.stdin.write("go\n")
        gen.stdin.close()
    except BrokenPipeError:
        pass
    try:
        code = gen.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        die("the generator ran past its time limit")
    if code != 0:
        die("the generator failed")
    jvm.send("drain")
    with open(os.path.join(work, "gen.jsonl")) as f:
        return ladder, [json.loads(line) for line in f]


def main():
    signal.signal(signal.SIGTERM, on_signal)
    try:
        run()
    finally:
        stop_children()


def run():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    build()
    data_sums = check_data()
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    host0 = metrics.host_sample()
    deadline = time.time() + RUN_LIMIT_S
    cpus = len(os.sched_getaffinity(0))
    jvm = Jvm(work, ["--workload", args.workload, "--seed", str(args.seed),
                     "--seconds", str(args.seconds), "--trace", str(args.trace),
                     "--data", DATA, "--work", work, "--cpus", str(cpus)])
    stream = None
    if args.workload == "dws_stream":
        gen, ladder = start_generator(work, args.seed, args.seconds)
        stream = run_stream(jvm, gen, ladder, work, deadline, args.trace == 1)
    code = jvm.wait(deadline)
    if code != 0 or not any(r["kind"] == "done" for r in jvm.records):
        die(f"the workload failed (exit {code}); see {work}/jvm.log")
    host1 = metrics.host_sample()

    res = metrics.Result(args.workload, jvm.records, jvm.spawned, host0, host1)
    if stream is None:
        res.batch_checks(DATA, os.path.join(HERE, ".work", "oracle-cache.json"), data_sums)
    else:
        res.stream_checks(*stream)
    out = res.per_layer() if args.trace else res.end_to_end()
    for line in res.summary(out):
        print(line)
    unmeasured = [k for k, (v, _) in out.items() if not math.isfinite(v)]
    if unmeasured:
        die(f"no measurement for {', '.join(unmeasured)}")
    print(json.dumps({"correct": res.failed == 0, "attempted": res.attempted,
                      "failed": res.failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()}}))
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
