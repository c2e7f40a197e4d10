#!/usr/bin/env python3
"""Open-loop event generator for the dws_stream workload.

A single-threaded process, separate from the system under test. It replays
the `events` table in `ts` order and never waits for the consumer: every
event has a due time fixed in advance, and each 100 ms tick publishes, as
one parquet file, every event that has come due.

    gen.py --events <events.parquet> --out <dir> --tmp <dir> --seed <n>
           --ladder <rate>:<seconds>[,<rate>:<seconds>...] --log <file.jsonl>
           [--start <epoch_s>] [--warmup-max <s>]

The first ladder rate is the base rate. Table rows are replayed at the base
rate in every step, so event time always advances at the same pace; a step
at k times the base rate emits each row k times, copy c with `user_id` and
`event_id` moved into a range of its own. A higher rate thus means more
users and keys, as in a larger deployment, not a faster clock. Every rate
must be a whole multiple of the base rate.

Without --start the generator builds its tables, prints `built` on stdout
and starts at the first line on stdin, so its own start-up is not part of
any measured time. With --warmup-max the replay then first runs at the base
rate until another line arrives on stdin (the consumer is warm) or that
many seconds pass. The ladder then starts at the next tick, from the first
table row the warm-up could not have reached, so event time only moves
forward.

Properties the benchmark relies on:
  * Seeded disorder strictly inside the 2 s watermark: adjacent rows whose
    `ts` differ by less than 1.5 s are swapped with probability 1/2, at most
    once each, so no event arrives after one more than 1.5 s younger.
  * When the table runs out it loops, with `ts` shifted by whole days past
    the table's span and `event_id` shifted past its largest id.
  * Each event carries `gen_ts`: its due time in epoch microseconds. Latency
    is timed from the due time, so a late generator shows as latency.
  * File k holds the events due in the k-th tick after the start; without a
    warm-up the files depend only on the seed and --start. Each is written
    under --tmp and renamed into --out: the file source never sees a
    partial file.
  * The log has a `start` line (tick 0), one line per published file
    (publish time, events, first and last due time, largest `ts`), a `go`
    line when the ladder starts, and a summary line with the generator's
    lateness.
"""
import argparse
import json
import os
import random
import select
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TICK_S = 0.1
SWAP_GAP_US = 1_500_000  # disorder stays 0.5 s inside the 2 s watermark
DAY_US = 86_400 * 1_000_000
USER_COPY = 1_000_000    # copy c: user_id + c * USER_COPY
EVENT_COPY = 10 ** 12    # copy c: event_id + c * EVENT_COPY


def parse_ladder(text):
    steps = []
    for part in text.split(","):
        rate, secs = part.split(":")
        steps.append((float(rate), float(secs)))
    return steps


def emission_order(ts_us, seed):
    """Indices in publish order: `ts` order with seeded adjacent swaps."""
    rng = random.Random(seed)
    order = list(range(len(ts_us)))
    i = 0
    while i < len(order) - 1:
        if ts_us[i + 1] - ts_us[i] < SWAP_GAP_US and rng.random() < 0.5:
            order[i], order[i + 1] = order[i + 1], order[i]
            i += 2
        else:
            i += 1
    return np.asarray(order, dtype=np.int64)


def replay(events_path, seed, total):
    """The first `total` rows of the looped, disordered replay."""
    base = pq.read_table(events_path).sort_by([("ts", "ascending"), ("event_id", "ascending")])
    ts_type = base.schema.field("ts").type
    ts = base.column("ts").cast(pa.timestamp("us")).cast(pa.int64()).to_numpy()
    span = (int(ts.max()) - int(ts.min())) // DAY_US * DAY_US + DAY_US
    id_step = pc.max(base["event_id"]).as_py() + 1
    loops = []
    for k in range(-(-total // base.num_rows)):
        t = base
        if k:
            t = t.set_column(t.schema.get_field_index("ts"), "ts",
                             pa.array(ts + k * span, pa.int64()).cast(pa.timestamp("us")).cast(ts_type))
            ids = t.column("event_id").to_numpy() + k * id_step
            t = t.set_column(t.schema.get_field_index("event_id"), "event_id", pa.array(ids))
        loops.append(t)
    table = pa.concat_tables(loops).slice(0, total)
    all_ts = table.column("ts").cast(pa.timestamp("us")).cast(pa.int64()).to_numpy()
    order = emission_order(all_ts, seed)
    return table.take(pa.array(order)), order


def ladder_rows(table, ladder):
    """The ladder's events: each step replays its rows at the base rate,
    rate / base rate copies of each."""
    base_rate = ladder[0][0]
    parts, row = [], 0
    for rate, secs in ladder:
        k, n = int(rate // base_rate), int(round(base_rate * secs))
        copy = np.tile(np.arange(k), n)
        t = table.take(pa.array(np.repeat(np.arange(row, row + n), k)))
        for col, step in (("user_id", USER_COPY), ("event_id", EVENT_COPY)):
            t = t.set_column(t.schema.get_field_index(col), col,
                             pa.array(t[col].to_numpy() + copy * step))
        parts.append(t)
        row += n
    return pa.concat_tables(parts)


def ladder_offsets(ladder):
    """Due time of every ladder event relative to the ladder's start."""
    base_rate = ladder[0][0]
    parts, t0 = [], 0.0
    for rate, secs in ladder:
        n = int(rate // base_rate) * int(round(base_rate * secs))
        parts.append(t0 + np.arange(n) / rate)
        t0 += secs
    return np.concatenate(parts)


def go_requested():
    """True once a line has arrived on stdin (non-blocking)."""
    ready, _, _ = select.select([sys.stdin], [], [], 0)
    return bool(ready) and sys.stdin.readline() != ""


def main():
    ap = argparse.ArgumentParser()
    for flag in ("--events", "--out", "--tmp", "--ladder", "--log"):
        ap.add_argument(flag, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--start", type=float,
                    help="epoch s of tick 0 (default: the first line on stdin once built)")
    ap.add_argument("--warmup-max", type=float, default=0.0,
                    help="replay at the base rate until a line arrives on stdin, at most this long")
    args = ap.parse_args()

    ladder = parse_ladder(args.ladder)
    base_rate = ladder[0][0]
    if any(rate % base_rate for rate, _ in ladder):
        ap.error("every ladder rate must be a whole multiple of the first")
    n_warm = int(base_rate * args.warmup_max)
    table, order = replay(args.events, args.seed,
                          n_warm + sum(int(round(base_rate * secs)) for _, secs in ladder))
    events = pa.concat_tables([table.slice(0, n_warm),
                               ladder_rows(table.slice(n_warm), ladder)]).combine_chunks()
    offsets = ladder_offsets(ladder)
    os.makedirs(args.out, exist_ok=True)
    os.makedirs(args.tmp, exist_ok=True)
    if args.start is None:
        print("built", flush=True)
        sys.stdin.readline()
        start = time.time()
    else:
        start = args.start
    # the i-th event published is row i of `events` while i < warm, else
    # row n_warm + i - warm; due[i] is its due time
    if n_warm:
        warm, go = n_warm, None
        due = start + np.arange(n_warm) / base_rate
    else:
        warm, go = 0, start
        due = start + offsets

    def rows(i, j):
        parts = [events.slice(i, min(j, warm) - i)] if i < warm else []
        if j > warm:
            lo = max(i, warm)
            parts.append(events.slice(n_warm + lo - warm, j - lo))
        return pa.concat_tables(parts) if len(parts) > 1 else parts[0]

    sent, k = 0, 0
    lateness = np.zeros(n_warm + len(offsets))
    with open(args.log, "w") as log:
        log.write(json.dumps({"start": start}) + "\n")
        while go is None or sent < len(due):
            tick_end = start + (k + 1) * TICK_S
            pause = tick_end - time.time()
            if pause > 0:
                time.sleep(pause)
            if go is None and (go_requested() or tick_end >= start + args.warmup_max):
                go = tick_end
                warm = int(np.searchsorted(due, go, side="left"))
                due = np.concatenate([due[:warm], go + offsets])
                log.write(json.dumps({"go": go, "warmup_events": warm}) + "\n")
            hi = int(np.searchsorted(due, tick_end, side="left"))
            if hi > sent:
                name = f"part-{k:06d}.parquet"
                tmp = os.path.join(args.tmp, name)
                part = rows(sent, hi).append_column(
                    "gen_ts", pa.array((due[sent:hi] * 1e6).astype(np.int64)))
                pq.write_table(part, tmp, compression="snappy")
                os.rename(tmp, os.path.join(args.out, name))
                published = time.time()
                lateness[sent:hi] = published - due[sent:hi]
                log.write(json.dumps({"t": published, "events": hi - sent,
                                      "first_due": due[sent], "last_due": due[hi - 1],
                                      "ts_max": pc.max(part["ts"]).value / 1e6}) + "\n")
                sent = hi
            k += 1
        n = len(due)
        log.write(json.dumps({"summary": True, "events": n,
                              "disorder_share": float(np.mean(order != np.arange(len(order)))),
                              "lag_p99_s": float(np.percentile(lateness[:n], 99)),
                              "lag_max_s": float(lateness[:n].max())}) + "\n")


if __name__ == "__main__":
    main()
