#!/usr/bin/env python3
"""Seeded input generators of the benchmark.

- `plan_spikes`: which (topic, path) keys get a planted spike, and which
  of them get a second spike inside the 2-minute cooldown.
- `live`: the open-loop message generator, run as its own process:

      python3 perfbench/gen.py live <dir> <seed> <seconds> <rate> <topics>

  It publishes one JSON-lines file per 100 ms tick into `<dir>/src`
  (write, then rename), stamps every message with the time it was due,
  and records how late it ran.
- `write_backfill`: the closed-loop replay corpus (event time).
"""
import json
import os
import random
import sys
import time
from datetime import datetime, timezone

PATHS = ("sub.one", "two")
BASE = {"sub.one": 15.0, "two": 16.0}
SPIKE = 1000.0
# Steady values cycle through base, base+1, base+2 per topic. Any run of
# at least three such values has a population stddev of at least 0.47
# and no value further than 1.5 stddev from the mean, so no steady value
# clears the 3-sigma test; a spike of 1000 clears it by far.
CYCLE = 3
SECOND_SPIKE_SHARE = 0.2


def topic_name(i: int) -> str:
    return f"topic-{i:03d}"


def iso(ms: int) -> str:
    return datetime.fromtimestamp(ms // 1000, tz=timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%S") + f".{ms % 1000:03d}Z"


def message(topic: str, key: str, values: dict, ms: int) -> str:
    """One JSON line; `value` is the JSON payload as a string."""
    return ('{"topic":"%s","key":"%s","value":"{\\"sub\\":{\\"one\\":%r},\\"two\\":%r}","ts":"%s"}'
            % (topic, key, values["sub.one"], values["two"], iso(ms)))


def plan_spikes(seed: int, topics: int):
    """(order, paired): every key in spike order, and the keys that get a
    second spike inside the cooldown."""
    rng = random.Random(seed)
    keys = [(topic_name(t), p) for t in range(topics) for p in PATHS]
    rng.shuffle(keys)
    paired = set(rng.sample(keys, round(len(keys) * SECOND_SPIKE_SHARE)))
    return keys, paired


def expected_records(planted, windows):
    """The anomaly records the pipeline must emit: one per planted first
    spike and window. Second spikes fall inside the cooldown of the first
    and must be suppressed."""
    return sorted((s["topic"], s["path"], w, s["produced_ms"])
                  for s in planted if s["emit"] for w in windows)


class Steady:
    """Per-topic steady value cycle."""

    def __init__(self):
        self.count = {}

    def values(self, topic: str) -> dict:
        c = self.count.get(topic, 0)
        self.count[topic] = c + 1
        return {p: BASE[p] + c % CYCLE for p in PATHS}


def publish(src: str, name: str, lines) -> str:
    tmp = os.path.join(src, "." + name)
    with open(tmp, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    final = os.path.join(src, name)
    os.rename(tmp, final)
    return final


def write_warmup(d: str, topics: int, ms: int, lines: int) -> None:
    """One spike-free file stamped `ms` (set-up warm-up input)."""
    os.makedirs(d, exist_ok=True)
    steady = Steady()
    out = []
    for j in range(lines):
        t = topic_name(j % topics)
        out.append(message(t, f"w{j}", steady.values(t), ms))
    publish(d, "part-00000.json", out)


# ---- live: open loop -------------------------------------------------

TICK_S = 0.1


def live(d: str, seed: int, seconds: float, rate: int, topics: int) -> None:
    src = os.path.join(d, "src")
    os.makedirs(src, exist_ok=True)
    start, go, done = (os.path.join(d, n) for n in ("start", "go", "done"))
    deadline = time.time() + 170
    while not os.path.exists(start):
        if time.time() > deadline:
            sys.exit("generator: no start signal")
        time.sleep(0.02)
    order, paired = plan_spikes(seed, topics)
    rng = random.Random(seed + 1)
    per_tick = round(rate * TICK_S)
    steady = Steady()
    due = []        # (due_s_after_go, topic, path, emit)
    planted = []
    go_at = None
    lag_max = 0.0
    sent = 0
    tick = 0
    nxt = time.time()
    while go_at is None or nxt < go_at + seconds:
        wait = nxt - time.time()
        if wait > 0:
            time.sleep(wait)
        lag_max = max(lag_max, time.time() - nxt)
        if go_at is None and os.path.exists(go):
            go_at = nxt
            span = seconds - 1.5
            for i, key in enumerate(order):
                first = 0.3 + i * span / len(order)
                due.append((first, key[0], key[1], True))
                if key in paired:
                    due.append((first + 0.4 + 0.6 * rng.random(), key[0], key[1], False))
            due.sort()
        ms = int(round(nxt * 1000))
        spikes = {}
        while go_at is not None and due and go_at + due[0][0] <= nxt:
            _, t, p, emit = due.pop(0)
            spikes.setdefault(t, []).append((p, emit))
        lines = []
        for j in range(per_tick):
            t = topic_name((sent + j) % topics)
            v = steady.values(t)
            for p, emit in spikes.pop(t, []):
                v[p] = SPIKE
                planted.append({"topic": t, "path": p, "produced_ms": ms, "emit": emit})
            lines.append(message(t, f"k{sent + j}", v, ms))
        assert not spikes, "more spiking keys than messages in a tick"
        publish(src, f"part-{tick:06d}.json", lines)
        sent += per_tick
        tick += 1
        nxt += TICK_S
    with open(os.path.join(d, "planted.json"), "w") as fh:
        json.dump(planted, fh)
    with open(done + ".tmp", "w") as fh:
        json.dump({"messages": sent, "lag_ms_max": lag_max * 1000.0, "ticks": tick}, fh)
    os.rename(done + ".tmp", done)


# ---- backfill: closed drain over event time ---------------------------

EPOCH_MS = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp() * 1000)


def write_backfill(src: str, seed: int, topics: int, files: int, file_s: int,
                   per_topic_file: int, trigger_files: int):
    """`files` files of `file_s` event-time seconds each, with
    `per_topic_file` messages per topic; returns the planted spikes.
    Files get strictly increasing modification times, so the file source
    takes them in event-time order, `trigger_files` files per trigger.

    A trigger's clock is its latest event time, the judge uses the
    previous trigger's stats, and a sample is judged only within windows
    that contain it. So first spikes sit after the first trigger (which
    has no stats yet) and within the last 14 minutes of their trigger
    (inside the 15-minute window). A second spike follows its first by at
    most a minute of event time, inside the 2-minute cooldown, and still
    inside the corpus."""
    os.makedirs(src, exist_ok=True)
    order, paired = plan_spikes(seed, topics)
    rng = random.Random(seed + 1)
    gap_s = file_s / per_topic_file
    per_minute = 60 * per_topic_file // file_s
    slots_per_trigger = trigger_files * per_topic_file
    first_slots = [s for s in range(slots_per_trigger, files * per_topic_file - per_minute)
                   if (slots_per_trigger - s % slots_per_trigger) * gap_s <= 14 * 60]
    # spike slots: (topic, slot) -> [(path, emit)]
    slots = {}
    for t, p in order:
        s = rng.choice(first_slots)
        slots.setdefault((t, s), []).append((p, True))
        if (t, p) in paired:
            slots.setdefault((t, s + rng.randint(2, per_minute)), []).append((p, False))
    steady = Steady()
    planted = []
    mtime0 = time.time() - files - 60
    for f in range(files):
        lines = []
        for k in range(per_topic_file):
            s = f * per_topic_file + k
            for ti in range(topics):
                t = topic_name(ti)
                ms = EPOCH_MS + int((s * gap_s + ti * gap_s / topics) * 1000)
                v = steady.values(t)
                for p, emit in slots.get((t, s), []):
                    v[p] = SPIKE
                    planted.append({"topic": t, "path": p, "produced_ms": ms, "emit": emit})
                lines.append(message(t, f"b{s}-{ti}", v, ms))
        name = publish(src, f"part-{f:05d}.json", lines)
        os.utime(name, (mtime0 + f, mtime0 + f))
    return planted


if __name__ == "__main__":
    if len(sys.argv) == 7 and sys.argv[1] == "live":
        live(sys.argv[2], int(sys.argv[3]), float(sys.argv[4]), int(sys.argv[5]),
             int(sys.argv[6]))
    else:
        sys.exit(__doc__)
