#!/usr/bin/env python3
"""Single-threaded CDC load generator for the perfbench workloads.

Writes Debezium envelopes for the `sport_activities` table as JSON-lines
files into Spark file-source directories. It runs as its own process and
takes its seed as an argument; the system under test sees only the files.

    python3 gen.py --seed N --root DIR

Commands arrive one per line on stdin; each gets one JSON line on stdout:

    preload <name> <rows> <files>       snapshot ('r') envelopes for ids 1..rows
    recent <name> <files> <events>      traffic on recently inserted ids
    backlog <name> <files> <events>     traffic spread over the whole table
    paced <name> <rate> <tick_s> <s>    open loop: one recent-key file per tick
    quit

Every file is written under a dot-name and then renamed, so the file source
(which skips hidden names) never lists a partial file. Each event's `ts_ms`
is the wall-clock time its file was created. The traffic includes same-key
pairs that arrive in the reverse of their (ts_ms, lsn) order, same-ms pairs
ordered only by lsn, and deletes of ids that were never inserted.
"""
import argparse
import json
import os
import random
import sys
import time
from collections import deque

FIRST = ["Audrey", "Colin", "Marie", "Luc", "Sophie", "Paul", "Claire", "Hugo",
         "Emma", "Louis", "Léa", "Jules", "Chloé", "Nina", "Théo", "Manon"]
LAST = ["Martin", "Bernard", "Dubois", "Thomas", "Robert", "Richard", "Petit",
        "Durand", "Leroy", "Moreau", "Simon", "Laurent", "Lefebvre", "Michel"]
SPORTS = {  # sport -> (min, max) meters, or None when it has no distance
    "Course à pied": (3000, 15000), "Marche": (2000, 8000),
    "Randonnée": (5000, 20000), "Vélo": (10000, 50000),
    "Trottinette": (5000, 15000), "Natation": (500, 3000),
    "Football": None, "Tennis": None, "Yoga": None, "Escalade": None,
    "Boxe": None, "Danse": None, "Ski": None, "Golf": None, "Rugby": None}
SPORT_NAMES = sorted(SPORTS)
COMMENTS = ["Superbe séance !", "Nouveau record personnel !", "Temps idéal",
            "Fatigué mais content", "Avec les collègues", "Objectif atteint"]
EMPLOYEES = range(10001, 10162)  # Fixtures.employees ids
YEAR_START_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
NEVER_INSERTED = 1_500_000_000  # ids from here up are never inserted


class Generator:
    def __init__(self, seed, root):
        self.rnd = random.Random(seed)
        self.root = root
        self.lsn = 0
        self.next_id = 1
        self.ghost = NEVER_INSERTED
        self.live = []          # live ids, for uniform picks
        self.pos = {}           # id -> index in self.live
        self.recent = deque(maxlen=4000)  # recently inserted ids
        self.file_no = 0
        self.last_publish_ms = 0.0

    # --- state ---------------------------------------------------------------
    def _add(self, i):
        self.pos[i] = len(self.live)
        self.live.append(i)
        self.recent.append(i)

    def _remove(self, i):
        k = self.pos.pop(i)
        last = self.live.pop()
        if last != i:
            self.live[k] = last
            self.pos[last] = k

    def _pick(self, recent):
        if recent:
            for _ in range(8):
                i = self.rnd.choice(self.recent)
                if i in self.pos:
                    return i
        return self.rnd.choice(self.live)

    # --- events --------------------------------------------------------------
    def _row(self, i):
        r = self.rnd
        sport = r.choice(SPORT_NAMES)
        rng = SPORTS[sport]
        dist = r.randint(*rng) if rng else None
        dur = dist // 2 + 600 if dist else r.randint(1800, 7200)
        return {"id": i, "id_employee": r.choice(EMPLOYEES),
                "first_name": r.choice(FIRST), "last_name": r.choice(LAST),
                "start_datetime": YEAR_START_US + r.randrange(366 * 86400) * 1_000_000,
                "sport_type": sport, "distance": dist, "activity_duration": dur,
                "comment": r.choice(COMMENTS) if r.random() < 0.3 else None}

    def _env(self, op, i, ts, row=None):
        self.lsn += 1
        return json.dumps({"payload": {
            "before": {"id": i} if op == "d" else None,
            "after": row,
            "source": {"table": "sport_activities", "lsn": self.lsn},
            "op": op, "ts_ms": ts}}, ensure_ascii=False)

    def _traffic(self, n, ts, recent):
        """n envelopes of mixed traffic; updates and deletes pick recent ids
        when `recent`, else ids uniform over the live table."""
        out = []
        while len(out) < n:
            x = self.rnd.random()
            if x < 0.40 or not self.live:
                i = self.next_id
                self.next_id += 1
                self._add(i)
                out.append(self._env("c", i, ts, self._row(i)))
            elif x < 0.80:
                i = self._pick(recent)
                out.append(self._env("u", i, ts, self._row(i)))
            elif x < 0.90:
                i = self._pick(recent)
                self._remove(i)
                out.append(self._env("d", i, ts))
            elif x < 0.94:
                out.append(self._env("d", self.ghost, ts))
                self.ghost += 1
            elif x < 0.97:
                # same-key pair arriving newest first: the older event has
                # the smaller ts_ms and the smaller lsn
                i = self._pick(recent)
                older = self._env("u", i, ts - 1, self._row(i))
                out.append(self._env("u", i, ts, self._row(i)))
                out.append(older)
            else:
                # same-ms pair, ordered only by lsn, arriving newest first
                i = self._pick(recent)
                older = self._env("u", i, ts, self._row(i))
                out.append(self._env("u", i, ts, self._row(i)))
                out.append(older)
        return out

    # --- publishing ----------------------------------------------------------
    def _publish(self, d, lines):
        # the file source orders files by modification time; a distinct
        # millisecond per file keeps that order the generation order
        while time.time() * 1000 < self.last_publish_ms + 2:
            time.sleep(0.001)
        os.makedirs(d, exist_ok=True)
        name = "ev-%07d.json" % self.file_no
        self.file_no += 1
        tmp = os.path.join(d, "." + name)
        with open(tmp, "w", encoding="utf-8") as f:
            f.write("\n".join(lines))
            f.write("\n")
        os.rename(tmp, os.path.join(d, name))
        self.last_publish_ms = time.time() * 1000
        return name

    def preload(self, name, rows, files):
        d = os.path.join(self.root, name)
        ts = int(time.time() * 1000)
        per = -(-rows // files)
        for f in range(files):
            lines = []
            for _ in range(min(per, rows - f * per)):
                i = self.next_id
                self.next_id += 1
                self._add(i)
                lines.append(self._env("r", i, ts, self._row(i)))
            self._publish(d, lines)
        return {"rows": rows, "files": files}

    def batch(self, name, files, events, recent):
        d = os.path.join(self.root, name)
        manifest = []
        per = -(-events // files)
        t0 = time.time()
        for _ in range(files):
            ts = int(time.time() * 1000)
            lines = self._traffic(per, ts, recent)
            manifest.append({"file": self._publish(d, lines), "ts_ms": ts,
                             "publish_ms": time.time() * 1000, "events": len(lines)})
        # a backlog has no schedule; its lateness is how long it took to publish
        return {"files": manifest, "late_max_s": time.time() - t0, "start_ms": t0 * 1000}

    def paced(self, name, rate, tick, seconds):
        """Open loop: file k is due at start + k*tick whatever the system
        does; lateness is how far behind that schedule the generator ran."""
        d = os.path.join(self.root, name)
        n = max(1, round(rate * tick))
        manifest, late_max = [], 0.0
        t0 = time.time()
        k = 0
        while k * tick < seconds:
            due = t0 + k * tick
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            now = time.time()
            late_max = max(late_max, now - due)
            ts = int(now * 1000)
            lines = self._traffic(n, ts, recent=True)
            manifest.append({"file": self._publish(d, lines), "ts_ms": ts,
                             "publish_ms": time.time() * 1000, "events": len(lines)})
            k += 1
        return {"files": manifest, "late_max_s": late_max, "start_ms": t0 * 1000}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--root", required=True)
    a = ap.parse_args()
    g = Generator(a.seed, a.root)
    for line in sys.stdin:
        cmd = line.split()
        if not cmd:
            continue
        if cmd[0] == "quit":
            break
        if cmd[0] == "preload":
            out = g.preload(cmd[1], int(cmd[2]), int(cmd[3]))
        elif cmd[0] in ("recent", "backlog"):
            out = g.batch(cmd[1], int(cmd[2]), int(cmd[3]), cmd[0] == "recent")
        elif cmd[0] == "paced":
            out = g.paced(cmd[1], float(cmd[2]), float(cmd[3]), float(cmd[4]))
        else:
            raise SystemExit(f"gen: unknown command {cmd[0]!r}")
        print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
