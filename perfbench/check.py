"""Reference computations the benchmark checks the program's outputs
against. Pure Python over the generated records; the batch panel uses the
registry's own DuckDB oracles.

Every check returns ``(expected, failed)``: the number of results the
workload must produce and how many of them are missing or wrong (a row the
program produced that matches no expected result also counts once).
"""

from __future__ import annotations

import csv
import glob
import os
import sys
from collections import Counter, defaultdict

from gen import FLUSH_USER


def compare(expected: list, got: list) -> tuple[int, int]:
    exp, obs = Counter(expected), Counter(got)
    missing = sum((exp - obs).values())
    surplus = sum((obs - exp).values())
    return sum(exp.values()), missing + max(0, surplus - missing)


def read_csv_rows(out_dir: str) -> list[list[str]]:
    rows = []
    for path in sorted(glob.glob(os.path.join(out_dir, "part-*"))):
        with open(path, newline="") as f:
            rows.extend(r for r in csv.reader(f) if r)
    return rows


# --- audit_windows_drain ------------------------------------------------

def sliding_ref(audit, size_ms=10_000, slide_ms=5_000):
    acc: dict[int, list] = {}
    for _, ts in audit:
        first = ts // slide_ms * slide_ms
        for s in range(first, ts - size_ms, -slide_ms):
            a = acc.setdefault(s, [0, ts, ts])
            a[0] += 1
            a[1], a[2] = min(a[1], ts), max(a[2], ts)
    return [(s, c, lo, hi) for s, (c, lo, hi) in acc.items()]


def session_ref(audit, gap_ms=5_000):
    per_user = defaultdict(list)
    for user, ts in audit:
        per_user[user].append(ts)
    out = []
    for user, tss in per_user.items():
        tss.sort()
        start, cnt, last = tss[0], 1, tss[0]
        for ts in tss[1:]:
            if ts <= last + gap_ms:  # a gap of exactly gap_ms still merges
                cnt, last = cnt + 1, ts
            else:
                out.append((start, user, cnt, start, last))
                start, cnt, last = ts, 1, ts
        out.append((start, user, cnt, start, last))
    return out


def join_ref(audit, topic, size_ms=5_000):
    right = defaultdict(list)
    for user, ts in topic:
        right[(user, ts // size_ms)].append(ts)
    return [(user, ts // size_ms * size_ms, ts, r)
            for user, ts in audit for r in right.get((user, ts // size_ms), ())]


def check_drain(backlog: dict, out: dict[str, str], tamper: bool = False
                ) -> tuple[int, int]:
    """Compare the three file-sink outputs with the recomputation."""
    got = {
        "sliding": [tuple(int(x) for x in r) for r in read_csv_rows(out["sliding"])],
        "session": [(int(r[0]), r[1], int(r[2]), int(r[3]), int(r[4]))
                    for r in read_csv_rows(out["session"])],
        "join": [(r[0], int(r[1]), int(r[2]), int(r[3]))
                 for r in read_csv_rows(out["join"])],
    }
    if tamper:
        got["session"] = got["session"][1:]
    ref = {"sliding": sliding_ref(backlog["audit"]),
           "session": session_ref(backlog["audit"]),
           "join": join_ref(backlog["audit"], backlog["topic"])}
    expected = failed = 0
    for view in ref:
        e, f = compare(ref[view], got[view])
        if f:
            print(f"perfbench: drain view {view}: {f} of {e} results missing "
                  "or wrong", file=sys.stderr)
        expected, failed = expected + e, failed + f
    return expected, failed


# --- clickstream_open_loop ----------------------------------------------

def st2_ref(events):
    """(user, ts, prev_action, duration_ms) per event, replayed per user in
    event order: a first event, a Login, or the event after a Logout emits
    ('None', 0); a Logout clears the user's state."""
    state: dict[str, tuple[str, int]] = {}
    out = []
    for _, user, action, ts in sorted(events, key=lambda e: (e[1], e[3])):
        prev = state.get(user)
        if prev is None or action == "Login":
            out.append((user, ts, "None", 0))
        else:
            out.append((user, ts, prev[0], ts - prev[1]))
        if action == "Logout":
            state.pop(user, None)
        else:
            state[user] = (action, ts)
    return out


def counts_ref(events, size_ms=10_000):
    c = Counter((ts // size_ms * size_ms, user, action)
                for _, user, action, ts in events)
    return [(w, u, a, n) for (w, u, a), n in c.items()]


def check_open_loop(events, durations: list, counts: list,
                    tamper: bool = False) -> tuple[int, int]:
    got_d = [(r[0], int(r[1]), r[2], int(r[3])) for r in durations
             if r[0] != FLUSH_USER]
    got_c = [(int(r[0]), r[1], r[2], int(r[3])) for r in counts
             if r[1] != FLUSH_USER]
    if tamper:
        got_d = got_d[1:]
    e1, f1 = compare(st2_ref(events), got_d)
    e2, f2 = compare(counts_ref(events), got_c)
    return e1 + e2, f1 + f2
