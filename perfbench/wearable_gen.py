"""Open-loop load generator for the ``wearable_live`` workload.

A separate process from the system under test. It listens on one local TCP
port; the program's socket source connects to it. Each line it sends is one
event, stamped with the time it was due to be created (epoch microseconds):

    <due_us>,<x>,<y>,<z>,<vibe>     one accelerometer sample
    <due_us>                        a heartbeat tick (a time-only event)

Samples follow the schedule handed over in ``--schedule`` (phases of a fixed
rate, each followed by a pause in which only ticks flow); a tick falls on
every 120 ms window boundary, so each window closes on time however sparse
its steps are. The schedule never waits for the system: lines that fall due
while a send blocks are sent late, and the lateness is logged.

The first ``--warmup-conns`` connections each get the ``warm`` phase only,
until the peer closes; the next one gets the whole schedule. Before each
ladder phase (``rung``) the generator checks ``--stop-file`` and skips the
remaining rungs if it exists. ``--log`` receives what was actually sent.

Run: python3 wearable_gen.py --samples F --schedule JSON --port-file F
         --stop-file F --log F --warmup-conns N
"""

import argparse
import json
import os
import select
import socket
import time

WINDOW_US = 120_000


def now_us():
    return time.time_ns() // 1000


def phase_events(samples, first, rate, dur_ms, gap_ms, off):
    """(offset_us, body) of one phase: its samples, then ticks on the window
    boundaries from its start to the end of its pause. A tick's body is
    None."""
    n = rate * dur_ms // 1000
    evs = [(off + (j * 1_000_000) // rate, samples[(first + j) % len(samples)]) for j in range(n)]
    k = -(-off // WINDOW_US)
    while k * WINDOW_US < off + dur_ms * 1000 + gap_ms * 1000:
        evs.append((k * WINDOW_US, None))
        k += 1
    evs.sort(key=lambda e: e[0])
    return evs


def plan(samples, phases):
    """Every phase's events at offsets from the schedule start."""
    off, first, out = 0, 0, []
    for ph in phases:
        out.append((ph, off, first, phase_events(samples, first, ph["rate"], ph["ms"], ph["gap_ms"], off)))
        first += ph["rate"] * ph["ms"] // 1000
        off += (ph["ms"] + ph["gap_ms"]) * 1000
    return out


class Conn:
    def __init__(self, sock, t0):
        self.sock = sock
        self.t0 = t0
        self.sent = 0
        self.late_max_us = 0

    def closed_by_peer(self):
        r, _, _ = select.select([self.sock], [], [], 0)
        if not r:
            return False
        try:
            return self.sock.recv(1 << 16) == b""
        except OSError:
            return True

    def send(self, evs):
        """Send events in order, each no earlier than it is due."""
        t0, i = self.t0, 0
        while i < len(evs):
            t = now_us() - t0
            j = i
            while j < len(evs) and evs[j][0] <= t:
                j += 1
            if j == i:
                time.sleep(min(0.002, (evs[i][0] - t) / 1e6))
                continue
            self.late_max_us = max(self.late_max_us, t - evs[i][0])
            self.sock.sendall(b"".join(b"%d,%s\n" % (t0 + o, b) if b is not None else b"%d\n" % (t0 + o)
                                       for o, b in evs[i:j]))
            self.sent += j - i
            i = j


def run_phases(conn, planned, stop_file):
    """Serve the planned phases; returns the log of what ran and the number
    of windows the final tick closes."""
    log, end = [], 0
    for ph, off, first, evs in planned:
        if ph["kind"] == "rung" and os.path.exists(stop_file):
            break
        conn.late_max_us = 0
        conn.send(evs)
        log.append({"name": ph["name"], "kind": ph["kind"], "rate": ph["rate"], "ms": ph["ms"],
                    "gap_ms": ph["gap_ms"], "offset_us": off, "first": first,
                    "late_ms_max": conn.late_max_us / 1000.0})
        end = off + (ph["ms"] + ph["gap_ms"]) * 1000
    # the tick that closes the last window
    windows = -(-end // WINDOW_US)
    conn.send([(windows * WINDOW_US, None)])
    return log, windows


def main():
    ap = argparse.ArgumentParser()
    for a in ("--samples", "--schedule", "--port-file", "--stop-file", "--log"):
        ap.add_argument(a, required=True)
    ap.add_argument("--warmup-conns", type=int, default=0)
    args = ap.parse_args()
    with open(args.samples) as f:
        samples = [ln.strip() for ln in f if ln.strip()]
    with open(args.schedule) as f:
        phases = json.load(f)
    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    srv.settimeout(300)
    tmp = args.port_file + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(srv.getsockname()[1]))
    os.replace(tmp, args.port_file)

    planned = plan([s.encode() for s in samples], phases)
    warm = [p for p in phases if p["kind"] == "warm"][0]
    warm_evs = phase_events([s.encode() for s in samples], 0, warm["rate"], 500, 0, 0)
    for _ in range(args.warmup_conns):
        sock, _ = srv.accept()
        conn = Conn(sock, now_us() // 1000 * 1000 + 1000)
        # the warm phase, repeated, until the program closes the connection
        rounds = 0
        while not conn.closed_by_peer() and rounds < 240:
            try:
                conn.send([(o + rounds * 500_000, b) for o, b in warm_evs])
            except OSError:
                break
            rounds += 1
        sock.close()

    sock, _ = srv.accept()
    conn = Conn(sock, now_us() // 1000 * 1000 + 1000)
    log, windows = run_phases(conn, planned, args.stop_file)
    out = {"t0_us": conn.t0, "phases": log, "windows": windows, "lines_sent": conn.sent}
    with open(args.log + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(args.log + ".tmp", args.log)
    # hold the connection until the program has read everything and closes it
    sock.settimeout(120)
    try:
        while sock.recv(1 << 16):
            pass
    except OSError:
        pass
    sock.close()
    srv.close()


if __name__ == "__main__":
    main()
