"""Open-loop message generator for the relay workload.

The schedule is a pure function of the seed and the rate ladder, so the
benchmark's sink listener rebuilds it to know what each message should
look like and where it should land. The generator itself runs as its own
process: one thread, at most `--conns` connections (the benchmark passes
nproc), sending every message at its due time whatever the relay does,
and reading the receiver's per-record OK/THROTTLED replies on the same
loop.

    python3 gen_relay.py --port 3110 --seed 1 --ladder 1000:4,2000:4 \
        --conns 4 --out gen.json

The first message is due 200 ms after the schedule is built; the output
records that start (CLOCK_MONOTONIC ns) with every send and reply time.
"""
import argparse
import bisect
import itertools
import json
import random
import resource
import selectors
import socket
import time

ROUTED = ("click", "view", "purchase")
UNROUTABLE = ("refund", "ping")
TYPE_MIX = (("click", 0.50), ("view", 0.25), ("purchase", 0.15),
            ("refund", 0.05), ("ping", 0.05))
USERS = 5000
FILLER = 1 << 16


def parse_ladder(spec):
    """'1000:4,2000:4' -> [(1000.0, 4.0), (2000.0, 4.0)] (msgs/s, seconds)."""
    return [tuple(float(x) for x in part.split(":")) for part in spec.split(",")]


class Schedule:
    """Message i: due offset from t0, type, user, payload. Payloads start
    with '<i>.' so every sink can name the message it got."""

    def __init__(self, seed, ladder):
        rng = random.Random(seed)
        alphabet = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
        filler = "".join(rng.choice(alphabet) for _ in range(FILLER))
        cdf = list(itertools.accumulate(1.0 / r ** 1.2 for r in range(1, USERS + 1)))
        tcdf = list(itertools.accumulate(p for _, p in TYPE_MIX))
        self.due_ns, self.types, self.users, self.payloads = [], [], [], []
        self.rungs = []
        start = 0.0
        for rate, secs in ladder:
            n = int(rate * secs)
            first = len(self.due_ns)
            for j in range(n):
                self.due_ns.append(int((start + j / rate) * 1e9))
            self.rungs.append({"rate": rate, "seconds": secs,
                               "first": first, "count": n,
                               "start_ns": int(start * 1e9)})
            start += secs
        self.end_ns = int(start * 1e9)
        for i in range(len(self.due_ns)):
            x = rng.random() * tcdf[-1]
            self.types.append(TYPE_MIX[bisect.bisect_left(tcdf, x)][0])
            self.users.append(bisect.bisect_left(cdf, rng.random() * cdf[-1]))
            size = max(24, min(int(rng.lognormvariate(4.6, 0.6)), 2048))
            off = rng.randrange(FILLER - size)
            head = "%d." % i
            self.payloads.append((head + filler[off:off + size - len(head)]).encode())

    def __len__(self):
        return len(self.due_ns)

    def line(self, i):
        return b"type=%s&user=u%d&seq=%d&due=%d %s\n" % (
            self.types[i].encode(), self.users[i], i, self.due_ns[i] // 1000,
            self.payloads[i])


def run(port, sched, t0_ns, conns, drain_s):
    sel = selectors.DefaultSelector()
    socks = []
    for c in range(conns):
        s = socket.create_connection(("127.0.0.1", port))
        s.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        s.setblocking(False)
        socks.append(s)
        sel.register(s, selectors.EVENT_READ, c)
    n = len(sched)
    sent_ns = [0] * n
    ack_ns = [0] * n
    status = bytearray(n)  # 0 no reply, 1 OK, 2 THROTTLED
    pending = [bytearray() for _ in range(conns)]
    # per-connection FIFO of message ids awaiting a reply
    inflight = [[] for _ in range(conns)]
    head = [0] * conns
    partial = [b""] * conns
    nxt = 0
    deadline = None
    while True:
        now = time.monotonic_ns()
        while nxt < n and t0_ns + sched.due_ns[nxt] <= now:
            c = nxt % conns
            pending[c] += sched.line(nxt)
            inflight[c].append(nxt)
            sent_ns[nxt] = now
            nxt += 1
        for c in range(conns):
            if pending[c]:
                try:
                    k = socks[c].send(pending[c])
                    del pending[c][:k]
                except BlockingIOError:
                    pass
        if nxt >= n and deadline is None:
            deadline = now + int(drain_s * 1e9)
        if deadline is not None and (
                now > deadline or all(head[c] == len(inflight[c]) for c in range(conns))):
            break
        wait = 0.0005
        if nxt < n:
            wait = max(0.0, min(wait, (t0_ns + sched.due_ns[nxt] - now) / 1e9))
        for key, _ in sel.select(wait):
            c = key.data
            try:
                data = socks[c].recv(1 << 16)
            except BlockingIOError:
                continue
            if not data:
                continue
            t = time.monotonic_ns()
            lines = (partial[c] + data).split(b"\r\n")
            partial[c] = lines.pop()
            for ln in lines:
                i = inflight[c][head[c]]
                head[c] += 1
                ack_ns[i] = t
                status[i] = 1 if ln == b"OK" else 2
    for s in socks:
        s.close()
    return sent_ns, ack_ns, status


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--ladder", required=True)
    ap.add_argument("--conns", type=int, required=True)
    ap.add_argument("--drain-s", type=float, default=5.0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    sched = Schedule(args.seed, parse_ladder(args.ladder))
    ru0 = resource.getrusage(resource.RUSAGE_SELF)
    t0_ns = time.monotonic_ns() + 200_000_000
    sent_ns, ack_ns, status = run(args.port, sched, t0_ns, args.conns,
                                  args.drain_s)
    ru = resource.getrusage(resource.RUSAGE_SELF)
    cpu = ru.ru_utime + ru.ru_stime - ru0.ru_utime - ru0.ru_stime
    with open(args.out, "w") as f:
        json.dump({"t0_ns": t0_ns, "sent_ns": sent_ns, "ack_ns": ack_ns,
                   "status": list(status), "cpu_s": cpu}, f)


if __name__ == "__main__":
    main()
