"""Seeded Postfix maillog generator for the ingest workloads.

The program under test only ever sees the files this module writes.
Each property below is there because some layer's cost depends on it:

* Per-message line groups in Postfix order (smtpd -> cleanup -> qmgr ->
  one smtp line per recipient, then ``removed``), with a few messages in
  flight at once so their groups interleave. The interleaving makes the
  last-writer-wins merges depend on arrival order, as real logs do.
* A queueid unique to every message. ``messages`` then grows by one row
  per message and ``clients`` keeps growing as new clients appear, so
  merge cost rises with state size. (``synth``'s 97-queueid cycle would
  keep ``messages`` at 97 rows and hide that cost.)
* A Zipf-skewed pool of recurring clients: a few hot clients recur in
  almost every batch (keyed merge updates), a long tail is seen once
  (inserts).
* About 10% exact duplicates of a recent line (a shipper replaying after
  a restart): they exercise the dedup in ``logs``/``deliveries`` and the
  file-order rule for ``client_lastseen``.
* About 3% malformed lines (no syslog header, a cut-off header, or a
  space-padded day the strict header rejects): they exercise the
  admission filter.
* Deferred deliveries retried later, so ``deliveries`` holds several
  attempts per recipient.

Only ``random.Random(seed)`` drives the choices: the same seed gives the
same lines.
"""

from __future__ import annotations

import calendar
import heapq
import random
import time
from bisect import bisect_left
from itertools import accumulate

YEAR = 2024
START = calendar.timegm((YEAR, 8, 13, 0, 0, 0))
HOSTS = ["mx01", "mx02", "mx03"]
DOMAINS = ["example.org", "example.net", "example.com", "mail.test", "corp.test"]
RELAYS = [f"relay{i}.example.net" for i in range(8)]
DUP_SHARE = 0.10
MALFORMED_SHARE = 0.03
IN_FLIGHT = 6
# A pool larger than the ~550 messages of a 5 s window at 1,000 lines/s,
# so clients not seen before keep arriving; with exponent 1.1 the ten
# hottest clients send about 44% of the messages and recur in every batch.
N_CLIENTS = 3000
ZIPF_S = 1.1


class MaillogGenerator:
    """Stateful line source: successive ``lines(n)`` calls continue one
    log (time, queueids and the duplicate window carry over)."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.clock = float(START)
        self._sec, self._ts = -1, ""
        self.next_msg = 0
        self.tag = f"{self.rng.randrange(36 ** 3):03X}"
        self.clients = [self._client(i) for i in range(N_CLIENTS)]
        self.client_cum = list(accumulate(1.0 / (i + 1) ** ZIPF_S for i in range(N_CLIENTS)))
        self.recent: list[str] = []
        self.flight: list[list[str]] = []
        self.retries: list[tuple[float, str, str]] = []

    def _client(self, i: int) -> str:
        rng = self.rng
        ip = f"{rng.randrange(1, 224)}.{rng.randrange(256)}.{rng.randrange(256)}.{rng.randrange(1, 255)}"
        rdns = "unknown" if rng.random() < 0.15 else f"h{i}.{rng.choice(DOMAINS)}"
        return f"{rdns}[{ip}]"

    def _stamp(self, proc: str) -> str:
        rng = self.rng
        self.clock += rng.expovariate(20.0)
        sec = int(self.clock)
        if sec != self._sec:
            self._sec, self._ts = sec, time.strftime("%b %d %H:%M:%S", time.gmtime(sec))
        ts = self._ts
        return f"{ts} {rng.choice(HOSTS)} postfix/{proc}[{rng.randrange(1000, 60000)}]:"

    def _smtp(self, qid: str, rcpt: str, status: str) -> str:
        rng = self.rng
        relay = rng.choice(RELAYS)
        d = [rng.randrange(1, 99) / 100 for _ in range(4)]
        dsn, ext = {
            "sent": ("2.0.0", f"250 2.0.0 OK queued as {rng.randrange(16 ** 8):08X}"),
            "deferred": ("4.4.1", "connect to mx.remote.test[203.0.113.9]:25: Connection timed out"),
            "bounced": ("5.1.1", "host mx.remote.test said: 550 5.1.1 user unknown"),
        }[status]
        return (f"{self._stamp('smtp')} {qid}: to=<{rcpt}>, relay={relay}[198.51.100."
                f"{RELAYS.index(relay) + 10}]:25, delay={sum(d):.2f}, "
                f"delays={d[0]}/{d[1]}/{d[2]}/{d[3]}, dsn={dsn}, status={status} ({ext})")

    def _message(self) -> list:
        """One message as a list of deferred line makers, in Postfix
        order; each stamps its line when emitted."""
        rng = self.rng
        qid = f"{self.tag}{self.next_msg:07X}"
        self.next_msg += 1
        client = self.clients[bisect_left(self.client_cum, rng.random() * self.client_cum[-1])]
        sender = f"s{rng.randrange(500)}@{rng.choice(DOMAINS)}"
        rcpts = [f"u{rng.randrange(5000)}@{rng.choice(DOMAINS)}" for _ in range(rng.choice((1, 1, 1, 2, 3)))]
        steps = [
            lambda: f"{self._stamp('smtpd')} connect from {client}",
            lambda: f"{self._stamp('smtpd')} {qid}: client={client}",
            lambda: f"{self._stamp('cleanup')} {qid}: message-id=<{qid}.{rng.randrange(10 ** 6)}@{rng.choice(DOMAINS)}>",
            lambda: (f"{self._stamp('qmgr')} {qid}: from=<{sender}>, size={rng.randrange(300, 90000)}, "
                     f"nrcpt={len(rcpts)} (queue active)"),
        ]
        for rcpt in rcpts:
            r = rng.random()
            status = "sent" if r < 0.85 else "deferred" if r < 0.95 else "bounced"
            steps.append(lambda rcpt=rcpt, status=status: self._smtp(qid, rcpt, status))
            if status == "deferred":
                heapq.heappush(self.retries, (self.clock + rng.uniform(20, 200), qid, rcpt))
        steps.append(lambda: f"{self._stamp('smtpd')} disconnect from {client}")
        steps.append(lambda: f"{self._stamp('qmgr')} {qid}: removed")
        return steps

    def _malformed(self) -> str:
        rng = self.rng
        kind = rng.randrange(3)
        if kind == 0:
            return f"garbage {rng.randrange(10 ** 9):x} without a syslog header"
        if kind == 1:
            return self._stamp("smtpd")[: rng.randrange(4, 18)]
        # space-padded single-digit day: the strict header drops it
        return f"Sep  {rng.randrange(1, 10)} 00:00:00 mx01 postfix/smtpd[1]: connect from x[192.0.2.1]"

    def _next_original(self) -> str:
        rng = self.rng
        if self.retries and self.retries[0][0] <= self.clock:
            _, qid, rcpt = heapq.heappop(self.retries)
            return self._smtp(qid, rcpt, "sent")
        while len(self.flight) < IN_FLIGHT:
            self.flight.append(self._message())
        i = rng.randrange(len(self.flight))
        line = self.flight[i].pop(0)()
        if not self.flight[i]:
            self.flight.pop(i)
        return line

    def lines(self, n: int) -> list[str]:
        rng = self.rng
        out: list[str] = []
        while len(out) < n:
            r = rng.random()
            if r < MALFORMED_SHARE:
                out.append(self._malformed())
            elif r < MALFORMED_SHARE + DUP_SHARE and self.recent:
                out.append(rng.choice(self.recent))
            else:
                line = self._next_original()
                out.append(line)
                self.recent.append(line)
                if len(self.recent) > 64:
                    self.recent.pop(0)
        return out


def write_lines(path: str, lines: list[str]) -> int:
    """Write whole lines; return the bytes written."""
    data = ("\n".join(lines) + "\n").encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)
