"""Seeded syslog line generator and the open-loop load generator.

Every generated line ends with `` seq=<n> due=<µs>``: its sequence number
and the wall-clock time (epoch microseconds) at which the schedule said it
was due to be sent. The checker rebuilds the exact text of line ``n`` from
the seed and the recorded due time, so a line that comes back changed,
twice or not at all is caught.

The load generator is open loop: one thread sends on a fixed schedule over
one TCP connection or one UDP socket and never waits for the collector.
When it falls behind (a full socket buffer blocks ``sendall``), the delay
is recorded as lateness and the lines keep their original due times, so a
stall shows up in the latency of every line queued behind it.
"""

from __future__ import annotations

import random
import socket
import time
from array import array

# Input properties the collector's behaviour depends on. They are assumed,
# not measured: no capture of production syslog traffic exists to derive
# them from, and none is cited. Parse and encode costs follow the dialect
# mix and the line lengths, so a gain measured on this mix holds for it
# alone; ``dialect_shares`` reports the mix a run actually sent. A measured
# mix, once available, replaces these constants.
DIALECT_MIX = (  # (dialect, share of lines)
    ("rfc5424_sd", 0.30),
    ("rfc5424", 0.25),
    ("rfc3164", 0.35),
    ("unparseable", 0.10),
)
OVERSIZE_SHARE = 0.01  # lines whose payload is over 8 KB
OVERSIZE_BYTES = (8300, 10500)
NON_ASCII_SHARE = 0.10
N_HOSTS = 64
N_APPS = 16
LINES_PER_DATAGRAM = (4, 12)  # UDP datagrams carry several lines each
N_TEMPLATES = 4096

# Non-ASCII payload words. None of them holds a character that
# str.splitlines treats as a line break (U+0085, U+2028, U+001C..U+001E),
# which the UDP listener would split on.
_NON_ASCII = (
    "こんにちは世界",
    "naïve café",
    "Grüße aus Köln",
    "Привет мир",
    "日本語ログ出力",
    "ελληνικά δεδομένα",
    "señal débil — reintento",
)
_WORDS = (
    "GET", "POST", "/index.html", "/api/v1/items", "200", "404", "503",
    "session", "opened", "closed", "user", "root", "failed", "accepted",
    "disk", "quota", "exceeded", "retry", "timeout", "upstream", "cache",
)
_MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")
_TZ = ("Z", ".250Z", ".999Z", "+02:00", "-05:00")


def _payload(rng: random.Random) -> str:
    words = [rng.choice(_WORDS) for _ in range(rng.randint(3, 12))]
    if rng.random() < NON_ASCII_SHARE:
        words.insert(rng.randrange(len(words) + 1), rng.choice(_NON_ASCII))
    if rng.random() < OVERSIZE_SHARE:
        words.append("x" * rng.randint(*OVERSIZE_BYTES))
    return " ".join(words)


def _template(rng: random.Random) -> tuple[str, str]:
    """(dialect, line text without the seq/due token)."""
    r = rng.random()
    for dialect, share in DIALECT_MIX:
        if r < share:
            break
        r -= share
    host = f"host{rng.randrange(N_HOSTS):02d}.example.net"
    app = f"app{rng.randrange(N_APPS)}"
    pri = rng.randrange(192)
    msg = _payload(rng)
    if dialect == "unparseable":
        return dialect, f"garbage {rng.randrange(10**6)} :: {msg}"
    if dialect == "rfc3164":
        day = rng.randint(1, 28)
        clock = f"{rng.randrange(24):02d}:{rng.randrange(60):02d}:{rng.randrange(60):02d}"
        pid = f"[{rng.randrange(1, 65536)}]" if rng.random() < 0.7 else ""
        return dialect, f"<{pri}>{rng.choice(_MONTHS)} {day:>2} {clock} {host} {app}{pid}: {msg}"
    ts = (
        f"2024-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}T"
        f"{rng.randrange(24):02d}:{rng.randrange(60):02d}:{rng.randrange(60):02d}{rng.choice(_TZ)}"
    )
    procid = str(rng.randrange(1, 65536)) if rng.random() < 0.8 else "-"
    msgid = f"ID{rng.randrange(100)}" if rng.random() < 0.6 else "-"
    sd = "-"
    if dialect == "rfc5424_sd":
        # distinct SD-IDs and param names: sd_map_expr builds a map and
        # Spark rejects duplicate map keys
        elements = []
        for e in range(rng.randint(1, 3)):
            params = " ".join(
                f'p{p}="{rng.choice(_WORDS)}{rng.randrange(100)}"' for p in range(rng.randint(1, 4))
            )
            elements.append(f"[sd{e}@{rng.randrange(32473, 32480)} {params}]")
        sd = "".join(elements)
    return dialect, f"<{pri}>1 {ts} {host} {app} {procid} {msgid} {sd} {msg}"


class LineGen:
    """Deterministic line texts: the same seed gives the same lines."""

    def __init__(self, seed: int) -> None:
        rng = random.Random(seed)
        self.dialects, self.templates = zip(*(_template(rng) for _ in range(N_TEMPLATES)))

    def line(self, seq: int, due_us: int) -> str:
        return f"{self.templates[seq % len(self.templates)]} seq={seq} due={due_us}"


def dialect_shares(gen: LineGen, n: int) -> dict[str, float]:
    """Share of each dialect among lines ``0..n-1`` of ``gen``."""
    full, rest = divmod(n, len(gen.dialects))
    counts = dict.fromkeys((d for d, _ in DIALECT_MIX), 0)
    for i, d in enumerate(gen.dialects):
        counts[d] += full + (i < rest)
    return {d: c / max(n, 1) for d, c in counts.items()}


def parse_token(line: str) -> tuple[int, int]:
    """(seq, due_us) from a generated line; ValueError when it has none."""
    head, _, due = line.rpartition(" due=")
    _, _, seq = head.rpartition(" seq=")
    if not due or not seq:
        raise ValueError(f"line carries no seq/due token: {line[:80]!r}")
    return int(seq), int(due)


class LoadGen:
    """Open-loop sender over one TCP connection or one UDP socket.

    ``sends`` records one ``(time, end seq)`` pair per socket write and
    ``due_us[seq]`` the due time stamped into line ``seq``.
    """

    def __init__(self, gen: LineGen, protocol: str, addr: tuple[str, int], seed: int,
                 conn: socket.socket | None = None) -> None:
        self.gen = gen
        self.protocol = protocol
        self.addr = addr
        self._rng = random.Random(seed ^ 0x5EED)
        if protocol == "tcp":
            self.sock = conn or socket.create_connection(addr, timeout=60)
            self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        else:
            self.sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        self.due_us = array("q")
        self.sends: list[tuple[float, int]] = []
        self.late_s: list[float] = []

    @property
    def next_seq(self) -> int:
        return len(self.due_us)

    def _write(self, payload: bytes, seq_end: int) -> None:
        if self.protocol == "tcp":
            self.sock.sendall(payload)
        else:
            self.sock.sendto(payload, self.addr)
        self.sends.append((time.time(), seq_end))

    def _encode(self, lines: list[str]) -> bytes:
        text = "\n".join(lines)
        return (text + "\n" if self.protocol == "tcp" else text).encode()

    def _sleep_until(self, t: float) -> None:
        now = time.time()
        if now < t:
            time.sleep(t - now)

    def paced(self, n: int, rate: float) -> None:
        """Send ``n`` lines, line ``i`` due at ``t0 + i / rate``.

        TCP writes as soon as a line is due, carrying every line due by
        then; a UDP datagram of several lines goes out when the last line
        it carries is due. Lateness is measured from that scheduled time."""
        t0 = time.time()
        i = 0
        while i < n:
            if self.protocol == "udp":
                k = min(self._rng.randint(*LINES_PER_DATAGRAM), n - i)
                scheduled = t0 + (i + k - 1) / rate
                self._sleep_until(scheduled)
            else:
                scheduled = t0 + i / rate
                self._sleep_until(scheduled)
                k = max(1, min(n - i, int((time.time() - t0) * rate) + 1 - i))
            first = self.next_seq
            dues = [int((t0 + j / rate) * 1e6) for j in range(i, i + k)]
            lines = [self.gen.line(first + m, due) for m, due in enumerate(dues)]
            self.due_us.extend(dues)
            self._write(self._encode(lines), self.next_seq)
            self.late_s.append(time.time() - scheduled)
            i += k

    def flood(self, n: int) -> tuple[float, float]:
        """Send ``n`` lines, all due now, as fast as one thread can format
        and write them. Returns the times of the first and the last write."""
        t_first = time.time()
        due = int(t_first * 1e6)
        end = self.next_seq + n
        while self.next_seq < end:
            k = self._rng.randint(*LINES_PER_DATAGRAM) if self.protocol == "udp" else 256
            first = self.next_seq
            k = min(k, end - first)
            self.due_us.extend([due] * k)
            self._write(self._encode([self.gen.line(s, due) for s in range(first, first + k)]), first + k)
        return t_first, time.time()

    def close(self) -> None:
        self.sock.close()
