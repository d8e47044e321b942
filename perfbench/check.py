"""Output checker: every value the collector wrote is compared with what
was sent, and every sequence number is counted.

- Avro values are decoded with ``encode.decode.decode_confluent``,
  re-encoded with ``encode_logline_confluent`` and must be byte-equal; the
  decoded fields must be the sent line and the run's source, tags and
  log type id.
- String values must equal the sent line.
- Each sequence number must arrive once. A repeat is an error on every
  transport; a missing one is an error on TCP and a counted loss on UDP,
  which may drop datagrams.
- Window aggregates of the parse replay must equal the DuckDB twin over the
  same lines (:func:`replay_oracle_rows`).
"""

from __future__ import annotations

from perfbench.gen import LineGen, parse_token

MAX_ERRORS = 20


class Checker:
    def __init__(self, gen: LineGen, due_us, n_sent: int, lossless: bool) -> None:
        self.gen = gen
        self.due_us = due_us
        self.n_sent = n_sent
        self.lossless = lossless
        self.seen = bytearray(n_sent)
        self.errors: list[str] = []
        self.n_dup = 0
        self.n_failed = 0

    def _error(self, msg: str) -> None:
        self.n_failed += 1
        if len(self.errors) < MAX_ERRORS:
            self.errors.append(msg)

    def line(self, text: str) -> int | None:
        """Validate one delivered line; its sequence number, or None."""
        try:
            seq, due = parse_token(text)
        except ValueError as exc:
            self._error(str(exc))
            return None
        if not 0 <= seq < self.n_sent:
            self._error(f"seq {seq} was never sent")
            return None
        if text != self.gen.line(seq, self.due_us[seq]):
            self._error(f"seq {seq}: line differs from the one sent: {text[:80]!r}")
            return None
        if self.seen[seq]:
            self.n_dup += 1
            self._error(f"seq {seq} delivered more than once")
        else:
            self.seen[seq] = 1
        return seq

    def string_value(self, value: bytes) -> int | None:
        try:
            text = value.decode("utf-8")
        except UnicodeDecodeError:
            self._error(f"value is not UTF-8: {value[:40]!r}")
            return None
        return self.line(text)

    def avro_value(self, value: bytes, schema_id: int, source: str,
                   tags: dict[str, str], logtypeid: int) -> tuple[int | None, int | None]:
        """(seq, received epoch ms) of one Confluent-framed LogLine."""
        from syslog_kafka_spark.encode.avro_binary import encode_logline_confluent
        from syslog_kafka_spark.encode.decode import decode_confluent

        try:
            sid, rec = decode_confluent(value)
        except (ValueError, IndexError, UnicodeDecodeError) as exc:
            self._error(f"undecodable value ({exc}): {value[:40]!r}")
            return None, None
        if encode_logline_confluent(rec, sid) != value:
            self._error(f"value does not re-encode byte-equal: {value[:40]!r}")
            return None, None
        timings = rec["timings"] or []
        if (sid, rec["source"], rec["tag"], rec["logtypeid"]) != (schema_id, source, tags, logtypeid) \
                or len(timings) != 1 or timings[0]["eventName"] != "received" or rec["line"] is None:
            self._error(f"LogLine envelope differs: {dict(rec, line=None)}")
            return None, None
        return self.line(rec["line"]), timings[0]["value"]

    def finish(self, lo: int = 0) -> dict:
        """Loss and repeat counts over sequence numbers ``lo..n_sent``."""
        n = self.n_sent - lo
        lost = n - sum(self.seen[lo:])
        if self.lossless and lost:
            missing = [s for s in range(lo, self.n_sent) if not self.seen[s]][:5]
            self._error(f"{lost} lines lost on a lossless transport, e.g. seq {missing}")
            self.n_failed += lost - 1
        return {
            "sent": n,
            "lost": lost,
            "dup": self.n_dup,
            "lost_ratio": lost / n if n else 0.0,
            "dup_ratio": self.n_dup / n if n else 0.0,
            "failed": self.n_failed,
            "errors": list(self.errors),
        }


def compare_rows(got: list[tuple], want: list[tuple], what: str) -> tuple[int, list[str]]:
    """Multiset comparison of result rows: (rows that differ, messages)."""
    from collections import Counter

    g, w = Counter(got), Counter(want)
    extra, missing = list((g - w).elements()), list((w - g).elements())
    if not extra and not missing:
        return 0, []
    return len(extra) + len(missing), [
        f"{what}: {len(got)} rows vs {len(want)} expected; "
        f"unexpected {extra[:3]}; missing {missing[:3]}"
    ]
