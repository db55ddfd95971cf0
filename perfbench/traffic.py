"""Seeded, delivery-shaped S3 access-log traffic and its ground truth.

Lines come from the package's own fixture generator
(``sources.generator.generate_log_lines``), so the line format and its
~1% garbage and ~1% blank lines are the package's. This module only
re-stamps each well-formed line's ``[timestamp]`` so that the traffic
looks like what S3 delivers: each delivery day is cut into consecutive
files, each file covers a short window of that day, and a small share
of lines arrives late, stamped on the previous day.

The same traffic feeds every workload: ``chunks(day, n)`` cuts a day into
``n`` files (hundreds for the batch backfill, 24 hourly files for the
stream and the snapshot table), always at the same line boundaries
because every file count used divides the day's base file grid.

``Truth`` keeps one record per parsed line and answers every tally the
output checks need: rows and dead letters per delivery day or file, and
per-event-day row counts and ``bytes_sent`` sums by operation.
"""

from __future__ import annotations

import os
import random
import re
from collections import defaultdict
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

from aws_logs_parquet_converter_spark.sources.generator import generate_log_lines

EPOCH0 = datetime(2024, 7, 1, tzinfo=timezone.utc)
DAY_S = 86_400

_TS = re.compile(r"\[[^\]]*\]")
# operation is field 7 and bytes_sent field 12 of the S3 grammar; the
# request field (9) is either "-" or a quoted string with spaces
_FIELDS = re.compile(
    r'^\S+ \S+ \[[^\]]*\] \S+ \S+ \S+ (\S+) \S+ (?:"[^"]*"|-) \S+ \S+ (\S+) '
)


@dataclass(frozen=True)
class TrafficSpec:
    seed: int
    days: int
    lines_per_day: int
    files_per_day: int  # base file grid; every chunk count must divide it
    late_share: float = 0.03


@dataclass(frozen=True)
class Record:
    """One parsed line: where it was delivered and what it says."""

    day: int  # delivery day index
    pos: int  # line position inside the delivery day
    ts: int  # event time, epoch seconds (UTC)
    op: str
    nbytes: int | None


@dataclass
class Truth:
    spec: TrafficSpec
    records: list[Record] = field(default_factory=list)
    # per delivery day: positions of dead letters and of blank lines
    dead: dict[int, list[int]] = field(default_factory=dict)
    blank: dict[int, list[int]] = field(default_factory=dict)

    def raw_lines(self, day: int | None = None) -> int:
        """Lines delivered on ``day``, or on every generated day."""
        days = list(self.dead) if day is None else [day]
        return len(days) * self.spec.lines_per_day

    def rows(self, day: int) -> int:
        """Parsed rows delivered on ``day`` (dead letters excluded)."""
        return sum(1 for r in self.records if r.day == day)

    def dead_letters(self, day: int | None = None) -> int:
        if day is None:
            return sum(len(v) for v in self.dead.values())
        return len(self.dead.get(day, []))

    def chunk_range(self, day: int, n_chunks: int, i: int) -> tuple[int, int]:
        per = self.spec.lines_per_day // n_chunks
        return i * per, (i + 1) * per

    def chunk_records(self, day: int, n_chunks: int, i: int) -> list[Record]:
        lo, hi = self.chunk_range(day, n_chunks, i)
        return [r for r in self.records if r.day == day and lo <= r.pos < hi]

    def chunk_dead(self, day: int, n_chunks: int, i: int) -> int:
        lo, hi = self.chunk_range(day, n_chunks, i)
        return sum(1 for p in self.dead.get(day, []) if lo <= p < hi)

    @staticmethod
    def by_event_day_op(records) -> dict[tuple[str, str], tuple[int, int]]:
        """(event date ISO, operation) -> (rows, sum of bytes_sent)."""
        out: dict[tuple[str, str], list[int]] = defaultdict(lambda: [0, 0])
        for r in records:
            k = (_iso_day(r.ts), r.op)
            out[k][0] += 1
            out[k][1] += r.nbytes or 0
        return {k: (v[0], v[1]) for k, v in out.items()}

    @staticmethod
    def in_range(records, lo: int, hi: int) -> tuple[int, int]:
        """(rows, sum of bytes_sent) with lo <= event time < hi."""
        n = b = 0
        for r in records:
            if lo <= r.ts < hi:
                n += 1
                b += r.nbytes or 0
        return n, b

    def tallies(self) -> dict:
        """The ground truth as plain JSON-able data."""
        days = sorted(self.dead)
        return {
            "lines_per_day": {d: self.raw_lines(d) for d in days},
            "rows_per_day": {d: self.rows(d) for d in days},
            "dead_letters_per_day": {d: self.dead_letters(d) for d in days},
            "by_event_day_op": {
                f"{d}|{op}": list(v)
                for (d, op), v in sorted(self.by_event_day_op(self.records).items())
            },
        }


def _iso_day(ts: int) -> str:
    return datetime.fromtimestamp(ts, timezone.utc).strftime("%Y-%m-%d")


def day_start(day: int) -> int:
    return int(EPOCH0.timestamp()) + day * DAY_S


def generate(
    spec: TrafficSpec, only: set[int] | None = None
) -> tuple[dict[int, list[str]], Truth]:
    """The traffic: delivery day -> its lines in delivery order, plus truth.

    ``only`` limits generation to those delivery days; each day's lines
    depend on the seed and the day alone, never on the other days.
    """
    if spec.lines_per_day % spec.files_per_day:
        raise ValueError("lines_per_day must be a multiple of files_per_day")
    truth = Truth(spec)
    days: dict[int, list[str]] = {}
    per_file = spec.lines_per_day // spec.files_per_day
    window = DAY_S / spec.files_per_day
    for day in range(spec.days):
        if only is not None and day not in only:
            continue
        rng = random.Random(spec.seed * 1_000_003 + day)
        raw = generate_log_lines(spec.lines_per_day, seed=rng.getrandbits(32))
        lines: list[str] = []
        dead: list[int] = []
        blank: list[int] = []
        for pos, line in enumerate(raw):
            m = _FIELDS.match(line)
            if m is None:
                (blank if not line.strip() else dead).append(pos)
                lines.append(line)
                continue
            f = pos // per_file
            if day > 0 and rng.random() < spec.late_share:
                ts = day_start(day - 1) + rng.randrange(DAY_S)
            else:
                ts = day_start(day) + int(f * window + rng.random() * window)
            stamp = datetime.fromtimestamp(ts, timezone.utc).strftime(
                "[%d/%b/%Y:%H:%M:%S +0000]"
            )
            lines.append(_TS.sub(stamp, line, count=1))
            nb = m.group(2)
            truth.records.append(
                Record(day, pos, ts, m.group(1), None if nb == "-" else int(nb))
            )
        truth.dead[day] = dead
        truth.blank[day] = blank
        days[day] = lines
    return days, truth


def chunks(lines: list[str], n: int) -> list[list[str]]:
    per = len(lines) // n
    return [lines[i * per : (i + 1) * per] for i in range(n)]


def write_file(path: str, lines: list[str]) -> None:
    """Write one delivery file."""
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")


def day_dir(root: str, day: int) -> str:
    d = datetime.fromtimestamp(day_start(day), timezone.utc)
    return os.path.join(root, d.strftime("%Y/%m/%d"))


def day_date(day: int):
    return datetime.fromtimestamp(day_start(day), timezone.utc).date()


def iso_ts(ts: int) -> str:
    return datetime.fromtimestamp(ts, timezone.utc).strftime("%Y-%m-%d %H:%M:%S")


def naive(ts: int) -> datetime:
    """Event time as the naive UTC datetime the parser produces."""
    return datetime(1970, 1, 1) + timedelta(seconds=ts)
