"""Minimal 5-field cron expansion (driver-side).

Schedule expectations in the reference are plain cron strings with a
margin, e.g. ``{"schedule": "0 23 * * *", "margin": 600}`` attached to
a component (``demo/demo/demo_helper.py:653-659``). Expanding expected
ticks over an analysis window is O(window-minutes) per schedule —
metadata-scale, so it runs on the driver and the resulting tick table
joins against actual run starts (SURVEY §2.3 A3).

Supported field grammar: ``*``, ``*/n``, ``a``, ``a-b``, ``a-b/n``,
comma lists. Standard POSIX day matching: when both day-of-month and
day-of-week are restricted, a date matches if EITHER matches.
"""

from __future__ import annotations

import datetime as dt


def _parse_field(field: str, lo: int, hi: int) -> set[int]:
    out: set[int] = set()
    for part in field.split(","):
        part = part.strip()
        step = 1
        if "/" in part:
            part, step_s = part.split("/", 1)
            step = int(step_s)
        if part in ("*", ""):
            lo2, hi2 = lo, hi
        elif "-" in part:
            a, b = part.split("-", 1)
            lo2, hi2 = int(a), int(b)
        else:
            lo2 = hi2 = int(part)
        out.update(range(lo2, hi2 + 1, step))
    return {v for v in out if lo <= v <= hi}


class Cron:
    def __init__(self, expr: str):
        fields = expr.split()
        if len(fields) != 5:
            raise ValueError(f"need 5 cron fields, got {expr!r}")
        self.minute = _parse_field(fields[0], 0, 59)
        self.hour = _parse_field(fields[1], 0, 23)
        self.dom = _parse_field(fields[2], 1, 31)
        self.month = _parse_field(fields[3], 1, 12)
        # accept 7 as Sunday alias
        dow = _parse_field(fields[4], 0, 7)
        self.dow = {v % 7 for v in dow}
        self.dom_star = fields[2] == "*"
        self.dow_star = fields[4] == "*"

    def matches(self, t: dt.datetime) -> bool:
        if t.minute not in self.minute or t.hour not in self.hour or t.month not in self.month:
            return False
        dom_ok = t.day in self.dom
        dow_ok = ((t.weekday() + 1) % 7) in self.dow  # python Mon=0 -> cron Sun=0
        if self.dom_star and self.dow_star:
            return True
        if self.dom_star:
            return dow_ok
        if self.dow_star:
            return dom_ok
        return dom_ok or dow_ok

    def ticks(
        self,
        start: dt.datetime,
        end: dt.datetime,
        tz: str | dt.tzinfo | None = None,
    ) -> list[dt.datetime]:
        """All matching minutes in [start, end), naive-UTC in and out.

        With ``tz`` (an IANA name like the reference's schedule payload
        ``"timezone": "America/New_York"``, demo_helper.py:658,1072, or
        a tzinfo), the cron fields match WALL-CLOCK time in that zone
        while the returned ticks stay naive UTC — the frame run events
        join against. DST falls out of iterating the UTC minute grid:
        spring-forward wall times don't exist (no UTC minute maps to
        them) so those ticks are skipped, and fall-back wall times that
        repeat fire ONCE, at their first (pre-transition) instant —
        Vixie-cron semantics."""
        t = start.replace(second=0, microsecond=0)
        if t < start:
            t += dt.timedelta(minutes=1)
        zone: dt.tzinfo | None = None
        if tz is not None:
            from zoneinfo import ZoneInfo

            zone = ZoneInfo(tz) if isinstance(tz, str) else tz
        utc = dt.timezone.utc
        out = []
        minute = dt.timedelta(minutes=1)
        if zone is None:
            while t < end:
                if self.matches(t):
                    out.append(t)
                t += minute
            return out

        # r14: the naive loop paid one astimezone() per MINUTE of the
        # window (~1.4k/day — the dominant driver-side cost of a tz
        # schedule expansion). UTC offsets are piecewise constant with
        # a handful of transitions per window, so walk hour chunks:
        # when the offset at the chunk's first and last minute agrees,
        # every wall time inside is plain arithmetic (wall = t + off,
        # the same value astimezone produces under that offset); when
        # it differs (a DST transition inside the hour), fall back to
        # the exact per-minute conversion for that chunk only. The
        # fold=0 first-instant confirmation still runs for every
        # MATCHED tick, so ambiguous fall-back wall times fire once at
        # their first instant exactly as before (parity pinned in
        # tests/test_obs_analytics.py across DST/fractional-offset
        # zones).
        def _exact_append(tt: dt.datetime) -> None:
            wall = tt.replace(tzinfo=utc).astimezone(zone).replace(tzinfo=None)
            if self.matches(wall):
                first = (
                    wall.replace(tzinfo=zone, fold=0)
                    .astimezone(utc)
                    .replace(tzinfo=None)
                )
                if first == tt:
                    out.append(tt)

        while t < end:
            chunk_end = min(
                t.replace(minute=0) + dt.timedelta(hours=1), end
            )
            # offset OF THE UTC INSTANT (zone.utcoffset(dt) would read
            # the naive part as a wall time instead)
            off_lo = t.replace(tzinfo=utc).astimezone(zone).utcoffset()
            off_hi = (
                (chunk_end - minute).replace(tzinfo=utc).astimezone(zone).utcoffset()
            )
            # INVARIANT: equal offsets at both ends mean one offset for the
            # whole chunk, i.e. no zone changes its offset and reverts it
            # within a single hour. No tzdata zone does; one that did would
            # get wrong wall times here for the minutes in between.
            if off_lo == off_hi:
                while t < chunk_end:
                    wall = t + off_lo
                    if self.matches(wall):
                        first = (
                            wall.replace(tzinfo=zone, fold=0)
                            .astimezone(utc)
                            .replace(tzinfo=None)
                        )
                        if first == t:
                            out.append(t)
                    t += minute
            else:
                while t < chunk_end:
                    _exact_append(t)
                    t += minute
        return out
