"""Date-literal parsing for the JX ``date`` op.

The reference parses strings like ``"1jan2015"`` / ``"today-week"`` to unix
seconds at compile time (vendor/jx_base/expressions.py:718 DateOp;
vendor/mo_times/dates.py). We support the common literal forms; relative
forms (``today``, ``now-week``) are parsed against the driver clock at
compile time, matching reference behavior (queries are compiled per run).

Calendar-aware durations (months kept separate from millis,
mo_times/durations.py:336-384) are honored via dateutil-free month math.
"""

from __future__ import annotations

import calendar
import datetime as dt
import re

_MONTHS = {m.lower(): i for i, m in enumerate(calendar.month_abbr) if m}

_DUR_SECONDS = {
    "second": 1.0,
    "minute": 60.0,
    "hour": 3600.0,
    "day": 86400.0,
    "week": 604800.0,
}
_DUR_MONTHS = {"month": 1, "quarter": 3, "year": 12}

_FORMATS = [
    "%Y-%m-%d %H:%M:%S.%f",
    "%Y-%m-%d %H:%M:%S",
    "%Y-%m-%dT%H:%M:%S",
    "%Y-%m-%d %H:%M",
    "%Y-%m-%d",
    "%Y%m%d",
    "%d%b%Y",
    "%d%B%Y",
    "%b%Y",
    "%Y",
]


def _utcnow() -> dt.datetime:
    return dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)


def add_months(d: dt.datetime, n: int) -> dt.datetime:
    month0 = d.month - 1 + n
    year = d.year + month0 // 12
    month = month0 % 12 + 1
    day = min(d.day, calendar.monthrange(year, month)[1])
    return d.replace(year=year, month=month, day=day)


def parse_date_literal(text) -> float:
    """Parse a JX date literal to unix seconds (UTC)."""
    if isinstance(text, (int, float)):
        return float(text)
    s = str(text).strip().lower()

    base: dt.datetime | None = None
    rest = s
    for kw in ("today", "now", "eod", "tomorrow"):
        if s.startswith(kw):
            now = _utcnow()
            if kw == "today":
                base = now.replace(hour=0, minute=0, second=0, microsecond=0)
            elif kw == "eod":
                base = now.replace(hour=0, minute=0, second=0, microsecond=0) + dt.timedelta(days=1)
            elif kw == "tomorrow":
                base = now.replace(hour=0, minute=0, second=0, microsecond=0) + dt.timedelta(days=1)
            else:
                base = now
            rest = s[len(kw):]
            break

    if base is None:
        for fmt in _FORMATS:
            try:
                parsed = dt.datetime.strptime(s, fmt)
                return parsed.replace(tzinfo=dt.timezone.utc).timestamp()
            except ValueError:
                continue
        # "1jan2015"-style with no padding already covered by %d%b%Y
        raise ValueError(f"cannot parse date literal {text!r}")

    # relative offsets: today-2day, now+hour, today-month ...
    for sign, amount, unit in re.findall(r"([+-])(\d*)(second|minute|hour|day|week|month|quarter|year)", rest):
        n = int(amount) if amount else 1
        if sign == "-":
            n = -n
        if unit in _DUR_MONTHS:
            base = add_months(base, n * _DUR_MONTHS[unit])
        else:
            base = base + dt.timedelta(seconds=n * _DUR_SECONDS[unit])
    return base.replace(tzinfo=dt.timezone.utc).timestamp()


def parse_duration(text) -> dict:
    """Parse a JX duration ('day', '2hour', 'month') -> {seconds | months}.

    Months are calendar-aware and must stay separate from seconds
    (reference mo_times/durations.py:336-384 MONTH_SKEW).
    """
    if isinstance(text, (int, float)):
        return {"seconds": float(text), "months": 0}
    s = str(text).strip().lower()
    m = re.fullmatch(r"(\d*\.?\d*)\s*(second|minute|hour|day|week|month|quarter|year)s?", s)
    if not m:
        raise ValueError(f"cannot parse duration {text!r}")
    n = float(m.group(1)) if m.group(1) else 1.0
    unit = m.group(2)
    if unit in _DUR_MONTHS:
        return {"seconds": 0.0, "months": int(n * _DUR_MONTHS[unit])}
    return {"seconds": n * _DUR_SECONDS[unit], "months": 0}
