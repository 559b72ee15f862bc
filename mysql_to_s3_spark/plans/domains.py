"""Domain system for ``edges`` (reference vendor/jx_base/domains.py).

A domain declares the partition set of one cube dimension. The Spark mapping
(SURVEY.md §2.7) keeps bucketing declarative:

  default  -> plain groupBy; dense parts discovered from the aggregate result
  set      -> literal partition list, join/when-chain against values
  time     -> arithmetic bucketing; calendar month intervals via
              months_between/add_months (mo_times durations keep months
              separate from millis, durations.py:336-384)
  duration/range -> fixed-width numeric bucketing: floor((x-min)/w)*w+min
  edge range {min,max,mode} -> row spans every overlapping bucket:
              explode(sequence(...)) then groupBy — interval-join semantics
              that stays scalable (no cross join)

Each domain compiles to:
  bucket(col)  -> Column: the partition key for a row
  part_values  -> all partition keys (time parts as epoch seconds), for
                  densification of the cube output; None for `default`,
                  whose parts the executor discovers from the data
All domains are bounded (explicit parts or [min,max)/interval), so the dense
cube the executor builds from them stays small.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F

from mysql_to_s3_spark.functions.dates import parse_date_literal, parse_duration, add_months


class DomainError(ValueError):
    pass


def _seconds(c: Column) -> Column:
    """timestamp (incl. NTZ) -> unix seconds double; NTZ needs a hop
    through TIMESTAMP (session TZ pinned to UTC)."""
    return c.cast("timestamp").cast("double")


@dataclass
class CompiledDomain:
    bucket: Any  # Callable[[Column], Column]
    part_values: list | None  # explicit partition key values (python), or None
    is_time: bool = False
    # general set (es52/decoders.py:348 GeneralSetDecoder): ordered parts
    # carrying a `where` predicate each; FIRST matching part claims the row
    # (the decoder ANDs each filter with NOT(previous)), no match -> null
    # bucket. The executor compiles these into one when-chain.
    where_parts: list | None = None

    def part_python_values(self) -> list | None:
        """Partition keys as Python values typed like the bucket column
        as PySpark collects it (time domains -> naive LOCAL datetime,
        the convention of TimestampType.fromInternal); None for
        runtime-discovered (default) domains."""
        if self.part_values is None:
            return None
        if self.is_time:
            return [dt.datetime.fromtimestamp(v) for v in self.part_values]
        return list(self.part_values)


def compile_domain(domain: dict) -> CompiledDomain:
    dtype = domain.get("type", "default")
    if dtype == "default":
        return CompiledDomain(bucket=lambda c: c, part_values=None)
    if dtype in ("set", "simple set"):
        parts = domain.get("partitions", [])
        if parts and all(isinstance(p, dict) and "where" in p for p in parts):
            names = [p.get("name") or p.get("value") or str(i) for i, p in enumerate(parts)]
            return CompiledDomain(bucket=lambda c: c, part_values=names, where_parts=list(parts))
        values = [p["value"] if isinstance(p, dict) else p for p in parts]
        return CompiledDomain(bucket=lambda c: c, part_values=values)
    if dtype in ("value", "unique"):
        return CompiledDomain(bucket=lambda c: c, part_values=None)
    if dtype == "time":
        return _time_domain(domain)
    if dtype in ("range", "duration"):
        return _range_domain(domain, durations=(dtype == "duration"))
    raise DomainError(f"unknown domain type {dtype!r}")


def _time_domain(domain: dict) -> CompiledDomain:
    """[min,max) split into `interval` buckets (domains.py:458-519)."""
    lo = parse_date_literal(domain["min"])
    hi = parse_date_literal(domain["max"])
    dur = parse_duration(domain["interval"])
    if dur["months"]:
        n = dur["months"]
        start = dt.datetime.utcfromtimestamp(lo)
        parts, cur = [], start
        while cur.replace(tzinfo=dt.timezone.utc).timestamp() < hi:
            parts.append(cur.replace(tzinfo=dt.timezone.utc).timestamp())
            cur = add_months(cur, n)
        start_lit = F.lit(start.strftime("%Y-%m-%d %H:%M:%S")).cast("timestamp")

        def bucket(c: Column) -> Column:
            idx = F.floor(F.months_between(c, start_lit) / n)
            in_range = (c >= start_lit) & (_seconds(c) < F.lit(hi))
            return F.when(in_range, F.add_months(start_lit, (idx * n).cast("int")).cast("timestamp")).otherwise(
                F.lit(None).cast("timestamp")
            )

        return CompiledDomain(bucket=bucket, part_values=parts, is_time=True)

    w = dur["seconds"]
    parts = []
    cur = lo
    while cur < hi:
        parts.append(cur)
        cur += w

    def bucket(c: Column) -> Column:
        x = _seconds(c)
        raw = F.floor((x - F.lit(lo)) / F.lit(w)) * F.lit(w) + F.lit(lo)
        return F.when((x >= lo) & (x < hi), F.timestamp_seconds(raw)).otherwise(F.lit(None).cast("timestamp"))

    return CompiledDomain(bucket=bucket, part_values=parts, is_time=True)


def _duration_seconds(v) -> float:
    """Duration-domain bound: numeric seconds or a duration literal
    ('day', '2hour'); calendar months have no fixed width and are
    rejected (use a time domain for month grids)."""
    if isinstance(v, (int, float)):
        return float(v)
    dur = parse_duration(v)
    if dur["months"]:
        raise DomainError(
            f"duration domain bound {v!r} is calendar-relative; "
            "use a time domain for month/quarter/year grids"
        )
    return float(dur["seconds"])


def _range_domain(domain: dict, durations: bool = False) -> CompiledDomain:
    """Numeric [min,max) histogram buckets (domains.py:645-713); a
    duration domain is the same fixed-width grid with bounds given in
    seconds or duration literals (reference DurationDomain)."""
    conv = _duration_seconds if durations else float
    if "partitions" in domain:
        # explicit overlap-checked parts: bucket by containment when-chain
        parts = [{**p, "min": conv(p["min"]), "max": conv(p["max"])} for p in domain["partitions"]]
        values = [p["min"] for p in parts]

        def bucket(c: Column) -> Column:
            out = F.lit(None).cast("double")
            for p in reversed(parts):
                out = F.when((c >= F.lit(p["min"])) & (c < F.lit(p["max"])), F.lit(float(p["min"]))).otherwise(out)
            return out

        return CompiledDomain(bucket=bucket, part_values=[float(v) for v in values])

    lo = conv(domain["min"])
    hi = conv(domain["max"])
    w = conv(domain["interval"])
    parts = []
    cur = lo
    while cur < hi:
        parts.append(cur)
        cur += w

    def bucket(c: Column) -> Column:
        x = c.cast("double")
        raw = F.floor((x - F.lit(lo)) / F.lit(w)) * F.lit(w) + F.lit(lo)
        return F.when((x >= lo) & (x < hi), raw).otherwise(F.lit(None).cast("double"))

    return CompiledDomain(bucket=bucket, part_values=parts)


def range_edge_buckets(rmin: Column, rmax: Column, domain: dict, mode: str = "inclusive") -> Column:
    """Edge ``range {min,max,mode}``: a row spans EVERY bucket it overlaps
    (query.py:626-634; lists/aggs.py:123-147 GeneralRangeDecoder).

    Returns an array column of bucket keys to explode before groupBy —
    interval-join semantics without a cross join, scalable at 100 TB.
    """
    dom = domain
    lo, hi, w = float(dom["min"]), float(dom["max"]), float(dom["interval"])
    lo_c, hi_c, w_c = F.lit(lo), F.lit(hi), F.lit(w)
    a = rmin.cast("double")
    b = rmax.cast("double")
    if mode == "inclusive":
        # part.min < row.max AND row.min <= part.max  (snapshot semantics)
        first = F.greatest(F.floor((a - lo_c) / w_c), F.lit(0)).cast("double")
        last = F.least(F.floor(((b - lo_c) / w_c) - F.lit(1e-12)), F.lit((hi - lo) / w - 1)).cast("double")
    else:  # "snapshot": bucket containing row.min only
        first = F.floor((a - lo_c) / w_c).cast("double")
        last = first
    seq = F.when(
        a.isNotNull() & b.isNotNull() & (b > lo_c) & (a < hi_c) & (last >= first),
        F.transform(F.sequence(first.cast("long"), last.cast("long")), lambda i: i * w_c + lo_c),
    ).otherwise(F.array().cast("array<double>"))
    return seq
