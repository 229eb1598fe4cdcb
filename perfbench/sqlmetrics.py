"""Parse the formatted strings Spark's SQL status store returns for metrics.

``statusStore().executionMetrics(id)`` maps accumulator ids to display
strings, one of:

- a plain count: ``"3,456"``
- a size: ``"64.2 MiB"`` (B, KiB, MiB, GiB, TiB, PiB, EiB)
- a duration: ``"44 ms"``, ``"1.2 s"``, ``"3.5 m"``, ``"1.25 h"``
- the per-task form, two lines::

      total (min, med, max (stageId: taskId))
      3.7 s (177 ms, 1.2 s, 1.3 s (stage 2.0: task 4))

- the average form (no total; ``total`` is set to the median)::

      (min, med, max (stageId: taskId)):
      (1, 1.5, 2 (stage 109.0: task 206))

``parse`` returns base units: bytes, seconds or a plain number.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
         "PiB": 1 << 50, "EiB": 1 << 60}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)\s*$")
_PER_TASK = re.compile(
    r"^\s*(?P<total>[^(]+?)\s*\(\s*(?P<min>[^,]+?),\s*(?P<med>[^,]+?),\s*(?P<max>[^(]+?)\s*"
    r"\(stage\s+(?P<stage>[\d.]+):\s*task\s+(?P<task>\d+)\)\s*\)\s*$"
)


@dataclass(frozen=True)
class Metric:
    total: float
    min: float | None = None
    med: float | None = None
    max: float | None = None
    stage: str | None = None
    task: int | None = None


def parse_value(text: str) -> float:
    """One value with an optional unit, in base units."""
    m = _VALUE.match(text)
    if m is None:
        raise ValueError(f"not a Spark SQL metric value: {text!r}")
    number = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if not unit:
        return number
    if unit in _SIZE:
        return number * _SIZE[unit]
    if unit in _TIME:
        return number * _TIME[unit]
    raise ValueError(f"unknown unit {unit!r} in {text!r}")


def parse(text: str) -> Metric:
    """A metric string in the single-value, per-task or average form."""
    lines = [ln for ln in text.strip().splitlines() if ln.strip()]
    if len(lines) == 2 and lines[0].lstrip().startswith("(min, med, max"):
        # average metrics carry no total; report the median task's value
        m = _PER_TASK.match("avg " + lines[1].strip())
        if m is None:
            raise ValueError(f"malformed average metric: {text!r}")
        med = parse_value(m["med"])
        return Metric(total=med, min=parse_value(m["min"].lstrip("( ")), med=med,
                      max=parse_value(m["max"]), stage=m["stage"], task=int(m["task"]))
    if len(lines) == 2 and lines[0].lstrip().startswith("total ("):
        m = _PER_TASK.match(lines[1])
        if m is None:
            raise ValueError(f"malformed per-task metric: {text!r}")
        return Metric(
            total=parse_value(m["total"]),
            min=parse_value(m["min"]),
            med=parse_value(m["med"]),
            max=parse_value(m["max"]),
            stage=m["stage"],
            task=int(m["task"]),
        )
    if len(lines) != 1:
        raise ValueError(f"malformed metric: {text!r}")
    return Metric(total=parse_value(lines[0]))
