"""Pure helpers of the benchmark: order statistics, span self time and
the metric-name grammar.  No Spark here, so the self-tests run fast."""

from __future__ import annotations

import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def median(values) -> float:
    return float(statistics.median(values))


def quartiles(values) -> tuple[float, float]:
    """(Q1, Q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    q = statistics.quantiles(values, n=4)
    return q[0], q[2]


def spread(values) -> float:
    """Interquartile distance as a share of the median."""
    q1, q3 = quartiles(values)
    return (q3 - q1) / median(values)


def summary(values) -> dict:
    """Median, quartiles and sample count of one metric's samples."""
    out = {"median": median(values), "n": len(values)}
    if len(values) >= 2:
        out["q1"], out["q3"] = quartiles(values)
    return out


def self_times(spans) -> list[float]:
    """Self time of each span: its duration minus the part of its interval
    covered by its direct children.  ``spans`` is a sequence of
    ``(start, end, parent_index_or_None)``."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for start, end, parent in spans:
        if parent is not None:
            kids.setdefault(parent, []).append((start, end))
    out = []
    for i, (start, end, _parent) in enumerate(spans):
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in sorted(kids.get(i, [])):
            s, e = max(s, start), min(e, end)
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        out.append((end - start) - covered)
    return out


def check_metric_specs(specs) -> list[str]:
    """Grammar errors in a list of ``{"name", "unit", ...}`` metric specs."""
    errors, seen = [], set()
    for m in specs:
        if not NAME_RE.match(m["name"]):
            errors.append(f"bad name {m['name']!r}")
        if m["name"] in seen:
            errors.append(f"duplicate name {m['name']!r}")
        seen.add(m["name"])
        if not UNIT_RE.match(m["unit"]):
            errors.append(f"bad unit {m['unit']!r} for {m['name']}")
        if m.get("better") not in ("higher", "lower"):
            errors.append(f"bad direction for {m['name']}")
    return errors
