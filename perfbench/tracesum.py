"""Summaries of a traced run: per-layer self time, per-function call
statistics, and the span-sum check.

A span's self time is its wall time minus the wall time its direct child
spans cover. Summed over an op's spans, grouped by layer, the self times
plus the op span's own self time (the untraced remainder: benchmark code
and anything no layer span covers) give back the op's wall time. The
span-sum check holds each op to that within ``SPAN_SUM_TOLERANCE`` with
every part clamped at zero: children that overlap each other or escape
their parent make some self time negative, the clamped parts then add up
to more than the wall, and the op is flagged.
"""

from __future__ import annotations

from collections import defaultdict

from core import LAYERS

SPAN_SUM_TOLERANCE = 0.10
REMAINDER = "untraced"


def layer_of(name: str) -> str:
    head = name.split(".", 1)[0]
    return head if head in LAYERS else REMAINDER


def self_times(spans: list[dict]) -> list[float]:
    """Self time of every span, in span order."""
    child_wall = [0.0] * len(spans)
    for s in spans:
        if s["parent"] is not None:
            child_wall[s["parent"]] += s["end"] - s["start"]
    return [s["end"] - s["start"] - c for s, c in zip(spans, child_wall)]


def per_op(spans: list[dict]) -> list[dict]:
    """For every op span (a root span whose name starts with ``op.``):
    its wall time, the self time of each layer inside it, the untraced
    remainder, and whether the parts sum to the wall within tolerance."""
    selfs = self_times(spans)
    roots = {}
    for i, s in enumerate(spans):
        if s["parent"] is None and s["name"].startswith("op."):
            roots[s["op_id"]] = i
    parts: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for i, s in enumerate(spans):
        if s["op_id"] not in roots:
            continue
        layer = REMAINDER if i == roots[s["op_id"]] else layer_of(s["name"])
        parts[s["op_id"]][layer] += max(0.0, selfs[i])
    out = []
    for op_id, i in roots.items():
        wall = spans[i]["end"] - spans[i]["start"]
        p = dict(parts[op_id])
        total = sum(p.values())
        err = abs(total - wall) / wall if wall > 0 else 0.0
        out.append({
            "op_id": op_id,
            "op": spans[i]["name"],
            "wall": wall,
            "parts": p,
            "sum": total,
            "error": err,
            "ok": err <= SPAN_SUM_TOLERANCE,
        })
    return out


def layer_table(spans: list[dict]) -> dict[str, dict]:
    """Per layer over all op spans: total self seconds and share of the
    summed op wall time."""
    ops = per_op(spans)
    wall = sum(o["wall"] for o in ops) or 1.0
    tot: dict[str, float] = defaultdict(float)
    for o in ops:
        for layer, v in o["parts"].items():
            tot[layer] += v
    return {
        layer: {"self_s": tot.get(layer, 0.0), "share": tot.get(layer, 0.0) / wall}
        for layer in (*LAYERS, REMAINDER)
    }


def per_function(spans: list[dict]) -> dict[str, dict]:
    """Per span name: calls, mean inclusive seconds, mean inclusive Spark
    jobs (a call's jobs include those of the spans nested in it)."""
    incl_jobs = [len(s["jobs"]) for s in spans]
    for i in range(len(spans) - 1, -1, -1):
        p = spans[i]["parent"]
        if p is not None:
            incl_jobs[p] += incl_jobs[i]
    acc: dict[str, dict] = {}
    for s, j in zip(spans, incl_jobs):
        a = acc.setdefault(s["name"], {"calls": 0, "s": 0.0, "jobs": 0})
        a["calls"] += 1
        a["s"] += s["end"] - s["start"]
        a["jobs"] += j
    return {
        k: {"calls": a["calls"], "mean_s": a["s"] / a["calls"],
            "mean_jobs": a["jobs"] / a["calls"]}
        for k, a in acc.items()
    }


def format_table(spans: list[dict]) -> str:
    ops = per_op(spans)
    rows = layer_table(spans)
    bad = [o for o in ops if not o["ok"]]
    lines = [f"{'layer':<10} {'self_s':>10} {'share':>7}"]
    for layer, r in rows.items():
        lines.append(f"{layer:<10} {r['self_s']:>10.4f} {r['share']:>7.1%}")
    worst = max((o["error"] for o in ops), default=0.0)
    lines.append(
        f"span-sum check: {len(ops) - len(bad)}/{len(ops)} ops within "
        f"{SPAN_SUM_TOLERANCE:.0%} (worst {worst:.2%})"
    )
    return "\n".join(lines)
