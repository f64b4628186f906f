#!/usr/bin/env python3
"""Per-layer report of a traced benchmark run.

    python3 perfbench/trace_report.py <spans.jsonl> [...]

A spans file holds one `meta` line and one span per line (id, parent,
trace, name, start_ms, end_ms). A span's layer is its name up to the first
dot; the root `workload` span is the timed region and the harness's own
layer. For each layer the report gives:

  self_ms  sum of each span's duration minus the part its children cover;
           parallel children (tasks) each count in full, so this is busy time
  wall_ms  the timed region's wall split among layers: each instant goes to
           the deepest spans active then, shared equally when several are,
           so the wall_ms column sums to the timed wall
  spans    how many spans of the layer ran

`coverage` is the share of the timed wall that a layer below the harness
accounts for. The tracing overhead is the traced pass's median operation
time minus the untraced pass's, both recorded in the meta line.
"""
import collections
import json
import sys


def load(path):
    meta, spans = {}, []
    with open(path) as fh:
        for line in fh:
            rec = json.loads(line)
            if "meta" in rec:
                meta = rec["meta"]
            else:
                spans.append(rec)
    return meta, spans


def layer(name):
    return "harness" if name == "workload" else name.split(".", 1)[0]


def covered(intervals, lo, hi):
    total, cur = 0.0, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur and a <= cur[1]:
            cur[1] = max(cur[1], b)
        else:
            if cur:
                total += cur[1] - cur[0]
            cur = [a, b]
    return total + (cur[1] - cur[0] if cur else 0.0)


def attribute(span, lo, hi, kids, out, weight=1.0):
    """Splits [lo, hi] of `span` among the deepest spans active in it."""
    ch = [c for c in kids[span["id"]] if c["end_ms"] > lo and c["start_ms"] < hi]
    if not ch:
        out[layer(span["name"])] += (hi - lo) * weight
        return
    cuts = sorted({lo, hi} | {min(max(t, lo), hi) for c in ch for t in (c["start_ms"], c["end_ms"])})
    for a, b in zip(cuts, cuts[1:]):
        if b <= a:
            continue
        active = [c for c in ch if c["start_ms"] <= a and c["end_ms"] >= b]
        if not active:
            out[layer(span["name"])] += (b - a) * weight
        for c in active:
            attribute(c, a, b, kids, out, weight / len(active))


def summarize(path):
    meta, spans = load(path)
    kids = collections.defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    self_ms = collections.Counter()
    count = collections.Counter()
    for s in spans:
        dur = s["end_ms"] - s["start_ms"]
        cov = covered([(c["start_ms"], c["end_ms"]) for c in kids[s["id"]]], s["start_ms"], s["end_ms"])
        self_ms[layer(s["name"])] += dur - cov
        count[layer(s["name"])] += 1
    wall = collections.Counter()
    roots = [s for s in spans if s["name"] == "workload"]
    timed = sum(r["end_ms"] - r["start_ms"] for r in roots)
    for r in roots:
        attribute(r, r["start_ms"], r["end_ms"], kids, wall)
    coverage = 1.0 - wall["harness"] / timed if timed > 0 else 0.0
    return {"meta": meta, "timed_ms": timed, "coverage": coverage,
            "layers": {k: {"self_ms": self_ms[k], "wall_ms": wall[k], "spans": count[k]}
                       for k in sorted(count)}}


def print_report(rep, title, out=sys.stdout):
    m = rep["meta"]
    print(f"== trace {title}: timed wall {rep['timed_ms']:.0f} ms, "
          f"layers account for {100 * rep['coverage']:.1f}%", file=out)
    if "traced_op_ms" in m:
        print(f"   tracing overhead: {m['traced_op_ms'] - m['untraced_op_ms']:+.2f} ms per operation "
              f"(traced {m['traced_op_ms']:.2f}, untraced {m['untraced_op_ms']:.2f})", file=out)
    print(f"   {'layer':<12}{'wall_ms':>12}{'wall%':>8}{'self_ms':>12}{'spans':>8}", file=out)
    for k, v in sorted(rep["layers"].items(), key=lambda kv: -kv[1]["wall_ms"]):
        share = 100 * v["wall_ms"] / rep["timed_ms"] if rep["timed_ms"] else 0.0
        print(f"   {k:<12}{v['wall_ms']:>12.1f}{share:>8.1f}{v['self_ms']:>12.1f}{v['spans']:>8}", file=out)


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    for p in sys.argv[1:]:
        print_report(summarize(p), p)
