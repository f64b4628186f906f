#!/usr/bin/env python3
"""Count JFR execution samples of one perfbench ingest run by layer.

Input is the text that `jfr print` writes for the run's recording:

    jfr print --events jdk.ExecutionSample --stack-depth 200 x.jfr > x.txt
    python3 tools/jfr_layers.py x.txt [--frame NAME ...] [--json]

The timed window is bounded by the samples of the harness's reference
computation (`Stats.refCpuMs`): the harness runs it 20 times before set-up
and then between epochs of the timed pass, so the window starts at the first
reference sample after the longest gap between two of them and ends at the
last one. A recording without reference samples is counted whole.

Inside the window the script counts every sample, the samples under
`graft.sink.GraftDataWriter`, and, per landing file class (ParquetFile,
OrcFile, JsonlFile), the samples under it and under each named frame, split
by the file method they sit under (open, write, close). A frame matches a
NAME when the frame's text contains it, so `DictionaryValuesWriter` matches
every method of that class and its nested classes.
"""
import argparse
import json
import re
import sys

REF_FRAME = "graft.perfbench.Stats$.refCpuMs("
WRITER = "graft.sink.GraftDataWriter"
LANDINGS = ("ParquetFile", "OrcFile", "JsonlFile")
DEFAULT_FRAMES = ("DictionaryValuesWriter", "StringRedBlackTree", "OrcUtils.getOrcVersion")
TIME = re.compile(r"startTime = (\d+):(\d+):(\d+(?:\.\d+)?)")


def parse(lines):
    """Yield (seconds of day, frames) for every jdk.ExecutionSample."""
    t, frames, in_stack = None, [], False
    for line in lines:
        s = line.strip()
        if s.startswith("jdk.ExecutionSample"):
            t, frames, in_stack = None, [], False
        elif s.startswith("startTime"):
            m = TIME.search(s)
            if m:
                t = int(m.group(1)) * 3600 + int(m.group(2)) * 60 + float(m.group(3))
        elif s.startswith("stackTrace = ["):
            in_stack = True
        elif in_stack and s == "]":
            in_stack = False
        elif in_stack and s != "...":
            frames.append(s)
        elif s == "}" and t is not None:
            yield t, frames
            t = None


def unwrap_midnight(samples):
    """A recording that crosses midnight: move the early-morning times up a day."""
    times = [t for t, _ in samples]
    if times and max(times) - min(times) > 12 * 3600:
        return [(t + 86400 if t < 12 * 3600 else t, f) for t, f in samples]
    return samples


def window(samples):
    refs = sorted(t for t, frames in samples if any(REF_FRAME in f for f in frames))
    if len(refs) < 2:
        return None
    gaps = [(refs[i + 1] - refs[i], i + 1) for i in range(len(refs) - 1)]
    _, start = max(gaps)
    return refs[start], refs[-1]


def landing_of(frames):
    """(landing file class, file method) of the innermost landing frame."""
    for f in frames:
        for cls in LANDINGS:
            prefix = f"{WRITER}${cls}."
            if f.startswith(prefix):
                method = f[len(prefix):].split("(", 1)[0]
                return cls, {"<init>": "open"}.get(method, method)
    return None, None


def count(samples, names):
    bounds = window(samples)
    inside = [(t, f) for t, f in samples
              if bounds is None or bounds[0] <= t <= bounds[1]]
    out = {
        "window_s": round(bounds[1] - bounds[0], 3) if bounds else None,
        "samples": len(inside),
        "recording_samples": len(samples),
        "ref_samples": sum(1 for _, f in inside if any(REF_FRAME in x for x in f)),
        "writer_samples": sum(1 for _, f in inside if any(x.startswith(WRITER) for x in f)),
        "landings": {},
    }
    for cls in LANDINGS:
        out["landings"][cls] = {"samples": 0, "frames": {n: {} for n in names}}
    for _, frames in inside:
        cls, method = landing_of(frames)
        if cls is None:
            continue
        entry = out["landings"][cls]
        entry["samples"] += 1
        for n in names:
            if any(n in f for f in frames):
                by = entry["frames"][n]
                by[method] = by.get(method, 0) + 1
    return out


def report(c, names):
    w = f"{c['window_s']} s" if c["window_s"] is not None else "whole recording"
    print(f"window: {w}, {c['samples']} of {c['recording_samples']} samples, "
          f"{c['ref_samples']} in the reference computation")
    print(f"under {WRITER}: {c['writer_samples']}")
    for cls, entry in c["landings"].items():
        print(f"  {cls}: {entry['samples']}")
        for n in names:
            by = entry["frames"][n]
            if by:
                split = ", ".join(f"{m} {k}" for m, k in sorted(by.items()))
                print(f"    {n}: {sum(by.values())} ({split})")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("samples", help="`jfr print --events jdk.ExecutionSample` output, or - for stdin")
    ap.add_argument("--frame", action="append", dest="frames",
                    help="count samples under frames containing this text (repeatable); "
                         f"default: {', '.join(DEFAULT_FRAMES)}")
    ap.add_argument("--json", action="store_true", help="print the counts as one JSON object")
    a = ap.parse_args()
    names = a.frames or list(DEFAULT_FRAMES)
    fh = sys.stdin if a.samples == "-" else open(a.samples)
    with fh:
        samples = unwrap_midnight(list(parse(fh)))
    c = count(samples, names)
    if a.json:
        print(json.dumps(c, sort_keys=True))
    else:
        report(c, names)


if __name__ == "__main__":
    main()
