"""Per-layer self-time table from a traced run's spans, plus the tracing
overhead.

    python3 perfbench/spans.py <traced run record> [results dir]

A span's self time is its duration minus the part of it that its child
spans cover. The overhead compares the traced run's end-to-end metrics with
the median of the untraced runs of the same workload, built from the same
sources, kept in the results directory (perfbench/.work/results by
default).
"""
import glob
import json
import os
import statistics
import sys


def _covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    iv = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, cs, ce = 0.0, None, None
    for a, b in iv:
        if cs is None or a > ce:
            if cs is not None:
                total += ce - cs
            cs, ce = a, b
        else:
            ce = max(ce, b)
    if cs is not None:
        total += ce - cs
    return total


def self_times(spans: list) -> dict:
    """name -> {count, total_ms, self_ms}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    table = {}
    for s in spans:
        dur = s["end"] - s["start"]
        own = dur - _covered(children.get(s["id"], []), s["start"], s["end"])
        row = table.setdefault(s["name"], {"count": 0, "total_ms": 0.0, "self_ms": 0.0})
        row["count"] += 1
        row["total_ms"] += dur
        row["self_ms"] += own
    return table


def overhead(rec: dict, results_dir: str) -> dict:
    """Relative difference of each end-to-end metric, traced vs the untraced
    runs of the same workload built from the same sources."""
    wl, digest = rec["workload"], rec["stamp"]["source_digest"]
    base = {}
    for f in glob.glob(os.path.join(results_dir, f"{wl}-*-t0-*.json")):
        try:
            r = json.load(open(f))
            if r["stamp"]["source_digest"] != digest:
                continue
            for k, v in r["end_to_end"].items():
                base.setdefault(k, []).append(v)
        except (OSError, ValueError, KeyError):
            continue
    out = {}
    for k, v in rec.get("end_to_end", {}).items():
        if base.get(k):
            m = statistics.median(base[k])
            out[k] = {"traced": v, "untraced_median": m, "untraced_runs": len(base[k]),
                      "overhead": (v - m) / m if m else None}
    return out


def report(path: str, results_dir: str) -> str:
    rec = json.load(open(path))
    table = self_times(rec["spans"])
    run_ms = sum(r["self_ms"] for r in table.values()) or 1.0
    lines = [f"per-layer self time, run {rec['run_id']}",
             f"{'span':<24}{'count':>7}{'total_ms':>12}{'self_ms':>12}{'self%':>8}"]
    for name, r in sorted(table.items(), key=lambda kv: -kv[1]["self_ms"]):
        lines.append(f"{name:<24}{r['count']:>7}{r['total_ms']:>12.1f}{r['self_ms']:>12.1f}"
                     f"{100 * r['self_ms'] / run_ms:>7.1f}%")
    ov = overhead(rec, results_dir)
    if ov:
        lines.append("tracing overhead (traced vs median of untraced runs of this workload)")
        for k, o in ov.items():
            pct = "n/a" if o["overhead"] is None else f"{100 * o['overhead']:+.1f}%"
            lines.append(f"  {k:<12}{o['traced']:>12.4f}{o['untraced_median']:>12.4f}  {pct}"
                         f"  ({o['untraced_runs']} runs)")
    else:
        lines.append("tracing overhead: no untraced run of this workload and sources recorded yet")
    return "\n".join(lines)


if __name__ == "__main__":
    if len(sys.argv) < 2:
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    here = os.path.dirname(os.path.abspath(__file__))
    print(report(sys.argv[1], sys.argv[2] if len(sys.argv) > 2 else os.path.join(here, ".work", "results")))
