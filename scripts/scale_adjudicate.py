#!/usr/bin/env python3
"""Build BENCH_SCALE.json from a two-leg scaling capture (r8 directive #1:
measure the 100 TB claims instead of design-reviewing them).

Input: a raw capture file holding two bench_standalone.sh outputs separated
by `=== sf0.1 ===` / `=== sf1 ===` markers (same protocol both legs: same
query subset, cpus, repeats — the ratio is only meaningful when the ONLY
difference is the data volume). Output: per-query medians at both scales,
the sf1/sf0.1 ratio, and a verdict bucket per query:

  sublinear   ratio <  5   (fixed cost amortizing — the 100 TB-friendly end)
  linear      ratio <= 13  (~10x data -> ~10x work, +/- scheduler noise)
  superlinear ratio >  13  (work grows faster than data: isolate->fix)

The data is 10 structure-preserving copies (tools/ScaleGen), so the
EXPECTED cost ratio of a per-copy-local query is exactly 10; candidate-pair
queries may legitimately exceed it slightly (cross-copy hash collisions).

Usage: scale_adjudicate.py <raw_capture> <out_json> [generator_note]
(generator_note overrides protocol.generator — used by the skew leg,
whose sf1 data comes from ScaleGen's group-growth mode)
"""
import json
import sys


def parse(path):
    legs, cur = {}, None
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line.startswith("==="):
                cur = line.strip("= ").strip()
                legs[cur] = {}
            elif line.startswith("{") and cur is not None:
                d = json.loads(line)
                if d.get("metric") == "runs":
                    # median of an even-length repeat list = mean of the
                    # two middle elements (the upper-element shortcut
                    # biased even captures high — ADVICE r8)
                    def med(r):
                        s = sorted(r)
                        mid = len(s) // 2
                        return (s[mid] if len(s) % 2 == 1
                                else (s[mid - 1] + s[mid]) / 2.0)
                    legs[cur]["medians"] = {
                        q: med(r) for q, r in d["queries"].items()
                        if all(x >= 0 for x in r)
                    }
                    # a query with ANY negative timing FAILED in this leg:
                    # surface it loudly instead of silently dropping the
                    # row from the verdict (ADVICE r8)
                    legs[cur]["failed"] = sorted(
                        q for q, r in d["queries"].items()
                        if any(x < 0 for x in r))
                    legs[cur]["repeats"] = d.get("repeats")
                elif d.get("metric") == "total" and "top_slowest" not in d:
                    legs[cur]["total"] = d.get("value")
                    legs[cur]["n_failed"] = d.get("n_failed")
                    legs[cur]["sf_dir"] = d.get("sf")
    return legs


def main():
    raw, out = sys.argv[1], sys.argv[2]
    legs = parse(raw)
    small, big = legs["sf0.1"], legs["sf1"]
    mid = legs.get("sf0.3", {}).get("medians", {})
    rows = []
    for q in sorted(small["medians"]):
        if q not in big["medians"]:
            continue
        a, b = small["medians"][q], big["medians"][q]
        ratio = b / a if a > 0 else float("inf")
        bucket = ("sublinear" if ratio < 5
                  else "linear" if ratio <= 13 else "superlinear")
        row = {"query": q, "sf0.1_s": a, "sf1_s": b,
               "ratio": round(ratio, 2), "bucket": bucket}
        # implied scaling exponent: t ~ data^alpha (alpha 1 = linear);
        # with the sf0.3 midpoint the curve has three points and the
        # exponent comes from the endpoints, curvature is visible in
        # the mid ratio
        import math
        row["alpha"] = round(math.log(max(ratio, 1e-9)) / math.log(10), 2)
        if q in mid:
            row["sf0.3_s"] = mid[q]
            row["ratio_0.3"] = round(mid[q] / a, 2) if a > 0 else None
        rows.append(row)
    rows.sort(key=lambda r: -r["ratio"])
    note = (sys.argv[3] if len(sys.argv) > 3 else
            "tools/ScaleGen: 10 key-shifted salted copies of "
            "sf0.1 (exactly-linear ground truth)")
    doc = {
        "protocol": {
            "generator": note,
            "data_ratio": 10,
            "legs": {k: {"sf_dir": v.get("sf_dir"),
                         "repeats": v.get("repeats"),
                         "total_s": v.get("total"),
                         "n_failed": v.get("n_failed")}
                     for k, v in legs.items()},
            "cpus": 32, "driver_mem": "48g",
            "note": "same java-standalone protocol both legs, medians of "
                    "repeats; 30 heaviest non-streaming queries of "
                    "a standalone bench capture",
        },
        "queries": rows,
        "summary": {
            "n": len(rows),
            "superlinear": [r["query"] for r in rows
                            if r["bucket"] == "superlinear"],
            "median_ratio": sorted(r["ratio"] for r in rows)[len(rows) // 2]
            if rows else None,
            # per-leg failures (negative timings): a leg with failures
            # must not masquerade as a clean sublinear run
            "failed": {k: v.get("failed", []) for k, v in legs.items()
                       if v.get("failed")},
        },
    }
    with open(out, "w") as f:
        json.dump(doc, f, indent=1)
    for r in rows:
        print(f"{r['query']:32s} {r['sf0.1_s']:7.2f}s {r['sf1_s']:8.2f}s "
              f"{r['ratio']:6.2f}x {r['bucket']}")
    for leg, failed in doc["summary"].get("failed", {}).items():
        for q in failed:
            print(f"FAILED  {q}: negative timing in leg {leg}")
    print(f"\nmedian ratio {doc['summary']['median_ratio']}; "
          f"superlinear: {doc['summary']['superlinear'] or 'none'}; "
          f"failed: {doc['summary'].get('failed') or 'none'}")


if __name__ == "__main__":
    main()
