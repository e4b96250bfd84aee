#!/usr/bin/env python3
"""Compare benchmark results, or record a baseline.

    python3 perfbench/compare.py OLD NEW
        OLD and NEW are result records (perfbench/work/results/*.json)
        or baselines; prints each shared metric of each shared workload
        with NEW/OLD. Exits 2 without comparing when the two were taken
        on hosts with different fingerprints (nproc, MemTotal).

    python3 perfbench/compare.py --record OUT RESULT...
        writes a baseline: per workload and metric, the median over the
        given result records (all from one host fingerprint).
"""
import json
import sys


def median(xs):
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def as_baseline(doc):
    """A result record or a baseline -> {fingerprint, workloads}."""
    if "workloads" in doc:
        return doc
    return {"fingerprint": doc["fingerprint"],
            "workloads": {doc["workload"]: {k: v for k, v in doc["metrics"].items()}}}


def record(out, paths):
    docs = [json.load(open(p)) for p in paths]
    fps = {json.dumps(d["fingerprint"], sort_keys=True) for d in docs}
    if len(fps) != 1:
        raise SystemExit("refusing to mix host fingerprints: %s" % sorted(fps))
    # untraced runs give every metric they report; traced runs only add
    # the per-layer ones (their own job times carry the tracing cost)
    per = {}
    for d in sorted(docs, key=lambda d: d["trace"]):
        ms = per.setdefault(d["workload"], {})
        for k, m in d["metrics"].items():
            if d["trace"] == 0 or k not in ms or ms[k][2] == 1:
                ms.setdefault(k, (m["unit"], [], d["trace"]))[1].append(m["value"])
    base = {"fingerprint": docs[0]["fingerprint"], "runs": len(docs),
            "workloads": {w: {k: {"value": median(v), "unit": u}
                              for k, (u, v, _) in sorted(ms.items())}
                          for w, ms in sorted(per.items())}}
    with open(out, "w") as f:
        json.dump(base, f, indent=1, sort_keys=True)
        f.write("\n")


def compare(old_path, new_path):
    old = as_baseline(json.load(open(old_path)))
    new = as_baseline(json.load(open(new_path)))
    if old["fingerprint"] != new["fingerprint"]:
        print("refusing to compare: host fingerprints differ (%s vs %s)"
              % (old["fingerprint"], new["fingerprint"]), file=sys.stderr)
        sys.exit(2)
    for w in sorted(set(old["workloads"]) & set(new["workloads"])):
        o, n = old["workloads"][w], new["workloads"][w]
        for k in sorted(set(o) & set(n)):
            a, b = o[k]["value"], n[k]["value"]
            ratio = "%.3f" % (b / a) if a else "-"
            print("%-12s %-36s %14.6g %14.6g %8s %s" % (w, k, a, b, ratio, n[k]["unit"]))


if __name__ == "__main__":
    if len(sys.argv) >= 3 and sys.argv[1] == "--record":
        record(sys.argv[2], sys.argv[3:])
    elif len(sys.argv) == 3:
        compare(sys.argv[1], sys.argv[2])
    else:
        raise SystemExit(__doc__)
