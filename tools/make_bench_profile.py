#!/usr/bin/env python3
"""Regenerate bench_profile.json from one or more full-suite bench runs.

bench_profile.json is Bench.scala's per-query reference: in the graded
run, any query measuring >2x its profile entry (and >0.3s over it) gets
two same-JVM reruns and the MEDIAN of the three measurements is
reported — the noise control that keeps single-pass suite-neighborhood
blow-ups (round 8: 111s of phantom time) out of the graded artifact
without the downward-only bias a min would have.

LOAD GATE (round 15): the profile is the 2x bar's denominator, and
successive re-baselines under ambient load ratchet it upward (302.8s
r12 -> 383.6s r13 -> 439.6s r14) — a regression could hide inside a
"re-baseline". A run is only profile-eligible when its own telemetry
says the host was quiet when it was taken:

  - host.ambient_cpu_frac <= 0.10         (cpu OTHER processes burned
    during the measured section, as a machine fraction — /proc/stat
    delta minus the bench JVM's own cpu; loadavg is NOT used as a
    gate signal because the 1-minute average is polluted by sbt's own
    startup even on an idle host, measured at 6.5/32 cpus)
  - wall_total / value <= 1.15            (rerun overhead small: few
    suite-neighborhood phantoms fired)
  - global_shift is not set               (the suite-wide >2x regime
    is by definition not a reference measurement; Bench reports it as
    null when the profile it ran against came from another host)

Runs without a host block (pre-round-15 artifacts) FAIL the gate —
re-measure rather than grandfather unknown conditions. `--force`
overrides for explicitly-reasoned cases and prints what it overrode.

Usage:
    python3 tools/make_bench_profile.py run1.json [run2.json ...] \
        [-o bench_profile.json] [--force]

HOST: the profile records the "ncpu" of the host its runs were taken
on (Bench reads only the q... keys as timings, and compares "ncpu"
with its own host). Inputs from hosts with different cpu counts are
refused, --force or not: a median across hosts describes neither.

Each input is a bench_latest.json-style line ({"queries": {...}, ...}).
The profile value per query is the MEDIAN across runs (the advisor's
round-9 fix: a min-of-mins profile ratchets down across rounds). The
profile only gates WHEN to rerun — reported numbers are medians of
fresh measurements either way — so a low profile costs extra (cheap)
reruns rather than biasing results, but the median is the honest
central reference. Queries failing (-1) in a run are ignored for that
run.
"""
import argparse
import json
import statistics
import sys

MAX_AMBIENT_CPU_FRAC = 0.10
MAX_WALL_INFLATION = 1.15


def gate_failures(data: dict) -> list[str]:
    """Reasons this run is not profile-eligible (empty = quiet run)."""
    fails = []
    host = data.get("host")
    if not host:
        fails.append("no host telemetry block (pre-gate artifact) — "
                     "re-measure with the current Bench")
        return fails
    amb = host.get("ambient_cpu_frac", -1.0)
    if amb < 0:
        fails.append("ambient_cpu_frac unavailable (no /proc/stat?) — "
                     "cannot prove the host was quiet")
    elif amb > MAX_AMBIENT_CPU_FRAC:
        fails.append(f"ambient cpu {amb:.3f} of the machine burned by "
                     f"other processes during the measured section "
                     f"(> {MAX_AMBIENT_CPU_FRAC})")
    value = data.get("value") or 0
    wall = data.get("wall_total") or 0
    if value > 0 and wall / value > MAX_WALL_INFLATION:
        fails.append(f"wall/query inflation {wall / value:.2f} > "
                     f"{MAX_WALL_INFLATION} (phantom reruns fired)")
    if data.get("global_shift"):
        fails.append("global_shift flagged (suite-wide load regime)")
    return fails


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("runs", nargs="+", help="bench_latest.json-style files")
    ap.add_argument("-o", "--out", default="bench_profile.json")
    ap.add_argument("--force", action="store_true",
                    help="re-baseline even from load-gate-failing runs "
                         "(prints what was overridden)")
    args = ap.parse_args()

    samples: dict[str, list[float]] = {}
    ncpus: dict[str, object] = {}
    gated_out = 0
    for path in args.runs:
        with open(path) as f:
            data = json.load(f)
        queries = data.get("queries") or {}
        if not queries:
            print(f"warning: {path} has no per-query map, skipped",
                  file=sys.stderr)
            continue
        fails = gate_failures(data)
        if fails:
            tag = "OVERRIDDEN (--force)" if args.force else "REFUSED"
            print(f"load gate {tag} for {path}:", file=sys.stderr)
            for reason in fails:
                print(f"  - {reason}", file=sys.stderr)
            if not args.force:
                gated_out += 1
                continue
        ncpus[path] = (data.get("host") or {}).get("ncpu")
        for q, t in queries.items():
            if t is None or t < 0:
                continue
            samples.setdefault(q, []).append(float(t))
    if len(set(ncpus.values())) > 1:
        print("error: the inputs come from hosts with different cpu "
              "counts — profile one host at a time:", file=sys.stderr)
        for path, n in ncpus.items():
            print(f"  - {path}: ncpu {n}", file=sys.stderr)
        return 1
    prof = {q: statistics.median(ts) for q, ts in samples.items()}

    if not prof:
        if gated_out:
            print("error: every input failed the load gate — measure on "
                  "a quiet host (or --force with a written rationale)",
                  file=sys.stderr)
        else:
            print("error: no per-query data in any input", file=sys.stderr)
        return 1

    ncpu = next(iter(ncpus.values()))
    with open(args.out, "w") as f:
        json.dump({"ncpu": ncpu, **prof}, f, indent=0, sort_keys=True)
        f.write("\n")
    print(f"wrote {args.out}: {len(prof)} queries, "
          f"total {sum(prof.values()):.1f}s, ncpu {ncpu}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
