#!/usr/bin/env python
"""Compare two bench artifacts on CANARY-NORMALIZED per-query numbers.

The bench host's effective CPU throughput swings ~5x between runs
(measured via the fixed-size JVM canary bench.py emits), so raw seconds
round-over-round mostly measure the VM, not the engine. This tool
normalizes each query's time by its run's mean canary and flags only
queries whose *normalized* cost moved beyond a threshold.

Usage:
    python bench_compare.py BENCH_r05.json BENCH_FULL.json [--threshold 1.5]

Accepts driver-wrapped artifacts ({"parsed": {...}} / {"tail": ...}) and
raw bench lines/BENCH_FULL.json. Exit code 1 if any regression is
flagged (usable as a CI gate). A query that ran in the old artifact
(time >= 0) but failed (-1), is listed in ``failed_queries`` or is
missing in the new one is always a regression.
"""

from __future__ import annotations

import argparse
import json
import sys


def _load(path: str) -> dict:
    with open(path) as f:
        doc = json.load(f)
    parsed = doc.get("parsed") if isinstance(doc, dict) else None
    if parsed:
        doc = parsed
    if "queries" not in doc:
        raise SystemExit(f"{path}: no 'queries' field (not a bench artifact)")
    return doc


def _canary(doc: dict) -> float:
    c = doc.get("canary_mean_sec")
    if c:
        return float(c)
    start, end = doc.get("canary_sec"), doc.get("canary_end_sec")
    vals = [v for v in (start, end) if v]
    if vals:
        return sum(vals) / len(vals)
    return 1.0  # pre-canary artifacts (r01-r03): raw-seconds fallback


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument(
        "--threshold",
        type=float,
        default=1.5,
        help="flag queries whose normalized cost grew by more than this factor",
    )
    ap.add_argument(
        "--min-sec",
        type=float,
        default=0.3,
        help="ignore queries faster than this in BOTH runs (noise floor)",
    )
    args = ap.parse_args()

    old, new = _load(args.old), _load(args.new)
    sfo, sfn = old.get("sf"), new.get("sf")
    if sfo is not None and sfn is not None and sfo != sfn:
        # canary normalization corrects for HOST speed, not DATA size —
        # an sf0.1-vs-sf1 compare would flag every query
        raise SystemExit(
            f"scale-factor mismatch: {args.old} is sf={sfo}, "
            f"{args.new} is sf={sfn}; compare like against like "
            "(e.g. BENCH_SF1 round-over-round)"
        )
    c_old, c_new = _canary(old), _canary(new)
    qo, qn = old["queries"], new["queries"]
    # Measured per-query noise bands (max/min over a run's repeat
    # passes, bench.py --repeats): a move is a regression only if it
    # exceeds BOTH the fixed threshold and what the two runs' own
    # jitter can produce (old at its min, new at its max). Artifacts
    # without spreads (pre-r07, single-pass) fall back to threshold-only.
    so, sn = old.get("queries_spread") or {}, new.get("queries_spread") or {}
    failed_new = set(new.get("failed_queries") or ())
    broken = sorted(
        k for k in qo
        if qo[k] >= 0 and (qn.get(k, -1) < 0 or k in failed_new)
    )
    shared = sorted(
        k for k in qo if k in qn and qo[k] >= 0 and qn[k] >= 0 and k not in broken
    )

    print(
        f"# canary old={c_old:.3f}s new={c_new:.3f}s "
        f"(host speed ratio {c_new / c_old:.2f}x)"
    )
    mo, mn = old.get("measurement"), new.get("measurement")
    if mo != mn:
        # e.g. round 9's count()->noop materialization fix: map-only
        # queries read higher in the new artifact because they are
        # MEASURED for the first time, not because they regressed
        print(
            f"# MEASUREMENT CHANGE: old={mo or 'count()'} "
            f"new={mn or 'count()'} — cross-measurement ratios for "
            "map-only (shuffle-free) queries are not comparable; "
            "see SCALE.md"
        )
    flagged: list[tuple[str, float, float, float]] = []
    noisy: list[tuple[str, float, float]] = []
    improved: list[tuple[str, float]] = []
    for k in shared:
        if qo[k] < args.min_sec and qn[k] < args.min_sec:
            continue
        no, nn = qo[k] / c_old, qn[k] / c_new
        ratio = nn / no if no else float("inf")
        band = max(args.threshold, so.get(k, 1.0) * sn.get(k, 1.0))
        if ratio > band:
            flagged.append((k, qo[k], qn[k], ratio))
        elif ratio > args.threshold:
            noisy.append((k, ratio, band))
        elif ratio < 1 / args.threshold:
            improved.append((k, ratio))

    tot_o = sum(qo[k] for k in shared) / c_old
    tot_n = sum(qn[k] for k in shared) / c_new
    print(
        f"# shared {len(shared)} queries: normalized total "
        f"{tot_o:.1f} -> {tot_n:.1f} canaries ({tot_n / tot_o:.2f}x)"
    )
    for k, r in sorted(improved, key=lambda x: x[1]):
        print(f"improved  {k}: {r:.2f}x normalized")
    for k, r, band in sorted(noisy, key=lambda x: -x[1]):
        print(
            f"noisy     {k}: {r:.2f}x normalized, inside measured "
            f"jitter band {band:.2f}x — not flagged"
        )
    for k, so, sn, r in sorted(flagged, key=lambda x: -x[3]):
        print(
            f"REGRESSED {k}: {so}s -> {sn}s raw, {r:.2f}x normalized "
            f"(> {args.threshold}x)"
        )
    for k in broken:
        state = "missing" if k not in qn else "FAILED"
        print(f"REGRESSED {k}: {qo[k]}s -> {state}")
    if not flagged and not broken:
        print("# no normalized regressions")
    return 1 if flagged or broken else 0


if __name__ == "__main__":
    sys.exit(main())
