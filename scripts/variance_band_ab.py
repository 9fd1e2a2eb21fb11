#!/usr/bin/env python3
"""Re-derive the bench variance band from SAME-METHODOLOGY repeats
(r11 VERDICT item 1): the band bench_diff.py flags against was sourced
from r07 one-JVM A/B repeats — stale once bench.py moved to fresh-JVM
isolation. This script runs a representative query sample through
bench.py's OWN subset mode (identical per-query clearCache → warm-own →
time discipline, fresh JVM per run) ``RUNS`` times and reports the
observed run-to-run spread per query, plus the derived abs/rel band
(max spread across queries, padded ×1.25 so the band is a ceiling on
observed noise, not a fit to it).

Writes VARIANCE_BAND_r{N}.json (round from the committed ROUND file).
The constants in scripts/bench_diff.py are then updated by hand with
this file cited as source — deliberate: the band is a reviewed
methodology constant, not something a script silently moves.

Box must be otherwise quiet. Env: SPARK_GRAFT_SF_DIR (default sf0.1),
VARIANCE_RUNS (default 5 — a 3-sample max is a noisy ceiling estimate,
r12 ADVICE), VARIANCE_QUERIES (comma list override).

Since r13 the per-query spreads in this artifact are consumed directly
by bench_diff.py: a query in the sample gets its OWN band (spread
x1.25, floored) instead of the one global max, so cheap stable queries
keep a tight band while the heavy noisy ones don't force a 34% blanket
band onto everything (r12 ADVICE).
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the six r11 cross-methodology watchlist queries (the entries this
# band adjudicates) + the canary + a spread of cheap/heavy shapes.
# The last four rows are deliberately CHEAP stable queries (scan+agg,
# window, semi-join, pivot) — they exist to demonstrate the per-query
# band staying tight where the heavy rows' spread is wide (r12 ADVICE:
# one global max band let sub-second queries drift 1.2 s unflagged).
SAMPLE = [
    "ann_pq_rerank_topk",
    "bpe_encode_stats",
    "chunk_dedup_docs",
    "lineitem_checksum",
    "text_repetition_stats",
    "text_tfidf_top_terms",
    "tpch_q1",
    "mr_approx_cell_stats",
    "dedup_minhash_lsh",
    "copurchase_triangle_stats",
    "revenue_by_region",
    "events_rolling_value",
    "customers_without_orders",
    "user_event_pivot",
]


def _one_run(sf_dir: str, names: list[str]) -> dict[str, float]:
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=sf_dir,
        SPARK_GRAFT_ONLY=",".join(names),
    )
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        env=env,
        stdout=subprocess.PIPE,
        text=True,
    )
    if proc.returncode != 0:
        raise SystemExit(f"bench subset run failed rc={proc.returncode}")
    line = proc.stdout.strip().splitlines()[-1]
    return json.loads(line)["queries"]


# Queries below this median are governed by the ABS band anyway
# (max(abs, rel*prev) — abs dominates until prev ~ abs/rel), so their
# relative spreads are pure fixed-jitter artifacts: a 0.3 s query with
# a 0.2 s hiccup reads as 70% "relative noise" and would blind the
# heavy-query rel band entirely. The rel ceiling therefore derives only
# from queries heavy enough that rel actually governs their flag band.
REL_FLOOR_SEC = 1.5


def derive(samples: dict[str, list[float]]) -> tuple[dict, dict]:
    """Per-query spreads + the derived global fallback band. Pure
    arithmetic over the recorded samples — also reachable via
    ``--rederive <artifact>`` so a derivation fix never needs the
    20-minute measurement rerun."""
    per_query = {}
    abs_spreads, rel_heavy = [], []
    for q, ts in samples.items():
        spread = round(max(ts) - min(ts), 3)
        med = statistics.median(ts)
        rel = round(spread / med, 4) if med else 0.0
        per_query[q] = {
            "samples_sec": ts,
            "median_sec": round(med, 3),
            "abs_spread_sec": spread,
            "rel_spread": rel,
        }
        abs_spreads.append(spread)
        if med >= REL_FLOOR_SEC:
            rel_heavy.append(rel)
    band = {
        "abs_sec": round(max(abs_spreads) * 1.25, 3),
        "rel": round(max(rel_heavy or abs_spreads) * 1.25, 3),
        "derivation": (
            "abs: max observed run-to-run spread across the whole "
            "sample, padded x1.25; rel: max relative spread among "
            f"queries with median >= {REL_FLOOR_SEC} s (below that the "
            "abs band governs the flag anyway and tiny-query jitter "
            "would blind the heavy-query rel ceiling), padded x1.25. "
            "Runs are full bench.py subset invocations (fresh JVM, "
            "clearCache -> warm-own -> min-of-SPARK_GRAFT_SAMPLES per "
            "query) — the SAME methodology the round details are "
            "produced under. NOTE: these GLOBAL numbers are only the "
            "fallback; bench_diff gives every query measured here its "
            "OWN spread-derived band."
        ),
    }
    return per_query, band


def main() -> None:
    if len(sys.argv) == 3 and sys.argv[1] == "--rederive":
        with open(sys.argv[2]) as f:
            doc = json.load(f)
        samples = {
            q: e["samples_sec"] for q, e in doc["queries"].items()
        }
        doc["queries"], doc["derived_band"] = derive(samples)
        with open(sys.argv[2], "w") as f:
            json.dump(doc, f, indent=1, sort_keys=True)
        print(json.dumps({"rederived": sys.argv[2],
                          "derived_band": doc["derived_band"]}))
        return
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = int(os.environ.get("VARIANCE_RUNS", "5"))
    names = [
        q.strip()
        for q in os.environ.get("VARIANCE_QUERIES", ",".join(SAMPLE)).split(
            ","
        )
        if q.strip()
    ]
    samples: dict[str, list[float]] = {q: [] for q in names}
    for i in range(runs):
        timings = _one_run(sf_dir, names)
        for q in names:
            samples[q].append(timings[q])
        print(f"# run {i + 1}/{runs} done", file=sys.stderr)

    per_query, band = derive(samples)
    with open(os.path.join(REPO, "ROUND")) as f:
        round_no = int(f.read().strip())
    out = {
        "sf_dir": sf_dir,
        "runs": runs,
        "queries": per_query,
        "derived_band": band,
    }
    path = os.path.join(REPO, f"VARIANCE_BAND_r{round_no:02d}.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps({"written": path, "derived_band": band}))


if __name__ == "__main__":
    main()
