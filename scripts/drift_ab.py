#!/usr/bin/env python3
"""Isolated A/B timings for queries the round-9 bench diff flagged.

The cross-round diff (scripts/bench_diff.py over BENCH_DETAIL_r08/r09)
flagged, after drift normalization, one regression (tfidf_doc_similarity
2.03 -> 2.68s) and kept dedup_incremental_ingest on the watchlist (2.59s
vs its 2.20s pre-regression level). Both flags come from ONE timed pass
inside a 99-query suite, where neighbors' cache pressure and JIT state
leak into individual walls. This script re-times each flagged query in
ISOLATION — clearCache, warm once, then min/median of 3 — which is the
right estimator for "did the query's own plan get slower" (min discards
GC/compilation one-offs; the suite's single sample cannot).

Also stage-times lineitem_month_checksums (4.03s, the most expensive
r9 query): table_checksum on the same scan is the floor, a variant
grouping by an integer yyyymm key isolates the date_format() cost, and
the full query adds the per-partition fold — so the wall splits into
scan+hash / month-derivation / grouped-fold parts.

Merges an "isolated_ab" section into BENCH_REGRESSION_NOTES_r{N}.json
(round from the committed ROUND file). Env: SPARK_GRAFT_SF_DIR,
SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Observation  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _noop(df) -> float:
    t0 = time.perf_counter()
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
        "overwrite"
    ).save()
    return round(time.perf_counter() - t0, 3)


# Declared shared artifacts (r12 VERDICT item 5): in the SUITE, batch
# neighbors build JVM-level state a single-query JVM never sees — the
# JIT warmth of the heavy shared kernels (k-means fit, classifier
# featurization). Bare isolated floors therefore OVERSTATE for these
# queries (r12: cluster_balanced_counts floor 7.94 s vs suite wall
# 4.21 s). --with-deps pre-runs the declared builder queries UNTIMED
# before the target's own warm/timed runs, reproducing the batch
# neighborhood the suite wall was measured in. Persisted intermediates
# need no entry: a ``session.shared`` memo dropped by clearCache is
# rebuilt by the target's own warm run.
SHARED_DEPS: dict[str, list[str]] = {
    # k-means kernel JIT warmth (shared generated-code classes with the
    # IVF coarse quantizer's identical fit loop)
    "cluster_balanced_counts": ["ann_ivf_topk"],
    # classifier featurization/training JIT shared with its twin
    "doc_classifier_eval": ["doc_classifier_holdout_eval"],
    "doc_classifier_holdout_eval": ["doc_classifier_eval"],
}

WARM_STABLE_RATIO = 1.15
WARM_MAX_RUNS = 5


def isolated(spark, build, runs: int = 3, deps=None) -> dict:
    """clearCache → (deps untimed) → warm-until-stable → min/median of
    ``runs`` timed samples.

    Warm-until-stable (r13): ONE warm run under-warms iterative queries
    — C2 JIT compilation triggers on invocation counts, so a k-means
    query's isolated samples kept FALLING across runs (r12:
    11.05 → 14.46 → 7.94 s) while its suite wall, measured after a
    batch warmup pass plus 15 neighbors, sat at 4.21 s. Warm passes
    repeat until two consecutive untimed walls are within
    WARM_STABLE_RATIO (cap WARM_MAX_RUNS), so the timed samples measure
    the same steady state the suite measures.
    """
    spark.catalog.clearCache()
    dep_walls = []
    for dep in deps or []:
        dep_walls.append(round(_noop(dep()), 3))
    warm_walls = [_noop(build())]
    while len(warm_walls) < WARM_MAX_RUNS:
        if len(warm_walls) >= 2:
            hi = max(warm_walls[-2:])
            lo = min(warm_walls[-2:])
            if lo > 0 and hi / lo <= WARM_STABLE_RATIO:
                break
        warm_walls.append(_noop(build()))
    samples = [_noop(build()) for _ in range(runs)]
    out = {
        "warm_walls_sec": warm_walls,
        "warm_samples_sec": samples,
        "min_sec": min(samples),
        "median_sec": round(statistics.median(samples), 3),
    }
    if dep_walls:
        out["dep_warm_sec"] = dep_walls
    return out


def main() -> None:
    from bigdata_hwk_spark import registry
    from bigdata_hwk_spark.operators import reconcile as RC
    from bigdata_hwk_spark.session import get_spark
    from bigdata_hwk_spark.sources.tables import fan_out, load_table

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name="bigdata_hwk_spark-drift-ab",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )

    argv = [a for a in sys.argv[1:] if a != "--with-deps"]
    with_deps = "--with-deps" in sys.argv[1:]
    names = argv or ["tfidf_doc_similarity", "dedup_incremental_ingest"]
    unknown = sorted(set(names) - set(registry.QUERIES))
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    out: dict = {
        "sf_dir": sf_dir,
        "runs": 3,
        "with_deps": with_deps,
        "note": (
            "isolated warm min/median vs the suite's single-sample wall: "
            "a query whose isolated floor sits at or below its previous "
            "suite wall has NOT regressed — the suite number moved with "
            "neighbors' cache pressure, not its own plan. Warm passes "
            "repeat until stable (see isolated()); --with-deps pre-runs "
            "the SHARED_DEPS builder queries untimed first, reproducing "
            "the JIT warmth those queries have in the suite."
        ),
        "queries": {},
    }
    for name in names:
        deps = None
        if with_deps and name in SHARED_DEPS:
            deps = [
                (lambda d=d: registry.QUERIES[d](spark, sf_dir))
                for d in SHARED_DEPS[name]
                if d in registry.QUERIES
            ]
        out["queries"][name] = isolated(
            spark,
            lambda n=name: registry.QUERIES[n](spark, sf_dir),
            deps=deps,
        )
        if with_deps and name in SHARED_DEPS:
            out["queries"][name]["deps"] = SHARED_DEPS[name]
        print(f"# {name}: {out['queries'][name]}", file=sys.stderr)

    li = lambda: fan_out(  # noqa: E731  — registry _li's exact shape
        load_table(spark, sf_dir, "lineitem")
    )
    month_str = F.date_format("l_shipdate", "yyyy-MM")
    month_int = (F.year("l_shipdate") * 100 + F.month("l_shipdate")).cast(
        "int"
    )
    stages = {
        "floor_table_checksum": lambda: RC.table_checksum(
            li(), RC.LINEITEM_CANON
        ),
        "int_month_key": lambda: RC.partition_checksums(
            li(), RC.LINEITEM_CANON, month_int, "ship_month"
        ),
        "full_date_format": lambda: RC.partition_checksums(
            li(), RC.LINEITEM_CANON, month_str, "ship_month"
        ),
    }
    if not sys.argv[1:]:  # stage decomposition only on the default run
        decomp = {k: isolated(spark, b) for k, b in stages.items()}
        out["lineitem_month_checksums_stages"] = decomp
        print(f"# month_checksums stages: {decomp}", file=sys.stderr)

    with open(os.path.join(REPO, "ROUND"), encoding="utf-8") as fh:
        round_no = int(fh.read().strip())
    notes_path = os.path.join(
        REPO, f"BENCH_REGRESSION_NOTES_r{round_no:02d}.json"
    )
    notes = {}
    if os.path.exists(notes_path):
        with open(notes_path) as fh:
            notes = json.load(fh)
    # merge: argv-subset runs add/refresh entries without clobbering the
    # rest of the section (conclusions, stage decompositions)
    prev_ab = notes.get("isolated_ab", {})
    prev_ab.setdefault("queries", {}).update(out.pop("queries"))
    prev_ab.update(out)
    notes["isolated_ab"] = prev_ab
    with open(notes_path, "w") as fh:
        json.dump(notes, fh, indent=1, sort_keys=True)
    spark.stop()
    print(json.dumps({"written": notes_path, "isolated_ab": prev_ab}))


if __name__ == "__main__":
    main()
