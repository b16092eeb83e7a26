"""Plan-quality sweep over EVERY registered query.

``tests/test_plans.py`` locks the hot-path plan properties as
regressions; this tool audits the WHOLE registry so a scale-killer in a
rarely-benched query can't hide. For each query it builds the DataFrame
(no execution beyond what the query's own construction does) and
reads the physical plan's facts (:func:`mevi_spark.plans.plan_facts.
plan_facts`) for:

* ``CartesianProduct`` / ``BroadcastNestedLoopJoin`` — unbounded join
  strategies. Queries whose lineage contains a SANCTIONED bounded
  crossJoin (K-row codebook fan-outs, the beam's per-level expansion,
  diagnostic all-code enumeration, grid configs) are listed in
  ``BOUNDED_CROSS_OK`` with the bounding argument;
* shuffle-exchange count — PINNED EXACTLY against
  ``tools/plan_baseline.json`` (VERDICT r8 next-round #6): ``--check``
  fails on any count that differs from the committed one (an extra
  shuffle is the regression the DPP/broadcast shape pins catch for
  their queries; a removed one must be re-pinned with ``--update`` so
  the pin stays true), and on queries missing from the baseline;
* cache leaks — every build starts from ``clear_session_caches``, and
  a query that leaves a new CacheManager entry behind after the next
  ``clear_session_caches`` is flagged: its cached relation would leak
  into every later query's plan, so with none flagged the counts are
  independent of build order;
* whole-stage codegen stages — informational.

Usage::

    python tools/plan_audit.py [sf_dir] [name...]   # report (default sf0.001)
    python tools/plan_audit.py --check [sf_dir]     # fail on any pin mismatch
    python tools/plan_audit.py --update [sf_dir]    # re-pin plan_baseline.json

Exit code 1 if any UNsanctioned unbounded join, build error or cache
leak appears (any mode), or in ``--check`` mode on any exchange-count
mismatch / unpinned query.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASELINE_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "plan_baseline.json"
)

# lineages where a cross product is BOUNDED by construction: one side is
# a K-row (or K^2 / grid-sized) literal/codebook frame, never corpus²
BOUNDED_CROSS_OK = {
    "rq_beam_search": "per-level beam fan-out vs K-row codebook",
    "beam_constrained": "per-level beam fan-out vs K-row codebook",
    "eval_all_codes": "diagnostic K^M enumeration (documented)",
    "ensemble_grid": "config-grid crossJoin (dozens of rows)",
    "coarse_to_fine_retrieval": "beam fan-out vs K-row codebook upstream",
    "retrieval_eval_metrics": "run derivation shares the beam lineage",
    "ensemble_fuse": "run derivation shares the beam lineage",
    "nq_hit_test": "run derivation shares the beam lineage",
    "doc_query_sets": "run derivation shares the beam lineage",
    "rq_kmeans_invariant": "MLlib KMeans broadcast of K centers",
    "negatives_cluster": "cluster-mate sampling joins the K-row map",
    "negatives_notclus": "pool pre-sampled to O(need) before cross",
    "ann_ivf_topk": "probe vs K-row centroid frame (impl='join' path)",
    "ann_adc_topk": "LUT build vs K-row codebook",
    "cluster_projection": "positional projection vs K-row grid",
    "text_tfidf_topterms": "crossJoin with the SINGLE-ROW corpus count",
}


def audit(spark, sf_dir: str, filters: tuple[str, ...] = ()) -> list[dict]:
    """Build every (filtered) registered query's plan and report the
    join-shape / exchange-count / codegen / cache-leak facts. Each
    build starts from cleared session caches, so no query's plan
    depends on which queries were built before it."""
    from mevi_spark.plans import registry
    from mevi_spark.plans.plan_facts import plan_facts
    from mevi_spark.plans.retrieval import clear_session_caches

    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    qs = registry.get_queries()
    report = []
    for name, fn in qs.items():
        if filters and not any(f in name for f in filters):
            continue
        clear_session_caches(spark)
        cached_before = cache_manager.numCachedEntries()
        try:
            facts = plan_facts(fn(spark, sf_dir))
        except Exception as exc:  # noqa: BLE001
            report.append({"query": name, "error": str(exc)[:200]})
            continue
        cart = "CartesianProduct" in facts.joins
        bnlj = "BroadcastNestedLoopJoin" in facts.joins
        entry = {
            "query": name,
            "exchanges": len(facts.shuffles),
            "codegen_stages": facts.codegen_stages,
            "cartesian": cart,
            "bnlj": bnlj,
        }
        if (cart or bnlj) and name not in BOUNDED_CROSS_OK:
            entry["verdict"] = "UNBOUNDED-JOIN"
        elif cart or bnlj:
            entry["verdict"] = f"bounded: {BOUNDED_CROSS_OK[name]}"
        clear_session_caches(spark)
        leaked = cache_manager.numCachedEntries() - cached_before
        if leaked:
            entry["leaked_cache_entries"] = leaked
            spark.catalog.clearCache()  # keep later builds independent
        report.append(entry)
    return report


def flagged(report: list[dict]) -> list[str]:
    """Names with an unsanctioned unbounded join, a build error, or a
    cache entry left behind after ``clear_session_caches``."""
    return [
        e["query"]
        for e in report
        if e.get("verdict") == "UNBOUNDED-JOIN"
        or "error" in e
        or "leaked_cache_entries" in e
    ]


def load_baseline() -> dict:
    with open(BASELINE_PATH, encoding="utf-8") as fh:
        return json.load(fh)


def check_exchanges(report: list[dict], baseline: dict) -> list[str]:
    """Violations of the exact exchange-count pins: a count that
    differs from the baseline, or an unpinned query. Queries in the
    baseline but absent from the report (filtered runs) are ignored."""
    pinned = baseline["exchanges"]
    violations = []
    for e in report:
        name = e["query"]
        if "error" in e:
            continue  # already fatal via flagged()
        if name not in pinned:
            violations.append(
                f"{name}: not pinned in plan_baseline.json — run "
                f"`python tools/plan_audit.py --update` and review the diff"
            )
        elif e["exchanges"] != pinned[name]:
            violations.append(
                f"{name}: {e['exchanges']} exchanges != pinned "
                f"{pinned[name]} — fix the plan, or review the change "
                f"and re-pin with --update"
            )
    return violations


def main() -> None:
    args = [a for a in sys.argv[1:]]
    mode = "report"
    for flag in ("--check", "--update"):
        if flag in args:
            mode = flag.lstrip("-")
            args.remove(flag)
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    filters = tuple(args[1:])

    from mevi_spark.session import get_spark

    spark = get_spark("plan-audit", cpus=8, shuffle_partitions=8)
    report = audit(spark, sf_dir, filters)
    bad = flagged(report)

    if mode == "update":
        if filters:
            sys.exit("--update must pin the FULL registry (no filters)")
        baseline = {
            "sf_dir": sf_dir,
            "exchanges": {
                e["query"]: e["exchanges"]
                for e in report
                if "error" not in e
            },
        }
        with open(BASELINE_PATH, "w", encoding="utf-8") as fh:
            json.dump(baseline, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(
            f"pinned {len(baseline['exchanges'])} queries to "
            f"{BASELINE_PATH}",
            file=sys.stderr,
        )
    elif mode == "check":
        baseline = load_baseline()
        if baseline.get("sf_dir") != sf_dir:
            print(
                f"note: baseline pinned at {baseline.get('sf_dir')}, "
                f"checking at {sf_dir} — broadcast-threshold flips can "
                f"alias as regressions",
                file=sys.stderr,
            )
        violations = check_exchanges(report, baseline)
        for v in violations:
            print(f"VIOLATION {v}", file=sys.stderr)
        bad.extend(violations)

    print(json.dumps(report, indent=1))
    print(
        f"\n{len(report)} queries audited, {len(bad)} flagged"
        + (f": {bad}" if bad else ""),
        file=sys.stderr,
    )
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
