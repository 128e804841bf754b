"""Physical-plan audit over every queries() entry.

Prints one line per query: join strategies, exchange count, pushed
filters, and flags anything that degenerated into a cartesian /
nested-loop join (except the explicitly-intended broadcast cross joins
in the brute-force ANN baseline).

Usage: python tools/audit_plans.py [sf_dir]
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")

import __spark_entry__ as entrymod  # noqa: E402
from spider_spark.plans.explain import formatted_plan  # noqa: E402
from spider_spark.session import get_spark  # noqa: E402

INTENDED_CROSS = {
    "ann_bruteforce_topk",  # broadcast cross join by design (few queries)
    "q22_dormant_customers",  # 1-row scalar-avg broadcast (nested loop over a single row)
    "q11_important_parts",  # 1-row grand-total broadcast (scalar threshold)
    "domain_stats",  # 1-row corpus-chars broadcast (share denominator)
    "tfidf_topk",  # 1-row corpus-N broadcast (idf denominator)
    "unigram_logprob",  # 1-row corpus-token-total broadcast (LM denominator)
    "perplexity_buckets",  # same 1-row LM-denominator broadcast via unigram_doc_scores
    "data_mix_weights",  # 1-row (total_chars, total_pow) broadcast (mix denominators)
    "key_skew_profile",  # 1-row row-count broadcast (share denominator)
    "user_erasure",  # 1-row before/after count joins per audited table
    "dataset_card",  # 1-row base stats × 1-row dup stats assembly
    "host_hits",  # 1-row (hub norm, auth norm) broadcast (final normalise)
    "bigram_logprob",  # 1-row vocab-size broadcast (smoothing denominator)
    "histogram_quantiles",  # 1-row row-count / range broadcasts (targets)
    "crawl_frontier_budget",  # 1-row weight-total + leftover broadcasts (apportionment)
    "split_divergence",  # 1-row token-totals broadcast (smoothing denominators)
    "pmi_collocations",  # 1-row bigram/unigram-total broadcasts (PMI denominators)
    "dsir_weights",  # 1-row distribution-total broadcast (smoothing denominators)
    "bm25_topk",  # 1-row corpus-stats broadcast (N, avgdl)
    "length_buckets",  # 1-row row-count broadcast (two-phase exact ntile denominator)
    "rfm_segments",  # same 1-row ntile-denominator broadcast, ×3 dimensions
}

# Queries whose plan contains a Window fed by an Exchange
# SinglePartition — allowed ONLY for bounded-domain inputs (the window
# runs over a provably small relation, never corpus-grain). Corpus-grain
# global windows were eliminated in round 5 via the two-phase exact rank
# (spider_spark/operators/ranking.py); anything newly flagged here is a
# scale regression unless its input is bounded and justified below.
BOUNDED_GLOBAL_WINDOW: dict[str, str] = {
    "gap_fill_interpolate": "windows over the hour spine — O(hours), not rows",
    "histogram_quantiles": "cumulative window over HIST_BINS histogram cells",
    "crawl_frontier_budget": "largest-remainder apportionment over the host-grain budget rollup",
}


def _single_partition_windows(plan: str) -> int:
    """Count Window nodes whose first Exchange descendant is
    SinglePartition — the 'move the whole relation to one partition'
    anti-pattern (WindowExec: No Partition Defined)."""
    lines = plan.splitlines()
    # tree section: lines like '+- Window (4)' until the first blank
    tree: list[tuple[int, str, str]] = []  # (indent, op, id)
    for ln in lines:
        m = re.match(r"^([\s+:-]*)(\w+) \((\d+)\)\s*$", ln)
        if not m:
            if tree and not ln.strip():
                break
            continue
        tree.append((len(m.group(1)), m.group(2), m.group(3)))
    single = {
        m.group(1)
        for m in re.finditer(r"\((\d+)\) Exchange\n[^\n]*\nArguments: SinglePartition", plan)
    }
    flagged = 0
    for i, (indent, op, _) in enumerate(tree):
        if op not in ("Window", "WindowGroupLimit"):
            continue
        for indent2, op2, id2 in tree[i + 1 :]:
            if indent2 <= indent:
                break
            if op2 == "Exchange":
                if id2 in single:
                    flagged += 1
                break
    return flagged


# toPandas() pulls a whole DataFrame onto the driver — allowed ONLY for
# provably bounded inputs (quantizer training samples, fixed query sets),
# each tagged with a "bounded" comment within two lines above the call.
def audit_topandas() -> int:
    import pathlib

    bad = 0
    pkg = pathlib.Path(__file__).resolve().parent.parent / "spider_spark"
    for path in sorted(pkg.rglob("*.py")):
        lines = path.read_text().splitlines()
        for i, line in enumerate(lines):
            if ".toPandas()" not in line:
                continue
            ctx = "\n".join(lines[max(0, i - 2) : i + 1]).lower()
            if "bounded" not in ctx:
                print(f"UNBOUNDED toPandas: {path.name}:{i + 1}: {line.strip()}")
                bad += 1
    return bad


# .collect() pulls rows onto the driver — allowed ONLY behind an
# explicit size gate (small-graph driver twins, O(vocab)/O(sketch)
# relations), each tagged with a "bounded" comment within three lines
# above the call. Mirrors the toPandas gate; collect_list/collect_set
# are JVM aggregations and exempt.
def audit_collect() -> int:
    import pathlib

    bad = 0
    pkg = pathlib.Path(__file__).resolve().parent.parent / "spider_spark"
    for path in sorted(pkg.rglob("*.py")):
        lines = path.read_text().splitlines()
        for i, line in enumerate(lines):
            if ".collect()" not in line or "collect_list" in line or "collect_set" in line:
                continue
            ctx = "\n".join(lines[max(0, i - 3) : i + 1]).lower()
            if "bounded" not in ctx:
                print(f"UNBOUNDED collect: {path.name}:{i + 1}: {line.strip()}")
                bad += 1
    return bad


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan-audit")
    bad = audit_topandas() + audit_collect()
    for name, fn in entrymod.queries().items():
        try:
            plan = formatted_plan(fn(spark, sf_dir))
        except Exception as exc:  # noqa: BLE001
            print(f"ERROR {name}: {exc}")
            bad += 1
            continue
        # \b anchors the \w* prefix at a word start: unanchored, every
        # position inside a long word (bloom_pruned_join's plan prints
        # 131k-char binary literals) restarts a scan to the word's end,
        # O(len²) — ~500 s on that one plan.
        joins = sorted(set(re.findall(r"(\b\w*HashJoin|SortMergeJoin|CartesianProduct|BroadcastNestedLoopJoin)", plan)))
        exch = plan.count("Exchange")
        pushed = plan.count("PushedFilters: [") - plan.count("PushedFilters: []")
        cartesian = any(j in ("CartesianProduct", "BroadcastNestedLoopJoin") for j in joins)
        flag = ""
        if cartesian and name not in INTENDED_CROSS:
            flag = "  <<< CARTESIAN"
            bad += 1
        gw = _single_partition_windows(plan)
        if gw and name not in BOUNDED_GLOBAL_WINDOW:
            flag += f"  <<< GLOBAL WINDOW x{gw}"
            bad += 1
        print(
            f"{name:28s} exch={exch:2d} pushed={pushed} joins={','.join(joins) or '-'}{flag}"
        )
    print(f"\n{bad} problem(s)")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
