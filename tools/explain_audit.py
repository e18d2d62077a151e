"""Physical-plan audit: for each catalog query, extract the
scale-relevant facts from `explain(formatted)` — pushed filters,
join strategies, shuffle (Exchange) count, whole-stage codegen spans —
and flag anti-patterns (row-at-a-time Python UDFs, cartesian products,
sort-merge joins against tiny dims, a regex literal that the optimized
plan holds more than once).

Usage: python tools/explain_audit.py [sf_dir] [query ...] > PLANS.md
"""

from __future__ import annotations

import json
import re
import sys
from collections import Counter
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def audit_plan(name: str, plan: str) -> dict:
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    pushed = [p for p in pushed if p.strip()]
    return {
        "broadcast_joins": len(re.findall(r"BroadcastHashJoin", plan)),
        "bnl_joins": len(re.findall(r"BroadcastNestedLoopJoin", plan)),
        "smj_joins": len(re.findall(r"SortMergeJoin", plan)),
        "shuffles": len(re.findall(r"\bExchange\b|\(Exchange", plan))
        or len(re.findall(r"Exchange ", plan)),
        "codegen_spans": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "pushed_filters": len(pushed),
        "python_udfs": len(re.findall(r"BatchEvalPython", plan)),
        "arrow_udfs": len(re.findall(r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas", plan)),
        "cartesian": len(re.findall(r"CartesianProduct", plan)),
    }


# regex-matching expressions; the pattern is child 1 of each
_REGEX_EXPRS = {
    "RegExpReplace", "RegExpExtract", "RegExpExtractAll", "RLike",
    "RegExpCount", "RegExpSubStr", "RegExpInStr",
}


def repeated_regexes(plan_json: str) -> dict[str, int]:
    """Regex literals that occur more than once in a plan, from
    `queryExecution().optimizedPlan().toJSON()`: pattern -> copies.

    Each copy runs once per row it sees. A repeat is how a per-column
    regexp_extract, or a parse alias Catalyst inlined into a pushed-down
    Filter, shows up; the same pattern on two different inputs (union
    branches, two columns) is counted too."""
    counts: Counter = Counter()

    def tree(nodes: list, i: int) -> tuple[tuple, int]:
        # toJSON flattens every tree (plan or expression) in pre-order
        node, i = nodes[i], i + 1
        children = []
        for _ in range(node["num-children"]):
            child, i = tree(nodes, i)
            children.append(child)
        return (node, children), i

    def visit(value) -> None:
        if isinstance(value, dict):
            for v in value.values():
                visit(v)
        elif isinstance(value, list):
            if value and all(isinstance(v, dict) and "num-children" in v for v in value):
                i = 0
                while i < len(value):
                    root, i = tree(value, i)
                    match(root)
            for v in value:
                visit(v)

    def match(root: tuple) -> None:
        node, children = root
        name = node["class"].rsplit(".", 1)[-1]
        if name in _REGEX_EXPRS and len(children) > 1:
            pat = children[1][0]
            if pat["class"].endswith(".Literal") and isinstance(pat.get("value"), str):
                counts[pat["value"]] += 1
        for child in children:
            match(child)

    visit(json.loads(plan_json))
    return {pat: n for pat, n in counts.items() if n > 1}


def main():
    from syslog_ng_spark.catalog import QUERIES
    from syslog_ng_spark.session import get_session

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_session("explain-audit")
    spark.sparkContext.setLogLevel("ERROR")

    print("# Physical plan audit\n")
    print(f"SF dir: `{sf_dir}`. Columns: broadcast/SMJ/BNL join counts,")
    print("shuffle (Exchange) count, whole-stage-codegen span count, scans")
    print("with pushed filters, Python-UDF nodes (0 everywhere = fully")
    print("JVM), cartesian products. Warnings also list every regex literal")
    print("that a query's optimized plan holds more than once.\n")
    print("| query | bcast | smj | bnl | shuffles | codegen | pushed | pyudf | cartesian |")
    print("|---|---|---|---|---|---|---|---|---|")
    warnings = []
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        import io
        from contextlib import redirect_stdout

        try:
            df = fn(spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
            buf2 = io.StringIO()
            with redirect_stdout(buf2):
                df.explain("simple")  # simple mode marks codegen stages as *(N)
            simple = buf2.getvalue()
            regex_repeats = repeated_regexes(df._jdf.queryExecution().optimizedPlan().toJSON())
        except Exception as e:  # pragma: no cover
            print(f"| {name} | ERROR: {str(e)[:60]} |")
            continue
        a = audit_plan(name, plan)
        a["codegen_spans"] = len(set(re.findall(r"\*\((\d+)\)", simple)))
        print(
            f"| {name} | {a['broadcast_joins']} | {a['smj_joins']} | {a['bnl_joins']} "
            f"| {a['shuffles']} | {a['codegen_spans']} | {a['pushed_filters']} "
            f"| {a['python_udfs']} | {a['cartesian']} |"
        )
        if a["python_udfs"]:
            warnings.append(f"- `{name}`: row-at-a-time Python UDF in plan")
        if a["cartesian"]:
            warnings.append(f"- `{name}`: CartesianProduct in plan")
        if regex_repeats:
            top = sorted(regex_repeats.items(), key=lambda kv: -kv[1])
            shown = ", ".join(
                f"`{(p if len(p) <= 40 else p[:37] + '...')!r}` {n}x" for p, n in top[:3]
            )
            more = f" (+{len(top) - 3} more)" if len(top) > 3 else ""
            warnings.append(
                f"- `{name}`: regex literals repeated in the optimized plan: {shown}{more}"
            )
        # a BNL marked Cross is an explicit crossJoin against a 1-row
        # scalar aggregate (the correct scalar-subquery plan); any
        # OTHER join type riding a BNL means a real join degenerated
        # (inequality-only condition, e.g. the old embed_neardup)
        non_cross_bnl = len(
            re.findall(r"BroadcastNestedLoopJoin (?:BuildLeft|BuildRight), (?!Cross)", plan)
        )
        if non_cross_bnl:
            warnings.append(
                f"- `{name}`: non-Cross BroadcastNestedLoopJoin "
                "(join degenerated to a nested loop)"
            )
        if a["smj_joins"] and name.startswith(("q5", "enrich", "q10")):
            warnings.append(f"- `{name}`: sort-merge join where a dim broadcast was expected")
    print()
    if warnings:
        print("## Warnings\n")
        print("\n".join(warnings))
    else:
        print("## Warnings\n\nnone")


if __name__ == "__main__":
    main()
