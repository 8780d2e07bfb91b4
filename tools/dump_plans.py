"""Generate PLANS.md: condensed physical-plan evidence for key queries.

For each selected query, capture `.explain("formatted")` and extract the
scale-relevant facts: scan pushdown (PushedFilters / ReadSchema), join
strategies, exchange (shuffle) count, and whole-stage-codegen coverage.
This is the "is this the plan you'd want at 100 TB" audit, kept current
by re-running:  python tools/dump_plans.py
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "src"))

SF_DIR = "/root/testdata/sf0.01"

# audited set = EVERY fine-grained registered query (the panels exported
# to the driver are plain UNION ALLs of these, so the fine grain is the
# right audit granularity). CAVEAT — q94: label_propagation's convergence
# loop runs eagerly at DataFrame-build time and localCheckpoint()
# truncates the lineage, so its PLANS.md row shows only the FINAL stage
# over checkpointed scans; the per-iteration shape (edge join + min-agg
# on the node key, one label-sized shuffle per round) is documented in
# the label_propagation docstring, not capturable from the returned
# frame's plan.


def plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def summarize(plan: str) -> dict:
    joins = sorted(set(re.findall(r"(BroadcastHashJoin|SortMergeJoin|BroadcastNestedLoopJoin|ShuffledHashJoin)", plan)))
    # formatted mode lists each node once in the numbered section
    n_exchange = len(re.findall(r"\(\d+\) Exchange", plan))
    n_reused = len(re.findall(r"\(\d+\) ReusedExchange", plan))
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    schemas = re.findall(r"ReadSchema: (struct<[^\n]*)", plan)
    codegen = len(set(re.findall(r"codegen id : (\d+)", plan)))
    scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
    return {
        "scans": scans,
        "pushed": pushed,
        "read_schemas": schemas,
        "joins": joins,
        "shuffles": n_exchange,
        "reused": n_reused,
        "codegen_stages": codegen,
    }


def main():
    from sparkextract.queries.registry import SPARK_QUERIES
    from sparkextract.spark.session import get_spark

    # AQE stays ON in production; for the audit we disable it so the
    # static plan exposes codegen ids (AdaptiveSparkPlan hides them
    # pre-execution) — join/exchange shape is identical either way.
    spark = get_spark(
        "dump-plans",
        master="local[4]",
        extra_conf={"spark.sql.adaptive.enabled": "false"},
    )
    lines = [
        "# PLANS — physical-plan audit of the query surface",
        "",
        "Generated by `python tools/dump_plans.py` (sf0.01, local[4]; plan",
        "*shape* is scale-independent). AQE is ON in production sessions;",
        "it is disabled only inside this audit so the static plan exposes",
        "codegen ids — at runtime it additionally coalesces shuffle",
        "partitions and splits skewed joins.",
        "What to look for, per the 100 TB design rules:",
        "",
        "- **PushedFilters / ReadSchema**: predicates and projections reach",
        "  the parquet scan — no full-width reads for narrow queries;",
        "- **joins**: dimension/manifest sides broadcast; no accidental",
        "  shuffled join of a fact table against a tiny side;",
        "- **shuffles**: each Exchange is deliberate (a groupBy/join key or",
        "  an explicit balance/skew repartition), never incidental;",
        "- **codegen**: relational stages run inside WholeStageCodegen; only",
        "  the extraction core crosses to Python, Arrow-batched.",
        "",
    ]
    for name in sorted(SPARK_QUERIES):
        df = SPARK_QUERIES[name](spark, SF_DIR)
        s = summarize(plan_text(df))
        lines.append(f"## {name}")
        lines.append("")
        lines.append(f"- parquet scans: {s['scans']}; shuffles (Exchange nodes): {s['shuffles']}; "
                     f"codegen stages: {s['codegen_stages']}")
        if s["reused"]:
            lines.append(f"- reused exchanges: {s['reused']}")
        if s["joins"]:
            lines.append(f"- join strategies: {', '.join(s['joins'])}")
        for i, p in enumerate(s["pushed"]):
            shown = p if len(p) <= 140 else p[:137] + "..."
            lines.append(f"- scan {i} PushedFilters: [{shown}]")
        for i, rs in enumerate(s["read_schemas"]):
            shown = rs if len(rs) <= 160 else rs[:157] + "..."
            lines.append(f"- scan {i} ReadSchema: `{shown}`")
        lines.append("")
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}")
    spark.stop()


if __name__ == "__main__":
    main()
