"""Physical-plan audit across every registered query.

Dumps each query's formatted physical plan and flags anti-patterns:

- CartesianProduct anywhere (always a bug in this engine; the one
  legitimate tiny-broadcast nested loop is BroadcastNestedLoopJoin).
- Python row-UDFs (``BatchEvalPython``) — only Arrow paths
  (``ArrowEvalPython`` / ``MapInPandas`` / ``FlatMapGroupsInPandas``)
  are sanctioned.
- Parquet scans that read every column of a wide table (pruning miss).
- Unpartitioned Window operators whose input subtree reaches a
  data-sized parquet scan with no intervening aggregate — a global
  sort-the-world that cannot scale (``ORDER BY`` without
  ``PARTITION BY`` is only legitimate over provably bounded relations:
  calendar spines, ≤256-bin histograms, degree histograms — all of
  which sit ABOVE an aggregate or a generator in the plan).
- Exchange (shuffle) counts per query, for eyeballing regressions.
- UNDECLARED_TABLE_DEP: the plan scans a corpus table the entry's
  oracle never names. The oracle's table set is the entry's declared
  input surface — ``tools/degenerate_gate.py`` skips entries whose
  declared surface misses a corpus's mutated tables, so an undeclared
  Spark-side read would let a hostile corpus affect an entry the gate
  believed untouchable (r13 verdict item 4's skip lever leans on this
  flag staying empty).

Usage: python tools/audit_plans.py [--sf DIR] [--dump plans.txt]
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

WIDE_TABLES = {"lineitem": 11, "orders": 6, "events": 6}

#: Tables whose row count grows with SF — a raw scan of one of these
#: under an unpartitioned Window is a scale bug. region/nation are
#: O(25)-row dims and exempt.
DATA_TABLES = (
    "events",
    "lineitem",
    "orders",
    "customer",
    "supplier",
    "part",
    "documents",
    "embeddings",
)

#: Nodes that bound the cardinality of everything above them.
#: ReusedExchange is NOT here: it duplicates an arbitrary subtree, and
#: the original site may feed a join/aggregate rather than a Window —
#: the walk resolves it back to its referenced subtree instead (r10
#: advice: treating it as bounding was a false negative in the exact
#: anti-pattern this checker enforces).
_BOUNDING = re.compile(
    r"^(HashAggregate|SortAggregate|ObjectHashAggregate|"
    # global-limit heads (TakeOrderedAndProject / CollectLimit) cap rows
    r"TakeOrderedAndProject|CollectLimit|GlobalLimit|LocalLimit)"
)

#: Formatted-explain detail header of a reused exchange:
#: ``(12) ReusedExchange [Reuses operator id: 5]``
_REUSE_REF = re.compile(
    r"^\((\d+)\) ReusedExchange \[Reuses operator id: (\d+)\]"
)

_TREE_LINE = re.compile(
    r"^(?P<pre>[ :]*)(?:[+:]- )?(?:\* )?(?P<name>[A-Za-z][\w .]*?)\s*"
    # node id, optionally followed by an annotation like
    # "(columnarIn=false, columnarOut=true)" on InMemoryTableScan nodes
    r"\((?P<id>\d+)\)(?:\s*\([^)]*\))?\s*$"
)


def _tree_blocks(plan: str) -> list[list[tuple[int, str, int]]]:
    """All plan-tree blocks of a "formatted" explain string — the main
    tree plus every subquery tree (scalar subqueries, DPP filters) —
    as lists of (depth, node_name, node_id). A block is a maximal run
    of consecutive tree-shaped lines; node ids are globally unique
    across blocks in formatted mode, so a flat detail lookup works."""
    blocks: list[list[tuple[int, str, int]]] = []
    cur: list[tuple[int, str, int]] = []
    for line in plan.splitlines():
        m = _TREE_LINE.match(line)
        if m:
            depth = len(m.group("pre")) // 3 + (
                1 if ("+- " in line or ":- " in line) else 0
            )
            cur.append((depth, m.group("name").strip(), int(m.group("id"))))
        elif cur:
            blocks.append(cur)
            cur = []
    if cur:
        blocks.append(cur)
    return blocks


def unbounded_global_windows(plan: str) -> list[str]:
    """Return descriptions of unpartitioned Window nodes whose subtree
    reaches a data-sized parquet scan with no bounding aggregate/limit
    on the path. Parses EVERY tree block of a "formatted" explain
    string — the main plan AND all subquery trees (round-10 extension:
    the first version read only the main tree, so a global sort inside
    a scalar-subquery branch was invisible).
    """
    lines = plan.splitlines()
    nodes: list[tuple[int, str, int]] = []  # (depth, name, id)
    # Flatten blocks back-to-back: every block root is depth 0, and
    # subtree() stops at depth <= its root, so windows never see nodes
    # from a different block as descendants.
    for block in _tree_blocks(plan):
        nodes.extend(block)
    # ---- details: node id -> Arguments / Location lines ----
    details: dict[int, dict[str, str]] = {}
    cur = None
    for line in lines:
        m = re.match(r"^\((\d+)\)\s+\S", line)
        if m:
            cur = int(m.group(1))
            details.setdefault(cur, {})
        elif cur is not None and ":" in line:
            key = line.split(":", 1)[0].strip()
            details[cur][key] = line.split(":", 1)[1].strip()

    def top_level_groups(args: str) -> list[str]:
        depth = 0
        groups: list[str] = []
        buf: list[str] = []
        for ch in args:
            if ch == "[":
                if depth == 0:
                    buf = []
                else:
                    buf.append(ch)
                depth += 1
            elif ch == "]":
                depth -= 1
                if depth == 0:
                    groups.append("".join(buf))
                else:
                    buf.append(ch)
            elif depth > 0:
                buf.append(ch)
        return groups

    def subtree(idx: int) -> list[int]:
        d0 = nodes[idx][0]
        out = []
        for j in range(idx + 1, len(nodes)):
            if nodes[j][0] <= d0:
                break
            out.append(j)
        return out

    # ReusedExchange resolution: node id -> referenced operator id
    # (parsed from the detail headers), and operator id -> flat index.
    reuse_ref: dict[int, int] = {}
    for line in lines:
        m = _REUSE_REF.match(line)
        if m:
            reuse_ref[int(m.group(1))] = int(m.group(2))
    index_of_id = {nid: j for j, (_, _, nid) in enumerate(nodes)}

    def reaches_data_scan(root_idx: int) -> str | None:
        """First DATA_TABLES parquet scan reachable from ``root_idx``'s
        subtree with no bounding aggregate/limit on the path.
        ReusedExchange nodes are resolved back to their referenced
        subtree and the walk continues there (visited-guarded); an
        unresolvable reference is flagged conservatively."""
        # prune_below semantics don't survive jumping between subtrees,
        # so this is an explicit DFS: push a node's subtree only when
        # the node itself is not bounding.
        seen: set[int] = set()
        stack: list[int] = []

        def push_children(idx: int) -> None:
            d0 = nodes[idx][0]
            direct = []
            for j in range(idx + 1, len(nodes)):
                dj = nodes[j][0]
                if dj <= d0:
                    break
                if dj == d0 + 1:
                    direct.append(j)
            stack.extend(direct)

        push_children(root_idx)
        while stack:
            j = stack.pop()
            if j in seen:
                continue
            seen.add(j)
            dj, namej, idj = nodes[j]
            if _BOUNDING.match(namej):
                continue
            if namej.startswith("ReusedExchange"):
                target = reuse_ref.get(idj)
                if target is None or target not in index_of_id:
                    return "UNRESOLVED_REUSED_EXCHANGE"
                # the target goes through the same dispatch as any
                # stack entry (bounding check, Scan check, children) —
                # a target that is itself a Scan must still match.
                stack.append(index_of_id[target])
                continue
            if namej.startswith("Scan parquet"):
                loc = details.get(idj, {}).get("Location", "")
                hit = next((tb for tb in DATA_TABLES if tb in loc), None)
                if hit:
                    return hit
                continue
            push_children(j)
        return None

    flags = []
    for i, (depth, name, nid) in enumerate(nodes):
        if name != "Window":
            continue
        args = details.get(nid, {}).get("Arguments", "")
        groups = top_level_groups(args)
        # Window Arguments: [exprs], [partitionSpec?], [orderSpec?] —
        # empty specs are OMITTED, so 3 groups = partitioned+ordered,
        # and a 2-group window is unpartitioned ONLY when the second
        # group is an ORDER spec (ASC/DESC markers); [exprs],[partition]
        # (the unordered whole-partition frame) is fine.
        if len(groups) != 2 or not re.search(
            r" (ASC|DESC)\b", groups[1]
        ):
            continue
        seen_scan = reaches_data_scan(i)
        if seen_scan:
            flags.append(
                f"Window({nid}) unpartitioned over raw {seen_scan} scan"
            )
    return flags


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--dump", default=None)
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from check_oracle import TABLE_NAMES, oracle_tables
    from reddit_data_engineering_project_spark import registry
    from reddit_data_engineering_project_spark.session import get_spark

    spark = get_spark(app_name="audit_plans", master="local[4]")
    # UNDECLARED_TABLE_DEP matches "/{table}.parquet" inside each scan's
    # Location field, which Spark truncates at
    # spark.sql.maxMetadataStringLength (default 100 chars) — a long sf
    # path (e.g. a temp hostile-corpus dir) could push the filename out
    # of the rendered text and silently void the flag (r14 ADVICE).
    # Raise the cap so truncation can never mask a dependency, and
    # fail loudly if the conf ever stops applying.
    spark.conf.set("spark.sql.maxMetadataStringLength", "2048")
    if spark.conf.get("spark.sql.maxMetadataStringLength") != "2048":
        raise RuntimeError("maxMetadataStringLength did not apply")
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()

    dump = open(args.dump, "w") if args.dump else None
    problems: list[str] = []
    for name in sorted(queries):
        df = queries[name](spark, args.sf)
        plan = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        if dump:
            dump.write(f"{'=' * 70}\n{name}\n{plan}\n")
        n_exchange = len(re.findall(r"\bExchange\b", plan))
        flags = []
        if "CartesianProduct" in plan:
            flags.append("CARTESIAN")
        # Row-pickling scalar Python UDFs are banned. UDTF nodes
        # (BatchEvalPythonUDTF) are row-Python by the API's nature and
        # allowed ONLY for queries explicitly registered with the "udtf"
        # tag (the declared table-function surface, kept off hot paths).
        scalar_row_udf = re.sub(r"BatchEvalPythonUDTF", "", plan)
        if "BatchEvalPython" in scalar_row_udf:
            flags.append("ROW_PYTHON_UDF")
        elif "BatchEvalPythonUDTF" in plan and "udtf" not in registry.TAGS.get(
            name, ()
        ):
            flags.append("UNDECLARED_UDTF")
        for scan in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
            ncols = len(scan.group(1).split(",")) if scan.group(1) else 0
            if ncols >= 10:
                flags.append(f"WIDE_SCAN({ncols}cols)")
        for w in unbounded_global_windows(plan):
            flags.append(f"UNBOUNDED_GLOBAL_WINDOW[{w}]")
        scanned = {t for t in TABLE_NAMES if f"/{t}.parquet" in plan}
        undeclared = sorted(scanned - oracle_tables(oracles[name]))
        if undeclared:
            flags.append("UNDECLARED_TABLE_DEP(" + ",".join(undeclared) + ")")
        status = ",".join(flags) if flags else "ok"
        print(f"{name:38s} exchanges={n_exchange:2d}  {status}")
        if flags:
            problems.append(f"{name}: {','.join(flags)}")
    if dump:
        dump.close()

    print(f"\n{len(problems)} flagged" + (": " + "; ".join(problems) if problems else ""))
    spark.stop()
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
