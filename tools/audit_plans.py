"""Sweep every registered query's physical plan for scale red flags:
row-at-a-time Python UDFs (BatchEvalPython), cartesian products,
sort-merge joins where a broadcast was expected, and count exchanges.
Writes PLAN_AUDIT.md. Usage: python tools/audit_plans.py [name ...]

With explicit names, audits ONLY those queries and merges their rows
into the existing PLAN_AUDIT.md (delta-mode endround); red flags are
re-derived from the merged table plus a fresh source-level collect
sweep, so a delta run cannot hide a flag an earlier full run raised.
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, "/root/repo")

from listenbrainz_server_spark.queries import load_all
from listenbrainz_server_spark.session import get_session

SF = "/root/testdata/sf0.01"
# Every JVM↔Python boundary node: ArrowEvalPython plus the *InPandas /
# *InArrow family (MapInArrow, FlatMapGroupsInPandas,
# FlatMapCoGroupsInArrow, FlatMapGroupsInPandasWithState, ...).
PY_BOUNDARY = re.compile(r"\b(?:\w*In(?:Pandas|Arrow)(?:WithState)?|ArrowEvalPython)\b")


def main() -> None:
    spark = get_session("audit")
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_all()
    only = [a for a in sys.argv[1:] if not a.startswith("-")]
    unknown = [n for n in only if n not in registry]
    if unknown:
        raise SystemExit(f"names not in registry: {unknown}")
    lines = [
        "# PLAN AUDIT — physical-plan scan of every registered query",
        "",
        "Flags: `BatchEvalPython` = row-at-a-time Python UDF (forbidden);",
        "`CartesianProduct` = unbounded n×m; `ArrowEvalPython`/`*InPandas`/",
        "`*InArrow` = vectorized Python (allowed where declared); SMJ/BHJ =",
        "join picks.",
        "",
        "Footnote (reconciled, VERDICT r11 #3): every row counts what",
        "its plan actually shows at audit time — `m_als_recommend`",
        "currently shows ZERO `CartesianProduct` (this Spark/MLlib",
        "build plans `recommendForAllUsers` without one; an earlier",
        "build planned its blocked factor-matrix cross as one). If a",
        "future MLlib version reintroduces it, the count appears in the",
        "row and the flag check exempts ONLY this name: that cross is",
        "MLlib-internal-by-design (each side is a rank-wide factor",
        "block, cost bounded by rank × block sizes — that IS the",
        "blocked algorithm), not builder plan code.",
        "",
        "| query | exchanges | BHJ | SMJ | cartesian | rowPyUDF | arrowPy |",
        "|---|---|---|---|---|---|---|",
    ]
    rows: dict[str, str] = {}
    if only:
        # Delta mode: start from the committed audit's rows, re-audit
        # only the requested names.
        prior = open("/root/repo/PLAN_AUDIT.md").read()
        for m in re.finditer(r"^\| (?!query \|)(\w+)(.*)$", prior, re.M):
            rows[m.group(1)] = f"| {m.group(1)}{m.group(2)}"
        rows = {n: r for n, r in rows.items() if n in registry}
    for name in sorted(only) if only else sorted(registry):
        q = registry[name]
        try:
            df = q.fn(spark, SF)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001
            # Sanitize: '|' or newlines in the exception text would
            # corrupt the markdown row and break the delta-mode
            # re-parse on every later run (r8 review finding).
            msg = str(e).replace("|", "/").replace("\n", " ")[:200]
            rows[name] = f"| {name} | ERROR: {msg} | | | | | |"
            continue
        tree = plan.split("\n\n")[0]
        row_udf = tree.count("BatchEvalPython")
        cart = tree.count("CartesianProduct")
        arrow = len(PY_BOUNDARY.findall(tree))
        rows[name] = (
            f"| {name} | {tree.count('Exchange')} | "
            f"{tree.count('BroadcastHashJoin')} | {tree.count('SortMergeJoin')} | "
            f"{cart} | {row_udf} | {arrow} |"
        )
    lines += [rows[n] for n in sorted(rows)]
    # Flags derived from the (possibly merged) table so a delta run
    # cannot drop a flag a prior full run raised.
    bad = []
    for name in sorted(rows):
        cells = [c.strip() for c in rows[name].split("|")[1:-1]]
        if len(cells) < 7 or cells[1].startswith("ERROR"):
            bad.append(f"{name}: {cells[1] if len(cells) > 1 else 'unparsable row'}")
            continue
        if cells[5] not in ("", "0"):
            bad.append(f"{name}: row-at-a-time Python UDF")
        if cells[4] not in ("", "0") and name != "m_als_recommend":
            # ALS recommendForAllUsers block-cross-joins factor blocks
            # inside Spark ML — that IS the blocked algorithm (bounded
            # by rank×block sizes), not a planning miss.
            bad.append(f"{name}: cartesian product")
    # Source-level sweep: no driver-side .collect() in any registered
    # query's hot path (queries/ modules). The blessed exceptions are
    # driver-coordinated small-state ops documented inline.
    import pathlib

    qdir = pathlib.Path("/root/repo/listenbrainz_server_spark/queries")
    collect_hits = []
    for py in sorted(qdir.glob("*.py")):
        for i, line in enumerate(py.read_text().splitlines(), 1):
            if re.search(r"\.collect\(\)", line) and "# audit-ok" not in line:
                collect_hits.append(f"{py.name}:{i}: {line.strip()}")
    if collect_hits:
        bad.extend(f"driver-side collect in query module — {h}" for h in collect_hits)

    lines.append("")
    if bad:
        lines.append("## RED FLAGS")
        lines += [f"- {b}" for b in bad]
    else:
        lines.append(
            "No row-at-a-time Python UDFs, no cartesian products, "
            "no .collect() in any registered query module."
        )
    with open("/root/repo/PLAN_AUDIT.md", "w") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(lines[-6:]))


if __name__ == "__main__":
    main()
