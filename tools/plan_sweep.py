"""Plan signature of every graded query, checked against PLANS.json.

Builds (never executes) the physical plan of each ``queries()`` entry,
each from an empty cache, and reduces the pre-AQE plan text to a
signature: how many times each operator occurs, keeping only

- the partitioning kind on ``Exchange`` (``Exchange hashpartitioning``)
- the build side and join type on joins
  (``BroadcastNestedLoopJoin BuildRight Cross``, ``SortMergeJoin LeftSemi``)
- the table name on ``FileScan`` (``FileScan lineitem``)
- the kind on ``Scan`` (``Scan ExistingRDD``)

The pre-AQE plan is deterministic because static auto-broadcast is off
(session.get_spark): it does not move with the core count, the shuffle
partition count or the scale factor. ``PLANS.json`` commits one line per
query, so a plan change shows up as a one-line diff that is reviewed
like code.

Three things are never accepted, whatever PLANS.json says:

- ``CartesianProduct``: a non-equi join whose bounded side lost its
  ``F.broadcast()`` hint degrades to one under the broadcast policy.
- ``BatchEvalPython``: a row-at-a-time Python UDF. Python runs only as
  Arrow-batched pandas UDFs / mapInPandas.
- ``RepeatedPythonCall``: a Python node (``…EvalPython [exprs]``)
  where one UDF call, with its ``#id``, occurs in two of the listed
  expressions (``f(x)#1`` listed on its own and inside ``g(f(x)#1)#2``).
  Spark chains a UDF into every consumer that reads it directly, and
  the worker evaluates each listed chain on its own, so that call runs
  once per expression that holds it. The signature counts such nodes
  under this key.

Plan build still runs the driver-side calibration actions some queries
perform while composing their frames; at sf0.001 those are sub-second.

Usage::

    python tools/plan_sweep.py [--sf sf0.001]   # diff vs PLANS.json on stderr
    python tools/plan_sweep.py > PLANS.json     # regenerate

The signatures go to stdout and everything else to stderr. The exit
status is non-zero when a plan holds a forbidden operator.
tests/test_scale_plans.py::test_plan_signatures_match_committed runs the
same pass in the suite. This module imports without pyspark.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

PLANS_PATH = os.path.join(REPO, "PLANS.json")
REPEATED_CALL = "RepeatedPythonCall"
FORBIDDEN = ("CartesianProduct", "BatchEvalPython", REPEATED_CALL)

# tree-string child prefix: one "   " or ":  " per ancestor, then "+- "
# or ":- "; a line without one continues a literal of the line above
_CHILD = re.compile(r"^(?:   |:  )*[+:]- ")
_CODEGEN = re.compile(r"^\*\(\d+\) ")
_WORD = re.compile(r"[A-Za-z]\w*")
_GROUP = re.compile(r"\[[^\[\]]*\]|\([^()]*\)")
_EVAL_PYTHON = re.compile(r"\w*EvalPython \[")
_CALL_ID = re.compile(r"\)#(\d+)")
_BUILD_SIDES = {"BuildLeft", "BuildRight"}
_JOIN_TYPES = {
    "Inner", "Cross", "LeftOuter", "RightOuter", "FullOuter",
    "LeftSemi", "LeftAnti", "ExistenceJoin",
}


def _strip_groups(s: str) -> str:
    """Drop every bracketed or parenthesised group (keys, conditions)."""
    while True:
        t = _GROUP.sub("", s)
        if t == s:
            return s
        s = t


def _table(node: str) -> str:
    """The table a FileScan reads: its ``*.parquet`` path, else the
    catalog table named after the format."""
    m = re.search(r"Location: \w+\(\d+ paths\)\[([^,\]]+)", node)
    if m and m.group(1).endswith(".parquet"):
        return os.path.basename(m.group(1))[: -len(".parquet")]
    return re.match(r"FileScan \w+ ([\w.]+)\[", node).group(1).rsplit(".", 1)[-1]


def _key(node: str) -> str:
    name = _WORD.match(node).group(0)
    rest = node[len(name):]
    if name in ("Exchange", "Scan"):
        return f"{name} {_WORD.search(rest).group(0)}"
    if name == "FileScan":
        return f"FileScan {_table(node)}"
    if name.endswith("Join"):
        words = _WORD.findall(_strip_groups(rest))
        build = [w for w in words if w in _BUILD_SIDES][:1]
        how = [w for w in words if w in _JOIN_TYPES][:1]
        return " ".join([name, *build, *how])
    return name


def repeats_call(node: str) -> bool:
    """True for a ``…EvalPython [exprs]`` node where one call result
    (``name(...)#id``) occurs twice — e.g. ``f(x)#1`` listed on its own
    and inside ``g(f(x)#1)#2``. Spark chains a UDF only through a single
    direct UDF child, so no one expression holds a call twice, and the
    output list (``pythonUDF0#n``) holds no call."""
    ids = _CALL_ID.findall(node)
    return bool(_EVAL_PYTHON.match(node)) and len(ids) != len(set(ids))


def signature(plan: str) -> dict[str, int]:
    """{operator key: count} over every node of a plan's tree string,
    including subqueries and cached plans printed inside it, plus
    ``REPEATED_CALL``: the Python nodes that evaluate a call twice."""
    sig: dict[str, int] = {}
    for i, line in enumerate(plan.splitlines()):
        m = _CHILD.match(line)
        if i and m is None:
            continue
        node = _CODEGEN.sub("", line[m.end():] if m else line)
        k = _key(node)
        sig[k] = sig.get(k, 0) + 1
        if repeats_call(node):
            sig[REPEATED_CALL] = sig.get(REPEATED_CALL, 0) + 1
    return dict(sorted(sig.items()))


def forbidden(sig: dict[str, int]) -> list[str]:
    return [k for k in sig if k.split(" ", 1)[0] in FORBIDDEN]


def diff(expected: dict[str, dict], got: dict[str, dict]) -> str:
    """One block per changed query, one ``op: expected → got`` line per
    moved operator; empty when nothing moved."""
    out = []
    for name in sorted(expected.keys() | got.keys()):
        if name not in got:
            out.append(f"{name}: in PLANS.json but not in queries()")
        elif name not in expected:
            out.append(f"{name}: not in PLANS.json")
        elif expected[name] != got[name]:
            e, g = expected[name], got[name]
            out.append(f"{name}:")
            out += [
                f"  {op}: {e.get(op, 0)} → {g.get(op, 0)}"
                for op in sorted(e.keys() | g.keys())
                if e.get(op, 0) != g.get(op, 0)
            ]
    return "\n".join(out)


def dumps(sigs: dict[str, dict]) -> str:
    """PLANS.json text: one line per query, sorted by name."""
    lines = [f"{json.dumps(n)}: {json.dumps(sigs[n])}" for n in sorted(sigs)]
    return "{\n" + ",\n".join(lines) + "\n}\n"


def load(path: str = PLANS_PATH) -> dict[str, dict]:
    try:
        with open(path) as fh:
            text = fh.read()
    except FileNotFoundError:
        return {}
    return json.loads(text) if text.strip() else {}


def sweep(spark, sf_dir: str) -> dict[str, dict[str, int]]:
    """{query_name: signature} over every graded query."""
    import __spark_entry__ as entrymod
    from spark_ij_spark.operators.layout import _tag

    sigs = {}
    for name, fn in entrymod.queries().items():
        # calibration frames an earlier build persisted would otherwise
        # turn up as InMemoryTableScan in this plan
        spark.catalog.clearCache()
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        # session-built catalog tables are named per scale factor
        sigs[name] = signature(plan.replace(_tag(sf_dir), "sf"))
    spark.catalog.clearCache()
    return sigs


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="sf0.001")
    args = ap.parse_args()
    sf_dir = (
        args.sf if os.path.isdir(args.sf) else os.path.join("/root/testdata", args.sf)
    )
    # {} when the shell's `> PLANS.json` has already emptied the file
    committed = load()
    out_fd = os.dup(1)
    os.dup2(2, 1)  # Spark, the JVM and query builds print to stderr

    from spark_ij_spark.session import get_spark

    spark = get_spark("plan-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    sigs = sweep(spark, sf_dir)
    spark.stop()

    with os.fdopen(out_fd, "w") as out:
        out.write(dumps(sigs))
    bad = {n: ops for n, s in sigs.items() if (ops := forbidden(s))}
    for name, ops in bad.items():
        print(f"  {name}: {', '.join(ops)}", file=sys.stderr)
    if committed:
        print(diff(committed, sigs) or "no diff against PLANS.json", file=sys.stderr)
    print(f"checked: {len(sigs)}  forbidden: {len(bad)}", file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
