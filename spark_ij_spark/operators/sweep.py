"""Parameter sweep (grid search) — the rebuild of the reference's
``ParameterSweep`` + ``runRange`` surface as an in-stage Spark generate.

Reference semantics (cited for parity, implementation is new):

- two macro arg grammars: the engine's own ``key=value flag
  key=[a b]`` (``delim=" "``), read and written by the registry's
  ``tokenize_args`` / ``render_arg`` so a variant is exactly what the
  kernel parses; and the reference's ``-key=value -flag``
  (``delim="-"``, ParameterSweep.scala:86-92 ``parseArgsWithDelim``)
- start/end arg pairs expand to ``steps`` interpolated variants;
  **int-preserving**: a value that parses as a long interpolates on the
  integer lattice and deduplicates (ParameterSweep.scala:246-263)
- cartesian (``steps**k`` combos) or zipped (``steps`` combos) crossing
  (ParameterSweep.scala:292-317)
- sweep→path naming with static-arg elision
  (ParameterSweep.scala:137-176 ``SweepToPath``)
- ``runRange(cmd, startArgs, endArgs, steps)`` fans each image out to
  every sweep variant, key suffixed with the sweep path
  (scOps.scala:207-224)
- linear/log/fixed named ranges (ParameterSweep.scala:22-37)
- lineage-log → sweep-input helper (scOps.scala:165-175
  ``getLastCommandAsSweepInput``)

Spark-first shape: the sweep is a *small parameter list*, folded into
the plan as one constant array and exploded against every image row
(``Generate inline``). The fan-out therefore happens executor-side with
no exchange and no extra job: at 100 TB each task reads its input split
once and emits ``steps`` variants, and Catalyst keeps the whole map in
one stage.

Guard: cartesian expansion is capped (``max_variants``) so a runaway
sweep cannot OOM the driver building the parameter list (SURVEY.md
§7.3-6; the reference has no such guard).
"""

from __future__ import annotations

import json
import math
import re
from collections.abc import Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spark_ij_spark import lineage, registry
from spark_ij_spark.datamodel import IMAGE_SCHEMA, image_frame
from spark_ij_spark.operators.images import run_op_rows

# ---------------------------------------------------------------------------
# macro-arg grammar
# ---------------------------------------------------------------------------

_LONG_RE = re.compile(r"^[+-]?\d+$")


def _is_long(s: str) -> bool:
    return bool(_LONG_RE.match(s.strip()))


def _is_double(s: str) -> bool:
    try:
        float(s)
        return True
    except ValueError:
        return False


def parse_args_with_delim(arg_list: str, delim: str = "-") -> dict[str, str]:
    """``"-radius=3 -white"`` → ``{"radius": "3", "white": "true"}``;
    a flag maps to ``"true"``.

    A whitespace ``delim`` is the engine's grammar, tokenized by
    ``registry.tokenize_args``. Any other ``delim`` is the reference's
    (ParameterSweep.scala:86-92): tokens split on ``delim`` and values
    may hold unquoted spaces.
    """
    if delim.isspace():
        return {
            k: "true" if v is True else v for k, v in registry.tokenize_args(arg_list)
        }
    out: dict[str, str] = {}
    cleaned = re.sub(r"\s+", " ", arg_list).strip()
    # the delimiter separates tokens only at a token BOUNDARY (string
    # start or after whitespace): a bare split corrupted values
    # containing the delimiter — '-size=0-Infinity' (the exact form
    # Analyze Particles consumes) became {'size': '0', 'Infinity': 'true'}
    toks = re.split(rf"(?:^|(?<=\s)){re.escape(delim)}", cleaned)
    for tok in toks:
        tok = tok.strip()
        if not tok:
            continue
        key, eq, val = tok.partition("=")
        out[key.strip()] = val.strip() if eq else "true"
    return out


def macro_parse_args(in_args: Sequence[str], delim: str = "-") -> dict[str, list[str]]:
    """Join k arg-strings into ``{key: [value per input, "false" fill]}``
    (ParameterSweep.scala:191-209)."""
    maps = [parse_args_with_delim(a, delim) for a in in_args]
    joined: dict[str, list[str]] = {}
    for i, m in enumerate(maps):
        for key, val in m.items():
            joined.setdefault(key, ["false"] * len(maps))[i] = val
    return joined


def _create_arg_str(key: str, arg: str, prefix: str) -> str:
    if arg == "false":
        return ""
    if not prefix:
        return registry.render_arg(key, True if arg == "true" else arg)
    return prefix + key if arg == "true" else f"{prefix}{key}={arg}"


def _fmt_float(v: float) -> str:
    """Render like Scala's Float.toString for the common cases (no
    trailing .0 surprises: 2.0 stays "2.0", ints from float math too)."""
    f = float(f"{v:.7g}")  # float32-ish precision like the reference's .toFloat
    if f == int(f) and abs(f) < 1e15:
        return f"{f:.1f}"
    return repr(f)


def sweep_args(
    parsed: dict[str, list[str]],
    prefix: str = "",
    steps: int = 5,
    cartesian: bool = True,
    distinct: bool = True,
    max_variants: int = 10_000,
) -> list[str]:
    """Expand parsed start/end args into macro-arg variant strings
    (ParameterSweep.scala:228-317 semantics).

    Per key: constant ranges collapse; 2-point numeric ranges
    interpolate over ``steps`` (integers stay integers and dedupe);
    non-numeric ranges enumerate their distinct values. Then variants
    cross cartesian (product) or zipped (element-wise).
    """
    if steps < 2:
        raise ValueError("steps must be >= 2 (steps=1 midpoint is not a sweep)")

    var_args: dict[str, list[str]] = {}
    for key, rng in parsed.items():
        if all(v.lower() == rng[0].lower() for v in rng):
            var_args[key] = [rng[0]]
        elif distinct:
            var_args[key] = list(dict.fromkeys(rng))
        else:
            var_args[key] = list(rng)

    step_list = [i / (steps - 1.0) for i in range(steps)]
    arr_args: dict[str, list[str]] = {}
    for key, rng in var_args.items():
        if len(rng) == 2 and _is_long(rng[0]) and _is_long(rng[1]):
            lo, hi = float(rng[0]), float(rng[1])
            # round, not int(): truncating float noise made the
            # integer lattice direction-dependent (1..10 steps=4 gave
            # [1,3,6,10] but 10..1 gave [10,7,4,1] — round yields the
            # symmetric [1,4,7,10] either way)
            vals = [int(round(t * (hi - lo) + lo)) for t in step_list]
            arr_args[key] = [str(v) for v in dict.fromkeys(vals)]
        elif len(rng) == 2 and _is_double(rng[0]) and _is_double(rng[1]):
            lo, hi = float(rng[0]), float(rng[1])
            arr_args[key] = [_fmt_float(t * (hi - lo) + lo) for t in step_list]
        else:
            arr_args[key] = rng

    if not cartesian:
        # zipped crossing: every list must reach length == steps
        # (ParameterSweep.scala:266-290 block-padding). Runs at EVERY
        # steps value: gating it on steps != 2 let a constant key
        # (length-1 list) truncate the zip to one combo and silently
        # drop the other endpoint
        padded: dict[str, list[str]] = {}
        for key, vals in arr_args.items():
            if len(vals) == steps:
                padded[key] = vals
            elif len(vals) == 2:
                half = steps // 2
                blk = [vals[0]] * half + [vals[1]] * half
                if steps % 2:
                    blk.append(vals[1])
                padded[key] = blk
            elif len(vals) == 1:
                padded[key] = vals * steps
            else:
                head = [vals[0]] * ((steps - len(vals)) // 2)
                blk = head + vals
                padded[key] = blk + [vals[-1]] * (steps - len(blk))
        arr_args = padded

    arg_str = {
        key: [_create_arg_str(key, v, prefix) for v in vals]
        for key, vals in arr_args.items()
    }

    if cartesian:
        combos: list[tuple[str, ...]] = []
        for variants in arg_str.values():
            if not variants:
                continue
            if not combos:
                combos = [(v,) for v in variants]
            else:
                if len(combos) * len(variants) > max_variants:
                    raise ValueError(
                        f"cartesian sweep exceeds max_variants={max_variants}; "
                        "use cartesian=False or raise the cap explicitly"
                    )
                combos = [a + (b,) for a in combos for b in variants]
    else:
        combos = list(zip(*arg_str.values()))

    # a "false" arg renders empty: the variant leaves it out
    return [" ".join(t for t in c if t) for c in combos]


def macro_steps_to_sweep(
    in_steps: Sequence[str],
    steps: int = 5,
    cartesian: bool = True,
    distinct: bool = True,
    delim: str = "-",
) -> list[str]:
    """start/end macro strings → sweep variant strings
    (ParameterSweep.scala:126-135)."""
    parsed = macro_parse_args(in_steps, delim)
    prefix = "-" if delim == "-" else ""
    return sweep_args(parsed, prefix, steps, cartesian, distinct)


def sweep_to_path(
    sweep_steps: Sequence[str],
    new_directories: bool = True,
    remove_static: bool = True,
    delim: str = "-",
) -> list[str]:
    """Variant strings → output-path suffixes, eliding args that never
    vary (ParameterSweep.scala:137-176)."""
    parsed = [parse_args_with_delim(s, delim) for s in sweep_steps]
    sweep_map: dict[str, list[str]] = {}
    for i, m in enumerate(parsed):
        for key, val in m.items():
            sweep_map.setdefault(key, ["false"] * len(sweep_steps))[i] = val
    if remove_static:
        sweep_map = {
            k: vals
            for k, vals in sweep_map.items()
            if not all(v.lower() == vals[0].lower() for v in vals)
        }
    arg_sep = "/" if new_directories else "__"
    out = []
    for i in range(len(sweep_steps)):
        out.append(arg_sep.join(f"{k}_{vals[i]}" for k, vals in sweep_map.items()))
    return out


# ---------------------------------------------------------------------------
# named ranges (ParameterSweep.scala:22-37 Parameters)
# ---------------------------------------------------------------------------


def linear_range(name: str, parameter: str, lo: float, hi: float, steps: int) -> list[tuple[str, str]]:
    """``steps`` equally spaced named parameters (endpoint-exclusive like
    the reference: i*(max-min)/steps + min)."""
    return fixed_range(name, parameter, [i * (hi - lo) / steps + lo for i in range(steps)])


def log_range(name: str, parameter: str, lo: float, hi: float, steps: int) -> list[tuple[str, str]]:
    llo, lhi = math.log10(lo), math.log10(hi)
    return fixed_range(
        name, parameter, [10 ** (i * (lhi - llo) / steps + llo) for i in range(steps)]
    )


def fixed_range(name: str, parameter: str, vals: Sequence[float]) -> list[tuple[str, str]]:
    """[(name:val, -parameter=val)] pairs (ParameterSweep.scala:35-37)."""
    return [(f"{name}:{v}", f"-{parameter}={v}") for v in vals]


# ---------------------------------------------------------------------------
# lineage → sweep input (scOps.scala:165-175)
# ---------------------------------------------------------------------------


def history_to_sweep(log: list) -> str:
    """Convert the last RUN entry of a lineage log into sweep input:
    ``cmd args`` → ``"cmd:arg1 cmd:arg2"`` (multiple RUN entries join
    with ``_``, mirroring getLastCommandAsSweepInput)."""
    runs = [e for e in (dict(x) if not isinstance(x, dict) else x for x in log or [])
            if e.get("optype") == lineage.OP_RUN]
    if not runs:
        raise ValueError("no RUN entries in lineage log")
    parts = []
    for e in runs:
        # the command lives in opval (lineage.log_entry stores the
        # TOOL enum in optool — reading optool here returned
        # 'NUMPY:...' for every engine-produced log)
        cmd = e.get("opval", "")
        toks = registry.tokenize_args(" ".join(a for a in (e.get("opargs") or []) if a))
        parts.append(
            " ".join(f"{cmd}:{registry.render_arg(k, v)}" for k, v in toks) if toks else cmd
        )
    return "_".join(parts)


# ---------------------------------------------------------------------------
# Spark surface: runRange as an in-stage generate
# ---------------------------------------------------------------------------


_PARAMS_SCHEMA = "array<struct<_sweep_args:string,_sweep_path:string>>"


def run_op_with_args_col(image_col: str | Column, cmd: str, args_col: str | Column) -> Column:
    """Apply a named op whose arg string is a *column* (one value per
    sweep variant)."""

    @F.pandas_udf(IMAGE_SCHEMA)
    def _udf(img: pd.DataFrame, args: pd.Series) -> pd.DataFrame:
        return image_frame(run_op_rows(img, ([(cmd, a)] for a in args))[0])

    return _udf(image_col, args_col)


def run_range(
    df: DataFrame,
    cmd: str,
    start_args: str,
    end_args: str,
    steps: int = 5,
    image_col: str = "image",
    key_col: str = "sample",
    apply_op: bool = True,
) -> DataFrame:
    """Fan each image out to ``steps`` op variants (scOps.scala:207-224).

    Implemented as ``inline(from_json(<one JSON literal>))`` next to
    every row: the parameter list is constant-folded into the plan, so
    each image row multiplies into its variants inside the same stage —
    no exchange, no job to collect the list, and the same few py4j
    calls however many variants there are.
    """
    variants = macro_steps_to_sweep([start_args, end_args], steps=steps, delim=" ")
    paths = sweep_to_path(variants, new_directories=False, delim=" ")
    params = json.dumps(
        [{"_sweep_args": a, "_sweep_path": p} for a, p in zip(variants, paths)]
    )
    fanned = df.select("*", F.inline(F.from_json(F.lit(params), _PARAMS_SCHEMA)))
    out = fanned.withColumn(
        key_col, F.concat_ws("__", F.col(key_col), F.col("_sweep_path"))
    ).drop("_sweep_path")
    if not apply_op:
        # Fan-out only: the raw image and the ``_sweep_args`` column
        # survive so the caller can FUSE the op with its downstream
        # per-image computation in a single Arrow hop (op-fusion,
        # SURVEY §4.2) instead of paying one round trip per stage.
        return out
    return out.withColumn(
        image_col, run_op_with_args_col(image_col, cmd, F.col("_sweep_args"))
    ).drop("_sweep_args")
