"""Named-operation registry — the rebuild of the reference's plugin
dispatch.

The reference resolves command strings ("Add Noise", "Median...") to
ImageJ plugins at run time (reference: PortableImagePlus.scala:352-388,
Spiji.java:1391-1412) and lists >100 available commands
(DDLTests.scala:34 asserts the count). The rebuild replaces the plugin
menu with a plain dict ``{name: kernel}``; kernels are numpy functions
executed inside Arrow pandas UDFs, so per-partition engine warm-up
(scOps.scala:41, ImageJSettings.scala:51-62) becomes ordinary Python
module-import caching on each executor.

``compile_op(cmd, args)`` does the per-op work once — it resolves the
kernel and parses the arg string — and returns ``op(arr, meta)``, which
only runs the kernel; the per-row engine
(``operators.images.run_op_rows``) compiles each distinct chain once
per batch. ``run_op`` is its one-shot form. The kernel menu is imported
once per process, on first lookup.

Unknown command names raise with near-match suggestions.

Kernel contract::

    kernel(arr: np.ndarray, args: dict, meta: dict)
        -> np.ndarray | (np.ndarray, results_table dict[str, list[float]])

Arg strings use the ImageJ macro grammar (``radius=3 white clear``):
``k=v`` pairs, bare flags and bracketed multi-word values
(``projection=[Max Intensity]``). ``tokenize_args`` and ``render_arg``
are the one reader and writer of that grammar: the kernels' parsed
args, the parameter sweep's variants and its lineage helper all go
through them, so every consumer sees the same keys and values.
"""

from __future__ import annotations

import difflib
import functools
import re
import shlex
from collections.abc import Callable
from typing import Any

import numpy as np

OPS: dict[str, Callable] = {}


def register_op(name: str) -> Callable:
    """Decorator: add a kernel to the registry under ``name``."""

    def deco(fn: Callable) -> Callable:
        OPS[name] = fn
        return fn

    return deco


def get_op(name: str) -> Callable:
    _ensure_loaded()  # bare get_op in a fresh process must see the menu
    try:
        return OPS[name]
    except KeyError:
        near = difflib.get_close_matches(name, OPS.keys(), n=3, cutoff=0.4)
        hint = f"; did you mean {near}?" if near else ""
        raise KeyError(f"unknown operation {name!r}{hint} ({len(OPS)} registered)")


def list_commands() -> list[str]:
    """All registered command names (SQL ``listcommands()``,
    reference: SQLFunctions.scala:264-268)."""
    _ensure_loaded()
    return sorted(OPS)


@functools.cache
def _ensure_loaded() -> None:
    # Kernels self-register on import; keep the import here so any entry
    # point (SQL UDF, DataFrame helper, bare get_op) sees the full menu.
    # Cached, so it runs once per process. A module-level import instead
    # breaks when a kernel module is the first one a process imports: it
    # would re-enter that kernel module while it is partially initialised.
    from spark_ij_spark.kernels import core  # noqa: F401
    from spark_ij_spark.kernels import filters  # noqa: F401
    from spark_ij_spark.kernels import geometry  # noqa: F401
    from spark_ij_spark.kernels import menu  # noqa: F401
    from spark_ij_spark.kernels import particles  # noqa: F401


def tokenize_args(args: str | None) -> list[tuple[str, str | bool]]:
    """ImageJ macro-style arg string → ``(key, value)`` tokens in order;
    a bare flag's value is ``True``.

    ``"radius=3 white method=IsoData"`` →
    ``[("radius", "3"), ("white", True), ("method", "IsoData")]``

    Bracketed multi-word values — the form the ImageJ macro recorder
    actually emits, ``projection=[Max Intensity]`` — are normalized to
    quoted form before tokenizing, so recorded macros replay verbatim.
    """
    if not args:
        return []
    args = re.sub(
        r'=\[([^\]]*)\]',
        lambda m: '="' + m.group(1).replace('"', '\\"') + '"',
        args,
    )
    try:
        words = shlex.split(args)
    except ValueError:
        words = args.split()
    return [(k, v if eq else True) for k, eq, v in (w.partition("=") for w in words)]


def render_arg(key: str, value: str | bool) -> str:
    """One token back to macro text, the inverse of ``tokenize_args``:
    ``key`` for a flag, ``key=[v w]`` for a value holding whitespace,
    else ``key=value``."""
    if value is True:
        return key
    if any(c.isspace() for c in value):
        return f"{key}=[{value}]"
    return f"{key}={value}"


def parse_args(args: str | None) -> dict[str, Any]:
    """``tokenize_args`` as a dict (a repeated key keeps its last
    value): ``{"radius": "3", "white": True, "method": "IsoData"}``."""
    return dict(tokenize_args(args))


def get_float(args: dict[str, Any], key: str, default: float) -> float:
    v = args.get(key)
    if v is None or v is True:
        return default
    return float(v)


def get_int(args: dict[str, Any], key: str, default: int) -> int:
    return int(round(get_float(args, key, float(default))))


def compile_op(
    cmd: str, args: str | None = None
) -> Callable[[np.ndarray, dict], tuple[np.ndarray, dict[str, list[float]] | None]]:
    """Resolve ``cmd`` and parse ``args`` once; returns
    ``op(arr, meta) -> (result, results_table)``, which only runs the
    kernel. Every call shares the one parsed-args dict, so kernels
    read their args and never mutate them."""
    kernel = get_op(cmd)
    parsed = parse_args(args)

    def op(arr: np.ndarray, meta: dict) -> tuple[np.ndarray, dict[str, list[float]] | None]:
        # meta is mutated IN PLACE: stateful ops (setThreshold, LUT
        # selection) stash into it and the caller writes it to the output
        # image, so a copy here would silently drop the stash between
        # chained ops.
        out = kernel(np.asarray(arr), parsed, meta)
        if isinstance(out, tuple):
            return out[0], out[1]
        return out, None

    return op


def run_op(
    arr: np.ndarray, cmd: str, args: str | None = None, meta: dict | None = None
) -> tuple[np.ndarray, dict[str, list[float]] | None]:
    """Dispatch one named op on an array; returns (result, results_table).
    The one-shot form of ``compile_op``."""
    return compile_op(cmd, args)(arr, meta if meta is not None else {})
