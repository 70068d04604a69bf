"""Driver-contract invariants for ``__spark_entry__`` — pure Python,
no Spark session. These lock in the grading-window mechanics that
starved the TPC-H tail for six rounds (VERDICT r6 "What's wrong" #2):
the contract is only as good as its bookkeeping, and every failure
mode here is silent at runtime (a forgotten QUERY_AGE entry just
sorts newest; a dropped oracle just downgrades to rows-only)."""

from __future__ import annotations

import json
import os

import pytest

import __spark_entry__ as entry

REPO = os.path.dirname(os.path.abspath(entry.__file__))

# The single source of truth for rows-only-by-design queries is
# entry.SKETCH_QUERIES (sketch name -> exact hash-graded twin, or None
# for the zlib query whose exact twin is a pytest). Growing that set
# must be a deliberate act: every other query MUST carry an exact
# DuckDB oracle.


def test_every_query_has_an_oracle_or_is_documented_rows_only():
    qs, osql = entry.queries(), entry.oracle_sql()
    assert set(qs) - set(osql) == set(entry.SKETCH_QUERIES)
    # No orphan oracles: an oracle whose query was renamed/dropped is
    # dead weight the driver never runs.
    assert set(osql) <= set(qs)


def test_sketch_queries_have_adjacent_hash_graded_twins():
    """The 4-sketch convention, verifiable from one place (VERDICT r10
    #5): each sketch query's exact twin exists, IS hash-graded (has an
    oracle), and sits immediately after the sketch in queries() order —
    so a scheduled 'no_oracle' artifact row always has its twin's
    hash-green row in the same driver window."""
    qs, osql = entry.queries(), entry.oracle_sql()
    names = list(qs)
    for sketch, twin in entry.SKETCH_QUERIES.items():
        assert sketch in qs and sketch not in osql
        if twin is None:
            continue  # exact pytest twin (zlib recompute, test_north_star)
        assert twin in osql, f"{sketch}: twin {twin} must be hash-graded"
        si, ti = names.index(sketch), names.index(twin)
        assert ti == si + 1, (
            f"{sketch}: twin {twin} not adjacent in queries() order"
        )
        # window-safety on the ACTUAL ordering (second r11 review: the
        # synthetic tests alone let a multi-pair interaction straddle
        # the real order silently): the pair is fully inside or fully
        # outside the driver's graded window, never split by it
        w = entry.GRADED_WINDOW
        assert ti < w or si >= w, (
            f"{sketch}/{twin} straddle the {w}-entry graded window "
            f"at ({si}, {ti})"
        )


def test_sketch_pair_never_straddles_graded_window():
    """The pair placement is window-safe (r11 review): a sketch whose
    staleness lands it at exactly index GRADED_WINDOW-1 would put its
    twin at GRADED_WINDOW — graded no_oracle row, ungraded twin, the
    exact artifact shape the adjacency exists to prevent. The pure
    placement function must nudge the pair fully inside; a voided twin
    at the FRONT must pull its sketch forward, not be dragged back."""
    w = entry.GRADED_WINDOW
    sketch, twin = "events_hll_rollup", "events_hll_exact"
    # sketch sorted at the window's last slot, twin far behind
    ordered = [f"q{i:03d}" for i in range(200)]
    ordered[w - 1] = sketch
    ordered[150] = twin
    placed = entry._place_sketch_pairs(ordered)
    si, ti = placed.index(sketch), placed.index(twin)
    assert ti == si + 1
    assert ti < w or si >= w, "pair straddles the graded window"
    # voided twin at the very front: sketch must come TO it
    ordered2 = [f"q{i:03d}" for i in range(200)]
    ordered2[0] = twin
    ordered2[150] = sketch
    placed2 = entry._place_sketch_pairs(ordered2)
    assert placed2.index(sketch) == 0 and placed2.index(twin) == 1
    # permutation preserved in both scenarios
    assert sorted(placed) == sorted(ordered)
    assert sorted(placed2) == sorted(ordered2)


def test_sketch_pair_placement_multi_pair_interference():
    """Second r11 review (confirmed by execution on the old
    implementation): placing pair B could shift already-placed pair A
    across the window edge, or split its adjacency. With pairs seeded
    so A sits right at the edge and B's placement perturbs indices
    around it, EVERY pair must still end adjacent and window-safe."""
    w = entry.GRADED_WINDOW
    pairs = [(s, t) for s, t in entry.SKETCH_QUERIES.items() if t]
    assert len(pairs) >= 2
    (s_a, t_a), (s_b, t_b) = pairs[0], pairs[1]
    ordered = [f"q{i:03d}" for i in range(200)]
    # A adjacent right before the edge; B's members bracket it so B's
    # placement (at index 20) shifts everything after by +1
    ordered[w - 2], ordered[w - 1] = s_a, t_a
    ordered[20], ordered[60] = t_b, s_b
    placed = entry._place_sketch_pairs(ordered)
    assert sorted(placed) == sorted(ordered)
    for s, t in ((s_a, t_a), (s_b, t_b)):
        si, ti = placed.index(s), placed.index(t)
        assert ti == si + 1, f"{s}/{t} adjacency broken"
        assert ti < w or si >= w, f"{s}/{t} straddle at ({si}, {ti})"
    # stacked pairs at the edge: both must resolve inside
    ordered2 = [f"q{i:03d}" for i in range(200)]
    ordered2[w - 3], ordered2[w - 2] = s_b, t_b
    ordered2[w - 1], ordered2[150] = s_a, t_a
    placed2 = entry._place_sketch_pairs(ordered2)
    for s, t in ((s_a, t_a), (s_b, t_b)):
        si, ti = placed2.index(s), placed2.index(t)
        assert ti == si + 1 and (ti < w or si >= w), (s, t, si, ti)


def test_every_query_has_a_query_age_entry():
    """A missing QUERY_AGE entry silently sorts the query NEWEST among
    never-graded — exactly the starvation `_grading_order` exists to
    prevent. Fail loudly instead."""
    with open(os.path.join(REPO, "QUERY_AGE.json")) as fh:
        ages = json.load(fh)
    names = set(entry.queries())
    assert names - set(ages) == set(), "new query missing QUERY_AGE entry"
    assert set(ages) - names == set(), "QUERY_AGE has stale entries"
    assert all(isinstance(v, int) and v >= 1 for v in ages.values())


def test_grading_order_is_a_permutation_with_stalest_first():
    qs = entry.queries()
    names = list(qs)
    # Permutation: rotation must never drop or duplicate a query.
    assert sorted(names) == sorted(set(names))
    # Recompute last-graded from the same artifacts the function reads
    # (errored grades are NOT evidence) and assert the dict order is
    # non-decreasing in it — never-graded (-1) strictly first.
    last: dict[str, int] = {}
    import glob

    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        rnd = int(os.path.basename(path).split("_r")[1].split(".")[0])
        with open(path) as fh:
            for q, rec in json.load(fh).items():
                err = rec.get("err") if isinstance(rec, dict) else None
                if err not in (None, "no_oracle"):
                    continue
                last[q] = max(last.get(q, 0), rnd)
    # A revision newer than the last green grade voids the evidence
    # (QUERY_REVISED.json) — mirror of the production rule.
    try:
        with open(os.path.join(REPO, "QUERY_REVISED.json")) as fh:
            for q, rev in json.load(fh).items():
                if last.get(q, 0) < rev:
                    last.pop(q, None)
    except FileNotFoundError:
        pass
    # sketch/twin pairs are deliberately co-located at the stalest of
    # their two positions (either member may move) — exempt both from
    # the monotonic check
    pairs = set(entry.SKETCH_QUERIES) | {
        t for t in entry.SKETCH_QUERIES.values() if t
    }
    seq = [last.get(n, -1) for n in names if n not in pairs]
    assert seq == sorted(seq), "queries() not ordered stalest-first"


def test_grading_order_breaks_never_graded_ties_by_declared_round():
    """Among never-graded queries, older declarations grade first —
    the r6 fix that finally let the r1 TPC-H block into the window."""
    import glob

    graded: set[str] = set()
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        with open(path) as fh:
            for q, rec in json.load(fh).items():
                err = rec.get("err") if isinstance(rec, dict) else None
                if err in (None, "no_oracle"):
                    graded.add(q)
    with open(os.path.join(REPO, "QUERY_AGE.json")) as fh:
        ages = json.load(fh)
    pairs = set(entry.SKETCH_QUERIES) | {
        t for t in entry.SKETCH_QUERIES.values() if t
    }
    never = [n for n in entry.queries() if n not in graded and n not in pairs]
    seq = [ages.get(n, 10**6) for n in never]
    assert seq == sorted(seq), "never-graded tie-break not oldest-first"


def test_bench_and_tools_compile():
    """bench.py crashing means BENCH_r{N}.json records rc!=0 and the
    round loses its perf evidence (it happened twice: r6 line overflow,
    r7 import crash). Full-run coverage needs Spark; what CAN be locked
    in for free is that bench.py, the entry module and every tool
    byte-compile and bench.py's main() guards exist."""
    import glob
    import py_compile

    tools = sorted(glob.glob(os.path.join(REPO, "tools", "*.py")))
    assert tools
    for path in [os.path.join(REPO, "bench.py"), os.path.join(REPO, "__spark_entry__.py"), *tools]:
        py_compile.compile(path, doraise=True)
    src = open(os.path.join(REPO, "bench.py")).read()
    assert "BENCH_FULL.json" in src, "full per-query map sidecar missing"
    assert "json.dumps" in src


def test_no_duplicate_query_names_across_modules():
    """queries() and oracle_sql() merge module dicts with identical
    precedence; a name declared in TWO modules would let the grader
    hash-check one module's implementation against another's oracle.
    Guard: the merged size equals the sum of the parts."""
    from spark_ij_spark.operators import (
        clustering,
        dedup,
        entity,
        event_windows,
        image_queries,
        layout,
        multimodal,
        pipeline,
        profile,
        relational,
        similarity,
        text,
        timeseries,
    )
    from spark_ij_spark.streaming import documents as streaming_documents

    modules = [
        timeseries, pipeline, streaming_documents, clustering, entity,
        profile, layout, multimodal, event_windows, similarity, dedup,
        text, image_queries, relational,
    ]
    total = sum(len(m.QUERIES) for m in modules)
    merged: dict = {}
    for m in modules:
        merged.update(m.QUERIES)
    assert len(merged) == total, "duplicate query name across modules"
    ototal = sum(len(m.ORACLES) for m in modules)
    omerged: dict = {}
    for m in modules:
        omerged.update(m.ORACLES)
    assert len(omerged) == ototal, "duplicate oracle name across modules"


def test_null_semantics_rules_are_in_place():
    """The round-8 null-sweep rules are one-line-refactor fragile —
    each is a tiny coalesce/filter a cleanup could drop without any
    null-free test noticing (the driver testdata has ZERO nulls, so
    every one of these branches is dormant there; see SCALING.md
    "Null/empty-injection sweep"). Pin the canonical rule sites:

    - NULL text tokenizes as '' (single tokenizer boundary),
    - dsum/dsum_sql coalesce an all-NULL group to the 0.0 identity,
    - the embeddings scan integrity-filters null/wrong-dim vectors and
      its DuckDB mirror keeps the list_transform materialization
      barrier (DuckDB list_inner_product reads the raw child buffer of
      filtered dictionary vectors).
    """
    from spark_ij_spark.operators import dedup, relational, text, timeseries

    assert "coalesce(text, '')" in text.TOKENS_SPARK
    assert "coalesce(text, '')" in text.TOKENS_DUCK
    assert "COALESCE" in relational.dsum_sql("x")
    assert "embedding IS NOT NULL" in dedup.EMB_CLEAN_DUCK
    assert f"len(embedding) = {dedup.EMB_DIM}" in dedup.EMB_CLEAN_DUCK
    assert "list_transform(embedding, x -> x)" in dedup.EMB_CLEAN_DUCK
    # NaN ≡ missing at the measurement boundary: a plain decimal/BIGINT
    # cast of NaN crashes DuckDB (and ANSI Spark for BIGINT) while
    # Spark's decimal cast silently NULLs — TRY_CAST is the one form
    # with identical semantics on both engines.
    assert "TRY_CAST" in relational.dsum_sql("x")
    assert timeseries._VALUE_C.startswith("TRY_CAST")
    # partially-corrupt vectors (NULL/NaN/Inf ELEMENTS) must fail the
    # integrity scan too — they pass the length check but poison
    # quantization casts and cosine (and DuckDB's plain CAST errors
    # on Infinity where Spark's TRY_CAST silently NULLs — the
    # one-engine-crash class).
    assert "isnan(x)" in dedup.EMB_CLEAN_DUCK
    assert "Infinity" in dedup.EMB_CLEAN_DUCK
    # invalid readings (NULL/NaN/Inf) are filtered AT THE SCAN in the
    # TWA/EWMA/OHLC family — an all-invalid user/bucket must DROP, not
    # emit NULL sums that pandas renders NaN on one engine only.
    assert "isnan(value)" in timeseries._VALID_READING
    assert "Infinity" in timeseries._VALID_READING


def test_no_case_folding_in_graded_oracle_sql():
    """SQL lower()/upper() are banned in graded queries: the engines
    disagree on Unicode case folding (measured round 8: Spark lowers
    U+0130 'İ' to 'i'+combining-dot per Unicode, DuckDB to plain 'i'),
    so a case-folded column would hash-drift on real multilingual
    text. Allowed ONLY over provably-ASCII columns, where folding is
    engine-stable — growing the allowlist must be a deliberate act
    with that proof. Oracles mirror the Spark text, so enforcing here
    covers both sides."""
    import re

    import __spark_entry__ as m

    ascii_only = {
        # upper(p_name): TPC-H part names are ASCII by spec; the query
        # exists to exercise the scalar-function surface
        "q_scalar_funcs",
    }
    for name, sql in m.oracle_sql().items():
        if name in ascii_only:
            continue
        assert not re.search(r"\b(lower|upper)\s*\(", sql, re.I), (
            f"{name}: case folding in graded SQL over possibly-unicode text"
        )


def test_bench_sentinels_are_declared_queries():
    """Every pinned sentinel must be a real declared query — a renamed
    or dropped sentinel would silently shrink the cross-round warm
    comparison surface the set exists to guarantee."""
    import bench

    qs = entry.queries()
    missing = [n for n in bench.SENTINELS if n not in qs]
    assert not missing, f"sentinels not in queries(): {missing}"
    assert len(set(bench.SENTINELS)) == len(bench.SENTINELS) >= 10


def test_bench_schedule(monkeypatch):
    """bench.run_schedule in one sentence: the sentinels run first, warm
    min-of-3 (4 count() calls each); every other query runs in name
    order with one warm-up and one timed run (2 calls); past the budget
    a non-sentinel query skips its warm-up (1 call) and is listed as
    degraded. A fake clock ticks one second per count() call."""
    import bench

    clock = [0.0]
    calls: list[str] = []

    class Query:
        def __init__(self, name):
            self.name = name

        def __call__(self, spark, sf_dir):
            return self

        def count(self):
            calls.append(self.name)
            clock[0] += 1.0
            return 0

    class Spark:
        class catalog:
            @staticmethod
            def clearCache():
                pass

    monkeypatch.setattr(bench.time, "monotonic", lambda: clock[0])
    others = ["c_q", "a_q", "d_q", "b_q"]
    qs = {n: Query(n) for n in others + list(reversed(bench.SENTINELS))}
    n_sent = 4 * len(bench.SENTINELS)

    def run(budget):
        calls.clear()
        timings, degraded = bench.run_schedule(Spark(), qs, "sf", budget)
        assert list(timings) == bench.SENTINELS + sorted(others)
        assert calls[:n_sent] == [n for n in bench.SENTINELS for _ in range(4)]
        return calls[n_sent:], degraded

    assert run(float("inf")) == ([n for n in sorted(others) for _ in range(2)], [])
    # the budget passes after a_q and b_q: c_q and d_q degrade
    assert run(n_sent + 2.0) == (["a_q", "a_q", "b_q", "b_q", "c_q", "d_q"], ["c_q", "d_q"])


def test_oracle_comparator_renders_like_the_driver():
    """oracle_sim.render is the driver's value normaliser, shared by
    oracle_sim and tests/conftest.assert_oracle_match: an int and its
    float differ, NULL and NaN have fixed spellings, and a numpy float
    renders like the Python float (numpy>=2 reprs np.float64 as
    'np.float64(0.5)')."""
    import numpy as np
    from oracle_sim import render  # tools/ is on sys.path via conftest

    assert render(1) != render(1.0)
    assert render(None) == "NULL"
    assert render(float("nan")) == render(np.float64("nan")) == "NaN"
    assert render(np.float64(0.5)) == render(0.5) == "0.5"


def test_quadratic_baselines_are_real_hash_graded_queries():
    """__spark_entry__.QUADRATIC_BASELINES is the single source for
    the at-volume sweep exclusion (`oracle_sim --skip-quadratic`): a
    name that drifts out of queries() would silently shrink the
    exclusion set and re-stall the sweep on an all-pairs oracle (the
    first r11 at-volume attempt stalled 25+ min exactly this way, on
    a hand-typed list). Each baseline must exist, carry a DuckDB
    oracle (they are the exactness twins the approximate family is
    audited against), and not be a sketch query."""
    import __spark_entry__ as m

    qs, osql = m.queries(), m.oracle_sql()
    for name in m.QUADRATIC_BASELINES:
        assert name in qs, f"{name} not in queries()"
        assert name in osql, f"{name} has no oracle (not an exactness twin?)"
        assert name not in m.SKETCH_QUERIES


def test_zip_index_is_reread_only_when_the_archive_changes(tmp_path, monkeypatch):
    """PySpark's worker calls importlib.invalidate_caches() at the start
    of every task; on CPython < 3.12 every zipimporter then re-parses
    its archive (pyspark.zip, the Spark jar), 0.15-0.2 s per task.
    Importing the package installs a stamp check (spark_ij_spark.zipstamp):
    an unchanged archive is not re-read, a rewritten one still is."""
    import importlib
    import sys
    import zipfile
    import zipimport

    import spark_ij_spark  # noqa: F401  (installs the stamp check)

    archive = str(tmp_path / "zipstamp_probe.zip")

    def write(value):
        with zipfile.ZipFile(archive, "w") as zf:
            zf.writestr("zsprobe/__init__.py", "")
            zf.writestr("zsprobe/sub/__init__.py", "")
            zf.writestr("zsprobe/sub/mod.py", f"VALUE = {value!r}\n")

    def fresh_value():
        for name in ("zsprobe.sub.mod", "zsprobe.sub", "zsprobe"):
            sys.modules.pop(name, None)
        return importlib.import_module("zsprobe.sub.mod").VALUE

    write("old")
    monkeypatch.syspath_prepend(archive)
    try:
        assert fresh_value() == "old"
        reads = []
        real_read = zipimport._read_directory

        def spy(path):
            if path == archive:
                reads.append(path)
            return real_read(path)

        monkeypatch.setattr(zipimport, "_read_directory", spy)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        if sys.version_info < (3, 12):
            assert reads == [], f"{len(reads)} re-reads of an unchanged archive"

        write("rewritten")  # a different size, so the stamp moves
        importlib.invalidate_caches()
        assert fresh_value() == "rewritten"
    finally:
        for name in ("zsprobe.sub.mod", "zsprobe.sub", "zsprobe"):
            sys.modules.pop(name, None)
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(archive, None)


def _packages(pyspark_version, py4j_version):
    """{relative path: text} of a pyspark and a py4j package whose
    version.py holds the given text; a None version leaves it out."""
    return {
        f"{pkg}/{f}": (version if f == "version.py" else "")
        for pkg, version in (("pyspark", pyspark_version), ("py4j", py4j_version))
        if version is not None
        for f in ("__init__.py", "version.py")
    }


def _spark_lib(tmp_path, pyspark_version, py4j_version):
    """The pyspark.zip and py4j source zip of a tmp $SPARK_HOME/python/lib."""
    import zipfile

    (tmp_path / "lib").mkdir()
    zips = {"pyspark": str(tmp_path / "lib" / "pyspark.zip"),
            "py4j": str(tmp_path / "lib" / "py4j-0.10.9.9-src.zip")}
    for pkg, archive in zips.items():
        with zipfile.ZipFile(archive, "w") as zf:
            for rel, text in _packages(pyspark_version, py4j_version).items():
                if rel.startswith(pkg + "/"):
                    zf.writestr(rel, text)
    return list(zips.values())


def _site_packages(tmp_path, name, pyspark_version, py4j_version):
    """A tmp site-packages dir, as a one-entry path list."""
    root = tmp_path / name
    for rel, text in _packages(pyspark_version, py4j_version).items():
        (root / rel).parent.mkdir(parents=True, exist_ok=True)
        (root / rel).write_text(text)
    return [str(root)]


def test_source_zips_give_way_to_an_identical_installed_copy(tmp_path):
    """Spark puts pyspark.zip and the py4j source zip first on a
    worker's path; they hold no bytecode, so the engine daemon would
    compile all of pyspark at every session start. The rule drops a zip
    only when the rest of the path imports that package from an
    installed copy with a byte-identical version.py, package by
    package."""
    from spark_ij_spark.zipstamp import installed_over_zips

    same = "__version__ = '4.1.2'\n"
    lib = _spark_lib(tmp_path, same, "__version__ = '0.10.9.9'\n")
    tail = [str(tmp_path / "elsewhere")]

    installed = _site_packages(tmp_path, "same", same, "__version__ = '0.10.9.9'\n")
    assert installed_over_zips(lib + tail + installed) == tail + installed

    other = _site_packages(tmp_path, "other", "__version__ = '4.1.1'\n",
                           "__version__ = '0.10.9.7'\n")
    assert installed_over_zips(lib + other) == lib + other

    assert installed_over_zips(lib + tail) == lib + tail

    # each package on its own: py4j identical, pyspark differs or is absent
    mixed = _site_packages(tmp_path, "mixed", "__version__ = '4.1.1'\n",
                           "__version__ = '0.10.9.9'\n")
    assert installed_over_zips(lib + mixed) == [lib[0]] + mixed
    py4j_only = _site_packages(tmp_path, "py4j-only", None, "__version__ = '0.10.9.9'\n")
    assert installed_over_zips(lib + py4j_only) == [lib[0]] + py4j_only
    # the copy that would import decides: a differing one first shadows an identical one
    assert installed_over_zips(lib + other + installed) == lib + other + installed


def test_installed_pyspark_is_not_preferred_once_pyspark_is_imported(tmp_path, monkeypatch):
    """A bare session's stock-daemon worker imported pyspark from the zip
    before it unpickles an engine UDF (which imports this package); its
    path must stay as it is, so no process mixes two pyspark copies."""
    import sys

    import pyspark  # noqa: F401
    from spark_ij_spark import zipstamp

    same = "__version__ = '4.1.2'\n"
    path = _spark_lib(tmp_path, same, same) + _site_packages(tmp_path, "same", same, same)
    monkeypatch.setattr(sys, "path", list(path))
    assert "pyspark" in sys.modules
    zipstamp.prefer_installed()
    assert sys.path == path


def test_worker_daemon_import_is_fork_safe():
    """Spark forks every Python worker of a get_spark session from
    spark_ij_spark.worker_daemon. A fork copies only the calling thread,
    so importing the daemon (and everything it imports) must start no
    Python thread and no JVM or SparkContext, must not enter the daemon
    loop (only ``python -m`` runs that), and must print nothing: Spark
    reads the daemon's port from its stdout."""
    import subprocess
    import sys

    code = (
        "import threading\n"
        "import pyspark.daemon\n"
        "entered = []\n"
        "pyspark.daemon.manager = lambda: entered.append(1)\n"
        "import spark_ij_spark.worker_daemon\n"
        "from pyspark import SparkContext\n"
        "print(SparkContext._active_spark_context is None, SparkContext._gateway is None,\n"
        "      not entered, threading.active_count())\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True, timeout=120
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.split() == ["True", "True", "True", "1"], out.stdout


def test_worker_daemon_imports_the_installed_pyspark():
    """Spark starts the engine daemon with $SPARK_HOME/python/lib's
    pyspark.zip and py4j zip first on PYTHONPATH. Importing the daemon
    drops them in favour of the installed, bytecode-cached copies of the
    same release, and still starts no thread or JVM and prints
    nothing."""
    import glob
    import subprocess
    import sys
    import zipfile

    import pyspark

    lib = os.path.join(os.environ.get("SPARK_HOME", ""), "python", "lib")
    zips = [os.path.join(lib, "pyspark.zip")] + sorted(glob.glob(os.path.join(lib, "py4j-*-src.zip")))
    if not os.path.isfile(zips[0]) or len(zips) < 2:
        pytest.skip("$SPARK_HOME has no pyspark.zip and py4j zip")
    with zipfile.ZipFile(zips[0]) as zf, open(
        os.path.join(os.path.dirname(pyspark.__file__), "version.py"), "rb"
    ) as fh:
        if zf.read("pyspark/version.py") != fh.read():
            pytest.skip("the installed pyspark is not $SPARK_HOME's release")

    code = (
        "import threading\n"
        "import spark_ij_spark.worker_daemon\n"
        "import py4j, pyspark\n"
        "from pyspark import SparkContext\n"
        "print(pyspark.__file__, py4j.__file__, SparkContext._gateway is None,\n"
        "      SparkContext._active_spark_context is None, threading.active_count())\n"
    )
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(zips + [REPO]))
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, env=env, capture_output=True, text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert len(out.stdout.splitlines()) == 1, out.stdout  # the import printed nothing
    pyspark_file, py4j_file, *state = out.stdout.split()
    assert ".zip" not in pyspark_file and ".zip" not in py4j_file, out.stdout
    assert state == ["True", "True", "1"], out.stdout


def test_run_op_is_called_only_from_the_shared_engine():
    """Every per-row op surface (run_all, run_with_table, the sweep, the
    SQL UDFs) runs its rows through operators/images.py's engine, so
    registry.run_op and registry.compile_op may be named only there;
    run_op also inside the measured batch special case
    image_queries.q_img_sweep_multiply. Any other reference — a call,
    an import, an alias — would fork the op loop."""
    import ast

    pkg = os.path.join(REPO, "spark_ij_spark")
    engine = os.path.join("spark_ij_spark", "operators", "images.py")
    allowed = {(os.path.join("spark_ij_spark", "operators", "image_queries.py"),
                "q_img_sweep_multiply", "run_op")}
    offenders = []
    for root, _dirs, files in os.walk(pkg):
        for f in files:
            rel = os.path.relpath(os.path.join(root, f), REPO)
            if not f.endswith(".py") or rel in (
                engine, os.path.join("spark_ij_spark", "registry.py")
            ):
                continue
            tree = ast.parse(open(os.path.join(REPO, rel)).read())
            for top in tree.body:
                owner = getattr(top, "name", None)
                for node in ast.walk(top):
                    named = (
                        (isinstance(node, ast.Name) and node.id)
                        or (isinstance(node, ast.Attribute) and node.attr)
                        or (isinstance(node, ast.alias) and node.name)
                    )
                    if named in ("run_op", "compile_op") and (
                        rel, owner, named
                    ) not in allowed:
                        offenders.append(f"{rel}:{getattr(node, 'lineno', top.lineno)}")
    assert offenders == [], (
        "registry.run_op/compile_op used outside the shared engine "
        f"(call operators.images.run_op_rows instead): {offenders}"
    )


@pytest.mark.parametrize(
    "args, tokens, rendered",
    [
        ("radius=3 sigma=1.5", [("radius", "3"), ("sigma", "1.5")], None),
        ("white radius=3 clear", [("white", True), ("radius", "3"), ("clear", True)], None),
        ("projection=[Max Intensity] stack",
         [("projection", "Max Intensity"), ("stack", True)], None),
        ('title="a b" stack', [("title", "a b"), ("stack", True)], "title=[a b] stack"),
        ("size=0-Infinity x=-3 expr=a=b",
         [("size", "0-Infinity"), ("x", "-3"), ("expr", "a=b")], None),
        ("", [], None),
    ],
)
def test_macro_args_round_trip_through_the_registry(args, tokens, rendered):
    """The registry's tokenizer and renderer are inverses: tokenize →
    render → tokenize gives the same tokens, and a string already in
    the renderer's form (``k=v``, bare flag, ``k=[v w]``) renders back
    byte for byte."""
    from spark_ij_spark.registry import parse_args, render_arg, tokenize_args

    assert tokenize_args(args) == tokens
    text = " ".join(render_arg(k, v) for k, v in tokens)
    assert text == (args if rendered is None else rendered)
    assert tokenize_args(text) == tokens
    assert parse_args(args) == dict(tokens)


def test_bracketed_sweep_runs_the_variants_it_names():
    """A two-point sweep over bracketed values, the form the ImageJ
    recorder emits, gives exactly its two endpoints, each of which the
    kernel parses to the value the sweep names, and two paths."""
    from spark_ij_spark.operators.sweep import macro_steps_to_sweep, sweep_to_path
    from spark_ij_spark.registry import parse_args

    ends = ["projection=[Max Intensity]", "projection=[Sum Slices]"]
    variants = macro_steps_to_sweep(ends, steps=2, delim=" ")
    assert variants == ends
    assert [parse_args(v) for v in variants] == [
        {"projection": "Max Intensity"},
        {"projection": "Sum Slices"},
    ]
    assert sweep_to_path(variants, new_directories=False, delim=" ") == [
        "projection_Max Intensity",
        "projection_Sum Slices",
    ]


def test_history_to_sweep_keeps_bracketed_values_whole():
    from spark_ij_spark import lineage
    from spark_ij_spark.operators.sweep import history_to_sweep

    log = [lineage.log_entry(lineage.OP_RUN, "Z Project...", ["projection=[Max Intensity]"])]
    assert history_to_sweep(log) == "Z Project...:projection=[Max Intensity]"


def test_shlex_is_imported_only_by_the_registry():
    """registry.tokenize_args is the one tokenizer of op-argument
    strings; a second ``shlex`` user would be a second grammar."""
    import ast

    importers = set()
    for top in ("spark_ij_spark", "tools", "perfbench", "tests"):
        for root, _dirs, files in os.walk(os.path.join(REPO, top)):
            for f in files:
                if not f.endswith(".py"):
                    continue
                path = os.path.join(root, f)
                with open(path) as fh:
                    tree = ast.parse(fh.read())
                for node in ast.walk(tree):
                    if isinstance(node, ast.Import):
                        names = [a.name for a in node.names]
                    elif isinstance(node, ast.ImportFrom):
                        names = [node.module]
                    else:
                        continue
                    if "shlex" in names:
                        importers.add(os.path.relpath(path, REPO))
    assert importers == {os.path.join("spark_ij_spark", "registry.py")}, importers


def test_local_checkpoint_is_named_only_in_session():
    """Every iterative loop truncates lineage through session.checkpoint,
    so the lineage policy lives in one function: ``localCheckpoint`` may
    be named only in session.py."""
    import ast

    pkg = os.path.join(REPO, "spark_ij_spark")
    offenders = []
    for root, _dirs, files in os.walk(pkg):
        for f in files:
            rel = os.path.relpath(os.path.join(root, f), REPO)
            if not f.endswith(".py") or rel == os.path.join("spark_ij_spark", "session.py"):
                continue
            for node in ast.walk(ast.parse(open(os.path.join(REPO, rel)).read())):
                if (
                    (isinstance(node, ast.Attribute) and node.attr == "localCheckpoint")
                    or (isinstance(node, ast.Name) and node.id == "localCheckpoint")
                    or (isinstance(node, ast.Constant) and node.value == "localCheckpoint")
                ):
                    offenders.append(f"{rel}:{node.lineno}")
    assert offenders == [], (
        f"localCheckpoint outside session.py (call session.checkpoint): {offenders}"
    )


def test_image_file_io_lists_once_reads_once_and_has_one_local_sink():
    """sources/images.py makes each image-file IO decision once: the
    listing rule (``os.listdir``) lives in one function, open-and-decode
    (a builtin ``open`` in "rb" mode) in one function, and the local
    sink is the writer's two-phase commit — no ``foreachPartition``
    write path and no ``regexp_replace`` copy of the output-name rule."""
    import ast

    tree = ast.parse(
        open(os.path.join(REPO, "spark_ij_spark", "sources", "images.py")).read()
    )
    listing, reading, banned = set(), set(), []

    def walk(node, owner):
        for child in ast.iter_child_nodes(node):
            inner = owner
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                inner = f"{owner}.{child.name}" if owner else child.name
            if isinstance(child, ast.Call):
                f = child.func
                if isinstance(f, ast.Attribute) and f.attr == "listdir":
                    listing.add(owner)
                modes = child.args[1:2] + [k.value for k in child.keywords if k.arg == "mode"]
                if (
                    isinstance(f, ast.Name)
                    and f.id == "open"
                    and any(isinstance(m, ast.Constant) and m.value == "rb" for m in modes)
                ):
                    reading.add(owner)
            words = [getattr(child, "attr", None), getattr(child, "id", None)]
            if isinstance(child, ast.Constant) and isinstance(child.value, str):
                words.append(child.value)
            if any(
                w and ("foreachPartition" in w or "regexp_replace" in w) for w in words
            ):
                banned.append(child.lineno)
            walk(child, inner)

    walk(tree, "")
    assert len(listing) == 1, f"os.listdir in {sorted(listing)}: list through one helper"
    assert len(reading) == 1, f"open(..., 'rb') in {sorted(reading)}: read through one helper"
    assert banned == [], f"foreachPartition/regexp_replace at lines {banned}"


_CANNED_PLAN = """\
AdaptiveSparkPlan isFinalPlan=false
+- Sort [n#7L DESC NULLS LAST], true, 0
   +- Exchange rangepartitioning(n#7L DESC NULLS LAST, 8), ENSURE_REQUIREMENTS, [plan_id=370]
      +- HashAggregate(keys=[da#403L], functions=[count(1)], output=[da#403L, n#7L])
         +- Exchange hashpartitioning(da#403L, 8), ENSURE_REQUIREMENTS, [plan_id=367]
            +- HashAggregate(keys=[da#403L], functions=[partial_count(1)], output=[da#403L, count#9L])
               +- SortMergeJoin [da#403L], [k#5L], LeftSemi, (da#403L < k#5L)
                  :- Project [doc_id#41L AS da#403L]
                  :  +- BroadcastNestedLoopJoin BuildRight, Cross
                  :     :- FileScan parquet [doc_id#41L,arr#48] Batched: true, DataFilters: [], Format: Parquet, Location: InMemoryFileIndex(1 paths)[file:/data/sf0.01/documents.parquet], PartitionFilters: [], PushedFilters: [], ReadSchema: struct<doc_id:bigint,arr:array<string>>
                  :     +- BroadcastExchange IdentityBroadcastMode, [plan_id=307]
                  :        +- ObjectHashAggregate(keys=[], functions=[collect_set(s#52, 0, 0)], output=[hot#64])
                  :           +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=304]
                  :              +- Filter (cast(df#53L as decimal(22,1)) > cast(Subquery subquery#56, [id=#285] as decimal(20,0)))
                  :                 :  +- Subquery subquery#56, [id=#285]
                  :                 :     +- AdaptiveSparkPlan isFinalPlan=false
                  :                 :        +- Scan ExistingRDD[count#63L]
                  :                 +- InMemoryTableScan [s#52, df#53L]
                  :                       +- InMemoryRelation [s#52, df#53L], StorageLevel(disk, memory, deserialized, 1 replicas)
                  :                             +- AdaptiveSparkPlan isFinalPlan=false
                  :                                +- FileScan parquet spark_catalog.default.bkt_orders_sf[s#52,df#53L] Batched: true, Bucketed: true, DataFilters: [], Format: Parquet, Location: InMemoryFileIndex(1 paths)[file:/warehouse/bkt_orders_sf], PartitionFilters: [], PushedFilters: [], ReadSchema: struct<s:string,df:bigint>
                  +- BroadcastHashJoin [k#5L], [bi#399L], Inner, BuildLeft, false
                     :- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, true]),false), [plan_id=350]
                     :  +- LocalTableScan [bi#399L]
                     +- Filter contains(text#2,

a split literal)
                        +- FileScan parquet [k#5L,text#2] Batched: true, DataFilters: [], Format: Parquet, Location: InMemoryFileIndex(1 paths)[file:/data/sf0.01/events.parquet], PartitionFilters: [], PushedFilters: [], ReadSchema: struct<k:bigint,text:string>
"""


def test_plan_signature_parses_a_canned_plan_and_diffs_readably():
    """tools/plan_sweep.py reduces a pre-AQE plan string to operator
    counts with only the qualifiers the plan checks rely on, and an
    injected extra shuffle fails with a one-line-per-operator diff that
    names the query. No Spark: the signature code imports without
    pyspark."""
    import sys

    sys.path.insert(0, os.path.join(REPO, "tools"))
    from plan_sweep import diff, forbidden, signature

    sig = signature(_CANNED_PLAN)
    assert sig == {
        "AdaptiveSparkPlan": 3,
        "BroadcastExchange": 2,
        "BroadcastHashJoin BuildLeft Inner": 1,
        "BroadcastNestedLoopJoin BuildRight Cross": 1,
        "Exchange SinglePartition": 1,
        "Exchange hashpartitioning": 1,
        "Exchange rangepartitioning": 1,
        "FileScan bkt_orders_sf": 1,
        "FileScan documents": 1,
        "FileScan events": 1,
        "Filter": 2,
        "HashAggregate": 2,
        "InMemoryRelation": 1,
        "InMemoryTableScan": 1,
        "LocalTableScan": 1,
        "ObjectHashAggregate": 1,
        "Project": 1,
        "Scan ExistingRDD": 1,
        "Sort": 1,
        "SortMergeJoin LeftSemi": 1,
        "Subquery": 1,
    }
    assert forbidden(sig) == []
    assert forbidden(signature("CartesianProduct\n:- Range (0, 2)\n+- Range (0, 3)")) == [
        "CartesianProduct"
    ]

    shuffle = "            +- HashAggregate(keys=[da#403L], functions=[partial_count(1)]"
    injected = _CANNED_PLAN.replace(
        shuffle,
        "            +- Exchange hashpartitioning(da#403L, 7), REPARTITION_BY_NUM, [plan_id=9]\n"
        + "   " + shuffle,
    )
    assert diff({"q_canned": sig}, {"q_canned": sig}) == ""
    msg = diff({"q_canned": sig}, {"q_canned": signature(injected)})
    assert msg == "q_canned:\n  Exchange hashpartitioning: 1 → 2", msg


def test_claude_md_references_resolve():
    """CLAUDE.md's rules name the test, file or function that enforces
    them, so a rename or deletion must not leave a rule pointing at
    nothing. Each ``test_*`` name is a test function under tests/ or
    perfbench/, each ``tests/<file>.py::name`` names a function in that
    file, and each spark_ij_spark/, tools/ or perfbench/ path exists."""
    import ast
    import glob
    import re

    def functions(path):
        with open(path) as fh:
            tree = ast.parse(fh.read())
        return {
            n.name
            for n in ast.walk(tree)
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        }

    with open(os.path.join(REPO, "CLAUDE.md")) as fh:
        text = fh.read()
    files = glob.glob(os.path.join(REPO, "tests", "*.py")) + glob.glob(
        os.path.join(REPO, "perfbench", "*.py")
    )
    tests = {f for path in files for f in functions(path) if f.startswith("test_")}
    broken = [n for n in re.findall(r"(?<![\w/.])test_\w+", text) if n not in tests]
    for path, name in re.findall(r"\b(tests/\w+\.py)::(\w+)", text):
        full = os.path.join(REPO, path)
        if not os.path.exists(full) or name not in functions(full):
            broken.append(f"{path}::{name}")
    for path in re.findall(r"(?<![\w/.])((?:spark_ij_spark|tools|perfbench)/[\w./-]*)", text):
        if not os.path.exists(os.path.join(REPO, path.rstrip("."))):
            broken.append(path)
    assert not broken, f"CLAUDE.md references that do not resolve: {broken}"
