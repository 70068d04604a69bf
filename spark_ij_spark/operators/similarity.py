"""Similarity search over the ``embeddings`` table (array<float>[64]).

North-star ops (SURVEY.md §7.1 M7): brute-force cosine top-k as the
exactness baseline, and a random-hyperplane LSH bucketed variant as
the 100 TB scale path. Generalizes the reference's single similarity
metric (histogram distance, `IJHistogram.scala:34-41`) to vector
search.

Determinism contract (what makes the DuckDB oracle exact):
- Cosine: Spark `aggregate(zip_with(...))` and DuckDB
  `list_dot_product` both sum left-to-right in IEEE double —
  verified bit-identical on this data.
- LSH hyperplanes: component signs come from md5-derived hashes
  (reproducible in both engines); projections quantize each float to
  a 1e6-scaled BIGINT so the bucket bit is a sign of an *integer*
  sum — no float-accumulation-order hazard in groupBy aggregation.

Scale design: the brute-force path is an all-pairs join (kept for
small N / verification). The LSH path is: map-only quantize →
broadcast join with the tiny plane table → two partial-aggregating
groupBys → equi-join on bucket — no cross join anywhere; candidate
lists shrink ~2^NBITS-fold. Top-k per query is a window over the
candidate set, shuffled by query id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_ij_spark.operators.dedup import (
    COS_DUCK,
    COS_SPARK,
    EMB_CLEAN_DUCK,
    EMB_DIM,
    EMBED_QUANT,
    _emb,
    emb_with_norm,
)
from spark_ij_spark.operators.text import hash60_duck, hash60_spark

TOPK = 5
LSH_TOPK = 5
N_QUERIES = 20      # query set = vec_id < N_QUERIES
LSH_NBITS = 8
# Independent hyperplane tables (table id t is folded into the sign
# hash seed). Operating point CALIBRATED on the synthetic
# corpus via the recall-audit harness: single-table exact-bucket LSH
# measured recall@5 ≈ 0.02-0.12 (near-isotropic vectors give
# hyperplanes no locality), L=8 tables + Hamming-1 multiprobe lifts it
# to ≈ 0.66 (sf0.01) / 0.64 (sf0.1) at a ~26% candidate-scan fraction
# — the classic tables-for-recall trade, still an equi-join per table
# (never all-pairs). Floor guarded by
# tests/test_north_star.py::test_ann_recall_floors.
LSH_NTABLES = 8
# Candidate budgets for the multiprobe retriever (uncapped, the K=100
# sweep measured 19.6x rescore growth per 100x data because
# probed-bucket size grows linearly with the corpus).
# Per (query, table) the own bucket contributes at most ~LSH_OWN_CAP
# candidates and each Hamming-1 probe at most ~LSH_PROBE_CAP, sampled
# deterministically per bucket (hash-stride, the dedup posting-cap
# pattern) so both engines pick the identical subset. Strict no-ops at
# every graded SF (max bucket occupancy: 10 at sf0.01, 26 at sf0.1 —
# numpy sim), binding only in the decade replicas and
# beyond, where a bucket holding an O(corpus/2^NBITS) slice is no
# longer a discriminative hash and a fixed-size sample preserves the
# top-k-after-exact-rescore contract in expectation.
LSH_OWN_CAP = 256
LSH_PROBE_CAP = 64
# plane/slice width IS the table's declared dimension — one source
# (dedup.EMB_DIM, which the _emb integrity scan also enforces)
DIM = EMB_DIM
# float → integer quantization scale for projections/PQ — DEFINED AS
# dedup.EMBED_QUANT (not a lookalike literal): the PQ Spark path
# quantizes via dedup.quantized_embeddings, so an independent constant
# here would let one retune silently desync codebooks/codes/LUT
# between the Spark queries and the DuckDB oracles built from QUANT.
QUANT = EMBED_QUANT
# _emb is dedup's integrity-filtered scan (null/wrong-dim vectors
# dropped); ALL similarity paths read through it — see dedup._emb.


def _topk_rerank(scored: DataFrame, k: int) -> DataFrame:
    """Deterministic per-query top-k over (ia, ib, cos): cosine desc
    with ib-asc tie-break — ONE rerank shared by the exact baseline
    and every approximate path, so rank/tie semantics can't drift
    between the thing measured and its baseline."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("ia").orderBy(F.desc("cos"), F.asc("ib"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("ia", "ib", "rank", F.expr("round(cos, 6)").alias("cos_sim"))
    )


def _rescore_topk(
    spark: SparkSession, sf_dir: str, cand: DataFrame, k: int
) -> DataFrame:
    """Exact-cosine rescore of an (ia, ib) candidate frame + top-k per
    query — ONE implementation shared by every bucketed retriever
    (LSH, multiprobe, incremental, and the PQ/IVF-PQ refine stage), so
    tie/rank/rounding semantics cannot drift between them
    (single-code-path rule)."""
    e = emb_with_norm(spark, sf_dir)
    scored = (
        cand.join(e.alias("a"), F.col("ia") == F.col("a.vec_id"))
        .join(e.alias("b"), F.col("ib") == F.col("b.vec_id"))
        .select("ia", "ib", F.expr(COS_SPARK).alias("cos"))
    )
    return _topk_rerank(scored, k)


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-K nearest neighbors by cosine for each query vector
    (vec_id < N_QUERIES), brute force. The window ranks within each
    query's candidate set (shuffle keyed on query id)."""
    e = emb_with_norm(spark, sf_dir)
    # explicit broadcast: the probe set is a CONSTANT N_QUERIES rows
    # (provably bounded), so the brute-force scan is a broadcast
    # nested-loop over the corpus — one corpus pass, no shuffle. A
    # bare non-equi join would plan as CartesianProduct under the
    # runtime-size-only broadcast policy.
    a = F.broadcast(e.filter(F.col("vec_id") < N_QUERIES)).alias("a")
    b = e.alias("b")
    scored = (
        a.join(b, F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("ia"),
            F.col("b.vec_id").alias("ib"),
            F.expr(COS_SPARK).alias("cos"),
        )
    )
    return _topk_rerank(scored, TOPK)


Q_ANN_TOPK_SQL = f"""
WITH scored AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib, {COS_DUCK} AS cos
  FROM {EMB_CLEAN_DUCK} a JOIN {EMB_CLEAN_DUCK} b ON a.vec_id <> b.vec_id
  WHERE a.vec_id < {N_QUERIES}),
ranked AS (
  SELECT ia, ib, cos,
         row_number() OVER (PARTITION BY ia ORDER BY cos DESC, ib ASC) AS rank
  FROM scored)
SELECT ia, ib, rank, round(cos, 6) AS cos_sim FROM ranked WHERE rank <= {TOPK}
"""


def _lsh_sign(t: int, p: int, d: int) -> int:
    """±1 component of hyperplane (t, p) at dimension d: low bit of
    hash60('t:p,d'). Python hashlib md5 of the identical string the
    engines hash (hash60_spark/hash60_duck), so the three derivations
    are the same function — the DuckDB oracle keeps computing signs
    in-SQL and hash-matching the literal-inlined Spark plan proves
    the equivalence on every oracle run."""
    import hashlib

    h60 = int(hashlib.md5(f"{t}:{p},{d}".encode()).hexdigest()[:15], 16)
    return 1 if (h60 & 1) == 1 else -1


def lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucket id per (vector, table): LSH_NTABLES
    independent tables of LSH_NBITS hyperplanes each (see the
    LSH_NTABLES calibration note).

    Hyperplane (t, p) has ±1 components: sign(t, p, d) from the low
    bit of hash60('t:p,d') — the table id seeds the hash, so tables
    are independent draws of the same construction. Bucket bit p =
    [Σ_d sign(t,p,d) · q(v_d) > 0] with q = round(v·1e6) as BIGINT.

    Plan shape: the NTABLES×NBITS plane sign vectors are md5-derived
    CONSTANTS, so they inline as literal arrays (the k-means-centroid
    calibrate-then-apply pattern) and every bucket id is one map-only
    zip_with dot per (table, bit) — zero joins, zero shuffles before
    the candidate join. The first multi-table cut materialized
    vec×dim×table×bit rows (n·4096) into a groupBy and cost 5.7 s at
    sf0.1 / 18 s at sf~1; this form is pure whole-stage codegen.
    Integer dots < 2^53, so engines agree bit-for-bit.

    The quantized frame is spread (session.spread, no-op at scale):
    the 64 hyperplane dots per vector are the family's heaviest map
    pass and the testdata's single-row-group layout would run them —
    and every cached frame built on them — as ONE task."""
    from spark_ij_spark.session import spread

    qv = spread(_emb(spark, sf_dir), "vec_id").select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> TRY_CAST(round(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT))"
        ).alias("qv"),
    )
    buckets = []
    for t in range(LSH_NTABLES):
        bits = []
        for p in range(LSH_NBITS):
            signs = ", ".join(
                str(_lsh_sign(t, p, d)) + "L" for d in range(DIM)
            )
            dot = (
                f"aggregate(zip_with(qv, array({signs}), (x, s) -> x * s),"
                " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
            )
            bits.append(
                f"(CASE WHEN {dot} > 0 THEN CAST({1 << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
            )
        buckets.append(" + ".join(bits))
    return qv.select(
        "vec_id",
        F.posexplode(F.array(*[F.expr(b) for b in buckets])).alias(
            "t", "bucket"
        ),
    )


_LSH_BUCKETS_DUCK = f"""
dims AS (
  SELECT vec_id, d, CAST(round(CAST(embedding[d + 1] AS DOUBLE) * {QUANT}) AS BIGINT) AS q
  FROM {EMB_CLEAN_DUCK} embeddings, (SELECT unnest(range(0, {DIM})) AS d)),
planes AS (
  SELECT t, p, d,
         CASE WHEN ({hash60_duck("t || ':' || p || ',' || d")} & 1) = 1 THEN 1 ELSE -1 END AS sign
  FROM (SELECT unnest(range(0, {LSH_NTABLES})) AS t),
       (SELECT unnest(range(0, {LSH_NBITS})) AS p),
       (SELECT unnest(range(0, {DIM})) AS d)),
bits AS (
  SELECT vec_id, t, p, sum(sign * q) AS dot
  FROM dims JOIN planes USING (d)
  GROUP BY vec_id, t, p),
buckets AS (
  SELECT vec_id, t,
         sum(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << CAST(p AS INT)) ELSE 0 END) AS bucket
  FROM bits GROUP BY vec_id, t)
"""

# Member index (bucket membership + occupancy + selection hash), the
# DuckDB mirror of _lsh_member_index — defined here, above every
# oracle f-string that splices it (module-level f-strings evaluate in
# file order; naming a later one is an import-time NameError).
# Parameterized on the source CTE: the retrievers index `buckets`, the
# incremental ingest indexes the corpus-only subset (its stride must
# not depend on the delta).
def _lsh_mem_duck(src: str = "buckets") -> str:
    return f"""counts AS (
  SELECT t, bucket, COUNT(*) AS cnt FROM {src} GROUP BY t, bucket),
mem AS (
  SELECT b.vec_id, b.t, b.bucket, c.cnt,
         {hash60_duck("b.t || ':' || b.vec_id")} AS mh
  FROM {src} b JOIN counts c ON b.t = c.t AND b.bucket = c.bucket)"""


_LSH_MEM_DUCK = _lsh_mem_duck()


def _lsh_member_index(buckets: DataFrame) -> DataFrame:
    """(vec_id, t, bucket, cnt, mh): bucket membership enriched with
    its bucket's occupancy and the member's selection hash — the ONE
    frame both cap branches filter, so the per-member md5 is computed
    once per corpus row, not once per branch (the DuckDB mirror is
    the `mem` CTE). The counts frame is provably
    bounded (≤ 2^LSH_NBITS × LSH_NTABLES rows), so the explicit
    broadcast is within the runtime-size-only policy."""
    counts = buckets.groupBy("t", "bucket").agg(F.count("*").alias("cnt"))
    mh = hash60_spark("concat(t, ':', vec_id)")
    return buckets.join(F.broadcast(counts), ["t", "bucket"]).withColumn(
        "mh", F.expr(mh)
    )


def _lsh_cap_pred(cap: int) -> str:
    """Deterministic per-bucket sample predicate over a member-index
    row: keep a member iff its hash lands on the stride ceil(cnt/cap)
    — ≈cap members per (t, bucket), the identical subset on both
    engines (integer DIV on BIGINTs, hash non-negative). Applied
    map-side BEFORE the probe join, so the join's output (and the
    exact-rescore fan-in) is what gets bounded — a post-join filter
    would materialize the unbounded candidate set first, which is the
    19.6x/100x curve this cap exists to cut. Spark form; the DuckDB
    twin is _lsh_cap_pred_duck and their set-identity when the cap
    FIRES is pinned by test_lsh_cap_spark_duckdb_identity (dormant on
    all graded SFs: max occupancy 26 < both caps)."""
    return f"mh % ((cnt + {cap} - 1) DIV {cap}) = 0"


def _lsh_cap_pred_duck(cap: int) -> str:
    return f"m.mh % ((m.cnt + {cap} - 1) // {cap}) = 0"


def _lsh_capped_members(mem: DataFrame, cap: int) -> DataFrame:
    """The ≈cap-per-bucket deterministic sample of a member index
    (see _lsh_member_index / _lsh_cap_pred)."""
    return mem.filter(F.expr(_lsh_cap_pred(cap))).select(
        "vec_id", "t", "bucket"
    )


def _lsh_own_cand(mem: DataFrame) -> DataFrame:
    """Own-bucket candidates (ia, ib): query rows (vec_id < N_QUERIES)
    equi-joined to the ≈LSH_OWN_CAP capped member sample of their own
    (t, bucket), self-pairs excluded — ONE implementation shared by
    q_ann_lsh and q_ann_lsh_multiprobe's own-bucket branch (two
    copies could desync on a cap retune; same single-source rule as
    _rescore_topk). DuckDB twin:
    _LSH_OWN_CAND_DUCK."""
    qa = mem.filter(F.col("vec_id") < N_QUERIES).alias("qa")
    qb = _lsh_capped_members(mem, LSH_OWN_CAP).alias("qb")
    return (
        qa.join(
            qb,
            (F.col("qa.t") == F.col("qb.t"))
            & (F.col("qa.bucket") == F.col("qb.bucket"))
            & (F.col("qa.vec_id") != F.col("qb.vec_id")),
        )
        .select(F.col("qa.vec_id").alias("ia"), F.col("qb.vec_id").alias("ib"))
    )


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN: candidates share the query's bucket in ANY of
    the LSH_NTABLES tables; exact cosine re-rank over the deduplicated
    candidate set, top LSH_TOPK per query. The candidate join is an
    equi-join on (table, bucket) — the scale path; DISTINCT collapses
    pairs that collide in several tables before the (costlier) exact
    rescore. The member-index frame feeds BOTH self-join sides and
    aliased self-joins never share work (the PPJoin ReusedExchange
    lesson) — cache it so the map-only bucket computation runs
    once (measured 2.04→1.65 s at sf0.1; the build-the-index-once
    step). The corpus side is candidate-budgeted at
    ≈LSH_OWN_CAP per bucket (_lsh_capped_members — dormant at every
    graded SF, see the cap note): the decade sweep measured the
    uncapped own-bucket join at 3.95x/100x, the family's steepest
    curve once multiprobe was budgeted. The BUCKETS frame is cached
    too: _lsh_member_index reads it twice (counts agg + join
    side) and each uncached pass re-runs the 64 hyperplane dots per
    vector — caching n×NTABLES small rows beats recomputing the dots
    at every scale (measured 2.21→1.43 s for the member index at
    sf0.1)."""
    mem = _lsh_member_index(lsh_buckets(spark, sf_dir).cache()).cache()
    cand = _lsh_own_cand(mem).distinct()
    return _rescore_topk(spark, sf_dir, cand, LSH_TOPK)


# Shared exact-rescore + top-k oracle tail (expects a `cand(ia, ib)`
# CTE in scope) — the DuckDB mirror of _rescore_topk, spliced into the
# LSH / multiprobe / incremental oracles so tie/rank/rounding
# semantics cannot drift between them (same rule as
# _PQ_REFINE_TAIL_DUCK for the ADC retrievers).
_LSH_RESCORE_TAIL_DUCK = f"""scored AS (
  SELECT ia, ib, {COS_DUCK} AS cos
  FROM cand
  JOIN {EMB_CLEAN_DUCK} a ON cand.ia = a.vec_id
  JOIN {EMB_CLEAN_DUCK} b ON cand.ib = b.vec_id),
ranked AS (
  SELECT ia, ib, cos,
         row_number() OVER (PARTITION BY ia ORDER BY cos DESC, ib ASC) AS rank
  FROM scored)
SELECT ia, ib, rank, round(cos, 6) AS cos_sim FROM ranked WHERE rank <= {LSH_TOPK}
"""

# Own-bucket candidate CTE body — the DuckDB twin of _lsh_own_cand,
# spliced (as `own_cand`) into BOTH the exact-bucket and multiprobe
# oracles so a cap retune can't desync them.
_LSH_OWN_CAND_DUCK = f"""own_cand AS (
  SELECT DISTINCT qa.vec_id AS ia, m.vec_id AS ib
  FROM buckets qa JOIN mem m
    ON qa.t = m.t AND qa.bucket = m.bucket AND qa.vec_id <> m.vec_id
  WHERE qa.vec_id < {N_QUERIES}
    AND {_lsh_cap_pred_duck(LSH_OWN_CAP)})"""

Q_ANN_LSH_SQL = f"""
WITH {_LSH_BUCKETS_DUCK},
{_LSH_MEM_DUCK},
{_LSH_OWN_CAND_DUCK},
cand AS (SELECT ia, ib FROM own_cand),
{_LSH_RESCORE_TAIL_DUCK}"""


def q_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-bit multiprobe hyperplane LSH (Lv et al. 2007 "Multi-Probe
    LSH"): each query probes its OWN bucket plus the LSH_NBITS buckets
    at Hamming distance 1 — the buckets a near neighbor most likely
    fell into when one hyperplane sign flipped — in EACH of the
    LSH_NTABLES tables. Probe generation is a map-only explode of
    (NBITS+1) bucket ids per (query, table); candidate generation
    stays an equi-join on (table, bucket) (never all-pairs). The
    probed membership is candidate-BUDGETED: the own
    bucket joins a ≈LSH_OWN_CAP deterministic per-bucket sample and
    each Hamming-1 probe a ≈LSH_PROBE_CAP one (_lsh_capped_members —
    hash-stride, no-op at every graded SF, see the cap note), so per
    (query, table) the rescore fan-in is bounded by a constant
    (~OWN_CAP + NBITS·PROBE_CAP) instead of growing with the corpus.
    Within one table a data vector has exactly one bucket so it
    matches at most one probe, but ACROSS tables (and between the own
    and H1 branches) the same pair can recur — DISTINCT before the
    exact rescore. Exact cosine re-rank within the probed set, top
    LSH_TOPK per query, same as q_ann_lsh.

    Operating point (see LSH_NTABLES note): measured recall@5 ≈ 0.66
    at sf0.01 / 0.64 at sf0.1 — vs ≈ 0.12 single-table — floor
    asserted by test_ann_recall_floors. BOTH the member index (buckets
    + cnt + mh — probes and both cap branches read it, so the
    per-member selection hash is computed once) and the raw buckets
    frame are cached: _lsh_member_index reads buckets twice
    (counts agg + join side) and an uncached pass re-runs the 64
    hyperplane dots per vector — caching n×NTABLES small rows beats
    recomputing the dots at every scale (measured 2.21→1.43 s at
    sf0.1)."""
    mem = _lsh_member_index(lsh_buckets(spark, sf_dir).cache()).cache()
    h1_probes = (
        mem.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("ia"),
            "t",
            F.explode(
                F.array(
                    *[
                        F.expr(f"bucket ^ CAST({1 << i} AS BIGINT)")
                        for i in range(LSH_NBITS)
                    ]
                )
            ).alias("probe"),
        )
        .alias("pa")
    )
    qb = _lsh_capped_members(mem, LSH_PROBE_CAP).alias("qb")
    h1_cand = (
        h1_probes.join(
            qb,
            (F.col("pa.t") == F.col("qb.t"))
            & (F.col("pa.probe") == F.col("qb.bucket"))
            & (F.col("pa.ia") != F.col("qb.vec_id")),
        )
        .select(F.col("pa.ia").alias("ia"), F.col("qb.vec_id").alias("ib"))
    )
    # own-bucket branch = the SAME _lsh_own_cand q_ann_lsh runs
    cand = _lsh_own_cand(mem).union(h1_cand).distinct()
    return _rescore_topk(spark, sf_dir, cand, LSH_TOPK)


Q_ANN_LSH_MULTIPROBE_SQL = f"""
WITH {_LSH_BUCKETS_DUCK},
{_LSH_MEM_DUCK},
{_LSH_OWN_CAND_DUCK},
h1 AS (
  SELECT vec_id AS ia, t,
         unnest(list_transform(range(0, {LSH_NBITS}),
                i -> xor(bucket, CAST(1 AS BIGINT) << CAST(i AS INT)))) AS probe
  FROM buckets WHERE vec_id < {N_QUERIES}),
h1_cand AS (
  SELECT DISTINCT h1.ia, m.vec_id AS ib
  FROM h1 JOIN mem m ON h1.t = m.t AND h1.probe = m.bucket
  WHERE h1.ia <> m.vec_id
    AND {_lsh_cap_pred_duck(LSH_PROBE_CAP)}),
cand AS (SELECT ia, ib FROM own_cand UNION SELECT ia, ib FROM h1_cand),
{_LSH_RESCORE_TAIL_DUCK}"""


IVF_NLIST = 16    # cells (seed centroids = the NLIST lowest vec_ids)

# query/vector-to-seed cosine over the a (vector) × b (seed) aliases —
# ONE copy of the fold expression whose bit-identity with DuckDB's
# list_dot_product the determinism contract rests on; cell assignment
# and probe selection must never score with two drifted variants.
_SEED_COS_SPARK = (
    "aggregate(zip_with(a.embedding, b.s_emb,"
    " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
    " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    " / (a.nrm * b.s_nrm)"
)
IVF_NPROBE = 4    # cells probed per query
IVF_TOPK = 3


def ivf_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell per vector: nearest seed by cosine (ties → lower seed
    id). Seeds are the NLIST lowest vec_ids — deterministic, no
    k-means iterations to reproduce in the oracle. Assignment is a
    broadcast join against NLIST seeds + a per-vector window: map-side
    except the tiny rank shuffle."""
    from pyspark.sql.window import Window

    e = emb_with_norm(spark, sf_dir)
    seeds = (
        e.filter(F.col("vec_id") < IVF_NLIST)
        .select(
            F.col("vec_id").alias("seed_id"),
            F.col("embedding").alias("s_emb"),
            F.col("nrm").alias("s_nrm"),
        )
    )
    scored = (
        e.alias("a")
        .crossJoin(F.broadcast(seeds.alias("b")))
        .select(
            F.col("a.vec_id").alias("vec_id"),
            F.col("b.seed_id").alias("seed_id"),
            F.expr(_SEED_COS_SPARK).alias("cos"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("seed_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", F.col("seed_id").alias("cell"))
    )


_IVF_SCORED_DUCK = f"""
n AS (
  SELECT vec_id, embedding,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM {EMB_CLEAN_DUCK} embeddings),
seeds AS (
  SELECT vec_id AS seed_id, embedding AS s_emb, nrm AS s_nrm
  FROM n WHERE vec_id < {IVF_NLIST}),
scored AS (
  SELECT a.vec_id, b.seed_id,
         list_dot_product(a.embedding::DOUBLE[], b.s_emb::DOUBLE[]) / (a.nrm * b.s_nrm) AS cos
  FROM n a CROSS JOIN seeds b),
assign AS (
  SELECT vec_id, seed_id AS cell FROM (
    SELECT vec_id, seed_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, seed_id ASC) AS rk
    FROM scored)
  WHERE rk = 1)
"""


def ivf_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(ia, ib) for every query × IVF-probed candidate — the probe
    equi-join WITHOUT any scoring, so the exact-rescore path
    (``ivf_scored_candidates``) and the compressed ADC path
    (``q_ann_ivfpq``) prune with the one shared generator."""
    from pyspark.sql.window import Window

    assign = ivf_assignments(spark, sf_dir)
    e = emb_with_norm(spark, sf_dir)
    seeds = (
        e.filter(F.col("vec_id") < IVF_NLIST)
        .select(
            F.col("vec_id").alias("seed_id"),
            F.col("embedding").alias("s_emb"),
            F.col("nrm").alias("s_nrm"),
        )
    )
    qscore = (
        e.filter(F.col("vec_id") < N_QUERIES)
        .alias("a")
        .crossJoin(F.broadcast(seeds.alias("b")))
        .select(
            F.col("a.vec_id").alias("ia"),
            F.col("b.seed_id").alias("cell"),
            F.expr(_SEED_COS_SPARK).alias("cos"),
        )
    )
    wq = Window.partitionBy("ia").orderBy(F.desc("cos"), F.asc("cell"))
    probes = (
        qscore.withColumn("rk", F.row_number().over(wq))
        .filter(F.col("rk") <= IVF_NPROBE)
        .select("ia", "cell")
    )
    return (
        probes.join(assign, "cell")
        .filter(F.col("ia") != F.col("vec_id"))
        .select("ia", F.col("vec_id").alias("ib"))
    )


def ivf_scored_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(ia, ib, cos) for every query × IVF-probed candidate — the
    shared candidate-generation stage of ``q_ann_ivf`` (nearest-
    neighbor retrieval) and ``q_ann_hard_negatives`` (contrastive
    hard-negative mining). See ``q_ann_ivf`` for the scale shape."""
    cand = ivf_candidate_pairs(spark, sf_dir)
    e = emb_with_norm(spark, sf_dir)
    return (
        cand.join(e.alias("a"), F.col("ia") == F.col("a.vec_id"))
        .join(e.alias("b"), F.col("ib") == F.col("b.vec_id"))
        .select("ia", "ib", F.expr(COS_SPARK).alias("cos"))
    )


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: assign vectors to cells, probe the query's NPROBE
    nearest cells, exact cosine re-rank within probed cells. Candidate
    generation is an equi-join on cell id; at 100 TB the inverted file
    is the partitioning key and each probe touches 1/NLIST of data."""
    return _topk_rerank(ivf_scored_candidates(spark, sf_dir), IVF_TOPK)


# IVF candidate generation (assign → probe → cell equi-join), shared
# by the exact-rescore oracle and the IVF-PQ composite oracle.
_IVF_CAND_DUCK = f"""
{_IVF_SCORED_DUCK.strip()},
probes AS (
  SELECT vec_id AS ia, seed_id AS cell FROM (
    SELECT vec_id, seed_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, seed_id ASC) AS rk
    FROM scored WHERE vec_id < {N_QUERIES})
  WHERE rk <= {IVF_NPROBE}),
cand AS (
  SELECT probes.ia, assign.vec_id AS ib
  FROM probes JOIN assign ON probes.cell = assign.cell
  WHERE probes.ia <> assign.vec_id)
"""

_IVF_RESCORED_DUCK = f"""
{_IVF_CAND_DUCK.strip()},
rescored AS (
  SELECT ia, ib, {COS_DUCK} AS cos
  FROM cand
  JOIN {EMB_CLEAN_DUCK} a ON cand.ia = a.vec_id
  JOIN {EMB_CLEAN_DUCK} b ON cand.ib = b.vec_id)
"""

Q_ANN_IVF_SQL = f"""
WITH {_IVF_RESCORED_DUCK.strip()},
ranked AS (
  SELECT ia, ib, cos,
         row_number() OVER (PARTITION BY ia ORDER BY cos DESC, ib ASC) AS rank
  FROM rescored)
SELECT ia, ib, rank, round(cos, 6) AS cos_sim FROM ranked WHERE rank <= {IVF_TOPK}
"""


# Hard-negative mining: per query, the HN_K highest-cosine candidates
# that are NOT near-duplicates (cos < the dedup positive threshold) —
# the standard negatives-from-ANN recipe for contrastive embedding
# training. The positive cutoff is dedup.EMBED_COS_THRESHOLD so
# "negative" here means exactly "not a dedup positive".
HN_K = 5


def q_ann_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mine contrastive hard negatives from the IVF candidate stream:
    drop near-duplicate candidates (cos ≥ EMBED_COS_THRESHOLD — those
    are positives, training on them as negatives would be label
    noise), then keep each query's HN_K hardest remaining candidates.

    Scale shape: identical to ``q_ann_ivf`` — IVF probe equi-join for
    candidates (never all-pairs), exact re-rank, one window keyed by
    query id; the dup filter is a map-only predicate on the candidate
    stream, NOT a join against the dedup pair set."""
    from spark_ij_spark.operators.dedup import EMBED_COS_THRESHOLD

    scored = ivf_scored_candidates(spark, sf_dir).filter(
        F.col("cos") < EMBED_COS_THRESHOLD
    )
    return _topk_rerank(scored, HN_K)


def _hard_negatives_sql() -> str:
    from spark_ij_spark.operators.dedup import EMBED_COS_THRESHOLD

    return f"""
WITH {_IVF_RESCORED_DUCK.strip()},
ranked AS (
  SELECT ia, ib, cos,
         row_number() OVER (PARTITION BY ia ORDER BY cos DESC, ib ASC) AS rank
  FROM rescored WHERE cos < {EMBED_COS_THRESHOLD})
SELECT ia, ib, rank, round(cos, 6) AS cos_sim FROM ranked WHERE rank <= {HN_K}
"""


Q_ANN_HARD_NEGATIVES_SQL = _hard_negatives_sql()


def _recall_vs_brute(
    spark: SparkSession, sf_dir: str, approx: DataFrame, k: int
) -> DataFrame:
    """Shared recall@k harness: per query, the fraction of the exact
    brute-force top-k the approximate index recovered. Exact integer
    arithmetic (hits / k) so the oracle is hash-stable."""
    brute = (
        q_ann_topk(spark, sf_dir).filter(F.col("rank") <= k).select("ia", "ib")
    )
    hits = approx.select("ia", "ib", F.lit(1).alias("hit"))
    return (
        brute.join(hits, ["ia", "ib"], "left")
        .groupBy("ia")
        .agg(
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_hits"),
            F.expr(
                f"round(CAST(sum(coalesce(hit, 0)) AS DOUBLE) / {k}, 6)"
            ).alias("recall_at_k"),
        )
    )


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF path against the exact brute-force top-k —
    the evaluation harness that keeps the approximate index honest
    ("measure, don't guess")."""
    return _recall_vs_brute(spark, sf_dir, q_ann_ivf(spark, sf_dir), IVF_TOPK)


def _recall_sql(inner_sql: str, k: int) -> str:
    """Oracle twin of :func:`_recall_vs_brute`, parameterized on the
    approximate path's SQL and k — ONE template for all four recall
    oracles so a fix to the recall join or tie-break applies
    everywhere at once (the Spark side already shares
    ``_recall_vs_brute``)."""
    return f"""
WITH brute AS (
  SELECT ia, ib FROM ({Q_ANN_TOPK_SQL}) WHERE rank <= {k}),
approx AS (
  SELECT ia, ib, 1 AS hit FROM ({inner_sql}))
SELECT brute.ia AS ia,
       CAST(SUM(COALESCE(approx.hit, 0)) AS BIGINT) AS n_hits,
       round(CAST(SUM(COALESCE(approx.hit, 0)) AS DOUBLE) / {k}, 6) AS recall_at_k
FROM brute LEFT JOIN approx ON brute.ia = approx.ia AND brute.ib = approx.ib
GROUP BY brute.ia
"""


Q_ANN_RECALL_SQL = _recall_sql(Q_ANN_IVF_SQL, IVF_TOPK)


def q_ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the hyperplane-LSH path against the exact top-k —
    the same honesty metric q_ann_recall provides for IVF, so BOTH
    approximate index paths carry a measured quality bound. Exact
    integer arithmetic (hits / k), hash-stable oracle.

    What it measures on the synthetic testdata is itself the point:
    recall@5 ≈ 0.12-0.20 for exact-bucket multi-table LSH (single
    table measured ≈ 0.02), because near-isotropic high-dim
    vectors give hyperplane buckets little locality to exploit —
    q_ann_lsh_multiprobe_recall measures the Hamming-distance-1
    probes lifting that to ≈ 0.59-0.66 (calibrated), and
    q_ann_recall shows the IVF path doing better still on the
    same data. That comparison (not a guess) is what
    tells an operator which index family to deploy; LSH here earns its
    keep on the *near-dup* workload (dedup thresholds), not top-k."""
    return _recall_vs_brute(spark, sf_dir, q_ann_lsh(spark, sf_dir), LSH_TOPK)


def q_ann_lsh_multiprobe_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the 1-bit multiprobe LSH path — measures exactly how
    much the Hamming-distance-1 probes buy over exact-bucket LSH on
    the same data (see q_ann_lsh_recall for why that baseline is ≈0
    here), at the cost of an (NBITS+1)x larger candidate join fan-in."""
    return _recall_vs_brute(
        spark, sf_dir, q_ann_lsh_multiprobe(spark, sf_dir), LSH_TOPK
    )


Q_ANN_LSH_RECALL_SQL = _recall_sql(Q_ANN_LSH_SQL, LSH_TOPK)

Q_ANN_LSH_MULTIPROBE_RECALL_SQL = _recall_sql(
    Q_ANN_LSH_MULTIPROBE_SQL, LSH_TOPK
)


# --- product quantization (PQ) ----------------------------------------

# M subspaces of DIM/M dims, K codewords each: a vector compresses to
# M small codes (here 4 codes ≈ 4 bytes vs 256 bytes of float32 — the
# memory story that makes 100 TB ANN indexes fit in RAM).
PQ_M = 4
PQ_K = 16
PQ_DSUB = DIM // PQ_M
PQ_TOPK = TOPK  # rank against the same brute-force top-k


def _pq_model(
    spark: SparkSession, sf_dir: str
) -> tuple[
    list[list[tuple[int, list[float]]]],
    list[tuple[int, list[list[float]]]],
]:
    """PQ model state off ONE bounded driver collect
    (vec_id < max(PQ_K, N_QUERIES) quantized rows — separate
    codebook and query collects would be two Spark jobs per query build):

    - ``books``: per-subspace codebooks seeded from the first PQ_K
      vectors' quantized subvectors (O(M·K·dsub) driver state, like
      the k-means seeds; a trained variant would run Lloyd per
      subspace exactly as embed_kmeans does). Values are int-valued
      doubles < 2^53, so every score below is exact integer
      arithmetic in IEEE doubles.
    - ``lut``: for each present query ia (vec_id < N_QUERIES after
      the integrity scan) and subspace m, ||q_m − c_{m,k}||² indexed
      by code position k. O(NQ·M·K) = 1280 bounded values — driver
      model state exactly like the codebooks (k-means-centroid /
      _lsh_sign literal precedent). All inputs are int-valued
      (quantized), so the Python integer arithmetic below produces
      EXACTLY the double either engine computes: every partial
      (squares ≤ ~1.1e12, sums of PQ_DSUB=16 ≤ ~2e13) stays < 2^53,
      and qn − 2·dot + cn is the same exact integer in any evaluation
      order. Codebook positions a dropped integrity-filtered seed
      would leave empty hold 0.0 placeholders that no encoded vector
      can ever reference (the argmin only emits existing cids)."""
    from spark_ij_spark.operators.dedup import quantized_embeddings

    rows = (
        quantized_embeddings(spark, sf_dir)
        .filter(F.col("vec_id") < max(PQ_K, N_QUERIES))
        .collect()
    )
    brows = [r for r in rows if int(r.vec_id) < PQ_K]
    books = []
    for m in range(PQ_M):
        books.append(
            [
                (int(r.vec_id), [float(v) for v in r.qv[m * PQ_DSUB : (m + 1) * PQ_DSUB]])
                for r in brows
            ]
        )
    lut = []
    for r in sorted(rows, key=lambda r: int(r.vec_id)):
        ia = int(r.vec_id)
        if ia >= N_QUERIES:
            continue
        qv = [int(v) for v in r.qv]
        per_m = []
        for m in range(PQ_M):
            qs = qv[m * PQ_DSUB : (m + 1) * PQ_DSUB]
            qn = sum(v * v for v in qs)
            size = max(k for k, _ in books[m]) + 1 if books[m] else 0
            row = [0.0] * size
            for k, cv in books[m]:
                cvi = [int(v) for v in cv]
                dot = sum(a * b for a, b in zip(qs, cvi))
                cn = sum(v * v for v in cvi)
                row[k] = float(qn - 2 * dot + cn)
            per_m.append(row)
        lut.append((ia, per_m))
    return books, lut


def q_ann_pq_pairs(
    spark: SparkSession, sf_dir: str, cand: DataFrame | None = None
) -> DataFrame:
    """(ia, ib, adist) ADC pair stream — the shared scoring stage of
    ``q_ann_pq`` (pure compressed ranking), ``q_ann_pq_refine``
    (shortlist + exact re-rank) and ``q_ann_ivfpq`` (probe-pruned):
    encode every vector as PQ_M codebook codes, then score queries
    against the CODES (asymmetric distance computation) instead of the
    raw floats. With ``cand`` (an (ia, ib) frame), only those pairs
    are ADC-scored — the encoded frame is candidate-reduced by the
    join BEFORE any scoring, so pruning actually prunes compute.

    Shapes, 100 TB lens (guide §2.4 "remove shuffles
    outright"): encode is map-only (codebooks compile into literal
    argmin expressions, the k-means assignment pattern), and the ADC
    lookup table — NQ·M·K = 1280 exact-integer values, bounded model
    state — is computed on the driver (_pq_query_lut) and
    broadcast-joined as ONE wide row per query (ia, l0..l{M-1}
    arrays). Scoring is then 4 array lookups per (vector, query) row
    in whole-stage codegen. No exploded codes frame (M rows/vector)
    joins per-(ia, m, k) LUT rows and partial-aggregates through a
    corpus-wide (ia, ib) groupBy, so that aggregation Exchange — n·NQ
    rows — does not exist, leaving the per-query top-k/shortlist rank
    as the PQ family's only shuffle.
    Linear per-query scan by construction — production prunes it with
    the IVF stage (q_ann_ivfpq).

    All distances are exact integers (quantized inputs), so the DuckDB
    oracle — which still re-derives codebooks, codes, and LUT in SQL —
    hash-matches bit-for-bit, proving encode, LUT and ADC agree across
    engines (the same literal-inline-vs-in-SQL proof _lsh_sign
    carries)."""
    from spark_ij_spark.operators.clustering import _best_cluster_expr
    from spark_ij_spark.operators.dedup import quantized_embeddings

    books, lut = _pq_model(spark, sf_dir)
    pts = quantized_embeddings(spark, sf_dir).select(
        "vec_id", F.expr("transform(qv, v -> CAST(v AS DOUBLE))").alias("x")
    )
    for m in range(PQ_M):
        pts = pts.withColumn(f"x{m}", F.expr(f"slice(x, {m * PQ_DSUB + 1}, {PQ_DSUB})"))
    enc = pts.select(
        F.col("vec_id").alias("ib"),
        *[
            # shared SQL-text argmin builder (see clustering.py for
            # why text, not Column objects: Py4J round-trip cost)
            _best_cluster_expr(books[m], xcol=f"x{m}").alias(f"code{m}")
            for m in range(PQ_M)
        ],
    )

    # The LUT ships as a 20-row broadcast frame, NOT as literal
    # expression trees: a literal form (measured) added ~1300
    # literal nodes per query plan and cost ~0.4-0.5 s of driver-side
    # analysis per build — more than the Exchange it saved at sf0.1 —
    # and F.lit(nested list) pays ~1.8 s of per-element Py4J
    # conversion. The broadcast is provably bounded (N_QUERIES
    # constant rows), the per-row work is 4 array lookups, and the
    # plan stays small.
    lut_rows = [tuple([ia] + per_m) for ia, per_m in lut]
    lut_schema = "ia BIGINT, " + ", ".join(
        f"l{m} ARRAY<DOUBLE>" for m in range(PQ_M)
    )
    lut_wide = spark.createDataFrame(lut_rows, lut_schema)
    adist = " + ".join(f"element_at(l{m}, code{m} + 1)" for m in range(PQ_M))
    if cand is None:
        return (
            enc.crossJoin(F.broadcast(lut_wide))
            .where(F.col("ib") != F.col("ia"))
            .select("ia", "ib", F.expr(adist).alias("adist"))
        )
    # cand path: every cand.ia is integrity-present by construction —
    # the probe set derives from the same _emb scan the LUT collect
    # reads — so the inner join drops nothing.
    return cand.join(enc, "ib").join(F.broadcast(lut_wide), "ia").select(
        "ia", "ib", F.expr(adist).alias("adist")
    )


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure PQ/ADC ranking: top PQ_TOPK per query by compressed
    distance alone (see ``q_ann_pq_pairs`` for the shapes; the exact
    value-hash oracle proves encode and ADC agree across engines).
    Ranking fidelity of the compression is measured honestly by
    ``q_ann_pq_recall``; the production retrieval shape is
    ``q_ann_pq_refine``."""
    from pyspark.sql.window import Window

    pairs = q_ann_pq_pairs(spark, sf_dir)
    w = Window.partitionBy("ia").orderBy(F.asc("adist"), F.asc("ib"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= PQ_TOPK)
        .select("ia", "ib", "rank", "adist")
    )


# ADC shortlist width for the refine stage. Calibrated on the
# recall-audit harness: pure ADC at M=4/K=16 seeded codebooks measures
# recall@5 ≈ 0.24/0.11 (sf0.01/sf0.1) — quantization noise swamps the
# small cosine spread of near-isotropic vectors — while an ADC
# shortlist of 100 re-ranked with exact cosine reaches ≈ 0.77/0.60.
# This is the standard IVF-PQ "refine" stage: the compressed index
# prunes the corpus to O(SHORTLIST) candidates per query, the exact
# metric only ever touches the shortlist.
PQ_SHORTLIST = 100


def _shortlist_refine(
    spark: SparkSession, sf_dir: str, pairs: DataFrame, shortlist: int, k: int
) -> DataFrame:
    """Shared refine stage: keep each query's ``shortlist`` best ADC
    candidates, re-rank them with the exact cosine, emit top ``k`` —
    used verbatim by q_ann_pq_refine and q_ann_ivfpq so the two
    retrievers can never drift in tie/rank semantics."""
    from pyspark.sql.window import Window

    short = (
        pairs.withColumn(
            "srank",
            F.row_number().over(
                Window.partitionBy("ia").orderBy(F.asc("adist"), F.asc("ib"))
            ),
        )
        .filter(F.col("srank") <= shortlist)
        .select("ia", "ib")
    )
    return _rescore_topk(spark, sf_dir, short, k)


def q_ann_pq_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC shortlist + exact-cosine refine: rank the ADC pair
    stream per query, keep the PQ_SHORTLIST best compressed-distance
    candidates, then re-rank the shortlist with the exact cosine and
    emit the top TOPK — the two-stage retrieve-then-refine shape
    production PQ systems run (compressed scan prunes, exact metric
    decides). Scale: the ADC stage is q_ann_pq's (broadcast-LUT
    equi-join, linear per query); the refine stage touches only
    O(N_QUERIES × SHORTLIST) rows. Recall@5 measured ≈ 0.77 (sf0.01)
    / 0.60 (sf0.1) vs ≈ 0.24/0.11 for pure ADC — floor asserted by
    test_ann_recall_floors."""
    return _shortlist_refine(
        spark, sf_dir, q_ann_pq_pairs(spark, sf_dir), PQ_SHORTLIST, TOPK
    )


def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composite — the full production ANN stack in one query:
    IVF probe pruning supplies the candidate set (equi-join on cell
    id, touching ~NPROBE/NLIST of the corpus per query), ADC scores
    ONLY those candidates against the compressed codes (the codes
    frame is candidate-reduced before the broadcast-LUT join), and the
    exact cosine re-ranks the per-query shortlist. At 100 TB this is
    the shape that works: the inverted file bounds the scan, the
    64x-compressed codes bound the memory, the exact metric only ever
    touches O(queries × shortlist) raw vectors. Components are the
    audited singles (ivf_candidate_pairs, q_ann_pq_pairs,
    _shortlist_refine) — single-code-path rule."""
    cand = ivf_candidate_pairs(spark, sf_dir)
    pairs = q_ann_pq_pairs(spark, sf_dir, cand=cand)
    return _shortlist_refine(spark, sf_dir, pairs, PQ_SHORTLIST, TOPK)


def _pq_common_duck(p: str = "") -> str:
    """PQ encode/LUT CTE chain with an optional name prefix ``p`` —
    the IVF-PQ composite oracle splices these next to the IVF CTEs,
    whose names ('scored') would otherwise collide. Everything up to
    the per-pair ADC sum; the final pairs CTE differs per query
    (all-pairs vs candidate-joined) and lives with each oracle."""
    return f"""
{p}q AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(CAST(round(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT) AS DOUBLE)) AS qv
  FROM {EMB_CLEAN_DUCK} embeddings),
{p}sub AS (
  SELECT vec_id, m,
         list_slice(qv, m * {PQ_DSUB} + 1, (m + 1) * {PQ_DSUB}) AS sv
  FROM {p}q, (SELECT unnest(range(0, {PQ_M})) AS m)),
{p}cb AS (
  SELECT m, CAST(vec_id AS INT) AS k, sv AS cv,
         list_dot_product(cv, cv) AS cn
  FROM {p}sub WHERE vec_id < {PQ_K}),
{p}scored AS (
  SELECT s.vec_id, s.m, c.k,
         c.cn - 2.0 * list_dot_product(s.sv, c.cv) AS score
  FROM {p}sub s JOIN {p}cb c USING (m)),
{p}codes AS (
  SELECT vec_id AS ib, m, k FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id, m ORDER BY score ASC, k ASC) AS rn
    FROM {p}scored)
  WHERE rn = 1),
{p}lut AS (
  SELECT s.vec_id AS ia, s.m, c.k,
         list_dot_product(s.sv, s.sv)
           - 2.0 * list_dot_product(s.sv, c.cv) + c.cn AS pdist
  FROM {p}sub s JOIN {p}cb c USING (m)
  WHERE s.vec_id < {N_QUERIES})
"""


_PQ_COMMON_DUCK = f"""
{_pq_common_duck().strip()},
pairs AS (
  SELECT lut.ia, codes.ib, CAST(SUM(pdist) AS DOUBLE) AS adist
  FROM codes JOIN lut ON codes.m = lut.m AND codes.k = lut.k
  WHERE codes.ib <> lut.ia
  GROUP BY lut.ia, codes.ib)
"""

Q_ANN_PQ_SQL = f"""
WITH {_PQ_COMMON_DUCK}
SELECT ia, ib, rank, adist FROM (
  SELECT ia, ib, adist,
         CAST(row_number() OVER (
           PARTITION BY ia ORDER BY adist ASC, ib ASC) AS INT) AS rank
  FROM pairs)
WHERE rank <= {PQ_TOPK}
"""


def q_ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the PQ/ADC path against the exact brute-force
    top-k — the same honesty harness the IVF and LSH paths carry, now
    for the compressed-index family (what 16 codewords × 4 subspaces
    of quantization cost in ranking fidelity, measured): mean
    recall@5 ≈ 0.24 at sf0.01 with the SEEDED (untrained) codebooks on
    near-isotropic synthetic vectors. This is the labeled raw-ADC
    fidelity number; the production retrievers built on it
    (q_ann_pq_refine ≈ 0.6-0.79, q_ann_ivfpq ≈ 0.75-0.85) recover the
    recall the compression alone gives up."""
    return _recall_vs_brute(
        spark, sf_dir, q_ann_pq(spark, sf_dir).select("ia", "ib"), PQ_TOPK
    )


Q_ANN_PQ_RECALL_SQL = _recall_sql(Q_ANN_PQ_SQL, PQ_TOPK)


# Shared refine tail (expects a `pairs(ia, ib, adist)` CTE in scope) —
# the oracle mirror of _shortlist_refine, spliced into BOTH retriever
# oracles so shortlist/tie/rank semantics cannot drift between them
# (single-code-path rule; the Spark side already shares the helper).
_PQ_REFINE_TAIL_DUCK = f"""short AS (
  SELECT ia, ib FROM (
    SELECT ia, ib,
           row_number() OVER (PARTITION BY ia ORDER BY adist ASC, ib ASC) AS srank
    FROM pairs)
  WHERE srank <= {PQ_SHORTLIST}),
refscored AS (
  SELECT ia, ib, {COS_DUCK} AS cos
  FROM short
  JOIN {EMB_CLEAN_DUCK} a ON short.ia = a.vec_id
  JOIN {EMB_CLEAN_DUCK} b ON short.ib = b.vec_id),
refranked AS (
  SELECT ia, ib, cos,
         row_number() OVER (PARTITION BY ia ORDER BY cos DESC, ib ASC) AS rank
  FROM refscored)
SELECT ia, ib, rank, round(cos, 6) AS cos_sim FROM refranked WHERE rank <= {TOPK}
"""

Q_ANN_PQ_REFINE_SQL = f"""
WITH {_PQ_COMMON_DUCK},
{_PQ_REFINE_TAIL_DUCK}"""


def q_ann_pq_refine_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the two-stage PQ-shortlist + exact-refine retriever
    against the brute-force top-k — the honesty metric for the
    PRODUCTION PQ shape (q_ann_pq_recall measures the raw compressed
    ranking it builds on)."""
    return _recall_vs_brute(
        spark, sf_dir, q_ann_pq_refine(spark, sf_dir).select("ia", "ib"), TOPK
    )


Q_ANN_PQ_REFINE_RECALL_SQL = _recall_sql(Q_ANN_PQ_REFINE_SQL, TOPK)


Q_ANN_IVFPQ_SQL = f"""
WITH {_IVF_CAND_DUCK.strip()},
{_pq_common_duck("pq").strip()},
pairs AS (
  SELECT cand.ia, cand.ib, CAST(SUM(pdist) AS DOUBLE) AS adist
  FROM cand
  JOIN pqcodes ON cand.ib = pqcodes.ib
  JOIN pqlut ON pqlut.ia = cand.ia
            AND pqlut.m = pqcodes.m AND pqlut.k = pqcodes.k
  GROUP BY cand.ia, cand.ib),
{_PQ_REFINE_TAIL_DUCK}"""


def q_ann_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the full IVF-PQ + refine stack against the exact
    brute-force top-k — what the probe pruning costs ON TOP of the
    PQ-refine recall (compare with q_ann_pq_refine_recall: any gap is
    true neighbors living outside the probed cells)."""
    return _recall_vs_brute(
        spark, sf_dir, q_ann_ivfpq(spark, sf_dir).select("ia", "ib"), TOPK
    )


Q_ANN_IVFPQ_RECALL_SQL = _recall_sql(Q_ANN_IVFPQ_SQL, TOPK)


# Delta-ingest split for the incremental ANN query: vectors with
# vec_id % MOD == RESIDUE play the part of a newly-arrived batch
# (same convention as dedup's INCR_DELTA_MOD — deterministic, so the
# oracle reproduces the split exactly).
ANN_DELTA_MOD = 10
ANN_DELTA_RESIDUE = 3


def q_ann_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN ingest: each vector of the newly-arrived delta
    batch retrieves its top-k nearest EXISTING corpus vectors via the
    multi-table LSH index — the nightly-embedding-ingest shape, where
    the standing index is probed by the delta instead of rebuilt. The
    candidate join is delta-buckets ⋈ corpus-buckets on (table,
    bucket) — never delta × corpus — so ingest cost scales with the
    delta and its bucket occupancy, not the corpus (the ANN mirror of
    ``q_dedup_incremental``); the probed corpus side is
    additionally candidate-budgeted at ≈LSH_OWN_CAP per bucket
    (_lsh_capped_members, dormant at graded SFs — see the cap note),
    bounding per-delta-vector rescore fan-in by a constant. The
    member index is built over CORPUS-ONLY membership — a stride
    computed from counts that include the incoming delta would shrink
    (and re-shuffle) the standing-index sample as a function of the
    batch being ingested. Exact-cosine rescore +
    top LSH_TOPK per delta vector, same rank/tie semantics as the
    other retrievers. The buckets frame is cached: the delta filter,
    the corpus counts agg and the corpus join side all read it."""
    buckets = lsh_buckets(spark, sf_dir).cache()
    delta = buckets.filter(
        F.col("vec_id") % ANN_DELTA_MOD == ANN_DELTA_RESIDUE
    ).alias("da")
    mem = _lsh_member_index(
        buckets.filter(F.col("vec_id") % ANN_DELTA_MOD != ANN_DELTA_RESIDUE)
    )
    corpus = _lsh_capped_members(mem, LSH_OWN_CAP).alias("cb")
    cand = (
        delta.join(
            corpus,
            (F.col("da.t") == F.col("cb.t"))
            & (F.col("da.bucket") == F.col("cb.bucket")),
        )
        .select(
            F.col("da.vec_id").alias("ia"), F.col("cb.vec_id").alias("ib")
        )
        .distinct()
    )
    return _rescore_topk(spark, sf_dir, cand, LSH_TOPK)


Q_ANN_INCREMENTAL_SQL = f"""
WITH {_LSH_BUCKETS_DUCK},
corpus AS (
  SELECT * FROM buckets WHERE vec_id % {ANN_DELTA_MOD} <> {ANN_DELTA_RESIDUE}),
{_lsh_mem_duck("corpus")},
cand AS (
  SELECT DISTINCT da.vec_id AS ia, m.vec_id AS ib
  FROM buckets da JOIN mem m
    ON da.t = m.t AND da.bucket = m.bucket
  WHERE da.vec_id % {ANN_DELTA_MOD} = {ANN_DELTA_RESIDUE}
    AND {_lsh_cap_pred_duck(LSH_OWN_CAP)}),
{_LSH_RESCORE_TAIL_DUCK}"""


# Rank-discount table for NDCG@k, in parts-per-million: the 1/log2(r+1)
# discounts are irrational, so they are fixed here ONCE as Python-
# computed integer literals that both the Spark plan and the DuckDB
# oracle embed verbatim — neither engine ever evaluates a log, so the
# metric is pure integer arithmetic (the libm-ULP hazard class that
# bans raw float log/pow in graded outputs).
def _ndcg_discounts_ppm(k: int) -> list[int]:
    import math

    return [int(1_000_000 / math.log2(r + 1) + 0.5) for r in range(1, k + 1)]


NDCG_DISCOUNT_PPM = _ndcg_discounts_ppm(TOPK)
#: IDCG@k for binary relevance with >= k relevant docs (the brute
#: top-k is the relevance set, so exactly k docs are relevant)
NDCG_IDCG_PPM = sum(NDCG_DISCOUNT_PPM)


def q_ann_retrieval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query ranking-quality metrics of the production IVF-PQ
    retriever against the exact top-k: first relevant rank, MRR and
    NDCG@k — the evaluation a retrieval deployment actually reports,
    one level up from set recall (it penalizes finding the right
    neighbors at the wrong ranks). All integer ppm arithmetic (integer
    gains x literal integer discounts, floor-div normalization), so
    the oracle hash-matches exactly. Queries where the retriever finds
    nothing emit rank 0 / 0 ppm (sentinel, never NULL)."""
    brute = (
        q_ann_topk(spark, sf_dir)
        .filter(F.col("rank") <= TOPK)
        .select("ia", "ib")
    )
    approx = q_ann_ivfpq(spark, sf_dir).select("ia", "ib", "rank")
    hits = approx.join(brute, ["ia", "ib"])  # relevant results + their ranks
    disc = ", ".join(str(d) for d in NDCG_DISCOUNT_PPM)
    per_q = hits.groupBy("ia").agg(
        F.expr("CAST(MIN(rank) AS BIGINT)").alias("first_hit_rank"),
        F.expr(
            f"CAST(SUM(element_at(array({disc}), rank)) AS BIGINT)"
        ).alias("dcg_ppm"),
    )
    queries = brute.select("ia").distinct()
    return (
        queries.join(per_q, "ia", "left")
        .select(
            "ia",
            F.expr("coalesce(first_hit_rank, CAST(0 AS BIGINT))").alias(
                "first_hit_rank"
            ),
            F.expr(
                "CASE WHEN first_hit_rank IS NULL THEN CAST(0 AS BIGINT)"
                " ELSE 1000000 div first_hit_rank END"
            ).alias("mrr_ppm"),
            F.expr(
                f"CAST(coalesce(dcg_ppm, 0) * 1000000 div {NDCG_IDCG_PPM} AS BIGINT)"
            ).alias("ndcg_ppm"),
        )
        .orderBy("ia")
    )


Q_ANN_RETRIEVAL_METRICS_SQL = f"""
WITH brute AS (
  SELECT ia, ib FROM ({Q_ANN_TOPK_SQL}) WHERE rank <= {TOPK}),
approx AS (
  SELECT ia, ib, rank FROM ({Q_ANN_IVFPQ_SQL})),
hits AS (
  SELECT approx.ia, approx.rank
  FROM approx JOIN brute ON approx.ia = brute.ia AND approx.ib = brute.ib),
per_q AS (
  SELECT ia, CAST(MIN(rank) AS BIGINT) AS first_hit_rank,
         CAST(SUM([{", ".join(str(d) for d in NDCG_DISCOUNT_PPM)}][rank]) AS BIGINT) AS dcg_ppm
  FROM hits GROUP BY ia)
SELECT q.ia,
       COALESCE(per_q.first_hit_rank, 0) AS first_hit_rank,
       CASE WHEN per_q.first_hit_rank IS NULL THEN 0
            ELSE 1000000 // per_q.first_hit_rank END AS mrr_ppm,
       CAST(COALESCE(per_q.dcg_ppm, 0) * 1000000 // {NDCG_IDCG_PPM} AS BIGINT) AS ndcg_ppm
FROM (SELECT DISTINCT ia FROM brute) q
LEFT JOIN per_q ON q.ia = per_q.ia
ORDER BY q.ia
"""


QUERIES = {
    "ann_topk": q_ann_topk,
    "ann_lsh": q_ann_lsh,
    "ann_lsh_multiprobe": q_ann_lsh_multiprobe,
    "ann_ivf": q_ann_ivf,
    "ann_hard_negatives": q_ann_hard_negatives,
    "ann_recall": q_ann_recall,
    "ann_lsh_recall": q_ann_lsh_recall,
    "ann_lsh_multiprobe_recall": q_ann_lsh_multiprobe_recall,
    "ann_pq": q_ann_pq,
    "ann_pq_recall": q_ann_pq_recall,
    "ann_pq_refine": q_ann_pq_refine,
    "ann_pq_refine_recall": q_ann_pq_refine_recall,
    "ann_ivfpq": q_ann_ivfpq,
    "ann_ivfpq_recall": q_ann_ivfpq_recall,
    "ann_retrieval_metrics": q_ann_retrieval_metrics,
    "ann_incremental": q_ann_incremental,
}

ORACLES = {
    "ann_topk": Q_ANN_TOPK_SQL,
    "ann_lsh": Q_ANN_LSH_SQL,
    "ann_lsh_multiprobe": Q_ANN_LSH_MULTIPROBE_SQL,
    "ann_ivf": Q_ANN_IVF_SQL,
    "ann_hard_negatives": Q_ANN_HARD_NEGATIVES_SQL,
    "ann_recall": Q_ANN_RECALL_SQL,
    "ann_lsh_recall": Q_ANN_LSH_RECALL_SQL,
    "ann_lsh_multiprobe_recall": Q_ANN_LSH_MULTIPROBE_RECALL_SQL,
    "ann_pq": Q_ANN_PQ_SQL,
    "ann_pq_recall": Q_ANN_PQ_RECALL_SQL,
    "ann_pq_refine": Q_ANN_PQ_REFINE_SQL,
    "ann_pq_refine_recall": Q_ANN_PQ_REFINE_RECALL_SQL,
    "ann_ivfpq": Q_ANN_IVFPQ_SQL,
    "ann_ivfpq_recall": Q_ANN_IVFPQ_RECALL_SQL,
    "ann_retrieval_metrics": Q_ANN_RETRIEVAL_METRICS_SQL,
    "ann_incremental": Q_ANN_INCREMENTAL_SQL,
}
