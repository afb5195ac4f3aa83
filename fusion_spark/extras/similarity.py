"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline (the shape of the reference's
dense leg, hybrid.py:101-103 — cross-score + top-k), and a deterministic
random-hyperplane LSH-bucketed variant as the scale path (search only within
matching signature buckets instead of all N docs).

All dot products stay JVM-side via zip_with/aggregate — no Python in the
hot path.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Max literal ids per In() filter in the rerank exact re-read. Parquet
# pushdown compiles an In to a left-deep or(eq, ...) chain evaluated
# recursively per batch — a few thousand values overflow the task stack
# (see ivf_cosine_topk_store). 256 keeps the pushed tree shallow while
# staying above spark.sql.parquet.pushdown.inFilterThreshold's useful
# range, so callers who raise that conf (to 257+) get precise row-group
# and dictionary pruning per chunk.
_RERANK_IN_CHUNK = 256


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def _infer_dim(e: DataFrame, what: str) -> int:
    """Vector length from the first row — one tiny driver job; pass `dim`
    explicitly to skip it. Fails loudly on an empty frame."""
    row = e.select("vec").first()
    if row is None:
        raise ValueError(f"{what}: cannot infer dim from an EMPTY embeddings frame — pass dim=")
    return len(row[0])


def _cosine_scored_vectorized(corpus: DataFrame, probe_rows: list, qid_type) -> DataFrame:
    """Vectorized per-partition cosine scorer for store-backed probes: the
    (already collected, bounded) probe rows ship by closure; each corpus
    batch is scored against its centroid's queries with NumPy instead of the
    per-pair interpreted JVM fold. Output: (qid, vec_id, cosine) — compose
    with the usual (cosine DESC, vec_id ASC) window for top-k.

    BIT-IDENTICAL to `_dot`/`_norm`'s left fold, not merely close: the
    per-element products are the same IEEE float64 multiplies (int8→double
    and float→double widenings are exact), and `np.cumsum` accumulates
    strictly left-to-right in float64 — the same rounding sequence as the
    fold. The one divergence window is the sign of an all-zero dot (the
    fold's 0.0 seed turns a leading -0.0 product into +0.0; cumsum keeps
    it), which the trailing `+ 0.0` canonicalizes the same way. Verified
    by the q8-vs-fold bit-equality test."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    by_centroid: dict = {}
    for r in probe_rows:
        by_centroid.setdefault(r["centroid"], []).append(
            (r["qid"], np.asarray(r["qvec"], dtype=np.float64))
        )
    out_schema = StructType(
        [
            StructField("qid", qid_type),
            StructField("vec_id", corpus.schema["vec_id"].dataType),
            StructField("cosine", DoubleType()),
        ]
    )

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out_qid, out_vid, out_cos = [], [], []
            for cid, grp in pdf.groupby("centroid", sort=False):
                queries = by_centroid.get(cid)
                if not queries:
                    continue
                V = np.stack(grp["vec"].to_numpy()).astype(np.float64)
                vid = grp["vec_id"].to_numpy()
                vn = np.sqrt(np.cumsum(V * V, axis=1)[:, -1])
                for qid, q in queries:
                    dots = np.cumsum(q[None, :] * V, axis=1)[:, -1] + 0.0
                    qn = np.sqrt(np.cumsum(q * q)[-1])
                    out_qid.append(np.full(len(vid), qid))
                    out_vid.append(vid)
                    out_cos.append(dots / (qn * vn))
            if out_qid:
                yield pd.DataFrame(
                    {
                        "qid": np.concatenate(out_qid),
                        "vec_id": np.concatenate(out_vid),
                        "cosine": np.concatenate(out_cos),
                    }
                )

    return corpus.mapInPandas(score, out_schema)


def _cosine_topk_ranked(joined: DataFrame, k: int) -> DataFrame:
    """Shared tail for every ANN path: exact cosine over (qid, qvec, vec_id,
    vec) candidate rows, (cosine DESC, vec_id ASC) top-k via
    WindowGroupLimit. Output: (qid, vec_id, cosine, rank)."""
    scored = joined.select(
        "qid",
        "vec_id",
        (_dot(F.col("qvec"), F.col("vec")) / (_norm(F.col("qvec")) * _norm(F.col("vec")))).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _probe_ids_udf(centroids: list[list[float]], n_probe: int):
    """Vectorized nearest-n_probe-centroids UDF (one matmul per Arrow batch;
    stable argsort → smaller centroid id probes first on ties). Shared by
    the in-memory and store-backed IVF paths so the probe rule cannot
    drift."""
    from pyspark.sql.types import ArrayType, IntegerType

    C = np.asarray(centroids, dtype=np.float64)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)

    @F.pandas_udf(ArrayType(IntegerType()))
    def probe_ids(v: pd.Series) -> pd.Series:
        M = np.stack(v.map(np.asarray).to_numpy()).astype(np.float64)
        Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        top = np.argsort(-(Mn @ Cn.T), axis=1, kind="stable")[:, :n_probe]
        return pd.Series([row.astype("int32").tolist() for row in top])

    return probe_ids


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
) -> DataFrame:
    """Exact brute-force cosine top-k: broadcast the (small) query set
    against the corpus, one pass, per-query top-k via WindowGroupLimit.
    Output: (qid, vec_id, cosine, rank).

    Norms are computed ONCE per vector in projections BELOW the cross join
    (each pair row previously re-folded both norms — |Q|× redundant work on
    the corpus side); the per-pair expression is the identical
    dot / (qnorm * vnorm) double arithmetic, so cosines are bit-identical.
    A small corpus scan arriving in fewer partitions than the session's
    parallelism (a single parquet file reads as ONE partition — the whole
    scoring pass then runs serially) is spread with a round-robin
    repartition; at real scale the scan has ≥ parallelism splits and the
    branch never fires."""
    e = embeddings.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec"))
    par = embeddings.sparkSession.sparkContext.defaultParallelism
    if embeddings.rdd.getNumPartitions() < max(par // 2, 2):
        e = e.repartition(par)
    e = e.withColumn("_vn", _norm(F.col("vec")))
    q = F.broadcast(
        queries.select(F.col(qid_col).alias("qid"), F.col(qvec_col).alias("qvec"))
        .withColumn("_qn", _norm(F.col("qvec")))
    )
    joined = q.crossJoin(e)
    scored = joined.select(
        "qid",
        "vec_id",
        (_dot(F.col("qvec"), F.col("vec")) / (F.col("_qn") * F.col("_vn"))).alias("cosine"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def auto_n_centroids(
    n_vectors: int,
    target_list_rows: int = 10_000,
    lo: int = 16,
    hi: int = 4096,
) -> int:
    """Inverted-list count from the corpus size (the auto_segment_size
    pattern, r9 verdict #4): nearest power of two to
    n_vectors / target_list_rows, clamped.

    The cost model for a DIRECTORY-partitioned store: a query reads
    n_probe · N/C rows, so bigger C reads less per probe — but each list is
    one partition directory, and below ~10k rows a list's parquet file
    drops under ~1-2 MB (small-file and listing overhead), while recall at
    a FIXED probe count falls as lists get finer. ~10k rows/list keeps
    files MB-sized at any N and, measured at 10M messy vectors (BENCH.md
    r9), lands the recall/cost point within the hand-tuned sweep's best.
    The hi clamp bounds directory count (file-listing cost) — beyond it,
    shard the store rather than splitting lists finer."""
    import math

    raw = max(n_vectors / max(target_list_rows, 1), 1)
    c = 2 ** round(math.log2(raw))
    return int(min(max(c, lo), hi))


def train_ivf_centroids(
    embeddings: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lloyd_iters: int = 2,
    train_fraction: float | None = None,
) -> list[list[float]]:
    """Deterministic IVF 'training': seed centroids = the n lowest vec_ids
    (deterministic, no RNG), refined by `lloyd_iters` k-means steps computed
    distributedly (assignment via Arrow UDF, new centroids via groupBy mean).
    Centroid count is small by design — they broadcast by closure.

    `train_fraction` trains on a uniform sample (seed-pinned) instead of
    the full corpus — the standard IVF economy: centroid quality needs
    ~10³-10⁴ vectors per centroid, not the whole 10⁷-row corpus, and each
    Lloyd step costs one assignment pass + one per-dimension mean over
    whatever frame trains. At 10M×64 dims a full step aggregates 640M
    (centroid, dim, x) rows; a 10% sample cuts the step 10× with
    near-identical centroids (BENCH.md r9 messy-mixture run)."""
    full = embeddings
    if train_fraction is not None:
        embeddings = embeddings.sample(fraction=float(train_fraction), seed=42)
    cents = [
        list(r["v"])
        for r in embeddings.select(F.col(vec_col).alias("v"))
        .orderBy(F.col(id_col))
        .limit(n_centroids)
        .collect()
    ]
    if len(cents) < n_centroids and train_fraction is not None:
        # a small corpus × small fraction can sample fewer rows than
        # centroids (or zero) — silently seeding fewer would change the
        # store layout, and an empty list crashes downstream in assign_ivf
        # with an unrelated error (r9 ADVICE). Fall back to the full frame.
        embeddings = full
        cents = [
            list(r["v"])
            for r in embeddings.select(F.col(vec_col).alias("v"))
            .orderBy(F.col(id_col))
            .limit(n_centroids)
            .collect()
        ]
    if len(cents) < n_centroids:
        raise ValueError(
            f"train_ivf_centroids: corpus has only {len(cents)} vectors but "
            f"n_centroids={n_centroids} — reduce n_centroids (auto_n_centroids "
            "sizes it from the corpus) or supply more vectors."
        )
    dim = len(cents[0])
    for _ in range(lloyd_iters):
        assigned = assign_ivf(embeddings, cents, id_col, vec_col)
        joined = assigned.join(
            embeddings.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v")), "vec_id"
        )
        # per-dimension means via posexplode ROWS (N×dim rows, partial+final
        # agg) — not N×dim COLUMNS, which blows up the plan at high dims;
        # only n_centroids×dim scalars come back to the driver
        means = (
            joined.select("centroid", F.posexplode("v").alias("d", "x"))
            .groupBy("centroid", "d")
            .agg(F.avg(F.col("x").cast("double")).alias("m"))
            .collect()
        )
        new: dict[int, list[float]] = {}
        for r in means:
            new.setdefault(r["centroid"], [0.0] * dim)[r["d"]] = r["m"]
        cents = [new.get(c, cents[c]) for c in range(len(cents))]
    return [list(map(float, np.asarray(c))) for c in cents]


def assign_ivf(
    embeddings: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, centroid): nearest centroid by cosine — one numpy matmul per
    Arrow batch (vectorized; centroids ship in the UDF closure)."""
    from pyspark.sql.types import IntegerType

    C = np.asarray(centroids, dtype=np.float64)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)

    @F.pandas_udf(IntegerType())
    def nearest(v: pd.Series) -> pd.Series:
        M = np.stack(v.map(np.asarray).to_numpy()).astype(np.float64)
        Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        return pd.Series((Mn @ Cn.T).argmax(axis=1).astype("int32"))

    return embeddings.select(
        F.col(id_col).alias("vec_id"), nearest(F.col(vec_col)).alias("centroid")
    )


def ivf_cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    centroids: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    broadcast_queries: bool = True,
    lloyd_iters: int = 2,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors are inverted-listed by nearest
    centroid; each query scans only its `n_probe` nearest centroids' lists
    (≈ n_probe/n_centroids of the corpus). At cluster scale the assignment
    is a write-time partition column, so queries prune whole partition
    directories before any file is opened. Set broadcast_queries=False for query
    batches too large to broadcast (both sides then shuffle on centroid).
    `lloyd_iters=0` keeps the deterministic seed centroids (the n lowest
    vec_ids) — no distributed float-mean state, so the result is exactly
    SQL-expressible (the driver-gate oracle uses this)."""
    if centroids is None:
        centroids = train_ivf_centroids(
            embeddings, n_centroids, id_col, vec_col, lloyd_iters=lloyd_iters
        )
    assigned = assign_ivf(embeddings, centroids, id_col, vec_col)
    corpus = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")
    ).join(assigned, "vec_id")

    # probe assignment stays DISTRIBUTED: one numpy matmul per Arrow batch
    # over the query DataFrame (no queries.collect() — a 10^7-query batch
    # must not pass through the driver; VERDICT r1 §wrong-6)
    probe_ids = _probe_ids_udf(centroids, n_probe)
    # explode_outer + null-filter: plain explode's inferred size()>0 filter
    # would re-invoke the probe UDF once more per query row
    probes = queries.select(
        F.col(qid_col).alias("qid"), F.col(qvec_col).alias("qvec")
    ).select(
        "qid", "qvec", F.explode_outer(probe_ids(F.col("qvec"))).alias("centroid")
    ).filter(F.col("centroid").isNotNull())
    if broadcast_queries:
        probes = F.broadcast(probes)
    return _cosine_topk_ranked(probes.join(corpus, "centroid"), k)


def lsh_band_keys(
    vec: Column, planes: list[list[float]], n_bands: int, band_planes: int
) -> list[Column]:
    """One packed-int key column per band: band b's key is the sign bits of
    planes [b·r, (b+1)·r). Same deterministic md5 hyperplanes as
    lsh_signature, grouped for banded (OR-amplified) candidate generation."""
    keys = []
    for b in range(n_bands):
        k = F.lit(0)
        for j in range(band_planes):
            proj = _dot(vec, F.array(*[F.lit(v) for v in planes[b * band_planes + j]]))
            k = k + F.when(proj >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        keys.append(k.cast("int"))
    return keys


def cosine_near_dups(
    embeddings: DataFrame,
    min_cosine: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "lsh",
    n_bands: int = 8,
    band_planes: int = 4,
    dim: int | None = None,
    seed: int = 42,
    buckets: DataFrame | None = None,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (vec_a, vec_b, cosine) with
    vec_a < vec_b and cosine ≥ min_cosine.

    method="lsh" (default, the scale path): banded random-hyperplane LSH —
    each vector gets n_bands keys (band_planes sign bits each); candidate
    pairs share ≥1 band key (equi-join on (band, band_key) — NO cartesian
    node in the plan, bounded by bucket sizes); candidates are then verified
    with the exact cosine. Declared semantics are LSH-candidate ∩ threshold:
    recall < 1 for pairs barely above the threshold (hyperplane collision
    prob (1 − θ/π)^band_planes per band), → 1 for true near-duplicates. The
    banding is deterministic (md5 hyperplanes), so results are reproducible
    across engines/runs.

    method="exact": brute-force all-pairs self-join — the small-N verifier
    (this IS a cartesian; never the default). Optional `buckets`
    (vec_id, bucket) restricts the exact join to same-bucket pairs for
    caller-supplied blocking."""
    e = embeddings.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec"))
    cos = lambda va, vb: (_dot(va, vb) / (_norm(va) * _norm(vb)))  # noqa: E731
    if method == "exact":
        if buckets is not None:
            e = e.join(buckets, "vec_id")
        a, b = e.alias("a"), e.alias("b")
        cond = F.col("a.vec_id") < F.col("b.vec_id")
        if buckets is not None:
            cond = cond & (F.col("a.bucket") == F.col("b.bucket"))
        pairs = a.join(b, cond).select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos(F.col("a.vec"), F.col("b.vec")).alias("cosine"),
        )
        return pairs.filter(F.col("cosine") >= min_cosine)
    if method != "lsh":
        raise ValueError(f"unknown near-dup method {method}")
    if dim is None:
        dim = _infer_dim(e, "cosine_near_dups")
    planes = _hyperplanes(dim, n_bands * band_planes, seed)
    keys = lsh_band_keys(F.col("vec"), planes, n_bands, band_planes)
    banded = e.select("vec_id", F.posexplode(F.array(*keys)).alias("band", "band_key"))
    # hot-bucket guard: an embedding mega-family (near-identical boilerplate
    # vectors) lands all members in the same band keys — star-pair oversized
    # buckets instead of the quadratic self-join (connectivity preserved)
    from fusion_spark.extras.dedup import banded_candidate_pairs

    cand = banded_candidate_pairs(
        banded, ["band", "band_key"], "vec_id", max_bucket_size
    ).select(F.col("id_a").alias("vec_a"), F.col("id_b").alias("vec_b"))
    ea = e.select(F.col("vec_id").alias("vec_a"), F.col("vec").alias("va"))
    eb = e.select(F.col("vec_id").alias("vec_b"), F.col("vec").alias("vb"))
    pairs = (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select("vec_a", "vec_b", cos(F.col("va"), F.col("vb")).alias("cosine"))
    )
    return pairs.filter(F.col("cosine") >= min_cosine)


def _q8_codes(vec_col: str) -> Column:
    """The int8 code array of `quantize_embeddings` as a bare column
    expression, so callers that only need the CODES (cosine is per-vector
    scale-invariant) attach them without a self-join."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    mx = F.array_max(F.transform(v, F.abs))
    return F.when(
        mx > 0,
        F.transform(v, lambda x: F.floor(x / (mx / F.lit(127.0)) + F.lit(0.5)).cast("tinyint")),
    ).otherwise(F.transform(v, lambda x: F.lit(0).cast("tinyint")))


def quantize_embeddings(
    embeddings: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage path for
    petabyte embedding tables (4× smaller than float32, 8× than float64):
    scale = max|x|/127, q_i = floor(x_i/scale + 0.5) (explicit half-up via
    floor — no engine rounding-mode ambiguity), zero vectors get scale 0 and
    all-zero codes. Pure JVM array expressions.
    Output: (vec_id, scale double, qvec array<tinyint>)."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    mx = F.array_max(F.transform(v, F.abs))
    scale = F.when(mx > 0, mx / F.lit(127.0)).otherwise(F.lit(0.0))
    return embeddings.select(
        F.col(id_col).alias("vec_id"), scale.alias("scale"),
        _q8_codes(vec_col).alias("qvec"),
    )


def ivf_lloyd_step_quantized(
    embeddings: DataFrame,
    n_centroids: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ONE k-means (Lloyd) refinement step, made SQL-oracle-reproducible
    (the r4 stretch): train_ivf_centroids' float means aren't cross-engine
    stable because distributed accumulation order varies — so this variant
    runs the step on int8-QUANTIZED vectors (quantize_embeddings' exact
    floor(x/scale + 0.5) codes). Every sum is then integer-valued and exact
    in double at ANY accumulation order, and each (centroid, dim) mean is
    one IEEE division with identical operands in both engines.

    Seeding rule = train_ivf_centroids (reference seeding, no RNG): the
    n_centroids lowest vec_ids' quantized vectors. Assignment = argmax
    cosine, cosine computed as dot/(nv·nc) in double (single division,
    fixed operand order), rounded to 9 dp, ties → LOWEST centroid index
    (encoded as array_max over (cos, -centroid) structs). Zero vectors get
    cosine 0 to every centroid and fall to centroid 0 by the tie-break.
    All JVM-side expressions; one shuffle for the partial+final mean.
    Output: (centroid int, dim_idx long, m double)."""
    import math

    q = quantize_embeddings(embeddings, id_col, vec_col)
    seeds = [
        [float(x) for x in r["qvec"]]
        for r in q.orderBy("vec_id").limit(n_centroids).collect()
    ]  # n_centroids × dim scalars — driver-sized by contract
    norms = [math.sqrt(sum(x * x for x in c)) for c in seeds]

    # qd/nv materialized as real columns: the per-centroid dot lambdas below
    # reference them multiple times, and a Python-side Column expression
    # would be spliced (and re-evaluated) per use (see BENCH.md plan rules)
    base = q.select(
        "vec_id", F.transform("qvec", lambda x: x.cast("double")).alias("qd")
    )
    base = base.select(
        "vec_id", "qd",
        F.sqrt(F.aggregate("qd", F.lit(0.0), lambda a, x: a + x * x)).alias("nv"),
    )

    def cos_to(c: int) -> Column:
        cvec = F.array(*[F.lit(x) for x in seeds[c]])
        dot = F.aggregate(
            F.zip_with(F.col("qd"), cvec, lambda x, y: x * y),
            F.lit(0.0), lambda a, x: a + x,
        )
        denom = F.col("nv") * F.lit(norms[c])
        return F.when(denom == 0, F.lit(0.0)).otherwise(F.round(dot / denom, 9))

    best = F.array_max(
        F.array(*[
            F.struct(cos_to(c).alias("cos"), F.lit(-c).alias("negc"))
            for c in range(len(seeds))
        ])
    )
    assigned = base.select(
        "qd", (-best["negc"]).cast("int").alias("centroid")
    )
    # posexplode_outer + null-filter: plain posexplode lets Catalyst splice
    # the full qd definition into an inferred size()>0 filter below the
    # scan, re-evaluating the quantize transform per doc (BENCH.md r4)
    ex = assigned.select(
        "centroid", F.posexplode_outer("qd").alias("dim_idx", "x")
    ).filter(F.col("x").isNotNull())
    return (
        ex.groupBy("centroid", F.col("dim_idx").cast("long").alias("dim_idx"))
        .agg(F.avg("x").alias("m"))
        .select("centroid", "dim_idx", F.round("m", 9).alias("m"))
    )


def dequantize_embeddings(quantized: DataFrame) -> DataFrame:
    """(vec_id, scale, qvec) → (vec_id, embedding array<float>): x̂_i =
    q_i · scale. Reconstruction error per element ≤ scale/2 (≤ max|x|/254)."""
    return quantized.select(
        "vec_id",
        F.transform("qvec", lambda q: (q.cast("double") * F.col("scale")).cast("float")).alias(
            "embedding"
        ),
    )


def _collect_bounded(df: DataFrame, cap: int, what: str) -> list:
    """Driver-collect with a loud smallness-contract guard (r9 verdict #7):
    the store readers ship the query batch through the driver by design (it
    broadcasts into the bucket join), so a miswired huge frame must fail
    fast with the contract named — limit(cap+1) means at most cap+1 rows
    ever reach the driver, not the whole frame."""
    rows = df.limit(cap + 1).collect()
    if len(rows) > cap:
        raise ValueError(
            f"{what}: query frame exceeds max_query_rows={cap} rows after "
            "probe expansion. The ANN store readers collect the query batch "
            "to the driver by contract (it broadcasts into the partition-"
            "pruned bucket join) — a frame this size is a corpus, not a "
            "query batch. Split it, or raise max_query_rows deliberately."
        )
    return rows


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic ±1 hyperplanes from md5 bits — no RNG state, identical
    on every executor/run."""
    planes = []
    for p in range(n_planes):
        vals = []
        for d in range(dim):
            h = hashlib.md5(f"plane:{seed}:{p}:{d}".encode()).digest()[0]
            vals.append(1.0 if h & 1 else -1.0)
        planes.append(vals)
    return planes


def _lsh_probe_sigs_udf(planes: list[list[float]], n_probe: int):
    """Multi-probe LSH (Lv et al., VLDB'07) probe-signature generator:
    a query's nearest neighbors that fall on the OTHER side of a low-margin
    hyperplane live in the bucket whose signature flips that bit, so the
    best n_probe buckets are base_sig XOR mask, ranked by the total
    |margin| of the flipped planes. Exact enumeration (2^n_planes masks —
    256 at the default 8 planes) vectorized per Arrow batch; mask 0 (cost
    0) is always first, so probe_sigs[0] == lsh_signature(vec). Stable
    sort on cost breaks ties by ascending mask for determinism.

    Flip costs are accumulated SEQUENTIALLY in ascending plane order (not
    one BLAS matmul, whose accumulation order is implementation-defined):
    the driver-gate oracle replays the same sum as a left-to-right CASE
    chain in SQL, and a near-tie at the n_probe boundary must resolve the
    same way on every platform/BLAS build (r9 ADVICE). Remaining float-tie
    assumption: the per-plane MARGINS themselves (one dot product each)
    are still one matmul here vs list_dot_product in DuckDB — a last-ulp
    margin difference could in principle flip a cost near-tie; unobserved
    in practice, and the probe rule is deterministic GIVEN the margins."""
    from pyspark.sql.types import ArrayType, LongType

    P = np.asarray(planes, dtype=np.float64)  # (B, dim)
    B = P.shape[0]
    n_probe = min(int(n_probe), 1 << B)
    masks = np.arange(1 << B, dtype=np.int64)
    bit_on = [((masks >> b) & 1).astype(bool) for b in range(B)]  # per plane

    @F.pandas_udf(ArrayType(LongType()))
    def probe_sigs(v: pd.Series) -> pd.Series:
        M = np.stack(v.map(np.asarray).to_numpy()).astype(np.float64)
        margins = M @ P.T  # (n, B)
        base = ((margins >= 0).astype(np.int64) << np.arange(B)).sum(axis=1)
        # flip cost per mask, one plane at a time in ascending plane order:
        # costs[:, m] = ((|m0| + |m1|) + |m2|) + ... over m's set bits — the
        # exact left fold the SQL oracle's CASE chain performs
        costs = np.zeros((M.shape[0], 1 << B), dtype=np.float64)
        absm = np.abs(margins)
        for b in range(B):
            costs[:, bit_on[b]] += absm[:, b : b + 1]
        order = np.argsort(costs, axis=1, kind="stable")[:, :n_probe]
        sigs = base[:, None] ^ masks[order]
        return pd.Series(list(sigs))

    return probe_sigs


def _multiprobe_capture_curve(
    qvecs: np.ndarray, planes: list[list[float]], neighbor_cosine: float
) -> np.ndarray:
    """Estimated recall of multi-probe LSH as a function of n_probe, from
    the query batch's own margin distribution — NO labels (r9 verdict #5).

    Model (Lv et al. VLDB'07 §3.2, specialized to random-hyperplane cosine
    LSH): write a neighbor of q at angle θ as x = cosθ·q̂ + sinθ·u with u a
    random unit vector ⊥ q̂. Its projection on plane p is
    cosθ·(q̂·p) + sinθ·(u·p), and u·p ≈ N(0, ‖p‖²/d), so plane b flips sign
    with probability p_b = Φ(−r_b / tanθ) where r_b = |margin_b| / (‖q‖·σ_b)
    and σ_b = ‖p‖/√d (≡ 1 for the ±1 planes used here). Treating planes as
    independent (they are, asymptotically, for random hyperplanes), the
    neighbor lands in bucket base_sig XOR m with probability
    Π_b p_b^{m_b} (1−p_b)^{1−m_b} — so the recall of probing the n cheapest
    masks is the cumulative probability they capture, averaged over queries.

    Returns capture[n] for n = 1..2^B (capture[-1] == 1 exactly: probing
    every bucket IS brute force). Masks are ranked by the SAME sequential
    flip-cost rule the probe UDF executes, so the estimate scores the probe
    sets the query will actually read — not the (slightly better)
    probability-ranked sets the model itself would pick.

    `neighbor_cosine` may be a scalar (one hypothesized neighbor angle) or
    an iterable (e.g. the per-rank mean cosines of the top-k — the curve is
    then the mean over ranks, modelling recall@k directly). Measured
    calibration at 200k clustered 64-dim vectors (BENCH.md r9): the scalar
    rank-k cosine UNDER-predicts recall at every n_probe (0.061 vs 0.155
    measured at n_probe=1 … 0.623 vs 0.628 at 32) — a conservative floor;
    the per-rank average is sharp at small n_probe (0.153/0.206 vs
    0.155/0.209 at 1/2) and over-predicts by ≤0.05 beyond (plane-
    independence approximation)."""
    import math

    try:
        cosines = [float(c) for c in neighbor_cosine]  # type: ignore[union-attr]
    except TypeError:
        cosines = [float(neighbor_cosine)]
    if len(cosines) > 1:
        curves = [
            _multiprobe_capture_curve(qvecs, planes, c) for c in cosines
        ]
        return np.mean(np.stack(curves), axis=0)
    neighbor_cosine = cosines[0]

    P = np.asarray(planes, dtype=np.float64)
    B = P.shape[0]
    d = P.shape[1]
    M = np.asarray(qvecs, dtype=np.float64)
    margins = M @ P.T  # (n, B)
    qn = np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
    sigma = np.linalg.norm(P, axis=1) / math.sqrt(d)  # (B,) == 1 for ±1 planes
    r = np.abs(margins) / (qn * sigma[None, :])
    c = float(neighbor_cosine)
    if c >= 1.0:
        flip = np.zeros_like(r)  # identical neighbor never crosses a plane
    elif c <= 0.0:
        flip = np.full_like(r, 0.5)  # ≥90° apart: signs are independent
    else:
        tan = math.sqrt(1.0 - c * c) / c
        z = -r / tan
        flip = np.vectorize(math.erf)(z / math.sqrt(2.0)) * 0.5 + 0.5
    masks = np.arange(1 << B, dtype=np.int64)
    # per-query mask probabilities: log-sum over planes, then rank by the
    # sequential flip-cost rule (MUST match _lsh_probe_sigs_udf)
    logp = np.zeros((M.shape[0], 1 << B), dtype=np.float64)
    costs = np.zeros((M.shape[0], 1 << B), dtype=np.float64)
    absm = np.abs(margins)
    with np.errstate(divide="ignore"):
        lf = np.log(np.maximum(flip, 1e-300))
        lnf = np.log(np.maximum(1.0 - flip, 1e-300))
    for b in range(B):
        on = ((masks >> b) & 1).astype(bool)
        logp[:, on] += lf[:, b : b + 1]
        logp[:, ~on] += lnf[:, b : b + 1]
        costs[:, on] += absm[:, b : b + 1]
    order = np.argsort(costs, axis=1, kind="stable")
    ranked_p = np.exp(np.take_along_axis(logp, order, axis=1))
    return np.cumsum(ranked_p, axis=1).mean(axis=0)


def choose_n_probe(
    qvecs: np.ndarray,
    planes: list[list[float]],
    target_recall: float,
    neighbor_cosine: float,
) -> int:
    """Smallest n_probe whose estimated capture (see
    `_multiprobe_capture_curve`) reaches `target_recall` for neighbors at
    `neighbor_cosine`. Clamps to 2^B (probe everything == brute force,
    capture exactly 1.0), so target_recall=1.0 always resolves."""
    curve = _multiprobe_capture_curve(qvecs, planes, neighbor_cosine)
    hits = np.flatnonzero(curve >= float(target_recall))
    return int(hits[0]) + 1 if hits.size else int(curve.size)


def _resolve_target_recall(
    qbase: DataFrame,
    planes: list[list[float]],
    target_recall: float,
    neighbor_cosine,
    what: str,
    sample_rows: int = 1024,
) -> int:
    """target_recall → n_probe for the query functions: collects a BOUNDED
    sample of query vectors (the estimator averages over queries, so 1024
    is plenty) and applies `choose_n_probe`. neighbor_cosine is mandatory —
    recall is undefined without saying WHICH neighbors count."""
    if neighbor_cosine is None:
        raise ValueError(
            f"{what}: target_recall requires neighbor_cosine — the recall "
            "target is relative to neighbors at a given similarity. "
            "Estimate it label-free with estimate_neighbor_cosine "
            "(sampled brute force), or pass domain knowledge (e.g. ~0.9 "
            "for near-duplicate lookup)."
        )
    rows = qbase.select("qvec").limit(sample_rows).collect()
    if not rows:
        return 1
    qvecs = np.asarray([list(r["qvec"]) for r in rows], dtype=np.float64)
    return choose_n_probe(qvecs, planes, target_recall, neighbor_cosine)


def estimate_neighbor_cosine(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    sample_fraction: float = 0.01,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
) -> float:
    """Label-free neighbor-cosine estimate for `target_recall`: brute-force
    top-k of the queries against a uniform corpus SAMPLE, then the mean
    cosine of the rank-k rows (the weakest neighbor the target cares
    about). The sample's k-th best approximates the full corpus's
    (k/fraction)-th best, so this UNDERESTIMATES the true k-th-neighbor
    cosine — biasing `choose_n_probe` toward MORE probes, the conservative
    direction for a recall floor. One sampled brute-force pass: cost scales
    with sample_fraction, not corpus size."""
    sample = embeddings.sample(fraction=sample_fraction, seed=seed)
    topk = cosine_topk(
        sample, queries, k=k, id_col=id_col, vec_col=vec_col,
        qid_col=qid_col, qvec_col=qvec_col,
    )
    row = topk.filter(F.col("rank") == k).agg(F.avg("cosine")).collect()[0]
    if row[0] is None:
        raise ValueError(
            "estimate_neighbor_cosine: the corpus sample produced no rank-"
            f"{k} rows (fraction {sample_fraction} too small for k={k}) — "
            "raise sample_fraction"
        )
    return float(row[0])


def lsh_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-of-projection bit per hyperplane, packed into a long."""
    bits = []
    for i, plane in enumerate(planes):
        proj = _dot(vec, F.array(*[F.lit(v) for v in plane]))
        bits.append(F.when(proj >= 0, F.lit(1 << i)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("long")


def write_lsh_store(
    embeddings: DataFrame,
    path: str,
    n_planes: int = 8,
    dim: int | None = None,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Write the corpus partitioned BY SIGNATURE (Hive-style `sig=` dirs):
    a query then reads only its own bucket's files — directory-level
    partition pruning, the on-disk form of the lsh_cosine_topk bucket join.
    Plane metadata rides in meta.json so readers derive identical sigs."""
    import json as _json
    import os as _os

    e = embeddings.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec"))
    if dim is None:
        dim = _infer_dim(e, "write_lsh_store")
    planes = _hyperplanes(dim, n_planes, seed)
    (
        e.withColumn("sig", lsh_signature(F.col("vec"), planes))
        # co-locate each signature before partitionBy: without this every
        # input task holds an open writer per signature it sees (N_tasks ×
        # 2^n_planes file churn, measured 8k+ tiny files at 100k vectors —
        # r8 bench_ann); after it each partition directory is written by
        # exactly one task. Content is unchanged, only file layout.
        .repartition("sig")
        .write.mode("overwrite")
        .partitionBy("sig")
        .parquet(f"{path}/vectors")
    )
    _os.makedirs(path, exist_ok=True)
    with open(f"{path}/meta.json", "w") as f:
        _json.dump({"n_planes": n_planes, "dim": dim, "seed": seed}, f)


def lsh_cosine_topk_store(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 1,
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    max_query_rows: int = 100_000,
    target_recall: float | None = None,
    neighbor_cosine: float | list[float] | None = None,
) -> DataFrame:
    """ANN top-k against a signature-partitioned store: query signatures are
    computed plan-side, `sig IN (...)` prunes whole partition DIRECTORIES
    before the parquet reader opens a file (PartitionFilters — asserted in
    test_plans), then the usual bucket join + exact cosine + top-k.

    `n_probe` > 1 switches to MULTI-PROBE (r8): each query also scans the
    n_probe−1 next-likeliest buckets (base signature with its lowest-
    |margin| plane bits flipped — `_lsh_probe_sigs_udf`). Measured at 10M
    vectors: recall@10 0.167 → 0.227 → 0.300 → 0.419 for n_probe 1/2/4/8
    at 0.43% → 3.4% of store bytes per query (BENCH.md r8) — a real knob,
    though on cluster-structured embeddings the IVF store reaches 0.9953
    at n_probe=1; LSH's niche is high-cosine near-dup lookup (top-1 hit
    1.0 at every probe count). n_probe=2^B reads every bucket and equals
    brute force exactly (tested).

    `target_recall` (r9 verdict #5) derives n_probe from the query batch's
    OWN margin distribution instead: the smallest probe count whose
    model-estimated capture of neighbors at `neighbor_cosine` reaches the
    target (`choose_n_probe`; measured calibration in the curve helper's
    docstring — a scalar rank-k cosine makes the target a conservative
    floor). `neighbor_cosine` is required with it (estimate it label-free
    via `estimate_neighbor_cosine`, or pass domain knowledge — e.g. ~0.9
    for near-dup lookup). target_recall=1.0 resolves to 2^B = brute force."""
    import json as _json

    with open(f"{path}/meta.json") as f:
        meta = _json.load(f)
    planes = _hyperplanes(meta["dim"], meta["n_planes"], meta["seed"])
    qbase = queries.select(F.col(qid_col).alias("qid"), F.col(qvec_col).alias("qvec"))
    if target_recall is not None:
        n_probe = _resolve_target_recall(
            qbase, planes, target_recall, neighbor_cosine, "lsh_cosine_topk_store"
        )
    if n_probe > 1:
        probe_udf = _lsh_probe_sigs_udf(planes, n_probe)
        # explode_outer + null-filter (repo explode rule): each (query,
        # probed bucket) row joins its own partition; a (qid, doc) pair
        # appears at most once since a doc lives in exactly one bucket
        q = qbase.select(
            "qid", "qvec", F.explode_outer(probe_udf(F.col("qvec"))).alias("sig")
        ).filter(F.col("sig").isNotNull())
    else:
        q = qbase.withColumn("sig", lsh_signature(F.col("qvec"), planes))
    # collect-then-literal instead of persist: the query frame is small by
    # contract (it broadcasts below), and a persist here would leak cached
    # blocks in a long-lived driver (ADVICE r2) — one collect feeds both
    # the sig set and the join side; bounded so a miswired 10^8-row frame
    # fails fast instead of OOMing the driver (r9 verdict #7)
    qrows = _collect_bounded(q, max_query_rows, "lsh_cosine_topk_store")
    qsigs = sorted({r["sig"] for r in qrows})
    q_lit = spark.createDataFrame(qrows, q.schema)
    corpus = spark.read.parquet(f"{path}/vectors").filter(F.col("sig").isin(qsigs))
    return _cosine_topk_ranked(F.broadcast(q_lit).join(corpus, "sig"), k)


def write_ivf_store(
    embeddings: DataFrame,
    path: str,
    n_centroids: int | str = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    lloyd_iters: int = 2,
    train_fraction: float | None = None,
    quantize: bool = False,
) -> None:
    """Write the corpus partitioned BY INVERTED LIST (`centroid=` dirs);
    centroids ride in meta.json. A query's n_probe lists map to directories
    — partition pruning does the 'scan only n_probe/n_centroids of the
    corpus' part at the file-listing level.

    `n_centroids="auto"` sizes the list count from the corpus (one count();
    `auto_n_centroids`: ~10k rows/list, power of two, clamped — see its
    cost model). `lloyd_iters`/`train_fraction` pass through to
    `train_ivf_centroids` when centroids are not supplied.

    `quantize=True` additionally stores a symmetric-int8 copy of each
    vector as a SIBLING COLUMN `vec_q8` (array<tinyint>, ~4× smaller than
    the float column on disk) in the same files, and sorts each list by
    vec_id for row-group locality. Cosine is per-vector scale-invariant,
    so `vec_q8` ranks WITHOUT the scale factor — a quantized search
    (`ivf_cosine_topk_store(use_quantized=True)`) column-prunes the float
    column entirely and reads ~¼ the bytes per probed list, which is the
    read-budget lever: at equal bytes it probes ~4× the lists. The r9
    messy-10M table showed recall is capture-limited (which lists you
    read), not precision-limited — that is exactly the trade this column
    buys into."""
    import json as _json
    import os as _os

    if n_centroids == "auto":
        n_centroids = auto_n_centroids(embeddings.count())
    if centroids is None:
        centroids = train_ivf_centroids(
            embeddings, int(n_centroids), id_col, vec_col,
            lloyd_iters=lloyd_iters, train_fraction=train_fraction,
        )
    assigned = assign_ivf(embeddings, centroids, id_col, vec_col)
    rows = (
        embeddings.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec"))
        .join(assigned, "vec_id")
    )
    if quantize:
        # inline column expression, NOT a quantize_embeddings self-join —
        # the codes are pure functions of the vector, so no shuffle
        rows = rows.withColumn("vec_q8", _q8_codes("vec"))
    # one task per inverted list at write time (see write_lsh_store)
    rows = rows.repartition("centroid")
    if quantize:
        rows = rows.sortWithinPartitions("vec_id")
    rows.write.mode("overwrite").partitionBy("centroid").parquet(f"{path}/vectors")
    _os.makedirs(path, exist_ok=True)
    with open(f"{path}/meta.json", "w") as f:
        _json.dump({"centroids": centroids, "quantized": bool(quantize)}, f)


def calibrate_ivf_probe_curve(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    store_fraction: float | None = None,
) -> list[float]:
    """Empirical recall@k-vs-n_probe curve for a written IVF store.

    The LSH knob (`_multiprobe_capture_curve`) is label-free because
    random hyperplanes admit a closed-form flip model; trained IVF
    geometry doesn't — its capture depends on the data and the learned
    centroids. So the IVF knob is EMPIRICAL: one exact brute-force pass
    over a small calibration query sample (the only full-store scan this
    costs, offline) labels each query's true top-k; their inverted lists
    are already stored on the vectors (`centroid` partition column), so
    recall at EVERY n_probe falls out of one membership count against the
    query's full probe ranking — no store queries are executed at all.

    curve[j-1] = expected recall@k at n_probe=j, averaged over the
    calibration queries; valid insofar as those queries are drawn from
    the production query distribution (same assumption the LSH knob's
    neighbor-cosine hypothesis encodes). Monotone, ends at exactly 1.0
    (probing all lists IS brute force).

    `store_fraction` bounds the one full-store cost this pays: the brute
    labeling pass runs over a seed-pinned uniform row sample of the store
    (the `centroid` partition column rides along, so probe-rank
    membership needs no re-assignment). The estimated quantity — the
    distribution of "which probe-rank list holds the j-th nearest
    neighbor" — is a RATIO of list captures, which uniform row sampling
    preserves in expectation; the k-th neighbor within the sample is
    farther than the true k-th, but its list membership is drawn from
    the same geometry. tools/bench_ivf_calibration_sample.py measures
    the residual against the documented 64-vs-256-query band."""
    import json as _json

    with open(f"{path}/meta.json") as f:
        centroids = _json.load(f)["centroids"]
    n_c = len(centroids)
    corpus = spark.read.parquet(f"{path}/vectors")
    if store_fraction is not None:
        if not 0.0 < store_fraction <= 1.0:
            raise ValueError(
                f"store_fraction must be in (0, 1], got {store_fraction}"
            )
        if store_fraction < 1.0:
            corpus = corpus.sample(fraction=float(store_fraction), seed=42)
    q = queries.select(F.col(qid_col).alias("qid"), F.col(qvec_col).alias("qvec"))
    truth = cosine_topk(corpus, q, k=k, id_col="vec_id", vec_col="vec")
    neigh = truth.select("qid", "vec_id").join(
        corpus.select("vec_id", "centroid"), "vec_id"
    )
    full_order = _probe_ids_udf(centroids, n_c)
    ranks = q.select("qid", full_order(F.col("qvec")).alias("probe_order"))
    rows = (
        neigh.join(ranks, "qid")
        .select(
            "qid",
            F.array_position(
                F.col("probe_order"), F.col("centroid").cast("int")
            ).alias("pos"),
        )
        .collect()
    )  # ≤ |calibration queries| × k rows
    per_q: dict = {}
    for r in rows:
        per_q.setdefault(r["qid"], []).append(int(r["pos"]))
    if not per_q:
        raise ValueError(
            "calibrate_ivf_probe_curve: no calibration queries produced "
            "neighbors — empty store or empty query sample"
        )
    curve = []
    for j in range(1, n_c + 1):
        curve.append(
            sum(
                sum(1 for p in ps if 1 <= p <= j) / len(ps)
                for ps in per_q.values()
            )
            / len(per_q)
        )
    return [round(c, 4) for c in curve]


def ivf_store_column_bytes(
    path: str, columns: list[str], probe_set: list[int] | None = None
) -> int:
    """Deterministic read-bytes model for a probed IVF-store scan, straight
    from the parquet footers: the total compressed size of the requested
    COLUMN CHUNKS in the probed `centroid=` partitions (all partitions when
    probe_set is None). This is exactly what a column-pruned,
    partition-pruned Spark scan must pull off storage — the quantity a
    100× corpus multiplies — and unlike wall-clock it has no host noise.
    Used by tools/bench_ivf_rerank.py to put recall and read budget in the
    same table."""
    import glob as _glob
    import os as _os

    import pyarrow.parquet as _pq

    want = None if probe_set is None else {int(c) for c in probe_set}
    total = 0
    for f in _glob.glob(_os.path.join(path, "vectors", "centroid=*", "*.parquet")):
        cid = int(_os.path.basename(_os.path.dirname(f)).split("=", 1)[1])
        if want is not None and cid not in want:
            continue
        md = _pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                # nested (array) columns name their leaf e.g.
                # "vec.list.element" — match on the root field name
                root = col.path_in_schema.split(".", 1)[0]
                if root in columns:
                    total += col.total_compressed_size
    return int(total)


def choose_ivf_n_probe(curve: list[float], target_recall: float) -> int:
    """Smallest n_probe whose calibrated expected recall meets the target
    (all lists — exact brute force — if the target is unreachable)."""
    if not 0.0 < target_recall <= 1.0:
        raise ValueError(f"target_recall must be in (0, 1], got {target_recall}")
    for j, r in enumerate(curve, 1):
        if r >= target_recall - 1e-12:
            return j
    return len(curve)


def ivf_cosine_topk_store(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    max_query_rows: int = 100_000,
    target_recall: float | None = None,
    probe_curve: list[float] | None = None,
    use_quantized: bool = False,
    rerank_k: int | None = None,
) -> DataFrame:
    """IVF top-k against a centroid-partitioned store: probe assignment via
    the vectorized UDF, the probe SET (≤ n_centroids ids, independent of
    query count) prunes partitions, then broadcast-join + cosine + top-k.

    `target_recall=` expresses intent instead of mechanism (the IVF
    analogue of the LSH knob): pass the store's calibrated
    `probe_curve` (from `calibrate_ivf_probe_curve`, computed once
    offline per layout) and n_probe resolves to the cheapest probe count
    whose expected recall meets the target. target_recall=1.0 probes
    every list == exact brute force.

    `use_quantized=True` (store written with `quantize=True`) scans the
    int8 `vec_q8` column INSTEAD of the float column — parquet column
    pruning makes the probed read ~4× cheaper in bytes, so the same read
    budget affords ~4× the probe count (the recall lever the r9 messy-10M
    table asked for). Cosine over the codes is the exact cosine of the
    dequantized vector (per-vector scale cancels), so the only ranking
    error is int8 rounding noise — ~1e-3 of cosine, which can flip
    near-ties at the k boundary.

    `rerank_k=C` adds the exact second stage: keep the top-C candidates
    per query by quantized score, then re-score ONLY those with the float
    column and return the exact-cosine top-k. The float read is pruned to
    the probed partitions and, because `quantize=True` sorts each list by
    vec_id, to the row groups containing candidates (In-filter pushdown —
    raise spark.sql.parquet.pushdown.inFilterThreshold above the
    candidate count, else Spark falls back to a min/max range that prunes
    nothing). With rerank_k ≥ the probed list sizes this degenerates to
    the plain float scan of the same probe set (asserted in tests)."""
    import json as _json

    if target_recall is not None:
        if probe_curve is None:
            raise ValueError(
                "target_recall= needs the store's calibrated probe_curve "
                "(calibrate_ivf_probe_curve) — trained IVF geometry has no "
                "label-free closed form (unlike the LSH capture model)"
            )
        n_probe = choose_ivf_n_probe(probe_curve, target_recall)

    with open(f"{path}/meta.json") as f:
        meta = _json.load(f)
    centroids = meta["centroids"]
    if (use_quantized or rerank_k is not None) and not meta.get("quantized"):
        raise ValueError(
            "use_quantized/rerank_k need a store written with "
            "write_ivf_store(quantize=True) — this store has no vec_q8 column"
        )
    if rerank_k is not None and not use_quantized:
        raise ValueError(
            "rerank_k is the exact second stage OVER the quantized first "
            "stage — pass use_quantized=True (a float first stage has "
            "nothing cheaper to re-rank)"
        )
    if rerank_k is not None and rerank_k < k:
        raise ValueError(f"rerank_k ({rerank_k}) must be >= k ({k})")
    probe_ids = _probe_ids_udf(centroids, n_probe)
    probes = queries.select(
        F.col(qid_col).alias("qid"), F.col(qvec_col).alias("qvec")
    ).select(
        "qid", "qvec", F.explode_outer(probe_ids(F.col("qvec"))).alias("centroid")
    ).filter(F.col("centroid").isNotNull())
    # collect-then-literal instead of persist (see lsh_cosine_topk_store):
    # one collect feeds both the probe set and the broadcast join side;
    # bounded against miswired huge frames (r9 verdict #7)
    prows = _collect_bounded(probes, max_query_rows, "ivf_cosine_topk_store")
    probe_set = sorted({r["centroid"] for r in prows})
    probes_lit = spark.createDataFrame(prows, probes.schema)
    corpus = spark.read.parquet(f"{path}/vectors").filter(F.col("centroid").isin(probe_set))
    if not use_quantized:
        return _cosine_topk_ranked(F.broadcast(probes_lit).join(corpus, "centroid"), k)

    # stage 1: rank on the int8 codes only — select BEFORE the map so the
    # scan's ReadSchema never includes the float column. The code-space
    # ranking is the CPU-bound half of the quantized trade (r10 measured
    # q8 reading 0.25× the bytes of fp yet costing 1.22× the wall): scoring
    # now runs through the vectorized NumPy kernel (one fused
    # multiply/cumsum per corpus batch) instead of the per-pair interpreted
    # JVM fold, with bit-identical cosines (see _cosine_scored_vectorized).
    q8 = corpus.select("vec_id", "centroid", F.col("vec_q8").alias("vec"))
    scored_q8 = _cosine_scored_vectorized(q8, prows, probes_lit.schema["qid"].dataType)
    wq = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    kk = k if rerank_k is None else int(rerank_k)
    approx = scored_q8.withColumn("rank", F.row_number().over(wq)).filter(
        F.col("rank") <= kk
    )
    if rerank_k is None:
        return approx

    # stage 2: exact re-score of the candidates with the float column.
    # Candidate ids are bounded by |queries| × rerank_k (queries are already
    # bounded by max_query_rows above); the literal In filter on vec_id is
    # what lets parquet prune row groups inside the probed lists.
    cand = _collect_bounded(
        approx.select("qid", "vec_id"),
        max_query_rows * max(int(rerank_k), 1),
        "ivf_cosine_topk_store(rerank)",
    )
    cand_ids = sorted({r["vec_id"] for r in cand})
    qvecs = {r["qid"]: r["qvec"] for r in prows}
    from pyspark.sql.types import StructField, StructType

    pair_schema = StructType([
        StructField("qid", probes_lit.schema["qid"].dataType),
        StructField("qvec", probes_lit.schema["qvec"].dataType),
        StructField("vec_id", corpus.schema["vec_id"].dataType),
    ])
    pairs = spark.createDataFrame(
        [(r["qid"], qvecs[r["qid"]], r["vec_id"]) for r in cand], pair_schema
    )
    # One In per ≤_RERANK_IN_CHUNK sorted ids, unioned: Spark pushes an In
    # to parquet as a LEFT-DEEP or(eq, or(eq, ...)) chain whose recursive
    # evaluation overflows the task stack once the list reaches a few
    # thousand values (hit at |queries|×rerank_k = 2,560 with
    # spark.sql.parquet.pushdown.inFilterThreshold raised above the list
    # size). Chunking caps every pushed predicate tree at chunk depth no
    # matter what the session conf says; each chunk scan keeps the
    # centroid-partition pruning from `corpus`, and sorted ids keep the
    # chunk's min/max range (the default-threshold fallback filter) tight.
    base = corpus.select("vec_id", "vec")
    if not cand_ids:  # empty store/queries: keep the (empty) output schema
        exact_corpus = base.filter(F.lit(False))
    else:
        exact_corpus = None
        for i in range(0, len(cand_ids), _RERANK_IN_CHUNK):
            part = base.filter(F.col("vec_id").isin(cand_ids[i:i + _RERANK_IN_CHUNK]))
            exact_corpus = part if exact_corpus is None else exact_corpus.unionByName(part)
    return _cosine_topk_ranked(
        F.broadcast(pairs).join(exact_corpus, "vec_id"), k
    )


def lsh_cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    n_probe: int = 1,
    target_recall: float | None = None,
    neighbor_cosine: float | list[float] | None = None,
) -> DataFrame:
    """Approximate top-k: random-hyperplane signatures bucket the corpus;
    each query scans only its own bucket (≈ N/2^n_planes docs). At cluster
    scale the corpus side is written bucketed/partitioned by `sig` so a
    query touches one partition (partition pruning), not the full table.
    `n_probe` > 1 = multi-probe (see lsh_cosine_topk_store): the query also
    scans the buckets whose signatures flip its lowest-|margin| plane bits
    — recall@10 measured 0.167 → 0.419 at 10M vectors for n_probe 1 → 8
    (BENCH.md r8 ANN table; on cluster-structured embeddings the IVF store
    still dominates at the same read budget — LSH's niche is high-cosine
    near-dup lookup, top-1 hit 1.0 at every probe count).
    `target_recall` + `neighbor_cosine` derive n_probe from the query
    batch's margin distribution instead (see lsh_cosine_topk_store)."""
    planes = _hyperplanes(dim, n_planes)
    corpus = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")
    ).withColumn("sig", lsh_signature(F.col("vec"), planes))
    qbase = queries.select(F.col(qid_col).alias("qid"), F.col(qvec_col).alias("qvec"))
    if target_recall is not None:
        n_probe = _resolve_target_recall(
            qbase, planes, target_recall, neighbor_cosine, "lsh_cosine_topk"
        )
    if n_probe > 1:
        probe_udf = _lsh_probe_sigs_udf(planes, n_probe)
        q = qbase.select(
            "qid", "qvec", F.explode_outer(probe_udf(F.col("qvec"))).alias("sig")
        ).filter(F.col("sig").isNotNull())
    else:
        q = qbase.withColumn("sig", lsh_signature(F.col("qvec"), planes))
    return _cosine_topk_ranked(F.broadcast(q).join(corpus, "sig"), k)
