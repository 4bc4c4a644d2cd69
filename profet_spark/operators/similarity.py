"""Approximate/exact nearest-neighbor search over embedding columns.

Four tiers (task mandate: similarity search as a first-class component;
N3 ivf_ann is the partition-pruned scale path and N4 pq_encode/pq_topk
the compressed-store path, both defined further below):

N1  cosine_topk — brute-force exact top-k: broadcast the (small) query set
    against the corpus, cosine per (query, corpus) pair, window top-k.
    Exact baseline + the verifier for N2. Cosines use the quantized-int64
    scheme from functions/hashing.py so values are bitwise-deterministic
    and oracle-portable.

N2  lsh_ann — random-hyperplane (sign) LSH: 64 signature bits from
    deterministic pseudo-random planes (h32-derived — no RNG state to
    ship), banded 8 x 8-bit; candidates = corpus rows sharing >=1 band
    digest with the query; exact Arrow-matmul cosine + top-k within
    candidates. Recall measured against N1 in tests.

Scale notes (100 TB corpus):
- N1 broadcasts ONLY the query side (queries are small by construction);
  the corpus is scanned once, map-side, no shuffle before the final
  per-query top-k (which AQE handles as a tiny aggregate).
- N2 broadcasts the query band digests, so candidate generation is
  map-side (zero shuffle); signatures and re-rank cosines are one int64
  matmul per Arrow batch, and only (query_id, neighbor_id, cosine) winners
  ever cross an exchange.
- N4 (pq_encode/pq_topk) stores m one-byte codes per row instead of the
  vector — the footprint cut that lets a 10^12-row embedding store live
  in executor memory; ADC scoring reads only codes + broadcast LUTs, and
  the optional exact tier re-reads vectors for CANDIDATES only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from profet_spark.functions import hashing as H

ANN_PLANES = 64  # hyperplane count (signature bits)
ANN_BANDS = 8    # 8 bands x 8 bits
ANN_BAND_BITS = 8
# The ANN operators collect the QUERY side to the driver (queries are small
# by contract — the corpus stays distributed). Guard against a caller
# passing a huge query set: fail with a clear error instead of a driver OOM.
ANN_MAX_QUERIES = 65536


def _collect_query_side(qdf: DataFrame, caller: str,
                        max_queries: int | None = None,
                        on_over: str = "raise") -> list | None:
    """Bounded collect of the quantized query rows: reads at most
    ``max_queries + 1`` rows (LIMIT pushes into the scan), so an oversized
    query side costs one cheap bounded job, not a driver OOM.

    ``on_over="none"`` returns None instead of raising — the
    ``on_large='distributed'`` auto-routing uses this so routing and
    collection share ONE bounded scan (a separate count probe would
    re-scan the query side on every small-query call)."""
    cap = ANN_MAX_QUERIES if max_queries is None else max_queries
    rows = qdf.select("id", "q", "nrm").limit(cap + 1).collect()
    if len(rows) > cap:
        if on_over == "none":
            return None
        raise ValueError(
            f"{caller}: query side exceeds {cap} rows; it is collected to "
            "the driver by design. Split the query set, raise max_queries "
            "explicitly, or swap the roles (probe the corpus in batches).")
    return rows


def _corpus_rows(corpus) -> int:
    """Row count for the IVF auto-sqrt rule: parquet-footer statistics
    when the corpus is a bare file scan (exact, zero data read — the
    Iceberg-manifest analog), else one explicit count() (documented
    fallback for derived frames; amortized over the index lifetime)."""
    from profet_spark.sources.stats import estimate_row_count

    n = estimate_row_count(corpus)
    return n if n is not None else corpus.count()


def _plane_coef(p: int, d: int) -> int:
    """Deterministic pseudo-random INTEGER coefficient in [-2^31, 2^31):
    derived from the portable md5-based hash of "plane:p:dim:d" —
    reproducible on any engine or restart without shipping RNG state.
    Integer coefficients make every plane projection an exact int64 sum
    (|q|<=~1e6+, |coef|<2^31, dim<=~1e3 stays far under 2^63), so the sign
    bit is order-insensitive: the JVM fold and a numpy matmul agree
    bitwise."""
    import hashlib
    h = int(hashlib.md5(f"plane:{p}:dim:{d}".encode()).hexdigest()[:8], 16)
    return h - 2147483648


def _planes_matrix(dim: int):
    """(ANN_PLANES, dim) int64 numpy matrix of the deterministic plane
    coefficients — the Arrow-kernel twin of :func:`_signature_bits`."""
    import numpy as np
    return np.asarray(
        [[_plane_coef(p, d) for d in range(dim)] for p in range(ANN_PLANES)],
        dtype=np.int64)


def _pack_signatures(dots_positive):
    """Pack an (n, ANN_PLANES) boolean sign matrix into signed int64
    signatures (two's complement — bit 63 set means negative, matching the
    JVM bigint form bit for bit)."""
    import numpy as np
    shifts = np.arange(ANN_PLANES, dtype=np.uint64)
    u = (dots_positive.astype(np.uint64) << shifts).sum(axis=1, dtype=np.uint64)
    return u.view(np.int64)


def _signature_bits(qvec_col: F.Column, dim: int) -> F.Column:
    """ANN_PLANES sign bits packed into a bigint: bit p = 1 iff
    dot(plane_p, q) > 0 over the QUANTIZED int64 vector. Each plane is ONE
    flat literal array folded with zip_with+aggregate — keeps the
    expression tree (and generated code) small.

    Per-row HOF *reference form* only (Spark interprets HOF lambdas per
    element — the engine's measured ~40x slow path): the production path
    computes the identical value with one int64 matmul in the Arrow
    signature kernel inside :func:`lsh_ann`; tests assert the two agree
    bitwise. Java long and numpy int64 arithmetic both wrap two's
    complement, so even a (pathological) overflow cannot diverge."""
    sig = F.lit(0).cast("bigint")
    for p in range(ANN_PLANES):
        plane = F.array(*[F.lit(_plane_coef(p, d)).cast("bigint") for d in range(dim)])
        dot = F.aggregate(
            F.zip_with(qvec_col, plane, lambda x, y: x * y),
            F.lit(0).cast("bigint"), lambda acc, x: acc + x,
        )
        bit = F.lit(-(2 ** 63) if p == 63 else (1 << p)).cast("bigint")
        sig = sig + F.when(dot > 0, bit).otherwise(F.lit(0).cast("bigint"))
    return sig


def _quantized(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Quantize + attach the exact integer norm, excluding zero-norm rows.

    A vector whose every |coord| < 0.5e-6 quantizes to all zeros; its
    direction is undefined and its cosine is 0/0 = NaN, which Spark's
    descending sort ranks FIRST (NaN > any double) while numpy's lexsort
    ranks last — so a single zero embedding would both poison top-k
    results and make the arrow/jvm strategies diverge. Contract (mirrored
    by the oracles' ``HAVING nrm > 0``): zero-norm vectors participate in
    no similarity result, as query or neighbor.

    Only (id, q, nrm) are kept: mapInPandas ships its FULL input schema
    to the Python worker (no column pruning through the black box), so
    carrying the raw float vector here would add ~a third of redundant
    Arrow transfer to every downstream sign/assign/rank kernel."""
    return df.select(
        F.col(id_col).alias("id"),
        H.quantize_vec(vec_col).alias("q"),
    ).withColumn("nrm", H.int_dot(F.col("q"), F.col("q"))).where(
        F.col("nrm") > 0)


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                id_col: str = "vec_id", vec_col: str = "embedding",
                strategy: str = "arrow",
                max_queries: int | None = None) -> DataFrame:
    """N1: exact top-k neighbors per query row by cosine similarity.

    Returns (query_id, neighbor_id, cosine, rank). Deterministic total
    order: (cosine desc, neighbor_id asc) — ties cannot reorder across
    engines because cosines are bitwise-reproducible.

    Strategies (bit-identical results, tested):
    - ``arrow`` (default): the query side (small by contract) is collected
      once and shipped as an int64 numpy matrix; a mapInPandas kernel runs
      one exact int64 matmul per Arrow batch (dot stays a true integer:
      |q|~1e6, dim<=~1e3 => |dot| < 2^53, so the float64 conversion is
      exact), keeps the per-batch top-k per query, and a final tiny
      window re-ranks batch winners. Corpus scanned once, map-side; the
      only shuffle is O(batches x queries x k) rows.
    - ``jvm``: pure-plan broadcast nested-loop + HOF integer folds — the
      engine-neutral reference form (Spark interprets HOF lambdas per
      element, so this is the slow path; kept as the oracle twin).
    """
    if strategy == "jvm":
        c = _quantized(corpus, id_col, vec_col).alias("c")
        qr = _quantized(queries, id_col, vec_col).alias("qr")
        dot = H.int_dot(F.col("qr.q"), F.col("c.q"))
        cos = H.cosine_from_quantized(dot, F.col("qr.nrm"), F.col("c.nrm"))
        pairs = (
            c.join(F.broadcast(qr), F.col("qr.id") != F.col("c.id"))
            .select(F.col("qr.id").alias("query_id"), F.col("c.id").alias("neighbor_id"),
                    cos.alias("cosine"))
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
        return (
            pairs.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
        )
    if strategy != "arrow":
        raise ValueError(f"unknown cosine_topk strategy: {strategy}")

    import numpy as np
    import pandas as pd

    id_type = dict(corpus.dtypes)[id_col]
    q_rows = _collect_query_side(
        _quantized(queries, id_col, vec_col), "cosine_topk", max_queries)
    if not q_rows:
        empty_schema = f"query_id {id_type}, neighbor_id {id_type}, cosine double"
        return corpus.sparkSession.createDataFrame([], empty_schema).withColumn(
            "rank", F.lit(1).cast("int"))
    # broadcast, don't closure-capture: a captured matrix is cloudpickled
    # into EVERY task binary (N tasks x size driver egress); a broadcast
    # variable ships once per executor
    bq = corpus.sparkSession.sparkContext.broadcast((
        [r["id"] for r in q_rows],
        np.asarray([r["q"] for r in q_rows], dtype=np.int64),
        np.asarray([r["nrm"] for r in q_rows], dtype=np.float64),
    ))

    out_schema = f"query_id {id_type}, neighbor_id {id_type}, cosine double"

    def kernel(batches):
        qids, Qm, qnrm = bq.value
        for pdf in batches:
            if pdf.empty:
                continue
            C = np.asarray([np.asarray(v, dtype=np.int64) for v in pdf["q"]])
            ids = pdf["id"].to_numpy()
            nc = pdf["nrm"].to_numpy(dtype=np.float64)
            dots = C @ Qm.T                      # exact int64, < 2^53
            cos = dots.astype(np.float64) / np.sqrt(nc[:, None] * qnrm[None, :])
            kk = min(k, len(ids))
            res = {"query_id": [], "neighbor_id": [], "cosine": []}
            for j, qid in enumerate(qids):
                col = cos[:, j].copy()
                col[ids == qid] = -np.inf        # exclude self
                # top-kk by (cosine desc, id asc); lexsort is stable,
                # last key dominates
                order = np.lexsort((ids, -col))[:kk]
                for i in order:
                    if np.isneginf(col[i]):
                        continue
                    res["query_id"].append(qid)
                    res["neighbor_id"].append(ids[i])
                    res["cosine"].append(col[i])
            yield pd.DataFrame(res)

    local = _quantized(corpus, id_col, vec_col).mapInPandas(kernel, out_schema)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return local.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def lsh_ann(corpus: DataFrame, queries: DataFrame, k: int = 5,
            id_col: str = "vec_id", vec_col: str = "embedding",
            dim: int | None = None, max_bucket: int | None = None,
            max_queries: int | None = None,
            on_large: str = "raise") -> DataFrame:
    """N2: LSH-bucketed approximate top-k (the 100 TB path).

    ``on_large`` controls the oversized-query-side behavior:
    ``"raise"`` (default) keeps the documented driver-collect contract
    and raises past ``max_queries``; ``"distributed"`` probes the bound
    first (a LIMIT-pushed count, never a collect) and transparently
    routes to :func:`lsh_ann_distributed` — identical output, no driver
    materialization of either side.

    Candidates: corpus rows sharing >=1 of the ANN_BANDS signature bands
    with the query; exact cosine + top-k among candidates. Returns the same
    schema as :func:`cosine_topk` (rank may hold fewer than k rows per
    query when buckets are sparse).

    Scale shape (64 planes, 8 bands x 8-bit digests):
    - Corpus signatures: ONE Arrow mapInPandas kernel doing an int64 matmul
      against the broadcast (64 x dim) plane matrix — no interpreted HOF
      folds in the per-row path.
    - Band probe: the query band digests (small by contract) are broadcast;
      the band equi-join is map-side, zero shuffle — an expected ~1/256 of
      the corpus collides per band on unclustered data (vs 1/16 with the
      old 4-bit digests, which degenerated to a near cross join).
    - Re-rank: candidates are exact-cosine'd per Arrow batch with the SAME
      int64 matmul kernel as cosine_topk (batch-local top-k), then a tiny
      (query_id, neighbor_id, cosine) dedup + window pick the global top-k.

    ``dim`` defaults to the query vectors' length; every corpus vector is
    asserted to match (a silent mismatch would null out projections and
    collapse all rows into one bucket — fail loudly instead).

    ``max_bucket`` drops (band, digest) buckets holding more corpus rows
    than the cap — the skew guard for duplicate-heavy corpora where one
    digest would otherwise dominate the candidate volume (narrow count agg
    + broadcast anti-join; recall loss only inside the capped buckets)."""
    import numpy as np
    import pandas as pd

    id_type = dict(corpus.dtypes)[id_col]
    spark = corpus.sparkSession

    if on_large not in ("raise", "distributed"):
        raise ValueError(f"lsh_ann: unknown on_large={on_large!r}")
    # routing and collection share one bounded scan: None = over cap
    q_rows = _collect_query_side(
        _quantized(queries, id_col, vec_col), "lsh_ann", max_queries,
        on_over="none" if on_large == "distributed" else "raise")
    if q_rows is None:
        return lsh_ann_distributed(
            corpus, queries, k=k, id_col=id_col, vec_col=vec_col,
            dim=dim, max_bucket=max_bucket)
    if not q_rows:
        empty = f"query_id {id_type}, neighbor_id {id_type}, cosine double"
        return spark.createDataFrame([], empty).withColumn("rank", F.lit(1).cast("int"))
    qids = [r["id"] for r in q_rows]
    Qm = np.asarray([r["q"] for r in q_rows], dtype=np.int64)
    qnrm = np.asarray([r["nrm"] for r in q_rows], dtype=np.float64)
    if dim is None:
        dim = Qm.shape[1]
    if Qm.shape[1] != dim:
        raise ValueError(
            f"lsh_ann: query vectors have dim {Qm.shape[1]}, expected {dim}")

    P = _planes_matrix(dim)
    qsig = _pack_signatures((Qm @ P.T) > 0).view(np.uint64)
    mask = (1 << ANN_BAND_BITS) - 1
    probes = [(b, int((int(qsig[i]) >> (ANN_BAND_BITS * b)) & mask), qid)
              for i, qid in enumerate(qids) for b in range(ANN_BANDS)]
    probe_df = spark.createDataFrame(
        probes, f"band int, digest bigint, qid {id_type}")

    # ship the plane + query matrices once per executor, not per task
    bP = spark.sparkContext.broadcast(P)
    bq = spark.sparkContext.broadcast(
        (Qm, qnrm, {qid: i for i, qid in enumerate(qids)}))

    sig_schema = f"id {id_type}, q array<bigint>, nrm bigint, sig bigint"

    def sign_kernel(batches):
        P = bP.value
        for pdf in batches:
            if pdf.empty:
                continue
            C = np.asarray([np.asarray(v, dtype=np.int64) for v in pdf["q"]])
            if C.shape[1] != dim:
                raise ValueError(
                    f"lsh_ann: corpus vector dim {C.shape[1]} != query dim {dim}")
            out = pdf[["id", "q", "nrm"]].copy()
            out["sig"] = _pack_signatures((C @ P.T) > 0)
            yield out

    signed = _quantized(corpus, id_col, vec_col).mapInPandas(sign_kernel, sig_schema)
    banded = signed.select(
        "id", "q", "nrm",
        F.explode(F.array(*[
            F.struct(F.lit(b).cast("int").alias("band"),
                     F.shiftright("sig", ANN_BAND_BITS * b)
                     .bitwiseAND(F.lit(mask)).alias("digest"))
            for b in range(ANN_BANDS)
        ])).alias("bd"),
    ).select("id", "q", "nrm", F.col("bd.band").alias("band"),
             F.col("bd.digest").alias("digest"))

    if max_bucket is not None:
        big = (banded.groupBy("band", "digest").count()
               .where(F.col("count") > max_bucket).select("band", "digest"))
        banded = banded.join(F.broadcast(big), ["band", "digest"], "left_anti")
    cand = (banded.join(F.broadcast(probe_df), ["band", "digest"])
            .where(F.col("qid") != F.col("id"))
            .select("qid", "id", "q", "nrm"))

    out_schema = f"query_id {id_type}, neighbor_id {id_type}, cosine double"

    def rank(batches):
        Qm, qnrm, qidx = bq.value
        for pdf in batches:
            if pdf.empty:
                continue
            # a corpus row's <=ANN_BANDS band matches land in the same batch
            # (no shuffle since the explode) — dedup is batch-local cheap
            pdf = pdf.drop_duplicates(subset=["qid", "id"])
            res = {"query_id": [], "neighbor_id": [], "cosine": []}
            for qid, grp in pdf.groupby("qid", sort=False):
                C = np.asarray([np.asarray(v, dtype=np.int64) for v in grp["q"]])
                ids = grp["id"].to_numpy()
                nrm = grp["nrm"].to_numpy(dtype=np.float64)
                j = qidx[qid]
                dots = C @ Qm[j]                 # exact int64, < 2^53
                cos = dots.astype(np.float64) / np.sqrt(nrm * qnrm[j])
                kk = min(k, len(ids))
                for i in np.lexsort((ids, -cos))[:kk]:
                    res["query_id"].append(qid)
                    res["neighbor_id"].append(ids[i])
                    res["cosine"].append(cos[i])
            yield pd.DataFrame(res)

    local = cand.mapInPandas(rank, out_schema)
    # cross-batch duplicates (one corpus row split across batches) carry
    # bitwise-identical cosines — dropDuplicates is a tiny narrow shuffle
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (local.dropDuplicates(["query_id", "neighbor_id"])
            .withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k))


def lsh_ann_distributed(corpus: DataFrame, queries: DataFrame, k: int = 5,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        dim: int | None = None,
                        max_bucket: int | None = None,
                        persist: bool = True) -> DataFrame:
    """N2 for LARGE query sides: fully distributed band join — neither
    side is ever collected to the driver (:func:`lsh_ann` collects the
    query side by contract and raises past ``max_queries``; this is the
    path for query sets beyond that, e.g. corpus-vs-corpus probing).

    Identical arithmetic and ranking to :func:`lsh_ann` — exact int64
    dots, the same sign-plane signatures, (cosine desc, neighbor_id asc)
    order — so the two paths return IDENTICAL rows whenever both can run
    (asserted in tests/test_similarity.py).

    Plan shape:
    - signatures on BOTH sides via the same broadcast-plane Arrow matmul
      kernel; banding drops the vectors, so the band equi-join exchanges
      only (id, band, digest) — narrow at any scale;
    - candidate (qid, cid) pairs are deduped while still narrow, THEN the
      quantized vectors are attached by two id-keyed shuffle joins (the
      one wide exchange, proportional to candidate volume, which
      ``max_bucket`` caps under skew — AQE may broadcast a small side);
    - per-batch Arrow cosine (row-wise int64 einsum) + batch-local top-k
      per query, then the global window top-k.

    ``persist``: the signed corpus table is referenced by both the band
    join and the re-rank attach; same caching convention as the dedup
    pair operators (caller may opt out and manage cache lifetime)."""
    import numpy as np
    import pandas as pd

    spark = corpus.sparkSession
    id_type = dict(corpus.dtypes)[id_col]
    out_empty = f"query_id {id_type}, neighbor_id {id_type}, cosine double"
    if dim is None:
        first = queries.select(F.size(vec_col).alias("d")).first()
        if first is None:
            return (spark.createDataFrame([], out_empty)
                    .withColumn("rank", F.lit(1).cast("int")))
        dim = int(first["d"])
    P = _planes_matrix(dim)
    bP = spark.sparkContext.broadcast(P)
    mask = (1 << ANN_BAND_BITS) - 1
    sig_schema = f"id {id_type}, q array<bigint>, nrm bigint, sig bigint"

    def sign_kernel(batches):
        Pm = bP.value
        for pdf in batches:
            if pdf.empty:
                continue
            C = np.asarray([np.asarray(v, dtype=np.int64) for v in pdf["q"]])
            if C.shape[1] != dim:
                raise ValueError(
                    f"lsh_ann_distributed: vector dim {C.shape[1]} != {dim}")
            out = pdf[["id", "q", "nrm"]].copy()
            out["sig"] = _pack_signatures((C @ Pm.T) > 0)
            yield out

    def banded_ids(signed: DataFrame, id_alias: str) -> DataFrame:
        return signed.select(
            F.col("id").alias(id_alias),
            F.explode(F.array(*[
                F.struct(F.lit(b).cast("int").alias("band"),
                         F.shiftright("sig", ANN_BAND_BITS * b)
                         .bitwiseAND(F.lit(mask)).alias("digest"))
                for b in range(ANN_BANDS)
            ])).alias("bd"),
        ).select(id_alias, F.col("bd.band").alias("band"),
                 F.col("bd.digest").alias("digest"))

    csigned = _quantized(corpus, id_col, vec_col).mapInPandas(
        sign_kernel, sig_schema)
    if persist:
        csigned = csigned.persist()
    qsigned = _quantized(queries, id_col, vec_col).mapInPandas(
        sign_kernel, sig_schema)
    if persist:
        qsigned = qsigned.persist()

    cb = banded_ids(csigned, "cid")
    if max_bucket is not None:
        big = (cb.groupBy("band", "digest").count()
               .where(F.col("count") > max_bucket).select("band", "digest"))
        cb = cb.join(F.broadcast(big), ["band", "digest"], "left_anti")
    qb = banded_ids(qsigned, "qid")
    # narrow candidate pairs, deduped BEFORE vectors are attached
    cand = (qb.join(cb, ["band", "digest"])
            .where(F.col("qid") != F.col("cid"))
            .select("qid", "cid").distinct())
    return _rank_narrow_pairs(cand, csigned, qsigned, k, out_empty)


def _rank_narrow_pairs(cand: DataFrame, csigned: DataFrame,
                       qsigned: DataFrame, k: int,
                       out_schema: str) -> DataFrame:
    """Shared tail of the distributed ANN paths: attach the quantized
    vectors to narrow (qid, cid) candidate pairs via two id-keyed joins
    (the one exchange proportional to candidate volume), per-batch exact
    int64 row-wise cosine with batch-local top-k, then the global window
    top-k. Ranking is (cosine desc, neighbor_id asc) — identical to the
    collected paths."""
    import numpy as np
    import pandas as pd

    paired = (cand
              .join(csigned.select(F.col("id").alias("cid"),
                                   F.col("q").alias("cq"),
                                   F.col("nrm").alias("cnrm")), "cid")
              .join(qsigned.select(F.col("id").alias("qid"),
                                   F.col("q").alias("qq"),
                                   F.col("nrm").alias("qnrm")), "qid"))

    def rank(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            Cq = np.asarray([np.asarray(v, dtype=np.int64) for v in pdf["cq"]])
            Qq = np.asarray([np.asarray(v, dtype=np.int64) for v in pdf["qq"]])
            dots = np.einsum("ij,ij->i", Cq, Qq)   # exact int64, < 2^53
            cos = dots.astype(np.float64) / np.sqrt(
                pdf["cnrm"].to_numpy(np.float64) * pdf["qnrm"].to_numpy(np.float64))
            out = pd.DataFrame({"query_id": pdf["qid"],
                                "neighbor_id": pdf["cid"], "cosine": cos})
            # batch-local top-k per query shrinks rows before the window
            out = (out.sort_values(["query_id", "cosine", "neighbor_id"],
                                   ascending=[True, False, True])
                   .groupby("query_id", sort=False).head(k))
            yield out

    local = paired.mapInPandas(rank, out_schema)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (local.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def _train_centroids_kmeans(qdf: DataFrame, n_centroids: int,
                            sample_size: int = 4096, n_iter: int = 15):
    """Spherical k-means (Lloyd) over a deterministic corpus sample.

    - Sample: top ``sample_size`` rows by ``(h32(id), id)`` — seed-free
      pseudo-random; the plan is TakeOrderedAndProject (per-partition
      partial top-k, tiny shuffle of winners), NOT a full sort, so the
      sampling scans the corpus once map-side at any scale.
    - Init: the first ``n_centroids`` sample rows (already hash-shuffled).
    - Lloyd: cosine assignment / mean-direction update in float64;
      an emptied cluster is reseeded to the point worst-covered by the
      current centroids (deterministic argmin of max-sim).

    Returns (Cm int64 (n_centroids, dim), cnrm float64) re-quantized into
    the engine's exact int64 cosine scheme. Iteration math is driver-side
    numpy over <= sample_size rows — bounded regardless of corpus size."""
    import numpy as np

    rows = (qdf.orderBy(H.h32(F.col("id").cast("string")), F.col("id"))
            .limit(sample_size).select("q").collect())
    if not rows:
        return np.empty((0, 0), dtype=np.int64), np.empty(0, dtype=np.float64)
    X = np.asarray([r["q"] for r in rows], dtype=np.float64)
    norms = np.sqrt((X * X).sum(axis=1))
    X = X[norms > 0] / norms[norms > 0, None]
    if len(X) == 0:
        return np.empty((0, 0), dtype=np.int64), np.empty(0, dtype=np.float64)
    k = min(n_centroids, len(X))
    C = X[:k].copy()
    for _ in range(n_iter):
        sims = X @ C.T
        labels = sims.argmax(axis=1)
        worst = sims.max(axis=1).argsort(kind="stable")  # ascending coverage
        w_i = 0
        newC = np.empty_like(C)
        for c in range(k):
            members = X[labels == c]
            m = members.mean(axis=0) if len(members) else None
            n = float(np.sqrt((m * m).sum())) if m is not None else 0.0
            if n > 0:
                newC[c] = m / n
            else:
                # empty cluster OR degenerate zero-norm mean: reseed to the
                # next worst-covered point (w_i must advance in BOTH cases
                # or two clusters would get the identical reseed)
                newC[c] = X[worst[w_i]]
                w_i += 1
        if np.allclose(newC, C):
            C = newC
            break
        C = newC
    Cm = np.floor(C * 1e6 + 0.5).astype(np.int64)
    cnrm = (Cm.astype(np.float64) ** 2).sum(axis=1)
    return Cm, cnrm


def _build_centroids(qdf: DataFrame, n_centroids: int, centroids: str,
                     sample_size: int, kmeans_iter: int):
    """Coarse-centroid build shared by the IVF paths. Returns
    (Cm int64 (c, dim), cnrm float64) — possibly empty on an empty
    corpus. Driver-side work is bounded by ``sample_size`` (kmeans) or
    ``n_centroids`` rows (lowest_id) regardless of corpus size."""
    import numpy as np

    if centroids == "kmeans":
        return _train_centroids_kmeans(
            qdf, n_centroids, sample_size=sample_size, n_iter=kmeans_iter)
    if centroids == "lowest_id":
        cent_rows = (qdf.orderBy("id").limit(n_centroids)
                     .select("q", "nrm").collect())
        if not cent_rows:
            return (np.empty((0, 0), dtype=np.int64),
                    np.empty(0, dtype=np.float64))
        return (np.asarray([r["q"] for r in cent_rows], dtype=np.int64),
                np.asarray([r["nrm"] for r in cent_rows], dtype=np.float64))
    raise ValueError(f"unknown centroids strategy: {centroids!r}")


def ivf_ann(corpus: DataFrame, queries: DataFrame, k: int = 5,
            id_col: str = "vec_id", vec_col: str = "embedding",
            n_centroids: int | str = 16, n_probe: int = 2,
            centroids: str = "kmeans", sample_size: int = 4096,
            kmeans_iter: int = 15,
            max_queries: int | None = None,
            on_large: str = "raise") -> DataFrame:
    """N3: IVF-partitioned approximate top-k — the bucket-pruned scale path.

    ``on_large`` mirrors :func:`lsh_ann`: ``"raise"`` (default) keeps the
    documented driver-collect contract; ``"distributed"`` probes the
    bound first (a LIMIT-pushed count) and transparently routes to
    :func:`ivf_ann_distributed` — identical output, no driver
    materialization of either side (requires an int ``n_centroids``).

    Inverted-file design: every corpus vector is assigned to its nearest
    coarse centroid (exact int64 cosine, deterministic first-max
    tiebreak); a query probes only its ``n_probe`` nearest centroid
    buckets, so the exact re-rank touches ~n_probe/n_centroids of the
    corpus. At warehouse scale the feature table is written PARTITIONED BY
    the centroid id, turning the probe into partition pruning at the scan
    (only the probed buckets are read at all); in-query, the broadcast
    probe join prunes rows before any cosine is computed.

    Centroid training (``centroids``):
    - ``"kmeans"`` (default): sampled spherical k-means — deterministic
      hash-ordered sample, Lloyd iterations driver-side over a bounded
      sample (see _train_centroids_kmeans). The production choice; at
      warehouse scale set ``n_centroids ~ sqrt(corpus)`` and raise
      ``sample_size`` accordingly.
    - ``"lowest_id"``: the n_centroids lowest-id vectors — the trivially
      deterministic stub, kept for comparison (tests assert kmeans recall
      beats it on clustered data).
    Assignment, probing, and re-rank are unchanged either way. Cosines are
    the exact quantized-int scheme of cosine_topk, so ranking among
    candidates is bit-identical to the brute-force baseline; recall vs N1
    is asserted in tests.

    ``n_centroids="auto"`` sets the IVF rule-of-thumb ``~sqrt(corpus)``
    cells (one count of the corpus — amortized over the index lifetime;
    at warehouse scale read the row count from table metadata instead) and
    widens ``sample_size`` to keep >=32 sample points per centroid, so the
    default cannot under-partition a large corpus.
    """
    import numpy as np
    import pandas as pd

    id_type = dict(corpus.dtypes)[id_col]
    spark = corpus.sparkSession

    if n_centroids == "auto":
        n_centroids = max(1, int(np.sqrt(_corpus_rows(corpus))))
        sample_size = max(sample_size, 32 * n_centroids)
    elif not isinstance(n_centroids, int) or isinstance(n_centroids, bool):
        raise ValueError(f"n_centroids must be an int or 'auto', got {n_centroids!r}")
    if n_centroids <= 0:
        raise ValueError(f"n_centroids must be > 0, got {n_centroids}")

    if on_large not in ("raise", "distributed"):
        raise ValueError(f"ivf_ann: unknown on_large={on_large!r}")
    # guard the (driver-collected) query side BEFORE any expensive corpus
    # work — an oversized query set must fail fast (or reroute), not
    # after k-means; routing and collection share one bounded scan
    q_rows = _collect_query_side(
        _quantized(queries, id_col, vec_col), "ivf_ann", max_queries,
        on_over="none" if on_large == "distributed" else "raise")
    if q_rows is None:
        return ivf_ann_distributed(
            corpus, queries, k=k, id_col=id_col, vec_col=vec_col,
            n_centroids=n_centroids, n_probe=n_probe,
            centroids=centroids, sample_size=sample_size,
            kmeans_iter=kmeans_iter)
    if not q_rows:
        empty = f"query_id {id_type}, neighbor_id {id_type}, cosine double"
        return spark.createDataFrame([], empty).withColumn("rank", F.lit(1).cast("int"))

    Cm, cnrm = _build_centroids(
        _quantized(corpus, id_col, vec_col), n_centroids, centroids,
        sample_size, kmeans_iter)
    if len(Cm) == 0:
        empty = f"query_id {id_type}, neighbor_id {id_type}, cosine double"
        return spark.createDataFrame([], empty).withColumn(
            "rank", F.lit(1).cast("int"))

    def _cos_to_centroids(Q, qnrm, Cm=Cm, cnrm=cnrm):
        dots = Q @ Cm.T
        return dots.astype(np.float64) / np.sqrt(qnrm[:, None] * cnrm[None, :])

    assign_schema = f"id {id_type}, q array<bigint>, nrm bigint, cid int"

    # centroid matrix: once per executor via broadcast, not per task
    bc = spark.sparkContext.broadcast((Cm, cnrm))

    def assign(batches):
        Cm, cnrm = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            Q = np.asarray([np.asarray(v, dtype=np.int64) for v in pdf["q"]])
            nrm = pdf["nrm"].to_numpy(dtype=np.float64)
            dots = Q @ Cm.T
            cos = dots.astype(np.float64) / np.sqrt(nrm[:, None] * cnrm[None, :])
            # np.argmax returns the FIRST max — lowest centroid id on ties
            pdf = pdf[["id", "q", "nrm"]].copy()
            pdf["cid"] = np.argmax(cos, axis=1).astype("int32")
            yield pdf

    assigned = _quantized(corpus, id_col, vec_col).mapInPandas(assign, assign_schema)

    qids = [r["id"] for r in q_rows]
    Qm = np.asarray([r["q"] for r in q_rows], dtype=np.int64)
    qnrm = np.asarray([r["nrm"] for r in q_rows], dtype=np.float64)
    qcos = _cos_to_centroids(Qm, qnrm)
    probes = []
    for i, qid in enumerate(qids):
        order = np.argsort(-qcos[i], kind="stable")[:n_probe]
        probes += [(qid, int(c)) for c in order]
    probe_df = spark.createDataFrame(probes, f"qid {id_type}, cid int")

    cand = assigned.join(F.broadcast(probe_df), "cid").select(
        F.col("qid"), F.col("id"), F.col("q"), F.col("nrm"))

    out_schema = f"query_id {id_type}, neighbor_id {id_type}, cosine double"

    # query matrix: once per executor via broadcast, not per task
    bq = spark.sparkContext.broadcast(
        (Qm, qnrm, {qid: i for i, qid in enumerate(qids)}))

    def rank(batches):
        Qm, qnrm, qidx = bq.value
        for pdf in batches:
            if pdf.empty:
                continue
            res = {"query_id": [], "neighbor_id": [], "cosine": []}
            for qid, grp in pdf.groupby("qid", sort=False):
                C = np.asarray([np.asarray(v, dtype=np.int64) for v in grp["q"]])
                ids = grp["id"].to_numpy()
                nrm = grp["nrm"].to_numpy(dtype=np.float64)
                j = qidx[qid]
                dots = C @ Qm[j]
                cos = dots.astype(np.float64) / np.sqrt(nrm * qnrm[j])
                cos[ids == qid] = -np.inf
                kk = min(k, len(ids))
                for i in np.lexsort((ids, -cos))[:kk]:
                    if np.isneginf(cos[i]):
                        continue
                    res["query_id"].append(qid)
                    res["neighbor_id"].append(ids[i])
                    res["cosine"].append(cos[i])
            yield pd.DataFrame(res)

    local = cand.mapInPandas(rank, out_schema)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return local.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def ivf_ann_distributed(corpus: DataFrame, queries: DataFrame, k: int = 5,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        n_centroids: int = 16, n_probe: int = 2,
                        centroids: str = "kmeans", sample_size: int = 4096,
                        kmeans_iter: int = 15,
                        persist: bool = True) -> DataFrame:
    """N3 for LARGE query sides: fully distributed IVF probing — neither
    corpus nor queries is collected to the driver (:func:`ivf_ann`
    collects the query side by contract and raises past ``max_queries``;
    this is the path for corpus-vs-corpus probing). The only driver-side
    steps are the bounded centroid build (``sample_size`` rows — the
    index-construction cost, shared with ivf_ann) and nothing else.

    Identical assignment (argmax exact-int cosine, first-max tiebreak),
    probe selection (stable argsort, top ``n_probe``), and ranking
    (cosine desc, neighbor_id asc) to :func:`ivf_ann`, so the two paths
    return IDENTICAL rows whenever both can run (asserted in tests).

    Plan shape:
    - centroid matrix broadcast once per executor; corpus AND query
      assignment are map-side Arrow matmuls against it;
    - probe pairs (qid, cid) are exploded narrow — n_probe rows per
      query, vectors dropped;
    - candidates come from the (cid)-keyed equi-join of probe pairs with
      the corpus assignment projected to (cid, id) — still narrow; each
      (query, corpus row) pair occurs at most once (a corpus row lives in
      exactly one cell), so no dedup is needed;
    - vectors are attached and ranked by the shared
      :func:`_rank_narrow_pairs` tail. Hot-cell skew is bounded by
      sizing ``n_centroids ~ sqrt(corpus)`` (cells ~ sqrt(n) rows) and
      falls under AQE's skew-join handling on the attach joins.
    """
    import numpy as np

    spark = corpus.sparkSession
    id_type = dict(corpus.dtypes)[id_col]
    out_schema = f"query_id {id_type}, neighbor_id {id_type}, cosine double"

    # same n_centroids contract as ivf_ann (0 would otherwise return an
    # empty result silently via limit(0) on the lowest_id path)
    if n_centroids == "auto":
        n_centroids = max(1, int(np.sqrt(_corpus_rows(corpus))))
        sample_size = max(sample_size, 32 * n_centroids)
    elif not isinstance(n_centroids, int) or isinstance(n_centroids, bool):
        raise ValueError(
            f"n_centroids must be an int or 'auto', got {n_centroids!r}")
    if n_centroids <= 0:
        raise ValueError(f"n_centroids must be > 0, got {n_centroids}")

    Cm, cnrm = _build_centroids(
        _quantized(corpus, id_col, vec_col), n_centroids, centroids,
        sample_size, kmeans_iter)
    if len(Cm) == 0:
        return (spark.createDataFrame([], out_schema)
                .withColumn("rank", F.lit(1).cast("int")))
    bc = spark.sparkContext.broadcast((Cm, cnrm))
    n_pr = min(n_probe, len(Cm))

    def assign_kernel(n_cells):
        """Arrow matmul against the broadcast centroids; top-``n_cells``
        cell ids per row (first-max/stable order — bit-identical to the
        collected path's np.argmax / stable argsort)."""
        def kernel(batches):
            Cm, cnrm = bc.value
            for pdf in batches:
                if pdf.empty:
                    continue
                Q = np.asarray([np.asarray(v, dtype=np.int64)
                                for v in pdf["q"]])
                nrm = pdf["nrm"].to_numpy(dtype=np.float64)
                cos = (Q @ Cm.T).astype(np.float64) / np.sqrt(
                    nrm[:, None] * cnrm[None, :])
                out = pdf[["id", "q", "nrm"]].copy()
                if n_cells == 1:
                    out["cids"] = [[int(c)] for c in np.argmax(cos, axis=1)]
                else:
                    order = np.argsort(-cos, axis=1, kind="stable")
                    out["cids"] = [[int(c) for c in row[:n_cells]]
                                   for row in order]
                yield out
        return kernel

    sig_schema = f"id {id_type}, q array<bigint>, nrm bigint, cids array<int>"
    csigned = _quantized(corpus, id_col, vec_col).mapInPandas(
        assign_kernel(1), sig_schema)
    if persist:
        csigned = csigned.persist()
    qsigned = _quantized(queries, id_col, vec_col).mapInPandas(
        assign_kernel(n_pr), sig_schema)
    if persist:
        qsigned = qsigned.persist()

    probes = qsigned.select(F.col("id").alias("qid"),
                            F.explode("cids").alias("cid"))
    corpus_cells = csigned.select(F.col("id").alias("cand_id"),
                                  F.element_at("cids", 1).alias("cid"))
    cand = (probes.join(corpus_cells, "cid")
            .where(F.col("qid") != F.col("cand_id"))
            .select("qid", F.col("cand_id").alias("cid")))
    return _rank_narrow_pairs(cand, csigned, qsigned, k, out_schema)


def _train_pq_codebooks(qd: DataFrame, m: int, n_codes: int,
                        strategy: str, sample_size: int, kmeans_iter: int):
    """Per-subspace PQ codebooks over the quantized corpus.

    Returns int64 ndarray (m, c, d_sub) — integer codebook entries keep
    every downstream encode/ADC distance an EXACT int64 sum.

    - ``"kmeans"`` (production): plain-L2 Lloyd per subspace over the
      same deterministic hash-ordered sample as _train_centroids_kmeans;
      means are re-quantized floor(x+0.5) so the trained codebook is
      integer too. Empty clusters reseed to the point worst-covered by
      the current codebook (deterministic argmax of min-distance).
    - ``"lowest_id"``: the subvectors of the n_codes lowest-id vectors in
      id order (code = id rank) — the bit-exact SQL-oracle strategy,
      same convention as the IVF/SemDeDup lowest_id centroids.
    """
    import numpy as np

    if strategy == "lowest_id":
        rows = qd.orderBy("id").limit(n_codes).select("q").collect()
        if not rows:
            return np.empty((m, 0, 0), dtype=np.int64)
        X = np.asarray([r["q"] for r in rows], dtype=np.int64)
        return np.ascontiguousarray(
            X.reshape(len(X), m, -1).transpose(1, 0, 2))
    if strategy != "kmeans":
        raise ValueError(f"unknown PQ codebooks strategy: {strategy!r}")
    rows = (qd.orderBy(H.h32(F.col("id").cast("string")), F.col("id"))
            .limit(sample_size).select("q").collect())
    if not rows:
        return np.empty((m, 0, 0), dtype=np.int64)
    X = np.asarray([r["q"] for r in rows], dtype=np.float64)
    S = X.reshape(len(X), m, -1)
    c = min(n_codes, len(X))
    books = []
    for s in range(m):
        Xs = S[:, s, :]
        C = Xs[:c].copy()
        for _ in range(kmeans_iter):
            d2 = ((Xs[:, None, :] - C[None, :, :]) ** 2).sum(-1)
            labels = d2.argmin(axis=1)            # first-min: lowest code
            worst = d2.min(axis=1).argsort(kind="stable")[::-1]  # desc cover
            w_i = 0
            newC = np.empty_like(C)
            for j in range(c):
                members = Xs[labels == j]
                if len(members):
                    newC[j] = members.mean(axis=0)
                else:
                    newC[j] = Xs[worst[w_i]]
                    w_i += 1
            if np.allclose(newC, C):
                C = newC
                break
            C = newC
        books.append(np.floor(C + 0.5).astype(np.int64))
    return np.ascontiguousarray(np.stack(books))


def _pq_subspace_d2(Cs, CBs):
    """Exact int64 squared-L2 of every row of Cs (b, d) to every codebook
    entry of CBs (c, d): ||a||^2 + ||b||^2 - 2ab via one integer matmul."""
    import numpy as np

    cn = (Cs * Cs).sum(axis=1)
    bn = (CBs * CBs).sum(axis=1)
    return cn[:, None] + bn[None, :] - 2 * (Cs @ CBs.T)


def pq_encode(corpus: DataFrame, id_col: str = "vec_id",
              vec_col: str = "embedding", m: int = 8, n_codes: int = 256,
              codebooks: str = "kmeans", sample_size: int = 4096,
              kmeans_iter: int = 15) -> DataFrame:
    """N4: product-quantization encoding — the compressed embedding store.

    Splits each quantized vector into ``m`` subspaces and stores only the
    index of the nearest codebook entry per subspace: ``m`` small ints
    (bytes at n_codes<=256) instead of ``dim*4`` float bytes per row — a
    ~64x footprint cut for dim=64 float32 at m=8, the difference between
    an embedding store that fits executor memory at 10^12 rows and one
    that doesn't (Jegou et al. 2011, "Product quantization for nearest
    neighbor search").

    Plan: codebooks ride ONE broadcast variable (m*c*d_sub int64 —
    ~128 KB at the defaults); encoding is one Arrow mapInPandas kernel
    (exact int64 d2 via the matmul identity, argmin ties -> lowest
    code), zero shuffle, zero data-sized driver state. Output:
    ``(id, codes array<int>)``. Zero-norm vectors are excluded (the
    engine-wide _quantized contract).
    """
    import numpy as np
    import pandas as pd

    qd = _quantized(corpus, id_col, vec_col)
    first = qd.select(F.size("q").alias("d")).first()
    if first is None:
        return corpus.sparkSession.createDataFrame(
            [], f"id {dict(corpus.dtypes)[id_col]}, codes array<int>")
    dim = int(first["d"])
    if dim % m != 0:
        raise ValueError(f"pq_encode: dim {dim} not divisible by m={m}")
    CB = _train_pq_codebooks(qd, m, n_codes, codebooks,
                             sample_size, kmeans_iter)
    bcb = corpus.sparkSession.sparkContext.broadcast(CB)
    id_type = dict(corpus.dtypes)[id_col]

    def kernel(batches):
        CB = bcb.value
        for pdf in batches:
            if pdf.empty:
                continue
            C = np.asarray([np.asarray(v, dtype=np.int64) for v in pdf["q"]])
            S = C.reshape(len(C), m, -1)
            codes = np.empty((len(C), m), dtype=np.int32)
            for s in range(m):
                codes[:, s] = _pq_subspace_d2(S[:, s, :], CB[s]).argmin(axis=1)
            out = pdf[["id"]].copy()
            out["codes"] = list(codes)
            yield out

    return qd.mapInPandas(kernel, f"id {id_type}, codes array<int>")


def pq_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
            id_col: str = "vec_id", vec_col: str = "embedding",
            m: int = 8, n_codes: int = 256, codebooks: str = "kmeans",
            sample_size: int = 4096, kmeans_iter: int = 15,
            rerank: int = 0, max_queries: int | None = None) -> DataFrame:
    """N4: asymmetric-distance (ADC) top-k over the PQ-compressed corpus.

    Per query, distance to a corpus row is approximated as the sum over
    subspaces of the EXACT int64 squared-L2 between the query subvector
    and the row's codebook entry — the classic ADC lookup: each query
    ships one (m x c) int64 table, scoring a row is m integer gathers,
    and the raw corpus vectors are never touched after encoding.

    Determinism contract (same as N1-N3): every distance is an exact
    integer, ranking is (dist asc, neighbor_id asc), encode/LUT argmins
    tie to the lowest code — so with ``codebooks='lowest_id'`` the whole
    operator reproduces in SQL bit for bit, approximation and all.

    Plan: queries driver-collected (bounded; ``max_queries`` raises past
    the cap), LUTs broadcast (queries x m x c ints); ONE encode kernel +
    ONE scoring kernel over the corpus, per-batch top-k, final tiny
    window over O(batches x queries x k) rows. ``rerank=R > 0`` adds the
    exact tier: the ADC top-R candidates per query are re-scored with
    the exact full-dim int64 L2 (broadcast-semi join back to the
    quantized vectors — only candidates are ever re-read) and the top-k
    re-cut; output ``dist`` is then the exact distance.

    Output: ``(query_id, neighbor_id, dist bigint, rank)``; self matches
    excluded. Squared-L2 ranking (the PQ-native metric), not cosine —
    recall vs the exact-L2 brute force is pytest-asserted.
    """
    import numpy as np
    import pandas as pd

    if rerank and rerank < k:
        raise ValueError(f"pq_topk: rerank={rerank} must be >= k={k}")
    id_type = dict(corpus.dtypes)[id_col]
    spark = corpus.sparkSession
    out_schema = f"query_id {id_type}, neighbor_id {id_type}, dist bigint"
    empty = lambda: spark.createDataFrame([], out_schema).withColumn(  # noqa: E731
        "rank", F.lit(1).cast("int"))

    q_rows = _collect_query_side(
        _quantized(queries, id_col, vec_col), "pq_topk", max_queries)
    if not q_rows:
        return empty()
    qd = _quantized(corpus, id_col, vec_col)
    first = qd.select(F.size("q").alias("d")).first()
    if first is None:
        return empty()
    dim = int(first["d"])
    if dim % m != 0:
        raise ValueError(f"pq_topk: dim {dim} not divisible by m={m}")
    CB = _train_pq_codebooks(qd, m, n_codes, codebooks,
                             sample_size, kmeans_iter)
    if CB.shape[1] == 0:
        return empty()

    qids = [r["id"] for r in q_rows]
    Qm = np.asarray([r["q"] for r in q_rows], dtype=np.int64)
    QS = Qm.reshape(len(Qm), m, -1)
    # LUT[j, s, c] = exact d2(query_j subvector s, codebook entry c)
    LUT = np.stack([np.stack([_pq_subspace_d2(QS[j:j + 1, s, :], CB[s])[0]
                              for s in range(m)])
                    for j in range(len(qids))])

    bcb = spark.sparkContext.broadcast(CB)
    blut = spark.sparkContext.broadcast((qids, LUT))
    topn = rerank if rerank else k

    def score(batches):
        CB = bcb.value
        qids, LUT = blut.value
        sidx = np.arange(m)
        for pdf in batches:
            if pdf.empty:
                continue
            C = np.asarray([np.asarray(v, dtype=np.int64) for v in pdf["q"]])
            ids = pdf["id"].to_numpy()
            S = C.reshape(len(C), m, -1)
            codes = np.empty((len(C), m), dtype=np.int64)
            for s in range(m):
                codes[:, s] = _pq_subspace_d2(S[:, s, :], CB[s]).argmin(axis=1)
            res = {"query_id": [], "neighbor_id": [], "dist": []}
            for j, qid in enumerate(qids):
                adc = LUT[j][sidx[None, :], codes].sum(axis=1)
                mask = ids != qid                   # exclude self
                mids, madc = ids[mask], adc[mask]
                nn = min(topn, len(mids))
                order = np.lexsort((mids, madc))[:nn]
                res["query_id"] += [qid] * nn
                res["neighbor_id"] += list(mids[order])
                res["dist"] += [int(x) for x in madc[order]]
            yield pd.DataFrame(res)

    local = qd.mapInPandas(score, out_schema)
    w = Window.partitionBy("query_id").orderBy(F.asc("dist"),
                                               F.asc("neighbor_id"))
    adc_top = local.withColumn("rank", F.row_number().over(w)) \
                   .where(F.col("rank") <= topn)
    if not rerank:
        return adc_top.where(F.col("rank") <= k)

    # exact tier: re-score the ADC top-R with full-dim int64 L2 — only
    # candidate vectors are re-read (broadcast semi join), then re-cut
    cand_ids = adc_top.select(F.col("neighbor_id").alias("id")).distinct()
    qcand = qd.join(F.broadcast(cand_ids), "id", "left_semi")
    bq = spark.sparkContext.broadcast(
        (Qm, {qid: i for i, qid in enumerate(qids)}))

    def exact(batches):
        Qm, _ = bq.value
        for pdf in batches:
            if pdf.empty:
                continue
            C = np.asarray([np.asarray(v, dtype=np.int64) for v in pdf["q"]])
            qi = pdf["qi"].to_numpy(dtype=np.int64)
            diffs = C - Qm[qi]
            d2 = (diffs * diffs).sum(axis=1)
            yield pd.DataFrame({"query_id": pdf["query_id"],
                                "neighbor_id": pdf["neighbor_id"],
                                "dist": [int(x) for x in d2]})

    pairs = (adc_top.select("query_id", "neighbor_id")
             .join(qcand.withColumnRenamed("id", "neighbor_id"),
                   "neighbor_id"))
    qi_map = F.create_map(*[x for i, qid in enumerate(qids)
                            for x in (F.lit(qid), F.lit(i))])
    pairs = pairs.withColumn("qi", qi_map[F.col("query_id")].cast("int"))
    exact_scored = pairs.mapInPandas(exact, out_schema)
    return (exact_scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def ivf_pq_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                id_col: str = "vec_id", vec_col: str = "embedding",
                n_centroids: int = 16, n_probe: int = 2,
                m: int = 8, n_codes: int = 256,
                coarse: str = "kmeans", codebooks: str = "kmeans",
                sample_size: int = 4096, kmeans_iter: int = 15,
                rerank: int = 0, max_queries: int | None = None) -> DataFrame:
    """N4×N3: IVF-PQ — coarse cell pruning over the PQ-compressed store,
    the FAISS-IVFADC shape for web-scale ANN (Jegou et al. 2011).

    One zero-shuffle Arrow pass assigns every corpus row to its nearest
    coarse centroid (exact int64 L2, ties -> lowest cid) AND encodes it
    to m codebook bytes; a query then scores ONLY the rows of its
    ``n_probe`` nearest cells, by ADC lookups against its broadcast LUT.
    At warehouse scale the (cid, codes) table is written PARTITIONED BY
    cid, so probing is partition pruning at the scan and the scored
    bytes are ``n_probe/n_centroids`` of an already ~64x-compressed
    store.

    Design notes:
    - The coarse quantizer is the PQ machinery at m=1 (one full-dim L2
      codebook): ``coarse='kmeans'`` full-dim Lloyd, ``'lowest_id'`` for
      the bit-exact SQL oracle — the same determinism conventions as
      every N-tier operator (first-min ties, exact int64 distances).
    - Codes quantize the RAW vectors (shared codebooks across cells),
      not per-cell residuals — one codebook broadcast, one oracle-exact
      arithmetic path; the classic residual refinement is superseded
      here by the ``rerank`` exact tier, which re-reads only candidate
      vectors (broadcast semi join) and replaces ``dist`` with the exact
      full-dim int64 L2.

    Output: ``(query_id, neighbor_id, dist bigint, rank)``; self matches
    excluded; recall vs exact-L2 brute force pytest-asserted.
    """
    import numpy as np
    import pandas as pd

    if rerank and rerank < k:
        raise ValueError(f"ivf_pq_topk: rerank={rerank} must be >= k={k}")
    id_type = dict(corpus.dtypes)[id_col]
    spark = corpus.sparkSession
    out_schema = f"query_id {id_type}, neighbor_id {id_type}, dist bigint"
    empty = lambda: spark.createDataFrame([], out_schema).withColumn(  # noqa: E731
        "rank", F.lit(1).cast("int"))

    q_rows = _collect_query_side(
        _quantized(queries, id_col, vec_col), "ivf_pq_topk", max_queries)
    if not q_rows:
        return empty()
    qd = _quantized(corpus, id_col, vec_col)
    first = qd.select(F.size("q").alias("d")).first()
    if first is None:
        return empty()
    dim = int(first["d"])
    if dim % m != 0:
        raise ValueError(f"ivf_pq_topk: dim {dim} not divisible by m={m}")
    # coarse quantizer == the PQ trainer at m=1: ONE full-dim L2 codebook
    CC = _train_pq_codebooks(qd, 1, n_centroids, coarse,
                             sample_size, kmeans_iter)[0]
    CB = _train_pq_codebooks(qd, m, n_codes, codebooks,
                             sample_size, kmeans_iter)
    if len(CC) == 0 or CB.shape[1] == 0:
        return empty()

    qids = [r["id"] for r in q_rows]
    Qm = np.asarray([r["q"] for r in q_rows], dtype=np.int64)
    QS = Qm.reshape(len(Qm), m, -1)
    LUT = np.stack([np.stack([_pq_subspace_d2(QS[j:j + 1, s, :], CB[s])[0]
                              for s in range(m)])
                    for j in range(len(qids))])
    # probe: n_probe nearest cells per query, exact int64 L2, stable order
    qc = _pq_subspace_d2(Qm, CC)                 # (nq, n_centroids)
    probes = []
    for j in range(len(qids)):
        order = np.argsort(qc[j], kind="stable")[:n_probe]
        probes.append(set(int(c) for c in order))

    bcb = spark.sparkContext.broadcast((CC, CB))
    blut = spark.sparkContext.broadcast((qids, LUT, probes))
    topn = rerank if rerank else k

    def score(batches):
        CC, CB = bcb.value
        qids, LUT, probes = blut.value
        sidx = np.arange(m)
        for pdf in batches:
            if pdf.empty:
                continue
            C = np.asarray([np.asarray(v, dtype=np.int64) for v in pdf["q"]])
            ids = pdf["id"].to_numpy()
            cids = _pq_subspace_d2(C, CC).argmin(axis=1)  # coarse assign
            S = C.reshape(len(C), m, -1)
            codes = np.empty((len(C), m), dtype=np.int64)
            for s in range(m):
                codes[:, s] = _pq_subspace_d2(S[:, s, :], CB[s]).argmin(axis=1)
            res = {"query_id": [], "neighbor_id": [], "dist": []}
            for j, qid in enumerate(qids):
                mask = np.fromiter((int(c) in probes[j] for c in cids),
                                   dtype=bool, count=len(cids))
                mask &= ids != qid               # exclude self
                if not mask.any():
                    continue
                mids = ids[mask]
                adc = LUT[j][sidx[None, :], codes[mask]].sum(axis=1)
                nn = min(topn, len(mids))
                order = np.lexsort((mids, adc))[:nn]
                res["query_id"] += [qid] * nn
                res["neighbor_id"] += list(mids[order])
                res["dist"] += [int(x) for x in adc[order]]
            yield pd.DataFrame(res)

    local = qd.mapInPandas(score, out_schema)
    w = Window.partitionBy("query_id").orderBy(F.asc("dist"),
                                               F.asc("neighbor_id"))
    adc_top = local.withColumn("rank", F.row_number().over(w)) \
                   .where(F.col("rank") <= topn)
    if not rerank:
        return adc_top.where(F.col("rank") <= k)
    cand_ids = adc_top.select(F.col("neighbor_id").alias("id")).distinct()
    qcand = qd.join(F.broadcast(cand_ids), "id", "left_semi")
    bq = spark.sparkContext.broadcast(Qm)

    def exact(batches):
        Qm = bq.value
        for pdf in batches:
            if pdf.empty:
                continue
            C = np.asarray([np.asarray(v, dtype=np.int64) for v in pdf["q"]])
            qi = pdf["qi"].to_numpy(dtype=np.int64)
            diffs = C - Qm[qi]
            d2 = (diffs * diffs).sum(axis=1)
            yield pd.DataFrame({"query_id": pdf["query_id"],
                                "neighbor_id": pdf["neighbor_id"],
                                "dist": [int(x) for x in d2]})

    pairs = (adc_top.select("query_id", "neighbor_id")
             .join(qcand.withColumnRenamed("id", "neighbor_id"),
                   "neighbor_id"))
    qi_map = F.create_map(*[x for i, qid in enumerate(qids)
                            for x in (F.lit(qid), F.lit(i))])
    pairs = pairs.withColumn("qi", qi_map[F.col("query_id")].cast("int"))
    return (pairs.mapInPandas(exact, out_schema)
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def ivf_pq_encode(corpus: DataFrame, id_col: str = "vec_id",
                  vec_col: str = "embedding",
                  n_centroids: int = 16, m: int = 8, n_codes: int = 256,
                  coarse: str = "kmeans", codebooks: str = "kmeans",
                  sample_size: int = 4096,
                  kmeans_iter: int = 15) -> DataFrame:
    """N4×N3 index build: the persistable IVF-PQ table — ``(id, cid int,
    codes array<int>)`` from ONE zero-shuffle Arrow pass (coarse exact-L2
    assignment + PQ encoding, the same kernel head as ivf_pq_topk).

    This is the artifact a warehouse persists:
    ``ivf_pq_encode(corpus).write.partitionBy('cid').parquet(root)`` —
    probing n_probe cells then becomes DIRECTORY pruning at the scan
    (PartitionFilters; executed in tests), and each pruned file holds m
    one-byte codes per row instead of the vector. Codebooks are
    deterministic (seed-free kmeans / lowest_id), so an index rebuilt
    tomorrow on the same data is byte-identical — the S7/S10 idempotent
    maintenance story applies unchanged.
    """
    import numpy as np
    import pandas as pd

    qd = _quantized(corpus, id_col, vec_col)
    first = qd.select(F.size("q").alias("d")).first()
    id_type = dict(corpus.dtypes)[id_col]
    out_schema = f"id {id_type}, cid int, codes array<int>"
    if first is None:
        return corpus.sparkSession.createDataFrame([], out_schema)
    dim = int(first["d"])
    if dim % m != 0:
        raise ValueError(f"ivf_pq_encode: dim {dim} not divisible by m={m}")
    CC = _train_pq_codebooks(qd, 1, n_centroids, coarse,
                             sample_size, kmeans_iter)[0]
    CB = _train_pq_codebooks(qd, m, n_codes, codebooks,
                             sample_size, kmeans_iter)
    bcb = corpus.sparkSession.sparkContext.broadcast((CC, CB))

    def kernel(batches):
        CC, CB = bcb.value
        for pdf in batches:
            if pdf.empty:
                continue
            C = np.asarray([np.asarray(v, dtype=np.int64) for v in pdf["q"]])
            S = C.reshape(len(C), m, -1)
            codes = np.empty((len(C), m), dtype=np.int32)
            for s in range(m):
                codes[:, s] = _pq_subspace_d2(S[:, s, :], CB[s]).argmin(axis=1)
            out = pdf[["id"]].copy()
            out["cid"] = _pq_subspace_d2(C, CC).argmin(axis=1).astype("int32")
            out["codes"] = list(codes)
            yield out

    return qd.mapInPandas(kernel, out_schema)


def write_ivf_pq_index(corpus: DataFrame, root: str,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       n_centroids: int = 16, m: int = 8, n_codes: int = 256,
                       coarse: str = "kmeans", codebooks: str = "kmeans",
                       sample_size: int = 4096,
                       kmeans_iter: int = 15) -> dict:
    """Persist the complete IVF-PQ serving artifact under ``root``:

    - ``root/index`` — (id, codes) parquet, PARTITIONED BY cid (one
      directory per coarse cell: probing is directory pruning);
    - ``root/codebooks`` — the coarse + PQ codebooks as scalar rows
      ``(kind, s, code, j, val)`` (bounded: (n_centroids + m*n_codes) *
      d_sub rows — KBs), so a prober needs NOTHING from the build
      session; the index is self-describing and engine-portable.

    Returns ``{"rows": n, "cells": c}``. Codebooks are seed-free, so a
    rebuild on unchanged data is byte-identical (S8/S10 idempotent
    maintenance applies to the index like any feature store)."""
    import numpy as np

    qd = _quantized(corpus, id_col, vec_col)
    spark = corpus.sparkSession
    CC = _train_pq_codebooks(qd, 1, n_centroids, coarse,
                             sample_size, kmeans_iter)[0]
    CB = _train_pq_codebooks(qd, m, n_codes, codebooks,
                             sample_size, kmeans_iter)
    rows = []
    for c in range(len(CC)):
        rows += [("coarse", 0, c, j, int(CC[c, j]))
                 for j in range(CC.shape[1])]
    for s in range(m):
        for c in range(CB.shape[1]):
            rows += [("pq", s, c, j, int(CB[s, c, j]))
                     for j in range(CB.shape[2])]
    spark.createDataFrame(
        rows, "kind string, s int, code int, j int, val bigint"
    ).coalesce(1).write.mode("overwrite").parquet(root + "/codebooks")
    idx = ivf_pq_encode(corpus, id_col=id_col, vec_col=vec_col,
                        n_centroids=n_centroids, m=m, n_codes=n_codes,
                        coarse=coarse, codebooks=codebooks,
                        sample_size=sample_size, kmeans_iter=kmeans_iter)
    idx.write.mode("overwrite").partitionBy("cid").parquet(root + "/index")
    back = spark.read.parquet(root + "/index")
    return {"rows": back.count(),
            "cells": back.select("cid").distinct().count()}


def ivf_pq_probe(spark, root: str, queries: DataFrame, k: int = 5,
                 n_probe: int = 2, id_col: str = "vec_id",
                 vec_col: str = "embedding",
                 rerank: int = 0, corpus: DataFrame | None = None,
                 max_queries: int | None = None) -> DataFrame:
    """N4×N3 serving path: answer top-k from the PERSISTED IVF-PQ index
    alone — no corpus vectors are read (unless ``rerank``).

    Reads ``root/codebooks`` (bounded KB-scale collect), computes each
    query's probe cells + ADC LUT driver-side, then scans ``root/index``
    with ``cid IN (probed)`` — a pushed PartitionFilter, so only the
    probed directories' code bytes are ever read (plan-asserted in
    tests) — and scores codes in one Arrow kernel. Bitwise-identical to
    ``ivf_pq_topk`` on the same parameters (pinned by test AND by the
    shared driver oracle): the persisted artifact changes nothing about
    the arithmetic. ``rerank=R`` needs ``corpus`` (the vector table) and
    re-reads ONLY the candidate vectors for the exact int64 L2 re-cut.
    """
    import numpy as np
    import pandas as pd

    if rerank and rerank < k:
        raise ValueError(f"ivf_pq_probe: rerank={rerank} must be >= k={k}")
    if rerank and corpus is None:
        raise ValueError("ivf_pq_probe: rerank requires the corpus "
                         "(vector table) for the exact tier")
    cb_rows = spark.read.parquet(root + "/codebooks").collect()
    coarse = sorted(((r.code, r.j, r.val) for r in cb_rows
                     if r.kind == "coarse"))
    pq = sorted(((r.s, r.code, r.j, r.val) for r in cb_rows
                 if r.kind == "pq"))
    n_cent = 1 + max(c for c, _, _ in coarse)
    dim_full = 1 + max(j for _, j, _ in coarse)
    m = 1 + max(s for s, _, _, _ in pq)
    n_codes = 1 + max(c for _, c, _, _ in pq)
    d_sub = 1 + max(j for _, _, j, _ in pq)
    CC = np.zeros((n_cent, dim_full), dtype=np.int64)
    for c, j, v in coarse:
        CC[c, j] = v
    CB = np.zeros((m, n_codes, d_sub), dtype=np.int64)
    for s, c, j, v in pq:
        CB[s, c, j] = v

    id_type = dict(queries.dtypes)[id_col]
    out_schema = f"query_id {id_type}, neighbor_id {id_type}, dist bigint"
    q_rows = _collect_query_side(
        _quantized(queries, id_col, vec_col), "ivf_pq_probe", max_queries)
    if not q_rows:
        return spark.createDataFrame([], out_schema).withColumn(
            "rank", F.lit(1).cast("int"))
    qids = [r["id"] for r in q_rows]
    Qm = np.asarray([r["q"] for r in q_rows], dtype=np.int64)
    if Qm.shape[1] != dim_full:
        raise ValueError(f"ivf_pq_probe: query dim {Qm.shape[1]} != "
                         f"index dim {dim_full}")
    QS = Qm.reshape(len(Qm), m, -1)
    LUT = np.stack([np.stack([_pq_subspace_d2(QS[j:j + 1, s, :], CB[s])[0]
                              for s in range(m)])
                    for j in range(len(qids))])
    qc = _pq_subspace_d2(Qm, CC)
    probes = [set(int(c) for c in np.argsort(qc[j], kind="stable")[:n_probe])
              for j in range(len(qids))]
    all_cells = sorted(set().union(*probes))

    # the ONLY data read: probed partitions of the code table
    idx = (spark.read.parquet(root + "/index")
           .where(F.col("cid").isin([int(c) for c in all_cells])))
    blut = spark.sparkContext.broadcast((qids, LUT, probes))
    topn = rerank if rerank else k

    def score(batches):
        qids, LUT, probes = blut.value
        sidx = np.arange(m)
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["id"].to_numpy()
            cids = pdf["cid"].to_numpy()
            codes = np.asarray([np.asarray(c, dtype=np.int64)
                                for c in pdf["codes"]])
            res = {"query_id": [], "neighbor_id": [], "dist": []}
            for j, qid in enumerate(qids):
                mask = np.fromiter((int(c) in probes[j] for c in cids),
                                   dtype=bool, count=len(cids))
                mask &= ids != qid
                if not mask.any():
                    continue
                mids = ids[mask]
                adc = LUT[j][sidx[None, :], codes[mask]].sum(axis=1)
                nn = min(topn, len(mids))
                order = np.lexsort((mids, adc))[:nn]
                res["query_id"] += [qid] * nn
                res["neighbor_id"] += list(mids[order])
                res["dist"] += [int(x) for x in adc[order]]
            yield pd.DataFrame(res)

    local = idx.mapInPandas(score, out_schema)
    w = Window.partitionBy("query_id").orderBy(F.asc("dist"),
                                               F.asc("neighbor_id"))
    adc_top = local.withColumn("rank", F.row_number().over(w)) \
                   .where(F.col("rank") <= topn)
    if not rerank:
        return adc_top.where(F.col("rank") <= k)
    qd = _quantized(corpus, id_col, vec_col)
    cand_ids = adc_top.select(F.col("neighbor_id").alias("id")).distinct()
    qcand = qd.join(F.broadcast(cand_ids), "id", "left_semi")
    bq = spark.sparkContext.broadcast(Qm)

    def exact(batches):
        Qm = bq.value
        for pdf in batches:
            if pdf.empty:
                continue
            C = np.asarray([np.asarray(v, dtype=np.int64) for v in pdf["q"]])
            qi = pdf["qi"].to_numpy(dtype=np.int64)
            diffs = C - Qm[qi]
            d2 = (diffs * diffs).sum(axis=1)
            yield pd.DataFrame({"query_id": pdf["query_id"],
                                "neighbor_id": pdf["neighbor_id"],
                                "dist": [int(x) for x in d2]})

    pairs = (adc_top.select("query_id", "neighbor_id")
             .join(qcand.withColumnRenamed("id", "neighbor_id"),
                   "neighbor_id"))
    qi_map = F.create_map(*[x for i, qid in enumerate(qids)
                            for x in (F.lit(qid), F.lit(i))])
    pairs = pairs.withColumn("qi", qi_map[F.col("query_id")].cast("int"))
    return (pairs.mapInPandas(exact, out_schema)
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))
