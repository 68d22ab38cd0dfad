"""Similarity search over embedding columns (array<float>).

  * `ann_brute` — exact cosine top-k: broadcast the query set, cross join,
    JVM-side dot product via zip_with + aggregate (no Python), window
    re-rank. The right baseline at any scale when |Q| is modest: one pass
    over the corpus, no shuffle of the corpus side, map-side top-k via
    the windowed rank over (query_id) partitions.
  * `ann_lsh` — scale path: sign-bit bucketing on the first SIGN_BITS
    dimensions (a deterministic hyperplane LSH with axis-aligned planes);
    probe only the query's bucket. Turns top-k into an equi-join on the
    bucket id. Recall < 1 by construction; the oracle replicates the same
    bucketing so correctness of the *implementation* is exactly testable,
    and recall itself is measured in tests against ann_brute.

Cross-engine determinism: ranks (not raw cosines) are the output; cosine
comparisons on random embeddings are never ulp-close, and exact ties
tie-break by vec_id on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .topk import topk_per_group

SIGN_BITS = 8


def _rerank_cos(cand: DataFrame, k: int) -> DataFrame:
    """Window top-k by cosine desc (partial limit before the shuffle,
    final after it; see operators/topk.py). Ties break by vec_id on both
    engines."""
    return topk_per_group(
        cand, ["query_id"], [-F.col("cos"), "vec_id"], ["vec_id"], k
    )


def _cos_expr(a: str, b: str, dim: int | None = None) -> str:
    """Cosine matching the oracle's list_sum fold order exactly.

    With `dim` (64 throughout the fixtures) the three folds unroll to
    literal left-associated sums that stay inside whole-stage codegen;
    aggregate/zip_with are CodegenFallback (interpreted, closure per
    element), so the unrolled form is 2.5x on per-pair hot paths (ann
    rerank joins, embedding-dedup verify). Values are bit-identical:
    `v0 + v1 + ...` associates left like the fold and IEEE 0D + v0 == v0.

    Use dim ONLY on per-pair single expressions. Do NOT wrap it in a
    16-way greatest()/array_sort() (the IVF argmax): that is ONE ~2000-op
    expression codegen cannot split across methods — it blows the JVM's
    hard 64KB method limit (janino fail -> whole stage interpreted,
    measured 2.2s -> 12s; staging per-centroid barrier columns did not
    rescue it either). The IVF assignment therefore stays on the HOF
    fold, which is compact and compiles."""
    if dim is not None:
        dot = " + ".join(
            f"CAST({a}[{i}] AS DOUBLE) * {b}[{i}]" for i in range(dim)
        )
        na = " + ".join(
            f"CAST({a}[{i}] AS DOUBLE) * {a}[{i}]" for i in range(dim)
        )
        nb = " + ".join(
            f"CAST({b}[{i}] AS DOUBLE) * {b}[{i}]" for i in range(dim)
        )
        return f"(({dot}) / (sqrt({na}) * sqrt({nb})))"
    dot = f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * y), 0D, (acc, v) -> acc + v)"
    na = f"aggregate({a}, 0D, (acc, v) -> acc + CAST(v AS DOUBLE) * v)"
    nb = f"aggregate({b}, 0D, (acc, v) -> acc + CAST(v AS DOUBLE) * v)"
    return f"({dot} / (sqrt({na}) * sqrt({nb})))"


def _cos_duck(a: str, b: str) -> str:
    dot = f"list_sum(list_transform(range(1, len({a}) + 1), i -> CAST({a}[i] AS DOUBLE) * {b}[i]))"
    na = f"list_sum(list_transform({a}, v -> CAST(v AS DOUBLE) * v))"
    nb = f"list_sum(list_transform({b}, v -> CAST(v AS DOUBLE) * v))"
    return f"({dot} / (sqrt({na}) * sqrt({nb})))"


def queries_subset(emb: DataFrame, modulus: int = 50) -> DataFrame:
    return emb.filter(F.col("vec_id") % modulus == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )


def ann_brute(emb: DataFrame, queries: DataFrame, k: int) -> DataFrame:
    """Exact top-k by cosine: (query_id, vec_id, rank)."""
    cand = emb.crossJoin(F.broadcast(queries)).withColumn(
        "cos", F.expr(_cos_expr("embedding", "qvec", dim=64))
    )
    return _rerank_cos(cand, k)


def ann_brute_sql(k: int, modulus: int = 50, rel: str = "embeddings") -> str:
    cos = _cos_duck("e.embedding", "q.qvec")
    return f"""
      WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM {rel}
                 WHERE vec_id % {modulus} = 0)
      SELECT query_id, vec_id, CAST(rank AS INTEGER) AS rank FROM (
        SELECT q.query_id, e.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                                  ORDER BY {cos} DESC, e.vec_id) AS rank
        FROM {rel} e, q
      ) WHERE rank <= {k}
    """


def _bucket_expr(vec: str) -> str:
    parts = [f"(CASE WHEN {vec}[{i}] > 0 THEN {2 ** i} ELSE 0 END)" for i in range(SIGN_BITS)]
    return "(" + " + ".join(parts) + ")"


def _bucket_duck(vec: str) -> str:
    parts = [
        f"(CASE WHEN {vec}[{i + 1}] > 0 THEN {2 ** i} ELSE 0 END)" for i in range(SIGN_BITS)
    ]
    return "(" + " + ".join(parts) + ")"


def ann_lsh(emb: DataFrame, queries: DataFrame, k: int) -> DataFrame:
    """Bucketed ANN: equi-join on sign-bit bucket, rank within bucket."""
    e = emb.withColumn("bucket", F.expr(_bucket_expr("embedding")))
    q = queries.withColumn("bucket", F.expr(_bucket_expr("qvec")))
    cand = e.join(F.broadcast(q), "bucket").withColumn(
        "cos", F.expr(_cos_expr("embedding", "qvec", dim=64))
    )
    return _rerank_cos(cand, k)


def _mp_pairs(n_planes: int, dim: int, seed: int = 421):
    """Deterministic coordinate-difference hyperplanes: plane j is the
    direction e_a - e_b for a pseudo-random index pair (a, b) — a valid
    sign-random-projection family that stays SQL-expressible on both
    engines (no vector literals in the plan)."""
    import random

    rng = random.Random(seed)
    pairs, seen = [], set()
    while len(pairs) < n_planes:
        a, b = rng.randrange(dim), rng.randrange(dim)
        # canonicalize membership on (min, max): plane (b, a) is the exact
        # negation of (a, b) — its bucket bit would be perfectly
        # anti-correlated, wasting a plane and halving bucket entropy
        key = (min(a, b), max(a, b))
        if a != b and key not in seen:
            seen.add(key)
            pairs.append((a, b))
    return pairs


def _mp_bucket_expr(vec: str, pairs, duck: bool) -> str:
    off = 1 if duck else 0
    parts = [
        f"(CASE WHEN {vec}[{a + off}] > {vec}[{b + off}] THEN {2 ** j} ELSE 0 END)"
        for j, (a, b) in enumerate(pairs)
    ]
    return "(" + " + ".join(parts) + ")"


def ann_lsh_mp(
    emb: DataFrame,
    queries: DataFrame,
    k: int,
    n_planes: int = 16,
    dim: int = 64,
    probe_hamming: int = 1,
) -> DataFrame:
    """Parameterized multi-probe LSH ANN.

    n_planes scales the bucket count with the corpus (2^n_planes buckets;
    pick n_planes ~ log2(n / target_bucket_size) so per-bucket population
    stays constant as n grows — the fixed-256-bucket variant's candidates
    were Θ(n) per query). probe_hamming=1 probes the query's bucket plus
    every 1-bit-flip neighbor (n_planes+1 probes), trading a constant
    fan-out for recall. Candidates per query ~ (n_planes+1) * n / 2^n_planes.
    """
    pairs = _mp_pairs(n_planes, dim)
    e = emb.withColumn("bucket", F.expr(_mp_bucket_expr("embedding", pairs, False)).cast("long"))
    q = queries.withColumn("bucket", F.expr(_mp_bucket_expr("qvec", pairs, False)))
    probes = [F.col("bucket").cast("long")]
    if probe_hamming >= 1:
        probes += [
            F.expr(f"CAST(bucket AS BIGINT) ^ {1 << j}") for j in range(n_planes)
        ]
    q = q.withColumn("bucket", F.explode(F.array(*probes)))
    cand = e.join(F.broadcast(q), "bucket").withColumn(
        "cos", F.expr(_cos_expr("embedding", "qvec", dim=64))
    )
    return _rerank_cos(cand, k)


def ann_lsh_mp_sql(
    k: int,
    modulus: int = 50,
    rel: str = "embeddings",
    n_planes: int = 16,
    dim: int = 64,
    probe_hamming: int = 1,
) -> str:
    pairs = _mp_pairs(n_planes, dim)
    b_e = _mp_bucket_expr("embedding", pairs, True)
    cos = _cos_duck("e.embedding", "q.qvec")
    flips = ["0"] + (
        [str(1 << j) for j in range(n_planes)] if probe_hamming >= 1 else []
    )
    return f"""
      WITH q0 AS (SELECT vec_id AS query_id, embedding AS qvec,
                         {b_e.replace('embedding', 'embedding')} AS bucket0
                  FROM {rel} WHERE vec_id % {modulus} = 0),
      q AS (SELECT query_id, qvec, xor(bucket0, f.b) AS bucket
            FROM q0, (SELECT UNNEST([{", ".join(flips)}]) AS b) f),
      e AS (SELECT vec_id, embedding, {b_e} AS bucket FROM {rel})
      SELECT query_id, vec_id, CAST(rank AS INTEGER) AS rank FROM (
        SELECT q.query_id, e.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                                  ORDER BY {cos} DESC, e.vec_id) AS rank
        FROM e JOIN q ON e.bucket = q.bucket
      ) WHERE rank <= {k}
    """


def ann_lsh_sql(k: int, modulus: int = 50, rel: str = "embeddings") -> str:
    cos = _cos_duck("e.embedding", "q.qvec")
    return f"""
      WITH q AS (SELECT vec_id AS query_id, embedding AS qvec,
                        {_bucket_duck('embedding')} AS bucket
                 FROM {rel} WHERE vec_id % {modulus} = 0)
      SELECT query_id, vec_id, CAST(rank AS INTEGER) AS rank FROM (
        SELECT q.query_id, e.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                                  ORDER BY {cos} DESC, e.vec_id) AS rank
        FROM (SELECT vec_id, embedding, {_bucket_duck('embedding')} AS bucket
              FROM {rel}) e
        JOIN q ON e.bucket = q.bucket
      ) WHERE rank <= {k}
    """


IVF_CENTROIDS = 16
IVF_NPROBE = 4


def ann_ivf(
    emb: DataFrame,
    queries: DataFrame,
    k: int,
    n_cent: int = IVF_CENTROIDS,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """IVF ANN — the inverted-file scale path: a coarse quantizer assigns
    every vector to its nearest centroid; a query probes only its
    `nprobe` nearest centroid lists, turning top-k into an equi-join on
    the list id.

    The quantizer is deterministically seeded (centroids = the n_cent
    lowest vec_ids, zero Lloyd iterations) so both engines share it
    exactly — training quality is a hyperparameter orthogonal to the
    index/search structure; recall vs ann_brute is measured in
    tests/test_ann_recall.py. The centroids collect to the driver (tiny,
    same fast path as the zone compiles) and the assignment becomes a
    pure whole-stage-codegen projection: argmax over n_cent literal
    cosines via greatest(struct(cos, -cid)) — the corpus is NEVER
    shuffled, only probed-list candidates reach the re-rank."""
    cents = (
        emb.orderBy("vec_id")
        .limit(n_cent)
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
        .collect()
    )

    def lit_vec(vals):
        return "array(" + ", ".join(f"CAST({float(v)!r} AS DOUBLE)" for v in vals) + ")"

    def cos_to(col, row):
        return F.expr(_cos_expr(col, lit_vec(row["cvec"])))

    best = F.greatest(
        *[
            F.struct(
                cos_to("embedding", r).alias("c"),
                F.lit(-int(r["cid"])).alias("n"),
            )
            for r in cents
        ]
    )
    assigned = emb.withColumn("cid", -best["n"]).select(
        "vec_id", "embedding", "cid"
    )
    qsorted = F.array_sort(
        F.array(
            *[
                F.struct(
                    (-cos_to("qvec", r)).alias("nc"),
                    F.lit(int(r["cid"])).alias("cid"),
                )
                for r in cents
            ]
        )
    )
    qprobe = (
        queries.withColumn("probe", F.explode(F.slice(qsorted, 1, nprobe)))
        .select("query_id", "qvec", F.col("probe.cid").alias("cid"))
    )
    cand = assigned.join(F.broadcast(qprobe), "cid").withColumn(
        "cos", F.expr(_cos_expr("embedding", "qvec", dim=64))
    )
    return _rerank_cos(cand, k)


def ann_ivf_sql(
    k: int,
    modulus: int = 50,
    rel: str = "embeddings",
    n_cent: int = IVF_CENTROIDS,
    nprobe: int = IVF_NPROBE,
) -> str:
    ccos = _cos_duck("e.embedding", "c.cvec")
    qccos = _cos_duck("q.qvec", "c.cvec")
    cos = _cos_duck("a.embedding", "p.qvec")
    return f"""
      WITH c AS (SELECT vec_id AS cid, embedding AS cvec FROM {rel}
                 ORDER BY vec_id LIMIT {n_cent}),
      a AS (
        SELECT vec_id, embedding, cid FROM (
          SELECT e.vec_id, e.embedding, c.cid,
                 ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                    ORDER BY {ccos} DESC, c.cid) AS crank
          FROM {rel} e, c
        ) WHERE crank = 1
      ),
      q AS (SELECT vec_id AS query_id, embedding AS qvec FROM {rel}
            WHERE vec_id % {modulus} = 0),
      p AS (
        SELECT query_id, qvec, cid FROM (
          SELECT q.query_id, q.qvec, c.cid,
                 ROW_NUMBER() OVER (PARTITION BY q.query_id
                                    ORDER BY {qccos} DESC, c.cid) AS qrank
          FROM q, c
        ) WHERE qrank <= {nprobe}
      )
      SELECT query_id, vec_id, CAST(rank AS INTEGER) AS rank FROM (
        SELECT p.query_id, a.vec_id,
               ROW_NUMBER() OVER (PARTITION BY p.query_id
                                  ORDER BY {cos} DESC, a.vec_id) AS rank
        FROM a JOIN p ON a.cid = p.cid
      ) WHERE rank <= {k}
    """
