"""Similarity search over embedding columns (array<float>).

- brute-force cosine scoring/top-k: the exactness baseline — one pass,
  JVM-side ``zip_with``/``aggregate`` arithmetic in double precision, no
  UDFs, embarrassingly parallel.
- LSH-bucketed variant: the 100 TB path — sign-bit random-hyperplane
  bucketing (hyperplanes derived deterministically from a seed, inlined as
  literals so the DuckDB oracle can embed the identical planes), candidates
  restricted to the probe's bucket, exact re-rank inside. Bucket count
  2^n_planes bounds each join side; skewed buckets fall to AQE.
- IVF variant: deterministic coarse centroids (md5-ordered seed rows),
  JVM-side argmax assignment, nprobe-list probing with exact re-rank —
  the partition-prunable scale path (lists persist as partition columns).
- embedding-cosine near-dup pairs: bucket-join + exact threshold filter.

Scores are rounded (default 4dp) before ranking so Spark/DuckDB float
summation-order differences can't flip the order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from traval_spark.operators.text import FOLD_MOD
from traval_spark.session import hold


def _fold_hash_py(s: str) -> int:
    """Driver-side twin of text.fold_hash (same constants)."""
    acc = 0
    for ch in s:
        acc = (acc * 31 + ord(ch)) % FOLD_MOD
    return acc


def hyperplanes(n_planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1], from the portable
    fold hash of 'seed_plane_dim' — reproducible in any engine or language."""
    return [
        [
            (_fold_hash_py(f"{seed}_{p}_{d}") % 2001 - 1000) / 1000.0
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


# -- codegen-able dot-product kernels ----------------------------------------
# Spark's higher-order functions (aggregate/zip_with/transform) are
# CodegenFallback: a projection containing one is evaluated interpreted,
# element by element, with per-element boxing — and it disables
# whole-stage codegen for the stage.  For the statically-known embedding
# dimension the fold unrolls into a left-associated chain
#     0.0 + a[0]*b[0] + a[1]*b[1] + …
# which is the SAME float operations in the SAME order (bit-identical
# results, so every rounded score is unchanged), but plain codegen-able
# arithmetic.  The chain is built as ONE SQL string parsed by a single
# F.expr call: building it as nested Column objects costs 3 py4j
# round-trips per term (~200 per dot), which measured as multi-second
# driver-side plan-construction overhead per query.


def _fmt_lit(x: float) -> str:
    """A double literal for SQL embedding: repr round-trips exactly
    through the parser (verified incl. scientific notation)."""
    return f"({float(x)!r}D)"


def _elem(col: str, i: int) -> str:
    """``col[i]`` widened to double.  Element-level CAST is exact for
    float32 inputs (widening) and a no-op for double arrays, and it
    avoids materializing a casted copy of the whole array per access."""
    return f"CAST(`{col}`[{i}] AS DOUBLE)"


def _sized(expr: str, dim: int, *cols: str) -> str:
    """``expr`` where every array in ``cols`` has exactly ``dim``
    elements, else NULL — the fold's answer for a wrong-length vector
    (``zip_with`` pads the shorter side with NULLs).  CASE evaluates its
    branch only when the guard holds, so a short vector never reaches
    an out-of-range ``col[i]`` (an error under ANSI) and a long one is
    never scored on its first ``dim`` elements."""
    guard = " AND ".join(f"size(`{c}`) = {int(dim)}" for c in cols)
    return f"(CASE WHEN {guard} THEN {expr} END)"


def _dot_sql(a: str, b: str, dim: int) -> str:
    terms = "".join(
        f" + {_elem(a, i)}*{_elem(b, i)}" for i in range(int(dim)))
    return _sized(f"(0.0D{terms})", dim, a, b)


def _dot_lit_sql(a: str, vals: list[float]) -> str:
    terms = "".join(
        f" + {_elem(a, i)}*{_fmt_lit(x)}" for i, x in enumerate(vals))
    return _sized(f"(0.0D{terms})", len(vals), a)


def _norm_sql(a: str, dim: int) -> str:
    terms = "".join(
        f" + {_elem(a, i)}*{_elem(a, i)}" for i in range(int(dim)))
    return _sized(f"SQRT(0.0D{terms})", dim, a)


def _dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Generic Column-based dot product (the interpreted higher-order
    fold).  Kept for callers whose operands are not plain named columns
    or whose length is unknown at plan time; hot paths use the
    ``*_sql`` string builders above instead.  ``dim`` is accepted for
    signature compatibility but the fold ignores it (the fold already
    covers the full array)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column, dim: int | None = None) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0),
            lambda acc, x: acc + x
        )
    )


def cosine_to_query(
    emb: DataFrame,
    query: list[float],
    vec_col: str = "embedding",
    out: str = "cos",
    ndigits: int = 4,
) -> DataFrame:
    """Brute-force cosine of every row against a literal query vector."""
    qn = float(sum(x * x for x in query)) ** 0.5
    cos = F.expr(
        f"ROUND({_dot_lit_sql(vec_col, [float(x) for x in query])}"
        f" / ({_norm_sql(vec_col, len(query))} * {_fmt_lit(qn)}),"
        f" {int(ndigits)})"
    )
    return emb.withColumn(out, cos)


def cosine_topk(
    emb: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ndigits: int = 4,
) -> DataFrame:
    """Exact top-k by rounded cosine (rank ties broken by id: deterministic).

    Implemented as orderBy().limit(k) — Spark plans TakeOrderedAndProject
    (per-partition heap top-k, merged on the driver), NOT a global
    single-reducer window sort; the rank column is then assigned over the
    k-row result only (k << n)."""
    scored = cosine_to_query(emb, query, vec_col=vec_col, ndigits=ndigits)
    topk = scored.orderBy(F.col("cos").desc(), F.col(id_col)).limit(k)
    w = Window.orderBy(F.col("cos").desc(), F.col(id_col))
    return (
        topk.withColumn("rank", F.row_number().over(w))
        .select(id_col, "cos", "rank")
    )


def lsh_bucket_col(vec_col: str, planes: list[list[float]]) -> Column:
    """Sign-bit bucket id: bit p set iff dot(vec, plane_p) > 0."""
    # compact higher-order form on purpose: this is a per-ROW expression
    # (n rows, not n² pairs), and unrolling all n_planes × dim terms into
    # one codegen expression exceeds the JVM's 8 KB JIT limit — the
    # generated method then runs in the bytecode interpreter, measured
    # SLOWER than the higher-order fold (see _dot_sql notes)
    v = F.col(vec_col).cast("array<double>")
    bucket = F.lit(0).cast("bigint")
    for p, plane in enumerate(planes):
        pl = F.array(*[F.lit(x) for x in plane])
        bucket = bucket + F.when(_dot(v, pl) > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket


def lsh_topk(
    emb: DataFrame,
    query: list[float],
    k: int = 10,
    n_planes: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ndigits: int = 4,
) -> DataFrame:
    """Approximate top-k: score only the query's LSH bucket, exact re-rank.

    At scale the bucket filter prunes ~(1 - 2^-n_planes) of candidates
    before any dot product; the scan itself is partition-prunable when the
    table is written bucketed/partitioned by the bucket id.
    """
    dim = len(query)
    planes = hyperplanes(n_planes, dim, seed)
    qbucket = 0
    for p, plane in enumerate(planes):
        if sum(a * b for a, b in zip(query, plane)) > 0:
            qbucket |= 1 << p
    cand = emb.withColumn("__bucket", lsh_bucket_col(vec_col, planes)).filter(
        F.col("__bucket") == qbucket
    )
    return cosine_topk(cand, query, k=k, id_col=id_col, vec_col=vec_col,
                       ndigits=ndigits)


def ivf_seed_centroids(
    emb: DataFrame,
    n_list: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Deterministic IVF coarse centroids: the ``n_list`` rows with the
    smallest md5(id) are the list seeds (cid = rank in that order).

    One-pass seeding (k-means with zero Lloyd iterations): at 100 TB the
    centroid fetch is a TakeOrderedAndProject over the table (per-partition
    heap of n_list rows, merged on the driver — n_list rows ever move);
    production would refine the seeds offline with a few Lloyd passes, the
    query/assignment plumbing below is unchanged by that.
    """
    rows = (
        emb.select(id_col, F.col(vec_col).cast("array<double>").alias("v"))
        .orderBy(F.md5(F.col(id_col).cast("string").cast("binary")))
        .limit(n_list)
        .collect()
    )
    return [(cid, list(r["v"])) for cid, r in enumerate(rows)]


def ivf_assign_col(
    vec_col: str,
    centroids: list[tuple[int, list[float]]],
    ndigits: int = 9,
) -> Column:
    """Coarse-list id for each vector: argmax rounded cosine over the
    centroid literals, ties to the smallest cid.

    Pure JVM expression (array_max over (cos, -cid) structs inlined from
    the centroid literals): assignment adds NO shuffle and no Python — at
    scale you persist it as a partition column so probes prune at scan
    time.
    """
    # per-ROW argmax over n_list × dim terms: stays higher-order (see
    # lsh_bucket_col — the unrolled form blows the JIT method limit)
    v = F.col(vec_col).cast("array<double>")
    vn = _norm(v)
    entries = []
    for cid, c in centroids:
        ce = F.array(*[F.lit(float(x)) for x in c])
        cn = float(sum(x * x for x in c)) ** 0.5
        cos = F.round(_dot(v, ce) / (vn * F.lit(cn)), ndigits)
        entries.append(F.struct(cos.alias("c"), F.lit(-cid).alias("n")))
    return (-F.array_max(F.array(*entries))["n"]).alias("cid")


def ivf_topk(
    emb: DataFrame,
    query: list[float],
    k: int = 10,
    n_list: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ndigits: int = 4,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: probe the ``nprobe`` centroids nearest the
    query, exact cosine re-rank inside those inverted lists only.

    nprobe = n_list degrades to exact search (asserted in
    tests/test_similarity_extras.py); smaller nprobe trades recall for a
    scan of ~nprobe/n_list of the data — with the assignment persisted as
    a partition column the untouched lists are never read at all.
    """
    if centroids is None:
        centroids = ivf_seed_centroids(emb, n_list, id_col, vec_col)
    qn = float(sum(x * x for x in query)) ** 0.5

    def qcos(c: list[float]) -> float:
        cn = float(sum(x * x for x in c)) ** 0.5
        return round(sum(a * b for a, b in zip(query, c)) / (qn * cn), 9)

    probes = [cid for cid, c in
              sorted(centroids, key=lambda e: (-qcos(e[1]), e[0]))[:nprobe]]
    cand = emb.withColumn("cid", ivf_assign_col(vec_col, centroids)).filter(
        F.col("cid").isin(probes)
    )
    return cosine_topk(cand, query, k=k, id_col=id_col, vec_col=vec_col,
                       ndigits=ndigits)


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    qid_col: str = "vec_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ndigits: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Exact batch top-k: every QUERY ROW gets its k nearest corpus rows
    by rounded cosine — the retrieval/dedup-pipeline shape the
    single-vector ``cosine_topk`` can't express (a daily batch of new
    docs each needs neighbors, not one driver-side literal).

    The query batch is broadcast (it is the small side by construction —
    a batch, not a corpus); the corpus is scanned ONCE and every scored
    (query, corpus) row is ranked per query with a window. Exact but
    O(|batch| x N) scored rows — this is the correctness baseline;
    :func:`ivf_knn_join` is the scale path that bounds the scored set
    by probing, exactly like cos_dup_pairs' bucketed= split.
    """
    def nrm(name):
        return (F.expr(_norm_sql(name, dim)) if dim is not None
                else _norm(F.col(name)))

    q = queries.select(
        F.col(qid_col).alias("qid"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).withColumn("qn", nrm("qv"))
    c = corpus.select(
        F.col(id_col).alias("nn_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn("n", nrm("v"))
    if dim is not None:
        cos = F.expr(
            f"ROUND({_dot_sql('v', 'qv', dim)} / (`n` * `qn`),"
            f" {int(ndigits)})")
    else:
        cos = F.round(
            _dot(F.col("v"), F.col("qv")) / (F.col("n") * F.col("qn")),
            ndigits,
        )
    scored = c.crossJoin(F.broadcast(q)).select(
        "qid", "nn_id", cos.alias("cos")
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nn_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nn_id", "cos", "rank")
    )


def ivf_knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_list: int = 8,
    nprobe: int = 2,
    qid_col: str = "vec_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ndigits: int = 4,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF-probed batch top-k: each query scores only the corpus rows in
    its ``nprobe`` nearest inverted lists — the 100 TB batch-KNN plan.

    ``centroids`` defaults to :func:`ivf_seed_centroids` over the corpus;
    pass the PERSISTED index centroids for the incremental shape (a new
    batch probes a fixed index — centroids never refit per ingest). Both
    the per-query probe-list computation and the corpus assignment are
    pure JVM expressions from centroid literals: probes come from
    sorting the (cos, -cid) struct array and slicing nprobe, so the
    batch needs no driver-side collect. The probe join key is ``cid`` —
    with the corpus assignment persisted as a partition column the
    untouched lists are never scanned. Scored volume drops from
    |batch| x N to ~|batch| x N x nprobe/n_list; the exact re-rank
    inside probed lists is :func:`knn_join`'s window.
    """
    if centroids is None:
        centroids = ivf_seed_centroids(corpus, n_list, id_col, vec_col)
    dim = len(centroids[0][1])

    q = queries.select(
        F.col(qid_col).alias("qid"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).withColumn("qn", _norm(F.col("qv")))
    # per-query probe lists: sort (neg rounded cos, cid) structs, take
    # nprobe — per-BATCH-ROW expression, higher-order on purpose (the
    # unrolled n_list × dim form blows the JIT method limit)
    entries = []
    for cid, c in centroids:
        ce = F.array(*[F.lit(float(x)) for x in c])
        cn = float(sum(x * x for x in c)) ** 0.5
        cos9 = F.round(_dot(F.col("qv"), ce) / (F.col("qn") * F.lit(cn)), 9)
        entries.append(F.struct((-cos9).alias("nc"), F.lit(cid).alias("cid")))
    probes = F.slice(F.array_sort(F.array(*entries)), 1, int(nprobe))
    q = q.withColumn("cid", F.explode(F.transform(probes, lambda e: e["cid"])))

    c = corpus.select(
        F.col(id_col).alias("nn_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn("n", _norm(F.col("v"))).withColumn(
        "cid", ivf_assign_col("v", centroids)
    )
    cos = F.expr(
        f"ROUND({_dot_sql('v', 'qv', dim)} / (`n` * `qn`), {int(ndigits)})")
    scored = c.join(F.broadcast(q), on="cid").select(
        "qid", "nn_id", cos.alias("cos")
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nn_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nn_id", "cos", "rank")
    )


def cosine_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ndigits: int = 6,
    bucketed: bool = True,
    dim: int | None = None,
    n_tables: int = 1,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b, cos >= threshold).

    bucketed=True joins only within LSH buckets (misses cross-bucket pairs
    — the standard recall/cost trade); bucketed=False is the exact
    quadratic baseline for small inputs and oracles. ``dim`` (the
    embedding dimension) is required on the bucketed path: the plane
    literals are built from it at plan time, with no driver-side data
    probe during plan construction.

    ``n_tables`` > 1 is the standard multi-table LSH recall knob: L
    independent plane sets (seeds ``seed .. seed+L-1``), a pair
    materializes if ANY table buckets it together (OR across tables,
    distinct pairs) — recall 1-(1-p)^L for per-table collision
    probability p, at L bucket joins of cost. The bucketed frame carries
    all L bucket ids from one pass and is cached before the self-joins
    (a self-join duplicates its input subtree — the round-2 dedup
    lesson), so every action on the returned plan reuses it. The cache
    is released by the enclosing ``held()``; kept until
    ``unpersist``/``clearCache`` without one."""
    # norm stays higher-order: the bucketed path's projection also
    # carries the HOF bucket expressions, so it is interpreted either
    # way, and an unrolled chain evaluates SLOWER interpreted than the
    # fold (per-row cost on n rows, not n² pairs — cheap regardless)
    v = F.col(vec_col).cast("array<double>")
    base = emb.select(
        F.col(id_col).alias("id"),
        v.alias("v"),
        _norm(v).alias("n"),
    )
    if dim is not None:
        cos = F.expr(
            f"ROUND({_dot_sql('va', 'vb', dim)} / (`na` * `nb`),"
            f" {int(ndigits)})")
    else:
        cos = F.round(
            _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")),
            ndigits,
        )
    if not bucketed:
        a = base.select(F.col("id").alias("a"), F.col("v").alias("va"),
                        F.col("n").alias("na"))
        b = base.select(F.col("id").alias("b"), F.col("v").alias("vb"),
                        F.col("n").alias("nb"))
        pairs = a.crossJoin(b).filter(F.col("a") < F.col("b"))
        return (
            pairs.withColumn("cos", cos)
            .filter(F.col("cos") >= threshold)
            .select("a", "b", "cos")
        )

    if dim is None:
        raise ValueError(
            "bucketed cosine_dup_pairs requires dim= (embedding dimension):"
            " plane literals are built at plan time, no data probe"
        )
    for t in range(int(n_tables)):
        planes = hyperplanes(n_planes, dim, seed + t)
        base = base.withColumn(f"bucket_{t}", lsh_bucket_col("v", planes))
    if n_tables == 1:
        # single table: no cross-table dedup, so the vectors ride the
        # bucket self-join directly (join output feeds filter+cos in the
        # same stage — no extra shuffle ever touches the payload)
        a = base.select(
            "bucket_0", F.col("id").alias("a"), F.col("v").alias("va"),
            F.col("n").alias("na"),
        )
        b = base.select(
            "bucket_0", F.col("id").alias("b"), F.col("v").alias("vb"),
            F.col("n").alias("nb"),
        )
        pairs = a.join(b, on="bucket_0").filter(
            F.col("a") < F.col("b")).drop("bucket_0")
        return (
            pairs.withColumn("cos", cos)
            .filter(F.col("cos") >= threshold)
            .select("a", "b", "cos")
        )

    # multi-table: the OR-across-tables dedup would otherwise shuffle
    # every candidate pair WITH its two 64-double payloads; instead the
    # self-joins emit (a, b) ids only, the distinct runs on 16-byte
    # rows, and the vectors are re-attached afterwards from the (small,
    # persisted) base frame — decide with small rows, move big rows
    # once (guide §8 / §2.3 "shuffle keys instead of payloads")
    base = hold(base)
    per_table = []
    for t in range(int(n_tables)):
        key = f"bucket_{t}"
        a = base.select(key, F.col("id").alias("a"))
        b = base.select(key, F.col("id").alias("b"))
        per_table.append(
            a.join(b, on=key).filter(F.col("a") < F.col("b")).drop(key)
        )
    pairs = per_table[0]
    for t_pairs in per_table[1:]:
        pairs = pairs.unionByName(t_pairs)
    # OR across tables: a pair found by several tables counts once
    pairs = pairs.dropDuplicates(["a", "b"])
    va = base.select(F.col("id").alias("a"), F.col("v").alias("va"),
                     F.col("n").alias("na"))
    vb = base.select(F.col("id").alias("b"), F.col("v").alias("vb"),
                     F.col("n").alias("nb"))
    return (
        pairs.join(va, "a").join(vb, "b")
        .withColumn("cos", cos)
        .filter(F.col("cos") >= threshold)
        .select("a", "b", "cos")
    )


# -- semantic dedup (SemDeDup shape) ----------------------------------------


def ivf_assign_struct(
    vec_col: str,
    centroids: list[tuple[int, list[float]]],
    ndigits: int = 9,
) -> Column:
    """Like :func:`ivf_assign_col` but returns BOTH halves of the argmax:
    a struct ``(cid, ccos)`` — nearest centroid id and the (rounded)
    cosine to it. Same pure-JVM array_max over (cos, -cid) structs, same
    tie-break (smallest cid); the ccos value is what SemDeDup's keep
    rule ranks duplicates by, so computing it in the same expression
    costs nothing extra."""
    # per-ROW argmax — higher-order on purpose (see lsh_bucket_col)
    v = F.col(vec_col).cast("array<double>")
    vn = _norm(v)
    entries = []
    for cid, c in centroids:
        ce = F.array(*[F.lit(float(x)) for x in c])
        cn = float(sum(x * x for x in c)) ** 0.5
        cos = F.round(_dot(v, ce) / (vn * F.lit(cn)), ndigits)
        entries.append(F.struct(cos.alias("c"), F.lit(-cid).alias("n")))
    m = F.array_max(F.array(*entries))
    return F.struct(
        (-m["n"]).cast("int").alias("cid"), m["c"].alias("ccos")
    )


def lloyd_refine(
    emb: DataFrame,
    centroids: list[tuple[int, list[float]]],
    iters: int = 1,
    vec_col: str = "embedding",
    ndigits: int = 9,
) -> list[tuple[int, list[float]]]:
    """Distributed Lloyd refinement of the coarse centroids.

    Each pass: assign every vector to its nearest centroid (pure-JVM
    argmax from the centroid literals, NO shuffle), then take the
    per-cluster elementwise mean — posexplode to (cid, dim, value) and
    groupBy(cid, dim).avg, a partial-aggregatable shuffle whose reduced
    output is only n_list x dim rows, collected to the driver as the
    next pass's literals. Clusters that lose all members keep their
    previous centroid (standard empty-cluster rule, keeps cid space
    stable). Deterministic for a fixed (input, seeds, iters) on ANY
    executor layout: the per-dimension mean is an exact decimal sum
    divided by the count, not a double avg whose partial-merge order
    would vary with shuffle fetch timing.

    The driver holds n_list x dim floats — the same driver-side budget
    :func:`ivf_seed_centroids` already commits to. At very large n_list
    the literal-expression plan stops scaling; that regime wants the
    centroid table broadcast-joined instead (documented trade, same as
    ivf_topk)."""
    cur, _ = _lloyd_loop(emb, centroids, iters, vec_col, ndigits, None)
    return cur


def semantic_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    n_list: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ndigits: int = 6,
    centroids: list[tuple[int, list[float]]] | None = None,
    lloyd_iters: int = 0,
) -> DataFrame:
    """SemDeDup-shape semantic near-duplicate pairs: k-means-cluster the
    embeddings, emit (a < b) pairs WITHIN each cluster with rounded
    cosine >= threshold, carrying each member's centroid cosine for the
    keep rule (Abbas et al. 2023, SemDeDup: pairwise similarity is only
    computed inside clusters, making the quadratic term local).

    Columns: a, b, cid, cos, a_ccos, b_ccos.

    Scale shape == :func:`cosine_dup_pairs` bucketed path with cid as
    the bucket: assignment is a pure-JVM expression (no shuffle, no
    Python), the self-join shuffles both sides on cid, AQE splits
    skewed clusters. Cross-cluster near-dups are missed by design — the
    SemDeDup recall trade; n_list grows with the corpus (~N/target
    cluster size) so per-cluster candidate sets stay bounded.

    ``lloyd_iters`` > 0 refines the deterministic md5-seeded centroids
    with that many distributed Lloyd passes (pytest path; the DuckDB
    oracle pins iters=0 where the seeds ARE the centroids)."""
    if centroids is None:
        centroids = ivf_seed_centroids(emb, n_list, id_col, vec_col)
    if lloyd_iters:
        centroids = lloyd_refine(emb, centroids, lloyd_iters, vec_col)
    dim = len(centroids[0][1])
    v = F.col(vec_col).cast("array<double>")
    asg = ivf_assign_struct(vec_col, centroids)
    base = emb.select(
        F.col(id_col).alias("id"), v.alias("v"), _norm(v).alias("n"),
        asg["cid"].alias("cid"), asg["ccos"].alias("ccos"),
    )
    a = base.select(
        "cid", F.col("id").alias("a"), F.col("v").alias("va"),
        F.col("n").alias("na"), F.col("ccos").alias("a_ccos"),
    )
    b = base.select(
        "cid", F.col("id").alias("b"), F.col("v").alias("vb"),
        F.col("n").alias("nb"), F.col("ccos").alias("b_ccos"),
    )
    cos = F.expr(
        f"ROUND({_dot_sql('va', 'vb', dim)} / (`na` * `nb`),"
        f" {int(ndigits)})")
    return (
        a.join(b, on="cid")
        .filter(F.col("a") < F.col("b"))
        .withColumn("cos", cos)
        .filter(F.col("cos") >= threshold)
        .select("a", "b", "cid", "cos", "a_ccos", "b_ccos")
    )


def semantic_keep_ids(
    emb: DataFrame,
    threshold: float = 0.95,
    n_list: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ndigits: int = 6,
    centroids: list[tuple[int, list[float]]] | None = None,
    lloyd_iters: int = 0,
) -> DataFrame:
    """SemDeDup keep set: ids surviving per-pair pruning.

    For every semantic-dup pair, the member CLOSER to its centroid is
    removed (SemDeDup keeps the low-centroid-similarity example — the
    most marginal representative of the duplicated region), ties to the
    larger id removed. No pair has both members kept; ids touching no
    pair are kept unchanged. One distinct over the losers + one
    left_anti join — both shuffles keyed on the id."""
    if centroids is None:
        centroids = ivf_seed_centroids(emb, n_list, id_col, vec_col)
    if lloyd_iters:
        centroids = lloyd_refine(emb, centroids, lloyd_iters, vec_col)
    pairs = semantic_dup_pairs(
        emb, threshold=threshold, n_list=n_list, id_col=id_col,
        vec_col=vec_col, ndigits=ndigits, centroids=centroids,
    )
    losers = pairs.select(
        F.when(F.col("a_ccos") > F.col("b_ccos"), F.col("a"))
        .when(F.col("a_ccos") < F.col("b_ccos"), F.col("b"))
        .otherwise(F.greatest("a", "b"))
        .alias(id_col)
    ).distinct()
    return emb.select(id_col).join(losers, on=id_col, how="left_anti")


def with_semantic_assignment(
    emb: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The persisted semantic-index row format: (id, v, n, cid, ccos) —
    vector cast to double, its norm, and the fixed-centroid assignment.
    This is what a warehouse keeps between ingests (exactly like the
    simhash fingerprint table dedup_stream.py persists): appending a
    batch never re-embeds, re-norms, or re-assigns old rows."""
    v = F.col(vec_col).cast("array<double>")
    asg = ivf_assign_struct(vec_col, centroids)
    return emb.select(
        F.col(id_col).alias("id"), v.alias("v"), _norm(v).alias("n"),
        asg["cid"].alias("cid"), asg["ccos"].alias("ccos"),
    )


def semantic_incremental_pairs(
    new_docs: DataFrame,
    corpus_assigned: DataFrame,
    centroids: list[tuple[int, list[float]]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ndigits: int = 6,
    new_assigned: DataFrame | None = None,
) -> DataFrame:
    """Semantic near-dup pairs for a NEW batch against an existing
    assigned corpus WITHOUT re-pairing the corpus with itself — the
    daily-ingest shape of :func:`semantic_dup_pairs`, completing the
    incremental family (simhash64_incremental_pairs,
    minhash_incremental_pairs in operators/dedup.py).

    ``corpus_assigned`` is :func:`with_semantic_assignment`'s persisted
    output; ``centroids`` MUST be the same fixed index it was assigned
    with (a refit would silently re-cluster the corpus — the invariant
    below only holds for a frozen index). Only the new batch is
    assigned here. Candidates = new rows joined on cid against (corpus
    UNION new), so every emitted pair has >= 1 new member; across a
    whole ingest stream the union of per-batch outputs equals the
    full-corpus :func:`semantic_dup_pairs` set at the same centroids
    (every pair surfaces exactly when its later member arrives).

    Returns (a, b, cid, cos) with a < b; pairs found via both members
    being new collapse in the distinct."""
    if new_assigned is None:
        new_assigned = with_semantic_assignment(
            new_docs, centroids, id_col, vec_col
        )
    probe = new_assigned.select(
        "cid", F.col("id").alias("na"), F.col("v").alias("va"),
        F.col("n").alias("nna"),
    )
    build = corpus_assigned.select("cid", "id", "v", "n").unionByName(
        new_assigned.select("cid", "id", "v", "n")
    ).select(
        "cid", F.col("id").alias("nb"), F.col("v").alias("vb"),
        F.col("n").alias("nnb"),
    )
    cos = F.expr(
        f"ROUND({_dot_sql('va', 'vb', len(centroids[0][1]))}"
        f" / (`nna` * `nnb`), {int(ndigits)})")
    return (
        probe.join(build, on="cid")
        .filter(F.col("na") != F.col("nb"))
        .withColumn("cos", cos)
        .filter(F.col("cos") >= threshold)
        .select(
            F.least("na", "nb").alias("a"),
            F.greatest("na", "nb").alias("b"),
            "cid", "cos",
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): compress embeddings ~dim*4 bytes -> m bytes,
# score candidates against a query through a broadcast lookup table (ADC).
# At 100 TB of embeddings the PQ-coded table is what a scan can actually
# stream from storage; exact re-ranking then touches only the ADC top
# candidates (pair with ivf_topk for the classic IVF-PQ layout).
# ---------------------------------------------------------------------------


def pq_seed_codebooks(
    emb: DataFrame,
    m: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[tuple[int, list[float]]]]:
    """Deterministic PQ codebooks: the ``ksub`` rows with the smallest
    md5(id) seed every subspace (code = rank in that order), each seed
    vector split into ``m`` contiguous sub-vectors — the same one-pass
    seeding rule as :func:`ivf_seed_centroids` (TakeOrderedAndProject:
    ksub rows ever reach the driver). Production would Lloyd-refine each
    subspace codebook (``lloyd_refine`` is the template); the
    encode/ADC plumbing is unchanged by that."""
    rows = (
        emb.select(id_col, F.col(vec_col).cast("array<double>").alias("v"))
        .orderBy(F.md5(F.col(id_col).cast("string").cast("binary")))
        .limit(ksub)
        .collect()
    )
    dim = len(rows[0]["v"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d = dim // m
    return [
        [(cid, list(r["v"])[s * d:(s + 1) * d])
         for cid, r in enumerate(rows)]
        for s in range(m)
    ]


def pq_code_col(
    vec_col: str,
    codebooks: list[list[tuple[int, list[float]]]],
    ndigits: int = 9,
) -> Column:
    """``array<int>`` of per-subspace nearest-code ids: squared-L2
    argmin over each subspace's codebook literals (rounded for
    cross-engine tie stability, ties to the smallest code). Pure-JVM
    expression — encoding adds NO shuffle and no Python, exactly like
    :func:`ivf_assign_col`."""
    # per-ROW encode over m × ksub × d terms: stays higher-order (the
    # unrolled form blows the JIT method limit — see lsh_bucket_col)
    v = F.col(vec_col).cast("array<double>")
    d = len(codebooks[0][0][1])
    codes = []
    for s, book in enumerate(codebooks):
        sv = F.slice(v, s * d + 1, d)
        entries = []
        for cid, c in book:
            ce = F.array(*[F.lit(float(x)) for x in c])
            dist = F.round(
                F.aggregate(
                    F.zip_with(sv, ce, lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                ndigits,
            )
            entries.append(F.struct(dist.alias("d"), F.lit(cid).alias("n")))
        codes.append(F.array_min(F.array(*entries))["n"].cast("int"))
    return F.array(*codes)


def with_pq_codes(
    emb: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>) — the PQ-compressed table you persist;
    m bytes of payload per vector instead of dim floats."""
    return emb.select(
        F.col(id_col), pq_code_col(vec_col, codebooks).alias("codes")
    )


def pq_adc_topk(
    coded: DataFrame,
    query: list[float],
    codebooks: list[list[tuple[int, list[float]]]],
    k: int = 10,
    id_col: str = "vec_id",
    codes_col: str = "codes",
    ndigits: int = 6,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: approx dot(query, x) =
    sum_s lut[s][code_s], where lut[s][c] = dot(query_sub_s, codebook
    entry c) is computed driver-side (m * ksub floats) and inlined as
    literals — the scan reads ONLY the m-byte code column, does m array
    lookups + adds per row (pure JVM), and the top-k is a
    TakeOrderedAndProject. No shuffle, no Python, no full-precision
    vectors touched until the caller's exact re-rank of the k
    survivors."""
    d = len(codebooks[0][0][1])
    total = F.lit(0.0)
    for s, book in enumerate(codebooks):
        qs = query[s * d:(s + 1) * d]
        lut = [
            round(sum(a * b for a, b in zip(qs, c)), 9)
            for _, c in sorted(book)
        ]
        total = total + F.element_at(
            F.array(*[F.lit(float(x)) for x in lut]),
            F.col(codes_col)[s] + 1,
        )
    return (
        coded.select(F.col(id_col), F.round(total, ndigits).alias("adc_dot"))
        .orderBy(F.desc("adc_dot"), id_col)
        .limit(k)
    )


def pq_refine_codebooks(
    emb: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    iters: int = 1,
    vec_col: str = "embedding",
    ndigits: int = 9,
) -> list[list[tuple[int, list[float]]]]:
    """Per-subspace Lloyd refinement of PQ codebooks (real PQ training:
    k-means in each subspace under squared L2). Each pass encodes with
    the current books (pure-JVM argmin, no shuffle), explodes to
    (sub, code, dim, value) and takes the decimal-exact mean per cell —
    one partial-aggregatable shuffle whose reduced output is only
    m * ksub * d rows, collected as the next pass's literals. The
    decimal sum makes the means layout-independent (see
    :func:`lloyd_refine`); codes that lose all members keep their
    previous entry."""
    m = len(codebooks)
    d = len(codebooks[0][0][1])
    cur = codebooks
    for _ in range(int(iters)):
        v = F.col(vec_col).cast("array<double>")
        cells = F.transform(
            pq_code_col(vec_col, cur, ndigits),
            lambda c, s: F.struct(
                s.cast("int").alias("sub"),
                c.alias("code"),
                F.slice(v, s * F.lit(d) + 1, d).alias("sv"),
            ),
        )
        assigned = (
            emb.select(F.explode(cells).alias("e"))
            .select("e.sub", "e.code", F.posexplode("e.sv"))
        )
        means = (
            assigned.groupBy("sub", "code", "pos")
            .agg(
                (F.sum(F.col("col").cast("decimal(38,18)"))
                 / F.count("col")).cast("double").alias("mval")
            )
            .groupBy("sub", "code")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "mval"))
                ).alias("e")
            )
            .select(
                "sub", "code",
                F.transform("e", lambda s: s["mval"]).alias("c"),
            )
            .collect()
        )
        got = {(r["sub"], r["code"]): list(r["c"]) for r in means}
        cur = [
            [(cid, got.get((s, cid), c)) for cid, c in book]
            for s, book in enumerate(cur)
        ]
    return cur


def ivfpq_topk(
    emb: DataFrame,
    query: list[float],
    codebooks: list[list[tuple[int, list[float]]]],
    k: int = 10,
    n_list: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[tuple[int, list[float]]] | None = None,
    ndigits: int = 6,
) -> DataFrame:
    """IVF-PQ: the full FAISS-style scale composition — coarse IVF
    routing picks the ``nprobe`` inverted lists nearest the query, then
    the asymmetric-distance top-k runs over the PQ CODES of those lists
    only.

    Scan cost per query: ~(nprobe/n_list) of the table, reading only
    the m-byte code column, m lookups + adds per row, top-k as
    TakeOrderedAndProject — the shape that serves ANN over 100 TB of
    embeddings without ever touching a full-precision vector until the
    caller's exact re-rank of the k survivors.  With the assignment
    persisted as a partition column the untouched lists are never read
    at all (the same pruning note as :func:`ivf_topk`).  Everything is
    deterministic (md5-seeded centroids/codebooks, rounded scores, id
    tie-breaks), so the whole composition carries a value-exact oracle.
    """
    if centroids is None:
        centroids = ivf_seed_centroids(emb, n_list, id_col, vec_col)
    qn = float(sum(x * x for x in query)) ** 0.5

    def qcos(c: list[float]) -> float:
        cn = float(sum(x * x for x in c)) ** 0.5
        return round(sum(a * b for a, b in zip(query, c)) / (qn * cn), 9)

    probes = [cid for cid, c in
              sorted(centroids, key=lambda e: (-qcos(e[1]), e[0]))[:nprobe]]
    cand = emb.withColumn("cid", ivf_assign_col(vec_col, centroids)).filter(
        F.col("cid").isin(probes)
    )
    return pq_adc_topk(
        with_pq_codes(cand, codebooks, id_col=id_col, vec_col=vec_col),
        query, codebooks, k=k, id_col=id_col, ndigits=ndigits,
    )


def knn_recall(
    brute: DataFrame,
    approx: DataFrame,
    k: int,
    qid_col: str = "qid",
    nn_col: str = "nn_id",
    ndigits: int = 6,
) -> DataFrame:
    """Recall@k AUDIT of an approximate neighbor path against the exact
    one — the observability read that keeps an ANN deployment honest:
    before trusting IVF/LSH results at scale, sample a query batch, run
    both paths, and measure how much of the true top-k the approximate
    path returned.  Inputs are any two result frames carrying
    ``(qid_col, nn_col)`` (knn_join / ivf_knn_join / lsh variants);
    per query, ``hits`` = |approx ∩ brute| via ONE equi-join on
    (query, neighbor) and ``recall`` = hits / k.

    Queries the approximate path missed ENTIRELY still report (recall
    0): the base spine is the brute side's distinct query set, left-
    joined — an audit that silently drops its worst cases is not an
    audit.  Cost: the join runs on two k-rows-per-query result frames,
    never on the corpus.  Output: ``qid, hits, recall``.
    """
    b = brute.select(F.col(qid_col).alias("qid"),
                     F.col(nn_col).alias("nn_id"))
    a = approx.select(F.col(qid_col).alias("qid"),
                      F.col(nn_col).alias("nn_id"))
    hits = (
        b.join(a, ["qid", "nn_id"])
        .groupBy("qid").agg(F.count(F.lit(1)).alias("hits"))
    )
    base = b.select("qid").distinct()
    return (
        base.join(hits, "qid", "left")
        .select(
            "qid",
            F.coalesce("hits", F.lit(0)).cast("long").alias("hits"),
            F.round(
                F.coalesce("hits", F.lit(0)).cast("double") / float(k),
                ndigits,
            ).alias("recall"),
        )
    )


def label_centroid_sim(
    emb: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    ndigits: int = 6,
) -> DataFrame:
    """Pairwise cosine between per-label embedding CENTROIDS — the
    cluster-closeness read a mixture designer runs before trusting
    label-level decisions (two labels whose centroids sit at cos 0.99
    are one population wearing two names; semantic dedup thresholds and
    per-label sampling rates both assume labels are actually distinct).

    Plan shape built for corpus scale even though the output is tiny:
    the ONLY corpus-scale pass is ``posexplode -> groupBy(label, pos)
    avg`` — partial-aggregatable, state bounded by |labels| x dim per
    task; centroids then reassemble to arrays (ordered collect on the
    |labels| x dim frame) and the pairwise cosine runs on the
    |labels|^2 frame with ordered ``zip_with``/``aggregate`` folds
    (deterministic accumulation).  The component means are the one
    unordered float reduction (engine noise ~1e-16); the cosine rounds
    ``ndigits``.  Output: ``label_a, label_b, n_a, n_b, cos`` with
    ``label_a < label_b``.
    """
    pe = emb.select(F.col(label_col).alias("lbl"),
                    F.posexplode(F.col(vec_col)))
    cent = (
        pe.groupBy("lbl", "pos").agg(F.avg("col").alias("m"))
        .groupBy("lbl")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m")))
             .alias("__s"))
        .select("lbl",
                F.expr("transform(__s, x -> x.m)").alias("c"))
    )
    n = emb.groupBy(F.col(label_col).alias("lbl")).agg(
        F.count(F.lit(1)).alias("n"))
    side = cent.join(n, "lbl")
    a = side.select(F.col("lbl").alias("label_a"), F.col("c").alias("ca"),
                    F.col("n").alias("n_a"))
    b = side.select(F.col("lbl").alias("label_b"), F.col("c").alias("cb"),
                    F.col("n").alias("n_b"))
    j = a.crossJoin(b).filter(F.col("label_a") < F.col("label_b"))

    def dot(x, y):
        return F.expr(
            f"aggregate(zip_with({x}, {y}, (p, q) -> p * q), "
            "cast(0.0 as double), (acc, v) -> acc + v)"
        )

    cos = dot("ca", "cb") / (
        F.sqrt(dot("ca", "ca")) * F.sqrt(dot("cb", "cb"))
    )
    return j.select("label_a", "label_b", "n_a", "n_b",
                    F.round(cos, ndigits).alias("cos"))


def _lloyd_loop(
    emb: DataFrame,
    cents: list[tuple[int, list[float]]],
    iters: int,
    vec_col: str,
    assign_digits: int,
    mean_digits: int | None,
) -> tuple[list[tuple[int, list[float]]], dict[int, int]]:
    """The ONE Lloyd implementation behind :func:`lloyd_refine` (exact
    unrounded means, engine-internal) and :func:`kmeans_refine` /
    :func:`kmeans_components` (means rounded ``mean_digits`` so the
    whole trajectory is reproducible cross-engine — the oracle path).

    Per iteration ONE corpus pass: assignment is the shuffle-free
    :func:`ivf_assign_struct` projection from centroid literals; the
    update is a partial-aggregatable ``posexplode -> groupBy(cid, pos)``
    mean with reduced output only k x dim rows, collected to the driver
    as the next pass's literals (the ivf_seed_centroids driver budget).
    The component mean is an exact decimal(38,18) sum / count — NOT
    avg(double), whose partial-merge order varies with shuffle fetch
    timing — so centroids are layout-independent run-to-run; the cast
    to double (and optional round) happens once per component.  A
    cluster that loses all members carries its previous centroid
    (standard empty-cluster rule, keeps cid space stable).  Returns
    (centroids, sizes from the LAST pass's assignment)."""
    cur = list(cents)
    sizes: dict[int, int] = {}
    for _ in range(int(iters)):
        # two selects: Spark's analyzer mis-resolves a struct-field
        # extraction placed next to a generator (posexplode) in one
        # projection (FIELD_NOT_FOUND against the generator's output)
        assigned = emb.select(
            ivf_assign_struct(vec_col, cur, assign_digits)["cid"]
            .alias("cid"),
            F.col(vec_col).cast("array<double>").alias("__v"),
        ).select("cid", F.posexplode("__v"))
        m = (
            F.sum(F.col("col").cast("decimal(38,18)")) / F.count("col")
        ).cast("double")
        if mean_digits is not None:
            m = F.round(m, mean_digits)
        rows = (
            assigned.groupBy("cid", "pos")
            .agg(m.alias("m"), F.count("col").alias("n"))
            .groupBy("cid")
            .agg(
                F.array_sort(F.collect_list(F.struct("pos", "m")))
                .alias("e"),
                F.max("n").alias("n"),
            )
            .select("cid", F.expr("transform(e, x -> x.m)").alias("c"),
                    "n")
            .collect()
        )
        got = {r["cid"]: list(r["c"]) for r in rows}
        sizes = {r["cid"]: int(r["n"]) for r in rows}
        cur = [(cid, got.get(cid, c)) for cid, c in cur]
    return cur, sizes


def kmeans_refine(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[tuple[int, list[float]]] | None = None,
    mean_digits: int = 6,
    assign_digits: int = 9,
) -> list[tuple[int, list[float]]]:
    """Lloyd refinement of the IVF coarse centroids — the iterative
    TRAINING loop the one-pass :func:`ivf_seed_centroids` seeding
    defers ("production would refine the seeds offline with a few
    Lloyd passes"; this is that refinement, on the same engine).
    Spherical-k-means flavor matching the serving path: assignment by
    argmax ROUNDED cosine (``assign_digits``, ties to the smallest cid
    — :func:`ivf_assign_col`'s exact rule, so trained centroids drop
    into ivf_topk / ivf_knn_join / semantic_dup_pairs unchanged);
    update = plain per-dimension component means (NOT re-normalized —
    downstream assignment only reads the centroid's direction, and
    cosine is scale-invariant), each rounded ``mean_digits``.

    Determinism across engines and iterations: the rounded means make
    every iteration's centroids identical literals on both engines
    (the label_centroid_sim 6dp convention — the Spark side is an
    exact decimal sum so only the oracle's avg(double) carries
    ~1e-16 reduction noise, absorbed by the round), the rounded-cosine
    argmax then assigns identically, by induction the whole trajectory
    is engine-exact. An iteration that EMPTIES a cluster carries its
    previous centroid forward (size 0) rather than dropping it — k is
    a contract with the serving path.

    Scale shape: ``iters`` passes over the corpus, each one scan + one
    k×dim-bounded partial aggregation; nothing corpus-sized ever hits
    the driver or a single task.  Returns the refined centroid list
    (the ``centroids=`` input shape of every IVF consumer).
    """
    if centroids is None:
        centroids = ivf_seed_centroids(emb, k, id_col, vec_col)
    cents, _ = _lloyd_loop(emb, centroids, iters, vec_col,
                           assign_digits, mean_digits)
    return cents


def kmeans_components(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[tuple[int, list[float]]] | None = None,
    mean_digits: int = 6,
    assign_digits: int = 9,
) -> DataFrame:
    """:func:`kmeans_refine`'s trained state as a long-form frame
    ``(cid, dim, m, n)`` — one row per centroid component plus the
    cluster size, the SQL-friendly layout an oracle can recompute and a
    catalog can store as the model artifact.  Carried (emptied)
    clusters appear with ``n = 0`` and their last non-empty centroid.
    Driver-sized (k×dim rows) by construction."""
    if centroids is None:
        centroids = ivf_seed_centroids(emb, k, id_col, vec_col)
    cents, sizes = _lloyd_loop(emb, centroids, iters, vec_col,
                               assign_digits, mean_digits)
    spark = emb.sparkSession
    data = [
        (int(cid), int(dim), float(m), int(sizes.get(cid, 0)))
        for cid, c in cents
        for dim, m in enumerate(c)
    ]
    return spark.createDataFrame(
        data, "cid int, dim int, m double, n long"
    )


def embedding_cov(
    df: DataFrame,
    emb: str = "embedding",
    value_scale: int = 1_000_000,
) -> DataFrame:
    """Covariance + correlation matrix of the embedding components,
    long-form ``(i, j, n, cov, corr)`` for i <= j — the redundancy
    audit an embedding column gets before anything expensive trusts
    it: near-duplicate dimensions (corr ~ 1) inflate every cosine the
    ANN/dedup paths compute, dead dimensions (cov ~ 0) waste index
    width, and the matrix is exactly the input a driver-side PCA /
    whitening step consumes.

    Exactness (the kmeans/label_sim convention): components are
    fixed-point scaled (``round(x * value_scale)`` -> int64), so every
    moment — S_i, Q_i = P_ii, and the pair sums P_ij — is an EXACT
    decimal(38,0) aggregate; then

        cov_ij  = (n*P_ij − S_i*S_j) / (n² * scale²)
        corr_ij = (n*P_ij − S_i*S_j)
                  / sqrt((n*Q_i − S_i²) · (n*Q_j − S_j²))

    with every numerator an exact decimal cast to double ONCE and the
    variance product multiplied AS DOUBLES (the decimal product can
    pass 1e38 at design scale) — deterministic in any engine, no
    rounding guard needed.  Zero-variance dimensions report NULL corr
    (exact-integer zero test, never a float epsilon).

    Plan shape: NO self-join — the upper-triangle pair stream is
    row-local (posexplode to (i, v_i, tail-slice) then posexplode the
    slice), one partial-aggregatable groupBy(i, j) whose state is
    bounded at d(d+1)/2 rows per task; marginals come from the same
    construction's diagonal, and the assembly joins run on the
    d²-sized frame.  Rows with NULL embeddings are dropped (counted
    out of n); the table is assumed fixed-dimension.

    Implemented as ``cov_from_moments(embedding_moments(df))`` — the
    direct read is the one-tier special case of the mergeable moment
    path, so tiered and direct serves share every closed form.
    """
    return cov_from_moments(
        embedding_moments(df, emb=emb, value_scale=value_scale),
        value_scale=value_scale,
    )


def embedding_moments(
    df: DataFrame,
    emb: str = "embedding",
    by: list | None = None,
    value_scale: int = 1_000_000,
) -> DataFrame:
    """MERGEABLE sufficient statistics of the embedding component
    covariance: one row per ``(by..., i, j)``, i <= j, carrying
    ``(n, p, si, sj)`` = (row count, sum v_i·v_j, sum v_i, sum v_j)
    over fixed-point components v = round(x·value_scale).

    Each cell is SELF-CONTAINED — si/sj ride on the pair row, so
    merging ANY partition of the corpus (periods, sources, ingest
    batches) is a groupBy(i, j) SUM of four exact integer columns.
    This is the covariance analog of the rollup cascade: store
    per-period moment tiers once, then serve the covariance of any
    period union from the stored cells without re-scanning raw — and
    the serve is BIT-identical to the direct read because integer
    sums re-associate losslessly (parity-tested).

    Plan: row-local upper-triangle pair stream (posexplode →
    tail-slice posexplode — never a self-join), ONE partial-
    aggregatable groupBy with state bounded at |groups|·d(d+1)/2 rows
    per task.  Overflow headroom: |v| ≤ scale (unit-normalized
    embeddings), so p ≤ n·scale² ≈ 1e9·1e12 = 1e21 ≪ 10³⁸.
    """
    by = list(by) if by else []
    # cast float32 -> double BEFORE scaling: x * scale computed in
    # float32 has ~7 significant digits and rounds to a different
    # integer than the double product (the cross-engine trap — DuckDB
    # widens mixed float/int arithmetic differently than Spark)
    fp = F.transform(
        F.col(emb).cast("array<double>"),
        lambda x: F.round(x * F.lit(int(value_scale))).cast("long"),
    )
    base = df.filter(F.col(emb).isNotNull()).select(*by, fp.alias("e"))
    lead = base.select(
        *by, F.posexplode("e").alias("i", "vi"), F.col("e"),
    ).select(
        *by, "i", "vi",
        F.posexplode(F.expr("slice(e, i + 1, size(e))"))
        .alias("joff", "vj"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    return (
        lead.select(
            *by, "i", (F.col("i") + F.col("joff")).alias("j"),
            "vi", "vj",
        )
        .groupBy(*by, "i", "j")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("vi") * F.col("vj")).alias("p"),
            F.sum(dec("vi")).alias("si"),
            F.sum(dec("vj")).alias("sj"),
        )
    )


def cov_from_moments(
    m: DataFrame,
    by: list | None = None,
    value_scale: int = 1_000_000,
) -> DataFrame:
    """Serve the covariance/correlation read from STORED moment cells
    (:func:`embedding_moments`) — ``(by..., i, j, n, cov, corr)``.
    Finer-grained moment tiers (per day, per source, per batch) merge
    by exact integer sums down to ``by`` (pass the groups to KEEP;
    default merges everything), then the same closed forms as
    :func:`embedding_cov`:

        cov  = (n·P_ij − S_i·S_j) / (n²·scale²)
        corr = (n·P_ij − S_i·S_j) / sqrt((n·Q_i − S_i²)(n·Q_j − S_j²))

    with Q_k read off the merged DIAGONAL cells, every numerator an
    exact decimal cast to double ONCE, the variance product multiplied
    as doubles, NULL corr at exact-integer zero variance.  Because the
    merge is lossless and the float tail identical, the tiered serve
    is bit-identical to the direct read from raw.
    """
    by = list(by) if by else []
    g = (
        m.groupBy(*by, "i", "j")
        .agg(F.sum("n").alias("n"), F.sum("p").alias("p"),
             F.sum("si").alias("si"), F.sum("sj").alias("sj"))
    )
    diag = g.filter(F.col("i") == F.col("j")).select(
        *by, F.col("i").alias("k"), F.col("p").alias("q"))
    qi = diag.select(*by, F.col("k").alias("i"), F.col("q").alias("qi"))
    qj = diag.select(*by, F.col("k").alias("j"), F.col("q").alias("qj"))
    j = (
        g.join(F.broadcast(qi), [*by, "i"])
        .join(F.broadcast(qj), [*by, "j"])
    )
    nd = F.col("n").cast("decimal(38,0)")
    num = (nd * F.col("p") - F.col("si") * F.col("sj")).cast("double")
    vi = (nd * F.col("qi") - F.col("si") * F.col("si"))
    vj = (nd * F.col("qj") - F.col("sj") * F.col("sj"))
    n_dbl = F.col("n").cast("double")
    denom_cov = n_dbl * n_dbl * F.lit(float(value_scale) ** 2)
    return j.select(
        *by, "i", "j", "n",
        (num / denom_cov).alias("cov"),
        F.when(
            (vi > 0) & (vj > 0),
            num / F.sqrt(vi.cast("double") * vj.cast("double")),
        ).alias("corr"),
    )


def centroid_drift(
    m: DataFrame,
    period: str,
    value_scale: int = 1_000_000,
) -> DataFrame:
    """Per-period embedding-centroid drift served FROM the stored
    moment tier (:func:`embedding_moments` built with ``by=[period]``)
    — is the embedding space itself moving between ingest periods?
    (A drifting encoder or a shifting corpus silently invalidates
    every stored ANN index and cosine threshold; this is the drift
    read for the EMBEDDING column, next to the PSI/KS family for
    value columns.)

    Only the DIAGONAL cells are read (i == j carries n and S_i = the
    exact component sum).  Centroid cosine needs no division by n at
    all — the n's cancel:

        cos(c_a, c_b) = Σ S_i^a·S_i^b / (√Σ(S_i^a)² · √Σ(S_i^b)²)

    so the dot and both norms are EXACT decimal integers (one double
    cast each, one division) — engine-deterministic with no guard.
    The centroid L2 shift (in value units) clears denominators the
    chi2 way: per-dim term (S_i^a·n_b − S_i^b·n_a) exact decimal,
    SQUARED AS DOUBLE (the square can pass 1e38), summed, one
    sqrt / (n_a·n_b·scale) descale, 6dp guard on the d-term float
    sum.  Periods pair with their previous PRESENT period (lag per
    dim — a wholly absent period never breaks pairing); the first
    period and incomplete pairings report NULL.

    Plan: everything on the |periods|×d diagonal frame — one lag
    window per dim, one groupBy(period); raw is never re-scanned.
    """
    diag = m.filter(F.col("i") == F.col("j")).select(
        period, "i", "si", "n")
    w = Window.partitionBy("i").orderBy(period)
    lagged = diag.select(
        period, "i", "si", "n",
        F.lag("si").over(w).alias("sp"),
        F.lag("n").over(w).alias("np"),
    )
    term = (F.col("si") * F.col("np") - F.col("sp") * F.col("n")) \
        .cast("double")
    g = lagged.groupBy(period).agg(
        F.max("n").alias("n"),
        F.max("np").alias("n_prev"),
        F.count("si").alias("__d"),
        F.count("sp").alias("__dp"),
        F.sum(F.col("si") * F.col("sp")).alias("__dot"),
        F.sum(F.col("si") * F.col("si")).alias("__qa"),
        F.sum(F.col("sp") * F.col("sp")).alias("__qb"),
        F.sum(term * term).alias("__t2"),
    )
    paired = (F.col("__dp") == F.col("__d"))
    pos = (F.col("__qa") > 0) & (F.col("__qb") > 0)
    cos = F.col("__dot").cast("double") / F.sqrt(
        F.col("__qa").cast("double") * F.col("__qb").cast("double"))
    l2 = F.sqrt(F.col("__t2")) / (
        F.col("n").cast("double") * F.col("n_prev").cast("double")
        * F.lit(float(value_scale)))
    return g.select(
        period, "n", "n_prev",
        F.when(paired & pos, cos).alias("cos_prev"),
        F.when(paired, F.round(l2, 6)).alias("l2_prev"),
    )


def cluster_occupancy_drift(
    df: DataFrame,
    centroids: list,
    period: str,
    vec_col: str = "embedding",
    ndigits: int = 6,
) -> DataFrame:
    """Embedding-distribution SHAPE drift between consecutive ingest
    periods: PSI over IVF coarse-list occupancy.  The companion of
    :func:`centroid_drift` — that read answers "did the centroid
    MOVE"; this one answers "did the mass REDISTRIBUTE" (a corpus
    splitting into two new modes can keep its centroid perfectly
    still).  It is also the drift monitor FOR the ANN index itself:
    occupancy shift = inverted lists going stale.

    Assignment is the plan-literal JVM argmax (:func:`ivf_assign_col`
    — no shuffle, no Python, same 9dp-rounded-cosine tie rule as every
    IVF path, so the monitor watches exactly the partition the index
    serves).  Occupancy is ONE partial-aggregatable groupBy(period,
    cid) corpus pass; the PSI runs per period-successor pair on the
    |periods|·n_list count frame with :func:`psi_from_hists`' exact-
    count + Laplace conventions (one-sided lists contribute finitely).
    Periods are integers; period p pairs with p−1, and only pairs
    present on BOTH sides report (a first/absent period drops rather
    than scoring against an empty ghost).  Output: (period, n_bins,
    psi) — PSI of period vs its predecessor.
    """
    from traval_spark.operators.monitor import psi_from_hists

    occ = (
        df.filter(F.col(vec_col).isNotNull())
        .groupBy(
            period,
            ivf_assign_col(vec_col, centroids, ndigits=9).alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    prev = occ.select((F.col(period) + 1).alias(period), "bin",
                      F.col("cnt").alias("ca"))
    cur = occ.select(period, "bin", F.col("cnt").alias("cb"))
    pres = occ.select(period).distinct()
    valid = pres.join(
        pres.select((F.col(period) + 1).alias(period)), [period])
    return psi_from_hists(prev, cur, by=(period,), ndigits=ndigits).join(
        F.broadcast(valid), [period], "left_semi")


def pca_components(
    moments: DataFrame,
    value_scale: int = 1_000_000,
    k: int | None = None,
):
    """Driver-side PCA over the EXACT moment cells — the step the
    :func:`embedding_cov` docstring promises: collect the d(d+1)/2
    merged cells (a d²-sized frame, never the corpus), assemble the
    covariance matrix in float, ``numpy.linalg.eigh`` it, and return
    ``(mean, eigenvalues, components)`` with eigenvalues descending
    and components as rows.  Sign convention: each component's
    largest-|entry| coordinate is made positive, so the basis is
    deterministic (eigh's sign is otherwise arbitrary).

    The heavy work (the corpus scan) happened in
    :func:`embedding_moments`; this is O(d³) on the driver — at
    d ≤ a few thousand that is milliseconds, and distributing an
    eigensolve of a d×d matrix would be all overhead.
    """
    import numpy as np

    rows = (
        moments.groupBy("i", "j")
        .agg(F.sum("n").alias("n"), F.sum("p").alias("p"),
             F.sum("si").alias("si"), F.sum("sj").alias("sj"))
        .collect()
    )
    d = 1 + max(r["j"] for r in rows)
    n = next(r["n"] for r in rows)
    scale = float(value_scale)
    s = np.zeros(d)
    cov = np.zeros((d, d))
    for r in rows:
        num = float(int(n) * int(r["p"]) - int(r["si"]) * int(r["sj"]))
        c = num / (float(n) * float(n) * scale * scale)
        cov[r["i"], r["j"]] = c
        cov[r["j"], r["i"]] = c
        if r["i"] == r["j"]:
            s[r["i"]] = float(int(r["si"]))
    mean = s / (float(n) * scale)
    w, v = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1]
    w, v = w[order], v[:, order]
    comps = v.T.copy()
    for r_ in range(comps.shape[0]):
        lead = np.argmax(np.abs(comps[r_]))
        if comps[r_, lead] < 0:
            comps[r_] = -comps[r_]
    if k is not None:
        w, comps = w[:k], comps[:k]
    return mean, w, comps


def embedding_project(
    df: DataFrame,
    components,
    mean=None,
    eigenvalues=None,
    whiten: bool = False,
    emb: str = "embedding",
    out: str = "proj",
    round_dp: int = 6,
) -> DataFrame:
    """Distributed projection of the embedding column onto a k×d
    component matrix (PCA reduce / whitening / any fixed linear map):
    ``y_r = Σ_d W_rd·(x_d − μ_d)``, optionally scaled by 1/√λ_r
    (whitening — unit variance per output dimension).

    Plan: PURE whole-stage-codegen projection — the matrix is folded
    into plan-time literals (the LSH plane-literal convention), each
    output coordinate is one ``aggregate(zip_with(x, w_r, ·), +)``
    fold, row-local, no shuffle, no Python.  The mean offset collapses
    to a per-row constant c_r = W_r·μ at plan time.  Output rounded
    ``round_dp`` dp (the fold is deterministic left-to-right, but a
    serving engine's dot order may differ — the usual 6dp guard).
    """
    import numpy as np

    W = np.asarray(components, dtype=float)
    if whiten:
        if eigenvalues is None:
            raise ValueError("whiten=True requires eigenvalues")
        lam = np.asarray(eigenvalues, dtype=float)[: W.shape[0]]
        W = W / np.sqrt(np.maximum(lam, 1e-300))[:, None]
    offs = W @ np.asarray(mean, dtype=float) if mean is not None \
        else np.zeros(W.shape[0])
    cols = []
    for r in range(W.shape[0]):
        cols.append(
            f"ROUND({_dot_lit_sql(emb, [float(c) for c in W[r]])}"
            f" - {_fmt_lit(float(offs[r]))}, {int(round_dp)})"
        )
    return df.withColumn(out, F.expr(f"array({', '.join(cols)})"))
