"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Training-data-pipeline dedup over the ``documents`` table, designed for
the 100 TB path:

- **exact**: one hash-groupBy on md5(text) — map-side combine, no pairwise
  work, trivially scales.
- **MinHash + LSH**: shingle -> per-band signature -> bucket-join. Pairs
  are only generated *within* LSH buckets (the classic
  shingle->minhash->band->bucket-join pipeline), so cost is
  O(sum bucket^2), not O(n^2).
- **SimHash**: 16-bit majority-vote fingerprint from portable fold-hashes;
  near-dup candidates share the fingerprint (or a band of it).
- **n-gram Jaccard**: exact verification metric, computed only for
  candidate pairs that share >= 1 shingle (inverted-index join, skew-safe:
  ultra-common shingles can be capped via document-frequency filter).

Portability: every hash here is md5-hex or the fold-hash — bit-identical
in DuckDB, so every operator has a full value-level oracle.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from traval_spark.operators.text import fold_hash, kgrams, ws_tokens

logger = logging.getLogger("traval_spark.dedup")


def _cap_bucket_size(
    bands: DataFrame, keys: list[str], max_bucket_size: int, what: str
) -> DataFrame:
    """Drop candidate buckets larger than ``max_bucket_size`` WITH
    DISCLOSURE: a degenerate bucket (e.g. every empty-text doc sharing one
    fingerprint band) contributes f^2 candidate rows — at web scale a
    single hot bucket is the whole job, and AQE skew-join only spreads the
    pain. The cap bounds the worst case; the cost is recall on pairs whose
    ONLY shared band is the hot one, so the dropped bucket/doc counts are
    logged (never silent truncation) and the default stays uncapped.

    One small action (an aggregate over the already-persisted fingerprint
    frame) pays for the disclosure; the oversize-bucket key list is tiny
    by construction (at most n/max buckets) and broadcast anti-joins.
    """
    sizes = bands.groupBy(*keys).agg(F.count("*").alias("__bsz"))
    big = sizes.filter(F.col("__bsz") > int(max_bucket_size))
    stats = big.agg(
        F.count("*").alias("nb"), F.sum("__bsz").alias("nd")
    ).first()
    if stats["nb"]:
        logger.warning(
            "%s: dropping %d candidate bucket(s) over max_bucket_size=%d "
            "(%d member rows); pairs whose only shared band is a dropped "
            "bucket will be missed",
            what, stats["nb"], int(max_bucket_size), stats["nd"],
        )
        bands = bands.join(
            F.broadcast(big.select(*keys)), on=keys, how="left_anti"
        )
    return bands


def exact_dup_groups(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Exact-duplicate groups: (text_hash, n_docs, min_doc_id), n_docs > 1."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min(F.col(id_col)).alias("min_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


def shingles(text: Column, k: int = 3) -> Column:
    """k-word shingles as ' '-joined strings (distinct set); sliding-window
    core shared via text.py:kgrams."""
    return F.array_distinct(kgrams(ws_tokens(text), k))


def _minhash_over(sh: DataFrame, id_col: str, n_hashes: int) -> DataFrame:
    """(id, sig_0..sig_{n-1}) from an (id, __sh) shingle frame — the
    MinHash core shared by the word-shingle (:func:`with_minhash`) and
    token-shingle (:func:`with_minhash_tokens`) constructions. The shingle
    array is a real column so the n per-band mins share it (higher-order
    funcs are interpreted, not codegen'd — recomputing it per band costs
    n_hashes x; CollapseProject keeps the projections separate because the
    producer expression is non-cheap and multiply referenced)."""

    def band_min(b: int):
        # strictly 1-ary lambda: a default arg would make PySpark treat it
        # as the (element, index) form and bind the index to b
        prefix = F.lit(f"{b}|")
        return F.array_min(
            F.transform(F.col("__sh"), lambda s: F.md5(F.concat(prefix, s)))
        ).alias(f"sig_{b}")

    return sh.select(F.col(id_col), *[band_min(b) for b in range(n_hashes)])


def with_minhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                 n_hashes: int = 4, k: int = 3) -> DataFrame:
    """(id, sig_0..sig_{n-1}) over k-WORD shingles of a text column."""
    sh = docs.select(
        F.col(id_col), shingles(F.col(text_col), k).alias("__sh")
    )
    return _minhash_over(sh, id_col, n_hashes)


def token_shingles(tokens: Column, k: int = 3) -> Column:
    """k-TOKEN shingles of an ``array<int>`` token-id column as
    ' '-joined decimal strings (distinct set) — the pre-tokenized-corpus
    twin of :func:`shingles` (LM-pipeline n-gram dedup runs on token ids,
    not words; the classic config is 13-gram, parameterized here).
    Portable: DuckDB mirrors it with array_to_string over a list slice;
    sliding-window core shared via text.py:kgrams."""
    toks = F.transform(tokens, lambda t: t.cast("string"))
    return F.array_distinct(kgrams(toks, k))


def with_minhash_tokens(
    seqs: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    n_hashes: int = 4,
    k: int = 3,
) -> DataFrame:
    """(id, sig_0..sig_{n-1}) over k-TOKEN shingles of a pre-tokenized
    sequence table (the graft input shape: tokens array<int32>). Same
    signature frame contract as :func:`with_minhash`, so every downstream
    consumer (banded pairs, incremental probe, persisted corpus tables)
    works unchanged on token sequences."""
    sh = seqs.select(
        F.col(id_col), token_shingles(F.col(tokens_col), k).alias("__sh")
    )
    return _minhash_over(sh, id_col, n_hashes)


def exact_token_dup_groups(seqs: DataFrame, tokens_col: str = "tokens",
                           id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate TOKEN-SEQUENCE groups: (tok_hash, n_docs,
    min_doc_id), n_docs > 1 — :func:`exact_dup_groups` for the
    pre-tokenized input shape. Grouping on md5 of the ','-joined ids
    (a fixed-width shuffle key) instead of the raw array keeps the
    exchange row width flat regardless of sequence length; md5 of the
    canonical string is portable (DuckDB: md5(array_to_string(.., ','))).

    NULL token arrays are excluded — concat_ws would silently key them
    as the empty string and fabricate exact-dup groups with genuinely
    empty sequences (and DuckDB's md5(NULL) = NULL would group them
    separately: engine divergence either way). NULL *elements* are out
    of contract (tokenizer output is dense int32) — concat_ws skips
    them, so [1, NULL, 2] would collide with [1, 2]."""
    key = F.md5(
        F.concat_ws(",", F.col(tokens_col).cast("array<string>"))
    )
    return (
        seqs.filter(F.col(tokens_col).isNotNull())
        .groupBy(key.alias("tok_hash"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min(F.col(id_col)).alias("min_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


def lsh_buckets(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                n_hashes: int = 4, k: int = 3) -> DataFrame:
    """LSH candidate buckets: docs grouped by the full minhash signature
    (one band of n_hashes rows); buckets with > 1 doc are dup candidates."""
    with_sig = with_minhash(docs, text_col, id_col, n_hashes, k)
    bucket = F.md5(F.concat_ws("|", *[F.col(f"sig_{b}") for b in range(n_hashes)]))
    return (
        with_sig.groupBy(bucket.alias("bucket"))
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("min_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_df: int | None = 10_000,
    materialize: bool = True,
) -> DataFrame:
    """Near-dup pairs by exact k-gram Jaccard, via inverted-index join.

    explode(shingles) -> self-join on shingle (only co-occurring pairs are
    ever materialized) -> per-pair intersection count -> Jaccard with
    |A|+|B|-inter. ``max_shingle_df`` drops shingles appearing in more than
    that many docs from the inverted index — the stopword-shingle skew
    guard: ON by default (a single shingle present in f docs contributes
    f^2 join rows; at web scale an uncapped hot shingle is the whole job).
    Results are exact whenever every shingle's document frequency <= cap;
    beyond it, pairs whose overlap rides only on ultra-common shingles may
    undercount (the standard recall/cost trade). Pass None for the exact
    uncapped join.
    """
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        shingles(F.col(text_col), k).alias("sh"),
    ).withColumn("n_sh", F.size("sh"))
    if materialize:
        # the shingled corpus feeds the df-count aggregation AND (via the
        # self-join below) TWO probe sides; without this the tokenize +
        # shingle pass runs 3x (self-joins duplicate their input subtree
        # in the physical plan — see simhash64_dup_pairs)
        base = base.persist()
    inv = base.select("doc_id", "n_sh", F.explode("sh").alias("shingle"))
    if max_shingle_df is not None:
        df_counts = inv.groupBy("shingle").agg(F.count("*").alias("df"))
        inv = inv.join(
            df_counts.filter(F.col("df") <= max_shingle_df), on="shingle"
        )
        if materialize:
            # the capped inverted index is probed by BOTH pair sides;
            # caching it runs the df-cap shuffle join once instead of twice
            inv = inv.persist()
    a = inv.select(
        F.col("shingle"),
        F.col("doc_id").alias("a"),
        F.col("n_sh").alias("na"),
    )
    b = inv.select(
        F.col("shingle"),
        F.col("doc_id").alias("b"),
        F.col("n_sh").alias("nb"),
    )
    pairs = (
        a.join(b, on="shingle")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b", "na", "nb")
        .agg(F.count("*").alias("inter"))
    )
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        pairs.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "inter", "jaccard")
    )


def with_simhash16(df: DataFrame, text_col: str = "text",
                   out: str = "simhash") -> DataFrame:
    """16-bit SimHash column: per token fold-hash h; bit j of the
    fingerprint is 1 iff sum over tokens of sign((h >> j) & 1) is positive
    (majority vote). Token hashes are materialized once into a real column
    so the 16 per-bit aggregates share them instead of re-hashing."""
    hashes = F.transform(ws_tokens(F.col(text_col)), lambda t: fold_hash(t))
    df = df.withColumn("__th", hashes)

    def bit_vote(j: int):
        # NB: the merge lambda must be exactly 2-ary — PySpark inspects the
        # arity and would pass an index Column to any extra parameter
        mask = F.lit(1 << j)
        return lambda acc, h: acc + F.when(
            h.bitwiseAND(mask) != 0, F.lit(1)
        ).otherwise(F.lit(-1))

    fp = F.lit(0).cast("bigint")
    for j in range(16):
        vote = F.aggregate(F.col("__th"), F.lit(0).cast("bigint"), bit_vote(j))
        fp = fp + F.when(vote > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return df.withColumn(out, fp.cast("bigint")).drop("__th")


# ---------------------------------------------------------------------------
# 64-bit SimHash with banded Hamming search (web-scale config; the 16-bit
# variant above keeps only 65k distinct buckets — at 10^10 docs every
# bucket is huge, VERDICT r1)
# ---------------------------------------------------------------------------


def with_simhash64(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash as two 32-bit halves (fp_hi bits 32..63, fp_lo 0..31).

    Construction: per whitespace token, 64 bits from the first 16 hex
    digits of md5(token); fingerprint bit j = majority vote of token bit j.
    Implemented explode -> ONE md5 per token -> TWO hex->int conversions
    per token (the 8-digit halves) -> 64 integer shift/mask conditional
    sums per doc: the per-bit hot path is pure integer codegen (an earlier
    form did substring+conv per BIT — 64 string ops per token — and was
    the dominant cost of the whole banded search), fully
    map-side-combinable. Two bigint halves < 2^32 sidestep the sign bit
    and give DuckDB-portable arithmetic. Bit numbering is unchanged:
    bit j = hex digit j//4 shifted by 3-j%4, i.e. half >> (31-j or 63-j).

    The 64 vote sums and the two 32-term halves are SQL strings, one
    py4j call each: as Column chains they would be about a thousand
    Column nodes, each at least one py4j round trip.
    """
    toks = df.select(
        F.col(id_col), F.explode(ws_tokens(F.col(text_col))).alias("__t")
    )
    toks = toks.withColumn("__h", F.md5(F.col("__t"))).select(
        id_col,
        F.conv(F.substring("__h", 1, 8), 16, 10).cast("bigint").alias("__w0"),
        F.conv(F.substring("__h", 9, 8), 16, 10).cast("bigint").alias("__w1"),
    )
    votes = [
        F.expr(f"sum(CASE WHEN (shiftright(__w{j // 32}, {31 - j % 32}) & 1)"
               f" = 1 THEN 1 ELSE -1 END) AS __v{j}")
        for j in range(64)
    ]

    def half(off: int) -> str:
        return " + ".join(
            ["CAST(0 AS BIGINT)"]
            + [f"CASE WHEN __v{j + off} > 0 THEN {1 << j} ELSE 0 END"
               for j in range(32)])

    return toks.groupBy(id_col).agg(*votes).select(
        F.col(id_col), F.expr(half(0)).alias("fp_lo"),
        F.expr(half(32)).alias("fp_hi"))


def _simhash64_bands(fp: DataFrame, id_col: str) -> DataFrame:
    """Explode a fingerprint frame (id, fp_lo, fp_hi) into its 4 x 16-bit
    pigeonhole bands: (id, fp_lo, fp_hi, band, key). THE band definition
    for every 64-bit SimHash pair search — the incremental path's
    equivalence to the full path (dedup_incremental oracle) requires both
    to bucket identically, so there is exactly one copy."""
    return fp.select(
        F.col(id_col),
        "fp_lo",
        "fp_hi",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("band"),
                         F.col("fp_lo").bitwiseAND(F.lit(0xFFFF))
                         .alias("key")),
                F.struct(F.lit(1).alias("band"),
                         F.shiftright(F.col("fp_lo"), 16).alias("key")),
                F.struct(F.lit(2).alias("band"),
                         F.col("fp_hi").bitwiseAND(F.lit(0xFFFF))
                         .alias("key")),
                F.struct(F.lit(3).alias("band"),
                         F.shiftright(F.col("fp_hi"), 16).alias("key")),
            )
        ).alias("bk"),
    ).select(id_col, "fp_lo", "fp_hi", "bk.band", "bk.key")


def simhash64_dup_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    materialize: bool = True,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs by banded 64-bit SimHash Hamming search.

    Standard pigeonhole banding: split the fingerprint into 4 x 16-bit
    bands; any pair with Hamming distance <= 3 matches exactly on >= 1
    band, so candidates = per-band bucket join (no O(n^2)), then exact
    Hamming verification via xor + bit_count. Candidate volume is
    O(sum bucket^2) per band; a hot band bucket falls to AQE skew-join.

    ``materialize``: persist the fingerprint frame before the self-join.
    A self-join duplicates its input subtree in the physical plan (no
    exchange reuse across a broadcast boundary), so without this the
    expensive text-hashing aggregation runs TWICE over the corpus;
    persisting the tiny (id, 2xbigint) frame instead measured 6.7x
    faster at sf0.1 (21.2s -> 3.1s). At warehouse scale write the
    fingerprints to a table and join from that. ``persist`` registers
    the frame in the session's CacheManager, which holds it until it is
    unpersisted or the session's cache is cleared
    (``spark.catalog.clearCache()``); dropping the returned plan does not
    release it.

    ``max_bucket_size``: bound the worst-case hot band bucket (see
    :func:`_cap_bucket_size`) — drops oversize buckets with a logged
    disclosure count instead of leaving a degenerate f^2 self-join to
    AQE. Default None = exact (every candidate pair generated).
    """
    fp = with_simhash64(docs, text_col, id_col)
    if materialize:
        fp = fp.persist()
    bands = _simhash64_bands(fp, id_col)
    if max_bucket_size is not None:
        bands = _cap_bucket_size(bands, ["band", "key"], max_bucket_size,
                                 "simhash64_dup_pairs")
    a = bands.select(
        "band", "key", F.col(id_col).alias("a"),
        F.col("fp_lo").alias("lo_a"), F.col("fp_hi").alias("hi_a"),
    )
    b = bands.select(
        "band", "key", F.col(id_col).alias("b"),
        F.col("fp_lo").alias("lo_b"), F.col("fp_hi").alias("hi_b"),
    )
    ham = (
        F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
        + F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
    )
    return (
        a.join(b, on=["band", "key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()  # a pair can match on several bands
    )


def simhash64_incremental_pairs(
    new_docs: DataFrame,
    corpus_fp: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    materialize: bool = True,
    max_bucket_size: int | None = None,
    new_fp: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs for a NEW batch against an existing corpus WITHOUT
    re-pairing the corpus with itself — the shape a daily 100 TB ingest
    actually runs (full-corpus re-pairing is O((N+n)^2-candidate) work
    per day for an n << N batch; this is O(n*(N+n)-candidate) with the
    same banding).

    ``corpus_fp`` is the persisted fingerprint table (id, fp_lo, fp_hi)
    — exactly :func:`with_simhash64`'s output, the thing a warehouse
    keeps between ingests (e.g. a TierStore tier). Only the new batch is
    hashed here. Candidates = new-doc bands probed against (corpus UNION
    new) bands, so every emitted pair has >= 1 new member: new-vs-corpus
    AND new-vs-new pairs both surface, corpus-vs-corpus never re-pairs.
    Pairs are (least, greatest)-normalized, Hamming-verified via
    xor + bit_count, and distinct-ed across bands — identical semantics
    to :func:`simhash64_dup_pairs` restricted to pairs touching the new
    batch (the oracle relation: full-corpus pairs where a or b is new).

    After the run, append the new fingerprints to the corpus table; the
    corpus never needs re-hashing. ``new_fp`` passes the batch's
    (id, fp_lo, fp_hi) frame in precomputed when the caller also needs
    it (e.g. to append it to the corpus store — the streaming sink does)
    so the expensive text-hash aggregation runs once, not twice; the
    caller owns its persistence then (``materialize`` is ignored).
    """
    if new_fp is None:
        new_fp = with_simhash64(new_docs, text_col, id_col)
        if materialize:
            # probed once per band side; keeps the text-hash agg single-run
            new_fp = new_fp.persist()
    all_fp = corpus_fp.select(id_col, "fp_lo", "fp_hi").unionByName(new_fp)

    probe = _simhash64_bands(new_fp, id_col).select(
        "band", "key", F.col(id_col).alias("na"),
        F.col("fp_lo").alias("lo_a"), F.col("fp_hi").alias("hi_a"),
    )
    build = _simhash64_bands(all_fp, id_col)
    if max_bucket_size is not None:
        build = _cap_bucket_size(build, ["band", "key"], max_bucket_size,
                                 "simhash64_incremental_pairs")
    build = build.select(
        "band", "key", F.col(id_col).alias("nb"),
        F.col("fp_lo").alias("lo_b"), F.col("fp_hi").alias("hi_b"),
    )
    ham = (
        F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
        + F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
    )
    return (
        probe.join(build, on=["band", "key"])
        .filter(F.col("na") != F.col("nb"))
        .select(
            F.least(F.col("na"), F.col("nb")).alias("a"),
            F.greatest(F.col("na"), F.col("nb")).alias("b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def _minhash_bands(sig: DataFrame, id_col: str, b: int, r: int) -> DataFrame:
    """Explode a MinHash signature frame (id, sig_0..sig_{b*r-1}) into its
    b banded bucket keys: (id, band, key), key = md5 of the band's r-row
    sub-signature. THE band definition for every banded-MinHash pair
    search — the incremental path's equivalence to the full path
    (minhash_incremental oracle) requires both to bucket identically, so
    there is exactly one copy (same rule as _simhash64_bands)."""
    band_structs = [
        F.struct(
            F.lit(i).alias("band"),
            F.md5(
                F.concat_ws(
                    "|", *[F.col(f"sig_{i * r + j}") for j in range(r)]
                )
            ).alias("key"),
        )
        for i in range(b)
    ]
    return sig.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("bk")
    ).select(id_col, "bk.band", "bk.key")


def minhash_incremental_pairs(
    new_docs: DataFrame,
    corpus_sig: DataFrame,
    b: int = 4,
    r: int = 2,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    materialize: bool = True,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Banded-MinHash candidate pairs for a NEW batch against an existing
    corpus without re-pairing the corpus with itself — the MinHash twin
    of :func:`simhash64_incremental_pairs` (same daily-ingest shape,
    same O(n*(N+n))-candidate cost for an n << N batch).

    ``corpus_sig`` is the persisted signature table (id, sig_0..sig_{b*r-1})
    — exactly :func:`with_minhash`'s output with n_hashes = b*r; only the
    new batch is shingled+hashed here. New-doc bands probe (corpus UNION
    new) bands, so new-vs-corpus and new-vs-new candidates both surface
    and every emitted pair has >= 1 new member: the full
    :func:`lsh_banded_pairs` set restricted to pairs touching the batch
    (the oracle relation). After the run, append the new signatures to
    the corpus table; the corpus never re-shingles.
    """
    new_sig = with_minhash(new_docs, text_col, id_col, n_hashes=b * r, k=k)
    if materialize:
        new_sig = new_sig.persist()  # probe side AND a union leg of build
    sig_cols = [f"sig_{i}" for i in range(b * r)]
    all_sig = corpus_sig.select(id_col, *sig_cols).unionByName(new_sig)

    probe = _minhash_bands(new_sig, id_col, b, r).select(
        "band", "key", F.col(id_col).alias("na")
    )
    build = _minhash_bands(all_sig, id_col, b, r)
    if max_bucket_size is not None:
        build = _cap_bucket_size(build, ["band", "key"], max_bucket_size,
                                 "minhash_incremental_pairs")
    build = build.select("band", "key", F.col(id_col).alias("nb"))
    return (
        probe.join(build, on=["band", "key"])
        .filter(F.col("na") != F.col("nb"))
        .select(
            F.least(F.col("na"), F.col("nb")).alias("a"),
            F.greatest(F.col("na"), F.col("nb")).alias("b"),
        )
        .distinct()
    )


def lsh_banded_pairs(
    docs: DataFrame,
    b: int = 4,
    r: int = 2,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    materialize: bool = True,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """MinHash LSH candidate pairs with explicit (b, r) banding.

    The classic recall knob the single-band lsh_buckets above lacks:
    b bands of r minhash rows each (n_hashes = b*r); a pair is a candidate
    iff at least one band's r-row sub-signature matches (match probability
    1 - (1 - s^r)^b for Jaccard s). Bands are separate bucket keys
    (band_idx, md5(sig_i..sig_{i+r-1})) so each band joins independently;
    pairs are distinct-ed across bands.

    ``materialize``: persist the (id, b*r ints) signature frame before
    the self-join — same double-computation trap as simhash64_dup_pairs
    (the shingle+minhash aggregation would otherwise run twice).

    ``max_bucket_size``: bound the worst-case hot band bucket with a
    logged disclosure count (see :func:`_cap_bucket_size`); None = exact.
    """
    sig = with_minhash(docs, text_col, id_col, n_hashes=b * r, k=k)
    return _banded_pairs_from_sig(sig, id_col, b, r, materialize,
                                  max_bucket_size, "lsh_banded_pairs")


def _banded_pairs_from_sig(
    sig: DataFrame,
    id_col: str,
    b: int,
    r: int,
    materialize: bool,
    max_bucket_size: int | None,
    what: str,
) -> DataFrame:
    """(a, b) candidate pairs from a MinHash signature frame via (b, r)
    banding — the join tail shared by the word-shingle and token-shingle
    banded searches (``materialize`` persists the signature frame so the
    shingle+minhash aggregation doesn't run twice through the self-join's
    duplicated input subtree)."""
    if materialize:
        sig = sig.persist()
    bands = _minhash_bands(sig, id_col, b, r)
    if max_bucket_size is not None:
        bands = _cap_bucket_size(bands, ["band", "key"], max_bucket_size,
                                 what)
    a = bands.select("band", "key", F.col(id_col).alias("a"))
    pairs = (
        a.join(bands.select("band", "key", F.col(id_col).alias("b")),
               on=["band", "key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    return pairs


def token_lsh_banded_pairs(
    seqs: DataFrame,
    b: int = 4,
    r: int = 2,
    k: int = 3,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    materialize: bool = True,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """MinHash LSH candidate pairs over k-TOKEN shingles of a
    pre-tokenized sequence table — :func:`lsh_banded_pairs` for the graft
    input shape (tokens array<int32>), the n-gram near-dedup an LM corpus
    pipeline actually runs (13-gram over token ids in the classic config).
    Same banding, persistence, and hot-bucket-cap machinery; only the
    shingle source differs (:func:`token_shingles`)."""
    sig = with_minhash_tokens(seqs, tokens_col, id_col, n_hashes=b * r, k=k)
    return _banded_pairs_from_sig(sig, id_col, b, r, materialize,
                                  max_bucket_size, "token_lsh_banded_pairs")


def _large_star(e: DataFrame) -> DataFrame:
    """One large-star round (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SOCC'14): symmetrize, then for every vertex u
    with m = min(N(u) + {u}) connect each STRICTLY LARGER neighbor v > u
    to m. Output edges are directed larger -> smaller (v > u >= m).

    ``min(v) OVER (PARTITION BY u)`` reads the neighborhood minimum in
    the one shuffle by u, where a groupBy-min joined back to the edges
    would shuffle them twice."""
    sym = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    m = F.least(F.col("u"), F.min("v").over(Window.partitionBy("u")))
    return (
        sym.withColumn("m", m)
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """One small-star round: input edges directed u > v (large-star output
    shape); for every u with m = min(N(u)) connect each smaller neighbor
    v != m AND u itself to m. Output stays directed larger -> smaller.

    One window pass by u gives each edge its m; each edge then emits
    (v, m) and (u, m), the self-edges drop and ``distinct`` folds the
    (u, m) copies."""
    m = F.min("v").over(Window.partitionBy("u"))
    return (
        e.withColumn("m", m)
        .select(F.inline(F.array(
            F.struct(F.col("v").alias("u"), F.col("m").alias("v")),
            F.struct(F.col("u"), F.col("m").alias("v")),
        )))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components(
    pairs: DataFrame, max_iter: int = 25
) -> tuple[DataFrame, int]:
    """Connected components over an (a, b) pair frame via alternating
    large-star/small-star (Kiveris et al., SOCC'14) — O(log n) rounds
    regardless of component diameter, vs O(diameter) for min-label
    propagation. Returns ((node, root) edges for every NON-ROOT node
    touched by a pair, rounds-to-converge).

    Per round: two window-min passes, each followed by a distinct (no
    vertex state frame, the edge set IS the state; 5 Spark jobs under
    AQE) and a localCheckpoint to truncate iterative lineage. The round's
    convergence scalars (count + xxhash64 edge-set checksum) are
    observed in the checkpoint's own job, so a round is one driver
    synchronization and the driver only ever sees two scalars. At the
    fixed point the edge set is a star forest: every non-root vertex
    holds exactly its (node, component-min) edge.
    """
    e = (
        pairs.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .localCheckpoint()
    )
    prev: tuple | None = None
    for rounds in range(1, max_iter + 1):
        seen = Observation()
        # checksum summed as decimal(38,0): a long sum of 64-bit hashes
        # overflows under ANSI arithmetic
        e = _small_star(_large_star(e)).observe(
            seen,
            F.count("*").alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("chk"),
        ).localCheckpoint()
        cur = (seen.get["n"], seen.get["chk"])
        if cur == prev:
            return e, rounds
        prev = cur
    raise RuntimeError(
        f"connected_components did not converge within max_iter={max_iter} "
        "star rounds — with O(log n) convergence this indicates a graph "
        "far larger than max_iter accounts for; raise max_iter"
    )


def dup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph: every doc
    labeled with the SMALLEST doc id reachable through dup pairs — its
    cluster representative (keep rows where id == cluster, drop the
    rest: the standard last step of a fuzzy-dedup pipeline). Docs in no
    pair label themselves.

    Alternating large-star/small-star contraction (see
    :func:`connected_components`) — O(log n) driver-synchronized rounds
    regardless of component diameter; a million-node chain converges in
    ~20 rounds where min-label propagation needs a million.

    The id keeps its OWN type throughout (min/least order any orderable
    type — a long cast would silently NULL string ids), and
    non-convergence within ``max_iter`` star rounds raises instead of
    returning split clusters.
    """
    stars, _rounds = connected_components(pairs, max_iter=max_iter)
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(
            stars.select(F.col("u").alias("id"), F.col("v").alias("__root")),
            "id",
            "left",
        )
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("__root"), F.col("id")).alias("cluster"),
        )
    )


def contaminated_docs(
    corpus: DataFrame,
    benchmark: DataFrame,
    k: int = 3,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing >= 1 k-token shingle
    with ANY benchmark sequence, with the shared-shingle count —
    (id, n_shared). The training-data hygiene step an LM pipeline runs
    before training: drop (or flag) documents that leak eval data.

    Shape for 100 TB: the benchmark side (an eval suite) is tiny next to
    the corpus, so its DISTINCT shingle set is broadcast
    (``broadcast_benchmark=True``, default) and the corpus side is
    explode -> broadcast-hash-join -> partial-aggregatable groupBy — the
    corpus is never shuffled by shingle. Set False for a genuinely large
    benchmark side (falls back to a shuffle join on the shingle key).
    """
    bsh = benchmark.select(
        F.explode(token_shingles(F.col(tokens_col), k)).alias("shingle")
    ).distinct()
    if broadcast_benchmark:
        bsh = F.broadcast(bsh)
    csh = corpus.select(
        F.col(id_col),
        F.explode(token_shingles(F.col(tokens_col), k)).alias("shingle"),
    )
    return (
        csh.join(bsh, "shingle")
        .groupBy(id_col)
        .agg(F.count_distinct("shingle").alias("n_shared"))
    )


def _window_grams(
    seqs: DataFrame,
    k: int,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Every k-token window of every sequence as (id, pos, gram):
    pos = 0-based start offset, gram = md5 of the ','-joined window (a
    fixed-width shuffle key regardless of k — same canonicalization as
    :func:`exact_token_dup_groups`). One output row per window, i.e.
    n_tok - k + 1 rows per doc — the standard shingling explosion the
    MinHash path already pays, except positions are kept. Pure-JVM:
    transform over a sequence() literal + slice, no Python."""
    n = F.size(F.col(tokens_col))
    grams = F.transform(
        F.sequence(F.lit(0), (n - F.lit(k)).cast("int")),
        lambda i: F.struct(
            i.cast("int").alias("pos"),
            F.md5(
                F.concat_ws(
                    ",",
                    F.slice(F.col(tokens_col), i + 1, k).cast(
                        "array<string>"
                    ),
                )
            ).alias("gram"),
        ),
    )
    return (
        seqs.filter(F.col(tokens_col).isNotNull() & (n >= k))
        .select(F.col(id_col), F.explode(grams).alias("__w"))
        .select(id_col, F.col("__w.pos").alias("pos"),
                F.col("__w.gram").alias("gram"))
    )


def duplicated_spans(
    seqs: DataFrame,
    k: int = 20,
    min_count: int = 2,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-substring duplication spans (the suffix-array dedup family
    of Lee et al. 2021, "Deduplicating Training Data Makes Language
    Models Better", re-expressed for Spark): maximal [span_start,
    span_end) token intervals covered by k-token windows that occur at
    least ``min_count`` times ANYWHERE in the corpus (including within
    the same document — self-repetition counts, as in the paper).
    Returns (id, span_start, span_end) with 0-based, end-exclusive
    offsets.

    A window index replaces the suffix array: a suffix array needs a
    global sort of every suffix (inexpressible without a corpus-wide
    total order); k-token windows find exactly the duplicated
    substrings of length >= k, and merging overlapping-or-adjacent
    window hits reconstructs each maximal duplicated region. Scale
    shape, stage by stage:

    - window explosion: n_tok rows/doc, the MinHash shingling cost;
    - duplicate grams: groupBy(gram).count — partial-aggregatable, so a
      viral boilerplate gram collapses map-side before the shuffle;
    - hits: left-semi join windows->dup grams on the md5 key; a
      mega-hot gram skews the join and AQE's skew-join split handles
      it (same profile as the banded-LSH bucket joins);
    - interval merge: lag/cumsum windows partitioned by doc id —
      bounded by a single document's length, balanced across docs,
      never a corpus-wide sort.
    """
    # the window index feeds BOTH the duplicate-gram census and the hit
    # probe; the window transform's lambda variables defeat exchange
    # canonicalization (no ReusedExchange), so persist it — one window
    # explosion + md5 pass instead of two (the dsir_weights finding)
    win = _window_grams(seqs, k, tokens_col, id_col).persist()
    dup = (
        win.groupBy("gram")
        .agg(F.count("*").alias("__c"))
        .filter(F.col("__c") >= int(min_count))
        .select("gram")
    )
    hits = win.join(dup, "gram", "left_semi")
    return _merge_hit_intervals(hits, k, id_col)


def _merge_hit_intervals(hits: DataFrame, k: int, id_col: str) -> DataFrame:
    """(id, pos) window hits -> maximal merged [span_start, span_end)
    intervals. Windows partitioned by doc id: bounded by one document's
    length, balanced across docs."""
    w = Window.partitionBy(id_col).orderBy("pos")
    # equal-length intervals [pos, pos+k) sorted by pos merge exactly
    # when the gap to the previous start is <= k (overlap or adjacency
    # -> same covered union); lag NULL -> new group
    brk = F.when(
        F.col("pos") - F.lag("pos").over(w) <= F.lit(k), F.lit(0)
    ).otherwise(F.lit(1))
    grp = F.sum(brk).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        hits.withColumn("__g", grp)
        .groupBy(id_col, "__g")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k)).cast("int").alias("span_end"),
        )
        .select(id_col, "span_start", "span_end")
    )


def token_gram_index(
    seqs: DataFrame,
    k: int = 20,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """The persisted probe index for INCREMENTAL exact-substring dedup:
    the corpus's distinct k-token window grams (one md5 column). Write
    it once per corpus generation (partitioned parquet; a daily ingest
    appends only the NEW batch's distinct grams) — the corpus is never
    re-windowed to admit a batch."""
    return _window_grams(seqs, k, tokens_col, id_col).select(
        "gram"
    ).distinct()


def duplicated_spans_incremental(
    new_seqs: DataFrame,
    corpus_grams: DataFrame,
    k: int = 20,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Duplicated spans of a NEW batch against a standing corpus, the
    incremental twin of :func:`duplicated_spans` (min_count=2): a batch
    window is duplicated iff its gram exists in the corpus index OR
    occurs >= 2 times within the batch — exactly the windows
    ``duplicated_spans(corpus UNION batch)`` would flag restricted to
    batch docs (parity pytest). Only the batch is windowed; the corpus
    participates as one semi-join against its persisted gram index
    (:func:`token_gram_index`), never re-shingled — the daily-ingest
    shape of the whole incremental family."""
    # persist: the batch window index feeds the within-batch census AND
    # the probe join (see duplicated_spans)
    win = _window_grams(new_seqs, k, tokens_col, id_col).persist()
    batch_dup = (
        win.groupBy("gram")
        .agg(F.count("*").alias("__c"))
        .filter(F.col("__c") >= 2)
        .select("gram")
    )
    probe = corpus_grams.select("gram").unionByName(batch_dup).distinct()
    hits = win.join(probe, "gram", "left_semi")
    return _merge_hit_intervals(hits, k, id_col)


def trim_duplicated_spans(
    seqs: DataFrame,
    k: int = 20,
    min_count: int = 2,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    spans: DataFrame | None = None,
) -> DataFrame:
    """Rewrite each sequence with every duplicated span (see
    :func:`duplicated_spans`) removed — ALL occurrences go, the
    order-free conservative variant (keeping exactly one occurrence
    needs a global first-occurrence election per maximal region;
    sequence-level exact dedup already covers the whole-doc case).
    Docs left with zero tokens survive as empty arrays for the caller's
    length gate to drop. ``n_tok`` is recomputed when present. Pass a
    precomputed ``spans`` frame to reuse one detection pass across trim
    + reporting.

    The rewrite is a left join on id (spans aggregated to one array row
    per affected doc — only affected docs shuffle) + a pure-JVM
    filter-with-index against the span structs."""
    sp = spans if spans is not None else duplicated_spans(
        seqs, k, min_count, tokens_col, id_col
    )
    agg = sp.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__sp")
    )
    joined = seqs.join(agg, id_col, "left")
    kept = F.filter(
        F.col(tokens_col),
        lambda t, i: ~F.exists(
            "__sp",
            lambda s: (i >= s["span_start"]) & (i < s["span_end"]),
        ),
    )
    out = joined.withColumn(
        tokens_col,
        F.when(F.col("__sp").isNull(), F.col(tokens_col)).otherwise(kept),
    ).drop("__sp")
    if "n_tok" in seqs.columns:
        out = out.withColumn(
            "n_tok",
            F.when(F.col(tokens_col).isNull(), F.col("n_tok")).otherwise(
                F.size(tokens_col).cast("int")
            ),
        )
    return out


def contaminated_docs_bloom(
    corpus: DataFrame,
    benchmark: DataFrame,
    k: int = 3,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    nhash: int = 4,
    nbits: int = 1 << 17,
) -> DataFrame:
    """Bloom-prefiltered benchmark decontamination — IDENTICAL output
    to :func:`contaminated_docs`, different broadcast economics.

    The exact path broadcasts the benchmark's full distinct shingle
    set; for a large eval suite that payload grows with the suite.
    Here the suite compresses to a CONSTANT-size Bloom bitmask
    (``nbits`` booleans — 128Ki by default, ~128KB on the wire
    regardless of suite size): corpus shingles probe the mask (no
    false negatives, so nothing real is ever missed), and only the
    surviving candidate rows — benchmark hits plus the mask's small
    false-positive leak — pay the exact broadcast-join verify.  The
    verify removes every false positive, so the result is value-equal
    to the exact operator (pytest).

    The mask ships as a ONE-ROW broadcast frame, not a literal inside
    the probe lambda — literals referenced from lambdas re-convert per
    invocation (the remap_tokens lesson).
    """
    from traval_spark.sketch import bloom_bits

    spark = corpus.sparkSession
    bsh = benchmark.select(
        F.explode(token_shingles(F.col(tokens_col), k)).alias("shingle")
    ).distinct()
    bits = {
        b for r in bsh.select(
            F.explode(bloom_bits(F.col("shingle"), nhash, nbits))
            .alias("bit")
        ).distinct().collect()
        for b in [r["bit"]]
    }
    mask = [i in bits for i in range(int(nbits))]
    mask_df = spark.createDataFrame([(mask,)], "`__mask` array<boolean>")

    csh = corpus.select(
        F.col(id_col),
        F.explode(token_shingles(F.col(tokens_col), k)).alias("shingle"),
    )
    # unrolled AND of the nhash mask probes instead of a forall over the
    # bits array: forall is CodegenFallback (the corpus-scale filter ran
    # interpreted); the unrolled form is identical boolean logic over
    # the same bit positions, fully codegen-able
    from traval_spark.operators.sampling import hash_bucket
    from traval_spark.sketch import _BLOOM_SEED

    probe = F.lit(True)
    for h in range(int(nhash)):
        b = hash_bucket(F.col("shingle"), seed=_BLOOM_SEED + h,
                        width=int(nbits))
        probe = probe & F.element_at(F.col("__mask"), b + 1)
    cand = (
        csh.crossJoin(F.broadcast(mask_df))
        .filter(probe)
        .drop("__mask")
    )
    return (
        cand.join(F.broadcast(bsh), "shingle")
        .groupBy(id_col)
        .agg(F.count_distinct("shingle").alias("n_shared"))
    )


def ngram_novelty(
    new_seqs: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    corpus_is_shingles: bool = False,
) -> DataFrame:
    """Per-document n-gram NOVELTY of a new batch against a standing
    corpus: the fraction of each new sequence's DISTINCT k-token
    shingles that appear nowhere in the corpus — the continuous
    data-value / memorization read next to :func:`contaminated_docs`'
    binary leak flag (novelty 0 = the doc adds no unseen k-grams;
    novelty 1 = entirely unseen text). Returns
    (id, n_grams, n_seen, novelty), one row per new doc with >= 1
    shingle.

    Shape for 100 TB: the corpus collapses ONCE to its distinct-shingle
    index (pass ``corpus_is_shingles=True`` to hand in a persisted
    index frame with a ``shingle`` column — the append-only
    :func:`token_gram_index` pattern, so a daily ingest never
    re-shingles the corpus). The join is a plain equi-join on the
    fixed-width shingle key: both sides shuffle by shingle once, the
    per-doc aggregate is partial-aggregatable. No broadcast assumption
    on either side — unlike decontamination, the reference set here is
    the full corpus.
    """
    if corpus_is_shingles:
        ish = corpus.select("shingle").distinct()
    else:
        ish = corpus.select(
            F.explode(token_shingles(F.col(tokens_col), k)).alias("shingle")
        ).distinct()
    nsh = new_seqs.select(
        F.col(id_col),
        F.explode(token_shingles(F.col(tokens_col), k)).alias("shingle"),
    )
    hit = ish.withColumn("__seen", F.lit(1))
    return (
        nsh.join(hit, "shingle", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("__seen").alias("n_seen"),
        )
        .withColumn(
            "novelty",
            F.round(
                F.lit(1.0) - F.col("n_seen") / F.col("n_grams"), 6
            ),
        )
    )


def gram_growth(
    seqs: DataFrame,
    cohort_col: str = "cohort",
    k: int = 3,
    tokens_col: str = "tokens",
) -> DataFrame:
    """Vocabulary-growth (Heaps-law) read: per ingest cohort (day,
    batch, dump...), how many distinct k-token shingles appear for the
    FIRST time in that cohort, plus the running distinct-gram total —
    the curve that says whether a corpus is still contributing new
    text or re-crawling what the model has already seen (the
    corpus-level twin of :func:`ngram_novelty`'s per-doc score).
    Returns (cohort, new_grams, vocab_size) ordered facts.

    Scale shape: ONE explode -> groupBy(shingle).min(cohort) — the
    first-seen reduction is partial-aggregatable (min composes), so
    the gram domain shuffles once; the per-cohort count and running
    sum then run on the cohort frame, whose size is the number of
    ingest batches, not the data."""
    occ = seqs.select(
        F.col(cohort_col).alias("cohort"),
        F.explode(token_shingles(F.col(tokens_col), k)).alias("shingle"),
    )
    first = occ.groupBy("shingle").agg(F.min("cohort").alias("cohort"))
    g = first.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("new_grams")
    )
    w = Window.orderBy("cohort").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return g.withColumn("vocab_size", F.sum("new_grams").over(w))


def shingle_index(
    docs: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Inverted k-gram index: distinct ``(sh, doc_id)`` postings over
    the word-shingle domain (the same :func:`~traval_spark.operators
    .text.kgrams` window every shingle operator shares).  Build once,
    store as a tier (long-form rows: partial-aggregatable distinct,
    parquet dictionary-encodes the repeated shingles, the ``sh``
    column zone-maps), serve many :func:`phrase_search` lookups from
    it — the corpus text is never re-scanned per query.
    """
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(kgrams(ws_tokens(F.col(text_col)), k)).alias("sh"),
        )
        .filter(F.col("sh").isNotNull())
        .distinct()
    )


def phrase_search(
    index: DataFrame,
    docs: DataFrame,
    phrase: str,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Word-boundary phrase containment served FROM the stored
    inverted index: return the doc_ids whose text contains ``phrase``
    as a contiguous word sequence, WITHOUT a full corpus text scan.

    Two-stage, exact end to end:

    1. **Candidates from the index** — a doc containing the phrase
       necessarily posts every k-shingle of the phrase, so filtering
       the index to the phrase's shingles (a tiny plan-time literal
       list — pushes to the parquet scan of a stored index) and
       keeping docs matching ALL of them is a no-false-negative
       candidate set.
    2. **Verify on the candidates only** — a left-semi join prunes the
       documents scan to the candidate ids, then the word-boundary
       containment check (`' ' || normalized text || ' '` contains
       `' ' || phrase || ' '`, the same whitespace tokenization the
       shingles derive from) removes index false positives (shingles
       present but non-contiguous).

    The phrase must have at least ``k`` words — shorter phrases
    produce no k-shingle to probe with (raise, don't silently full
    scan).  Output: ``doc_id`` of matching docs.
    """
    words = [w for w in phrase.split() if w]
    if len(words) < k:
        raise ValueError(
            f"phrase needs >= k={k} words for a k-shingle probe; "
            f"got {len(words)}"
        )
    probes = [" ".join(words[i:i + k]) for i in range(len(words) - k + 1)]
    probes = sorted(set(probes))
    cand = (
        index.filter(F.col("sh").isin(probes))
        .groupBy("doc_id")
        .agg(F.count_distinct("sh").alias("__hits"))
        .filter(F.col("__hits") == len(probes))
        .select("doc_id")
    )
    norm = F.concat_ws(" ", ws_tokens(F.col(text_col)))
    padded = F.concat(F.lit(" "), norm, F.lit(" "))
    return (
        docs.join(cand, docs[id_col] == cand["doc_id"], "left_semi")
        .filter(padded.contains(" " + " ".join(words) + " "))
        .select(F.col(id_col).alias("doc_id"))
    )


def length_block_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    block_cols: tuple[str, ...] = ("lang",),
    len_col: str = "n_chars",
    width: int = 64,
) -> DataFrame:
    """Cheap deterministic blocking for an exact-verify stage: candidate
    pairs are all (a < b) pairs sharing ``block_cols`` AND the same
    ``len_col div width`` length bucket — the classic record-linkage
    blocking key (two texts whose lengths differ by more than the
    bucket width can't be high-similarity anyway, modulo the boundary
    straddle every blocking scheme accepts).  Pair generation is a
    per-block self-join keyed on the block — never all-pairs across the
    corpus; worst-case fan-out is the largest block squared, so feed a
    skew-capped blocking key at scale (or the LSH band families above,
    which are the production candidate generators — this one exists as
    the SQL-trivial baseline their verify stage composes with).
    Output: ``id_a, id_b`` with ``id_a < id_b``."""
    side = docs.select(
        F.col(id_col), *block_cols,
        (F.col(len_col) / width).cast("long").alias("__blk"),
    )
    a = side.withColumnRenamed(id_col, "id_a")
    b = side.withColumnRenamed(id_col, "id_b")
    return (
        a.join(b, [*block_cols, "__blk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )


def lev_verify_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    threshold: float = 0.6,
    prefix: int | None = 256,
    text_col: str = "text",
    id_col: str = "doc_id",
    ndigits: int = 6,
) -> DataFrame:
    """EXACT edit-distance verification of candidate near-dup pairs —
    the verify stage that sits downstream of ANY candidate generator
    (LSH bands, SimHash buckets, length blocking): for each (id_a,
    id_b) pair, Levenshtein distance on the first ``prefix`` characters
    (``None`` = full text; the prefix window bounds the O(m*n) DP cost
    per pair, the standard dedup-verify trade-off, disclosed in the
    column name semantics below) and the normalized similarity

        sim = 1 - lev / max(len_a, len_b)      (prefix lengths)

    kept when ``sim >= threshold``.  ``F.levenshtein`` runs JVM-side
    inside codegen (character-level edits, same unit as DuckDB's
    ``levenshtein``); the DP never touches Python.  Identical-prefix
    pairs (lev = 0, including two empty prefixes) report sim = 1.

    Scale: cost is pairs x prefix^2 DP cells, linear in the CANDIDATE
    count — the generator bounds the quadratic, this stage never
    re-pairs.  Two broadcast-sized joins fetch the texts when ``docs``
    is a dimension; at corpus scale they are plain equi-joins on the
    id, co-partitioned with the pair frame.
    Output: ``id_a, id_b, lev, sim``."""
    t = F.col(text_col) if prefix is None else F.substring(text_col, 1,
                                                           int(prefix))
    side = docs.select(F.col(id_col), t.alias("__t"))
    ta = side.select(F.col(id_col).alias("id_a"), F.col("__t").alias("__ta"))
    tb = side.select(F.col(id_col).alias("id_b"), F.col("__t").alias("__tb"))
    j = pairs.join(ta, "id_a").join(tb, "id_b")
    if prefix is not None:
        # banded DP: any pair the sim filter can keep satisfies
        #   lev <= mx*(1 - threshold) + rounding slack < floor(prefix*(1
        #   - threshold)) + 1  (mx <= prefix),
        # so the 3-arg thresholded levenshtein (exact distance when <=
        # bound, -1 when above — an O(n*k) banded DP instead of the full
        # O(n^2) table) returns the exact distance for every surviving
        # pair; pairs reported -1 could never pass the filter.  An
        # equality fast path skips the DP for identical prefixes (the
        # common case in a near-dup corpus).
        # rounding slack: round(sim, ndigits) can lift sim by at most
        # 0.5*10^-ndigits, i.e. lev by at most prefix*that — the +1 after
        # int() then strictly covers the largest keepable distance
        bound = int(int(prefix) * (1.0 - float(threshold))
                    + int(prefix) * 0.5 * 10.0 ** (-int(ndigits))) + 1
        lev = F.when(F.col("__ta") == F.col("__tb"), F.lit(0)).otherwise(
            F.levenshtein("__ta", "__tb", bound))
        j = j.select("id_a", "id_b", "__ta", "__tb", lev.alias("__lv")) \
             .filter(F.col("__lv") >= 0)
        lev = F.col("__lv")
    else:
        lev = F.levenshtein("__ta", "__tb")
    mx = F.greatest(F.length("__ta"), F.length("__tb"))
    sim = F.when(mx > 0, F.lit(1.0) - lev.cast("double") / mx.cast("double")) \
           .otherwise(F.lit(1.0))
    return (
        j.select("id_a", "id_b", lev.alias("lev"),
                 F.round(sim, ndigits).alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


def cluster_cohesion(
    docs: DataFrame,
    clusters: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    ndigits: int = 9,
) -> DataFrame:
    """QA audit over near-dup clusters — the read that catches
    TRANSITIVE-CLOSURE CHAINING: :func:`dup_clusters` unions every
    pair within the SimHash radius, so A~B~C links A and C into one
    cluster even when A and C are far apart; keeping only cluster
    roots then silently drops documents that were never near the
    root.  This measures it: every non-root member's 64-bit SimHash
    Hamming distance TO ITS ROOT (member-vs-root is linear in corpus
    size — never within-cluster all-pairs, which a viral
    million-member cluster would turn quadratic), aggregated per
    cluster; ``loose`` flags clusters whose max root distance exceeds
    the pair radius ``max_hamming`` — exactly the chained clusters a
    pipeline owner should re-split or spot-check before deleting
    members.

    Exactness: Hamming distances are exact integers
    (bit_count(xor) on the two 32-bit fingerprint halves, the
    :func:`simhash64_dup_pairs` arithmetic); ``mean_ham`` is one
    division of exact integers rounded to ``ndigits``.  Singleton
    clusters (no non-root member) are not reported — there is nothing
    to audit.

    Plan shape: fingerprints once (the with_simhash64 codegen path),
    one equi-join of members to root fingerprints on the cluster key,
    one partial-aggregatable groupBy(cluster).  Output: ``cluster,
    n_members, mean_ham, max_ham, loose`` (n_members counts the root).
    """
    # the fingerprint frame is joined twice (member side + root side);
    # persist so the SimHash fold over the corpus text runs once
    fp = with_simhash64(docs, text_col, id_col).persist()
    mem = clusters.filter(F.col(id_col) != F.col("cluster"))
    rfp = fp.select(
        F.col(id_col).alias("cluster"),
        F.col("fp_lo").alias("__rlo"),
        F.col("fp_hi").alias("__rhi"),
    )
    ham = (
        F.bit_count(F.col("fp_lo").bitwiseXOR(F.col("__rlo")))
        + F.bit_count(F.col("fp_hi").bitwiseXOR(F.col("__rhi")))
    )
    j = mem.join(fp, id_col).join(rfp, "cluster").select(
        "cluster", ham.alias("__ham"))
    return (
        j.groupBy("cluster")
        .agg(
            (F.count(F.lit(1)) + 1).cast("long").alias("n_members"),
            F.round(
                F.sum("__ham").cast("double")
                / F.count(F.lit(1)).cast("double"),
                ndigits,
            ).alias("mean_ham"),
            F.max("__ham").cast("int").alias("max_ham"),
        )
        .withColumn(
            "loose",
            (F.col("max_ham") > int(max_hamming)).cast("int"),
        )
    )


def strip_boilerplate_lines(
    docs: DataFrame,
    min_df: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Line-level cross-document dedup (the CCNet / RefinedWeb
    boilerplate pass): any line occurring in at least ``min_df``
    DISTINCT documents is removed from every document — headers,
    footers, cookie banners, nav menus; the WITHIN-corpus complement
    of :func:`trim_duplicated_spans` (token spans) at the granularity
    web boilerplate actually repeats.

    Construction: posexplode on newline split -> line df census
    (partial-aggregatable groupBy; countDistinct doc over the line) ->
    anti join of lines against the hot set -> per-doc reassembly by
    original position (array_sort of (pos, line) structs, the struct
    order IS pos order).  The anti join keys on the raw line string;
    a pathologically hot line (the empty string, a universal footer)
    lands its probe rows on one task, but that task only DROPS rows —
    work linear in that line's occurrences, and AQE skew-split
    handles the imbalance; the hot SET itself is df-bounded (lines
    repeated >= min_df times), typically small enough that Spark's
    own join-side broadcast kicks in — neither is assumed.

    Every input doc keeps exactly one output row: a doc whose every
    line was boilerplate comes back with ``clean_text = ''`` and
    ``n_kept = 0`` (dropping it is the CALLER's policy decision, the
    operator reports).  NULL-text docs are passed through with NULL
    clean_text.  Output: ``doc_id, clean_text, n_lines, n_kept``.

    Reference: ArtesiaWater/traval has no text machinery; this is the
    CCNet fig. 1 line-dedup stage (public recipe) the curation
    pipeline's quality gates assume has already run.
    """
    base = docs.select(id_col, text_col)
    lines = (
        base.filter(F.col(text_col).isNotNull())
        .select(
            id_col,
            F.posexplode(F.split(F.col(text_col), "\n"))
            .alias("pos", "line"),
        )
    )
    hot = (
        lines.groupBy("line")
        .agg(F.count_distinct(F.col(id_col)).alias("__df"))
        .filter(F.col("__df") >= int(min_df))
        .select("line")
    )
    kept = lines.join(hot, "line", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
        ).alias("__clean"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    stats = lines.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_lines"))
    return (
        base.join(stats, id_col, "left")
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.when(F.col(text_col).isNull(), F.lit(None))
             .otherwise(F.coalesce(F.col("__clean"), F.lit("")))
             .alias("clean_text"),
            F.coalesce(F.col("n_lines"), F.lit(0))
             .cast("long").alias("n_lines"),
            F.coalesce(F.col("n_kept"), F.lit(0))
             .cast("long").alias("n_kept"),
        )
    )
