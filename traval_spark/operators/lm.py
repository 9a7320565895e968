"""Token n-gram language modeling: corpus gram counts, add-k perplexity
scoring, and distributed BPE merge learning.

The quality-filter stage of a large-scale training-data pipeline (the
CCNet / Gopher recipe): train n-gram statistics ON the corpus itself (or
a trusted reference slice), score every document by its average token
log-probability, and drop the tail — gibberish and boilerplate sit far
from the corpus distribution.  Plus the tokenizer side: byte-pair
encoding reduced to its two Spark-friendly primitives, a pair-count
aggregation (one shuffle per training iteration) and a greedy
left-to-right pair-merge fold (pure JVM, no Python in the hot path).

Scale notes:
- gram counting is explode -> groupBy-count: map-side partial
  aggregation collapses repeats before the shuffle, reduced rows are
  bounded by distinct grams, not corpus size;
- scoring joins doc-gram occurrences to the count tables on the gram
  string key — sort-merge joins on uniformly-hashed keys (gram counts
  can be corpus-sized; nothing here assumes a broadcastable model);
- the vocab-size scalar rides along as a broadcast 1-row frame, never a
  driver collect inside the plan;
- BPE training is inherently iterative (each merge changes the next
  pair distribution): one count + one argmax collect + one fold per
  merge, with the working frame persisted across iterations.  The fold
  appends to an immutable array per element (O(len^2) copying per doc)
  — fine for document-length sequences; chunk extremely long sequences
  upstream before training.

Reference note: the traval reference (ArtesiaWater/traval) has no
text/token machinery; this module is part of the training-data pipeline
surface the brief adds on top of the reference inventory (SURVEY.md §2
documents-table operators).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from traval_spark.session import hold


# -- n-gram counting ----------------------------------------------------------


def gram_key(tokens: Column, start: Column | int, n: int) -> Column:
    """','-joined string key of the n-gram at 1-based ``start`` — a
    fixed-width shuffle/join key (array-equality keys work too, but the
    string form is portable to the DuckDB oracles)."""
    return F.array_join(
        F.transform(F.slice(tokens, start, n), lambda t: t.cast("string")),
        ",",
    )


def explode_ngrams(
    seqs: DataFrame,
    n: int = 2,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """One row per n-gram occurrence: (id, prefix, gram) where gram is
    the ','-joined n-gram and prefix its first n-1 tokens (empty string
    for n=1).  Docs shorter than n contribute nothing."""
    toks = F.col(tokens_col)
    pos = F.explode(
        F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1))
    ).alias("__i")
    out = (
        seqs.filter(F.size(toks) >= n)
        .select(F.col(id_col), toks.alias("__t"), pos)
    )
    return out.select(
        id_col,
        gram_key(F.col("__t"), F.col("__i"), n - 1).alias("prefix")
        if n > 1 else F.lit("").alias("prefix"),
        gram_key(F.col("__t"), F.col("__i"), n).alias("gram"),
    )


def ngram_counts(
    seqs: DataFrame, n: int = 2, tokens_col: str = "tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus n-gram model: (prefix, gram, cnt).  Map-side combine keeps
    the shuffle bounded by distinct grams."""
    return (
        explode_ngrams(seqs, n, tokens_col, id_col)
        .groupBy("prefix", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def lm_score(
    seqs: DataFrame,
    model: DataFrame | None = None,
    n: int = 2,
    add_k: float = 0.5,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document average token log-probability under an add-k
    smoothed n-gram model: (id, n_grams, avg_logp).

    P(w | prefix) = (c(prefix,w) + k) / (c(prefix) + k·V), with c(·)
    from ``model`` (a :func:`ngram_counts` frame; defaults to a model
    trained on ``seqs`` itself — self-perplexity, the standard in-corpus
    outlier score) and V = distinct unigram count of the scored corpus.
    Higher (less negative) = more typical; rank ascending to find the
    gibberish tail.  Docs with fewer than n tokens get no row."""
    if model is None:
        # self-trained model feeds TWO consumers (the occurrence join
        # and the prefix marginal); the gram-explode subtrees carry
        # higher-order lambdas that defeat exchange canonicalization,
        # so without an explicit persist the corpus is re-exploded and
        # re-counted once per consumer (the dsir_weights finding)
        model = hold(ngram_counts(seqs, n, tokens_col, id_col))
    prefix_counts = model.groupBy("prefix").agg(
        F.sum("cnt").alias("c_prefix"))
    vocab = (
        seqs.select(F.explode(F.col(tokens_col)).alias("t"))
        .agg(F.countDistinct("t").alias("v"))
    )
    occ = explode_ngrams(seqs, n, tokens_col, id_col)
    lp = F.log(
        (F.col("cnt") + F.lit(float(add_k)))
        / (F.col("c_prefix") + F.lit(float(add_k)) * F.col("v"))
    )
    return (
        occ.join(model, ["prefix", "gram"], "left")
        .join(prefix_counts, ["prefix"], "left")
        .crossJoin(F.broadcast(vocab))
        .fillna(0, subset=["cnt", "c_prefix"])
        .select(id_col, lp.alias("__lp"))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_grams"),
             F.avg("__lp").alias("avg_logp"))
    )


# -- byte-pair encoding -------------------------------------------------------


def bpe_pair_counts(
    seqs: DataFrame, tokens_col: str = "tokens", id_col: str = "doc_id",
) -> DataFrame:
    """Adjacent-pair frequencies (p, w, cnt) — one BPE training
    iteration's statistics, a single explode + groupBy-count."""
    occ = explode_ngrams(seqs, 2, tokens_col, id_col)
    return (
        occ.select(
            F.split_part(F.col("gram"), F.lit(","), F.lit(1))
            .cast("int").alias("p"),
            F.split_part(F.col("gram"), F.lit(","), F.lit(2))
            .cast("int").alias("w"),
        )
        .groupBy("p", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def merge_pair(tokens: Column, a: int, b: int, c: int) -> Column:
    """Greedy left-to-right non-overlapping merge of adjacent (a, b)
    into c — the BPE apply step for one learned merge, as a pure-JVM
    array fold (state = (output, pending token))."""
    init = F.struct(
        F.array().cast("array<int>").alias("out"),
        F.lit(None).cast("int").alias("prev"),
    )

    def step(acc, t):
        hit = (
            acc["prev"].isNotNull()
            & (acc["prev"] == F.lit(int(a)))
            & (t == F.lit(int(b)))
        )
        return F.struct(
            F.when(
                hit, F.concat(acc["out"], F.array(F.lit(int(c)).cast("int")))
            ).otherwise(
                F.when(
                    acc["prev"].isNotNull(),
                    F.concat(acc["out"], F.array(acc["prev"])),
                ).otherwise(acc["out"])
            ).alias("out"),
            F.when(hit, F.lit(None).cast("int")).otherwise(t).alias("prev"),
        )

    def fin(acc):
        return F.when(
            acc["prev"].isNotNull(), F.concat(acc["out"], F.array(acc["prev"]))
        ).otherwise(acc["out"])

    return F.aggregate(tokens, init, step, fin)


def bpe_apply(
    seqs: DataFrame,
    merges: list[tuple[int, int, int]],
    tokens_col: str = "tokens",
) -> DataFrame:
    """Apply learned merges (a, b, c) IN ORDER; each merge is one fold
    pass over the array column (later merges see earlier merge output,
    including pairs involving new ids)."""
    out = seqs
    for a, b, c in merges:
        out = out.withColumn(
            tokens_col, merge_pair(F.col(tokens_col), a, b, c))
    return out


def bpe_train(
    seqs: DataFrame,
    n_merges: int,
    vocab_base: int,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
) -> tuple[list[tuple[int, int, int]], DataFrame]:
    """Learn ``n_merges`` BPE merges on the corpus: per iteration, count
    adjacent pairs, take the most frequent (ties broken by (p, w) — the
    deterministic convention), assign it id ``vocab_base + step``, and
    rewrite the working corpus with one fold pass.  Returns (merges,
    rewritten corpus).  One shuffle + one 1-row collect per iteration;
    the working frame is cached across iterations and uncached when
    replaced (the standard iterative-algorithm persist chain); the last
    one is released by the enclosing ``held()``."""
    merges: list[tuple[int, int, int]] = []
    cur = seqs
    for step in range(int(n_merges)):
        top = (
            bpe_pair_counts(cur, tokens_col, id_col)
            .orderBy(F.desc("cnt"), "p", "w")
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b = int(top[0]["p"]), int(top[0]["w"])
        c = int(vocab_base) + step
        merges.append((a, b, c))
        nxt = hold(cur.withColumn(
            tokens_col, merge_pair(F.col(tokens_col), a, b, c)))
        nxt.count()  # materialize before dropping the previous cache
        if cur is not seqs:
            cur.unpersist()
        cur = nxt
    return merges, cur


# -- BM25 retrieval scoring ---------------------------------------------------


def bm25_scores(
    seqs: DataFrame,
    query_terms: list[int],
    k1: float = 1.2,
    b: float = 0.75,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    len_col: str = "n_tok",
) -> DataFrame:
    """BM25 relevance of every document against a fixed term set:
    (id, n_terms, score) for docs containing >= 1 query term.

    idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5)) (the Lucene-style
    non-negative variant), tf saturation with length normalization
    against the corpus mean.  Plan shape for scale: the explode filters
    to QUERY TERMS ONLY before any shuffle (per-doc surviving rows are
    bounded by |query|), document frequencies and the (N, avg_len)
    scalars come back as broadcast frames, and the final per-doc sum is
    one map-side-combinable groupBy."""
    terms = [int(t) for t in query_terms]
    scal = seqs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.col(len_col).cast("double")).alias("avg_len"),
    )
    tf = (
        seqs.select(id_col, F.col(len_col).alias("__dl"),
                    F.explode(F.col(tokens_col)).alias("t"))
        .filter(F.col("t").isin(terms))
        .groupBy(id_col, "t")
        .agg(F.count(F.lit(1)).alias("__tf"), F.max("__dl").alias("__dl"))
    )
    dfreq = tf.groupBy("t").agg(F.count(F.lit(1)).alias("__df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("__df") + F.lit(0.5))
        / (F.col("__df") + F.lit(0.5))
    )
    norm = F.col("__tf") * F.lit(k1 + 1.0) / (
        F.col("__tf")
        + F.lit(k1) * (F.lit(1.0 - b)
                       + F.lit(b) * F.col("__dl") / F.col("avg_len"))
    )
    return (
        tf.join(F.broadcast(dfreq), ["t"])
        .crossJoin(F.broadcast(scal))
        .select(id_col, (idf * norm).alias("__s"))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_terms"), F.sum("__s").alias("score"))
    )


def dsir_weights(
    corpus: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 1024,
    ndigits: int = 6,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every corpus
    document by how much more likely its hashed-n-gram bag is under a
    small TARGET domain sample than under the raw corpus — the
    principled version of "keep the docs that look like Wikipedia".
    Downstream, compose with the deterministic samplers (sampling.py)
    to resample the corpus proportionally to these weights.

    Features are unigrams + space-joined bigrams of the shared
    whitespace tokenization (text.py:ws_tokens — a fix there fixes
    this too), hashed into ``buckets`` cells via the portable md5
    bucket (first 8 hex digits as an integer, mod B — bit-identical
    in Spark and DuckDB, the sampling.py convention).  Both bag
    distributions get Laplace +1 smoothing over the B cells, so each
    bucket's log-ratio is ONE log of an exact-integer ratio:

        lr_b = ln( ((t_b + 1) * (R + B)) / ((r_b + 1) * (T + B)) )

    with t_b / r_b the target / raw bucket counts and T / R their
    totals (decimal(38,0) products — a 10^12-gram corpus times (R+B)
    stays far inside 38 digits).  The document weight is the bag dot
    product  logw_d = sum_b n_db * lr_b  — the one order-dependent
    float reduction (<= B terms), fenced at ``ndigits``; everything
    upstream of that sum is exact.

    Plan shape for 100 TB: the corpus is scanned ONCE — explode grams
    -> partial-aggregatable groupBy to the (doc, bucket) count frame;
    the raw bucket distribution is a second groupBy OFF THAT FRAME
    (B-bounded, map-side combined), never a re-scan.  The target
    sample (small by definition — a curated slice) collapses to <= B
    rows; the log-ratio table is B rows broadcast back onto the
    (doc, bucket) frame.  No join ever carries the corpus by gram
    string — only by the dense integer bucket.  Corpus-doc buckets
    are a subset of raw buckets by construction, so a left join with
    the raw side is total; target buckets absent from the corpus can
    only lower unseen docs and are irrelevant to corpus scoring.

    Docs with NULL text or an empty gram bag emit nothing (no bag, no
    weight — the curation gates upstream already drop them).  Output:
    ``doc_id, n_grams, logw`` (nats; higher = more target-like).

    Reference: ArtesiaWater/traval has no corpus-selection machinery;
    this is the training-data-pipeline read the brief's token axis
    asks for, next to lm_score (absolute fluency) — dsir is RELATIVE
    domain affinity.
    """
    from traval_spark.operators.text import ws_tokens

    B = int(buckets)

    def grams(df: DataFrame, keep_id: bool) -> DataFrame:
        cols = [F.col(id_col)] if keep_id else []
        # tokenize ONCE in a projection below the explode: inlining the
        # split into the generator expression re-runs the regex split
        # per reference (5x per row — Generate does no subexpression
        # elimination), measured as the dominant per-row cost
        base = df.filter(F.col(text_col).isNotNull()).select(
            *cols, ws_tokens(F.col(text_col)).alias("__t")
        )
        t = F.col("__t")
        n = F.size(t)
        bi = F.when(
            n >= 2,
            F.transform(
                F.sequence(F.lit(1), n - 1),
                lambda i: F.concat(F.element_at(t, i), F.lit(" "),
                                   F.element_at(t, i + 1)),
            ),
        ).otherwise(F.array())
        g = base.select(*cols, F.explode(F.concat(t, bi)).alias("g"))
        b = F.conv(F.substring(F.md5(F.col("g")), 1, 8), 16, 10)
        return g.select(*cols, (b.cast("long") % B).alias("b"))

    # the (doc, bucket) count frame feeds THREE consumers (raw bucket
    # marginal -> its total -> the final weight join) and the target
    # bucket frame two (log-ratio join + its total); Catalyst cannot
    # reuse the exchanges across those branches (higher-order lambda
    # variables defeat subtree canonicalization — verified: the r5 plan
    # re-scans the parquet 5x), so materialize each ONCE per evaluation
    # with an explicit persist.  This is within-plan reuse of the
    # current input, not cross-run result caching; both frames are
    # bounded (docs x <= B cells, <= B cells).
    db = hold(grams(corpus, True).groupBy(id_col, "b").agg(
        F.count(F.lit(1)).alias("n_db")))
    raw = db.groupBy("b").agg(
        F.sum("n_db").cast("decimal(38,0)").alias("r_b"))
    tgt = hold(grams(target, False).groupBy("b").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("t_b")))
    rt = raw.agg(F.sum("r_b").alias("rtot"))
    tt = tgt.agg(F.coalesce(F.sum("t_b"), F.lit(0))
                 .cast("decimal(38,0)").alias("ttot"))
    lr = (
        raw.join(tgt, "b", "left")
        .crossJoin(F.broadcast(rt)).crossJoin(F.broadcast(tt))
        .select(
            "b",
            F.log(
                ((F.coalesce(F.col("t_b"), F.lit(0)) + 1)
                 * (F.col("rtot") + B)).cast("double")
                / ((F.col("r_b") + 1)
                   * (F.col("ttot") + B)).cast("double")
            ).alias("lr"),
        )
    )
    return (
        db.join(F.broadcast(lr), "b")
        .groupBy(id_col)
        .agg(
            F.sum("n_db").cast("long").alias("n_grams"),
            F.round(F.sum(F.col("n_db") * F.col("lr")),
                    ndigits).alias("logw"),
        )
    )
