"""Text-analysis operators for training-data pipelines.

All pure Column builders (JVM-side, codegen'd — no Python in the hot
path): token counting, quality scoring, stopword language-ID, document
fingerprinting. Each has a matching ANSI-SQL oracle in __spark_entry__.py;
the cross-engine-portable primitives (whitespace split, char fold-hash,
md5) are parity-tested against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from traval_spark.session import hold

#: portable polynomial char hash modulus (fits int64 under acc*31+127)
FOLD_MOD = 1_000_000_007

#: BPE-ish token pattern: letter runs | single digits | punctuation marks
BPE_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"

#: tiny stopword profiles for the language-ID heuristic
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "ein", "eine", "nicht", "mit", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "pas", "avec", "pour"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "no", "con", "para"],
}


def ws_tokens(text: Column) -> Column:
    """Whitespace tokenization (regex split, matches DuckDB
    regexp_split_to_array(text, '\\s+'))."""
    return F.split(text, r"\s+")


def token_count_ws(text: Column) -> Column:
    return F.size(ws_tokens(text)).cast("bigint")


def token_count_bpe(text: Column) -> Column:
    """BPE-ish token count via regexp_extract_all over BPE_PATTERN."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_PATTERN), F.lit(0))).cast(
        "bigint"
    )


def fold_hash(s: Column) -> Column:
    """Portable polynomial rolling hash: fold (acc*31 + ascii(ch)) % FOLD_MOD
    over the characters. Identical in Spark (aggregate/split) and DuckDB
    (list_reduce/string_split) — parity-tested."""
    return F.aggregate(
        F.split(s, ""),
        F.lit(0).cast("bigint"),
        lambda acc, c: (acc * F.lit(31) + F.ascii(c)) % F.lit(FOLD_MOD),
    )


def doc_fingerprint(text: Column) -> Column:
    """Document fingerprint: rolling char hash of the whole text."""
    return fold_hash(text)


def quality_columns(text: Column) -> dict[str, Column]:
    """Quality-scoring metrics: length, token stats, punctuation/stopword
    ratios. Ratios rounded to 6dp for cross-engine float stability."""
    toks = ws_tokens(text)
    n_tok = F.size(toks).cast("double")
    n_chars = F.length(text).cast("bigint")
    n_punct = F.size(
        F.regexp_extract_all(text, F.lit(r"[^A-Za-z0-9\s]"), F.lit(0))
    ).cast("double")
    en_set = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(en_set, t))).cast(
        "double"
    )
    return {
        "n_chars": n_chars,
        "n_tokens": n_tok.cast("bigint"),
        "avg_token_len": F.round(n_chars.cast("double") / n_tok, 6),
        "punct_ratio": F.round(n_punct / F.greatest(n_chars.cast("double"), F.lit(1.0)), 6),
        "stopword_ratio": F.round(n_stop / F.greatest(n_tok, F.lit(1.0)), 6),
    }


def lang_id(text: Column) -> Column:
    """Stopword-profile language ID: argmax of per-language stopword hits,
    'und' (undetermined) when no profile scores > 0. Ties break by the
    profile order in STOPWORDS (en, de, fr, es) — deterministic."""
    toks = ws_tokens(text)
    best_lang = F.lit("und")
    best_score = F.lit(0)
    # strict '>' with in-order iteration: ties keep the earlier profile
    for lang in STOPWORDS:
        wset = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
        score = F.size(F.filter(toks, lambda t: F.array_contains(wset, t)))
        better = score > best_score
        best_lang = F.when(better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(better, score).otherwise(best_score)
    return best_lang


def repetition_columns(text: Column) -> dict[str, Column]:
    """Gopher-style within-document repetition signals (Rae et al. 2021,
    "Scaling Language Models" §A1.1 quality heuristics), the per-row
    subset — pure Column expressions, whole-stage-codegen'd:

    - ``n_words``: whitespace token count;
    - ``mean_word_length``: characters per word;
    - ``dup_word_fraction``: fraction of words that are repeats of an
      earlier word (1 - distinct/total) — high for templated/spammy text.

    NULL text yields NULL metrics (matching SQL ``len(NULL)``; Spark's
    bare ``size(NULL)`` would return -1). Ratios rounded to 6dp for
    cross-engine float stability. See :func:`top_bigram_fraction` for
    the aggregation-shaped signal.
    """
    w = ws_tokens(text)
    n = F.when(text.isNotNull(), F.size(w)).cast("double")
    total_wlen = F.aggregate(
        F.transform(w, lambda x: F.length(x)),
        F.lit(0),
        lambda acc, x: acc + x,
    ).cast("double")
    return {
        "n_words": n.cast("bigint"),
        "mean_word_length": F.round(total_wlen / n, 6),
        "dup_word_fraction": F.round(
            F.lit(1.0) - F.size(F.array_distinct(w)).cast("double") / n, 6
        ),
    }


def top_bigram_fraction(
    docs, text_col: str = "text", id_col: str = "doc_id"
):
    """Per-document most-frequent word bigram and its character-mass
    ratio — the Gopher top-n-gram repetition filter's n=2 case:
    occurrences x bigram length / total characters, CAPPED at 1.0
    (overlapping occurrences of a self-repeating bigram share words, so
    the uncapped mass can exceed the character count; the cap keeps the
    signal a (0, 1] filterable ratio).

    Scale shape: bigrams explode to (doc, bigram) rows, count with
    map-side partial aggregation, and the per-doc argmax is a second
    partial-aggregatable ``min(struct(-count, bigram))`` — two shuffles
    keyed by doc (no windows, no driver). Ties break to the
    lexicographically smallest bigram (deterministic). Documents with
    fewer than two words get fraction 0.0 and a NULL bigram; NULL-text
    documents get NULL metrics, consistent with
    :func:`repetition_columns` (a missing document is not a
    0%-repetitive document).

    Returns (id_col, top_bigram, top_bigram_char_fraction).
    """
    w = ws_tokens(F.col(text_col))
    bigrams = F.zip_with(
        F.slice(w, 1, F.size(w) - 1),
        F.slice(w, 2, F.size(w) - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    b = docs.select(
        F.col(id_col),
        F.length(F.col(text_col)).cast("double").alias("__chars"),
        F.explode(bigrams).alias("bg"),
    )
    counts = b.groupBy(id_col, "__chars", "bg").count()
    top = counts.groupBy(id_col, "__chars").agg(
        F.min(F.struct((-F.col("count")).alias("nc"), F.col("bg"))).alias("t")
    )
    frac = F.round(
        F.least(
            F.lit(1.0),
            (-F.col("t.nc")).cast("double") * F.length(F.col("t.bg"))
            / F.col("__chars"),
        ),
        6,
    )
    top = top.select(
        id_col,
        F.col("t.bg").alias("top_bigram"),
        frac.alias("top_bigram_char_fraction"),
    )
    base = docs.select(id_col, F.col(text_col).isNotNull().alias("__has"))
    return base.join(top, on=id_col, how="left").select(
        id_col,
        "top_bigram",
        F.when(
            F.col("__has"),
            F.coalesce(F.col("top_bigram_char_fraction"), F.lit(0.0)),
        ).alias("top_bigram_char_fraction"),
    )


def filter_documents(
    docs,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int | None = 50,
    max_words: int | None = None,
    mean_word_length_range: tuple[float, float] | None = (3.0, 10.0),
    max_dup_word_fraction: float | None = 0.3,
    max_top_bigram_fraction: float | None = 0.2,
    allowed_langs: tuple[str, ...] | None = None,
):
    """Composite Gopher/C4-style document filter chain: every gate as a
    per-row FAIL FLAG plus the final ``kept`` verdict — the shape a
    100 TB cleaning pipeline wants (flags feed per-gate drop-rate
    monitoring; filtering on ``kept`` is a single pushable predicate;
    nothing is silently discarded).

    Gates (each None = disabled, its flag column still emitted as false):

    - ``f_short`` / ``f_long``: word count outside [min_words, max_words];
    - ``f_word_len``: mean word length outside mean_word_length_range
      (the Gopher 3-10 char band);
    - ``f_dup_words``: dup_word_fraction above the cap;
    - ``f_top_bigram``: top-bigram character mass above the cap;
    - ``f_lang``: stopword-profile lang-ID not in ``allowed_langs``.

    All per-row gates are pure codegen Columns (quality/repetition/lang
    metrics); the only shuffle is :func:`top_bigram_fraction`'s two
    doc-keyed partial aggregations, joined back on the id. NULL-text
    documents fail closed: ``kept`` = false with every flag NULL (a
    missing document is not a passing document).

    Returns (id, n_words, f_short, f_long, f_word_len, f_dup_words,
    f_top_bigram, f_lang, kept).
    """
    text = F.col(text_col)
    rep = repetition_columns(text)
    n_words = rep["n_words"]
    mean_wl = rep["mean_word_length"]
    dup_frac = rep["dup_word_fraction"]

    def gate(cond):
        # tri-state: NULL text -> NULL flag (never silently false)
        return F.when(text.isNull(), F.lit(None).cast("boolean")).otherwise(
            F.coalesce(cond, F.lit(False))
        )

    f_short = gate(F.lit(False) if min_words is None
                   else n_words < F.lit(int(min_words)))
    f_long = gate(F.lit(False) if max_words is None
                  else n_words > F.lit(int(max_words)))
    if mean_word_length_range is None:
        f_wlen = gate(F.lit(False))
    else:
        lo, hi = mean_word_length_range
        f_wlen = gate((mean_wl < F.lit(float(lo)))
                      | (mean_wl > F.lit(float(hi))))
    f_dup = gate(F.lit(False) if max_dup_word_fraction is None
                 else dup_frac > F.lit(float(max_dup_word_fraction)))
    f_lang = gate(F.lit(False) if allowed_langs is None
                  else ~lang_id(text).isin(*allowed_langs))

    base = docs.select(
        F.col(id_col),
        n_words.alias("n_words"),
        f_short.alias("f_short"),
        f_long.alias("f_long"),
        f_wlen.alias("f_word_len"),
        f_dup.alias("f_dup_words"),
        f_lang.alias("f_lang"),
        text.isNull().alias("__null_text"),
    )
    if max_top_bigram_fraction is None:
        out = base.withColumn(
            "f_top_bigram",
            F.when(F.col("__null_text"), F.lit(None).cast("boolean"))
            .otherwise(F.lit(False)),
        )
    else:
        tb = top_bigram_fraction(docs, text_col, id_col).select(
            id_col,
            (F.col("top_bigram_char_fraction")
             > F.lit(float(max_top_bigram_fraction))).alias("__f_tb"),
        )
        out = base.join(tb, on=id_col, how="left").withColumn(
            "f_top_bigram",
            F.when(F.col("__null_text"), F.lit(None).cast("boolean"))
            .otherwise(F.coalesce(F.col("__f_tb"), F.lit(False))),
        ).drop("__f_tb")
    flags = ["f_short", "f_long", "f_word_len", "f_dup_words",
             "f_top_bigram", "f_lang"]
    kept = ~F.col("__null_text")
    for f in flags:
        kept = kept & ~F.coalesce(F.col(f), F.lit(True))
    return out.withColumn("kept", kept).select(
        id_col, "n_words", *flags, "kept"
    )


def top_tokens(
    docs: DataFrame,
    k: int = 5,
    text_col: str = "text",
    by: str = "source",
) -> DataFrame:
    """Exact per-group token heavy hitters: (by, tok, cnt), top k.

    Two-stage plan built for 100 TB: the explode feeds a partial-
    aggregatable groupBy(by, tok) count — map-side combine collapses the
    token stream to at most |vocab| rows per group per task — and the
    top-k window then runs over that reduced counts table, never over
    raw tokens. Ties break by token ascending so the result is
    deterministic (and matches the DuckDB oracle's ORDER BY cnt DESC,
    tok). NULL text contributes no rows (explode of a NULL array).
    """
    counts = (
        docs.select(F.col(by), F.explode(ws_tokens(F.col(text_col)))
                    .alias("tok"))
        .groupBy(by, "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy(by).orderBy(F.col("cnt").desc(), F.col("tok"))
    return (
        counts.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def kgrams(toks: Column, k: int) -> Column:
    """Overlapping k-gram list of a STRING-array column as ' '-joined
    strings (NON-distinct; one entry per window position, a single
    truncated window for arrays shorter than k) — THE sliding-window
    construction behind every shingle/n-gram operator (word shingles,
    token-id shingles, repetition fractions). Exactly one copy: its
    slice/short-array semantics must match the DuckDB ``tk[i:i+k-1]``
    oracles bit-for-bit, so a fix here fixes every consumer at once."""
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1)))
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))


def token_repetition_fraction(tokens: Column, k: int = 2) -> Column:
    """Intra-sequence repetition: fraction of k-token-gram occurrences that
    are repeats of an earlier occurrence, 1 - distinct/total over the
    OVERLAPPING k-gram list — the token-id analog of the Gopher duplicate
    n-gram filters, computed directly on the pre-tokenized input shape
    (tokens array<int32>). Pure Column (no Python, no shuffle); NULL
    tokens yield NULL (not 0 — the size(NULL) = -1 trap would otherwise
    fabricate a -0.0). Rounded to 6dp for cross-engine float stability.
    """
    sh = kgrams(F.transform(tokens, lambda t: t.cast("string")), k)
    total = F.size(sh)
    rep = (total - F.size(F.array_distinct(sh))) / total
    return F.when(tokens.isNotNull(), F.round(rep, 6))


def remap_tokens(
    seqs,
    mapping: list[int],
    tokens_col: str = "tokens",
    unk_id: int | None = None,
):
    """Tokenizer-migration remap: every token id looked up in a dense
    old-id -> new-id table (``mapping[old] = new``; use a negative
    entry for retired ids). Ids outside the table or mapped negative
    become ``unk_id``, or are DROPPED from the sequence when ``unk_id``
    is None. ``n_tok`` is recomputed when present (it changes under the
    drop policy).

    The table ships as a ONE-ROW broadcast frame cross-joined in (a
    BroadcastNestedLoopJoin against a single build row): every output
    row references the SAME materialized array, and the per-token
    lookup is a JVM ``get`` on that column. Do NOT inline the table as
    a literal inside the transform lambda — a literal referenced from a
    lambda is re-converted on every invocation, making each lookup
    O(vocab) (measured 4x slower at 50k entries on 60-token rows, and
    growing with tokens/row); the joined-column form converts once.
    ~4 bytes/entry broadcast payload (a 256k vocab is ~1 MB — fine);
    a mapping too big to broadcast would switch to posexplode + join +
    re-collect, the documented fallback."""
    from pyspark.sql import functions as F

    spark = seqs.sparkSession
    mdf = spark.createDataFrame(
        [([int(m) for m in mapping],)], "__remap array<int>"
    )
    seqs = seqs.join(F.broadcast(mdf))
    arr = F.col("__remap")

    def look(t):
        got = F.get(arr, t)
        got = F.when(got >= 0, got)  # negative table entries = retired
        if unk_id is not None:
            got = F.coalesce(got, F.lit(int(unk_id)))
        return got.cast("int")

    mapped = F.transform(F.col(tokens_col), look)
    if unk_id is None:
        mapped = F.filter(mapped, lambda x: x.isNotNull())
    out = seqs.withColumn(tokens_col, mapped).drop("__remap")
    if "n_tok" in seqs.columns:
        out = out.withColumn(
            "n_tok",
            F.when(F.col(tokens_col).isNull(), F.col("n_tok")).otherwise(
                F.size(tokens_col).cast("int")
            ),
        )
    return out


#: PII redaction ladder: applied IN ORDER, each pattern counted on the
#: text as it looks after the previous replacements (an email's digits
#: must not double-count as a number). Character-class-only regexes —
#: identical semantics under Java regex (Spark) and RE2 (DuckDB).
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"[0-9]{3}[-.][0-9]{3,4}[-.]?[0-9]{0,4}", "<PHONE>"),
    (r"[0-9]{4,}", "<NUM>"),
]


def redact_pii(
    text: Column, patterns: list[tuple[str, str]] | None = None
) -> dict[str, Column]:
    """Sequential regex redaction for curation (emails, phone-shaped
    digit groups, long digit runs) — the standard PII scrub stage of a
    training-data pipeline, as plain JVM ``regexp_replace``/
    ``regexp_count`` codegen (no Python in the hot path).

    Returns ``{"redacted": Column, "n_redactions": Column}`` where the
    count is the total matches across the ladder, each pattern counted
    on the already-partially-redacted text (deterministic and
    engine-reproducible; DuckDB mirror uses regexp_replace(..., 'g') +
    len(regexp_extract_all())).
    """
    pats = PII_PATTERNS if patterns is None else patterns
    cur = text
    total = F.lit(0).cast("bigint")
    for pat, repl in pats:
        total = total + F.regexp_count(cur, F.lit(pat)).cast("bigint")
        cur = F.regexp_replace(cur, pat, repl)
    return {"redacted": cur, "n_redactions": total}


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into fixed-size token-window chunks (the
    context-window packing precursor: one training sample per ~N
    whitespace tokens, split on token boundaries, last chunk ragged).

    One row in, ceil(n_tok / chunk_tokens) rows out via a single
    sequence+explode — no shuffle at all (the chunker is a pure map),
    so it composes with any downstream dedup/pack stage at scan speed.
    Output: (id, chunk_idx, chunk_text, n_tok).  Reconstruction
    invariant: joining a doc's chunk_texts with single spaces equals
    the whitespace-normalized document (pytest).
    """
    C = int(chunk_tokens)
    toks = ws_tokens(F.col(text_col))
    base = df.select(
        F.col(id_col).alias("id"), toks.alias("__toks"),
        F.size(toks).alias("__n"),
    )
    nch = F.ceil(F.col("__n") / F.lit(C)).cast("int")
    exploded = base.select(
        "id", "__toks", "__n",
        F.explode(F.sequence(F.lit(0), nch - 1)).alias("chunk_idx"),
    )
    return exploded.select(
        "id", "chunk_idx",
        F.array_join(
            F.slice(F.col("__toks"), F.col("chunk_idx") * C + 1, C), " "
        ).alias("chunk_text"),
        F.least(F.lit(C), F.col("__n") - F.col("chunk_idx") * C)
        .cast("int").alias("n_tok"),
    )


def pad_sequences(
    df: DataFrame,
    max_len: int,
    pad_id: int = 0,
    tokens_col: str = "tokens",
) -> DataFrame:
    """Loader-final shaping: truncate-or-pad every token sequence to
    ``max_len`` and emit the matching attention mask — pure array
    codegen (slice / concat / repeat / transform), no shuffle, no
    Python.

    Adds ``input_ids`` (length exactly max_len), ``attention_mask``
    (1 for real tokens, 0 for padding) and ``n_real`` (unpadded length,
    capped at max_len).  NULL sequences pass through as NULL rows of
    all three columns (dropped or imputed upstream by the curation
    filters, never silently zero-filled here).
    """
    L = int(max_len)
    toks = F.col(tokens_col)
    n = F.least(F.size(toks), F.lit(L))
    trunc = F.slice(toks, 1, L)
    pad = F.array_repeat(F.lit(int(pad_id)).cast("int"), F.lit(L) - n)
    ids = F.concat(trunc, pad)
    mask = F.concat(
        F.transform(trunc, lambda _: F.lit(1).cast("int")),
        F.transform(pad, lambda _: F.lit(0).cast("int")),
    )
    isnull = toks.isNull()
    return df.select(
        "*",
        F.when(isnull, F.lit(None)).otherwise(ids).alias("input_ids"),
        F.when(isnull, F.lit(None)).otherwise(mask)
        .alias("attention_mask"),
        F.when(isnull, F.lit(None)).otherwise(n.cast("int"))
        .alias("n_real"),
    )


def vocab_coverage(
    seqs: DataFrame,
    tokens_col: str = "tokens",
    top_n: int = 100,
) -> DataFrame:
    """Token-frequency coverage curve: for each frequency rank r (ties
    broken by token id), the cumulative fraction of ALL token
    occurrences covered by the r most frequent tokens — the read that
    answers "what vocab size covers 99% of this corpus?" before a
    tokenizer migration (:func:`remap_tokens`) or vocab truncation.
    Returns ``top_n`` rows (rank, token, cnt, cum_frac).

    Scale shape: ONE explode -> groupBy(token) with map-side combine —
    the only pass over raw occurrences; its output is vocab-bounded, so
    the ranking window and the cumulative sum run over <= V rows (a
    tier-scale frame, not a data-scale one; the single-partition window
    is bounded by the vocabulary, not the corpus). ``cum_frac`` is a
    ratio of exact integer counts, rounded to 9 dp so the one double
    division is engine-identical.
    """
    cnt = (
        seqs.select(F.explode(tokens_col).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    order = [F.col("cnt").desc(), F.col("token").asc()]
    w = Window.orderBy(*order)
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tot = cnt.agg(F.sum("cnt").alias("__tot"))
    return (
        cnt.withColumn("rank", F.row_number().over(w))
        .withColumn("cum", F.sum("cnt").over(wsum))
        .filter(F.col("rank") <= int(top_n))
        .crossJoin(F.broadcast(tot))
        .select(
            "rank",
            "token",
            "cnt",
            F.round(F.col("cum") / F.col("__tot"), 9).alias("cum_frac"),
        )
    )


def pmi_bigrams(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 3,
) -> DataFrame:
    """Pointwise-mutual-information collocations over adjacent word
    pairs — the phrase-mining read of a training corpus ("new york",
    "machine learning"): which bigrams occur far more often than their
    parts predict.  With c_xy the bigram count, c_x / c_y the unigram
    occurrence counts, N_uni total unigram occurrences and N_bi total
    bigram occurrences,

        pmi = ln( (c_xy / N_bi) / ((c_x / N_uni) * (c_y / N_uni)) )
            = ln( (c_xy * N_uni^2) / (N_bi * c_x * c_y) )

    assembled as ONE log of a ratio of exact decimal(38,0) products
    (N_uni^2 overflows int64 on a 10^12-token corpus; decimal mirrors
    the oracle's HUGEINT exactly), so the double is engine-identical
    to the ulp.

    Plan shape for 100 TB: raw text is scanned twice, each time
    straight into a partial-aggregatable groupBy count (unigrams:
    explode(tokens); bigrams: explode(zip(toks[:-1], toks[1:]))) —
    map-side combine collapses both streams to vocab-bounded count
    tables before any shuffle.  The PMI assembly (two equi-joins of
    the bigram table against the unigram table + two broadcast total
    scalars) runs entirely on those vocab-bounded frames; the
    ``min_count`` gate cuts the bigram table BEFORE the joins, which
    is also the statistical floor (PMI of a count-1 pair is noise).
    Docs with fewer than 2 tokens contribute unigrams but no bigram
    (no truncated-window shingle here — a 1-token doc has no pair).

    Output: ``w1, w2, cnt, pmi`` (pmi in nats).
    """
    toks = docs.select(ws_tokens(F.col(text_col)).alias("t")).filter(
        F.col("t").isNotNull()
    )
    uni = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = F.size(F.col("t"))
    pairs = toks.filter(n >= 2).select(
        F.explode(
            F.arrays_zip(
                F.slice(F.col("t"), 1, n - 1).alias("w1"),
                F.slice(F.col("t"), 2, n - 1).alias("w2"),
            )
        ).alias("p")
    ).select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    bi = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= int(min_count))
    )
    tot_uni = uni.agg(
        F.sum(F.col("c").cast("decimal(38,0)")).alias("__nu")
    )
    tot_bi = pairs.groupBy().agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("__nb")
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    num = d("cnt") * F.col("__nu") * F.col("__nu")
    den = F.col("__nb") * d("c1") * d("c2")
    return (
        bi.join(u1, "w1").join(u2, "w2")
        .crossJoin(F.broadcast(tot_uni))
        .crossJoin(F.broadcast(tot_bi))
        .select(
            "w1", "w2", "cnt",
            F.log(num.cast("double") / den.cast("double")).alias("pmi"),
        )
    )


def source_overlap(
    docs: DataFrame,
    k: int = 2,
    text_col: str = "text",
    by: str = "source",
) -> DataFrame:
    """Pairwise k-gram Jaccard similarity BETWEEN sources — the
    mixture-design read ("how much does crawl overlap with curated?")
    that decides whether two corpus components are redundant before
    weights are assigned (mix_sample) or budgets spent (token_budget).

    Each source collapses to its DISTINCT k-gram shingle set (the same
    :func:`kgrams` window every shingle operator shares, so a fix there
    fixes this too); for every unordered source pair (a < b)

        jaccard = |A inter B| / (|A| + |B| - |A inter B|)

    from exact integer counts (one double division, rounded to 9 dp).
    Pairs with ZERO overlap are kept (jaccard 0.0) — absence of overlap
    is the answer, not a missing row — via a cross of the tiny
    per-source-size frame with a left join of the intersection counts.

    Plan shape for 100 TB: one explode -> distinct(source, shingle)
    (partial-aggregatable — map-side combine dedups within tasks);
    the intersection is a self-equi-join KEYED ON THE SHINGLE, so a
    shingle present in s sources emits C(s,2) pairs — bounded by the
    SOURCE count (a handful), never by corpus size; per-pair counts
    partial-aggregate.  No all-pairs document work anywhere.

    Output: ``a, b, n_a, n_b, inter, jaccard``.
    """
    # the distinct shingle frame feeds BOTH self-join sides and the
    # size census; persist so the corpus is shingled once, not three
    # times (lambda-bearing subtrees defeat exchange reuse)
    sh = hold(
        docs.select(
            F.col(by).alias("g"),
            F.explode(kgrams(ws_tokens(F.col(text_col)), k)).alias("sh"),
        )
        .filter(F.col("sh").isNotNull())
        .distinct()
    )
    sizes = sh.groupBy("g").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("g").alias("a"), "sh")
    b = sh.select(F.col("g").alias("b"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("g").alias("a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("g").alias("b"), F.col("n").alias("n_b"))
    allp = sa.crossJoin(sb).filter(F.col("a") < F.col("b"))
    return (
        allp.join(inter, ["a", "b"], "left")
        .withColumn("inter", F.coalesce("inter", F.lit(0)))
        .select(
            "a", "b", "n_a", "n_b", "inter",
            F.round(
                F.col("inter")
                / (F.col("n_a") + F.col("n_b") - F.col("inter")),
                9,
            ).alias("jaccard"),
        )
    )


def source_entropy(
    docs: DataFrame,
    text_col: str = "text",
    by: str = "source",
) -> DataFrame:
    """Token-distribution diversity and idiosyncrasy per source — the
    other half of the mixture-design pair next to
    :func:`source_overlap` (overlap says "are these two components the
    same data"; this says "how diverse is each component internally,
    and how far does it sit from the corpus mixture"):

    - ``entropy``: Shannon entropy (nats) of the source's unigram
      distribution, ``ln n − (Σ c·ln c)/n`` — low = repetitive /
      template-heavy source;
    - ``kl_vs_corpus``: KL(source ‖ corpus) over the source's observed
      vocabulary, ``(Σ c·ln c)/n − ln n − (Σ c·ln tc)/n + ln N`` —
      high = idiosyncratic source the mixture under-represents.

    Plan shape for 100 TB: ONE explode feeds a partial-aggregatable
    groupBy(source, token) count — the only raw-scale pass; the corpus
    marginals are a second groupBy OVER THAT vocab-bounded frame, and
    the entropy/KL assembly is one equi-join of two vocab-bounded
    count tables plus a per-source aggregate.  Counts are exact
    integers; the ``c·ln c`` sums are the only order-dependent float
    reductions (rounded to 6 dp; accumulated noise ~1e-12).

    Output: ``g, n_tok, vocab, entropy, kl_vs_corpus``.
    """
    cnt = (
        docs.select(
            F.col(by).alias("g"),
            F.explode(ws_tokens(F.col(text_col))).alias("w"),
        )
        .groupBy("g", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = cnt.groupBy("w").agg(F.sum("c").alias("tc"))
    ntot = tot.agg(F.sum("tc").alias("__N"))
    c = F.col("c").cast("double")
    per = (
        cnt.join(tot, "w")
        .groupBy("g")
        .agg(
            F.sum("c").alias("n_tok"),
            F.count(F.lit(1)).alias("vocab"),
            F.sum(c * F.log(c)).alias("__sclc"),
            F.sum(c * F.log(F.col("tc").cast("double"))).alias("__scltc"),
        )
    )
    n = F.col("n_tok").cast("double")
    return per.crossJoin(F.broadcast(ntot)).select(
        "g", "n_tok", "vocab",
        F.round(F.log(n) - F.col("__sclc") / n, 6).alias("entropy"),
        F.round(
            F.col("__sclc") / n - F.log(n) - F.col("__scltc") / n
            + F.log(F.col("__N").cast("double")),
            6,
        ).alias("kl_vs_corpus"),
    )


def zipf_fit(
    docs: DataFrame,
    k: int = 64,
    text_col: str = "text",
    by: str = "source",
    ndigits: int = 6,
) -> DataFrame:
    """Zipf exponent per source — the mixture-diagnostic companion to
    :func:`source_entropy`: fit ``ln(count) = intercept + slope *
    ln(rank)`` by OLS over the top-``k`` token ranks and report the
    decay.  Natural text sits near slope -1 (Zipf's law); a source
    decaying much flatter is template/boilerplate-heavy (few dominant
    tokens repeated), much steeper is vocabulary-starved — either way a
    mixture designer wants the flag before the source dominates a
    training blend.

    Plan shape: the same two-stage reduction as :func:`top_tokens` —
    explode feeds ONE partial-aggregatable groupBy(by, tok) count
    (map-side combine bounds the stream at |vocab| rows per group per
    task), the rank window and the OLS sums then run on the tiny
    counts table (k rows per group).  Ranks tie-break by token
    ascending, deterministic.

    Exactness: x = ln(rank), y = ln(count) are doubles of exact
    integers; the five OLS sums are k-term float reductions (the only
    order-dependent step, same convention as source_entropy) and the
    closed forms

        slope = (k*Sxy - Sx*Sy) / (k*Sxx - Sx^2)
        r2    = (k*Sxy - Sx*Sy)^2 / ((k*Sxx - Sx^2)(k*Syy - Sy^2))

    are rounded to ``ndigits``.  Groups with fewer than 2 distinct
    ranks (constant x) report NULL slope.  Output: ``by, n_ranks,
    slope, intercept, r2``.
    """
    counts = (
        docs.select(F.col(by), F.explode(ws_tokens(F.col(text_col)))
                    .alias("tok"))
        .groupBy(by, "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy(by).orderBy(F.col("cnt").desc(), F.col("tok"))
    ranked = (
        counts.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= int(k))
        .select(by, F.log(F.col("__rn").cast("double")).alias("x"),
                F.log(F.col("cnt").cast("double")).alias("y"))
    )
    g = ranked.groupBy(by).agg(
        F.count(F.lit(1)).alias("n_ranks"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n_ranks").cast("double")
    den = n * F.col("sxx") - F.col("sx") * F.col("sx")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    deny = n * F.col("syy") - F.col("sy") * F.col("sy")
    slope = num / den
    return g.select(
        by, "n_ranks",
        F.when(den > 0, F.round(slope, ndigits)).alias("slope"),
        F.when(den > 0, F.round(
            (F.col("sy") - slope * F.col("sx")) / n, ndigits)
        ).alias("intercept"),
        F.when((den > 0) & (deny > 0), F.round(
            num * num / (den * deny), ndigits)).alias("r2"),
    )


def doc_entropy(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ndigits: int = 6,
) -> DataFrame:
    """Per-DOCUMENT unigram entropy — the row-level quality signal next
    to the per-source :func:`source_entropy` (a low-entropy doc repeats
    its own tokens: keyword stuffing, boilerplate, degenerate
    generations — the Gopher-style repetition gates catch structural
    repeats, this catches distributional collapse in one number).

    Shuffle-free by construction: the token multiset never leaves its
    row — sort the token array, run-length it with ONE ``aggregate()``
    fold (state: current run token/length + the running Σ c·ln c and
    distinct count), and

        entropy = ln n − (Σ c·ln c)/n        (nats)

    so the whole read is a per-row whole-stage-codegen projection; no
    explode, no groupBy, nothing corpus-scale shuffles (the per-source
    read explodes because its groups SPAN rows; a per-doc group is the
    row).  Σ c·ln c accumulates in sorted-token order (deterministic);
    rounded ``ndigits`` per the source_entropy convention.  NULL text
    and empty token lists report NULL entropy.  Output: ``id_col,
    n_toks, n_distinct, entropy``.
    """
    toks = ws_tokens(F.col(text_col))
    # fold state: (prev token, current run length, sum of c*ln(c) over
    # CLOSED runs, distinct-count so far incl. the open run)
    fold = """aggregate(
      slice(__st, 2, greatest(size(__st) - 1, 0)),
      named_struct('p', element_at(__st, 1), 'r', 1L,
                   's', cast(0.0 as double), 'd', 1L),
      (acc, e) -> IF(e = acc.p,
        named_struct('p', acc.p, 'r', acc.r + 1L, 's', acc.s,
                     'd', acc.d),
        named_struct('p', e, 'r', 1L,
                     's', acc.s + cast(acc.r as double) * ln(acc.r),
                     'd', acc.d + 1L)),
      acc -> named_struct(
        's', acc.s + cast(acc.r as double) * ln(acc.r), 'd', acc.d))"""
    out = docs.select(
        F.col(id_col),
        F.array_sort(toks).alias("__st"),
    ).select(
        id_col,
        F.size("__st").alias("n_toks"),
        F.when(F.size("__st") > 0, F.expr(fold)).alias("__f"),
    )
    n = F.col("n_toks").cast("double")
    ent = F.log(n) - F.col("__f")["s"] / n
    return out.select(
        id_col, "n_toks",
        F.col("__f")["d"].alias("n_distinct"),
        F.when(F.col("n_toks") > 0, F.round(ent, ndigits)).alias("entropy"),
    )


def rbo_tail_weights(k: int, p: float) -> list[float]:
    """Rank-biased-overlap tail constants: ``tail[m] = Σ_{d=m..k}
    p^(d−1)/d`` for m = 1..k, computed ONCE driver-side (plain Python
    floats, summed high-d-first so the recurrence is a single add per
    term) and shipped into both engines as literals — the
    forecast_backtest coefficient convention: no query-time ``pow``
    for libm to disagree about."""
    tails = [0.0] * (k + 1)
    acc = 0.0
    for d in range(k, 0, -1):
        acc += p ** (d - 1) / d
        tails[d - 1] = acc
    return tails[:k]


def rbo_overlap(
    ca: DataFrame,
    cb: DataFrame,
    k: int = 64,
    p: float = 0.9,
    by: str = "source",
    ndigits: int = 6,
) -> DataFrame:
    """Rank-biased overlap (Webber et al., TOIS'10) between two periods'
    top-k token RANKINGS per group — the head-of-distribution drift
    read next to PSI/KS/MW (those weigh the whole value distribution;
    RBO asks "is the head still the same list in the same order?",
    top-weighted so a swap at rank 2 moves the number far more than one
    at rank 60 — exactly how training-token mass concentrates).

    Inputs are two count frames ``(by, tok, cnt)`` (one per period —
    the same vocab-bounded shape :func:`top_tokens` reduces to).  Each
    side ranks cnt desc / tok asc (deterministic ties), truncates at
    ``k``; the truncated RBO is

        RBO = (1−p) · Σ_{d=1..k} p^(d−1) · X_d / d

    with X_d = |top_d(A) ∩ top_d(B)|, plus Webber's extrapolation term
    ``p^k · X_k / k`` (RBO_ext: assume the depth-k agreement holds
    beyond the truncation, so IDENTICAL lists score exactly 1.0 rather
    than 1 − p^k).  A token in both lists at ranks (ra, rb) enters
    every X_d with d ≥ max(ra, rb), so the double sum regroups per
    token:  RBO = (1−p) · Σ_tokens tail[max(ra, rb)] + p^k·X_k/k with
    :func:`rbo_tail_weights` literals — ONE equi-join of two k-rows-
    per-group frames and one element_at, no d-spine, no range join
    (X_k is just ``n_common``: both ranks are ≤ k by construction).
    1.0 = identical lists, 0 = disjoint heads; groups present in only
    one period report rbo 0 over the union spine (a vanished source IS
    maximal churn — the knn_recall missed-query convention).  The
    per-group Σ tail is the only float reduction (≤ k terms, rounded
    ``ndigits``).  Output: ``g, n_common, rbo``.
    """
    tails = rbo_tail_weights(int(k), float(p))
    tail_arr = F.array(*[F.lit(t) for t in tails])

    def _ranked(cf: DataFrame, rname: str) -> DataFrame:
        w = Window.partitionBy(by).orderBy(F.col("cnt").desc(), F.col("tok"))
        return (
            cf.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= int(k))
            .select(F.col(by).alias("g"), "tok",
                    F.col("__rn").alias(rname))
        )
    ra, rb = _ranked(ca, "ra"), _ranked(cb, "rb")
    joined = ra.join(rb, ["g", "tok"]).select(
        "g", F.element_at(tail_arr, F.greatest("ra", "rb")).alias("__t")
    )
    per = joined.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_common"),
        F.sum("__t").alias("__st"),
    )
    spine = ra.select("g").union(rb.select("g")).distinct()
    ext = F.lit(float(p) ** int(k) / int(k))
    nc = F.coalesce("n_common", F.lit(0))
    return spine.join(per, "g", "left").select(
        "g",
        nc.alias("n_common"),
        F.round(
            F.lit(1.0 - float(p)) * F.coalesce("__st", F.lit(0.0))
            + ext * nc.cast("double"),
            ndigits,
        ).alias("rbo"),
    )


def bigram_entropy(
    docs: DataFrame,
    text_col: str = "text",
    by: str = "source",
    tokens_col: str | None = None,
    ndigits: int = 6,
) -> DataFrame:
    """Conditional next-token entropy H(next | prev) per source over
    token bigrams — the PREDICTABILITY diagnostic next to
    :func:`source_entropy` (unigram entropy says how diverse the token
    MULTISET is; this says how templated the SEQUENCES are: a source
    can have rich vocabulary yet near-zero conditional entropy when
    every token determines its successor — markup, logs, generated
    boilerplate — and such text is low-value training data that unigram
    screens miss).

    With bigram counts c_pn, prefix marginals c_p = Σ_n c_pn and
    N = Σ c_pn:

        H(next|prev) = (Σ_p c_p·ln c_p − Σ_pn c_pn·ln c_pn) / N   (nats)

    ``branching`` = exp(H), the effective next-token choice count
    (perplexity of the bigram model given the prefix).

    Plan shape for 100 TB: bigrams form ROW-LOCALLY (a sequence
    transform over each doc's token array — no self-join, no
    posexplode pairing) and feed ONE partial-aggregatable
    groupBy(by, prev, next) count — the only corpus-scale pass; the
    prefix marginals are a second groupBy over that bigram-vocab-
    bounded frame and the assembly is one per-group aggregate.  Counts
    are exact integers; the two c·ln c sums are the only
    order-dependent float reductions (rounded ``ndigits``, the
    source_entropy convention).  Docs with < 2 tokens contribute
    nothing; groups with zero bigrams are absent.  ``tokens_col=``
    accepts the pre-tokenized graft shape directly (array column);
    otherwise whitespace tokens of ``text_col``.  Output: ``g,
    n_bigrams, n_prefixes, n_bigram_types, cond_entropy, branching``.
    """
    toks = (
        F.col(tokens_col) if tokens_col
        else ws_tokens(F.col(text_col))
    )
    pairs = F.expr(
        "transform(sequence(1, size(__toks) - 1), "
        "i -> struct(element_at(__toks, i) AS p, "
        "element_at(__toks, i + 1) AS nx))"
    )
    bi = (
        docs.select(F.col(by).alias("g"), toks.alias("__toks"))
        .filter(F.size("__toks") >= 2)
        .select("g", F.explode(pairs).alias("b"))
        .groupBy("g", F.col("b.p").alias("p"), F.col("b.nx").alias("nx"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    c = F.col("c").cast("double")
    pref = bi.groupBy("g", "p").agg(F.sum("c").alias("cp"))
    cp = F.col("cp").cast("double")
    s_bi = bi.groupBy("g").agg(
        F.sum("c").alias("n_bigrams"),
        F.count(F.lit(1)).alias("n_bigram_types"),
        F.sum(c * F.log(c)).alias("__sbi"),
    )
    s_pref = pref.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_prefixes"),
        F.sum(cp * F.log(cp)).alias("__spf"),
    )
    n = F.col("n_bigrams").cast("double")
    h = (F.col("__spf") - F.col("__sbi")) / n
    return s_bi.join(s_pref, "g").select(
        "g", "n_bigrams", "n_prefixes", "n_bigram_types",
        F.round(h, ndigits).alias("cond_entropy"),
        F.round(F.exp(h), ndigits).alias("branching"),
    )


def tfidf_top(
    docs: DataFrame,
    k: int = 5,
    text_col: str = "text",
    by: str = "source",
    ndigits: int = 6,
) -> DataFrame:
    """Top-k DISTINCTIVE tokens per group by TF-IDF — the mixture
    designer's "what is this source actually about" read, and the
    complement of :func:`top_tokens`: raw heavy hitters are dominated
    by the corpus-wide stopword head, TF-IDF down-weights any token
    that appears in every group (idf = ln(S/df) = 0 when df = S), so
    what survives is each group's signature vocabulary.

        tfidf(g, t) = tf(g, t) * ln( S / df(t) )

    with tf = the token's count within the group, S = number of
    groups, df = number of groups containing the token (document
    frequency at GROUP granularity — the per-source profile read;
    per-doc idf is a different, retrieval-shaped statistic, which is
    bm25's job).

    Exactness: tf, S, df are exact integers; ln and the product are
    one deterministic float op per (group, token) row — no sums, no
    association order — and ranking compares scores rounded to 9 dp
    (ties break by token ascending), so the kept set is
    engine-identical.  Scores are reported rounded to ``ndigits``.

    Plan shape (the top_tokens two-stage): the explode feeds ONE
    partial-aggregatable groupBy(by, tok) — map-side combine bounds
    the shuffle at |vocab| rows per group per task — then df comes
    from a groupBy(tok) of that REDUCED counts table and joins back
    on tok; the group count S is a 1-row aggregate broadcast in (the
    audited global-scalar cross).  The top-k window runs per group
    over the counts table, never over raw tokens.  Output: ``by, tok,
    cnt, n_src, tfidf``.
    """
    counts = (
        docs.select(F.col(by), F.explode(ws_tokens(F.col(text_col)))
                    .alias("tok"))
        .groupBy(by, "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    dfreq = counts.groupBy("tok").agg(F.count(F.lit(1)).alias("n_src"))
    n_groups = counts.select(F.col(by)).distinct().agg(
        F.count(F.lit(1)).alias("__s")
    )
    scored = (
        counts.join(dfreq, "tok")
        .join(F.broadcast(n_groups))
        .withColumn(
            "__score",
            F.col("cnt").cast("double")
            * F.log(F.col("__s").cast("double")
                    / F.col("n_src").cast("double")),
        )
    )
    w = Window.partitionBy(by).orderBy(
        F.round(F.col("__score"), 9).desc(), F.col("tok")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(by, "tok", "cnt", "n_src",
                F.round("__score", ndigits).alias("tfidf"))
    )


def heaps_fit(
    docs: DataFrame,
    by: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 0,
    ladder: tuple = (0.0625, 0.125, 0.25, 0.5, 1.0),
    ndigits: int = 6,
) -> DataFrame:
    """Heaps'-law fit per source — the GROWTH companion to
    :func:`zipf_fit` (Zipf describes the vocabulary you have; Heaps
    V = K * n^beta predicts how much NEW vocabulary more data buys):
    beta near 1 means every added document still introduces fresh
    tokens (diverse, far from saturation — more of this source is
    worth collecting), beta near 0 means the vocabulary has
    saturated (template/boilerplate — more data buys repetition).
    The mixture-design read before spending a crawl budget.

    ONE-PASS nested-sample construction (never k corpus scans): each
    doc draws the deterministic portable uniform u(id, seed)
    (:func:`hash_uniform` in sampling.py — retry-stable); the nested
    prefix samples are {docs : u < f} for the dyadic ``ladder`` (the
    f literals are exact powers of two).  A token FIRST APPEARS in
    the sample ladder at fu = min over its docs of u, so

        V(f) = #{tokens : fu < f},    n(f) = sum_{u_doc < f} n_tok

    — the whole ladder falls out of one explode -> min-per-token
    groupBy (vocab-bounded, partial-aggregatable) and one per-doc
    count frame, each crossed with the tiny ladder literal.  beta is
    the :func:`zipf_fit` closed-form OLS slope of ln V on ln n over
    the ladder points (empty rungs drop; < 2 surviving rungs report
    NULL), with ln K (the intercept) and r2 riding along, all
    ``ndigits``-fenced.

    Output: ``by, n_rungs, beta, ln_k, r2``.
    """
    from traval_spark.operators.sampling import hash_uniform

    u = hash_uniform(F.col(id_col), seed)
    lad = F.explode(
        F.array(*[F.lit(float(f)) for f in ladder])).alias("f")
    toks = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(by), u.alias("u"),
        F.explode(ws_tokens(F.col(text_col))).alias("tok"),
    )
    tokmin = toks.groupBy(by, "tok").agg(F.min("u").alias("fu"))
    vf = (
        tokmin.select(by, "fu", lad)
        .filter(F.col("fu") < F.col("f"))
        .groupBy(by, "f")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    docn = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(by), u.alias("u"),
        F.size(ws_tokens(F.col(text_col))).alias("nt"),
    )
    nf = (
        docn.select(by, "u", "nt", lad)
        .filter(F.col("u") < F.col("f"))
        .groupBy(by, "f")
        .agg(F.sum("nt").alias("n"))
    )
    pts = vf.join(nf, [by, "f"]).select(
        by,
        F.log(F.col("n").cast("double")).alias("x"),
        F.log(F.col("v").cast("double")).alias("y"),
    )
    g = pts.groupBy(by).agg(
        F.count(F.lit(1)).alias("n_rungs"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    k = F.col("n_rungs").cast("double")
    den = k * F.col("sxx") - F.col("sx") * F.col("sx")
    num = k * F.col("sxy") - F.col("sx") * F.col("sy")
    deny = k * F.col("syy") - F.col("sy") * F.col("sy")
    slope = num / den
    return g.select(
        by, "n_rungs",
        F.when(den > 0, F.round(slope, ndigits)).alias("beta"),
        F.when(den > 0, F.round(
            (F.col("sy") - slope * F.col("sx")) / k, ndigits)
        ).alias("ln_k"),
        F.when((den > 0) & (deny > 0), F.round(
            num * num / (den * deny), ndigits)).alias("r2"),
    )
