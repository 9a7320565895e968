"""Corpus-curation job: quality filter -> dedup -> decontaminate ->
mixture down-sampling -> split assignment -> sequence packing, as one
spark-submit entry with a per-stage metrics manifest.

The production wrapper over the individually-oracle-verified stages
(operators/text.filter_documents, operators/dedup, operators/sampling,
packing) — what a real curation run needs beyond the operators
themselves is the LINEAGE: how many documents each stage dropped, with
what parameters, written next to the output (`_curation_metrics.json`)
so a later audit can explain every missing document. Each stage count
is one action over a cached frame — the disclosed cost of metrics;
leave ``metrics=None`` for a single-action lazy run.

Two input shapes, one chain:

- TEXT mode (default): raw (doc_id, text, source) documents — md5(text)
  exact dedup, SimHash near-dup, word-shingle decontamination,
  whitespace token counts.
- TOKEN mode (``tokens_col=``): the graft input shape (doc_id, tokens
  array<int32>, n_tok, source — BASELINE.json input_hint) —
  token-sequence exact dedup, MinHash-LSH near-dup over k-token
  shingles, token-shingle decontamination, real ``n_tok`` packing.

Every stage is deterministic (hash sampling, ordered dedup
representatives, hash splits), so re-running the job on the same input
reproduces the output byte-for-byte — the same resume story as the
rollup pipeline's fingerprint checkpoints, achieved here by purity
instead of state.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from traval_spark.session import held, hold

# a benchmark suite's SHORT items (fewer words/tokens than the shingle
# k) can't form a k-gram: they fall back to whole-text containment
# against the corpus via plan-time literals, capped so a mislabeled
# "benchmark" of a million one-liners can't explode the plan
SHORT_BENCH_CAP = 512


def curate_corpus(
    docs: DataFrame,
    *,
    text_col: str = "text",
    tokens_col: str | None = None,
    id_col: str = "doc_id",
    source_col: str = "source",
    n_tok_col: str = "n_tok",
    quality: dict | None = None,
    near_dup: bool = True,
    max_hamming: int = 3,
    lsh_b: int = 4,
    lsh_r: int = 2,
    shingle_k: int = 3,
    trim_spans_k: int | None = None,
    benchmark: DataFrame | None = None,
    decontaminate_k: int = 8,
    short_bench_containment: bool = True,
    weights: dict[str, float] | None = None,
    splits: list[tuple[str, float]] | None = None,
    target_tokens: int = 2048,
    seed: int = 0,
    metrics: dict | None = None,
) -> DataFrame:
    """Run the curation chain, returning the packed corpus frame
    (id, source, n_tok, split, pack_id, pack_pos). Stages (each
    skippable):

    1. quality: text mode — ``filter_documents(**quality)`` kept-verdict
       semi-join; token mode — ``quality`` keys ``min_tok``/``max_tok``
       (sequence-length bounds) and ``max_repetition`` (Gopher-style
       :func:`token_repetition_fraction` ceiling). None skips;
    2. exact dedup: keep the smallest id per identical text (token
       mode: per identical token sequence, keyed on md5 of the
       ','-joined ids — fixed-width shuffle key);
    3. near-dup (``near_dup=True``): text mode — banded SimHash pairs
       within ``max_hamming``; token mode — MinHash (b, r)-banded LSH
       over ``shingle_k``-token shingles. Either way -> large/small-star
       connected components -> keep cluster representatives;
    3b. exact-substring trim (``trim_spans_k=``, token mode only):
       remove every maximal token span covered by ``trim_spans_k``-token
       windows duplicated corpus-wide (:func:`trim_duplicated_spans`,
       the Lee et al. family); documents trimmed to zero tokens are
       dropped with their own stage metric. Runs AFTER whole-doc dedup
       (whole-dup copies are gone, so boilerplate spans dominate) and
       BEFORE decontamination (which then sees the cleaned payloads);
    4. decontamination (``benchmark=`` docs frame): drop documents
       sharing >= 1 ``decontaminate_k``-gram (words / token ids) with
       the benchmark. Benchmark items SHORTER than k can't form a
       k-gram — under pure shingle semantics they'd only match on
       exact-text equality, silently under-flagging short eval items —
       so they fall back to whole-item containment against the corpus
       (``short_bench_containment``, plan-time literals, capped at
       ``SHORT_BENCH_CAP`` with a disclosed ValueError beyond);
    5. mixture (``weights=``): per-source keep-fractions (seed+1);
    6. split (``splits=``, default 98/1/1 train/val/test, seed+2);
    7. packing: contiguous ``target_tokens`` packs per (split, source)
       via the skew-safe two-level prefix sum (token mode packs the
       REAL ``n_tok_col``; text mode the whitespace token count).

    ``metrics``: pass a dict to collect per-stage surviving-document
    counts into it (one count action per stage). Exactly one stage is
    cached at a time — each persist is taken on a DERIVED frame (never
    the caller's object, whose cache state stays untouched) and
    released when the next stage is counted. The LAST stage (the narrow
    pre-packing projection — the smallest frame in the chain, and the
    one the packer's two passes re-read) stays cached, like the dedup
    operators' fingerprint and signature frames: all are released by
    the enclosing ``held()`` (``main()`` wraps the job in one); kept
    until ``unpersist``/``clearCache`` without one.

    In lazy mode (``metrics=None``) no stage is counted or cached
    except that pre-packing projection, which the packer's
    shard-totals pass would otherwise recompute the whole chain for.
    """
    from traval_spark.operators.dedup import (
        connected_components,
        simhash64_dup_pairs,
        token_lsh_banded_pairs,
    )
    from traval_spark.operators.sampling import mixture_sample, split_assign
    from traval_spark.operators.text import (
        filter_documents,
        token_count_ws,
        token_repetition_fraction,
    )
    from traval_spark.packing import assign_packs

    payload_col = tokens_col if tokens_col else text_col
    prev: list[DataFrame] = []

    def note(stage: str, df: DataFrame) -> DataFrame:
        # keep exactly ONE stage cached: persist a DERIVED frame (never
        # the caller-visible object), count it, release the previous
        # stage (each later stage only reads its immediate predecessor)
        # — without this a metrics run holds ~7 full-corpus copies for
        # the life of the session
        if metrics is not None:
            df = hold(df.select("*"))
            metrics[stage] = df.count()
            if prev:
                prev.pop().unpersist()
            prev.append(df)
        return df

    cur = note("input", docs)

    # NULL-payload docs are unexplainable downstream (md5(NULL) would
    # collapse them all into one fabricated 'exact dup' group and
    # packing would silently drop the survivor via n_tok IS NULL) —
    # excluded HERE, as their own manifest stage
    cur = note(
        f"after_nonnull_{'tokens' if tokens_col else 'text'}",
        cur.filter(F.col(payload_col).isNotNull()),
    )

    if quality is not None:
        if tokens_col:
            gates = []
            if "min_tok" in quality:
                gates.append(F.size(tokens_col) >= int(quality["min_tok"]))
            if "max_tok" in quality:
                gates.append(F.size(tokens_col) <= int(quality["max_tok"]))
            if "max_repetition" in quality:
                gates.append(
                    token_repetition_fraction(F.col(tokens_col))
                    <= float(quality["max_repetition"])
                )
            unknown = set(quality) - {"min_tok", "max_tok", "max_repetition"}
            if unknown:
                raise ValueError(
                    f"token-mode quality gates are min_tok/max_tok/"
                    f"max_repetition; got {sorted(unknown)}"
                )
            keep = F.lit(True)
            for g in gates:
                keep = keep & g
            cur = note("after_quality", cur.filter(keep))
        else:
            kept_ids = (
                filter_documents(cur, text_col=text_col, id_col=id_col,
                                 **quality)
                .filter(F.col("kept"))
                .select(id_col)
            )
            cur = note("after_quality",
                       cur.join(kept_ids, id_col, "left_semi"))

    dedup_key = (
        F.md5(F.concat_ws(",", F.col(tokens_col).cast("array<string>")))
        if tokens_col
        else F.md5(F.col(text_col))
    )
    # keep min(id) per identical payload via groupBy + semi-join on the
    # UNIQUE id, not a row_number window over the content hash: the
    # groupBy is partial-aggregatable (a viral doc's million copies
    # collapse map-side before the shuffle) and the join key is
    # perfectly balanced, where the window would sort the whole hot
    # group on one task
    winner_ids = (
        cur.groupBy(dedup_key.alias("__k"))
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    cur = note("after_exact_dedup", cur.join(winner_ids, id_col, "left_semi"))

    if near_dup:
        if tokens_col:
            pairs = token_lsh_banded_pairs(
                cur, b=lsh_b, r=lsh_r, k=shingle_k,
                tokens_col=tokens_col, id_col=id_col,
            )
        else:
            pairs = simhash64_dup_pairs(cur, max_hamming=max_hamming,
                                        text_col=text_col, id_col=id_col)
        stars, _ = connected_components(pairs)
        # non-root members of any dup cluster are dropped (the root —
        # the smallest reachable id — survives)
        cur = note(
            "after_near_dedup",
            cur.join(stars.select(F.col("u").alias(id_col)),
                     id_col, "left_anti"),
        )

    if trim_spans_k is not None:
        if not tokens_col:
            raise ValueError(
                "trim_spans_k is a token-mode stage (exact-substring "
                "dedup runs on token ids); pass tokens_col"
            )
        from traval_spark.operators.dedup import trim_duplicated_spans

        trimmed = trim_duplicated_spans(
            cur, k=int(trim_spans_k), tokens_col=tokens_col,
            id_col=id_col,
        )
        # docs trimmed to nothing carry no trainable payload — dropped
        # HERE so the stage metric discloses them (packing would
        # otherwise emit zero-footprint rows)
        cur = note(
            "after_span_trim",
            trimmed.filter(F.size(tokens_col) > 0),
        )

    if benchmark is not None:
        tainted = _tainted_ids(
            cur, benchmark, payload_col, id_col, decontaminate_k,
            tokens=bool(tokens_col),
            short_containment=short_bench_containment,
        )
        cur = note("after_decontamination",
                   cur.join(tainted, id_col, "left_anti"))

    if weights is not None:
        cur = note(
            "after_mixture",
            mixture_sample(cur, weights, source_col=source_col,
                           id_col=id_col, seed=seed + 1),
        )

    cur = split_assign(
        cur, splits or [("train", 0.98), ("val", 0.01), ("test", 0.01)],
        id_col=id_col, seed=seed + 2,
    )
    if tokens_col:
        n_tok = F.size(tokens_col).cast("int")
        if n_tok_col in cur.columns:
            # trust the precomputed count, fall back to the array length
            # if a row ships tokens without one
            n_tok = F.coalesce(F.col(n_tok_col).cast("int"), n_tok)
    else:
        n_tok = token_count_ws(F.col(text_col))
    pre = cur.withColumn("n_tok", n_tok).select(
        id_col, source_col, "split", "n_tok")
    if metrics is None:
        # lazy mode previously left this unpersisted, so the packer's
        # shard-totals pass re-ran the ENTIRE curation chain a second
        # time (dedup joins, decontamination, mixture — measured as a
        # doubled plan); the pre-packing projection is the narrowest
        # frame in the chain (4 columns, one row per surviving doc), so
        # cache it in both modes. metrics mode already persists it via
        # note() below.
        pre = hold(pre)
    pre_pack = note("pre_pack", pre)
    packed = assign_packs(
        pre_pack, target_tokens, by=["split", source_col], id_col=id_col,
    )
    return packed


def _shingle_col(payload: Column, k: int, tokens: bool) -> Column:
    from traval_spark.operators.dedup import shingles, token_shingles

    return token_shingles(payload, k) if tokens else shingles(payload, k)


def _item_units(payload: Column, tokens: bool) -> Column:
    """Word / token count of a payload item (for the short-item gate)."""
    from traval_spark.operators.text import ws_tokens

    return F.size(payload) if tokens else F.size(ws_tokens(payload))


def _canonical_text(payload: Column, tokens: bool) -> Column:
    """Containment-comparable canonical string: ','-joined token ids
    (comma-delimited so id 12 can't match inside 412), or the text with
    runs of whitespace collapsed to single spaces (so the single-space
    word padding below is a true word-boundary guard and 'a  b' still
    contains 'a b')."""
    if tokens:
        return F.concat_ws(",", payload.cast("array<string>"))
    return F.trim(F.regexp_replace(payload, r"\s+", " "))


def _tainted_ids(
    corpus: DataFrame,
    benchmark: DataFrame,
    payload_col: str,
    id_col: str,
    k: int,
    tokens: bool,
    short_containment: bool,
) -> DataFrame:
    """Distinct corpus ids leaking benchmark content: k-gram overlap for
    benchmark items long enough to form a k-gram, whole-item containment
    (plan-time literal scan, SHORT_BENCH_CAP-bounded) for shorter ones.
    The corpus never shuffles by shingle — the benchmark shingle set is
    broadcast."""
    pay = F.col(payload_col)
    bench = benchmark.filter(pay.isNotNull())
    long_bench = bench.filter(_item_units(pay, tokens) >= k)
    bsh = F.broadcast(
        long_bench.select(
            F.explode(_shingle_col(pay, k, tokens)).alias("__sh")
        ).distinct()
    )
    tainted = (
        corpus.select(
            F.col(id_col),
            F.explode(_shingle_col(F.col(payload_col), k, tokens))
            .alias("__sh"),
        )
        .join(bsh, "__sh")
        .select(id_col)
    )

    if short_containment:
        short_rows = (
            bench.filter(_item_units(pay, tokens) < k)
            .select(_canonical_text(pay, tokens).alias("__t"))
            .distinct()
            .limit(SHORT_BENCH_CAP + 1)
            .collect()
        )
        if len(short_rows) > SHORT_BENCH_CAP:
            raise ValueError(
                f"benchmark has more than {SHORT_BENCH_CAP} items shorter "
                f"than decontaminate_k={k}; lower k or pre-filter the "
                f"benchmark (whole-item containment is a literal scan "
                f"and must stay bounded)"
            )
        shorts = [r["__t"] for r in short_rows if r["__t"]]
        if shorts:
            hay = _canonical_text(F.col(payload_col), tokens)
            if tokens:
                # pad with delimiters so a short sequence only matches on
                # token boundaries: ',12,34,' inside ',5,12,34,99,'
                hay = F.concat(F.lit(","), hay, F.lit(","))
                needles = [f",{s}," for s in shorts]
            else:
                # same trap in text: pad with the word delimiter so
                # 'the secret answer' does not match inside
                # 'brea|the secret answer|s' (_canonical_text collapses
                # whitespace to single spaces on both sides)
                hay = F.concat(F.lit(" "), hay, F.lit(" "))
                needles = [f" {s} " for s in shorts]
            cond = F.lit(False)
            for s in needles:
                cond = cond | F.contains(hay, F.lit(s))
            tainted = tainted.unionByName(
                corpus.filter(cond).select(id_col)
            )
    return tainted.distinct()


def write_curated(
    packed: DataFrame, out_path: str, metrics: dict | None = None
) -> None:
    """Write the packed corpus partitioned by split (a training loader
    reads one split directory) and the metrics manifest next to it.
    The manifest goes through the Hadoop FS API, not builtin open() —
    the submit wrapper invites hdfs://, s3://, ... output paths where a
    local open() would fail on the driver AFTER the expensive parquet
    write. Underscore prefix: Spark's file listing ignores it, so the
    manifest lives inside the dataset directory without being read as a
    parquet part-file."""
    packed.write.mode("overwrite").partitionBy("split").parquet(out_path)
    if metrics is not None:
        from traval_spark.sources import fsutil

        fsutil.write_text(
            packed.sparkSession,
            f"{out_path.rstrip('/')}/_curation_metrics.json",
            json.dumps(metrics, indent=2, default=str),
        )


def materialize_curated(
    packed: DataFrame,
    docs: DataFrame,
    tokens_col: str,
    out_path: str,
    sep_token: int | None = None,
    id_col: str = "doc_id",
    source_col: str = "source",
) -> None:
    """Join the curated pack LAYOUT (id, split, source, pack_id,
    pack_pos — curate_corpus deliberately drops payloads before packing
    so the final exchanges stay narrow) back to its token payloads and
    write loader-ready pack rows (one concatenated token sequence per
    pack, optional separator token between documents) partitioned by
    split. The join key is the unique doc id — balanced regardless of
    source skew — and the pack aggregation key is skew-free by
    construction. Write this to a SIBLING of the doc-level dataset:
    nesting it inside would corrupt the partitioned parquet layout."""
    from traval_spark.packing import materialize_packs

    joined = packed.select(
        id_col, source_col, "split", "pack_id", "pack_pos"
    ).join(docs.select(id_col, tokens_col), id_col)
    m = materialize_packs(
        joined,
        by=["split", source_col],
        tokens_col=tokens_col,
        id_col=id_col,
        sep_token=sep_token,
    )
    m.write.mode("overwrite").partitionBy("split").parquet(out_path)


def main() -> None:
    import argparse

    from traval_spark.session import get_spark

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="documents parquet")
    ap.add_argument("--output", required=True)
    ap.add_argument("--tokens-col", default=None,
                    help="run the TOKEN-native chain on this array<int> "
                         "column (the pre-tokenized input shape); omit "
                         "for the text chain")
    ap.add_argument("--quality", default=None,
                    help="JSON dict of quality gates: text mode takes "
                         'filter_documents kwargs, e.g. {"min_words": 20, '
                         '"allowed_langs": ["en"]}; token mode takes '
                         '{"min_tok": .., "max_tok": .., '
                         '"max_repetition": ..}; omit to skip')
    ap.add_argument("--benchmark", default=None,
                    help="eval-suite parquet for decontamination")
    ap.add_argument("--decontaminate-k", type=int, default=8)
    ap.add_argument("--target-tokens", type=int, default=2048)
    ap.add_argument("--no-near-dup", action="store_true")
    ap.add_argument("--max-hamming", type=int, default=3)
    ap.add_argument("--weights", default=None,
                    help='JSON dict source->fraction, e.g. {"src0": 0.5}')
    ap.add_argument("--splits", default=None,
                    help='JSON list of [name, fraction] pairs summing to 1')
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--no-metrics", action="store_true",
                    help="skip per-stage counts + manifest: one lazy "
                         "plan, no per-stage caching/actions (metrics "
                         "mode materializes the corpus once per stage)")
    ap.add_argument("--trim-spans-k", type=int, default=None,
                    help="token mode: trim every token span covered by "
                         "k-token windows duplicated corpus-wide "
                         "(exact-substring dedup); omit to skip")
    ap.add_argument("--materialize-packs", action="store_true",
                    help="also write loader-ready concatenated pack "
                         "payloads (token mode only) to <output>_packs, "
                         "partitioned by split")
    ap.add_argument("--sep-token", type=int, default=None,
                    help="separator token id inserted BETWEEN documents "
                         "in materialized packs (e.g. an EOD id)")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()
    if args.materialize_packs and not args.tokens_col:
        ap.error("--materialize-packs requires --tokens-col (the text "
                 "chain has no token payload to concatenate)")

    quality = json.loads(args.quality) if args.quality else None
    if quality and "allowed_langs" in quality:
        quality["allowed_langs"] = tuple(quality["allowed_langs"])

    spark = get_spark("traval-curation", master=args.master)
    docs = spark.read.parquet(args.input)
    bench = spark.read.parquet(args.benchmark) if args.benchmark else None
    metrics: dict | None = None if args.no_metrics else {}
    # one owner for every cache the job takes: the curation stages and
    # the dedup operators' fingerprint/signature frames alike
    with held():
        packed = curate_corpus(
            docs,
            tokens_col=args.tokens_col,
            quality=quality,
            near_dup=not args.no_near_dup,
            max_hamming=args.max_hamming,
            trim_spans_k=args.trim_spans_k,
            benchmark=bench,
            decontaminate_k=args.decontaminate_k,
            weights=json.loads(args.weights) if args.weights else None,
            splits=[(n, f) for n, f in json.loads(args.splits)]
            if args.splits else None,
            target_tokens=args.target_tokens,
            seed=args.seed,
            metrics=metrics,
        )
        write_curated(packed, args.output, metrics)
        if args.materialize_packs:
            materialize_curated(
                packed, docs, args.tokens_col,
                f"{args.output.rstrip('/')}_packs",
                sep_token=args.sep_token,
            )
    print(json.dumps(metrics, default=str))


if __name__ == "__main__":
    main()
