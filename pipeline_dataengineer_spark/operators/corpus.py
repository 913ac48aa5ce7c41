"""End-to-end pretraining-corpus cleaning.

Composes the north-star text primitives (language filter, quality
score, token bounds, exact dedup) into the single pass a corpus build
actually runs. Operator order is the scale order: cheap narrow
filters (lang, token count, quality — all codegen'd expressions)
eliminate rows BEFORE the one shuffle (dedup by text hash), so the
exchange moves only surviving documents. Dedup keys on the full text
grouped by xxhash64 prefix? No — plain partition-by-text window; at
100 TB swap the partition key to ``xxhash64(text)`` to keep shuffle
keys 8 bytes (collision-checked by the canonical row's text equality).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pipeline_dataengineer_spark.functions.textstats import (
    quality_score,
    token_count,
)


def clean_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    langs: list[str] | None = None,
    min_quality: float = 0.5,
    min_tokens: int = 5,
    max_tokens: int = 100_000,
) -> DataFrame:
    """Filter + dedup a document table; returns surviving rows with
    ``n_tokens`` and ``quality`` columns attached. Keeps the min-id
    duplicate (deterministic canonical pick)."""
    from pipeline_dataengineer_spark.catalog import scale_out

    out = scale_out(df).withColumn(
        "n_tokens", token_count(text_col).cast("long")
    ).withColumn("quality", quality_score(text_col))
    if langs is not None:
        out = out.filter(F.col(lang_col).isin(langs))
    out = out.filter(
        (F.col("n_tokens") >= min_tokens)
        & (F.col("n_tokens") <= max_tokens)
        & (F.col("quality") >= min_quality)
    )
    w = Window.partitionBy(text_col).orderBy(F.col(id_col).asc())
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def remove_boilerplate_segments(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    words_per_segment: int = 10,
    max_doc_frac: float = 0.05,
) -> DataFrame:
    """Cross-document boilerplate removal (the C4/Dolma line-dedup
    rule, generalized to fixed-width word segments since web text's
    "lines" are a delimiter choice): any segment appearing in more
    than ``max_doc_frac`` of documents is struck from every document;
    survivors are reassembled in order.

    Returns (id, clean_text, n_kept, n_removed).

    Scale shape (round 10): segmentization is a JVM-side explode (no
    Python); segment document-frequency is a partial-aggregable
    groupBy on the segment key (hashed to 8 bytes so the wide shuffle
    never carries segment text); the strike list that survives the
    frequency filter is bounded by construction (< segments-per-doc /
    max_doc_frac keys), so it BROADCASTS into the anti join — the
    corpus text is never shuffled on the segment key; reassembly is
    one groupBy(id) with an order-carrying struct sort over the
    surviving (id, seg) rows, with the per-doc segment total carried
    as a column (it is n_segs by construction) instead of a third
    corpus re-explode + join. Total: two shuffles — the hashed-key
    docfreq and the per-doc reassembly — neither carrying documents.
    """
    from pipeline_dataengineer_spark.catalog import scale_out

    words = F.split(F.col(text_col), r"\s+")
    n_segs = F.ceil(F.size(words) / F.lit(words_per_segment)).cast("int")
    segs = (
        scale_out(df.select(id_col, text_col))
        .select(
            id_col,
            # the per-doc segment total IS n_segs by construction
            # (posexplode of a 0..n_segs-1 transform) — carrying it
            # as a column removes the old third corpus re-explode
            # that recounted it with a groupBy(id) + join (round 10)
            n_segs.cast("long").alias("__n_total"),
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), n_segs - 1),
                    lambda i: F.array_join(
                        F.slice(
                            words,
                            i * words_per_segment + 1,
                            words_per_segment,
                        ),
                        " ",
                    ),
                )
            ).alias("seg_idx", "segment"),
        )
        .withColumn("seg_hash", F.xxhash64("segment"))
    )
    n_docs = df.select(
        F.count_distinct(F.col(id_col)).cast("double").alias("_n")
    )
    docfreq = (
        segs.groupBy("seg_hash")
        .agg(F.count_distinct(F.col(id_col)).alias("_df"))
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("_df") > F.col("_n") * max_doc_frac)
        .select("seg_hash")
    )
    # BROADCAST the strike list: it is bounded by construction (a
    # segment needs > max_doc_frac·n docs, so there are fewer than
    # 1/max_doc_frac · avg-segments-per-doc of them) — the planner
    # sees a derived frame with no stats and would otherwise shuffle
    # every (id, seg_idx, segment) row by seg_hash, i.e. re-shuffle
    # the entire corpus TEXT for an anti join whose right side is
    # list-sized (round 10, guide §3.1/§2.3: shuffle keys, not
    # payloads).
    #
    # Bound this forced broadcast assumes (round-11, r10 ADVICE): the
    # strike list is < segments_per_doc / max_doc_frac KEYS (8 bytes
    # each — seg_hash only, never segment text). At the default
    # max_doc_frac=0.5 that is ~2·segments_per_doc rows (KBs). The
    # bound degrades as 1/max_doc_frac: at max_doc_frac=1e-4 and
    # ~100 segments/doc it allows ~1e6 keys ≈ 16 MB broadcast —
    # still fine; a pathological caller passing max_doc_frac ≈ 1e-7
    # on a billion-segment corpus is asking for a ~GB broadcast and
    # should pre-aggregate instead. The forced hint is correct for
    # every realistic boilerplate threshold (the operator's purpose
    # is "segments appearing in a sizable FRACTION of docs").
    kept = segs.join(F.broadcast(docfreq), "seg_hash", "left_anti")
    return (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("seg_idx", "segment"))
                    ),
                    lambda s: s["segment"],
                ),
                " ",
            ).alias("clean_text"),
            F.count("*").alias("n_kept"),
            F.max("__n_total").alias("_n_total"),
        )
        .select(
            id_col,
            "clean_text",
            "n_kept",
            (F.col("_n_total") - F.col("n_kept")).alias("n_removed"),
        )
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into overlapping token windows — the
    context-window chunking step feeding training/embedding: chunk i
    covers tokens [i·step, i·step + chunk_tokens) with
    step = chunk_tokens − overlap. Every document yields ≥1 chunk.

    Returns (id, chunk_idx, chunk_text, chunk_n_tokens).

    Narrow plan: tokenize + sequence + slice are all per-row JVM
    expressions — NO shuffle at all; the fan-out rides the scan and
    downstream operators see pre-partitioned chunks. (Token unit =
    whitespace word, same as pack_sequences; swap the splitter for a
    real tokenizer UDF without touching the window arithmetic.)"""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    from pipeline_dataengineer_spark.catalog import scale_out

    step = chunk_tokens - overlap
    words = F.split(F.col(text_col), r"\s+")
    n = F.size(words)
    n_chunks = F.greatest(
        F.lit(1), F.ceil((n - F.lit(overlap)) / F.lit(step)).cast("int")
    )
    chunk = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.alias("idx"),
            F.array_join(
                F.slice(words, i * step + 1, chunk_tokens), " "
            ).alias("txt"),
            F.least(
                F.lit(chunk_tokens), n - i * step
            ).cast("long").alias("ntok"),
        ),
    )
    return scale_out(df.select(id_col, text_col)).select(
        id_col, F.explode(chunk).alias("_c")
    ).select(
        id_col,
        F.col("_c.idx").cast("long").alias("chunk_idx"),
        F.col("_c.txt").alias("chunk_text"),
        F.col("_c.ntok").alias("chunk_n_tokens"),
    )


def mixture_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    weights: dict[str, float],
    buckets: int = 1_000_000,
) -> DataFrame:
    """Training-mixture construction: keep a per-stratum fraction of
    rows (e.g. {"web": 0.3, "code": 1.0, "forums": 0.6}), chosen by
    the deterministic Lehmer key hash — membership is stable across
    runs, engines, and repartitioning, so a rebuilt corpus reproduces
    the same mixture. Strata absent from ``weights`` are dropped
    (explicit budget: what is not weighted is not trained on).

    Plan: a narrow CASE + hash filter riding the scan — NO shuffle,
    NO sampling pass; at 100 TB the mixture costs a predicate."""
    from pipeline_dataengineer_spark.operators.sampling import portable_bucket

    for s, frac in weights.items():
        if not 0.0 <= frac <= 1.0:
            raise ValueError(f"weight for {s!r} must be in [0,1], got {frac}")
    b = portable_bucket(key_col, buckets)
    threshold = None
    for s, frac in weights.items():
        cond = F.when(F.col(strata_col) == s, F.lit(int(frac * buckets)))
        threshold = cond if threshold is None else threshold.when(
            F.col(strata_col) == s, F.lit(int(frac * buckets))
        )
    threshold = threshold.otherwise(F.lit(0))
    return df.filter(b < threshold)


def cap_per_key(
    df: DataFrame,
    key_cols: list[str],
    max_rows: int,
    order_col: str | Column,
    descending: bool = False,
) -> DataFrame:
    """Keep at most ``max_rows`` rows per key, chosen by ``order_col``
    (the web-corpus "cap documents per domain" rule — unbounded hosts
    like link farms otherwise dominate the token budget).

    One shuffle on the key, rank inside the partition, filter. The
    order column makes the cap DETERMINISTIC — capping by arrival
    order would silently change membership on every re-run/layout
    (same reason dedup_last_wins takes an explicit order). Skewed
    keys (the very domains being capped) are split by AQE skew
    handling; the filter drops their tail before anything downstream
    shuffles again."""
    oc = F.col(order_col) if isinstance(order_col, str) else order_col
    w = Window.partitionBy(*key_cols).orderBy(oc.desc() if descending else oc.asc())
    return (
        df.withColumn("__rank", F.row_number().over(w))
        .filter(F.col("__rank") <= max_rows)
        .drop("__rank")
    )


def split_sentences(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, sent_idx, sentence): regex sentence segmentation —
    maximal runs of non-terminator text plus their trailing ``.!?``
    run ("..." stays with its sentence), a trailing fragment without
    a terminator kept as the last sentence. Pure codegen
    (regexp_extract_all + posexplode, RE2-portable pattern — no
    lookbehind), NO shuffle: sentences are born co-located with
    their document. Empty docs yield no rows."""
    sents = F.expr(
        f"regexp_extract_all({text_col}, '[^.!?]+[.!?]+|[^.!?]+$', 0)"
    )
    return (
        df.select(id_col, F.posexplode(sents).alias("sent_idx", "__raw"))
        .select(
            id_col,
            "sent_idx",
            F.trim(F.col("__raw")).alias("sentence"),
        )
        .filter(F.col("sentence") != "")
    )


def sentence_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_chars: int = 200,
) -> DataFrame:
    """Sentence-aware chunking for retrieval/embedding: sentences are
    packed in order into chunks, a new chunk starting at the first
    sentence whose predecessors' cumulative length crosses the next
    ``max_chars`` budget multiple — so chunks never split a sentence
    and overshoot the budget by at most one sentence. Deterministic
    and engine-replayable (a pure cumsum rule, unlike true greedy
    packing whose boundary recursion SQL cannot express).

    Returns (id, chunk_id, chunk_text, n_sentences, n_chars).
    Scale shape: one shuffle on the document key for the ordered
    cumsum; the chunk aggregate reuses the same key prefix. Per-doc
    state is the document's own sentences — no global ordering."""
    s = split_sentences(df, id_col, text_col)
    w = (
        Window.partitionBy(id_col)
        .orderBy("sent_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    with_chunk = s.withColumn(
        "chunk_id",
        F.floor(
            F.coalesce(
                F.sum(F.length("sentence") + 1).over(w), F.lit(0)
            )
            / max_chars
        ).cast("int"),
    )
    ordered = F.transform(
        F.sort_array(
            F.collect_list(F.struct("sent_idx", "sentence"))
        ),
        lambda x: x["sentence"],
    )
    return with_chunk.groupBy(id_col, "chunk_id").agg(
        F.array_join(ordered, " ").alias("chunk_text"),
        F.count("*").alias("n_sentences"),
        F.sum(F.length("sentence") + 1).alias("n_chars"),
    )


def dedupe_repeated_segments(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    words_per_segment: int = 10,
) -> DataFrame:
    """WITHIN-document repetition removal — the generation-loop /
    copy-paste cleanup (``remove_boilerplate_segments``'s sibling:
    that one strikes segments common ACROSS documents; this one keeps
    only the FIRST occurrence of each segment inside a single
    document). Text splits into fixed-width word segments; a repeated
    segment's later occurrences are dropped; survivors reassemble in
    order. Returns (id, clean_text, n_kept, n_removed).

    Scale shape: segmentization is the same JVM explode; "first
    occurrence per (doc, segment)" is a min-position aggregate per
    (doc, segment-hash) — map-side combinable, the shuffle key is the
    doc+8-byte-hash pair, never the segment text twice — and
    reassembly is the ordered-struct sort_array groupBy. Everything
    partitions by the document key: NO cross-document state at all,
    so the operator scales with the widest single document, not the
    corpus."""
    from pipeline_dataengineer_spark.catalog import scale_out

    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    w = int(words_per_segment)
    segs = F.expr(
        f"transform(sequence(0, cast((size(__toks) - 1) / {w} as int)), "
        f"i -> array_join(slice(__toks, i * {w} + 1, {w}), ' '))"
    )
    seg_rows = (
        scale_out(df.select(id_col, text_col))
        .select(id_col, toks.alias("__toks"))
        .filter(F.size("__toks") > 0)
        .select(id_col, F.posexplode(segs).alias("__pos", "__seg"))
        .filter(F.col("__seg") != "")
    )
    first = seg_rows.groupBy(
        id_col, F.xxhash64("__seg").alias("__h")
    ).agg(
        F.min("__pos").alias("__pos"),
        F.count("*").alias("__n"),
        F.first("__seg").alias("__seg"),
    )
    ordered = F.transform(
        F.sort_array(F.collect_list(F.struct("__pos", "__seg"))),
        lambda x: x["__seg"],
    )
    return first.groupBy(id_col).agg(
        F.array_join(ordered, " ").alias("clean_text"),
        F.count("*").alias("n_kept"),
        F.sum(F.col("__n") - 1).alias("n_removed"),
    )


def token_budget_sample(
    df: DataFrame,
    strata_col: str,
    token_count_col: str,
    budgets: dict[str, int],
    key_col: str | None = None,
) -> DataFrame:
    """Mixture construction by TOKEN budget, not document count — the
    unit LLM pretraining actually allocates (a 100-doc forum stratum
    and a 100-doc book stratum are wildly different token masses).
    Per stratum, documents are taken in deterministic
    portable-scramble order until the cumulative token count reaches
    the stratum's budget; the document that CROSSES the boundary is
    kept (budgets are floors-until-crossed, so a budget smaller than
    the first doc still yields one doc, never zero). Strata absent
    from ``budgets`` are dropped — same explicit-budget stance as
    ``mixture_sample``.

    Scale shape: ONE shuffle (the per-stratum cumulative-sum window);
    the scramble order makes membership stable across runs, engines
    and layouts, and the running sum never needs a global sort —
    each stratum's window is independent. Skew note: strata ARE the
    window partitions; a single giant stratum bounds the task, which
    is the same bound the mixture itself imposes downstream."""
    from pipeline_dataengineer_spark.operators.sampling import (
        portable_scramble,
    )

    if not budgets:
        raise ValueError(
            "token_budget_sample: budgets is empty — every stratum "
            "would be dropped; pass at least one {stratum: budget}"
        )
    key = key_col or df.columns[0]
    budget = None
    for s, b in budgets.items():
        if b < 1:
            # a 0 budget would contradict the boundary-crossing
            # contract below (first doc kept); omit the stratum
            # instead of budgeting it at zero
            raise ValueError(f"budget for {s!r} must be >= 1, got {b}")
        cond = F.when(F.col(strata_col) == s, F.lit(int(b)))
        budget = cond if budget is None else budget.when(
            F.col(strata_col) == s, F.lit(int(b))
        )
    budget = budget.otherwise(F.lit(-1))
    w = (
        Window.partitionBy(strata_col)
        .orderBy(portable_scramble(key), F.col(key))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(F.col(token_count_col).cast("long")).over(w)
    return (
        df.withColumn("__budget", budget)
        .withColumn("__cum", cum)
        .filter(
            (F.col("__budget") >= 0)
            & (
                F.col("__cum") - F.col(token_count_col).cast("long")
                < F.col("__budget")
            )
        )
        .drop("__budget", "__cum")
    )


def dsir_importance_weights(
    raw: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 10_000,
    alpha: float = 0.5,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw doc
    by how target-like its hashed-unigram distribution is,

        log w(doc) = Σ_tokens log p_target(bucket(token))
                               − log p_raw(bucket(token))

    with bucket = hash(token) mod n_buckets and add-alpha smoothing
    on both bucket multinomials. Returns (id, n_tokens, log_w) —
    feed to ``dsir_sample`` (or any thresholding policy).

    Scale shape: each corpus contributes ONE combinable bucket-count
    aggregate (n_buckets rows — a config constant); the log-ratio
    table broadcasts; per-doc scoring is one explode + broadcast
    join + doc-sum (a single key shuffle on the doc id). The target
    corpus is typically tiny (the domain you wish you had more of) —
    it is never joined row-to-row against raw."""
    def bucket_counts(df: DataFrame) -> DataFrame:
        return (
            df.select(
                F.explode(
                    F.filter(
                        F.split(F.col(text_col), r"\s+"), lambda x: x != ""
                    )
                ).alias("__tok")
            )
            .select(
                F.pmod(F.xxhash64("__tok"), F.lit(n_buckets)).alias("__b")
            )
            .groupBy("__b")
            .agg(F.count("*").alias("__n"))
        )

    tc = bucket_counts(target)
    rc = bucket_counts(raw)
    t_tot = tc.agg(F.sum("__n").alias("__tt"))
    r_tot = rc.agg(F.sum("__n").alias("__rt"))
    # full outer on buckets so unseen-in-one-corpus buckets still get
    # their smoothed probability
    ratio = (
        tc.withColumnRenamed("__n", "__nt")
        .join(rc.withColumnRenamed("__n", "__nr"), "__b", "full_outer")
        .crossJoin(F.broadcast(t_tot))
        .crossJoin(F.broadcast(r_tot))
        .select(
            "__b",
            (
                F.log(
                    (F.coalesce(F.col("__nt"), F.lit(0)) + F.lit(alpha))
                    / (F.col("__tt") + F.lit(alpha * n_buckets))
                )
                - F.log(
                    (F.coalesce(F.col("__nr"), F.lit(0)) + F.lit(alpha))
                    / (F.col("__rt") + F.lit(alpha * n_buckets))
                )
            ).alias("__lr"),
        )
    )
    toks = raw.select(
        F.col(id_col),
        F.explode(
            F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")
        ).alias("__tok"),
    ).select(
        id_col, F.pmod(F.xxhash64("__tok"), F.lit(n_buckets)).alias("__b")
    )
    return (
        toks.join(F.broadcast(ratio), "__b")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("__lr").alias("log_w"),
        )
    )


def dsir_sample(
    raw: DataFrame,
    target: DataFrame,
    n_docs: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 10_000,
    temperature: float = 1.0,
) -> DataFrame:
    """DSIR selection: importance-resample ``n_docs`` docs from
    ``raw`` toward the ``target`` distribution via the Gumbel-top-k
    trick — key(doc) = log_w/temperature + Gumbel(u(doc)) with
    u derived from the DETERMINISTIC portable scramble of the doc id
    (reproducible across runs/engines/layouts, no seed plumbing);
    taking the n_docs largest keys IS sampling-without-replacement
    proportional to w^(1/temperature). temperature→0 approaches
    hard top-k by weight; 1.0 is faithful DSIR.

    The cut is a TakeOrderedAndProject-style distributed top-k when
    n_docs is small, never a full sort of raw."""
    from pipeline_dataengineer_spark.operators.sampling import (
        portable_scramble,
    )

    w = dsir_importance_weights(
        raw, target, id_col=id_col, text_col=text_col, n_buckets=n_buckets
    )
    # u in (0,1): scramble yields [0, 2^31); shift by +1 to dodge 0
    u = (portable_scramble(id_col) + F.lit(1.0)) / F.lit(2147483649.0)
    key = F.col("log_w") / F.lit(temperature) - F.log(-F.log(u))
    return (
        w.withColumn("__gumbel_key", key)
        .orderBy(F.col("__gumbel_key").desc(), F.col(id_col).asc())
        .limit(n_docs)
        .select(id_col, "n_tokens", "log_w")
    )


def perplexity_buckets(
    df: DataFrame,
    lm: DataFrame,
    group_col: str | None = None,
    n_buckets: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style corpus partitioning: score every document's
    perplexity against a (bounded, broadcastable) char-trigram LM and
    split each group — typically the language — into equal-frequency
    buckets: head (best), middle, tail (worst) for the classic 3-way
    cut, plain 1..n numbers otherwise. Downstream recipes keep head,
    sample middle, drop tail.

    Output: (id, group?, n_grams, ppl, bucket, bucket_label). Ties on
    (rounded) ppl break by id, so the cut is deterministic and
    engine-replayable. Scale: the scoring join is broadcast (LM ≤
    |charset|³ rows, see train_char_trigram_lm); the only shuffle of
    doc-sized data is the per-group ntile window over the SCORED
    table (id + scalar, no text) — at a million docs per language
    that's the cheapest possible total-order-per-group pass."""
    from pipeline_dataengineer_spark.operators.text_features import (
        perplexity,
    )

    g = [group_col] if group_col else []
    # the group rides the scoring aggregate (functionally dependent
    # on the id) instead of a doc-sized join back (round 10)
    scored = perplexity(
        df, lm, id_col=id_col, text_col=text_col, carry_cols=g
    )
    w = Window.partitionBy(*g).orderBy("ppl", id_col)
    out = scored.withColumn("bucket", F.ntile(n_buckets).over(w))
    label = (
        F.when(F.col("bucket") == 1, "head")
        .when(F.col("bucket") == n_buckets, "tail")
        .otherwise("middle")
        if n_buckets == 3
        else F.concat(F.lit("b"), F.col("bucket").cast("string"))
    )
    return out.withColumn("bucket_label", label)


def pack_concat_chunks(
    df: DataFrame,
    id_col: str,
    len_col: str,
    budget: int,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Pretraining sequence packing, concatenate-and-split: lay the
    documents out in the deterministic total order ``order_cols``
    (default: the id), concatenate their token counts, and cut the
    stream every ``budget`` tokens. Each document emits one row per
    context window it overlaps:

        (id, chunk_id, doc_start, n_tokens, chunk_offset)

    doc_start = first token of this span within the document,
    chunk_offset = where the span begins inside the window. Every
    window except the last is exactly full — the standard "pack then
    mask attention across boundaries" pretraining layout (GPT-style),
    as opposed to greedy no-split packing (``pack_greedy_shards``).

    Siblings: ``packing.pack_sequences`` annotates each doc's START
    window within hash-bucketed independent streams (keyed windows,
    one row per doc); THIS operator lays out ONE global stream and
    emits every (doc, window) overlap span — use it when the
    consumer slices the actual spans rather than replaying offsets.

    Shape: ONE global cumsum (operators/order.py:global_cumsum)
    gives each doc its stream offset; the per-doc window list is a
    ``sequence()`` explode of at most ceil(len/budget)+1 elements.
    Zero-length docs are dropped (they own no tokens)."""
    from pipeline_dataengineer_spark.operators.order import global_cumsum

    order_cols = order_cols or [id_col]
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(len_col).cast("long").alias("__len"),
        *[F.col(c).alias(f"__o{i}") for i, c in enumerate(order_cols)],
    ).filter(F.col("__len") > 0)
    cum = global_cumsum(
        base,
        [f"__o{i}" for i in range(len(order_cols))],
        ["__len"],
        exclusive=True,
        prefix="__start_",
    ).select(
        "__id",
        "__len",
        F.col("__start___len").alias("__start"),
    )
    spans = cum.select(
        "__id",
        "__len",
        "__start",
        F.explode(
            F.sequence(
                F.floor(F.col("__start") / budget),
                F.floor((F.col("__start") + F.col("__len") - 1) / budget),
            )
        ).alias("chunk_id"),
    )
    win_start = F.col("chunk_id") * budget
    doc_start = F.greatest(win_start - F.col("__start"), F.lit(0))
    doc_end = F.least(
        win_start + budget - F.col("__start"), F.col("__len")
    )
    return spans.select(
        F.col("__id").alias(id_col),
        F.col("chunk_id").cast("long").alias("chunk_id"),
        doc_start.cast("long").alias("doc_start"),
        (doc_end - doc_start).cast("long").alias("n_tokens"),
        F.greatest(F.col("__start") - win_start, F.lit(0))
        .cast("long")
        .alias("chunk_offset"),
    )


def pack_greedy_shards(
    df: DataFrame,
    id_col: str,
    len_col: str,
    budget: int,
    order_cols: list[str] | None = None,
    num_shards: int | None = None,
) -> DataFrame:
    """Greedy NO-SPLIT sequence packing (SFT-style — each example must
    stay whole): documents are laid out in ``order_cols`` order and
    greedily appended to the current bin; a doc that would overflow
    ``budget`` starts a new bin. Docs longer than the budget get a
    bin of their own, flagged ``oversize=true`` (the caller truncates
    or drops — packing must not silently do either). Returns
    (id, len, bin_id, bin_offset, oversize).

    Exact greedy packing is inherently sequential (each boundary
    depends on the full prefix), so the distributed form is
    SHARD-LOCAL: the pinned range sort's partitions are packed
    independently and bin_id = shard · 2³² + local bin — exactly how
    production packers shard the corpus. The only deviation from a
    single sequential pass is ≤ one underfilled bin per shard
    boundary (negligible at corpus scale, bounded and deterministic
    for a given ``num_shards``); set ``num_shards=1`` for the exact
    sequential layout on evaluation-sized data."""
    import pandas as pd

    from pyspark.sql import types as T

    from pipeline_dataengineer_spark.operators.order import (
        _pinned_range_sort,
    )

    order_cols = order_cols or [id_col]
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(len_col).cast("long").alias("__len"),
        *[F.col(c).alias(f"__o{i}") for i, c in enumerate(order_cols)],
    ).filter(F.col("__len") > 0)
    pinned = _pinned_range_sort(
        base,
        [f"__o{i}" for i in range(len(order_cols))],
        num_shards,
    )
    schema_out = T.StructType(
        [
            T.StructField("__id", pinned.schema["__id"].dataType),
            T.StructField("__len", T.LongType()),
            T.StructField("bin_id", T.LongType()),
            T.StructField("bin_offset", T.LongType()),
            T.StructField("oversize", T.BooleanType()),
        ]
    )

    def pack(batches):
        local_bin, used, pid = 0, 0, None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if pid is None:
                pid = int(pdf["__pid"].iloc[0])
            ids, lens = pdf["__id"].tolist(), pdf["__len"].tolist()
            out = {
                "__id": ids,
                "__len": lens,
                "bin_id": [],
                "bin_offset": [],
                "oversize": [],
            }
            for ln in lens:
                if used > 0 and used + ln > budget:
                    local_bin += 1
                    used = 0
                out["bin_id"].append((pid << 32) + local_bin)
                out["bin_offset"].append(used)
                out["oversize"].append(ln > budget)
                used += ln
                if used >= budget:
                    local_bin += 1
                    used = 0
            yield pd.DataFrame(out)

    return pinned.mapInPandas(pack, schema_out).select(
        F.col("__id").alias(id_col),
        F.col("__len").alias(len_col),
        "bin_id",
        "bin_offset",
        "oversize",
    )


def vocab_overlap(
    df: DataFrame,
    group_col: str,
    text_col: str,
    min_token_len: int = 1,
    round_to: int = 6,
) -> DataFrame:
    """Pairwise vocabulary overlap between corpus slices (sources,
    languages, time buckets) — the cheap first look at "how similar
    are these subcorpora" before anything embedding-based:

        jaccard(A, B) = |V_A ∩ V_B| / |V_A ∪ V_B|
        containment(A in B) = |V_A ∩ V_B| / |V_A|

    over each slice's distinct lowercase whitespace-token set.
    Returns one row per unordered slice pair (group_a < group_b):
    (group_a, group_b, vocab_a, vocab_b, common, jaccard,
    containment_a_in_b, containment_b_in_a).

    Shape: ONE distinct over (slice, token) — a combinable hash agg —
    then the intersection is a token-keyed equi self-join of the
    (slice, token) table (vocabulary-sized, not corpus-sized) and
    everything after is |slices|²-sized. No window, no Python, no
    quadratic blowup beyond the slice-pair count."""
    toks = (
        df.select(
            F.col(group_col).alias("__g"),
            F.explode(
                F.split(
                    F.lower(F.coalesce(F.col(text_col), F.lit(""))),
                    r"\s+",
                )
            ).alias("__t"),
        )
        .filter(F.length("__t") >= min_token_len)
        .distinct()
    )
    sizes = toks.groupBy("__g").agg(F.count(F.lit(1)).alias("__v"))
    a, b = toks.alias("a"), toks.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.__t") == F.col("b.__t"))
            & (F.col("a.__g") < F.col("b.__g")),
        )
        .groupBy(
            F.col("a.__g").alias("group_a"),
            F.col("b.__g").alias("group_b"),
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(
        F.col("__g").alias("group_a"), F.col("__v").alias("vocab_a")
    )
    sb = sizes.select(
        F.col("__g").alias("group_b"), F.col("__v").alias("vocab_b")
    )
    out = common.join(F.broadcast(sa), "group_a").join(
        F.broadcast(sb), "group_b"
    )
    union = F.col("vocab_a") + F.col("vocab_b") - F.col("common")
    return out.select(
        "group_a",
        "group_b",
        F.col("vocab_a").cast("long").alias("vocab_a"),
        F.col("vocab_b").cast("long").alias("vocab_b"),
        F.col("common").cast("long").alias("common"),
        F.round(
            F.try_divide(F.col("common").cast("double"), union),
            round_to,
        ).alias("jaccard"),
        F.round(
            F.try_divide(
                F.col("common").cast("double"), F.col("vocab_a")
            ),
            round_to,
        ).alias("containment_a_in_b"),
        F.round(
            F.try_divide(
                F.col("common").cast("double"), F.col("vocab_b")
            ),
            round_to,
        ).alias("containment_b_in_a"),
    )


def fim_transform(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    fim_rate: float = 0.5,
    spm: bool = False,
    pre_token: str = "<PRE>",
    mid_token: str = "<MID>",
    suf_token: str = "<SUF>",
) -> DataFrame:
    """Fill-in-the-middle pretraining transform (Bavarian et al.
    2022 — the standard infilling augmentation for code/text models):
    for a deterministic ``fim_rate`` fraction of documents, pick two
    character positions, call the three pieces (prefix, middle,
    suffix), and emit the sentinel-delimited reordering the model
    trains on — PSM ``<PRE>p<SUF>s<MID>m`` by default, SPM
    ``<PRE><SUF>s<MID>p m``-style when ``spm=True`` (the paper's two
    modes). Untransformed docs pass through verbatim with
    ``fim_applied=false``, so the output is a drop-in corpus column.

    Determinism contract (same as sampling.py): WHICH docs transform
    and WHERE they split derive from the non-linear
    ``portable_scramble`` of the id — reruns, repartitions and other
    engines agree bit-for-bit, which is what makes this oracle-able.
    Pure Column arithmetic (substring/concat riding the scan — no
    UDF, no shuffle, no join): the transform adds zero stages to
    whatever plan consumes it.

    Output: input columns + (fim_applied, split_lo, split_hi,
    fim_text). split points are 0-based character offsets with
    0 ≤ lo ≤ hi ≤ length(text); empty/NULL text never transforms."""
    from pipeline_dataengineer_spark.operators.sampling import (
        portable_scramble,
    )

    _B = 1_000_000
    key = F.col(id_col).cast("long")
    n = F.length(F.col(text_col))
    gate = (
        F.pmod(portable_scramble(key), F.lit(_B))
        < F.lit(int(fim_rate * _B))
    ) & F.col(text_col).isNotNull() & (n > 0)
    p1 = F.pmod(portable_scramble(key * 2 + 1), n + 1)
    p2 = F.pmod(portable_scramble(key * 2 + 2), n + 1)
    lo = F.least(p1, p2)
    hi = F.greatest(p1, p2)
    prefix = F.substring(F.col(text_col), 1, lo)
    middle = F.substring(F.col(text_col), lo + 1, hi - lo)
    suffix = F.substring(F.col(text_col), hi + 1, n - hi)
    if spm:
        fim = F.concat(
            F.lit(pre_token), F.lit(suf_token), suffix,
            F.lit(mid_token), prefix, middle,
        )
    else:
        fim = F.concat(
            F.lit(pre_token), prefix, F.lit(suf_token), suffix,
            F.lit(mid_token), middle,
        )
    return df.select(
        "*",
        gate.alias("fim_applied"),
        F.when(gate, lo.cast("long")).alias("split_lo"),
        F.when(gate, hi.cast("long")).alias("split_hi"),
        F.when(gate, fim).otherwise(F.col(text_col)).alias("fim_text"),
    )


def span_corruption(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_spans: int = 3,
    mask_ratio: float = 0.15,
    sentinel: str = "<extra_id_{i}>",
) -> DataFrame:
    """T5/UL2-style span-corruption transform (Raffel et al. 2020 —
    the standard denoising pretraining objective): mask ``n_spans``
    character spans per document and emit the sentinel-delimited
    (corrupted_text, targets) pair the model trains on —
    ``targets = <extra_id_0>span0<extra_id_1>span1...``.

    Deterministic, non-overlapping by construction: the document is
    cut into ``n_spans`` equal segments; within segment i the span's
    length is round(mask_ratio · segment) and its offset comes from
    the ``portable_scramble`` of (id·n_spans + i) — so WHERE the
    corruption lands is a pure function of the id (layout- and
    engine-independent, hash-checkable) and spans can never collide.
    Documents shorter than ``n_spans`` characters pass through with
    ``corrupted = text`` and empty targets.

    Pure Column arithmetic (a fixed 2·n_spans-substring concat chain
    riding the scan — linear expression, codegen-safe; no UDF, no
    shuffle). Output: input columns + (corrupted, targets,
    span_starts, span_len)."""
    from pipeline_dataengineer_spark.operators.sampling import (
        portable_scramble,
    )

    key = F.col(id_col).cast("long")
    n = F.length(F.col(text_col))
    seg = F.floor(n / n_spans).cast("int")
    span_len = F.round(seg * mask_ratio).cast("int")
    ok = F.col(text_col).isNotNull() & (seg > 0) & (span_len > 0)
    starts = []
    for i in range(n_spans):
        off = F.pmod(
            portable_scramble(key * n_spans + i),
            seg - span_len + 1,
        )
        starts.append((F.lit(i) * seg + off).cast("int"))
    corrupted_parts = []
    target_parts = []
    prev_end = F.lit(0).cast("int")
    for i, st in enumerate(starts):
        tok = F.lit(sentinel.format(i=i))
        corrupted_parts.append(
            F.substring(F.col(text_col), prev_end + 1, st - prev_end)
        )
        corrupted_parts.append(tok)
        target_parts.append(tok)
        target_parts.append(
            F.substring(F.col(text_col), st + 1, span_len)
        )
        prev_end = st + span_len
    corrupted_parts.append(
        F.substring(F.col(text_col), prev_end + 1, n - prev_end)
    )
    return df.select(
        "*",
        F.when(ok, F.concat(*corrupted_parts))
        .otherwise(F.col(text_col))
        .alias("corrupted"),
        F.when(ok, F.concat(*target_parts))
        .otherwise(F.lit(""))
        .alias("targets"),
        F.when(ok, F.array(*[s.cast("long") for s in starts])).alias(
            "span_starts"
        ),
        F.when(ok, span_len.cast("long")).alias("span_len"),
    )


def mixture_epochs(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    epochs: dict[str, float],
    buckets: int = 1_000_000,
) -> DataFrame:
    """Multi-epoch mixture materialization — the other half of the
    data recipe that ``mixture_sample`` (fractions ≤ 1) cannot
    express: real pretraining recipes REPEAT their high-quality
    strata (e.g. {"wiki": 2.7, "books": 1.0, "web": 0.3}). Each
    document is replicated floor(e) times, plus one more copy iff its
    deterministic scramble draw falls under frac(e) — so a stratum
    with e=2.7 contributes every doc twice and a stable 70% of docs a
    third time, giving exactly e× the stratum's tokens in
    expectation with zero RNG (reruns, engines and layouts agree).
    Strata absent from ``epochs`` are dropped (explicit budget, same
    stance as mixture_sample). Fractions below 1 degrade to plain
    deterministic subsampling (floor 0 + the fractional draw).

    Output: input columns + ``epoch`` (1-based copy index) — packers
    downstream shuffle on (key, epoch) so repeated copies land in
    different contexts. Plan: a CASE threshold + ONE explode of a
    ≤ ceil(e)-element sequence riding the scan; no shuffle, no join."""
    from pipeline_dataengineer_spark.operators.sampling import (
        portable_scramble,
    )

    import math as _math

    for s, e in epochs.items():
        if e < 0:
            raise ValueError(f"epochs for {s!r} must be >= 0, got {e}")
    full = None
    thresh = None
    for s, e in epochs.items():
        fl = int(_math.floor(e))
        fr = int(round((e - fl) * buckets))
        c = F.col(strata_col) == s
        full = (
            F.when(c, F.lit(fl))
            if full is None
            else full.when(c, F.lit(fl))
        )
        thresh = (
            F.when(c, F.lit(fr))
            if thresh is None
            else thresh.when(c, F.lit(fr))
        )
    full = full.otherwise(F.lit(0))
    thresh = thresh.otherwise(F.lit(0))
    in_weights = F.col(strata_col).isin(list(epochs))
    extra = (
        F.pmod(portable_scramble(F.col(key_col)), F.lit(buckets))
        < thresh
    ).cast("int")
    n_copies = F.when(in_weights, full + extra).otherwise(F.lit(0))
    return (
        df.withColumn("__n_copies", n_copies)
        .filter(F.col("__n_copies") > 0)
        .select(
            "*",
            F.explode(
                F.sequence(F.lit(1), F.col("__n_copies"))
            ).alias("epoch"),
        )
        .drop("__n_copies")
    )


def prefix_lm_split(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_frac: float = 0.25,
    max_frac: float = 0.75,
) -> DataFrame:
    """Prefix-LM split (the third standard objective next to FIM and
    span corruption — UL2's S-denoiser): cut each document at a
    deterministic point within [min_frac, max_frac] of its length
    into (context, continuation); the model sees the context
    bidirectionally and continues causally. The cut position comes
    from the portable scramble of the id mapped into the allowed
    band, so reruns/layouts/engines agree. Empty/NULL docs pass
    through with a NULL split. Pure Column arithmetic riding the
    scan — no UDF, no shuffle.

    Output: input columns + (split_pos, context, continuation)."""
    from pipeline_dataengineer_spark.operators.sampling import (
        portable_scramble,
    )

    key = F.col(id_col).cast("long")
    n = F.length(F.col(text_col))
    lo = F.floor(n * min_frac).cast("int")
    hi = F.ceil(n * max_frac).cast("int")
    ok = F.col(text_col).isNotNull() & (n > 1)
    span = F.greatest(hi - lo, F.lit(0)) + 1
    pos = F.least(
        F.greatest(
            (lo + F.pmod(portable_scramble(key), span)).cast("int"),
            F.lit(1),
        ),
        (n - 1).cast("int"),
    )
    return df.select(
        "*",
        F.when(ok, pos.cast("long")).alias("split_pos"),
        F.when(ok, F.substring(F.col(text_col), 1, pos)).alias(
            "context"
        ),
        F.when(
            ok, F.substring(F.col(text_col), pos + 1, n - pos)
        ).alias("continuation"),
    )
