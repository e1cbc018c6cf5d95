"""Tokenizer-training operators: distributed BPE merge learning.

Byte-pair encoding training (Sennrich et al. 2016) is the canonical
tokenizer-fitting job a pretraining pipeline runs over its corpus.
The classic formulation is word-level: pre-tokenize to a (word, freq)
VOCABULARY — corpus-sized text collapses to a bounded symbol-state
table — then iterate: count adjacent symbol pairs weighted by word
frequency, merge the most frequent pair everywhere, repeat.

This implementation keeps that structure Spark-shaped:

  * the only corpus-scale pass is the word-frequency aggregate (one
    explode + one shuffle); everything after runs on the vocab table;
  * each round is ONE pair-count aggregate + a 1-row argmax broadcast
    + a narrow fold rewriting the symbol arrays — no collect() (the
    winning pair reaches the rewrite as a broadcast column, the
    kmeans packed-model idiom), no windows, no Python in the loop;
  * per-round ``localCheckpoint(eager=True)`` TRUNCATES the logical
    plan, not just the computation: round r's state references round
    r-1 TWICE (directly and through the winner), so plain persist
    leaves a 2^r-node logical tree that OOMs the driver by round 8 —
    the checkpoint replaces it with a constant-size LogicalRDD
    (kmeans gets away with persist because its rounds reference the
    previous state once). Local checkpoints live in executor storage:
    on a real cluster with executor loss, swap for
    ``checkpoint()`` against a reliable dir — same call shape.

Everything is integer/string arithmetic — no floats anywhere — so
fixed-round runs are bit-deterministic and the whole iteration
unrolls into a DuckDB CTE chain (the oracle_sql.kmeans_det_cte recipe,
minus even the quantization caveats).

Determinism contract (both engines): argmax pair by count DESC with
ties to the lexicographically smallest (left, right); merge
application is greedy left-to-right (for a self-pair run like
``aaaa`` the 1st/3rd/... occurrences merge — the even-offset parity
rule), which the fold implements naturally because a just-merged
symbol ``a+b`` can never equal ``a`` again within the round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EOW = "</w>"


def word_vocabulary(
    df: DataFrame,
    text_col: str = "text",
    vocab_cap: int = 5000,
) -> DataFrame:
    """(w, freq) for the ``vocab_cap`` most frequent whitespace words
    (ties to the lexicographically smaller word — deterministic).
    The cap bounds the iteration state; raise it at real scale (BPE
    state is vocab-sized, not corpus-sized, so even web-scale corpora
    fit a few million rows here)."""
    words = df.select(
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("w")
    ).filter(F.col("w") != "")
    return (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "w")
        .limit(vocab_cap)
    )


def _initial_symbols() -> "F.Column":
    """word -> [chars..., EOW]."""
    chars = F.transform(
        F.sequence(F.lit(1), F.length(F.col("w"))),
        lambda i: F.substring(F.col("w"), i, F.lit(1)),
    )
    return F.concat(chars, F.array(F.lit(EOW)))


def bpe_learn_merges(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
    vocab_cap: int = 5000,
) -> DataFrame:
    """Learn the first ``n_merges`` BPE merge rules over the corpus.

    Returns (merge_rank, left_sym, right_sym, pair_count) — the merge
    table a tokenizer would persist, rank 1 = first (most frequent)
    merge. ``pair_count`` is the frequency-weighted adjacency count at
    the time the pair won its round.

    Per-round state lives as eager local checkpoints (executor
    storage, freed with the session); nothing stays in the Spark
    cache, so no clearCache is needed after this operator."""
    vocab = word_vocabulary(df, text_col, vocab_cap)
    prev = vocab.select(
        F.col("w"), _initial_symbols().alias("syms"), F.col("freq")
    ).localCheckpoint(eager=True)

    merge_rows = []
    for r in range(1, n_merges + 1):
        pairs = (
            prev.filter(F.size("syms") >= 2)
            .select(
                F.col("freq"),
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("syms") - 1),
                        lambda i: F.struct(
                            F.element_at(F.col("syms"), i).alias("a"),
                            F.element_at(F.col("syms"), i + F.lit(1)).alias("b"),
                        ),
                    )
                ).alias("p"),
            )
        )
        counts = pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b")).agg(
            F.sum("freq").alias("cnt")
        )
        # argmax by count with ties to the SMALLEST (a, b): min over
        # (-cnt, a, b) struct ordering — one 1-row aggregate
        best = (
            counts.agg(
                F.min(
                    F.struct((-F.col("cnt")).alias("nc"), F.col("a"), F.col("b"))
                ).alias("bp")
            )
            .select(
                F.col("bp.a").alias("_ba"),
                F.col("bp.b").alias("_bb"),
                (-F.col("bp.nc")).alias("_bc"),
            )
            # checkpoint the 1-row winner too: the returned merge table
            # references every round's winner, and each winner is the
            # second plan-tree reference that made plain persist
            # exponential
            .localCheckpoint(eager=True)
        )
        merge_rows.append(
            best.select(
                F.lit(r).alias("merge_rank"),
                F.col("_ba").alias("left_sym"),
                F.col("_bb").alias("right_sym"),
                F.col("_bc").alias("pair_count"),
            )
        )
        merged = F.concat(F.col("_ba"), F.col("_bb"))
        new_syms = F.aggregate(
            F.col("syms"),
            F.slice(F.col("syms"), 1, 0),  # empty array<string>, typed
            lambda acc, s: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.col("_ba"))
                & (s == F.col("_bb")),
                F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
            ).otherwise(F.concat(acc, F.array(s))),
        )
        prev = (
            prev.crossJoin(F.broadcast(best))
            .select(F.col("w"), new_syms.alias("syms"), F.col("freq"))
            .localCheckpoint(eager=True)
        )

    out = merge_rows[0]
    for m in merge_rows[1:]:
        out = out.unionByName(m)
    return out.orderBy("merge_rank")


def bpe_encode(
    df: DataFrame,
    merge_table: DataFrame,
    n_merges: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize the corpus with a learned merge table (the encode side
    of ``bpe_learn_merges``): every DISTINCT word is char-split and
    the merge rules applied greedily in rank order — the classic BPE
    property makes this identical to the training state for vocabulary
    words — then documents reassemble by joining the (tiny,
    broadcastable) per-word encoding back onto word positions.

    ``n_merges`` must match the merge table's row count (the fold
    chain is unrolled statically; the rules reach it as a packed 1-row
    broadcast, no collect). Output per document: ``n_bpe_tokens`` and
    ``tokens_md5`` (md5 of the space-joined symbol stream — pins the
    full tokenization byte-exactly without shipping long outputs).
    Documents with no words emit 0 / md5('').

    Scale shape: one corpus word explode (narrow + one distinct), the
    encode itself runs on DISTINCT words only (vocabulary-sized — at
    100 TB this is the whole point: encode cost is O(vocab), the
    corpus pays one broadcast hash join), and the per-doc reassembly
    is one doc-keyed aggregate with the order-pinned collect."""
    packed = merge_table.agg(
        F.array_sort(
            F.collect_list(F.struct("merge_rank", "left_sym", "right_sym"))
        ).alias("_m")
    ).select(
        # the unrolled fold below indexes rules 1..n_merges; a shorter
        # table would make element_at return NULL and those rounds
        # silently no-op (wrong tokenization) — enforce the "must
        # match" contract JVM-side, no extra job (ADVICE r05)
        F.when(F.size("_m") == F.lit(n_merges), F.col("_m"))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("bpe_encode: merge table carries "),
                    F.size("_m").cast("string"),
                    F.lit(f" rules but n_merges={n_merges} — the unrolled"),
                    F.lit(" fold requires an exact match"),
                )
            )
        )
        .alias("_m")
    )
    from pyspark import StorageLevel

    words = (
        df.select(
            F.col(id_col),
            F.posexplode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("_p", "w"),
        )
        .filter(F.col("w") != "")
        .select(F.col(id_col), (F.col("_p") + 1).alias("wp"), F.col("w"))
        # the word stream feeds the distinct-word encode AND the
        # broadcast join back — pin it so the corpus explodes once
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    def _merge_step(a, b, merged):
        # closure, not lambda defaults: PySpark infers HOF arity from
        # the lambda signature (the functions/hashing.py rule)
        return lambda acc, s: F.when(
            (F.size(acc) > 0) & (F.element_at(acc, -1) == a) & (s == b),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(s)))

    enc = words.select("w").distinct().crossJoin(F.broadcast(packed))
    syms = _initial_symbols()
    for r in range(1, n_merges + 1):
        rule = F.element_at(F.col("_m"), r)
        a, b = rule["left_sym"], rule["right_sym"]
        syms = F.aggregate(
            syms,
            F.slice(F.split(F.lit(""), " "), 1, 0),  # empty array<string>
            _merge_step(a, b, F.concat(a, b)),
        )
    enc = enc.select(F.col("w"), syms.alias("_syms"))
    flat = F.flatten(
        F.transform(
            F.array_sort(F.collect_list(F.struct("wp", "_syms"))),
            lambda s: s["_syms"],
        )
    )
    agg = (
        words.join(F.broadcast(enc), "w")
        .groupBy(id_col)
        .agg(flat.alias("_flat"))
        .select(
            F.col(id_col),
            F.size("_flat").cast("long").alias("n_bpe_tokens"),
            F.md5(F.concat_ws(" ", F.col("_flat"))).alias("tokens_md5"),
        )
    )
    return (
        df.select(id_col)
        .join(agg, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_bpe_tokens"), F.lit(0)).cast("long").alias("n_bpe_tokens"),
            F.coalesce(F.col("tokens_md5"), F.md5(F.lit(""))).alias("tokens_md5"),
        )
    )


# ---------------------------------------------------------------------------
# Unigram-LM segmentation (the SentencePiece-unigram counterpart to BPE)
# ---------------------------------------------------------------------------

UNI_MAX_WORD = 16   # words truncate here; the DP unrolls this many rounds
UNI_MAX_PIECE = 6   # max subword piece length considered
UNI_VOCAB = 512     # top-K pieces kept (plus all single chars — coverage)
UNI_SCALE_BITS = 20


def unigram_lexicon(
    df: DataFrame, text_col: str = "text", word_cap: int = 5000
) -> DataFrame:
    """(w, freq): the top-``word_cap`` truncated words — the ONE
    corpus-scale pass both the vocabulary and the Viterbi DP start
    from (words truncate at ``UNI_MAX_WORD`` chars so the DP's round
    count is statically bounded)."""
    return (
        df.select(F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("_raw"))
        .filter(F.col("_raw") != "")
        .select(F.substring(F.col("_raw"), 1, UNI_MAX_WORD).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "w")
        .limit(word_cap)
    )


def unigram_vocab(
    lexicon: DataFrame,
    vocab_cap: int = UNI_VOCAB,
    max_piece: int = UNI_MAX_PIECE,
) -> DataFrame:
    """(piece, cnt, score_q): the unigram-LM piece vocabulary — every
    substring (length ≤ ``max_piece``) of the lexicon's words
    (``unigram_lexicon`` output), frequency-weighted, capped to the ``vocab_cap`` best by
    (count, piece) PLUS every single character seen (so any lexicon
    word is always segmentable). ``score_q`` = floor(2^bits·ln(cnt/N))
    over the FINAL vocabulary's total — quantized at the leaf per the
    round-5 transcendental rule, so downstream Viterbi sums are exact
    integers.

    This is the frequency-seeded initialization of the SentencePiece
    unigram model (Kudo 2018); full EM re-estimation would iterate
    E-step expected counts — the seed vocabulary is already the
    operative tokenizer for segmentation purposes and keeps every
    step differentially testable.

    Scale shape: the only corpus pass is the word-frequency aggregate;
    candidate generation explodes the CAPPED lexicon (≤ word_cap ×
    ~16·max_piece rows) and everything after is K-row."""
    words = lexicon
    spans = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.length("w")),
            lambda j: F.transform(
                F.sequence(
                    F.lit(1), F.least(F.lit(max_piece), F.length("w") - j + 1)
                ),
                lambda l: F.substring(F.col("w"), j, l),
            ),
        )
    )
    cand = (
        words.select(F.col("freq"), F.explode(spans).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("freq").cast("long").alias("cnt"))
    )
    from pyspark import StorageLevel

    # cand feeds the top-K selection AND the single-char fallback —
    # pin it (round-5 lesson d). Lexicon-sized, trivially cached;
    # callers compose via spark.catalog.clearCache() when done.
    cand = cand.persist(StorageLevel.MEMORY_AND_DISK)
    topv = cand.orderBy(F.desc("cnt"), "piece").limit(vocab_cap)
    chars = cand.filter(F.length("piece") == 1)
    vocab = topv.unionByName(chars).groupBy("piece").agg(
        F.max("cnt").alias("cnt")  # duplicates carry identical counts
    )
    total = vocab.agg(F.sum("cnt").cast("long").alias("_n"))
    scale = float(1 << UNI_SCALE_BITS)
    return vocab.crossJoin(F.broadcast(total)).select(
        "piece",
        "cnt",
        F.floor(
            F.lit(scale)
            * F.log(F.col("cnt").cast("double") / F.col("_n").cast("double"))
        )
        .cast("long")
        .alias("score_q"),
    )


def unigram_viterbi_segment(
    df: DataFrame,
    text_col: str = "text",
    vocab_cap: int = UNI_VOCAB,
    max_piece: int = UNI_MAX_PIECE,
    word_cap: int = 5000,
) -> DataFrame:
    """Viterbi-segment every lexicon word under the unigram-LM piece
    vocabulary: per word, the piece sequence maximizing Σ score_q.

    The DP runs over DISTINCT WORDS (lexicon-sized — the bpe_encode
    insight: at 100 TB the corpus never enters the loop; documents
    reassemble later with one broadcast join, exactly as bpe_encode
    does). Words are bounded at ``UNI_MAX_WORD`` chars, so the
    position recurrence unrolls STATICALLY into ≤16 rounds of
    (≤ max_piece broadcast-joined candidate branches → one per-word
    integer argmax) — no Python in the loop, no windows, every score
    an exact BIGINT, ties broken to the larger split position (the
    shorter final piece) then implied uniquely.

    Per-round ``localCheckpoint(eager=True)``: round state is
    referenced by up to ``max_piece`` later rounds AND the final
    union — the multi-reference shape that makes plain persist carry
    an exponential logical plan (the BPE lesson in this module's
    docstring).

    Output: (w, wlen, n_pieces, score_q, segmentation) — segmentation
    is the space-joined piece list (words contain no spaces).
    """
    # ONE corpus pass, no checkpoint (round 13 audit, VERDICT r12 item
    # 7): with the DP a single narrow projection, lex is referenced
    # exactly twice (vocab chain + DP words) and AQE's stage cache
    # reuses the lexicon aggregate's shuffle stage across both
    # references (verified: every ShuffleQueryStage in the executed
    # plan is id 0), so the corpus-scale pass still runs ONCE at any
    # scale; only lexicon-scale post-shuffle work duplicates. Measured
    # (interleaved, 4 draws): checkpoint 1.078s/15 jobs vs none
    # 0.881s/12 jobs — the eager checkpoint materialization was pure
    # overhead here. unigram_em_refit keeps its three checkpoints: the
    # same audit measured vocab1's as strongly load-bearing (2.32s
    # without vs 1.67s with) and lex/usage as mildly positive.
    lex = unigram_lexicon(df, text_col, word_cap)
    vocab = unigram_vocab(lex, vocab_cap, max_piece)
    words = lex.select("w", F.length("w").alias("wlen"))
    # the single-stage DP needs no round trim (each word folds exactly
    # wlen steps), so the old max-wlen collect job is gone too
    return _viterbi_dp(words, vocab, max_piece, UNI_MAX_WORD)


def _viterbi_dp(
    words: DataFrame, vocab: DataFrame, max_piece: int, n_rounds: int
) -> DataFrame:
    """The per-word Viterbi DP over a (piece, score_q) vocabulary —
    shared by the seed segmentation and the EM refit (same recurrence,
    different scores). ``words``: (w, wlen).

    Single-stage form (optimization round 12, guide §1.2/§2.4): the
    original unrolled 16 ROUNDS of (≤max_piece-way union → broadcast
    vocab join → per-word struct argmax), each round an eager
    ``localCheckpoint`` — i.e. 16 sequential Spark jobs with a shuffle
    apiece, all to advance a DP whose state is PER-WORD and at most
    ``UNI_MAX_WORD`` structs wide. Here the vocabulary packs into a
    ONE-row broadcast map (piece → score_q, the pack_centroids idiom)
    and the whole recurrence runs inside one narrow projection via
    ``F.aggregate`` over positions 1..wlen: per position the ≤max_piece
    candidate splits are scored with map lookups and reduced with
    ``array_max`` over (total, j, n2, path2) structs — the EXACT
    argmax key, tie-break, and integer arithmetic of the round form
    (and of both DuckDB oracles, which replay the unrolled rounds:
    ROW_NUMBER() OVER (ORDER BY total DESC, j DESC)). Unreachable
    prefixes (a piece absent from the vocabulary) carry ok=false
    sentinels and are dropped at the end, exactly like the old inner
    join dropped them.

    Plan shape: 17 sequential shuffle jobs → ZERO extra jobs — one
    Exchange total in the gated query (the lexicon aggregate), the DP
    itself fused into the post-aggregate projection. At 100 TB the
    win is structural: no 16 global barriers, no executor-storage
    checkpoints to lose, and the corpus-scale pass count is unchanged
    (still exactly one — the lexicon)."""
    neg = F.lit(-(1 << 62)).cast("long")
    vm = vocab.agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("piece"), F.col("score_q")))
        ).alias("_vm")
    )

    def _step(acc, r):
        # acc: array of per-position states 0..r-1 (element_at 1-based);
        # r: current end position (int column from the sequence)
        def _cand(j):
            piece = F.substring(F.col("w"), j + 1, r - j)
            prev = F.element_at(acc, j + 1)
            sq = F.element_at(F.col("_vm"), piece)
            return F.struct(
                (prev["score"] + sq).alias("total"),
                j.alias("j"),
                (prev["n"] + F.lit(1).cast("long")).alias("n2"),
                F.when(prev["path"] == "", piece)
                .otherwise(F.concat(prev["path"], F.lit(" "), piece))
                .alias("path2"),
                (prev["ok"] & sq.isNotNull()).alias("ok"),
            )

        cands = F.transform(
            F.sequence(F.greatest(F.lit(0), r - F.lit(max_piece)), r - F.lit(1)),
            _cand,
        )
        valid = F.filter(cands, lambda c: c["ok"])
        best = F.array_max(valid)
        nxt = F.when(
            F.size(valid) > 0,
            F.struct(
                best["total"].alias("score"),
                best["n2"].alias("n"),
                best["path2"].alias("path"),
                F.lit(True).alias("ok"),
            ),
        ).otherwise(
            F.struct(
                neg.alias("score"),
                F.lit(0).cast("long").alias("n"),
                F.lit("").alias("path"),
                F.lit(False).alias("ok"),
            )
        )
        return F.concat(acc, F.array(nxt))

    init = F.array(
        F.struct(
            F.lit(0).cast("long").alias("score"),
            F.lit(0).cast("long").alias("n"),
            F.lit("").alias("path"),
            F.lit(True).alias("ok"),
        )
    )
    fin = F.element_at(F.col("_st"), F.col("wlen") + 1)
    return (
        words.crossJoin(F.broadcast(vm))
        .filter((F.col("wlen") >= 1) & (F.col("wlen") <= n_rounds))  # parity with the round form
        .withColumn(
            "_st", F.aggregate(F.sequence(F.lit(1), F.col("wlen")), init, _step)
        )
        .filter(fin["ok"])
        .select(
            "w",
            "wlen",
            fin["n"].alias("n_pieces"),
            fin["score"].alias("score_q"),
            fin["path"].alias("segmentation"),
        )
    )


def unigram_em_refit(
    df: DataFrame,
    text_col: str = "text",
    vocab_cap: int = UNI_VOCAB,
    max_piece: int = UNI_MAX_PIECE,
    word_cap: int = 5000,
) -> DataFrame:
    """ONE hard-EM (Viterbi-EM) round on top of the frequency seed —
    the re-estimation step the SentencePiece unigram trainer iterates:

    * E-step (hard): segment the lexicon under the current scores
      (``_viterbi_dp``) and count PIECE USAGE, frequency-weighted —
      Σ_w freq(w) · (occurrences of the piece in w's best split);
    * M-step: re-score every vocabulary piece from its usage with
      Laplace smoothing, ``floor(2^bits·ln((used+1)/(total+V)))`` —
      quantized at the leaf like every ln in this engine;
    * re-segment under the refit scores.

    Hard EM (not soft posteriors) keeps every step integer-exact and
    therefore differentially testable — the deterministic member of
    the EM family, and the reason this is oracle-gateable at all.
    Pieces the seed segmentation never uses crash toward the floor
    score and stop winning ties — the self-pruning behavior the full
    trainer relies on. Cost: exactly 2× the single Viterbi pass; both
    DP chains share the lexicon/trim machinery.

    Output: the REFIT segmentation (w, wlen, n_pieces, score_q,
    segmentation), score_q now under the usage-based model.
    """
    lex = unigram_lexicon(df, text_col, word_cap).localCheckpoint(eager=True)
    vocab1 = unigram_vocab(lex, vocab_cap, max_piece).localCheckpoint(eager=True)
    words = lex.select("w", F.length("w").alias("wlen"))
    # seg1 is referenced exactly once (the usage count) and is now a
    # single narrow projection — no checkpoint, no max-wlen collect
    seg1 = _viterbi_dp(words, vocab1, max_piece, UNI_MAX_WORD)
    usage = (
        seg1.join(lex, "w")
        .select(
            F.col("freq"),
            F.explode(F.split(F.col("segmentation"), " ")).alias("piece"),
        )
        .groupBy("piece")
        .agg(F.sum("freq").cast("long").alias("used"))
        .localCheckpoint(eager=True)
    )
    tu = usage.agg(F.sum("used").cast("long").alias("tu"))
    vsz = vocab1.agg(F.count(F.lit(1)).cast("long").alias("v"))
    scale = float(1 << UNI_SCALE_BITS)
    vocab2 = (
        vocab1.select("piece")
        .join(usage, "piece", "left")
        .crossJoin(F.broadcast(tu))
        .crossJoin(F.broadcast(vsz))
        .select(
            "piece",
            F.floor(
                F.lit(scale)
                * F.log(
                    (F.coalesce(F.col("used"), F.lit(0)) + F.lit(1)).cast("double")
                    / (F.col("tu") + F.col("v")).cast("double")
                )
            )
            .cast("long")
            .alias("score_q"),
        )
    )
    return _viterbi_dp(words, vocab2, max_piece, UNI_MAX_WORD)
