"""Distributed BPE tokenizer training — the merge-table induction step a
training-data pipeline runs before token counting/packing (the repo's
``bpe_tokens`` pre-tokenizer is the standard GPT-2-style first stage; this
operator learns the merges that follow it).

Shape (the reason BPE trains fast even on huge corpora): ONE corpus pass
builds the distinct word-frequency relation, and every merge iteration
runs over that vocabulary relation — |distinct words| rows, never the
corpus. Pair counting is a weighted aggregate; the winning pair is a
1-row driver collect per iteration (the same contract-bounded scalar the
PageRank residual check uses); the merge rewrite is a per-word JVM
aggregate fold (greedy left-to-right non-overlapping, standard BPE);
``localCheckpoint`` per iteration keeps the plan size constant exactly as
``operators/graph.py::pagerank`` documents. At 100 TB the corpus pass
shuffles once on the word; the vocabulary relation (10-100M rows for web
text) stays distributed throughout.

Reference: the reference repo has no tokenizer training (its text surface
stops at SQL feature engineering) — this extends the LLM-data-pipeline
family (SURVEY §2.11). Algorithm: Sennrich et al. 2016 (ACL), the public
BPE formulation; greedy left-to-right application matches the published
reference implementation's word-level merge.

Known scale limit, stated honestly: each merge is one Spark job (pair
aggregate + 1-row argmax), so a production 32k-merge vocabulary means
32k sequential rounds — job latency, not data volume, dominates.
Measured at 64 merges on the sf0.1 corpus, local[32] (PERF_NOTES r11):
323 ms/merge for this exact trainer, 28 ms/merge for a batched variant
that applied 16 mutually disjoint pairs per round, and 547 ms/merge for
an incremental variant that maintained pair counts from per-merge
deltas. Only the exact trainer is kept: the batched one is not
equivalent to the sequential argmax (a pair minted in round N waits a
round), the incremental one only pays where recounting every pair is
the cost (10-100M distinct words, far beyond any corpus here), and
production trains 20 merges, where the exact trainer costs seconds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, count) over the BPE pre-tokenization of ``text_col`` — the
    one corpus-sized pass of BPE training."""
    from data_warehouse_product_mix_clustering_spark.functions.text import bpe_tokens

    return (
        docs.select(F.explode(bpe_tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("count"))
    )


def _merge_fold(syms: F.Column, a: str, b: str) -> F.Column:
    """Greedy left-to-right one-pass replacement of each adjacent (a, b)
    with ``a + b`` — non-overlapping (after a merge the cursor skips the
    consumed right symbol, so 'aaa' under (a,a) → [aa, a]).

    Shape: the match test runs ONCE per element in a pre-zipped
    (symbol, match) array built OUTSIDE the aggregate — embedding it in
    the fold step would re-evaluate it per element per reference (no CSE
    in interpreted higher-order functions). try_element_at: the
    past-the-end lookahead yields NULL (→ no match) instead of the ANSI
    element_at out-of-bounds error."""
    el = lambda i: F.try_element_at(syms, i)  # noqa: E731 - 1-based
    zipped = F.zip_with(
        syms,
        F.transform(
            F.sequence(F.lit(1), F.size(syms)),
            lambda i: F.when((el(i) == a) & (el(i + 1) == b), F.lit(a + b)),
        ),
        lambda s, m: F.struct(s.alias("sym"), m.alias("m")),
    )
    zero = F.struct(
        F.array().cast("array<string>").alias("r"), F.lit(False).alias("s")
    )
    step = lambda acc, x: (  # noqa: E731
        F.when(acc["s"], F.struct(acc["r"].alias("r"), F.lit(False).alias("s")))
        .when(
            x["m"].isNotNull(),
            F.struct(
                F.concat(acc["r"], F.array(x["m"])).alias("r"),
                F.lit(True).alias("s"),
            ),
        )
        .otherwise(
            F.struct(
                F.concat(acc["r"], F.array(x["sym"])).alias("r"),
                F.lit(False).alias("s"),
            )
        )
    )
    return F.aggregate(zipped, zero, step, lambda acc: acc["r"])


def _char_syms(word_col: str) -> F.Column:
    """Character symbol array of a word column. Empty-string guard:
    sequence(1, 0) counts DOWN in Spark (the hazard
    functions/text.py::word_ngrams documents), which would mint phantom
    ('','') pairs — an empty word contributes an empty symbol array
    instead, exactly like the twins' list(''). The fold has the same
    hazard, so every _merge_fold call site must gate on size ≥ 2
    (`_guarded_fold`)."""
    return F.expr(
        f"CASE WHEN length({word_col}) >= 1 THEN "
        f"transform(sequence(1, length({word_col})), i -> substring({word_col}, i, 1)) "
        f"ELSE cast(array() AS array<string>) END"
    )


def _guarded_fold(syms: F.Column, a: str, b: str) -> F.Column:
    """_merge_fold with the short-array gate: arrays that cannot contain a
    pair pass through unchanged (the fold's sequence(1, size) would count
    down through 0 on an empty array and throw under ANSI)."""
    return F.when(F.size(syms) >= 2, _merge_fold(syms, a, b)).otherwise(syms)


def _pair_counts(cur: DataFrame) -> DataFrame:
    """Weighted adjacent-pair counts (a, b, cnt) over the working
    (__c, __syms) relation — THE pair-count definition the trainer
    ranks and ``_pair_counts_py`` mirrors (drift here is drift in the
    audited contract)."""
    return (
        cur.filter(F.size("__syms") >= 2)
        .select(
            "__c",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(__syms) - 1), "
                    "j -> struct(element_at(__syms, j) AS a, "
                    "element_at(__syms, j + 1) AS b))"
                )
            ).alias("__p"),
        )
        .groupBy(F.col("__p.a").alias("a"), F.col("__p.b").alias("b"))
        .agg(F.sum("__c").alias("cnt"))
    )


def _pair_counts_py(
    vocab: list[tuple[list[str], int]],
) -> dict[tuple[str, str], int]:
    """Python twin of ``_pair_counts``."""
    pc: dict[tuple[str, str], int] = {}
    for syms, c in vocab:
        for j in range(len(syms) - 1):
            pc[(syms[j], syms[j + 1])] = pc.get((syms[j], syms[j + 1]), 0) + c
    return pc


def train_bpe(
    vocab: DataFrame,
    n_merges: int,
    word_col: str = "word",
    count_col: str = "count",
) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` BPE merges from a (word, count) relation.
    Returns [(left, right, pair_count), ...] in merge order — the merge
    table is O(n_merges) and lives on the driver by construction (it IS
    the model); all counting stays distributed. Deterministic: ties on
    pair count break lexicographically on (left, right). Stops early if
    no adjacent pair remains (every word fully merged). NULL words are
    dropped (the twin's dict cannot hold one)."""
    # LAZY localCheckpoints (optimization r18): each round's argmax
    # collect is the checkpoint's first (and only pre-rewrite) action, so
    # it materializes the pending rewrite as part of its own job — the
    # lineage truncation is identical, but the trainer runs ONE job per
    # merge instead of two (eager checkpoint job + collect job), and the
    # final round's rewrite — which no consumer ever reads — is never
    # computed at all. ~2× fewer driver round-trips per merge; at a
    # 32k-merge production vocabulary that is 32k fewer job launches on
    # the path the module docstring already flags as job-latency-bound.
    cur = (
        vocab.filter(F.col(word_col).isNotNull())
        .select(
            F.col(count_col).cast("long").alias("__c"),
            _char_syms(word_col).alias("__syms"),
        )
        .localCheckpoint(eager=False)
    )
    merges: list[tuple[str, str, int]] = []
    # AQE off for the merge loop (optimization r19 — the logreg-trainer
    # scope, see session.no_adaptive_execution): each round is one
    # join-free aggregate + argmax over the checkpointed vocab relation,
    # and AQE's per-query-stage jobs doubled the rounds' driver-job
    # count; results are identical (deterministic argmax, same snaps).
    from data_warehouse_product_mix_clustering_spark.session import no_adaptive_execution

    with no_adaptive_execution(vocab.sparkSession):
        for _ in range(n_merges):
            best = (
                _pair_counts(cur)
                .orderBy(F.col("cnt").desc(), "a", "b")
                .limit(1)
                .collect()
            )
            if not best:
                break
            a, b, cnt = best[0]["a"], best[0]["b"], int(best[0]["cnt"])
            merges.append((a, b, cnt))
            # Fully-merged (single-symbol) words can never pair again —
            # drop them so the relation shrinks monotonically instead of
            # paying the fold + checkpoint for dead rows every remaining
            # iteration.
            cur = (
                cur.filter(F.size("__syms") >= 2)
                .select(
                    "__c", _merge_fold(F.col("__syms"), a, b).alias("__syms")
                )
                .localCheckpoint(eager=False)
            )
    return merges


def _merge_py(syms: list[str], a: str, b: str) -> list[str]:
    """Python twin of ``_merge_fold`` — the ONE definition of the greedy
    left-to-right non-overlapping rewrite shared by the training and
    encoding reference twins."""
    out, i = [], 0
    while i < len(syms):
        if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def train_bpe_py(
    counts: dict[str, int], n_merges: int
) -> list[tuple[str, str, int]]:
    """Driver-side reference twin of ``train_bpe`` for tests/audits."""
    vocab: list[tuple[list[str], int]] = [
        (list(w), c) for w, c in counts.items()
    ]
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        pc = _pair_counts_py(vocab)
        if not pc:
            break
        (a, b), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((a, b, cnt))
        vocab = [(_merge_py(syms, a, b), c) for syms, c in vocab]
    return merges


def merges_to_df(
    spark: SparkSession, merges: list[tuple[str, str, int]]
) -> DataFrame:
    """The merge table as a relation: (rank, left, right, merged, pair_count)."""
    return spark.createDataFrame(
        [
            (i + 1, a, b, a + b, c)
            for i, (a, b, c) in enumerate(merges)
        ],
        "rank long, left string, right string, merged string, pair_count long",
    )


def encode_words(
    vocab: DataFrame,
    merges: list[tuple[str, str, int]],
    word_col: str = "word",
) -> DataFrame:
    """Segment each distinct word with a learned merge table — the apply
    half of the tokenizer (training's consumer). Adds a ``bpe_syms``
    array<string> column. Rule, stated once and mirrored by
    ``encode_py``: merges apply SEQUENTIALLY in training-rank order, each
    greedy left-to-right over the word (the same rewrite training itself
    performs, so encoding the training corpus reproduces training's
    final symbol state). Cost: one fold per merge over the distinct-word
    relation — never the corpus; token counts join back to documents on
    the word key. localCheckpoint every few merges keeps the k-fold
    lineage from exploding the analyzer (the PageRank discipline; folds
    are cheap enough to batch). Unlike training, the relation cannot
    drop fully-merged rows (every word needs its encoding), so each fold
    is size-gated (`_guarded_fold`) instead. LAZY checkpoints
    (optimization r19, the r18 train-side pattern): the consumer's first
    action computes through the whole chain in ONE job, materializing
    each checkpoint's blocks along the way and truncating lineage
    exactly as the eager variant did — minus ⌈merges/4⌉ driver-job
    launches per encode (measured: 5 one-task jobs per
    ``bpe_token_counts`` call at the default 20 merges)."""
    cur = vocab.filter(F.col(word_col).isNotNull()).withColumn(
        "bpe_syms", _char_syms(word_col)
    )
    for j, (a, b, _) in enumerate(merges, 1):
        cur = cur.withColumn("bpe_syms", _guarded_fold(F.col("bpe_syms"), a, b))
        if j % 4 == 0 or j == len(merges):
            cur = cur.localCheckpoint(eager=False)
    return cur


def encode_py(word: str, merges: list[tuple[str, str, int]]) -> list[str]:
    """Driver-side reference twin of ``encode_words`` for one word."""
    syms = list(word)
    for a, b, _ in merges:
        syms = _merge_py(syms, a, b)
    return syms


def bpe_token_counts(
    docs: DataFrame,
    merges: list[tuple[str, str, int]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document token counts under a TRAINED tokenizer — the
    docstring's 'join back on the word key' claim as code: pre-tokenize
    the corpus (one pass), encode only the DISTINCT words
    (``encode_words`` — |vocab| fold work, not |corpus|), then broadcast-
    or shuffle-join the per-word subword count back to the exploded
    stream and sum per doc. Returns (id, n_words, n_bpe_tokens). Docs
    whose pre-tokenization is empty still appear (zero counts) — they
    cost zero tokens, which a packing budget needs to know, unlike the
    scrub family's absent-empty-doc semantics."""
    from data_warehouse_product_mix_clustering_spark.functions.text import bpe_tokens

    words = docs.select(
        F.col(id_col), F.explode_outer(bpe_tokens(F.col(text_col))).alias("word")
    )
    per_word = encode_words(
        words.filter(F.col("word").isNotNull()).select("word").distinct(), merges
    ).select("word", F.size("bpe_syms").cast("long").alias("__n"))
    return (
        words.join(per_word, "word", "left")
        .groupBy(id_col)
        .agg(
            F.count("word").cast("long").alias("n_words"),
            F.coalesce(F.sum("__n"), F.lit(0)).cast("long").alias("n_bpe_tokens"),
        )
    )
