"""Distributed BPE merge learning — tokenizer TRAINING, the missing
member of the text-analysis family (t_bpe_tokens applies a BPE-ish
regex; this learns the merge table itself, the Sennrich et al. 2016
"Neural Machine Translation of Rare Words with Subword Units"
procedure).

Scale shape — the part that matters at 100 TB:

- ONE corpus pass builds the word-frequency vocabulary (hash agg).
  Everything after operates on the VOCABULARY (distinct words ×
  frequency weights), never the corpus again — exactly how production
  BPE trainers work, and why tokenizer training is tractable on
  petabyte corpora.
- Each merge round is one vocabulary-sized job: explode adjacent symbol
  pairs weighted by word frequency, hash-agg pair counts, take the
  argmax (ONE row to the driver — dimension-sized, the iterative-
  operator contract of operators/graph.py), then apply the merge to
  every word's symbol array with a sequential left fold
  (``F.aggregate``) — greedy leftmost-first application, the standard
  BPE overlap rule ("aaa" + merge(a,a) → ["aa", "a"]).
- The symbol table is ``localCheckpoint``-ed per round so round k never
  re-folds rounds 1..k-1 from scratch (O(M) total work, not O(M²)) and
  the plan never deepens. Blocks are freed per round.

Determinism: ties in pair frequency break lexicographically on (left,
right), so reruns and engines agree on the full merge sequence.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .graph import unpersist_checkpoint_blocks


def _adjacent_pairs(sym: Column) -> Column:
    """array<struct<l,r>> of adjacent symbol pairs."""
    n = F.size(sym)
    idx = F.when(n >= 2, F.sequence(F.lit(1), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(
        idx,
        lambda i: F.struct(
            F.element_at(sym, i).alias("l"), F.element_at(sym, i + 1).alias("r")
        ),
    )


def _apply_merge(
    sym: Column, left: Column | str, right: Column | str
) -> Column:
    """Greedy leftmost-first application of one merge (left,right) →
    left+right over a symbol array, as a sequential fold. try_element_at:
    conjunct order inside WHEN is not a short-circuit guarantee, and
    ANSI element_at throws on the empty accumulator.

    ``left``/``right`` accept Columns or literals."""
    l = F.lit(left) if isinstance(left, str) else left
    r = F.lit(right) if isinstance(right, str) else right
    merged = F.concat(l, r)
    return F.aggregate(
        sym,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.try_element_at(acc, F.lit(-1)) == l)
            & (x == r),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_train(
    docs: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """Learn ``n_merges`` BPE merges from a document corpus; returns the
    merge table (rank, left, right, merged, pair_weight) in learned
    order. Words are lowercase alpha runs (the catalog's canonical
    tokenizer); initial symbols are single characters."""
    spark = docs.sparkSession
    words = docs.select(
        F.explode(
            F.filter(
                F.split(F.lower(F.col(text_col)), "[^a-z]+"), lambda t: t != ""
            )
        ).alias("w")
    )
    vocab = (
        words.groupBy("w")
        .agg(F.count("*").alias("freq"))
        .select(
            "freq",
            F.split(F.col("w"), "").alias("sym"),
        )
    )
    # drop the empty trailing element split("") can emit
    vocab = vocab.select(
        "freq", F.filter(F.col("sym"), lambda s: s != "").alias("sym")
    )
    # Lazy checkpoints: round k's argmax job materializes checkpoint k as
    # a side effect — ONE job per merge (an eager checkpoint would double
    # the job count, pure scheduling overhead at vocabulary size); the
    # superseded round's blocks are freed once its successor is live.
    # (Measured dead ends for the ~0.35 s/round floor: disabling
    # whole-stage codegen, NO_CODEGEN factory mode, and threading the
    # round's pair through a 1-row broadcast — all within noise; the
    # floor is per-job scheduling, the same fixed cost every iterative
    # operator here pays per round.)
    cur = vocab.localCheckpoint(eager=False)
    freeable: DataFrame | None = None

    merges: list[tuple[int, str, str, str, int]] = []
    try:
        for rank in range(n_merges):
            top = (
                cur.select("freq", F.explode(_adjacent_pairs(F.col("sym"))).alias("p"))
                .groupBy("p.l", "p.r")
                .agg(F.sum("freq").alias("weight"))
                .orderBy(F.desc("weight"), F.asc("l"), F.asc("r"))
                .limit(1)
                .collect()  # ONE dimension-sized row per round
            )
            if freeable is not None:
                unpersist_checkpoint_blocks(freeable)
                freeable = None
            if not top or top[0]["weight"] is None:
                break
            l, r, w = top[0]["l"], top[0]["r"], int(top[0]["weight"])
            merges.append((rank, l, r, l + r, w))
            nxt = cur.select(
                "freq", _apply_merge(F.col("sym"), l, r).alias("sym")
            ).localCheckpoint(eager=False)
            freeable = cur
            cur = nxt
    finally:
        if freeable is not None:
            unpersist_checkpoint_blocks(freeable)
        unpersist_checkpoint_blocks(cur)

    return spark.createDataFrame(
        merges, "rank int, left string, right string, merged string, pair_weight long"
    )


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a learned merge sequence to a corpus: per doc, the symbol
    segmentation of each word after all merges (in rank order) plus the
    resulting subword count. Pure projection — embarrassingly parallel,
    zero shuffle; the merge table is a plan literal (tokenizers ship as
    artifacts, not joins)."""
    toks = F.filter(F.split(F.lower(F.col(text_col)), "[^a-z]+"), lambda t: t != "")
    word_syms = F.transform(
        toks, lambda w: F.filter(F.split(w, ""), lambda s: s != "")
    )

    def fold_word(sym: Column) -> Column:
        out = sym
        for l, r in merges:
            out = _apply_merge(out, l, r)
        return out

    segmented = F.transform(word_syms, fold_word)
    return docs.select(
        F.col(id_col),
        F.aggregate(
            F.transform(segmented, lambda s: F.size(s)), F.lit(0), lambda a, x: a + x
        ).alias("n_subwords"),
        F.size(toks).alias("n_words"),
        F.flatten(segmented).alias("subwords"),
    )
