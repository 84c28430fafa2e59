"""Distributed BPE (byte-pair-encoding) vocabulary induction.

The tokenizer-training step of an LLM data pipeline: learn the merge
table from the corpus itself. The classic single-node implementations
(sentencepiece/HF tokenizers) stream the corpus once into a word-
frequency table and then iterate merges over that table — exactly the
shape that distributes well, and the shape this module keeps:

1. ``word_freq_table`` — ONE corpus pass: explode tokens, groupBy word.
   This is the scale move: 100 TB of text collapses to a distinct-word
   table (tens of millions of rows, invariant to corpus duplication),
   and every later step touches only that table, never the corpus.
2. ``pair_counts`` — frequency-weighted adjacent symbol pairs from each
   word's current symbolization (map-side ``transform`` over the symbol
   array + partial aggregation; the shuffle key domain is the live
   symbol alphabet², tiny).
3. ``learn`` — k rounds of: top pair (ONE driver row per round, the
   same bounded-collect contract as the k-means centroid loop), then a
   JVM-side left-to-right fold (``aggregate``) that applies the merge
   to every word's symbol array. The symbol table is localCheckpointed
   per round so lineage stays O(1) and round r never recomputes rounds
   1..r-1 (the standard iterative-algorithm pattern; at cluster scale
   swap for ``checkpoint`` on a fault-tolerant dir).

Pair counting is RECOUNTED per round rather than delta-maintained: the
single-node trick of patching only affected pair counts is pointer-
chasing that does not distribute, while a recount is two narrow stages
over the (small) word table. Merge application is the textbook
non-overlapping left-to-right scan, expressed as a fold: the
accumulator's last symbol + the current symbol match the pair ⇒ replace
last with the merged token, else append — bitwise identical to the
reference Python BPE (property-tested in tests/test_round7_ops.py).

Reference scope note: the reference engine (jiangzhe/xngin → DoraDB)
has no tokenizer-training surface; this is part of the beyond-reference
LLM-pipeline charter (SURVEY.md §2.8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def word_freq_table(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over whitespace tokens — the one full-corpus pass."""
    return (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def init_symbols(words: DataFrame) -> DataFrame:
    """Start every word as its character sequence."""
    return words.withColumn("syms", F.split("word", ""))


def pair_counts(symtab: DataFrame) -> DataFrame:
    """Frequency-weighted adjacent-pair counts over the CURRENT
    symbolization: (left_sym, right_sym, pair_count), descending."""
    pairs = symtab.filter(F.size("syms") >= 2).select(
        "freq",
        F.explode(
            F.expr(
                "transform(sequence(1, size(syms) - 1), "
                "i -> struct(syms[i-1] AS left_sym, syms[i] AS right_sym))"
            )
        ).alias("p"),
    )
    return pairs.groupBy("p.left_sym", "p.right_sym").agg(
        F.sum("freq").alias("pair_count")
    )


def _q(s: str) -> str:
    return s.replace("\\", "\\\\").replace("'", "\\'")


def apply_merge(symtab: DataFrame, left: str, right: str) -> DataFrame:
    """Replace every non-overlapping left-to-right (left, right)
    adjacency with the concatenated token — a JVM-side fold, no Python
    in the loop."""
    l, r, tok = _q(left), _q(right), _q(left + right)
    return symtab.withColumn(
        "syms",
        F.expr(
            f"""aggregate(
                syms,
                cast(array() as array<string>),
                (acc, s) -> IF(
                    size(acc) > 0
                    AND element_at(acc, size(acc)) = '{l}'
                    AND s = '{r}',
                    concat(slice(acc, 1, size(acc) - 1), array('{tok}')),
                    concat(acc, array(s))))"""
        ),
    )


#: Distinct-word ceiling for running the merge loop driver-side.
#: The word-frequency table is the scale-invariant SMALL side of BPE
#: (invariant to corpus duplication), but "small" is relative: real
#: 100 TB corpora carry tens of millions of distinct words and stay on
#: the distributed loop. Under the cap the whole loop is driver
#: arithmetic over symbol lists — the CC_DRIVER_CAP discipline: the
#: distributed loop pays merges x (pair-count shuffle + top-1 collect +
#: checkpoint) of scheduling for a table that fits one Python dict.
BPE_DRIVER_CAP = 500_000


def _driver_learn(
    sym_rows: list[tuple[list, int]], merges: int
) -> list[tuple]:
    """The merge loop on collected (syms, freq) rows — semantics are the
    distributed loop's exactly: frequency-weighted adjacent-pair counts,
    top pair by (count DESC, left, right) (Python str comparison is
    code-point order == Spark's UTF8 byte order), then the identical
    left-to-right non-overlapping fold. Symbol lists are collected from
    ``init_symbols`` output, so char splitting is Spark's in both paths.
    This is the reference loop the distributed fold is property-tested
    against (tests/test_round7_ops.py)."""
    words = [(list(s), int(f)) for s, f in sym_rows]
    rows: list[tuple] = []
    for rank in range(1, merges + 1):
        counts: dict = {}
        for syms, freq in words:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + freq
        if not counts:
            break
        (l, r), c = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        rows.append((rank, l, r, l + r, c))
        for idx, (syms, freq) in enumerate(words):
            acc: list = []
            for s in syms:
                if acc and acc[-1] == l and s == r:
                    acc[-1] = l + r
                else:
                    acc.append(s)
            words[idx] = (acc, freq)
    return rows


def learn(
    spark: SparkSession,
    docs: DataFrame,
    merges: int = 12,
    text_col: str = "text",
    driver_cap: int = BPE_DRIVER_CAP,
) -> DataFrame:
    """Learn ``merges`` BPE merges; returns the merge table
    (rank, left_sym, right_sym, merged, pair_count) in learn order.
    Deterministic: ties break on (pair_count DESC, left_sym,
    right_sym), and all counts are exact integers."""
    # one corpus pass either way: the word table materializes ONCE as a
    # distributed checkpoint (the distributed loop needed that anyway),
    # and the cap probe is a column-pruned count over the checkpoint —
    # never a driver-side collect. The previous limit(cap+1).toPandas()
    # probe shipped up to cap+1 SYMBOL ARRAYS to the driver even when
    # the corpus was ABOVE the cap, a ~hundreds-of-MB driver allocation
    # made just to decide to go distributed (r11 verdict scale risk).
    symtab0 = init_symbols(word_freq_table(docs, text_col)).localCheckpoint()
    n_words = symtab0.limit(driver_cap + 1).count()
    if n_words <= driver_cap:
        probe = symtab0.select("syms", "freq").toPandas()
        rows = _driver_learn(
            list(zip(probe["syms"].tolist(), probe["freq"].tolist())), merges
        )
    else:
        rows = _distributed_learn(symtab0, merges)
    # rows are plain Python now — the checkpoint's blocks are dead
    from xngin_spark.operators.util import release_checkpoint

    release_checkpoint(symtab0)
    # values_df, not createDataFrame: downstream bench actions over a
    # python local relation each pay a ~4s python->JVM stage
    # (operators/util.values_df); merge lists are small by construction
    from xngin_spark.operators.util import values_df

    return values_df(
        spark,
        "rank INT, left_sym STRING, right_sym STRING, "
        "merged STRING, pair_count BIGINT",
        rows,
    )


def _distributed_learn(symtab0: DataFrame, merges: int) -> list[tuple]:
    """The above-cap merge loop: per round one pair-count shuffle, one
    top-1 collect, one checkpointed JVM fold (unchanged semantics).
    ``symtab0`` is the caller's checkpoint and stays the caller's to
    release; each round's checkpoint is released once its successor has
    materialized, and the last one before returning, so storage is O(1)
    in merge count."""
    from xngin_spark.operators.util import release_checkpoint

    symtab = symtab0
    rows: list[tuple] = []
    for rank in range(1, merges + 1):
        top = (
            pair_counts(symtab)
            .orderBy(
                F.col("pair_count").desc(), "left_sym", "right_sym"
            )
            .first()
        )
        if top is None:
            break
        l, r, c = top["left_sym"], top["right_sym"], int(top["pair_count"])
        rows.append((rank, l, r, l + r, c))
        merged = apply_merge(symtab, l, r).localCheckpoint()
        if symtab is not symtab0:
            release_checkpoint(symtab)
        symtab = merged
    if symtab is not symtab0:
        release_checkpoint(symtab)
    return rows


def encode(symtab_words: DataFrame, merge_rows: list[tuple]) -> DataFrame:
    """Apply a learned merge list to a (word, freq, syms) table —
    tokenize-with-vocab, the serving-side half of BPE. ``merge_rows``
    is the collected merge table (small: vocab-size, broadcast as k
    chained fold expressions)."""
    out = symtab_words
    for _, l, r, _, _ in merge_rows:
        out = apply_merge(out, l, r)
    return out


def tokenize_docs(
    docs: DataFrame,
    merge_rows: list[tuple],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize the corpus with a learned merge list — the serving
    half of BPE: encode the DISTINCT-WORD table once (k chained folds
    over vocabulary-sized data), then join each document's word
    sequence against it and flatten in word order. Per-doc output:
    (id, n_tokens, n_chars, chars_per_token) — chars_per_token is the
    compression ratio tokenizer training optimizes.

    Scale shape: the expensive part (merge application) runs on
    distinct words only; the corpus-sized work is one explode + one
    shuffle on the word key + one per-doc aggregation. The token
    arrays themselves are never materialized corpus-wide — only their
    lengths aggregate."""
    words = word_freq_table(docs, text_col)
    encoded = encode(init_symbols(words), merge_rows).select(
        "word", F.size("syms").alias("w_tokens"),
        F.length("word").alias("w_chars"),
    )
    doc_words = docs.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("word"),
    ).filter(F.col("word") != "")
    return (
        doc_words.join(encoded, "word")
        .groupBy(id_col)
        .agg(
            F.sum("w_tokens").cast("bigint").alias("n_tokens"),
            F.sum("w_chars").cast("bigint").alias("n_chars"),
        )
        .withColumn(
            "chars_per_token",
            F.col("n_chars").cast("double") / F.col("n_tokens").cast("double"),
        )
    )
