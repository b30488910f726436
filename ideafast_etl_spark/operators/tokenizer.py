"""Distributed BPE tokenizer training + tokenization (§2.13 extension).

Byte-pair-encoding merge learning per the public algorithm (Sennrich et
al. 2016, arXiv:1508.07909), structured the way BPE actually scales:

- ONE corpus-sized pass builds the word-frequency table (whitespace
  pre-tokenization, lowercased) — after that, every merge iteration works
  on the vocabulary-sized table only (≈100k rows at any corpus scale,
  with integer frequency weights), never re-reading the corpus.
- Each iteration: explode adjacent symbol pairs weighted by word
  frequency, pick the most frequent pair (integer sums — exact and
  order-free; ties broken lexicographically, so training is fully
  deterministic), and apply the merge to the symbolized vocabulary with
  one regex map. The only driver traffic is the single winning pair per
  iteration (the same shape as an MLlib iteration), and the vocab table
  is checkpoint-truncated each round so the plan never deepens.
- Tokenization replays the learned merges in rank order over the
  vocabulary, then joins token sequences back to the corpus by word —
  again corpus-sized work exactly once.

End-of-word marker ``</w>`` follows the original paper, so merges can
distinguish suffixes from mid-word pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_EOW = "</w>"

# r12 job shave: the per-merge vocab checkpoint is LAZY — the next
# iteration's top-pair collect materializes it inside its own job, so
# each merge pays ONE scheduler barrier instead of two (the eager form ran
# a dedicated vocab-materialization job per merge). localCheckpoint
# truncates the plan identically either way (the returned frame is
# LogicalRDD-backed) and the checkpoint cache fills during the first job
# that computes it, so values and lineage depth are unchanged — only the
# job count drops. Unlike the k-means/PQ training loops (whose
# per-iteration checkpoint feeds a BROADCAST build and must stay eager
# per guide §3.1's broadcast-timeout discipline), the BPE vocab's next
# consumer is a plain aggregate-collect job.

# C0 control characters + DEL are treated as word separators during
# pre-tokenization: 0x1F in particular is the internal pair-key delimiter
# (``bpe_train``) and is NOT regex whitespace, so letting it survive into a
# word would make the learned pair ambiguous (round-5 ADVICE fix). Mapping
# the whole control block to whitespace is also what real tokenizers do.
_CTRL_CLASS = "[\\x00-\\x1F\\x7F]"


def _split_words(text_col) -> F.Column:
    """Shared pre-tokenization: lowercase, control chars → separators,
    whitespace split. Training and tokenization MUST agree on this."""
    return F.split(
        F.regexp_replace(F.lower(text_col), _CTRL_CLASS, " "), r"\s+"
    )


def _word_freq(df: DataFrame, text_col: str) -> DataFrame:
    """(word, freq) from whitespace pre-tokenization, lowercased."""
    return (
        df.select(F.explode(_split_words(F.col(text_col))).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _symbolize(freq: DataFrame) -> DataFrame:
    """Add the space-separated symbol string: 'h e l l o </w>'."""
    # between-char split; Spark split keeps a trailing "" (limit -1), so
    # drop empties before appending the end-of-word marker
    chars = F.filter(
        F.split(F.col("word"), "(?!^)"), lambda x: F.length(x) > 0
    )
    return freq.withColumn(
        "sym",
        F.concat_ws(" ", F.concat(chars, F.array(F.lit(_EOW)))),
    )


def _merge_pattern(a: str, b: str) -> str:
    """Regex replacing the adjacent symbol pair with its merge; padded
    symbol strings + non-consuming boundaries so back-to-back occurrences
    ('a b a b') all match in one pass."""
    return r"(?<= )\Q" + a + r"\E \Q" + b + r"\E(?= )"


def _apply_merge(sym_col, a: str, b: str):
    merged = (a + b).replace("\\", "\\\\").replace("$", "\\$")
    return F.trim(
        F.regexp_replace(
            F.concat(F.lit(" "), sym_col, F.lit(" ")),
            _merge_pattern(a, b),
            merged,
        )
    )


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 30,
    min_freq: int = 2,
) -> tuple[list[tuple[str, str, int]], DataFrame]:
    """Learn ``n_merges`` BPE merges. Returns (merges, vocab_df):
    merges = [(left, right, pair_freq), ...] in rank order; vocab_df =
    the symbolized word-frequency table after all merges (word, freq,
    sym). Training stops early when no pair reaches ``min_freq``."""
    spark = df.sparkSession
    vocab = _symbolize(_word_freq(df, text_col)).localCheckpoint(eager=False)
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        arr = F.split(F.col("sym"), " ")
        pairs = (
            vocab.select(
                "freq",
                F.explode(
                    F.zip_with(
                        F.slice(arr, 1, F.size(arr) - 1),
                        F.slice(arr, 2, F.size(arr) - 1),
                        lambda x, y: F.concat_ws("\x1f", x, y),
                    )
                ).alias("pair"),
            )
            .groupBy("pair")
            .agg(F.sum("freq").alias("pf"))
        )
        top = (
            pairs.filter(F.col("pf") >= min_freq)
            .orderBy(F.col("pf").desc(), F.col("pair"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        parts = top[0]["pair"].split("\x1f")
        if len(parts) != 2:  # unreachable post-sanitisation; fail loud
            raise ValueError(f"malformed BPE pair key: {top[0]['pair']!r}")
        a, b = parts
        merges.append((a, b, int(top[0]["pf"])))
        vocab = vocab.withColumn(
            "sym", _apply_merge(F.col("sym"), a, b)
        ).localCheckpoint(eager=False)  # vocab-sized: truncate
    return merges, vocab


def bpe_merge_table(spark: SparkSession, merges) -> DataFrame:
    return spark.createDataFrame(
        [(i, a, b, a + b, f) for i, (a, b, f) in enumerate(merges)],
        "rank int, left string, right string, merged string, pair_freq long",
    )


def bpe_tokenize(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize the corpus with a trained vocabulary: one corpus pass
    explodes words in position order, an equi-join on the (small) vocab
    table attaches each word's symbol sequence, and tokens concatenate
    back per document. Out-of-vocabulary words fall back to characters.

    Returns (id_col, n_words, n_tokens, tokens array<string>)."""
    words = df.select(
        F.col(id_col),
        F.posexplode(_split_words(F.col(text_col))).alias("pos", "word"),
    ).filter(F.length("word") > 0)
    vocab_toks = vocab.select(
        "word", F.split(F.col("sym"), " ").alias("word_tokens")
    )
    char_fallback = F.concat(
        F.filter(
            F.split(F.col("word"), "(?!^)"), lambda x: F.length(x) > 0
        ),
        F.array(F.lit(_EOW)),
    )
    joined = words.join(vocab_toks, "word", "left").withColumn(
        "word_tokens",
        F.coalesce(F.col("word_tokens"), char_fallback),
    )
    return (
        joined.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "word_tokens"))
                    ),
                    lambda s: s["word_tokens"],
                )
            ).alias("tokens"),
        )
        .select(
            id_col,
            "n_words",
            F.size("tokens").alias("n_tokens"),
            "tokens",
        )
    )
