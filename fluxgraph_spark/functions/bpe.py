"""Byte-pair-encoding tokenizer training and encoding, distributed.

The core training-data-pipeline operator the other text tools feed:
learn a subword vocabulary FROM the corpus (Gage 1994; Sennrich et al.
ACL 2016) and encode the corpus with it.  The reference engine has no
tokenizer — this extends the LLM-pipeline surface alongside
functions/text.py (token_count is a regex proxy; this is the real,
learned thing).

Spark-first design
------------------
* Training runs on the **distinct-word frequency table**, not the raw
  corpus (the standard trick: merges happen inside words, so a corpus
  of any size collapses to ``|vocab|`` weighted symbol sequences).  At
  100 TB the word table is ~10^8 rows — comfortably distributed —
  while the corpus itself is touched exactly once, by one map-side
  explode + partial-agg count.
* Each merge round is pure DataFrame algebra: one ``lead`` window for
  pair formation, one map-side-combined ``groupBy`` for weighted pair
  counts, a 1-row driver probe for the argmax (the bounded
  convergence-scalar pattern from operators/analytics.py), and one
  window pass to apply the merge.  No Python UDFs anywhere.
* Every window partitions by ``word`` — the state keeps one hash
  partitioning across all rounds.  ``persist`` + ``localCheckpoint``
  per round truncates lineage (AQE + lazy persist would otherwise
  re-run the whole chain per round — see analytics.py).
* Greedy left-to-right overlap semantics (canonical BPE: merging
  ``(a,a)`` in ``aaa`` yields ``aa,a``) resolve set-at-a-time with a
  gaps-and-islands window: consecutive match positions form a run,
  every other member of a run (1st, 3rd, ...) is applied.  This is
  exactly sequential greedy application, expressed without sequential
  execution.

Determinism contract: pair counts are exact integer sums; the argmax
tie-break is (count DESC, left ASC, right ASC) over ASCII symbols —
identical in Spark and DuckDB binary collation — so training replays
bit-for-bit as chained SQL CTEs (see the x_bpe_merges oracle in
__spark_entry__.py, generated by ``_bpe_sql``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

WORD_RE = r"[a-z0-9]+"
END_OF_WORD = "</w>"


def word_count_table(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Distinct lowercase words with corpus frequencies: (word, cnt).

    One explode + one map-side-combined count — the only pass over the
    full corpus in the whole training pipeline.
    """
    return (
        docs.select(
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.col(text_col)), F.lit(WORD_RE), F.lit(0)
                )
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def initial_state(words: DataFrame) -> DataFrame:
    """Explode words into per-position symbol rows:
    (word, cnt, pos, sym) with ``</w>`` appended as the final symbol
    (word-boundary-aware merges, per Sennrich et al.)."""
    n = F.length("word")
    return words.select(
        "word",
        "cnt",
        F.explode(F.sequence(F.lit(1), n + 1)).alias("i"),
    ).select(
        "word",
        "cnt",
        (F.col("i") - 1).alias("pos"),
        F.when(F.col("i") <= n, F.expr("substring(word, i, 1)"))
        .otherwise(F.lit(END_OF_WORD))
        .alias("sym"),
    )


def _with_next(state: DataFrame) -> DataFrame:
    w = Window.partitionBy("word").orderBy("pos")
    return state.withColumn("nxt", F.lead("sym").over(w))


def pair_counts(state: DataFrame) -> DataFrame:
    """Weighted adjacent-pair counts: (left, right, pc)."""
    return (
        _with_next(state)
        .where(F.col("nxt").isNotNull())
        .groupBy(F.col("sym").alias("left"), F.col("nxt").alias("right"))
        .agg(F.sum("cnt").alias("pc"))
    )


def merge_pair(state: DataFrame, left: str, right: str) -> DataFrame:
    """Apply one merge (left, right) -> left||right to the symbol state,
    greedy left-to-right within each word.

    Set-at-a-time overlap resolution: match positions that are
    consecutive share a middle symbol, so within each maximal run of
    consecutive matches only the 1st, 3rd, ... apply (gaps-and-islands
    grouping ``pos - row_number()``), which is exactly what sequential
    greedy scanning would do.
    """
    st = _with_next(state)
    matches = st.where(
        (F.col("sym") == left) & (F.col("nxt") == right)
    ).select("word", "pos")
    wrun = Window.partitionBy("word").orderBy("pos")
    runs = matches.withColumn("grp", F.col("pos") - F.row_number().over(wrun))
    wgrp = Window.partitionBy("word", "grp").orderBy("pos")
    sel = (
        runs.withColumn("rn", F.row_number().over(wgrp))
        .where(F.col("rn") % 2 == 1)
        .select("word", "pos", F.lit(1).alias("hit"))
    )
    wpos = Window.partitionBy("word").orderBy("pos")
    joined = (
        st.join(sel, ["word", "pos"], "left")
        .withColumn("prevhit", F.lag("hit").over(wpos))
        .where(F.coalesce(F.col("prevhit"), F.lit(0)) == 0)
        .withColumn(
            "sym",
            F.when(F.col("hit") == 1, F.concat("sym", "nxt")).otherwise(
                F.col("sym")
            ),
        )
    )
    return joined.select(
        "word",
        "cnt",
        (F.row_number().over(wpos) - 1).alias("pos"),
        "sym",
    )


def bpe_train(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Train ``n_merges`` BPE merges on the corpus.

    Returns ``(merges, final_state)`` where merges is a driver-side list
    of (rank, left, right, pair_count) — rank starting at 1 — and
    final_state is the encoded distinct-word symbol table (word, cnt,
    pos, sym), i.e. the training corpus already encoded with the full
    merge list.

    The per-round argmax is a 1-row collect (bounded driver probe);
    training stops early only if no adjacent pairs remain (single-symbol
    words everywhere — degenerate corpora).

    The returned state stays persisted (its localCheckpoint blocks back
    the truncated lineage, so unpersisting it here would orphan the
    plan); it is vocabulary-sized, not corpus-sized — callers that are
    done with it (e.g. after materializing encode_token_counts) may
    ``state.unpersist()``.
    """
    state = initial_state(word_count_table(docs, text_col))
    state = state.persist()
    state = state.localCheckpoint()
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        best = (
            pair_counts(state)
            .orderBy(F.col("pc").desc(), "left", "right")
            .limit(1)
            .collect()
        )
        if not best:
            break
        row = best[0]
        merges.append((rank, row["left"], row["right"], int(row["pc"])))
        nxt_state = merge_pair(state, row["left"], row["right"]).persist()
        nxt_state = nxt_state.localCheckpoint()
        state.unpersist()
        state = nxt_state
    return merges, state


def tokens_per_word(state: DataFrame) -> DataFrame:
    """(word, n_tokens) from a symbol state — the join key for corpus
    token accounting (one row per distinct word, broadcast-friendly)."""
    return state.groupBy("word").agg(F.count(F.lit(1)).alias("n_tokens"))


def encode_token_counts(
    docs: DataFrame,
    state: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document BPE token accounting: explode each doc's words and
    sum the per-word token counts from the trained state.  Output
    (doc_id, n_words, n_tokens).  The word->n_tokens side is the
    distinct vocabulary — small, broadcastable; the corpus side never
    shuffles more than its own explode."""
    doc_words = docs.select(
        id_col,
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(WORD_RE), F.lit(0))
        ).alias("word"),
    )
    per_word = F.broadcast(tokens_per_word(state))
    return (
        doc_words.join(per_word, "word")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_tokens").alias("n_tokens"),
        )
    )
