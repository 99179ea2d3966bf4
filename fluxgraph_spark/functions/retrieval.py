"""BM25 full-text retrieval over a document corpus.

The search-side complement to the dedup/ANN families: tokenize a corpus,
build (term, doc, tf) postings, and rank documents against multi-term
queries with BM25 (Robertson/Sparck Jones; the Okapi/Lucene default
scoring function).  Reference parity note: the reference engine era
serves text lookups through key indexes (FluxGraph key-index lookups,
FluxIndex.java); BM25 postings are the corpus-scale generalization a
training-data pipeline actually needs (retrieval-based decontamination,
nearest-document audits, eval-set attribution).

Determinism contract (why results hash-match an external SQL engine):

* ``+ - * /`` on DOUBLE are IEEE-754 correctly rounded in both Spark
  and DuckDB — any *identical* expression tree over identical inputs is
  bit-identical.  All scoring constants are embedded as ``repr()`` of
  the Python double (both engines parse the same decimal literal to the
  same double), so ``k1 + 1`` etc. can never differ by a rounding.
* The one non-portable primitive is ``ln`` (libm differs in the last
  ulp across engines), so the hash-gated configuration uses the
  RATIONAL idf ``(N - df + 0.5) / (df + 0.5)`` — the exact argument of
  Lucene's ``ln(1 + x)``; per-term document ordering is identical
  (``ln(1+x)`` is monotone), only the cross-term mixing differs.  The
  default ``idf="lucene"`` keeps the textbook scoring for real use and
  is pinned against a scalar reference in pytest instead.
* Floating-point SUM is order-dependent, so per-term scores are
  micro-quantized to integers FIRST (``floor(x * 1e6 + 0.5)``) and the
  per-document total is an exact integer sum — order-independent, like
  the PQ/ADC integer-LUT pattern in similarity.py.

Scale shape (the 100 TB story):

* Ad-hoc ``bm25_topk``: ONE corpus scan.  Tokens are filtered against
  the broadcast query-term set MAP-SIDE before any shuffle, so the only
  aggregation is over matching (doc, term) pairs — a few orders of
  magnitude below corpus token count.  Document length is a narrow
  per-row expression (no second pass), and corpus stats are one
  2-scalar aggregate.
* Repeated queries: :class:`~fluxgraph_spark.sources.text_index.InvertedIndex`
  persists the postings partitioned by a term-hash bucket; a probe
  reads only the query terms' partitions (partition pruning) and,
  within them, row groups matching ``term IN (...)`` (footer stats —
  postings are written sorted by term).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from .text import TOKEN_RE, token_count

MICRO = 1_000_000.0

# Above this many distinct query terms, bm25_topk stops inlining the
# term set as a literal array (O(|terms|) per token + a literal tree
# that bloats planning) and joins the exploded tokens against the
# broadcast term table instead.
BM25_LITERAL_TERMS_MAX = 256


def tokens(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, term) — one row per token occurrence, lowercased."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(TOKEN_RE), F.lit(0))
        ).alias("term"),
    )


def postings(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Full inverted-file rows ``(term, doc_id, tf, dl, df)``.

    ``dl`` (document length) is a narrow per-document expression joined
    back in; ``df`` is the per-term posting count.  This is the build
    input for :class:`InvertedIndex`; ad-hoc queries should prefer
    :func:`bm25_topk`, which prunes to the query terms before grouping.
    """
    tf = tokens(docs, id_col, text_col).groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    dl = docs.select(
        F.col(id_col).alias("doc_id"),
        token_count(F.lower(F.col(text_col))).cast("long").alias("dl"),
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return tf.join(dl, "doc_id").join(df_, "term").select(
        "term", "doc_id", "tf", "dl", "df"
    )


def corpus_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> tuple[int, int]:
    """(n_docs, sum_dl) in one aggregate action (bounded driver probe).

    ``n_docs`` counts ALL documents (empty ones depress avgdl, exactly
    as Lucene computes it)."""
    row = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(token_count(F.lower(F.col(text_col))).cast("long")), F.lit(0)
        ).alias("s"),
    ).collect()[0]
    return int(row["n"]), int(row["s"])


def bm25_term_score(
    tf: Column,
    df: Column,
    dl: Column,
    n_docs: int,
    sum_dl: int,
    k1: float = 1.2,
    b: float = 0.75,
    idf: str = "rational",
) -> Column:
    """Integer-micro BM25 contribution of one (doc, term) posting.

    The expression tree mirrors the SQL oracle operation-for-operation
    (see module docstring); constants are embedded via ``repr`` so both
    engines parse identical decimal literals.
    """
    if n_docs <= 0 or sum_dl <= 0:
        raise ValueError("corpus must contain at least one token")
    avgdl = sum_dl / n_docs  # Python double division == SQL DOUBLE division
    r = dl.cast("double") / F.lit(avgdl)
    den = tf.cast("double") + F.expr(repr(k1)) * (
        F.expr(repr(1.0 - b)) + F.expr(repr(b)) * r
    )
    num = tf.cast("double") * F.expr(repr(k1 + 1.0))
    rational = ((F.lit(n_docs) - df).cast("double") + F.lit(0.5)) / (
        df.cast("double") + F.lit(0.5)
    )
    if idf == "rational":
        idf_c = rational
    elif idf == "lucene":
        idf_c = F.log1p(rational)
    else:
        raise ValueError(f"unknown idf kind: {idf!r} (use 'rational' or 'lucene')")
    return F.floor((idf_c * num) / den * F.lit(MICRO) + F.lit(0.5)).cast("long")


def _joined_tokens(text: Column) -> Column:
    """``' tok1 tok2 ... '`` — the doc's token stream as ONE delimited
    string (leading/trailing space so every token boundary is a space,
    including the first and last)."""
    return F.concat(
        F.lit(" "),
        F.array_join(
            F.regexp_extract_all(F.lower(text), F.lit(TOKEN_RE), F.lit(0)), " "
        ),
        F.lit(" "),
    )


def phrase_hits(
    docs: DataFrame,
    phrases: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact token-SEQUENCE matching — the exact-substring tier of
    benchmark decontamination (fingerprint tiers like
    ``dedup.contamination_hits`` match n-gram SETS; an eval prompt
    quoted verbatim inside a larger document is a consecutive-token
    fact).  ``phrases`` is ``(phrase_id, phrase)``; returns
    ``(phrase_id, doc_id, n_hits)`` for every document containing each
    phrase's token sequence at least once.

    Matching is on NORMALIZED token streams (lowercased, whitespace
    tokenization on both sides), so formatting differences don't hide a
    quote.  Both sides render to space-delimited strings with sentinel
    boundary spaces and match with LITERAL ``instr``/``replace`` — no
    regex, so phrase text can never inject metacharacters.  ``n_hits``
    counts NON-overlapping occurrences (greedy left-to-right `replace`
    arithmetic — identical semantics in Spark and ANSI SQL, which is
    what makes the op hash-replayable).  Empty/blank phrases match
    nothing.

    Scale shape: ONE corpus scan; the (tiny) phrase table broadcasts
    and each doc evaluates |phrases| literal scans of its own token
    string map-side — no shuffle at all.  For large phrase books,
    prune candidates first with
    :meth:`~fluxgraph_spark.sources.text_index.InvertedIndex.phrase_hits`
    (postings-pruned AND-of-terms candidates, then this exact verify).
    """
    pat = phrases.select(
        "phrase_id",
        _joined_tokens(F.col("phrase")).alias("__pat"),
    ).where(F.col("__pat") != F.lit("  "))
    joined = docs.select(
        F.col(id_col).alias("doc_id"),
        _joined_tokens(F.col(text_col)).alias("__doc"),
    )
    hit = joined.crossJoin(F.broadcast(pat)).where(
        F.instr(F.col("__doc"), F.col("__pat")) > 0
    )
    # replace() removes the FULL padded pattern (both sentinel spaces),
    # so immediately-adjacent repeats — which share one boundary space —
    # count once per removal: greedy non-overlapping semantics,
    # identical in Spark and ANSI SQL.  The length delta is an exact
    # multiple of len(pat), so the division is integer-valued.
    return hit.select(
        "phrase_id",
        "doc_id",
        (
            (
                F.length(F.col("__doc"))
                - F.length(F.replace(F.col("__doc"), F.col("__pat")))
            )
            / F.length(F.col("__pat"))
        )
        .cast("long")
        .alias("n_hits"),
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    idf: str = "rational",
    stats: Optional[tuple[int, int]] = None,
) -> DataFrame:
    """Top-``k`` documents per query by BM25.

    ``queries`` is ``(query_id, term)`` — one row per query term
    (duplicate terms in one query count once, as Lucene's boolean
    query does).  Returns ``(query_id, doc_id, score_micro, rank)``,
    rank ties broken by ``doc_id`` (deterministic).

    ``doc_id`` must be unique in ``docs``.  The literal-array plan keeps
    one row per input row while the broadcast-join plan used past
    ``BM25_LITERAL_TERMS_MAX`` query terms groups by ``doc_id``, so rows
    sharing an id would score differently depending on the query
    vocabulary size.

    Plan shape (r12): ONE corpus scan computes, per document, the token
    count AND the query-term-matched tokens (the query-term set is
    bounded by contract — it already broadcast in the join form — so
    the match test runs as a literal-array membership INSIDE the scan,
    map-side, before any shuffle).  ``dl`` rides the matched postings
    out of the same scan, so the separate document-length pass and its
    join are gone; ``df`` falls out of the matched postings themselves
    (a term's matched-posting count IS its corpus df).  The tiny
    matched-postings table is checkpointed once — it feeds both the df
    aggregation and the scoring join, which under AQE would otherwise
    re-run the corpus scan per consumer."""
    from .text import let_

    q = queries.select("query_id", F.col("term").alias("term")).distinct()
    # null terms can never match a token; the pre-r12 broadcast join
    # dropped them silently, so the literal path must too
    term_list = sorted(
        {r["term"] for r in q.select("term").distinct().collect() if r["term"] is not None}
    )
    toks = F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit(TOKEN_RE), F.lit(0)
    )
    # the per-document decision rows: token count + matched tokens only
    # (a few tens of bytes per document — the corpus text never appears
    # again past this scan).  Checkpointed once; the corpus stats, the
    # matched postings and the df aggregation all read it back.
    if len(term_list) <= BM25_LITERAL_TERMS_MAX:
        # bounded vocabulary (the registry contract): membership as a
        # literal array INSIDE the scan — map-side, zero extra shuffle
        if term_list:
            terms_lit = F.array(*[F.lit(t) for t in term_list])
            match = lambda x: F.array_contains(terms_lit, x)  # noqa: E731
        else:
            match = lambda x: F.lit(False)  # noqa: E731
        pre = docs.select(
            F.col(id_col).alias("doc_id"),
            let_(
                toks,
                lambda t: F.struct(
                    F.size(t).cast("long").alias("dl"),
                    F.filter(t, match).alias("matched"),
                ),
            ).alias("s"),
        ).select(
            "doc_id", F.col("s.dl").alias("dl"), F.col("s.matched").alias("matched")
        )
    else:
        # large query vocabulary: a literal expression tree would bloat
        # planning and per-token cost grows O(|terms|) — fall back to a
        # broadcast hash join on the exploded tokens (the pre-r12 plan
        # shape) and rebuild the same (doc_id, dl, matched) rows.
        # explode_outer keeps zero-token documents so corpus stats still
        # count every doc; collect_list drops the unmatched (null) slots
        # and is order-insensitive downstream (explode + count).
        qt = q.select("term").distinct().withColumn("__m", F.lit(True))
        pre = (
            docs.select(
                F.col(id_col).alias("doc_id"),
                F.size(toks).cast("long").alias("dl"),
                F.explode_outer(toks).alias("term"),
            )
            .join(F.broadcast(qt), "term", "left")
            .groupBy("doc_id")
            .agg(
                F.min("dl").alias("dl"),
                F.collect_list(F.when(F.col("__m"), F.col("term"))).alias("matched"),
            )
        )
    # escapes through the lazy result frame — blocks freed by the
    # ContextCleaner when the caller drops the result's lineage
    pre = pre.localCheckpoint(eager=True)
    if stats is not None:
        n_docs, sum_dl = stats
    else:
        # same arithmetic as corpus_stats, off the checkpointed rows:
        # count ALL documents, sum the (null-skipping) token counts
        row = pre.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum("dl"), F.lit(0)).alias("s"),
        ).collect()[0]
        n_docs, sum_dl = int(row["n"]), int(row["s"])
    tf = (
        pre.select("doc_id", "dl", F.explode("matched").alias("term"))
        .groupBy("doc_id", "term")
        # dl is constant within a document, so min == the value
        .agg(F.count(F.lit(1)).alias("tf"), F.min("dl").alias("dl"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(df_, "term")
        .join(F.broadcast(q), "term")
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum(
                bm25_term_score(
                    F.col("tf"), F.col("df"), F.col("dl"), n_docs, sum_dl, k1, b, idf
                )
            ).alias("score_micro")
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("score_micro").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "doc_id", "score_micro", "rank")
    )
