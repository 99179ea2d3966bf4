"""BPE tokenizer training/encoding vs a scalar greedy reference.

The distributed trainer (functions/bpe.py) must match a sequential
pure-Python BPE — word-frequency training, greedy left-to-right merge
application, (count DESC, pair ASC) argmax tie-break — symbol for
symbol, on corpora chosen to exercise overlap runs ('aaaa'), ties, and
the end-of-word marker.
"""

import pytest

from fluxgraph_spark.functions import bpe


# ---------------------------------------------------------------------------
# scalar reference
# ---------------------------------------------------------------------------

def _ref_apply(syms, left, right):
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _ref_train(word_counts, n_merges):
    state = {w: list(w) + [bpe.END_OF_WORD] for w in word_counts}
    merges = []
    for rank in range(1, n_merges + 1):
        pc = {}
        for w, syms in state.items():
            c = word_counts[w]
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] = pc.get((a, b), 0) + c
        if not pc:
            break
        (left, right), cnt = sorted(
            pc.items(), key=lambda kv: (-kv[1], kv[0])
        )[0]
        merges.append((rank, left, right, cnt))
        state = {w: _ref_apply(s, left, right) for w, s in state.items()}
    return merges, state


def _state_dict(state_df):
    rows = state_df.orderBy("word", "pos").collect()
    out = {}
    for r in rows:
        out.setdefault(r["word"], []).append(r["sym"])
    return out


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


WORDS_RE_TEXTS = [
    "low low low lower lower newest newest newest newest widest",
    "widest widest newest the cat sat on the mat the cat",
    "aaaa aaaa aab banana bandana",
]


def _ref_word_counts(texts):
    import re

    wc = {}
    for t in texts:
        for w in re.findall(r"[a-z0-9]+", t.lower()):
            wc[w] = wc.get(w, 0) + 1
    return wc


# ---------------------------------------------------------------------------
# tests
# ---------------------------------------------------------------------------

def test_merge_overlap_run_is_greedy(spark):
    """'aaaa' + merge (a,a) -> [aa, aa, </w>]: overlap runs resolve
    left-to-right, not all-positions."""
    words = spark.createDataFrame([("aaaa", 1)], "word string, cnt long")
    state = bpe.initial_state(words)
    merged = _state_dict(bpe.merge_pair(state, "a", "a"))
    assert merged == {"aaaa": ["aa", "aa", bpe.END_OF_WORD]}
    # second application: (aa,aa) merge collapses the pair
    again = _state_dict(
        bpe.merge_pair(bpe.merge_pair(state, "a", "a"), "aa", "aa")
    )
    assert again == {"aaaa": ["aaaa", bpe.END_OF_WORD]}


def test_train_matches_scalar_reference(spark):
    texts = WORDS_RE_TEXTS
    merges, final_state = bpe.bpe_train(_docs(spark, texts), n_merges=12)
    ref_merges, ref_state = _ref_train(_ref_word_counts(texts), 12)
    assert merges == ref_merges
    assert _state_dict(final_state) == ref_state


def test_encode_token_counts(spark):
    texts = ["low low lower", "newest widest low"]
    docs = _docs(spark, texts)
    merges, final_state = bpe.bpe_train(docs, n_merges=5)
    got = {
        r["doc_id"]: (r["n_words"], r["n_tokens"])
        for r in bpe.encode_token_counts(docs, final_state).collect()
    }
    _, ref_state = _ref_train(_ref_word_counts(texts), 5)
    import re

    exp = {}
    for i, t in enumerate(texts):
        ws = re.findall(r"[a-z0-9]+", t.lower())
        exp[i] = (len(ws), sum(len(ref_state[w]) for w in ws))
    assert got == exp


def test_train_stops_when_no_pairs(spark):
    """Degenerate corpus: single-char words exhaust after few merges
    (each word is [c, </w>]; once merged there are no adjacent pairs)."""
    docs = _docs(spark, ["a b c a b a"])
    merges, final_state = bpe.bpe_train(docs, n_merges=50)
    assert len(merges) == 3  # one merge per distinct single-char word
    assert all(
        len(syms) == 1 for syms in _state_dict(final_state).values()
    )
