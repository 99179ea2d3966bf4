"""Seeded input generators for the four workloads.  The same seed gives
byte-identical inputs (``digest`` hashes a generator's output so the
tests can pin that); the engine only ever sees the generated inputs."""

from __future__ import annotations

import datetime
import hashlib
import json
import random

import numpy as np

T0 = datetime.datetime(2020, 1, 1)


def digest(obj) -> str:
    """sha256 over a canonical byte form of generator output (numpy
    arrays by their raw bytes, everything else as sorted JSON)."""
    h = hashlib.sha256()

    def feed(o):
        if isinstance(o, np.ndarray):
            h.update(str(o.dtype).encode())
            h.update(np.ascontiguousarray(o).tobytes())
        elif isinstance(o, dict):
            for k in sorted(o):
                h.update(str(k).encode())
                feed(o[k])
        else:
            h.update(json.dumps(o, default=str).encode())

    feed(obj)
    return h.hexdigest()


def zipf_weights(n: int, s: float) -> list[float]:
    """Cumulative Zipf(s) weights over ranks 0..n-1."""
    acc, out = 0.0, []
    for r in range(n):
        acc += 1.0 / (r + 1) ** s
        out.append(acc)
    return out


# --------------------------------------------------------------------------
# oltp_timetravel
# --------------------------------------------------------------------------

OLTP = {
    "vertices": 300,
    "edges": 900,
    "updates": 1500,
    "zipf_s": 1.1,
    "backdate_share": 0.2,
    "labels": ["knows", "created", "likes"],
    "write_step_s": 60,
}


def oltp_build(seed: int, p: dict = OLTP) -> dict:
    """The initial graph as a write script over vertex *ordinals*
    (creation order), plus the Zipf hot-rank permutation.  Writes carry
    explicit transaction times; a ``backdate_share`` of updates is
    backdated out of order to a uniformly drawn earlier time."""
    rng = random.Random(seed)
    n = p["vertices"]
    hot = list(range(n))
    rng.shuffle(hot)  # hot[r] = ordinal of the vertex with Zipf rank r
    cum = zipf_weights(n, p["zipf_s"])
    step = datetime.timedelta(seconds=p["write_step_s"])
    clock = T0
    script = []

    def when(backdatable: bool):
        nonlocal clock
        clock += step
        if backdatable and rng.random() < p["backdate_share"]:
            return T0 + (clock - T0) * rng.random()
        return clock

    for i in range(n):
        script.append(("v", i, when(False)))
        script.append(("pv", i, "name", f"v{i}", when(False)))
    for _ in range(p["edges"]):
        src = hot[rng.choices(range(n), cum_weights=cum)[0]]
        dst = rng.randrange(n)
        script.append(("e", src, dst, rng.choice(p["labels"]), when(False)))
    for _ in range(p["updates"]):
        v = hot[rng.choices(range(n), cum_weights=cum)[0]]
        script.append(("pv", v, "score", rng.randrange(1_000_000), when(True)))
    return {"script": script, "hot": hot, "clock": clock}


# --------------------------------------------------------------------------
# graph_asof_olap
# --------------------------------------------------------------------------


def tpch_sizes(sf: float) -> dict:
    """TPC-H cardinalities at scale factor ``sf`` (the dbgen row counts
    per unit of SF; lineitem follows from 1-7 lines per order, partsupp
    from 4 suppliers per part)."""
    return {"scale_factor": sf, "regions": 5, "nations": 25,
            "customers": round(150_000 * sf), "suppliers": round(10_000 * sf),
            "parts": round(200_000 * sf), "orders": round(1_500_000 * sf),
            "lines_per_order": [1, 7], "suppliers_per_part": 4}


# SF 0.01: about 85k edges (60k contains), a tenth of the SF 0.1 graph's 850k
OLAP = {
    **tpch_sizes(0.01),
    "change_txs": 12,
    "customer_updates_per_tx": 60,
    "order_updates_per_tx": 80,
    "contains_closed_per_tx": 150,
    "contains_reopened_per_tx": 80,
    "backdated_txs": 2,
}
REGION, NATION, CUSTOMER, SUPPLIER, PART, ORDER = 0, 100, 1_000, 100_000, 200_000, 1_000_000
EDGE_BASE = 10_000_000


def olap_graph(seed: int, p: dict = OLAP) -> dict:
    """A TPC-H-shaped property graph with SCD2 history: tx 1 loads it,
    change txs 2..K+1 update customer balances and order prices (close
    the open version, open a new one) and close and reopen ``contains``
    edges.  A few change txs carry out-of-order (backdated) times.
    Returns column arrays for vertices, edges and tx_log."""
    rng = np.random.default_rng(seed)
    nr, nn, nc, ns, np_, no = (p[k] for k in ("regions", "nations", "customers",
                                                 "suppliers", "parts", "orders"))
    kinds = (["region"] * nr + ["nation"] * nn + ["customer"] * nc + ["supplier"] * ns
             + ["part"] * np_ + ["order"] * no)
    vid = np.concatenate([REGION + np.arange(nr), NATION + np.arange(nn),
                          CUSTOMER + np.arange(nc), SUPPLIER + np.arange(ns),
                          PART + np.arange(np_), ORDER + np.arange(no)]).astype(np.int64)
    names = ([f"region{i}" for i in range(nr)] + [f"nation{i}" for i in range(nn)]
             + [f"cust{i}" for i in range(nc)] + [f"supp{i}" for i in range(ns)]
             + [f"part{i}" for i in range(np_)] + [None] * no)
    nation_of = rng.integers(0, nn, nc + ns)
    nationkey = np.full(vid.size, -1, np.int64)
    nationkey[nr + nn: nr + nn + nc + ns] = nation_of
    acct = np.full(vid.size, -1, np.int64)
    acct[nr + nn: nr + nn + nc] = rng.integers(-99_900, 999_900, nc)
    price = np.full(vid.size, -1, np.int64)
    price[-no:] = rng.integers(100_000, 50_000_000, no)

    cust_of_order = rng.integers(0, nc, no)
    lines = rng.integers(p["lines_per_order"][0], p["lines_per_order"][1] + 1, no)
    c_src = np.repeat(np.arange(no), lines)
    c_dst = rng.integers(0, np_, c_src.size)
    sp = rng.integers(0, ns, (np_, p["suppliers_per_part"]))
    e_src = np.concatenate([
        ORDER + np.arange(no),                       # placed_by
        ORDER + c_src,                               # contains
        np.repeat(PART + np.arange(np_), p["suppliers_per_part"]),  # supplied_by
        CUSTOMER + np.arange(nc), SUPPLIER + np.arange(ns),          # located_in
        NATION + np.arange(nn),                      # part_of
    ]).astype(np.int64)
    e_dst = np.concatenate([
        CUSTOMER + cust_of_order, PART + c_dst, SUPPLIER + sp.ravel(),
        NATION + nation_of[:nc], NATION + nation_of[nc:], REGION + rng.integers(0, nr, nn),
    ]).astype(np.int64)
    labels = (["placed_by"] * no + ["contains"] * c_src.size
              + ["supplied_by"] * sp.size + ["located_in"] * (nc + ns) + ["part_of"] * nn)
    e_id = EDGE_BASE + np.arange(e_src.size, dtype=np.int64)
    qty = np.full(e_src.size, -1, np.int64)
    qty[no: no + c_src.size] = rng.integers(1, 51, c_src.size)
    n_contains = c_src.size

    # version rows: base rows (tx_from 1), then appended change rows
    v_rows = {"id": list(vid), "kind__string": kinds, "name__string": names,
              "nationkey__long": list(nationkey), "acctbal__long": list(acct),
              "totalprice__long": list(price), "tx_from": [1] * vid.size,
              "tx_to": [None] * vid.size}
    e_rows = {"id": list(e_id), "src": list(e_src), "dst": list(e_dst), "label": labels,
              "quantity__long": list(qty), "tx_from": [1] * e_id.size,
              "tx_to": [None] * e_id.size}
    v_open = {int(v): i for i, v in enumerate(vid)}
    e_open = {int(e): i for i, e in enumerate(e_id)}
    closed_contains: list[int] = []
    log_tx, log_el, log_prev, log_kind = [1] * (vid.size + e_id.size), list(vid) + list(e_id), \
        [None] * (vid.size + e_id.size), ["vertex"] * vid.size + ["edge"] * e_id.size
    k = p["change_txs"]
    times = [T0 + datetime.timedelta(days=d) for d in range(k + 1)]
    back = rng.choice(np.arange(3, k + 1), p["backdated_txs"], replace=False)
    for b in back:  # out of order: earlier than the tx before it
        times[b] = times[b - 1] - datetime.timedelta(hours=12)
    contains_ids = e_id[no: no + n_contains]

    def new_version(rows, open_map, el, tx, **vals):
        i = open_map[el]
        rows["tx_to"][i] = tx
        for col in rows:
            rows[col].append(rows[col][i])
        j = len(rows["id"]) - 1
        rows["tx_from"][j], rows["tx_to"][j] = tx, None
        for col, v in vals.items():
            rows[col][j] = v
        open_map[el] = j
        return rows["tx_from"][i]

    for tx in range(2, k + 2):
        def log(el, prev, kind):
            log_tx.append(tx)
            log_el.append(el)
            log_prev.append(prev)
            log_kind.append(kind)

        for c in rng.choice(nc, p["customer_updates_per_tx"], replace=False):
            el = CUSTOMER + int(c)
            log(el, new_version(v_rows, v_open, el, tx,
                                acctbal__long=int(rng.integers(-99_900, 999_900))), "vertex")
        for o in rng.choice(no, p["order_updates_per_tx"], replace=False):
            el = ORDER + int(o)
            log(el, new_version(v_rows, v_open, el, tx,
                                totalprice__long=int(rng.integers(100_000, 50_000_000))), "vertex")
        reopen = closed_contains[: p["contains_reopened_per_tx"]]
        del closed_contains[: len(reopen)]
        for el in rng.choice(contains_ids, p["contains_closed_per_tx"], replace=False):
            el = int(el)
            i = e_open.get(el)
            if i is None or e_rows["tx_to"][i] is not None:
                continue
            e_rows["tx_to"][i] = tx
            closed_contains.append(el)
            log(el, e_rows["tx_from"][i], "edge")
        for el in reopen:
            i = e_open[el]
            for col in e_rows:
                e_rows[col].append(e_rows[col][i])
            j = len(e_rows["id"]) - 1
            e_rows["tx_from"][j], e_rows["tx_to"][j] = tx, None
            e_open[el] = j
            log(el, e_rows["tx_to"][i], "edge")
    # -1 marks "no value" in the generator; the tables carry NULLs
    for rows, cols in ((v_rows, ("nationkey__long", "acctbal__long", "totalprice__long")),
                       (e_rows, ("quantity__long",))):
        for col in cols:
            rows[col] = [None if x == -1 else int(x) for x in rows[col]]
    for rows in (v_rows, e_rows):
        for col in ("id", "src", "dst", "tx_from"):
            if col in rows:
                rows[col] = [int(x) for x in rows[col]]
    tx_log = {"tx_id": log_tx, "tx_time": [times[t - 1] for t in log_tx],
              "element_id": [int(x) for x in log_el], "prev_tx_id": log_prev,
              "kind": log_kind}
    return {"vertices": v_rows, "edges": e_rows, "tx_log": tx_log, "tx_times": times}


# --------------------------------------------------------------------------
# corpus_ingest
# --------------------------------------------------------------------------

CORPUS = {
    "vocab": 4000,
    "zipf_s": 1.05,
    "doc_tokens": [60, 100],
    "topics": 40,
    "dim": 32,
    "topic_noise": 0.35,
    "base_docs": 1500,
    "batch_docs": 300,
    "batches": 20,
    "planted_per_batch": 20,
    "intra_batch_dups": 10,
    "edits_per_dup": 2,
}


def _word(i: int) -> str:
    s = ""
    i += 26 * 26
    while i:
        i, r = divmod(i, 26)
        s = chr(97 + r) + s
    return s


def corpus(seed: int, p: dict = CORPUS) -> dict:
    """Documents (Zipf word streams) with topic-clustered embeddings: a
    base corpus to index, then ``batches`` arrival batches, each holding
    fresh docs, ``planted_per_batch`` near-duplicates of base docs (a few
    tokens edited, embedding nudged) and ``intra_batch_dups``
    near-duplicates of fresh docs in the same batch."""
    rng = np.random.default_rng(seed)
    vocab = np.array([_word(i) for i in range(p["vocab"])])
    w = 1.0 / np.arange(1, p["vocab"] + 1) ** p["zipf_s"]
    w /= w.sum()
    cents = rng.normal(size=(p["topics"], p["dim"]))
    lo, hi = p["doc_tokens"]

    def fresh(n):
        toks = [rng.choice(p["vocab"], rng.integers(lo, hi + 1), p=w) for _ in range(n)]
        topic = rng.integers(0, p["topics"], n)
        emb = cents[topic] + p["topic_noise"] * rng.normal(size=(n, p["dim"]))
        return toks, emb

    def near_dup(toks, emb):
        t = toks.copy()
        t[rng.choice(t.size, p["edits_per_dup"], replace=False)] = rng.integers(
            0, p["vocab"], p["edits_per_dup"])
        return t, emb + 1e-3 * rng.normal(size=emb.shape)

    base_toks, base_emb = fresh(p["base_docs"])
    ids, toks, embs, planted = list(range(p["base_docs"])), list(base_toks), [base_emb], []
    batches = []
    nxt = p["base_docs"]
    for _ in range(p["batches"]):
        n_fresh = p["batch_docs"] - p["planted_per_batch"] - p["intra_batch_dups"]
        b_toks, b_emb = fresh(n_fresh)
        b_ids = list(range(nxt, nxt + n_fresh))
        b_planted = []
        for j, o in enumerate(rng.choice(p["base_docs"], p["planted_per_batch"], replace=False)):
            t, e = near_dup(base_toks[o], base_emb[o])
            b_toks.append(t)
            b_emb = np.vstack([b_emb, e])
            b_ids.append(nxt + n_fresh + j)
            b_planted.append((int(o), b_ids[-1]))
        for j, o in enumerate(rng.choice(n_fresh, p["intra_batch_dups"], replace=False)):
            t, e = near_dup(b_toks[o], b_emb[o])
            b_toks.append(t)
            b_emb = np.vstack([b_emb, e])
            b_ids.append(nxt + p["batch_docs"] - p["intra_batch_dups"] + j)
        nxt += p["batch_docs"]
        batches.append({"ids": b_ids, "planted": b_planted, "fresh": b_ids[:n_fresh],
                        "text": [" ".join(vocab[t]) for t in b_toks],
                        "emb": b_emb.astype(np.float64)})
        ids += b_ids
        toks += b_toks
        embs.append(b_emb)
        planted += b_planted
    text = [" ".join(vocab[t]) for t in toks]
    return {"ids": ids, "text": text, "emb": np.vstack(embs), "base": p["base_docs"],
            "batches": batches, "planted": planted, "vocab": vocab, "weights": w}


# --------------------------------------------------------------------------
# scd2_commit
# --------------------------------------------------------------------------

SCD2 = {
    "keys": 3000,
    "batch_rows": 300,
    "batches": 60,
    "zipf_s": 1.1,
    "late_share": 0.2,
    "statuses": ["new", "open", "hold", "closed"],
    "window_s": 3600,
}


def scd2_batches(seed: int, p: dict = SCD2) -> dict:
    """Change batches shaped like events: batch 0 holds one event per key;
    later batches draw keys Zipf-skewed (hot keys, so hot buckets) with
    event times inside the batch's own window, except a ``late_share``
    that arrives late, carrying a time from any earlier window.  Event
    times are unique per key (to the microsecond), so the as-of answer
    is unambiguous."""
    rng = np.random.default_rng(seed)
    n, win = p["keys"], p["window_s"] * 1_000_000
    cum = np.cumsum(1.0 / np.arange(1, n + 1) ** p["zipf_s"])
    cum /= cum[-1]
    hot = rng.permutation(n)
    t0 = int(T0.timestamp() * 1_000_000)
    seen: set = set()

    def stamp(lo, hi):
        while True:
            t = int(rng.integers(lo, hi))
            if t not in seen:
                seen.add(t)
                return t

    batches = []
    for b in range(p["batches"] + 1):
        if b == 0:
            keys = np.arange(n)
        else:
            keys = hot[np.searchsorted(cum, rng.random(p["batch_rows"]))]
        ts = []
        for _ in keys:
            late = b > 1 and rng.random() < p["late_share"]
            lo = t0 + (rng.integers(0, b - 1) * win if late else b * win)
            ts.append(stamp(lo, lo + win))
        batches.append({
            "key": keys.astype(np.int64),
            "ts": np.array(ts, dtype="datetime64[us]"),
            "amount": rng.integers(0, 1_000_000, keys.size).astype(np.int64),
            "status": np.array(p["statuses"])[rng.integers(0, len(p["statuses"]), keys.size)],
        })
    return {"batches": batches, "hot": hot}
