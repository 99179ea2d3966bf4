"""corpus_ingest: the LLM-pipeline layers with index writes beside probes.

A persisted DedupIndex, DeltaInvertedIndex and DeltaIvfIndex are built
over the base corpus; arrival batches are probed against the dedup index
(``read``), then their survivors are appended to all three indexes
(``write``).  BM25 and IVF top-k probes run between batches (``read``),
and whole-crawl MinHash-LSH and semantic IVF passes run periodically
(``batch``).  The whole crawl is past the LSH driver-verify gram cap;
each arrival batch is under it, so the per-batch LSH pass runs the
driver tier and the whole-crawl pass the distributed one.

Checks: planted near-duplicates of indexed docs are dropped and fresh
docs kept; BM25 finds the doc a query was drawn from; IVF recall@10
against a numpy brute force; LSH and semantic passes recover the planted
pairs."""

from __future__ import annotations

import io
import itertools
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import layers
from harness import Op, WriteMeter, dir_bytes

PARAMS = dict(gen.CORPUS, bm25_terms=3, ivf_k=10, ivf_probe=4,
              min_planted_yield=0.9, lsh_threshold=0.5, index_buckets=8, ivf_lists=32)

CYCLE = ["probe", "bm25", "ivf", "append_dedup", "append_text", "append_ivf",
         "lsh_batch", "lsh_full", "semantic"]
CLASS = {"probe": "read", "bm25": "read", "ivf": "read", "append_dedup": "write",
         "append_text": "write", "append_ivf": "write", "lsh_batch": "batch",
         "lsh_full": "batch", "semantic": "batch"}


def grams(text: str, n: int = 3) -> set:
    t = text.lower().split()
    return {" ".join(t[i:i + n]) for i in range(max(len(t) - n + 1, 1))}


def parquet_bytes(table: pa.Table) -> int:
    buf = io.BytesIO()
    pq.write_table(table, buf)
    return buf.tell()


def docs_table(ids, text, emb) -> pa.Table:
    return pa.table({"id": pa.array(ids, pa.int64()), "text": pa.array(text, pa.string()),
                     "embedding": pa.array(list(emb), pa.list_(pa.float64()))})


class State:
    pass


def setup(spark, seed: int, work: str) -> State:
    from fluxgraph_spark.sources.ann_index import DeltaIvfIndex
    from fluxgraph_spark.sources.bucketed import DedupIndex
    from fluxgraph_spark.sources.text_index import DeltaInvertedIndex

    st = State()
    st.spark, st.work, st.rng = spark, work, random.Random(seed * 7919 + 3)
    c = gen.corpus(seed)
    st.c = c
    nb = c["base"]
    os.makedirs(work)
    st.crawl_dir = os.path.join(work, "crawl")
    os.makedirs(st.crawl_dir)
    pq.write_table(docs_table(c["ids"], c["text"], c["emb"]),
                   os.path.join(st.crawl_dir, "part-0.parquet"))
    st.docs_dir = os.path.join(work, "docs")
    os.makedirs(st.docs_dir)
    base = docs_table(c["ids"][:nb], c["text"][:nb], c["emb"][:nb])
    pq.write_table(base, os.path.join(st.docs_dir, "part-base.parquet"))
    base_df = spark.createDataFrame(base.to_pandas())
    st.prefix = f"pb_dedup_{os.path.basename(work)}"
    st.dedup = DedupIndex.build(base_df, "id", "text", st.prefix,
                                n_buckets=PARAMS["index_buckets"])
    st.text_dir = os.path.join(work, "text_index")
    DeltaInvertedIndex.build(base_df.withColumnRenamed("id", "doc_id"), st.text_dir,
                             n_buckets=PARAMS["index_buckets"])
    st.text = DeltaInvertedIndex(spark, st.text_dir)
    st.ivf_dir = os.path.join(work, "ivf_index")
    DeltaIvfIndex.build(base_df.withColumnRenamed("id", "vec_id"), st.ivf_dir,
                        n_centroids=PARAMS["ivf_lists"])
    st.ivf = DeltaIvfIndex(spark, st.ivf_dir)
    st.idx_ids = list(c["ids"][:nb])
    st.idx_text = list(c["text"][:nb])
    st.idx_emb = [c["emb"][:nb]]
    wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
    st.meter = WriteMeter(os.path.join(wh, f"{st.prefix}_hashes"),
                          os.path.join(wh, f"{st.prefix}_bands"), st.text_dir, st.ivf_dir)
    st.user_bytes = 0
    st.batch_no = 0
    st.survivors = None
    return st


def teardown(st: State) -> None:
    for t in ("hashes", "bands"):
        st.spark.sql(f"DROP TABLE IF EXISTS {st.prefix}_{t}")
    shutil.rmtree(st.work, ignore_errors=True)


def finish(st: State) -> dict:
    st.meter.snapshot()
    on_disk = sum(dir_bytes(d)[0] for d in st.meter.dirs)
    live = parquet_bytes(docs_table(st.idx_ids, st.idx_text, np.vstack(st.idx_emb)))
    return {"write_amp": st.meter.bytes_written / max(st.user_bytes, 1),
            "space_amp": on_disk / live, "index_bytes": on_disk, "live_parquet_bytes": live}


def cycles(st: State):
    """Op cycles; ops are built lazily, after the previous op's check."""
    for _ in itertools.count():
        yield (make_op(st, name) for name in CYCLE)


def make_op(st: State, name: str) -> Op:  # noqa: C901 — one branch per op kind
    from pyspark.sql import functions as F

    from fluxgraph_spark.functions import dedup as DD

    spark, rng, cls, c = st.spark, st.rng, CLASS[name], st.c
    if name == "probe":
        b = c["batches"][st.batch_no % len(c["batches"])]
        st.batch_no += 1
        st.batch = b
        batch_df = spark.createDataFrame(
            docs_table(b["ids"], b["text"], b["emb"]).to_pandas())
        st.batch_df = batch_df

        def run():
            corpus = spark.read.parquet(st.docs_dir).select("id", "text")
            with layers.layer("bucketed.dedupe_batch"):
                return sorted(r[0] for r in st.dedup.dedupe_batch(
                    batch_df, corpus, "id", "text").select("id").collect())

        def check(r):
            st.survivors = r
            kept = set(r)
            found = sum(1 for _, d in b["planted"] if d not in kept)
            layers.count("bucketed.planted", len(b["planted"]))
            layers.count("bucketed.planted_found", found)
            lost = [i for i in b["fresh"] if i not in kept]
            if lost:
                return f"probe: fresh docs dropped: {lost[:10]}"
            if found < PARAMS["min_planted_yield"] * len(b["planted"]):
                return f"probe: found {found}/{len(b['planted'])} planted duplicates"
            return None

        return Op(cls, name, run, check)
    if name.startswith("append_"):
        keep = set(st.survivors or [])
        b = st.batch
        pos = [i for i, x in enumerate(b["ids"]) if x in keep]
        sdf = st.batch_df.where(F.col("id").isin(sorted(keep)))
        bid = st.batch_no

        if name == "append_dedup":
            surv = docs_table([b["ids"][i] for i in pos], [b["text"][i] for i in pos],
                              b["emb"][pos])
            pq.write_table(surv, os.path.join(st.docs_dir, f"part-{bid}.parquet"))
            st.idx_ids += surv.column("id").to_pylist()
            st.idx_text += surv.column("text").to_pylist()
            st.idx_emb.append(b["emb"][pos])
            st.user_bytes += parquet_bytes(surv)

        span = {"append_dedup": "bucketed.append", "append_text": "text_index.append_batch",
                "append_ivf": "ann_index.append_batch"}[name]

        def run():
            with layers.layer(span):
                if name == "append_dedup":
                    st.dedup.append(sdf, "id", "text")
                elif name == "append_text":
                    st.text.append_batch(sdf.withColumnRenamed("id", "doc_id"), bid)
                else:
                    st.ivf.append_batch(sdf.withColumnRenamed("id", "vec_id"), bid)

        def check(_r):
            r = st.meter.snapshot()
            key = {"append_dedup": "bucketed.append", "append_text": "text_index.append",
                   "append_ivf": "ann_index.append"}[name]
            layers.count(key + ".calls")
            layers.count(key + ".bytes", r[0])
            return None if r[0] > 0 else f"{name}: nothing written"

        return Op(cls, name, run, check)
    if name == "bm25":
        j = rng.randrange(len(st.idx_ids))
        doc, toks = st.idx_ids[j], st.idx_text[j].split()
        vocab_rank = {w: i for i, w in enumerate(c["vocab"])}
        terms = sorted(set(toks), key=lambda w: -vocab_rank[w])[:PARAMS["bm25_terms"]]
        q = spark.createDataFrame([(1, t) for t in terms], "query_id long, term string")

        def run():
            with layers.layer("text_index.topk"):
                return [tuple(r) for r in st.text.topk(q, k=10).select(
                    "doc_id", "score_micro").collect()]

        def check(r):
            if not 0 < len(r) <= 10:
                return f"bm25: {len(r)} rows"
            return None if doc in {x[0] for x in r} else f"bm25: doc {doc} not in top 10"

        return Op(cls, name, run, check)
    if name == "ivf":
        emb = np.vstack(st.idx_emb)
        j = rng.randrange(len(st.idx_ids))
        qv = emb[j] + 0.05 * np.random.default_rng(rng.randrange(2**32)).normal(size=emb.shape[1])
        q = spark.createDataFrame([(1, [float(x) for x in qv])],
                                  "query_id long, embedding array<double>")
        k = PARAMS["ivf_k"]

        def run():
            with layers.layer("ann_index.topk"):
                return [(r[0], r[1]) for r in st.ivf.topk(q, k=k, n_probe=PARAMS["ivf_probe"])
                        .select("vec_id", "cosine").collect()]

        def check(r):
            # IVF is approximate, so recall@10 is recorded, not required; the
            # answer must still hold the query's source doc and exact scores
            cos = emb @ qv / (np.linalg.norm(emb, axis=1) * np.linalg.norm(qv))
            truth = {st.idx_ids[i] for i in np.argsort(-cos, kind="stable")[:k]}
            layers.count("ann_index.recall_hits", len(truth & {v for v, _ in r}))
            layers.count("ann_index.recall_total", k)
            pos = {v: i for i, v in enumerate(st.idx_ids)}
            if len(r) != k or st.idx_ids[j] not in {v for v, _ in r}:
                return f"ivf: {len(r)} rows, source doc {st.idx_ids[j]} missing"
            bad = [v for v, c in r if abs(c - cos[pos[v]]) > 1e-5]
            if bad or [c for _, c in r] != sorted((c for _, c in r), reverse=True):
                return f"ivf: scores differ from numpy or are unsorted: {bad[:5]}"
            return None

        return Op(cls, name, run, check)
    if name in ("lsh_batch", "lsh_full"):
        if name == "lsh_batch":
            ids, text = st.batch["ids"], st.batch["text"]
            df = st.batch_df.select("id", "text")
        else:
            ids, text = c["ids"], c["text"]
            df = spark.read.parquet(st.crawl_dir).select("id", "text")
        n_grams = sum(len(grams(t)) for t in text)
        side = "under_cap" if n_grams <= DD._LSH_DRIVER_GRAMS_MAX else "over_cap"
        planted = set()
        if name == "lsh_full":
            planted = {tuple(sorted(p)) for p in c["planted"]}

        def run():
            with layers.layer(f"dedup.lsh.{side}"):
                return sorted((r[0], r[1]) for r in DD.minhash_lsh_dedup_reproducible(
                    df, "id", "text", threshold=PARAMS["lsh_threshold"]).collect())

        def check(r):
            layers.count(f"dedup.lsh.{side}.calls")
            layers.count(f"dedup.lsh.{side}.pairs", len(r))
            by_id = dict(zip(ids, text))
            for a, b in r[:200]:
                ga, gb = grams(by_id[a]), grams(by_id[b])
                if len(ga & gb) / len(ga | gb) < PARAMS["lsh_threshold"]:
                    return f"{name}: pair {(a, b)} below threshold"
            found = len(planted & {tuple(sorted(p)) for p in r})
            if found < PARAMS["min_planted_yield"] * len(planted):
                return f"{name}: found {found}/{len(planted)} planted pairs"
            return None if r else f"{name}: no pairs"

        return Op(cls, name, run, check,
                  tier={"grams": n_grams, "cap": DD._LSH_DRIVER_GRAMS_MAX, "side": side})
    # semantic: whole-crawl embedding dedup
    planted = c["planted"]

    def run():
        emb = spark.read.parquet(st.crawl_dir).select(F.col("id").alias("vec_id"), "embedding")
        with layers.layer("dedup.semantic_ivf"):
            return dict((r[0], r[1]) for r in DD.semantic_ivf_dedupe(emb).collect())

    def check(r):
        if len(r) != len(c["ids"]):
            return f"semantic: {len(r)} rows for {len(c['ids'])} docs"
        same = sum(1 for a, b in planted if r[a] == r[b])
        if same < PARAMS["min_planted_yield"] * len(planted):
            return f"semantic: {same}/{len(planted)} planted pairs share a representative"
        return None

    return Op(cls, name, run, check)
