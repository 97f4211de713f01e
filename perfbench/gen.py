"""Seeded inputs for the benchmark workloads.

Every table and request list is a pure function of (workload, seed):
the same seed gives byte-identical parquet files and request lists,
and a different seed gives different ones. The generators mirror the
shape of graft's synthetic warehouse (TPC-H-ish star schema plus the
`documents` / `embeddings` corpus tables), so graft's public functions
run on them unchanged.
"""
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
N_NATIONS = 25
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
DIM = 64

# Dashboard: sf0.1 warehouse sizes. The panel the requests read is
# KB-sized at any scale; the orders join is the ETL leg's real work.
DASH_CUSTOMERS = 15_000
DASH_ORDERS = 150_000
DASH_ROUNDS = 60

# Corpus: base corpus size and the number of permuted copies.
CORPUS_DOCS = 700
CORPUS_VECS = 280
CORPUS_MULT = 2
COPY_OFFSET = 100_000_000
SUBST_ALPHA = "etaoinshr"


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _rng(seed, salt):
    return np.random.Generator(np.random.PCG64([seed, salt]))


# --- dashboard -----------------------------------------------------------

def dashboard_tables(seed):
    r = _rng(seed, 1)
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    nation = pa.table({
        "n_nationkey": pa.array(range(N_NATIONS), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(N_NATIONS)],
        "n_regionkey": pa.array([i % 5 for i in range(N_NATIONS)], pa.int32())})
    nc = DASH_CUSTOMERS
    customer = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(r.integers(0, N_NATIONS, nc, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, nc), 2)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[r.integers(0, 5, nc)])})
    no = DASH_ORDERS
    day0 = np.datetime64("1995-01-01", "D")
    span = int((np.datetime64("2001-08-01", "D") - day0).astype(int))
    dates = day0 + r.integers(0, span + 1, no).astype("timedelta64[D]")
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, nc, no, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[r.integers(0, 3, no)]),
        # cents as integers, so every price has exactly two decimals
        "o_totalprice": pa.array(r.integers(100_000, 50_000_000, no) / 100.0),
        "o_orderdate": pa.array(dates.astype("datetime64[us]")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[r.integers(0, 5, no)])})
    return {"region": region, "nation": nation, "customer": customer,
            "orders": orders}


_RISING = ["rising", "growing", "increasing"]
_GEP = ["urgent", "gep", "gross electricity"]
_SEM_WORDS = ["trend", "declining", "stable", "priority", "order", "volume",
              "changed", "low", "high", "medium", "over", "years"]

# The dashboard's request kinds: one of each per round, in a seeded order.
DASH_KINDS = [
    "top_n_latest", "country_trend", "explorer_filter", "top_countries_mean",
    "top_countries_sum", "pivot_heatmap", "insights_trend", "insight_text",
    "fastest_rising", "chat_intent", "chat_semantic", "forecast_series",
    "forecast_series_given_model"]


def dashboard_requests(seed):
    """Rounds of the 13 request kinds, each round in a seeded order.

    Chatbot requests carry a seeded question: intent questions always
    hit the fastest-rising route, semantic ones the TF-IDF route.
    """
    rnd = random.Random(seed * 7919 + 13)
    out = []
    for rd in range(DASH_ROUNDS):
        kinds = DASH_KINDS[:]
        rnd.shuffle(kinds)
        for k in kinds:
            arg = ""
            if k == "chat_intent":
                arg = (f"which nation has {rnd.choice(_GEP)} orders "
                       f"{rnd.choice(_RISING)} fastest")
            elif k == "chat_semantic":
                words = [f"NATION_{rnd.randrange(N_NATIONS)}"] + \
                    rnd.sample(_SEM_WORDS, 3)
                arg = " ".join(words)
            out.append((rd, k, arg))
    return out


# --- corpus --------------------------------------------------------------

def base_corpus(seed):
    """Base documents and embeddings, before amplification.

    About 5 % of documents are near-duplicates of an earlier one (the
    copy plus a trailing marker word) and a few are exact copies, so
    every dedup stage has real pairs to find.
    """
    r = _rng(seed, 2)
    texts = []
    for i in range(CORPUS_DOCS):
        u = r.random()
        if i > 10 and u < 0.05:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        elif i > 10 and u < 0.06:
            texts.append(texts[int(r.integers(0, i))])
        else:
            n = int(r.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in r.integers(0, len(WORDS), n)))
    langs = [LANGS[j] for j in r.integers(0, len(LANGS), CORPUS_DOCS)]
    sources = [f"src{j}" for j in r.integers(0, 20, CORPUS_DOCS)]
    labels = r.integers(0, 10, CORPUS_VECS)
    centers = r.normal(0, 0.07 / np.sqrt(DIM), (10, DIM))
    emb = r.normal(0, 1 / np.sqrt(DIM), (CORPUS_VECS, DIM)) + centers[labels]
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    return texts, langs, sources, emb, labels


def _fisher_yates(n, seed):
    out = list(range(n))
    rnd = random.Random(seed)
    for k in range(n - 1, 0, -1):
        j = rnd.randrange(k + 1)
        out[k], out[j] = out[j], out[k]
    return out


def corpus_tables(seed):
    """The x CORPUS_MULT corpus: copy i substitutes letters and permutes
    embedding dimensions by a Fisher-Yates permutation seeded from
    (seed, i), and offsets its ids by i * COPY_OFFSET. A letter
    substitution keeps every within-copy similarity exactly and puts
    cross-copy Jaccard far below any dedup threshold.
    """
    texts, langs, sources, emb, labels = base_corpus(seed)
    ids, out_t, out_l, out_s = [], [], [], []
    vids, vecs, vlabels = [], [], []
    for c in range(CORPUS_MULT):
        perm = _fisher_yates(len(SUBST_ALPHA), seed * 1_000_003 + c)
        table = str.maketrans(SUBST_ALPHA, "".join(SUBST_ALPHA[p] for p in perm))
        off = c * COPY_OFFSET
        ids += [off + i for i in range(len(texts))]
        out_t += [t.translate(table) for t in texts]
        out_l += langs
        out_s += sources
        dperm = _fisher_yates(DIM, seed * 1_000_003 + 500 + c)
        vids += [off + i for i in range(len(emb))]
        vecs.append(emb[:, dperm])
        vlabels += labels.tolist()
    documents = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": out_t,
        "lang": out_l,
        "source": out_s,
        "n_chars": pa.array([len(t) for t in out_t], pa.int64())})
    allv = np.concatenate(vecs)
    embeddings = pa.table({
        "vec_id": pa.array(vids, pa.int64()),
        "embedding": pa.array(list(allv), pa.list_(pa.float32())),
        "label": pa.array(vlabels, pa.int32())})
    return {"documents": documents, "embeddings": embeddings}


# --- entry ---------------------------------------------------------------

def tables(workload, seed):
    if workload == "dashboard":
        return dashboard_tables(seed)
    if workload == "corpus_build":
        return corpus_tables(seed)
    raise ValueError(f"unknown workload {workload}")


def requests(workload, seed):
    if workload == "dashboard":
        return dashboard_requests(seed)
    return []


def write_inputs(workload, seed, out_dir):
    """Write the workload's tables (one parquet file each) and its
    request list (`requests.tsv`: round, kind, argument) into out_dir.
    """
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(workload, seed).items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
    with open(os.path.join(out_dir, "requests.tsv"), "w") as f:
        for rd, kind, arg in requests(workload, seed):
            f.write(f"{rd}\t{kind}\t{arg}\n")
