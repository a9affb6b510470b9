"""Seeded input generator for the benchmark workloads.

Every input a workload reads is written here from one seed: the same seed
gives byte-identical files, another seed gives different ones. Table
schemas follow FIXTURES.md section B; the text corpus and stop list follow
the layout of section A (prose lines with an `N ` line-number prefix, a
one-line space-separated stop list with apostrophe forms).

`generate(workload, seed, out_dir)` writes the files and returns the
measured input properties the workload depends on.
"""
import json
import math
import os
import re
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes per workload. Batch ops run over the whole table; the trickle
# workload bootstraps from the `% 10 < 8` slice (the registry twins'
# reference-batch convention, which their oracles assume) and stages the
# rest as small delta files.
TEXT_LINES = 12000
TEXT_VOCAB = 8000
TEXT_ZIPF = 1.07
DEDUP_DOCS = 500
DEDUP_VECS = 500
DEDUP_PARTS = 1500
TRICKLE_VECS = 500
TRICKLE_EVENTS = 2000
NEAR_DUP_SHARE = 0.10
OUT_OF_ORDER_SHARE = 0.15
DIM = 64
CLUSTERS = 10
DELTA_ROWS = 2          # vectors per trickle delta file
EVENT_DELTA_ROWS = 20   # events per trickle delta file
BOOT_EVENTS = 500       # events in the asof stream's bootstrap trigger
MAX_DISORDER_MIN = 90   # largest backward jump of an out-of-order event

VOWELS = "aeiou"
CONSONANTS = "bcdfghjklmnprstvwz"
TOKEN_RE = re.compile(r"[a-z][a-z']*")


def _words(rng, n):
    """n distinct pronounceable lowercase words; about 3% carry an
    apostrophe form (`xxx's`, `xxxn't`) like the reference stop list."""
    seen, out = set(), []
    while len(out) < n:
        k = int(rng.integers(2, 10))
        w = "".join((CONSONANTS if i % 2 == 0 else VOWELS)[
            int(rng.integers(0, len(CONSONANTS if i % 2 == 0 else VOWELS)))]
            for i in range(k))
        if rng.random() < 0.03:
            w += "'s" if rng.random() < 0.5 else "n't"
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _vocabulary(n):
    """The language: one fixed word list shared by every seed (a seed
    picks the text, not the words). Word ranks, and so which words are
    hot and where they hash, are the same in every run."""
    return _words(np.random.default_rng(0x1AB3), n)


def _zipf_probs(n, s):
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def _write_parquet(table, path):
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True)


# ---------------------------------------------------------------- text --

def gen_text(rng, out):
    vocab = _vocabulary(TEXT_VOCAB)
    probs = _zipf_probs(TEXT_VOCAB, TEXT_ZIPF)
    lens = rng.integers(6, 16, size=TEXT_LINES)
    draws = rng.choice(TEXT_VOCAB, size=int(lens.sum()), p=probs)
    caps = rng.random(len(draws)) < 0.08
    punct = rng.integers(0, 12, size=len(draws))
    marks = {0: ",", 1: ".", 2: ";", 3: "!", 4: "?"}
    lines, k = [], 0
    for i, n in enumerate(lens):
        toks = []
        for j in range(int(n)):
            w = vocab[draws[k]]
            if caps[k]:
                w = w[0].upper() + w[1:]
            toks.append(w + marks.get(int(punct[k]), ""))
            k += 1
        lines.append(f"{i + 1} " + " ".join(toks))
    with open(os.path.join(out, "corpus.txt"), "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    # stop list: the 100 most frequent words, every apostrophe form among
    # the top 1000, and 20 more drawn like the vocabulary (mostly absent
    # from the corpus)
    stop = vocab[:100] + [w for w in vocab[100:1000] if "'" in w]
    stop = list(dict.fromkeys(stop + _words(rng, 20)))
    with open(os.path.join(out, "stop_words.txt"), "w", encoding="utf-8") as f:
        f.write(" ".join(stop) + "\n")
    return text_properties(out)


def text_properties(out):
    counts = {}
    n_tok = 0
    with open(os.path.join(out, "corpus.txt"), encoding="utf-8") as f:
        for line in f:
            for w in TOKEN_RE.findall(line.lower()):
                counts[w] = counts.get(w, 0) + 1
                n_tok += 1
    freqs = np.array(sorted(counts.values(), reverse=True), dtype=float)
    top = freqs[:1000]
    x = np.log(np.arange(1, len(top) + 1))
    slope = np.polyfit(x, np.log(top), 1)[0]
    return {"text_lines": TEXT_LINES, "text_tokens": n_tok,
            "vocab_size": len(counts), "zipf_skew": round(float(-slope), 4)}


# ----------------------------------------------------------- documents --

def gen_documents(rng, n):
    vocab = _vocabulary(3000)
    probs = _zipf_probs(len(vocab), 1.0)
    langs = ["en", "es", "de", "fr", "zh"]
    texts = []
    for i in range(n):
        if i >= 10 and rng.random() < NEAR_DUP_SHARE:
            # planted near-duplicate: an earlier document with one or two
            # words replaced
            words = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = vocab[
                    int(rng.choice(len(vocab), p=probs))]
        else:
            words = [vocab[j] for j in
                     rng.choice(len(vocab), size=int(rng.integers(30, 80)), p=probs)]
        texts.append(" ".join(words))
    ids = np.arange(n, dtype=np.int64)
    n_chars = np.array([len(t) for t in texts], dtype=np.int64)
    jitter = rng.random(n) < 0.1
    n_chars = np.where(jitter, n_chars + rng.integers(1, 9, size=n), n_chars)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([langs[int(j)] for j in rng.integers(0, 5, size=n)]),
        "source": pa.array([f"src{int(j)}" for j in rng.integers(0, 5, size=n)]),
        "n_chars": pa.array(n_chars, pa.int64()),
    })


def near_dup_share(texts, threshold=0.8):
    """Share of documents with another document at word-3-shingle Jaccard
    >= threshold (the d02 pair contract's threshold)."""
    sh = [set(zip(t.split(" "), t.split(" ")[1:], t.split(" ")[2:])) for t in texts]
    index = {}
    for d, s in enumerate(sh):
        for g in s:
            index.setdefault(g, []).append(d)
    has = [False] * len(sh)
    for d, s in enumerate(sh):
        cand = {}
        for g in s:
            post = index[g]
            if len(post) > 50:
                continue
            for o in post:
                if o != d:
                    cand[o] = cand.get(o, 0) + 1
        for o, c in cand.items():
            if c / (len(s) + len(sh[o]) - c) >= threshold:
                has[d] = True
                break
    return sum(has) / max(1, len(sh))


# ---------------------------------------------------------- embeddings --

def gen_embeddings(rng, n):
    centers = rng.normal(size=(CLUSTERS, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, CLUSTERS, size=n)
    vecs = centers[label] + rng.normal(scale=0.35, size=(n, DIM)) / math.sqrt(DIM) * 4
    for i in range(10, n):
        if rng.random() < NEAR_DUP_SHARE:
            src = int(rng.integers(0, i))
            vecs[i] = vecs[src] + rng.normal(scale=0.01, size=DIM)
            label[i] = label[src]
    vecs = vecs.astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32), pa.int32()),
    })


def vec_near_dup_share(table, threshold=0.999):
    v = np.array(table.column("embedding").to_pylist(), dtype=np.float64)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    sim = v @ v.T
    np.fill_diagonal(sim, -1)
    return float((sim.max(axis=1) >= threshold).mean())


# -------------------------------------------------------------- events --

def gen_events(rng, n):
    gaps = rng.exponential(60.0, size=n)
    base = 1704067200.0 + np.cumsum(gaps)           # from 2024-01-01 UTC
    late = rng.random(n) < OUT_OF_ORDER_SHARE
    ts = base - np.where(late, rng.uniform(0, MAX_DISORDER_MIN * 60, size=n), 0)
    ns = (ts * 1e9).astype(np.int64) // 1000 * 1000
    kinds = np.array(["error", "signup", "purchase", "view", "click"])
    kind = kinds[rng.choice(5, size=n, p=[0.2, 0.1, 0.3, 0.25, 0.15])]
    value = np.round(rng.uniform(1, 500, size=n), 2)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ns, pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, 30, size=n).astype(np.int64)),
        "event_type": pa.array(kind.tolist(), pa.string()),
        "value": pa.array(value, pa.float64()),
        "props": pa.array([f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, size=n)]),
    })


def out_of_order_share(table):
    ts = table.column("ts").cast(pa.int64()).to_numpy()
    run = np.maximum.accumulate(ts)
    return float((ts[1:] < run[:-1]).mean())


# ---------------------------------------------------------------- part --

def gen_part(rng, n):
    # contiguous keys from a seeded offset: the e45 chains (64-key blocks)
    # and roots shift with the seed, their lengths and count do not
    keys = np.arange(n, dtype=np.int64) + int(rng.integers(1, 64))
    adj = ["cold", "small", "large", "shiny", "plain"]
    noun = ["widget", "bolt", "gear", "valve", "spring"]
    return pa.table({
        "p_partkey": pa.array(keys),
        "p_name": pa.array([f"{adj[int(a)]} {noun[int(b)]}" for a, b in
                            zip(rng.integers(0, 5, size=n), rng.integers(0, 5, size=n))]),
        "p_brand": pa.array([f"Brand#{int(b)}" for b in rng.integers(1, 26, size=n)]),
        "p_type": pa.array([["ECONOMY", "PROMO", "STANDARD"][int(t)]
                            for t in rng.integers(0, 3, size=n)]),
        "p_size": pa.array(rng.integers(1, 51, size=n).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + rng.uniform(0, 1100, size=n), 2)),
    })


# ------------------------------------------------------------- trickle --

def _split_deltas(table, key, out, name, rows):
    """Bootstrap = `key % 10 < 8`; the rest goes to delta files of
    `rows` rows each, in key order. Returns (bootstrap rows, n deltas)."""
    k = table.column(key).to_numpy()
    boot = table.filter(pa.array(k % 10 < 8))
    rest = table.filter(pa.array(k % 10 >= 8))
    _write_parquet(boot, os.path.join(out, f"{name}_boot.parquet"))
    os.makedirs(os.path.join(out, f"{name}_deltas"), exist_ok=True)
    n = 0
    for start in range(0, rest.num_rows, rows):
        _write_parquet(rest.slice(start, rows),
                       os.path.join(out, f"{name}_deltas", f"d{n:05d}.parquet"))
        n += 1
    return boot.num_rows, n


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(np.random.SeedSequence([seed, 0x1ab3]))
    props = {"workload": workload, "seed": seed}
    if workload == "phoenix_text":
        props.update(gen_text(rng, out))
    elif workload == "dedup_batch":
        docs = gen_documents(rng, DEDUP_DOCS)
        emb = gen_embeddings(rng, DEDUP_VECS)
        _write_parquet(docs, os.path.join(out, "documents.parquet"))
        _write_parquet(emb, os.path.join(out, "embeddings.parquet"))
        _write_parquet(gen_part(rng, DEDUP_PARTS), os.path.join(out, "part.parquet"))
        props.update(
            documents=docs.num_rows, embeddings=emb.num_rows, parts=DEDUP_PARTS,
            near_dup_share=round(near_dup_share(docs.column("text").to_pylist()), 4),
            vec_near_dup_share=round(vec_near_dup_share(emb), 4))
    elif workload == "trickle_publish":
        emb = gen_embeddings(rng, TRICKLE_VECS)
        ev = gen_events(rng, TRICKLE_EVENTS)
        nb_vecs, nd_vecs = _split_deltas(emb, "vec_id", out, "embeddings", DELTA_ROWS)
        _write_parquet(ev.slice(0, BOOT_EVENTS), os.path.join(out, "events_boot.parquet"))
        os.makedirs(os.path.join(out, "events_deltas"), exist_ok=True)
        nd_ev = 0
        for start in range(BOOT_EVENTS, ev.num_rows, EVENT_DELTA_ROWS):
            _write_parquet(ev.slice(start, EVENT_DELTA_ROWS),
                           os.path.join(out, "events_deltas", f"d{nd_ev:05d}.parquet"))
            nd_ev += 1
        # far-future event, delivered after timing: drives the watermark
        # past every buffered event so the as-of stream flushes
        last = ev.column("ts").cast(pa.int64()).to_numpy().max()
        _write_parquet(pa.table({
            "event_id": pa.array([-1], pa.int64()),
            "ts": pa.array(np.array([last + 6 * 3600 * 10**9], dtype="datetime64[ns]")),
            "user_id": pa.array([0], pa.int64()),
            "event_type": pa.array(["sentinel"]),
            "value": pa.array([0.0]),
            "props": pa.array(["{}"])}), os.path.join(out, "events_sentinel.parquet"))
        with open(os.path.join(out, "manifest.json"), "w") as f:
            json.dump({t: [pq.read_metadata(os.path.join(out, f"{t}_deltas", n)).num_rows
                           for n in sorted(os.listdir(os.path.join(out, f"{t}_deltas")))]
                       for t in ("embeddings", "events")}, f)
        props.update(
            embeddings=emb.num_rows, events=ev.num_rows,
            vec_deltas=nd_vecs, event_deltas=nd_ev,
            delta_to_store_rows=round(DELTA_ROWS / nb_vecs, 5),
            event_delta_to_store_rows=round(EVENT_DELTA_ROWS / BOOT_EVENTS, 5),
            vec_near_dup_share=round(vec_near_dup_share(emb), 4),
            out_of_order_share=round(out_of_order_share(ev), 4),
            max_disorder_min=MAX_DISORDER_MIN)
    else:
        raise ValueError(f"unknown workload {workload}")
    return props


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
