"""Seeded input generator for the perfbench workloads.

Every file the program under test reads is written here, from nothing but
the workload name and the seed: the same (workload, seed) pair always
yields byte-identical inputs. Sizes are fixed per workload (SIZES) so a
seed changes the content, never the amount of work.

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "pipeline_batch": {"posts": 1800, "page_size": 50, "docs": 2400},
    "ingest_stream": {"init_vecs": 1500, "batches": 12, "docs": 120,
                      "vecs": 120, "edges": 100, "upserts": 150,
                      "items": 300, "dup_share": 0.25, "every": 2, "forget_n": 12},
    "query_mix": {"docs": 3000, "vecs": 3000, "queries": 64, "users": 300,
                  "mix": {"ann": 5, "bm25": 4, "gap_fill": 1, "analytics": 2},
                  "days": 540, "mean_events_per_day": 1.5},
}

DIM = 64            # IVF-PQ stores use m=4 subspaces x dsub=16
CODEBOOK_DONORS = 16    # vec_id < 16 are the PQ codewords
COARSE_DONORS = (16, 32)  # vec_id in [16, 32) are the coarse centroids
DAY0 = 1704067200   # 2024-01-01T00:00:00Z


def vocabulary(rng, n=1500):
    syl = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa",
           "qu", "ri", "do", "fe", "gu", "ha", "jo", "ly", "mo", "ni"]
    words = set()
    while len(words) < n:
        k = rng.integers(2, 4)
        words.add("".join(syl[i] for i in rng.integers(0, len(syl), k)))
    common = ["the", "and", "of", "to", "a", "in", "is", "for", "on", "with",
              "der", "die", "und", "le", "la", "et", "el", "de"]
    return common + sorted(words)


N_COMMON = 18


def doc_tokens(rng, vocab, n):
    # one token in ten is a common word; the rest spread over the whole
    # vocabulary, which keeps unrelated documents' shingles apart
    common = rng.random(n) < 0.1
    ranks = np.where(common, rng.integers(0, N_COMMON, n),
                     rng.integers(N_COMMON, len(vocab), n))
    return [vocab[r] for r in ranks]


def make_docs(rng, vocab, n, dup_share, first_id=0, prior=None):
    """n documents; a `dup_share` of them are one-token edits of an
    earlier document (this batch or `prior`), the near-duplicates the
    dedup operators exist to catch."""
    prior = prior if prior is not None else []
    ids, texts = [], []
    for i in range(n):
        pool = prior + texts
        if pool and rng.random() < dup_share:
            toks = pool[rng.integers(0, len(pool))].split(" ")
            toks[rng.integers(0, len(toks))] = vocab[rng.integers(0, len(vocab))]
        else:
            toks = doc_tokens(rng, vocab, int(rng.integers(20, 80)))
        ids.append(first_id + i)
        texts.append(" ".join(toks))
    return ids, texts


def docs_table(ids, texts, rng):
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * len(ids), pa.string()),
        "source": pa.array([f"src{int(x)}" for x in rng.integers(0, 8, len(ids))], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def clustered_vectors(rng, centers, n):
    c = centers[rng.integers(0, len(centers), n)]
    v = c + rng.normal(0, 0.35, (n, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32)


def vec_table(ids, vecs, extra=None):
    cols = {"vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array([int(i) % 7 for i in ids], pa.int32())}
    cols.update(extra or {})
    return pa.table(cols)


def gen_pipeline(rng, out, s):
    vocab = vocabulary(rng)
    ids, texts = make_docs(rng, vocab, s["docs"], 0.2)
    pq.write_table(docs_table(ids, texts, rng), f"{out}/docs.parquet")
    post_ids = rng.choice(np.arange(1, 50_000_000), s["posts"], replace=False)
    lo, hi = 1262304000, 1672531200  # 2010-01-01 .. 2023-01-01
    tags = [f"#{w}" for w in vocab[N_COMMON:N_COMMON + 40]]
    posts = []
    for pid in post_ids:
        pid = int(pid)
        video = bool(rng.random() < 0.3)
        ht = [t.capitalize() if rng.random() < 0.5 else t
              for t in rng.choice(tags, int(rng.integers(1, 5)), replace=False)]
        desc = " ".join(doc_tokens(rng, vocab, int(rng.integers(3, 15))))
        posts.append({
            "id": pid, "shortcode": f"sc{pid}",
            "type": "GraphVideo" if video else "GraphImage", "is_video": video,
            "likes": int(rng.integers(0, 5000)), "comments": int(rng.integers(0, 300)),
            "comments_disabled": False,
            "description": f'{desc}, "quoted" {ht[0]}',
            "hashtags": ht, "mentions": [],
            "display_url": f"d{pid}", "thumbnail_src": f"t{pid}",
            "owner": {"id": int(rng.integers(0, 200))},
            "taken_at_timestamp": int(rng.integers(lo, hi))})
    os.makedirs(f"{out}/feed", exist_ok=True)
    n_pages = 0
    for k in range(0, len(posts), s["page_size"]):
        page = posts[k:k + s["page_size"]]
        # each page re-emits its first post: the overlapping-page
        # duplicate a real feed scrape dedups at combine time
        body = json.dumps({"collector": page + [page[0]]})
        with open(f"{out}/feed/page_{n_pages:05d}.json", "w") as f:
            f.write(body)
        n_pages += 1
    with open(f"{out}/feed.jsonl", "w") as f:
        for p in posts:
            f.write(json.dumps(p) + "\n")
    return {"pages": n_pages, "posts": len(posts), "docs": len(ids)}


def gen_ingest(rng, out, s):
    vocab = vocabulary(rng)
    centers = rng.normal(0, 1, (24, DIM))
    n0 = s["init_vecs"]
    pq.write_table(vec_table(range(n0), clustered_vectors(rng, centers, n0)),
                   f"{out}/init_vecs.parquet")
    docs, vecs, edges, ups, items = [], [], [], [], []
    prior_texts, nodes, keys = [], [], []
    next_doc, next_vec, next_node, next_key = 0, n0, 0, 0
    for b in range(s["batches"]):
        ids, texts = make_docs(rng, vocab, s["docs"], s["dup_share"],
                               next_doc, prior_texts[-2000:])
        next_doc += len(ids)
        prior_texts += texts
        t = docs_table(ids, texts, rng)
        docs.append(t.append_column("batch", pa.array([b] * len(ids), pa.int64())))
        vid = list(range(next_vec, next_vec + s["vecs"]))
        next_vec += len(vid)
        vecs.append(vec_table(vid, clustered_vectors(rng, centers, len(vid)),
                              {"batch": pa.array([b] * len(vid), pa.int64())}))
        ea, eb = [], []
        def node():
            nonlocal next_node
            if nodes and rng.random() < 0.5:
                return nodes[rng.integers(0, len(nodes))]
            next_node += 1
            nodes.append(next_node)
            return next_node
        while len(ea) < s["edges"]:
            # pairs of distinct items, as near-duplicate pairs are; half
            # the endpoints are resident nodes, so components merge across
            # batches and resident state keeps growing
            a, b2 = node(), node()
            if a != b2:
                ea.append(a)
                eb.append(b2)
        edges.append(pa.table({"a": pa.array(ea, pa.int64()), "b": pa.array(eb, pa.int64()),
                               "batch": pa.array([b] * len(ea), pa.int64())}))
        uk, uv, ux = [], [], []
        for i in range(s["upserts"]):
            if keys and rng.random() < 0.5:
                k = keys[rng.integers(0, len(keys))]
            else:
                k = next_key
                next_key += 1
                keys.append(k)
            uk.append(k)
            uv.append(b * 100000 + i)   # unique, increasing version per key
            ux.append(float(np.round(rng.random() * 1000, 3)))
        ups.append(pa.table({"key": pa.array(uk, pa.int64()), "ver": pa.array(uv, pa.int64()),
                             "val": pa.array(ux, pa.float64()),
                             "batch": pa.array([b] * len(uk), pa.int64())}))
        it = [f"item{min(int(z), 5000)}" for z in rng.zipf(1.4, s["items"])]
        items.append(pa.table({"item": pa.array(it, pa.string()),
                               "batch": pa.array([b] * len(it), pa.int64())}))
    for name, parts in (("docs", docs), ("vecs", vecs), ("edges", edges),
                        ("upserts", ups), ("items", items)):
        pq.write_table(pa.concat_tables(parts), f"{out}/{name}.parquet")
    # the offer sequence: batch ids in order; every `every`-th batch,
    # starting with the first, is followed by the maintenance calls and
    # then offered again (a foreachBatch redelivery)
    offers, maintain, forgets = [], [], {}
    for b in range(s["batches"]):
        offers.append(b)
        if b % s["every"] == 0:
            maintain.append(b)
            # forget only admitted, non-donor vectors, so a from-scratch
            # rebuild over the survivors trains the same model parameters
            lo, hi = COARSE_DONORS[1], n0 + (b + 1) * s["vecs"]
            forgets[b] = sorted(int(x) for x in rng.choice(np.arange(lo, hi), s["forget_n"], replace=False))
            offers.append(b)
    with open(f"{out}/offers.json", "w") as f:
        json.dump({"offers": offers, "maintain": maintain,
                   "forgets": {str(k): v for k, v in forgets.items()}}, f)
    return {"batches": s["batches"], "offers": len(offers)}


def gen_query(rng, out, s):
    vocab = vocabulary(rng)
    os.makedirs(f"{out}/tables", exist_ok=True)
    ids, texts = make_docs(rng, vocab, s["docs"], 0.1)
    pq.write_table(docs_table(ids, texts, rng), f"{out}/tables/documents.parquet")
    centers = rng.normal(0, 1, (32, DIM))
    pq.write_table(vec_table(range(s["vecs"]), clustered_vectors(rng, centers, s["vecs"])),
                   f"{out}/tables/embeddings.parquet")
    qid = range(1_000_000, 1_000_000 + s["queries"])
    pq.write_table(vec_table(qid, clustered_vectors(rng, centers, s["queries"])),
                   f"{out}/queries.parquet")
    # events: heavy-tailed per-user activity spans (Pareto), so per-user
    # history lengths range from a few days to the whole period
    days = s["days"]
    types = np.array(["click", "view", "purchase", "signup", "error"])
    ts, uid, et, val, props = [], [], [], [], []
    spans = {}
    for u in range(s["users"]):
        span = int(min(days, max(3, rng.pareto(1.1) * 20)))
        spans[u] = span
        start = int(rng.integers(0, days - span + 1))
        n = max(2, int(rng.poisson(span * s["mean_events_per_day"])))
        d = rng.integers(start, start + span, n)
        sec = rng.integers(0, 86400 * 1_000_000, n)
        ts.append(DAY0 * 1_000_000 + d.astype(np.int64) * 86400 * 1_000_000 + sec)
        uid.append(np.full(n, u, np.int64))
        et.append(types[rng.choice(5, n, p=[0.3, 0.3, 0.25, 0.1, 0.05])])
        val.append(np.round(rng.random(n) * 500 + 0.01, 2))
        props.append(np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]))
    ts = np.concatenate(ts)
    order = np.argsort(ts, kind="stable")
    n = len(ts)
    pq.write_table(pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts[order], pa.timestamp("us")),
        "user_id": pa.array(np.concatenate(uid)[order], pa.int64()),
        "event_type": pa.array(np.concatenate(et)[order], pa.string()),
        "value": pa.array(np.concatenate(val)[order], pa.float64()),
        "props": pa.array(np.concatenate(props)[order], pa.string()),
    }), f"{out}/tables/events.parquet")
    # the seeded query sequence: fixed class counts (mostly short
    # retrieval, a minority of analytics) in a seeded order; each
    # gap_fill op samples users, always including the widest-span one,
    # so every sample's day grid covers the whole period
    classes = [c for c, k in s["mix"].items() for _ in range(k)]
    classes = [classes[i] for i in rng.permutation(len(classes))]
    u_all, et_all = np.concatenate(uid), np.concatenate(et)
    buyers = sorted(set(u_all[et_all == "purchase"].tolist()))
    widest = max(buyers, key=lambda u: spans[u])
    seq = []
    for c in classes:
        op = {"class": c}
        if c == "ann":
            op["queries"] = [int(x) for x in rng.choice(qid, 4, replace=False)]
        elif c == "gap_fill":
            others = [u for u in buyers if u != widest]
            op["users"] = sorted([widest] + [int(x) for x in rng.choice(others, 9, replace=False)])
        seq.append(op)
    with open(f"{out}/sequence.json", "w") as f:
        json.dump({"ops": seq}, f)
    return {"events": n, "docs": len(ids), "vecs": s["vecs"], "ops": len(seq)}


GENERATORS = {"pipeline_batch": gen_pipeline, "ingest_stream": gen_ingest,
              "query_mix": gen_query}


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    # one stream per (workload, seed): workloads never share draws
    rng = np.random.default_rng([seed, list(GENERATORS).index(workload)])
    info = GENERATORS[workload](rng, out, SIZES[workload])
    info["bytes"] = sum(os.path.getsize(os.path.join(d, f))
                        for d, _, fs in os.walk(out) for f in fs
                        if f != "inputs.json")
    with open(f"{out}/inputs.json", "w") as f:
        json.dump({"workload": workload, "seed": seed, **info}, f)
    return info


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
