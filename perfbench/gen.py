"""Seeded input generator for the perfbench workloads.

Reads the sf0.1 test tables read-only and writes every input the
benchmark hands to the program into one directory per seed:

  refresh/base.jsonl        products already in the bucketed warehouse
  refresh/tree/<category>/<product_id>/metadata.json
                            the scraped catalog (file per product)
  refresh/responses.jsonl   one raw LLM tag response per tree product
  refresh/patches.jsonl     curator tag patches for ~10% of the products
  ingest/warehouse.parquet  6/7 of the documents (bootstrap corpus)
  ingest/benchmark.parquet  1/10 of the bootstrap corpus (decontam set)
  ingest/batch-<i>.parquet  125-doc batches with planted dups/contamination
  reads/products.parquet    the catalog served by the read workload
  reads/embeddings.parquet  vectors for the IVF index
  reads/docs.parquet        documents for BM25, with planted tokens
  reads/events.parquet      the change log the SCD2 history is built from
  reads/mix.jsonl           the seeded read mix over Zipf-ranked keys
  facts.json                input sizes and the planted facts

Usage: python3 perfbench/gen.py --seed N --data DIR --out DIR [--workload W]
"""
import argparse
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# retailer categories the warehouse knows (graft.ops.CategoryMapping)
CATEGORIES = [
    "tshirts", "shirts", "polos", "sweaters", "hoodies", "knitwear",
    "sweatshirts", "trousers", "jeans", "shorts", "jackets", "blazers",
    "overshirts", "coats", "shoes", "boots"]
REFITD = {
    "tshirts": "top", "shirts": "top", "polos": "top", "sweaters": "top",
    "hoodies": "top", "knitwear": "top", "sweatshirts": "top",
    "trousers": "bottom", "jeans": "bottom", "shorts": "bottom",
    "jackets": "outerwear", "blazers": "outerwear",
    "overshirts": "outerwear", "coats": "outerwear",
    "shoes": "footwear", "boots": "footwear"}
STYLE = ["minimal", "classic", "preppy", "workwear", "streetwear", "rugged",
         "tailoring", "elevated-basics", "normcore", "sporty", "vintage"]
FIT = ["slim", "regular", "relaxed"]
SIL_UPPER = ["neutral", "relaxed", "boxy", "structured"]
SIL_BOTTOM = ["straight", "tapered", "wide"]
FORMALITY = ["athletic", "casual", "smart-casual", "business-casual", "formal"]
SHOE = ["sneakers", "boots", "loafers", "derbies"]
COLORS = ["Black", "White", "Grey", "Navy", "Brown", "Beige", "Olive", "Blue"]
MATERIALS = ["cotton", "wool", "linen", "denim", "polyester", "leather"]

# workload sizes
WAREHOUSE_PRODUCTS = 6000
TREE_PRODUCTS = 1500
TREE_UPDATE_SHARE = 0.40
TREE_INVALID_SHARE = 0.05
PATCH_SHARE = 0.10
INGEST_BATCHES = 12
BATCH_DOCS = 125
READ_OPS = 4000
READ_BLOCK = 20
READ_MIX = [("lookup", 0.40), ("listing", 0.25), ("similar", 0.15),
            ("search", 0.15), ("asof", 0.05)]
ZIPF_S = 1.1
PLANTED_TOKENS = 8


def zipf_sampler(rng, keys, size):
    """Draw `size` keys with P(rank r) ~ 1/r^s over a seeded key order."""
    keys = list(keys)
    order = rng.permutation(len(keys))
    w = 1.0 / np.arange(1, len(keys) + 1) ** ZIPF_S
    picks = rng.choice(len(keys), size=size, p=w / w.sum())
    return [keys[order[p]] for p in picks]


def write_parquet(rows, schema, path):
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)


def gen_refresh(rng, data, out, facts):
    part = pq.read_table(os.path.join(data, "part.parquet")).to_pylist()
    docs = pq.read_table(os.path.join(data, "documents.parquet"),
                         columns=["text"]).column("text").to_pylist()
    pool = rng.permutation(len(part))
    need = WAREHOUSE_PRODUCTS + TREE_PRODUCTS
    assert len(part) >= need, "part table too small for the refresh workload"
    base_rows = [part[i] for i in pool[:WAREHOUSE_PRODUCTS]]
    fresh_rows = [part[i] for i in pool[WAREHOUSE_PRODUCTS:need]]

    def product(p, price, valid=True):
        pid = "P%06d" % p["p_partkey"]
        cat = CATEGORIES[(p["p_partkey"] * 7 + p["p_size"]) % len(CATEGORIES)]
        ncol = int(rng.integers(1, 4))
        colors = [str(c) for c in rng.choice(COLORS, ncol)]
        colors += [colors[0].lower()]  # case-insensitive dup for transform
        doc = docs[int(rng.integers(len(docs)))]
        return {
            "product_id": pid,
            "name": ("  %s  %s " % (p["p_name"].upper(), p["p_brand"]))
            if valid else "   ",
            "url": "https://shop.example/%s/%s" % (cat, pid),
            "category": cat,
            "price_current": price if valid else None,
            "price_original": round(price * 1.25, 2),
            "currency": "EUR",
            "description": "  " + " ".join(doc.split()[:24]) + "  ",
            "colors": colors,
            "color": colors[0],
            "parent_product_id": None,
            "sizes": [{"size": s, "available": bool(rng.integers(2)),
                       "availability": "in_stock", "sku": int(p["p_partkey"]) * 10 + k}
                      for k, s in enumerate(["S", "M", "L"])],
            "materials": [str(m) for m in rng.choice(MATERIALS, 2)],
            "image_urls": ["https://img.example/%s/%d.jpg" % (pid, k)
                           for k in range(int(rng.integers(1, 4)))]
            if valid else [],
            "composition": "100% cotton",
            "scraped_at": "2026-01-01T00:00:00Z",
        }

    os.makedirs(os.path.join(out, "refresh"), exist_ok=True)
    base = [product(p, round(float(p["p_retailprice"]), 2)) for p in base_rows]
    with open(os.path.join(out, "refresh", "base.jsonl"), "w") as f:
        for r in base:
            f.write(json.dumps(r) + "\n")

    n_upd = int(TREE_PRODUCTS * TREE_UPDATE_SHARE)
    n_bad = int(TREE_PRODUCTS * TREE_INVALID_SHARE)
    upd_idx = rng.choice(len(base_rows), n_upd, replace=False)
    tree, updated, invalid = [], {}, []
    for i in upd_idx:
        p = base_rows[int(i)]
        price = round(float(p["p_retailprice"]) * float(rng.uniform(0.6, 0.95)), 2)
        r = product(p, price)
        tree.append(r)
        updated[r["product_id"]] = price
    for k, p in enumerate(fresh_rows[:TREE_PRODUCTS - n_upd]):
        valid = k >= n_bad
        r = product(p, round(float(p["p_retailprice"]), 2), valid)
        tree.append(r)
        if not valid:
            invalid.append(r["product_id"])
    root = os.path.join(out, "refresh", "tree")
    for r in tree:
        d = os.path.join(root, r["category"], r["product_id"])
        os.makedirs(d)
        body = dict(r)
        del body["category"]  # the directory names the category
        with open(os.path.join(d, "metadata.json"), "w") as f:
            json.dump(body, f, indent=2)

    valid_tree = [r for r in tree if r["product_id"] not in set(invalid)]
    with open(os.path.join(out, "refresh", "responses.jsonl"), "w") as f:
        for r in valid_tree:
            f.write(json.dumps({"product_id": r["product_id"],
                                "raw_response": llm_response(rng, REFITD[r["category"]])})
                    + "\n")
    n_patch = int(len(valid_tree) * PATCH_SHARE)
    with open(os.path.join(out, "refresh", "patches.jsonl"), "w") as f:
        for i in rng.choice(len(valid_tree), n_patch, replace=False):
            r = valid_tree[int(i)]
            kind = int(rng.integers(3))
            patch = {"product_id": r["product_id"], "curator": "bench-curator"}
            if kind == 0:
                patch.update(field_name="style_identity", action="add",
                             value=str(rng.choice(STYLE)))
            elif kind == 1:
                patch.update(field_name="formality", action="set",
                             value=str(rng.choice(FORMALITY)))
            else:
                patch.update(field_name="style_identity", action="remove",
                             value=None, feedback_reason="not this style",
                             feedback_category="style")
            f.write(json.dumps(patch) + "\n")

    # a sample of the planted facts is enough for the per-op check
    upd_sample = sorted(updated)[:200]
    facts["refresh"] = {
        "warehouse_products": len(base), "tree_products": len(tree),
        "tree_files": len(tree), "updates": n_upd, "invalid": len(invalid),
        "valid_tree_products": len(valid_tree), "patches": n_patch,
        "expected_warehouse_rows": len(base) + len(valid_tree) - n_upd,
        "invalid_ids": invalid,
        "updated_prices": {k: updated[k] for k in upd_sample},
    }


def llm_response(rng, cat):
    if rng.random() < 0.03:
        return "I cannot tag this product."  # parse failure path
    conf = lambda: round(float(rng.uniform(0.5, 0.99)), 2)
    tag = lambda vs: {"tag": str(rng.choice(vs)), "confidence": conf()}
    body = {"style_identity": [tag(STYLE) for _ in range(int(rng.integers(1, 3)))],
            "formality": tag(FORMALITY)}
    if cat == "footwear":
        body["shoe_type"] = tag(SHOE)
    else:
        body["fit"] = tag(FIT)
        body["silhouette"] = tag(SIL_BOTTOM if cat == "bottom" else SIL_UPPER)
    return "Here are the tags:\n" + json.dumps(body)


DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("lang", pa.string()),
                        ("source", pa.string()), ("text", pa.string()),
                        ("n_chars", pa.int64())])


def gen_ingest(rng, data, out, facts):
    docs = pq.read_table(os.path.join(data, "documents.parquet")).to_pylist()
    os.makedirs(os.path.join(out, "ingest"), exist_ok=True)
    wh = [d for d in docs if d["doc_id"] % 7 != 0]
    held = [d for d in docs if d["doc_id"] % 7 == 0]
    bench = [d for d in wh if d["doc_id"] % 10 == 0]
    cols = [f.name for f in DOC_SCHEMA]
    write_parquet([{c: d[c] for c in cols} for d in wh], DOC_SCHEMA,
                  os.path.join(out, "ingest", "warehouse.parquet"))
    write_parquet([{c: d[c] for c in cols} for d in bench], DOC_SCHEMA,
                  os.path.join(out, "ingest", "benchmark.parquet"))
    vocab = sorted({w for d in docs for w in d["text"].split()})
    salt = ["s%dx%d" % (int(rng.integers(1 << 30)), k) for k in range(64)]
    bench_texts = [d["text"].split() for d in bench if len(d["text"].split()) >= 20]

    def doc(did, src, text):
        return {"doc_id": did, "lang": src["lang"], "source": src["source"],
                "text": text, "n_chars": len(text)}

    def fresh_text():
        n = int(rng.integers(30, 70))
        words = [str(w) for w in rng.choice(vocab, n)]
        # seed-salted tokens keep fresh docs unique across seeds and batches
        for _ in range(4):
            words.insert(int(rng.integers(n)), str(rng.choice(salt)) + str(int(rng.integers(1 << 20))))
        return " ".join(words)

    batches = []
    next_id = 1_000_000
    for b in range(INGEST_BATCHES):
        n = BATCH_DOCS
        n_exact, n_near, n_dirty = n // 10, n // 10, n // 20
        rows, exact, near, dirty = [], [], [], []
        srcs = rng.choice(len(wh), n_exact + n_near, replace=False)
        for k in range(n):
            did = next_id
            next_id += 1
            if k < n_exact:
                src = wh[int(srcs[k])]
                rows.append(doc(did, src, src["text"]))
                exact.append(did)
            elif k < n_exact + n_near:
                src = wh[int(srcs[k])]
                words = src["text"].split()
                for _ in range(max(1, len(words) // 20)):
                    words[int(rng.integers(len(words)))] = str(rng.choice(vocab))
                rows.append(doc(did, src, " ".join(words)))
                near.append(did)
            elif k < n_exact + n_near + n_dirty:
                bt = bench_texts[int(rng.integers(len(bench_texts)))]
                at = int(rng.integers(len(bt) - 13 + 1))
                words = fresh_text().split()
                pos = int(rng.integers(len(words)))
                words[pos:pos] = bt[at:at + 13]
                rows.append(doc(did, held[int(rng.integers(len(held)))], " ".join(words)))
                dirty.append(did)
            else:
                rows.append(doc(did, held[int(rng.integers(len(held)))], fresh_text()))
        order = rng.permutation(len(rows))
        rows = [rows[int(i)] for i in order]
        write_parquet(rows, DOC_SCHEMA, os.path.join(out, "ingest", "batch-%d.parquet" % b))
        batches.append({"docs": n, "exact_dup_ids": exact, "near_dup_ids": near,
                        "dirty_ids": dirty})
    facts["ingest"] = {"warehouse_docs": len(wh), "benchmark_docs": len(bench),
                       "batches": batches}


def gen_reads(rng, data, out, facts):
    os.makedirs(os.path.join(out, "reads"), exist_ok=True)
    part = pq.read_table(os.path.join(data, "part.parquet")).to_pylist()
    prows = [{"product_id": "P%06d" % p["p_partkey"],
              "name": p["p_name"], "brand": p["p_brand"],
              "category": CATEGORIES[(p["p_partkey"] * 7 + p["p_size"]) % len(CATEGORIES)],
              "price": round(float(p["p_retailprice"]) * float(rng.uniform(0.8, 1.2)), 2),
              "size": int(p["p_size"])} for p in part]
    pq.write_table(pa.Table.from_pylist(prows), os.path.join(out, "reads", "products.parquet"))
    shutil.copyfile(os.path.join(data, "embeddings.parquet"),
                    os.path.join(out, "reads", "embeddings.parquet"))
    emb_ids = pq.read_table(os.path.join(data, "embeddings.parquet"),
                            columns=["vec_id"]).column("vec_id").to_pylist()

    docs = pq.read_table(os.path.join(data, "documents.parquet"),
                         columns=["doc_id", "text"]).to_pylist()
    vocab = sorted({w for d in docs for w in d["text"].split()})
    planted = {}
    for k, i in enumerate(rng.choice(len(docs), PLANTED_TOKENS, replace=False)):
        tok = "zq%dtok%d" % (int(rng.integers(1 << 30)), k)
        d = docs[int(i)]
        d["text"] = d["text"] + (" " + tok) * 3
        planted[tok] = d["doc_id"]
    pq.write_table(pa.Table.from_pylist(docs), os.path.join(out, "reads", "docs.parquet"))
    terms = vocab + sorted(planted)

    ev = pq.read_table(os.path.join(data, "events.parquet"),
                       columns=["event_id", "ts", "user_id", "event_type"])
    ev = ev.set_column(1, "ts", ev.column("ts").cast(pa.timestamp("us")).cast(pa.int64()))
    pq.write_table(ev, os.path.join(out, "reads", "events.parquet"))
    users = sorted(set(ev.column("user_id").to_pylist()))
    ts = ev.column("ts").to_numpy()
    t_lo, t_hi = int(ts.min()), int(ts.max())

    # the mix repeats in blocks of READ_BLOCK ops holding each kind's exact
    # share, shuffled per block, so every run window sees the same mix
    block = [k for k, (_, w) in enumerate(READ_MIX) for _ in range(round(w * READ_BLOCK))]
    kinds = [k for _ in range(READ_OPS // READ_BLOCK) for k in rng.permutation(block)]
    keys = {
        "lookup": zipf_sampler(rng, [r["product_id"] for r in prows], READ_OPS),
        "listing": zipf_sampler(rng, CATEGORIES, READ_OPS),
        "similar": zipf_sampler(rng, emb_ids, READ_OPS),
        "search": zipf_sampler(rng, vocab, READ_OPS),
        "asof": zipf_sampler(rng, users, READ_OPS),
    }
    planted_list = sorted(planted)
    with open(os.path.join(out, "reads", "mix.jsonl"), "w") as f:
        for i, k in enumerate(kinds):
            kind = READ_MIX[int(k)][0]
            op = {"kind": kind, "key": keys[kind][i]}
            if kind == "search":
                if rng.random() < 0.3:
                    tok = planted_list[int(rng.integers(len(planted_list)))]
                    op["terms"] = [tok, str(op["key"])]
                    op["expect_top"] = planted[tok]
                else:
                    op["terms"] = sorted({str(op["key"])} | {str(w) for w in rng.choice(vocab, 2)})
            elif kind == "asof":
                op["times"] = sorted(int(t) for t in rng.integers(t_lo, t_hi, 4))
            f.write(json.dumps(op) + "\n")
    with open(os.path.join(out, "reads", "terms.json"), "w") as f:
        json.dump(terms, f)
    facts["reads"] = {"products": len(prows), "vectors": len(emb_ids),
                      "docs": len(docs), "terms": len(terms), "events": ev.num_rows,
                      "users": len(users), "ops": READ_OPS,
                      "planted_tokens": planted, "zipf_s": ZIPF_S}


GENERATORS = {"catalog_refresh": (1, gen_refresh), "corpus_ingest": (2, gen_ingest),
              "catalog_reads": (3, gen_reads)}


def generate(seed, data, out, workloads=tuple(GENERATORS)):
    """Write the inputs of `workloads` for `seed` into `out` (replaced if
    present). Each workload draws from its own stream of the seed, so its
    inputs do not depend on which other workloads are generated."""
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    facts = {"seed": seed}
    for w in workloads:
        stream, fn = GENERATORS[w]
        fn(np.random.default_rng([seed, stream]), data, tmp, facts)
    with open(os.path.join(tmp, "facts.json"), "w") as f:
        json.dump(facts, f, indent=1, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--data", required=True, help="directory of the sf0.1 tables")
    ap.add_argument("--out", required=True)
    ap.add_argument("--workload", choices=sorted(GENERATORS), action="append",
                    help="generate only this workload's inputs (repeatable)")
    a = ap.parse_args()
    generate(a.seed, a.data, a.out, a.workload or tuple(GENERATORS))
