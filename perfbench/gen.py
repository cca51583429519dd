"""Seeded input generator for the lakehouse benchmark.

Everything the program under test receives is written here, from the seed
alone: parquet tables shaped like the repository's fixtures (lineitem,
orders, customer, ... documents, embeddings), the medallion feed split into
incremental batches, the versioned-table op stream, the curation corpus and
its eval set, and the query-vector batches. Alongside the inputs it returns
the facts the reference models need (which rows were re-delivered, which
documents were injected as duplicates, ...), so the checks never have to ask
the program what its inputs were.
"""
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
DAY_US = 86_400_000_000

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]


# a run times blocks(seconds) whole blocks, every one of them, so that
# runs of one workload do the same work however fast the host is; a block
# (a medallion batch, a table_ops block, a curation block) is 7-10 s of
# timed work on a 4-vCPU host
BLOCK_S = 10.0


def blocks(seconds):
    return max(1, math.ceil(seconds / BLOCK_S))


def rng(seed, salt):
    return np.random.default_rng([seed, salt])


def write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return os.path.getsize(path)


def pick(r, values, n):
    return pa.array(np.asarray(values, dtype=object)[r.integers(0, len(values), n)].tolist(),
                    pa.string())


def ts(days):
    return pa.array(EPOCH_1995 + days.astype("int64") * np.timedelta64(DAY_US, "us"),
                    pa.timestamp("us"))


def cents(values):
    # two-decimal doubles built from integer cents, as the fixtures hold
    return pa.array(np.round(values / 100.0, 2), pa.float64())


# ------------------------------------------------------------ fixture tables

def dims(seed, n_orders, n_cust, n_supp, n_part):
    r = rng(seed, 1)
    out = {}
    out["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                              "r_name": pa.array(REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(r.integers(0, 5, 25), pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": cents(r.integers(-99_999, 999_999, n_cust)),
        "c_mktsegment": pick(r, SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": cents(r.integers(-99_999, 999_999, n_supp))})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pick(r, names, n_part),
        "p_brand": pa.array([f"Brand#{i}" for i in r.integers(1, 26, n_part)]),
        "p_type": pick(r, PART_TYPES, n_part),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(900.0 + r.integers(0, 1000, n_part) / 10.0, pa.float64())})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": pick(r, ["F", "O", "P"], n_orders),
        "o_totalprice": cents(r.integers(101_370, 49_997_859, n_orders)),
        "o_orderdate": ts(r.integers(0, 2404, n_orders)),
        "o_orderpriority": pick(r, PRIORITIES, n_orders)})
    return out


def lineitem_columns(r, n, orderkey, linenumber, n_part, n_supp):
    qty = r.integers(1, 51, n)
    return {
        "l_orderkey": pa.array(orderkey, pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": pa.array(qty.astype(float), pa.float64()),
        "l_extendedprice": cents(qty * r.integers(90_000, 210_000, n)),
        "l_discount": pa.array(r.integers(0, 11, n) / 100.0, pa.float64()),
        "l_tax": pa.array(r.integers(0, 9, n) / 100.0, pa.float64()),
        "l_returnflag": pick(r, ["A", "N", "R"], n),
        "l_linestatus": pick(r, ["F", "O"], n),
        "l_shipdate": ts(r.integers(1, 2500, n)),
    }


def sizes(rows):
    return dict(n_orders=max(rows // 4, 50), n_cust=max(rows // 40, 20),
                n_supp=max(rows // 600, 10), n_part=max(rows // 30, 20))


# ------------------------------------------------------------- query_mix

def words(r, n):
    syll = ["ka", "lo", "mi", "ne", "ru", "ta", "shi", "vo", "pe", "da", "zu",
            "ri", "fa", "go", "be", "xi"]
    out = set()
    while len(out) < n:
        k = r.integers(2, 5)
        out.add("".join(syll[i] for i in r.integers(0, len(syll), k)))
    return sorted(out)


def fixture_tables(seed, rows):
    """The ten fixture tables at `rows` lineitem rows (fixture proportions)."""
    s = sizes(rows)
    t = dims(seed, **s)
    r = rng(seed, 2)
    t["lineitem"] = pa.table(lineitem_columns(
        r, rows, r.integers(0, s["n_orders"], rows), r.integers(1, 8, rows),
        s["n_part"], s["n_supp"]))
    n_ev = max(rows // 6, 100)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    ev_ts = np.sort(start + r.integers(0, 30 * DAY_US, n_ev).astype("timedelta64[us]"))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, max(n_ev // 66, 10), n_ev), pa.int64()),
        "event_type": pick(r, EVENT_TYPES, n_ev),
        "value": cents(r.integers(1, 49_002, n_ev)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)])})
    n_doc = max(rows // 120, 50)
    vocab = words(r, 40)
    texts = [" ".join(np.asarray(vocab)[r.integers(0, len(vocab), r.integers(8, 90))])
             for _ in range(n_doc)]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": pa.array(texts),
        "lang": pick(r, LANGS, n_doc),
        "source": pa.array([f"src{i}" for i in r.integers(0, 20, n_doc)]),
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_doc), pa.int64()),
        "embedding": unit_vectors(r, n_doc, 64),
        "label": pa.array(r.integers(0, 10, n_doc), pa.int32())})
    return t


def unit_vectors(r, n, d):
    v = r.normal(size=(n, d)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.array(list(v), pa.list_(pa.float32()))


def gen_query_mix(seed, work, p):
    sf = f"{work}/inputs/sf"
    tables = fixture_tables(seed, p["rows"])
    total = sum(write(t, f"{sf}/{n}.parquet") for n, t in tables.items())
    info = {"query_input_mb": total / 2**20, "query_rows": p["rows"],
            "queries": len(p["queries"])}
    return {"sf_dir": sf, "queries": p["queries"]}, info, {"sf_dir": sf}


# ------------------------------------------------------ medallion_batches

# each incremental batch re-delivers REDELIVER x new_rows earlier keys
# with changed amounts, and DQ_FAIL of all rows violate a Silver DQ rule
REDELIVER = 0.2
DQ_FAIL = 0.01


def gen_medallion(seed, work, p, seconds):
    """The lineitem feed: an initial load and enough incremental batches
    for `seconds`. Every batch carries `new_rows` fresh keys; an incremental
    batch also carries re-delivered keys from earlier batches with changed
    amounts (updates, not inserts)."""
    n_b, new = 1 + blocks(seconds), p["new_rows"]
    rows = n_b * new
    s = sizes(rows)
    for name, t in dims(seed, **s).items():
        if name in ("orders", "customer", "supplier"):
            write(t, f"{work}/inputs/{name}.parquet")
    r = rng(seed, 3)
    redeliver = int(new * REDELIVER)
    # latest PASS version of each key: key -> (price cents, batch)
    model = {}
    batch_files, expect, total_bytes, n_redelivered, n_fail = [], [], 0, 0, 0
    for b in range(n_b):
        fresh = np.arange(b * new, (b + 1) * new)
        old = (r.choice(b * new, size=min(redeliver, b * new), replace=False)
               if b else np.array([], dtype=np.int64))
        ids = np.concatenate([fresh, old]).astype(np.int64)
        n = len(ids)
        cols = lineitem_columns(r, n, ids // 4, ids % 4 + 1, s["n_part"], s["n_supp"])
        qty = np.asarray(cols["l_quantity"].to_numpy())
        fail = r.random(n) < DQ_FAIL
        qty = np.where(fail, 0.0, qty)
        cols["l_quantity"] = pa.array(qty, pa.float64())
        price_c = np.round(np.asarray(cols["l_extendedprice"].to_numpy()) * 100).astype(np.int64)
        for i in range(n):
            if not fail[i]:
                model[int(ids[i])] = int(price_c[i])
        n_redelivered += len(old)
        n_fail += int(fail.sum())
        path = f"{work}/inputs/batches/b{b:03d}.parquet"
        nbytes = write(pa.table(cols), path)
        total_bytes += nbytes
        batch_files.append({"path": path, "rows": n, "bytes": nbytes})
        expect.append({"silver_rows": len(model),
                       "silver_price_cents": sum(model.values())})
    info = {"input_mb": total_bytes / 2**20, "batches": n_b,
            "rows": sum(f["rows"] for f in batch_files),
            "redelivered_share": n_redelivered / sum(f["rows"] for f in batch_files),
            "dq_fail_share": n_fail / sum(f["rows"] for f in batch_files)}
    plan = {"fixtures_dir": f"{work}/inputs", "batches": batch_files}
    return plan, info, {"expect": expect}


# -------------------------------------------------------------- table_ops

def zipf_recent(r, top, a):
    """An index in [0, top), Zipf-skewed toward top-1 (the newest)."""
    return top - min(int(r.zipf(a)), top)


READS = ["readWhereEquals", "readWhere", "readVersion", "changes"]
WRITES = ["mergeCommitDV", "mergeCommitPruned", "deleteWhere", "write"]
# the stream: WARMUP (untimed), then blocks of 5 reads, 4 writes and 2
# maintenance ops in a fixed order (the seed picks keys, ranges and
# versions, not the mix); the change feed reads back over the DV-safe
# commits before it
WARMUP = ["mergeCommitPruned", "readWhereEquals"]
BLOCK = ["mergeCommitPruned", "readWhereEquals", "mergeCommitDV", "readWhere", "write",
         "compact", "readVersion", "deleteWhere", "readWhereEquals", "changes",
         "optimizeZOrder"]
DV_SAFE = {"mergeCommitDV", "deleteWhere", "write", "compact", "optimizeZOrder"}
ZIPF = 1.1            # key skew toward recent keys
VERSION_DEPTH = 4     # readVersion goes this many ops back
CHANGES_DEPTH = 6     # the change feed spans at most this many ops


def tbl_row_digest(rows):
    """(count, sum k, sum price cents, sum quantity) of a row collection."""
    c = sk = sp = sq = 0
    for k, (price, qty, _part) in rows:
        c += 1; sk += k; sp += price; sq += qty
    return [c, sk, sp, sq]


def gen_table_ops(seed, work, p, seconds):
    """A seeded table and an op stream over it: WARMUP, then blocks of
    BLOCK. Keys are Zipf-skewed toward recent keys. The reference model
    replays the stream in plain Python."""
    r = rng(seed, 4)
    n0, m = p["seed_rows"], p["merge_rows"]
    s = sizes(n0)
    keys = np.arange(n0, dtype=np.int64)
    qty = r.integers(1, 51, n0)
    price = qty * r.integers(90_000, 210_000, n0)
    part = r.integers(0, s["n_part"], n0)
    live = {int(k): (int(pr), int(q), int(pt)) for k, pr, q, pt in zip(keys, price, qty, part)}
    seed_bytes = write(table_rows(keys, price, qty, part, r),
                       f"{work}/inputs/seed.parquet")
    next_key = n0
    ops, src_tables = [], []
    # per-op model results: digest of the table after the op, and the
    # change digest the op contributes to a change feed
    state_after = [tbl_row_digest(live.items())]   # index 0 = seed version
    kinds = WARMUP + BLOCK * blocks(seconds)
    for kind in kinds:
        op = {"kind": kind}
        newest = next_key - 1
        if kind in ("mergeCommitDV", "mergeCommitPruned"):
            upd = np.unique(newest - np.minimum(r.zipf(ZIPF, m) - 1, newest))
            upd = np.array([k for k in upd if int(k) in live], dtype=np.int64)
            ins = np.arange(next_key, next_key + m // 5, dtype=np.int64)
            next_key += len(ins)
            ks = np.concatenate([upd, ins])
            q = r.integers(1, 51, len(ks)); pr = q * r.integers(90_000, 210_000, len(ks))
            pt = r.integers(0, s["n_part"], len(ks))
            pre = [(int(k), live[int(k)]) for k in upd]
            post = [(int(k), (int(a), int(b), int(c))) for k, a, b, c in zip(ks, pr, q, pt)]
            for k, v in post:
                live[k] = v
            op["source"] = len(src_tables); src_tables.append(table_rows(ks, pr, q, pt, r))
            op["changes"] = {"insert": tbl_row_digest(post), "delete": tbl_row_digest(pre)}
        elif kind == "write":
            ks = np.arange(next_key, next_key + m, dtype=np.int64); next_key += m
            q = r.integers(1, 51, m); pr = q * r.integers(90_000, 210_000, m)
            pt = r.integers(0, s["n_part"], m)
            post = [(int(k), (int(a), int(b), int(c))) for k, a, b, c in zip(ks, pr, q, pt)]
            live.update(post)
            op["source"] = len(src_tables); src_tables.append(table_rows(ks, pr, q, pt, r))
            op["changes"] = {"insert": tbl_row_digest(post), "delete": [0, 0, 0, 0]}
        elif kind == "deleteWhere":
            lo = zipf_recent(r, next_key - p["delete_width"], ZIPF)
            hi = lo + p["delete_width"] - 1
            pre = [(k, live.pop(k)) for k in range(lo, hi + 1) if k in live]
            op.update(lo=lo, hi=hi)
            op["changes"] = {"insert": [0, 0, 0, 0], "delete": tbl_row_digest(pre)}
        elif kind == "readWhereEquals":
            k = zipf_recent(r, next_key, ZIPF)
            op["key"] = k
            op["expect"] = tbl_row_digest([(k, live[k])] if k in live else [])
        elif kind == "readWhere":
            lo = zipf_recent(r, next_key - p["range_width"], ZIPF)
            hi = lo + p["range_width"] - 1
            op.update(lo=lo, hi=hi)
            op["expect"] = tbl_row_digest([(k, live[k]) for k in range(lo, hi + 1) if k in live])
        elif kind == "readVersion":
            # time travel to the state a few ops back
            j = max(0, len(ops) - VERSION_DEPTH)
            op["after_op"] = j - 1        # -1 = the seed version
            op["expect"] = state_after[j]
        elif kind == "changes":
            # (version after op j-1, latest]: the longest run of
            # DV-safe commits, at most `changes_depth` ops back
            j = len(ops)
            while j > 0 and len(ops) - j < CHANGES_DEPTH and (
                    ops[j - 1]["kind"] in DV_SAFE or ops[j - 1]["kind"] in READS):
                j -= 1
            op["from_op"] = j - 1
            ins, dele = [0, 0, 0, 0], [0, 0, 0, 0]
            for o in ops[j:]:
                ch = o.get("changes")
                if ch:
                    ins = [a + b for a, b in zip(ins, ch["insert"])]
                    dele = [a + b for a, b in zip(dele, ch["delete"])]
            op["expect"] = {"insert": ins, "delete": dele}
        ops.append(op)
        state_after.append(tbl_row_digest(live.items()))
        op["state"] = state_after[-1]
    src_bytes = 0
    for i, t in enumerate(src_tables):
        src_bytes += write(t, f"{work}/inputs/src/s{i:04d}.parquet")
    n_r = sum(o["kind"] in READS for o in ops)
    n_w = sum(o["kind"] in WRITES for o in ops)
    info = {"input_mb": (seed_bytes + src_bytes) / 2**20, "seed_rows": n0,
            "ops": len(ops), "read_share": n_r / len(ops), "write_share": n_w / len(ops),
            "maintenance_share": (len(ops) - n_r - n_w) / len(ops),
            "final_live_rows": len(live)}
    plan = {"seed": f"{work}/inputs/seed.parquet", "src_dir": f"{work}/inputs/src",
            "ops": [{k: v for k, v in o.items() if k not in ("expect", "changes", "state")}
                    for o in ops],
            "zorder": ["k", "l_partkey"], "files": p["files"], "warmup_ops": len(WARMUP),
            "block_ops": len(BLOCK)}
    return plan, info, {"ops": ops, "seed_state": state_after[0]}


def table_rows(keys, price, qty, part, r):
    n = len(keys)
    return pa.table({
        "k": pa.array(keys, pa.int64()),
        "l_partkey": pa.array(part, pa.int64()),
        "l_quantity": pa.array(qty, pa.int64()),
        "price_cents": pa.array(price, pa.int64()),
        "l_returnflag": pick(r, ["A", "N", "R"], n)})


# --------------------------------------------------------------- curation

# injected shares of the corpus, the embedding width, top-k's k and the
# packing capacity in tokens
EXACT_SHARE, NEAR_SHARE, CONTAM_SHARE = 0.08, 0.1, 0.03
DIM, K, CAPACITY = 64, 10, 4096


def gen_curation(seed, work, p):
    """A document corpus with seeded shares of exact duplicates (case and
    whitespace variants of a base document), near-duplicates (one or two
    token substitutions) and eval contamination (copies of eval documents),
    plus an embedding corpus and query batches for top-k search."""
    r = rng(seed, 5)
    d = f"{work}/inputs/corpus"
    vocab = np.asarray(words(r, p["vocab"]))
    n, n_eval = p["docs"], p["eval_docs"]

    def fresh():
        return list(vocab[r.integers(0, len(vocab), r.integers(p["min_tokens"], p["max_tokens"]))])

    eval_docs = [fresh() for _ in range(n_eval)]
    n_exact, n_near = int(n * EXACT_SHARE), int(n * NEAR_SHARE)
    n_cont = int(n * CONTAM_SHARE)
    n_base = n - n_exact - n_near - n_cont
    toks = [fresh() for _ in range(n_base)]
    texts = [" ".join(t) for t in toks]
    kind = ["base"] * n_base
    origin = [-1] * n_base
    for _ in range(n_exact):
        j = int(r.integers(0, n_base))
        t = " ".join(toks[j])
        t = t.upper() if r.random() < 0.5 else t.replace(" ", "  ", 3)
        texts.append(t); toks.append(toks[j]); kind.append("exact"); origin.append(j)
    for _ in range(n_near):
        j = int(r.integers(0, n_base))
        t = list(toks[j])
        for pos in r.choice(len(t), size=int(r.integers(1, 3)), replace=False):
            t[pos] = vocab[r.integers(0, len(vocab))]
        texts.append(" ".join(t)); toks.append(t); kind.append("near"); origin.append(j)
    for _ in range(n_cont):
        j = int(r.integers(0, n_eval))
        texts.append(" ".join(eval_docs[j])); toks.append(eval_docs[j])
        kind.append("contam"); origin.append(j)
    perm = r.permutation(n)       # doc ids do not reveal the injected kind
    ids = np.empty(n, dtype=np.int64); ids[perm] = np.arange(n)
    docs = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts),
        "lang": pick(r, LANGS, n),
        "source": pa.array([f"src{i}" for i in r.integers(0, 20, n)]),
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    eval_tbl = pa.table({
        "doc_id": pa.array(np.arange(n_eval) + 10_000_000, pa.int64()),
        "text": pa.array([" ".join(t) for t in eval_docs])})
    b_docs = write(docs, f"{d}/documents.parquet")
    b_eval = write(eval_tbl, f"{d}/eval.parquet")
    nv, dim = p["vectors"], DIM
    centers = r.normal(size=(10, dim)).astype(np.float32)
    labels = r.integers(0, 10, nv)
    vec = centers[labels] + 0.8 * r.normal(size=(nv, dim)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    emb = pa.table({"vec_id": pa.array(np.arange(nv), pa.int64()),
                    "embedding": pa.array(list(vec), pa.list_(pa.float32())),
                    "label": pa.array(labels, pa.int32())})
    b_emb = write(emb, f"{d}/embeddings.parquet")
    nq = p["search_batches"] * p["queries_per_batch"]
    qv = centers[r.integers(0, 10, nq)] + 0.8 * r.normal(size=(nq, dim)).astype(np.float32)
    qv /= np.linalg.norm(qv, axis=1, keepdims=True)
    qtbl = pa.table({"query_id": pa.array(np.arange(nq) + 50_000_000, pa.int64()),
                     "batch": pa.array(np.arange(nq) // p["queries_per_batch"], pa.int32()),
                     "query_vec": pa.array(list(qv), pa.list_(pa.float32()))})
    b_q = write(qtbl, f"{d}/queries.parquet")
    by_id = {int(i): texts[pos] for pos, i in enumerate(ids)}
    info = {"corpus_input_mb": (b_docs + b_eval + b_emb + b_q) / 2**20, "docs": n,
            "eval_docs": n_eval, "exact_dup_share": n_exact / n,
            "near_dup_share": n_near / n, "contamination_share": n_cont / n,
            "vectors": nv, "search_batches": p["search_batches"]}
    plan = {"docs": f"{d}/documents.parquet", "eval": f"{d}/eval.parquet",
            "embeddings": f"{d}/embeddings.parquet",
            "query_vectors": f"{d}/queries.parquet", "k": K,
            "docs_count": n, "target_token": str(vocab[0]), "capacity": CAPACITY}
    injected = [(int(ids[n_base + i]), int(ids[origin[n_base + i]]))
                for i in range(n_exact, n_exact + n_near)]
    facts = {"texts": by_id, "eval": {int(10_000_000 + i): " ".join(t) for i, t in enumerate(eval_docs)},
             "near_pairs": injected, "vectors": vec, "vec_ids": np.arange(nv),
             "queries": qv, "query_ids": np.arange(nq) + 50_000_000,
             "queries_per_batch": p["queries_per_batch"], "k": K}
    return plan, info, facts


def gen_curation_queries(seed, work, p, seconds):
    # a block is a curation pass, every search batch and the query list
    plan, info, facts = gen_curation(seed, work, p["curation"])
    qplan, qinfo, qfacts = gen_query_mix(seed, work, p["query_mix"])
    return ({**plan, **qplan, "blocks": blocks(seconds)}, {**info, **qinfo},
            {**facts, **qfacts})


GENERATORS = {"medallion_batches": gen_medallion, "table_ops": gen_table_ops,
              "curation_queries": gen_curation_queries}


def generate(workload, seed, work, params, seconds):
    """Write the workload's inputs for a run of `seconds` under `work`;
    return (plan for the program, input summary, facts for the checks)."""
    return GENERATORS[workload](seed, work, params, seconds)
