"""Output checks, run after the program exits (outside every timed region).

Each checker compares what the program reported with an independent
computation: the medallion invariants against the generator's model of the
feed, table reads against a plain-Python replay of the op stream, curation
outputs against set arithmetic on the generated texts, top-k against numpy,
and registry queries against their oracle SQL in DuckDB. A checker returns
the number of failed ops and a list of messages.
"""
from pathlib import Path

import numpy as np

THRESHOLD = 0.6   # minhashLshPairs / crossCorpusOverlap default Jaccard gate
SHINGLE_N = 5


def check_medallion(result, facts):
    expect = facts["expect"]
    failed, msgs = 0, []
    for op in result["ops"]:
        want = expect[op["batch"]]["silver_rows"]
        if op["silver_rows"] != want:
            failed += 1
            msgs.append(f"batch {op['batch']}: silver rows {op['silver_rows']} != {want}")
    for c in result["checks"]:
        last = expect[c["batch"]]
        bad = []
        if c["silver_rows"] != last["silver_rows"]:
            bad.append(f"silver rows {c['silver_rows']} != {last['silver_rows']}")
        if c["silver_price_cents"] != last["silver_price_cents"]:
            bad.append(f"silver amount {c['silver_price_cents']} != {last['silver_price_cents']}")
        if c["fact_rows"] != c["silver_rows"]:
            bad.append(f"fact rows {c['fact_rows']} != silver rows {c['silver_rows']}")
        if c["fact_null_sk"]:
            bad.append(f"{c['fact_null_sk']} fact rows with a null surrogate key")
        if c["rollup_lines"] != c["fact_rows"]:
            bad.append(f"rollup lines {c['rollup_lines']} != fact rows {c['fact_rows']}")
        if c["rerun_silver_rows"] != 0 or c["fact_rows_after_rerun"] != c["fact_rows"]:
            bad.append("no-op re-run changed the tables")
        if bad:
            failed += 1
            msgs += bad
    return failed, msgs


def check_table_ops(result, facts):
    model = facts["ops"]
    failed, msgs = 0, []
    for op in result["ops"]:
        if "digest" not in op:
            continue
        want = model[op["op"]]["expect"]
        got = op["digest"]
        if got != want:
            failed += 1
            msgs.append(f"op {op['op']} {op['kind']}: got {got}, model {want}")
    for c in result["checks"]:
        done = c["ops_done"]
        want = model[done - 1]["state"] if done else facts["seed_state"]
        if c["final"] != want:
            failed += 1
            msgs.append(f"final table digest {c['final']} != model {want}")
    return failed, msgs


def shingles(text):
    toks = text.lower().split()
    return {" ".join(toks[i:i + SHINGLE_N]) for i in range(len(toks) - SHINGLE_N + 1)}


def jaccard(a, b):
    return len(a & b) / len(a | b) if a or b else 0.0


def components(pairs):
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def curation_expected(facts):
    """What one cookbook pass must produce, computed without the program:
    exact-dedup representatives, and for given near-dup pairs the deduped
    and decontaminated document sets."""
    texts = facts["texts"]
    groups = {}
    for i, t in texts.items():
        key = " ".join(t.lower().split())
        groups[key] = min(groups.get(key, i), i)
    kept = set(groups.values())
    rep = {i: groups[" ".join(t.lower().split())] for i, t in texts.items()}
    sh = {i: shingles(texts[i]) for i in kept}
    return kept, rep, sh


def check_curation(result, facts):
    kept, rep, sh = curation_expected(facts)
    eval_sh = {i: shingles(t) for i, t in facts["eval"].items()}
    index = {}
    for e, s in eval_sh.items():
        for g in s:
            index.setdefault(g, set()).add(e)
    failed, msgs = 0, []
    stats = {}
    for op in result["ops"]:
        if op["kind"] == "curate":
            bad = []
            if op["kept"] != len(kept):
                bad.append(f"exact dedup kept {op['kept']} != {len(kept)}")
            pairs = [tuple(p) for p in op["pairs"]]
            for a, b in pairs:
                if a not in sh or b not in sh or jaccard(sh[a], sh[b]) < THRESHOLD:
                    bad.append(f"pair ({a},{b}) is not a near-duplicate")
                    break
            comp = components(pairs)
            if {tuple(c) for c in op["components"]} != set(comp.items()):
                bad.append("connected components differ from union-find over the pairs")
            deduped = {i for i in kept if comp.get(i, i) == i}
            if op["deduped"] != len(deduped):
                bad.append(f"deduped {op['deduped']} != {len(deduped)}")
            want = set()
            for t in deduped:
                cand = set()
                for g in shingles(facts["texts"][t]):
                    cand |= index.get(g, set())
                for e in cand:
                    if jaccard(sh[t], eval_sh[e]) >= THRESHOLD:
                        want.add((t, e))
            if {tuple(p) for p in op["overlap"]} != want:
                bad.append(f"decontamination found {len(op['overlap'])} pairs, expected {len(want)}")
            clean = deduped - {t for t, _ in want}
            if op["weighted"] != len(clean) or op["packed"] != len(clean):
                bad.append(f"weighted/packed {op['weighted']}/{op['packed']} != {len(clean)} clean docs")
            # recall of the injected near-duplicates that clear the gate
            found = {(min(a, b), max(a, b)) for a, b in pairs}
            inj = set()
            for a, b in facts["near_pairs"]:
                a, b = rep[a], rep[b]
                if a != b and jaccard(sh[a], sh[b]) >= THRESHOLD:
                    inj.add((min(a, b), max(a, b)))
            stats["recall"] = len(inj & found) / len(inj) if inj else 1.0
            stats["pairs"] = len(pairs)
            if bad:
                failed += 1
                msgs += bad
        elif op["kind"] == "search":
            if not topk_ok(op, facts):
                failed += 1
                msgs.append(f"top-k batch {op['batch']} differs from numpy")
    return failed, msgs, stats


def topk_ok(op, facts):
    vec, ids, k = facts["vectors"].astype(np.float64), facts["vec_ids"], facts["k"]
    q_ix = {int(q): i for i, q in enumerate(facts["query_ids"])}
    got = {}
    for q, nb in op["result"]:
        got.setdefault(q, []).append(nb)
    per = facts["queries_per_batch"]
    want_q = facts["query_ids"][op["batch"] * per:(op["batch"] + 1) * per]
    if set(got) != {int(q) for q in want_q}:
        return False
    for q, nbs in got.items():
        qv = facts["queries"][q_ix[q]].astype(np.float64)
        sims = vec @ qv / (np.linalg.norm(vec, axis=1) * np.linalg.norm(qv))
        best = np.sort(sims)[::-1][:k]
        mine = sims[np.searchsorted(ids, nbs)]
        # ranks compare by similarity: ties within the engine's 4-decimal
        # rounding may order differently, nothing else may
        if len(nbs) != min(k, len(ids)) or np.any(np.abs(np.sort(mine)[::-1] - best) > 1.5e-4):
            return False
    return True


def check_query_mix(result, sf_dir):
    """Every query's warm-up output against its oracle SQL in DuckDB,
    canonicalized by the repository's self-check (tools/selfcheck.py):
    columns sorted by name, rows sorted, values compared by type and text."""
    import duckdb
    from selfcheck import canon
    chk = result["checks"][0]
    con = duckdb.connect()
    for p in Path(sf_dir).glob("*.parquet"):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
    bad_q, msgs = set(), []
    for q, sql in chk["oracle"].items():
        if sql is None:
            bad_q.add(q); msgs.append(f"{q}: no oracle SQL"); continue
        try:
            got = con.sql(f"SELECT * FROM read_parquet('{chk['out_dir']}/{q}/*.parquet')")
            g, gc = canon(got.fetchall(), got.columns)
            exp = con.sql(sql)
            e, ec = canon(exp.fetchall(), exp.columns)
        except Exception as ex:  # a query that cannot be compared fails
            bad_q.add(q); msgs.append(f"{q}: {str(ex).splitlines()[0]}"); continue
        if gc != ec or g != e:
            bad_q.add(q)
            msgs.append(f"{q}: output differs from the oracle "
                        f"({len(g)} rows vs {len(e)}, cols {gc == ec})")
    failed = sum(op.get("query") in bad_q for op in result["ops"])
    return failed, msgs
