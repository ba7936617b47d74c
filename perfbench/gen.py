"""Seeded input generators for the benchmark workloads.

Every input a workload reads is written here, before the JVM starts and
before any timing: the same seed always yields byte-identical inputs.

  minisql_repl   a reference-style CSV catalog (metadata.txt + three
                 integer tables at fixture scale) and a statement stream
                 in rounds of fixed class composition, each statement
                 carrying the answer of a naive in-memory evaluation.
  relational_sf0.1
                 rounds of the 14 relational bench queries in seeded
                 order, over the read-only sf0.1 test data.
  manifest_cdc   the sf0.1 test-data corpus (documents.parquet, 5000
                 documents) as feed batch 0, then change batches of ~1%
                 churn made from its texts: edits, deletes, re-inserts and
                 empty/whitespace updates the quality gate retracts.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- repl

REPL_ROUNDS = 45  # 5 warm-up rounds + ~1.6 s rounds for up to 60 s
REPL_ROUND = (
    ["star"] * 2 + ["proj"] * 3 + ["max", "min", "sum", "avg"]
    + ["distinct"] * 2 + ["where_and"] * 2 + ["where_or"] * 2
    + ["join_star", "join_proj"] + ["cartesian"] * 2 + ["error"])


def _catalog(rng):
    """Three tables shaped like the reference fixtures: table1 and table2
    share column B (the equi-join key), table2 and table3 share D."""
    b_pool = rng.choice(np.arange(-900, 1000), 12, replace=False)
    t1 = [[int(rng.integers(-1000, 1000)), int(rng.choice(b_pool)),
           int(rng.integers(0, 10000))] for _ in range(20)]
    t2 = [[int(rng.choice(b_pool)), int(rng.integers(0, 100000))]
          for _ in range(15)]
    d_pool = [r[1] for r in t2]
    e_pool = rng.integers(-50, 50, 8)
    t3 = [[int(rng.choice(d_pool)), int(rng.choice(e_pool)),
           int(rng.integers(0, 20))] for _ in range(60)]
    return {"table1": (["A", "B", "C"], t1, True),
            "table2": (["B", "D"], t2, False),
            "table3": (["D", "E", "F"], t3, True)}


def _write_catalog(cat, out):
    with open(os.path.join(out, "metadata.txt"), "w") as f:
        for name, (cols, _, _) in cat.items():
            f.write("<begin_table>\n%s\n%s\n<end_table>\n"
                    % (name, "\n".join(cols)))
    for name, (_, rows, quoted) in cat.items():
        with open(os.path.join(out, name + ".csv"), "w") as f:
            for r in rows:
                cells = ['"%d"' % v if quoted else str(v) for v in r]
                f.write(",".join(cells) + "\n")


def _cmp(op, a, b):
    return {"=": a == b, "!=": a != b, "<": a < b, ">": a > b,
            "<=": a <= b, ">=": a >= b}[op]


def _statement(cls, cat, rng):
    """One statement of class `cls`: (sql, expected). `expected` is either
    {"header", "rows"} — cells are ints, None (NULL) or ["avg", sum, n] —
    or {"error": message}, the reference's error text."""
    def pick(seq):
        return seq[int(rng.integers(0, len(seq)))]

    def hdr(t, c):
        return "%s.%s" % (t.upper(), c)

    if cls == "error":
        if rng.random() < 0.5:
            n = int(rng.integers(4, 10))
            return ("select A from table%d" % n,
                    {"error": "Table TABLE%d doesn't exist in database" % n})
        c = pick(["Z", "Q", "X"])
        return ("select %s from table1" % c,
                {"error": "Column %s not found in specified table(s)" % c})

    if cls in ("join_star", "join_proj", "cartesian"):
        (lt, rt, key) = pick([("table1", "table2", "B"),
                              ("table2", "table3", "D")])
        lc, lrows, _ = cat[lt]
        rc, rrows, _ = cat[rt]
        li, ri = lc.index(key), rc.index(key)
        if cls == "join_star":
            sql = "select * from %s, %s where %s.%s = %s.%s" % (
                lt, rt, lt, key, rt, key)
            header = [hdr(lt, c) for c in lc] + [
                hdr(rt, c) for c in rc if c != key]
            rows = [x + [v for j, v in enumerate(y) if j != ri]
                    for x in lrows for y in rrows if x[li] == y[ri]]
            return sql, {"header": header, "rows": rows}
        # one non-key column from each side, unqualified (unambiguous)
        a = pick([c for c in lc if c != key])
        b = pick([c for c in rc if c != key])
        ai, bi = lc.index(a), rc.index(b)
        if cls == "join_proj":
            sql = "select %s, %s from %s, %s where %s.%s = %s.%s" % (
                a, b, lt, rt, lt, key, rt, key)
            rows = [[x[ai], y[bi]] for x in lrows for y in rrows
                    if x[li] == y[ri]]
        else:
            sql = "select %s, %s from %s, %s" % (a, b, lt, rt)
            rows = [[x[ai], y[bi]] for x in lrows for y in rrows]
        return sql, {"header": [hdr(lt, a), hdr(rt, b)], "rows": rows}

    t = pick(list(cat))
    cols, rows, _ = cat[t]
    if cls == "star":
        return ("select * from %s" % t,
                {"header": [hdr(t, c) for c in cols],
                 "rows": [list(r) for r in rows]})
    if cls == "proj":
        k = int(rng.integers(1, len(cols) + 1))
        ps = [cols[i] for i in sorted(rng.choice(len(cols), k, replace=False))]
        qualify = rng.random() < 0.5
        sql = "select %s from %s" % (
            ", ".join("%s.%s" % (t, c) if qualify else c for c in ps), t)
        idx = [cols.index(c) for c in ps]
        return sql, {"header": [hdr(t, c) for c in ps],
                     "rows": [[r[i] for i in idx] for r in rows]}
    if cls in ("max", "min", "sum", "avg"):
        c = pick(cols)
        vals = [r[cols.index(c)] for r in rows]
        cell = {"max": max(vals), "min": min(vals), "sum": sum(vals),
                "avg": ["avg", sum(vals), len(vals)]}[cls]
        return ("select %s(%s) from %s" % (cls, c, t),
                {"header": ["%s(%s)" % (cls.upper(), hdr(t, c))],
                 "rows": [[cell]]})
    if cls == "distinct":
        c = pick(cols)
        seen = []
        for r in rows:
            v = r[cols.index(c)]
            if v not in seen:
                seen.append(v)
        return ("select distinct(%s) from %s" % (c, t),
                {"header": [hdr(t, c)], "rows": [[v] for v in seen]})
    # where_and / where_or: two comparisons over literals drawn from the
    # table itself, so equality predicates hit real rows
    conj = "and" if cls == "where_and" else "or"
    (c1, c2) = [cols[i] for i in rng.choice(len(cols), 2, replace=False)]
    i1, i2 = cols.index(c1), cols.index(c2)
    op1 = pick(["=", "<", ">", "<=", ">=", "!="])
    op2 = pick(["=", "<", ">", "<=", ">="])
    v1 = pick(rows)[i1]
    v2 = pick(rows)[i2]
    out = [cols[i] for i in sorted(rng.choice(len(cols), 2, replace=False))]
    oi = [cols.index(c) for c in out]

    def keep(r):
        a, b = _cmp(op1, r[i1], v1), _cmp(op2, r[i2], v2)
        return (a and b) if conj == "and" else (a or b)
    sql = "select %s from %s where %s %s %d %s %s %s %d" % (
        ", ".join(out), t, c1, op1, v1, conj, c2, op2, v2)
    return sql, {"header": [hdr(t, c) for c in out],
                 "rows": [[r[i] for i in oi] for r in rows if keep(r)]}


def repl_inputs(seed, out, data):
    rng = np.random.default_rng([seed, 1])
    cat = _catalog(rng)
    _write_catalog(cat, out)
    n = 0
    with open(os.path.join(out, "statements.jsonl"), "w") as f:
        for rnd in range(REPL_ROUNDS):
            for cls in rng.permutation(REPL_ROUND):
                sql, expect = _statement(str(cls), cat, rng)
                f.write(json.dumps({"round": rnd, "cls": str(cls),
                                    "sql": sql, "expect": expect}) + "\n")
                n += 1
    rows = sum(len(r) for _, r, _ in cat.values())
    return {"tables": len(cat), "catalog_rows": rows,
            "rounds": REPL_ROUNDS, "round_size": len(REPL_ROUND),
            "statements": n}


# ------------------------------------------------------------- manifest

MANIFEST_BATCHES = 16  # change batches after the bootstrap batch
CHURN = {"U": 28, "D": 8, "I": 6, "blank": 8}  # 50 rows = 1% of 5000 docs


def _feed_table(rows):
    seq, op, ids, text, lang = zip(*rows)
    return pa.table({
        "seq": pa.array(seq, pa.int64()), "op": pa.array(op, pa.string()),
        "id": pa.array(ids, pa.int64()), "text": pa.array(text, pa.string()),
        "lang": pa.array(lang, pa.string())})


def manifest_inputs(seed, out, data):
    """Feed batch 0 is the test-data corpus `documents.parquet` as
    inserts; the change batches are edits of its real texts."""
    docs = pq.read_table(os.path.join(data, "documents.parquet"),
                         columns=["doc_id", "text", "lang"]).to_pydict()
    rng = np.random.default_rng([seed, 2])
    original = {int(i): (t, l) for i, t, l in
                zip(docs["doc_id"], docs["text"], docs["lang"])}
    corpus = [original[i][0] for i in sorted(original)]
    live = dict(original)  # id -> (text, lang) as the feed advances
    boot = [(k, "I", i, t, l) for k, (i, (t, l)) in
            enumerate(sorted(original.items()))]
    pq.write_table(_feed_table(boot), os.path.join(out, "batch_0000.parquet"))

    def donor_tokens(n):
        """`n` tokens of a randomly drawn corpus document, in order."""
        words = corpus[int(rng.integers(0, len(corpus)))].split()
        k = int(rng.integers(0, max(1, len(words) - n)))
        return words[k:k + n]

    deleted = []
    for b in range(1, MANIFEST_BATCHES + 1):
        ids = np.array(sorted(live))
        n_live = CHURN["U"] + CHURN["D"] + CHURN["blank"]
        touched = [int(x) for x in rng.choice(ids, n_live, replace=False)]
        ups = touched[:CHURN["U"]]
        dels = touched[CHURN["U"]:CHURN["U"] + CHURN["D"]]
        blanks = touched[CHURN["U"] + CHURN["D"]:]
        reins = [int(x) for x in rng.choice(
            deleted, min(CHURN["I"], len(deleted)), replace=False)]
        changes = []
        for k, i in enumerate(ups):
            text, lang = live[i]
            if k == 0:
                # an update that copies another live document with one
                # token changed: it joins that document's near-dup cluster
                words = live[int(rng.choice(ids))][0].split() or [""]
                words[int(rng.integers(0, len(words)))] = donor_tokens(1)[0]
            else:
                # an edit: three tokens replaced and two appended, all
                # taken from another corpus document
                words = text.split() or donor_tokens(10)
                for w in donor_tokens(3):
                    words[int(rng.integers(0, len(words)))] = w
                words += donor_tokens(2)
            text = " ".join(words)
            live[i] = (text, lang)
            changes.append(("U", i, text, lang))
        for i in blanks:
            text = " " * int(rng.integers(0, 4))  # "" or whitespace only
            live[i] = (text, live[i][1])
            changes.append(("U", i, text, live[i][1]))
        for i in dels:
            del live[i]
            changes.append(("D", i, None, None))
        for i in reins:
            # a deleted document comes back with its corpus text
            live[i] = original[i]
            changes.append(("I", i) + original[i])
        deleted = [d for d in deleted if d not in reins] + dels
        order = rng.permutation(len(changes))
        rows = [(b * 1_000_000 + k,) + changes[j]
                for k, j in enumerate(order)]
        pq.write_table(_feed_table(rows),
                       os.path.join(out, "batch_%04d.parquet" % b))
    return {"docs": len(original), "change_batches": MANIFEST_BATCHES,
            "changes_per_batch": sum(CHURN.values()),
            "churn": sum(CHURN.values()) / len(original)}


# ----------------------------------------------------------- relational

# the `bench = true` rows of Queries.relational: the queries graft.Bench
# times, named so that the workload stays the same when that flag moves
RELATIONAL = ["q_projection", "q_filter_range", "q_join_multi", "q1_agg",
              "q_sort_limit", "q_window_rank", "q_tpch_q3", "q_tpch_q5",
              "q_tpch_q1", "q_tpch_q6", "q_tpch_q10", "q_tpch_q2",
              "q_tpch_q9", "q_tpch_q11"]
RELATIONAL_ROUNDS = 8  # ~11 s a round


def relational_inputs(seed, out, data):
    """The seeded query order; the tables are the read-only sf0.1 test
    data, which no run modifies."""
    rng = np.random.default_rng([seed, 3])
    rounds = [[RELATIONAL[int(j)] for j in rng.permutation(len(RELATIONAL))]
              for _ in range(RELATIONAL_ROUNDS)]
    with open(os.path.join(out, "order.json"), "w") as f:
        json.dump({"rounds": rounds}, f)
    tables = sorted(n[:-len(".parquet")] for n in os.listdir(data)
                    if n.endswith(".parquet"))
    return {"queries": len(RELATIONAL), "rounds": RELATIONAL_ROUNDS,
            "table_rows": {t: pq.ParquetFile(os.path.join(
                data, t + ".parquet")).metadata.num_rows for t in tables},
            "table_bytes": sum(os.path.getsize(os.path.join(
                data, t + ".parquet")) for t in tables)}


GENERATORS = {"minisql_repl": repl_inputs, "relational_sf0.1": relational_inputs,
              "manifest_cdc": manifest_inputs}


def generate(workload, seed, out, data):
    """Write the inputs of `workload` for `seed` under `out` (reused when a
    previous run already wrote them); returns the input-size summary.
    `data` is the sf0.1 test-data directory the relational and manifest
    workloads read."""
    done = os.path.join(out, "_inputs.json")
    if os.path.exists(done):
        with open(done) as f:
            return json.load(f)
    os.makedirs(out, exist_ok=True)
    sizes = GENERATORS[workload](seed, out, data)
    with open(done, "w") as f:
        json.dump(sizes, f)
    return sizes
