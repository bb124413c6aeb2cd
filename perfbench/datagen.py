"""Input generators for the benchmark.

Two kinds of input:

* ``registry_tables`` writes the ten parquet tables the registry queries read
  (``Tables.names``), in the shape of the TPC-H-like star schema plus the
  events/documents/embeddings side tables: the same columns, types and
  value ranges, one row group per file, every column drawn independently and
  uniformly except where noted. Its seed is fixed (``REGISTRY_SEED``), so the
  registry workloads always read the same tables and their expected results
  can be frozen (``expected.json``); the workload seed chooses which queries
  run and in which order.
* ``ingest_csv`` writes one messy CSV for the ingest round trip from the
  workload seed, and returns the truth the round trip must reproduce.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGISTRY_SEED = 20240101
REGISTRY_SF = 0.1
# bump when the generator changes, so a cached copy is rebuilt
REGISTRY_VERSION = 1

_WORDS = ("a the data row column table key value join group agg sort scan "
          "filter hash merge window stream batch part line order customer "
          "query spark vector fast slow big small").split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def _ts(days_from, days_to, n, rng, day_grain):
    """n timestamps in [days_from, days_to) days after 1970-01-01 as µs."""
    if day_grain:
        d = rng.integers(days_from, days_to, n)
        return pa.array(d * 86_400_000_000, pa.timestamp("us"))
    us = rng.integers(days_from * 86_400_000_000, days_to * 86_400_000_000, n)
    return pa.array(np.sort(us), pa.timestamp("us"))


def _days(y, m, d):
    return (dt.date(y, m, d) - dt.date(1970, 1, 1)).days


def _money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def registry_tables(out_dir, sf=REGISTRY_SF, seed=REGISTRY_SEED):
    """Write the registry's ten tables as parquet files into out_dir."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_evt = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb, n_user = int(50_000 * sf), int(20_000 * sf), int(15_000 * sf)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    write("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    write("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    write("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = np.array("blue old small new large hot cold red".split())
    noun = np.array("widget gizmo ring gear bolt plate rod anvil".split())
    ptype = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    write("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": ptype[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(_days(1995, 1, 1), _days(2001, 8, 2), n_ord, rng, True),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(_days(1995, 1, 2), _days(2001, 11, 5), n_line, rng, True)})
    etype = np.array(["click", "error", "purchase", "signup", "view"])
    write("events", {
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        # distinct, increasing with event_id, over the 30 days of 2024-01
        "ts": _ts(_days(2024, 1, 1), _days(2024, 1, 31), n_evt, rng, False),
        "user_id": pa.array(rng.integers(0, n_user, n_evt), pa.int64()),
        "event_type": etype[rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    # 5% of documents repeat an earlier original's text with a " dup" suffix,
    # so the near-duplicate queries find real clusters
    texts = []
    originals = []
    for i in range(n_doc):
        if originals and rng.random() < 0.05:
            texts.append(texts[originals[rng.integers(0, len(originals))]] + " dup")
        else:
            words = rng.integers(0, len(_WORDS), rng.integers(10, 101))
            texts.append(" ".join(_WORDS[w] for w in words))
            originals.append(i)
    write("documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, n_doc, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    vec = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})


# ---------------------------------------------------------------- ingest CSV

INGEST_COLUMNS = ["id", "amount", "day", "active", "category", "qty", "name", "note"]
# what DetectTypes must infer for each column (meza's type names)
INGEST_TYPES = {"id": "int", "amount": "float", "day": "date", "active": "bool",
                "category": "text", "qty": "int", "name": "text", "note": "text"}
_LAST = "Smith Jones Brown Garcia Miller Davis Lopez Wilson Moore Taylor".split()
_FIRST = "Ann Bob Cruz Dana Eli Fay Gus Hana Ivo Jin".split()


def ingest_csv(path, seed, rows):
    """Write a messy CSV of about `rows` lines and return its truth.

    Messy on purpose: amounts like "$12,345.67", dates mixed between
    YYYY-MM-DD and MM/DD/YYYY, yes/no booleans, "n/a" nulls, quoted commas in
    the name and note fields, and about 2% repeated ids (each repeat is an
    exact copy of the row it repeats, so dropping duplicate ids is
    unambiguous).
    """
    rng = np.random.default_rng(seed)
    n_unique = int(rows / 1.02)
    cents = rng.integers(100, 5_000_000, n_unique)
    amount_null = rng.random(n_unique) < 0.01
    days = rng.integers(_days(2015, 1, 1), _days(2024, 12, 31), n_unique)
    iso = rng.random(n_unique) < 0.5
    active = rng.random(n_unique) < 0.6
    cat = rng.integers(0, 20, n_unique)
    qty = rng.integers(0, 500, n_unique)
    qty_null = rng.random(n_unique) < 0.01
    last = rng.integers(0, len(_LAST), n_unique)
    first = rng.integers(0, len(_FIRST), n_unique)
    note_words = rng.integers(0, len(_WORDS), (n_unique, 5))
    ids = rng.permutation(n_unique) + 100_000
    # rows that are written twice; the copy goes at a random later place
    dup_of = rng.choice(n_unique, rows - n_unique, replace=False)
    order = np.concatenate([np.arange(n_unique), dup_of])
    order = order[np.argsort(np.concatenate(
        [np.arange(n_unique, dtype=np.float64),
         dup_of + rng.random(len(dup_of)) * (n_unique - dup_of)]), kind="stable")]

    cat_n = np.bincount(cat, minlength=20)
    cat_cents = np.bincount(cat, weights=np.where(amount_null, 0, cents), minlength=20)
    # string tables, indexed per row: formatting a million rows one field at
    # a time in Python is what makes generation slow
    day0 = _days(2015, 1, 1)
    cal = [dt.date(2015, 1, 1) + dt.timedelta(days=int(k)) for k in range(days.max() - day0 + 1)]
    iso_s = [d.isoformat() for d in cal]
    us_s = [d.strftime("%m/%d/%Y") for d in cal]
    names = [f'"{a}, {b}"' for a in _LAST for b in _FIRST]
    lines = [",".join(INGEST_COLUMNS)]
    for i in order.tolist():
        c = int(cents[i])
        k = int(days[i]) - day0
        nw = note_words[i]
        amount = "n/a" if amount_null[i] else (
            f'"${c // 100:,}.{c % 100:02d}"' if c >= 100_000 else f"${c // 100}.{c % 100:02d}")
        lines.append(
            f"{ids[i]},{amount},{iso_s[k] if iso[i] else us_s[k]},"
            f"{'yes' if active[i] else 'no'},cat_{cat[i]:02d},"
            f"{'n/a' if qty_null[i] else qty[i]},{names[last[i] * len(_FIRST) + first[i]]},"
            f'"{_WORDS[nw[0]]} {_WORDS[nw[1]]}, {_WORDS[nw[2]]} {_WORDS[nw[3]]} {_WORDS[nw[4]]}"')
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(lines))
        f.write("\n")
    return {
        "rows": int(len(order)),
        "distinct_ids": int(n_unique),
        "types": INGEST_TYPES,
        "categories": {f"cat_{k:02d}": {"n": int(cat_n[k]), "amount_cents": int(cat_cents[k])}
                       for k in range(20)},
        "bytes": os.path.getsize(path),
    }
