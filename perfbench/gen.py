"""Seeded input generator for the benchmark.

Everything the measured program reads is made here from a seed, inside
the checkout:

* ``tables(out, sf, seed)`` writes the ten parquet tables the named
  queries read (region .. lineitem, events, documents, embeddings) in
  schemas and value domains of the repository's test tables (TESTDATA.md),
  scaled by ``sf``
  (sf=0.1: 100k events, 5k documents, 600k lineitems).
* ``changes(events, documents, n, seed)`` derives RecentChange
  ``Change`` JSON events from a generated ``events`` table and the
  revision texts from its ``documents``, plus the two dimension tables
  the static pipeline joins (users, revisions).

Selectivities of the derived change stream (stated in README.md; the
unit tests pin them within tolerance):

* stream filter of the ``example`` spec (type edit/create, bot false,
  namespace 2, site en.wikipedia.org) keeps P(type) 0.8 x P(!bot) 0.9 x
  P(ns=2) 0.25 x P(en) 0.7 = 12.6 % of events;
* the example regex ``\\buserbox(e[ns])?\\b`` hits 20 % of revision
  texts;
* 2 % of users and 2 % of revisions are missing from their dimension
  ("race" rows, dead-lettered by the pipeline);
* titles repeat Zipf-like: title = User:P<k>, k = floor(T * u**3) over a
  pool of T = n/4 pages, so low k repeat often and the tail is mostly
  distinct.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
PART_ADJ = "large hot blue old cold red small new".split()
PART_NOUN = "ring bolt plate gear widget rod anvil gizmo".split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

# Change-stream selectivities (module docstring).
P_EDIT_TYPE = 0.8
P_NOT_BOT = 0.9
P_NS2 = 0.25
P_EN = 0.7
P_USERBOX = 0.2
P_MISSING_USER = 0.02
P_MISSING_REV = 0.02


def _ts(start, seconds):
    return (np.datetime64(start, "us")
            + (np.asarray(seconds) * 1e6).astype("timedelta64[us]"))


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, name + ".parquet"))


def _text(rng, n_words):
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_words))


def tables(out, sf, seed):
    """Write the ten query tables for scale factor ``sf`` into ``out``."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150000 * sf), max(10, int(10000 * sf))
    n_part, n_ord = int(200000 * sf), int(1500000 * sf)
    n_li, n_ev = int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))

    _write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                           "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.array(names)[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": np.array(P_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord) * 86400),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["N", "R", "A"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, n_li) * 86400)})
    gaps = rng.exponential(30 * 86400 / max(n_ev, 1), n_ev)
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts("2024-01-01", np.cumsum(gaps)),
        "user_id": rng.integers(0, max(1, int(15000 * sf)), n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts, langs = [], np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)]
    for i in range(n_doc):
        if i > 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(_text(rng, int(rng.integers(10, 101))))
    _write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64), "text": texts,
        "lang": langs, "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, n_emb)
    emb = rng.normal(0, 1, (n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def changes(events_path, documents_path, n, seed):
    """Derive ``n`` Change events from generated events/documents tables.

    Returns (payloads, users, revisions): the JSON payload of every event
    in stream order, and the (user, editcount) / (revid, text) dimension
    columns with the race rows left out. Event time (meta.dt) is
    compressed so all ``n`` events fall inside 50 minutes, inside the
    pipeline's 1-hour watermark.
    """
    ev = pq.read_table(events_path).to_pydict()
    docs = pq.read_table(documents_path, columns=["text"]).column(0).to_pylist()
    rng = np.random.default_rng([seed, 2])
    m = len(ev["event_id"])
    row = np.arange(n) % m
    edit = rng.random(n) < P_EDIT_TYPE
    etype = np.array(ev["event_type"], dtype=object)[row]
    ctype = np.where(edit, np.where(etype == "purchase", "create", "edit"),
                     np.where(etype == "signup", "log", "categorize"))
    bot = rng.random(n) >= P_NOT_BOT
    ns = np.where(rng.random(n) < P_NS2, 2, rng.choice([0, 1, 3, 4], n))
    site = np.where(rng.random(n) < P_EN, "en.wikipedia.org", "de.wikipedia.org")
    user_ids = np.array(ev["user_id"], dtype=np.int64)[row]
    n_pages = max(1, n // 4)
    page = np.floor(n_pages * rng.random(n) ** 3).astype(np.int64)
    revid = 1_000_000 + np.arange(n, dtype=np.int64)
    old_len = rng.integers(0, 5000, n)
    new_len = old_len + rng.integers(-200, 800, n)
    props_k = [int(json.loads(p)["k"]) for p in ev["props"]]
    base_us = 1_786_612_500_000_000
    dt_us = base_us + (np.arange(n, dtype=np.int64) * 3_000_000_000 // max(n, 1))
    payloads = []
    for i in range(n):
        sec = int(dt_us[i] // 1_000_000)
        dt = np.datetime_as_string(np.datetime64(sec, "s")) + "Z"
        title = f"User:P{page[i]}"
        user = f"U{user_ids[i]}"
        s = site[i]
        payloads.append(json.dumps({
            "comment": f"k={props_k[row[i]]}", "wiki": s.split(".")[0] + "wiki",
            "type": ctype[i], "server_name": s, "server_script_path": "/w",
            "namespace": int(ns[i]), "title": title, "bot": bool(bot[i]),
            "server_url": f"https://{s}",
            "length": {"old": int(old_len[i]), "new": int(new_len[i])},
            "meta": {"domain": s, "partition": 0,
                     "uri": f"https://{s}/wiki/{title}", "offset": i,
                     "topic": "eqiad.mediawiki.recentchange",
                     "request_id": f"r{i}",
                     "schema_uri": "mediawiki/recentchange/1.0.0",
                     "dt": dt, "id": f"m{i}"},
            "user": user, "timestamp": sec, "patrolled": False, "id": i,
            "minor": bool(i % 7 == 0),
            "revision": {"old": int(revid[i] - 1), "new": int(revid[i])}},
            separators=(",", ":")))
    n_users = int(user_ids.max()) + 1 if n else 0
    urng = np.random.default_rng([seed, 3])
    u_missing = urng.random(n_users) < P_MISSING_USER
    u_count = urng.integers(1, 20000, n_users)
    users = {"user": [f"U{u}" for u in range(n_users) if not u_missing[u]],
             "editcount": [int(u_count[u]) for u in range(n_users)
                           if not u_missing[u]]}
    r_missing = rng.random(n) < P_MISSING_REV
    r_box = rng.random(n) < P_USERBOX
    r_doc = rng.integers(0, len(docs), n)
    rev_ids, rev_texts = [], []
    for i in range(n):
        if r_missing[i]:
            continue
        t = docs[r_doc[i]]
        if r_box[i]:
            t = t + " {{Userbox}}"
        rev_ids.append(int(revid[i]))
        rev_texts.append(t)
    return payloads, users, {"revid": rev_ids, "text": rev_texts}


def write_changes(out, tables_dir, n, seed):
    """Write the change stream of ``n`` events and its dims into ``out``:
    ``changes.sse`` (id:/data: frames), ``changes.jsonl`` (one payload a
    line, for the live publisher), ``users.parquet``, ``revisions.parquet``.
    """
    os.makedirs(out, exist_ok=True)
    payloads, users, revs = changes(
        os.path.join(tables_dir, "events.parquet"),
        os.path.join(tables_dir, "documents.parquet"), n, seed)
    with open(os.path.join(out, "changes.sse"), "w") as f:
        for i, p in enumerate(payloads):
            f.write(f"id: {i}\ndata: {p}\n\n")
    with open(os.path.join(out, "changes.jsonl"), "w") as f:
        for p in payloads:
            f.write(p + "\n")
    pq.write_table(pa.table({"user": users["user"],
                             "editcount": pa.array(users["editcount"], pa.int64())}),
                   os.path.join(out, "users.parquet"))
    pq.write_table(pa.table({"revid": pa.array(revs["revid"], pa.int64()),
                             "text": revs["text"]}),
                   os.path.join(out, "revisions.parquet"))
