"""Seeded inputs for the benchmark workloads.

Everything the program sees is made here from the run's seed: the same
seed gives byte-identical inputs.

* ``corpus``   the star schema plus ``events``/``documents``/``embeddings``
  in the shape of the repo's test tables, at a chosen base scale.
* ``scale10``  the ``graft.tools.ScaleSynth`` recipe (10 copies of the
  documents, embeddings, events, orders and lineitem tables, with
  near-dup cliques, a mega-domain, a 997-user hot pool and a hub
  supplier). The seed picks the clone-suffix tokens and which five of the
  ten copies go into the mega-domain, hot pool and hub.
* ``serve_requests``  the request mix of ``serve_mix``.
* ``news_batch`` / ``event_slices``  what lands before each refresh tick.
"""
import datetime as dt
import json
import os
from urllib.parse import quote

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("row the query stream value hash batch sort data big filter dup key "
         "agg scan slow table part a merge window order column join vector "
         "fast spark line small customer group").split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.44, 0.13, 0.15, 0.15, 0.13]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
SEGMENTS = ["HOUSEHOLD", "MACHINERY", "AUTOMOBILE", "FURNITURE", "BUILDING"]
PART_ADJ = ["large", "red", "hot", "cold", "old", "new", "blue", "small"]
PART_NOUN = ["anvil", "plate", "gizmo", "ring", "widget", "gear", "bolt", "rod"]
PART_TYPES = ["PROMO", "SMALL", "MEDIUM", "ECONOMY", "STANDARD", "LARGE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

US_PER_DAY = 86_400_000_000
EPOCH_2024 = (dt.datetime(2024, 1, 1) - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)
EPOCH_1995 = (dt.datetime(1995, 1, 1) - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)

TS = pa.timestamp("us")


def _ts(us):
    return pa.array(np.asarray(us, dtype=np.int64), type=pa.int64()).cast(TS)


def _texts(rng, n):
    lens = rng.integers(10, 100, n)
    idx = rng.integers(0, len(WORDS), int(lens.sum()))
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(WORDS[i] for i in idx[pos:pos + k]))
        pos += k
    return out


def corpus(rng, sf, n_docs=None, n_vec=None):
    """Base tables at scale factor ``sf`` (sf0.01: 60 k lineitem rows);
    ``n_docs``/``n_vec`` override the text and vector table sizes."""
    n_cust, n_supp = max(150, int(150_000 * sf)), max(10, int(10_000 * sf))
    n_part, n_ord = max(200, int(200_000 * sf)), max(1500, int(1_500_000 * sf))
    n_li, n_ev = 4 * n_ord, max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = n_docs or max(500, int(50_000 * sf))
    n_vec = n_vec or max(500, int(20_000 * sf))
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    price = 900.0 + (np.arange(n_part) % 1000) * 0.1
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(price, 1)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("F", "P", "O")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, n_ord) * US_PER_DAY),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    li_part = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": li_part.astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[li_part] * rng.uniform(0.98, 2.1, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2500, n_li) * US_PER_DAY)})
    ev_ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * US_PER_DAY, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ev_ts),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = _texts(rng, n_docs)
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_vec)
    vec = centers[labels] + rng.normal(scale=0.6, size=(n_vec, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def _explode(table, copies=10):
    """Each row repeated ``copies`` times, plus its copy number."""
    n = table.num_rows
    idx = np.tile(np.arange(n), copies)
    copy = np.repeat(np.arange(copies), n)
    return table.take(pa.array(idx)), copy


def scale10(rng, t):
    """The ScaleSynth 10x recipe with seeded choices (see module doc)."""
    hot = np.zeros(10, dtype=bool)
    hot[rng.choice(10, 5, replace=False)] = True
    marks = ["".join(rng.choice(list("abcdefghijklmnopqrstuvwxyz"), 6)) for _ in range(10)]
    out = dict(t)

    docs, c = _explode(t["documents"])
    n = t["documents"].num_rows
    text = [x if k == 0 else f"{x} {marks[k]} {k}"
            for x, k in zip(docs["text"].to_pylist(), c)]
    out["documents"] = pa.table({
        "doc_id": docs["doc_id"].to_numpy() + c * n,
        "text": text,
        "lang": docs["lang"],
        "source": np.where(hot[c], "megadomain.example",
                           np.array(docs["source"].to_pylist(), dtype=object)).tolist(),
        "n_chars": np.array([len(x) for x in text], dtype=np.int64)})

    emb, c = _explode(t["embeddings"])
    out["embeddings"] = pa.table({
        "vec_id": emb["vec_id"].to_numpy() + c * t["embeddings"].num_rows,
        "embedding": emb["embedding"], "label": emb["label"]})

    ev, c = _explode(t["events"])
    n_ev = t["events"].num_rows
    eid = ev["event_id"].to_numpy()
    uid = ev["user_id"].to_numpy()
    max_user = int(uid.max())
    new_eid = eid + c * n_ev
    out["events"] = pa.table({
        "event_id": new_eid,
        "ts": _ts(ev["ts"].cast(pa.int64()).to_numpy() + c * 13_000_000),
        "user_id": np.where(hot[c], 1 + new_eid % 997, uid + c * max_user),
        "event_type": ev["event_type"], "value": ev["value"], "props": ev["props"]})

    ords, c = _explode(t["orders"])
    ok = ords["o_orderkey"].to_numpy()
    # stride max + 1 keeps o_orderkey unique, as the orders table's key
    # requires; ScaleSynth's `copy * max` stride repeats one key at every
    # copy boundary
    max_order = int(ok.max()) + 1
    max_cust = int(ords["o_custkey"].to_numpy().max())
    new_ok = ok + c * max_order
    out["orders"] = ords.set_column(0, "o_orderkey", pa.array(new_ok)).set_column(
        1, "o_custkey", pa.array(np.where(hot[c], 1 + new_ok % 997,
                                          ords["o_custkey"].to_numpy() + c * max_cust)))

    li, c = _explode(t["lineitem"])
    lok = li["l_orderkey"].to_numpy() + c * max_order
    supp = li["l_suppkey"].to_numpy()
    max_supp = int(supp.max())
    new_supp = np.where(hot[c], np.where(lok % 4 == 0, 1, supp), supp + c * max_supp)
    out["lineitem"] = li.set_column(0, "l_orderkey", pa.array(lok)).set_column(
        2, "l_suppkey", pa.array(new_supp.astype(np.int64)))
    return out


def write_tables(tables, root, parts=4):
    """One directory per table (``<name>.parquet/part-*.parquet``), the
    layout ScaleSynth writes; big tables are split so scans parallelize."""
    for name, tab in tables.items():
        d = os.path.join(root, f"{name}.parquet")
        os.makedirs(d, exist_ok=True)
        k = parts if tab.num_rows >= 10_000 else 1
        step = -(-tab.num_rows // k)
        for i in range(k):
            pq.write_table(tab.slice(i * step, step), os.path.join(d, f"part-{i:05d}.parquet"))


# ----------------------------------------------------------------- serve_mix

SQL_TEMPLATES = [
    "SELECT l_returnflag, l_linestatus, count(*) AS n, round(sum(l_quantity), 2) AS qty "
    "FROM lineitem WHERE l_discount >= {d} GROUP BY 1, 2",
    "SELECT o_orderpriority, count(*) AS n FROM orders "
    "WHERE o_totalprice > {p} GROUP BY 1",
    "SELECT event_type, count(DISTINCT user_id) AS users FROM events "
    "WHERE value > {v} GROUP BY 1",
    "SELECT n.n_regionkey, count(*) AS n FROM customer c JOIN nation n "
    "ON c.c_nationkey = n.n_nationkey WHERE c.c_acctbal > {b} GROUP BY 1",
]
PANELS = ["rel_pricing_summary", "rel_date_histogram", "evt_active_users",
          "rel_histogram_dense", "evt_growth_accounting"]
SLICEABLE = {"rel_histogram_dense": ("1995-01-01", "2001-12-31"),
             "evt_active_users": ("2024-01-01", "2024-01-31"),
             "evt_growth_accounting": ("2024-01-01", "2024-01-31")}


def _zipf_word(rng):
    w = 1.0 / np.arange(1, len(WORDS) + 1) ** 1.1
    return WORDS[rng.choice(len(WORDS), p=w / w.sum())]


def _slice(rng, lo, hi):
    a = dt.date.fromisoformat(lo)
    span = (dt.date.fromisoformat(hi) - a).days
    s = int(rng.integers(0, span // 2))
    e = s + int(rng.integers(span // 4, span // 2))
    return (a + dt.timedelta(days=s)).isoformat(), (a + dt.timedelta(days=e)).isoformat()


def _search(rng, i, n_vec):
    terms = " ".join(_zipf_word(rng) for _ in range(1 + i % 3))
    return f"/search?q={quote(terms)}&size=10"


def _suggest(rng, i, n_vec):
    return f"/suggest?q={quote(_zipf_word(rng)[:1 + i % 2])}&limit=8"


def _query(rng, i, n_vec):
    p = PANELS[i % len(PANELS)]
    if p in SLICEABLE and (i // len(PANELS)) % 2 == 0:
        f, t = _slice(rng, *SLICEABLE[p])
        return f"/query/{p}?from={f}&to={t}&limit=10000"
    return f"/query/{p}?limit=10000"


def _sql(rng, i, n_vec):
    sql = SQL_TEMPLATES[i % len(SQL_TEMPLATES)].format(
        d=int(rng.integers(0, 10)) / 100.0, p=int(rng.integers(1, 40)) * 10000,
        v=int(rng.integers(0, 100)), b=int(rng.integers(-5, 80)) * 100)
    return f"/sql?q={quote(sql)}&limit=10000"


def _ann(rng, i, n_vec):
    return f"/ann?id={int(rng.integers(0, n_vec))}&k=10"


# kind -> (requests per block of 20, distinct requests in its pool, maker)
MIX = {"search": (7, 6, _search), "suggest": (3, 3, _suggest), "query": (4, 5, _query),
       "sql": (4, 4, _sql), "ann": (2, 2, _ann)}


def serve_requests(rng, n, n_vec):
    """``n`` requests in blocks of 20 that hold the mix's exact shares
    (35 % /search, 15 % /suggest, 20 % /query/<panel>, 20 % /sql, 10 %
    /ann), shuffled within each block. Each kind cycles through its own
    pool of distinct requests with fixed Zipf-like repeat counts, so
    repeats share work the way a dashboard's panels do and every seed
    sends the same shape of mix; the seed picks terms, literals, slices,
    ids and the order inside each block."""
    cycles = {}
    for kind, (_, size, make) in MIX.items():
        pool, i = [], 0
        while len(pool) < size:
            path = make(rng, i, n_vec)
            i += 1
            if path not in pool:
                pool.append(path)
        # entry j repeats about size / j^0.9 times per cycle, spread
        # evenly over the cycle
        repeats = np.maximum(1, np.round(size / np.arange(1, size + 1) ** 0.9)).astype(int)
        slots = sorted(((k + 0.5) / repeats[j], j) for j in range(size) for k in range(repeats[j]))
        cycles[kind] = [pool[j] for _, j in slots]
    out, pos = [], {k: 0 for k in MIX}
    while len(out) < n:
        block = []
        for kind, (share, _, _) in MIX.items():
            cyc = cycles[kind]
            block += [(kind, cyc[(pos[kind] + j) % len(cyc)]) for j in range(share)]
            pos[kind] += share
        out += [block[int(i)] for i in rng.permutation(len(block))]
    return out[:n]


# ------------------------------------------------------------- refresh_ticks

NEWS_T0 = dt.datetime(2021, 3, 1)


def news_batch(rng, tick, n_new, first_id, landed_links):
    """NDJSON lines landing before ``tick``: ``n_new`` fresh articles dated
    inside the tick's day (a share up to three days back, so they arrive
    out of order but inside the stream's 7-day watermark), plus re-crawls
    of already-landed (link, date) pairs and a few empty crawl results."""
    lines, recs = [], []
    day = NEWS_T0 + dt.timedelta(days=tick)
    for k in range(n_new):
        i = first_id + k
        back = int(rng.integers(1, 4)) if rng.random() < 0.2 else 0
        when = day - dt.timedelta(days=back) + dt.timedelta(seconds=int(rng.integers(0, 86400)))
        words = " ".join(WORDS[j] for j in rng.integers(0, len(WORDS), 6))
        recs.append((f"https://news.example/{i}", when.strftime("%Y-%m-%d %H:%M:%S"),
                     f"{words} {i}"))
    n_re = min(len(landed_links), n_new // 5)
    for j in rng.choice(len(landed_links), n_re, replace=False) if n_re else []:
        recs.append(landed_links[int(j)])
    for link, date, title in recs:
        lines.append(json.dumps({
            "title": title, "desc": f"body of {title}", "date": date, "link": link,
            "img": None, "lang": LANGS[len(link) % 5],
            "source": {"crawler": "perfbench", "website": "news.example", "author": None,
                       "url": link, "tweet": {"id": None}}}))
    for _ in range(max(1, n_new // 50)):
        lines.append(json.dumps({"title": None, "desc": "empty crawl result",
                                 "date": day.strftime("%Y-%m-%d %H:%M:%S"),
                                 "link": "https://news.example/empty", "img": None,
                                 "lang": "en", "source": None}))
    order = rng.permutation(len(lines))
    return [lines[i] for i in order], recs[:n_new]


def event_slice(rng, tick, n, n_users, days=3):
    """Time-ordered events slice of tick ``tick``: ``days`` days of event
    time per tick, so a weekly bucket closes within a few ticks; users
    drawn Zipf-like so some sessions span ticks."""
    t0 = EPOCH_2024 + tick * days * US_PER_DAY
    ts = np.sort(t0 + rng.integers(0, days * US_PER_DAY, n))
    w = 1.0 / np.arange(1, n_users + 1) ** 0.8
    users = rng.choice(n_users, n, p=w / w.sum()).astype(np.int64)
    return pa.table({"user_id": users, "ts": _ts(ts).cast(pa.timestamp("us", tz="UTC")),
                     "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n)]})
