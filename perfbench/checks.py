"""Correctness checks, run after the timed region.

Each returns a list of failure messages (a mismatch is a failure, never
dropped) plus the number of checks made.

* ``batch_10x``: every entry's output against its DuckDB oracle
  (``SparkEntry.oracleSql``) on the same generated corpus, with
  ``tools/check.py``'s canonicalization and tolerance. Tables are read as
  directories. The oracle answer is cached under a key of the corpus
  bytes, the oracle text and the checking code.
* ``serve_mix``: each ``/sql`` answer and each unsliced panel against
  DuckDB; the harness already compared every other distinct request with
  a direct call of the same public function.
* ``refresh_ticks``: the lake against a batch recomputation of everything
  landed, with exactly-once dedup (late and out-of-order rows included).
"""
import glob
import hashlib
import json
import math
import os
import re
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def _tools(root):
    sys.path.insert(0, os.path.join(root, "tools"))
    import check
    return check


def _connect(data):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet/*.parquet')")
    return con


def compare(C, got, exp):
    """None when equal under check.py's rules, else a short reason."""
    got, exp = C.canon(got), C.canon(exp)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} != {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    bad = []
    for c in got.columns:
        for i, (a, b) in enumerate(zip(got[c].tolist(), exp[c].tolist())):
            if not C.cell_eq(a, b)[1]:
                bad.append((c, i, a, b))
                if len(bad) > 2:
                    return f"cell diffs, e.g. {bad}"
    return f"cell diffs, e.g. {bad}" if bad else None


def _read_dir(path):
    files = sorted(glob.glob(f"{path}/*.parquet"))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def _corpus_hash(data, root):
    """Hash of every corpus file plus this module and ``tools/check.py``:
    an oracle answer cached under it belongs to exactly this corpus."""
    h = hashlib.sha256()
    files = sorted(glob.glob(f"{data}/*/*")) + [__file__, os.path.join(root, "tools", "check.py")]
    for f in files:
        h.update(os.path.relpath(f, data).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def batch(seed, work, data, root):
    C = _tools(root)
    con = _connect(data)
    oracle = json.load(open(f"{work}/out/oracle_sql.json"))
    corpus = _corpus_hash(data, root)
    cache = os.path.join(root, ".bench_work", "oracle-cache")
    os.makedirs(cache, exist_ok=True)
    fails = []
    for name, sql in sorted(oracle.items()):
        key = hashlib.sha256(f"{corpus}|{sql}".encode()).hexdigest()[:20]
        cached = os.path.join(cache, f"{name}-{key}.parquet")
        if os.path.exists(cached):
            exp = pd.read_parquet(cached)
        else:
            exp = con.execute(sql).df()
            exp.to_parquet(cached)
        got = _read_dir(f"{work}/out/{name}")
        why = "no output" if got is None else compare(C, got, exp)
        if why:
            fails.append(f"{name} vs DuckDB oracle: {why}")
    return fails, len(oracle), [f"{len(oracle) - len(fails)}/{len(oracle)} entries match the DuckDB oracle"]


_TS = re.compile(r"^(\d{4}-\d{2}-\d{2})T(\d{2}:\d{2}:\d{2})(\.\d+)?(Z|[+-]\d{2}:\d{2})?$")


def _plain(df):
    """Comparable cells: datetimes and Spark's JSON timestamps as
    'YYYY-MM-DD HH:MM:SS' strings, decimals as floats."""
    import datetime as dt
    import decimal
    df = df.copy()
    for c in df.columns:
        def norm(v):
            if isinstance(v, (pd.Timestamp, dt.datetime)):
                return v.strftime("%Y-%m-%d %H:%M:%S")
            if isinstance(v, dt.date):
                return v.isoformat()
            if isinstance(v, decimal.Decimal):
                return float(v)
            if isinstance(v, str):
                m = _TS.match(v)
                if m:
                    return f"{m.group(1)} {m.group(2)}"
            if isinstance(v, int) and not isinstance(v, bool):
                return float(v)
            return v
        df[c] = df[c].map(norm).astype(object)
        if all(isinstance(v, float) for v in df[c]):
            df[c] = df[c].astype(float)
    return df


def serve(seed, work, data, root):
    C = _tools(root)
    con = _connect(data)
    rows = json.load(open(f"{work}/serve_oracle.json"))
    fails = []
    for r in rows:
        got = pd.DataFrame([json.loads(x) for x in r["body"].split("\n") if x])
        exp = con.execute(r["sql"]).df()
        if got.empty and exp.empty:
            continue
        got = got.reindex(columns=exp.columns) if set(got.columns) <= set(exp.columns) else got
        why = compare(C, _plain(got), _plain(exp))
        if why:
            fails.append(f"{r['path']} vs DuckDB: {why}")
    return fails, len(rows), [f"{len(rows) - len(fails)}/{len(rows)} /sql and panel answers match DuckDB"]


GAP_US = 1800 * 1_000_000


def refresh(seed, work, data, root):
    C = _tools(root)
    fails, notes = [], []
    # News: the sink holds each landed (link, date) exactly once.
    landed = []
    for f in sorted(glob.glob(f"{work}/landing/news/*.json")):
        landed += [json.loads(x) for x in open(f) if x.strip()]
    # a re-crawl repeats its record exactly, so distinct records are
    # distinct (link, date) keys
    want = {(r["title"], r["desc"], r["date"], r["link"], r["lang"])
            for r in landed if r["title"] is not None}
    news = _read_dir(f"{work}/check/news_crawl")
    got = [] if news is None else [tuple(x) for x in news[["title", "desc", "date", "link", "lang"]]
                                   .itertuples(index=False)]
    if len(got) != len(set(got)):
        fails.append(f"news_crawl holds {len(got) - len(set(got))} duplicate rows")
    if set(got) != want:
        fails.append(f"news_crawl: {len(set(got))} rows, recomputation has {len(want)} "
                     f"({len(set(got) - want)} unexpected, {len(want - set(got))} missing)")
    notes.append(f"news_crawl {len(got)} rows from {len(landed)} landed lines")

    # Vocabulary: (w, df) over the titles of the deduped news.
    vocab = _read_dir(f"{work}/check/vocab")
    words = {}
    for title, _, _, link, _ in want:
        for w in set(re.sub(r"\s+", " ", title.strip().lower()).split(" ")):
            words.setdefault(w, set()).add(link)
    exp_v = pd.DataFrame({"w": list(words), "df": [len(v) for v in words.values()]})
    why = "no vocab lake" if vocab is None else compare(C, vocab[["w", "df"]], exp_v)
    if why:
        fails.append(f"vocab vs recomputation: {why}")

    # Sessions and approx users over every landed events slice.
    slices = sorted(glob.glob(f"{work}/landing/events/*.parquet"))
    ev = pd.concat([pd.read_parquet(f) for f in slices], ignore_index=True)
    ev["us"] = ev["ts"].dt.tz_convert(None).astype("datetime64[us]").astype("int64")
    last = pd.read_parquet(slices[-1])
    prev_max = ev["us"][: len(ev) - len(last)].max()
    sessions = set()
    for uid, g in ev.sort_values("us").groupby("user_id"):
        ts = g["us"].tolist()
        s = e = ts[0]
        n = 1
        for t in ts[1:]:
            if t - e <= GAP_US:
                e, n = max(e, t), n + 1
            else:
                sessions.add((uid, s, e, n))
                s = e = t
                n = 1
        sessions.add((uid, s, e, n))
    sess = _read_dir(f"{work}/check/sessions")
    got_s = [] if sess is None else [tuple(int(v) for v in x) for x in
                                     sess[["user_id", "start_us", "end_us", "n_events"]]
                                     .itertuples(index=False)]
    closed = {x for x in sessions if x[2] + GAP_US < prev_max - 60_000_000}
    if len(got_s) != len(set(got_s)) or not set(got_s) <= sessions or not closed <= set(got_s):
        fails.append(f"sessions: {len(got_s)} emitted, {len(set(got_s) - sessions)} not in the "
                     f"batch sessionization, {len(closed - set(got_s))} closed ones missing")
    notes.append(f"sessions {len(got_s)} emitted, {len(closed)} closed by the watermark")

    ev["week"] = pd.to_datetime(ev["us"], unit="us").dt.to_period("W-SUN").dt.start_time
    exact = ev.groupby(["event_type", "week"])["user_id"].nunique()
    approx = _read_dir(f"{work}/check/approx_users")
    band = 3.5 * 1.04 / math.sqrt(1 << 12)
    emitted = [] if approx is None else list(approx.itertuples(index=False))
    keys = [(a.event_type, a.week) for a in emitted]
    if len(keys) != len(set(keys)):
        fails.append("approx_users emitted a bucket twice")
    for a in emitted:
        n = exact.get((a.event_type, pd.Timestamp(a.week)), 0)
        if abs(a.approx_users - n) > band * n or a.sketch_bytes > 4096:
            fails.append(f"approx_users {a.event_type} {a.week}: {a.approx_users:.1f} vs exact {n}")
    due = [(t, w) for (t, w) in exact.index
           if (w + pd.Timedelta(days=7)).value // 1000 + 3_600_000_000 < prev_max]
    missing = [k for k in due if (k[0], k[1].strftime("%Y-%m-%d")) not in set(keys)]
    if missing:
        fails.append(f"approx_users: {len(missing)} closed buckets missing")
    notes.append(f"approx_users {len(emitted)} buckets emitted, {len(due)} closed")
    return fails, 4, notes


def run(workload, seed, work, data, root):
    return {"batch_10x": batch, "serve_mix": serve, "refresh_ticks": refresh}[workload](
        seed, work, data, root)
