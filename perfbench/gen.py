"""Seeded input generators, one per workload. The same seed gives the same
files. Each generator writes its inputs under `out` plus `meta.properties`,
the facts the output checks compare against, and returns that dict."""
import json
import os
import random

STOPWORDS = ["the", "a", "of", "and", "to", "in"]
PII_KINDS = ["email", "ip"]
SYLLABLES = ["ka", "lo", "mi", "ra", "te", "su", "vo", "ne", "di", "ba", "po", "zu",
             "an", "el", "or", "is", "ul", "em", "ti", "go", "ha", "ri", "se", "fa"]


def _words(rng, n, lo=2, hi=4):
    out, seen = [], set(STOPWORDS)
    while len(out) < n:
        w = "".join(rng.choice(SYLLABLES) for _ in range(rng.randint(lo, hi)))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _write_meta(out, meta):
    with open(os.path.join(out, "meta.properties"), "w") as fh:
        for k, v in meta.items():
            fh.write(f"{k}={v}\n")
    return meta


# ---------------------------------------------------------------- weather

# The reference's golden payload: Houston, clear sky, 286.01 K at epoch
# 1742203868 with tz offset -18000 (the engine's own fixture values).
GOLDEN = {"coord": {"lon": -95.3633, "lat": 29.7633},
          "weather": [{"id": 800, "main": "Clear", "description": "clear sky", "icon": "01n"}],
          "base": "stations",
          "main": {"temp": 286.01, "feels_like": 285.18, "temp_min": 283.26, "temp_max": 287.1,
                   "pressure": 1024, "humidity": 70, "sea_level": 1024, "grnd_level": 1022},
          "visibility": 10000, "wind": {"speed": 0.0, "deg": 0}, "clouds": {"all": 0},
          "dt": 1742203868,
          "sys": {"type": 1, "id": 2001415, "country": "US",
                  "sunrise": 1742214515, "sunset": 1742257853},
          "timezone": -18000, "id": 4699066, "name": "Houston", "cod": 200}
DESCRIPTIONS = [(800, "Clear", "clear sky"), (801, "Clouds", "few clouds"),
                (802, "Clouds", "scattered clouds"), (500, "Rain", "light rain"),
                (701, "Mist", "mist"), (600, "Snow", "light snow")]
STATES = ["Texas", "Illinois", "Washington", "Ohio", "Oregon", "Nevada", "Utah",
          "Georgia", "Florida", "Iowa", "Maine", "Idaho"]


def weather(out, rng, payloads, cities, trace):
    """OWM payloads (one JSON document per line) over `cities` lookup cities
    plus a tenth as many unknown ones, the golden Houston payload among
    them, and the lookup CSV with the reference's UTF-8 BOM and its
    mismatched header casing (bound by position, not by name). For a
    traced run, also the harness tables of the query probe."""
    names = [w.capitalize() for w in _words(rng, cities + cities // 10, 3, 4)]
    lookup, unknown = ["Houston"] + names[:cities - 1], names[cities - 1:]
    with open(os.path.join(out, "us_cities.csv"), "w", encoding="utf-8") as fh:
        fh.write("﻿city,state,census_2020,land_Area_sq_mile_2020\n")
        fh.write("Houston,Texas,2304580,640.4\n")
        for c in lookup[1:]:
            fh.write(f"{c},{rng.choice(STATES)},{rng.randint(5000, 3000000)},"
                     f"{rng.randint(50, 9000) / 10}\n")
    docs = [GOLDEN]
    for i in range(1, payloads):
        city = rng.choice(unknown) if rng.random() < 0.1 else rng.choice(lookup)
        wid, main, desc = rng.choice(DESCRIPTIONS)
        t = rng.randint(25000, 31000) / 100
        tz = rng.choice([-18000, -21600, -25200, -28800])
        dt = 1700000000 + 600 * i
        docs.append({"coord": {"lon": rng.randint(-12000, -7000) / 100,
                               "lat": rng.randint(2500, 4900) / 100},
                     "weather": [{"id": wid, "main": main, "description": desc, "icon": "01d"}],
                     "base": "stations",
                     "main": {"temp": t, "feels_like": round(t - rng.random() * 3, 2),
                              "temp_min": round(t - 2, 2), "temp_max": round(t + 2, 2),
                              "pressure": rng.randint(990, 1040), "humidity": rng.randint(10, 100),
                              "sea_level": 1013, "grnd_level": 1010},
                     "visibility": 10000,
                     "wind": {"speed": rng.randint(0, 200) / 10, "deg": rng.randint(0, 359)},
                     "clouds": {"all": rng.randint(0, 100)}, "dt": dt,
                     "sys": {"type": 1, "id": rng.randint(1000, 9999), "country": "US",
                             "sunrise": dt - 20000, "sunset": dt + 20000},
                     "timezone": tz, "id": 1000000 + i, "name": city, "cod": 200})
    rng.shuffle(docs)
    known = set(lookup)
    with open(os.path.join(out, "payloads.jsonl"), "w") as fh:
        for d in docs:
            fh.write(json.dumps(d, separators=(",", ":")) + "\n")
    meta = {"payloads": len(docs), "cities": len(lookup),
            "matched": sum(d["name"] in known for d in docs)}
    if trace:
        meta.update(catalog(os.path.join(out, "catalog"), rng))
    return _write_meta(out, meta)


# ----------------------------------------------------------------- corpus

class _Text:
    """Word-salad documents over a seeded vocabulary with stopwords mixed
    in, so every plain document passes the quality filter."""

    def __init__(self, rng, vocab=4000):
        self.rng = rng
        self.vocab = _words(rng, vocab)

    def tokens(self, lo=40, hi=90):
        r = self.rng
        return [r.choice(STOPWORDS) if r.random() < 0.2
                else self.vocab[int(len(self.vocab) * r.random() ** 1.5)]
                for _ in range(r.randint(lo, hi))]

    def pii(self, kind):
        """A fresh e-mail address or IPv4 address; re-crawls of one page keep
        the kind, so the scrubbed texts (one tag per kind) agree."""
        r = self.rng
        if kind == "email":
            return f"{r.choice(self.vocab)}.{r.choice(self.vocab)}@{r.choice(self.vocab)}.com"
        return f"10.{r.randint(0, 255)}.{r.randint(0, 255)}.{r.randint(1, 254)}"

    def with_pii(self, toks, pii):
        i = len(toks) // 2
        return toks[:i] + ["contact", pii] + toks[i:]


def corpus(out, rng, docs, stream_docs, stream_files, trace, files=8):
    """Documents (doc_id, text, lang, source, n_chars) with planted exact
    dups, PII re-crawls (dups once scrubbed), one-word near-dups,
    eval-source overlap and low-quality docs. Ids are shuffled so the
    survivor of a dup group is not always its first member. For a traced
    run, also the landing directory the streaming probe drains."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    tx = _Text(rng)
    n_eval = docs // 25
    evals = [tx.tokens() for _ in range(n_eval)]
    rows = [(" ".join(t), "src0", "eval") for t in evals]
    groups = []  # (kind, [row indices])
    while len(rows) < docs:
        src = f"src{rng.randint(1, 4)}"
        u = rng.random()
        base = tx.tokens()
        if u < 0.05:    # exact dups
            groups.append(("exact", [len(rows) + k for k in range(rng.randint(2, 3))]))
            rows += [(" ".join(base), src, "exact")] * len(groups[-1][1])
        elif u < 0.10:  # re-crawls that differ only in a PII span
            k, kind = rng.randint(2, 3), rng.choice(PII_KINDS)
            groups.append(("exact", [len(rows) + j for j in range(k)]))
            rows += [(" ".join(tx.with_pii(base, tx.pii(kind))), src, "pii") for _ in range(k)]
        elif u < 0.15:  # one-word near-dups
            var = list(base)
            var[len(var) // 2] = rng.choice(tx.vocab)
            groups.append(("near", [len(rows), len(rows) + 1]))
            rows += [(" ".join(base), src, "near"), (" ".join(var), src, "near")]
        elif u < 0.18:  # carries an 8-token span of an eval document
            e = rng.choice(evals)
            i = rng.randint(0, len(e) - 8)
            groups.append(("contaminated", [len(rows)]))
            rows.append((" ".join(base[:10] + e[i:i + 8] + base[10:]), src, "contaminated"))
        elif u < 0.20:  # low quality: one word repeated
            rows.append((" ".join([rng.choice(tx.vocab)] * 30), src, "low"))
        elif u < 0.35:
            rows.append((" ".join(tx.with_pii(base, tx.pii(rng.choice(PII_KINDS)))), src, "plain"))
        else:
            rows.append((" ".join(base), src, "plain"))
    ids = list(range(len(rows)))
    rng.shuffle(ids)
    losers, near, contaminated = set(), [], set()
    for kind, members in groups:
        mids = sorted(ids[m] for m in members)
        if kind == "exact":
            losers.update(mids[1:])
        elif kind == "near":
            near.append(mids)
        else:
            contaminated.update(mids)
    order = sorted(range(len(rows)), key=lambda i: ids[i])
    path = os.path.join(out, "docs.parquet")
    os.makedirs(path)
    per = (len(order) + files - 1) // files
    for f in range(files):
        part = order[f * per:(f + 1) * per]
        pq.write_table(pa.table({
            "doc_id": pa.array([ids[i] for i in part], pa.int64()),
            "text": [rows[i][0] for i in part],
            "lang": ["en"] * len(part),
            "source": [rows[i][1] for i in part],
            "n_chars": pa.array([len(rows[i][0]) for i in part], pa.int64())}),
            os.path.join(path, f"part-{f:03d}.parquet"))
    for name, vals in [("exact_dup_losers.txt", sorted(losers)),
                       ("contaminated.txt", sorted(contaminated)),
                       ("near_dup_groups.txt", [",".join(map(str, g)) for g in near])]:
        with open(os.path.join(out, name), "w") as fh:
            fh.write("".join(f"{v}\n" for v in vals))
    meta = {"docs": len(rows), "eval_source": "src0", "exact_dup_losers": len(losers),
            "near_dup_groups": len(near), "contaminated": len(contaminated)}
    if trace:
        sm = stream(os.path.join(out, "stream"), rng, stream_docs, stream_files)
        meta.update(stream_docs=sm["docs"], stream_distinct_docs=sm["distinct_docs"])
    return _write_meta(out, meta)


# ----------------------------------------------------------------- stream

def stream(out, rng, docs, files):
    """`out`/landing: `files` JSON-lines files of (doc_id, text).
    About a sixth of each later file re-crawls documents of earlier files
    (same text, or the same text with another PII span), so the store
    probe hits; a few documents repeat inside their own file."""
    tx = _Text(rng)
    landing = os.path.join(out, "landing")
    os.makedirs(landing)
    contents = []  # canonical token lists, a PII slot marked by its kind
    next_id = 0
    per = docs // files
    for f in range(files):
        batch = []
        for _ in range(per):
            u = rng.random()
            if contents and u < 0.17:
                toks = rng.choice(contents)
            elif batch and u < 0.20:
                toks = rng.choice(batch)[1]
            else:
                toks = tx.tokens(30, 70)
                if rng.random() < 0.3:
                    toks = tx.with_pii(toks, PII_KINDS.index(rng.choice(PII_KINDS)))
                contents.append(toks)
            batch.append((next_id, toks))
            next_id += 1
        with open(os.path.join(landing, f"part-{f:04d}.json"), "w") as fh:
            for i, toks in batch:
                text = " ".join(tx.pii(PII_KINDS[t]) if isinstance(t, int) else t for t in toks)
                fh.write(json.dumps({"doc_id": i, "text": text}) + "\n")
        # distinct modification times keep the file source's order fixed
        t = 1700000000 + f
        os.utime(os.path.join(landing, f"part-{f:04d}.json"), (t, t))
    return {"docs": next_id, "files": files, "distinct_docs": len(contents)}


# ---------------------------------------------------------------- catalog

# The query subset the catalog workload runs, by tier (see README.md for
# why these): each has a DuckDB oracle that agrees on the generated tables.
CATALOG = {
    "q": ["q67_asof_nearest", "q27_topk_per_key"],
    "t": ["t41_rtbf_batch"],
    "m": ["m06_scene_cut"],
    "s": ["s07_ann_incremental"],
    "e": ["e14_diverse_sample"],
    "d": ["d09_editdist_pairs", "d02_dedup_survivors"],
    "a": ["a04_hll_sketch"],
    "g": ["g09_components"],
    "j": ["j02_bloom_join"],
}
TIERS = "qtmsedagj"
DOC_WORDS = ["join", "hash", "row", "batch", "scan", "column", "customer", "filter", "small",
             "slow", "merge", "order", "vector", "line", "table", "data", "agg", "value", "key",
             "stream", "window", "a", "spark", "part", "group", "big", "sort", "query", "fast",
             "the"]


def catalog(out, rng):
    """The harness star schema (region nation customer supplier part orders
    lineitem events documents embeddings), one parquet file per table, at
    about sf0.001, with the value domains of the harness
    tables; plus the seeded query order (tiers in fixed order, queries
    shuffled inside each tier)."""
    import datetime as dt
    import pyarrow as pa
    import pyarrow.parquet as pq
    tables = os.path.join(out, "tables")
    os.makedirs(tables)
    i32, i64, f32 = pa.int32(), pa.int64(), pa.float32()

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(tables, f"{name}.parquet"))
        return len(next(iter(cols.values())))

    def day(lo, span):
        return lo + dt.timedelta(days=rng.randrange(span))

    rows = 0
    rows += write("region", {"r_regionkey": pa.array(range(5), i32),
                             "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    rows += write("nation", {"n_nationkey": pa.array(range(25), i32),
                             "n_name": [f"NATION_{k}" for k in range(25)],
                             "n_regionkey": pa.array([k % 5 for k in range(25)], i32)})
    nc, ns, np_, no, nl, ne, nd = 150, 10, 200, 1500, 6000, 1000, 500
    rows += write("customer", {
        "c_custkey": pa.array(range(nc), i64),
        "c_name": [f"Customer#{k:09d}" for k in range(nc)],
        "c_nationkey": pa.array([rng.randrange(25) for _ in range(nc)], i32),
        "c_acctbal": [rng.randint(-99999, 999999) / 100 for _ in range(nc)],
        "c_mktsegment": [rng.choice(["HOUSEHOLD", "MACHINERY", "AUTOMOBILE", "FURNITURE",
                                     "BUILDING"]) for _ in range(nc)]})
    rows += write("supplier", {
        "s_suppkey": pa.array(range(ns), i64),
        "s_name": [f"Supplier#{k:09d}" for k in range(ns)],
        "s_nationkey": pa.array([rng.randrange(25) for _ in range(ns)], i32),
        "s_acctbal": [rng.randint(-99999, 999999) / 100 for _ in range(ns)]})
    adj = ["blue", "hot", "small", "old", "red", "new", "cold", "big"]
    noun = ["bolt", "gear", "anvil", "widget", "rod", "ring", "plate", "nut"]
    rows += write("part", {
        "p_partkey": pa.array(range(np_), i64),
        "p_name": [f"{rng.choice(adj)} {rng.choice(noun)}" for _ in range(np_)],
        "p_brand": [f"Brand#{rng.randint(1, 25)}" for _ in range(np_)],
        "p_type": [rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])
                   for _ in range(np_)],
        "p_size": pa.array([rng.randint(1, 50) for _ in range(np_)], i32),
        "p_retailprice": [900 + (k % 1000) / 10 for k in range(np_)]})
    rows += write("orders", {
        "o_orderkey": pa.array(range(no), i64),
        "o_custkey": pa.array([rng.randrange(nc) for _ in range(no)], i64),
        "o_orderstatus": [rng.choice("FOP") for _ in range(no)],
        "o_totalprice": [rng.randint(100000, 50000000) / 100 for _ in range(no)],
        "o_orderdate": pa.array([day(dt.datetime(1995, 1, 1), 2404) for _ in range(no)],
                                pa.timestamp("us")),
        "o_orderpriority": [rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                        "5-LOW"]) for _ in range(no)]})
    rows += write("lineitem", {
        "l_orderkey": pa.array([rng.randrange(no) for _ in range(nl)], i64),
        "l_partkey": pa.array([rng.randrange(np_) for _ in range(nl)], i64),
        "l_suppkey": pa.array([rng.randrange(ns) for _ in range(nl)], i64),
        "l_linenumber": pa.array([rng.randint(1, 7) for _ in range(nl)], i32),
        "l_quantity": [float(rng.randint(1, 50)) for _ in range(nl)],
        "l_extendedprice": [rng.randint(90000, 10500000) / 100 for _ in range(nl)],
        "l_discount": [rng.randint(0, 10) / 100 for _ in range(nl)],
        "l_tax": [rng.randint(0, 8) / 100 for _ in range(nl)],
        "l_returnflag": [rng.choice("ANR") for _ in range(nl)],
        "l_linestatus": [rng.choice("OF") for _ in range(nl)],
        "l_shipdate": pa.array([day(dt.datetime(1995, 1, 2), 2498) for _ in range(nl)],
                               pa.timestamp("us"))})
    t0 = dt.datetime(2024, 1, 1)
    step = 30 * 86400 / ne
    rows += write("events", {
        "event_id": pa.array(range(ne), i64),
        "ts": pa.array([t0 + dt.timedelta(seconds=k * step + rng.random() * step)
                        for k in range(ne)], pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(max(2, ne // 67)) for _ in range(ne)], i64),
        "event_type": [rng.choice(["click", "signup", "error", "view", "purchase"])
                       for _ in range(ne)],
        "value": [rng.randint(1, 49002) / 100 for _ in range(ne)],
        "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(ne)]})
    texts = []
    for k in range(nd):
        if texts and rng.random() < 0.05:  # near-dup of an earlier document
            texts.append(rng.choice(texts) + " dup")
        else:
            texts.append(" ".join(rng.choice(DOC_WORDS) for _ in range(rng.randint(10, 99))))
    rows += write("documents", {
        "doc_id": pa.array(range(nd), i64), "text": texts,
        "lang": [rng.choice(["en", "en", "de", "fr", "es", "zh"]) for _ in range(nd)],
        "source": [f"src{rng.randrange(20)}" for _ in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    centers = [[rng.gauss(0, 0.15) for _ in range(64)] for _ in range(10)]
    labels = [rng.randrange(10) for _ in range(nd)]
    rows += write("embeddings", {
        "vec_id": pa.array(range(nd), i64),
        "embedding": pa.array([[c + rng.gauss(0, 0.05) for c in centers[lb]] for lb in labels],
                              pa.list_(f32)),
        "label": pa.array(labels, i32)})
    order = []
    for t in TIERS:
        qs = list(CATALOG.get(t, []))
        rng.shuffle(qs)
        order += qs
    return {"catalog_rows": rows, "queries": ",".join(order)}


def catalog_checks(tables, rows_json):
    """Row count of every catalog query against DuckDB running the query's
    oracle SQL over the same generated tables."""
    import duckdb
    with open(rows_json) as fh:
        got = json.load(fh)
    con = duckdb.connect()
    for f in sorted(os.listdir(tables)):
        con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(tables, f)}'")
    checks = []
    for q, rows in got["rows"].items():
        sql = got["oracle_sql"].get(q)
        if not sql:
            checks.append({"name": f"{q}.rows", "ok": False, "detail": "no oracle SQL"})
            continue
        want = con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
        checks.append({"name": f"{q}.rows", "ok": want == rows,
                       "detail": f"spark={rows} duckdb={want}"})
    return checks
