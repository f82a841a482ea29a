"""Seeded input generators for the graft benchmark.

Everything the engine sees is made here from the seed: the star-schema
tables, the document corpus with its planted near-duplicate families, and
the op streams for the `dashboard` and `modeling` workloads. The same seed
always gives byte-identical inputs and an identical op stream.

Each read op carries a `twin`: the same question written as plain Spark SQL
over the base tables, with no measure syntax. The harness runs the twin on
Spark without the engine after the timed region and compares results.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REV = "l_extendedprice * (1 - l_discount)"
YEARS = list(range(1995, 2002))

# ---------------------------------------------------------------- tables


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


def _ts(years, rng, n):
    start = np.datetime64(f"{years[0]}-01-01")
    days = (np.datetime64(f"{years[-1] + 1}-01-01") - start).astype(int)
    return (start + rng.integers(0, days, n).astype("timedelta64[D]")).astype("datetime64[us]")


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def gen_tables(out, seed, sf):
    """TPC-H-shaped star schema at scale factor `sf` (sf 1 = 6M lineitems),
    plus the `events`, `documents` and `embeddings` tables the engine's
    view registration reads."""
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    r = _rng(seed, 1)
    _write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                           "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                           "n_name": [f"NATION_{i}" for i in range(25)],
                           "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(r.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": segs[r.integers(0, 5, n_cust)]})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(r.uniform(-999, 9999, n_supp), 2)})
    adj, noun = np.array(["small", "red", "large", "blue", "green"]), np.array(["ring", "widget", "bolt", "gear"])
    types = np.array(["ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM"])
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj[r.integers(0, 5, n_part)], " "), noun[r.integers(0, 4, n_part)]),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n_part).astype(str)),
        "p_type": types[r.integers(0, 5, n_part)],
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + np.arange(n_part) % 1000 * 0.1, 2)})
    pri = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": np.round(r.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _ts(YEARS, r, n_ord),
        "o_orderpriority": pri[r.integers(0, 5, n_ord)]})
    qty = r.integers(1, 51, n_li).astype(np.float64)
    _write(out, "lineitem", {
        "l_orderkey": r.integers(0, n_ord, n_li),
        "l_partkey": r.integers(0, n_part, n_li),
        "l_suppkey": r.integers(0, n_supp, n_li),
        "l_linenumber": r.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900, 2100, n_li), 2),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_li)],
        "l_shipdate": _ts(YEARS, r, n_li)})
    n_ev = max(1000, int(1_000_000 * sf))
    ts = np.sort(np.datetime64("2024-01-01T00:00:00", "us")
                 + r.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]"))
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64), "ts": ts,
        "user_id": r.integers(0, max(50, n_ev // 40), n_ev),
        "event_type": np.array(["signup", "click", "error", "view", "purchase"])[r.integers(0, 5, n_ev)],
        "value": np.round(r.uniform(0, 100, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]})
    gen_corpus(out, seed, n_docs=500, n_vecs=500)


# ---------------------------------------------------------------- corpus

LANGS = ["en", "de", "es", "fr", "zh"]
STOP = ["the", "a", "of", "and", "to", "in", "is", "it"]


def _vocab(rng, n, syll):
    return sorted({"".join(rng.choice(syll, rng.integers(2, 4))) for _ in range(n * 2)})[:n]


def _normalize(text):
    return " ".join(text.lower().split())


def shingles(text, w=3):
    words = _normalize(text).split(" ")
    return {" ".join(words[i:i + w]) for i in range(max(len(words) - w, 0) + 1)}


def jaccard(a, b):
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def gen_corpus(out, seed, n_docs, n_vecs, dim=64, n_blobs=8):
    """Documents with planted near-duplicate families, and embeddings drawn
    around `n_blobs` well-separated centres.

    Family sizes follow a Zipf law (most documents are unique, a few
    families are large); members are the family's base text with a few word
    substitutions, or an exact copy up to case and whitespace. The planted
    ground truth (family of each document, its true near-duplicate pairs at
    Jaccard >= 0.7 over word 3-shingles, the number of distinct normalized
    texts and of whitespace tokens) is written to `truth.json`."""
    os.makedirs(out, exist_ok=True)
    r = _rng(seed, 2)
    syll = np.array(["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa", "qu", "do", "fe", "gi"])
    vocab = {lang: _vocab(_rng(seed, 10 + i), 400, syll) for i, lang in enumerate(LANGS)}
    zipf_w = 1.0 / np.arange(1, 401) ** 1.1
    zipf_w /= zipf_w.sum()

    def fresh_text(lang):
        n = int(r.integers(40, 90))
        words = np.array(vocab[lang])[r.choice(400, n, p=zipf_w)]
        stops = r.random(n) < 0.15
        words[stops] = np.array(STOP)[r.integers(0, len(STOP), stops.sum())]
        return " ".join(words)

    texts, langs, family = [], [], []
    fam_id = 0
    while len(texts) < n_docs:
        size = 1 + int(r.zipf(2.0)) if r.random() < 0.08 else 1
        size = min(size, 40, n_docs - len(texts))
        lang = LANGS[0] if r.random() < 0.6 else LANGS[1 + int(r.integers(0, 4))]
        base = fresh_text(lang)
        for m in range(size):
            if m == 0:
                t = base
            elif r.random() < 0.3:
                t = "  " + base.upper() if r.random() < 0.5 else base.replace(" ", "  ")
            else:
                ws = base.split(" ")
                for j in r.choice(len(ws), 2, replace=False):
                    ws[j] = vocab[lang][int(r.integers(0, 400))]
                t = " ".join(ws)
            texts.append(t)
            langs.append(lang)
            family.append(fam_id if size > 1 else -1)
        fam_id += 1
    order = r.permutation(n_docs)
    texts = [texts[i] for i in order]
    langs = [langs[i] for i in order]
    family = [family[i] for i in order]
    sources = [f"src{int(s)}" for s in r.integers(0, 4, n_docs)]
    _write(out, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64), "text": texts, "lang": langs,
        "source": sources, "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    centres = r.normal(0, 1, (n_blobs, dim))
    labels = r.integers(0, n_blobs, n_vecs)
    vecs = centres[labels] + r.normal(0, 0.15, (n_vecs, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})

    members = {}
    for i, f in enumerate(family):
        if f >= 0:
            members.setdefault(f, []).append(i)
    pairs = []
    for ids in members.values():
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                a, b = ids[x], ids[y]
                if jaccard(texts[a], texts[b]) >= 0.7:
                    pairs.append([min(a, b), max(a, b)])
    truth = {"n_docs": n_docs, "n_vecs": n_vecs, "n_blobs": n_blobs,
             "distinct_texts": len({_normalize(t) for t in texts}),
             "tokens": sum(len(t.split()) for t in texts),
             "family": family, "pairs": sorted(pairs)}
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f)
    return truth


# ---------------------------------------------------------------- op streams
# Measures of the views the engine registers at set-up, as (base aggregate
# over `lineitem`, whether a grand total / AT (ALL) is a plain sum of parts).
LI_V = {
    "revenue": (f"SUM({REV})", True), "qty": ("SUM(l_quantity)", True),
    "cnt": ("COUNT(*)", True), "tax_amt": ("SUM(l_extendedprice * l_tax)", True),
    "disc_price": ("SUM(l_extendedprice) FILTER (WHERE l_discount > 0.05)", True),
    "big_qty": ("SUM(CASE WHEN l_quantity > 25 THEN l_quantity ELSE 0 END)", True),
    "avg_price": ("AVG(l_extendedprice)", False), "parts": ("COUNT(DISTINCT l_partkey)", False),
    "med_qty": ("MEDIAN(l_quantity)", False), "sd_qty": ("STDDEV(l_quantity)", False),
    "min_price": ("MIN(l_extendedprice)", False), "max_price": ("MAX(l_extendedprice)", False),
    "net_rev": (f"(SUM({REV}) - SUM(l_extendedprice * l_tax))", True),
}
LI_DIMS = {"l_returnflag": "l_returnflag", "l_linestatus": "l_linestatus",
           "ship_year": "CAST(year(l_shipdate) AS INT)"}
ADDITIVE = [m for m, (_, add) in LI_V.items() if add]
PCT_V = {"p50_qty": "percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity)",
         "p25d_price": "percentile_disc(0.25) WITHIN GROUP (ORDER BY l_extendedprice)",
         "first_price": "min_by(l_extendedprice, l_orderkey * 10 + l_linenumber)",
         "last_price": "max_by(l_extendedprice, l_orderkey * 10 + l_linenumber)"}
STAT_V = {"qp_corr": "corr(l_quantity, l_extendedprice)",
          "price_slope": "regr_slope(l_extendedprice, l_quantity)",
          "key_xor": "bit_xor(l_partkey)"}


def _pick(r, xs):
    return xs[int(r.integers(0, len(xs)))]


def _dim_pair(r):
    d = list(LI_DIMS)
    i = int(r.integers(0, 3))
    return d[i], d[(i + 1 + int(r.integers(0, 2))) % 3]


def dashboard_templates():
    """Read templates over the views set-up registers. Each returns
    (engine SQL, twin SQL) for seeded parameters. Every AT modifier, chained
    AT, derived and non-decomposable measures, ROLLUP/GROUPING SETS, a
    multi-fact join, a measure in WHERE and plain passthrough SQL appear."""

    def basic(r):
        d, m = _pick(r, list(LI_DIMS)), _pick(r, list(LI_V))
        return (f"SELECT {d}, ROUND(AGGREGATE({m}), 2) AS v FROM li_v GROUP BY {d}",
                f"SELECT {LI_DIMS[d]} AS {d}, ROUND({LI_V[m][0]}, 2) AS v FROM lineitem GROUP BY 1")

    def at_all_pct(r):
        d, m = _pick(r, list(LI_DIMS)), _pick(r, ADDITIVE)
        return (f"SELECT {d}, ROUND(100.0 * AGGREGATE({m}) / AGGREGATE({m}) AT (ALL), 4) AS pct "
                f"FROM li_v GROUP BY {d}",
                f"SELECT {LI_DIMS[d]} AS {d}, ROUND(100.0 * {LI_V[m][0]} / "
                f"(SELECT {LI_V[m][0]} FROM lineitem), 4) AS pct FROM lineitem GROUP BY 1")

    def at_all_dim(r):
        d1, d2 = _dim_pair(r)
        m = _pick(r, ["revenue", "qty", "cnt"])
        return (f"SELECT {d1}, {d2}, ROUND(AGGREGATE({m}), 2) AS v, "
                f"ROUND(AGGREGATE({m}) AT (ALL {d2}), 2) AS tot FROM li_v GROUP BY {d1}, {d2}",
                f"SELECT {LI_DIMS[d1]} AS {d1}, {LI_DIMS[d2]} AS {d2}, ROUND({LI_V[m][0]}, 2) AS v, "
                f"ROUND(SUM({LI_V[m][0]}) OVER (PARTITION BY {LI_DIMS[d1]}), 2) AS tot "
                f"FROM lineitem GROUP BY 1, 2")

    def at_set_yoy(r):
        m, k = _pick(r, ["revenue", "qty", "avg_price"]), int(r.integers(1, 3))
        y = f"SELECT CAST(year(l_shipdate) AS INT) AS ship_year, ROUND({LI_V[m][0]}, 2) AS v FROM lineitem GROUP BY 1"
        return (f"SELECT ship_year, ROUND(AGGREGATE({m}), 2) AS v, "
                f"ROUND(AGGREGATE({m}) AT (SET ship_year = ship_year - {k}), 2) AS prior FROM li_v GROUP BY ship_year",
                f"WITH y AS ({y}) SELECT t.ship_year, t.v, p.v AS prior FROM y t "
                f"LEFT JOIN y p ON p.ship_year = t.ship_year - {k}")

    def at_where(r):
        d, m, f = _pick(r, list(LI_DIMS)), _pick(r, list(LI_V)), _pick(r, ["A", "N", "R"])
        return (f"SELECT {d}, ROUND(AGGREGATE({m}) AT (WHERE l_returnflag = '{f}'), 2) AS v FROM li_v GROUP BY {d}",
                f"SELECT {LI_DIMS[d]} AS {d}, (SELECT ROUND({LI_V[m][0]}, 2) FROM lineitem "
                f"WHERE l_returnflag = '{f}') AS v FROM lineitem GROUP BY 1")

    def visible(r):
        m, s = _pick(r, list(LI_V)), _pick(r, ["F", "O"])
        return (f"SELECT l_returnflag, ROUND(AGGREGATE({m}) AT (VISIBLE), 2) AS v FROM li_v "
                f"WHERE l_linestatus = '{s}' GROUP BY l_returnflag",
                f"SELECT l_returnflag, ROUND({LI_V[m][0]}, 2) AS v FROM lineitem "
                f"WHERE l_linestatus = '{s}' GROUP BY 1")

    def chained(r):
        d1, d2 = _dim_pair(r)
        m = _pick(r, list(LI_V))
        return (f"SELECT {d1}, {d2}, ROUND(AGGREGATE({m}) AT (ALL {d1}) AT (ALL {d2}), 2) AS v "
                f"FROM li_v GROUP BY {d1}, {d2}",
                f"SELECT {LI_DIMS[d1]} AS {d1}, {LI_DIMS[d2]} AS {d2}, "
                f"(SELECT ROUND({LI_V[m][0]}, 2) FROM lineitem) AS v FROM lineitem GROUP BY 1, 2")

    def all_where(r):
        d, m, y = _pick(r, list(LI_DIMS)), _pick(r, list(LI_V)), _pick(r, YEARS)
        return (f"SELECT {d}, ROUND(AGGREGATE({m}) AT (ALL {d} WHERE ship_year = {y}), 2) AS v FROM li_v GROUP BY {d}",
                f"SELECT {LI_DIMS[d]} AS {d}, (SELECT ROUND({LI_V[m][0]}, 2) FROM lineitem "
                f"WHERE year(l_shipdate) = {y}) AS v FROM lineitem GROUP BY 1")

    def nondecomp(r):
        d1, d2 = _dim_pair(r)
        m = _pick(r, ["parts", "med_qty", "sd_qty", "avg_price"])
        return (f"SELECT {d1}, {d2}, ROUND(AGGREGATE({m}), 4) AS v FROM li_v GROUP BY {d1}, {d2}",
                f"SELECT {LI_DIMS[d1]} AS {d1}, {LI_DIMS[d2]} AS {d2}, ROUND({LI_V[m][0]}, 4) AS v "
                f"FROM lineitem GROUP BY 1, 2")

    def rollup(r):
        d1, d2 = _dim_pair(r)
        m = _pick(r, ADDITIVE)
        if r.random() < 0.5:
            g, tg = f"ROLLUP({d1}, {d2})", f"ROLLUP({LI_DIMS[d1]}, {LI_DIMS[d2]})"
        else:
            g = f"GROUPING SETS (({d1}, {d2}), ({d1}), ())"
            tg = f"GROUPING SETS (({LI_DIMS[d1]}, {LI_DIMS[d2]}), ({LI_DIMS[d1]}), ())"
        return (f"SELECT {d1}, {d2}, ROUND(AGGREGATE({m}), 2) AS v FROM li_v GROUP BY {g}",
                f"SELECT {LI_DIMS[d1]} AS {d1}, {LI_DIMS[d2]} AS {d2}, "
                f"CASE WHEN GROUPING({LI_DIMS[d1]}) = 1 OR GROUPING({LI_DIMS[d2]}) = 1 THEN NULL "
                f"ELSE ROUND({LI_V[m][0]}, 2) END AS v FROM lineitem GROUP BY {tg}")

    def multifact(r):
        om = _pick(r, [("total_price", "SUM(o_totalprice)"), ("order_cnt", "COUNT(*)"),
                       ("avg_order", "AVG(o_totalprice)")])
        return (f"SELECT o.yr, ROUND(AGGREGATE({om[0]}), 2) AS ov, ROUND(AGGREGATE(li_rev), 2) AS lv "
                "FROM ord_v o JOIN li_y l ON o.yr = l.yr GROUP BY o.yr",
                f"SELECT o.yr, o.ov, l.lv FROM (SELECT CAST(year(o_orderdate) AS INT) AS yr, "
                f"ROUND({om[1]}, 2) AS ov FROM orders GROUP BY 1) o JOIN "
                f"(SELECT CAST(year(l_shipdate) AS INT) AS yr, ROUND(SUM({REV}), 2) AS lv "
                "FROM lineitem GROUP BY 1) l ON o.yr = l.yr")

    def where_measure(r):
        return ("SELECT l_returnflag, COUNT(*) AS n, ROUND(AGGREGATE(avg_qty), 4) AS a FROM li_rows o "
                "WHERE o.l_quantity > o.avg_qty AT (WHERE l_returnflag = o.l_returnflag) GROUP BY l_returnflag",
                "SELECT o.l_returnflag, COUNT(*) AS n, ROUND(AVG(o.l_quantity), 4) AS a FROM lineitem o "
                "WHERE o.l_quantity > (SELECT AVG(i.l_quantity) FROM lineitem i "
                "WHERE i.l_returnflag = o.l_returnflag) GROUP BY 1")

    def expr_dim(r):
        if r.random() < 0.5:
            return ("SELECT year(l_shipdate) AS yr, ROUND(AGGREGATE(raw_rev), 2) AS v, "
                    "ROUND(AGGREGATE(raw_rev) AT (ALL year(l_shipdate)), 2) AS tot FROM li_raw GROUP BY year(l_shipdate)",
                    f"SELECT year(l_shipdate) AS yr, ROUND(SUM({REV}), 2) AS v, "
                    f"(SELECT ROUND(SUM({REV}), 2) FROM lineitem) AS tot FROM lineitem GROUP BY 1")
        mo = int(r.integers(1, 13))
        return ("SELECT month(l_shipdate) AS mo, ROUND(AGGREGATE(raw_rev), 2) AS v, "
                f"ROUND(AGGREGATE(raw_rev) AT (SET month(l_shipdate) = {mo}), 2) AS pinned FROM li_raw "
                "GROUP BY month(l_shipdate)",
                f"SELECT month(l_shipdate) AS mo, ROUND(SUM({REV}), 2) AS v, (SELECT ROUND(SUM({REV}), 2) "
                f"FROM lineitem WHERE month(l_shipdate) = {mo}) AS pinned FROM lineitem GROUP BY 1")

    def ordered_set(r):
        view, ms = _pick(r, [("pct_v", PCT_V), ("stat_v", STAT_V)])
        m = _pick(r, list(ms))
        return (f"SELECT l_returnflag, ROUND(AGGREGATE({m}), 4) AS v FROM {view} GROUP BY l_returnflag",
                f"SELECT l_returnflag, ROUND({ms[m]}, 4) AS v FROM lineitem GROUP BY 1")

    def passthrough(r):
        y = _pick(r, YEARS)
        q = (f"SELECT l_returnflag, l_linestatus, ROUND(SUM(l_quantity), 2) AS q, ROUND(SUM({REV}), 2) AS rv, "
             f"ROUND(AVG(l_discount), 6) AS dsc, COUNT(*) AS n FROM lineitem "
             f"WHERE l_shipdate < TIMESTAMP '{y}-07-01 00:00:00' GROUP BY l_returnflag, l_linestatus")
        return q, q

    return [basic, at_all_pct, at_all_dim, at_set_yoy, at_where, visible, chained, all_where,
            nondecomp, rollup, multifact, where_measure, expr_dim, ordered_set, passthrough]


def dashboard_ops(seed, n_ops, pool_size=48, zipf_s=1.1):
    """`n_ops` reads drawn from a seeded pool of `pool_size` distinct
    queries. Pool rank k is built from template k mod T, so every seed has
    the same template mix; the seed picks parameters and the order. Counts
    per rank follow a Zipf law (largest-remainder rounding), so the share
    of repeated query texts is the same for every seed."""
    r = _rng(seed, 3)
    tmpl = dashboard_templates()
    pool, seen = [], set()
    k = 0
    while len(pool) < pool_size:
        sql, twin = tmpl[k % len(tmpl)](r)
        k += 1
        if sql not in seen:
            seen.add(sql)
            pool.append((sql, twin))
        elif k > 50 * pool_size:
            raise ValueError("template space too small for the pool")
    w = 1.0 / np.arange(1, pool_size + 1) ** zipf_s
    exact = w / w.sum() * n_ops
    counts = np.floor(exact).astype(int)
    for i in np.argsort(-(exact - counts))[: n_ops - counts.sum()]:
        counts[i] += 1
    seq = np.repeat(np.arange(pool_size), counts)
    r.shuffle(seq)
    return [{"kind": "read", "sql": pool[i][0], "twin": pool[i][1]} for i in seq]


# Measure library for the modeling workload's views over `lineitem`. Every
# view gets a COUNT DISTINCT, the MEDIAN and one or two light measures.
MODEL_MEASURES = {
    "m_rev": f"SUM({REV})", "m_qty": "SUM(l_quantity)", "m_cnt": "COUNT(*)",
    "m_avg": "AVG(l_extendedprice)", "m_tax": "SUM(l_extendedprice * l_tax)",
    "m_parts": "COUNT(DISTINCT l_partkey)", "m_orders": "COUNT(DISTINCT l_orderkey)",
    "m_med": "MEDIAN(l_extendedprice)", "m_sd": "STDDEV(l_extendedprice)",
}
MODEL_DIMS = {"l_returnflag": "l_returnflag", "l_linestatus": "l_linestatus",
              "yr": "CAST(year(l_shipdate) AS INT)"}
MODEL_DISTINCT = ["m_parts", "m_orders"]
MODEL_LIGHT = ["m_rev", "m_qty", "m_cnt", "m_avg", "m_tax", "m_sd"]


def _view_ddl(name, measures, replace=False, temp=False):
    items = ", ".join(f"{MODEL_MEASURES[m]} AS MEASURE {m}" for m in measures)
    head = "CREATE " + ("OR REPLACE " if replace else "") + ("TEMP " if temp else "")
    return (f"{head}VIEW {name} AS SELECT l_returnflag, l_linestatus, year(l_shipdate) AS yr, "
            f"{items} FROM lineitem")


def _model_read(r, view, measures, yoy):
    """By year with its prior year (AT SET) over a light measure of the
    view, or its COUNT DISTINCT and MEDIAN by a seeded dimension."""
    if yoy:
        m = _pick(r, [x for x in measures if x in MODEL_LIGHT])
        k = int(r.integers(1, 3))
        y = (f"SELECT CAST(year(l_shipdate) AS INT) AS yr, ROUND({MODEL_MEASURES[m]}, 2) AS v "
             "FROM lineitem GROUP BY 1")
        return (f"SELECT yr, ROUND(AGGREGATE({m}), 2) AS v, ROUND(AGGREGATE({m}) AT (SET yr = yr - {k}), 2) "
                f"AS prior FROM {view} GROUP BY yr",
                f"WITH y AS ({y}) SELECT t.yr, t.v, p.v AS prior FROM y t LEFT JOIN y p ON p.yr = t.yr - {k}")
    d = _pick(r, list(MODEL_DIMS))
    m = next(x for x in measures if x in MODEL_DISTINCT)
    return (f"SELECT {d}, AGGREGATE({m}) AS n, ROUND(AGGREGATE(m_med), 2) AS v FROM {view} GROUP BY {d}",
            f"SELECT {MODEL_DIMS[d]} AS {d}, {MODEL_MEASURES[m]} AS n, ROUND({MODEL_MEASURES['m_med']}, 2) AS v "
            "FROM lineitem GROUP BY 1")


def _model_fixed_read(r, c):
    """Heavier reads over the set-up views and the base tables."""
    if c == 0:
        d1, d2 = _dim_pair(r)
        return (f"SELECT {d1}, {d2}, AGGREGATE(parts) AS v, ROUND(AGGREGATE(med_qty), 2) AS med "
                f"FROM li_v GROUP BY {d1}, {d2}",
                f"SELECT {LI_DIMS[d1]} AS {d1}, {LI_DIMS[d2]} AS {d2}, COUNT(DISTINCT l_partkey) AS v, "
                f"ROUND(MEDIAN(l_quantity), 2) AS med FROM lineitem GROUP BY 1, 2")
    if c == 1:
        return dashboard_templates()[10](r)  # multi-fact join
    if c == 2:
        d1, d2 = _dim_pair(r)
        return (f"SELECT {d1}, {d2}, ROUND(AGGREGATE(revenue), 2) AS v FROM li_v GROUP BY ROLLUP({d1}, {d2})",
                f"SELECT {LI_DIMS[d1]} AS {d1}, {LI_DIMS[d2]} AS {d2}, CASE WHEN GROUPING({LI_DIMS[d1]}) = 1 "
                f"OR GROUPING({LI_DIMS[d2]}) = 1 THEN NULL ELSE ROUND(SUM({REV}), 2) END AS v "
                f"FROM lineitem GROUP BY ROLLUP({LI_DIMS[d1]}, {LI_DIMS[d2]})")
    seg = _pick(r, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    q = (f"SELECT n.n_name, ROUND(SUM({REV}), 2) AS rv, COUNT(DISTINCT o.o_custkey) AS nc "
         "FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey "
         "JOIN lineitem l ON l.l_orderkey = o.o_orderkey JOIN nation n ON c.c_nationkey = n.n_nationkey "
         f"WHERE c.c_mktsegment = '{seg}' GROUP BY n.n_name")
    return q, q


def modeling_ops(seed, n_ops, n_views=4):
    """Heavier reads interleaved with writes, in a fixed cycle of ten ops so
    every seed has the same mix: CREATE OR REPLACE a view, then read it;
    DROP a view and re-create it, then read it; a TEMP-view batch ending in
    CTAS (even cycles) or in an INSERT into the previous cycle's table (odd
    cycles), the value cast to DOUBLE so both fit one column type; four
    heavier reads over the set-up views and base tables. The
    seed picks views, measure subsets, dimensions and parameters. The first
    ops (kind `setup`) create the modeling views during set-up."""
    r = _rng(seed, 4)
    state = {}
    ops = []

    def subset():
        light = r.choice(MODEL_LIGHT, int(r.integers(1, 3)), replace=False).tolist()
        return sorted([_pick(r, MODEL_DISTINCT), "m_med"] + light)

    def read_of(v, yoy):
        sql, twin = _model_read(r, v, state[v], yoy)
        ops.append({"kind": "read", "sql": sql, "twin": twin})

    def view():
        return f"mv_{int(r.integers(0, n_views))}"

    for i in range(n_views):
        v = f"mv_{i}"
        state[v] = subset()
        ops.append({"kind": "setup", "sql": _view_ddl(v, state[v]), "view": v, "measures": state[v]})
    cycle, table, table_dim = 0, None, None
    while len(ops) < n_ops + n_views:
        v = view()
        state[v] = subset()
        ops.append({"kind": "ddl", "sql": _view_ddl(v, state[v], replace=True), "view": v, "measures": state[v]})
        read_of(v, yoy=cycle % 2 == 0)
        v = view()
        ops.append({"kind": "ddl", "sql": f"DROP VIEW {v}", "view": v, "measures": []})
        state[v] = subset()
        ops.append({"kind": "ddl", "sql": _view_ddl(v, state[v]), "view": v, "measures": state[v]})
        read_of(v, yoy=cycle % 2 == 1)
        i = len(ops)
        ms = subset()
        if cycle % 2 == 0:
            table, table_dim = f"mat_{i}", _pick(r, list(MODEL_DIMS))
        m = _pick(r, ms)
        sel = f"SELECT {table_dim}, CAST(ROUND(AGGREGATE({m}), 2) AS DOUBLE) AS v FROM tv_{i} GROUP BY {table_dim}"
        write = f"CREATE TABLE {table} AS {sel}" if cycle % 2 == 0 else f"INSERT INTO {table} {sel}"
        ops.append({"kind": "ctas", "table": table, "sql": f"{_view_ddl(f'tv_{i}', ms, temp=True)}; {write}",
                    "twin": f"SELECT {MODEL_DIMS[table_dim]} AS {table_dim}, "
                            f"CAST(ROUND({MODEL_MEASURES[m]}, 2) AS DOUBLE) AS v "
                            "FROM lineitem GROUP BY 1"})
        for c in range(4):
            sql, twin = _model_fixed_read(r, c)
            ops.append({"kind": "read", "sql": sql, "twin": twin})
        cycle += 1
    return ops[:n_ops + n_views]


def corpus_pass():
    """The fixed stage sequence of one corpus pass (names as reported)."""
    return ["analyze", "exact_dedup", "minhash", "cc_dedup", "simhash", "chunk_dedup",
            "lm_score", "kmeans", "knn"]
