"""Seeded input generators for the benchmark.

Two input sets, both a pure function of the seed:

* ``corpus(seed, out_dir, sf)`` writes the ten-table analytics corpus the
  query mixes read (TPC-H-shaped star schema, an ``events`` stream, a
  ``documents`` text corpus with planted near-duplicates and 64-dim unit
  ``embeddings``), with the same column names, parquet types and value
  domains as the corpus the engine's oracle suite is graded on.
* ``pages(seed, out_dir)`` writes TMDB discover-shaped JSON-lines pages,
  ``<out>/<monthStart>_<monthEnd>/page-NNNN.json`` (the file transport of
  ``graft.sources.PagedJsonSource``), and returns the manifest the backfill
  check needs: every id with the set of normalized rows it may legally
  resolve to.

Backfill sizing (``PAGE_ROWS``, ``MONTHS``, ``PAGES_PER_MONTH``,
``DUP_*``) is explained next to the constants.
"""
import calendar
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- corpus

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
SEGMENTS = ["HOUSEHOLD", "BUILDING", "FURNITURE", "MACHINERY", "AUTOMOBILE"]
PTYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "green"]
PNOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
US_PER_DAY = 86_400_000_000


def _ts(days0, days_span, rng, n):
    """Midnight timestamps drawn uniformly from [days0, days0 + span)."""
    base = np.datetime64("1970-01-01", "D")
    d = rng.integers(0, days_span, n) + (np.datetime64(days0, "D") - base).astype(int)
    return pa.array(d.astype("int64") * US_PER_DAY, pa.timestamp("us"))


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"),
                   compression="snappy")


def _text(rng, n_tok):
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_tok))


def corpus(seed, out_dir, sf):
    """Write the ten corpus tables at scale factor ``sf``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(20_000 * sf), max(500, int(20_000 * sf))
    n_user = max(50, int(15_000 * sf))
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [f"{PADJ[a]} {PNOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": [("O", "P", "F")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": _ts("1995-01-01", 2404, rng, n_ord),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": money(900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _ts("1995-01-02", 2498, rng, n_line)})
    ev_ts = np.sort(rng.integers(0, 30 * US_PER_DAY, n_ev)) + \
        (np.datetime64("2024-01-01", "us") - np.datetime64("1970-01-01", "us")).astype(int)
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_user, n_ev),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)]})

    # documents: single-space ASCII tokens; about 5% are near-duplicates of
    # an earlier document (one token swapped for "dup") and 0.2% are exact
    # copies, the two kinds of redundancy the dedup queries look for
    texts = []
    for i in range(n_doc):
        r = rng.random()
        if i > 10 and r < 0.05:
            toks = texts[rng.integers(0, i)].split(" ")
            toks[rng.integers(0, len(toks))] = "dup"
            texts.append(" ".join(toks))
        elif i > 10 and r < 0.052:
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(_text(rng, int(rng.integers(10, 101))))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})

    # embeddings: random unit vectors, 5% planted as small perturbations of
    # an earlier vector (the near neighbours the ANN queries should find)
    v = rng.standard_normal((n_emb, 64))
    near = np.flatnonzero(rng.random(n_emb) < 0.05)
    near = near[near > 0]
    v[near] = v[rng.integers(0, near)] + 0.05 * rng.standard_normal((len(near), 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return {"lineitem": n_line, "orders": n_ord, "events": n_ev,
            "documents": n_doc, "embeddings": n_emb}


# ---------------------------------------------------------------- backfill

# 20 rows per page is TMDB's discover page size.
PAGE_ROWS = 20
# Four calendar months: enough month commits for the resume to skip a real
# prefix (it restarts at month 3), while a warm fresh backfill takes about
# 4 s on 4 cores, so the cold run and five warm ones fit one window.
YEAR, MONTHS = 2022, 4
# 12-30 pages a month (240-600 rows), in a month order the seed permutes:
# far below the source's 500-page cap, so no month is truncated; months
# differ 2.5x so month commits do not all look alike; and every seed has the
# same 84 pages (1,680 rows), so seeds differ in content, not in size.
PAGES_PER_MONTH = (12, 18, 24, 30)
# 4% of rows repeat an id already emitted in the same month and 3% repeat
# one from an earlier month; a repeat carries a freshly drawn payload, so
# dedup must pick a survivor, not just drop identical rows.
DUP_SAME_MONTH, DUP_EARLIER_MONTH = 0.04, 0.03
# payload edge cases normalize must handle
NULL_POSTER, EMPTY_POSTER, EMPTY_GENRES = 0.10, 0.03, 0.08
GENRES = {28: "Action", 35: "Comedy", 18: "Drama", 27: "Horror",
          878: "Science Fiction", 10749: "Romance"}
UNKNOWN_GENRES = [9001, 9002]
IMAGE_BASE, POSTER_SIZE = "https://image.tmdb.org/t/p/", "w500"


def month_ranges():
    out = []
    for m in range(1, MONTHS + 1):
        last = calendar.monthrange(YEAR, m)[1]
        out.append((f"{YEAR}-{m:02d}-01", f"{YEAR}-{m:02d}-{last:02d}"))
    return out


def normalize(p):
    """Python mirror of ``MovieOps.normalize`` for one payload."""
    gids = p["genre_ids"] or []
    path = p["poster_path"]
    return (p["id"], p["title"], p["original_title"], p["release_date"],
            "|".join(GENRES.get(g, str(g)) for g in gids),
            p["vote_average"], p["vote_count"], p["popularity"],
            p["original_language"], p["overview"],
            IMAGE_BASE + POSTER_SIZE + path if path else None)


def pages(seed, out_dir):
    """Write the page tree; returns {"rows", "pages", "dups", "ids": {id: [row]}}."""
    rng = np.random.default_rng([seed, 2])
    next_id, by_id = 1000, {}
    n_rows = n_pages = n_dups = 0
    earlier = []
    sizes = rng.permutation(PAGES_PER_MONTH)
    for (ms, me), n_p in zip(month_ranges(), sizes):
        mdir = os.path.join(out_dir, f"{ms}_{me}")
        os.makedirs(mdir, exist_ok=True)
        this_month = []
        for page in range(1, int(n_p) + 1):
            lines = []
            for _ in range(PAGE_ROWS):
                r = rng.random()
                if this_month and r < DUP_SAME_MONTH:
                    mid = this_month[rng.integers(0, len(this_month))]
                    n_dups += 1
                elif earlier and r < DUP_SAME_MONTH + DUP_EARLIER_MONTH:
                    mid = earlier[rng.integers(0, len(earlier))]
                    n_dups += 1
                else:
                    mid, next_id = next_id, next_id + int(rng.integers(1, 4))
                    this_month.append(mid)
                day = int(rng.integers(1, int(me[-2:]) + 1))
                r2 = rng.random()
                poster = (None if r2 < NULL_POSTER else "" if r2 < NULL_POSTER + EMPTY_POSTER
                          else f"/p{mid}x{int(rng.integers(0, 1000))}.jpg")
                if rng.random() < EMPTY_GENRES:
                    gids = []
                else:
                    pool = list(GENRES) + UNKNOWN_GENRES
                    gids = [pool[i] for i in rng.choice(len(pool), int(rng.integers(1, 4)), replace=False)]
                title = _text(rng, int(rng.integers(1, 5))).title()
                p = {"id": mid, "title": title,
                     "original_title": title if rng.random() < 0.8 else _text(rng, 2),
                     "release_date": f"{ms[:8]}{day:02d}",
                     "genre_ids": gids,
                     "vote_average": round(float(rng.uniform(0, 10)), 1),
                     "vote_count": int(rng.integers(0, 20000)),
                     "popularity": round(float(rng.exponential(40.0)), 3),
                     "original_language": LANGS[int(rng.integers(0, 5))],
                     "overview": _text(rng, int(rng.integers(5, 40))),
                     "poster_path": poster,
                     "adult": False}
                lines.append(json.dumps(p, separators=(",", ":")))
                by_id.setdefault(mid, []).append(normalize(p))
                n_rows += 1
            with open(os.path.join(mdir, f"page-{page:04d}.json"), "w") as f:
                f.write("\n".join(lines) + "\n")
            n_pages += 1
        earlier.extend(this_month)
    return {"rows": n_rows, "pages": n_pages, "dups": n_dups, "ids": by_id}
