"""Seeded input generators for the benchmark.

`warehouse(out, sf)` writes the ten star-schema / events / documents /
embeddings parquet tables the query modules read (`graft.Tables`), in the
shape of the repo's test fixtures: one file per table, one row group,
pandas-style micros timestamps (at sf >= 1, the large tables are split
into several files).  The dataset is fixed (seed 42): the
workload seed only permutes op order for query workloads.

`backfill(out, seed, days, rows)` writes the reference DAGs' inputs
(FIXTURES.md B1/B2) for one `etl_backfill` run and returns the values the
pipelines must produce, derived here from the generated rows.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

WORDS = ("a the spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row agg key query scan batch").split()


def _write_table(out, name, cols, parts=1):
    """One file and one row group per table; at parts > 1, a table of more
    than 100k rows becomes a directory of up to `parts` such files, so a
    scan of it splits into several tasks."""
    t = pa.table(cols)
    parts = max(1, min(parts, t.num_rows // 100000))
    path = os.path.join(out, f"{name}.parquet")
    if parts == 1:
        pq.write_table(t, path, row_group_size=1 << 30)
        return
    os.makedirs(path)
    step = -(-t.num_rows // parts)
    for i in range(parts):
        pq.write_table(t.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"),
                       row_group_size=1 << 30)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(base, seconds):
    return pa.array(np.datetime64(base, "us") + seconds.astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def warehouse(out, sf, seed=42):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    parts = max(1, int(sf * 8))

    def _write(out, name, cols):
        _write_table(out, name, cols, parts)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_li, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = np.array("red hot new small large old cold blue".split())
    noun = np.array("bolt anvil ring rod plate gear widget gizmo".split())
    types = np.array("PROMO SMALL MEDIUM LARGE ECONOMY STANDARD".split())
    pk = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    day = 86400
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord) * day),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2499, n_li) * day)})
    ev_types = np.array(["click", "error", "purchase", "signup", "view"])
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts("2024-01-01", np.sort(rng.integers(0, 30 * day * 10**6, n_ev)) / 10**6),
        "user_id": rng.integers(0, max(1500, n_ev // 66), n_ev).astype(np.int64),
        "event_type": ev_types[rng.integers(0, 5, n_ev)],
        "value": _money(rng, 0.0, 560.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # documents: random word strings; 5% are a copy of an earlier document
    # with " dup" appended, so the dedup family finds real clusters
    words = np.array(WORDS)
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))].removesuffix(" dup") + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(8, 100)))]))
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    _write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.integers(0, 7, n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    centers = rng.normal(0, 1, (10, 64))
    label = rng.integers(0, 10, n_emb)
    emb = centers[label] * 0.35 + rng.normal(0, 1, (n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": label.astype(np.int32)})


KEYWORDS = [f"kw{i:03d}" for i in range(400)]
FULL_KEYS = ["transaction_id", "transaction_detail_id", "transaction_number",
             "purchase_quantity", "purchase_amount", "purchase_payment_method",
             "purchase_source", "product_id"]


def _strings(values):
    return pa.array([v if isinstance(v, str) else str(v) for v in values], pa.string())


def _params(n, shape, qty, amount, product):
    """event_params of each event, built column-wise: full rows carry the
    eight transaction keys plus 13 extras (21), short rows two keys, the
    rest none."""
    keys = _strings(FULL_KEYS + [f"extra_{j}" for j in range(13)])
    lengths = np.select([shape == 0, shape == 1], [21, 2], 0)
    offsets = np.concatenate([[0], np.cumsum(lengths)]).astype(np.int32)
    row = np.repeat(np.arange(n), lengths)
    pos = np.arange(offsets[-1]) - np.repeat(offsets[:-1], lengths)
    # a short row's two entries are the full layout's positions 2 and 7
    pos = np.where(shape[row] == 1, np.where(pos == 0, 2, 7), pos)
    # string values index one vocabulary: each event's transaction number,
    # then the payment methods, the sources and the extras' "x"
    vocab = pa.concat_arrays([_strings(f"TRX{i:08d}" for i in range(n)),
                              _strings(["card", "cash", "wallet", "web", "app", "x"])])
    is_str = np.isin(pos, [2, 5, 6]) | (pos >= 8)
    string_idx = np.select([pos == 2, pos == 5, pos == 6],
                           [row, n + row % 3, n + 3 + row % 2], n + 5)
    int_value = np.select([pos == 0, pos == 1, pos == 3, pos == 7],
                          [row, row * 7 % 1000, qty[row], product[row]], 0)
    value = pa.StructArray.from_arrays(
        [vocab.take(pa.array(string_idx, mask=~is_str)),
         pa.array(int_value, pa.int64(), mask=~np.isin(pos, [0, 1, 3, 7])),
         pa.array(amount[row], pa.float64(), mask=pos != 4)],
        ["string_value", "int_value", "float_value"])
    entries = pa.StructArray.from_arrays([keys.take(pos), value], ["key", "value"])
    return pa.ListArray.from_arrays(pa.array(offsets), entries)


def backfill(out, seed, days, rows, start=dt.date(2021, 3, 1)):
    """Daily search CSVs plus the unified_events table (written under
    `<out>/unified_events`); returns the expected pipeline outputs."""
    rng = np.random.default_rng(seed)
    os.makedirs(os.path.join(out, "csv"), exist_ok=True)
    zipf = 1.0 / np.arange(1, len(KEYWORDS) + 1) ** 1.1
    zipf /= zipf.sum()
    # CSV fields are taken from tables of their possible values; KEYWORDS
    # sort by index, so the smallest index is the smallest keyword
    keywords = _strings(KEYWORDS)
    users = _strings(["bad_id"] + list(range(1, 50000)))
    counts = _strings(list(range(100000)) + ["n/a"])
    clock = _strings(f"{h:02d}:{m:02d}:{s:02d}"
                     for h in range(24) for m in range(60) for s in range(60))
    expect = {"top1": {}, "null_counts": 0, "null_users": 0, "search_rows": 0}
    in_bytes = 0
    for d in range(days):
        date = start + dt.timedelta(days=d)
        kw = rng.choice(len(KEYWORDS), rows, p=zipf)
        cnt = rng.integers(0, 100000, rows)
        bad_cnt = rng.random(rows) < 0.03
        bad_user = rng.random(rows) < 0.02
        bad_date = rng.random(rows) < 0.01
        sec = rng.integers(0, 86400, rows)
        # malformed dates: "dd/mm/yyyy HH:MM" fails the LEFT(created_at, 10) cast
        hms = clock.take(sec)
        good = pc.binary_join_element_wise(date.isoformat(), hms, " ")
        bad = pc.binary_join_element_wise(f"{date:%d/%m/%Y}", pc.utf8_slice_codeunits(hms, 0, 5), " ")
        path = os.path.join(out, "csv", f"search_{date:%Y%m%d}.csv")
        with open(path, "wb") as f:
            f.write(b"user_id,search_keyword,search_result_count,created_at\n")
            pacsv.write_csv(pa.table({
                "user_id": users.take(np.where(bad_user, 0, rng.integers(1, 50000, rows))),
                "search_keyword": keywords.take(kw),
                "search_result_count": counts.take(np.where(bad_cnt, 100000, cnt)),
                "created_at": pc.if_else(bad_date, bad, good)}), f,
                pacsv.WriteOptions(include_header=False, quoting_style="none"))
        in_bytes += os.path.getsize(path)
        # the pipeline's daily top-1: highest count among rows whose count
        # and date prefix parse, ties broken by keyword
        ok = ~bad_cnt & ~bad_date
        top = cnt[ok].max()
        expect["top1"][date.isoformat()] = [KEYWORDS[kw[ok][cnt[ok] == top].min()], int(top)]
        expect.setdefault("dated_rows", {})[date.isoformat()] = int((~bad_date).sum())
        expect["null_counts"] += int(bad_cnt.sum())
        expect["null_users"] += int(bad_user.sum())
        expect["search_rows"] += rows
    # unified_events: purchase and other events over the backfill window
    # plus a margin outside it; full (21), short (2) and empty param arrays
    n_ev = rows * days // 8
    secs = rng.integers(0, (days + 6) * 86400, n_ev) - 3 * 86400
    times = np.datetime64(start, "s") + secs.astype("timedelta64[s]")
    names = np.array(["purchase_item", "view_item", "add_to_cart"])[
        rng.choice(3, n_ev, p=[0.6, 0.25, 0.15])]
    shape = rng.choice(3, n_ev, p=[0.8, 0.15, 0.05])
    qty = rng.integers(1, 10, n_ev)
    amount = np.round(rng.uniform(1, 500, n_ev), 2)
    product = rng.integers(1, 5000, n_ev)
    ev_dir = os.path.join(out, "unified_events")
    os.makedirs(ev_dir, exist_ok=True)
    ev_path = os.path.join(ev_dir, "part-0.parquet")
    pq.write_table(pa.table({
        "event_name": names,
        "event_datetime": pa.array(times.astype("datetime64[us]"), pa.timestamp("us", tz="UTC")),
        "event_params": _params(n_ev, shape, qty, amount, product),
        "user_id": rng.integers(1, 50000, n_ev).astype(str),
        "state": np.array(["CA", "NY", "TX", "WA"])[rng.integers(0, 4, n_ev)],
        "city": np.array(["sf", "nyc", "austin", "seattle"])[rng.integers(0, 4, n_ev)],
        "created_at": [x.replace("T", " ") for x in np.datetime_as_string(times).tolist()]}),
        ev_path)
    in_bytes += os.path.getsize(ev_path)
    tx_dates = [start + dt.timedelta(days=d) for d in range(0, days, 3)]
    last = np.datetime64(tx_dates[-1] + dt.timedelta(days=3), "s")
    window = (times >= np.datetime64(start, "s")) & (times < last)
    expect["tx_dates"] = [d.isoformat() for d in tx_dates]
    expect["search_dates"] = [(start + dt.timedelta(days=d)).isoformat() for d in range(days)]
    expect["tx_rows"] = int(((names == "purchase_item") & window).sum())
    expect["input_bytes"] = in_bytes
    return expect
