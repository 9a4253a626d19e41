"""Seeded input generator for the benchmark.

Every input the program sees is written here from `--seed`; the same seed
gives byte-identical inputs. The warehouse tables follow the shape of the
sf0.1 corpus the program's oracle gate runs on (same schema, parquet
physical types, row counts and value domains): a TPC-H-like star schema,
an `events` click stream, a text `documents` corpus with ~5% near-duplicate
copies, and 64-d unit `embeddings`.

On top of the tables each workload gets its own streams:

  gmall_stream  Maxwell CDC JSON lines (order_info + order_detail inserts)
                cut into time-ordered slices, each slice shuffled; app
                start-log JSON lines in time-ordered slices with seeded
                re-sends of earlier lines inside the 24 h dedup window;
                the warehouse tables at BATCH_SF for the batch queries.
  corpus        intake documents in batches (short, repetitive,
                stopword-heavy and near-duplicate docs mixed in, plus a
                fixed set of null / empty / whitespace-only texts) and ANN
                query batches: seeded embeddings with a small perturbation.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD"]
PTYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PADJ = ["large", "hot", "blue", "red", "small", "cold", "green", "old"]
PNOUN = ["ring", "bolt", "nut", "gear", "pipe", "wire", "cap", "box"]
STATUSES = ["O", "F", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]

# row counts at sf0.1 (the corpus the program's oracle gate runs on);
# a table of another scale factor scales them linearly
SF01_ROWS = {"customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
             "lineitem": 600000, "events": 100000, "users": 1500, "documents": 5000}
EMB_DIM = 64
# gmall_stream's warehouse tables (the batch queries' input). At sf0.1 the
# DuckDB side of the q2 and q4 checks took ~50 s together, past a run's
# budget
BATCH_SF = 0.02
# corpus tables: the text and vector corpora the curate, intake and ANN
# paths read
CORPUS_DOCS, CORPUS_EMB = 1500, 2000

# gmall_stream feeds, cut from sf0.1-sized streams the way the program's
# local[4] parity run (Topology.pacedParity over Topology.writeCdcFixture)
# cuts its CDC fixture: the whole stream in 12 time-monotonic slices, one
# slice per Seconds(5) trigger, of which a run feeds the first few (slice 0
# starts the queries). CDC: sf0.1's 150 000 orders with 1-7 details each
# (600 000 on average, lineitem's count) over 24 h of event time, as
# writeCdcFixture spreads them: ~1.7 orders/s, ~62 000 lines a slice.
# Start logs: sf0.1's `events` stream (the start-log stand-in in
# FIXTURES.md), 100 000 lines of 1 500 devices over 30 days, ~8 300 lines
# a slice.
STREAM_SLICES, CDC_FEED, DAU_FEED = 12, 2, 2
CDC_ORDERS, CDC_SPAN_S = 150000, 86400
CDC_DISCOUNT_FRAC = 0.3
DAU_LINES, DAU_MIDS, DAU_SPAN_DAYS = 100000, 1500, 30
DAU_RESEND_FRAC = 0.05
# corpus streams
INTAKE_BATCHES, INTAKE_DOCS_PER_BATCH = 2, 200
ANN_BATCHES, ANN_QUERIES_PER_BATCH, ANN_NOISE = 2, 50, 0.01
# the fixed fault documents (ids and texts do not depend on the seed):
# each must be dropped as too_short
FAULT_DOCS = [(900001, None), (900002, None), (900003, ""), (900004, ""),
              (900005, "   "), (900006, " \t  ")]

DAY_US = 86400 * 1_000_000


def _write(table, path):
    pq.write_table(table, path, compression="snappy",
                   row_group_size=max(1, table.num_rows))


def _ts(values_us):
    return pa.array(values_us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _epoch_us(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype("int64"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _doc_text(rng, n_words):
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_words))


def rows(table, sf):
    return max(1, round(SF01_ROWS[table] * sf / 0.1))


def gen_dims(rng, sf, scale):
    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{sf}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{sf}/nation.parquet")
    n = rows("supplier", scale)
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)}),
        f"{sf}/supplier.parquet")
    gen_part(rng, sf, rows("part", scale))


def gen_part(rng, sf, n):
    names = [f"{PADJ[a]} {PNOUN[b]}" for a, b in
             zip(rng.integers(0, 8, n), rng.integers(0, 8, n))]
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": names,
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": [PTYPES[t] for t in rng.integers(0, len(PTYPES), n)],
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 1)}),
        f"{sf}/part.parquet")


def gen_facts(rng, sf, scale):
    n_cust, n_supp, n_part = (rows(t, scale) for t in ("customer", "supplier", "part"))
    n_orders, n_line, n_events = (rows(t, scale) for t in ("orders", "lineitem", "events"))
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]}),
        f"{sf}/customer.parquet")
    o_lo, o_hi = _epoch_us(1995, 1, 1) // DAY_US, _epoch_us(2001, 8, 1) // DAY_US
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": [STATUSES[i] for i in rng.integers(0, 3, n_orders)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": _ts(rng.integers(o_lo, o_hi + 1, n_orders) * DAY_US),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_orders)]}),
        f"{sf}/orders.parquet")
    l_lo, l_hi = _epoch_us(1995, 1, 2) // DAY_US, _epoch_us(2001, 11, 4) // DAY_US
    flags = np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]
    status = np.array(["O", "F"])[rng.integers(0, 2, n_line)]
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": flags.tolist(),
        "l_linestatus": status.tolist(),
        "l_shipdate": _ts(rng.integers(l_lo, l_hi + 1, n_line) * DAY_US)}),
        f"{sf}/lineitem.parquet")
    t0 = _epoch_us(2024, 1, 1)
    ts = np.sort(rng.integers(t0, t0 + 30 * DAY_US, n_events))
    _write(pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, rows("users", scale), n_events), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)],
        "value": _money(rng, 0.0, 500.0, n_events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]}),
        f"{sf}/events.parquet")


def gen_documents(rng, sf, n_docs):
    texts = []
    for i in range(n_docs):
        if i > 100 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(_doc_text(rng, int(rng.integers(10, 101))))
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{sf}/documents.parquet")


def _unit(rng, n, dim):
    x = rng.standard_normal((n, dim))
    return x / np.linalg.norm(x, axis=1, keepdims=True)


def _emb_array(x):
    flat = pa.array(x.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, x.size + 1, x.shape[1]), pa.int32())
    return pa.ListArray.from_arrays(offsets, flat)


def gen_embeddings(rng, sf, n_emb):
    x = _unit(rng, n_emb, EMB_DIM)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": _emb_array(x),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())}),
        f"{sf}/embeddings.parquet")
    return x


def _write_lines(path, lines):
    with open(path, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")


def _feed_bounds(n, feed):
    """Rank bounds of the first `feed` of STREAM_SLICES time-monotonic
    slices of n time-sorted records."""
    return [n * s // STREAM_SLICES for s in range(feed + 1)]


def gen_cdc(rng, out):
    """Order header + detail inserts, one file per slice, each shuffled.
    original = sum of details; a seeded CDC_DISCOUNT_FRAC of orders carry
    a 1-20% discount (final < original), so the apportion's proportional
    split and its remainder both run; the rest have final == original."""
    os.makedirs(out)
    t0 = 1_700_000_000  # writeCdcFixture's epoch
    times = np.datetime_as_string(
        (t0 + np.sort(rng.integers(0, CDC_SPAN_S, CDC_ORDERS))).astype("datetime64[s]"))
    bounds = _feed_bounds(CDC_ORDERS, CDC_FEED)
    detail_id = 0
    for s in range(CDC_FEED):
        orders = np.arange(bounds[s], bounds[s + 1])
        k = rng.integers(1, 8, len(orders))
        order_of = np.repeat(orders, k)
        nd = int(k.sum())
        price_c = rng.integers(30000, 3500000, nd)
        num = rng.integers(1, 4, nd)
        sku = rng.integers(0, SF01_ROWS["part"], nd)
        original_c = np.add.reduceat(price_c * num, np.cumsum(k) - k)
        off = rng.uniform(0.01, 0.20, len(orders))
        discounted = rng.random(len(orders)) < CDC_DISCOUNT_FRAC
        final_c = np.where(discounted, original_c - np.floor(original_c * off).astype("int64"),
                           original_c)
        ct = [t.replace("T", " ") for t in times[orders]]
        lines = [
            '{"type": "insert", "table": "order_detail", "data": {"id": %d, '
            '"order_id": %d, "sku_id": %d, "sku_num": %d, "order_price": %r, '
            '"create_time": "%s"}}' % (detail_id + i, o, sk, n, p / 100, ct[o - orders[0]])
            for i, (o, sk, n, p) in enumerate(zip(order_of.tolist(), sku.tolist(),
                                                  num.tolist(), price_c.tolist()))]
        detail_id += nd
        users = rng.integers(0, SF01_ROWS["customer"], len(orders))
        lines += [
            '{"type": "insert", "table": "order_info", "data": {"id": %d, '
            '"user_id": %d, "province_id": 0, "order_status": "1001", '
            '"final_total_amount": %r, "original_total_amount": %r, '
            '"create_time": "%s"}}' % (o, u, f / 100, g / 100, c)
            for o, u, f, g, c in zip(orders.tolist(), users.tolist(), final_c.tolist(),
                                     original_c.tolist(), ct)]
        # CDC noise the router must drop: a non-whitelisted table and an
        # update to a fact table
        lines.append('{"type": "insert", "table": "cart_info", "data": {"id": 1}}')
        lines.append('{"type": "update", "table": "order_info", "data": {"id": 1}}')
        rng.shuffle(lines)
        _write_lines(f"{out}/slice-{s:03d}.json", lines)


def gen_startlogs(rng, out):
    """Start-log lines, one file per slice, each shuffled, plus seeded
    re-sends: copies of lines of the same slice or of the 24 h of event
    time before it, so every re-send falls inside the dedup window."""
    os.makedirs(out)
    day_ms = DAY_US // 1000
    t0 = 1_704_067_200_000  # 2024-01-01T00:00:00Z, ms
    ts = t0 + np.sort(rng.integers(0, DAU_SPAN_DAYS * day_ms, DAU_LINES))
    mids = rng.integers(0, DAU_MIDS, DAU_LINES)
    chans = ["xiaomi", "huawei", "oppo", "web"]

    def line(i):
        m = int(mids[i])
        return ('{"common": {"mid": "mid_%d", "uid": "%d", "ar": "%d", "ch": "%s", '
                '"vc": "v2.1.134"}, "ts": %d}' % (m, m % 997, 110000 + m % 30, chans[m % 4], ts[i]))

    bounds = _feed_bounds(DAU_LINES, DAU_FEED)
    for s in range(DAU_FEED):
        lo, hi = bounds[s], bounds[s + 1]
        pool_lo = int(np.searchsorted(ts, ts[lo] - day_ms))
        resent = rng.integers(pool_lo, hi, int((hi - lo) * DAU_RESEND_FRAC))
        lines = [line(i) for i in range(lo, hi)] + [line(int(i)) for i in resent]
        rng.shuffle(lines)
        _write_lines(f"{out}/slice-{s:03d}.json", lines)


def gen_intake(rng, out):
    os.makedirs(out)
    accepted_like = []
    doc_id = 1_000_000
    for b in range(INTAKE_BATCHES):
        ids, texts = [], []
        for _ in range(INTAKE_DOCS_PER_BATCH):
            r = rng.random()
            if r < 0.10:    # too short
                t = _doc_text(rng, int(rng.integers(1, 15)))
            elif r < 0.15:  # repetitive
                w = VOCAB[int(rng.integers(0, len(VOCAB)))]
                t = " ".join([w] * 10 + [_doc_text(rng, 10)])
            elif r < 0.20:  # stopword heavy
                t = " ".join(["the", "a"] * 8) + " " + _doc_text(rng, 12)
            elif r < 0.28 and accepted_like:  # near-dup of an earlier doc
                t = accepted_like[int(rng.integers(0, len(accepted_like)))] + " dup"
            else:
                t = _doc_text(rng, int(rng.integers(20, 120)))
                accepted_like.append(t)
            ids.append(doc_id)
            texts.append(t)
            doc_id += 1
        if b == 0:
            for fid, ftext in FAULT_DOCS:
                ids.append(fid)
                texts.append(ftext)
        _write(pa.table({"doc_id": pa.array(ids, pa.int64()),
                         "text": pa.array(texts, pa.string())}),
               f"{out}/batch-{b:03d}.parquet")


def gen_ann_queries(rng, emb, out):
    os.makedirs(out)
    n = ANN_BATCHES * ANN_QUERIES_PER_BATCH
    picks = rng.choice(len(emb), n, replace=False)
    q = emb[picks] + ANN_NOISE * rng.standard_normal((n, emb.shape[1]))
    q = q / np.linalg.norm(q, axis=1, keepdims=True)
    for b in range(ANN_BATCHES):
        sl = slice(b * ANN_QUERIES_PER_BATCH, (b + 1) * ANN_QUERIES_PER_BATCH)
        # negative ids: the serve drops a candidate whose id equals the
        # query id, and query ids share the index's id space
        qid = -(np.arange(n)[sl] + 1)
        _write(pa.table({"query_id": pa.array(qid, pa.int64()),
                         "embedding": _emb_array(q[sl])}),
               f"{out}/batch-{b:03d}.parquet")


def generate(workload, seed, root):
    """Write the inputs of `workload` for `seed` under `root`."""
    rng = np.random.default_rng([seed, 20240101])
    sf = f"{root}/sf"
    os.makedirs(sf)
    if workload == "gmall_stream":
        os.makedirs(f"{root}/sku")
        gen_part(rng, f"{root}/sku", SF01_ROWS["part"])
        gen_cdc(rng, f"{root}/cdc")
        gen_startlogs(rng, f"{root}/startlog")
        gen_dims(rng, sf, BATCH_SF)
        gen_facts(rng, sf, BATCH_SF)
    elif workload == "corpus":
        gen_documents(rng, sf, CORPUS_DOCS)
        emb = gen_embeddings(rng, sf, CORPUS_EMB)
        gen_intake(rng, f"{root}/intake")
        gen_ann_queries(rng, emb, f"{root}/annq")
    else:
        raise ValueError(f"unknown workload {workload}")
