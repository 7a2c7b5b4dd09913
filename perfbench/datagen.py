"""Seeded inputs for the benchmark: the ten sf-shaped parquet tables the
engine reads (region nation customer supplier part orders lineitem events
documents embeddings) plus the incremental change batches of the ELT
workloads.

Every table is a pure function of (seed, sf). Row counts, batch sizes and
batch composition depend on sf only, so two seeds give inputs of identical
size and shape; the seed moves keys, values and timestamps.

Timestamps are written as microsecond, non-UTC-adjusted parquet timestamps,
the physical type of the reference test data (Spark reads them as
TIMESTAMP_NTZ).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

US_PER_DAY = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)
WORDS = ("join hash row batch scan customer column filter small slow merge order "
         "vector line table data agg value key stream window spark a group part "
         "big sort query fast the").split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])

# incremental change batch, as shares of the base row count
CHANGE_SHARE = 0.005          # orders / lineitem rows changed per run
EVENT_SHARE = 0.005           # new events per run
BATCH_SPAN_US = 6 * 3600 * 1_000_000   # a 6-hourly extract window


def counts(sf):
    """Base row counts at scale factor sf (TPC-H-like ratios)."""
    return {
        "customer": max(int(150_000 * sf), 10),
        "supplier": max(int(10_000 * sf), 5),
        "part": max(int(200_000 * sf), 20),
        "orders": max(int(1_500_000 * sf), 100),
        "events": max(int(1_000_000 * sf), 100),
        "documents": max(int(50_000 * sf), 500),
        "embeddings": max(int(20_000 * sf), 500),
    }


def _ts(us):
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _orders(rng, keys, ncust, days):
    n = len(keys)
    return pa.table({
        "o_orderkey": pa.array(keys, type=pa.int64()),
        "o_custkey": pa.array(rng.integers(0, ncust, n), type=pa.int64()),
        "o_orderstatus": pa.array(rng.choice(np.array(["F", "O", "P"]), n)),
        "o_totalprice": pa.array(_money(rng, 1000, 500_000, n)),
        "o_orderdate": _ts(days),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n)),
    })


def _lineitems(rng, okeys, lines, npart, nsupp, ship_us):
    n = len(okeys)
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": pa.array(okeys, type=pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, n), type=pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, nsupp, n), type=pa.int64()),
        "l_linenumber": pa.array(lines, type=pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), n)),
        "l_linestatus": pa.array(rng.choice(np.array(["F", "O"]), n)),
        "l_shipdate": _ts(ship_us),
    })


def _events(rng, ids, ts_us, nusers):
    n = len(ids)
    return pa.table({
        "event_id": pa.array(ids, type=pa.int64()),
        "ts": _ts(ts_us),
        "user_id": pa.array(rng.integers(0, nusers, n), type=pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _documents(rng, n):
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document: a few words replaced
            words = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            if rng.random() < 0.3:
                words.append("dup")
        else:
            words = list(rng.choice(WORDS, int(rng.integers(8, 100))))
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), type=pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def _embeddings(rng, n, dim=64, labels=10):
    centers = rng.normal(0, 1, (labels, dim))
    label = rng.integers(0, labels, n)
    v = centers[label] * 0.3 + rng.normal(0, 1, (n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), type=pa.int64()),
        "embedding": pa.array(list(v.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(label, type=pa.int32()),
    })


def base_tables(seed, sf):
    """The ten base tables as pyarrow tables, in a fixed generation order."""
    rng = np.random.default_rng([seed, 1])
    c = counts(sf)
    nc, ns, npt, no = c["customer"], c["supplier"], c["part"], c["orders"]
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), type=pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), type=pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, type=pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), type=pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), type=pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": pa.array(rng.choice(np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]), nc))})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), type=pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), type=pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns))})
    adjs = "large hot blue small red green old new".split()
    nouns = "ring bolt nut gear pipe spring valve washer".split()
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npt), type=pa.int64()),
        "p_name": pa.array([f"{adjs[a]} {nouns[b]}" for a, b in
                            zip(rng.integers(0, 8, npt), rng.integers(0, 8, npt))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npt)]),
        "p_type": pa.array(rng.choice(np.array(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]), npt)),
        "p_size": pa.array(rng.integers(1, 51, npt), type=pa.int32()),
        "p_retailprice": pa.array(900.0 + (np.arange(npt) % 1000) / 10.0)})
    # orders in random physical order, dated 1995-01-01 .. 2001-08-01
    okeys = rng.permutation(no)
    odays = EPOCH_1995 + rng.integers(0, 2404, no) * US_PER_DAY
    t["orders"] = _orders(rng, okeys, nc, odays)
    # 1..7 lines per order (a seeded permutation of a fixed multiset, so the
    # lineitem row count depends on sf only), shipped within 95 days
    nlines = rng.permutation(np.arange(no) % 7 + 1)
    li_order = np.repeat(okeys, nlines)
    li_line = np.concatenate([np.arange(1, k + 1) for k in nlines]).astype(np.int32)
    li_ship = np.repeat(odays, nlines) + rng.integers(1, 96, len(li_order)) * US_PER_DAY
    perm = rng.permutation(len(li_order))
    t["lineitem"] = _lineitems(rng, li_order[perm], li_line[perm], npt, ns, li_ship[perm])
    ne = c["events"]
    ev_ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * US_PER_DAY, ne))
    t["events"] = _events(rng, np.arange(ne), ev_ts, max(int(ne * 0.015), 10))
    t["documents"] = _documents(rng, c["documents"])
    t["embeddings"] = _embeddings(rng, c["embeddings"])
    return t


class ChangeStream:
    """Incremental change batches for orders, lineitem and events.

    Batch k carries, for orders and lineitem, CHANGE_SHARE of the base rows:
    30 % updates to uniformly drawn existing keys, 30 % updates to the most
    recently inserted keys, 36 % new keys and 4 % in-batch duplicate keys
    (a second row for a key already in the batch). Events get EVENT_SHARE
    new rows. Every replication-key value of batch k lies in the k-th
    6-hour window after the base data, so it is strictly past the watermark
    stored by batch k-1.
    """

    def __init__(self, seed, sf, base):
        self.rng = np.random.default_rng([seed, 2])
        c = counts(sf)
        self.ncust, self.npart, self.nsupp = c["customer"], c["part"], c["supplier"]
        self.n_orders = max(int(c["orders"] * CHANGE_SHARE), 20)
        self.n_events = max(int(c["events"] * EVENT_SHARE), 20)
        o = base["orders"]
        li = base["lineitem"]
        # insertion order of order keys: the base permutation, then new keys
        self.order_keys = o["o_orderkey"].to_numpy().copy()
        self.next_order = int(self.order_keys.max()) + 1
        self.li_keys = np.stack([li["l_orderkey"].to_numpy(),
                                 li["l_linenumber"].to_numpy().astype(np.int64)], axis=1)
        self.o_wm = int(o["o_orderdate"].cast(pa.int64()).to_numpy().max())
        self.l_wm = int(li["l_shipdate"].cast(pa.int64()).to_numpy().max())
        self.e_wm = int(base["events"]["ts"].cast(pa.int64()).to_numpy().max())
        self.next_event = base["events"].num_rows
        self.n_users = max(int(c["events"] * 0.015), 10)
        self.k = 0

    def _pick(self, n_keys, n):
        """n existing key indexes: half uniform, half among the newest 5 %."""
        half = n // 2
        recent = max(n_keys // 20, 1)
        uni = self.rng.integers(0, n_keys, half)
        rec = n_keys - 1 - self.rng.integers(0, recent, n - half)
        return np.concatenate([uni, rec])

    def _window(self, start, n):
        lo = start + self.k * BATCH_SPAN_US
        return np.sort(lo + 1 + self.rng.integers(0, BATCH_SPAN_US, n))

    def next_batch(self):
        """The next batch as {table: pyarrow table}."""
        self.k += 1
        rng, n = self.rng, self.n_orders
        n_upd = (n * 60) // 100
        n_dup = max((n * 4) // 100, 1)
        n_new = n - n_upd - n_dup
        upd = self.order_keys[self._pick(len(self.order_keys), n_upd)]
        new = np.arange(self.next_order, self.next_order + n_new)
        self.next_order += n_new
        self.order_keys = np.concatenate([self.order_keys, new])
        dup = rng.choice(np.concatenate([upd, new]), n_dup)
        okeys = np.concatenate([upd, new, dup])
        orders = _orders(rng, okeys, self.ncust, self._window(self.o_wm, len(okeys)))

        m = (self.n_orders * 4)   # lineitem changes: about 4 lines per order
        m_upd = (m * 60) // 100
        m_dup = max((m * 4) // 100, 1)
        m_new = m - m_upd - m_dup
        upd_li = self.li_keys[self._pick(len(self.li_keys), m_upd)]
        # new lines: appended to the new orders, line numbers 1, 2, ...
        new_o = new[np.arange(m_new) % len(new)]
        new_l = np.arange(m_new) // len(new) + 1
        new_li = np.stack([new_o, new_l], axis=1)
        self.li_keys = np.concatenate([self.li_keys, new_li])
        both = np.concatenate([upd_li, new_li])
        dup_li = both[rng.integers(0, len(both), m_dup)]
        lk = np.concatenate([upd_li, new_li, dup_li])
        lineitem = _lineitems(rng, lk[:, 0], lk[:, 1].astype(np.int32), self.npart,
                              self.nsupp, self._window(self.l_wm, len(lk)))

        ids = np.arange(self.next_event, self.next_event + self.n_events)
        self.next_event += self.n_events
        events = _events(rng, ids, self._window(self.e_wm, self.n_events), self.n_users)
        return {"orders": orders, "lineitem": lineitem, "events": events}


def write_table(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def write_inputs(out_dir, seed, sf, batches):
    """Write the base tables under out_dir/base and `batches` change batches
    under out_dir/batches/<k>/. Every base table is a directory
    `<table>.parquet/part-00000.parquet`, so change files can be dropped in
    beside it. Returns a small description of the inputs."""
    base = base_tables(seed, sf)
    for name, t in base.items():
        write_table(t, os.path.join(out_dir, "base", f"{name}.parquet", "part-00000.parquet"))
    stream = ChangeStream(seed, sf, base)
    for k in range(1, batches + 1):
        for name, t in stream.next_batch().items():
            write_table(t, os.path.join(out_dir, "batches", str(k), f"{name}.parquet"))
    return {
        "rows": {name: t.num_rows for name, t in base.items()},
        "batch_rows": {"orders": stream.n_orders, "lineitem": stream.n_orders * 4,
                       "events": stream.n_events},
        "batches": batches,
    }
