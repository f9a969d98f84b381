"""Input generation for the benchmark.

Three corpora, all written as parquet under the benchmark's work directory:

* ``base``: a corpus with the shape of the repo's sf0.1 test tables (same
  tables, columns, physical types, row counts and value distributions),
  generated from a fixed seed so the collector entries have stable
  ``{rows, hash}`` pins.
* ``soak-warm``: the base corpus with a fifth of its events, for the soak's
  warm-up.
* ``soak-<seed>``: the base corpus with the events' time axis rotated within
  its span by a seed-drawn shift, so the daemon's tick windows see different
  events on every seed; ``soak_expect`` derives from it what each tick must
  report.

Every corpus is written to a temporary directory and renamed into place, so an
interrupted run never leaves a half-written corpus behind.
"""

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE_SEED = 42

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_ADJ = ["red", "new", "hot", "small", "large", "old", "blue", "cold"]
P_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "nut", "pipe"]
P_TYPES = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

US_PER_DAY = 86_400_000_000


def _days(rng, start, n_days, n):
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array(base + rng.integers(0, n_days, n) * US_PER_DAY,
                    pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _documents(rng, n=5000):
    lens = rng.integers(10, 101, n)
    texts = [" ".join(rng.choice(WORDS, k)) for k in lens]
    # near-duplicate pairs (copy + " dup") and a few exact duplicates, the
    # structure the dedup entries look for
    pairs = rng.choice(n, size=(258, 2), replace=False)
    for i, (src, dst) in enumerate(pairs):
        texts[dst] = texts[src] if i < 8 else texts[src] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, n=2000, dim=64):
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def _events(rng, n=100_000):
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * US_PER_DAY, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, n),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def base_tables(seed=BASE_SEED):
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part, n_ord, n_li = 15_000, 1_000, 20_000, 150_000, 600_000
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    pk = np.arange(n_part, dtype=np.int64)
    return {
        "region": pa.table({
            "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}),
        "nation": pa.table({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32)}),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust)}),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
        "part": pa.table({
            "p_partkey": pk,
            "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                       zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(P_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)}),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord)}),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["N", "R", "A"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _days(rng, "1995-01-02", 2498, n_li)}),
        "events": _events(rng),
        "documents": _documents(rng),
        "embeddings": _embeddings(rng),
    }


def _publish(tmp, final):
    if os.path.isdir(final):
        shutil.rmtree(tmp)
    else:
        os.replace(tmp, final)
    return final


def ensure_base(work):
    final = os.path.join(work, "data", "base")
    if os.path.isdir(final):
        return final
    tmp = final + f".tmp{os.getpid()}"
    os.makedirs(tmp)
    for name, table in base_tables().items():
        _write(table, os.path.join(tmp, f"{name}.parquet"))
    return _publish(tmp, final)


def _link_tables(src, dst, skip):
    for f in os.listdir(src):
        if f.split(".")[0] not in skip:
            os.link(os.path.join(src, f), os.path.join(dst, f))


def ensure_soak(work, seed):
    """Base corpus with event time rotated within its span by the seed."""
    base = ensure_base(work)
    final = os.path.join(work, "data", f"soak-{seed}")
    if os.path.isdir(final):
        return final
    tmp = final + f".tmp{os.getpid()}"
    os.makedirs(tmp)
    _link_tables(base, tmp, {"events"})
    ev = pq.read_table(os.path.join(base, "events.parquet"))
    ts = ev.column("ts").cast(pa.int64()).to_numpy()
    lo, span = ts.min(), ts.max() - ts.min() + 1
    shift = np.random.default_rng([seed, 1]).integers(0, span)
    rotated = lo + (ts - lo + shift) % span
    order = np.argsort(rotated, kind="stable")
    ev = ev.take(order).set_column(
        1, "ts", pa.array(rotated[order], pa.timestamp("us")))
    _write(ev, os.path.join(tmp, "events.parquet"))
    return _publish(tmp, final)


def ensure_soak_warm(work):
    """The base corpus with every fifth event only, for the soak's untimed
    warm-up: the daemon's code paths at a fifth of the tick work."""
    base = ensure_base(work)
    final = os.path.join(work, "data", "soak-warm")
    if os.path.isdir(final):
        return final
    tmp = final + f".tmp{os.getpid()}"
    os.makedirs(tmp)
    _link_tables(base, tmp, {"events"})
    ev = pq.read_table(os.path.join(base, "events.parquet"))
    _write(ev.take(np.arange(0, ev.num_rows, 5)), os.path.join(tmp, "events.parquet"))
    return _publish(tmp, final)


def soak_expect(work, seed, horizon):
    """What every daemon_soak tick must report over ``soak-<seed>``, computed
    from the rotated events alone, so each seed's ticks are checked.

    The daemon folds event time onto the horizon
    (``off = (es - min(es)) % horizon``, ``es`` the event's epoch second) and
    a tick that fires at ``f`` reads the events with ``off`` in its window.
    Per tick:

    * activity (window ``[f - 10, f)``): one backend per distinct pid
      (``user_id``);
    * high-frequency (window from the previous planned scrape to ``f``; the
      scrape on a full-snapshot boundary is skipped): one statement row per
      distinct ``(user_id, k, event_id % 7 != 0)``, and the distinct
      ``k`` (query ids);
    * log download (window ``[f - 30, f)``): one log line per event, and
      one classification per event type present.

    Written once per (seed, horizon) next to the soak corpus.
    """
    path = os.path.join(work, "data", f"soak-{seed}-h{horizon}.expect.json")
    if os.path.exists(path):
        return path
    ev = pq.read_table(os.path.join(ensure_soak(work, seed), "events.parquet"),
                       columns=["event_id", "ts", "user_id", "event_type", "props"])
    es = ev.column("ts").cast(pa.int64()).to_numpy() // 1_000_000
    off = (es - es.min()) % horizon
    eid = ev.column("event_id").to_numpy()
    user = ev.column("user_id").to_numpy()
    etype = ev.column("event_type").to_numpy(zero_copy_only=False)
    # props is '{"k": <n>}'
    props = ev.column("props").combine_chunks()
    k = pc.cast(pc.utf8_slice_codeunits(props, 6, -1), pa.int64()).to_numpy()

    ticks = []

    def tick(cadence, fire, n_items, n_dims=None):
        ticks.append({"cadence": cadence, "fire_at": int(fire),
                      "n_items": int(n_items), "n_dims": n_dims})

    def window(lo, hi):
        return (off >= lo) & (off < hi)

    for f in range(10, horizon + 1, 10):
        tick("activity_10s", f, len(np.unique(user[window(f - 10, f)])))
    scrapes = [f for f in range(60, horizon + 1, 60) if f % 600]
    for prev, f in zip([0] + scrapes[:-1], scrapes):
        m = window(prev, f)
        groups = np.unique(np.stack([user[m], k[m], eid[m] % 7 != 0]), axis=1)
        tick("highfreq_1min", f, groups.shape[1], int(len(np.unique(k[m]))))
    for f in range(30, horizon + 1, 30):
        m = window(f - 30, f)
        tick("log_download_30s", f, m.sum(), int(len(np.unique(etype[m]))))

    tmp = path + f".tmp{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump({"seed": seed, "horizon": horizon, "ticks": ticks}, fh)
    os.replace(tmp, path)
    return path
