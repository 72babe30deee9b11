"""Seeded input generator for the benchmark workloads.

Every table is a function of (workload, seed) only: the same seed gives
byte-identical parquet files, a different seed gives different data.
Tables are single-file, single-row-group parquet written by pyarrow, like
the sf0.1 test data the engine is tuned on. Their shapes are measured on
that data (DuckDB over the sf0.1 parquet files):

  events.parquet     100k ratings, 1.5k users, 200 products, as in sf0.1.
                     Product popularity is Zipf-skewed and user activity
                     lognormal, where sf0.1 is uniform (500 events per
                     product, 45-99 per user): a recommender's ratings
                     are skewed, and the skew is what the ALS and
                     co-occurrence joins see (refresh, rescore_stream)
  stream.txt         `... PRODUCT_RATING_PREFIX:UID|MID|SCORE|TS` wire
                     lines for the open-loop generator (rescore_stream)
  documents.parquet  sf0.1: 5000 documents of 10-99 words drawn uniformly
                     (median 54) from 30 words; 250 of them (5%) repeat
                     another document's text with " dup" appended, which
                     makes 8 exact duplicates and 425 documents sharing a
                     16-token span; 20 sources of 250 documents each;
                     languages en 41%, zh/fr/es 15%, de 14% (curate_graph)
  lineitem.parquet   sf0.1: 600k lines in 147k orders of 1-17 lines (mean
                     4.07, histogram below) over 20k parts of uniform
                     popularity (30 lines per part, at most 53) and 1000
                     suppliers. Generated at a quarter of that: 36.8k
                     orders over 5k parts, which keeps lines per order,
                     lines per part and so each part's co-purchase degree
                     (curate_graph; the full size does not fit the run
                     budget, see perfbench/README.md)
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

NUM_USERS = 1500
NUM_PRODUCTS = 200          # graft.Tables.NumProducts
NUM_RATINGS = 100_000
NUM_DOCS = 5000
DOC_WORDS = (10, 99)        # inclusive, uniform
NEAR_DUP_FRAC = 0.05
NUM_SOURCES = 20
# a quarter of sf0.1's 147,236 orders and 20,000 parts
NUM_ORDERS = 36_809
NUM_PARTS = 5000
NUM_SUPPLIERS = 1000
# sf0.1 orders with 1, 2, ..., 17 lines
LINES_PER_ORDER = [11016, 21814, 29500, 29097, 23631, 15625, 8941, 4407,
                   1959, 818, 292, 93, 29, 10, 1, 2, 1]
STREAM_TS0 = 1_706_745_600  # 2024-02-01T00:00:00Z, after every batch rating
EPOCH_2024_US = 1_704_067_200 * 1_000_000

WORDS = ("a the data spark stream batch table row column key value hash "
         "join sort group agg filter scan query window merge part line "
         "order customer vector big small fast slow").split()
NEAR_DUP_MARK = "dup"
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]


def _zipf_weights(n, s, rng):
    w = 1.0 / np.arange(1, n + 1) ** s
    return rng.permutation(w / w.sum())


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _user_and_product_weights(rng):
    users = rng.lognormal(0.0, 0.6, NUM_USERS)
    return users / users.sum(), _zipf_weights(NUM_PRODUCTS, 1.0, rng)


def events(rng):
    uw, pw = _user_and_product_weights(rng)
    n = NUM_RATINGS
    prod = rng.choice(NUM_PRODUCTS, n, p=pw)
    return pa.table({
        # event_id % 200 is the product (graft.Tables.ratings)
        "event_id": pa.array(np.arange(n, dtype=np.int64) * NUM_PRODUCTS
                             + prod),
        "ts": pa.array(EPOCH_2024_US + rng.integers(
            0, 30 * 86400 * 1_000_000, n), type=pa.timestamp("us")),
        "user_id": pa.array(rng.choice(NUM_USERS, n, p=uw).astype(np.int64)),
        "event_type": pa.array(rng.choice(
            ["view", "click", "purchase", "signup", "error"], n)),
        "value": pa.array(np.round(rng.uniform(0.0, 560.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }), uw, pw


def stream_lines(rng, uw, pw, count):
    """`count` wire lines, one event per second of event time, so the
    recent-K order inside the stream is total and the 1-hour watermark
    never drops an event."""
    users = rng.choice(NUM_USERS, count, p=uw)
    prods = rng.choice(NUM_PRODUCTS, count, p=pw)
    scores = rng.integers(1, 11, count) / 2.0
    return [f"bench INFO PRODUCT_RATING_PREFIX:{u}|{p}|{s:.1f}|{STREAM_TS0 + i}"
            for i, (u, p, s) in enumerate(zip(users, prods, scores))]


def documents(rng):
    n = NUM_DOCS
    lengths = rng.integers(DOC_WORDS[0], DOC_WORDS[1] + 1, n)
    texts = [" ".join(rng.choice(WORDS, int(k))) for k in lengths]
    # near duplicates: another document's text plus a marker word
    dups = rng.choice(n, int(n * NEAR_DUP_FRAC), replace=False)
    origs = rng.integers(0, n, len(dups))
    base = list(texts)
    for i, j in zip(dups, origs):
        texts[i] = f"{base[j]} {NEAR_DUP_MARK}"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{k % NUM_SOURCES}" for k in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts],
                                     dtype=np.int64)),
    })


def lineitem(rng):
    orders = NUM_ORDERS
    pmf = np.array(LINES_PER_ORDER, dtype=np.float64)
    lines = rng.choice(len(pmf), orders, p=pmf / pmf.sum()) + 1
    n = int(lines.sum())
    order = np.repeat(np.arange(1, orders + 1, dtype=np.int64), lines)
    starts = np.cumsum(lines) - lines
    lineno = (np.arange(n) - np.repeat(starts, lines) + 1).astype(np.int32)
    parts = rng.integers(0, NUM_PARTS, n)
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": pa.array(order),
        "l_partkey": pa.array(parts.astype(np.int64) + 1),
        "l_suppkey": pa.array(rng.integers(1, NUM_SUPPLIERS + 1, n).astype(np.int64)),
        "l_linenumber": pa.array(lineno),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(
            900.0, 2000.0, n), 2)),
    })


def generate(workload, seed, out_dir, stream_events=0):
    """Write `workload`'s inputs for `seed` into `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed % 2**64, sum(map(ord, workload))])
    if workload in ("refresh", "rescore_stream"):
        ev, uw, pw = events(rng)
        _write(ev, os.path.join(out_dir, "events.parquet"))
        if workload == "rescore_stream":
            with open(os.path.join(out_dir, "stream.txt"), "w") as f:
                f.write("\n".join(stream_lines(rng, uw, pw, stream_events)))
                f.write("\n")
    elif workload == "curate_graph":
        _write(documents(rng), os.path.join(out_dir, "documents.parquet"))
        _write(lineitem(rng), os.path.join(out_dir, "lineitem.parquet"))
    else:
        raise ValueError(f"unknown workload {workload}")
