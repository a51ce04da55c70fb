"""Generate a local scale-step dataset matching the driver testdata's
schemas and distributions (TESTDATA.md tables), at an arbitrary scale
factor — used for the sf1 scale certification (PLANS.md).

The driver's `/root/testdata/sf*` dirs are read-only and top out at
sf0.1; every 100-TB plan claim was extrapolating from there. This
generator reproduces the same shapes (verified against sf0.1 by
row-count ratios, key ranges, value ranges, category sets, dup rates,
unit-norm embeddings, ts-sorted events) so headline plans can be
re-audited one decade up. Deterministic: numpy PCG64 seed 42.

Usage:
    python tools/gen_sf.py [--sf 1.0] [--out .localdata/sf1]

Row counts scale linearly from sf0.1 (region/nation fixed; embeddings
follow the driver's ~4x-per-decade step).
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.5, 0.125, 0.125, 0.125, 0.125]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "HOUSEHOLD", "BUILDING", "FURNITURE", "AUTOMOBILE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJS = ["large", "hot", "blue", "small", "old", "cold", "new", "red"]
NOUNS = ["ring", "bolt", "gear", "widget", "anvil", "cog", "pin", "nut"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

DAY_US = 86_400_000_000


def _ts_us(rng, n, start_day, end_day):
    """Sorted int64 microsecond timestamps uniform over [start, end)."""
    lo = np.datetime64(start_day).astype("datetime64[us]").astype(np.int64)
    hi = np.datetime64(end_day).astype("datetime64[us]").astype(np.int64)
    return np.sort(rng.integers(lo, hi, n))


def _date_us(rng, n, start_day, end_day):
    """Unsorted day-granularity timestamps (TPC-H dates)."""
    lo = np.datetime64(start_day).astype("datetime64[D]").astype(np.int64)
    hi = np.datetime64(end_day).astype("datetime64[D]").astype(np.int64)
    return rng.integers(lo, hi, n).astype(np.int64) * DAY_US


ROWS_PER_FILE = 250_000


def _write(out, name, table):
    """Write the table as a `<name>.parquet` parquet DIRECTORY of part
    files (~250k rows each). A 100-TB table is thousands of files, never
    one — a single-file table caps the scan at ceil(bytes/128MB) tasks
    and makes every downstream ratio look artificially superlinear.
    Spark reads the directory transparently; DuckDB needs the glob
    `'<name>.parquet/*.parquet'`."""
    path = os.path.join(out, f"{name}.parquet")
    n = table.num_rows
    if n <= ROWS_PER_FILE:
        pq.write_table(table, path, row_group_size=ROWS_PER_FILE)
        print(f"  {name}: {n:,} rows -> {path} (1 file)")
        return
    os.makedirs(path, exist_ok=True)
    parts = (n + ROWS_PER_FILE - 1) // ROWS_PER_FILE
    for i in range(parts):
        pq.write_table(
            table.slice(i * ROWS_PER_FILE, ROWS_PER_FILE),
            os.path.join(path, f"part-{i:04d}.parquet"),
            row_group_size=ROWS_PER_FILE)
    print(f"  {name}: {n:,} rows -> {path} ({parts} files)")


def _ts_col(arr):
    return pa.array(arr, type=pa.timestamp("us"))


ZIPF_VOCAB = 50_000
ZIPF_S = 1.1


def _zipf_sampler(rng):
    """Token sampler with rank-frequency ~ 1/rank^1.1 over a 50k vocab —
    the natural-language word-frequency model (Zipf 1949; the parameters
    of PLANS.md §"Zipf df measurement"). The sf tables' 31-word uniform
    vocab under-represents hot-term skew: document frequency of stop-word-like
    tokens grows ∝ corpus size on real text, which is what stresses
    inverted-index ops (bm25/pmi/winnowing/jaccard). Vectorized inverse-
    CDF sampling (searchsorted over the cumulative), not rng.choice(p=)
    which is O(vocab) per draw."""
    ranks = np.arange(1, ZIPF_VOCAB + 1, dtype=np.float64)
    p = ranks ** -ZIPF_S
    p /= p.sum()
    cum = np.cumsum(p)
    words = np.array([f"w{i}" for i in range(ZIPF_VOCAB)])

    def sample(k: int) -> np.ndarray:
        return words[np.searchsorted(cum, rng.random(k))]

    return sample


def generate(sf: float, out: str, seed: int = 42, zipf: bool = False):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    k = sf / 0.1  # multiplier vs the driver's sf0.1 shape

    n_cust = int(15_000 * k)
    n_supp = int(1_000 * k)
    n_part = int(20_000 * k)
    n_ord = int(150_000 * k)
    n_ev = int(100_000 * k)
    n_users = int(1_500 * k)
    n_docs = int(5_000 * k)
    # driver steps embeddings ~4x per decade (500 -> 2000)
    n_emb = int(2_000 * (4 ** np.log10(max(k, 1e-9))))

    _write(out, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    }))
    _write(out, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))

    _write(out, "customer", pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-1000, 10_000, n_cust), 2),
        "c_mktsegment": pa.array(
            np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
    }))

    _write(out, "supplier", pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-1000, 10_000, n_supp), 2),
    }))

    pk = np.arange(n_part, dtype=np.int64)
    _write(out, "part", pa.table({
        "p_partkey": pk,
        "p_name": pa.array(
            [f"{ADJS[i % 8]} {NOUNS[(i // 8) % 8]}" for i in range(n_part)]),
        "p_brand": pa.array([f"Brand#{(i % 25) + 1}" for i in range(n_part)]),
        "p_type": pa.array(np.array(PTYPES)[rng.integers(0, 6, n_part)]),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    }))

    _write(out, "orders", pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": pa.array(
            np.array(["O", "P", "F"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _ts_col(_date_us(rng, n_ord, "1995-01-01", "2001-08-02")),
        "o_orderpriority": pa.array(
            np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
    }))

    # lineitem: ~4 lines/order (poisson(3)+1 matches the driver's 1..17
    # per-order histogram), independent ship dates (verified: sf0.1
    # shipdate is NOT correlated with orderdate)
    lines = rng.poisson(3.0, n_ord) + 1
    n_li = int(lines.sum())
    l_orderkey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    l_linenumber = (np.arange(n_li) -
                    np.repeat(np.cumsum(lines) - lines, lines) + 1)
    rf = np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]
    _write(out, "lineitem", pa.table({
        "l_orderkey": l_orderkey,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": l_linenumber.astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": pa.array(rf),
        "l_linestatus": pa.array(
            np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": _ts_col(_date_us(rng, n_li, "1995-01-02", "2001-11-05")),
    }))

    _write(out, "events", pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts_col(_ts_us(rng, n_ev, "2024-01-01", "2024-01-31")),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": pa.array(
            np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {v}}}'
                           for v in rng.integers(0, 100, n_ev)]),
    }))

    # documents: vocab text, ~4% near-dups (1-3 word edits of an earlier
    # doc) + ~0.2% exact dups — the dup structure the dedup operators need.
    # --zipf swaps the 31-word uniform vocab for the Zipfian sampler
    # (same length/dup structure) so text-op walks see natural hot-term
    # document-frequency skew.
    vocab = np.array(VOCAB)
    if zipf:
        zsample = _zipf_sampler(rng)
        fresh_words = zsample
        def edit_word():
            return str(zsample(1)[0])
    else:
        def fresh_words(k):
            return vocab[rng.integers(0, len(vocab), k)]
        def edit_word():
            return vocab[int(rng.integers(0, len(vocab)))]
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.002:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 10 and r < 0.04:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = edit_word()
            texts.append(" ".join(words))
            continue
        n_words = int(rng.integers(9, 116))
        texts.append(" ".join(fresh_words(n_words)))
    _write(out, "documents", pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P)),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_docs)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }))

    # embeddings: 10 unit-norm clusters, unit-norm vectors (dim 64)
    centers = rng.standard_normal((10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_emb).astype(np.int32)
    vecs = centers[labels] + 0.6 * rng.standard_normal((n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    _write(out, "embeddings", pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.reshape(-1), pa.float32()), 64).cast(
                pa.list_(pa.float32())),
        "label": labels,
    }))


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", type=float, default=1.0)
    ap.add_argument("--out", default=None)
    ap.add_argument("--zipf", action="store_true",
                    help="Zipfian (natural-statistics) document text")
    a = ap.parse_args()
    out = a.out or os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".localdata", f"sf{a.sf:g}" + ("z" if a.zipf else ""))
    print(f"generating sf={a.sf}{' (zipf text)' if a.zipf else ''} -> {out}")
    generate(a.sf, out, zipf=a.zipf)
