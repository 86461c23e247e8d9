"""Seeded input generator for the pipeline benchmark.

Everything the program under test reads is made here from the seed: the
TPC-H-shaped tables, the document corpus, the stream files and the
pipeline YAML instances with their `${var}` values.  The same seed gives
byte-identical files (numpy's PCG64 streams + pyarrow's deterministic
parquet writer), and `manifest()` records their hash, rows and bytes.

Seed streams are kept apart by name (`rng(seed, "timed")` never shares
draws with `rng(seed, "warm")`), so warm-up instances differ from the
timed ones and the timed loop pays the analysis and codegen a new
run-date pays.

Run standalone to inspect what a seed produces:
    python3 perfbench/gen.py --workload etl_small --seed 1 --out .bench_run/gen-1
"""
import argparse
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
TEMPLATES = os.path.join(HERE, "templates")

STREAMS = {"data": 1, "warm": 2, "timed": 3, "traced": 4, "corpus": 5, "events": 6,
           "warm_corpus": 7, "warm_events": 8, "bulk": 9, "warm_data": 10, "warm_bulk": 11}

# sf0.1 row counts of the TPC-H-shaped star schema
N_ORDERS = 150_000
N_CUSTOMER = 15_000
N_PART = 20_000
N_SUPPLIER = 1_000
# corpus_dedup: corpus docs (+5% planted copies), new-batch docs, and
# the stream files (x docs) the gate drains; timed and warm-up sizes
DEDUP_TIMED = {"docs": 5_000, "batch": 400, "files": 10, "per_file": 25}
DEDUP_WARM = {"docs": 200, "batch": 20, "files": 1, "per_file": 10}
# etl_bulk: key-shifted, value-perturbed replicas of sf0.1 lineitem/orders
BULK_COPIES = 3
BULK_KEY_SHIFT = 10_000_000
# stream_sessions: event files x events per file; users; session gap
SESSION_TIMED = {"files": 8, "per_file": 6_000}
SESSION_WARM = {"files": 2, "per_file": 2_000}
SESSION_USERS = 2_000
SESSION_GAP_S = 1800

EPOCH_1995 = np.datetime64("1995-01-01", "D")
DAYS_SPAN = 2400  # order dates 1995-01-01 .. 2001-07

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
BRANDS = [f"Brand#{i}{j}" for i in range(1, 6) for j in range(1, 6)]
TYPES = [f"{a} {b}" for a in ("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO")
         for b in ("TIN", "NICKEL", "BRASS", "STEEL", "COPPER")]
# Shape of the sf0.1 `documents.parquet` test table (5,000 documents),
# measured on it: 10 to 100 words per document, drawn uniformly from
# these 30 words with equal frequency; 5% of the documents are
# near-duplicates, each a copy of another document with the token
# `dup` appended (shingle Jaccard 0.89 to 0.99 with its origin).
DOC_WORDS = (10, 100)
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
DUP_TOKEN = "dup"
DUP_SHARE = 0.05
SHINGLE = 3  # word n-gram length of the dedup actor's shingles
EVENT_TYPES = ["view", "click", "cart", "buy", "search"]


def rng(seed, stream):
    return np.random.default_rng([int(seed), STREAMS[stream]])


def _ts(days, seconds=None):
    """Day offsets (+ optional second offsets) from 1995-01-01 as UTC
    timestamps (microseconds)."""
    t = (EPOCH_1995 + days.astype("timedelta64[D]")).astype("datetime64[us]")
    if seconds is not None:
        t = t + seconds.astype("timedelta64[s]")
    return pa.array(t, type=pa.timestamp("us", tz="UTC"))


def _money(cents):
    return pa.array(cents / 100.0, type=pa.float64())


def write_parquet(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


# --------------------------------------------------------------------------
# TPC-H-shaped tables


def orders_lineitem(r):
    okey = np.arange(1, N_ORDERS + 1, dtype=np.int64)
    odays = r.integers(0, DAYS_SPAN, N_ORDERS)
    orders = {
        "o_orderkey": okey,
        "o_custkey": r.integers(1, N_CUSTOMER + 1, N_ORDERS, dtype=np.int64),
        "o_orderstatus": r.choice(np.array(["F", "O", "P"]), N_ORDERS),
        "o_orderdays": odays,
        "o_orderpriority": r.choice(np.array(PRIORITIES), N_ORDERS),
    }
    nlines = r.integers(1, 8, N_ORDERS)
    n = int(nlines.sum())
    lokey = np.repeat(okey, nlines)
    starts = np.repeat(np.cumsum(nlines) - nlines, nlines)
    lineno = (np.arange(n) - starts + 1).astype(np.int32)
    qty = r.integers(1, 51, n)
    unit_cents = r.integers(90_000, 210_000, n)
    line = {
        "l_orderkey": lokey,
        "l_partkey": r.integers(1, N_PART + 1, n, dtype=np.int64),
        "l_suppkey": r.integers(1, N_SUPPLIER + 1, n, dtype=np.int64),
        "l_linenumber": lineno,
        "l_quantity": qty,
        "l_price_cents": qty * unit_cents,
        "l_discount_pct": r.integers(0, 11, n),
        "l_tax_pct": r.integers(0, 9, n),
        "l_returnflag": r.choice(np.array(["A", "N", "R"]), n),
        "l_linestatus": r.choice(np.array(["F", "O"]), n),
        "l_shipdays": np.repeat(odays, nlines) + r.integers(1, 122, n),
    }
    # o_totalprice = sum of the order's line prices, as TPC-H defines it
    orders["o_total_cents"] = np.bincount(
        lokey - 1, weights=line["l_price_cents"], minlength=N_ORDERS).astype(np.int64)
    return orders, line


def orders_table(o):
    return pa.table({
        "o_orderkey": pa.array(o["o_orderkey"]),
        "o_custkey": pa.array(o["o_custkey"]),
        "o_orderstatus": pa.array(o["o_orderstatus"]),
        "o_totalprice": _money(o["o_total_cents"]),
        "o_orderdate": _ts(o["o_orderdays"]),
        "o_orderpriority": pa.array(o["o_orderpriority"]),
    })


def lineitem_table(l):
    return pa.table({
        "l_orderkey": pa.array(l["l_orderkey"]),
        "l_partkey": pa.array(l["l_partkey"]),
        "l_suppkey": pa.array(l["l_suppkey"]),
        "l_linenumber": pa.array(l["l_linenumber"]),
        "l_quantity": pa.array(l["l_quantity"].astype(np.float64)),
        "l_extendedprice": _money(l["l_price_cents"]),
        "l_discount": pa.array(l["l_discount_pct"] / 100.0),
        "l_tax": pa.array(l["l_tax_pct"] / 100.0),
        "l_returnflag": pa.array(l["l_returnflag"]),
        "l_linestatus": pa.array(l["l_linestatus"]),
        "l_shipdate": _ts(l["l_shipdays"]),
    })


def dimension_tables(r):
    nation_region = np.arange(25, dtype=np.int32) % 5
    return {
        "region": pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                            "r_name": pa.array(REGIONS)}),
        "nation": pa.table({"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                            "n_name": pa.array([f"NATION{i:02d}" for i in range(25)]),
                            "n_regionkey": pa.array(nation_region)}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(1, N_CUSTOMER + 1, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(1, N_CUSTOMER + 1)]),
            "c_nationkey": pa.array(r.integers(0, 25, N_CUSTOMER).astype(np.int32)),
            "c_acctbal": _money(r.integers(-99_999, 999_999, N_CUSTOMER)),
            "c_mktsegment": pa.array(r.choice(np.array(SEGMENTS), N_CUSTOMER)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(1, N_PART + 1, dtype=np.int64)),
            "p_name": pa.array([f"part {i}" for i in range(1, N_PART + 1)]),
            "p_brand": pa.array(r.choice(np.array(BRANDS), N_PART)),
            "p_type": pa.array(r.choice(np.array(TYPES), N_PART)),
            "p_size": pa.array(r.integers(1, 51, N_PART).astype(np.int32)),
            "p_retailprice": _money(r.integers(90_000, 210_000, N_PART)),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(1, N_SUPPLIER + 1, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(1, N_SUPPLIER + 1)]),
            "s_nationkey": pa.array(r.integers(0, 25, N_SUPPLIER).astype(np.int32)),
            "s_acctbal": _money(r.integers(-99_999, 999_999, N_SUPPLIER)),
        }),
    }


def write_star_schema(seed, d):
    r = rng(seed, "data")
    o, l = orders_lineitem(r)
    write_parquet(orders_table(o), f"{d}/orders.parquet")
    write_parquet(lineitem_table(l), f"{d}/lineitem.parquet")
    for name, t in dimension_tables(r).items():
        write_parquet(t, f"{d}/{name}.parquet")


def write_bulk_tables(r, rp, d, copies):
    """`copies` key-shifted replicas of the sf0.1 lineitem/orders drawn
    from `r`, with quantities and dates perturbed from `rp`; one parquet
    file per replica."""
    o, l = orders_lineitem(r)
    unit_cents = l["l_price_cents"] // l["l_quantity"]
    for c in range(copies):
        shift = c * BULK_KEY_SHIFT
        days = np.clip(o["o_orderdays"] + rp.integers(-30, 31, N_ORDERS), 0, None)
        qty = np.clip(l["l_quantity"] + rp.integers(-2, 3, len(unit_cents)), 1, 50)
        price = unit_cents * qty
        oc = dict(o, o_orderkey=o["o_orderkey"] + shift, o_orderdays=days,
                  o_total_cents=np.bincount(l["l_orderkey"] - 1, weights=price,
                                            minlength=N_ORDERS).astype(np.int64))
        lc = dict(l, l_orderkey=l["l_orderkey"] + shift, l_quantity=qty, l_price_cents=price,
                  l_shipdays=l["l_shipdays"] + (days - o["o_orderdays"])[l["l_orderkey"] - 1])
        write_parquet(orders_table(oc), f"{d}/orders/part-{c:03d}.parquet")
        write_parquet(lineitem_table(lc), f"{d}/lineitem/part-{c:03d}.parquet")


# --------------------------------------------------------------------------
# documents and near-duplicates


def random_docs(r, n):
    lens = r.integers(DOC_WORDS[0], DOC_WORDS[1] + 1, n)
    words = r.integers(0, len(VOCAB), int(lens.sum()))
    out, i = [], 0
    for k in lens:
        out.append(" ".join(VOCAB[w] for w in words[i:i + k]))
        i += k
    return out


def near_copy(text):
    """A near-duplicate as the sf0.1 documents table plants them: the
    origin with the token `dup` appended."""
    return text + " " + DUP_TOKEN


def jaccard(a, b):
    """Jaccard similarity of the word shingle sets of two texts."""
    def shingles(t):
        w = t.lower().split()
        return {" ".join(w[i:i + SHINGLE]) for i in range(max(1, len(w) - SHINGLE + 1))}
    x, y = shingles(a), shingles(b)
    return len(x & y) / len(x | y)


def docs_table(ids, texts, source):
    return pa.table({
        "doc_id": pa.array(np.asarray(ids, dtype=np.int64)),
        "text": pa.array(texts),
        "source": pa.array([source] * len(ids)),
    })


def write_corpus(r, d, size):
    """Corpus (documents + planted copies), a new batch, and the stream
    files the gate drains.  Returns the planted ground truth: copy id ->
    origin id for the copies planted in the corpus and in the batch, the
    streamed ids (every streamed document is a copy), and each copy's
    shingle Jaccard with the document it copies."""
    n_docs = size["docs"]
    n_fresh = size["batch"] // 2
    base = random_docs(r, n_docs + n_fresh)
    # only the planted copies may be near-duplicates of anything
    if len({t.lower() for t in base}) != len(base):
        raise ValueError("generated documents are not distinct")
    fresh = base[n_docs:]
    base = base[:n_docs]
    ids = list(range(n_docs))
    texts = list(base)
    corpus_copies, sim = {}, {}
    for k, o in enumerate(sorted(r.choice(n_docs, int(n_docs * DUP_SHARE), replace=False).tolist())):
        cid = 100_000 + k
        corpus_copies[cid] = o
        ids.append(cid)
        texts.append(near_copy(base[o]))
    write_parquet(docs_table(ids, texts, "corpus"), f"{d}/corpus.parquet")
    pool = dict(zip(ids, texts))

    bids = [200_000 + k for k in range(n_fresh)]
    btexts = list(fresh)
    batch_copies = {}
    for k, o in enumerate(r.choice(n_docs, size["batch"] - n_fresh, replace=False).tolist()):
        cid = 300_000 + k
        batch_copies[cid] = o
        bids.append(cid)
        btexts.append(near_copy(base[o]))
    write_parquet(docs_table(bids, btexts, "batch"), f"{d}/batch.parquet")
    pool.update(zip(bids, btexts))
    for c, o in {**corpus_copies, **batch_copies}.items():
        sim[c] = jaccard(pool[c], pool[o])

    streamed = []
    sources = list(pool)
    for f in range(size["files"]):
        sids, stexts = [], []
        for k, o in enumerate(r.choice(len(sources), size["per_file"], replace=False).tolist()):
            sid = 400_000 + f * 1_000 + k
            sids.append(sid)
            stexts.append(near_copy(pool[sources[o]]))
            sim[sid] = jaccard(stexts[-1], pool[sources[o]])
        streamed += sids
        write_parquet(docs_table(sids, stexts, "stream"), f"{d}/stream/docs-{f:03d}.parquet")
    return {"corpus_copies": corpus_copies, "batch_copies": batch_copies, "streamed": streamed,
            "jaccard": sim}


# --------------------------------------------------------------------------
# session events


def write_events(r, d, size):
    """size["files"] event files; files are time-ordered (file k+1 starts
    after file k ends), rows within a file are shuffled.  Users are
    Zipf-skewed."""
    users = pa.table({
        "user_id": pa.array(np.arange(1, SESSION_USERS + 1, dtype=np.int64)),
        "segment": pa.array(r.choice(np.array(SEGMENTS), SESSION_USERS)),
    })
    write_parquet(users, f"{d}/users.parquet")
    file_span_s = 6 * 3600
    t0 = 0
    eid = 0
    for f in range(size["files"]):
        n = size["per_file"]
        uid = np.minimum(r.zipf(1.3, n), SESSION_USERS).astype(np.int64)
        secs = np.sort(r.integers(0, file_span_s, n)) + t0
        perm = r.permutation(n)
        t = pa.table({
            "event_id": pa.array(np.arange(eid, eid + n, dtype=np.int64)[perm]),
            "user_id": pa.array(uid[perm]),
            "ts": _ts(np.zeros(n, dtype=np.int64), secs[perm]),
            "event_type": pa.array(r.choice(np.array(EVENT_TYPES), n)[perm]),
        })
        write_parquet(t, f"{d}/events/events-{f:03d}.parquet")
        t0 += file_span_s
        eid += n


# --------------------------------------------------------------------------
# pipeline instances


def _day(r, lo, hi):
    return str(EPOCH_1995 + int(r.integers(lo, hi)))


ETL_SMALL_VARS = {
    "flag_summary": lambda r: {"min_qty": int(r.integers(1, 30)),
                               "lookback_days": int(r.integers(60, 1500))},
    "segment_orders": lambda r: {"from_date": _day(r, 0, 1800),
                                 "window_days": int(r.integers(60, 400)),
                                 "min_total": int(r.integers(1_000, 200_000))},
    "brand_revenue": lambda r: {"size_lo": int(r.integers(1, 25)),
                                "size_span": int(r.integers(5, 25)),
                                "max_discount": round(int(r.integers(2, 11)) / 100, 2)},
    "nation_supply": lambda r: {"region": str(r.choice(REGIONS)),
                                "ship_year": int(r.integers(1996, 2001))},
    "priority_top": lambda r: {"status": str(r.choice(["F", "O", "P"])),
                               "top_k": int(r.integers(3, 20)),
                               "from_date": _day(r, 0, 2000)},
}


def instance_yaml(template, variables):
    """The template text plus a `variables:` block with the instance's
    values (pipeline variables take precedence over submit-time ones)."""
    with open(os.path.join(TEMPLATES, template + ".yaml")) as f:
        text = f.read().rstrip("\n")
    lines = [text, "variables:"]
    for k, v in sorted(variables.items()):
        lines.append(f'  {k}: "{v}"')
    return "\n".join(lines) + "\n"


def write_instance(path, template, variables):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(instance_yaml(template, variables))
    return {"yaml": path, "template": template, "vars": variables}


def etl_small_instances(seed, stream, n, data_dir, root):
    r = rng(seed, stream)
    names = sorted(ETL_SMALL_VARS)
    out = []
    for i in range(n):
        # every round of len(names) instances runs each template once, in
        # an order and with values drawn by seed
        if i % len(names) == 0:
            order = r.permutation(names)
        t = str(order[i % len(names)])
        v = ETL_SMALL_VARS[t](r)
        v.update(data_dir=data_dir, out_dir=f"{root}/out/{stream}-{i:04d}")
        out.append(write_instance(f"{root}/yaml/{stream}-{i:04d}.yaml", t, v))
    return out


# --------------------------------------------------------------------------
# per-workload entry point


def generate(workload, seed, root, warm_rounds, traced_rounds, timed_instances=200):
    """Write every input of `workload` for `seed` under `root` and return
    the plan the harness and the checks read: `warm_rounds` rounds of
    warm-up instances, the timed instances and `traced_rounds` rounds of
    traced ones, in rounds of `round_size` instances."""
    root = os.path.abspath(root)
    data = f"{root}/data"
    plan = {"workload": workload, "seed": seed, "root": root, "data_dir": data}
    if workload == "etl_small":
        write_star_schema(seed, data)
        plan["warm"] = etl_small_instances(seed, "warm", warm_rounds * len(ETL_SMALL_VARS), data, root)
        plan["timed"] = etl_small_instances(seed, "timed", timed_instances, data, root)
        plan["traced"] = etl_small_instances(seed, "traced", traced_rounds * len(ETL_SMALL_VARS), data, root)
        plan["round_size"] = len(ETL_SMALL_VARS)
        plan["inputs"] = manifest(data)
        return plan
    # the other workloads run one pipeline per round; `extra` draws its
    # variables from the phase's seed stream
    warm_data = f"{root}/warm-data"
    if workload == "etl_bulk":
        write_bulk_tables(rng(seed, "data"), rng(seed, "bulk"), data, BULK_COPIES)
        write_bulk_tables(rng(seed, "warm_data"), rng(seed, "warm_bulk"), warm_data, 1)
        template = "bulk_report"

        def extra(r):
            return {"ship_from": _day(r, 200, 400)}
    elif workload == "corpus_dedup":
        plan["truth"] = write_corpus(rng(seed, "corpus"), data, DEDUP_TIMED)
        plan["warm_truth"] = write_corpus(rng(seed, "warm_corpus"), warm_data, DEDUP_WARM)
        template = workload

        def extra(r):
            return {}
    elif workload == "stream_sessions":
        write_events(rng(seed, "events"), data, SESSION_TIMED)
        write_events(rng(seed, "warm_events"), warm_data, SESSION_WARM)
        template = workload

        def extra(r):
            return {"gap_seconds": SESSION_GAP_S}
    else:
        raise ValueError(f"unknown workload {workload}")
    for phase, n, d in (("warm", warm_rounds, warm_data), ("timed", timed_instances, data),
                        ("traced", traced_rounds, data)):
        r = rng(seed, phase)
        plan[phase] = [write_instance(f"{root}/yaml/{phase}-{i:04d}.yaml", template,
                                      dict(extra(r), data_dir=d, out_dir=f"{root}/out/{phase}-{i:04d}"))
                       for i in range(n)]
    plan["round_size"] = 1
    plan["inputs"] = manifest(data)
    return plan


def manifest(d):
    """sha256, rows and bytes of every generated data file, plus one
    digest over all of them."""
    files = []
    for base, _, names in sorted(os.walk(d)):
        for n in sorted(names):
            p = os.path.join(base, n)
            with open(p, "rb") as f:
                h = hashlib.sha256(f.read()).hexdigest()
            files.append({"path": os.path.relpath(p, d), "sha256": h,
                          "rows": pq.ParquetFile(p).metadata.num_rows,
                          "bytes": os.path.getsize(p)})
    files.sort(key=lambda x: x["path"])
    total = hashlib.sha256("".join(f["path"] + f["sha256"] for f in files).encode()).hexdigest()
    return {"sha256": total, "rows": sum(f["rows"] for f in files),
            "bytes": sum(f["bytes"] for f in files), "files": files}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    plan = generate(a.workload, a.seed, a.out, warm_rounds=1, traced_rounds=1)
    print(json.dumps({k: plan[k] for k in ("workload", "seed")} | {
        "inputs": {k: plan["inputs"][k] for k in ("sha256", "rows", "bytes")}}))


if __name__ == "__main__":
    main()
