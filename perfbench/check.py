"""Output checks of the pipeline benchmark, run after the timed phase.

DuckDB recomputes every `etl_small`, `etl_bulk` and `stream_sessions`
result from the generated input files, and each side is reduced to an
order-insensitive row hash: the row count and the sum of per-row hashes
over the columns rendered as text.  `corpus_dedup` is checked against
the ground truth the generator planted, allowing for the errors its
MinHash LSH makes by design: near-duplicate pairs it misses and unrelated
pairs it links by chance.

Each output is one check; `check_instance` returns a list of
(name, ok, detail).
"""
import functools
import glob
import itertools
import math

import duckdb

# DuckDB reference queries, one per template output; `{...}` are the
# instance's pipeline variables.
ETL_SMALL_REF = {
    "flag_summary": """
        SELECT l_returnflag, l_linestatus, count(*) AS n_lines,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM lineitem
        WHERE l_quantity > {min_qty}
          AND CAST(l_shipdate AS DATE) >=
              (SELECT CAST(max(l_shipdate) AS DATE) FROM lineitem) - {lookback_days}
        GROUP BY l_returnflag, l_linestatus""",
    "segment_orders": """
        SELECT c.c_mktsegment, CAST(strftime(CAST(o.o_orderdate AS DATE), '%Y%m') AS BIGINT) AS month,
               count(*) AS n_orders,
               CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE CAST(o.o_orderdate AS DATE) >= DATE '{from_date}'
          AND CAST(o.o_orderdate AS DATE) < DATE '{from_date}' + {window_days}
          AND o.o_totalprice >= {min_total}
        GROUP BY 1, 2""",
    "brand_revenue": """
        WITH a AS (SELECT sum(CAST(round(p_retailprice * 100) AS BIGINT)) // count(*) AS avg_cents
                   FROM part WHERE p_size BETWEEN {size_lo} AND {size_lo} + {size_span})
        SELECT p.p_brand, count(*) AS n_lines,
               CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey, a
        WHERE p.p_size BETWEEN {size_lo} AND {size_lo} + {size_span}
          AND CAST(round(p.p_retailprice * 100) AS BIGINT) >= a.avg_cents
          AND l.l_discount <= {max_discount}
        GROUP BY p.p_brand""",
    "nation_supply": """
        SELECT n.n_name, count(*) AS n_lines,
               CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
               CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS net
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = '{region}' AND year(l.l_shipdate) = {ship_year}
        GROUP BY n.n_name""",
    "priority_top": """
        SELECT * FROM (
          SELECT o_orderpriority, o_orderkey, o_totalprice,
                 rank() OVER (PARTITION BY o_orderpriority
                              ORDER BY o_totalprice DESC, o_orderkey) AS rk
          FROM orders
          WHERE o_orderstatus = '{status}' AND CAST(o_orderdate AS DATE) >= DATE '{from_date}')
        WHERE rk <= {top_k}""",
}
ETL_SMALL_COLS = {
    "flag_summary": ["l_returnflag", "l_linestatus", "n_lines", "qty", "revenue"],
    "segment_orders": ["c_mktsegment", "month", "n_orders", "total"],
    "brand_revenue": ["p_brand", "n_lines", "revenue"],
    "nation_supply": ["n_name", "n_lines", "qty", "net"],
    "priority_top": ["o_orderpriority", "o_orderkey", "o_totalprice", "rk"],
}

BULK_JOINED = """
    SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
           CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2))) AS net,
           o.o_custkey, o.o_orderpriority, year(o.o_orderdate) AS o_year
    FROM read_parquet('{data_dir}/lineitem/*.parquet') l
    JOIN read_parquet('{data_dir}/orders/*.parquet') o ON l.l_orderkey = o.o_orderkey
    WHERE CAST(l.l_shipdate AS DATE) >= DATE '{ship_from}'"""
BULK_REF = {
    "yearly": ("""
        WITH joined AS ({joined})
        SELECT o_year, o_orderpriority, l_returnflag, n_lines, revenue,
               rank() OVER (PARTITION BY o_year
                            ORDER BY revenue DESC, o_orderpriority, l_returnflag) AS rk
        FROM (SELECT o_year, o_orderpriority, l_returnflag, count(*) AS n_lines,
                     CAST(sum(net) AS DOUBLE) AS revenue
              FROM joined GROUP BY 1, 2, 3)""",
               ["o_year", "o_orderpriority", "l_returnflag", "n_lines", "revenue", "rk"]),
    "lines": ("""
        WITH joined AS ({joined})
        SELECT l_orderkey, l_linenumber, o_custkey, o_orderpriority, CAST(net AS DOUBLE) AS net,
               rank() OVER (PARTITION BY l_orderkey ORDER BY net DESC, l_linenumber) AS line_rank,
               CAST(sum(net) OVER (PARTITION BY l_orderkey) AS DOUBLE) AS order_net
        FROM joined""",
              ["l_orderkey", "l_linenumber", "o_custkey", "o_orderpriority", "net",
               "line_rank", "order_net"]),
}

# Gap sessions per user, as SessionizeProcessor defines them: a new session
# starts when an event is more than the gap after the previous one.
SESSIONS_REF = """
    WITH e AS (SELECT user_id, epoch_us(ts) AS us
               FROM read_parquet('{data_dir}/events/*.parquet')),
    b AS (SELECT user_id, us,
                 CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
                           > {gap_seconds} * 1000000 THEN 1 ELSE 0 END AS brk
          FROM e),
    g AS (SELECT user_id, us,
                 sum(brk) OVER (PARTITION BY user_id ORDER BY us
                                ROWS UNBOUNDED PRECEDING) AS sid
          FROM b)
    SELECT g.user_id, min(us) // 1000000 AS session_start, count(*) AS cnt, u.segment
    FROM g JOIN read_parquet('{data_dir}/users.parquet') u ON g.user_id = u.user_id
    GROUP BY g.user_id, sid, u.segment"""
# The sink appends every emission; an open session is re-emitted when a
# later micro-batch extends it.  Input files are time-ordered, so a
# session's start never moves and its last emission is the one with the
# largest count.
SESSIONS_GOT = """
    SELECT user_id, session_start, max(cnt) AS cnt, any_value(segment) AS segment
    FROM read_parquet('{out_dir}/sessions/*.parquet')
    GROUP BY user_id, session_start"""
SESSIONS_COLS = ["user_id", "session_start", "cnt", "segment"]


def connect(plan):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    if plan["workload"] == "etl_small":
        for t in ("lineitem", "orders", "customer", "part", "supplier", "nation", "region"):
            con.execute(f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{plan['data_dir']}/{t}.parquet')")
    return con


def row_hash(con, sql, cols):
    """(row count, sum of per-row hashes) of a query's rows."""
    h = "hash(" + ", ".join(f"CAST({c} AS VARCHAR)" for c in cols) + ")"
    return con.execute(f"SELECT count(*), sum(CAST({h} AS HUGEINT)) FROM ({sql})").fetchone()


def parquet_rows(path, partitioned):
    """SQL over a parquet output directory, None when nothing was written."""
    if not glob.glob(f"{path}/**/*.parquet", recursive=True):
        return None
    hive = ", hive_partitioning = true" if partitioned else ""
    return f"SELECT * FROM read_parquet('{path}/**/*.parquet'{hive})"


def compare(con, name, got_sql, want_sql, cols):
    if got_sql is None:
        return (name, False, "no output written")
    try:
        got = row_hash(con, got_sql, cols)
        want = row_hash(con, want_sql, cols)
    except Exception as e:  # missing or unreadable output
        return (name, False, f"{type(e).__name__}: {str(e)[:300]}")
    if want[0] == 0:
        return (name, False, "reference is empty, the check would pass vacuously")
    ok = got == want
    return (name, ok, "" if ok else f"rows/hash got {got} want {want}")


def check_instance(con, plan, inst, truth):
    v = inst["vars"]
    w = plan["workload"]
    if w == "etl_small":
        t = inst["template"]
        return [compare(con, t, parquet_rows(f"{v['out_dir']}/result", t == "segment_orders"),
                        ETL_SMALL_REF[t].format(**v), ETL_SMALL_COLS[t])]
    if w == "etl_bulk":
        joined = BULK_JOINED.format(**v)
        return [compare(con, name, parquet_rows(f"{v['out_dir']}/{name}", True),
                        sql.format(joined=joined), cols)
                for name, (sql, cols) in BULK_REF.items()]
    if w == "stream_sessions":
        got = SESSIONS_GOT.format(**v) if parquet_rows(f"{v['out_dir']}/sessions", False) else None
        return [compare(con, "sessions", got, SESSIONS_REF.format(**v), SESSIONS_COLS)]
    if w == "corpus_dedup":
        return dedup_checks(con, v["data_dir"], v["out_dir"], truth)
    raise ValueError(w)


# The dedup actor's LSH defaults, which templates/corpus_dedup.yaml keeps:
# 8 MinHash values of word 3-gram shingles, in 4 bands of 2; a candidate
# pair is kept when at least half of the 8 values agree.
LSH_HASHES, LSH_BANDS, LSH_MIN_EST = 8, 4, 0.5
# A correct LSH misses a near-duplicate pair now and then, and links two
# unrelated documents that share shingles now and then; a check allows as
# many of either as it would exceed with this probability only.
ERROR_TAIL = 1e-6

# Shingle Jaccard (to 3 places) of every pair of documents that share a
# shingle, as counts per value; the planted copies are left out, since a
# copy's chance pairs are its origin's.
SHARED_SHINGLES = """
    WITH d AS (SELECT doc_id AS id, string_split(lower(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS w
               FROM read_parquet({files})
               WHERE doc_id NOT IN (SELECT unnest({copies}))),
    s AS (SELECT DISTINCT id, w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS sh
          FROM (SELECT id, w, unnest(range(1, len(w) - 1)) AS i FROM d)),
    n AS (SELECT id, count(*) AS n FROM s GROUP BY id),
    p AS (SELECT a.id AS a, b.id AS b, count(*) AS shared
          FROM s a JOIN s b ON a.sh = b.sh AND a.id < b.id GROUP BY 1, 2)
    SELECT round(shared / (na.n + nb.n - shared), 3) AS j, count(*)
    FROM p JOIN n na ON p.a = na.id JOIN n nb ON p.b = nb.id
    GROUP BY 1"""


@functools.lru_cache(maxsize=None)
def lsh_found(j):
    """Probability that the LSH pairs two documents whose shingle sets
    have Jaccard similarity `j` (each MinHash value agrees with
    probability `j`)."""
    rows = LSH_HASHES // LSH_BANDS
    p = 0.0
    for agree in itertools.product((False, True), repeat=LSH_HASHES):
        if sum(agree) >= LSH_MIN_EST * LSH_HASHES and any(
                all(agree[b * rows:(b + 1) * rows]) for b in range(LSH_BANDS)):
            p += math.prod(j if a else 1 - j for a in agree)
    return p


def error_bound(expected):
    """Most errors of a kind a correct LSH makes, except with probability
    ERROR_TAIL, when it makes `expected` of them on average: a Poisson
    tail, which bounds the tail of a sum of independent errors."""
    k, term = 0, math.exp(-expected)
    below = term
    while 1 - below > ERROR_TAIL:
        k += 1
        term *= expected / k
        below += term
    return k


def allowed_misses(similarities):
    return error_bound(sum(1 - lsh_found(round(j, 6)) for j in similarities))


_chance = {}


def allowed_chance_links(con, files, copies):
    key = (tuple(files), tuple(sorted(copies)))
    if key not in _chance:
        rows = con.execute(SHARED_SHINGLES.format(files=list(files), copies=sorted(copies))).fetchall()
        _chance[key] = error_bound(sum(n * lsh_found(float(j)) for j, n in rows))
    return _chance[key]


def dedup_checks(con, data_dir, out_dir, truth):
    """The planted ground truth.  In both resolutions every id is labelled
    once, no more planted copies are apart from their origin than
    `allowed_misses`, and no more chance links (labelled ids that are
    neither a planted copy nor its origin, and clusters that join two
    origins) than `allowed_chance_links`.  The gate weights every
    streamed document once and down-weights all but `allowed_misses` of
    them."""
    # JSON object keys are strings
    sim = {int(k): j for k, j in truth["jaccard"].items()}
    corpus = {int(k): o for k, o in truth["corpus_copies"].items()}
    both = {**corpus, **{int(k): o for k, o in truth["batch_copies"].items()}}
    out = []
    for name, planted, inputs in (("resolution", corpus, ["corpus"]),
                                  ("resolution_v2", both, ["corpus", "batch"])):
        try:
            rows = con.execute(f"SELECT id, keep_id FROM read_parquet('{out_dir}/{name}/*.parquet')").fetchall()
        except Exception as e:
            out.append((name, False, f"{type(e).__name__}: {str(e)[:300]}"))
            continue
        keep = dict(rows)
        dup = len(rows) - len(keep)
        origin = {o: o for o in planted.values()} | planted
        stray = [i for i in keep if i not in origin]
        clusters = {}
        for i, k in keep.items():
            if i in origin:
                clusters.setdefault(k, set()).add(origin[i])
        merged = sum(len(os) - 1 for os in clusters.values())
        # a chance link labels at most two stray ids, or joins two clusters
        links = (len(stray) + 1) // 2 + merged
        chance = allowed_chance_links(con, [f"{data_dir}/{x}.parquet" for x in inputs], planted)
        missed = [c for c, o in planted.items() if c not in keep or keep[c] != keep.get(o)]
        allowed = allowed_misses(sim[c] for c in planted)
        ok = dup == 0 and links <= chance and len(missed) <= allowed
        out.append((name, ok, "" if ok else
                    f"{dup} ids labelled more than once; {len(stray)} unplanted ids labelled "
                    f"(e.g. {stray[:5]}) and {merged} origins joined to another, at least {links} "
                    f"chance links (at most {chance} allowed); {len(missed)} planted copies apart "
                    f"from their origin (at most {allowed} allowed, e.g. {missed[:5]})"))
    streamed = truth["streamed"]
    try:
        rows = con.execute(
            f"SELECT doc_id, weight_u FROM read_parquet('{out_dir}/gate_weights/*.parquet')").fetchall()
    except Exception as e:
        return out + [("gate_weights", False, f"{type(e).__name__}: {str(e)[:300]}")]
    w = dict(rows)
    missing = [d for d in streamed if d not in w]
    heavy = [d for d in streamed if w.get(d, 0) >= 1_000_000]
    allowed = allowed_misses(sim[d] for d in streamed)
    ok = len(rows) == len(streamed) == len(w) and not missing and len(heavy) <= allowed
    return out + [("gate_weights", ok, "" if ok else
                   f"{len(rows)} weights for {len(streamed)} streamed docs, {len(missing)} missing, "
                   f"{len(heavy)} streamed copies not down-weighted (at most {allowed} allowed)")]
