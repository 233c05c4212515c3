"""Seeded inputs and op logs for the graft benchmark workloads.

Everything a workload feeds to graft comes from here: lineitem-shaped
row batches over disjoint key ranges, MERGE sources, the document and
embedding subsets of the operator pipeline, and the op log (op order
and query parameters). The same seed gives byte-identical files and an
identical op log; `tests/test_gen.py` checks that.

Op-log entries are JSON objects with a `kind`, the parameters the JVM
driver (`jvm/src/main/scala/graftbench/Workloads.scala`) turns into SQL,
and the `cycle` they belong to. The op log is a run of whole cycles, and
a timed window ends only on a cycle boundary, so every window holds the
same mix of ops whatever the seed.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("wh_ingest", "wh_query", "rest_mixed", "llm_pipeline")

# Ship dates span 1992-01 .. 1998-12 as in TPC-H lineitem: 84 monthly
# partitions, so an unclustered batch writes ~84 files per commit.
MONTHS = 84
FIRST_DAY = np.datetime64("1992-01-01", "D")
DAYS = int((np.datetime64("1998-12-31", "D") - FIRST_DAY).astype(int)) + 1

LINEITEM = pa.schema([
    ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
    ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
    ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
    ("l_discount", pa.float64()), ("l_tax", pa.float64()),
    ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
    ("l_shipdate", pa.timestamp("us", tz="UTC")),
])
SUPPLIERS = 1000

# Sizes; README.md explains them against the probe's sizing facts.
BATCH_ROWS = 2000
BATCH_MONTHS = 12
MERGE_MATCHED = 150
MERGE_NEW = 50
WH_INGEST_BASE = 8000
REST_BASE = 4000
WH_QUERY_BULK = 40000
WH_QUERY_SMALL_COMMITS = 10
WH_QUERY_SMALL_ROWS = 200
DOCS_PER_SUBSET = 100
VECS_PER_SUBSET = 300
WARM_DOCS = 120
WARM_VECS = 100
LLM_SUBSETS = 2
PIPELINE_KEYS = ("dd_minhash_dedup", "dd_ngram_jaccard", "dd_semantic",
                 "ann_ivf_topk", "ta_bm25", "pipeline_decontaminate")

# Id ranges: base rows, then INSERT batches, then MERGE-only new keys,
# so no two sources ever produce the same (l_orderkey, l_linenumber).
BATCH_ID0 = 1_000_000
MERGE_ID0 = 500_000_000

VOCAB = ("key agg row scan slow fast table value part hash merge batch "
         "spark a the line sort window order data column join small "
         "customer query filter group big stream vector").split()
LANGS = ("en", "es", "zh", "de", "fr")


def cycle_count(workload, seconds, cycle_len):
    """Whole cycles in the op log: more ops than the fastest run can
    finish."""
    per_second = 40 if workload == "wh_query" else 12
    return -(-(40 + per_second * seconds) // cycle_len)


def lineitem(rng, ids, months=None):
    """Lineitem-shaped rows for row ids; (orderkey, linenumber) is a
    bijection of the id. Ship dates fall in `months` ([first, end) month
    indexes) or anywhere. Every double is exact in cents, so sums over
    l_quantity and rounded cents are order-independent."""
    n = len(ids)
    lo, hi = (0, DAYS) if months is None else (
        month_day(months[0]), month_day(months[1]))
    days = rng.integers(lo, hi, n)
    return pa.table({
        "l_orderkey": ids // 4 + 1,
        "l_partkey": rng.integers(1, 20001, n),
        "l_suppkey": rng.integers(1, SUPPLIERS + 1, n),
        "l_linenumber": (ids % 4 + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": rng.integers(90_000, 10_500_000, n) / 100.0,
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
        "l_linestatus": rng.choice(np.array(["F", "O"]), n),
        "l_shipdate": (FIRST_DAY + days).astype("datetime64[us]"),
    }, schema=LINEITEM)


def month_day(m):
    """Day offset of the first day of month index m (0 = 1992-01)."""
    d = np.datetime64(f"{1992 + m // 12}-{m % 12 + 1:02d}-01", "D")
    return int((d - FIRST_DAY).astype(int))


def tagged(table, name, value):
    return table.append_column(name, pa.array(np.full(table.num_rows, value, np.int32)))


def write(table, path, row_group_size=None):
    pq.write_table(table, path, row_group_size=row_group_size,
                   compression="snappy")


def month_range(rng, width):
    m0 = int(rng.integers(0, MONTHS - width + 1))
    return [m0, m0 + width]


def cycles(rng, pattern, n):
    """n cycles, each the entries of `pattern` in a seeded order: the mix
    is fixed, only the order depends on the seed."""
    return [[pattern[i] for i in rng.permutation(len(pattern))] for _ in range(n)]


def write_batches(rng, path, windows):
    """One 2k-row batch per month window: new data for the window, as an
    ingest of recent records is (~12 files per commit on a months()
    table)."""
    parts = [tagged(lineitem(rng, np.arange(BATCH_ID0 + b * BATCH_ROWS,
                                            BATCH_ID0 + (b + 1) * BATCH_ROWS), w),
                    "b", b) for b, w in enumerate(windows)]
    # one row group per batch: an INSERT of batch b reads only its group
    write(pa.concat_tables(parts) if parts else
          tagged(lineitem(rng, np.arange(0)), "b", 0), path, BATCH_ROWS)


def write_merges(rng, path, windows, base):
    """MERGE sources, one per month window: 150 rows of the base table in
    the window and 50 new rows, as an upsert of recent records is."""
    ship = base["l_shipdate"].to_numpy().astype("datetime64[M]").astype(int)
    month = ship - (1992 - 1970) * 12
    parts = []
    for m, window in enumerate(windows):
        pool = np.nonzero((month >= window[0]) & (month < window[1]))[0]
        old = rng.choice(pool, MERGE_MATCHED, replace=False)
        new = MERGE_ID0 + m * MERGE_NEW + np.arange(MERGE_NEW)
        parts.append(tagged(lineitem(rng, np.concatenate([old, new]), window), "m", m))
    rows = MERGE_MATCHED + MERGE_NEW
    write(pa.concat_tables(parts) if parts else
          tagged(lineitem(rng, np.arange(0)), "m", 0), path, rows)


def table_ops(rng, workload, seconds, pattern, tail):
    """Op log for the table workloads: cycles of the kinds in `pattern`
    in a seeded order, each closed by the kinds in `tail` in a fixed
    order (maintenance: periodic, not shuffled, so every cycle meets the
    table in the same state). Each cycle works on one seeded 12-month
    window of recent data: its inserts, DELETE, MERGE and range reads all
    fall in it, so every cycle does the same amount of work whatever the
    seed. Returns the ops and the month window of each insert batch and
    each MERGE source, in order."""
    ops, batches, merges = [], [], []
    n = cycle_count(workload, seconds, len(pattern) + len(tail))
    for c, kinds in enumerate(cycles(rng, pattern, n)):
        window = month_range(rng, BATCH_MONTHS)
        for k in kinds + list(tail):
            op = {"kind": k, "cycle": c}
            if k == "insert":
                op["batch"] = len(batches)
                batches.append(window)
            elif k == "merge":
                op["source"] = len(merges)
                merges.append(window)
            elif k == "delete":
                op.update(months=window, mod=97, rem=int(rng.integers(0, 97)))
            elif k == "range":
                m0 = window[0] + int(rng.integers(0, BATCH_MONTHS - 2))
                op["months"] = [m0, m0 + 3]
            ops.append(op)
    return ops, batches, merges


def read_op(rng, kind):
    """wh_query's reads, over the whole table."""
    if kind in ("range", "join"):
        return {"kind": kind, "months": month_range(rng, 3)}
    if kind == "point":
        return {"kind": kind, "orderkey": int(rng.integers(1, WH_QUERY_BULK // 4 + 1))}
    if kind == "asof":
        return {"kind": kind, "commit": int(rng.integers(0, WH_QUERY_SMALL_COMMITS + 1))}
    return {"kind": kind}  # agg, files, snapshots


def gen_wh_ingest(rng, out, seconds):
    base = lineitem(rng, np.arange(WH_INGEST_BASE))
    write(base, f"{out}/base.parquet")
    # README.md ("Op mix") derives the mix and the cadence
    ops, batches, merges = table_ops(rng, "wh_ingest", seconds,
                                     ["insert"] * 6 + ["delete", "merge"],
                                     ("rewrite_data_files", "expire_snapshots"))
    write_batches(rng, f"{out}/batches.parquet", batches)
    write_merges(rng, f"{out}/merges.parquet", merges, base)
    return ops


def gen_rest_mixed(rng, out, seconds):
    base = lineitem(rng, np.arange(REST_BASE))
    write(base, f"{out}/base.parquet")
    # the full-table read comes last in the cycle, so it always meets the
    # cycle's merge-on-read delete files, before maintenance folds them
    ops, batches, merges = table_ops(
        rng, "rest_mixed", seconds, ["insert", "insert", "delete", "merge", "range"],
        ("agg", "rewrite_data_files", "expire_snapshots", "rewrite_manifests"))
    write_batches(rng, f"{out}/batches.parquet", batches)
    write_merges(rng, f"{out}/merges.parquet", merges, base)
    return ops


def gen_wh_query(rng, out, seconds):
    write(lineitem(rng, np.arange(WH_QUERY_BULK)), f"{out}/base.parquet")
    # small commits: one month each, so each adds one file and a snapshot
    parts = []
    for c in range(WH_QUERY_SMALL_COMMITS):
        t = lineitem(rng, np.arange(BATCH_ID0 + c * WH_QUERY_SMALL_ROWS,
                                    BATCH_ID0 + (c + 1) * WH_QUERY_SMALL_ROWS))
        day = FIRST_DAY + int(rng.integers(0, DAYS - 28))
        t = t.set_column(t.schema.get_field_index("l_shipdate"), "l_shipdate",
                         pa.array(np.full(t.num_rows, day).astype("datetime64[us]"),
                                  pa.timestamp("us", tz="UTC")))
        parts.append(tagged(t, "b", c))
    write(pa.concat_tables(parts), f"{out}/batches.parquet", WH_QUERY_SMALL_ROWS)
    supp = pa.table({"s_suppkey": np.arange(1, SUPPLIERS + 1, dtype=np.int64),
                     "s_nation": rng.integers(0, 25, SUPPLIERS).astype(np.int32)})
    write(supp, f"{out}/supplier.parquet")
    pattern = (["range"] * 4 + ["point"] * 2 + ["agg", "join", "asof"] +
               ["files", "snapshots"])
    n = cycle_count("wh_query", seconds, len(pattern))
    return [dict(read_op(rng, k), cycle=c)
            for c, kinds in enumerate(cycles(rng, pattern, n)) for k in kinds]


def documents(rng, first_id, n):
    """Documents shaped like the sf0.1 `documents` table the oracles were
    validated on: 10-100 words from a small vocabulary, and ~2% near
    duplicates that differ from an earlier document by one word at the
    end (word-trigram Jaccard >= 0.875)."""
    texts = []
    for i in range(n):
        if texts and rng.random() < 0.02:
            words = texts[int(rng.integers(0, len(texts)))].split()
            if rng.random() < 0.5 and len(words) > 10:
                words = words[:-1]
            else:
                words = words + [VOCAB[int(rng.integers(0, len(VOCAB)))]]
        else:
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(np.array(LANGS), n),
        "source": [f"src{j}" for j in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng, n, dim=64, clusters=10):
    centers = rng.normal(0, 1, (clusters, dim))
    label = rng.integers(0, clusters, n)
    vecs = centers[label] + rng.normal(0, 0.6, (n, dim))
    dup = rng.random(n) < 0.05  # near-duplicates of the previous vector
    for i in np.nonzero(dup)[0]:
        if i > 0:
            vecs[i] = vecs[i - 1] + rng.normal(0, 0.01, dim)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })


def gen_llm_pipeline(rng, out, seconds):
    """A corpus whose rows carry a seeded subset number (0 = the warm-up
    subset); setup stages each subset as the pipeline's input tables."""
    sizes = [(WARM_DOCS, WARM_VECS)] + [(DOCS_PER_SUBSET, VECS_PER_SUBSET)] * LLM_SUBSETS
    docs, vecs = [], []
    for k, (nd, nv) in enumerate(sizes):
        docs.append(tagged(documents(rng, 0, nd), "subset", k))
        vecs.append(tagged(embeddings(rng, nv), "subset", k))
    write(pa.concat_tables(docs), f"{out}/documents.parquet")
    write(pa.concat_tables(vecs), f"{out}/embeddings.parquet")
    # one op is one operator call; a cycle is one pass of the fixed chain
    # in order on one seeded subset
    n = cycle_count("llm_pipeline", seconds, len(PIPELINE_KEYS) * LLM_SUBSETS)
    subsets = [s for c in cycles(rng, list(range(1, LLM_SUBSETS + 1)), n) for s in c]
    return [{"kind": k, "subset": int(s), "cycle": c}
            for c, s in enumerate(subsets) for k in PIPELINE_KEYS]


GENERATORS = {"wh_ingest": gen_wh_ingest, "wh_query": gen_wh_query,
              "rest_mixed": gen_rest_mixed, "llm_pipeline": gen_llm_pipeline}


def generate(workload, seed, out, seconds):
    """Write the workload's inputs under `out` and return its op log
    (also written to `out/oplog.json`)."""
    os.makedirs(out, exist_ok=True)
    # the workload name is mixed into the stream so workloads sharing a
    # seed still get independent inputs
    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    ops = GENERATORS[workload](rng, out, seconds)
    for i, op in enumerate(ops):
        op["i"] = i
    with open(f"{out}/oplog.json", "w") as f:
        json.dump(ops, f)
    return ops
