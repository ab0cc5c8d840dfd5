"""Seeded input generator for the benchmark workloads.

Everything a run reads is written here, from the seed alone: the same
seed gives byte-identical inputs, another seed gives other inputs with
the same sizes and shape. The program under test only reads the
directories this module writes.

Sizes live in SIZES; BENCHMARK.json's workload reasons and README.md
quote them.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    # dense keys 1..orders: every fixed-width chunk is populated; the
    # documents and embeddings corpus is `copies` copies of a base
    # corpus, laid out as graft.operators.ScaleUp.replicate lays them out
    "bulk_migrate": {"orders": 5000, "customer": 500, "supplier": 20,
                     "part": 200, "lines_per_order": 1, "events": 500,
                     "documents": 1000, "embeddings": 1000, "copies": 2},
    # base rows, then windows of changes over the same key space. The
    # op mix, the skew and the redelivery rate are assumptions: neither
    # the program nor the reference fixes a traffic shape. An
    # UPDATE-heavy mix with few deletes keeps most keys live; s = 1.1
    # puts several changes on hot keys per window, so lastChange has
    # work; 1 window in 10 replays the crash-before-checkpoint case.
    # `windows` is far more than a run applies (120 warm-up and about
    # 170 measured), so a faster program is not cut short by its input.
    "cdc_apply": {"keys": 2000, "windows": 1000, "changes_per_window": 100,
                  "zipf_s": 1.1, "op_mix": {"INSERT": 0.2, "UPDATE": 0.65,
                                            "DELETE": 0.15},
                  "redeliver_every": 10},
}

# The compare mode's drifted target (Compare.drift): keys divisible by
# 97 deleted, by 101 repriced, by 89 re-inserted at key + 1000000.
DRIFT_DELETE, DRIFT_REPRICE, DRIFT_INSERT, DRIFT_SHIFT = 97, 101, 89, 1000000

WORDS = ("the a key order sort table scan merge part window small hash join "
         "batch stream spark dup group query row data slow filter customer "
         "line value agg column fast big vector").split()
LANGS = ["en", "fr", "es", "zh", "de"]

# The example config of the reference (TaskModes.ExampleConfig) with
# the knobs this benchmark sets: the include list selects generated
# tables (the example's ["kp"] selects none), and chunk sizes give each
# data mode several chunks at these sizes.
CONFIG = """[app]
insert-batch-size = 100

[reverse]
lower-case-field-name = "2"

[compare]
chunk-size = {compare_chunk}
only-check-rows = false

[csv]
header = true
separator = '|#|'
terminator = "{terminator}"
charset = "UTF8MB4"
delimiter = '"'
null-value = 'NULL'
escape-backslash = true
rows = {csv_rows}

[full]
chunk-size = {full_chunk}

[schema-config]
source-schema = "marvin"
source-include-table = [{tables}]
target-schema = "marvin"

[oracle]
charset = "AL32UTF8"

[mysql]
charset = "UTF8MB4"
"""

# chunk knobs of CONFIG; the checks derive chunk counts from them
KNOBS = {"compare_chunk": 1000, "csv_rows": 2500, "full_chunk": 2500}
CSV_TERMINATOR = "|+|\r\n"

CSV_TABLES = ["region", "nation", "customer", "supplier", "part", "orders"]

EPOCH_US = 694224000 * 10**6  # 1992-01-01T00:00:00Z
DAY_US = 86400 * 10**6


def _write(path, cols):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(cols), path, compression="snappy")


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _text(rng, n_words):
    return " ".join(rng.choice(WORDS, size=n_words))


def relational(rng, out, z):
    """The TPC-H-like star schema plus events, documents and embeddings
    (the table set graft.Tables lists), keys dense from 1."""
    n_o, n_c, n_s, n_p = z["orders"], z["customer"], z["supplier"], z["part"]
    _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION{i:02d}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(f"{out}/customer.parquet", {
        "c_custkey": np.arange(1, n_c + 1, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(1, n_c + 1)],
        "c_nationkey": rng.integers(0, 25, n_c).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_c), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_c)})
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": np.arange(1, n_s + 1, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, n_s + 1)],
        "s_nationkey": rng.integers(0, 25, n_s).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_s), 2)})
    _write(f"{out}/part.parquet", {
        "p_partkey": np.arange(1, n_p + 1, dtype=np.int64),
        "p_name": [_text(rng, 3) for _ in range(n_p)],
        "p_brand": [f"Brand#{a}{b}" for a, b in
                    zip(rng.integers(1, 6, n_p), rng.integers(1, 6, n_p))],
        "p_type": rng.choice(["STANDARD", "SMALL", "MEDIUM", "LARGE",
                              "ECONOMY", "PROMO"], n_p),
        "p_size": rng.integers(1, 51, n_p).astype(np.int32),
        "p_retailprice": np.round(rng.uniform(900, 2000, n_p), 2)})
    okeys = np.arange(1, n_o + 1, dtype=np.int64)
    odate = EPOCH_US + rng.integers(0, 2400, n_o) * DAY_US
    _write(f"{out}/orders.parquet", {
        "o_orderkey": okeys,
        "o_custkey": rng.integers(1, n_c + 1, n_o).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_o),
        "o_totalprice": np.round(rng.uniform(1000, 450000, n_o), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_o)})
    lines = z["lines_per_order"]
    n_l = n_o * lines
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": np.repeat(okeys, lines),
        "l_partkey": rng.integers(1, n_p + 1, n_l).astype(np.int64),
        "l_suppkey": rng.integers(1, n_s + 1, n_l).astype(np.int64),
        "l_linenumber": np.tile(np.arange(1, lines + 1, dtype=np.int32), n_o),
        "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100000, n_l), 2),
        "l_discount": np.round(rng.integers(0, 11, n_l) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_l) / 100.0, 2),
        "l_returnflag": rng.choice(["R", "A", "N"], n_l),
        "l_linestatus": rng.choice(["O", "F"], n_l),
        "l_shipdate": _ts(np.repeat(odate, lines)
                          + rng.integers(1, 120, n_l) * DAY_US)})
    n_e = z["events"]
    _write(f"{out}/events.parquet", {
        "event_id": np.arange(n_e, dtype=np.int64),
        "ts": _ts(EPOCH_US + np.cumsum(rng.integers(1, 3600, n_e)) * 10**6),
        "user_id": rng.integers(0, max(1, n_e // 20), n_e).astype(np.int64),
        "event_type": rng.choice(["click", "purchase", "error", "signup",
                                  "view"], n_e),
        "value": np.round(rng.uniform(0, 200, n_e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)]})
    corpus(rng, out, z)


KEY_OFFSET = 1 << 33  # ScaleUp.KeyOffset


def corpus(rng, out, z):
    """documents and embeddings: a base corpus, replicated `copies` times
    with ScaleUp.replicate's layout. Copy i offsets every key by i * 2^33
    and tags each word of a copied text as `c<i>~<word>` (copy 0 stays
    verbatim), so copies share no shingles and keep the near-duplicate
    structure within a copy.

    Base documents are word salad; one in ten repeats an earlier one
    with other spacing and case, so dedup and the quality gates have
    work. Base vectors are unit vectors in 64 dimensions; one in twenty
    is a noisy copy of an earlier one, so near-duplicate pairs exist.
    """
    n, copies = z["documents"], z["copies"]
    texts = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.1:
            src = texts[int(rng.integers(0, i))]
            texts.append(src.upper().replace(" ", "  ", 3))
        else:
            texts.append(_text(rng, int(rng.integers(6, 100))))
    lang = list(rng.choice(LANGS, n, p=[0.4, 0.15, 0.15, 0.15, 0.15]))
    texts = [t if c == 0 else " ".join(f"c{c}~{w}" for w in t.split(" "))
             for c in range(copies) for t in texts]
    _write(f"{out}/documents.parquet", {
        "doc_id": np.concatenate([np.arange(n, dtype=np.int64)
                                  + c * KEY_OFFSET for c in range(copies)]),
        "text": texts,
        "lang": lang * copies,
        "source": [f"src{i % 20}" for i in range(n)] * copies,
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    n = z["embeddings"]
    x = rng.normal(size=(n, 64))
    for i in range(1, n):
        if rng.random() < 0.05:
            x[i] = x[int(rng.integers(0, i))] + 0.5 * rng.normal(size=64)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    _write(f"{out}/embeddings.parquet", {
        "vec_id": np.concatenate([np.arange(n, dtype=np.int64)
                                  + c * KEY_OFFSET for c in range(copies)]),
        "embedding": pa.array(list(x.astype(np.float32)) * copies,
                              pa.list_(pa.float32())),
        "label": np.tile(rng.integers(0, 10, n).astype(np.int32), copies)})


def cdc(rng, out, z):
    """Base rows for every key, then windows of changes in SCN order.

    Keys are Zipf-skewed (s = zipf_s over a seeded permutation of the
    key space), so a window holds several changes for hot keys and the
    last-change reduction collapses them. (scn, seq) is unique per
    change: scn = index // 4, seq = index % 4.
    """
    k, nw, m = z["keys"], z["windows"], z["changes_per_window"]
    keys = np.arange(1, k + 1, dtype=np.int64)
    _write(f"{out}/cdc_base.parquet", {
        "scn": np.full(k, -1, dtype=np.int64),
        "seq": np.zeros(k, dtype=np.int64),
        "op": ["INSERT"] * k, "table_name": ["orders"] * k,
        "key": keys, "value": np.round(rng.uniform(0, 1000, k), 2)})
    p = 1.0 / np.arange(1, k + 1) ** z["zipf_s"]
    p /= p.sum()
    hot = rng.permutation(keys)
    total = nw * m
    idx = np.arange(total, dtype=np.int64)
    ops, weights = zip(*z["op_mix"].items())
    _write(f"{out}/cdc_windows.parquet", {
        "window": (idx // m).astype(np.int32),
        "scn": idx // 4, "seq": idx % 4,
        "op": rng.choice(list(ops), total, p=list(weights)),
        "table_name": ["orders"] * total,
        "key": hot[rng.choice(k, total, p=p)],
        "value": np.round(rng.uniform(0, 1000, total), 2)})
    redeliver = [w for w in range(nw)
                 if rng.integers(0, z["redeliver_every"]) == 0]
    with open(f"{out}/cdc_redeliver.txt", "w") as f:
        f.write("".join(f"{w}\n" for w in redeliver))


def generate(workload, seed, out):
    """Write `workload`'s inputs for `seed` under `out` and return the
    manifest (sizes, seed, and what the checks need to know)."""
    if workload not in SIZES:
        raise ValueError(f"unknown workload {workload!r}")
    z = SIZES[workload]
    rng = np.random.default_rng([seed, sorted(SIZES).index(workload)])
    os.makedirs(out, exist_ok=True)
    tables = ", ".join(f'"{t}"' for t in CSV_TABLES)
    with open(f"{out}/config.toml", "w") as f:
        f.write(CONFIG.format(tables=tables, terminator=CSV_TERMINATOR
                              .replace("\r", "\\r").replace("\n", "\\n"),
                              **KNOBS))
    if workload == "cdc_apply":
        cdc(rng, out, z)
    else:
        relational(rng, f"{out}/source", z)
    manifest = {"workload": workload, "seed": seed, "sizes": z,
                "csv_tables": CSV_TABLES, "knobs": KNOBS}
    with open(f"{out}/manifest.json", "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest
