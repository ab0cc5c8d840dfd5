"""Output checks of the benchmark, independent of the program.

Every expected value here is computed from the generated inputs by
this module itself (closed forms, a last-writer-wins replay, DuckDB
running the oracle SQL), never by calling the code under test. Each
check returns a list of problems; an empty list means the output is
right.
"""
import collections
import glob
import hashlib
import os
import re

import pyarrow.parquet as pq

from gen import DRIFT_DELETE, DRIFT_INSERT, DRIFT_REPRICE, DRIFT_SHIFT

MAX_PLANNED_CHUNKS = 1 << 20  # Migrate.MaxPlannedChunks


def _ceil_div(a, b):
    return a // b + (1 if a % b else 0)


def chunk_width(keys, chunk_rows):
    """Key width of the fixed-width chunk plan (Pipeline.planFixedWidth)."""
    lo, hi = min(keys), max(keys)
    n = max(1, min(_ceil_div(len(keys), chunk_rows), MAX_PLANNED_CHUNKS))
    return lo, max(1, _ceil_div(hi - lo + 1, n))


def chunk_ids(keys, lo, width):
    return {(k - lo) // width for k in keys}


def column(path, name):
    return pq.read_table(path, columns=[name]).column(0).to_pylist()


# ------------------------------------------------------------ bulk_migrate

def expected_fixes(keys):
    """Fix actions the compare mode owes for the drifted target: a
    deleted key needs its row back, a repriced key needs its target row
    deleted and the source row put back, an inserted copy needs
    deleting."""
    want = collections.Counter()
    for k in keys:
        if k % DRIFT_DELETE == 0:
            want["REPLACE", k] += 1
        elif k % DRIFT_REPRICE == 0:
            want["REPLACE", k] += 1
            want["DELETE", k] += 1
        if k % DRIFT_INSERT == 0:
            want["DELETE", k + DRIFT_SHIFT] += 1
    return want


_REPLACE = re.compile(r"^REPLACE INTO \S+ VALUES \('(-?\d+)'")
_DELETE = re.compile(r"^DELETE FROM \S+ WHERE \S+ = (-?\d+);$")


def parse_fixes(text):
    """Fix statements of a fix artifact, as a multiset of (action, key);
    a statement of any other shape is returned as ("?", line)."""
    got = collections.Counter()
    in_comment = False
    for line in text.splitlines():
        if in_comment:
            in_comment = "*/" not in line
            continue
        if line.startswith("/*"):
            in_comment = "*/" not in line
            continue
        if not line.strip() or line.startswith("--"):
            if "TRUNCATED" in line:
                got["?", line] += 1
            continue
        m = _REPLACE.match(line) or _DELETE.match(line)
        if m:
            got["REPLACE" if line.startswith("REPLACE") else "DELETE",
                int(m.group(1))] += 1
        else:
            got["?", line] += 1
    return got


def check_fix_artifact(text, keys):
    got, want = parse_fixes(text), expected_fixes(keys)
    if got == want:
        return []
    extra, missing = got - want, want - got
    return [f"fix actions differ: {sum(extra.values())} unexpected "
            f"(e.g. {list(extra)[:3]}), {sum(missing.values())} missing "
            f"(e.g. {list(missing)[:3]})"]


def target_rows(keys):
    """Row count of the drifted target."""
    return (sum(1 for k in keys if k % DRIFT_DELETE)
            + sum(1 for k in keys if k % DRIFT_INSERT == 0))


class BulkExpect:
    """What each task mode must report on one generated source."""

    def __init__(self, input_dir, knobs, csv_tables):
        src = f"{input_dir}/source"
        self.keys = column(f"{src}/orders.parquet", "o_orderkey")
        self.csv = {}
        for t in csv_tables:
            path = f"{src}/{t}.parquet"
            head = pq.read_schema(path).names[0]
            ks = column(path, head)
            lo, w = chunk_width(ks, knobs["csv_rows"])
            self.csv[t] = (len(ks), len(chunk_ids(ks, lo, w)))
        lo, w = chunk_width(self.keys, knobs["full_chunk"])
        self.full_chunks = len(chunk_ids(self.keys, lo, w))
        lo, w = chunk_width(self.keys, knobs["compare_chunk"])
        drifted = {k for _, k in expected_fixes(self.keys)}
        self.compare_unmatched = len(chunk_ids(drifted, lo, w))
        self.tables = sorted(csv_tables)
        self.corpus = {
            "curation.pipe4": pq.read_metadata(
                f"{src}/documents.parquet").num_rows,
            "curation.d7": pq.read_metadata(
                f"{src}/embeddings.parquet").num_rows}

    def items(self, kind):
        """Source rows an operation of `kind` moves or verifies, or corpus
        items (documents, vectors) a curation query reads."""
        if kind == "full":
            return len(self.keys)
        if kind == "csv":
            return sum(n for n, _ in self.csv.values())
        if kind == "compare":
            return len(self.keys) + target_rows(self.keys)
        return self.corpus.get(kind, 0)

    def check(self, op):
        kind, o = op["kind"], op["obs"]
        p = []
        if kind == "schema.prepare":
            fams = o.get("families", {})
            if len(fams) != 4 or min(fams.values(), default=0) <= 0:
                p.append(f"prepare seeded {fams}")
        elif kind in ("schema.assess", "schema.check"):
            if o.get("rows", 0) <= 0:
                p.append(f"{kind} reported no rows")
        elif kind == "schema.reverse":
            if o.get("tables") != self.tables:
                p.append(f"reverse emitted DDL for {o.get('tables')}")
        elif kind == "full":
            n = len(self.keys)
            want = {"chunks": self.full_chunks, "unmatched": 0, "n_fix": 0,
                    "src_rows": n, "target_rows": n}
            for k, v in want.items():
                if o.get(k) != v:
                    p.append(f"full {k} = {o.get(k)}, expected {v}")
        elif kind == "csv":
            got = {t: tuple(v) for t, v in o.get("tables", {}).items()}
            if got != self.csv:
                p.append(f"csv report {got}, expected {self.csv}")
        elif kind == "compare":
            if o.get("unmatched") != self.compare_unmatched:
                p.append(f"compare flagged {o.get('unmatched')} chunks, "
                         f"expected {self.compare_unmatched}")
            with open(o["fix_file"]) as f:
                p += check_fix_artifact(f.read(), self.keys)
        else:
            p.append(f"unknown operation {kind}")
        return p


def csv_on_disk(out_dir, terminator):
    """(data rows, chunk dirs) per table of a csv-mode output, read from
    the bytes on disk: every record ends with the terminator and each
    chunk directory holds one header record."""
    got = {}
    for tdir in sorted(glob.glob(f"{out_dir}/*")):
        chunks = [d for d in glob.glob(f"{tdir}/chunk_id=*")
                  if os.path.isdir(d)]
        records = 0
        for d in chunks:
            for f in glob.glob(f"{d}/*"):
                if os.path.isfile(f) and not os.path.basename(f)[0] in "._":
                    with open(f, "rb") as fh:
                        records += fh.read().count(terminator.encode())
        got[os.path.basename(tdir)] = (records - len(chunks), len(chunks))
    return got


def check_csv_dir(out_dir, terminator, expected):
    got = csv_on_disk(out_dir, terminator)
    return [] if got == expected else [
        f"csv bytes on disk {got}, expected {expected}"]


# -------------------------------------------------------------- cdc_apply

def lww_state(base_path, windows_path, n_windows):
    """Last-writer-wins target after the base rows and the first
    `n_windows` windows: per key the change with the highest
    (scn, seq); a key whose last change is a DELETE is absent."""
    last = {}

    def fold(t):
        for k, scn, seq, op, v in zip(*(t.column(c).to_pylist() for c in
                                        ("key", "scn", "seq", "op",
                                         "value"))):
            cur = last.get(k)
            if cur is None or (scn, seq) > cur[:2]:
                last[k] = (scn, seq, op, v)
    fold(pq.read_table(base_path))
    w = pq.read_table(windows_path)
    win = w.column("window").to_numpy()
    fold(w.filter(win < n_windows))
    return {k: (scn, seq, v) for k, (scn, seq, op, v) in last.items()
            if op != "DELETE"}


def parse_state(lines):
    out = {}
    for line in lines:
        if line.strip():
            k, scn, seq, v = line.rstrip("\n").split("\t")
            out[int(k)] = (int(scn), int(seq),
                           None if v == "NULL" else float(v))
    return out


def check_cdc_state(got, want):
    if got == want:
        return []
    missing = sorted(set(want) - set(got))
    extra = sorted(set(got) - set(want))
    wrong = sorted(k for k in set(got) & set(want) if got[k] != want[k])
    return [f"target differs from last-writer-wins: {len(missing)} rows "
            f"missing {missing[:3]}, {len(extra)} extra {extra[:3]}, "
            f"{len(wrong)} wrong {wrong[:3]}"]


def check_redelivery(op):
    o = op["obs"]
    if o.get("fp_before") is None or o.get("fp_before") != o.get("fp_after"):
        return [f"redelivery of window {o.get('window')} changed the target"]
    return []


# --------------------------------------------------------------- curation

def _cell(v):
    return "NULL" if v is None else str(v)


def canonical_hash(rows):
    """sha256 of rows rendered as text, fields joined by U+001F, each row
    ended by U+001E, rows sorted; Harness.canonicalHash renders the
    program's rows the same way."""
    lines = sorted("\x1f".join(_cell(v) for v in r) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update((line + "\x1e").encode())
    return h.hexdigest()


def oracle(corpus_dir, sql):
    """(row count, canonical hash) of an oracle query run by DuckDB over
    the corpus tables."""
    import duckdb
    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{corpus_dir}/{t}.parquet')")
        rows = con.execute(sql).fetchall()
    finally:
        con.close()
    return len(rows), canonical_hash(rows)


def check_curation(op, want):
    o = op["obs"]
    if (o.get("rows"), o.get("hash")) != want:
        return [f"{op['label']}: {o.get('rows')} rows hash "
                f"{str(o.get('hash'))[:12]}, oracle {want[0]} rows hash "
                f"{want[1][:12]}"]
    return []
