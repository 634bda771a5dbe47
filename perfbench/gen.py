"""Seeded input generator for every perfbench workload.

One seed fixes every input byte: the battery tables, the curation batches
and the archive's base records, pushed files and read requests.  The same
seed always yields the same inputs (``tests/test_checks.py`` checks this).

    python3 perfbench/gen.py <workload> <seed> <outdir>

writes ``<outdir>/spec.json`` plus the workload's data files.  The JVM
side (``src/graft/perfbench``) only replays what is generated here.
"""
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_MS = 86_400_000

# ---------------------------------------------------------------- battery --
# Shapes follow the repository's sf test data: a synthetic TPC-H-like
# star schema plus the events / documents / embeddings tables the
# curation operators read.  Rows per table at scale 1.0 (the sf0.01 sizes).
BATTERY_ROWS = {"customer": 1500, "supplier": 100, "part": 2000,
                "orders": 15000, "lineitem": 60000, "events": 10000,
                "documents": 500, "embeddings": 500}
VOCAB = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.44, 0.13, 0.15, 0.14, 0.14]
DIM = 64
N_LABELS = 10


def _ts_us(a):
    return pa.array(a.astype("datetime64[us]"), type=pa.timestamp("us"))


def _write(tbl, path):
    pq.write_table(tbl, path, row_group_size=1 << 30)


def doc_text(rng, lo=10, hi=99):
    n = int(rng.integers(lo, hi + 1))
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n))


def unit_vectors(rng, labels, centroids, noise=0.35):
    v = centroids[labels] + noise * rng.standard_normal((len(labels), DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32)


# Queries whose operators later optimisations target; always run.
HOT_QUERIES = ["q_winnow_pairs", "q_pagerank", "q_neardup_probe",
               "q_dup_spans_history", "q_banding_curve", "q_langid_model"]


def gen_battery(seed, out, scale, stride):
    rng = np.random.default_rng([seed, 1])
    n = {k: max(1, int(v * scale)) for k, v in BATTERY_ROWS.items()}
    d = os.path.join(out, "tables")
    os.makedirs(d, exist_ok=True)
    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{d}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{d}/nation.parquet")
    nc = n["customer"]
    _write(pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": rng.choice(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD",
                                    "BUILDING", "FURNITURE"], nc)}),
        f"{d}/customer.parquet")
    ns = n["supplier"]
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2)}),
        f"{d}/supplier.parquet")
    npart = n["part"]
    adj = ["small", "red", "blue", "green", "large", "steel", "plated"]
    noun = ["ring", "widget", "bolt", "gear", "nut", "panel", "valve"]
    _write(pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in zip(
            rng.integers(0, len(adj), npart), rng.integers(0, len(noun), npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(["PROMO", "ECONOMY", "STANDARD", "LARGE",
                              "SMALL", "MEDIUM"], npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2)}),
        f"{d}/part.parquet")
    no = n["orders"]
    day0 = np.datetime64("1995-01-01")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "P", "O"], no),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": _ts_us(day0 + rng.integers(0, 2404, no)),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], no)}),
        f"{d}/orders.parquet")
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(float)
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) * 0.01, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["O", "F"], nl),
        "l_shipdate": _ts_us(day0 + 1 + rng.integers(0, 2499, nl))}),
        f"{d}/lineitem.parquet")
    ne = n["events"]
    secs = np.sort(rng.uniform(0, 30 * 86400, ne))
    _write(pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts_us(np.datetime64("2024-01-01T00:00:00", "us")
                     + (secs * 1e6).astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
        "event_type": rng.choice(["click", "signup", "error", "view",
                                  "purchase"], ne),
        "value": np.round(rng.exponential(20.0, ne), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]}),
        f"{d}/events.parquet")
    nd = n["documents"]
    texts = [doc_text(rng) for _ in range(nd)]
    _write(pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P),
        "source": [f"src{s}" for s in rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{d}/documents.parquet")
    nv = n["embeddings"]
    labels = rng.integers(0, N_LABELS, nv)
    cents = rng.standard_normal((N_LABELS, DIM))
    vecs = unit_vectors(rng, labels, cents)
    _write(pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}),
        f"{d}/embeddings.parquet")
    return {"workload": "battery", "seed": seed, "tables": "tables",
            "scale": scale, "rows": n, "stride": stride, "hot": HOT_QUERIES}


# ---------------------------------------------------------------- curate --
# Share of each batch by kind.  Every kind exercises one history store.
CURATE_SHARES = {
    "novel": 0.40,      # fresh text and vector: kept, grows every store
    "exact": 0.15,      # byte-identical to an earlier doc: FingerprintIndex
    "near": 0.12,       # a few words edited: NearDupIndex
    "span": 0.10,       # new text sharing a long verbatim run: GramIndex
    "paraphrase": 0.10, # new words, near-identical vector: CellIndex
    "junk": 0.13,       # too short / no stopwords: the quality gate
}
GATE_WORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]


def _curate_text(rng, n):
    # stopwords interleaved so the default gate (>= 2 distinct stopwords,
    # >= 50 words) keeps every non-junk doc
    words = [VOCAB[i] for i in rng.integers(0, len(VOCAB), n)]
    for j in range(0, n, 7):
        words[j] = GATE_WORDS[int(rng.integers(0, len(GATE_WORDS)))]
    # a few unique tokens per doc keep novel docs apart for near-dup
    for j in range(3, n, 17):
        words[j] = f"w{int(rng.integers(0, 10**9)):x}"
    return words


def gen_curate(seed, out, batches, per_batch):
    rng = np.random.default_rng([seed, 2])
    d = os.path.join(out, "batches")
    os.makedirs(d, exist_ok=True)
    cents = rng.standard_normal((32, DIM))
    history = []  # (doc_id, words, vec) of docs emitted as novel so far
    next_id = 1
    kinds_all = []
    for b in range(batches):
        kinds = []
        for kind, share in CURATE_SHARES.items():
            kinds += [kind] * int(round(share * per_batch))
        kinds = kinds[:per_batch] + ["novel"] * max(0, per_batch - len(kinds))
        if b == 0:
            kinds = ["novel"] * per_batch   # bootstrap batch: no history
        rng.shuffle(kinds)
        rows = {"doc_id": [], "text": [], "embedding": [], "source": []}
        for kind in kinds:
            vec = None
            if kind == "novel" or not history:
                words = _curate_text(rng, int(rng.integers(60, 140)))
                vec = unit_vectors(rng, rng.integers(0, 32, 1), cents,
                                   noise=0.9)[0]
                history.append((next_id, words, vec))
                kind = "novel"
            else:
                _, hw, hv = history[int(rng.integers(0, len(history)))]
                if kind == "exact":
                    words, vec = list(hw), hv
                elif kind == "near":
                    words = list(hw)
                    for j in rng.integers(0, len(words), 3):
                        words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
                    vec = hv
                elif kind == "span":
                    words = _curate_text(rng, int(rng.integers(60, 120)))
                    k = min(40, len(hw))
                    s = int(rng.integers(0, len(hw) - k + 1))
                    words[10:10] = hw[s:s + k]
                elif kind == "paraphrase":
                    words = _curate_text(rng, int(rng.integers(60, 140)))
                    v = hv + 0.02 * rng.standard_normal(DIM)
                    vec = (v / np.linalg.norm(v)).astype(np.float32)
                else:  # junk: short, no stopwords
                    words = [VOCAB[i] for i in rng.integers(0, len(VOCAB), 8)
                             if VOCAB[i] not in GATE_WORDS]
            if vec is None:
                vec = unit_vectors(rng, rng.integers(0, 32, 1), cents,
                                   noise=0.9)[0]
            rows["doc_id"].append(next_id)
            rows["text"].append(" ".join(words))
            rows["embedding"].append(vec)
            rows["source"].append(kind)
            kinds_all.append(kind)
            next_id += 1
        _write(pa.table({
            "doc_id": pa.array(rows["doc_id"], pa.int64()),
            "text": rows["text"],
            "embedding": pa.array([list(v) for v in rows["embedding"]],
                                  pa.list_(pa.float32())),
            "source": rows["source"]}), f"{d}/batch-{b:05d}.parquet")
    return {"workload": "curate", "seed": seed, "batches": "batches",
            "n_batches": batches, "per_batch": per_batch,
            "shares": CURATE_SHARES}


# --------------------------------------------------------------- archive --
# Properties of the generated archive, each there for a reason:
#  - skewed `what` popularity (Zipf): hot cells beside cold ones
#  - start times biased to recent days: reads and writes meet in the
#    newest buckets, where appends fragment cells
#  - multi-day spans: one file lands in several buckets (bucket
#    duplication; the page dedup and cursor walk must cope)
#  - null `end`: point-in-interval rule
#  - null work ids for half the files
#  - ~5% redelivered notifications (one every second batch): ingest
#    must absorb them
#  - ties on create_time: the latest argmax falls back to the id
#  - future-dated rows (start > now + 24 h) for some (what, where) pairs:
#    the latest table hit is refused and the walk-back runs
#  - ~5% invalid requests with the 400 codes they must get
WHATS = ["weblog", "syslog", "nginx", "apache", "audit", "kernel", "cron",
         "mail"]
WHERES = ["nebraska", "ohio", "texas", "utah", "maine", "iowa"]


def _hexid(rng):
    return "%024x" % int(rng.integers(0, 2**63)) + "%08x" % int(rng.integers(0, 2**31))


def archive_file(rng, now, days, wids, future_pairs):
    zipf = 1.0 / np.arange(1, len(WHATS) + 1)
    what = WHATS[int(rng.choice(len(WHATS), p=zipf / zipf.sum()))]
    where = WHERES[int(rng.integers(0, len(WHERES)))]
    age_days = min(days - 1, int(rng.exponential(days / 4.0)))
    start = now - age_days * DAY_MS - int(rng.integers(0, DAY_MS))
    r = rng.random()
    if r < 0.12:
        end = None
    elif r < 0.32:
        end = start + int(rng.integers(1, 3 * DAY_MS))
    else:
        end = start + int(rng.integers(0, 3_600_000))
    if (what, where) in future_pairs and rng.random() < 0.05:
        start = now + 3 * DAY_MS + int(rng.integers(0, DAY_MS))
        end = None
    work_id = None if rng.random() < 0.5 else wids[int(rng.integers(0, len(wids)))]
    return {"id": _hexid(rng), "what": what, "where": where, "start": start,
            "end": end, "work_id": work_id}


def gen_archive(seed, out, base_files, appends, cycles, files_per_cycle,
                reads_per_cycle, days=30):
    rng = np.random.default_rng([seed, 3])
    # querier clock: midnight UTC in 2026 chosen by the seed, plus 12 h
    now = (20454 + int(rng.integers(0, 300))) * DAY_MS + DAY_MS // 2
    wids = [f"job-{i:04d}" for i in range(max(8, base_files // 25))]
    pairs = [(w, h) for w in WHATS for h in WHERES]
    future_pairs = {pairs[i] for i in rng.choice(len(pairs), len(pairs) // 8,
                                                 replace=False)}
    base = []
    # bulk-loaded rows get create_time from a small set of values: ties
    tie_times = [now - k * 1000 for k in range(5)]
    for k in range(base_files):
        f = archive_file(rng, now, days, wids, future_pairs)
        if k < days * len(WHATS):
            # the first files fill every (day, what) cell once, so the
            # table's cell count does not depend on the seed
            day, what = divmod(k, len(WHATS))
            f.update(what=WHATS[what], start=now - day * DAY_MS - int(
                rng.integers(0, DAY_MS // 2)), end=None)
        f["create_time"] = tie_times[int(rng.integers(0, len(tie_times)))]
        f["size"] = int(rng.integers(100, 5000))
        base.append(f)
    # batches appended since the last maintenance, loaded by the set-up
    # after the bulk: the run starts with a fragmented table
    pending = []
    for _ in range(appends):
        files = [archive_file(rng, now, 3, wids, future_pairs)
                 for _ in range(files_per_cycle)]
        for f in files:
            f["create_time"] = now - int(rng.integers(0, 5)) * 1000
            f["size"] = int(rng.integers(100, 5000))
        pending.append({"files": files})
    # the read mix is exact in every block of READ_BLOCK reads
    kinds = []
    while len(kinds) < cycles * reads_per_cycle:
        block = [k for k, share in READ_MIX.items()
                 for _ in range(round(share * READ_BLOCK))]
        rng.shuffle(block)
        kinds += block
    cyc = []
    for c in range(cycles):
        files = []
        for i in range(files_per_cycle):
            f = archive_file(rng, now, 3, wids, future_pairs)
            f["content"] = doc_text(rng, 5, 30)
            files.append(f)
        # every second cycle redelivers one notification: 1 in 17 (~5%)
        redeliver = [int(rng.integers(0, files_per_cycle))] if c % 2 == 0 else []
        mine = kinds[c * reads_per_cycle:(c + 1) * reads_per_cycle]
        cyc.append({"files": files, "redeliver": redeliver,
                    "reads": [archive_read(rng, k, now, days, wids, future_pairs)
                              for k in mine]})
    return {"workload": "archive", "seed": seed, "now": now, "days": days,
            "base": base, "appends": pending, "cycles": cyc}


INVALID = [
    # (params or latest path, expected status)
    ({"what": "weblog"}, "NoWorkInterval"),
    ({"what": "weblog", "start": "5", "work_id": "job-0001"}, "InvalidWorkInterval"),
    ({"what": "weblog", "start": "2000", "end": "1000"}, "InvalidWorkInterval"),
    ({"what": "weblog", "start": "yesterday-ish", "end": "1000"}, "InvalidTime"),
    ({"start": "1000", "end": "2000"}, "NoWhat"),
]


# Fixed share of each read kind in every block of READ_BLOCK reads, so
# every seed serves the same mix.  The ~5% invalid share is part of the
# workload's specification; the other shares are an assumption (no
# recorded deployment traffic): time-range listing is the archive's
# primary query, work-id and latest lookups split the rest.
READ_MIX = {"time": 0.45, "workid": 0.25, "latest": 0.25, "invalid": 0.05}
READ_BLOCK = 20


def archive_read(rng, kind, now, days, wids, future_pairs):
    zipf = 1.0 / np.arange(1, len(WHATS) + 1)
    what = WHATS[int(rng.choice(len(WHATS), p=zipf / zipf.sum()))]
    where = WHERES[int(rng.integers(0, len(WHERES)))] if rng.random() < 0.4 else None
    if kind == "invalid":
        k = int(rng.integers(0, len(INVALID) + 2))
        if k < len(INVALID):
            params, code = INVALID[k]
            return {"kind": "invalid", "params": params, "code": code}
        if k == len(INVALID):
            return {"kind": "invalid_latest", "what": what,
                    "where": WHERES[0], "lookback": "soon",
                    "code": "InvalidLookback"}
        # a cursor whose bucket precedes the query window
        start = now - 2 * DAY_MS
        return {"kind": "invalid_cursor", "what": what, "start": start,
                "end": start + DAY_MS, "cursor_bucket": start // DAY_MS - 3,
                "code": "InvalidCursor"}
    if kind == "time":
        age = min(days - 1, int(rng.exponential(days / 5.0)))
        span = int(rng.integers(DAY_MS // 6, 2 * DAY_MS))
        end = now - age * DAY_MS
        return {"kind": "time", "what": what, "where": where,
                "start": end - span, "end": end}
    if kind == "workid":
        return {"kind": "workid", "what": what, "where": where,
                "work_id": wids[int(rng.integers(0, len(wids)))]}
    pair = sorted(future_pairs)[int(rng.integers(0, len(future_pairs)))] \
        if rng.random() < 0.3 else (what, WHERES[int(rng.integers(0, len(WHERES)))])
    return {"kind": "latest", "what": pair[0], "where": pair[1]}


# Workload sizes: one place, read by run.py and the JVM through spec.json.
# The archive's are assumptions, not measured traffic (README.md, "Archive
# traffic"); `appends` leaves the set-up's table 5 of the 8 appends past
# its last maintenance.
SIZES = {
    "archive": dict(base_files=1200, appends=5, cycles=400, files_per_cycle=8,
                    reads_per_cycle=10, days=10),
    "curate": dict(batches=400, per_batch=60),
    "battery": dict(scale=0.1, stride=5),
}


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    if workload == "archive":
        spec = gen_archive(seed, out, **SIZES["archive"])
    elif workload == "curate":
        spec = gen_curate(seed, out, **SIZES["curate"])
    elif workload == "battery":
        spec = gen_battery(seed, out, **SIZES["battery"])
    else:
        raise SystemExit(f"unknown workload {workload}")
    with open(os.path.join(out, "spec.json"), "w") as f:
        json.dump(spec, f)
    return spec


def digest(path):
    """Content hash of a generated input dir (determinism self-test)."""
    h = hashlib.sha256()
    for root, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for name in sorted(files):
            p = os.path.join(root, name)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


if __name__ == "__main__":
    w, s, o = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    generate(w, s, o)
    print(digest(o))
