"""Statistics and output checks for perfbench (pure Python, unit-tested in
``tests/``).  The JVM records raw samples and observations; everything
here turns them into metrics or into failed-operation counts."""
import functools
import glob
import hashlib
import importlib.util
import math
import os
import statistics

DAY_MS = 86_400_000
LOOKBACK_DAYS = 14
LOOKFORWARD_MS = 24 * 3_600_000


# ------------------------------------------------------------ statistics --
def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs, beyond=10):
    """The highest whole percentile with at least `beyond` samples above
    it, as (value, percentile, n), by nearest rank.  Fewer than 2*beyond
    samples have no such percentile above the median: they report the
    median (percentile 50)."""
    n = len(xs)
    if n < 2 * beyond:
        return median(xs), 50, n
    p = min(99, math.floor(100 - 100.0 * beyond / n))
    while p > 50 and n - math.ceil(p / 100.0 * n) < beyond:
        p -= 1
    rank = max(1, math.ceil(p / 100.0 * n))
    return sorted(xs)[rank - 1], p, n


# ------------------------------------------------------------ archive model --
def _bucket(ms):
    return ms // DAY_MS


class ArchiveModel:
    """In-memory model of the archive: every file ever stored, with the
    query semantics the querier promises."""

    def __init__(self, now):
        self.now = now
        self.files = {}

    def add(self, f, create_time):
        self.files[f["id"]] = dict(f, create_time=create_time)

    def time_ids(self, what, where, start, end):
        # interval intersection, both bounds inclusive; a null end is the
        # point `start`
        return {i for i, f in self.files.items()
                if f["what"] == what and (where is None or f["where"] == where)
                and (f["end"] if f["end"] is not None else f["start"]) >= start
                and f["start"] <= end}

    def workid_ids(self, what, where, work_id):
        return {i for i, f in self.files.items()
                if f["what"] == what and f["work_id"] == work_id
                and (where is None or f["where"] == where)}

    @staticmethod
    def _key(f):
        return (f["start"], f["create_time"], f["id"])

    def latest(self, what, where, lookback=LOOKBACK_DAYS):
        """The expected id, or None: the latest table's winner unless it is
        future-dated, else the walk-back's."""
        cands = [f for f in self.files.values()
                 if f["what"] == what and f["where"] == where]
        if cands:
            top = max(cands, key=self._key)
            if top["start"] <= self.now + LOOKFORWARD_MS:
                return top["id"]
        lo, hi = _bucket(self.now - lookback * DAY_MS), _bucket(self.now)
        best = None
        for f in cands:
            end = f["end"] if f["end"] is not None else f["start"]
            b = min(hi, _bucket(end))
            if b < lo or _bucket(f["start"]) > hi:
                continue
            k = (b,) + self._key(f)
            if best is None or k > best:
                best = k
        return best[3] if best else None


def check_archive(spec, obs):
    """Replay the observations against the model.  Returns (failed count,
    first messages, record rows in the model)."""
    model = ArchiveModel(spec["now"])
    for f in spec["base"] + [f for a in spec.get("appends", []) for f in a["files"]]:
        model.add(f, f["create_time"])
    pushed = {f["id"]: f for c in spec["cycles"] for f in c["files"]}
    failed, msgs = 0, []

    def bad(o, why):
        nonlocal failed
        failed += 1
        if len(msgs) < 10:
            msgs.append(f"{o['k']} req {o.get('req')}: {why}")

    for o in obs:
        k = o["k"]
        if k == "ingested":
            model.add(pushed[o["id"]], o["create_time"])
        elif k in ("time", "workid"):
            if o.get("error") or any(s != 200 for s in o["status"]):
                bad(o, f"status {o['status']} error {o.get('error')}")
                continue
            if k == "time":
                want = model.time_ids(o["what"], o["where"], o["start"], o["end"])
            else:
                want = model.workid_ids(o["what"], o["where"], o["work_id"])
            got = set()
            for page in o["pages"]:
                if len(page) != len(set(page)):
                    bad(o, "duplicate id within a page")
                got.update(page)
            if got != want:
                bad(o, f"{len(got - want)} unexpected, {len(want - got)} missing ids")
        elif k == "latest":
            want = model.latest(o["what"], o["where"])
            if want is None:
                if o["status"] != [404]:
                    bad(o, f"expected 404, got {o['status']} id {o['id']}")
            elif o["status"] != [200] or o["id"] != want:
                bad(o, f"expected {want}, got {o['status']} {o['id']}")
        elif k == "invalid":
            if o["status"] != [400] or o["code"] != o["expect"]:
                bad(o, f"expected 400 {o['expect']}, got {o['status']} {o['code']}")
    rows = sum(_bucket(f["end"] if f["end"] is not None else f["start"])
               - _bucket(f["start"]) + 1 for f in model.files.values())
    return failed, msgs, rows


# ------------------------------------------------------------ curate checks --
def _read_ids(pattern):
    import pyarrow.parquet as pq
    out = []
    for d in sorted(glob.glob(pattern)):
        files = glob.glob(os.path.join(d, "*.parquet"))
        if files:
            t = pq.read_table(files if len(files) > 1 else files[0],
                              columns=["doc_id"])
            out.append((d, t.column(0).to_pylist()))
    return out


def check_curate(spec, out_dir, batches, state_dir):
    """Kept ⊆ input, kept ∩ rejected = ∅, no exact text kept twice, and
    the kept set of the first batches hashes the same on every run with
    this seed.  Returns (failed, msgs, kept count, rejected count)."""
    import pyarrow.parquet as pq
    text = {}
    for b in range(batches + 1):
        t = pq.read_table(os.path.join(spec["batches"], f"batch-{b:05d}.parquet"),
                          columns=["doc_id", "text"])
        text.update(zip(t.column(0).to_pylist(), t.column(1).to_pylist()))
    kept_by = _read_ids(os.path.join(out_dir, "kept", "batch=*"))
    rejected = {i for _, ids in _read_ids(os.path.join(out_dir, "rejected", "batch=*"))
                for i in ids}
    kept = [i for _, ids in kept_by for i in ids]
    failed, msgs = 0, []

    def bad(why):
        nonlocal failed
        failed += 1
        msgs.append(why)

    if any(i not in text for i in kept):
        bad("kept ids outside the input")
    if set(kept) & rejected:
        bad(f"{len(set(kept) & rejected)} ids both kept and rejected")
    texts = [text.get(i) for i in kept]
    if len(texts) != len(set(texts)):
        bad(f"{len(texts) - len(set(texts))} exact-duplicate texts kept")
    # same-seed stability: hash the kept ids of the first K batches
    k = min(batches, 8)
    first = sorted(i for d, ids in kept_by
                   if int(d.rsplit("=", 1)[1]) <= k for i in ids)
    h = hashlib.sha256(",".join(map(str, first)).encode()).hexdigest()
    ref = os.path.join(state_dir, f"curate-kept-{spec['seed']}-{k}.sha256")
    if os.path.exists(ref):
        with open(ref) as f:
            if f.read().strip() != h:
                bad(f"kept set of batches 0..{k} differs from an earlier run")
    else:
        os.makedirs(state_dir, exist_ok=True)
        with open(ref, "w") as f:
            f.write(h)
    return failed, msgs, len(kept), len(rejected)


# ------------------------------------------------------------ battery oracle --
@functools.lru_cache(maxsize=None)
def _repo_compare():
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                        "tools", "compare.py")
    spec = importlib.util.spec_from_file_location("tools_compare", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def normalize(cols, rows):
    """`tools/compare.py`'s normalization: columns by name, cells as text
    (floats to 6 significant digits), rows sorted."""
    return _repo_compare().normalize(cols, rows)


def check_battery(tables_dir, results_dir, oracle, names):
    """Compare every query's written result with the DuckDB oracle.
    Returns (failed, msgs)."""
    import duckdb
    import pyarrow.parquet as pq
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in _repo_compare().TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{tables_dir}/{t}.parquet')")
    failed, msgs = 0, []
    for name in names:
        d = os.path.join(results_dir, name)
        files = sorted(glob.glob(os.path.join(d, "*.parquet")))
        if not files:
            continue  # the JVM already counted it failed
        tbl = pq.read_table(files)
        s_cols = tbl.column_names
        s_rows = [tuple(r[c] for c in s_cols) for r in tbl.to_pylist()]
        why = None
        if name not in oracle:
            why = None if s_rows else "rows-only query returned 0 rows"
        else:
            try:
                res = con.execute(oracle[name])
                d_cols = [c[0] for c in res.description]
                sc, sr = normalize(s_cols, s_rows)
                dc, dr = normalize(d_cols, res.fetchall())
                if sc != dc:
                    why = f"schema {sc} vs oracle {dc}"
                elif sr != dr:
                    diff = sum(a != b for a, b in zip(sr, dr)) + abs(len(sr) - len(dr))
                    why = f"{diff} of {len(dr)} rows differ from the oracle"
            except Exception as e:  # noqa: BLE001 - reported as a failure
                why = f"oracle error: {e}"
        if why:
            failed += 1
            msgs.append(f"{name}: {why}")
    return failed, msgs
